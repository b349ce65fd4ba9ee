package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types._

/** Typed source layer for the harness tables (SURVEY.md §1.4, FIXTURES.md §A).
  *
  * The reference loads one flat relation from MongoDB with a server-side
  * projection (`app_test.py:36-57`) — the Spark-native equivalent is a columnar
  * parquet scan, where column pruning and predicate pushdown are automatic
  * (Catalyst `ColumnPruning` + parquet filter pushdown). At 100 TB the same
  * call reads a partitioned directory tree (e.g. `events/` partitioned by day,
  * `documents/` by source) and partition pruning applies; a single file per
  * table is just the harness layout.
  */
object Tables {

  /** All harness tables (one parquet file each at sf0.001/0.01/0.1). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columnar scan of one harness table, through [[parquet]]: the schema is
    * the one the file's own footer declares, read on the driver. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** The engine's one parquet scan of a single path (a file, a directory of
    * part files, or a `key=value` partitioned tree).
    *
    * A bare `spark.read.parquet(path)` infers its schema with a one-task
    * Spark job that reads a single footer. Here the same footer is read on
    * the driver and handed to the reader, so the scan plans without a job.
    * The file is chosen in the order Spark's inference uses: the root's
    * `_common_metadata` summary, then its `_metadata`, then a visible data
    * file (hidden `.`/`_` names such as `_SUCCESS` and `_spark_metadata`
    * skipped; `key=value` partition directories descended, their columns
    * still coming from the directory names). Inference takes the first
    * data file by path, this takes the first in listing order: both read
    * one footer and assume every part file agrees with it. The footer is
    * converted by `readSchemaFromFooter` with the converter settings the
    * inference task uses (binary-as-string, INT96, timestamp-NTZ and
    * unknown-annotation handling from the session; the rest at their
    * defaults), except that a TIMESTAMP(NANOS) column always reads as its
    * raw LongType nanoseconds. Spark 4 has no nanosecond timestamp and
    * fails inference on one (PARQUET_TYPE_ILLEGAL) unless the session sets
    * `spark.sql.legacy.parquet.nanosAsLong`; the scan itself reads the
    * column as long whatever that flag says, so only this schema step
    * needs it, and no read that worked before changes.
    *
    * Driver cost is O(1) in the file count: three status calls, one
    * directory iterator stopped at the first data file, one footer read
    * without row groups. At 100 TB the file index still lists the table
    * once, as before. A missing path or a directory with no data file fails
    * with the error `spark.read.parquet` raises (`PATH_NOT_FOUND`,
    * `UNABLE_TO_INFER_SCHEMA`). Multi-path reads that merge schemas stay on
    * Spark's inference: they read every footer by definition. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  private def footerSchema(spark: SparkSession, path: String): StructType = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val rootStatus = statusOf(fs, root).getOrElse(throw new AnalysisException(
      "PATH_NOT_FOUND", Map("path" -> fs.makeQualified(root).toString)))
    val summary =
      if (rootStatus.isFile) None
      else Iterator("_common_metadata", "_metadata")
        .flatMap(n => statusOf(fs, new Path(root, n))).nextOption()
    val file = summary.orElse(firstDataFile(fs, rootStatus)).getOrElse(
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, hadoopConf), SKIP_ROW_GROUPS)
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = true,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer), converter)
  }

  private def statusOf(fs: FileSystem, p: Path): Option[FileStatus] =
    try Some(fs.getFileStatus(p))
    catch { case _: java.io.FileNotFoundException => None }

  /** The first visible data file under `st`: a file is itself; a directory
    * yields its first visible file, else the first data file of its visible
    * subdirectories in listing order. Each directory is listed once. */
  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (st.isFile) Some(st)
    else {
      val entries = fs.listStatusIterator(st.getPath)
      val subdirs = Seq.newBuilder[FileStatus]
      var found: Option[FileStatus] = None
      while (found.isEmpty && entries.hasNext) {
        val e = entries.next()
        if (visible(e.getPath.getName)) {
          if (e.isFile) found = Some(e) else subdirs += e
        }
      }
      found.orElse(subdirs.result().iterator.flatMap(firstDataFile(fs, _)).nextOption())
    }

  /** Spark's file-index filter: hidden (`.`), underscore-prefixed unless a
    * `key=value` partition name, or an in-progress `._COPYING_` upload. */
  private def visible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_"))

  /** Explicit schema CSV read — the Spark mapping of the reference's
    * `pd.read_csv(uploaded_file)` upload path (`app_test.py:262-263`), with
    * the schema declared instead of inferred. FAILFAST because Spark's
    * default PERMISSIVE mode silently nulls type-mismatched cells, which
    * would then be silently imputed by the scoring pipeline's median/mode
    * stage — a corrupted upload must be rejected, not absorbed. */
  def loadCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").option("mode", "FAILFAST")
      .schema(schema).csv(path)

  /** Reference-faithful customer schema (FIXTURES.md §B) for unit tests and the
    * scoring pipeline's exact-semantics corners. Column names keep the
    * reference's embedded spaces (`app_test.py:38-52`). */
  val customerSchema: StructType = StructType(Seq(
    StructField("CustomerID", LongType),
    StructField("Age", LongType),
    StructField("Gender", StringType),
    StructField("Tenure", LongType),
    StructField("Usage Frequency", LongType),
    StructField("Support Calls", LongType),
    StructField("Payment Delay", LongType),
    StructField("Subscription Type", StringType),
    StructField("Contract Length", StringType),
    StructField("Total Spend", DoubleType),
    StructField("Last Interaction", LongType),
    StructField("Churn", IntegerType)))
}
