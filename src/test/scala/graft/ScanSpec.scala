package graft

import graft.sources.Tables
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

/** `Tables.parquet` is the engine's one parquet scan: it takes the schema
  * from one footer read on the driver instead of Spark's one-task inference
  * job. This spec pins the two halves of that claim — the scan is the same
  * as `spark.read.parquet` (schema with names, types, nullability and
  * metadata; rows; error classes) and it plans without a job — and lints
  * the sources so no second parquet read path comes back. */
class ScanSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val appAnalytics = Seq("q_filter_eq", "q_groupby_avg", "q_topk",
    "q_join_multiway", "q_impute_median", "q_onehot", "q_score_exact",
    "q_tpch_q1", "q_tpch_q3")

  private def withConf[A](k: String, v: String)(body: => A): A = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body
    finally prev.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def assertSameScan(path: String): Unit = {
    val inferred = spark.read.parquet(path)
    val footer = Tables.parquet(spark, path)
    // StructType equality covers names, types, nullability and metadata
    assert(footer.schema == inferred.schema, s"schema differs for $path")
    assert(footer.collect().toSeq == inferred.collect().toSeq, s"rows differ for $path")
  }

  private def failureOf(body: => DataFrame): Throwable =
    scala.util.Try(body).failed.getOrElse(fail("expected the read to fail"))

  /** The first `SparkThrowable` condition in a cause chain: inference runs
    * in a task, so its conversion errors arrive wrapped in a job failure. */
  private def condition(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }

  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  private def tmpDir(prefix: String): Path = {
    val base = Paths.get("target", "tmp")
    Files.createDirectories(base)
    val d = Files.createTempDirectory(base, prefix)
    tmpDirs += d
    d
  }

  override def afterAll(): Unit = {
    tmpDirs.foreach(d => Files.walk(d).iterator().asScala.toSeq.reverse
      .foreach(Files.deleteIfExists))
    super.afterAll()
  }

  test("the ten harness tables: same schema and rows as Spark's inference") {
    Tables.names.foreach(n => assertSameScan(s"$sf0001/$n.parquet"))
  }

  test("the converter follows the session: timestamp-NTZ inference on and off") {
    // the harness timestamps are pyarrow timestamp[us] without UTC adjustment
    val events = s"$sf0001/events.parquet"
    val tsTypes = Seq("true", "false").map { v =>
      withConf("spark.sql.parquet.inferTimestampNTZ.enabled", v) {
        assertSameScan(events)
        Tables.parquet(spark, events).schema("ts").dataType
      }
    }
    assert(tsTypes == Seq(TimestampNTZType, TimestampType))
  }

  test("a Spark-written artifact: the graph edges") {
    graft.ops.GraphOps.graphMetrics(spark, sf0001)
    val dir = graft.ops.SourceOps.materialize(s"graph_edges_$sf0001")(_ =>
      fail("graphMetrics should have staged the edge list"))
    assertSameScan(s"$dir/edges")
    spark.catalog.clearCache()
  }

  test("the day-partitioned events layout: partition column from the directory names") {
    val dir = graft.ops.SourceOps.eventsDayDir(spark, sf0001)
    assertSameScan(dir)
    val schema = Tables.parquet(spark, dir).schema
    assert(schema.fieldNames.last == "day")
    assert(schema("day").dataType == DateType)
  }

  test("a stream input directory and a file-sink output directory") {
    graft.streaming.StreamOps.streamAsof(spark, sf0001).collect()
    val in = graft.ops.SourceOps.materialize(s"stream_asof_in_$sf0001")(_ =>
      fail("streamAsof should have staged its input"))
    assertSameScan(s"$in/in")
    // a file sink keeps a `_spark_metadata` log beside its part files
    val run = tmpDir("scanspec_sink_")
    val q = spark.readStream.schema(Tables.parquet(spark, s"$in/in").schema)
      .option("maxFilesPerTrigger", "2").parquet(s"$in/in")
      .writeStream.format("parquet")
      .option("path", s"$run/out").option("checkpointLocation", s"$run/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(Files.isDirectory(run.resolve("out/_spark_metadata")))
    assertSameScan(s"$run/out")
  }

  test("summary files win over data files, _common_metadata over _metadata") {
    val dir = tmpDir("scanspec_summary_")
    Tables.load(spark, sf0001, "region").coalesce(1).write.parquet(s"$dir/t")
    // summaries with DIFFERENT schemas make the chosen footer visible
    def columns = Tables.parquet(spark, s"$dir/t").columns.toSeq
    Files.copy(Paths.get(s"$sf0001/supplier.parquet"), dir.resolve("t/_metadata"))
    assertSameScan(s"$dir/t")
    assert(columns.head == "s_suppkey")
    Files.copy(Paths.get(s"$sf0001/nation.parquet"), dir.resolve("t/_common_metadata"))
    assert(spark.read.parquet(s"$dir/t").schema == Tables.parquet(spark, s"$dir/t").schema)
    assert(columns.head == "n_nationkey")
  }

  test("a missing path and a directory without data files fail like spark.read.parquet") {
    val dir = tmpDir("scanspec_err_")
    Files.createDirectories(dir.resolve("empty"))
    Files.createDirectories(dir.resolve("hidden/_temporary"))
    Files.write(dir.resolve("hidden/_SUCCESS"), Array.emptyByteArray)
    Files.write(dir.resolve("hidden/.part.crc"), Array.emptyByteArray)
    Seq(s"$dir/missing", s"$dir/empty", s"$dir/hidden").foreach { p =>
      val inferred = failureOf(spark.read.parquet(p))
      val footer = failureOf(Tables.parquet(spark, p))
      assert(inferred.isInstanceOf[AnalysisException], inferred.toString)
      assert(footer.getClass == inferred.getClass, p)
      assert(condition(footer) == condition(inferred), p)
      assert(footer.getMessage == inferred.getMessage, p)
    }
    assert(condition(failureOf(Tables.parquet(spark, s"$dir/missing"))) ==
      Some("PATH_NOT_FOUND"))
    assert(condition(failureOf(Tables.parquet(spark, s"$dir/empty"))) ==
      Some("UNABLE_TO_INFER_SCHEMA"))
  }

  test("Tables.load and Tables.parquet run no Spark job") {
    val loadJobs = started(Tables.names.map(Tables.load(spark, sf0001, _)))._2.jobs
    assert(loadJobs == 0)
    val dayDir = graft.ops.SourceOps.eventsDayDir(spark, sf0001)
    val scanJobs = started(Tables.parquet(spark, dayDir))._2.jobs
    assert(scanJobs == 0)
    // the listener does see the inference job a bare read runs
    val inferJobs = started(spark.read.parquet(dayDir))._2.jobs
    assert(inferJobs >= 1)
  }

  test("the nine app_analytics builders run no Spark job at sf0.001") {
    appAnalytics.foreach { q =>
      val (df, ran) = started(SparkEntry.queries(q)(spark, sf0001))
      assert(ran.jobs == 0, s"$q's builder ran ${ran.jobs} job(s)")
      assert(df.columns.nonEmpty)
      spark.catalog.clearCache()
    }
  }

  // ---- source lint: one parquet read path -------------------------------

  /** A batch reader chain ending in a parquet read: `read`, any
    * `.option/.options/.schema/.format(...)` links (one level of nested
    * parentheses), then `.parquet(` — or a `format("parquet")` link.
    * `readStream` chains are not batch reads and do not match. */
  private val parquetRead =
    raw"""\bread((?:\s*\.\s*(?:option|options|schema|format)\((?:[^()]|\([^()]*\))*\))*)\s*\.\s*parquet\(|\bread\s*\.\s*format\(\s*"parquet"\s*\)""".r

  /** The one read allowed outside `Tables`: the schema-evolution demo's
    * `mergeSchema` read, which reads every footer by definition. */
  private def allowed(file: String, site: String): Boolean =
    file == "sources/Tables.scala" ||
      (file == "ops/SourceOps.scala" && site.contains("\"mergeSchema\""))

  private def lintViolations(sources: Seq[(String, String)]): Seq[String] =
    sources.flatMap { case (file, src) =>
      val code = SourceLint.stripComments(src)
      parquetRead.findAllMatchIn(code).toSeq
        .filterNot(m => allowed(file, m.matched))
        .map { m =>
          val line = code.substring(0, m.start).count(_ == '\n') + 1
          s"$file:$line: ${m.matched.replaceAll("\\s+", " ")}"
        }
    }

  test("source lint: every parquet read outside Tables goes through Tables.parquet") {
    val sources = SourceLint.mainSources
    assert(sources.exists(_._1 == "sources/Tables.scala"))
    val violations = lintViolations(sources)
    assert(violations.isEmpty,
      "parquet reads outside Tables.parquet:\n" + violations.mkString("\n"))
    // the allow-listed mergeSchema read is still there and still matched
    val mergeRead = sources.filter(_._1 == "ops/SourceOps.scala")
      .flatMap { case (_, s) => parquetRead.findAllIn(SourceLint.stripComments(s)) }
    assert(mergeRead.size == 1 && mergeRead.head.contains("mergeSchema"))
  }

  test("source lint: planted reads trip it; comments, streams and Tables.parquet do not") {
    val planted = Seq(
      "ops/Planted.scala" ->
        """object Planted {
          |  def a(spark: SparkSession) = spark.read.parquet("x")
          |  def b(spark: SparkSession) = spark.read
          |    .option("k", "v").schema(s.add("c", "int"))
          |    .parquet("y")
          |  def c(spark: SparkSession) = spark.read.format("parquet").load("z")
          |  def d(spark: SparkSession) = spark.read.option("mergeSchema", "true").parquet("m")
          |  // spark.read.parquet("commented out")
          |  /* spark.read.parquet("block comment") */
          |  def e(spark: SparkSession) = spark.readStream.schema(t).parquet("s")
          |  def f(spark: SparkSession) = Tables.parquet(spark, "ok")
          |}""".stripMargin,
      "sources/Tables.scala" -> """def p = spark.read.schema(s).parquet(path)""",
      "ops/SourceOps.scala" ->
        """spark.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")""")
    val violations = lintViolations(planted)
    assert(violations.map(_.takeWhile(_ != ' ')) == Seq(
      "ops/Planted.scala:2:", "ops/Planted.scala:3:", "ops/Planted.scala:6:",
      "ops/Planted.scala:7:"), violations.mkString("\n"))
  }
}
