package graft
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * `--stability` is the DRAW-STABILITY GATE (round-12 process fix): the r11
  * cov failure showed that one matching local draw proves nothing when a
  * declared value rounds an order-dependent float sum — the builder's run
  * passed, the driver's next draw didn't. With the flag, each dumped query
  * is re-executed under deliberately perturbed partitioning (13 shuffle
  * partitions + 1 MB input splits, vs the dump run's defaults — different
  * map-side split boundaries AND a different merge tree) and the two result
  * multisets are compared with doubles at BIT granularity (−0.0 vs 0.0 and
  * last-ulp flips are failures). A query may not enter the ledger as
  * "oracled" until this gate passes — see SURVEY §2.0's verify recipe. */
object Verify {

  /** Canonical string for one value: floating types by raw bits, nested
    * rows/arrays/maps recursively, bytes base64 — so two collects compare
    * at exactly the granularity the driver's parquet hash sees. */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: java.lang.Double => "d" + java.lang.Double.doubleToRawLongBits(d)
    case f: java.lang.Float => "f" + java.lang.Float.floatToRawIntBits(f)
    case b: Array[Byte] => "b" + java.util.Base64.getEncoder.encodeToString(b)
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => canon(k) + "->" + canon(x) }.toSeq.sorted.mkString("{", ",", "}")
    case other => other.getClass.getSimpleName + ":" + other.toString
  }

  /** Sorted canonical multiset of a DataFrame's rows. */
  private def canonRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().toSeq.map(canon).sorted

  def main(args: Array[String]): Unit = {
    // flags never fill positional slots: `Verify <sf> --sql-only` must not
    // silently use "--sql-only" as the output directory
    val positional = args.filterNot(_.startsWith("--"))
    require(positional.length >= 2, s"usage: Verify <sfDir> <outDir> [--sql-only] [--only=a,b] [--stability]; got ${args.mkString(" ")}")
    val Array(sfDir, outDir) = positional.take(2)
    // --sql-only: refresh oracle_sql.json without re-running the queries
    // (iterating on an oracle against already-dumped parquet results)
    val sqlOnly = args.contains("--sql-only")
    // --only=a,b: re-dump a subset (iterating on one query's Spark side).
    // A typo'd name must fail loudly — a silent no-op run would leave stale
    // dumps that the driver then compares against a fresh oracle_sql.json.
    val only = args.collectFirst { case a if a.startsWith("--only=") =>
      a.stripPrefix("--only=").split(',').toSet }
    only.foreach { names =>
      val unknown = names -- SparkEntry.registry.map(_.name)
      require(unknown.isEmpty, s"--only names not in SparkEntry.registry: ${unknown.mkString(",")}")
    }
    new java.io.File(outDir).mkdirs()
    var unstable = List.empty[String]
    val toRun =
      if (sqlOnly) Nil
      else SparkEntry.registry.filter(r => only.forall(_.contains(r.name)))
    if (toRun.nonEmpty) {
      // --sql-only writes a static JSON — don't pay SparkSession startup
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
      val spark = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val stability = args.contains("--stability")
      // the gate's perturbed partitioning (13 reducers, 1 MB input splits)
      // around `body`, then back to the dump run's settings
      def perturbed[A](body: => A): A = {
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1048576")
        try body
        finally {
          spark.conf.set("spark.sql.shuffle.partitions", cpus)
          spark.conf.unset("spark.sql.files.maxPartitionBytes")
        }
      }
      toRun.foreach { case SparkEntry.QuerySpec(name, fn, check, _) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          if (stability) {
            spark.catalog.clearCache()
            // the dump above ran at the session defaults; the re-run gets a
            // different merge tree (13 reducers) AND different map-side
            // split boundaries (1 MB input splits), so any order-dependent
            // float sum feeding a rounded output moves here if it can move.
            // This per-query re-run shares the JVM's staged artifacts and
            // fitted models (the Artifacts stage and fitOrLoad tiers), so
            // it covers query EVALUATION over fixed artifacts; session
            // artifacts key on the perturbed confs and are rebuilt here.
            // Artifact CONSTRUCTION under perturbed partitioning is gated
            // separately by the re-derivation pass after this loop
            // (r14 — see the artifact-construction block below). Model fits
            // remain registry-gated (fixed seeds + disk-roundtrip specs).
            // hash-oracled queries must be BIT-stable (the driver hashes
            // their values); declared no-oracle queries (sketch blobs with
            // spec'd error bounds) are draw-dependent by contract — the
            // driver records rows-only for them, so gate rows only
            val hashOracled = check.isInstanceOf[SparkEntry.Oracle]
            def snap(df: org.apache.spark.sql.DataFrame): Seq[String] =
              if (hashOracled) canonRows(df) else Seq(df.count().toString)
            val dumped = snap(Tables.parquet(spark, s"$outDir/$name"))
            val rerun = perturbed(snap(fn(spark, sfDir)))
            if (dumped != rerun) {
              unstable ::= name
              val firstDiff = dumped.zipAll(rerun, "<missing>", "<missing>")
                .find { case (a, b) => a != b }
              System.err.println(s"[stability] $name UNSTABLE under perturbed " +
                s"partitioning (${dumped.length} vs ${rerun.length} rows); " +
                s"first diff: ${firstDiff}")
            } else System.err.println(
              s"[stability] $name ok${if (hashOracled) "" else " (no-oracle: rows only)"}")
          }
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        // some queries persist() small frames; don't accumulate the whole
        // registry's cache in one session
        spark.catalog.clearCache()
      }
      // ARTIFACT-CONSTRUCTION half of the stability gate (r13 verdict #5,
      // closing the r12 advisor's "memoized artifacts" blind spot as a
      // class): every staged artifact that is a pure function of the
      // corpus (SourceOps.pureArtifactPrefixes) is RE-DERIVED here under
      // the same perturbed partitioning, into a scratch dir, and every
      // parquet leaf is value-compared at bit granularity against the
      // standing artifact the queries actually read. Model FITS (KMeans /
      // PQ codebooks) still come from their in-JVM/disk registry — their
      // construction determinism is gated by fixed seeds + the
      // disk-roundtrip specs; this gate covers everything built FROM them.
      if (args.contains("--stability")) {
        import scala.jdk.CollectionConverters._
        def parquetLeaves(root: String): Seq[String] = {
          val base = Paths.get(root)
          val s = Files.walk(base)
          try s.iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              p.getFileName.toString.endsWith(".parquet"))
            .map(p => base.relativize(p.getParent).toString)
            .toSeq.distinct.sorted
          finally s.close()
        }
        // delete a scratch tree (post-compare; a mismatching one is KEPT
        // for diagnosis — its path is in the UNSTABLE message)
        def rmTree(root: String): Unit = {
          val s = Files.walk(Paths.get(root))
          try s.iterator().asScala.toSeq.reverse.foreach(p =>
            scala.util.Try(Files.deleteIfExists(p)))
          finally s.close()
        }
        graft.ops.SourceOps.rederivableArtifacts.toSeq.sortBy(_._1).foreach {
          case (key, (standDir, write)) =>
            // one failing re-derivation must not abort the gate for the
            // remaining artifacts (or skip oracle_sql.json) — same
            // per-item catch discipline as the query loop above. Scratch
            // is created OUTSIDE the try so a failure message can name it
            // (kept for diagnosis, like the mismatch path).
            val scratch = Files.createTempDirectory(
              "gate_" + key.replaceAll("[^A-Za-z0-9._-]", "_")).toString
            try {
              perturbed(write(scratch))
              val (a, b) = (parquetLeaves(standDir), parquetLeaves(scratch))
              if (a != b) {
                unstable ::= s"artifact:$key"
                System.err.println(s"[stability] artifact $key UNSTABLE: leaf " +
                  s"layout differs under perturbed construction ($a vs $b; " +
                  s"scratch kept at $scratch)")
              } else {
                val bad = a.filter { sub =>
                  canonRows(Tables.parquet(spark, s"$standDir/$sub")) !=
                    canonRows(Tables.parquet(spark, s"$scratch/$sub"))
                }
                if (bad.nonEmpty) {
                  unstable ::= s"artifact:$key"
                  System.err.println(s"[stability] artifact $key UNSTABLE under " +
                    s"perturbed construction: leaves ${bad.mkString(",")} differ " +
                    s"(scratch kept at $scratch)")
                } else {
                  System.err.println(s"[stability] artifact $key ok " +
                    s"(re-derived, ${a.size} leaf/leaves bit-equal)")
                  rmTree(scratch)
                }
              }
            } catch { case scala.util.control.NonFatal(e) =>
              // NonFatal only: an OOM/interrupt must propagate, not be
              // recorded as one more unstable artifact in a dying JVM
              unstable ::= s"artifact:$key"
              System.err.println(s"[stability] artifact $key re-derivation FAILED: " +
                s"${e.getMessage} (scratch kept at $scratch)")
            }
        }
      }
      spark.stop()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    if (unstable.nonEmpty) {
      System.err.println(s"[stability] ${unstable.size} UNSTABLE: ${unstable.sorted.mkString(",")}")
      sys.exit(3)
    }
  }
}
