package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Dump `explain("formatted")` for every declared query to a directory —
  * the raw material for plan audits (pushdown, broadcast, codegen spans). */
object Plans {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "target/plans"
    // SPARK_GRAFT_CPUS (default 4, the historical dump width) so a plan
    // audit can also dump at the bench width — the graph loops' edge
    // layouts (iterParts) are capped at the session width
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sf).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch {
        case e: Throwable => System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
