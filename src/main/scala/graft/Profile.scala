package graft

import org.apache.spark.sql.SparkSession

/** Scratch profiling main: time individual queries (args: sfDir q1 q2 ...). */
object Profile {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder().master("local[32]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
      System.err.println(f"[prof] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      spark.catalog.clearCache() // mirror Bench's isolation between queries
    }
    spark.stop()
  }
}
