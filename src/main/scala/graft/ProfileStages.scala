package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart, SparkListenerJobEnd}
import org.apache.spark.sql.SparkSession

/** Stage-level profiling main (optimization round instrument): runs each
  * named query twice (cold, then warm — read the warm number) and prints
  * every completed stage's task count, wall duration, executor-summed run
  * time, shuffle bytes and record counts. Args: sfDir q1 q2 ...
  *
  * This is measurement tooling only — never on any query path. */
object ProfileStages {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else Seq("q_pagerank")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("PROFILE_AQE", "true"))
      .config("spark.ui.enabled", "false")
      // PROFILE_CONF="k1=v1;k2=v2" — arbitrary conf overrides for A/B runs
      .config(sys.env.get("PROFILE_CONF").map(_.split(";").toSeq)
        .getOrElse(Seq.empty).flatMap { kv =>
          kv.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
        }.foldLeft(new org.apache.spark.SparkConf(false)) { case (c, (k, v)) => c.set(k, v) })
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    @volatile var collecting = false
    val lock = new Object
    case class St(stage: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, shufReadMB: Double, shufWriteMB: Double, inRec: Long, outRec: Long,
      detail: String = "", gcMs: Long = 0, deserMs: Long = 0, resSerMs: Long = 0)
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    val jobStages = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Seq[Int])]
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (collecting) lock.synchronized {
          jobs += 1
          val desc = Option(j.properties.getProperty("spark.job.description")).getOrElse("")
          jobStages += ((j.jobId, desc.take(80), j.stageIds))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collecting) lock.synchronized {
          val i = sc.stageInfo
          val m = i.taskMetrics
          val wall = (for {s <- i.submissionTime; c <- i.completionTime} yield c - s).getOrElse(-1L)
          stages += St(i.stageId, i.name.takeWhile(_ != '\n').take(60), i.numTasks,
            wall, m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten,
            i.details, m.jvmGCTime, m.executorDeserializeTime, m.resultSerializationTime)
        }
    })

    names.foreach { name =>
      if (sys.env.contains("PROFILE_EXPLAIN")) {
        val plan = SparkEntry.queries(name)(spark, sf).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        System.err.println(s"[prof] ---- $name plan ----\n$plan")
      }
      // cold run — JIT + artifact staging, untimed detail
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
      val cold = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      // warm runs (PROFILE_REPS, default 2): min = the JIT/load-free
      // estimate; jobs, stages and the gap are reported from that min rep
      val repsN = sys.env.getOrElse("PROFILE_REPS", "2").toInt
      val warms = (1 to repsN).map { _ =>
        lock.synchronized { stages.clear(); jobStages.clear(); jobs = 0 }
        collecting = true
        val t1 = System.nanoTime()
        SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
        val w = (System.nanoTime() - t1) / 1e9
        collecting = false
        spark.catalog.clearCache()
        lock.synchronized { (w, jobs, stages.toList, jobStages.toList) }
      }
      val (warm, minJobs, minStages, minJobStages) = warms.minBy(_._1)
      System.err.println(f"[prof] ==== $name cold=$cold%.2f warm=$warm%.2f (all: ${warms.map(w => f"${w._1}%.2f").mkString(",")}) jobs=$minJobs stages=${minStages.size} ====")
      val byWall = minStages.sortBy(-_.wallMs)
      val totWall = byWall.map(_.wallMs).sum
      System.err.println(f"[prof] stage wall sum=${totWall / 1e3}%.2f s (gaps = driver/plan time: ${warm - totWall / 1e3}%.2f s)")
      byWall.take(14).foreach { s =>
        System.err.println(f"[prof]   stage ${s.stage}%5d tasks=${s.tasks}%4d wall=${s.wallMs}%6d ms run=${s.runMs}%6d ms gc=${s.gcMs}%5d deser=${s.deserMs}%6d sr=${s.shufReadMB}%7.1f MB sw=${s.shufWriteMB}%7.1f MB inRec=${s.inRec}%9d ${s.name}")
        if (sys.env.contains("PROFILE_DETAILS") && s.detail.nonEmpty)
          System.err.println(s.detail.linesIterator.take(12).map("[prof]      | " + _).mkString("\n"))
      }
      if (sys.env.contains("PROFILE_JOBS"))
        minJobStages.foreach { case (id, desc, sids) =>
          System.err.println(s"[prof]   job $id stages=${sids.mkString(",")} $desc")
        }
    }
    spark.stop()
  }
}
