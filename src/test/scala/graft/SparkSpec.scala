package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for unit tests. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"
  lazy val sf001 = "/root/testdata/sf0.01"

  /** Jobs and shuffle map stages started on this thread while `body` runs,
    * counted under a job group of its own (a stage is a shuffle map stage
    * when its tasks are `ShuffleMapTask`s). Listener delivery is
    * asynchronous but ordered, so a marker job run afterwards under its own
    * group flushes every earlier event before the counts are read. */
  def started[A](body: => A): (A, SparkSpec.Started) = {
    val sc = spark.sparkContext
    val group = s"started-${System.nanoTime()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger(0)
    val (stages, shuffleStages) = (ConcurrentHashMap.newKeySet[Int](), ConcurrentHashMap.newKeySet[Int]())
    val markerSeen = new CountDownLatch(1)
    def groupOf(props: java.util.Properties) =
      Option(props).map(_.getProperty("spark.jobGroup.id")).orNull
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = groupOf(j.properties) match {
        case `group` => jobs.incrementAndGet()
        case `marker` => markerSeen.countDown()
        case _ =>
      }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (groupOf(s.properties) == group) stages.add(s.stageInfo.stageId)
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskType == "ShuffleMapTask" && stages.contains(t.stageId)) shuffleStages.add(t.stageId)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "count marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, TimeUnit.SECONDS))
      (out, SparkSpec.Started(jobs.get(), shuffleStages.size))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  case class Started(jobs: Int, shuffleStages: Int)

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // force in-memory collections to REALLY spill past 300k elements so
      // spill paths are testable (TopKFallbackSpec); fixture suites stay
      // far below this, so only the deliberately-oversized specs pay it
      .config("spark.shuffle.spill.numElementsForceSpillThreshold", "300000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
