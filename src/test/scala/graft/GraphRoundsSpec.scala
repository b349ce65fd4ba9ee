package graft

import graft.ops.GraphOps

/** The five iterated graph loops partition their static edge relation once
  * on the key each round aggregates by, and keep per-round state
  * node-sized, broadcast and `localCheckpoint`ed — so no round runs an
  * exchange and the session's shuffle width never reaches the rounds.
  * This spec counts the shuffle map stages each loop query submits while
  * it builds and runs, at two session widths: a round that shuffles would
  * push a query past its ledgered one-time exchanges.
  *
  * The queries run at sf0.01, where the edge layout has 2 partitions. At
  * sf0.001 it has 1, and Spark plans a one-partition child as already
  * clustered on any key, so a loop partitioned on the wrong key would not
  * shuffle there and the count could not tell. */
class GraphRoundsSpec extends SparkSpec {

  /** The exchanges a loop query may run whatever its round count, with
    * the reason for each. */
  private val setUp: Map[String, (Int, String)] = Map(
    "q_pagerank" -> (4 ->
      "staged edge count; out-degree aggregate; the edge layout on d; node-count probe"),
    "q_khop" -> (5 ->
      "staged edge count; the edge layout on dst; node-count probe; census by level; its sort"),
    "q_sssp" -> (6 ->
      ("edge count; self-loop node distinct; the edge layout on dst; node-count probe; " +
        "census by distance; its sort")),
    "q_communities" -> (5 ->
      ("staged edge count; node distinct for the self-votes; the edge layout on src; " +
        "node-count probe; census by label")),
    "q_kcore" -> (5 ->
      "staged edge count; the edge layout on src; (N, 2E) probe; census by round; its sort"))

  private def shuffleStages(width: Int)(body: => Unit): Int = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", width.toString)
    try started(body)._2.shuffleStages
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.catalog.clearCache()
    }
  }

  setUp.toSeq.sortBy(_._1).foreach { case (q, (bound, why)) =>
    test(s"$q: no round adds a shuffle stage, at session widths 4 and 32") {
      // stage the edge artifact first: its one-time write is not the loop's
      SparkEntry.queries(q)(spark, sf001).collect()
      val counts = Seq(4, 32).map(w => shuffleStages(w)(SparkEntry.queries(q)(spark, sf001).collect()))
      assert(counts.forall(_ <= bound),
        s"$q ran $counts shuffle stages at widths 4/32; its set-up allows $bound ($why)")
    }
  }

  test("ssspFrom: hops 2 and 4 run the same shuffle stages on the planted graph") {
    import spark.implicits._
    val dir = Seq((1L, 2L, 2L), (2L, 3L, 1L), (3L, 4L, 1L), (1L, 3L, 5L)).toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    val Seq(h2, h4) = Seq(2, 4).map(h => shuffleStages(4)(GraphOps.ssspFrom(spark, dir, seeds, h).collect()))
    assert(h2 == h4, s"hops 2 ran $h2 shuffle stages, hops 4 ran $h4")
  }
}
