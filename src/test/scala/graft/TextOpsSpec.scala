package graft

import org.apache.spark.sql.functions._
import graft.ops.TextOps
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokens: lowercase, non-alnum split, empties dropped") {
    val r = Seq("Hello, World!  foo_bar 42").toDF("text")
      .select(TextOps.tokens(col("text"))).head().getSeq[String](0)
    assert(r == Seq("hello", "world", "foo", "bar", "42"))
  }

  test("phraseSearch: overlap counting, offset discipline, and the no-match doc") {
    // doc 1 matches twice (back to back), doc 2 breaks the phrase with a
    // gap token, doc 3 has the terms out of order — only doc 1 reports
    val docs = Seq(
      (1L, "join part filter join part filter"),
      (2L, "join part x filter"),
      (3L, "filter part join")).toDF("doc_id", "text")
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_phrase_fixture"
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.phraseSearch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 1L)), s"got $got")
  }

  test("shingles3: distinct 3-grams; short docs -> empty") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(TextOps.shingles3(TextOps.tokens(col("text"))).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("a b c", "b c d"))
    assert(rows(1).isEmpty)
  }

  test("dedupPrefix equals dedupJaccard on the fixture and indexes only rare prefixes") {
    val exact = TextOps.dedupJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pfx = TextOps.dedupPrefix(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(pfx == exact)
    // the index the self-join runs on must be the ~20% prefix, not the full
    // posting set: at t=0.8, |prefix(d)| = |d| - ceil(0.8|d|) + 1 <= 0.2|d| + 1
    val ex = TextOps.shingleRows(spark, sf0001)
    val total = ex.count()
    val nDocs = ex.select("doc_id").distinct().count()
    val prefixBound = 0.2 * total + nDocs
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id")
    val prefixRows = ex
      .join(ex.groupBy("s").agg(count(lit(1)).as("df")), "s")
      .select(col("doc_id"),
        row_number().over(byDoc.orderBy(col("df"), col("s"))).as("pos"),
        count(lit(1)).over(byDoc).as("len"))
      .filter(col("pos") <= col("len") - ceil(lit(0.8) * col("len")) + lit(1))
      .count()
    assert(prefixRows <= prefixBound,
      s"prefix index $prefixRows exceeds the t=0.8 bound $prefixBound of $total postings")
  }

  test("minhash-LSH candidates reproduce exact jaccard pairs on the fixture") {
    // the planted near-dups at sf0.001: LSH (16 bands x 8 rows) must find
    // every pair the exact inverted-index form finds at threshold 0.8
    val exact = TextOps.dedupJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = TextOps.dedupMinhash(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact)
  }

  test("dupSpanCoverage: covered = union of overlapping dup windows; internal repeats don't mark") {
    val share = (1 to 15).map("s" + _).mkString(" ")
    val rep = (1 to 13).map("r" + _).mkString(" ")
    val docs = Seq(
      (1L, (1 to 5).map("u" + _).mkString(" ") + " " + share),
      (2L, share + " " + (1 to 5).map("v" + _).mkString(" ")),
      // doc 3 repeats a 13-gram INTERNALLY; cross-doc rule must not mark it
      (3L, rep + " z1 " + rep)).toDF("doc_id", "text")
    val r = TextOps.dupSpanCoverageFrom(docs).collect()
    assert(r.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    r.foreach { row =>
      assert(row.getLong(1) == 20L, "n_tokens")
      // shared 15-token run at K=13 -> 3 dup gram starts, union covers 15
      assert(row.getLong(2) == 3L, "dup_positions")
      assert(row.getLong(3) == 15L, "covered_tokens")
      assert(row.getDouble(4) == 0.75, "dup_frac")
    }
  }

  test("dedupSpanCut: first occurrence kept, later spans cut, internal repeats untouched") {
    val share = (1 to 15).map("s" + _).mkString(" ")
    val rep = (1 to 13).map("r" + _).mkString(" ")
    val docs = Seq(
      (1L, (1 to 5).map("u" + _).mkString(" ") + " " + share),
      (2L, share + " " + (1 to 5).map("v" + _).mkString(" ")),
      (3L, rep + " z1 " + rep)).toDF("doc_id", "text")
    val r = TextOps.dedupSpanCutFrom(docs).collect()
      .map(row => row.getLong(0) ->
        ((row.getLong(1), row.getLong(2), row.getLong(3), row.getString(4)))).toMap
    // doc 1 holds every shared gram's FIRST occurrence -> nothing cut
    assert(r(1L) == ((20L, 20L, 0L, md5Hex((1 to 5).map("u" + _).mkString(" ") + " " + share))))
    // doc 2's three occurrences are all non-first; their window union is
    // tokens 1..15 -> only the v-suffix survives
    assert(r(2L) == ((20L, 5L, 15L, md5Hex((1 to 5).map("v" + _).mkString(" ")))))
    // doc 3 repeats only INTERNALLY (one distinct doc per gram) -> untouched
    assert(r(3L)._3 == 0L && r(3L)._2 == 27L)
  }

  /** The inputs of an executed plan node, through AQE stages, reused
    * exchanges, cached relations and subqueries. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
    case other => other.children ++ other.subqueries
  }

  test("q_dedup_span_cut plan: each documents branch tokenizes once") {
    import org.apache.spark.sql.catalyst.expressions.{Lower, StringSplit}
    val df = TextOps.dedupSpanCut(spark, sf0001)
    df.collect()
    def splits(p: SparkPlan): Int =
      p.expressions.map(_.collect { case StringSplit(Lower(_), _, _) => }.size).sum
    // the most tokenizations on any root-to-scan path, i.e. per row of a
    // documents branch
    def worstPath(p: SparkPlan): Int = splits(p) + kids(p).map(worstPath).maxOption.getOrElse(0)
    val plan = df.queryExecution.executedPlan
    assert(worstPath(plan) == 1, plan.toString)
  }

  test("q_hybrid_lifecycle plan: every rank window sits above a limit") {
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.window.WindowExec
    // both arms' global row_number windows rank a top-k, never the corpus:
    // the lexical arm ends in bm25's limit(20), the dense one in
    // cosineTopkN's limit(HybridTopN)
    val df = SparkEntry.queries("q_hybrid_lifecycle")(spark, sf0001)
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)
    def limited(p: SparkPlan): Boolean = p match {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec | _: CollectLimitExec => true
      case _ => kids(p) match { case Seq(only) => limited(only); case _ => false }
    }
    val plan = df.queryExecution.executedPlan
    val windows = nodes(plan).collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(w => limited(w.child)), plan.toString)
  }

  test("dedupSpanCut reconciles with dupSpanCoverage on the fixture corpus") {
    val cov = TextOps.dupSpanCoverage(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap // doc_id -> covered_tokens
    val cut = TextOps.dedupSpanCut(spark, sf0001).collect()
    assert(cut.nonEmpty)
    var totalCut = 0L
    cut.foreach { r =>
      val (doc, n, kept, cutT) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(kept + cutT == n, s"doc $doc token mass")
      // a doc can only lose tokens covered by CROSS-DOC duplicated spans,
      // and keeps at least the spans where it holds the first occurrence
      assert(cutT <= cov.getOrElse(doc, 0L), s"doc $doc cut $cutT > covered")
      totalCut += cutT
    }
    // the fixture plants near-dup docs, so the corpus must actually shrink
    assert(totalCut > 0L, "planted duplicates should produce cuts")
    // and first occurrences really survive: the min-doc_id covered doc
    // holds its grams' global firsts, whose earliest position can never be
    // cut — so for some covered doc, cut is STRICTLY below coverage
    assert(cut.exists { r =>
      val c = cov.getOrElse(r.getLong(0), 0L); c > 0L && r.getLong(3) < c
    })
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("dupSpanCoverage plan: ONE window, and the final per-doc aggregate reuses its partitioning") {
    val df = TextOps.dupSpanCoverage(spark, sf0001)
    val opt = df.queryExecution.optimizedPlan
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 1, s"expected 1 Window node, got ${windows.size}")
    // physical: the groupBy(doc_id, n_tokens) above the Window must NOT
    // add its own Exchange — HashPartitioning(doc_id) from the window sort
    // satisfies the aggregate's clustered distribution. An Exchange between
    // Window and the final aggregate means the reuse broke.
    val phys = df.queryExecution.sparkPlan
    def path(p: org.apache.spark.sql.execution.SparkPlan,
             sawAgg: Boolean = false): Boolean = p match {
      case w: org.apache.spark.sql.execution.window.WindowExec => sawAgg
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if sawAgg => false
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
        a.children.exists(c => path(c, sawAgg = true))
      case other => other.children.exists(c => path(c, sawAgg))
    }
    assert(path(phys), "no Exchange may sit between the final aggregate and the Window")
  }

  test("sourceOverlap: shared distinct grams + containment vs the smaller side") {
    val run = (n: Int) => (1 to n).map("s" + _).mkString(" ")
    val docs = Seq(
      ("srcA", run(15)),                               // grams s1..s13, s2..s14, s3..s15
      ("srcB", run(14)),                               // grams s1..s13, s2..s14 (both shared)
      ("srcC", (1 to 13).map("z" + _).mkString(" "))). // no overlap with anyone
      toDF("source", "text")
    val r = TextOps.sourceOverlapFrom(docs).collect()
    assert(r.length == 1)
    assert((r(0).getString(0), r(0).getString(1)) == ("srcA", "srcB"))
    assert(r(0).getLong(2) == 2L, "shared_grams")
    assert(r(0).getDouble(3) == 1.0, "containment = shared / min-side = 2/2")
  }

  test("qualityPrune: per-source adaptive cut keeps each corpus's own top half") {
    def doc(n: Int) = (1 to n).map("w" + _).mkString(" ")
    val docs = Seq(
      (1L, "srcA", doc(2)), (2L, "srcA", doc(3)),
      (3L, "srcA", doc(4)), (4L, "srcA", doc(5)),
      (5L, "srcB", doc(7)), (6L, "srcB", doc(8)))
      .map { case (id, src, t) => (id, src, t.length.toLong, t) }
      .toDF("doc_id", "source", "n_chars", "text")
    val r = TextOps.qualityPruneFrom(docs).collect()
      .map(x => x.getString(0) ->
        ((x.getLong(1), x.getLong(2), x.getLong(4)))).toMap
    // srcA percent_ranks over 4 docs: 0, 1/3, 2/3, 1 -> keeps the two
    // longest; its threshold (4 tokens) differs from srcB's (8) — the
    // adaptive property a global cut cannot have
    assert(r("srcA") == ((4L, 2L, 4L)))
    assert(r("srcB") == ((2L, 1L, 8L)))
  }

  test("bpeMerges learns the classic low/lower/newest merges in order") {
    import spark.implicits._
    val docs = Seq((1L, "low low low lower lower newest")).toDF("doc_id", "text")
    val got = TextOps.bpeMergesOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // hand-derived greedy merges with (count desc, pair asc) tie-break:
    // "l o" ties "o w" at 5 -> asc; then "lo w" 5; "e r" ties "low e" at 2
    assert(got.take(4) == Seq(
      (1L, "l o", 5L), (2L, "lo w", 5L), (3L, "e r", 2L), (4L, "low er", 2L)))
    // the corpus fully merges after 9 rounds; round 10 finds no pair and
    // emits nothing (the oracle's empty-argmax round behaves the same)
    assert(got.size == 9)
    assert(got.last == (9L, "n ewest", 1L))
  }

  test("bpeEncode agrees with a plain-Scala re-application of the trained merges") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low low low lower lower newest"),
      (2L, "newest widest lowest low"),
      (3L, ""), // zero tokens: must drop out, as in the oracle
      (4L, "low")).toDF("doc_id", "text")
    val merges = TextOps.bpeMergesOf(docs).collect().map(_.getString(1)).toSeq
    // independent encoder: same \b-delimited left-to-right replacement,
    // but driver-side per word via Java replaceAll
    def encode(word: String): Int = {
      var s = word.trim.toCharArray.mkString(" ")
      merges.foreach { p =>
        s = s.replaceAll("\\b" + p + "\\b", p.replace(" ", ""))
      }
      s.split(" ").length
    }
    val got = TextOps.bpeEncodeOf(docs, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Seq(1L, 2L, 4L).map { id =>
      val ws = Seq("low low low lower lower newest", "newest widest lowest low",
        "low")(Seq(1L, 2L, 4L).indexOf(id)).split("\\s+").filter(_.nonEmpty)
      (id, ws.length.toLong, ws.map(encode).sum.toLong)
    }
    assert(got == want, s"got $got")
  }

  test("bpeMerges handles identical-symbol runs like the standard greedy scan") {
    import spark.implicits._
    // 'aaaa' must merge to [aa, aa] in round 1 (space-consuming replacement
    // would leave [aa, a, a] and wrongly re-learn 'a a' in round 2)
    val docs = Seq((1L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val got = TextOps.bpeMergesOf(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a a", 9L), (2L, "aa aa", 3L)))
  }

  test("dedupCanonicalLsh equals the exact-pair canonical table on the fixture") {
    // banding recovers every fixture near-dup pair, so the keep/drop
    // decision table must be IDENTICAL — this pins the scale-path twin to
    // the oracled form the same way dupClustersLsh is pinned
    val exact = TextOps.dedupCanonical(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3))).toSeq
    val lsh = TextOps.dedupCanonicalLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3))).toSeq
    assert(exact.nonEmpty && exact == lsh)
  }

  test("dupClustersLsh (minhash pairs) equals exact-pair clustering") {
    val exact = TextOps.dupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextOps.dupClustersLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact)
  }

  test("minhash-LSH recall holds at sf0.01 too (16x the corpus)") {
    val exact = TextOps.dedupJaccard(spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextOps.dedupMinhash(spark, "/root/testdata/sf0.01").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact, s"missed: ${exact -- lsh}, spurious: ${lsh -- exact}")
  }

  test("simhash: identical texts collide, disjoint texts differ") {
    val df = Seq(
      (1L, "spark makes big data processing fast and simple today"),
      (2L, "spark makes big data processing fast and simple today"),
      (3L, "completely unrelated words about gardening tulips roses soil"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.simhash(TextOps.tokens(col("text"))).as("h"))
    val hs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == hs(2L))
    assert(java.lang.Long.bitCount(hs(1L) ^ hs(3L)) > 3)
  }

  test("langId: stopword heuristic identifies stopword-rich texts") {
    val df = Seq(
      (1L, "the cat sat on the mat and the dog is in a box"),
      (2L, "el gato que vive en la casa y el perro en un patio"),
      (3L, "le chat et le chien sont dans les maisons des voisins"),
      (4L, "zzz qqq www"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.langIdOf(TextOps.tokens(col("text"))).as("lang"))
    val m = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m(1L) == "en")
    assert(m(2L) == "es")
    assert(m(3L) == "fr")
    assert(m(4L) == "und")
  }

  test("langIdOf expression form equals the join-form langId query corpus-wide") {
    // two implementations of one semantic (per-row lambda argmax vs
    // explode+broadcast-join argmax) must never drift
    val exprForm = graft.sources.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), TextOps.langIdOf(TextOps.tokens(col("text"))).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val joinForm = TextOps.langId(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(exprForm == joinForm)
  }

  test("ngramTop counts bigrams, ordered by count desc then bigram") {
    val rows = TextOps.ngramTop(spark, sf0001).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val ns = rows.map(_.getLong(1))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "counts must be non-increasing")
    rows.foreach(r => assert(r.getString(0).split(" ").length == 2, r.getString(0)))
  }

  test("tfidf emits at most 3 ranked terms per doc with non-increasing scores") {
    val rows = TextOps.tfidf(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("dupClusters: pairs land in one component, canonical id is the min member") {
    val pairs = TextOps.dedupJaccard(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty, "fixture has no near-dup pairs at this sf")
    val clusters = TextOps.dupClusters(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.foreach { case (v, c) =>
      assert(c <= v, s"cluster id $c must be min of component (vertex $v)")
      assert(clusters(c) == c, s"canonical doc $c must label itself")
    }
  }

  test("dedupExact keeps min doc_id per duplicate text group") {
    val df = Seq((5L, "x"), (3L, "x"), (9L, "y")).toDF("doc_id", "text")
      .groupBy("text").agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies").orderBy("doc_id")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((3L, 2L), (9L, 1L)))
  }

  test("dedupJaccard df-cap is not binding on the fixtures (oracle output unchanged)") {
    // the hot-shingle cap only drops candidate-generation rows when some
    // shingle appears in > JaccardDfCap docs; assert the fixtures are far
    // below it, so the capped form's CORRECTNESS output is identical
    Seq(sf0001, sf001).foreach { sf =>
      val maxDf = TextOps.shingleRows(spark, sf)
        .groupBy("s").agg(count(lit(1)).as("df"))
        .agg(max("df")).head().getLong(0)
      assert(maxDf < TextOps.JaccardDfCap, s"$sf max shingle df $maxDf")
    }
  }

  test("forced capped plan skips the max-df probe and equals the probed plan") {
    // spark.graft.dedup.forceCappedPlan=true routes straight to the
    // candidate+verify plan (no 1-row probe job); on a corpus where the cap
    // is not binding the output must be identical to the probed/direct path
    // the memoized relations, not fresh per-test persists: a direct
    // shingleRows(...).persist() here duplicates the standing memo entry's
    // plan and trips CacheManager's "already cached" warning (r18 #1)
    val ex = TextOps.shingleRelation(spark, sf0001)
    val gx = TextOps.kgramRelation(spark, sf0001)
    try {
      val probedJ = TextOps.dedupJaccardFrom(ex).collect().map(_.toSeq).toSeq
      val probedN = TextOps.dedupNgramFrom(gx).collect().map(_.toSeq).toSeq
      spark.conf.set(TextOps.ForceCappedPlanKey, "true")
      val forcedJ = TextOps.dedupJaccardFrom(ex).collect().map(_.toSeq).toSeq
      val forcedN = TextOps.dedupNgramFrom(gx).collect().map(_.toSeq).toSeq
      assert(forcedJ == probedJ)
      assert(forcedN == probedN)
    } finally {
      spark.conf.unset(TextOps.ForceCappedPlanKey)
    }
  }

  test("seqPack conserves token mass, fills every context, never overfills") {
    val out = TextOps.seqPack(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.nonEmpty)
    // fill <= 1 always; every context but each shard's LAST is exactly full
    out.foreach { case (_, _, _, tok, fill) =>
      assert(tok <= TextOps.PackContextLen && fill <= 1.0, s"overfilled: $tok")
    }
    out.groupBy(_._1).foreach { case (shard, ctxs) =>
      val sorted = ctxs.sortBy(_._2)
      // contexts are contiguous from 0 (documents span boundaries, so no gap)
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq,
        s"shard $shard context ids not contiguous")
      sorted.init.foreach { case (_, ctx, _, tok, _) =>
        assert(tok == TextOps.PackContextLen, s"shard $shard ctx $ctx not full: $tok")
      }
    }
    // token conservation: context masses sum to the corpus token count
    val total = TextOps.textTokens(spark, sf001)
      .agg(sum("n_tokens")).head().getLong(0)
    assert(out.map(_._4).sum == total)
  }

  test("mixWeights: largest source gets weight 1, shares sum to 1") {
    val rows = TextOps.mixWeights(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length > 1)
    val maxTok = rows.map(_._2).max
    rows.foreach { case (_, tok, share, wt) =>
      assert(wt <= 1.0 && wt > 0.0 && share > 0.0)
      if (tok == maxTok) assert(wt == 1.0)
      // temperature flattening: small sources get MORE than their share
      // relative to the largest (sqrt ratio >= linear ratio)
      assert(wt >= tok.toDouble / maxTok - 1e-4)
    }
    assert(math.abs(rows.map(_._3).sum - 1.0) < 0.01) // shares ~sum to 1 (rounding)
  }

  test("dedupIncremental picks each new doc's best corpus match, consistent with dedupJaccard") {
    val inc = TextOps.dedupIncremental(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(inc.nonEmpty, "fixture plants near-dups straddling the %10 split")
    val jac = TextOps.dedupJaccard(spark, sf0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(inc.map(_._1).distinct.length == inc.length, "one row per new doc")
    inc.foreach { case (newId, dupOf, j) =>
      assert(newId % 10 == 0 && dupOf % 10 != 0 && j >= 0.8)
      // the reported jaccard must be the same number the batch dedup computes
      val key = (math.min(newId, dupOf), math.max(newId, dupOf))
      assert(jac.get(key).contains(j), s"pair $key: incremental $j vs batch ${jac.get(key)}")
    }
  }

  test("dedupMinhash plan: banded equi-join candidates, never all-pairs") {
    val df = TextOps.dedupMinhash(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // the candidate self-join must key on (band, bucket)
    assert("(?s)(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).{0,200}band.{0,80}bucket".r
      .findFirstIn(plan).isDefined, plan.take(2000))
  }

  test("dupClusters pointer jumping converges in O(log d) rounds on a chain") {
    // plain min-label walks ONE hop per round: a 14-vertex path would need
    // ~13 rounds. The pointer jump roughly doubles a label's reach per
    // round, so the same path must finish in ~log2(13) + overhead.
    val chain = (0L until 13L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val rows = TextOps.dupClustersFrom(chain).collect()
    assert(rows.length == 14)
    assert(rows.forall(_.getLong(1) == 0L), rows.mkString(","))
    val rounds = TextOps.lastPropagationRounds.get()
    assert(rounds <= 6, s"expected O(log d) convergence, took $rounds rounds")
  }

  test("dupClusters checkpoint bounds lineage on a high-diameter chain") {
    // a 129-vertex path (diameter 128): plain propagation would blow the
    // 20-round cap; with jumping it converges in ~8 rounds, crossing
    // a checkpoint every round — all vertices must still collapse to cluster
    // 0, and the returned plan must reflect only the rounds SINCE the last
    // checkpoint, not all of them.
    val chain = (0L until 128L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = TextOps.dupClustersFrom(chain)
    val rows = out.collect()
    assert(rows.length == 129)
    assert(rows.forall(_.getLong(1) == 0L), rows.mkString(","))
    val rounds = TextOps.lastPropagationRounds.get()
    assert(rounds >= 1 && rounds <= 10,
      s"expected ~8 rounds on diameter 128, took $rounds")
    val planNodes = out.queryExecution.optimizedPlan.collect { case p => p }.size
    // each un-checkpointed round adds join+agg layers; 8 jump rounds
    // un-checkpointed exceed 100 nodes — checkpointing every 5 keeps the
    // final plan to the rounds after the last snapshot
    assert(planNodes < 60, s"lineage not truncated: $planNodes plan nodes")
  }

  test("dedupNgram finds a shared 13-token run and counts its grams") {
    // doc 1 and 2 share a 14-token contiguous run -> two distinct 13-grams;
    // doc 3 overlaps only 12 tokens of it -> below K, no pair
    val run = (1 to 14).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta $run"),
      (2L, s"$run gamma delta"),
      (3L, (1 to 12).map(i => s"w$i").mkString(" ") + " other tail words here")
    ).toDF("doc_id", "text")
    val got = TextOps.dedupNgramFrom(TextOps.kgramRowsOf(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2L, 2L)), got.mkString(","))
  }

  test("dedupNgram binding df-cap still reports the full shared-gram count") {
    // with dfCap = 1 every gram shared by the pair is "hot" EXCEPT none —
    // use cap 1 on a 3-doc corpus where one gram appears in all 3 docs
    // (df 3 > cap, dropped from candidates) and one gram only in docs 1+2
    // (df 2 > cap too) -> craft cap 2: the df-3 gram is dropped but the
    // df-2 gram proposes the pair, and verify still counts BOTH grams
    val run = (1 to 14).map(i => s"c$i").mkString(" ")   // grams A (c1..c13), B (c2..c14)
    val docs = Seq(
      (1L, run),                        // has A and B
      (2L, run + " tail"),              // has A and B
      (3L, (1 to 13).map(i => s"c$i").mkString(" "))) // has A only -> df(A)=3
      .toDF("doc_id", "text")
    val got = TextOps.dedupNgramFrom(TextOps.kgramRowsOf(docs), dfCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // pair (1,2) proposed via B (df 2 <= cap); n_shared = 2 (A and B, from
    // the FULL sets at verify time). Pairs (1,3)/(2,3) share only A (df 3 >
    // cap) — dropped from candidates by design.
    assert(got == Seq((1L, 2L, 2L)), got.mkString(","))
  }

  test("dedupNgram fixture pairs are a near-dup signal consistent with jaccard") {
    val ngramPairs = TextOps.dedupNgram(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jacPairs = TextOps.dedupJaccard(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ngramPairs.nonEmpty, "fixture should contain long-run near-dups")
    // long-shared-run pairs overwhelmingly coincide with the planted
    // near-dups; containment-only pairs may add a few, never hundreds
    assert((ngramPairs -- jacPairs).size <= ngramPairs.size / 2,
      s"ngram=${ngramPairs.size} jaccardOverlap=${(ngramPairs & jacPairs).size}")
  }

  test("dedupCanonical keeps exactly one member per cluster, the longest") {
    val out = TextOps.dedupCanonical(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    val total = graft.sources.Tables.load(spark, sf0001, "documents").count()
    assert(out.length == total)
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cl, members) =>
      assert(members.count(_._3) == 1, s"cluster $cl keeps != 1")
      assert(members.forall(_._4 == members.length), s"cluster $cl n_members")
    }
    // at least one real multi-member cluster on the fixture
    assert(byCluster.exists(_._2.length > 1))
    // the kept member maximizes n_chars (ties -> min doc_id)
    val chars = graft.sources.Tables.load(spark, sf0001, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byCluster.values.filter(_.length > 1).foreach { members =>
      val kept = members.find(_._3).get
      val best = members.map(m => (chars(m._1), m._1)).sortBy(t => (-t._1, t._2)).head
      assert(kept._1 == best._2, s"kept ${kept._1}, expected ${best._2}")
    }
  }

  test("corpusMix token shares sum to 1 and cover every document") {
    val rows = TextOps.corpusMix(spark, sf0001).collect()
    val total = graft.sources.Tables.load(spark, sf0001, "documents").count()
    assert(rows.map(_.getLong(2)).sum == total) // n_docs covers the corpus
    val share = rows.map(_.getDouble(4)).sum
    assert(math.abs(share - 1.0) < 0.01, s"shares sum to $share")
  }

  test("lengthDist buckets are exact bit-lengths and cover every document") {
    val rows = TextOps.lengthDist(spark, sf0001).collect()
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
      .select("n_chars").collect().map(_.getLong(0))
    assert(rows.map(_.getLong(1)).sum == docs.length)
    rows.foreach { r =>
      val (b, lo, hi) = (r.getLong(0), r.getLong(2), r.getLong(3))
      assert(64 - java.lang.Long.numberOfLeadingZeros(lo) == b)
      assert(64 - java.lang.Long.numberOfLeadingZeros(hi) == b)
    }
  }

  test("docShards covers all 16 hash shards with no empty or dominant shard") {
    val rows = TextOps.docShards(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val total = graft.sources.Tables.load(spark, sf001, "documents").count()
    assert(rows.map(_._2).sum == total)
    assert(rows.forall { case (s, _) => s >= 0 && s < 16 })
    assert(rows.length == 16, s"only ${rows.length} shards hit at sf0.01")
    // md5 is uniform: no shard should hold more than 4x its fair share
    assert(rows.map(_._2).max <= 4 * total / 16, rows.mkString(","))
  }

  test("token masking: ~3/16 mask rate, bounded audit head, fully deterministic") {
    val rows = graft.ops.TextOps.tokenMask(spark, sf0001).collect()
    assert(rows.nonEmpty)
    val nTok = rows.map(_.getAs[Long]("n_tokens")).sum.toDouble
    val nMask = rows.map(_.getAs[Long]("n_masked")).sum.toDouble
    // md5 digit < 3 of 16 → 18.75% expected; generous band for corpus size
    assert(nMask / nTok > 0.14 && nMask / nTok < 0.24, s"rate ${nMask / nTok}")
    rows.foreach { r =>
      val head = r.getAs[String]("mask_head")
      val entries = if (head.isEmpty) Array.empty[String] else head.split(',')
      assert(entries.length <= graft.ops.TextOps.MaskHeadK)
      assert(entries.length <= r.getAs[Long]("n_masked"))
      // positions ascending, within the doc's token range
      val ps = entries.map(_.toLong)
      assert(ps.sameElements(ps.sorted))
      ps.foreach(p => assert(p >= 1 && p <= r.getAs[Long]("n_tokens")))
    }
    // hash-seeded, not rand(): a second run is bit-identical
    val again = graft.ops.TextOps.tokenMask(spark, sf0001).collect()
    assert(again.toSeq == rows.toSeq)
  }

  test("sortedNeighborhood: pairs ⊆ exact lev-pairs, with measured recall") {
    // Precision is 1 by construction (the emitted lev IS the <= threshold
    // filter), so the content of this test is RECALL. Exact all-pairs
    // Levenshtein over all 500 fixture docs is 124,750 ~300-char pairs
    // (minutes); ground truth is bounded to a deterministic 150-doc prefix
    // (11,175 pairs) and SNM is compared on that same subset.
    val SubsetMax = 150L
    val snmAll = TextOps.sortedNeighborhood(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val snm = snmAll.filter(p => p._1 < SubsetMax && p._2 < SubsetMax).toSet
    val d = graft.sources.Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") < SubsetMax)
      .select(col("doc_id"), lower(col("text")).as("t"))
    val exact = d.as("a")
      .join(d.select(col("doc_id").as("ib"), col("t").as("tb")),
        col("doc_id") < col("ib"))
      .select(col("doc_id"), col("ib"),
        levenshtein(col("t"), col("tb")).cast("long").as("lev"))
      .filter(col("lev") <= TextOps.SnmMaxLev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty, "fixture subset should contain lev-close pairs")
    assert(snm.subsetOf(exact), s"SNM emitted non-pairs: ${snm.diff(exact)}")
    // single-pass single-key SNM: demand most of the truth, not all of it —
    // the known miss is a pair differing inside the 12-char block prefix
    val recall = snm.size.toDouble / exact.size
    assert(recall >= 0.7, s"recall $recall (${snm.size}/${exact.size})")
    assert(snmAll.nonEmpty)
  }

  test("heavyHitters: unsaturated sketch equals the exact twin; saturated stays one-sided") {
    // unsaturated regime (tracked map >> distinct bigrams): the declared
    // form's estimates must be EXACT — identical multiset to ngramTop
    val exact = TextOps.ngramTop(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val sk = TextOps.heavyHitters(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(sk == exact, s"unsaturated sketch diverged: ${sk.take(3)} vs ${exact.take(3)}")
    // saturated regime: track far fewer slots than distinct items. The
    // near-uniform FIXTURE correctly yields NOTHING here (no item is
    // provably frequent — the sketch's no-false-positives guarantee), so
    // saturation is exercised on planted skew: one bigram dominating a
    // long uniform tail must surface with a near-true estimate.
    import spark.implicits._
    val uniformSat = TextOps.heavyHittersOf(
      graft.sources.Tables.load(spark, sf0001, "documents"), 20, 64).collect()
    assert(uniformSat.isEmpty,
      "near-uniform corpus must yield no provably-frequent items when saturated")
    val heavy = (1 to 2000).map(i => (i.toLong, "hot pair")) ++
      (1 to 1000).map(i => (2000L + i, s"cold w$i"))
    val skewed = heavy.toDF("doc_id", "text")
    val sat = TextOps.heavyHittersOf(skewed, 5, 64).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(sat.nonEmpty, "planted heavy hitter not reported")
    val (hotItem, hotEst) = sat.head
    assert(hotItem == "hot pair", s"wrong heavy hitter: $hotItem")
    assert(hotEst >= 2000L && hotEst <= 3000L,
      s"estimate outside [true, true + N_tail]: $hotEst")
  }

  test("sortedNeighborhoodMulti: superset of the single pass, still precision 1") {
    val single = TextOps.sortedNeighborhood(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val multi = TextOps.sortedNeighborhoodMulti(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(single.subsetOf(multi),
      s"suffix pass LOST prefix-pass pairs: ${single.diff(multi)}")
    // precision stays 1 on the bounded subset (every emitted lev IS exact
    // and <= threshold — reuse the single-pass ground-truth construction)
    val SubsetMax = 150L
    val exact = {
      val d = graft.sources.Tables.load(spark, sf0001, "documents")
        .filter(col("doc_id") < SubsetMax)
        .select(col("doc_id"), lower(col("text")).as("t"))
      d.as("a")
        .join(d.select(col("doc_id").as("ib"), col("t").as("tb")),
          col("doc_id") < col("ib"))
        .select(col("doc_id"), col("ib"),
          levenshtein(col("t"), col("tb")).cast("long").as("lev"))
        .filter(col("lev") <= TextOps.SnmMaxLev)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val multiSub = multi.filter(p => p._1 < SubsetMax && p._2 < SubsetMax)
    assert(multiSub.subsetOf(exact), s"multi emitted non-pairs: ${multiSub.diff(exact)}")
    // the second key must BUY recall, not just duplicate the first
    val singleSub = single.filter(p => p._1 < SubsetMax && p._2 < SubsetMax)
    assert(multiSub.size >= singleSub.size)
    assert(multiSub.size.toDouble / exact.size >= 0.7)
  }

  test("sortedNeighborhood plan: ONE window (one sort), not one per offset") {
    // the w lead() offsets must share a single Window operator — a union of
    // per-offset projections would re-sort the corpus w times (guards the
    // round-8 single-pass rewrite against regressing to the union form)
    val df = TextOps.sortedNeighborhood(spark, sf0001)
    val opt = df.queryExecution.optimizedPlan
    val windows = opt.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.size == 1, s"expected 1 Window node, got ${windows.size}")
    assert(windows.head.windowExpressions.size == 2 * TextOps.SnmWindow,
      s"expected ${2 * TextOps.SnmWindow} shared window expressions")
    val unions = opt.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }
    assert(unions.isEmpty, "union of per-offset windows crept back in")
  }

  test("pmiCollocations reconciles with independently-counted grams") {
    val rows = TextOps.pmiCollocations(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 20)
    // sorted by pmi desc (w1/w2 tie-break is the oracle's concern)
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._4 >= b._4
      case _ => true })
    // recompute one pair's pmi from driver-side token counts
    val texts = graft.sources.Tables.load(spark, sf0001, "documents")
      .select("text").collect().map(_.getString(0))
    val toks = texts.map(_.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty))
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bi = toks.flatMap(t => t.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nTok = uni.values.sum
    val nBi = bi.values.sum
    val (w1, w2, cxy, pmi) = rows.head
    assert(cxy == bi((w1, w2)) && cxy >= TextOps.PmiMinCount)
    val want = math.log(cxy.toDouble * nTok * nTok /
      (nBi.toDouble * uni(w1) * uni(w2))) / math.log(2.0)
    assert(math.abs(pmi - want) < 1e-3)
  }

  test("dedupChunks conserves chunk mass and zeroes whole-doc duplicates") {
    val rows = TextOps.dedupChunks(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // chunk-count conservation per doc
    val nChunksOf = docs.map { case (id, t) =>
      id -> (t.toLowerCase.split("[^a-z0-9]+").count(_.nonEmpty) + 9) / 10
    }.toMap
    rows.foreach { case (id, n, dup, _) =>
      assert(n == nChunksOf(id).toLong, s"doc $id chunk count")
      assert(dup >= 0 && dup <= n)
    }
    // near-dup docs share chunks, so SOME chunk-level dedup must fire
    assert(rows.map(_._3).sum > 0, "fixture near-dups should share chunks")
    // whole-doc-duplicate property on a synthetic frame: the copy loses all
    // chunks (md5 of ''), the original keeps all, the half-overlap doc
    // loses exactly its shared half
    import spark.implicits._
    val twenty = (1 to 20).map(i => s"w$i").mkString(" ")
    val half = (11 to 30).map(i => s"w$i").mkString(" ") // 2nd chunk shared
    val synth = Seq((1L, twenty), (2L, twenty), (3L, half))
      .toDF("doc_id", "text")
    val got = TextOps.dedupChunksFrom(synth).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(_._1)
    val emptyMd5 = org.apache.commons.codec.digest.DigestUtils.md5Hex("")
    assert(got(0) == (1L, 2L, 0L,
      org.apache.commons.codec.digest.DigestUtils.md5Hex(twenty)))
    assert(got(1) == (2L, 2L, 2L, emptyMd5))
    // doc 3: chunk "w11..w20" duplicates doc 1's 2nd chunk; "w21..w30" kept
    assert(got(2) == (3L, 2L, 1L,
      org.apache.commons.codec.digest.DigestUtils.md5Hex(
        (21 to 30).map(i => s"w$i").mkString(" "))))
  }

  test("lmPerplexity: one row per multi-token doc, n_bigrams = tokens-1, ppl = 2^-avg_lp") {
    val rows = TextOps.lmPerplexity(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // docs with >= 2 tokens each contribute exactly (tokens - 1) bigram
    // occurrences; shorter docs drop out entirely
    val tokCounts = graft.sources.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val expected = tokCounts.filter(_._2 >= 2)
    assert(rows.length == expected.size)
    rows.foreach { case (id, nBi, avgLp, ppl) =>
      assert(nBi == expected(id) - 1L, s"doc $id")
      // add-one smoothed probabilities are true probabilities < 1
      assert(avgLp < 0.0 && ppl > 1.0, s"doc $id: avg_lp=$avgLp ppl=$ppl")
      // the two reported forms are the same number (both 4-dp rounded)
      assert(math.abs(ppl - math.pow(2.0, -avgLp)) <= 0.01 * ppl,
        s"doc $id: ppl=$ppl vs 2^-avg_lp=${math.pow(2.0, -avgLp)}")
    }
  }

  test("leakageSplit: no dup cluster spans splits, totals reconcile") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    val tagged = docs
      .join(graft.ops.TextOps.dupClusters(spark, sf0001), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("rep"))
      .withColumn("split",
        when(col("rep") % 10 < 8, "train")
          .when(col("rep") % 10 === 8, "val").otherwise("test"))
    // the leakage guarantee, checked at doc level: every group -> ONE split
    val spanning = tagged.groupBy("rep")
      .agg(countDistinct("split").as("k")).filter(col("k") > 1).count()
    assert(spanning == 0L)
    // a clustered doc follows its REP's split, not its own id residue
    val moved = tagged.filter(col("rep") =!= col("doc_id")).collect()
    assert(moved.nonEmpty, "fixture should have at least one near-dup cluster")
    moved.foreach { r =>
      val own = r.getLong(0) % 10
      val rep = r.getLong(1) % 10
      val split = r.getString(2)
      val expected = if (rep < 8) "train" else if (rep == 8) "val" else "test"
      assert(split == expected, s"doc ${r.getLong(0)}: split $split rep residue $rep own $own")
    }
    // declared aggregate reconciles with the corpus
    val out = graft.ops.TextOps.leakageSplit(spark, sf0001).collect()
    assert(out.map(_.getLong(1)).sum == docs.count())
    assert(out.map(_.getString(0)).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("dfUpdate/dfDowndate: the standing lexical store merges and downdates to the exact recompute; zero-count tokens leave the store") {
    import org.apache.spark.sql.functions._
    // exact contract: integer counts over doc-disjoint partitions are
    // additive, so the maintained store equals the recompute EXACTLY
    def recompute(pred: org.apache.spark.sql.Column) =
      graft.sources.Tables.load(spark, sf0001, "documents").filter(pred)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("tok")
        .agg(countDistinct("doc_id").as("df"), count(lit(1)).as("tf"))
        .orderBy("tok").collect().map(_.toSeq).toSeq
    val upd = TextOps.dfUpdate(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(upd.nonEmpty)
    assert(upd == recompute(lit(true)), "update diverged from the full recompute")
    val dwn = TextOps.dfDowndate(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(dwn == recompute(col("doc_id") % 10 =!= 0),
      "downdate diverged from the remaining-corpus recompute")
    // planted vanish-at-zero: a token living ONLY in the removed batch
    // must leave the store (the fixture vocabulary spans both halves, so
    // this branch needs a planted frame)
    val standing = Seq(("alpha", 3L, 7L), ("ghost", 2L, 2L))
      .toDF("tok", "df", "tf")
    val batch = Seq(("ghost", 2L, 2L), ("beta", 1L, 1L)).toDF("tok", "df", "tf")
    val out = TextOps.lexMerge(standing, batch, negate = true)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq(("alpha", 3L, 7L)),
      s"ghost token must vanish and beta must not appear negated: $out")
    val added = TextOps.lexMerge(standing, batch, negate = false)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(added == Seq(("alpha", 3L, 7L), ("beta", 1L, 1L), ("ghost", 4L, 4L)))
  }

  test("postingsUpdate/postingsDowndate: per-document postings maintain by pure append/delete to the exact recompute, and the maintained table equals the artifact the index-served rung probes") {
    import org.apache.spark.sql.functions._
    def recompute(pred: org.apache.spark.sql.Column) =
      graft.sources.Tables.load(spark, sf0001, "documents").filter(pred)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .orderBy("doc_id", "tok").collect().map(_.toSeq).toSeq
    // ingest: standing corpus partition + batch rows = the full recompute
    val upd = TextOps.postingsUpdate(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(upd.nonEmpty)
    assert(upd == recompute(lit(true)),
      "postings update diverged from the full recompute")
    // the maintenance proof the index-served rung rests on (r16 verdict
    // #3): the maintained table's content IS the full postings artifact
    // bm25Index/tfidfIndex probe — maintenance and serving share state
    val art = TextOps.postingsArtifact(spark, sf0001)
      .orderBy("doc_id", "tok").collect().map(_.toSeq).toSeq
    assert(upd == art, "maintained postings != the artifact serving probes")
    // append-only: the standing partition's rows appear in the update
    // VERBATIM — not one surviving row was rewritten or merged
    val standing = TextOps.postingsPartArtifact(spark, sf0001)
      .orderBy("doc_id", "tok").collect().map(_.toSeq).toSeq
    assert(upd.filter(r => r.head.asInstanceOf[Long] % 10 != 0) == standing,
      "the update rewrote standing corpus-partition rows")
    // erasure: anti-join delete = the remaining-corpus recompute, and
    // every surviving row is the artifact's row verbatim
    val dwn = TextOps.postingsDowndate(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(dwn == recompute(col("doc_id") % 10 =!= 0),
      "postings downdate diverged from the remaining-corpus recompute")
    assert(dwn == art.filter(r => r.head.asInstanceOf[Long] % 10 != 0),
      "the downdate changed surviving rows")
  }

  test("bm25Store/tfidfStore: serving from the maintained lexical artifact is bit-identical to the in-query recount, and actually reads the store") {
    // bit-identity: the maintained store's exact Long counts equal the
    // recompute (the test above), and the scoring body is SHARED
    // (bm25From/tfidfFrom), so the store-backed results may not differ in
    // a single bit — this is what lets the q_bm25/q_tfidf oracles
    // transfer verbatim
    val bmRecount = TextOps.bm25(spark, sf0001).collect().map(_.toSeq).toSeq
    val bmStore = TextOps.bm25Store(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(bmRecount.nonEmpty)
    assert(bmStore == bmRecount, "bm25Store diverged from the recount form")
    val tfRecount = TextOps.tfidf(spark, sf0001).collect().map(_.toSeq).toSeq
    val tfStore = TextOps.tfidfStore(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(tfStore == tfRecount, "tfidfStore diverged from the recount form")
    // load-bearing check: the serving plan scans the artifact lexMerge
    // emitted (maintenance and serving share ONE store), while the
    // recount form does not touch it — the two forms genuinely differ in
    // input, not just in name
    def scansStore(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString.contains("graft_lex_df_maint_")
    assert(scansStore(TextOps.bm25Store(spark, sf0001)),
      "bm25Store's plan does not scan the maintained lexical artifact")
    assert(scansStore(TextOps.tfidfStore(spark, sf0001)),
      "tfidfStore's plan does not scan the maintained lexical artifact")
    assert(!scansStore(TextOps.bm25(spark, sf0001)),
      "the recount bm25 unexpectedly reads the store")
    // shared state: what the serving queries read IS dfUpdate's output
    val maint = TextOps.lexMaintainedArtifact(spark, sf0001)
      .orderBy("tok").collect().map(_.toSeq).toSeq
    val upd2 = TextOps.dfUpdate(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(maint == upd2, "maintained artifact != the lexMerge output it stages")
  }

  test("bm25Index/tfidfIndex: serving entirely from standing state is bit-identical to the recount, with ZERO corpus scans in the plan") {
    // bit-identity: every relation the index-served forms read (postings
    // tf, store df, derived lengths, staged n_docs) holds exact values
    // equal to the recount's, and the scoring tails are shared
    val bmWant = TextOps.bm25(spark, sf0001).collect().map(_.toSeq).toSeq
    val bmGot = TextOps.bm25Index(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(bmGot == bmWant, "bm25Index diverged from the recount form")
    val tfWant = TextOps.tfidf(spark, sf0001).collect().map(_.toSeq).toSeq
    val tfGot = TextOps.tfidfIndex(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(tfGot == tfWant, "tfidfIndex diverged from the recount form")
    // the zero-corpus-scan contract: the serving plans read ONLY standing
    // artifacts — never the documents table (at 100 TB a per-query corpus
    // scan is not a cost but an impossibility; this assertion is what
    // makes the claim structural instead of narrative)
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    Seq(TextOps.bm25Index(spark, sf0001) -> "bm25Index",
        TextOps.tfidfIndex(spark, sf0001) -> "tfidfIndex").foreach {
      case (df, name) =>
        val p = plan(df)
        assert(p.contains("graft_lex_postings_"),
          s"$name does not read the postings artifact")
        assert(!p.contains("documents.parquet"),
          s"$name still scans the documents table")
    }
    // the stronger r17 contract for the BM25 rung (r16 verdict #1): no
    // corpus-sized per-query AGGREGATE either — doc lengths probe the
    // staged lex_doclen_ artifact, corpus stats broadcast the staged
    // 1-row lex_stats_ artifact, and the ONLY postings scan is the
    // tok-filtered tf probe (the pushed In(tok, ...) filter is what makes
    // it a term-bucket lookup at scale, never an unfiltered pass)
    locally {
      val qe = TextOps.bm25Index(spark, sf0001).queryExecution
      val p = qe.executedPlan.toString
      assert(p.contains("graft_lex_doclen_"),
        "bm25Index does not probe the staged doc-length artifact")
      assert(p.contains("graft_lex_stats_"),
        "bm25Index does not broadcast the staged corpus-stats artifact")
      // sparkPlan, not executedPlan: AQE wraps the latter and hides scan
      // nodes from collect until execution
      val postingsScans = qe.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(
              _.toString.contains("graft_lex_postings_")) => f
      }
      assert(postingsScans.nonEmpty, "no postings scan found to check")
      postingsScans.foreach { f =>
        assert(f.metadata.get("PushedFilters").exists(_.contains("In(tok")),
          s"a postings scan is NOT tok-filtered (an unfiltered corpus-sized " +
            s"read survives in the serving path): ${f.metadata.get("PushedFilters")}")
      }
    }
    // the derived doc-length relation really is lossless: sum(tf) per doc
    // off the postings equals the token count per doc off the corpus
    val fromPost = TextOps.postingsArtifact(spark, sf0001)
      .groupBy("doc_id").agg(sum("tf").as("len"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val fromScan = graft.sources.Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("doc_id").agg(count(lit(1)).as("len"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(fromPost == fromScan, "postings-derived doc lengths diverged")
  }

  test("postingsLifecycle: the per-document maintenance mechanism converges bit-for-bit with the aggregate-store lifecycle, serving from standing artifacts") {
    import org.apache.spark.sql.functions._
    // the cross-mechanism identity: lexLifecycle maintains by Long MERGE
    // and serves by recount over the live corpus; postingsLifecycle
    // maintains by per-document APPEND/DELETE + counter arithmetic and
    // serves from the maintained artifacts — same splits, same scoring
    // spelling, so the outputs may not differ in a single bit (which is
    // why ONE oracle SQL covers both declared queries)
    val agg = TextOps.lexLifecycle(spark, sf0001).collect().map(_.toSeq).toSeq
    val doc = TextOps.postingsLifecycle(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(doc.nonEmpty)
    assert(doc == agg, "per-document lifecycle diverged from the aggregate-store lifecycle")
    // the serving inputs really are the maintained standing artifacts
    val p = TextOps.postingsLifecycle(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_lex_postings_part_") &&
      p.contains("graft_lex_doclen_part_") && p.contains("graft_lex_stats_part_"),
      "postingsLifecycle does not read the maintained per-document artifacts")
    // counter exactness in ISOLATION (not just through the score): the
    // maintained (n_docs, avg_len) — standing Longs + batch sums − erased
    // sums, divided once at serve time — must equal the live-corpus
    // recompute's Average bit-for-bit (same exact integers, same IEEE
    // division), and the maintained relations must equal the recomputed
    // ones row-for-row
    val ch = TextOps.postingsChain(spark, sf0001)
    val live = graft.sources.Tables.load(spark, sf0001, "documents")
      .filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("doc_id").agg(count(lit(1)).as("len"))
    val wantStats = live
      .agg(count(lit(1)).cast("double").as("n_docs"), avg("len").as("avg_len"))
      .collect().head.toSeq
    val gotStats = ch.stats2.collect().head.toSeq
    assert(gotStats == wantStats,
      s"maintained counters diverged from the recompute: $gotStats != $wantStats")
    val wantLens = live.orderBy("doc_id").collect().map(_.toSeq).toSeq
    val gotLens = ch.dl2.orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(gotLens == wantLens, "maintained doc lengths diverged from the recompute")
  }

  test("tfidfLifecycle: maintained-input TF-IDF is bit-identical to the live-corpus recount (cross-mechanism identity, TF-IDF spelling)") {
    import org.apache.spark.sql.functions._
    // the r17 verdict-#3 rung: tf from the maintained postings (p2), df
    // from the maintained aggregate store (l2), n_docs from the
    // maintained all-docs counter — two maintenance mechanisms plus
    // counter arithmetic converging on the SAME scoring tail must not
    // differ in a single bit from the post-erasure recount, which is why
    // the q_tfidf oracle over the live corpus transfers verbatim
    val got = TextOps.tfidfLifecycle(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(got.nonEmpty)
    val want = TextOps.tfidfFrom(spark, sf0001, None,
        corpusPred = Some(col("doc_id") % 7 =!= 3))
      .collect().map(_.toSeq).toSeq
    assert(got == want, "maintained TF-IDF diverged from the live-corpus recount")
    // the serving inputs really are the maintained standing artifacts:
    // partition postings (tf), the standing lexical store behind lexChain
    // (df), and the all-docs counter
    val p = TextOps.tfidfLifecycle(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(p.contains("graft_lex_postings_part_") &&
      p.contains("graft_lex_ndocs_part_") && p.contains("graft_lex_df_"),
      "tfidfLifecycle does not read the maintained artifacts")
  }

  test("lexLifecycle: the post-maintenance BM25 is bit-identical to the recount over the post-erasure corpus; chain sums and audit reconcile") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.load(spark, sf0001, "documents")
    // 1) the post-INGEST table equals the standing full-corpus store
    // exactly (Long addition over doc-disjoint splits is associative)
    val ch = TextOps.lexChain(spark, sf0001)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("tok").collect().map(_.toSeq).toSeq
    assert(rows(ch.l1) == rows(TextOps.dfUpdate(spark, sf0001)),
      "post-ingest lexical table != the full-corpus store")
    // 2) the post-ERASURE table equals the remaining-corpus recompute
    val rec = TextOps.lexCounts(docs.filter(col("doc_id") % 7 =!= 3))
    assert(rows(ch.l2) == rows(rec),
      "post-erasure lexical table != the remaining-corpus recompute")
    // 3) composition identity: serving from the maintained post-erasure
    // store equals the recount form over the same filtered corpus
    // bit-for-bit (shared scoring body + exact Long counts)
    val declared = TextOps.lexLifecycle(spark, sf0001).collect()
    assert(declared.nonEmpty)
    val gotScores = declared.map(r => (r.getLong(0),
      java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).toSeq
    val want = TextOps.bm25From(spark, sf0001, None, Some(col("doc_id") % 7 =!= 3))
      .collect().map(r => (r.getLong(0),
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))).toSeq
    assert(gotScores == want,
      "lifecycle BM25 diverged from the filtered-corpus recount")
    // 4) audit reconciliation, constant across rows
    val nIngest = docs.filter(col("doc_id") % 10 === 0).count()
    val nErased = docs.filter(col("doc_id") % 7 === 3).count()
    val (ns, ni, nl) = (declared.head.getAs[Long]("n_standing"),
      declared.head.getAs[Long]("n_after_ingest"), declared.head.getAs[Long]("n_live"))
    assert(ni == ns + nIngest, s"ingest audit: $ns + $nIngest != $ni")
    assert(nl == ni - nErased, s"erasure audit: $ni - $nErased != $nl")
    assert(declared.forall(r => r.getAs[Long]("n_standing") == ns &&
      r.getAs[Long]("n_after_ingest") == ni && r.getAs[Long]("n_live") == nl))
  }
}
