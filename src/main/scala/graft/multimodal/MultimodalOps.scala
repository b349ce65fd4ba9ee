package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.Artifacts.PersistSyntax._

/** A decoded media asset's typed metadata. The decode itself is STUBBED —
  * no image/audio codecs exist in this environment — but deterministic, so
  * every Spark-side concern a 100 TB multimodal pipeline has (schema, binary
  * columns, partition-wise batching, feature vectors) is real and testable. */
case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
                     width: Int, height: Int, n_frames: Int)

/** A fixed-width feature vector extracted from a media asset. */
case class MediaFeatures(media_id: Long, features: Array[Float])

/** Multimodal-column operators (north-star scope): image/audio/video as
  * opaque `binary` columns + typed metadata, processed partition-wise.
  *
  * Shape notes for 100 TB: binary payloads stay OFF the shuffle — every
  * transform here is map-only (`mapPartitions`) over the scan; only compact
  * metadata/feature rows ever move. Batch iteration per partition mirrors
  * the Arrow-batch contract of `mapInPandas`: one JVM-side pass, no per-row
  * task overhead, codec handles (here: the stub) initialized once per
  * partition, not per row.
  */
object MultimodalOps {

  /** Harness stand-in for a media table: `documents.text` bytes as the opaque
    * binary payload (the engine never looks inside — exactly the contract an
    * image/video column has), with a media kind assigned per id. */
  def mediaTable(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(
        col("doc_id").as("media_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3).cast("int") + 1).as("kind"),
        col("text").cast("binary").as("content"))

  /** STUB decoder — stands in for an image/audio codec. Deterministic
    * function of the payload bytes only. A real deployment swaps this one
    * function for e.g. a JNI codec; nothing else changes. */
  private[multimodal] def decodeStub(kind: String, content: Array[Byte]): (Int, Int, Int) = {
    // ??? real codec goes here; deterministic fake derived from the payload:
    val h = content.foldLeft(1125899906842597L)((acc, b) => 31 * acc + b)
    val w = 16 + math.floorMod(h, 240).toInt
    val ht = 16 + math.floorMod(h >> 8, 240).toInt
    val frames = if (kind == "image") 1 else 1 + math.floorMod(h >> 16, 300).toInt
    (w, ht, frames)
  }

  /** Decode → typed metadata, one partition-wise pass (no shuffle). */
  def decodeMeta(spark: SparkSession, sf: String): Dataset[MediaMeta] = {
    import spark.implicits._
    mediaTable(spark, sf).select("media_id", "kind", "content")
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition (not per-row) setup — where a real codec would init
        rows.map { case (id, kind, content) =>
          val (w, h, f) = decodeStub(kind, content)
          MediaMeta(id, kind, content.length.toLong, w, h, f)
        }
      }
  }

  /** Raw 64-bin byte histogram per asset (integer counts) — the un-normalized
    * core of [[extractFeatures]], and the form [[mediaDedup]] computes cosine
    * over: cosine is scale-invariant, and with INTEGER counts every dot
    * product and squared norm is an exact integer in double arithmetic, so
    * the similarity is bit-identical regardless of engine or summation
    * order (what makes the composed query DuckDB-oracle-able). */
  def byteHistogram(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sf).select("media_id", "content")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, content) =>
          val hist = new Array[Long](64)
          var i = 0
          while (i < content.length) { hist((content(i) & 0xFF) >> 2) += 1L; i += 1 }
          (id, hist)
        }
      }
      .toDF("media_id", "hist")
  }

  /** Feature extraction: 64-bin byte histogram, L1-normalized — the stub for
    * "embed this image". Output is the same `Array[Float]` shape the
    * embeddings table carries, so VectorOps (cosine/ANN) compose directly. */
  def extractFeatures(spark: SparkSession, sf: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, sf).select("media_id", "content")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, content) =>
          val hist = new Array[Float](64)
          var i = 0
          while (i < content.length) { hist((content(i) & 0xFF) >> 2) += 1f; i += 1 }
          val n = math.max(1, content.length).toFloat
          var j = 0
          while (j < 64) { hist(j) /= n; j += 1 }
          MediaFeatures(id, hist)
        }
      }
  }

  /** Frame sampling: every `stride`-th fixed-size block of the payload as a
    * "frame" (video decode stub). Emits (media_id, frame_no, frame) — the
    * fan-out stays map-side; frames of one asset never leave their partition
    * until a downstream op asks for a shuffle. */
  def sampleFrames(spark: SparkSession, sf: String, frameBytes: Int = 256,
                   stride: Int = 4): DataFrame = {
    import spark.implicits._
    mediaTable(spark, sf).filter(col("kind") === "video")
      .select("media_id", "content")
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, content) =>
          content.grouped(frameBytes).zipWithIndex
            .collect { case (frame, no) if no % stride == 0 => (id, no.toLong, frame) }
        }
      }
      .toDF("media_id", "frame_no", "frame")
  }

  /** Declared query: payload-size stats per media kind, computed through the
    * decode path. Only codec-independent columns (count, byte sizes) are
    * emitted so the DuckDB oracle can reproduce them; the stub-decoded
    * dims/frames are covered by unit tests (no oracle can re-run the stub). */
  def mediaMeta(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    decodeMeta(spark, sf).toDF()
      .groupBy("kind")
      .agg(
        count(lit(1)).as("n"),
        sum("n_bytes").as("total_bytes"))
      .orderBy("kind")
  }

  /** Near-duplicate threshold for [[mediaDedup]]. Byte histograms of same-
    * alphabet text are ALL similar (fixture median pair cosine ≈ 0.985), so
    * the dup cut sits far into the tail — 0.9995 isolates the genuinely
    * near-identical payloads. */
  val MediaDupCos = 0.9995

  /** Declared composed query (multimodal → similarity search): embed every
    * media asset with the stub featurizer ([[byteHistogram]], the integer
    * form of [[extractFeatures]]) and report near-duplicate ASSET pairs by
    * exact cosine ≥ [[MediaDupCos]] — the end-to-end "find duplicate
    * images/videos in the corpus" pipeline. Exact all-pairs over the
    * broadcast-sized media catalog is the oracle-checkable baseline; at
    * 100 TB the same feature column feeds the banded LSH candidate path
    * (VectorOps.dedupCosineLsh / annLsh) — MultimodalSpec asserts that
    * composition recovers the exact pairs. Cosine runs over integer counts
    * (scale-invariant, bit-deterministic — see [[byteHistogram]]) in the
    * native codegen'd expression. */
  /** The declared 100 TB path for [[mediaDedup]]: the SAME stub features,
    * but candidates come from a sign-LSH band equi-join (VectorOps.
    * bandBuckets — 8 bands × 2 hyperplanes) instead of all pairs, then the
    * survivors are exact-verified with the identical cosine ≥
    * [[MediaDupCos]] predicate. Precision is 1 by construction (verify
    * recomputes the true cosine), so the output is always a subset of
    * [[mediaDedup]]'s with ~0.99+ expected recall at this threshold —
    * declared no-oracle with a subset + recall test against the oracled
    * exact twin (MultimodalSpec), the same contract as
    * VectorOps.dedupCosineLsh. Honest scale note: byte histograms of
    * same-alphabet text are ALL similar (fixture median pair cosine ≈
    * 0.985), so banding prunes little HERE — the pruning factor is a
    * property of corpus diversity (real mixed-media features spread over
    * the sphere), while the plan shape (rows × bands shuffle + candidate
    * equi-join, never O(n²)) is what this query pins down. */
  def mediaDedupLsh(spark: SparkSession, sf: String): DataFrame = {
    import graft.ops.VectorOps
    val raw = VectorOps.cosine(col("va"), col("vb"))
    val feats = byteHistogram(spark, sf)
      .select(col("media_id"), transform(col("hist"), _.cast("double")).as("v"))
      // EXPLICIT width: AQE would coalesce the ~MB exchange back to one
      // task, serializing the featurize + banding pass (byte-based sizing
      // is blind to downstream compute)
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("media_id"))
      .persistOnce() // feeds the banding and BOTH verify re-attach joins
    val (buckets, bandsPerFeat) = VectorOps.bandBuckets(col("v"))
    val banded = feats
      .select(col("media_id"), posexplode(buckets).as(Seq("band", "bucket")))
      .persistOnce() // both sides of the candidate self-join; stream side
                     // inherits feats' explicit machine-wide spread
    // broadcast() GUARDED on the build side (1-row probe on the persisted
    // feats — the VectorOps.dedupCosineLshFrom / GraphOps.broadcastMaxEdges
    // pattern): below the cap the hint is load-bearing — hashing on
    // (band, bucket) would skew (~bands×2^bits distinct values) and a
    // sort-merge join would buffer giant equal-key runs, so broadcast-hash
    // keeps pair generation map-side over the spread stream side; past the
    // cap the banded relation no longer fits executor memory and the hint
    // must drop to a shuffle join rather than pin an OOM (ADVICE r19)
    val nFeats = feats.count()
    val cap = spark.conf.getOption(VectorOps.VectorBroadcastMaxRowsKey)
      .map(_.toLong).getOrElse(VectorOps.VectorBroadcastMaxRows)
    val maybeBc: DataFrame => DataFrame =
      if (nFeats * bandsPerFeat <= cap) broadcast else identity
    val cands = banded.as("a")
      .join(maybeBc(banded.select(col("media_id").as("ib"), col("band"), col("bucket"))),
        Seq("band", "bucket"))
      .filter(col("media_id") < col("ib"))
      .select(col("media_id").as("id_a"), col("ib").as("id_b"))
      .distinct()
    cands
      // same guard on the cached feature table (node-sized, not banded):
      // below the cap the hint stops AQE runtime-flipping these joins to
      // broadcast the (measured-tiny) candidate side, whose broadcast
      // future re-runs the whole quadratic pair-generation subplan instead
      // of reusing its shuffle output
      .join(maybeBc(feats.select(col("media_id").as("id_a"), col("v").as("va"))), Seq("id_a"))
      .join(maybeBc(feats.select(col("media_id").as("id_b"), col("v").as("vb"))), Seq("id_b"))
      // same rounded-threshold discipline as mediaDedup: prefilter on the
      // raw codegen'd cosine with a full rounding step of slack, round only
      // the survivors
      .filter(raw >= MediaDupCos - 1e-4)
      .select(col("id_a"), col("id_b"), round(raw, 4).as("cos"))
      .filter(col("cos") >= MediaDupCos)
      // persist the (tiny) verified pair set before the global sort: the
      // range exchange's bound-sampling pass executes its child once and
      // the sort pass executes it again — without this shield the whole
      // quadratic candidate subtree runs TWICE per query (measured: the
      // pair-generation stage is ~23 s of the query's CPU, duplicated)
      .persistOnce()
      .orderBy("id_a", "id_b")
  }

  def mediaDedup(spark: SparkSession, sf: String): DataFrame = {
    val raw = graft.ops.VectorOps.cosine(col("v"), col("vb"))
    val feats = byteHistogram(spark, sf)
      .select(col("media_id"), transform(col("hist"), _.cast("double")).as("v"))
      // the catalog parquet scan yields 1-2 partitions at bench scale, which
      // would serialize the O(n²) compare loop on 2 cores — spread the
      // stream side so the broadcast NLJ uses the whole machine. EXPLICIT
      // count: AQE's byte-based coalescing would fold the ~MB exchange back
      // to one task, re-serializing the pair loop it exists to spread
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("media_id"))
      .persistOnce() // one featurize pass feeds both join sides
    feats.as("a")
      .join(broadcast(feats.select(col("media_id").as("ib"), col("v").as("vb"))),
        col("media_id") < col("ib"))
      // prefilter on the RAW cosine (pure codegen'd arithmetic) so the
      // BigDecimal-allocating round() runs on the handful of survivors, not
      // every candidate pair; a full 1e-4 of slack (2x the rounding step)
      // keeps every x that could still satisfy round(x,4) >= threshold
      .filter(raw >= MediaDupCos - 1e-4)
      .select(col("media_id").as("id_a"), col("ib").as("id_b"),
        round(raw, 4).as("cos"))
      .filter(col("cos") >= MediaDupCos)
      .orderBy("id_a", "id_b")
  }
}
