package graft

/** Measure the sidecar threshold top-k in BOTH of its cost-gate
  * regimes (round-14, VERDICT item 2): the gate
  * (`spark.graft.topk.threshold = auto`) routes ORDER BY + LIMIT to
  * the threshold path only when the dictionary would NOT broadcast —
  * at the driver SFs the dict always broadcasts, so until now the
  * machinery's target regime was plan-asserted, never timed. This
  * main times the threshold (`always`) and plain (`never`) paths
  * under a forced-broadcast dict (512m threshold) and a
  * forced-shuffle dict (-1), 3 passes each with calibration probes,
  * asserts `auto` picks the measured-cheaper side in each regime,
  * and prints one JSON line (committed as TOPK_REGIME_r14.json).
  *
  * Usage: runMain graft.TopKRegime <sfDir (the 10x gen corpus)>
  */
object TopKRegime {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Harness.session(32)
    import Harness.medianOf

    // the battery's dict store quads (customer + nation/region) over
    // the given corpus, disk-cached like the SparkEntry fixture
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_topkregime_" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + "_v6"
    val store =
      if (new java.io.File(s"$path/quads/_SUCCESS").exists())
        graft.io.DictStore.load(spark, path)
      else {
        val c = graft.sources.TpchQuads.customer(spark, dir)
        val nr = graft.sources.TpchQuads.nation(spark, dir)
          .union(graft.sources.TpchQuads.region(spark, dir))
        graft.io.DictStore.encode(c.union(nr), path)
      }
    val dictBytes = store.dict.queryExecution.optimizedPlan.stats.sizeInBytes

    val prologue = "PREFIX : <urn:p:>\n"
    // (name, sparql, scan count of the base block — the structural
    // half of the auto gate: multi-scan blocks pay their join twice
    // in phase 1, so auto keeps them on the plain path)
    val queries = Seq(
      ("single_key",
        """SELECT ?bal
          |{ ?c :acctbal ?bal FILTER(?bal > 3000) }
          |ORDER BY DESC(?bal) LIMIT 25""".stripMargin, 1),
      ("multi_key_decode",
        """SELECT ?cname ?bal
          |{ ?c :cname ?cname . ?c :acctbal ?bal }
          |ORDER BY DESC(?bal) ?cname LIMIT 10""".stripMargin, 2))

    // (regime name, autoBroadcastJoinThreshold value)
    val regimes = Seq("broadcast" -> "512m", "shuffle" -> "-1")
    val calibBefore = Harness.calibrate(spark)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val autoPicks = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for ((regime, bt) <- regimes) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bt)
      val btBytes = spark.sessionState.conf.autoBroadcastJoinThreshold
      val nonBroadcast = btBytes <= 0 || dictBytes > BigInt(btBytes)
      for ((qn, q, scans) <- queries) {
        // what auto routes to: non-broadcastable dict AND single scan
        autoPicks(s"$regime.$qn") =
          if (nonBroadcast && scans == 1) "always" else "never"
        for (mode <- Seq("always", "never")) {
          spark.conf.set("spark.graft.topk.threshold", mode)
          // untimed warm pass (codegen, footers)
          Harness.exec(store.sparql(prologue + q))
          val t = medianOf((1 to 3).map { _ =>
            Harness.seconds(Harness.exec(store.sparql(prologue + q)))
          })
          results(s"$regime.$qn.$mode") = math.rint(t * 1000) / 1000
        }
      }
      spark.conf.unset("spark.graft.topk.threshold")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    val calibAfter = Harness.calibrate(spark)

    // the gate is correct when auto's pick is not slower than the
    // alternative in its regime (ties are fine — both plans cut
    // before any heavy work at this selectivity)
    val verdicts = (for ((regime, _) <- regimes; (qn, _, _) <- queries) yield {
      val pick = autoPicks(s"$regime.$qn")
      val other = if (pick == "always") "never" else "always"
      val ok = results(s"$regime.$qn.$pick") <=
        results(s"$regime.$qn.$other") * 1.15 // noise guard
      s""""$regime.$qn": {"auto_picks": "$pick", "picked_s": ${results(
        s"$regime.$qn.$pick")}, "other_s": ${results(
        s"$regime.$qn.$other")}, "auto_not_slower": $ok}"""
    }).mkString(", ")

    val cells = results.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    println(s"""{"metric": "topk_regime", "sf_dir": "$dir", """ +
      s""""dict_stats_bytes": $dictBytes, """ +
      s""""calib_before": ${math.rint(calibBefore * 1000) / 1000}, """ +
      s""""calib_after": ${math.rint(calibAfter * 1000) / 1000}, """ +
      s""""cells": {$cells}, "verdicts": {$verdicts}}""")
    spark.stop()
  }
}
