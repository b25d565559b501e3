package graft

/** One-command scale sweep: replay the FULL battery against the
  * DuckDB oracle at a larger scale factor than the per-round
  * correctness gate runs at. Exact-replay oracles can silently narrow
  * with scale — the round-10 sweep caught a Space-Saving sketch whose
  * exact regime (distinct keys < m) held at sf0.01 and broke at
  * sf0.1 — so this is a round-end checklist item, not a one-off:
  *
  * {{{
  *   sbt "runMain graft.VerifyAtSf"              # sf0.1, scale_check.json
  *   sbt "runMain graft.VerifyAtSf /root/testdata/sf0.1 /tmp/sweep out.json"
  * }}}
  *
  * Runs the [[Verify]] dump at the target SF, then execs the
  * committed `scripts/oracle_compare.py` (DuckDB/pandas are
  * driver-side python in this environment — verification tooling, not
  * an engine dependency) to hash-compare every oracle-backed entry
  * and write a SCALE_CHECK-style JSON report. Exits nonzero on any
  * dump failure, row-check violation, or hash mismatch. */
object VerifyAtSf {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-scale-sweep").toString)
    val report = args.lift(2).getOrElse("scale_check.json")
    val spark = Harness.session(32)
    // optional 4th+ args: restrict the sweep to a named entry subset
    // (used by the self-generated 10× regime sweep, where only the
    // scale-sensitive entries are re-checked)
    val only = if (args.length > 3) Some(args.drop(3).toSet) else None
    val failed = Verify.run(spark, sfDir, outDir, only)
    spark.stop()
    failed.sorted.foreach(n => System.err.println(s"[scale-sweep] dump FAILED: $n"))
    val script = java.nio.file.Paths.get("scripts/oracle_compare.py")
    require(java.nio.file.Files.exists(script),
      s"missing $script — run from the repo root")
    val exit = new ProcessBuilder(
      "python3", script.toString, sfDir, outDir, report)
      .inheritIO().start().waitFor()
    if (failed.nonEmpty || exit != 0) sys.exit(1)
  }
}
