package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session factory and timing kit shared by every main
  * ([[Bench]], [[Verify]], [[VerifyAtSf]], [[GenScale]], [[PlanAudit]],
  * [[SemanticDrift]], [[AnnRecall]], [[TopKRegime]], [[Probe]]), so a
  * plan or timing captured by one is the plan the bench runs. */
object Harness {

  /** The session conf for `cpus` local cores: shuffle partitions equal
    * to the core count, UTC, TIMESTAMP(NANOS) parquet columns read as
    * longs, UI off. */
  def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  /** A session on `SPARK_GRAFT_CPUS` cores, else the calling main's
    * `defaultCpus`. */
  def session(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(defaultCpus)
    val spark = settings(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Wall seconds of `body`. */
  def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Materialize EVERY output column into the noop sink (count() would
    * let Catalyst prune the computed columns away and under-measure). */
  def exec(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Fixed calibration probe: engine-independent arithmetic over an
    * in-memory range — no IO, no shuffle, byte-identical work every
    * round, so its median wall time (of 3) moves ONLY with host
    * contention (quiet host ≈ 0.10 s at 32 cores). */
  def calibrate(spark: SparkSession): Double = medianOf((1 to 3).map { _ =>
    seconds(spark.range(0, 50000000L, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("sum(id * 2 + 1)").collect())
  })
}
