package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up generator for the driver's TESTDATA layout:
  * `runMain graft.GenScale <srcSfDir> <outDir> [factor]` reads the
  * driver-generated tables and writes a `factor`× corpus with the same
  * schemas and single-file-per-table layout, so `graft.VerifyAtSf` and
  * `scripts/oracle_compare.py` run against it unchanged.
  *
  * Scaling model (replica `r` in 0 until factor; replica 0 is the
  * source rows verbatim):
  *  - `region`/`nation` stay fixed (TPC-H convention: dimension tables
  *    don't scale).
  *  - Every synthetic key column (custkey, orderkey, partkey, suppkey,
  *    event_id, user_id, doc_id, vec_id) shifts by `r × stride` where
  *    stride = max(key)+1 from the source — so distinct-key
  *    cardinality grows by exactly `factor` (the regime that flips
  *    sketch sizing, sessionization state, and skew handling), while
  *    foreign-key joins stay consistent within each replica.
  *  - `documents.text` for r>0 gets a deterministic per-replica suffix
  *    token (" r<r>") — replicas are near-duplicates, not exact
  *    duplicates, so shingle/minhash/paragraph pipelines see realistic
  *    cross-replica near-dup clusters instead of degenerate exact
  *    copies; `n_chars` is recomputed to keep the column honest.
  *  - `embeddings.embedding` for r>0 perturbs element 0 by `r × 1e-3`
  *    (an ANGLE change — pure rescaling would leave cosine ties that
  *    make top-k nondeterministic).
  *
  * Everything is column arithmetic on the source rows — no RNG — so
  * output content is identical across runs and across partitionings.
  */
object GenScale {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    require(factor >= 1, s"factor=$factor must be >= 1")
    val spark = Harness.session(16)
    run(spark, src, out, factor)
    spark.stop()
  }

  /** Generate all ten tables from `src` into `out` at `factor`×. */
  def run(spark: SparkSession, src: String, out: String,
          factor: Int): Unit = {
    new java.io.File(out).mkdirs()
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def stride(df: DataFrame, c: String): Long = strideOf(df, c)

    def replicate(df: DataFrame)(per: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(r => per(df, r)).reduce(_ unionAll _)

    def shift(c: String, s: Long, r: Int) = col(c) + lit(s * r)

    val customer = read("customer"); val cK = stride(customer, "c_custkey")
    val supplier = read("supplier"); val sK = stride(supplier, "s_suppkey")
    val part = read("part");         val pK = stride(part, "p_partkey")
    val orders = read("orders");     val oK = stride(orders, "o_orderkey")
    val events = read("events")
    val eK = stride(events, "event_id"); val uK = stride(events, "user_id")
    val documents = read("documents"); val dK = stride(documents, "doc_id")
    val embeddings = read("embeddings"); val vK = stride(embeddings, "vec_id")

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> replicate(customer) { (df, r) =>
        df.withColumn("c_custkey", shift("c_custkey", cK, r))
      },
      "supplier" -> replicate(supplier) { (df, r) =>
        df.withColumn("s_suppkey", shift("s_suppkey", sK, r))
      },
      "part" -> replicate(part) { (df, r) =>
        df.withColumn("p_partkey", shift("p_partkey", pK, r))
      },
      "orders" -> replicate(orders) { (df, r) =>
        df.withColumn("o_orderkey", shift("o_orderkey", oK, r))
          .withColumn("o_custkey", shift("o_custkey", cK, r))
      },
      "lineitem" -> replicate(read("lineitem")) { (df, r) =>
        df.withColumn("l_orderkey", shift("l_orderkey", oK, r))
          .withColumn("l_partkey", shift("l_partkey", pK, r))
          .withColumn("l_suppkey", shift("l_suppkey", sK, r))
      },
      "events" -> replicate(events) { (df, r) =>
        df.withColumn("event_id", shift("event_id", eK, r))
          .withColumn("user_id", shift("user_id", uK, r))
      },
      "documents" -> replicate(documents) { (df, r) =>
        val txt = if (r == 0) col("text")
          else when(col("text").isNotNull,
            concat(col("text"), lit(s" r$r"))).otherwise(col("text"))
        df.withColumn("doc_id", shift("doc_id", dK, r))
          .withColumn("text", txt)
          .withColumn("n_chars",
            when(col("text").isNotNull, length(col("text")).cast("long")))
      },
      "embeddings" -> replicate(embeddings) { (df, r) =>
        val vec = if (r == 0) col("embedding")
          else transform(col("embedding"), (x, i) =>
            when(i === 0, x + lit(r * 1e-3f)).otherwise(x))
        df.withColumn("vec_id", shift("vec_id", vK, r))
          .withColumn("embedding", vec)
      })

    tables.foreach { case (name, df) =>
      writeSingleFile(df, s"$out/$name.parquet")
      System.err.println(s"[gen-scale] wrote $out/$name.parquet")
    }
  }

  /** Key stride per (table, column): max+1 from the SOURCE, so every
    * replica's key block is disjoint and replica 0 is untouched. The
    * cast + null guard is load-bearing: max() of an empty table is
    * NULL (NPE on getLong), and a non-integral key column should fail
    * with a message, not a ClassCastException (round-12 ADVICE). */
  private[graft] def strideOf(df: DataFrame, c: String): Long = {
    val r = df.agg(max(col(c).cast("long"))).head
    require(!r.isNullAt(0), s"GenScale: key column $c has no rows " +
      "(empty source table) — cannot derive a replica stride")
    r.getLong(0) + 1L
  }

  /** Write `df` as ONE parquet FILE at `dest` (the testdata layout —
    * DuckDB's oracle reads a plain file path, not a directory). */
  private def writeSingleFile(df: DataFrame, dest: String): Unit = {
    val tmp = dest + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file under $tmp"))
    val target = new java.io.File(dest)
    if (target.exists()) target.delete()
    java.nio.file.Files.move(part.toPath, target.toPath)
    // drop the staging dir (checksums, _SUCCESS)
    new java.io.File(tmp).listFiles().foreach(_.delete())
    new java.io.File(tmp).delete()
  }
}
