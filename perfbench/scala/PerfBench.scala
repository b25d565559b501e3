package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.io.{DictStore, QuadsIO}
import graft.rdf.Iri
import graft.sources.TpchQuads
import graft.sparql.{BgpOptimizer, Compiler, Sparql, SparqlParser}
import graft.sparql.Sparql.QuadsOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The JVM half of the end-to-end SPARQL benchmark. `run.py` writes the
  * plan file (settings, the seeded query texts and the append slices);
  * this program builds the corpus and the store, runs the queries in a
  * closed loop and writes a report of what it timed. It checks nothing
  * itself: `run.py` compares every result file against DuckDB.
  *
  * The layouts named in the plan are built in turn. The first carries
  * the timed window; a second (the term-struct quads, in a traced
  * `bgp_store` run) is queried after it, so the timed part of a traced
  * run matches an untraced one.
  *
  * Usage: `PerfBench <plan.tsv> <report.json>`. Only public API of the
  * engine is used: TpchQuads → QuadsIO → DictStore → sparql →
  * Sparql.writeResultsJson. */
object PerfBench {

  final case class Query(phase: String, id: String, shape: String,
                         bind: String, text: String)

  /** Tab-separated lines: `conf key value`, `slice lo hi` (order keys of
    * one append batch), `query phase id shape bind text`. */
  final class Plan(path: String) {
    private val rows = Files.readAllLines(Paths.get(path), UTF_8).asScala
      .map(_.split("\t", -1).toSeq).toSeq
    private val conf = rows.collect { case Seq("conf", k, v) => k -> v }.toMap
    val queries: Seq[Query] = rows.collect {
      case Seq("query", ph, id, sh, b, t) => Query(ph, id, sh, b, t)
    }
    val slices: Seq[(Long, Long)] = rows.collect {
      case Seq("slice", lo, hi) => (lo.toLong, hi.toLong)
    }
    def apply(key: String): String = conf(key)
  }

  private def now: Long = System.nanoTime()
  private def secs(t0: Long): Double = (now - t0) / 1e9

  /** The report: named fields in insertion order, written as one JSON
    * object at exit. */
  type Report = mutable.LinkedHashMap[String, Any]
  type Record = Map[String, Any]

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private def writeJson(path: String, value: Any): Unit =
    Files.write(Paths.get(path), mapper.writeValueAsBytes(value))

  def main(args: Array[String]): Unit = {
    val plan = new Plan(args(0))
    val report: Report = mutable.LinkedHashMap.empty
    val work = plan("work")
    val layouts = plan("layouts").split(",").toSeq
    val tracing = plan("trace") == "1"
    val tracer = new Tracer(tracing)
    val groups = new GroupMetrics

    val t0 = now
    val spark = SparkSession.builder()
      .master(s"local[${plan("cores")}]")
      .config("spark.sql.shuffle.partitions", plan("cores"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (tracing) spark.sparkContext.addSparkListener(groups)
    val sessionS = secs(t0)

    val bench = new Bench(spark, plan, tracer, groups, report)
    try {
      report("session_s") = sessionS
      bench.run(layouts, sessionS)
    } catch {
      case e: Throwable =>
        report("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    } finally {
      if (tracing) {
        groups.drain()
        report("groups") = bench.groupTotals
        writeJson(args(1) + ".spans.json", tracer.records)
      }
      report("peak_rss_mb") = peakRssMb()
      writeJson(args(1), report)
      spark.stop()
    }
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** Bytes and count of the data files under `dir` (Spark's `_SUCCESS`
    * markers and `.crc` checksums excluded). */
  def dirFiles(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot { f =>
          val n = f.getFileName.toString
          n.startsWith("_") || n.startsWith(".")
        }.toSeq
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }

  final class Bench(spark: SparkSession, plan: Plan, tracer: Tracer,
                    groups: GroupMetrics, report: Report) {
    private val work = plan("work")
    private val tracing = tracer.enabled
    private val ingestLog = ArrayBuffer.empty[Record]
    private val queryLog = ArrayBuffer.empty[Record]
    private val groupNames = ArrayBuffer.empty[String]
    private var counts: Map[String, Long] = Map.empty
    private var store: DictStore = _
    private var quads: DataFrame = _

    def groupTotals: Map[String, Map[String, Double]] =
      groupNames.distinct.map(g => g -> groups.of(g)).toMap

    private def group(name: String): Unit =
      if (tracing) {
        groupNames += name
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
      }

    def run(layouts: Seq[String], sessionS: Double): Unit = {
      val t0 = now
      val export = s"$work/export.nq"
      tracer.span("setup", "QuadsIO.writeNQuads") {
        // one export per source table, written concurrently: the first
        // jobs of a fresh JVM are mostly single-threaded planning and
        // JIT work, which leaves cores idle when run one by one
        parallel(tables, tables.size) { case (name, f) =>
          QuadsIO.writeNQuads(f(spark, plan("src")), s"$export/$name")
        }
      }
      val exportS = secs(t0)
      report("export_s") = exportS
      val t1 = now
      counts = splitExport(export, s"$work/ingest")
      val splitS = secs(t1)
      report("split_s") = splitS
      report("ingest_quads") = counts

      if (plan("mode") == "smoke") {
        for (layout <- layouts) {
          build(layout, 1)
          plan.queries.filter(_.phase == "timed").foreach(q =>
            runQuery(q.copy(id = s"${q.id}_$layout"), layout, tracing))
        }
      } else {
        val layout = layouts.head
        val buildS = build(layout, plan("reps").toInt)
        val tw = now
        plan.queries.filter(_.phase == "warm").foreach(runQuery(_, layout, false))
        val warmupS = secs(tw)
        report("warmup_s") = warmupS
        report("setup_s") = sessionS + exportS + splitS + buildS + warmupS
        report("probe_before_s") = probe()
        timed(layout)
        report("probe_after_s") = probe()
        // the same templates over the second layout, after the window:
        // one untraced warm-up pass, then the queries of phase `second`
        for (other <- layouts.drop(1)) {
          build(other, 1)
          plan.queries.filter(_.phase == "second_warm").foreach(runQuery(_, other, false))
          plan.queries.filter(_.phase == "second").foreach(runQuery(_, other, tracing))
        }
      }
      report("ingest") = ingestLog
      report("queries") = queryLog
    }

    /** `reps` encodes of the base into fresh directories, then the
      * appends on the last of them, each followed by a read-your-writes
      * query; the last store is left open. Returns the median encode
      * plus the appends, in seconds (setup_s counts that). */
    private def build(layout: String, reps: Int): Double = {
      val encodes = (1 to reps).map(r => ingest(layout, r, "base"))
      report(s"encode_s_$layout") = encodes
      val t = now
      plan.slices.indices.foreach { i =>
        ingest(layout, reps, s"slice$i")
        open(layout, reps)
        runQuery(Query("ryw", s"ryw_${layout}_$i", "ryw", "", plan("ryw_query")),
          layout, tracing)
      }
      open(layout, reps)
      median(encodes) + secs(t)
    }

    /** The closed loop: each query is issued when the previous one has
      * written its results, until `seconds` have passed and the current
      * round of shapes is complete. Whole rounds hold every shape
      * equally often, so the window's median does not depend on which
      * shapes a cut-off partial round held. A traced run
      * traces every second query of each shape, so every shape is
      * traced and the untraced queries beside them give the tracing
      * overhead under the same warm-up drift. */
    private def timed(layout: String): Unit = {
      val budget = plan("seconds").toDouble
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val t0 = now
      val c0 = os.getProcessCpuTime
      val st0 = cpuTicks()
      val jit0 = jitMs(); val gc0 = gcMs()
      val round = plan("round").toInt
      val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
      val done = plan.queries.filter(_.phase == "timed").iterator.zipWithIndex
        .takeWhile { case (_, i) => secs(t0) < budget || i % round != 0 }
        .map { case (q, _) =>
          seen(q.shape) += 1
          runQuery(q, layout, tracing && seen(q.shape) % 2 == 0)
        }
        .size
      report("timed_wall_s") = secs(t0)
      report("timed_cpu_s") = (os.getProcessCpuTime - c0) / 1e9
      report("timed_queries") = done
      report("timed_jit_ms") = jitMs() - jit0
      report("timed_gc_ms") = gcMs() - gc0
      val st1 = cpuTicks()
      // share of the machine's CPU time the hypervisor gave to others
      report("timed_steal_share") = (st1._2 - st0._2).toDouble /
        math.max(st1._1 - st0._1, 1L)
    }

    private def jitMs(): Long =
      java.lang.management.ManagementFactory.getCompilationMXBean
        .getTotalCompilationTime
    private def gcMs(): Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum

    /** (all ticks, steal ticks) of the machine from /proc/stat. */
    private def cpuTicks(): (Long, Long) = {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
        .split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    }

    /** Engine-independent host-contention probe: fixed arithmetic over an
      * in-memory range, one untimed pass (code generation) and then
      * three timed ones. Its time moves only when something else on the
      * machine competes for the cores. */
    private def probe(): Seq[Double] = {
      val ts = (0 to 3).map { _ =>
        val t0 = now
        spark.range(0L, 50000000L, 1L, plan("cores").toInt)
          .selectExpr("sum(id * 2 + 1)").collect()
        secs(t0)
      }
      ts.tail
    }

    private def parallel[A](items: Seq[A], threads: Int)(body: A => Unit): Unit = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.traverse(items)(a => Future(body(a))), Duration.Inf)
      finally pool.shutdown()
    }

    private val tables: Seq[(String, (SparkSession, String) => DataFrame)] =
      Seq("region" -> TpchQuads.region _, "nation" -> TpchQuads.nation _,
        "customer" -> TpchQuads.customer _, "supplier" -> TpchQuads.supplier _,
        "part" -> TpchQuads.part _, "orders" -> TpchQuads.orders _,
        "lineitem" -> TpchQuads.lineitem _)

    /** Route the export's lines by order key: quads of orders (and their
      * line items) inside an append slice go to that slice's file,
      * everything else to the base file. Returns quads per file. */
    private def splitExport(export: String, dir: String): Map[String, Long] = {
      Files.createDirectories(Paths.get(dir))
      val names = "base" +: plan.slices.indices.map(i => s"slice$i")
      val outs = names.map(n =>
        Files.newBufferedWriter(Paths.get(dir, s"$n.nq"), UTF_8)).toArray
      val counts = new Array[Long](names.size)
      val Key = "^<urn:[ol]:(\\d+)[->].*".r
      def target(line: String): Int = line match {
        case Key(k) =>
          val key = k.toLong
          plan.slices.indexWhere { case (lo, hi) => key >= lo && key < hi } + 1
        case _ => 0
      }
      val parts = Files.walk(Paths.get(export))
      try parts.iterator().asScala.toSeq.sorted
        .filter(_.getFileName.toString.startsWith("part-"))
        .foreach { f =>
          val lines = Files.lines(f, UTF_8)
          try lines.forEach { line =>
            if (line.nonEmpty) {
              val i = target(line)
              outs(i).write(line); outs(i).newLine(); counts(i) += 1
            }
          } finally lines.close()
        }
      finally { parts.close(); outs.foreach(_.close()) }
      names.zip(counts).toMap
    }

    private def read(trace: String, src: String): DataFrame =
      tracer.span(trace, "QuadsIO.read") {
        val df = QuadsIO.read(spark, s"$work/ingest/$src.nq")
        // traced runs only: force the parse on its own so its cost and
        // quad count show as a layer (the write below parses again)
        if (tracing) ingestLog += Map("op" -> "parse", "trace" -> trace,
          "src" -> src, "quads" -> df.count())
        df
      }

    /** Read one split file and write it into the store of repetition
      * `rep`: the base is encoded into a fresh directory, a slice is
      * appended. Returns the wall time of read + write. */
    private def ingest(layout: String, rep: Int, src: String): Double = {
      val dir = s"$work/$layout$rep"
      val op = if (src == "base") "encode" else "append"
      val (name, write): (String, DataFrame => Unit) = (layout, op) match {
        case ("store", "encode") => ("DictStore.encode", DictStore.encode(_, dir))
        case ("store", _) => ("DictStore.append", DictStore.append(_, dir))
        case (_, "encode") => ("QuadsIO.writeParquet", QuadsIO.writeParquet(_, dir))
        case _ => ("QuadsIO.writeParquet.append",
          QuadsIO.writeParquet(_, dir, SaveMode.Append))
      }
      val trace = s"$layout$rep.$src"
      val (b0, f0) = dirFiles(dir)
      val t = now
      var writeS = 0.0
      tracer.span(trace, "ingest") {
        val df = read(trace, src)
        group(s"$trace/write")
        val tw = now
        try tracer.span(trace, name)(write(df))
        finally spark.sparkContext.clearJobGroup()
        writeS = secs(tw)
      }
      val s = secs(t)
      val (b1, f1) = dirFiles(dir)
      val terms = if (tracing && layout == "store")
        DictStore.load(spark, dir).dict.count() else 0L
      ingestLog += Map("op" -> op, "layout" -> layout, "rep" -> rep,
        "trace" -> trace, "quads" -> counts(src), "s" -> s, "write_s" -> writeS,
        "files_written" -> (f1 - f0), "bytes_written" -> (b1 - b0),
        "store_files" -> f1, "store_bytes" -> b1, "dict_terms" -> terms)
      s
    }

    private def open(layout: String, rep: Int): Unit = {
      val dir = s"$work/$layout$rep"
      if (layout == "store") store = DictStore.load(spark, dir)
      else quads = QuadsIO.readParquet(spark, dir)
    }

    /** One query, from pre-binding to the result file being complete. A
      * traced query also parses and optimizes on its own (DictStore
      * only exposes the whole construction), and plans the DataFrame
      * before writing it, each under its own span. */
    private def runQuery(q: Query, layout: String, traced: Boolean): Unit = {
      def sp[A](name: String)(body: => A): A =
        if (traced) tracer.span(q.id, name)(body) else body
      val out = s"$work/res/${q.id}"
      val t0 = now
      val error = try {
        sp("query") {
          val text =
            if (q.bind.isEmpty) q.text
            else sp("Sparql.preBind")(Sparql.preBind(q.text, Map("e" -> Iri(q.bind))))
          if (traced) group(s"${q.id}/build")
          val df =
            if (!traced) {
              if (layout == "store") store.sparql(text) else quads.sparql(text)
            } else {
              val (op, ds) = sp("SparqlParser.parse")(SparqlParser.parseAny(text)) match {
                case SparqlParser.SelectQuery(op, ds) => (op, ds)
                case other => throw new IllegalArgumentException(s"not a SELECT: $other")
              }
              if (layout == "store") {
                sp("BgpOptimizer.optimize")(BgpOptimizer.optimize(op, store.stats))
                sp("DictStore.build")(store.sparql(text))
              } else {
                val opt = sp("BgpOptimizer.optimize")(BgpOptimizer.optimize(op, None))
                sp("Compiler.build")(Compiler.run(Sparql.applyDataset(quads, ds), opt))
              }
            }
          if (traced) {
            group(s"${q.id}/plan")
            sp("catalyst.plan")(df.queryExecution.executedPlan)
            group(s"${q.id}/exec")
          }
          sp("Sparql.writeResults")(Sparql.writeResultsJson(df, out))
          if (traced) spark.sparkContext.clearJobGroup()
        }
        ""
      } catch {
        case e: Throwable =>
          spark.sparkContext.clearJobGroup()
          s"${e.getClass.getName}: ${e.getMessage}".take(500)
      }
      queryLog += Map("id" -> q.id, "phase" -> q.phase, "shape" -> q.shape,
        "layout" -> layout, "traced" -> traced, "s" -> secs(t0), "out" -> out,
        "error" -> error)
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
