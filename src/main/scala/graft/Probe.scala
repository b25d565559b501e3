package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev probes of single battery entries, on the [[Harness]] session the
  * bench runs (`SPARK_GRAFT_CPUS`, default 32):
  *
  * {{{
  *   runMain graft.Probe time   <sfDir> <entry...>            # 3 noop passes, calibration before/after
  *   runMain graft.Probe split  <sfDir> <entry...>            # median plan / exec / full seconds
  *   runMain graft.Probe plan   <sfDir> <outDir|-> <entry...> # formatted plan, to outDir/<entry>.txt or stdout
  *   runMain graft.Probe final  <sfDir> <entry...>            # final adaptive plan + per-stage task metrics
  *   runMain graft.Probe verify <sfDir> <outDir> <entry...>   # parquet dumps + full oracle_sql.json
  * }}}
  */
object Probe {

  final case class Command(mode: String, sfDir: String,
                           outDir: Option[String], entries: Seq[String])

  private val modes = Seq("time", "split", "plan", "final", "verify")
  private val usage = "usage: graft.Probe <time|split|final> <sfDir> <entry...> | " +
    "<plan|verify> <sfDir> <outDir> <entry...> (plan's outDir may be '-')"

  /** Validate the command line before any session starts; Left is a
    * one-line error. */
  def parse(args: Seq[String]): Either[String, Command] = args match {
    case mode +: _ if !modes.contains(mode) => Left(s"unknown mode '$mode'; $usage")
    case mode +: sfDir +: rest =>
      val withOut = mode == "plan" || mode == "verify"
      val (out, entries) = if (withOut) (rest.headOption, rest.drop(1)) else (None, rest)
      val unknown = entries.filterNot(SparkEntry.queries.contains)
      if (entries.isEmpty) Left(usage)
      else if (unknown.nonEmpty)
        Left(s"unknown battery entr${if (unknown.size == 1) "y" else "ies"}: ${unknown.mkString(", ")}")
      else Right(Command(mode, sfDir, out, entries))
    case _ => Left(usage)
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(msg) =>
      System.err.println(msg)
      sys.exit(2)
    case Right(cmd) =>
      val spark = Harness.session(32)
      try run(spark, cmd) finally spark.stop()
  }

  private def run(spark: SparkSession, cmd: Command): Unit = {
    def build(name: String) = SparkEntry.queries(name)(spark, cmd.sfDir)
    cmd.mode match {
      case "time" =>
        println(f"calib_before: ${Harness.calibrate(spark)}%.3f s (quiet host ~0.10)")
        cmd.entries.foreach { q =>
          (1 to 3).foreach { i =>
            println(f"$q pass$i: ${Harness.seconds(Harness.exec(build(q)))}%.2f s")
          }
        }
        println(f"calib_after: ${Harness.calibrate(spark)}%.3f s (quiet host ~0.10)")

      case "split" =>
        // planning = construction + analysis + optimization + physical
        // planning (forced via executedPlan); execution = the noop run
        // of a pre-planned frame; each entry warmed once untimed
        def med(f: => Double) = Harness.medianOf((1 to 3).map(_ => f))
        cmd.entries.foreach { name =>
          Harness.exec(build(name))
          val plan = med(Harness.seconds(build(name).queryExecution.executedPlan))
          val exec = med {
            val df = build(name)
            df.queryExecution.executedPlan
            Harness.seconds(Harness.exec(df))
          }
          val full = med(Harness.seconds(Harness.exec(build(name))))
          println(f"$name%-28s plan=$plan%.3f exec=$exec%.3f full=$full%.3f")
        }

      case "plan" =>
        val out = cmd.outDir.filter(_ != "-")
        out.foreach(d => Files.createDirectories(Paths.get(d)))
        cmd.entries.foreach { name =>
          val plan = build(name).queryExecution.explainString(FormattedMode)
          out match {
            case Some(d) =>
              Files.writeString(Paths.get(d, s"$name.txt"), plan)
              println(s"wrote ${Paths.get(d, s"$name.txt")}")
            case None =>
              println(s"========== $name ==========")
              println(plan)
          }
        }

      case "final" =>
        // per-stage task metrics: where executor CPU actually goes
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
            val i = sc.stageInfo
            val m = i.taskMetrics
            stages.add(f"stage ${i.stageId}%4d tasks=${i.numTasks}%4d " +
              f"run=${m.executorRunTime / 1e3}%7.2fs " +
              f"cpu=${m.executorCpuTime / 1e9}%7.2fs " +
              f"deser=${m.executorDeserializeTime / 1e3}%6.2fs " +
              f"  ${i.name.takeWhile(_ != '\n').take(80)}")
          }
        })
        cmd.entries.foreach { name =>
          stages.clear() // before construction: iterative entries run eager jobs there
          val df = build(name)
          // execute THIS QueryExecution (noop write / foreachPartition
          // both plan their OWN), so the printed AdaptiveSparkPlan is the
          // final one with runtime ReusedExchange nodes
          df.queryExecution.toRdd.count()
          Thread.sleep(300) // let the listener drain
          println(s"========== $name (final adaptive plan) ==========")
          println(df.queryExecution.executedPlan.toString)
          println(s"---------- $name stages (execution only) ----------")
          stages.forEach(s => println(s))
        }

      case "verify" =>
        // the Verify layout for a subset, with the FULL oracle_sql.json,
        // for iterating on one entry's oracle
        val out = cmd.outDir.get
        Files.createDirectories(Paths.get(out))
        cmd.entries.foreach { name =>
          build(name).coalesce(1).write.mode("overwrite").parquet(Paths.get(out, name).toString)
        }
        Verify.writeOracleJson(out)
    }
  }
}
