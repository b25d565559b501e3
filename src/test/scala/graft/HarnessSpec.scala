package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The shared session factory, the [[Probe]] command line and the
  * bench's stdout line. */
class HarnessSpec extends AnyFlatSpec with Matchers {

  "Harness.settings" should "pin the bench's session conf" in {
    val conf = Harness.settings(7).toMap
    conf("spark.master") shouldBe "local[7]"
    conf("spark.sql.shuffle.partitions") shouldBe "7"
    conf("spark.sql.session.timeZone") shouldBe "UTC"
    conf("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    conf("spark.ui.enabled") shouldBe "false"
  }

  "Harness.medianOf" should "average the middle pair of an even sample" in {
    Harness.medianOf(Seq(3.0, 1.0, 2.0)) shouldBe 2.0
    Harness.medianOf(Seq(4.0, 1.0, 2.0, 3.0)) shouldBe 2.5
  }

  "Probe.parse" should "accept every mode with known battery entries" in {
    Probe.parse(Seq("time", "/sf", "q_bgp_join")) shouldBe
      Right(Probe.Command("time", "/sf", None, Seq("q_bgp_join")))
    Probe.parse(Seq("plan", "/sf", "-", "q_bgp_join", "q_optional")) shouldBe
      Right(Probe.Command("plan", "/sf", Some("-"), Seq("q_bgp_join", "q_optional")))
    Probe.parse(Seq("verify", "/sf", "/out", "q_bgp_join")).map(_.outDir) shouldBe
      Right(Some("/out"))
    Seq("split", "final").foreach { m =>
      Probe.parse(Seq(m, "/sf", "q_bgp_join")).map(_.mode) shouldBe Right(m)
    }
  }

  it should "fail with one line on an unknown mode, entry or missing entries" in {
    // parse takes no session: every rejection happens before one starts
    val bad = Seq(
      Seq("explain", "/sf", "q_bgp_join"),
      Seq("time", "/sf", "q_no_such_entry"),
      Seq("plan", "/sf", "/out", "q_bgp_join", "q_typo"),
      Seq("verify", "/sf", "/out"),
      Seq("time"),
      Seq.empty)
    bad.foreach { args =>
      val msg = Probe.parse(args).left.getOrElse(fail(s"accepted $args"))
      msg should not include "\n"
    }
    Probe.parse(Seq("explain", "/sf", "q_bgp_join")).left.toOption.get should include("explain")
    Probe.parse(Seq("time", "/sf", "q_no_such_entry")).left.toOption.get should
      include("q_no_such_entry")
  }

  "Bench.stdoutLine" should "carry totals and validity evidence only, as short parseable JSON" in {
    val noise = Bench.noiseFields(0.101, 0.113, 1234.5, 4321.0)
    val line = Bench.stdoutLine(123.456, 98.765, Seq("q_a", "q_b"), 3, noise,
      "testdata/sf0.1")
    line.getBytes("UTF-8").length should be < 400
    line should not include "\"queries"
    line should not include "\n"
    new graft.rdf.Json.JsonReader(line).parseDocument() match {
      case graft.rdf.Json.JObj(fields) =>
        fields.map(_._1) shouldBe Seq("metric", "value", "unit", "total_min",
          "failed", "remeasured_n", "calib_before", "calib_after", "wall_sec",
          "process_cpu_sec", "cpu_wall_ratio", "sf")
        fields.toMap.apply("value") shouldBe graft.rdf.Json.JNum("123.456")
      case other => fail(s"not a JSON object: $other")
    }
  }
}
