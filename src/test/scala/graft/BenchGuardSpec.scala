package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench finalize gate (r11 verdict task #1): the exact artifact
  * failure that round committed — a 2× gate breach, and an
  * every-query-slower host-drift window — must force a re-measure
  * instead of landing in bench_medians.json on the first attempt. */
class BenchGuardSpec extends AnyFunSuite {

  private def flat(n: Int, r: Double): Seq[Double] = Seq.fill(n)(r)

  test("a 2x gate breach trips the guard regardless of drift evidence") {
    val v = Bench.guardVerdict(2.065, "q_cond_entropy", Seq.empty)
    assert(v.exists(_.contains("q_cond_entropy")), v)
    assert(v.exists(_.contains("2.065")), v)
  }

  test("worst_ratio just under the gate with a quiet fleet is clean") {
    assert(Bench.guardVerdict(1.99, "q_x", flat(216, 1.0)).isEmpty)
  }

  test("uniform drift trips: median ratio above 1.15 with p10 above 1.0") {
    // the r11 signature: every query ~1.2x its prior-run self
    val drift = flat(200, 1.22) ++ flat(16, 1.05)
    val v = Bench.guardVerdict(1.6, "q_x", drift)
    assert(v.exists(_.contains("uniform drift")), v)
  }

  test("a scattered slowdown (p10 at or below 1.0) is NOT drift — record it") {
    // specific queries regressed while others held: code, not host
    val scattered = flat(100, 1.4) ++ flat(116, 0.95)
    assert(Bench.guardVerdict(1.6, "q_x", scattered).isEmpty)
  }

  test("a small subset never trips the drift arm") {
    assert(Bench.guardVerdict(1.5, "q_x", flat(19, 1.5)).isEmpty)
  }

  test("no baseline (worst_ratio -1) and no previous run is clean") {
    assert(Bench.guardVerdict(-1.0, "", Seq.empty).isEmpty)
  }

  // ---- mid-pass contamination discard (r15 verdict task #1b) ----

  test("the BENCH_r15 pass-3 blowout is detected: 875s vs priors 422/331") {
    assert(Bench.passContaminated(875.412, Seq(422.613, 331.955)))
  }

  test("the first pass of a kind is never discarded (no predecessors)") {
    assert(!Bench.passContaminated(875.0, Seq.empty))
  }

  test("sub-minute scatter on a short watch pass stays below the floor") {
    // an 18s watch pass scattering to 60s is 3.2x but only +41s — the
    // median of 5 defends it; a discard here would churn retries
    assert(!Bench.passContaminated(60.0, Seq(18.7, 18.3)))
  }

  test("a slow-but-proportional pass (under 2x) is kept") {
    assert(!Bench.passContaminated(700.0, Seq(422.0, 331.0)))
  }

  test("a large absolute delta still needs the 2x ratio") {
    // 500s over a 600s median is +83% — plausible warm/cold variance
    // territory at fleet scale, not an unambiguous co-tenant window
    assert(!Bench.passContaminated(1100.0, Seq(600.0, 650.0)))
  }

  test("conf knobs: k=v pairs parse, blanks skip, a value may hold '='") {
    assert(Bench.confPairs(" a.b=1 ; ;c=x=y ".split(";").toSeq) ==
      Seq("a.b" -> "1", "c" -> "x=y"))
    assert(Bench.confPairs(Seq.empty).isEmpty)
  }

  test("conf knobs: a segment without '=' or with an empty key fails loudly") {
    val e = intercept[IllegalArgumentException](
      Bench.confPairs("a=1;spark.sql.shuffle.partitions".split(";").toSeq))
    assert(e.getMessage.contains("spark.sql.shuffle.partitions"), e.getMessage)
    intercept[IllegalArgumentException](Bench.confPairs(Seq("=1")))
  }

  test("PlanDump: every trailing k=v is a conf, in any position; the first other arg is the mode") {
    assert(PlanDump.trailingArgs(Seq("a=1", "benchexec", "b=2")) ==
      ((Some("benchexec"), Seq("a" -> "1", "b" -> "2"))))
    assert(PlanDump.trailingArgs(Seq("a=1")) == ((None, Seq("a" -> "1"))))
    assert(PlanDump.trailingArgs(Seq("bench")) == ((Some("bench"), Seq.empty)))
  }
}
