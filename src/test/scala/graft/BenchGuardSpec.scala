package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench finalize gate: a 2× gate breach and an every-query-slower
  * host-drift window must force a re-measure instead of landing in
  * bench_medians.json on the first attempt. Also the bench's knob parsing,
  * a lint that keeps its noise handling a rule, and four src/main source
  * lints (no orphaned scaladoc, no scaladoc link to a missing definition,
  * no `*Core` bench twins, one home for the fixture content signature). */
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

  test("numeric knobs: unset takes the default, a positive value parses") {
    val env = Map("SPARK_GRAFT_REPEATS" -> " 5 ", "SPARK_GRAFT_SETTLE_LOAD1" -> "2.5")
    assert(Bench.positiveKnob(env, "SPARK_GRAFT_REPEATS", 3)(_.toInt) == 5)
    assert(Bench.positiveKnob(env, "SPARK_GRAFT_SETTLE_LOAD1", 1.0)(_.toDouble) == 2.5)
    assert(Bench.positiveKnob(env, "SPARK_GRAFT_BUDGET_SECS", 1500L)(_.toLong) == 1500L)
    assert(Bench.positiveKnob(Map.empty, "SPARK_GRAFT_CPUS", 32)(_.toInt) == 32)
  }

  test("numeric knobs: zero, negative and non-numeric values fail loudly, naming the knob") {
    def rejects[T: Numeric](name: String, raw: String, default: T)(parse: String => T): Unit = {
      val e = intercept[IllegalArgumentException](
        Bench.positiveKnob(Map(name -> raw), name, default)(parse))
      assert(e.getMessage.contains(name) && e.getMessage.contains(raw), e.getMessage)
    }
    // REPEATS=0 once measured only a hand-kept subset and exited 0
    rejects("SPARK_GRAFT_REPEATS", "0", 3)(_.toInt)
    rejects("SPARK_GRAFT_REPEATS", "-2", 3)(_.toInt)
    rejects("SPARK_GRAFT_REPEATS", "abc", 3)(_.toInt)
    rejects("SPARK_GRAFT_REPEATS", "2.5", 3)(_.toInt)
    rejects("SPARK_GRAFT_BUDGET_SECS", "abc", 1500L)(_.toLong)
    rejects("SPARK_GRAFT_BUDGET_SECS", "0", 1500L)(_.toLong)
    rejects("SPARK_GRAFT_SETTLE_LOAD1", "abc", 1.0)(_.toDouble)
    rejects("SPARK_GRAFT_SETTLE_LOAD1", "NaN", 1.0)(_.toDouble)
    rejects("SPARK_GRAFT_CPUS", "", 32)(_.toInt)
    rejects("SPARK_GRAFT_CPUS", "four", 32)(_.toInt)
  }

  test("Bench.scala lint: no hand-kept query-name set, only the ten env knobs") {
    val path = java.nio.file.Paths.get("src/main/scala/graft/Bench.scala")
    val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val knobs = Set("SF_DIR", "CPUS", "REPEATS", "BUDGET_SECS", "SETTLE_LOAD1",
      "SAMPLES_OUT", "MEDIANS_OUT", "BASELINE", "CONF", "QUERIES").map("SPARK_GRAFT_" + _)
    val seen = "SPARK_GRAFT_[A-Z0-9_]+".r.findAllIn(text).toSet
    assert(seen.contains("SPARK_GRAFT_REPEATS"), s"scan read the wrong file: $path")
    val offenders =
      (if (text.contains("Set(\"q_")) Seq("a Set(\"q_…\") literal: noise handling is a rule, not a list")
       else Nil) ++ (seen -- knobs).toSeq.sorted.map(k => s"$k is not one of the ten bench knobs")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("PlanDump: every trailing k=v is a conf, in any position; the first other arg is the mode") {
    assert(PlanDump.trailingArgs(Seq("a=1", "benchexec", "b=2")) ==
      ((Some("benchexec"), Seq("a" -> "1", "b" -> "2"))))
    assert(PlanDump.trailingArgs(Seq("a=1")) == ((None, Seq("a" -> "1"))))
    assert(PlanDump.trailingArgs(Seq("bench")) == ((Some("bench"), Seq.empty)))
  }

  /** Every .scala file under src/main, with its lines. */
  private def mainSources: Seq[(java.nio.file.Path, Seq[String])] = {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".scala"))
    assert(files.exists(_.endsWith("graft/Bench.scala")), s"scan root wrong: $root")
    files.map(p => p -> java.nio.file.Files.readAllLines(p).toArray.toSeq.map(_.toString))
  }

  test("src/main lint: no scaladoc block directly follows another") {
    val offenders = mainSources.flatMap { case (p, lines) =>
      val code = lines.zipWithIndex.filter(_._1.trim.nonEmpty)
      code.zip(code.drop(1)).collect {
        case ((a, i), (b, _)) if a.trim.endsWith("*/") && b.trim.startsWith("/**") =>
          s"$p:${i + 1}: a scaladoc block ends here and another one starts next"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("src/main lint: the content-signature rule lives only in Tables.scala") {
    // fixture-derived state goes through Tables.FixtureCache or
    // Tables.fixtureStatePath; a second signature reader is a second
    // copy of the invalidation rule
    val offenders = mainSources.flatMap { case (p, lines) =>
      if (p.endsWith("graft/Tables.scala")) Nil
      else lines.zipWithIndex.collect {
        case (l, i) if l.contains("parquetContentSig") => s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("src/main lint: no *Core twin defs (bench shapes derive from queries)") {
    val core = "def \\w+Core\\(".r
    val offenders = mainSources.flatMap { case (p, lines) =>
      lines.zipWithIndex.collect {
        case (l, i) if core.findFirstIn(l).isDefined => s"$p:${i + 1}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("src/main lint: every scaladoc link names a definition in src/main") {
    // a link to deleted code reads as documentation of a path that no
    // longer exists; a [[graft.…]], [[Obj.member]] (Obj defined here) or
    // bare [[name]] link, joined across wrapped comment lines, must
    // resolve to a def/val/var/class/object/trait/type in src/main, or
    // for a bare name to one the file imports
    val sources = mainSources
    val defined = {
      val decl = "\\b(?:def|val|var|class|object|trait|type)\\s+([A-Za-z_][A-Za-z0-9_]*)".r
      val comment = Seq("*", "//", "/*")
      sources.flatMap(_._2).filterNot(l => comment.exists(l.trim.startsWith))
        .flatMap(l => decl.findAllMatchIn(l).map(_.group(1))).toSet
    }
    val link = "(?s)\\[\\[(.*?)\\]\\]".r
    val offenders = sources.flatMap { case (p, lines) =>
      val text = lines.mkString("\n")
      val imported = lines.filter(_.trim.startsWith("import "))
        .flatMap("[A-Za-z_][A-Za-z0-9_]*".r.findAllIn(_)).toSet
      link.findAllMatchIn(text).flatMap { m =>
        val target = m.group(1).replaceAll("\\s*\\n\\s*\\*?\\s*", " ")
          .replace(" .", ".").trim.split("\\s+").head
        val segs = target.split('.').toSeq
        val checked = segs.head == "graft" || segs.size == 1 || defined(segs.head)
        val known = defined(segs.last) || (segs.size == 1 && imported(segs.last))
        if (checked && !known) {
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          Some(s"$p:$line: [[$target]] names no definition in src/main")
        } else None
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
