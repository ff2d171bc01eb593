package graft

import graft.operators.TextOps
import org.scalacheck.Gen

/** Property pins for the exact-substring span family on ADVERSARIAL
  * corpora the fixture can't produce: tiny vocabularies (every doc
  * shares grams), periodic strings ("a a a a …" — overlapping
  * occurrences of ONE gram key inside one doc), sub-gram-length and
  * empty docs. Both strip semantics are checked against brute-force
  * references: strip-ALL (dupSpansOver/dupStripOver, the q_dup_* batch
  * audit) and KEEP-FIRST (substringStrip against an absent index, the
  * incremental form). */
class DupSpansPropertySpec extends SparkSpec {

  private def forAllSamples[A](gen: Gen[A], n: Int = 25)(f: A => Boolean): Unit = {
    var seed = org.scalacheck.rng.Seed(13L)
    var produced = 0
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, seed).foreach { a =>
        produced += 1
        assert(f(a), s"failed on sample $i: $a")
      }
      seed = seed.next
    }
    // a filtered generator returning None every time must not pass green
    // having asserted nothing
    assert(produced >= n / 2, s"generator produced only $produced/$n samples")
  }

  /** 2-8 docs over a ≤4-token vocabulary, lengths 0-24 — dup-gram
    * collisions and periodic runs are the COMMON case, not the corner. */
  private val genCorpus: Gen[List[List[String]]] = for {
    nDocs <- Gen.choose(2, 8)
    docs <- Gen.listOfN(nDocs, for {
      len <- Gen.frequency(3 -> Gen.choose(0, 24), 1 -> Gen.choose(0, 5))
      toks <- Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d"))
    } yield toks)
  } yield docs

  private def toDf(corpus: List[List[String]]) = {
    val sess = spark
    import sess.implicits._
    corpus.zipWithIndex
      .map { case (toks, i) => (i.toLong + 1, toks.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  /** Reference strip under a pluggable hit rule: strip(doc, j) for each
    * 6-gram start. Coverage is the PLAIN UNION of hit intervals — no
    * island merge re-implemented here, so the reference stays
    * independent of the engine's gaps-and-islands recipe (merging then
    * expanding yields the identical covered set; the span-shape checks
    * live in the dedicated spans test against the engine output). */
  private def refStrip(corpus: List[List[String]],
                       hit: (Long, List[String], Int) => Boolean): Seq[(Long, Long, Long, String)] =
    corpus.zipWithIndex.map { case (toks, i) =>
      val id = i.toLong + 1
      // mkString("") then split round-trip: an EMPTY token list renders
      // "" whose split(" ", -1) is [""], one empty token — mirror the
      // engine's split-of-empty-string semantics exactly
      val t = toks.mkString(" ").split(" ", -1).toSeq
      val hits = (0 to t.size - 6)
        .collect { case j0 if hit(id, t.slice(j0, j0 + 6).toList, j0) => (j0 + 1).toLong }
      val covered = hits.flatMap(j => j to j + 5).toSet
      val kept = t.zipWithIndex.collect { case (tk, ix) if !covered((ix + 1).toLong) => tk }
      (id, t.size.toLong, t.size.toLong - kept.size, kept.mkString(" "))
    }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq

  test("strip-ALL ≡ brute force on tiny-vocab random corpora (incl. periodic runs)") {
    forAllSamples(genCorpus) { corpus =>
      val grams = corpus.zipWithIndex.flatMap { case (toks, i) =>
        val t = toks.mkString(" ").split(" ", -1).toSeq
        (0 to t.size - 6).map(j0 => t.slice(j0, j0 + 6).toList -> (i.toLong + 1))
      }
      val docsOf = grams.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val expect = refStrip(corpus, (id, g, _) => (docsOf.getOrElse(g, Set.empty) - id).nonEmpty)
      val got = rows(TextOps.dupStripOver(toDf(corpus)))
      got == expect.sortBy(_._1)
    }
  }

  test("dup spans are disjoint, maximal, in-bounds, and consistent with the strip") {
    forAllSamples(genCorpus) { corpus =>
      val df = toDf(corpus)
      val spans = TextOps.dupSpansOver(df).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val strip = rows(TextOps.dupStripOver(df)).map(r => r._1 -> r._3).toMap
      val lens = corpus.zipWithIndex
        .map { case (toks, i) => (i.toLong + 1) -> toks.mkString(" ").split(" ", -1).length.toLong }
        .toMap
      spans.groupBy(_._1).forall { case (id, ss) =>
        val sorted = ss.sortBy(_._2)
        val disjointMaximal = sorted.sliding(2).forall {
          case Array((_, _, e1, _), (_, s2, _, _)) => s2 > e1 + 1
          case _ => true
        }
        val inBounds = sorted.forall { case (_, s, e, n) =>
          s >= 1 && e <= lens(id) && n == e - s + 1 && n >= 6 }
        // the strip removed exactly the span-covered token count
        disjointMaximal && inBounds && strip(id) == sorted.map(_._4).sum
      } && strip.forall { case (id, dup) =>
        dup == 0 || spans.exists(_._1 == id) // stripped docs carry spans
      }
    }
  }

  test("KEEP-FIRST (absent-index substringStrip) ≡ brute force; keeps ≥ strip-ALL") {
    forAllSamples(genCorpus, n = 15) { corpus =>
      val firstSeen = scala.collection.mutable.Map.empty[List[String], Long]
      corpus.zipWithIndex.foreach { case (toks, i) =>
        val t = toks.mkString(" ").split(" ", -1).toSeq
        (0 to t.size - 6).foreach { j0 =>
          val g = t.slice(j0, j0 + 6).toList
          if (!firstSeen.contains(g)) firstSeen(g) = i.toLong + 1
        }
      }
      val expect = refStrip(corpus, (id, g, _) => firstSeen(g) < id)
      val ghost = java.nio.file.Files.createTempDirectory("graft-prop-idx").toString + "/i.parquet"
      val got = rows(TextOps.substringStrip(spark, ghost, toDf(corpus)))
      val all = rows(TextOps.dupStripOver(toDf(corpus))).map(r => r._1 -> r._3).toMap
      got == expect.sortBy(_._1) && got.forall { case (id, _, dup, _) => dup <= all(id) }
    }
  }
}
