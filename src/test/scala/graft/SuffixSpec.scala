package graft

import org.apache.spark.sql.functions._

import graft.functions.Suffix

/** Specs for the prefix-doubling suffix-array construction. */
class SuffixSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(docs: Seq[(Long, String)]): Map[(Long, Long), Long] =
    Suffix.suffixRanks(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("banana: hand-computed suffix ranks") {
    // suffixes sorted: a < ana < anana < banana < na < nana
    ranks(Seq(1L -> "banana")) shouldBe Map(
      (1L, 6L) -> 0L, (1L, 4L) -> 1L, (1L, 2L) -> 2L,
      (1L, 1L) -> 3L, (1L, 5L) -> 4L, (1L, 3L) -> 5L)
  }

  test("cross-document: identical suffixes tie, prefixes sort before extensions") {
    // suffixes: ab(1,1) b(1,2) abc(2,1) bc(2,2) c(2,3)
    // sorted: ab(0) abc(1) b(2) bc(3) c(4) — "ab" < "abc" (proper
    // prefix first), and ranks are dense ACROSS documents
    ranks(Seq(1L -> "ab", 2L -> "abc")) shouldBe Map(
      (1L, 1L) -> 0L, (2L, 1L) -> 1L, (1L, 2L) -> 2L,
      (2L, 2L) -> 3L, (2L, 3L) -> 4L)
    // byte-identical docs: every position ties with its twin
    val r = ranks(Seq(1L -> "xyx", 2L -> "xyx"))
    (1 to 3).foreach(p => r((1L, p.toLong)) shouldBe r((2L, p.toLong)))
  }

  test("matches brute-force suffix sort on random multi-doc corpora") {
    val rnd = new scala.util.Random(7)
    val docs = (0 until 24).map { i =>
      (i.toLong,
        (0 until (1 + rnd.nextInt(40)))
          .map(_ => "abcd".charAt(rnd.nextInt(4))).mkString)
    }
    // expected: dense rank of the materialized suffixes, ties shared
    val sufs = docs.flatMap { case (did, t) =>
      (1 to t.length).map(p => (did, p.toLong, t.substring(p - 1)))
    }
    val order = sufs.map(_._3).distinct.sorted.zipWithIndex.toMap
    val expected = sufs.map { case (did, p, s2) => (did, p) -> order(s2).toLong }.toMap
    ranks(docs) shouldBe expected
  }

  private def longest(docs: Seq[(Long, String)]): Long =
    math.max(docs.map(_._2.length).max, 1).toLong

  /** (srank, doc_a, pos_a, doc_b, pos_b, lcp) rows of the operator. */
  private def lcpRows(docs: Seq[(Long, String)], cap: Long) =
    Suffix.adjacentLcpCapped(docs.toDF("doc_id", "text"), "doc_id", "text",
      maxLcp = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet

  /** The same rows by brute force: sort the distinct suffixes, take each
    * one's (doc,pos)-minimal occurrence, and clamp the character-by-
    * character LCP of rank-adjacent suffixes at `cap`.
    */
  private def bruteRows(docs: Seq[(Long, String)], cap: Long) = {
    val rep = docs.flatMap { case (did, t) =>
      (1 to t.length).map(p => t.substring(p - 1) -> ((did, p.toLong)))
    }.groupBy(_._1).map { case (suf, occ) => suf -> occ.map(_._2).min }
    val sorted = rep.keys.toVector.sorted
    sorted.zip(sorted.tail).zipWithIndex.map { case ((a, b), i) =>
      val lcp = a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
      (i.toLong, rep(a)._1, rep(a)._2, rep(b)._1, rep(b)._2, math.min(lcp, cap))
    }.toSet
  }

  // srank -> exact LCP: a cap of the longest document never clamps
  private def lcps(docs: Seq[(Long, String)]): Map[Long, Long] =
    lcpRows(docs, longest(docs)).map(r => r._1 -> r._6).toMap

  test("banana: hand-computed adjacent LCPs") {
    // sorted distinct suffixes: a ana anana banana na nana
    // adjacent LCPs:            1   3     0      0   2
    lcps(Seq(1L -> "banana")) shouldBe Map(
      0L -> 1L, 1L -> 3L, 2L -> 0L, 3L -> 0L, 4L -> 2L)
  }

  test("adjacentLcp matches brute-force LCP on random multi-doc corpora") {
    // adjacentLcpCapped with a cap of the longest document is the exact
    // adjacent LCP: full rows against the unclamped brute force
    val rnd = new scala.util.Random(41)
    val docs = (0 until 20).map { i =>
      (i.toLong,
        (0 until (1 + rnd.nextInt(30)))
          .map(_ => "abc".charAt(rnd.nextInt(3))).mkString)
    }
    lcpRows(docs, longest(docs)) shouldBe bruteRows(docs, Long.MaxValue)
  }

  private def longRepeats(seed: Int, n: Int, minLen: Int, spread: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      (i.toLong,
        (0 until (minLen + rnd.nextInt(spread)))
          .map(_ => "ab".charAt(rnd.nextInt(2))).mkString)
    }
  }

  private val caps = Seq(1L, 3L, 4L, 7L, 8L, 64L)

  test("capped walk: least(lcp, maxLcp) is exact for every cap") {
    // the capped contract: full rows (srank, both (doc,pos)-minimal
    // representatives, least(lcp, cap)) equal the brute force on EVERY
    // pair — including caps that are not powers of two and one that
    // never clamps
    val docs = longRepeats(97, 16, 8, 40)
    (caps :+ longest(docs)).foreach { cap =>
      withClue(s"cap $cap: ") {
        lcpRows(docs, cap) shouldBe bruteRows(docs, cap)
      }
    }
  }

  test("adjacentLcpCapped == adjacentLcp + least(lcp, cap), full rows, every cap") {
    // a capped run equals the exact (cap >= longest document) run with
    // lcp clamped at the cap: same srank, same representative pair
    val corpora = Seq(
      // the empty doc contributes nothing; the 1- and 2-char docs tie
      // with suffixes of longer docs
      "short docs" -> (longRepeats(83, 18, 4, 36) ++
        Seq(99L -> "", 100L -> "b", 101L -> "ab")),
      // longest doc <= 2: the ladder runs no doubling round at all
      "no doubling round" -> Seq(1L -> "ab", 2L -> "b", 3L -> "ba",
        4L -> "", 5L -> "a", 6L -> "ab"))
    for ((name, docs) <- corpora) {
      val exact = lcpRows(docs, longest(docs))
      withClue(s"$name, exact: ") {
        exact shouldBe bruteRows(docs, Long.MaxValue)
      }
      caps.foreach { cap =>
        withClue(s"$name, cap $cap: ") {
          lcpRows(docs, cap) shouldBe
            exact.map(r => r.copy(_6 = math.min(r._6, cap)))
        }
      }
    }
  }

  test("duplicated spans surface as adjacent LCP >= span length; disjoint corpora stay at 0") {
    // the Lee-et-al criterion: the 8-char span shared by two docs MUST
    // show up as an adjacent pair with lcp >= 8 (any suffixes between
    // the two span-suffixes share the same prefix)
    val shared = lcps(Seq(1L -> "xxABCDEFGHyy", 2L -> "zzABCDEFGHww"))
    shared.values.max should be >= 8L
    // character-disjoint docs share nothing: every adjacent lcp is 0
    lcps(Seq(1L -> "abcd", 2L -> "efgh")).values.toSet shouldBe Set(0L)
  }

  test("dupSpans equals brute-force duplicated-region accounting, capped and uncapped") {
    // brute: dupLen(doc, p) = longest prefix of suffix (doc,p) equal to
    // a prefix of ANY other suffix in the corpus; region = merged union
    // of [p, p+min(dupLen,cap)) over dupLen >= minSpan — dup_chars must
    // be CAP-INVARIANT (the doc's argument), span counts too since
    // touching intervals merge
    val rnd = new scala.util.Random(59)
    val docs = (0 until 14).map { i =>
      (i.toLong,
        (0 until (6 + rnd.nextInt(30))).map(_ => "ab".charAt(rnd.nextInt(2))).mkString)
    } :+ (99L -> "zzzzqqqqzzzzqqqq") // guaranteed internal repeats
    def brute(minSpan: Int, cap: Int): Map[Long, (Long, Long)] = {
      val sufs = docs.flatMap { case (did, t2) =>
        (1 to t2.length).map(p => (did, p.toLong, t2.substring(p - 1)))
      }
      def dupLen(me: (Long, Long, String)): Int =
        sufs.filter(s2 => (s2._1, s2._2) != ((me._1, me._2))).map { o =>
          me._3.zip(o._3).takeWhile { case (x, y) => x == y }.size
        }.maxOption.getOrElse(0)
      docs.map { case (did, t2) =>
        val ivs = (1 to t2.length).flatMap { p =>
          val d2 = dupLen((did, p.toLong, t2.substring(p - 1)))
          if (d2 >= minSpan) Some((p.toLong, p.toLong + math.min(d2, cap)))
          else None
        }
        var spans = 0L; var chars = 0L
        var curS = -1L; var curE = -1L
        ivs.foreach { case (s2, e2) =>
          if (curE < 0 || s2 > curE) {
            if (curE >= 0) { spans += 1; chars += curE - curS }
            curS = s2; curE = e2
          } else curE = math.max(curE, e2)
        }
        if (curE >= 0) { spans += 1; chars += curE - curS }
        did -> ((spans, chars))
      }.toMap
    }
    Seq((4, 8), (4, 64), (6, 7)).foreach { case (ms, cap) =>
      val got = Suffix.dupSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
        ms.toLong, cap.toLong)
        .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
      withClue(s"minSpan $ms cap $cap: ") { got shouldBe brute(ms, cap) }
    }
    // cap-invariance of the region: caps 8 and 64 agree everywhere
    brute(4, 8) shouldBe brute(4, 64)
  }

  test("scrubDupSpans rebuilds exactly the complement of the duplicated regions (== brute force)") {
    // scrub only depends on the COVERED-position set, so the brute force
    // marks positions covered by any [p, p+min(dupLen,cap)) interval with
    // dupLen >= minSpan and keeps the rest in order — interval merging
    // cannot change the set
    val rnd = new scala.util.Random(61)
    val docs = (0 until 12).map { i =>
      (i.toLong,
        (0 until (6 + rnd.nextInt(30))).map(_ => "ab".charAt(rnd.nextInt(2))).mkString)
    } ++ Seq(
      99L -> "zzzzqqqqzzzzqqqq", // internal repeats
      101L -> "ccccccccdddddddd", // planted identical pair:
      102L -> "ccccccccdddddddd") // fully-scrubbed docs at minSpan <= 16
    def bruteScrub(minSpan: Int, cap: Int): Map[Long, String] = {
      val sufs = docs.flatMap { case (did, t2) =>
        (1 to t2.length).map(p => (did, p.toLong, t2.substring(p - 1)))
      }
      def dupLen(me: (Long, Long, String)): Int =
        sufs.filter(s2 => (s2._1, s2._2) != ((me._1, me._2))).map { o =>
          me._3.zip(o._3).takeWhile { case (x, y) => x == y }.size
        }.maxOption.getOrElse(0)
      docs.map { case (did, t2) =>
        val covered = Array.fill(t2.length + 2)(false)
        (1 to t2.length).foreach { p =>
          val d2 = dupLen((did, p.toLong, t2.substring(p - 1)))
          if (d2 >= minSpan)
            (p until p + math.min(d2, cap)).foreach(q => covered(q) = true)
        }
        did -> (1 to t2.length).filterNot(covered).map(p => t2.charAt(p - 1)).mkString
      }.toMap
    }
    Seq((4, 8), (6, 64)).foreach { case (ms, cap) =>
      val got = Suffix.scrubDupSpans(docs.toDF("doc_id", "text"), "doc_id",
        "text", ms.toLong, cap.toLong)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      val exp = bruteScrub(ms, cap)
      withClue(s"minSpan $ms cap $cap: ") {
        got.keySet shouldBe exp.keySet
        exp.foreach { case (did, scrub) =>
          val (n, kept, s2) = got(did)
          n shouldBe docs.find(_._1 == did).get._2.length.toLong
          s2 shouldBe scrub
          kept shouldBe scrub.length.toLong
        }
        // the planted identical pair scrubs to empty at both geometries
        got(101L)._3 shouldBe ""
        got(102L)._2 shouldBe 0L
      }
    }
  }

  test("empty and single-char documents") {
    // empty doc contributes no positions; single chars rank by byte
    ranks(Seq(1L -> "", 2L -> "b", 3L -> "a")) shouldBe Map(
      (3L, 1L) -> 0L, (2L, 1L) -> 1L)
  }
}
