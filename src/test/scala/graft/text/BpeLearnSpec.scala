package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** Bpe.learnMerges vs the hand-traced Sennrich learn_bpe sequence on the
  * classic low/lower/newest/widest corpus (weights chosen so every argmax
  * is unique), plus greedy-overlap and early-exhaustion edge cases. */
class BpeLearnSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("reference corpus: merge sequence matches the hand-traced algorithm") {
    val docs = Seq(
      "low low low lower lower newest newest newest widest",
      "low lowest newest new new new").toDF("text")
    val got = Bpe.learnMerges(docs, rounds = 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // traced by hand (and cross-checked against an independent Python
    // implementation of learn_bpe): e+w(7) l+o(7) lo+w(7) n+ew(7) e+s(6)
    // es+t(6) — ties at 7 and 6 resolved by (left, right) ascending.
    assert(got.toSeq === Seq(
      (1, "e", "w", 7L), (2, "l", "o", 7L), (3, "lo", "w", 7L),
      (4, "n", "ew", 7L), (5, "e", "s", 6L), (6, "es", "t", 6L)))
  }

  test("greedy left-to-right: run of identical symbols merges non-overlapping") {
    // 'aaa' x3 and 'ab' x1: round 1 merges (a,a) with weight 2*3=6 (two
    // non-overlapping (a,a) adjacencies per 'aaa'? no — PAIR COUNT is over
    // adjacencies (2 per 'aaa' = 6 total), but the APPLICATION is greedy:
    // 'aaa' -> [aa, a]. Round 2 must then see pair (aa, a) with weight 3.
    val docs = Seq("aaa aaa aaa ab").toDF("text")
    val got = Bpe.learnMerges(docs, rounds = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq((1, "a", "a", 6L), (2, "aa", "a", 3L)))
  }

  test("vocabulary of single-char words exhausts: zero merge rows") {
    val docs = Seq("a b c a b").toDF("text")
    assert(Bpe.learnMerges(docs, rounds = 4).collect().isEmpty)
  }
}
