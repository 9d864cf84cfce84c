package graft.text

import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixtures for the unigram-LM Viterbi kernel (the q356
  * oracle pins full-pipeline cross-engine exactness; this pins the DP's
  * local contracts: packed (cost, n_pieces) ordering, smallest-split
  * tie-break, vocabulary misses). */
class UnigramSpec extends AnyFunSuite with graft.SessionSuite {

  private def seg(w: String, cost: (String, Long)*): Seq[String] =
    Unigram.viterbi(w, cost.toMap).toSeq

  test("prefers the cheaper path; piece count breaks cost ties") {
    // "abcd": pieces ab(10) + cd(10) = 20, vs abcd(25): packed values
    // 20*64+2=1282 vs 25*64+1=1601 -> the split wins on cost alone
    assert(seg("abcd", "a" -> 50L, "b" -> 50L, "c" -> 50L, "d" -> 50L,
      "ab" -> 10L, "cd" -> 10L, "abcd" -> 25L) == Seq("ab", "cd"))
    // equal COSTS: abcd(20) vs ab+cd(10+10): packed 20*64+1 < 20*64+2 ->
    // fewer pieces win
    assert(seg("abcd", "a" -> 50L, "b" -> 50L, "c" -> 50L, "d" -> 50L,
      "ab" -> 10L, "cd" -> 10L, "abcd" -> 20L) == Seq("abcd"))
  }

  test("exact tie (cost AND count) breaks to the smallest split point") {
    // "ab": a+b = ab in cost? single pieces: "ab"(10) vs "a"(5)+"b"(5):
    // 10*64+1=641 < 10*64+2 -> "ab". For a genuine full tie use two
    // 2-splits of "abc": (a)(bc) vs (ab)(c), equal costs both ways ->
    // dp scans j ascending with strict <, so the FIRST split (smaller j
    // at the final position = LONGER last piece) is kept: bp(3) prefers
    // j=1 -> (a)(bc).
    assert(seg("abc", "a" -> 5L, "b" -> 99L, "c" -> 5L,
      "ab" -> 5L, "bc" -> 5L) == Seq("a", "bc"))
  }

  test("vocabulary misses are skipped; single chars guarantee totality") {
    assert(seg("xyz", "x" -> 7L, "y" -> 7L, "z" -> 7L, "xy" -> 100L)
      == Seq("x", "y", "z"))
  }

  test("end-to-end: pieces above minCount dominate the census") {
    import spark.implicits._
    val docs = (0 until 300).map(i => (i.toLong, "hashjoin scan hashjoin"))
      .toDF("doc_id", "text")
    val top = Unigram.topPieces(docs, minCount = 100L, topK = 5, rounds = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // "hashjoin" (8 chars) must segment into two 4-char pieces; "scan" is
    // a single piece — all with count 300 (hash/join at 600: two uses/doc)
    val m = top.toMap
    assert(m("hash") == 600L && m("join") == 600L && m("scan") == 300L,
      s"got ${top.mkString(",")}")
  }
}
