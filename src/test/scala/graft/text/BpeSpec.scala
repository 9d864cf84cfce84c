package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Fixed-merge-table BPE: hand-traced merge chains, priority-order
  * observability, null/empty edges, and the tokenizer-aware packing
  * variant's equivalence to its whitespace twin under a unit cost. */
class BpeSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("encodeWord replays hand-traced merge chains") {
    // table: l+e(11) -> t+a(20) -> b+le(21) -> ta+ble(22)
    assert(Bpe.encodeWord("table").toSeq === Seq("table"))
    // scan: a+n(rank 3) must merge BEFORE s+c(24) for sc+an(25) to fire
    assert(Bpe.encodeWord("scan").toSeq === Seq("scan"))
    // data: a+t(7) beats t+a(20); then d+at(26), dat+a(27)
    assert(Bpe.encodeWord("data").toSeq === Seq("data"))
    // value: a+l(19) -> v+al(29) -> u+e(30) -> val+ue(31)
    assert(Bpe.encodeWord("value").toSeq === Seq("value"))
    // sort: only o+r applies; s and t stay single chars
    assert(Bpe.encodeWord("sort").toSeq === Seq("s", "or", "t"))
    // unknown letters stay unmerged
    assert(Bpe.encodeWord("zz").toSeq === Seq("z", "z"))
    assert(Bpe.encodeWord("").toSeq === Seq.empty)
  }

  test("leftmost occurrence of the best pair merges first") {
    // "inin": pairs i+n(2) at 0 and 2, n+i none -> leftmost i+n first:
    // [in, i, n] -> again i+n -> [in, in]; no in+in merge
    assert(Bpe.encodeWord("inin").toSeq === Seq("in", "in"))
  }

  test("tokenizeUdf counts and stream match per-word encoding") {
    val df = Seq((1L, "the scan"), (2L, ""), (3L, "a  b")).toDF("doc_id", "text")
    val out = df.withColumn("b", Bpe.tokenizeUdf(col("text")))
      .select(col("doc_id"), col("b._1").as("n"), col("b._2").as("s"))
      .orderBy("doc_id").collect()
    assert(out(0).getLong(1) === 2L) // [the] [scan]
    assert(out(0).getString(2) === "the | scan")
    assert(out(1).getLong(1) === 0L) // one empty word, zero tokens
    assert(out(1).getString(2) === "")
    // double space -> empty middle word: "a | | b"
    assert(out(2).getLong(1) === 2L)
    assert(out(2).getString(2) === "a |  | b")
  }

  test("packSequencesBy with whitespace cost equals packSequences") {
    val docs = Seq(
      (0L, "w w w", "s1"), (1L, "w w", "s1"), (2L, "w", "s1"),
      (3L, "w w w w", "s2")).toDF("doc_id", "text", "source")
    val a = Curation.packSequences(docs, seqTokens = 4, shardSize = 2)
      .orderBy("doc_id").collect().map(_.toSeq)
    val b = Curation.packSequencesBy(docs,
        size(split(col("text"), " ")).cast("long"),
        seqTokens = 4, shardSize = 2, idCol = "doc_id", streamCol = "source")
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(a.toSeq === b.toSeq)
  }

  test("packSequencesBy under a BPE budget uses BPE counts") {
    val docs = Seq(
      (0L, "table table", "s"),  // 2 BPE tokens (4 had it been chars.. 2 words)
      (1L, "sort", "s")          // 3 BPE tokens: s or t
    ).toDF("doc_id", "text", "source")
    val out = Curation.packSequencesBy(docs, Bpe.tokenCount(col("text")),
        seqTokens = 4, shardSize = 16, idCol = "doc_id", streamCol = "source")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens") === 2L)
    assert(out(0).getAs[Long]("begin_offset") === 0L)
    assert(out(1).getAs[Long]("n_tokens") === 3L)
    assert(out(1).getAs[Long]("begin_offset") === 2L)
    // doc 1 spans offsets 2..4 across the 4-token boundary
    assert(out(1).getAs[Int]("straddles") === 1)
  }
}
