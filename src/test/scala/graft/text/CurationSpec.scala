package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Corpus-curation operators (decontamination, repetition metrics, mixture
  * sampling) against hand-computed ground truth.
  */
class CurationSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  test("decontaminationReport counts shared distinct n-grams per train doc") {
    val train = Seq(
      (1L, "a b c d e"),        // trigrams: abc bcd cde -> shares abc bcd
      (2L, "x y z w"),          // trigrams: xyz yzw -> shares none
      (3L, "a b c a b c d"),    // distinct trigrams: abc bca cab bcd -> shares abc bcd
      (4L, "p q")               // < 3 words -> excluded
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "a b c d q r s")).toDF("doc_id", "text")

    val out = Curation.decontaminationReport(train, eval, n = 3)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

    assert(out === Array(
      (1L, 3L, 2L, 0.666667),
      (2L, 2L, 0L, 0.0),
      (3L, 4L, 2L, 0.5)))
  }

  test("decontamination of an exact eval copy is total") {
    val train = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    val eval = Seq((2L, "one two three four five six")).toDF("doc_id", "text")
    val r = Curation.decontaminationReport(train, eval, n = 3).collect().head
    assert(r.getAs[Double]("contamination") === 1.0)
  }

  test("repetition metrics match hand-computed fractions") {
    val docs = Seq(
      (1L, "a a a b"),           // top 3/4, distinct 2/4, 2grams {aa,aa,ab}: 1-2/3
      (2L, "u v w x y"),         // no repetition at all
      (3L, "solo")               // single word: n_2grams 0 -> dup_2gram_frac 0
    ).toDF("doc_id", "text")

    val out = Curation.withRepetitionMetrics(docs)
      .select("doc_id", "n_words", "top_word_count", "top_word_frac",
        "dup_word_frac", "dup_2gram_frac", "repetitive")
      .orderBy("doc_id")
      .collect()

    val r1 = out(0)
    assert((r1.getLong(1), r1.getLong(2)) === ((4L, 3L)))
    assert(r1.getDouble(3) === 0.75)
    assert(r1.getDouble(4) === 0.5)
    assert(r1.getDouble(5) === 0.333333)
    assert(r1.getInt(6) === 1)

    val r2 = out(1)
    assert(r2.getDouble(3) === 0.2)
    assert(r2.getDouble(4) === 0.0)
    assert(r2.getDouble(5) === 0.0)
    assert(r2.getInt(6) === 1) // 1/5 = 0.2 >= 0.12 top-word default

    val r3 = out(2)
    assert((r3.getLong(1), r3.getLong(2)) === ((1L, 1L)))
    assert(r3.getDouble(5) === 0.0)
  }

  test("repetition metrics tokenize dirty text like Spark split") {
    // trailing space, double space, empty string: the UDF must count the
    // same tokens as Spark's split() (which keeps empty tokens) so n_words
    // always equals withQuality's n_tokens inside curate()
    val docs = Seq(
      (1L, "a b "),   // trailing space -> 3 tokens (a, b, "")
      (2L, "a  b"),   // double space -> 3 tokens (a, "", b)
      (3L, "")        // empty -> 1 empty token
    ).toDF("doc_id", "text")
    val out = Curation.withRepetitionMetrics(docs)
      .select(col("doc_id"), col("n_words"),
        size(split(col("text"), " ")).cast("long").as("n_spark"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    for ((id, nWords, nSpark) <- out)
      assert(nWords == nSpark, s"doc $id: UDF $nWords != Spark split $nSpark")
  }

  test("repetition flag respects custom thresholds") {
    val docs = Seq((1L, "u v w x y")).toDF("doc_id", "text")
    val strict = Curation.withRepetitionMetrics(docs, topWordFracMax = 0.5)
      .select("repetitive").collect().head.getInt(0)
    assert(strict === 0)
  }

  test("sampleHash is the md5-hex60 derivation") {
    val got = spark.range(3).select(Curation.sampleHash(col("id")))
      .as[Long].collect()
    val want = (0L until 3L).map { id =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"mix:$id".getBytes("UTF-8"))
      val hex = d.take(8).map(b => f"$b%02x").mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    assert(got.toSeq === want)
  }

  test("mixtureSample is deterministic, layout-independent, and rate-accurate") {
    val docs = spark.range(20000)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, "en").otherwise("xx").as("lang"))
    val rates = Map("en" -> 0.5)

    val kept = Curation.mixtureSample(docs, rates).select("doc_id")
    val a = kept.as[Long].collect().sorted.toSeq
    val b = Curation.mixtureSample(docs.repartition(13), rates)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(a === b)

    // unknown group at defaultRate 0 -> dropped entirely
    assert(!a.exists(_ % 2 == 1))
    // en kept fraction ~ 0.5 (10k trials, 4 sigma ~ 2%)
    val frac = a.size / 10000.0
    assert(math.abs(frac - 0.5) < 0.02, s"kept frac $frac")
  }

  test("stratifiedSample takes exactly perGroup docs, deterministically") {
    val docs = spark.range(1000)
      .select(col("id").as("doc_id"),
        when(col("id") % 3 === 0, "en").otherwise("de").as("lang"))
    val a = Curation.stratifiedSample(docs, perGroup = 40)
    assert(a.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === Map("en" -> 40L, "de" -> 40L))
    // layout-independent: same sample under a different partitioning
    val b = Curation.stratifiedSample(docs.repartition(7), perGroup = 40)
    assert(a.select("doc_id").as[Long].collect().sorted.toSeq ===
      b.select("doc_id").as[Long].collect().sorted.toSeq)
    // a smaller sample is a prefix of a larger one (rank stability)
    val small = Curation.stratifiedSample(docs, perGroup = 10)
      .select("doc_id").as[Long].collect().toSet
    val large = a.select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(large))
    // independent of the mixture draw: with a SHARED salt every stratified
    // doc (smallest hashes) would sit inside a rate-0.5 mixture keep-set
    // (overlap 1.0 = maximal train/eval contamination); distinct salts put
    // the overlap near the 0.5 an independent draw gives
    val mixKept = Curation.mixtureSample(docs, Map("en" -> 0.5, "de" -> 0.5))
      .select("doc_id").as[Long].collect().toSet
    val overlap = large.count(mixKept) / 80.0
    assert(overlap > 0.2 && overlap < 0.8, s"sampler correlation: overlap $overlap")
  }

  test("weightedSample prefers heavy docs, is exact-count and layout-independent") {
    val docs = spark.range(1000)
      .select(col("id").as("doc_id"), lit("en").as("lang"),
        // half the docs carry 100x the weight of the other half
        when(col("id") < 500, 100L).otherwise(1L).as("wt"))
    val a = Curation.weightedSample(docs, perGroup = 50, weightCol = "wt")
    val ids = a.select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids.size === 50)
    // a 100:1 weight ratio makes a light doc's win probability ~1e-3; out
    // of 50 winners expect ~0 light docs (allow a couple)
    assert(ids.count(_ >= 500) <= 3, s"light docs won: ${ids.count(_ >= 500)}")
    // deterministic under any partitioning
    val b = Curation.weightedSample(docs.repartition(7), perGroup = 50, weightCol = "wt")
    assert(b.select("doc_id").as[Long].collect().sorted.toSeq === ids)
    // null / non-positive weights are excluded entirely
    val dirty = spark.range(10)
      .select(col("id").as("doc_id"), lit("en").as("lang"),
        when(col("id") < 5, -1L).as("wt"))   // 5 negative, 5 null
    assert(Curation.weightedSample(dirty, perGroup = 10, weightCol = "wt").count() === 0)
  }

  test("curationReport rollup rows are consistent with their subtotals") {
    val docs = Seq(
      (1L, (1 to 60).map(i => s"v$i").mkString(" "), "en", "web"),
      (2L, (1 to 60).map(i => s"w$i").mkString(" "), "en", "web"),
      (3L, "tiny doc here", "en", "books"),
      (4L, (1 to 60).map(i => s"x$i").mkString(" "), "zh", "books")
    ).toDF("doc_id", "text", "lang", "source")
    val rows = Curation.curationReport(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(rows(("ALL", "ALL"))._1 == 4)
    assert(rows(("web", "ALL"))._1 == 2)
    assert(rows(("books", "too_short"))._1 == 1)
    assert(rows(("books", "lang_filtered"))._1 == 1)
    // token subtotals add up: group rows sum to their ALL row
    val webTokens = rows(("web", "kept"))._2
    assert(rows(("web", "ALL"))._2 == webTokens)
    assert(rows(("ALL", "ALL"))._2 ==
      rows(("web", "ALL"))._2 + rows(("books", "ALL"))._2)
  }

  test("packSequences lays docs end to end and is shardSize-invariant") {
    val docs = Seq(
      // stream A: 3+4+2 tokens -> offsets 0,3,7
      (10L, "a b c", "A"), (11L, "d e f g", "A"), (12L, "h i", "A"),
      // stream B: 5+1 tokens -> offsets 0,5
      (20L, "p q r s t", "B"), (21L, "u", "B")
    ).toDF("doc_id", "text", "source")

    val out = Curation.packSequences(docs, seqTokens = 4, shardSize = 1L << 16)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getInt(5)))
    assert(out === Array(
      (10L, "A", 3L, 0L, 0L, 0),   // [0,3) inside seq 0
      (11L, "A", 4L, 3L, 0L, 1),   // [3,7) straddles the 4-token boundary
      (12L, "A", 2L, 7L, 1L, 1),   // [7,9) straddles 8
      (20L, "B", 5L, 0L, 0L, 1),   // [0,5) straddles 4
      (21L, "B", 1L, 5L, 1L, 0)))

    // the two-level prefix sum is exact for ANY shard size: force many
    // shards (shardSize=1 -> one shard per doc) and a mid split
    for (ss <- Seq(1L, 2L)) {
      val sharded = Curation.packSequences(docs, seqTokens = 4, shardSize = ss)
        .orderBy("doc_id")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getInt(5)))
      assert(sharded === out, s"shardSize=$ss diverged")
    }
  }

  test("vocabulary ranks by document frequency with smoothed idf") {
    val docs = Seq(
      (1L, "cat dog cat"),   // cat tf2 df1, dog tf1 df1
      (2L, "cat fish"),
      (3L, "fish fish fish")
    ).toDF("doc_id", "text")
    val out = Curation.vocabulary(docs, topK = 2).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // df: cat 2, fish 2, dog 1 -> top2 = (cat, fish) tie broken by word
    assert(out === Array(
      ("cat", 3L, 2L, math.rint(math.log(4.0 / 3.0) * 1e6) / 1e6),
      ("fish", 4L, 2L, math.rint(math.log(4.0 / 3.0) * 1e6) / 1e6)))
  }

  test("curate flags each rule and resolves reasons by priority") {
    val long90 = (1 to 90).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, long90, "en"),                                  // kept (90 > 88 -> too_long!)
      (2L, (1 to 60).map(i => s"v$i").mkString(" "), "en"), // kept
      (3L, (1 to 60).map(i => s"v$i").mkString(" "), "en"), // exact dup of 2 -> exact_dup
      (4L, "tiny doc here", "en"),                          // 3 tokens -> too_short
      (5L, (1 to 60).map(i => s"x$i").mkString(" "), "zh"), // lang_filtered
      (6L, (("rep rep rep rep " * 15).trim), "en")          // 60 tokens all 'rep' -> repetitive
    ).toDF("doc_id", "text", "lang")

    val out = Curation.curate(docs).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(6), r.getInt(7), r.getString(8)))
    assert(out === Array(
      (1L, 0, 0, "too_long"),
      (2L, 0, 1, "kept"),
      (3L, 1, 0, "exact_dup"),
      (4L, 0, 0, "too_short"),
      (5L, 0, 0, "lang_filtered"),
      (6L, 0, 0, "repetitive")))

    // priority: a doc that is both a dup and too short reports exact_dup
    val both = Seq((1L, "a b", "en"), (2L, "a b", "en")).toDF("doc_id", "text", "lang")
    val r2 = Curation.curate(both).orderBy("doc_id").collect()
    assert(r2(0).getString(8) === "too_short")
    assert(r2(1).getString(8) === "exact_dup")
  }

  test("bloom decontamination never misses a true hit, and is exact at large m") {
    val train = Seq(
      (1L, "a b c d e"),        // shares abc bcd with eval
      (2L, "x y z w"),          // shares none
      (3L, "a b c a b c d"),    // shares abc bcd
      (4L, "p q"),              // < 3 words -> excluded
      (5L, null.asInstanceOf[String]) // null text -> excluded, no NPE
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "a b c d q r s")).toDF("doc_id", "text")

    val exact = Curation.decontaminationReport(train, eval, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // large m, tiny corpus: P(any false positive) ~ 0 -> bloom == exact
    val big = Curation.bloomDecontaminationReport(train, eval, n = 3,
        mBits = 1 << 22, kHashes = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(big.keySet === Set(1L, 2L, 3L))
    assert(big(1L) === ((3L, 2L)))
    assert(big(2L) === ((2L, 0L)))
    assert(big(3L) === ((4L, 2L)))
    // ANY m: no false negatives — flagged >= exact shared, per doc
    for (m <- Seq(64, 1 << 10)) {
      val out = Curation.bloomDecontaminationReport(train, eval, n = 3,
          mBits = m, kHashes = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      for ((id, n, flagged) <- out) {
        assert(flagged >= exact(id), s"m=$m doc $id lost a true hit")
        assert(flagged <= n)
      }
    }
  }

  test("tfidfTopTerms ranks hand-computed scores with deterministic ties") {
    val docs = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana common common"),
      (3L, "cherry common")
    ).toDF("doc_id", "text")
    // n=3: idf(apple)=idf(cherry)=ln(4/2), idf(banana)=ln(4/3), idf(common)=0
    val out = Curation.tfidfTopTerms(docs, vocabTopK = 10, perDoc = 2)
      .orderBy("doc_id", "term_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val lnHalf = r6(math.log(2.0))      // 0.693147
    val ln43 = r6(math.log(4.0 / 3.0))  // 0.287682
    assert(out === Array(
      (1L, "apple", 2L, r6(2 * lnHalf)),
      (1L, "banana", 1L, ln43),
      (2L, "banana", 1L, ln43),
      (2L, "common", 2L, 0.0),
      (3L, "cherry", 1L, lnHalf),
      (3L, "common", 1L, 0.0)))
  }

  test("waterFill matches the iterative redistribution algorithm on random cases") {
    // reference implementation: repeatedly saturate any group whose supply
    // sits under the current fair-share line, redistribute, until stable
    def iterative(totals: Seq[(String, Long)], weights: Map[String, Long],
                  budget: Long): Map[String, (Boolean, Double)] = {
      var active = totals.toMap
      var b = BigInt(budget)
      var sat = Set.empty[String]
      var changed = true
      while (changed && active.nonEmpty) {
        changed = false
        val w = BigInt(active.keysIterator.map(weights).sum)
        for ((g, tok) <- active.toSeq.sortBy(_._1)
             if !changed && BigInt(tok) * w <= BigInt(weights(g)) * b) {
          sat += g; b -= tok; active -= g; changed = true
        }
      }
      val w = BigInt(active.keysIterator.map(weights).sum)
      totals.map { case (g, tok) =>
        g -> (if (sat(g)) (true, 1.0)
              else (false, math.min(1.0,
                b.toDouble / w.toDouble * weights(g).toDouble / tok.toDouble)))
      }.toMap
    }
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val n = 2 + rnd.nextInt(7)
      val totals = (0 until n).map(i => s"g$i" -> (rnd.nextInt(10000).toLong))
      val weights = (0 until n).map(i => s"g$i" -> (1L + rnd.nextInt(9))).toMap
      val total = totals.map(_._2).sum
      val budget = (rnd.nextDouble() * 1.2 * total).toLong
      val got = Curation.waterFill(totals, weights, budget)
        .map(r => r.group -> ((r.saturated, r.rate))).toMap
      val want = iterative(totals, weights, budget)
      assert(got.keySet === want.keySet)
      for (g <- got.keySet) {
        assert(got(g)._1 === want(g)._1,
          s"saturation mismatch at $g: totals=$totals weights=$weights budget=$budget")
        assert(math.abs(got(g)._2 - want(g)._2) < 1e-9,
          s"rate mismatch at $g: ${got(g)._2} vs ${want(g)._2}")
      }
      // feasible budget is hit exactly in expectation: sum min(tok, rate*tok)
      if (budget <= total && got.nonEmpty) {
        val expected = totals.map { case (g, tok) => got(g)._2 * tok }.sum
        assert(math.abs(expected - budget) < 1e-6 * math.max(1.0, budget.toDouble),
          s"expected tokens $expected != budget $budget")
      }
    }
  }

  test("solveTokenBudget end to end: saturated groups keep everything, budget is met") {
    val docs = Seq(
      (1L, "a a a a a a a a a a", "en"),   // en: 30 tokens over 3 docs
      (2L, "b b b b b b b b b b", "en"),
      (3L, "c c c c c c c c c c", "en"),
      (4L, "d d d d d", "de"),             // de: 5 tokens
      (5L, "e e e e e", "fr")              // fr: 5 tokens, no weight -> dropped
    ).toDF("doc_id", "text", "lang")
    val solved = Curation.solveTokenBudget(docs,
      weights = Map("en" -> 1L, "de" -> 1L), budgetTokens = 15L)
    val byG = solved.map(r => r.group -> r).toMap
    assert(byG.keySet === Set("en", "de"))
    // fair share at W=2: de's line 5/1 < en's 30/1; de saturates (5 <= 7.5),
    // en keeps (15-5)/1 * 1/30 = 1/3
    assert(byG("de").saturated && byG("de").rate === 1.0)
    assert(!byG("en").saturated && math.abs(byG("en").rate - 10.0 / 30.0) < 1e-12)
  }

  test("zipfSpectrum matches the integer-grid regression computed by hand") {
    // one stream: freqs a=8 b=4 c=2 d=1 (plus tie pair x=y=3 to pin the
    // alphabetical tie-break) -> ranks: a1 x2 y3 b4... wait: freq desc =
    // 8, 4, 3, 3, 2, 1 -> a, b, x, y, c, d
    val words =
      Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(3)("x") ++
        Seq.fill(3)("y") ++ Seq.fill(2)("c") ++ Seq("d")
    val docs = Seq((1L, words.mkString(" "), "s1")).toDF("doc_id", "text", "source")
    val out = Curation.zipfSpectrum(docs, topK = 100)
      .select("source", "n_ranks", "slope", "intercept").collect()
    assert(out.length == 1)
    val row = out.head
    assert(row.getLong(1) == 6L)
    // expected via the same integer-grid formula
    val freqs = Seq(8L, 4L, 3L, 3L, 2L, 1L)
    val pts = freqs.zipWithIndex.map { case (f, i) =>
      (math.floor(math.log((i + 1).toDouble) * 1e6).toLong,
        math.floor(math.log(f.toDouble) * 1e6).toLong)
    }
    val n = pts.length.toLong
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum; val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy).toDouble / (n * sxx - sx * sx).toDouble
    val intercept = ((sy.toDouble / 1e6) - slope * (sx.toDouble / 1e6)) / n
    assert(row.getDouble(2) == math.rint(slope * 1e6) / 1e6 ||
      math.abs(row.getDouble(2) - slope) < 1e-6)
    assert(math.abs(row.getDouble(3) - intercept) < 1e-6)
    assert(row.getDouble(2) < 0, "zipf slope must be negative")
  }

  test("chunkDocuments emits stride-spaced windows with a short tail") {
    // 7 tokens, chunk 4, stride 2 -> starts 0,2,4,6; lengths 4,4,3,1
    val docs = Seq((1L, "a b c d e f g"), (2L, "x"), (3L, null: String))
      .toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, chunkTokens = 4, stride = 2)
      .orderBy("doc_id", "chunk_idx")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getString(4)))
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(t => (t._2, t._3, t._4)).toSeq ===
      Seq((0, 0L, 4), (1, 2L, 4), (2, 4L, 3), (3, 6L, 1)))
    def h(s: String) = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(d1(0)._5 === h("a b c d"))
    assert(d1(2)._5 === h("e f g"))
    // single-token and null docs each produce exactly one chunk
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, 0L, 1, h("x"))))
    assert(out.filter(_._1 == 3L).toSeq === Seq((3L, 0, 0L, 1, h(""))))
  }

  test("ngramNovelty counts shingles shared with other docs") {
    val docs = Seq(
      (1L, "a b a b c"), // distinct bigrams: "a b","b a","b c"
      (2L, "a b x"),     // "a b","b x"
      (3L, "z z"),       // "z z"
      (4L, "q")          // < 2 words -> absent
    ).toDF("doc_id", "text")
    val out = Curation.ngramNovelty(docs, n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out === Array(
      (1L, 3L, 1L, 0.666667), // shares "a b" with doc 2
      (2L, 2L, 1L, 0.5),
      (3L, 1L, 0L, 1.0)))
  }

  test("invertedIndex ranks postings by tf then doc, terms by df") {
    val docs = Seq(
      (1L, "w w w x"),
      (2L, "w x x"),
      (3L, "w y"),
      (4L, "y")
    ).toDF("doc_id", "text")
    val out = Curation.invertedIndex(docs, minDf = 2, topPostings = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out === Array(
      ("w", 3L, 5L, "1,2"),  // tf 3 in doc 1; tf-1 tie between docs 2,3 -> doc 2
      ("x", 2L, 3L, "2,1"),
      ("y", 2L, 2L, "3,4")))
    // minDf prunes singleton terms, topK truncates the df ranking
    val top1 = Curation.invertedIndex(docs, minDf = 2, topPostings = 2, topK = 1)
      .collect().map(_.getString(0)).toSeq
    assert(top1 === Seq("w"))
  }

  test("bm25Rank matches the hand-computed formula and ranks deterministically") {
    // 4 docs, query = {cat}: df=2, N=4, avgdl = (3+2+4+1)/4 = 2.5
    val docs = Seq(
      (1L, "cat cat dog"),   // tf=2, dl=3
      (2L, "cat fish"),      // tf=1, dl=2
      (3L, "dog dog dog x"), // tf=0 -> excluded
      (4L, "bird")           // tf=0 -> excluded
    ).toDF("doc_id", "text")
    val out = Curation.bm25Rank(docs, Seq("cat"), k1 = 1.2, b = 0.75, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val n = 4.0; val df = 2.0; val avgdl = 10.0 / 4.0
    val idf = math.rint(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) * 1e6) / 1e6
    def score(tf: Double, dl: Double): Double =
      math.floor(idf * (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * (dl / avgdl))) * 1e6) / 1e6
    assert(out.map(_._1).toSeq === Seq(1L, 2L)) // doc 1 outranks doc 2
    assert(out(0)._2 === 3L && out(1)._2 === 2L)
    assert(math.abs(out(0)._3 - score(2.0, 3.0)) < 1e-9)
    assert(math.abs(out(1)._3 - score(1.0, 2.0)) < 1e-9)
  }

  test("splitAssign is exhaustive, stable under appends, and rate-accurate") {
    val fracs = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val docs = Seq.tabulate(2000)(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
    val labeled = Curation.splitAssign(docs, fracs)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(labeled.size === 2000)
    assert(labeled.values.toSet.subsetOf(Set("train", "val", "test")))
    // rate accuracy at n=2000 (md5-uniform: ±4σ ≈ ±2.7% on train)
    val n = labeled.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(n("train") - 1800) < 110, s"train count ${n("train")}")
    assert(n("val") > 40 && n("val") < 180)
    // a doc's split never changes when the corpus grows
    val bigger = Seq.tabulate(4000)(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
    val relabeled = Curation.splitAssign(bigger, fracs)
      .collect().map(r => (r.getLong(0), r.getString(2))).toMap
    labeled.foreach { case (id, s) => assert(relabeled(id) === s, s"doc $id") }
    // single-split degenerate case
    val one = Curation.splitAssign(docs, Seq("all" -> 1.0))
      .select("split").distinct().collect().map(_.getString(0)).toSeq
    assert(one === Seq("all"))
    // malformed fractions rejected
    intercept[IllegalArgumentException] {
      Curation.splitLabel(col("doc_id"), Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("bm25Rank scoring pass is shuffle-free: only the stats agg and final top-k exchange") {
    val docs = Seq.tabulate(50)(i => (i.toLong, s"w$i cat dog")).toDF("doc_id", "text")
    val plan = Curation.bm25Rank(docs, Seq("cat", "dog"), topK = 5)
      .queryExecution.executedPlan.toString
    // no explode/join of the corpus: per-term tf stays an in-row filter
    assert(!plan.contains("Generate"), s"corpus must not be exploded:\n$plan")
    assert(plan.contains("TakeOrdered"), s"final top-k must be bounded:\n$plan")
    // sum over terms happens on the exact integer grid (no double sum)
    assert(!plan.contains("SortMergeJoin"), s"stats side must broadcast:\n$plan")
  }
}
