package graft.text

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Dedup/similarity/text-analysis operators against planted ground truth. */
class TextOpsSpec extends AnyFunSuite with graft.SessionSuite {

  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private def mutate(s: String, i: Int): String = {
    val w = s.split(" ")
    w(i % w.length) = "mutated" + i
    w.mkString(" ")
  }

  /** 100 distinct docs + 3 planted near-dup clusters + 2 exact dups. */
  private lazy val docs = {
    val rnd = new scala.util.Random(11)
    // vocab large enough that random docs are NOT bag-of-words-similar
    // (simhash legitimately flags tiny-vocab docs as near-dups)
    val vocab = Array.tabulate(100)(i => "tok" + i)
    val distinct = (0 until 100).map { i =>
      (i.toLong, Seq.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val nearDups = Seq(
      (200L, base), (201L, mutate(base, 3)),          // hamming-close pair
      (210L, base + " extra tail words here"), (211L, base + " extra tail words there"),
      (220L, distinct(5)._2), (221L, mutate(distinct(5)._2, 7)))
    val exactDups = Seq((300L, distinct(0)._2), (301L, distinct(1)._2))
    (distinct ++ nearDups ++ exactDups).toDF("doc_id", "text")
  }

  test("exact dedup finds planted exact duplicates and keeps min id") {
    // planted: 300==doc0, 301==doc1, 220==doc5 (the near-dup cluster seed)
    val groups = TextOps.exactDupGroups(docs)
    assert(groups.filter($"n_copies" > 1).count() == 3)
    val kept = TextOps.dedupExact(docs)
    assert(kept.count() == docs.count() - 3)
    assert(kept.filter($"doc_id".isin(220L, 300L, 301L)).count() == 0, "min-id should win")
  }

  test("minhash LSH surfaces all planted near-dup pairs") {
    val sigs = TextOps.minhashSignatures(docs)
    val cands = TextOps.minhashCandidates(sigs, threshold = 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    for (pair <- Seq((200L, 201L), (210L, 211L), (220L, 221L)))
      assert(cands.contains(pair), s"missing planted pair $pair")
    // exact dups are trivially candidates with est 1.0
    val est = TextOps.minhashCandidates(sigs, threshold = 0.99)
      .as[(Long, Long, Double)].collect()
    assert(est.exists { case (a, b, j) => j == 1.0 })
  }

  test("bandBuckets: 8 deterministic buckets per doc; dup docs share all 8") {
    val sigs = TextOps.minhashSignatures(docs)
    val bb = TextOps.bandBuckets(sigs)
    val n = docs.count()
    assert(bb.count() == n * 8)
    assert(bb.groupBy("doc_id").count().filter($"count" =!= 8).count() == 0)
    // exact dups (300==doc0) have identical signatures -> identical buckets
    val b0 = bb.filter($"doc_id" === 0L).select("band_idx", "bucket")
      .as[(Int, String)].collect().toSet
    val b300 = bb.filter($"doc_id" === 300L).select("band_idx", "bucket")
      .as[(Int, String)].collect().toSet
    assert(b0 == b300)
    // buckets match minhashCandidates' internal bucketing: every planted
    // near-dup pair shares at least one (band, bucket)
    val byDoc = bb.as[(Long, Int, String)].collect().groupBy(_._1)
    for ((a, b) <- Seq((200L, 201L), (210L, 211L), (220L, 221L)))
      assert(byDoc(a).map(r => (r._2, r._3)).toSet
        .intersect(byDoc(b).map(r => (r._2, r._3)).toSet).nonEmpty)
  }

  test("bipartite minhash decontamination flags train docs near eval docs") {
    // near-dup cluster seeds live in docs (200,201),(210,211),(220,221);
    // split each pair across train/eval and expect the train half flagged
    val evalIds = Set(201L, 211L, 221L)
    val train = docs.filter(!$"doc_id".isin(evalIds.toSeq: _*))
    val eval = docs.filter($"doc_id".isin(evalIds.toSeq: _*))
    val out = TextOps.minhashDecontamination(train, eval)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    for (t <- Seq(200L, 210L, 220L)) {
      assert(out.contains(t), s"train doc $t not flagged")
      assert(out(t)._2 >= 0.2)
    }
    // 300 is an exact dup of doc 0 — both in train, so NOT flagged by the
    // bipartite join (contamination is strictly train-vs-eval)
    assert(!out.contains(300L) || out(300L)._1 >= 1) // 300 may match via cluster overlap only
  }

  test("substring overlap pairs count shared k-token windows exactly") {
    val span = (1 to 10).map(i => s"s$i").mkString(" ") // 10-token verbatim span
    val d = Seq(
      (1L, s"alpha beta $span gamma delta"),   // span at offset 2
      (2L, s"$span x1 x2 x3 x4 x5 x6 x7 x8"),  // same span at offset 0
      (3L, "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12"), // no overlap
      (4L, "short doc")                         // < k tokens -> no windows
    ).toDF("doc_id", "text")
    val out = TextOps.substringOverlapPairs(d, k = 8)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Long)].collect()
    // a 10-token shared span yields 10-8+1 = 3 shared 8-token windows
    assert(out === Array((1L, 2L, 3L)))
    // minShared filters pairs below the evidence threshold
    assert(TextOps.substringOverlapPairs(d, k = 8, minShared = 4).count() == 0)
    // different docs embedding the span = "long verbatim quote" detection
    // that whole-doc MinHash similarity would score low
  }

  test("minhash bucket cap bounds a boilerplate flood without losing normal pairs") {
    // 200 identical boilerplate docs: every band funnels them into one
    // bucket -> 19900 pairs x 8 bands in one task without the cap
    val flood = (1000L until 1200L).map(i => (i, "identical boilerplate text repeated verbatim"))
    val mixed = docs.union(flood.toDF("doc_id", "text"))
    val sigs = TextOps.minhashSignatures(mixed)
    val capped = TextOps.minhashCandidates(sigs, threshold = 0.2, maxBucketSize = 64)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the flood bucket (200 > 64) is dropped entirely...
    assert(!capped.exists { case (a, b) => a >= 1000L && b >= 1000L },
      "flood pairs should be capped away")
    // ...while planted near-dup pairs in normal-size buckets survive
    for (pair <- Seq((200L, 201L), (210L, 211L), (220L, 221L)))
      assert(capped.contains(pair), s"cap lost planted pair $pair")
  }

  test("connected components resolve near-dup clusters transitively; singletons stay put") {
    // chain 1-2-3 (no direct 1-3 edge: the transitive case LSH pairs miss),
    // pair 10-11, triangle 20-21-22
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("doc_a", "doc_b")
    val cc = TextOps.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L, s"chain not closed: $cc")
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(cc(20L) == 20L && cc(21L) == 20L && cc(22L) == 20L)
    val docsAll = (1L to 25L).map(i => (i, "doc " + i)).toDF("doc_id", "text")
    val clusters = TextOps.dupClusters(docsAll, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(3L) == 1L && clusters(22L) == 20L)
    assert(clusters(5L) == 5L, "doc in no pair must be its own cluster")
    assert(clusters.size == 25)
  }

  test("both CC tiers (union-find, label propagation) agree on a long chain + cliques") {
    // a 40-node chain (worst case for propagation rounds), a 5-clique,
    // and an isolated pair — exercises min-root unions across shapes
    val chain = (0L until 39L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)
    val edges = (chain ++ clique ++ Seq((200L, 201L))).toDF("doc_a", "doc_b")
    def run(): Map[Long, Long] =
      TextOps.connectedComponents(edges, maxIter = 50).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run() // default cap: union-find tier
    val dist = withConf(TextOps.CcLocalEdgeCapKey -> "0")(run()) // distributed tier
    assert(local == dist, s"tiers disagree: ${local.toSeq.diff(dist.toSeq)}")
    assert((0L to 39L).forall(local(_) == 0L), "chain must close to min id 0")
    assert((100L to 104L).forall(local(_) == 100L))
    assert(local(201L) == 200L && local.size == 47)
  }

  test("minhash estimate approximates exact jaccard on planted pairs") {
    val sigs = TextOps.minhashSignatures(docs, numHashes = 128, shingleN = 2)
    val cands = TextOps.minhashCandidates(sigs, numHashes = 128, bands = 32, threshold = 0.1)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val exact = TextOps.ngramJaccardPairs(docs, minJaccard = 0.1)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val common = cands.keySet intersect exact.keySet
    assert(common.nonEmpty)
    for (k <- common)
      assert(math.abs(cands(k) - exact(k)) < 0.25,
        s"pair $k: est ${cands(k)} vs exact ${exact(k)}")
  }

  test("prefix-filter jaccard join equals the brute-force self-join exactly") {
    // losslessness: the prefix bound may only prune pairs BELOW threshold,
    // so at every threshold the result must equal ngramJaccardPairs
    for (t <- Seq(0.1, 0.3, 0.6)) {
      val fast = TextOps.jaccardPrefixJoin(docs, minJaccard = t)
        .as[(Long, Long, Double)].collect().toSet
      val brute = TextOps.ngramJaccardPairs(docs, minJaccard = t)
        .as[(Long, Long, Double)].collect().toSet
      assert(fast == brute, s"prefix join diverges from brute force at t=$t: " +
        s"missing=${brute -- fast} extra=${fast -- brute}")
    }
    assert(TextOps.jaccardPrefixJoin(docs, minJaccard = 0.1).count() > 0,
      "planted near-dups should surface")
    // degenerate inputs: empty corpus and single-word docs (no shingles)
    // produce empty results, never errors
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.jaccardPrefixJoin(empty, minJaccard = 0.5).count() === 0)
    val words = Seq((1L, "solo"), (2L, "solo"), (3L, "")).toDF("doc_id", "text")
    assert(TextOps.jaccardPrefixJoin(words, minJaccard = 0.5).count() === 0)
    assert(graft.text.TextAnalysis.pmiCollocations(empty).count() === 0,
      "PMI over an empty corpus must be empty, not an error")
  }

  test("simhash finds hamming-close near-dups, not unrelated docs") {
    // simhash is stable for LONG docs: one word changed out of 120 moves few
    // bit majorities; short docs (like the 13-word `base`) flip many
    val longDoc = (0 until 120).map(i => "word" + (i % 60)).mkString(" ")
    val longMut = mutate(longDoc, 17)
    val withLong = docs.union(Seq((400L, longDoc), (401L, longMut)).toDF("doc_id", "text"))
    val sigs = TextOps.simhashSignatures(withLong)
    val pairs = TextOps.simhashCandidates(sigs, maxHamming = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((400L, 401L)), s"planted long near-dup not found in $pairs")
    // unrelated random docs should not collide within hamming 3 (often)
    val falsePairs = pairs.filter { case (a, b) => a < 100 && b < 100 }
    assert(falsePairs.size <= 4, s"too many random collisions: $falsePairs")
  }

  test("simhash bucket cap bounds a boilerplate flood without losing normal pairs") {
    // 300 identical boilerplate docs: all four chunks funnel them into the
    // same buckets -> ~45k pairs x 4 chunks in one task without the cap
    val longDoc = (0 until 120).map(i => "word" + (i % 60)).mkString(" ")
    val longMut = mutate(longDoc, 17)
    val flood = (1000L until 1300L).map(i => (i, "identical boilerplate text repeated verbatim"))
    val mixed = docs.union(Seq((400L, longDoc), (401L, longMut)).toDF("doc_id", "text"))
      .union(flood.toDF("doc_id", "text"))
    val sigs = TextOps.simhashSignatures(mixed)
    val capped = TextOps.simhashCandidates(sigs, maxHamming = 3, maxBucketSize = 256)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the flood buckets (300 > 256) are dropped entirely...
    assert(!capped.exists { case (a, b) => a >= 1000L && b >= 1000L },
      "flood pairs should be capped away")
    // ...while the planted near-dup pair in normal-size buckets survives
    assert(capped.contains((400L, 401L)), "cap lost planted pair (400, 401)")
  }

  test("language id picks the language whose stopwords dominate") {
    val samples = Seq(
      (1L, "the cat and the dog of the house", "en"),
      (2L, "el gato y la casa que tiene el perro la madre", "es"),
      (3L, "le chat et les chiens des maisons le matin", "fr"),
      (4L, "der hund und das haus der katze und das auto", "de")).toDF("doc_id", "text", "lang")
    val out = TextAnalysis.withLanguageId(samples)
      .select("doc_id", "predicted_lang", "lang").as[(Long, String, String)].collect()
    for ((id, pred, actual) <- out) assert(pred == actual, s"doc $id: $pred != $actual")
  }

  test("language scores reproduce padded replace-count run semantics (ceil(L/2))") {
    // non-overlapping " the " matches in " the the the ": positions 0-5 and
    // 8-13 share no space -> 2, not 3. The one-pass scorer must agree with
    // the q47 oracle's replace-count for adjacent stopword runs.
    val samples = Seq(
      (1L, "the the the"),        // run of 3 -> 2
      (2L, "the the"),            // run of 2 -> 1
      (3L, "the x the"),          // separated -> 2
      (4L, "the  the"),           // double space = empty token between -> 2
      (5L, "them theory"),        // substrings never match -> 0
      (6L, "THE The tHe")         // case-folded run of 3 -> 2
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withLanguageId(samples)
      .select("doc_id", "score_en").as[(Long, Long)].collect().toMap
    assert(out(1L) === 2L)
    assert(out(2L) === 1L)
    assert(out(3L) === 2L)
    assert(out(4L) === 2L)
    assert(out(5L) === 0L)
    assert(out(6L) === 2L)
  }

  test("quality + fingerprint are deterministic and sane") {
    val q = TextAnalysis.withQuality(docs)
    val row = q.filter($"doc_id" === 200L)
      .select("n_tokens", "distinct_ratio", "quality_score").head()
    assert(row.getLong(0) == base.split(" ").length)
    assert(row.getDouble(1) > 0 && row.getDouble(1) <= 1.0)
    val fp = TextAnalysis.withFingerprint(docs)
    // identical content -> identical fingerprint
    val fps = fp.filter($"doc_id".isin(0L, 300L)).select("fingerprint")
      .as[String].collect()
    assert(fps.toSet.size == 1)
  }

  test("pii redaction: counts and the ordered replace chain match hand semantics") {
    val samples = Seq(
      (1L, "plain text with no pii at all"),
      (2L, "reach me at a.b-c_d@mail.example.org or x@y.io today"),
      (3L, "server 192.168.0.1 then 10.0.0.255 and not 1234.5.6.7"),
      (4L, "call +1 555-867-5309 please"),
      (5L, "mix bob@corp.net at 10.1.2.3 call +44 207-946-0958")).toDF("doc_id", "text")
    val out = TextAnalysis.withPiiRedacted(samples).orderBy("doc_id")
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted")
      .as[(Long, Long, Long, Long, String)].collect()
    assert(out(0) == ((1L, 0L, 0L, 0L, "plain text with no pii at all")))
    assert(out(1)._2 == 2L && !out(1)._5.contains("@"), "both emails redacted")
    assert(out(1)._5 == "reach me at <EMAIL> or <EMAIL> today")
    // \b guard: a 4-digit leading octet is not an IP (no digit boundary)
    assert(out(2)._3 == 2L && out(2)._5.endsWith("and not 1234.5.6.7"))
    assert(out(3)._4 == 1L && out(3)._5 == "call <PHONE> please")
    assert((out(4)._2, out(4)._3, out(4)._4) == ((1L, 1L, 1L)))
    assert(out(4)._5 == "mix <EMAIL> at <IP> call <PHONE>")
  }

  test("domain extraction explodes every url reference, repeats included") {
    val s2 = Seq(
      (1L, "go https://a.example.com/x and http://b.org/y then https://a.example.com/z"),
      (2L, "no urls here at all")).toDF("doc_id", "text")
    val doms = TextAnalysis.extractDomains(s2).as[(Long, String)].collect()
    assert(doms.map(_._2).sorted.toSeq == Seq("a.example.com", "a.example.com", "b.org"))
    assert(doms.forall(_._1 == 1L))
  }

  test("quality keeper: best doc wins the cluster, ties fall to min id") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),   // one 3-doc cluster
      (4L, 4L), (5L, 4L),             // a 2-doc cluster with a quality tie
      (6L, 6L)                        // singleton
    ).toDF("doc_id", "cluster")
    val quality = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),
      (4L, 0.7), (5L, 0.7),
      (6L, 0.1)).toDF("doc_id", "quality_score")
    val out = TextOps.qualityKeeper(clusters, quality).orderBy("doc_id")
      .select("doc_id", "keeper", "kept").as[(Long, Long, Int)].collect()
    assert(out.toSeq == Seq(
      (1L, 2L, 0), (2L, 2L, 1), (3L, 2L, 0),  // doc 2 (q=0.9) beats min-id 1
      (4L, 4L, 1), (5L, 4L, 0),               // tie -> min id keeps
      (6L, 6L, 1)))
  }

  test("int8 quantization: exact endpoints, constant vectors, error bound") {
    val vecs = Seq(
      (1L, Array(0.0f, 1.0f, 2.0f, 4.0f)),      // min->0, max capped to 255
      (2L, Array(3.5f, 3.5f, 3.5f)),            // constant -> all zeros, scale 0
      (3L, Array(-2.0f, 0.0f, 2.0f))).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs).orderBy("vec_id")
      .select("vec_id", "n_dims", "scale_e9", "q_sum", "q_min", "q_max")
      .as[(Long, Int, Long, Long, Int, Int)].collect()
    // v=(0,1,2,4): range 4, q = floor(v*255/4) = (0, 63, 127, 255 capped)
    assert(out(0) == ((1L, 4, (4.0 / 255.0 * 1e9).toLong, 0L + 63 + 127 + 255, 0, 255)))
    assert(out(1) == ((2L, 3, 0L, 0L, 0, 0)))
    assert(out(2)._5 == 0 && out(2)._6 == 255) // endpoints always hit 0 and 255
    // dequantization error bound: |v - (q*scale + min)| <= scale for every dim
    val v = Array(-1.75f, 0.33f, 0.9f, 2.125f, -0.5f)
    val mn = v.min.toDouble
    val range = v.max.toDouble - mn
    val scale = range / 255.0
    for (x <- v) {
      val q = math.min(255L, math.floor((x.toDouble - mn) * 255.0 / range).toLong)
      assert(math.abs(x.toDouble - (q * scale + mn)) <= scale + 1e-12)
    }
  }

  test("cosine similarity: brute force and IVF agree on planted neighbors") {
    val rnd = new scala.util.Random(3)
    val dim = 16
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + eps * ((i % 3) - 1) }
    val q = vec(1)
    val rows = (0 until 200).map(i => (i.toLong, vec(i + 10))) ++
      Seq((500L, jitter(q, 0.01f)), (501L, jitter(q, 0.05f)), (0L, q))
    val emb = rows.toDF("vec_id", "embedding")
    val bf = Similarity.bruteForceTopK(emb, q, k = 2, excludeId = 0L)
      .select("vec_id").as[Long].collect().toSet
    assert(bf == Set(500L, 501L), s"brute force got $bf")
    val centroids = Similarity.kmeansCentroids(emb, k = 10, iters = 2)
    val assigned = Similarity.ivfAssign(emb, centroids)
    val ivf = Similarity.ivfTopK(assigned, centroids, q, k = 2, nprobe = 3, excludeId = 0L)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.contains(500L), s"IVF lost the closest planted neighbor: $ivf")
  }

  test("count-min estimates are one-sided and exact when collision-free") {
    val docs = Seq(
      (1L, "a a a b b c"),
      (2L, "a b d d d d"),
      (3L, "e e a c c c")
    ).toDF("doc_id", "text")
    val exact = Map("a" -> 5L, "b" -> 3L, "c" -> 4L, "d" -> 4L, "e" -> 2L)
    val words = exact.keys.toSeq.toDF("word")
    // tiny m forces collisions -> still never underestimates
    for (m <- Seq(4, 16)) {
      val cells = Sketches.countMinCells(docs, d = 3, mCols = m)
      val est = Sketches.countMinEstimate(cells, words, d = 3, mCols = m)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      for ((w, c) <- exact)
        assert(est(w) >= c, s"m=$m underestimated $w: ${est(w)} < $c")
    }
    // large m, d=1: 5 words can't collide in 2^20 cells (verified by the
    // estimates coming back exact)
    val cells = Sketches.countMinCells(docs, d = 1, mCols = 1 << 20)
    assert(cells.agg(sum("cnt")).head().getLong(0) === 18L) // total occurrences
    val est = Sketches.countMinEstimate(cells, words, d = 1, mCols = 1 << 20)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === exact)
    // a word the sketch never saw estimates 0, not min-of-present-cells
    val unseen = Sketches.countMinEstimate(cells, Seq("zzz").toDF("word"),
      d = 1, mCols = 1 << 20).collect().head.getLong(1)
    assert(unseen === 0L)
  }

  test("kmvIntersectEstimate: exact under k, near truth over k, layout-invariant") {
    import graft.text.Sketches
    // small universes: sketches are the sets -> exact intersection
    val sa = (0 until 60).map(i => s"x_$i").toDF("item")
    val sb = (40 until 100).map(i => s"x_$i").toDF("item")
    val se = Sketches.kmvIntersectEstimate(sa, sb, k = 256).collect().head
    assert(se.getLong(0) === 100L)        // n_kept = |union| < k
    assert(se.getLong(2) === 20L)         // n_common exact
    assert(se.getDouble(3) === 100.0 && se.getDouble(4) === 20.0)
    // large universes: |A|=4000, |B|=3000, |A∩B|=2000, |A∪B|=5000
    val la = (0 until 4000).map(i => s"k_$i").toDF("item")
    val lb = (2000 until 5000).map(i => s"k_$i").toDF("item")
    val le = Sketches.kmvIntersectEstimate(la, lb, k = 256).collect().head
    assert(le.getLong(0) === 256L)
    assert(math.abs(le.getDouble(3) - 5000.0) / 5000.0 < 0.2,
      s"union est ${le.getDouble(3)}")
    assert(math.abs(le.getDouble(4) - 2000.0) / 2000.0 < 0.3,
      s"intersection est ${le.getDouble(4)}")
    // layout invariance
    val re = Sketches.kmvIntersectEstimate(la.repartition(7),
      lb.repartition(3), k = 256).collect().head
    assert(re.toSeq === le.toSeq)
  }

  test("HLL registers match a driver-side replay and the estimate lands near truth") {
    import graft.text.Sketches
    // driver-side reference: same md5 bucket/rho derivation
    def ref(item: String): (Int, Int) = {
      val hx = org.apache.commons.codec.digest.DigestUtils.md5Hex("hll:" + item)
      val bucket = Integer.parseInt(hx.substring(0, 2), 16)
      val wh = hx.substring(2, 17)
      val t = wh.dropWhile(_ == '0')
      val rho =
        if (t.isEmpty) 61
        else {
          val d = Integer.parseInt(t.take(1), 16)
          val lead = if (d >= 8) 0 else if (d >= 4) 1 else if (d >= 2) 2 else 3
          4 * (15 - t.length) + lead + 1
        }
      (bucket, rho)
    }
    val items = (0 until 5000).map(i => s"item_$i")
    val expectRegs = items.map(ref).groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    val gotRegs = Sketches.hllRegisters(items.toDF("item"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(gotRegs === expectRegs)
    // estimate: deterministic value near truth (HLL m=256 sigma ~6.5%)
    val est = Sketches.hllDistinctEstimate(items.toDF("item")).collect().head
    val e = est.getDouble(2)
    assert(math.abs(e - 5000.0) / 5000.0 < 0.15, s"HLL estimate $e far from 5000")
    // duplicates cannot move a max-register sketch
    val dup = Sketches.hllDistinctEstimate(
      (items ++ items).toDF("item").repartition(7)).collect().head
    assert(dup.getDouble(2) === e)
    // small universe triggers the linear-counting branch and is near-exact
    val small = Sketches.hllDistinctEstimate(
      (0 until 50).map(i => s"s_$i").toDF("item")).collect().head
    assert(small.getLong(0) > 0L) // zero buckets present
    assert(math.abs(small.getDouble(2) - 50.0) < 10.0,
      s"linear-counting estimate ${small.getDouble(2)} far from 50")
  }

  test("hllDistinctByGroup equals the global sketch run on each group alone") {
    import graft.text.Sketches
    val items = (0 until 3000).map(i => (s"g${i % 3}", s"item_${i / 3}_${i % 3}"))
      .toDF("g", "item")
    val grouped = Sketches.hllDistinctByGroup(items, "g")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(grouped.keySet === Set("g0", "g1", "g2"))
    for (g <- Seq("g0", "g1", "g2")) {
      val solo = Sketches.hllDistinctEstimate(items.filter(col("g") === g))
        .collect().head
      assert(grouped(g) === ((solo.getLong(0), solo.getDouble(2))), s"group $g")
    }
  }

  test("featureHashCensus census matches a driver-side replay and is layout-invariant") {
    import graft.text.Sketches
    def bucketSign(term: String): (Int, Long) = {
      val hx = org.apache.commons.codec.digest.DigestUtils.md5Hex("fh:" + term)
      val u = java.lang.Long.parseLong(hx.substring(0, 15), 16)
      val s = if (Integer.parseInt(hx.substring(15, 16), 16) % 2 == 0) 1L else -1L
      ((u % 64).toInt, s)
    }
    val docs = Seq((1L, "a b a c"), (2L, "b b d"), (3L, "a  e")).toDF("doc_id", "text")
    val terms = Seq("a", "b", "a", "c", "b", "b", "d", "a", "e")
    val expect = terms.groupBy(bucketSign(_)._1).map { case (bkt, ts) =>
      val perTerm = ts.groupBy(identity).view.mapValues(_.size).toMap
      (bkt, (ts.size.toLong, perTerm.size.toLong,
        perTerm.map { case (t, c) => bucketSign(t)._2 * c }.sum))
    }
    val got = Sketches.featureHashCensus(docs, dim = 64, topK = 64)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === expect)
    val rep = Sketches.featureHashCensus(docs.repartition(5), dim = 64, topK = 64)
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(rep === expect)
  }

  test("KMV bottom-k is partition-invariant, exact under k, and close over k") {
    import graft.text.Sketches
    val items = (0 until 5000).map(i => s"item_$i").toDF("item")
    // universe < k: the sketch IS the distinct set
    val small = (0 until 100).map(i => s"s_$i").toDF("item")
    val se = Sketches.kmvDistinctEstimate(small, k = 256).collect().head
    assert(se.getLong(0) === 100L && se.getDouble(2) === 100.0)
    // bottom-k set does not depend on partitioning (merge correctness)
    val a = Sketches.kmvBottomK(items.repartition(1), k = 256)
      .collect().map(_.getLong(0)).toSeq
    val b = Sketches.kmvBottomK(items.repartition(7), k = 256)
      .collect().map(_.getLong(0)).toSeq
    assert(a === b && a.length === 256 && a === a.sorted && a.distinct === a)
    // duplicates don't shift the sketch (distinct semantics)
    val dup = (items.union(items)).repartition(5)
    val c = Sketches.kmvBottomK(dup, k = 256).collect().map(_.getLong(0)).toSeq
    assert(c === a)
    // estimator lands near the truth on this fixed universe (deterministic
    // given the md5 grid — this is the actual value, not a flaky bound)
    val est = Sketches.kmvDistinctEstimate(items, k = 256).collect().head
    assert(est.getLong(0) === 256L)
    assert(math.abs(est.getDouble(2) - 5000.0) / 5000.0 < 0.15,
      s"KMV estimate ${est.getDouble(2)} too far from 5000")
  }

  test("int8 top-k finds the planted neighbors despite quantization") {
    val dim = 16
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + eps * ((i % 3) - 1) }
    val q = vec(1)
    val rows = (0 until 200).map(i => (i.toLong, vec(i + 10))) ++
      Seq((500L, jitter(q, 0.01f)), (501L, jitter(q, 0.05f)), (0L, q))
    val emb = rows.toDF("vec_id", "embedding")
    val i8 = Similarity.int8TopK(emb, q, k = 2, excludeId = 0L)
      .select("vec_id").as[Long].collect().toSet
    assert(i8 == Set(500L, 501L), s"int8 lost planted neighbors: $i8")
    // quantization moves sims by < the ~1/255 per-dim resolution
    val bf = Similarity.bruteForceTopK(emb, q, k = 2, excludeId = 0L)
      .select("vec_id", "sim").as[(Long, Double)].collect().toMap
    val i8s = Similarity.int8TopK(emb, q, k = 2, excludeId = 0L)
      .select("vec_id", "sim").as[(Long, Double)].collect().toMap
    for ((id, s) <- i8s) assert(math.abs(s - bf(id)) < 0.01, s"vec $id: $s vs ${bf(id)}")
  }

  test("IVF with full probing equals brute force exactly (recall invariant)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val query = emb.filter($"vec_id" === 1).select("embedding")
      .head().getSeq[Float](0).toArray
    val k = 10
    val bf = Similarity.bruteForceTopK(emb, query, k, excludeId = 1L)
      .select("vec_id").as[Long].collect().toSeq
    val centroids = Similarity.kmeansCentroids(emb, k = 12, iters = 2)
    val assigned = Similarity.ivfAssign(emb, centroids).cache()
    val full = Similarity.ivfTopK(assigned, centroids, query, k,
        nprobe = centroids.length, excludeId = 1L)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == bf, "IVF probing all cells must equal brute force")
    val partial = Similarity.ivfTopK(assigned, centroids, query, k, nprobe = 3, excludeId = 1L)
      .select("vec_id").as[Long].collect().toSet
    val recall = partial.intersect(bf.toSet).size.toDouble / k
    assert(recall >= 0.2, s"nprobe=3 recall $recall suspiciously low")
  }

  test("ivfSearch honors IvfParams at a non-default cell count (probe-all == brute force)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val query = emb.filter($"vec_id" === 2).select("embedding")
      .head().getSeq[Float](0).toArray
    val k = 8
    val bf = Similarity.bruteForceTopK(emb, query, k, excludeId = 2L)
      .select("vec_id").as[Long].collect().toSeq
    val full = Similarity.ivfSearch(emb, query, k,
        Similarity.IvfParams(nCells = 7, iters = 1, nprobe = 7), excludeId = 2L)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == bf, "ivfSearch probing all 7 cells must equal brute force")
    assertThrows[IllegalArgumentException](Similarity.IvfParams(nCells = 4, nprobe = 5))
  }

  test("ivfTopKMulti: batch serving finds planted twins, excludes self, ranks 1..k") {
    val dim = 16
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + eps * ((i % 3) - 1) }
    val q0 = vec(1); val q1 = vec(2)
    val rows = (2 until 150).map(i => (i.toLong, vec(i + 10))) ++
      Seq((500L, jitter(q0, 0.01f)), (501L, jitter(q0, 0.05f)),
        (600L, jitter(q1, 0.01f)), (0L, q0), (1L, q1))
    val emb = rows.toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(emb, k = 6, iters = 2)
    val assigned = Similarity.ivfAssign(emb, centroids).cache()
    val queries = emb.filter($"vec_id" <= 1)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    // probe-all degenerates to exhaustive: each query's planted twin is rank 1
    val served = Similarity.ivfTopKMulti(assigned, centroids, queries,
      k = 2, nprobe = 6).collect()
    val byQ = served.groupBy(_.getLong(0))
    assert(byQ(0L).find(_.getLong(1) == 1L).get.getLong(2) == 500L,
      s"query 0 rank-1 neighbor: ${byQ(0L).toSeq}")
    assert(byQ(1L).find(_.getLong(1) == 1L).get.getLong(2) == 600L,
      s"query 1 rank-1 neighbor: ${byQ(1L).toSeq}")
    assert(!served.exists(r => r.getLong(0) == r.getLong(2)), "self must be excluded")
    assert(byQ.values.forall(rs => rs.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L)),
      "each query must get contiguous ranks 1..k")
    // partial probing: still k ranked rows per answered query, subset of cells
    val part = Similarity.ivfTopKMulti(assigned, centroids, queries,
      k = 2, nprobe = 2).collect()
    assert(part.forall(r => r.getLong(1) >= 1L && r.getLong(1) <= 2L))
    assertThrows[IllegalArgumentException](
      Similarity.ivfTopKMulti(assigned, centroids, queries, k = 2, nprobe = 7))
  }

  test("cosine LSH pairs: planted neighbors found, flood capped, no vectors in the bucket shuffle") {
    val dim = 16
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + eps * ((i % 3) - 1) }
    val q = vec(1)
    val rows = (0 until 100).map(i => (i.toLong, vec(i + 10))) ++
      Seq((500L, q), (501L, jitter(q, 0.01f)))
    val emb = rows.toDF("vec_id", "embedding")
    val pairs = Similarity.cosineLshPairs(emb, planes = 8, minSim = 0.9)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((500L, 501L)), s"planted near-identical pair not found in $got")
    // scale-shape audit: the aggregate that buckets ids must see only
    // (id, bucket) — a float-array column in its input means embeddings are
    // riding the shuffle (the round-2 self-join bug)
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val aggs = pairs.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.exists(_.toString.contains("bucket")) => a
    }
    assert(aggs.nonEmpty, "expected a bucket groupBy in the plan")
    for (a <- aggs; att <- a.child.output)
      assert(!att.dataType.toString.contains("ArrayType(FloatType"),
        s"embedding column ${att.name} entered the bucket shuffle")
    // skew cap: 300 copies of one vector share a sign-pattern bucket ->
    // O(size^2) pairs in one task without the cap; the flood bucket is
    // dropped while the planted pair (in a normal bucket) survives
    val flood = (1000L until 1300L).map(i => (i, vec(999)))
    val mixed = emb.union(flood.toDF("vec_id", "embedding"))
    val capped = Similarity.cosineLshPairs(mixed, planes = 8, minSim = 0.9, maxBucketSize = 256)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!capped.exists { case (a, b) => a >= 1000L && b >= 1000L },
      "flood pairs should be capped away")
    assert(capped.contains((500L, 501L)), "cap lost the planted pair")
    // passing dim skips the probe: construction must fire NO Spark job
    // (the probe fallback runs one), and results must be identical
    val jobsBefore = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val withDim = Similarity.cosineLshPairs(emb, planes = 8, minSim = 0.9, dim = dim)
    val jobsAfter = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(jobsAfter == jobsBefore, "cosineLshPairs(dim=) ran a job at construction")
    assert(withDim.select("id_a", "id_b").as[(Long, Long)].collect().toSet == got,
      "dim-passed path must match the probe path")
  }

  test("IVF at rest: cell partition column prunes the probe scan") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = Similarity.kmeansCentroids(emb, k = 8, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("ivf_rest").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(dir))
    Similarity.ivfWrite(Similarity.ivfAssign(emb, centroids), dir)
    val atRest = spark.read.parquet(dir)
    val probed = atRest.filter($"cell".isin(0, 1))
    val scan = probed.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("cell"),
      s"probe scan is not partition-pruned:\n$scan")
    // pruning must not change results: probed rows == rows assigned to 0/1
    val expected = Similarity.ivfAssign(emb, centroids)
      .filter($"cell".isin(0, 1)).count()
    assert(probed.count() == expected)
  }

  test("stored incremental semDedup: the touched-cell screen prunes the " +
      "ivfWrite'd store read") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val corpus = emb.filter($"vec_id" % 4 =!= 0)
    val batch = emb.filter($"vec_id" % 4 === 0).limit(5)
    val centroids = Similarity.kmeansCentroids(corpus, k = 8, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("sem_rest").toString
    graft.streaming.StreamingOps.deleteOnExit(java.nio.file.Paths.get(dir))
    Similarity.ivfWrite(Similarity.assignWith(corpus, centroids), dir)
    val pr = Similarity.semDedupIncrementalPairs(
      spark.read.parquet(dir),
      Similarity.assignWith(batch, centroids), minSim = 0.25, maxCellSize = 256)
    pr.collect()
    val scans = pr.queryExecution.executedPlan.collectLeaves().map(_.toString)
    val storeScan = scans.find(s => s.contains(dir) || s.contains("sem_rest"))
      .getOrElse(fail(s"no store scan found among:\n${scans.mkString("\n")}"))
    assert(storeScan.toLowerCase.contains("dynamicpruning"),
      s"the touched-cell screen must prune the store's cell partitions:\n$storeScan")
  }

  test("multimodal plumbing: schema, stub features deterministic, frame sampling") {
    import graft.multimodal.Multimodal
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq == Seq("media_id", "kind", "payload", "meta"))
    val f1 = Multimodal.extractFeatures(media, dim = 4).orderBy("media_id").collect()
    val f2 = Multimodal.extractFeatures(media.repartition(7), dim = 4)
      .orderBy("media_id").collect()
    assert(f1.map(_.getSeq[Float](3)).toSeq == f2.map(_.getSeq[Float](3)).toSeq,
      "features not partition-invariant")
    val frames = Multimodal.sampleFrames(media, nFrames = 4)
      .select(size(col("frames"))).head().getInt(0)
    assert(frames == 4)
  }

  test("real image decode: generated PNG stats exact, corrupt payload null, resize round-trip") {
    import graft.multimodal.Multimodal
    // direct decode of a deterministic PNG: planted dims + solid color back exactly
    val id = 7L
    val decoded = Multimodal.decodeImage(Multimodal.syntheticPng(id)).get
    assert(decoded.width == 4 + (id % 13).toInt && decoded.height == 3 + (id % 7).toInt)
    assert(decoded.bands == 3)
    assert(decoded.channelMean.toSeq == Seq((id * 37 % 256).toDouble,
      (id * 59 % 256).toDouble, (id * 83 % 256).toDouble))
    assert(decoded.channelStd.forall(_ == 0.0))
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    // DataFrame operator: decode succeeds per row, nulls for the corrupt row
    val rows = (1L to 20L).map(i => (i, "image",
      if (i == 13) "garbage".getBytes else Multimodal.syntheticPng(i), null: String))
      .toDF("media_id", "kind", "payload", "meta")
    val stats = Multimodal.imageStats(rows).orderBy("media_id").collect()
    assert(stats.length == 20)
    for (r <- stats) {
      val i = r.getLong(0)
      if (i == 13) assert(r.isNullAt(3), "corrupt payload should decode to null")
      else {
        assert(r.getInt(3) == 4 + (i % 13).toInt)
        assert(r.getSeq[Double](6).head == (i * 37 % 256).toDouble)
      }
    }
    // resize: re-decoded output has the target dims and (bilinear over a
    // solid color) the same channel means
    val resized = Multimodal.resizeImages(rows.where($"media_id" === 2), 5, 4)
    val rd = Multimodal.decodeImage(resized.select("payload").head().getAs[Array[Byte]](0)).get
    assert(rd.width == 5 && rd.height == 4)
    assert(rd.channelMean.toSeq == Seq((2L * 37 % 256).toDouble,
      (2L * 59 % 256).toDouble, (2L * 83 % 256).toDouble))
  }

  test("real audio decode: WAV fixture round-trips through javax.sound, stats exact") {
    import graft.multimodal.Multimodal
    def sample(id: Long, t: Int): Int =
      (((id * 40503L + t * 2654435761L) % 65536L) - 32768L).toInt
    for (id <- Seq(1L, 7L, 50L, 256L)) {
      val a = Multimodal.decodeAudio(Multimodal.syntheticWav(id)).get
      assert(a.sampleRate == 8000 + (id % 3).toInt * 4000)
      assert(a.channels == 1)
      assert(a.samples.length == 1024 + (id % 257).toInt)
      assert(a.samples.indices.forall(t => a.samples(t) == sample(id, t)),
        s"decoded samples diverge from the closed form at id=$id")
    }
    // independent container check: the JDK's own WAV writer fed the same
    // samples must decode to the identical stream (validates the hand-rolled
    // RIFF fixture against a second implementation)
    val id = 7L
    val n = 1024 + (id % 257).toInt
    val raw = new Array[Byte](n * 2)
    for (t <- 0 until n) {
      val v = sample(id, t)
      raw(2 * t) = (v & 0xFF).toByte
      raw(2 * t + 1) = ((v >> 8) & 0xFF).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(12000f, 16, 1, true, false)
    val jdkBytes = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, n),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, jdkBytes)
    val viaJdk = Multimodal.decodeAudio(jdkBytes.toByteArray).get
    val viaOurs = Multimodal.decodeAudio(Multimodal.syntheticWav(id)).get
    assert(viaJdk.samples.toSeq == viaOurs.samples.toSeq)
    assert(viaJdk.sampleRate == viaOurs.sampleRate)
    // undecodable payloads: None direct, null columns in the operator
    assert(Multimodal.decodeAudio("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeAudio(null).isEmpty)
    val rows = (1L to 10L).map(i => (i, "audio",
      if (i == 4) "garbage".getBytes else Multimodal.syntheticWav(i), null: String))
      .toDF("media_id", "kind", "payload", "meta")
    val stats = Multimodal.audioStats(rows).orderBy("media_id").collect()
    assert(stats.length == 10)
    for (r <- stats) {
      val i = r.getLong(0)
      if (i == 4) assert(r.isNullAt(3), "corrupt payload should decode to null")
      else {
        val samples = (0 until 1024 + (i % 257).toInt).map(t => sample(i, t))
        assert(r.getInt(3) == 8000 + (i % 3).toInt * 4000)       // sample_rate
        assert(r.getLong(5) == samples.length.toLong)            // n_samples
        assert(r.getInt(6) == samples.map(math.abs).max)         // peak
        assert(r.getLong(7) == samples.map(v => v.toLong * v).sum) // sum_sq
        assert(r.getLong(8) ==                                    // zero_crossings
          samples.sliding(2).count(p => p.head.toLong * p.last < 0))
      }
    }
  }

  test("bigram coverage: hand-computed model cut, coverage fractions, null doc") {
    // corpus bigram counts: "a b" x3, "b a" x2, "b c" x1 -> top-2 model
    // {"a b", "b a"}; the cut between count-2 "b a" and count-1 "b c" is
    // count-ordered, and equal counts break ties by bigram string
    val corpus = Seq(
      (1L, "a b a b a"), (2L, "a b c"), (3L, "c"), (4L, null: String))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramModelCoverage(corpus, modelTopK = 2)
      .orderBy("doc_id")
      .select("doc_id", "n_bigrams", "n_in_model", "coverage")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    assert(out(0) === ((1L, 4L, 4L, Some(1.0))))
    assert(out(1) === ((2L, 2L, 1L, Some(0.5))))
    assert(out(2) === ((3L, 0L, 0L, None)), "zero-bigram doc scores null")
    assert(out(3) === ((4L, 0L, 0L, None)), "null doc scores null")
  }

  test("PMI collocations: hand-computed lift, minCount cut, ranking") {
    // "alpha beta" always adjacent (x3); every other bigram is a hapax.
    // N1 = 9 words, N2 = 6 bigrams; c(alpha)=c(beta)=3, c(alpha beta)=3
    // lift = (3*9*9)/(6*3*3) = 4.5; pmi = ln(4.5)
    val corpus = Seq(
      (1L, "alpha beta x"), (2L, "alpha beta y"), (3L, "alpha beta z"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.pmiCollocations(corpus, minCount = 3, topK = 10)
      .collect()
    assert(out.length === 1, "hapax bigrams fall below minCount")
    val r = out.head
    assert(r.getAs[String]("bg") === "alpha beta")
    assert(r.getAs[Long]("c") === 3L && r.getAs[Long]("c1") === 3L
      && r.getAs[Long]("c2") === 3L)
    assert(r.getAs[Double]("lift") === 4.5)
    assert(r.getAs[Double]("pmi") === math.rint(math.log(4.5) * 1e6) / 1e6)

    // ranking: a tighter collocation outranks a looser one, topK truncates
    val corpus2 = Seq(
      (1L, "p q p q p q"),         // "p q" x3 + "q p" x2 (interleaved)
      (2L, "u v w u v w u v w"))   // "u v" x3, "v w" x3, "w u" x2
      .toDF("doc_id", "text")
    val top = TextAnalysis.pmiCollocations(corpus2, minCount = 3, topK = 2)
      .select("bg").collect().map(_.getString(0)).toSeq
    assert(top.length === 2)
    // all survivors have c=3 with same-count words; order falls to the
    // deterministic (lift desc, bg asc) tie-break
    val full = TextAnalysis.pmiCollocations(corpus2, minCount = 3, topK = 10)
      .select("bg").collect().map(_.getString(0)).toSeq
    assert(top === full.take(2), "topK is a prefix of the full ranking")
  }

  test("semanticBuckets matches a driver-side replay over signatureBuckets") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Similarity.semanticBuckets(emb, docs, planes = 6, dim = 64)
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    val rows = Similarity.signatureBuckets(emb, planes = 6, seed = 7, dim = 64)
      .join(docs.selectExpr("doc_id AS id", "lang", "CAST(n_chars AS LONG) AS n_chars"), "id")
      .collect()
      .map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
    val expect = rows.groupBy(_._1).map { case (bucket, rs) =>
      val byLang = rs.groupBy(_._2)
      val topLang = byLang.toSeq.map { case (l, xs) => (xs.size, l) }
        .sortBy { case (n, l) => (-n, l) }.head._2
      bucket -> ((rs.size.toLong, byLang.size.toLong, rs.map(_._3).sum, topLang))
    }
    assert(out === expect)
    assert(out.nonEmpty && out.keys.forall(b => b >= 0 && b < 64))
  }

  test("int8 IVF search finds planted neighbors from the compressed store") {
    val dim = 16
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + eps * ((i % 3) - 1) }
    val q = vec(1)
    val rows = (1 until 200).map(i => (i.toLong, vec(i + 10))) ++
      Seq((500L, jitter(q, 0.01f)), (501L, jitter(q, 0.05f)), (0L, q))
    val emb = rows.toDF("vec_id", "embedding")
    // probe-all from the compressed store == int8 brute force (recall
    // invariant survives the quantize->dequantize round trip)
    val all = Similarity.int8IvfSearch(emb, queryId = 0L, k = 2,
        Similarity.IvfParams(nCells = 10, iters = 2, nprobe = 10))
      .select("vec_id").as[Long].collect().toSet
    assert(all == Set(500L, 501L), s"int8 IVF probe-all lost planted neighbors: $all")
    val partial = Similarity.int8IvfSearch(emb, queryId = 0L, k = 2,
        Similarity.IvfParams(nCells = 10, iters = 2, nprobe = 3))
      .select("vec_id").as[Long].collect().toSet
    assert(partial.contains(500L), s"int8 IVF lost the closest neighbor: $partial")
  }

  test("gramianE9 matches hand-computed exact integer moments") {
    val emb = Seq(
      (1L, Seq(1.0f, 2.0f)),
      (2L, Seq(0.5f, -1.0f)),
      (3L, Seq(1.0f, 2.0f, 3.0f)) // wrong dim -> filtered
    ).toDF("vec_id", "embedding")
    val g = Similarity.gramianE9(emb, dim = 2)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    // (0,0): 1e9 + floor(.25e9) ; (0,1): 2e9 + floor(-.5e9) ; (1,1): 4e9 + 1e9
    assert(g((0, 0)) === (2L, 1250000000L))
    assert(g((0, 1)) === (2L, 1500000000L))
    assert(g((1, 1)) === (2L, 5000000000L))
    // partition-invariant: exact longs don't care about combine order
    val emb7 = emb.repartition(7)
    val g7 = Similarity.gramianE9(emb7, dim = 2)
      .collect().map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(g7 === g)
  }

  test("pcaPowerE12: grid power iteration agrees with eigSym, partition-invariant") {
    val dim = 8
    // two planted axes with distinct spreads so the top-2 eigengap is wide
    val rows = (0 until 300).map { i =>
      val r = new scala.util.Random(i + 7)
      val v = Array.fill(dim)((r.nextGaussian() * 0.05).toFloat)
      v(0) = (r.nextGaussian() * 1.0).toFloat
      v(3) = (r.nextGaussian() * 0.4).toFloat
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val (g1, g2, mu) = Similarity.pcaPowerE12(emb, dim, iters = 12)
    val (comps, mean) = Similarity.pcaComponents(emb, dim, k = 2)
    assert(mu.toSeq === mean.toSeq) // identical m1/1e9/n chain
    val c1 = g1.map(_ / 1e12)
    val c2 = g2.map(_ / 1e12)
    // same sign convention, so agreement means dot ~ +1 (not just |dot|)
    val d1 = (0 until dim).map(i => c1(i) * comps(0)(i)).sum
    val d2 = (0 until dim).map(i => c2(i) * comps(1)(i)).sum
    assert(math.abs(d1 - 1.0) < 1e-6, s"pc1 dot eigSym = $d1")
    assert(math.abs(d2 - 1.0) < 1e-5, s"pc2 dot eigSym = $d2")
    // the grids are exact-integer functions of the data: layout-invariant
    val (g1b, g2b, mub) = Similarity.pcaPowerE12(emb.repartition(7), dim, iters = 12)
    assert(g1b.toSeq === g1.toSeq && g2b.toSeq === g2.toSeq && mub.toSeq === mu.toSeq)
    // projection replay on the same grid contract
    val proj = Similarity.pcaProjectE9(emb, g1, g2, mu)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    for ((id, v) <- rows.take(10)) {
      val exp1 = (0 until dim).map(i =>
        math.floor((v(i).toDouble - mu(i)) * c1(i) * 1e9).toLong).sum / 1e9
      assert(math.abs(proj(id)._1 - BigDecimal(exp1).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
  }

  test("PCA: orthonormal components, variance ordering, projection replay") {
    val dim = 8
    // anisotropic cloud: dim 0 has 10x the spread of the rest, so pc1 must
    // align with axis 0 (positive by the sign convention)
    val rows = (0 until 300).map { i =>
      val r = new scala.util.Random(i + 42)
      val v = Array.fill(dim)((r.nextGaussian() * 0.1).toFloat)
      v(0) = (r.nextGaussian() * 1.0).toFloat
      (i.toLong, v.toSeq)
    }
    val emb = rows.toDF("vec_id", "embedding")
    val (comps, mean) = Similarity.pcaComponents(emb, dim, k = 3)
    assert(comps.length === 3 && comps.forall(_.length === dim))
    for (a <- 0 until 3; b <- 0 until 3) {
      val dot = (0 until dim).map(i => comps(a)(i) * comps(b)(i)).sum
      val expected = if (a == b) 1.0 else 0.0
      assert(math.abs(dot - expected) < 1e-9, s"comps $a,$b dot=$dot")
    }
    // sign convention: the largest-|coordinate| entry is positive
    for (c <- comps) {
      val p = c.indices.maxBy(i => (math.abs(c(i)), -i))
      assert(c(p) > 0, s"sign convention violated: ${c.toSeq}")
    }
    assert(math.abs(comps(0)(0)) > 0.9, s"pc1 not aligned with the planted axis: ${comps(0).toSeq}")
    val proj = Similarity.pcaProject(emb, comps, mean)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // projection == driver-side replay of (v - mu) . comp
    for ((id, v) <- rows.take(20)) {
      val expect = comps.map(c => (0 until dim).map(i => (v(i).toDouble - mean(i)) * c(i)).sum)
      val got = proj(id)
      for (c <- 0 until 3)
        assert(math.abs(got(c) - expect(c)) < 1e-9, s"vec $id pc$c: ${got(c)} vs ${expect(c)}")
    }
    // variance ordering along the returned components
    val vars = (0 until 3).map { c =>
      val xs = proj.values.map(_(c))
      val m = xs.sum / xs.size
      xs.map(x => (x - m) * (x - m)).sum / xs.size
    }
    assert(vars(0) >= vars(1) && vars(1) >= vars(2), s"variances not ordered: $vars")
  }

  test("stemLite: anchored suffix chain on known forms") {
    val cases = Seq(
      "classes" -> "class",   // sses -> ss
      "studies" -> "studi",   // ies -> i
      "cats" -> "cat",        // plural s (not after s)
      "kiss" -> "kiss",       // double-s untouched
      "singing" -> "sing",    // ing stripped only past a vowel
      "sing" -> "sing",       // no vowel before ing -> keep
      "agreed" -> "agre",     // ed past a vowel
      "quickly" -> "quick",   // ly after consonant
      "running" -> "runn",    // LITE: no double-consonant undoubling
      "the" -> "the")
    val df = cases.map(_._1).toDF("w")
      .select(col("w"), TextAnalysis.stemLite(col("w")).as("stem"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    for ((w, expect) <- cases)
      assert(got(w) == expect, s"stemLite($w) = ${got(w)}, want $expect")
  }

  test("adaptiveProbeCells: probes in similarity order until k*margin candidates") {
    // centroids on the axes of a 3-dim space; query along axis 0 ranks
    // cells 0 > 1 > 2 (cosine 1.0, 0.0, 0.0 — tie between 1 and 2 breaks
    // to the lower cell id)
    val cs = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0), Array(0.0, 0.0, 1.0))
    val q = Seq(1.0f, 0.1f, 0.0f)
    // target 10*2=20: cell 0 (15) is not enough (15 < 20), cell 1 tips it
    assert(Similarity.adaptiveProbeCells(cs, Array(15L, 30L, 100L), q,
      k = 10, margin = 2) == Seq(0, 1))
    // dense first cell covers the target alone
    assert(Similarity.adaptiveProbeCells(cs, Array(25L, 30L, 100L), q,
      k = 10, margin = 2) == Seq(0))
    // empty cells contribute nothing; probing walks on until the target
    assert(Similarity.adaptiveProbeCells(cs, Array(0L, 0L, 20L), q,
      k = 10, margin = 2) == Seq(0, 1, 2))
    // the first cell is always probed, and probing never walks past nCells
    assert(Similarity.adaptiveProbeCells(cs, Array(0L, 0L, 0L), q,
      k = 10, margin = 100) == Seq(0, 1, 2))
  }

  test("adaptive multi-query IVF with a corpus-covering margin equals brute force") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val emb = (0 until 120).map(i => (i.toLong, vec(i + 7))).toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(emb, k = 8, iters = 2)
    val assigned = Similarity.ivfAssign(emb, centroids).cache()
    val queries = emb.filter(col("vec_id") % 30 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // margin big enough that every query's target exceeds the corpus:
    // the policy probes ALL cells, so results must equal brute force
    val adaptive = Similarity.ivfTopKMultiAdaptive(assigned, centroids,
        queries, k = 3, margin = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val brute = Similarity.ivfTopKMulti(assigned, centroids, queries,
        k = 3, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(adaptive == brute,
      s"adaptive@full-margin diverges: ${adaptive -- brute} / ${brute -- adaptive}")
    // a tight margin still answers every query (k results each) from a
    // shallower scan
    val tight = Similarity.ivfTopKMultiAdaptive(assigned, centroids,
      queries, k = 3, margin = 2)
    val perQ = tight.groupBy("qid").count().collect()
    assert(perQ.forall(_.getLong(1) == 3L),
      s"tight margin shorted a query: ${perQ.mkString(",")}")
  }

  test("semDedup groups planted jitter trios and keeps the centroid-farthest member") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + eps * ((i % 3) - 1) }
    // three planted trios (a base + two jittered copies, cosine ~1 within a
    // trio) in a sea of 50 independent gaussians (pairwise cosine well
    // under the 0.95 threshold at dim 16 for these seeds)
    val trios = Seq(0, 1, 2).map(t => (t, vec(1000 + t)))
    val planted = trios.flatMap { case (t, v) =>
      Seq((100L + t * 10, v), (101L + t * 10, jitter(v, 0.01f)),
        (102L + t * 10, jitter(v, 0.02f)))
    }
    val noise = (0 until 50).map(i => (i.toLong, vec(i + 7)))
    val emb = (noise ++ planted).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, nCells = 4, iters = 2, minSim = 0.95)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(out.size == 59, s"one row per vector expected, got ${out.size}")
    for (t <- 0 to 2) {
      val ids = Seq(100L + t * 10, 101L + t * 10, 102L + t * 10)
      val clusters = ids.map(out(_)._1).distinct
      assert(clusters.size == 1, s"trio $t split across clusters $clusters")
      assert(!noise.exists(n => out(n._1)._1 == clusters.head),
        s"noise vector joined planted trio $t")
      val keepers = ids.filter(out(_)._3)
      // the keep-the-outlier rule: exactly one keeper, the member with the
      // LOWEST centroid similarity (ties to lower id)
      val expect = ids.minBy(id => (out(id)._2, id))
      assert(keepers == Seq(expect),
        s"trio $t keeper $keepers, expected $expect " +
          s"(csims ${ids.map(id => id -> out(id)._2)})")
    }
    // every singleton is its own cluster and its own keeper
    val singles = noise.map(_._1).filter(id =>
      out.count(_._2._1 == out(id)._1) == 1)
    assert(singles.nonEmpty)
    singles.foreach { id =>
      assert(out(id)._1 == id && out(id)._3, s"singleton $id not its own keeper")
    }
    // exactly one keeper per cluster, corpus-wide
    out.values.groupBy(_._1).foreach { case (c, ms) =>
      assert(ms.count(_._3) == 1, s"cluster $c has ${ms.count(_._3)} keepers")
    }
  }

  test("semDedupIncrementalPairs = all-new pair stage restricted to touching-new") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + eps * ((i % 3) - 1) }
    // new batch = id % 4 == 0. Planted: corpus 10 ~ new 12 (cross pair),
    // new 16 ~ new 20 (in-batch pair), corpus 9 ~ corpus 13 (corpus-only —
    // must NOT rescore), in a sea of independent gaussians.
    val a = vec(501); val b = vec(502); val c = vec(503)
    val planted = Seq((10L, a), (12L, jitter(a, 0.01f)),
      (16L, b), (20L, jitter(b, 0.01f)),
      (9L, c), (13L, jitter(c, 0.01f)))
    val noise = (30 until 70).map(i => (i.toLong, vec(i + 700)))
    val emb = (noise ++ planted).toDF("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id") % 4 =!= 0)
    val nb = emb.filter(col("vec_id") % 4 === 0)
    val centroids = Similarity.kmeansCentroids(corpus, k = 4, iters = 2)
    val inc = Similarity.semDedupIncrementalPairs(
      Similarity.assignWith(corpus, centroids),
      Similarity.assignWith(nb, centroids), minSim = 0.95, maxCellSize = 256)
    val got = inc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((10L, 12L)), s"cross corpus-new pair missed: $got")
    assert(got.contains((16L, 20L)), s"in-batch pair missed: $got")
    assert(!got.contains((9L, 13L)), s"corpus-only pair rescored: $got")
    // batch-equivalence law: the all-new pair stage over the union with the
    // SAME frozen centroids, restricted to pairs touching the batch
    val allAssigned = Similarity.assignWith(emb, centroids)
    val full = Similarity.semDedupIncrementalPairs(
      allAssigned.filter(lit(false)), allAssigned,
      minSim = 0.95, maxCellSize = 256)
    val expect = full
      .filter(col("doc_a") % 4 === 0 || col("doc_b") % 4 === 0)
    assert(inc.exceptAll(expect).isEmpty && expect.exceptAll(inc).isEmpty,
      "incremental pairs diverge from the restricted batch law")
  }

  test("semantic pair stage plan: one vector-carrying shuffle, tiny broadcasts, no sort-merge join") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val emb = (0 until 80).map(i => (i.toLong, vec(i + 40))).toDF("vec_id", "embedding")
    val corpus = emb.filter(col("vec_id") % 4 =!= 0)
    val nb = emb.filter(col("vec_id") % 4 === 0)
    val centroids = Similarity.kmeansCentroids(corpus, k = 4, iters = 1)
    val pr = Similarity.semDedupIncrementalPairs(
      Similarity.assignWith(corpus, centroids),
      Similarity.assignWith(nb, centroids), minSim = 0.9, maxCellSize = 256)
    pr.collect()
    val plan = pr.queryExecution.executedPlan
    val s = plan.toString
    // vectors ride ONE cell-keyed shuffle into the member collect (exactly
    // one partial_collect_list exchange exists); the touched-cell semi-join
    // and the cap are tiny (<= nCells rows) aggregates whose results
    // BROADCAST back — no id-pair ever re-joins the corpus, so no
    // sort-merge join exists. The load-bearing invariants are asserted
    // directly below; the total exchange census is only UPPER-bounded
    // (r15 structure: 5 physical + 2 ReusedExchange re-walks) so a Spark/
    // AQE planning change that doesn't touch the protected property —
    // one vector-carrying shuffle, broadcast cap joins — can't break it.
    assert(graft.queries.Spectral.countExchanges(plan) <= 8,
      s"pair stage grew extra exchanges — a corpus re-join crept in:\n$s")
    // AdaptiveSparkPlan.toString echoes the initial plan below the final
    // one — count collect shuffles in the FINAL section only
    val finalSection = s.split("== Initial Plan ==")(0)
    assert(finalSection.split("partial_collect_list").length - 1 == 1,
      s"vectors must ride exactly ONE collect shuffle:\n$s")
    assert(s.contains("BroadcastHashJoin"), s"cap eligibility join must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"no corpus-attach joins in the pair stage:\n$s")
  }

  test("per-cell quota rank filter compiles to WindowGroupLimit (map-side top-k)") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val emb = (0 until 60).map(i => (i.toLong, vec(i + 11))).toDF("vec_id", "embedding")
    val asg = Similarity.cellAssignments(emb, nCells = 4, iters = 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cell").orderBy(col("h"), col("id"))
    val q = asg.select(col("id"), col("cell"))
      .withColumn("h", conv(substring(md5(concat(lit("cbs:"),
        col("id").cast("string"))), 1, 15), 16, 10).cast("long"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
    q.collect()
    val s = q.queryExecution.executedPlan.toString
    assert(s.contains("WindowGroupLimit"),
      s"quota rank filter must push a group limit below the shuffle:\n$s")
  }

  test("featureHashEmbed + semDedup clusters planted text dups without an embeddings table") {
    // the UDF chain must equal q120's Catalyst md5 bucket/sign chain
    // computed independently via SQL expressions on the same words
    val viaExpr = docs.select(col("doc_id"), expr(
      """transform(sequence(0, 63), i -> CAST(aggregate(
        |  filter(transform(filter(split(text, ' '), w -> length(w) > 0),
        |    w -> named_struct(
        |      'b', CAST(conv(substring(md5(concat('fh:', w)), 1, 15), 16, 10)
        |        AS BIGINT) % 64,
        |      's', CASE WHEN CAST(conv(substring(md5(concat('fh:', w)), 16, 1),
        |        16, 10) AS INT) % 2 = 0 THEN 1L ELSE -1L END)),
        |    p -> p.b = i),
        |  0L, (acc, p) -> acc + p.s) AS FLOAT))""".stripMargin).as("e2"))
    val joined = Sketches.featureHashEmbed(docs, dim = 64)
      .join(viaExpr, "doc_id")
      .filter(col("embedding") =!= col("e2"))
    assert(joined.isEmpty, s"UDF diverges from the q120 chain: ${joined.count()}")
    // the full text-side composition at the strict threshold: planted
    // exact dups co-cluster, nothing else joins them (a one-word edit in
    // a ~17-word doc already costs ~0.06 of hashed-BoW cosine, so 0.97
    // admits only near-verbatim copies — the q378 contract)
    val emb64 = Sketches.featureHashEmbed(docs, dim = 64)
    val strict = Similarity.semDedup(emb64,
        nCells = 4, iters = 2, minSim = 0.97, idCol = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(strict(300L) == strict(0L), "exact dup 300 must cluster with doc 0")
    assert(strict(301L) == strict(1L), "exact dup 301 must cluster with doc 1")
    val dupClusters = Set(strict(300L), strict(301L))
    val strays = (2 until 100).map(_.toLong)
      .filter(id => dupClusters.contains(strict(id)))
    assert(strays.isEmpty, s"random docs joined dup clusters: $strays")
    // relaxing to 0.9 admits the one-word-edit near-dups (cosine ~0.94)
    // while the random-vocab docs (~0.3 pairwise) still stay out
    val loose = Similarity.semDedup(emb64,
        nCells = 4, iters = 2, minSim = 0.9, idCol = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(loose(210L) == loose(211L), "tail-variant near-dups must co-cluster at 0.9")
    assert(loose(200L) == loose(201L), "one-word-edit near-dups must co-cluster at 0.9")
    assert(loose(2L) != loose(200L) && loose(3L) != loose(200L),
      "random docs must not join the near-dup cluster at 0.9")
  }

  test("two-level assignment equals the flat scan when probing every super") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val emb = (0 until 300).map(i => (i.toLong, vec(i + 77))).toDF("vec_id", "embedding")
    val centroids = Similarity.kmeansCentroids(emb, k = 32, iters = 2)
    val sq = Similarity.superQuantizer(centroids, nSuper = 6)
    assert(sq.memberOf.map(_.length).sum == 32, "every centroid in exactly one super")
    val flat = Similarity.assignWith(emb, centroids)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // exhaustive probe = the exactness law: bit-identical to the flat scan
    val exhaustive = Similarity.assignWithApprox(emb, centroids, sq, probe = 6)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(exhaustive == flat, "probe == nSuper must equal the flat scan")
    // a shallow probe stays a valid assignment (real cells) and agrees on
    // the vast majority — the documented boundary-straddler concession
    val shallow = Similarity.assignWithApprox(emb, centroids, sq, probe = 2)
      .select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(shallow.values.forall(c => c >= 0 && c < 32))
    val agree = shallow.count { case (id, c) => flat(id) == c }
    assert(agree * 10 >= shallow.size * 8,
      s"probe=2 agreement collapsed: $agree/${shallow.size}")
  }

  test("semanticDecontamination flags same-cell eval near-matches and only those") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    // ids NOT divisible by 23 are train; 46 and 69 are eval. 46 is an
    // EXACT copy of train vector 7 (same cell by construction), 69 is an
    // independent gaussian that matches nothing at 0.95.
    val train = (1 to 40).filter(_ % 23 != 0).map(i => (i.toLong, vec(i + 300)))
    val ev = Seq((46L, vec(7 + 300)), (69L, vec(9999)))
    val emb = (train ++ ev).toDF("vec_id", "embedding")
    val out = Similarity.semanticDecontamination(emb, evalMod = 23,
        nCells = 4, iters = 2, minSim = 0.95)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]), r.getBoolean(4)))
      .toMap
    assert(out.size == train.size, "one row per train vector")
    assert(!out.contains(46L) && !out.contains(69L), "eval rows must not appear")
    val (n7, max7, c7) = out(7L)
    assert(c7 && n7 >= 1L && max7.contains(1.0),
      s"planted eval copy missed: n=$n7 max=$max7 contaminated=$c7")
    val others = out.view.filterKeys(_ != 7L).values
    assert(others.forall(!_._3),
      s"false contamination: ${out.filter(kv => kv._1 != 7L && kv._2._3)}")
  }

  test("semDedupApprox: probe==nSuper reproduces semDedup bit-identically; " +
      "planted recall holds at shallow probes") {
    // 260 independent gaussians + 40 planted near-dups (1e-3 relative
    // perturbation of base j => cosine ~1) — the SimilaritySoak planting
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val base = (0 until 260).map(i => (i.toLong, vec(i + 7000)))
    val dups = (0 until 40).map { j =>
      val v = vec(j + 7000)
      (1000L + j, v.map(x => x * (1 + 1e-3f)))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val cl = df.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      (0 until 40).count(j => cl(j.toLong) == cl(1000L + j)) / 40.0
    }
    val flat = Similarity.semDedup(emb, nCells = 24, iters = 2, minSim = 0.99)
    val flatRows = rows(flat)
    assert(recall(flat) == 1.0, "flat scan must recover every planted pair")
    // exactness law END TO END: probing every super IS the flat scan, so
    // the whole pipeline output (clusters, keepers, csims) is identical
    val exhaustive = Similarity.semDedupApprox(emb, nCells = 24, nSuper = 6,
      probe = 6, iters = 2, minSim = 0.99)
    assert(rows(exhaustive) == flatRows,
      "probe == nSuper must reproduce the flat pipeline bit-identically")
    // shallow probes: a mis-routed boundary vector can only SPLIT a planted
    // pair (never invent one) — recall floor 0.9 at probe=2, and the
    // deeper probe does at least as well (fixed seeds: a frozen fact)
    val r2 = recall(Similarity.semDedupApprox(emb, nCells = 24, nSuper = 6,
      probe = 2, iters = 2, minSim = 0.99))
    val r4 = recall(Similarity.semDedupApprox(emb, nCells = 24, nSuper = 6,
      probe = 4, iters = 2, minSim = 0.99))
    assert(r2 >= 0.9, s"probe=2 planted recall collapsed: $r2")
    assert(r4 >= r2, s"recall not improving with probe depth: $r2 -> $r4")
  }

  test("semDedupWith: full-train centroids reproduce semDedup; a sampled " +
      "train still recovers planted dups") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val base = (0 until 200).map(i => (i.toLong, vec(i + 8000)))
    val dups = (0 until 30).map { j =>
      val v = vec(j + 8000)
      (1000L + j, v.map(x => x * (1 + 1e-3f)))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    // identity law: training on everything and freezing IS semDedup
    val flat = rows(Similarity.semDedup(emb, nCells = 16, iters = 2, minSim = 0.99))
    val frozen = rows(Similarity.semDedupWith(emb,
      Similarity.kmeansCentroids(emb, k = 16, iters = 2), minSim = 0.99))
    assert(frozen == flat, "frozen full-train centroids must equal semDedup")
    // sampled train: cells differ, but a planted pair's two members still
    // compute near-identical cosines to EVERY centroid — they co-route
    val thr = Curation.rateThreshold(0.25)
    val train = emb.filter(Curation.sampleHash(col("vec_id"), "spectrain") < lit(thr))
    assert(train.count() >= 16, "sample must cover the seed count")
    val sampled = Similarity.semDedupWith(emb,
        Similarity.kmeansCentroids(train, k = 16, iters = 2), minSim = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val recovered = (0 until 30).count(j => sampled(j.toLong) == sampled(1000L + j))
    assert(recovered >= 27, s"sampled-train planted recall collapsed: $recovered/30")
  }

  test("semanticDecontamination refuses an oversized eval cell LOUDLY") {
    // the guard is a refusal, not a skip: decontamination must never
    // silently under-report because mass piled up at one centroid
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val emb = (1 to 60).map(i => (i.toLong, vec(i + 500)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.semanticDecontamination(emb, evalMod = 3, nCells = 2,
        iters = 1, minSim = 0.25, maxEvalPerCell = 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("maxEvalPerCell")),
      s"expected the loud per-cell refusal, got: $e")
  }

  test("semDedup refuses an unbounded maxCellSize (the cap IS the memory contract)") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextGaussian().toFloat)
    }
    val emb = (1 to 20).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.semDedup(emb, nCells = 2, iters = 1, minSim = 0.9,
        maxCellSize = 1000000)
    }
    assert(e.getMessage.contains("maxCellSize"))
  }
}
