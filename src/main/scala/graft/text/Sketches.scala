package graft.text

import org.apache.spark.sql.{DataFrame, Column, Encoders}
import org.apache.spark.sql.functions._

/** Deterministic frequency sketches for corpus-scale counting.
  *
  * The count-min sketch here is the 100 TB answer to "how often does each
  * word/token occur": exact counting shuffles a VOCABULARY-sized key space
  * (the q61 `vocabulary` cost), while the sketch's cell table is bounded at
  * d×m rows no matter the corpus — partial aggregation collapses every
  * partition to at most d×m cells map-side, so the only shuffle is
  * fixed-size. Estimates are one-sided (always >= the true count, over by
  * at most ~e·N/m with probability 1-e^-d, N = total occurrences).
  *
  * Determinism contract: cell (j, pos) for word w sits at pos =
  * md5("j:w") hex 1-15 mod m — the hash60 grid (TextOps.scala:49) expressed
  * as the same pure-codegen conv(substring(md5)) column `sampleHash` uses,
  * so DuckDB replays every cell and estimate exactly (no library sketch
  * with engine-private hashing could be oracle-checked).
  */
object Sketches {

  /** Cell position of `word` in sketch row j: md5("j:word") hex 1-15 as a
    * 60-bit integer mod m — pure codegen, no UDF. */
  private def cellPos(word: Column, j: Int, mCols: Int): Column =
    (conv(substring(md5(concat(lit(s"$j:"), word)), 1, 15), 16, 10)
      .cast("long") % mCols).cast("int")

  /** Build the d×m count-min cell table (j, pos, cnt) over whitespace
    * words. One explode + one FIXED-SIZE shuffle (<= d*m distinct keys, so
    * map-side partials collapse to a bounded table per partition). */
  def countMinCells(docs: DataFrame, d: Int = 3, mCols: Int = 1 << 12,
                    textCol: String = "text"): DataFrame = {
    require(d > 0 && mCols > 0, s"need d>0, mCols>0; got $d, $mCols")
    docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .select(posexplode(array((0 until d).map(j =>
        cellPos(col("word"), j, mCols)): _*)).as(Seq("j", "pos")))
      .groupBy(col("j"), col("pos"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Count-min estimates for `words` (small — candidate heavy hitters):
    * min over the d cells each `wordCol` value hashes to. Every other
    * column of `words` passes through (so callers join nothing back —
    * a single reference to an expensive candidate aggregate; `words` must
    * not already have j/pos/cnt columns). The cell table is bounded at
    * d×m rows, so it BROADCASTS — the probe is a map-side join however
    * large the corpus that built it was. Missing cells count 0 (a word
    * the sketch never saw estimates 0, not the min of its present cells). */
  def countMinEstimate(cells: DataFrame, words: DataFrame,
                       d: Int = 3, mCols: Int = 1 << 12,
                       wordCol: String = "word"): DataFrame = {
    require(d > 0 && mCols > 0, s"need d>0, mCols>0; got $d, $mCols")
    val keep = words.columns.toSeq.map(col)
    words
      .select(keep :+ posexplode(array((0 until d).map(j =>
        cellPos(col(wordCol), j, mCols)): _*)).as(Seq("j", "pos")): _*)
      .join(broadcast(cells), Seq("j", "pos"), "left")
      .groupBy(keep: _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_estimate"))
  }

  /** KMV seed: kept distinct from every other hash-family salt in the repo
    * (MinHash word hash is "0:", planes "7:", sampling "mix:"/"strat:"). */
  private val KmvSeed = 99

  /** The k smallest DISTINCT md5-grid hashes of a string column (words,
    * n-grams, URLs, user ids …) — the k-minimum-values (bottom-k)
    * cardinality sketch (Bar-Yossef et al. 2002). The 100 TB shape: a
    * bounded TreeSet of k values per PARTITION (classic per-partition
    * imperative state — the mapPartitions case), so at most k rows leave
    * each partition and the global merge re-selects bottom-k over k·P
    * rows; no universe-sized shuffle anywhere, unlike exact distinct
    * counting. Mergeable: the union of bottom-k sets re-bottomed is the
    * bottom-k of the union. */
  def kmvBottomK(items: DataFrame, k: Int,
                 itemCol: String = "item"): DataFrame = {
    require(k > 1, s"need k>1: $k")
    val hashes = items
      .select(conv(substring(md5(concat(lit(s"$KmvSeed:"), col(itemCol))),
        1, 15), 16, 10).cast("long").as("value"))
      .as[Long](Encoders.scalaLong)
    val perPartition = hashes.mapPartitions { it =>
      val set = new java.util.TreeSet[java.lang.Long]()
      while (it.hasNext) {
        val h = it.next()
        if (set.size < k) set.add(h)
        else if (h < set.last && !set.contains(h)) {
          set.add(h); set.remove(set.last)
        }
      }
      scala.jdk.CollectionConverters.IteratorHasAsScala(set.iterator).asScala
        .map(Long.unbox)
    }(Encoders.scalaLong)
    perPartition.toDF("h").distinct().orderBy(col("h").asc).limit(k)
  }

  /** One-row distinct-count estimate from the bottom-k sketch:
    * n̂ = (k-1)·2^60 / h_k (h_k = the k-th smallest distinct hash, a
    * uniform order statistic on the 60-bit grid). If the universe has
    * fewer than k distinct hashes the sketch IS the distinct set and the
    * estimate is exact. One double expression from exact integers — the
    * q85 oracle replays it bit for bit. */
  def kmvDistinctEstimate(items: DataFrame, k: Int,
                          itemCol: String = "item"): DataFrame =
    kmvBottomK(items, k, itemCol)
      .agg(count(lit(1)).as("n_kept"), max("h").as("h_k"))
      .select(col("n_kept"), col("h_k"),
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
            / col("h_k").cast("double"))
          .as("estimate"))

  /** Join/overlap cardinality estimation from two KMV sketches — the
    * optimizer-statistics primitive: estimate |A ∩ B| (and |A ∪ B|)
    * WITHOUT joining the data, from two bounded bottom-k sketches built
    * independently per side (at 100 TB: each side is one narrow scan +
    * a k-row result; the estimator runs on ≤ 2k rows).
    *
    * Method (Bar-Yossef et al. / Beyer et al.): the bottom-k of the
    * UNION's hash set is computable from the two sketches alone; with
    * h_k its k-th value, |A∪B|^ = (k−1)·2⁶⁰/h_k, and the fraction of
    * those k that appear in BOTH sketches estimates Jaccard, so
    * |A∩B|^ = (common/k)·|A∪B|^. Exact when the union has < k distinct
    * hashes (the sketches ARE the sets).
    *
    * Plan shape: each side's sketch is referenced ONCE — membership
    * flags ride the union and a max-agg rebuilds them per hash (a
    * merged-frame self-join would re-run both sketch passes). */
  def kmvIntersectEstimate(aItems: DataFrame, bItems: DataFrame, k: Int,
                           itemCol: String = "item"): DataFrame = {
    val a = kmvBottomK(aItems, k, itemCol)
    val b = kmvBottomK(bItems, k, itemCol)
    val merged = a.select(col("h"), lit(1L).as("ina"), lit(0L).as("inb"))
      .union(b.select(col("h"), lit(0L).as("ina"), lit(1L).as("inb")))
      .groupBy("h").agg(max("ina").as("ina"), max("inb").as("inb"))
      .orderBy(col("h").asc).limit(k)
    val unionEst = when(col("n_kept") < k, col("n_kept").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(1.152921504606846976e18)
        / col("h_k").cast("double"))
    merged
      .agg(count(lit(1)).as("n_kept"), max("h").as("h_k"),
        sum(col("ina") * col("inb")).as("n_common"))
      .select(col("n_kept"), col("h_k"), col("n_common"),
        graft.functions.GridFunctions.gridRound(unionEst, 4)
          .as("union_est"),
        graft.functions.GridFunctions.gridRound(
          col("n_common").cast("double") / col("n_kept").cast("double")
            * unionEst, 4).as("inter_est"))
  }

  // --- HyperLogLog ----------------------------------------------------------

  /** HyperLogLog registers over md5-hashed items: bucket = the hash's
    * first 8 bits (m = 256), rho = 1 + leading zero bits of the next 60.
    * The register table is the fixed-size state (≤ m rows after a
    * map-side-partial max agg — the same bounded-shuffle contract as the
    * count-min cells, at 256 rows the smallest in the family).
    *
    * rho is computed from the hex string itself (ltrim zeros + a 4-case
    * nibble decode) — exact string/integer ops any engine replays, never
    * floor(log2(w)) (w spans 60 bits; doubles lose ulps past 2^53). */
  /** (bucket, rho) expression pair for an item column — shared by the
    * global and grouped register builders. */
  private def hllBucketRho(itemCol: String): (Column, Column) =
    hllBucketRhoFor(col(itemCol))

  def hllRegisters(items: DataFrame, itemCol: String = "item"): DataFrame = {
    val (bucket, rho) = hllBucketRho(itemCol)
    items.select(bucket.as("bucket"), rho.as("rho"))
      .groupBy("bucket").agg(max("rho").as("reg"))
  }

  /** Shared estimate-from-registers chain (m = 256, alpha_256
    * harmonic-mean form, linear-counting correction below 2.5m),
    * parameterized on the grouping so the global and grouped forms can
    * never diverge. The harmonic sum runs on an exact integer grid: each
    * register contributes 2^(61-reg) and absent buckets 2^61, summed as
    * DECIMAL(38,0) — addition order can't move an ulp — with ONE double
    * division at the end. */
  private def hllEstimateFromRegs(regs: DataFrame,
                                  groupCols: Seq[String]): DataFrame = {
    val m = 256
    regs.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("present"),
        // coalesce: an EMPTY universe has no registers at all — the sum is
        // null, and the absent-bucket term must carry the whole estimate
        // (linear counting then reports exactly 0)
        coalesce(sum(pow(lit(2.0), lit(61) - col("reg"))
          .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("num_present"))
      .withColumn("zero_buckets", (lit(m) - col("present")).cast("long"))
      .withColumn("num", (col("num_present") +
        (lit(m) - col("present")).cast("decimal(38,0)") *
          lit(2305843009213693952L).cast("decimal(38,0)"))
        .cast("decimal(38,0)"))
      .withColumn("raw",
        lit(0.7213 / (1.0 + 1.079 / 256.0)) * lit(256.0 * 256.0) /
          (col("num").cast("double") / lit(2.305843009213693952e18)))
      .withColumn("raw_estimate",
        graft.functions.GridFunctions.gridRound(col("raw"), 4))
      .withColumn("estimate",
        graft.functions.GridFunctions.gridRound(when(col("zero_buckets") > 0L && col("raw") <= lit(2.5 * 256.0),
          lit(256.0) * log(lit(256.0) / col("zero_buckets").cast("double")))
          .otherwise(col("raw")), 4))
  }

  /** One-row HLL cardinality estimate — see [[hllEstimateFromRegs]]. */
  def hllDistinctEstimate(items: DataFrame,
                          itemCol: String = "item"): DataFrame =
    hllEstimateFromRegs(hllRegisters(items, itemCol), Seq.empty)
      .select(col("zero_buckets"), col("raw_estimate"), col("estimate"))

  /** Per-group HLL distinct estimates — the form that matters at scale:
    * ONE aggregate whose key space is groups × 256 (vs exact per-group
    * distinct counting, whose pair space is groups × universe). Same
    * register math and estimate chain as [[hllDistinctEstimate]], per
    * group. */
  def hllDistinctByGroup(items: DataFrame, groupCol: String,
                         itemCol: String = "item"): DataFrame = {
    val (bucket, rho) = hllBucketRho(itemCol)
    val regs = items.select(col(groupCol).as("_g"), bucket.as("bucket"),
        rho.as("rho"))
      .groupBy("_g", "bucket").agg(max("rho").as("reg"))
    hllEstimateFromRegs(regs, Seq("_g"))
      .select(col("_g").as(groupCol), col("zero_buckets"), col("estimate"))
  }

  /** Raw (bucket, rho) columns for an arbitrary item expression — the
    * building block for register tables keyed by something else entirely
    * (per-node HyperBall neighborhood sets, per-day sliding windows). */
  def hllBucketRhoFor(item: Column): (Column, Column) = {
    val hx = md5(concat(lit("hll:"), item))
    val bucket = conv(substring(hx, 1, 2), 16, 10).cast("int")
    val wh = substring(hx, 3, 15)
    val trimmed = ltrim(wh, "0")
    val z = lit(15) - length(trimmed)
    val d = conv(substring(trimmed, 1, 1), 16, 10).cast("int")
    val lead = when(d >= 8, 0).when(d >= 4, 1).when(d >= 2, 2).otherwise(3)
    val rho = when(length(trimmed) === 0, lit(61))
      .otherwise(lit(4) * z + lead + lit(1))
    (bucket, rho)
  }

  /** Estimate from an externally-maintained register table — the surface a
    * STREAMING register state needs: the (bucket, reg) frame is the whole
    * sketch, so a stateful stream that maintains per-bucket max-rho can
    * hand its final cells here for the same estimate chain as
    * [[hllDistinctEstimate]]. */
  def hllEstimateFromRegisters(regs: DataFrame): DataFrame =
    hllEstimateFromRegs(regs, Seq.empty)
      .select(col("zero_buckets"), col("raw_estimate"), col("estimate"))

  /** Trailing-window HLL distinct estimates per day — the MERGEABLE-sketch
    * pattern that makes rolling distinct counts cheap at scale: the corpus
    * is aggregated ONCE into per-(day, bucket) registers (≤ 256 rows per
    * day, map-side partial max), and every output day then unions its
    * trailing `windowDays` register sets with a bounded range join + max —
    * re-aggregating tiny sketches, never re-scanning raw rows per window.
    * The exact equivalent re-walks (days × window) of raw data; the sketch
    * re-walks (days × window × 256) register rows. Same register math and
    * estimate chain as [[hllDistinctEstimate]]. */
  def hllSlidingDistinct(items: DataFrame, dayCol: String,
                         itemCol: String = "item",
                         windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays >= 1 (got $windowDays)")
    val (bucket, rho) = hllBucketRho(itemCol)
    val daily = items.select(col(dayCol).cast("long").as("_d"),
        bucket.as("bucket"), rho.as("rho"))
      .groupBy("_d", "bucket").agg(max("rho").as("rho"))
    val days = daily.select(col("_d").as("day")).distinct()
    val unioned = days.join(daily,
        col("_d") >= col("day") - (windowDays - 1) && col("_d") <= col("day"))
      .groupBy("day", "bucket").agg(max("rho").as("reg"))
    hllEstimateFromRegs(unioned, Seq("day"))
      .select(col("day"), col("zero_buckets"), col("estimate"))
  }

  // --- feature hashing -------------------------------------------------------

  /** Hashing-trick vectorizer census: every term maps to a bucket in
    * [0, dim) with a ±1 sign from the next hash bit (the signed variant
    * that keeps E[collision noise] = 0). The certified output is the
    * per-bucket census — term occurrences, distinct terms (collision
    * load), signed sum — for the top-`topK` buckets by load.
    *
    * Scale: one explode → one dim-bounded shuffle (map-side partials
    * collapse to ≤ dim rows per partition); the vectorizer itself is a
    * pure narrow expression usable per doc at any corpus size. */
  def featureHashCensus(docs: DataFrame, dim: Int = 1024, topK: Int = 50,
                        textCol: String = "text"): DataFrame = {
    require(dim > 0 && topK > 0, s"need dim>0, topK>0; got $dim, $topK")
    val hx = md5(concat(lit("fh:"), col("term")))
    val u = conv(substring(hx, 1, 15), 16, 10).cast("long")
    val sign = when((conv(substring(hx, 16, 1), 16, 10).cast("int") % 2) === 0,
      1L).otherwise(-1L)
    // distinct-ing via the vocabulary idiom, not countDistinct: the per-term
    // agg's partials collapse to vocabulary size map-side (a countDistinct
    // partial would key on raw pairs and spill at corpus scale)
    docs.select(explode(split(col(textCol), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .select(col("term"), (u % dim).cast("int").as("bucket"),
        sign.as("sign"))
      .groupBy("bucket", "term", "sign")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("bucket")
      .agg(sum("cnt").as("n_terms"),
        count(lit(1)).as("n_distinct_terms"),
        sum(col("sign") * col("cnt")).as("signed_sum"))
      .orderBy(col("n_terms").desc, col("bucket"))
      .limit(topK)
  }

  /** Hashing-trick DENSE embedding per document — [[featureHashCensus]]'s
    * bucket/sign chain (md5('fh:' || word): first 15 hex digits pick the
    * bucket, the 16th's parity the ±1 sign), accumulated per word
    * OCCURRENCE into a dim-length float vector in ONE narrow UDF pass.
    * This is the text-side entry into the semantic family (semDedup,
    * cell sampling, decontamination) when no learned embedding column
    * exists: cosine over these bags-of-hashed-words separates
    * near-duplicate texts sharply from vocabulary-level similarity.
    * Entries are small integers, so cross-engine cosine over them is
    * exact, and a DuckDB oracle replays the chain verbatim (q120's). */
  def featureHashEmbed(docs: DataFrame, dim: Int = 64,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val embedUdf = udf { (text: String) =>
      val out = new Array[Float](dim)
      if (text != null) {
        val md = java.security.MessageDigest.getInstance("MD5")
        text.split(" ").foreach { w =>
          if (w.nonEmpty) {
            md.reset()
            val b = md.digest(("fh:" + w).getBytes("UTF-8"))
            // hex digits 1-15 as an unsigned 60-bit integer: bytes 0-6
            // whole plus byte 7's high nibble (the '0x'||substr(md5,1,15)
            // chain q120 pinned)
            var h = 0L
            var i = 0
            while (i < 7) { h = (h << 8) | (b(i) & 0xFFL); i += 1 }
            h = (h << 4) | ((b(7) & 0xF0L) >>> 4)
            // 16th hex digit = byte 7's low nibble; parity -> sign
            val sign = if ((b(7) & 0x01) == 0) 1f else -1f
            out((h % dim).toInt) += sign
          }
        }
      }
      out
    }
    docs.select(col(idCol), embedUdf(col(textCol)).as("embedding"))
  }
}
