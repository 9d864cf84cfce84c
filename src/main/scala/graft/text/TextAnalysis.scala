package graft.text

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/** Text analysis operators — language ID, quality scoring, token counting,
  * fingerprinting — expressed in pure Catalyst string expressions (codegen'd,
  * no UDF) so they both scale and stay DuckDB-oracle-expressible.
  */
object TextAnalysis {

  /** Plain substring replace-count (no regex). */
  def substrCount(textCol: Column, needle: String): Column =
    ((length(textCol) - length(replace(textCol, lit(needle), lit("")))) / needle.length)
      .cast("long")

  /** Porter-LITE suffix stripper: a fixed, deterministic regex chain that
    * collapses the high-frequency English inflections (plural -s/-es/-ies,
    * progressive -ing, past -ed, adverbial -ly) so term statistics group
    * surface forms. Deliberately NOT full Porter (no measure() conditions,
    * no step 2-5 derivational rules): every rule is a single anchored
    * regexp_replace that any SQL engine replays verbatim, which keeps the
    * stem column oracle-exact. Pure codegen'd string functions — narrow,
    * no shuffle, no UDF. Apply to lowercased alphabetic tokens. */
  def stemLite(word: Column): Column = {
    val s1 = regexp_replace(word, "sses$", "ss")
    val s2 = regexp_replace(s1, "ies$", "i")
    val s3 = regexp_replace(s2, "([^s])s$", "$1")
    val s4 = regexp_replace(s3, "([aeiou].*)ing$", "$1")
    val s5 = regexp_replace(s4, "([aeiou].*)ed$", "$1")
    regexp_replace(s5, "([aeiou].*[^aeiou])ly$", "$1")
  }

  /** Stopword inventories per language for the n-gram-heuristic language ID. */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "que"),
    "fr" -> Seq("le", "les", "des"),
    "de" -> Seq("der", "und", "das"),
    "zh" -> Seq("的", "了", "是"))

  /** All 5 language scores in ONE tokenize pass (single split + hash
    * lookup per token) instead of 15 whole-string replace-counts. The
    * padded non-overlapping " w " replace-count semantics — which the q47
    * oracle replays in SQL — is reproduced EXACTLY: within a run of L
    * consecutive occurrences of the same stopword, adjacent matches share
    * their separating space so only every other one counts (ceil(L/2)),
    * emulated by the prevCounted flag. Null text scores 0 (the old
    * expression chain propagated null — the corpus has no null text, and
    * 0 matches the module's dirty-corpus posture). */
  private val langScoresUdf = {
    // a word may sit in SEVERAL languages' lists (each list replace-counts
    // independently) — map to every slot, not first-wins
    val slots: Map[String, Array[Int]] = Stopwords.zipWithIndex
      .flatMap { case ((_, words), li) => words.map(_ -> li) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).toArray }
    val nLangs = Stopwords.length
    udf { (text: String) =>
      val scores = new Array[Long](nLangs)
      if (text != null) {
        val toks = text.toLowerCase.split(" ", -1)
        var prevCounted = false
        var i = 0
        while (i < toks.length) {
          val ss = slots.getOrElse(toks(i), null)
          if (ss != null && !(prevCounted && i > 0 && toks(i) == toks(i - 1))) {
            var j = 0
            while (j < ss.length) { scores(ss(j)) += 1L; j += 1 }
            prevCounted = true
          } else prevCounted = false
          i += 1
        }
      }
      scores
    }
  }

  /** Language scores + argmax prediction (deterministic first-wins
    * tie-break in Stopwords order). One narrow pass; the score-array UDF
    * is deterministic so whole-stage codegen's subexpression elimination
    * evaluates it once per row across the 5 projections. */
  def withLanguageId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = Stopwords.zipWithIndex.foldLeft(
        docs.withColumn("_ls", langScoresUdf(col(textCol)))) {
      case (df, ((lang, _), i)) => df.withColumn(s"score_$lang", col("_ls")(i))
    }.drop("_ls")
    val langs = Stopwords.map(_._1)
    val best = langs.map(l => col(s"score_$l")).reduce(greatest(_, _))
    val predicted = langs.reverse.foldLeft(lit("und")) { case (acc, l) =>
      when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    // reverse fold => earlier languages win ties (en before es before fr ...)
    scored.withColumn("predicted_lang", predicted)
  }

  /** Token/char statistics and a deterministic quality score. */
  def withQuality(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = split(col(textCol), " ")
    docs
      .withColumn("n_tokens", size(words).cast("long"))
      .withColumn("n_distinct_tokens", size(array_distinct(words)).cast("long"))
      .withColumn("text_chars", length(col(textCol)).cast("long"))
      .withColumn("mean_token_len",
        round((col("text_chars") - (col("n_tokens") - 1)).cast("double") / col("n_tokens"), 4))
      .withColumn("distinct_ratio",
        round(col("n_distinct_tokens").cast("double") / col("n_tokens"), 4))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_tokens").cast("double") / 64) * col("distinct_ratio"), 4))
  }

  /** Content fingerprint: 16-hex-char prefix of md5 of the
    * whitespace-normalized lowercase text. */
  def withFingerprint(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("fingerprint", substring(md5(lower(col(textCol))), 1, 16))

  /** PII detection/redaction patterns. Deliberately restricted to syntax
    * with identical semantics in Java regex (Spark codegen) and RE2
    * (DuckDB oracle): character classes, bounded repetition, `\b`/`\d` —
    * no backreferences or lookaround, and `\d` is ASCII in both engines.
    * Redaction applies in this exact order so overlapping matches resolve
    * identically everywhere. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""" -> "<EMAIL>",
    """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b""" -> "<IP>",
    """\+\d{1,2} \d{3}-\d{3}-\d{4}""" -> "<PHONE>")

  /** PII scrub: per-doc match counts for each pattern class plus the
    * redacted text, all in codegen'd Catalyst string expressions (counts
    * via `regexp_extract_all`, scrubbing via an ordered `regexp_replace`
    * chain). A narrow map over the corpus — the 100 TB shape is one scan,
    * no shuffle. */
  def withPiiRedacted(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val Seq(email, ip, phone) = PiiPatterns.map(_._1)
    val redacted = PiiPatterns.foldLeft(col(textCol)) {
      case (acc, (pat, tag)) => regexp_replace(acc, lit(pat), lit(tag))
    }
    docs
      .withColumn("n_emails", size(regexp_extract_all(col(textCol), lit(email), lit(0))).cast("long"))
      .withColumn("n_ips", size(regexp_extract_all(col(textCol), lit(ip), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(col(textCol), lit(phone), lit(0))).cast("long"))
      .withColumn("redacted", redacted)
  }

  /** URL extraction for domain-level curation (blocklists, per-domain
    * mixing): explodes every `http(s)://host` reference into its bare
    * domain. One scan + one aggregation by domain downstream; the regex is
    * engine-portable like [[PiiPatterns]]. */
  def extractDomains(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        explode(regexp_extract_all(col(textCol),
          lit("""https?://([A-Za-z0-9.-]+)"""), lit(1))).as("domain"))

  /** Bigram language-model coverage — the CCNet/KenLM-style LM quality
    * filter reduced to model-set coverage so both engines compute exact
    * integer counts: the model is the corpus's top-`modelTopK` bigrams by
    * frequency (ties broken by bigram string), and each document scores
    * `n_in_model / n_bigrams` — a document whose word transitions rarely
    * appear in the corpus model reads as noise/boilerplate, the same signal
    * perplexity filters threshold on.
    *
    * 100 TB shape: the model build is the only shuffle (bigram counts with
    * map-side partials collapsing to distinct-bigram cardinality, then a
    * bounded top-K sort-limit); the K model rows are collected (bounded,
    * like the IVF centroid fetch) and broadcast as a hash set, and the
    * corpus side is ONE narrow scan probing the set in a single UDF pass —
    * no explode of the scored corpus, no per-doc shuffle. Output rows carry
    * counts only, never text. Zero-bigram docs (under two tokens) score
    * null, guarded explicitly so the contract holds under ANSI mode. */
  // split limit -1 keeps trailing empties = DuckDB string_split (same
  // tokenization contract as Curation.repetitionCountsUdf)
  private def splitWords(textCol: Column): Column =
    split(coalesce(textCol, lit("")), " ", -1)

  /** Adjacent word bigrams ("w1 w2") over a pre-split token array, as a pure
    * higher-order-function expression (codegen'd `transform`, no UDF):
    * element i of the size-1 prefix slice pairs with its successor. */
  private def bigramsOf(words: Column): Column =
    transform(slice(words, lit(1), greatest(size(words) - 1, lit(0))),
      (x, i) => concat(x, lit(" "), element_at(words, i + 2)))

  def bigramModelCoverage(docs: DataFrame, modelTopK: Int = 2000,
                          textCol: String = "text",
                          idCol: String = "doc_id"): DataFrame = {
    require(modelTopK > 0, s"need modelTopK>0; got $modelTopK")
    val spark = docs.sparkSession
    val modelBigrams = docs
      .select(explode(bigramsOf(splitWords(col(textCol)))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bg"))
      .limit(modelTopK)
      .select("bg").collect().map(_.getString(0)).toSet
    val model = spark.sparkContext.broadcast(modelBigrams)
    val probe = udf { (t: String) =>
      val w = if (t == null) Array.empty[String] else t.split(" ", -1)
      val m = model.value
      var inModel = 0L
      var i = 0
      while (i < w.length - 1) {
        if (m.contains(w(i) + " " + w(i + 1))) inModel += 1
        i += 1
      }
      (math.max(0, w.length - 1).toLong, inModel)
    }
    docs.select(col(idCol), probe(col(textCol)).as("_p"))
      .select(col(idCol), col("_p._1").as("n_bigrams"),
        col("_p._2").as("n_in_model"))
      .withColumn("coverage",
        when(col("n_bigrams") > 0,
          round(col("n_in_model").cast("double") / col("n_bigrams"), 6)))
  }

  /** Corpus collocations by pointwise mutual information: the `topK` word
    * bigrams (count >= `minCount`) whose observed frequency most exceeds
    * the independence expectation. `lift` = p(xy) / (p(x)·p(y)) computed as
    * ONE double expression over exact integer counts —
    * (c_xy·N1·N1) / (N2·c_x·c_y) with fixed left-to-right association so
    * both engines evaluate the identical IEEE sequence; `pmi` = ln(lift).
    * Ranking uses the ROUNDED lift (bigram tie-break), so the selected set
    * can't straddle a float boundary across engines.
    *
    * 100 TB shape: ONE tokenize pass and ONE count aggregation — a unigram
    * token can never contain the space delimiter, so unigram and bigram
    * grams share a single (gram, count) table (map-side partials collapse
    * to vocab + bigram-vocab cardinality) and every downstream consumer
    * (unigram side of the joins, bigram candidates, corpus totals) hangs
    * off the same shuffle, which ReuseExchange runs once; the `minCount`
    * filter drops the hapax-bigram long tail BEFORE the two word-count
    * joins (post-filter survivors are collocation candidates, a tiny
    * fraction of bigram vocab); final selection is a sort-limit (map-side
    * top-K, the TakeOrdered shape) — never a single-partition window. The
    * corpus text itself crosses no shuffle; only (gram, count) rows do. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 3, topK: Int = 50,
                      textCol: String = "text"): DataFrame = {
    require(topK > 0, s"need topK>0; got $topK")
    require(minCount >= 1, s"need minCount>=1; got $minCount")
    val toks = docs.select(splitWords(col(textCol)).as("_w"))
    // _isBg / w1 / w2 ride the aggregation (max of a per-group constant)
    // instead of being derived from the key afterwards: key-derived columns'
    // filters (and the joins' inferred isnotnull predicates) would be pushed
    // BELOW the aggregate, specializing each consumer's subtree — as
    // aggregate outputs they stay above the exchange, so all four consumers
    // (both unigram lookups, bigram candidates, corpus totals) canonicalize
    // to the SAME exchange and the scan+shuffle runs once
    val counts = toks
      .select(explode(concat(col("_w"), bigramsOf(col("_w")))).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("c"),
        max(col("gram").contains(" ")).as("_isBg"),
        max(get(split(col("gram"), " ", -1), lit(0))).as("_w1"),
        max(get(split(col("gram"), " ", -1), lit(1))).as("_w2"))
    // every consumer references ALL the aggregate's outputs (the _w2-null
    // tests are equivalent to the _isBg ones: `get` is null only past the
    // array end, i.e. exactly for unigrams) — otherwise column pruning
    // re-specializes the pruned branches' aggregates and splits the exchange
    val uni = counts
      .filter(!col("_isBg") && col("_w1").isNotNull && col("_w2").isNull)
      .select(col("gram").as("word"), col("c").as("cw"))
    val totals = broadcast(counts.agg(
      coalesce(sum(when(!col("_isBg") && col("_w2").isNull, col("c"))), lit(0L)).as("n1"),
      coalesce(sum(when(col("_isBg") && col("_w2").isNotNull && col("_w1").isNotNull,
        col("c"))), lit(0L)).as("n2")))
    val big = counts.filter(col("_isBg") && col("c") >= minCount)
      .select(col("gram").as("bg"), col("c"),
        col("_w1").as("w1"), col("_w2").as("w2"))
    big
      .join(uni.select(col("word").as("w1"), col("cw").as("c1")), "w1")
      .join(uni.select(col("word").as("w2"), col("cw").as("c2")), "w2")
      .crossJoin(totals)
      .withColumn("_lift",
        (col("c").cast("double") * col("n1") * col("n1"))
          / (col("n2").cast("double") * col("c1") * col("c2")))
      .select(col("bg"), col("c"), col("c1"), col("c2"),
        round(col("_lift"), 6).as("lift"),
        graft.functions.GridFunctions.gridRound(log(col("_lift")), 6).as("pmi"))
      .orderBy(col("lift").desc, col("bg"))
      .limit(topK)
  }
}
