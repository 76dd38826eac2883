package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Fixpoint, Stage}
import graft.functions.{BestFitPackExpr, RepetitionStatsExpr, RollingHashExpr}
import graft.queries.QueryPack

/** Text-analysis operators over the `documents` table: language ID,
  * quality scoring, token counting, and rolling-hash fingerprinting —
  * the per-document scoring stage of a training-data pipeline.
  *
  * Everything is built from codegen'd built-ins (split / higher-order
  * array functions / regexp), so the whole stage is a single narrow
  * projection over the scan: no shuffle, no UDF, embarrassingly parallel
  * at any scale. All ratio math is exact-int → double division, which the
  * DuckDB oracle reproduces bit-for-bit.
  */
object TextAnalysis extends QueryPack {

  /** Per-language marker-word lists for the n-gram/stopword language ID
    * heuristic. Deterministic cascade (en → de → es → fr → zh) breaks
    * score ties. */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "fr" -> Seq("le", "les", "et", "est", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  private def markerScore(lang: String): Column = {
    val list = markers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    expr(s"size(filter(toks, t -> t IN ($list)))")
  }

  private def withToks(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))

  /** Language-ID confusion matrix: declared `lang` vs predicted language
    * from marker-word argmax. (The synthetic corpus draws every language
    * from the same English-ish vocabulary, so the interesting output IS
    * the confusion structure — the mechanics are what's exercised.) */
  def langConfusion(spark: SparkSession, d: String): DataFrame = {
    val scored = withToks(Tables.documents(spark, d))
      .withColumn("s_en", markerScore("en"))
      .withColumn("s_de", markerScore("de"))
      .withColumn("s_es", markerScore("es"))
      .withColumn("s_fr", markerScore("fr"))
      .withColumn("s_zh", markerScore("zh"))
      .withColumn("predicted",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
             col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
        .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr") &&
              col("s_de") >= col("s_zh"), "de")
        .when(col("s_es") >= col("s_fr") && col("s_es") >= col("s_zh"), "es")
        .when(col("s_fr") >= col("s_zh"), "fr")
        .otherwise("zh"))
    scored.groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** Quality scoring: token counts, type-token ratio, stopword ratio,
    * chars-per-token, and a boolean gate — the heuristics a pretraining
    * filter would run per document. */
  def quality(spark: SparkSession, d: String): DataFrame =
    withToks(Tables.documents(spark, d))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", markerScore("en").cast("double") / col("n_tokens"))
      .withColumn("chars_per_token",
        (length(col("text")) - col("n_tokens") + lit(1)).cast("double") / col("n_tokens"))
      .withColumn("quality_ok",
        col("n_tokens") >= 10 && col("ttr") >= 0.15 && col("stop_ratio") <= 0.5)
      .select("doc_id", "n_tokens", "n_distinct", "ttr", "stop_ratio",
        "chars_per_token", "quality_ok")
      .orderBy("doc_id")

  /** Token counting: whitespace tokens plus a BPE-ish regex segmentation
    * (letter runs / digit runs / single non-alphanumerics) — the
    * compute-shape of a real tokenizer-count pass. */
  def tokenCounts(spark: SparkSession, d: String): DataFrame =
    withToks(Tables.documents(spark, d))
      .withColumn("ws_tokens", size(col("toks")).cast("long"))
      .withColumn("re_tokens",
        expr("cast(regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') as bigint)"))
      .withColumn("bytes_per_ws_token",
        expr("octet_length(text)").cast("double") / col("ws_tokens"))
      .select("doc_id", "ws_tokens", "re_tokens", "bytes_per_ws_token")
      .orderBy("doc_id")

  /** Rolling-hash document fingerprint: fold `(acc * 31 + codepoint) mod
    * 1e9+7` over the characters, via the codegen'd
    * [[graft.functions.RollingHashExpr]] — the oracle reproduces the
    * identical fold in SQL. */
  def fingerprints(spark: SparkSession, d: String): DataFrame = {
    Tables.documents(spark, d)
      .withColumn("fp", RollingHashExpr.column(col("text")))
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  /** TF-IDF top terms per document — term frequency × corpus rarity,
    * scored log-free as `tf · N / df` (monotone in the classic
    * `tf · log(N/df)` for any fixed tf, and, unlike log, exact-integer
    * math until one final double division, so both engines agree
    * bitwise). Two hash aggregations (term frequency per doc, document
    * frequency per term), an equi-join on term, and a per-doc top-3 —
    * every step map-side combinable; nothing is ever all-pairs. */
  def tfidfTopTerms(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, d)
    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    // broadcast the 1-row corpus count — without the hint, pre-AQE
    // planning (no stats on an agg output) can pick CartesianProduct
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
    // per-doc top-3 through the bounded-heap [[graft.plans.TopKPerKey]]
    // (r17; the bm25/quality idiom): the window form full-sorted every
    // (doc, term) row per doc partition and shuffled them all — the
    // two-phase heap cuts each map partition to ≤3 rows per doc before
    // the exchange. The residual row_number runs over ≤ docs×3 rows.
    graft.plans.TopKPerKey(scored,
        Seq("doc_id"), Seq(col("score").desc, col("term")), k = 3)
      .withColumn("rn", row_number().over(w).cast("long"))
      .select("doc_id", "term", "tf", "df", "score", "rn")
      .orderBy("doc_id", "rn")
  }

  /** BM25 retrieval (k1 = 1.2, b = 0.75) — [[tfidfTopTerms]]'s
    * RETRIEVAL direction: for each query term, the top
    * [[Bm25TopDocs]] documents by Okapi BM25 with document-length
    * normalization. Query terms are data-derived — the
    * [[Bm25QueryTerms]] highest-df terms appearing in at most
    * nine-tenths of the corpus (the synthetic vocabulary is dense —
    * a half-corpus stopword cut leaves one term; ties → term), so
    * the oracle recomputes the query set
    * itself. The idf factor is the RATIONAL form
    * `(N − df + ½)/(df + ½)` — the argument of the classic BM25 log,
    * monotone in it, so per-term document ranking is EXACTLY BM25's
    * while every factor stays integer-exact: with k1 = 6/5 and
    * b = 3/4, numerator and denominator of both factors clear to
    * integers (`idf = (2N−2df+1)/(2df+1)`,
    * `tf_norm = 22·tf·S / (10·tf·S + 3·S + 9·dl·N)` where S = total
    * corpus tokens) and each engine performs the same two exact-int →
    * double divisions and one multiply — bitwise-identical on both.
    * (Factored divisions, not one giant rational: per-factor integers
    * stay ≲10¹⁷ even at 10⁹-doc corpora, inside the 2⁵³ exact-double
    * window the single-fraction form would leave.)
    *
    * Plan shape at 100 TB: tf / df are map-side-combinable hash
    * aggregates; the query-term set is a TakeOrdered over the
    * df frame; candidates are one broadcast join (5 terms) against
    * the tf frame; the per-term top-k runs through the bounded-heap
    * [[graft.plans.TopKPerKey]] operator — 5 huge posting lists
    * would serialize through 5 window tasks, the heaps keep k rows
    * per term per partition. */
  private[graft] val Bm25QueryTerms = 5
  private[graft] val Bm25TopDocs = 5

  def textBm25(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("s_tokens"))
    val tf = docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term", "dl").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val qterms = dfreq.join(broadcast(stats))
      .filter(col("df") * 10 <= col("n_docs") * 9)
      .orderBy(col("df").desc, col("term"))
      .limit(Bm25QueryTerms)
      .select("term", "df")
    val scored = tf.join(broadcast(qterms), "term")
      .join(broadcast(stats))
      .withColumn("idf",
        (col("n_docs") * 2 - col("df") * 2 + 1).cast("double")
          / (col("df") * 2 + 1))
      .withColumn("tfn",
        (col("tf") * 22 * col("s_tokens")).cast("double")
          / (col("tf") * col("s_tokens") * 10 + col("s_tokens") * 3
             + col("dl") * col("n_docs") * 9))
      .withColumn("score", col("idf") * col("tfn"))
    val top = graft.plans.TopKPerKey(
      scored.select("term", "doc_id", "tf", "dl", "score"),
      Seq("term"), Seq(col("score").desc, col("doc_id").asc), k = Bm25TopDocs)
    // ranks over the ≤ terms×k survivor frame — model-sized by then
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rn", row_number().over(w).cast("long"))
      .select("term", "doc_id", "tf", "dl", "score", "rn")
      .orderBy("term", "rn")
  }

  /** Per-language QUALITY-PERCENTILE gate — keep each language's top
    * quartile by type-token ratio (the [[quality]] score), the
    * relative form of the fixed-threshold Gopher gates: absolute
    * thresholds drift across languages and registers, so curation
    * pipelines state "best q% within each stratum" instead. Exact
    * ranks come from [[graft.operators.GroupRank.withGroupRankBy]] — a
    * plain `PARTITION BY lang` window would pull each language's ENTIRE
    * corpus through one task (5 strata over 100 TB = 5 tasks); the
    * keyed bucket + offsets form keeps every task bucket-sized, with
    * no pin (placement is value-deterministic, r11).
    * The quartile cut is count-based (`4·rk ≤ n_lang` — integer-exact,
    * no percentile interpolation to disagree on), with the per-stratum
    * counts broadcast back. */
  def qualityTopQ(spark: SparkSession, d: String): DataFrame = {
    val docs = withToks(Tables.documents(spark, d))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens"))
    // staged: the keyed operator replays lineage per pass and this
    // lineage is full tokenization — the exact 'expensive lineage →
    // stage the narrow frame' case its cost model prescribes.
    // The stratum size rides along as totalOut — a separate count pass
    // would tokenize again.
    Stage(spark) { st =>
      val staged = st.stage(docs)
      graft.operators.GroupRank.withGroupRankBy(
          staged, Seq("lang"), col("ttr"), primaryDesc = true,
          col("doc_id"), "rk", totalOut = Some("n_lang"), groupBound = 64)
        .filter(col("rk") * 4 <= col("n_lang"))
        .select("lang", "doc_id", "n_tokens", "n_distinct", "ttr", "rk")
        .orderBy("lang", "rk")
    }
  }

  /** Repetition ratio — the duplicated-n-gram degeneracy signal a
    * pretraining filter runs (loops, boilerplate spam, "aaaa..." text
    * score high): the most frequent trigram's share of all trigram
    * occurrences per document. Non-distinct trigrams, so repeats count;
    * docs shorter than 3 tokens are excluded (no trigram exists). */
  def repetition(spark: SparkSession, d: String): DataFrame = {
    val tri = Tables.documents(spark, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 2), i -> concat_ws(' ', slice(toks, i, 3)))"))
        .as("tri"))
    tri.groupBy("doc_id", "tri").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_trigrams"), max(col("c")).as("max_tri"))
      .withColumn("rep_ratio", col("max_tri").cast("double") / col("n_trigrams"))
      .select("doc_id", "n_trigrams", "max_tri", "rep_ratio")
      .orderBy("doc_id")
  }

  /** Gopher-style repetition gates (Rae et al., "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * table A1): per document, the fraction of trigram OCCURRENCES that
    * belong to a duplicated trigram, and the token share of the single
    * most frequent bigram — the two degeneracy filters (boilerplate,
    * loops, keyword stuffing) a pretraining quality pass applies after
    * the cheap length/ratio gates.
    *
    * Spark-first shape: NO shuffle. Both statistics come from a
    * per-document sorted-n-gram view inside one projection —
    * duplicated-occurrence count is `n − singletons` where a singleton
    * is an element differing from both sorted neighbors, and the top
    * bigram count is the longest sorted run. The counts are computed by
    * the native one-pass [[graft.functions.RepetitionStatsExpr]] kernel
    * (byte-scan tokenize → chained gram hashes → two long[] sorts; 8.5×
    * over the built-in HOF fold, which [[gopherGatesHofOf]] preserves as
    * the equality-pinned reference). Scan-bandwidth scaling; the oracle
    * reproduces the same counts via plain string GROUP BYs. */
  def gopherGates(spark: SparkSession, d: String): DataFrame =
    gopherGatesOf(Tables.documents(spark, d)).orderBy("doc_id")

  /** Same gates over an already-loaded `(doc_id, text)` frame, UNSORTED
    * — stateless, so it composes into `readStream` plans unchanged
    * (StreamingAnalyticsSpec proves batch/stream parity); the registered
    * query adds the deterministic sort the oracle gate needs. */
  def gopherGatesOf(documents: DataFrame): DataFrame = {
    // one-pass native kernel: all four counts from a single byte scan +
    // two long[] sorts ([[graft.functions.RepetitionStatsExpr]]);
    // gopherGatesHofOf below is the built-in-functions formulation it
    // is equality-pinned against (TextGopherSpec)
    documents
      .withColumn("rs", RepetitionStatsExpr.column(col("text")))
      .select(col("doc_id"),
        col("rs.n_tokens").as("n_tokens"),
        col("rs.n_tri").as("n_tri"),
        col("rs.tri_singletons").as("tri_singletons"),
        col("rs.top_bigram_n").as("top_bigram_n"))
      .withColumn("dup_tri_frac",
        when(col("n_tri") > 0,
          (col("n_tri") - col("tri_singletons")).cast("double") / col("n_tri"))
          .otherwise(lit(0.0)))
      .withColumn("top_bigram_frac",
        when(col("n_tokens") >= 2,
          (col("top_bigram_n") * lit(2)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
      .withColumn("gopher_ok",
        col("dup_tri_frac") <= 0.35 && col("top_bigram_frac") <= 0.20)
      .select("doc_id", "n_tokens", "n_tri", "dup_tri_frac",
        "top_bigram_n", "top_bigram_frac", "gopher_ok")
  }

  /** The same gates from built-in higher-order functions only — the
    * reference formulation the native kernel is equality-tested
    * against (sorted gram STRING arrays; the kernel sorts hashes). */
  private[graft] def gopherGatesHofOf(documents: DataFrame): DataFrame = {
    val grams = documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // guard short docs explicitly: Spark's sequence(1, 0) is a
      // DESCENDING two-element array, not empty
      .withColumn("tri", expr(
        "if(size(toks) >= 3, array_sort(transform(sequence(1, size(toks) - 2), " +
        "i -> concat_ws(' ', slice(toks, i, 3)))), array())"))
      .withColumn("bi", expr(
        "if(size(toks) >= 2, array_sort(transform(sequence(1, size(toks) - 1), " +
        "i -> concat_ws(' ', slice(toks, i, 2)))), array())"))
    grams
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_tri", size(col("tri")).cast("long"))
      // sorted-neighbor test: tri[i] is a singleton iff it differs from
      // tri[i-1] and tri[i+1]; 0-based get() returns null out of bounds
      // and the null-safe <=> makes the boundary compare false
      .withColumn("tri_singletons", expr(
        "cast(size(filter(transform(tri, (x, i) -> " +
        "not (x <=> get(tri, i - 1)) and not (x <=> get(tri, i + 1))), " +
        "b -> b)) as bigint)"))
      .withColumn("dup_tri_frac",
        when(col("n_tri") > 0,
          (col("n_tri") - col("tri_singletons")).cast("double") / col("n_tri"))
          .otherwise(lit(0.0)))
      // longest run in the sorted bigram array = max count of any bigram
      .withColumn("top_bigram_n", expr(
        "aggregate(bi, named_struct('prev', '', 'run', 0L, 'best', 0L), " +
        "(s, x) -> named_struct(" +
        "  'prev', x, " +
        "  'run', if(x = s.prev, s.run + 1L, 1L), " +
        "  'best', greatest(s.best, if(x = s.prev, s.run + 1L, 1L))), " +
        "s -> s.best)"))
      .withColumn("top_bigram_frac",
        when(col("n_tokens") >= 2,
          (col("top_bigram_n") * lit(2)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
      .withColumn("gopher_ok",
        col("dup_tri_frac") <= 0.35 && col("top_bigram_frac") <= 0.20)
      .select("doc_id", "n_tokens", "n_tri", "dup_tri_frac",
        "top_bigram_n", "top_bigram_frac", "gopher_ok")
  }

  /** PII detection + redaction — the scrub stage a training-data
    * pipeline runs before anything leaves the corpus: count and mask
    * email addresses, phone numbers, and IPv4 addresses. The synthetic
    * corpus carries no PII, so the query first plants deterministic
    * PII derived from `doc_id` (the same construction the oracle
    * performs — the fixture is shared, the SCRUB is what's tested),
    * then counts matches and applies the three redactions in a fixed
    * order. Patterns stay inside the regex subset Java and RE2 treat
    * identically (character classes, bounded repeats, `\b` — no
    * backrefs, no lookaround). Stateless projection over the scan:
    * no shuffle, scales with scan bandwidth. */
  def piiScrub(spark: SparkSession, d: String): DataFrame =
    piiScrubOf(Tables.documents(spark, d)).orderBy("doc_id")

  /** Same scrub over an already-loaded `(doc_id, text)` frame, UNSORTED
    * so it composes into streaming plans (see [[gopherGatesOf]]). */
  def piiScrubOf(documents: DataFrame): DataFrame = {
    val planted =
      "concat(text, ' contact user', doc_id, '@mail', doc_id % 7, " +
      "'.com or 555-', lpad(cast(doc_id % 10000 as string), 4, '0'), " +
      "' from 10.', doc_id % 256, '.', (doc_id * 7) % 256, '.', (doc_id * 13) % 256)"
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z]{2,}"
    val phone = "\\\\b555-[0-9]{4}\\\\b"
    val ip = "\\\\b([0-9]{1,3}\\\\.){3}[0-9]{1,3}\\\\b"
    documents
      .withColumn("t", expr(planted))
      .withColumn("n_emails", expr(
        s"cast(size(regexp_extract_all(t, '$email', 0)) as bigint)"))
      .withColumn("n_phones", expr(
        s"cast(size(regexp_extract_all(t, '$phone', 0)) as bigint)"))
      .withColumn("n_ips", expr(
        s"cast(size(regexp_extract_all(t, '$ip', 0)) as bigint)"))
      .withColumn("redacted", expr(
        s"regexp_replace(regexp_replace(regexp_replace(t, " +
        s"'$email', '<EMAIL>'), '$phone', '<PHONE>'), '$ip', '<IP>')"))
      .withColumn("red_len", length(col("redacted")).cast("long"))
      .withColumn("red_md5", md5(col("redacted")))
      .select("doc_id", "n_emails", "n_phones", "n_ips", "red_len", "red_md5")
  }

  /** Corpus-frequency quality score — the log-free cousin of a unigram
    * LM filter (CCNet scores documents by LM perplexity; here the
    * signal is mean RELATIVE corpus frequency of the document's token
    * occurrences). Low = rare/garbled vocabulary, high = stopword spam;
    * both tails are what a quality pass flags. Log-free on purpose:
    * `sum_c / (n_tokens · total)` stays all-integer until one final
    * division, so both engines agree bitwise where `ln()` ULPs would
    * drift.
    *
    * Scale shape: one vocabulary-sized hash aggregate (term counts), a
    * broadcast 1-row total, a term-partitioned equi-join of the token
    * stream against the counts, and a per-doc sum — map-side
    * combinable everywhere, nothing all-pairs. */
  def freqScore(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val cnt = terms.groupBy("term").agg(count(lit(1)).as("c"))
    val tot = terms.agg(count(lit(1)).as("total"))
    terms.join(cnt, "term")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("c")).as("sum_c"))
      .crossJoin(broadcast(tot))
      .withColumn("rel_freq",
        col("sum_c").cast("double") / (col("n_tokens") * col("total")))
      .select("doc_id", "n_tokens", "sum_c", "rel_freq")
      .orderBy("doc_id")
  }

  /** K-ANONYMITY audit over the release quasi-identifiers — the data-
    * governance check next to [[piiScrub]]: any (source, lang) group
    * smaller than k is a re-identification risk in a published corpus
    * (Sweeney 2002, "k-anonymity: a model for protecting privacy").
    * One map-side-combinable hash aggregate + a scan filter; output is
    * the violating groups only — tiny by construction. The k constant
    * is interpolated into BOTH the Scala filter and the oracle SQL (the
    * corpus_mix single-edit-point rule). */
  private[graft] val KAnonThreshold = 5L

  def kAnonCheck(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < KAnonThreshold)
      .orderBy("source", "lang")

  /** Temperature-scaled source sampling weights — the multilingual /
    * multi-source mixture standard (Arivazhagan et al. 2019, "Massively
    * Multilingual Neural Machine Translation in the Wild"; the T=2 /
    * α=0.5 setting mT5 and XLM-R popularized): w_s ∝ p_s^(1/T)
    * flattens the source distribution, upsampling low-resource sources
    * without drowning the head. p_s^(1/2) is irrational, so exact
    * cross-engine arithmetic computes the share on a fixed-point grid
    * with INTEGER sqrt: w_fix = isqrt(tok_s · 10⁴) ≈ sqrt(tok_s)·100
    * (the normalizer's sqrt(tok_total) cancels, so sqrt of the RAW
    * count is the right discretization — no division before the sqrt,
    * and the 10⁴ grid keeps the floor error ≤ 1 part in 2·10⁴ of the
    * smallest source; the only overflowable step is the ·10⁴ grid
    * itself, past 9.2·10¹⁴ tokens per source — the corrections use
    * the division form, which cannot overflow at any BIGINT).
    * The seed-and-correct isqrt is EXACT for grid values ≤ 2⁵²
    * (PropertiesSpec pins it) — i.e. up to ~4.5·10¹¹ tokens per
    * source; past that a BIGINT no longer round-trips through DOUBLE
    * and the ±1 correction window can undershoot the true floor by a
    * few ULPs' worth — still the SAME BIGINT in both engines (identical
    * IEEE ops), with ≤ 10⁻⁷ relative effect on a weight.
    * isqrt is the double-sqrt seed corrected by one CASE step each way
    * — Math.sqrt and DuckDB sqrt are both IEEE correctly-rounded, and
    * every correction is integer compare, so both engines land the
    * same BIGINT. The denominator is an exact BIGINT sum; the ONLY
    * floating op is the final single correctly-rounded DOUBLE division
    * w_fix / D (both ≤ 2⁵³ — bit-identical in any engine), with the
    * all-integer parts-per-million twin alongside. One
    * map-side-combinable aggregate over (source): model-sized output
    * at any corpus size. */
  def mixTemperature(spark: SparkSession, d: String): DataFrame =
    mixTemperatureOf(Tables.documents(spark, d))

  def mixTemperatureOf(documents: DataFrame): DataFrame = {
    // both correction steps in the overflow-safe DIVISION form
    // (s > r div s instead of s*s > r — equivalent for positive
    // integers): near the top of the BIGINT range the squared form's
    // (s1+1)² exceeds 2⁶³−1, where DuckDB raises and non-ANSI Spark
    // wraps — the exact divergence Similarity.isqrtSql already guards
    // (ADVICE r10); the grid bound is now the BIGINT range itself
    val bySource = documents
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("r", col("n_tokens") * lit(10000L))
      .withColumn("s0", floor(sqrt(col("r").cast("double"))).cast("long"))
      .withColumn("s1",
        expr("CASE WHEN s0 > 0 AND s0 > r div s0 THEN s0 - 1 ELSE s0 END"))
      .withColumn("w_fix",
        expr("CASE WHEN (s1 + 1) <= r div (s1 + 1) THEN s1 + 1 ELSE s1 END"))
      .drop("r", "s0", "s1")
    val denom = bySource.agg(sum(col("w_fix")).as("d_fix"))
    bySource.crossJoin(broadcast(denom))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("w_fix"),
        (col("w_fix").cast("double") / col("d_fix").cast("double"))
          .as("weight"),
        expr("(w_fix * 1000000L) div d_fix").as("weight_ppm"))
      .orderBy("source")
  }

  /** Mixture-drift diagnostic: TOTAL-VARIATION distance between each
    * source's unigram distribution and the whole-corpus distribution —
    * the "has this slice's language shifted away from the mixture"
    * monitor that complements [[sourceOverlap]] (shared content) with
    * distributional shape. KL is the textbook choice but needs `ln()`
    * (ULP-drifts between engines, and is undefined on absent terms);
    * TV is ½·Σ|p_s − p| over the corpus vocabulary and stays EXACT:
    * |c_st/T_s − c_t/T| = |c_st·T − c_t·T_s| / (T_s·T), an integer
    * numerator, and the terms ABSENT from a source close in closed
    * form — Σ_{absent} c_t = T − Σ_{present} c_t — so nothing ever
    * enumerates the full vocabulary × source grid. One decimal-exact
    * sum per source, one double division at the very end.
    *
    * Scale shape: the (source, term) count aggregate is
    * vocabulary-bound; corpus term counts reuse it (no token rescan);
    * per-source totals and the corpus total are model-sized broadcasts;
    * the scoring join is term-partitioned. */
  def sourceDrift(spark: SparkSession, d: String): DataFrame =
    sourceDriftOf(Tables.documents(spark, d))

  def sourceDriftOf(documents: DataFrame): DataFrame = Stage(documents.sparkSession) { scope =>
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val terms = documents
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
    // fans into corpus counts, source totals, and the scoring join —
    // staged, not checkpointed (VERDICT r7 #4): recomputable on executor
    // loss, and the lazy persist lets the three consumers share one
    // materialization without forcing it serially up front
    val st = scope.stage(terms.groupBy("source", "term")
      .agg(count(lit(1)).as("c_st")))
    val ct = st.groupBy("term").agg(sum(col("c_st")).as("c_t"))
    val ts = st.groupBy("source").agg(sum(col("c_st")).as("t_s"))
    val tot = ts.agg(sum(col("t_s")).as("t_all"))
    st.join(ct, "term")
      .join(broadcast(ts), "source")
      .crossJoin(broadcast(tot))
      .groupBy(col("source"), col("t_s"), col("t_all"))
      .agg(count(lit(1)).as("n_terms"),
        sum(abs(col("c_st").cast(dec) * col("t_all")
          - col("c_t").cast(dec) * col("t_s"))).as("num_present"),
        sum(col("c_t")).as("ct_present"))
      .select(col("source"), col("n_terms"), col("t_s"),
        ((col("num_present")
            + (col("t_all") - col("ct_present")).cast(dec) * col("t_s"))
          .cast("double")
          / (lit(2.0) * col("t_s").cast("double") * col("t_all").cast("double")))
          .as("tv_drift"))
      .orderBy("source")
  }

  /** Frozen unigram model over a document frame: (term, c_t) counts —
    * the broadcast-able reference distribution [[driftAgainstModelOf]]
    * scores arriving slices against. Vocabulary-bound. */
  def unigramModelOf(documents: DataFrame): DataFrame =
    documents
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c_t"))

  /** TV drift of an ARRIVING slice against a FROZEN model — the
    * incremental form of [[sourceDriftOf]] (which scores each source
    * against the mixture it is part of; here the reference
    * distribution is fixed history and the scored slice is new). Same
    * exact arithmetic — integer numerators, closed-form absent-term
    * mass, one double division — with one extension: slice terms
    * ABSENT from the model (OOV in history) carry `c_t = 0` through
    * the same |c_st·T − c_t·T_s| term, so a batch full of novel
    * vocabulary correctly reads as maximal drift rather than being
    * dropped by the join.
    *
    * Scale shape: the slice aggregate is batch-sized; the model join is
    * term-partitioned against a vocabulary-bound frame; totals are
    * model-sized broadcasts. Nothing scans history — that happened once
    * when the model was built ([[unigramModelOf]]). Stateless given the
    * model, so it runs unchanged per micro-batch under `foreachBatch`
    * ([[graft.streaming.StreamingAnalytics.driftStream]]). */
  def driftAgainstModelOf(slice: DataFrame, model: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val st = slice
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("c_st"))
    val ts = st.groupBy("source").agg(sum(col("c_st")).as("t_s"))
    val tot = model.agg(sum(col("c_t")).as("t_all"))
    st.join(model, Seq("term"), "left_outer")
      .withColumn("c_t", coalesce(col("c_t"), lit(0L)))
      .join(broadcast(ts), "source")
      .crossJoin(broadcast(tot))
      .groupBy(col("source"), col("t_s"), col("t_all"))
      .agg(count(lit(1)).as("n_terms"),
        sum(abs(col("c_st").cast(dec) * col("t_all")
          - col("c_t").cast(dec) * col("t_s"))).as("num_present"),
        sum(col("c_t")).as("ct_present"))
      .select(col("source"), col("n_terms"), col("t_s"),
        ((col("num_present")
            + (col("t_all") - col("ct_present")).cast(dec) * col("t_s"))
          .cast("double")
          / (lit(2.0) * col("t_s").cast("double") * col("t_all").cast("double")))
          .as("tv_drift"))
      .orderBy("source")
  }

  /** [[driftAgainstModelOf]] as a driver-checked query, on the
    * deterministic batch-slice convention `semantic_incremental`
    * established: docs with `doc_id % 8 == 7` are "tonight's batch",
    * the other 7/8 are the stored history whose unigram distribution
    * is the frozen model. */
  def driftIncremental(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    driftAgainstModelOf(
      docs.filter(col("doc_id") % 8 === 7),
      unigramModelOf(docs.filter(col("doc_id") % 8 =!= 7)))
  }

  /** Document chunking — overlapping token windows (window 50, stride
    * 40), the context-window splitting stage of a training-data
    * pipeline. Chunk count per doc: 1 if it fits one window, else
    * 1 + ⌈(n−W)/S⌉; the final chunk may run short. Narrow projection +
    * explode: no shuffle, scales with scan bandwidth. */
  def docChunks(spark: SparkSession, d: String): DataFrame = {
    val W = 50; val S = 40
    Tables.documents(spark, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, greatest(0, cast(ceil((n - $W) / $S.0) as int))), " +
          s"i -> named_struct('idx', i, " +
          s"'chunk', concat_ws(' ', slice(toks, i * $S + 1, $W))))")).as("c"))
      .select(col("doc_id"),
        col("c.idx").cast("long").as("chunk_idx"),
        col("c.chunk").as("chunk_text"))
      .withColumn("n_chunk_tokens", size(split(col("chunk_text"), " ")).cast("long"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Sequence packing — assign documents (in doc_id order, per source
    * group) to fixed-budget token bins: pack_id = ⌊tokens-before / B⌋.
    * This is the contiguous-fill packing a pretraining loader uses to
    * batch documents into context windows. The per-source prefix sum is
    * size-GATED ([[graft.operators.GroupRank.windowFits]]): above the
    * total-bytes envelope it
    * is [[graft.operators.GroupRank.withRunningSumBy]]
    * (value-deterministic buckets + broadcast offsets), never
    * `Window.partitionBy(source)` — the grouped window pulls each
    * source's entire corpus through one task, and sources are exactly
    * the axis that is huge per value and tiny in cardinality at 100 TB
    * (VERDICT r11 #1); below the envelope the plain window is measured
    * 3.8× cheaper and row-identical, so the gate takes it (VERDICT
    * r13 #1). */
  /** One packing bin size, interpolated into BOTH Scala paths and both
    * DuckDB oracles below — a single edit point, so the engine and its
    * oracles cannot drift apart. */
  private[graft] val PackBin = 512

  /** Shared contiguous-fill tail of the packing family: the exclusive
    * per-group prefix of `value` in (primary, tieBreak) order (keyed
    * running sum − the row's own value — bit-identical to the window
    * form's `rowsBetween(unboundedPreceding, -1)`) plus the
    * ⌊prefix / PackBin⌋ bin id. ONE body, so the fill semantics cannot
    * drift between `doc_packing` / `pack_by_length` / `corpus_build`
    * and the DuckDB oracle shape they all share.
    *
    * The prefix-sum PLAN is auto-gated inside the operator
    * ([[graft.operators.GroupRank.windowFits]], VERDICT r13 #1): below
    * the total-bytes envelope the plain grouped window (one sort, no
    * bucket machinery) is measured 3.8× cheaper and row-identical;
    * above it — or when the caller has no trustworthy byte estimate —
    * the keyed bucket form keeps the worst task bytes-policy bounded
    * (a 100 TB source must never serialize through one window task). */
  private[graft] def contiguousFill(df: DataFrame, groupCols: Seq[String],
      primary: Column, tieBreak: Column, value: Column,
      groupBound: Long, inputBytes: BigInt = BigInt(-1)): DataFrame =
    graft.operators.GroupRank.withRunningSumBy(
        df, groupCols, primary, primaryDesc = false, tieBreak, value,
        "__cum", groupBound = groupBound, inputBytes = inputBytes)
      .withColumn("tokens_before", col("__cum") - value)
      .withColumn("pack_id", expr(s"tokens_before div $PackBin"))

  def docPacking(spark: SparkSession, d: String): DataFrame =
    docPackingOf(Tables.documents(spark, d))

  /** Same over any (doc_id, source, text) frame — the shape the scale
    * sweep amplifies. */
  private[graft] def docPackingOf(documents: DataFrame): DataFrame = {
    // the exclusive prefix ("tokens before me, in doc_id order, within
    // my source") runs with bucket-sized tasks instead of one task per
    // source (VERDICT r11 #1: a source is "CommonCrawl", not a shard —
    // the per-source window serializes the whole corpus through ~5
    // tasks at 100 TB). Stage the NARROW tokenized frame: the keyed
    // operator replays its input lineage per pass (sketch, counts,
    // rank) and tokenization is the expensive part — unstaged, the
    // ×4096 packing octave measured the 3× replay at 20 s vs the
    // window's 6 s; staged, the replays read ~24 B/row from cache
    val narrow = documents.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // the fill gate's byte estimate is auto-derived inside the keyed
    // operator (r15): the staged frame's clean file-scan lineage is
    // visible through the cache, so no hand-threading — an amplified
    // sweep input (join lineage) derives −1 and keeps the keyed form
    Stage(documents.sparkSession) { st =>
      val docs = st.stage(narrow)
      contiguousFill(docs, Seq("source"), col("doc_id"), col("doc_id"),
          col("n_tokens"), groupBound = 64)
        .select("source", "doc_id", "n_tokens", "tokens_before", "pack_id")
        .orderBy("source", "doc_id")
    }
  }

  /** Length-BUCKETED sequence packing — the pad-waste-reducing loader
    * recipe: bucket documents into per-source LENGTH QUARTILES first
    * (the NTILE closed form of [[graft.queries.Extended
    * .quartileBinsOf]]), then contiguous-fill each (source, quartile)
    * stratum into [[PackBin]]-token bins. Batching similar-length
    * documents together is the standard defence against padding waste
    * when sequences are padded to the batch max (cf. bucketed batching
    * in production loaders); the bins then inherit the quartile's
    * length homogeneity. This is also the one registered query whose
    * keyed prefix runs over a MULTI-COLUMN group axis
    * (`(source, quartile)` — 20 × 4 = 80 strata), pinning the
    * groupCols-plural path under the driver's hash gate. Scale shape:
    * two keyed passes (quartile ranks, then the running sum), both
    * bucket-sized tasks, no per-stratum window; the narrow
    * (doc_id, source, quartile, n_tokens) frame is staged because the
    * second pass's group column is itself the first pass's output. */
  def packByLength(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // the quartile rank's gate estimate auto-derives from `docs`' clean
    // scan lineage (r15); the FILL still threads the pre-quartile
    // estimate by hand — its input is the rank-join output, whose own
    // estimate is inflated junk only the caller can see past
    val est = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    Stage(spark) { st =>
      val binned = st.stage(
        graft.queries.Extended.quartileBinsOf(docs, 4)
          .select("doc_id", "source", "quartile", "n_tokens"))
      contiguousFill(binned, Seq("source", "quartile"), col("doc_id"),
          col("doc_id"), col("n_tokens"), groupBound = 256,
          inputBytes = est)
        .select("source", "quartile", "doc_id", "n_tokens",
          "tokens_before", "pack_id")
        .orderBy("source", "quartile", "doc_id")
    }
  }

  /** Chunk width (documents) of the best-fit packer. Best-fit state is
    * the open-bin load list — inherently sequential — so the scale
    * answer is BLOCK best-fit: keyed-rank each stratum in length-desc
    * order, split it into rank-contiguous chunks of this many docs,
    * and fold each chunk independently (bins never span chunks).
    * Interpolated into BOTH the Scala fold and the DuckDB oracle. */
  private[graft] val BestFitChunk = 256

  /** Best-fit-DECREASING packer over the same (source, quartile)
    * strata as [[packByLength]] — the other side of the trade
    * [[packEfficiency]] measures: contiguous fill is pad-optimal
    * (⌈tokens/B⌉ bins per stratum) but SPLITS every document that
    * straddles a bin boundary across training sequences; best-fit
    * places each document WHOLE into the fullest open bin it fits
    * (ties → lowest bin id), paying bin fragmentation to buy zero
    * splits. Only documents longer than [[PackBin]] still overflow —
    * each gets a singleton bin. Decreasing length order is the classic
    * BFD quality heuristic (big rocks first).
    *
    * Scale shape: the fold is sequential BY NATURE, so the plan blocks
    * it instead of serializing a stratum through one task — one keyed
    * rank per stratum (bucket-sized tasks, never a per-stratum
    * window), then rank-contiguous chunks of [[BestFitChunk]] docs,
    * each folded independently inside one aggregate row: state and
    * sort are bounded at the chunk width, parallelism is #chunks
    * (corpus-proportional), and pack ids are chunk-local
    * (chunk · C + bin), so chunks need no cross-coordination. The fold
    * itself is [[graft.functions.BestFitPackExpr]] over the collected
    * chunk — a native codegen-embedded expression, no UDF, no Encoder
    * round-trip (r14: 4.6× the `aggregate`-HOF form it replaced). */
  def packBestFit(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    packBestFitOf(
      graft.queries.Extended.quartileBinsOf(docs, 4)
        .select("doc_id", "source", "quartile", "n_tokens"),
      BestFitChunk)
  }

  /** Same over any (doc_id, source, quartile, n_tokens) frame with an
    * explicit chunk width — exposed so the spec can pin the best-fit
    * choice rule, cross-chunk numbering, and partitioning invariance
    * on constructed corpora. */
  private[graft] def packBestFitOf(binned: DataFrame,
      chunkDocs: Int): DataFrame =
    Stage(binned.sparkSession)(st => packBestFitCore(st.stage(binned), chunkDocs))

  /** The rank + blocked fold itself, over an already-staged binned
    * frame — split out so [[packTradeoff]] can share ONE staged
    * stratum frame between both packers. */
  private def packBestFitCore(staged: DataFrame,
      chunkDocs: Int): DataFrame = {
    // the per-chunk fold is [[graft.functions.BestFitPackExpr]] — the
    // tightest feasible bin (max load still accepting the doc), ties
    // to the LOWEST bin id, no feasible bin → a new one; the SAME law
    // as the DuckDB recursive-CTE oracle below (list_position
    // first-occurrence semantics) and as the Catalyst `aggregate`-HOF
    // fold the expression replaced (VERDICT r13 #3: the HOF rebuilt
    // the immutable loads array per step under interpreted
    // evaluation — the expression is the identical O(C · bins) loop
    // over primitive arrays; ScaleR15 keeps the HOF as the measured
    // A/B reference)
    graft.operators.GroupRank.withGroupRankBy(staged,
        Seq("source", "quartile"), col("n_tokens"), primaryDesc = true,
        col("doc_id"), "rk", groupBound = 256)
      .withColumn("chunk", expr(s"(rk - 1) div $chunkDocs"))
      .groupBy("source", "quartile", "chunk")
      // ≤ chunkDocs structs per row — the fold's bounded working set
      .agg(array_sort(collect_list(struct(col("rk"), col("doc_id"),
        col("n_tokens")))).as("docs"))
      .withColumn("bins",
        BestFitPackExpr.column(expr("transform(docs, d -> d.n_tokens)"), PackBin))
      .select(col("source"), col("quartile"), col("chunk"),
        explode(arrays_zip(col("docs"), col("bins"))).as("z"))
      .select(col("source"), col("quartile"),
        col("z.docs.doc_id").as("doc_id"),
        col("z.docs.n_tokens").as("n_tokens"),
        (col("chunk") * chunkDocs + col("z.bins")).as("pack_id"))
      .orderBy("source", "quartile", "doc_id")
  }

  /** Contiguous-fill vs best-fit as ONE hash-checked A/B row per
    * source — the registered form of the trade the two packers make:
    * [[packByLength]]'s fill is pad-optimal but splits straddling
    * docs; [[packBestFit]] splits nothing (only over-[[PackBin]] docs
    * overflow) but opens extra bins. Columns: contiguous packs
    * (Σ per-stratum ⌈tokens/B⌉) and straddle count vs best-fit packs
    * (distinct bins opened) and oversize count, plus the all-integer
    * bins ratio in ppm (10⁶ = same bin count; above = the
    * fragmentation best-fit paid). Two keyed passes + model-sized
    * aggregates — no new corpus shape beyond its two inputs. */
  def packTradeoff(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    // bin ONCE and share the staged stratum frame between both
    // packers — calling packByLength + packBestFit separately would
    // pay the tokenization and the quartile keyed rank twice. The fill
    // inside packTradeoffOf runs over the rank-join output, so its
    // clean pre-quartile estimate is still threaded by hand (the
    // quartile rank itself auto-derives — r15)
    val est = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    packTradeoffOf(
      graft.queries.Extended.quartileBinsOf(docs, 4)
        .select("doc_id", "source", "quartile", "n_tokens"), est)
  }

  /** Same over any already-binned (doc_id, source, quartile, n_tokens)
    * frame — exposed so the scale sweep can drive strata past a few
    * bins (and past [[PackBin]]-sized docs), where the A/B actually
    * shows its trade (VERDICT r13 #2: at sf0.01 every stratum fits in
    * a handful of bins and the ratio column is uniformly 10⁶). */
  private[graft] def packTradeoffOf(binnedIn: DataFrame,
      inputBytes: BigInt): DataFrame = {
    val B = PackBin
    Stage(binnedIn.sparkSession) { st =>
      val binned = st.stage(binnedIn)
      val contig = contiguousFill(binned, Seq("source", "quartile"),
          col("doc_id"), col("doc_id"), col("n_tokens"), groupBound = 256,
          inputBytes = inputBytes)
        .groupBy("source", "quartile")
        .agg(count(lit(1)).as("q_docs"),
          sum(col("n_tokens")).as("q_tokens"),
          sum(when(expr(s"tokens_before div $B") =!=
            expr(s"(tokens_before + n_tokens - 1) div $B"), lit(1L))
            .otherwise(lit(0L))).as("q_straddles"))
        .groupBy("source")
        .agg(sum(col("q_docs")).as("n_docs"),
          sum(col("q_tokens")).as("tokens"),
          sum(expr(s"(q_tokens + ${B - 1}) div $B")).as("packs_contig"),
          sum(col("q_straddles")).as("straddles_contig"))
      val bf = packBestFitCore(binned, BestFitChunk)
        .groupBy("source")
        .agg(countDistinct(col("quartile"), col("pack_id"))
            .as("packs_bestfit"),
          sum(when(col("n_tokens") > B, lit(1L)).otherwise(lit(0L)))
            .as("oversize_bestfit"))
      contig.join(bf, "source")
        .withColumn("bins_ratio_ppm",
          expr("packs_bestfit * 1000000L div packs_contig"))
        .select("source", "n_docs", "tokens", "packs_contig",
          "straddles_contig", "packs_bestfit", "oversize_bestfit",
          "bins_ratio_ppm")
        .orderBy("source")
    }
  }

  /** Sequence-PACKING efficiency report — the quality side of
    * [[docPacking]]'s contiguous fill: packing wastes almost no pad
    * (only the final partial bin per source), but every document that
    * STRADDLES a bin boundary gets split across training sequences —
    * the cross-document-attention / truncation cost a packing recipe
    * actually trades against (cf. "best-fit" packers, which buy fewer
    * splits with bin fragmentation). The count is of straddling
    * DOCUMENTS (start bin ≠ end bin), not of boundary crossings — a
    * doc longer than B tallies once, so the ppm reads "fraction of
    * docs split at least once". Per source:
    * docs, tokens, bins used (= ⌈tokens/B⌉ — contiguous fill is
    * pad-optimal by construction), straddle count (start bin ≠ end
    * bin), and the integer parts-per-million straddle rate. All
    * integer math (`div`, no doubles), so the engines agree bitwise;
    * one keyed prefix sum ([[docPacking]]'s — never a per-source
    * window) + one map-side-combinable aggregate — model-sized
    * output. */
  def packEfficiency(spark: SparkSession, d: String): DataFrame = {
    val B = PackBin
    docPacking(spark, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(when(expr(s"tokens_before div $B") =!=
          expr(s"(tokens_before + n_tokens - 1) div $B"), lit(1L))
          .otherwise(lit(0L))).as("straddles"))
      .withColumn("n_packs", expr(s"(tokens + ${B - 1}) div $B"))
      .withColumn("straddle_ppm", expr("straddles * 1000000L div n_docs"))
      .select("source", "n_docs", "tokens", "n_packs", "straddles",
        "straddle_ppm")
      .orderBy("source")
  }

  /** Deterministic DATA MIXING to a per-source token budget — the
    * mixture-weights stage of a pretraining pipeline (balance
    * over-represented sources down to a target share): per source,
    * total tokens `tot`; keep each doc iff
    * `lehmer(doc_id) < (B · (2³¹−1)) div tot`, i.e. an expected
    * `min(1, B/tot)` token fraction, chosen by the same overflow-safe
    * Lehmer hash as `sample_det` — the same rows on any engine, any
    * partitioning, any run, which is what makes a mixture reproducible.
    *
    * All-integer math: the threshold is one `div` (no doubles anywhere,
    * so no FP-rounding disagreement between engines), never overflows a
    * long for ANY corpus size (`B·(2³¹−1)` ≈ 6e12 is the only product),
    * and sources already under budget keep every doc because the
    * threshold exceeds the hash range. Scale shape: `tot` is a tiny
    * per-source aggregate broadcast back; the keep test is a map-side
    * scalar filter over the scan — one narrow shuffle total. */
  /** One token budget, interpolated into BOTH the Scala default and the
    * DuckDB oracle below — a single edit point, so the two sides cannot
    * silently drift. */
  private[graft] val DefaultMixBudget = 1300L

  def corpusMix(spark: SparkSession, d: String,
                budgetTokens: Long = DefaultMixBudget): DataFrame =
    corpusMixOf(Tables.documents(spark, d), budgetTokens)

  /** Same mix over an already-loaded frame (any partitioning) — lets
    * callers (and the partitioning-invariance test) feed a repartitioned
    * or pre-filtered corpus through the identical keep rule. */
  def corpusMixOf(documents: DataFrame,
                  budgetTokens: Long = DefaultMixBudget): DataFrame = {
    val docs = documents
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val totals = docs.groupBy("source").agg(sum(col("n_tokens")).as("tot"))
    val h = graft.functions.DetMix.lehmerMix(col("doc_id"))
    docs.join(broadcast(totals), "source")
      .filter(h < expr(s"(${budgetTokens}L * 2147483647L) div tot"))
      .select("doc_id", "source", "n_tokens")
      .orderBy("doc_id")
  }

  /** HARD per-source quota — exactly `min(|source|, Q)` documents per
    * source, chosen reproducibly as the Q smallest Lehmer-mixed
    * doc_ids (ties → doc_id). The cap-contract sibling of
    * [[corpusMix]]: the mix holds an EXPECTED token share per source
    * (probabilistic, budget-shaped), the quota holds a HARD document
    * ceiling ("no source contributes more than Q docs" — the balance
    * guarantee a curriculum or eval set states). Seedless mix order ⇒
    * the same Q docs on any engine, partitioning, or run.
    *
    * Plan: the custom [[graft.plans.TopKPerKey]] bounded-heap operator
    * (partial map-side heaps, Q-bounded final merge — no window, no
    * per-partition full sort; `serve_top_per_type`'s exec node reused
    * on the corpus axis). At 100 TB the window form sorts every
    * partition's full doc list; the heap form keeps Q rows per source
    * per partition and shuffles only heap contents. */
  private[graft] val SourceQuotaDocs = 10
  def sourceQuota(spark: SparkSession, d: String): DataFrame =
    graft.plans.TopKPerKey(
        Tables.documents(spark, d).select(col("doc_id"), col("source")),
        Seq("source"),
        Seq(graft.functions.DetMix.lehmerMix(col("doc_id")).asc, col("doc_id").asc),
        k = SourceQuotaDocs)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Per-source TOKEN-budget downsampling — the third cap contract
    * next to [[corpusMixOf]] (expected token share, probabilistic) and
    * [[sourceQuota]] (hard DOCUMENT ceiling): a hard TOKEN ceiling at
    * document granularity, the form a pretraining recipe actually
    * states ("at most X tokens from each source"). Documents are taken
    * in the seedless Lehmer shuffle order (a fixed pseudo-random order
    * — taking them in doc_id or length order would bias the kept set;
    * the key space is 2³¹−1, so past ~2.1 G docs per source keys carry
    * ~n/2³¹ ties each, broken doc_id-ascending — a small residual
    * order bias at extreme scale, same determinism) until the
    * source's cumulative whitespace-token
    * count reaches 60% of its total; the cut is integer-exact
    * (`5·cum ≤ 3·tot`), so both engines agree bit-for-bit.
    *
    * Scale shape: the cumulative count is
    * [[graft.operators.GroupRank.withRunningSumBy]] — the distributed
    * prefix sum (value-deterministic buckets + broadcast offsets), so
    * no source ever funnels through one task and nothing is pinned;
    * the source total rides along free as the counts frame's
    * full-window sum (`totalOut`). One corpus shuffle total. */
  def tokenBudget(spark: SparkSession, d: String): DataFrame = {
    val mix = graft.functions.DetMix.lehmerMix(col("doc_id"))
    // staged like docPacking: the counts + rank passes would otherwise
    // re-tokenize the corpus (the ×4096 packing octave measured that
    // replay at 3×); the staged frame is ~32 B/row
    Stage(spark) { st =>
      val docs = st.stage(Tables.documents(spark, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          mix.as("shuffle_key")))
      graft.operators.GroupRank.withRunningSumBy(
          docs, Seq("source"), col("shuffle_key"), primaryDesc = false,
          col("doc_id"), col("n_tokens"), "cum_tokens",
          totalOut = Some("tot_tokens"), groupBound = 64)
        .filter(col("cum_tokens") * 5 <= col("tot_tokens") * 3)
        .select("source", "doc_id", "n_tokens", "cum_tokens", "tot_tokens")
        .orderBy("source", "cum_tokens", "doc_id")
    }
  }

  /** PPS sample size per source stratum. */
  private[graft] val PpsPerSource = 8L

  /** Probability-proportional-to-size systematic sample — Madow's
    * (1949) systematic PPS selection, the mixture-builder's fixed-size
    * counterpart to [[dsirResampleOf]]'s Bernoulli thinning: per
    * source, walk the docs in seedless Lehmer-shuffled order,
    * accumulate token mass, and pick the doc whose mass interval
    * contains a selection boundary. Boundaries carry a deterministic
    * per-source PHASE: `b_i = (i·W + o) div n + 1` for i = 0..n−1 with
    * `o = lehmerMix62(W) mod W` (the 62-bit mix — ADVICE r14: the
    * 31-bit mix collapsed the phase toward 0 once a source's token
    * mass passed 2³¹, degenerating boundary placement to the phase-0
    * grid) — the integer-exact form of Madow's
    * random-start `(i+u)·W/n`, which is what makes inclusion
    * probability ∝ n_tokens for EVERY doc; the naive phase-0
    * `i·W/n (i=1..n)` rule puts boundary n exactly at cum = W, so the
    * last doc in shuffled order would be picked with probability 1
    * regardless of size (r14-session-2 review). All boundaries lie in
    * [1, W], so each source yields exactly [[PpsPerSource]] picks
    * (fewer only when one doc out-masses a whole W/n step and swallows
    * 2+ boundaries). No floating point anywhere: the boundary count
    * below c is `0 if c·n ≤ o else min(n, ((c·n − o − 1) div W) + 1)`
    * in 64-bit integers (c·n ≤ 8·W keeps far from overflow at any
    * corpus size), so the row is exactly hash-checkable. Composes the
    * engine's own pieces: the deterministic mix (`sample_det`'s
    * literal formula) and the gated keyed running sum
    * ([[graft.operators.GroupRank]] — window plan under the byte
    * envelope, bucketed keyed form at corpus scale; a per-source W
    * fits the keyed totalOut contract). Staged like [[tokenBudget]]:
    * the keyed arm's counts+rank passes must not re-tokenize the
    * corpus. */
  def samplePps(spark: SparkSession, d: String): DataFrame =
    samplePpsOf(Tables.documents(spark, d)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))

  /** Same over any `(doc_id, source, n_tokens)` frame — exposed so the
    * spec can pin the wide-W phase (per-source token masses past 2³¹,
    * where the 62-bit mix matters) that no text-backed fixture can
    * reach, and so the ScaleR16 `ppskeyed` sweep can A/B the keyed arm
    * (the auto-derived default over an amplified join-lineage frame)
    * against the window arm (`inputBytes` forced under the
    * envelope). */
  private[graft] def samplePpsOf(withTokens: DataFrame,
      inputBytes: BigInt = BigInt(-1)): DataFrame = {
    val n = PpsPerSource
    val narrow = withTokens.withColumn("mix",
      graft.functions.DetMix.lehmerMix(col("doc_id")))
    // boundaries <= c, as exact integer SQL over (c, off, w_total)
    def nb(c: String) = s"(CASE WHEN $c * $n <= off THEN CAST(0 AS BIGINT) " +
      s"ELSE least(CAST($n AS BIGINT), (($c * $n - off - 1) div w_total) + 1) END)"
    Stage(withTokens.sparkSession) { st =>
      val docs = st.stage(narrow)
      graft.operators.GroupRank.withRunningSumBy(
          docs, Seq("source"), col("mix"), primaryDesc = false,
          col("doc_id"), col("n_tokens"), "cum",
          totalOut = Some("w_total"), groupBound = 64,
          inputBytes = inputBytes)
        .withColumn("off",
          graft.functions.DetMix.lehmerMix62(col("w_total")) % col("w_total"))
        .filter(expr(s"${nb("cum")} > ${nb("(cum - n_tokens)")}"))
        .withColumn("pick_idx", expr(nb("cum")))
        .select("source", "doc_id", "n_tokens", "cum", "w_total", "pick_idx")
        .orderBy("source", "cum")
    }
  }

  /** Length-CURRICULUM training order — phase docs by global length
    * quartile (shortest first, the classic easy→hard curriculum axis),
    * Lehmer-shuffled WITHIN each phase, with one dense global position
    * over (phase, shuffle) so a data loader can stream the curriculum
    * as a single ordered scan. Composes three keyed pieces: the NTILE
    * closed form over a single stratum
    * ([[graft.queries.Extended.quartileBinsOf]] — the bucketed form
    * distributes fine with ONE group, because parallelism comes from
    * the value buckets, not the group count), the seedless mix, and
    * [[graft.operators.AssignIds.withContiguousIdsGrouped]] for the
    * cross-phase offsets (4 groups — a 4-row broadcast). */
  def curriculumOrder(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), lit("all").as("source"), col("n_chars"))
    // stage the NARROW (doc_id, phase, key) frame: the grouped-ids
    // operator replays its input lineage several times (sketch,
    // counts, rank, totals — its scaladoc'd cost model), and here that
    // lineage is the whole quartile pipeline.
    Stage(spark) { st =>
      val phased = st.stage(
        graft.queries.Extended.quartileBinsOf(docs, 4)
          .select(col("doc_id"), col("quartile").as("phase"))
          .withColumn("shuffle_key",
            graft.functions.DetMix.lehmerMix(col("doc_id"))))
      graft.operators.AssignIds.withContiguousIdsGrouped(
          phased, Seq("phase"), col("shuffle_key"), col("doc_id"),
          groupBound = 8)
        .select(col("doc_id"), col("phase"), col("new_id").as("pos"))
        .orderBy("pos")
    }
  }

  /** Stride-scheduled MIXTURE INTERLEAVE — the training-ORDER
    * counterpart of [[corpusMixOf]]/[[mixTemperature]]: those choose
    * WHICH documents each source contributes; a loader also needs the
    * order in which sources interleave so every PREFIX of the stream
    * holds the target mixture (a front-loaded source is a distribution
    * shift mid-run). Classic stride scheduling (Waldspurger & Weihl,
    * OSDI '94): source i (alphabetical index) gets weight 2^−i, each
    * document's virtual time is `rk << i` (its within-source mix-order
    * rank times the stride), and the stream is the virtual-time order
    * — so after any V ticks, source i has contributed ⌊V / 2^i⌋ ± 1
    * documents: the geometric shares hold in every window, not just in
    * expectation. All-integer (shifts, never float division), so both
    * engines sort identically; ties (equal v) break by source index
    * then rank.
    *
    * Scale shape: within-source ranks and the final dense position are
    * both the keyed bucket machinery ([[graft.operators.GroupRank
    * .withGroupRankBy]], [[graft.operators.AssignIds
    * .withContiguousIdsBy]]) — two corpus shuffles, a #sources-sized
    * broadcast, no pins, no single-task window. Domain: ≤ 20 sources
    * (src_idx ≤ 19 keeps `rk << src_idx` inside a long for per-source
    * ranks < 2⁴⁴ — enforced loud, since Java's `<<` wraps silently at
    * 64); the ids tiebreak is the exact struct (v, src_idx, rk), so
    * the double rounding of the bucketing key can never reorder (it
    * is monotone — equal doubles fall to the exact long). */
  def mixtureSchedule(spark: SparkSession, d: String): DataFrame = {
    val mix = graft.functions.DetMix.lehmerMix(col("doc_id"))
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), mix.as("sk"))
    val srcs = docs.select("source").distinct()
      .orderBy("source").collect().map(_.getString(0))
    // shift domain: with src_idx ≤ 19, both `rk << src_idx` and the
    // tiebreak `src_idx·2^44 + rk` stay inside a long for any
    // per-source rank < 2^44 (~17.6 T docs — beyond any corpus this
    // engine addresses). Java's << wraps silently at 64, so an
    // out-of-domain source count must fail loud, not misorder; a
    // geometric 2^-i weight is ≤ 1e-6 past i = 19 anyway — more
    // sources want a different weighting, not a longer tail.
    require(srcs.length <= 20,
      s"mixture_schedule supports at most 20 sources (got ${srcs.length})")
    val idx = srcs.zipWithIndex.map { case (s, i) => (s, i.toLong) }
      .toSeq
    import spark.implicits._
    val idxDf = idx.toDF("source", "src_idx")
    // staged for the same reason as curriculum_order: the ids pass
    // replays this (narrow) frame's lineage — one keyed rank plus a
    // broadcast join — three more times unstaged
    Stage(spark) { st =>
      val ranked = st.stage(
        graft.operators.GroupRank.withGroupRankBy(
            docs, Seq("source"), col("sk"), primaryDesc = false,
            // groupBound 20 is exact, not headroom-free: the require
            // above already rejected any corpus with >20 sources before
            // this plan is built, so the in-plan guard cannot out-fail it
            col("doc_id"), "rk", groupBound = 20)
          .join(broadcast(idxDf), "source")
          .withColumn("v", expr("shiftleft(rk, cast(src_idx as int))")))
        // the struct tiebreak (v exact, then src_idx, rk) makes the
        // order self-describing even though the keyed core now also
        // orders by the exact primary; the rank half of the shift
        // domain (rk < 2^44) is not separately guarded — it needs a
        // count — and is 17.6 T docs PER SOURCE past any corpus this
        // engine addresses.
        graft.operators.AssignIds
          .withContiguousIdsBy(ranked, col("v"),
            struct(col("v"), col("src_idx"), col("rk")))
          .select(col("doc_id"), col("source"), col("rk"),
            col("new_id").as("pos"))
          .orderBy("pos")
    }
  }

  /** Deterministic STRATIFIED train/val/test split with EXACT
    * per-stratum proportions — the held-out-set stage of a training
    * pipeline. Bernoulli splits (`sample_stratified`'s shape) only hold
    * proportions in expectation; an eval set wants them exact per
    * language: here each stratum is ranked by the seedless Lehmer
    * shuffle key (a fixed pseudo-random order of the id space —
    * reproducible on any engine/partitioning, `sample_det`'s hash; its
    * 2³¹−1 key space means ties past ~2.1 G docs/stratum, broken
    * doc_id-ascending) and
    * cut by integer rank-vs-size compares — `rk·10 ≤ n·8` → train,
    * `rk·10 ≤ n·9` → val, else test — so every language lands exactly
    * ⌊0.8·n⌋ / ⌊0.9·n⌋−⌊0.8·n⌋ / the rest, no float thresholds to
    * disagree on.
    *
    * Scale shape: ranks come from
    * [[graft.operators.GroupRank.withGroupRankBy]] (value-deterministic
    * buckets + broadcast offsets — no one-task-per-language window
    * collapse, no durable pin; parallelism inherits the session's
    * bytes-tuned shuffle partitions), and the stratum size rides along
    * free as the counts frame's full-window sum (`totalOut`). One
    * corpus shuffle total. */
  def splitStratified(spark: SparkSession, d: String): DataFrame = {
    val mix = graft.functions.DetMix.lehmerMix(col("doc_id"))
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), mix.as("shuffle_key"))
    graft.operators.GroupRank.withGroupRankBy(
        docs, Seq("lang"), col("shuffle_key"), primaryDesc = false,
        col("doc_id"), "rk", totalOut = Some("n_lang"), groupBound = 64)
      .select(col("lang"), col("doc_id"), col("rk"), col("n_lang"),
        when(col("rk") * 10 <= col("n_lang") * 8, lit("train"))
          .when(col("rk") * 10 <= col("n_lang") * 9, lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy("doc_id")
  }

  /** Deterministic GLOBAL SHUFFLE of the corpus — the reproducible
    * training-order stage: every epoch-0 data loader needs the corpus
    * in a pseudo-random but bit-reproducible order, and `ORDER BY
    * rand()` is neither. The shuffle key is the same seedless two-step
    * Lehmer mix as `sample_det`/[[corpusMixOf]] (a fixed pseudo-random
    * order — no RNG state, identical on any engine or partitioning;
    * keys live mod 2³¹−1, so past ~2.1 G docs tie runs of ~n/2³¹ fall
    * to doc_id order), and the dense position comes from
    * [[graft.operators.AssignIds.withContiguousIdsBy]] — frozen-
    * boundary value buckets + broadcast offsets + within-bucket rank,
    * so the global row-numbering never collapses to a single-partition
    * window and needs no pin. One corpus shuffle total; at 100 TB this
    * is exactly a sort-by-key write. */
  def corpusShuffle(spark: SparkSession, d: String): DataFrame =
    corpusShuffleOf(Tables.documents(spark, d))

  def corpusShuffleOf(documents: DataFrame): DataFrame = {
    val mix = graft.functions.DetMix.lehmerMix(col("doc_id"))
    graft.operators.AssignIds
      .withContiguousIdsBy(
        documents.select(col("doc_id"), mix.as("shuffle_key")),
        col("shuffle_key"), col("doc_id"))
      .select(col("doc_id"), col("shuffle_key"), col("new_id").as("pos"))
      .orderBy("pos")
  }

  /** Deterministic SHARD ASSIGNMENT + balance report — the fan-out
    * manifest stage: docs land in `ShardCount` output shards by the
    * Lehmer mix mod N (stable across runs/engines, unlike a
    * partitioner-dependent `spark_partition_id`), and the report shows
    * each shard's doc/token load plus its load ratio vs the perfectly
    * balanced share (`n_tokens · N / total` — exact integers until one
    * double division, so both engines agree bitwise). The assignment
    * is a stateless scan projection; the report is one hash aggregate
    * over N rows of model-sized state. */
  private[graft] val ShardCount = 8

  def corpusShards(spark: SparkSession, d: String): DataFrame = {
    val mix = graft.functions.DetMix.lehmerMix(col("doc_id"))
    val perShard = Tables.documents(spark, d)
      .select((mix % ShardCount).as("shard"),
        size(split(col("text"), " ")).cast("long").as("nt"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
    val total = perShard.agg(sum(col("n_tokens")).as("tot"))
    perShard.join(broadcast(total))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        ((col("n_tokens") * ShardCount).cast("double") / col("tot"))
          .as("load_ratio"))
      .orderBy("shard")
  }

  /** First-merge statistics of BPE tokenizer training (Sennrich et al.
    * 2016, "Neural Machine Translation of Rare Words with Subword
    * Units"): the most frequent ADJACENT token pairs over the corpus —
    * the argmax of exactly this table is the first merge rule, and the
    * production loop is this same count-reduce iterated. Occurrence
    * counts (not per-doc distinct): one explode of in-order pairs + one
    * map-side-combinable hash aggregate; the shuffle carries (pair,
    * partial count), never documents. Top 50 with count-then-pair
    * ordering so the cut is deterministic on both engines. */
  def bpePairCounts(spark: SparkSession, d: String): DataFrame =
    bpePairCountsOf(Tables.documents(spark, d))

  def bpePairCountsOf(documents: DataFrame): DataFrame =
    documents
      .select(split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> concat(t[i-1], ' ', t[i]))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(50)

  /** Number of merge rounds [[bpeTrain]] runs — shared with the oracle
    * builder so both engines unroll the identical loop. 5, the
    * [[graft.queries.Extended.PagerankIters]] precedent: at bench scale
    * every round costs fixed job overhead (one count job + one rewrite
    * job), and 5 chained rounds already prove the iteration exact. */
  private[graft] val BpeMerges = 5

  /** Merge count for the INCREMENTAL trainer's registered query. The
    * scan-per-round loop stays at [[BpeMerges]] = 5 (its per-round cost
    * is a full corpus recount — 5 is a demonstration, says its own
    * scaladoc), but the delta trainer makes deep runs cheap, and 5
    * merges never leaves the regime where every round's argmax comes
    * straight from round-1 statistics — a delta-maintenance bug that
    * only corrupts counts several rewrites in would pass. 16 rounds
    * make the counts frame the product of 15 successive ±delta
    * applications by the time the last argmax runs (VERDICT r7 #5); the
    * oracle unrolls the same 16 rounds programmatically. */
  private[graft] val BpeIncMerges = 16

  /** The FULL BPE merge-training loop (Sennrich et al. 2016) at word
    * level — [[bpePairCounts]] is round 1's statistics; this runs the
    * actual iteration: count adjacent pairs → take the most frequent
    * (count desc, then pair asc — deterministic ties) → fuse every
    * occurrence with the `@@` joiner (the subword-nmt convention) →
    * recount on the rewritten corpus, [[BpeMerges]] times. Output is
    * the learned merge table (rank, a, b, n) — the tokenizer model.
    *
    * Merge application is a LOCAL per-position rule, which is what
    * makes the rewrite exact in both engines: position i fuses iff
    * `t[i]=a ∧ t[i+1]=b`, and is consumed iff `t[i-1]=a ∧ t[i]=b`.
    * Locality holds because self-pairs (a = b) are excluded from merge
    * selection — for a ≠ b, occurrences of the pair can never overlap,
    * so simultaneous rewrite ≡ subword-nmt's leftmost-greedy pass. (A
    * self-pair merge would need run-parity state; documented trade for
    * a bit-exact cross-engine rewrite. Self-pairs are filtered before
    * the count — the argmax is the table's only consumer.)
    *
    * Scale shape: each round is one explode → map-side-combinable
    * count → a ONE-ROW argmax collect (the merge decision is model
    * state, exactly like a centroid round) → a stateless rewrite
    * projection; `localCheckpoint` truncates lineage per round. 100 TB
    * honesty: this is 1 corpus scan per merge — production BPE
    * trainers (subword-nmt, HuggingFace) maintain incremental
    * pair-count deltas per merge; the scan-per-round form is the
    * Spark-first declarative equivalent, and the per-round scan cost
    * is the explode+count everything else here already pays. */
  def bpeTrain(spark: SparkSession, d: String): DataFrame =
    bpeTrainOf(spark, Tables.documents(spark, d), BpeMerges)

  def bpeTrainOf(spark: SparkSession, documents: DataFrame,
      merges: Int): DataFrame =
    bpeLoopOf(spark, documents, merges)._1

  /** TOKENIZE with the model [[bpeTrain]] learns — the apply half of
    * the tokenizer lifecycle (subword-nmt's `apply_bpe`): run the same
    * merge loop and emit the final rewritten corpus per document
    * instead of the merge table. Train and encode on the same corpus
    * compose into one pass here because applying merges 1..k to the
    * training corpus IS the loop's corpus state after round k — no
    * second apply pass needed (encoding a NEW corpus would replay the
    * learned table as k stateless rewrites, same per-round rule, no
    * argmax). Output per doc: the BPE token count (the number a
    * training-data pipeline budgets by), how many tokens are fused
    * units, and the rewritten text.
    *
    * Scale shape: identical to [[bpeTrain]] (the rewrite chain is the
    * same jobs), plus one final stateless projection; nothing about
    * the output is wider than the input corpus. */
  def bpeEncode(spark: SparkSession, d: String): DataFrame =
    bpeEncodeOf(spark, Tables.documents(spark, d), BpeMerges)

  def bpeEncodeOf(spark: SparkSession, documents: DataFrame,
      merges: Int): DataFrame =
    encoded(bpeLoopOf(spark, documents, merges)._2)

  /** [[bpeEncode]]'s output row per `(doc_id, t)` token array. */
  private def encoded(toks: DataFrame): DataFrame =
    toks.select(col("doc_id"),
        size(col("t")).cast("long").as("n_tokens"),
        size(filter(col("t"), x => x.contains("@@"))).cast("long")
          .as("n_fused"),
        array_join(col("t"), " ").as("text_bpe"))
      .orderBy("doc_id")

  /** The shared merge loop: returns (learned merge table, final corpus
    * state as `(doc_id, t)`). `doc_id` rides along for [[bpeEncode]];
    * the pair-count stage never reads it, so Catalyst prunes it out of
    * [[bpeTrain]]'s count jobs. */
  private[graft] def bpeLoopOf(spark: SparkSession, documents: DataFrame,
      merges: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val learned = scala.collection.mutable.Buffer[(Long, String, String, Long)]()
    val (toks, _) = Fixpoint(spark, "bpe") { (_, fx) =>
      // corpus state stays an ARRAY column between rounds — the oracle's
      // CTE chain keeps lists too, and re-joining/re-splitting text per
      // round would only add two string passes per iteration
      var toks = documents.select(col("doc_id"), split(col("text"), " ").as("t"))
      // the corpus can run out of non-self pairs before `merges`
      fx.loop(merges) { r =>
        val top = adjPairs(toks)
          .groupBy("a", "b")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("a"), col("b")).limit(1)
          .as[(String, String, Long)].collect().headOption
        top.foreach { case (a, b, n) =>
          learned += ((r.toLong, a, b, n))
          // the next round's argmax collect — or, on the last round, the
          // caller's terminal action — materializes the rewrite
          toks = fx.checkpoint(toks.select(col("doc_id"), fuseCol(a, b).as("t")))
        }
        top.isEmpty
      }
      toks
    }
    (learned.toSeq.toDF("rank", "a", "b", "n").orderBy("rank"), toks)
  }

  /** In-order adjacent (a, b) token pairs of a `(…, t ARRAY<STRING>)`
    * frame, self-pairs excluded (they are never merge candidates — see
    * [[bpeTrain]]'s locality note — so neither loop ever counts them). */
  private def adjPairs(toksDf: DataFrame): DataFrame =
    toksDf
      .filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS a, t[i] AS b))")).as("p"))
      .filter(col("p.a") =!= col("p.b"))
      .select(col("p.a").as("a"), col("p.b").as("b"))

  /** One merge's local fuse/consume rewrite over `t` — the per-position
    * rule both training loops and the oracle's CTE chain share.
    * try_element_at is 1-based; transform's i is 0-based: next = i+2
    * (element_at would THROW past the end in Spark 4; try_ returns
    * NULL → condition falls through). The prev read at greatest(i, 1)
    * stays in range; at i = 0 it reads x itself, making the
    * consumed-check x=a ∧ x=b — false by the a ≠ b guarantee. */
  private def fuseCol(a: String, b: String): org.apache.spark.sql.Column = {
    val (pa, pb) = (lit(a), lit(b))
    val fused = lit(a + "@@" + b)
    // containment guard (r18, guide §1.2 per-task work): a doc lacking
    // either token fuses nothing and consumes nothing, so the rewrite
    // is the identity — return the input array untouched instead of
    // rebuilding it element-by-element through the two when-branches.
    // Most docs fail the guard at most merges (fused tokens get rarer
    // every round), and the two array_contains probes are tight
    // equality scans vs the per-element branch chain. Value-identical
    // by the identity argument, so every BPE query hashes unchanged.
    when(array_contains(col("t"), pa) && array_contains(col("t"), pb),
      filter(
        transform(col("t"), (x, i) =>
          when(x === pa &&
            try_element_at(col("t"), i + lit(2)) === pb, fused)
          .when(element_at(col("t"), greatest(i, lit(1))) === pa &&
            x === pb, lit(null: String))
          .otherwise(x)),
        x => x.isNotNull))
    .otherwise(col("t"))
  }

  /** [[bpeTrain]] with INCREMENTAL pair-count maintenance — the
    * optimization production BPE trainers (subword-nmt, HuggingFace
    * tokenizers) run, re-expressed over frames (VERDICT r6 #5; the
    * scan-per-round loop's scaladoc documented it as traded away —
    * this pays the debt). The pair-count table becomes loop STATE next
    * to the corpus: each round still picks its argmax merge, but the
    * recount is replaced by a DELTA — only documents actually
    * containing the merged pair are rewritten, and the count table
    * absorbs (new pairs of the rewritten sliver) − (old pairs of that
    * sliver), then drops zeros.
    *
    * Per-round cost vs [[bpeLoopOf]]: the argmax no longer scans the
    * corpus at all (it reads the counts frame — distinct-adjacent-pair
    * sized, vocabulary-shaped, NOT corpus-shaped); the full-corpus
    * explode→shuffle→count is gone, replaced by one stateless
    * flag-scan (a codegen'd `exists` over each token array, no
    * shuffle) and an explode+count over the affected sliver only. As
    * merges accumulate, the matched sliver shrinks toward a few docs
    * per round while the scan-per-round form keeps paying the whole
    * corpus — that asymmetry is what makes 100+ merges tractable
    * (BpeIncSpec runs 120 rounds; SCALE.md has the curve) where the
    * unrolled form's own scaladoc capped it at 5 as a demonstration.
    * 100 TB honesty: the flag-scan is still one corpus pass per round
    * (positional inverted indexes — production's answer — would make
    * the corpus itself mutable state, which frames are not); what the
    * delta buys is removing every per-round SHUFFLE of corpus-sized
    * data, the part that actually dies at scale.
    *
    * Exactness: deltas count pairs with the same self-pair exclusion
    * and the same fuse rule, so the counts frame equals a full recount
    * after every round (BpeIncSpec pins the merge table equal to
    * [[bpeTrainOf]]'s at 5 merges — and therefore to the DuckDB
    * oracle's unrolled chain, which is this query's CORRECTNESS row). */
  def bpeTrainInc(spark: SparkSession, d: String): DataFrame =
    bpeTrainIncOf(spark, Tables.documents(spark, d), BpeIncMerges)

  def bpeTrainIncOf(spark: SparkSession, documents: DataFrame,
      merges: Int): DataFrame = Fixpoint(spark, "bpe_inc") { (_, fx) =>
    import spark.implicits._
    var toks = fx.checkpoint(
      documents.select(col("doc_id"), split(col("text"), " ").as("t")), eager = true)
    // corpus partition count is INVARIANT across rounds: the per-round
    // unaffected ∪ rewritten union concatenates both sides' partitions,
    // which unchecked doubles them every merge (2^r empty tasks by round
    // r — measured as a hang at 120 merges); the narrow coalesce pins it
    val nParts = toks.rdd.getNumPartitions
    var counts = fx.checkpoint(adjPairs(toks).groupBy("a", "b")
      .agg(count(lit(1)).as("n")), eager = true)
    val learned = scala.collection.mutable.Buffer[(Long, String, String, Long)]()
    fx.loop(merges) { r =>
      // model-state argmax over the counts FRAME — no corpus scan
      val top = counts.orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .as[(String, String, Long)].collect().headOption
      top.foreach { case (a, b, n) =>
        learned += ((r.toLong, a, b, n))
        val (pa, pb) = (lit(a), lit(b))
        // all-non-null boolean per element (coalesce absorbs the
        // try_element_at NULL past the end) so the flag and its
        // negation partition the corpus exactly
        // containment prefilter (r18): the positional scan only runs
        // on docs that contain BOTH tokens at all — two tight
        // equality probes short-circuit the transform+exists array
        // build for the (increasingly common, as merges rarify) docs
        // that cannot match. exists ⊆ contains, so the flag is
        // unchanged.
        val hasPair = array_contains(col("t"), pa) &&
          array_contains(col("t"), pb) && exists(
          transform(col("t"), (x, i) =>
            x === pa &&
              coalesce(try_element_at(col("t"), i + lit(2)) === pb,
                lit(false))),
          x => x)
        // evaluate the flag ONCE per doc; both filters below read the
        // checkpointed result. `flagged` stays EAGER — it is the
        // round's fan-out point (the counts delta reads it through
        // BOTH the rewritten and the affected branch within one job,
        // and a lazy persist would let those scans race the flag
        // computation — the clusterLabels hop lesson). The three
        // single-consumer checkpoints below are lazy since r17: the
        // next round's argmax collect materializes the counts delta
        // (and through it `rewritten`), and the next round's flag
        // checkpoint materializes the new `toks` — so the loop pays
        // two jobs per merge instead of five, with no scan racing
        // (measured: 104 → ~40 jobs, see OPTIMIZATION_r17.md).
        val flagged = fx.checkpoint(toks.withColumn("aff", hasPair), eager = true)
        val affected = flagged.filter(col("aff")).select("doc_id", "t")
        val rewritten = fx.checkpoint(
          affected.select(col("doc_id"), fuseCol(a, b).as("t")))
        // counts ⊎ (pairs after − pairs before), zeros dropped: the
        // only shuffle of the round, over the affected sliver's pairs
        // plus the vocabulary-shaped counts frame
        counts = fx.checkpoint(counts.select(col("a"), col("b"), col("n").as("dn"))
          .unionAll(adjPairs(rewritten).groupBy("a", "b")
            .agg(count(lit(1)).as("dn")))
          .unionAll(adjPairs(affected).groupBy("a", "b")
            .agg((-count(lit(1))).as("dn")))
          .groupBy("a", "b").agg(sum(col("dn")).as("n"))
          .filter(col("n") > 0))
        toks = fx.checkpoint(flagged.filter(!col("aff")).select("doc_id", "t")
          .unionAll(rewritten).coalesce(nParts))
      }
      top.isEmpty
    }
    learned.toSeq.toDF("rank", "a", "b", "n").orderBy("rank")
  }._1

  /** The train/apply SPLIT of the tokenizer lifecycle — the half
    * [[bpeEncode]]'s scaladoc promises but doesn't exercise: learn the
    * merge table on one corpus, tokenize a DIFFERENT one. Train side =
    * [[bpeLoopOf]] over even doc_ids; apply side replays the learned
    * table over the odd doc_ids as `merges` STATELESS rewrites (the
    * same [[fuseCol]] rule, no argmax, no counting — at 100 TB the
    * apply pass is embarrassingly parallel scan bandwidth, which is
    * exactly why production tokenizer application is a map-only job).
    * Output matches [[bpeEncode]]'s shape over the held-out half.
    *
    * The held-out corpus CAN contain pairs the table never saw —
    * they simply don't fuse; rank order of application (not
    * frequency on the new corpus) decides precedence, the subword-nmt
    * contract. Deterministic ⇒ the oracle mirrors both chains. */
  def bpeApply(spark: SparkSession, d: String): DataFrame =
    bpeApplyOf(spark, Tables.documents(spark, d), BpeMerges)

  def bpeApplyOf(spark: SparkSession, documents: DataFrame,
      merges: Int): DataFrame = {
    val learned = bpeLoopOf(spark, documents.filter(col("doc_id") % 2 === 0), merges)
      ._1.select("a", "b").collect()  // merge table: model state, ≤ merges rows
    val heldOut = documents.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
    encoded(learned.foldLeft(heldOut)((df, r) =>
      df.select(col("doc_id"), fuseCol(r.getString(0), r.getString(1)).as("t"))))
  }

  /** The corpus quality gate as a standalone stateless filter (length,
    * type-token ratio, stopword ratio — the same predicate [[quality]]
    * reports and the oracle mirrors). Shared by [[corpusBuild]] and the
    * streaming curation MV
    * ([[graft.streaming.StreamingAnalytics.curateStream]]); keeps
    * every column of the input. */
  def qualityGateOf(docs: DataFrame): DataFrame =
    withToks(docs)
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("ttr",
        size(array_distinct(col("toks"))).cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", markerScore("en").cast("double") / col("n_tokens"))
      .filter(col("n_tokens") >= 10 && col("ttr") >= 0.15 && col("stop_ratio") <= 0.5)
      .drop("toks", "n_tokens", "ttr", "stop_ratio")

  /** The whole training-corpus build, end to end in ONE lazy plan — the
    * composition a pretraining data pipeline actually ships: quality
    * gate ([[qualityGateOf]]) → exact + near-dup dedup with
    * cluster survivors ([[graft.dedup.Dedup.dedupCorpus]]) → overlapping
    * token chunks ([[docChunks]]'s window/stride) → fixed-budget
    * sequence packing ([[docPacking]]'s bin rule, here over chunks).
    *
    * Scale shape: the gate is a stateless scan filter; everything
    * downstream (sketches, verify joins, components, chunk explode) runs
    * over the filtered sliver only — order the stages cheapest-first and
    * each stage shrinks the next one's input. The per-source packing
    * prefix sum is [[graft.operators.GroupRank.withRunningSumBy]]
    * (value-deterministic buckets + broadcast offsets), not a
    * one-task-per-source window (VERDICT r11 #1); the chunk frame is
    * staged ([[graft.operators.Stage]]) because the keyed operator
    * replays its lineage per pass and here that lineage is the whole
    * gate→dedup→explode pipeline. */
  def corpusBuild(spark: SparkSession, d: String): DataFrame = {
    val W = 50; val S = 40
    val good = qualityGateOf(Tables.documents(spark, d))
      .select("doc_id", "text", "source")
    val kept = graft.dedup.Dedup.dedupCorpus(good.select("doc_id", "text"))
      .join(good.select("doc_id", "source"), "doc_id")
    // fill-gate estimate: the TEXT-CARRYING base projection (the chunk
    // frame the window form would sort carries chunk_text, a ~1.25×
    // window/stride expansion of it — same order of magnitude; the
    // gate-vs-join-product caveat on contiguousFill applies to the
    // post-dedup chunks frame, whose estimate is unusable)
    val est = Tables.documents(spark, d)
      .select(col("doc_id"), col("source"), col("text"))
      .queryExecution.optimizedPlan.stats.sizeInBytes
    Stage(spark) { st =>
      val chunks = st.stage(kept
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("source"),
          explode(expr(
            s"transform(sequence(0, greatest(0, cast(ceil((n - $W) / $S.0) as int))), " +
            s"i -> named_struct('idx', i, " +
            s"'chunk', concat_ws(' ', slice(toks, i * $S + 1, $W))))")).as("c"))
        .select(col("doc_id"), col("source"),
          col("c.idx").cast("long").as("chunk_idx"),
          col("c.chunk").as("chunk_text"))
        .withColumn("n_chunk_tokens",
          size(split(col("chunk_text"), " ")).cast("long")))
      // exclusive prefix in (doc_id, chunk_idx) order within each
      // source — the shared contiguousFill tail, bucket-sized tasks
      // instead of one per source
      contiguousFill(chunks, Seq("source"), col("doc_id"),
          col("chunk_idx"), col("n_chunk_tokens"), groupBound = 64,
          inputBytes = est)
        .select("source", "doc_id", "chunk_idx", "chunk_text",
          "n_chunk_tokens", "tokens_before", "pack_id")
        .orderBy("source", "doc_id", "chunk_idx")
    }
  }

  /** Class-conditional unigram classifier — the log-free, smoothing-free
    * core of the NB/fastText-style quality-and-language filters real
    * pipelines train on their own corpus: TRAIN is one vocabulary-sized
    * hash aggregate (per-(term, class) counts + per-class totals = the
    * whole model, produced by the engine itself); SCORE is one
    * term-partitioned equi-join of the token stream against the model
    * plus a per-(doc, class) sum; PREDICT is an argmax over the 5 class
    * rows per doc. Score stays exact-integer class mass until one final
    * double division by the class total, so both engines agree bitwise
    * (same trick as [[tfidfTopTerms]]); argmax ties break on class name.
    * Output is the declared-vs-predicted confusion matrix. Training on
    * the scored corpus itself (no held-out split) is deliberate — this
    * is the data-curation filter shape, not an eval harness. */
  def nbClassify(spark: SparkSession, d: String): DataFrame =
    nbClassifyOf(Tables.documents(spark, d))

  /** TRAIN stage of [[nbClassifyOf]], exposed separately so the model can
    * be built batch-side and broadcast into a streaming scoring stage
    * ([[graft.streaming.StreamingAnalytics.nbScore]]): per-(term, class)
    * counts plus per-class totals — together the entire classifier. */
  def nbModelOf(labeled: DataFrame): (DataFrame, DataFrame) = {
    val terms = labeled.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("term"))
    (terms.groupBy(col("term"), col("lang").as("clang")).agg(count(lit(1)).as("c")),
     terms.groupBy(col("lang").as("clang")).agg(count(lit(1)).as("t")))
  }

  def nbClassifyOf(docs: DataFrame): DataFrame = {
    val terms = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("term"))
    val (model, totals) = nbModelOf(docs)
    val mass = terms.select("doc_id", "term")
      .join(model, "term")
      .groupBy(col("doc_id"), col("clang"))
      .agg(sum(col("c")).as("mass"))
    // argmax as a map-side-combinable min-struct AGGREGATE (r17; guide
    // §2.3 "aggregate before you shuffle"), not a window: the old
    // `row_number over (partitionBy doc_id orderBy score desc, clang)`
    // re-exchanged and per-doc-sorted the docs×classes frame just to
    // keep rn = 1. `min(struct(-score, clang))` picks the identical
    // winner — max score, ties to the lexicographically smallest clang
    // (score > 0 strictly, so the negation never meets ±0.0) — with
    // map-side partial aggregation and no sort. Same idiom as
    // HierQuantizer.assignCells' soft=1 arm.
    val pred = mass.join(totals, "clang")
      .withColumn("score", col("mass").cast("double") / col("t"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("score")).as("ns"), col("clang"))).as("w"))
      .select(col("doc_id"), col("w.clang").as("predicted"))
    docs.select("doc_id", "lang").join(pred, "doc_id")
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** DSIR-shaped importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by its affinity to a TARGET domain slice (here source
    * `src0`) relative to the background corpus, then keep the docs whose
    * importance ratio clears 1 (over-represented in the target
    * distribution). The classic estimator sums per-token
    * log(p_target/p_background); this uses the ratio of summed masses
    * `(Σ c_target · T_bg) / (Σ c_bg · T_target)` instead — exact integer
    * numerator and denominator with ONE double division, so the oracle
    * matches bitwise, while preserving the over/under-represented
    * decision boundary at 1.
    *
    * Scale shape: two vocabulary-sized count aggregates (target +
    * background — the "model"), two broadcast 1-row totals, one
    * term-partitioned equi-join of the token stream against the counts,
    * one per-doc sum. The 100 TB side never shuffles on anything wider
    * than a term. */
  def dsirSelect(spark: SparkSession, d: String): DataFrame =
    dsirSelectOf(Tables.documents(spark, d))

  def dsirSelectOf(docs: DataFrame, target: String = "src0"): DataFrame = {
    val terms = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tgtTerms = docs.filter(col("source") === target)
      .select(explode(split(col("text"), " ")).as("term"))
    val ct = tgtTerms.groupBy("term").agg(count(lit(1)).as("ct"))
    val cb = terms.groupBy("term").agg(count(lit(1)).as("cb"))
    val tt = tgtTerms.agg(count(lit(1)).as("t_total"))
    val tb = terms.agg(count(lit(1)).as("b_total"))
    terms.join(cb, "term")
      .join(ct, Seq("term"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("ct"), lit(0L))).as("t_mass"),
        sum(col("cb")).as("b_mass"))
      .crossJoin(broadcast(tt)).crossJoin(broadcast(tb))
      .withColumn("importance",
        (col("t_mass") * col("b_total")).cast("double") /
          (col("b_mass") * col("t_total")))
      .withColumn("selected", col("importance") >= 1.0)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select("doc_id", "source", "n_tokens", "t_mass", "b_mass",
        "importance", "selected")
      .orderBy("doc_id")
  }

  /** The RESAMPLING half of DSIR — [[dsirSelectOf]] scores, this draws:
    * keep each document with probability min(1, rate · importance), so
    * the kept set's composition tilts toward the target distribution
    * while staying a fixed expected fraction of the corpus. The draw is
    * the repo's deterministic two-step Lehmer mix on doc_id (the
    * `sample_det` formulation — seedless, partition-independent,
    * identical in both engines) compared against the per-doc importance
    * bound: `mix(doc_id) < min(1, rate·imp) · 2³¹-1`. Stateless scan
    * decision once the importance column exists — the selection adds
    * nothing to the shuffle story of [[dsirSelectOf]]. */
  def dsirResampleOf(docs: DataFrame, target: String = "src0",
      rate: Double = 0.5): DataFrame = {
    val mix = graft.functions.DetMix.lehmerMix(col("doc_id"))
    dsirSelectOf(docs, target)
      .withColumn("keep_p", least(lit(1.0), col("importance") * rate))
      .filter(mix.cast("double") < col("keep_p") * 2147483647.0)
      .select("doc_id", "source", "n_tokens", "importance", "keep_p")
      .orderBy("doc_id")
  }

  /** Bigram language-model fluency scoring — the CCNet-style quality
    * filter (Wenzek et al. 2020 score documents by the perplexity of an
    * LM trained on trusted text; here the LM is the corpus's own MLE
    * bigram model, so low scores flag distributional outliers). The
    * textbook score is the per-token mean of `ln p(w2|w1)`; `ln()` is
    * not correctly-rounded and its parallel sum is order-dependent (the
    * repo-wide ULP policy — see [[langConfusion]]'s TV-vs-KL note), so
    * the score is the house rational surrogate: per document,
    * `fluency = Σ c(w1,w2) / Σ c(w1)` — exact integer numerator and
    * denominator (the summed MLE transition masses) with ONE double
    * division, bit-identical across engines. The surprise TAIL — what
    * perplexity is actually used to catch — is reported exactly as
    * `rare_bigrams`, the count of transitions seen nowhere else in the
    * corpus.
    *
    * Scale shape: one stateless bigram explode (zip_with over the token
    * array — no positional self-join), two count aggregates keyed on
    * the bigram/left-token strings (at 100 TB these keys ship as 8-byte
    * xxhash64 digests, the [[graft.dedup.Dedup]] `dedup_exact_hashkey`
    * form; strings are kept here so the DuckDB oracle's equality is
    * literal), one bigram-partitioned equi-join back against the
    * stream, one per-doc sum. Nothing wider than a bigram on any
    * shuffle, and the count tables are vocabulary-sized. */
  def lmBigramScore(spark: SparkSession, d: String): DataFrame =
    lmBigramScoreOf(Tables.documents(spark, d))

  def lmBigramScoreOf(docs: DataFrame): DataFrame = {
    val bi = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1), " +
          "(a, b) -> struct(a AS w1, b AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c12 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bi.groupBy("w1").agg(count(lit(1)).as("c1"))
    bi.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c12")).as("bi_mass"),
        sum(col("c1")).as("left_mass"),
        sum(when(col("c12") === 1, 1L).otherwise(0L)).as("rare_bigrams"))
      .withColumn("fluency", col("bi_mass").cast("double") / col("left_mass"))
      .orderBy("doc_id")
  }

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "corpus_build" -> corpusBuild,
    "token_budget_admission" ->
      graft.streaming.StreamingAnalytics.tokenBudgetAdmission _,
    "text_lang_confusion" -> langConfusion,
    "text_quality" -> quality,
    "text_tokens" -> tokenCounts,
    "text_fingerprint" -> fingerprints,
    "text_tfidf" -> tfidfTopTerms,
    "text_bm25" -> textBm25,
    "quality_topq" -> qualityTopQ,
    "text_repetition" -> repetition,
    "text_gopher" -> gopherGates,
    "text_freq_score" -> freqScore,
    "pii_scrub" -> piiScrub,
    "nb_classify" -> nbClassify,
    "lm_bigram_score" -> lmBigramScore,
    "dsir_select" -> dsirSelect,
    "dsir_resample" -> ((s: SparkSession, d: String) =>
      dsirResampleOf(Tables.documents(s, d))),
    "doc_chunks" -> docChunks,
    "doc_packing" -> docPacking,
    "pack_by_length" -> packByLength,
    "pack_best_fit" -> packBestFit,
    "pack_efficiency" -> packEfficiency,
    "pack_tradeoff" -> packTradeoff,
    "corpus_mix" -> ((s: SparkSession, d: String) => corpusMix(s, d)),
    "mix_temperature" -> mixTemperature,
    "split_stratified" -> splitStratified,
    "source_quota" -> sourceQuota,
    "token_budget" -> tokenBudget,
    "sample_pps" -> samplePps,
    "curriculum_order" -> curriculumOrder,
    "mixture_schedule" -> mixtureSchedule,
    "corpus_shuffle" -> corpusShuffle,
    "corpus_shard" -> corpusShards,
    "bpe_pair_counts" -> bpePairCounts,
    "bpe_train" -> bpeTrain,
    "bpe_train_inc" -> bpeTrainInc,
    "bpe_encode" -> bpeEncode,
    "bpe_apply" -> bpeApply,
    "source_drift" -> sourceDrift,
    "drift_incremental" -> driftIncremental,
    "k_anon_check" -> kAnonCheck)

  /** The shared best-fit recursive-CTE chain (q → rank → chunk → fold)
    * interpolated into BOTH the pack_best_fit and pack_tradeoff oracle
    * strings — one edit point, like the PackBin/BestFitChunk constants,
    * so the two oracles cannot disagree about the same packing. */
  private def bestFitCtes: String = {
    val B = PackBin; val C = BestFitChunk
    val best = s"list_max(list_filter(f.loads, l -> l + d.n_tokens <= $B))"
    s"""q AS (
       |  SELECT doc_id, source,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |         CAST(NTILE(4) OVER (PARTITION BY source
       |              ORDER BY n_chars, doc_id) AS BIGINT) AS quartile
       |  FROM documents),
       |r AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source, quartile
       |           ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rk
       |  FROM q),
       |c AS (
       |  SELECT *, (rk - 1) // $C AS chunk,
       |         rk - ((rk - 1) // $C) * $C AS crn
       |  FROM r),
       |fit AS (
       |  SELECT source, quartile, chunk, doc_id, n_tokens, crn,
       |         CAST(0 AS BIGINT) AS bin, [n_tokens] AS loads
       |  FROM c WHERE crn = 1
       |  UNION ALL
       |  SELECT d.source, d.quartile, d.chunk, d.doc_id, d.n_tokens, d.crn,
       |    CASE WHEN $best IS NULL
       |         THEN CAST(len(f.loads) AS BIGINT)
       |         ELSE CAST(list_position(f.loads, $best) - 1 AS BIGINT)
       |    END,
       |    CASE WHEN $best IS NULL
       |         THEN list_append(f.loads, d.n_tokens)
       |         ELSE list_transform(generate_series(1, len(f.loads)),
       |                i -> CASE WHEN i = list_position(f.loads, $best)
       |                     THEN f.loads[i] + d.n_tokens
       |                     ELSE f.loads[i] END)
       |    END
       |  FROM fit f JOIN c d
       |    ON d.source = f.source AND d.quartile = f.quartile
       |   AND d.chunk = f.chunk AND d.crn = f.crn + 1)""".stripMargin
  }

  private def markerSql(lang: String): String = {
    val list = markers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), t -> t IN ($list)))"
  }

  val oracles = Map(
    // the full pipeline: quality gate → exact dedup → near-dup closure →
    // surviving docs → chunk → pack; assembled from the same fragments
    // the per-stage oracles use
    "corpus_build" ->
      s"""WITH RECURSIVE q AS (
         |  SELECT doc_id, text, source FROM documents
         |  WHERE len(string_split(text, ' ')) >= 10
         |    AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |        / len(string_split(text, ' ')) >= 0.15
         |    AND CAST(${markerSql("en")} AS DOUBLE)
         |        / len(string_split(text, ' ')) <= 0.5),
         |ex AS (SELECT MIN(doc_id) AS doc_id, text FROM q GROUP BY text),
         |toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM ex
         |  WHERE len(string_split(text, ' ')) >= 3),
         |sh AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_transform(generate_series(1, len(t) - 2),
         |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
         |  FROM toks),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
         |  FROM sh a JOIN sh b USING (shingle)
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sz x ON x.doc_id = doc_a
         |  JOIN sz y ON y.doc_id = doc_b
         |  WHERE CAST(ni AS DOUBLE) / (x.n + y.n - ni) >= 0.8),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (
         |  SELECT e.doc_id,
         |         LEAST(e.doc_id, COALESCE(MIN(r.b), e.doc_id)) AS cluster_id
         |  FROM ex e LEFT JOIN reach r ON r.a = e.doc_id
         |  GROUP BY e.doc_id),
         |kept AS (
         |  SELECT e.doc_id, e.text, q.source
         |  FROM ex e
         |  JOIN labels l ON e.doc_id = l.doc_id
         |  JOIN q ON e.doc_id = q.doc_id
         |  WHERE l.doc_id = l.cluster_id),
         |tk AS (
         |  SELECT doc_id, source, string_split(text, ' ') AS t,
         |         len(string_split(text, ' ')) AS n
         |  FROM kept),
         |ch AS (
         |  SELECT doc_id, source,
         |    unnest(generate_series(0,
         |      greatest(0, CAST(ceil((n - 50) / 40.0) AS INTEGER)))) AS chunk_idx,
         |    t, n
         |  FROM tk),
         |chunks AS (
         |  SELECT doc_id, source, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |    array_to_string(list_slice(t, chunk_idx * 40 + 1,
         |      least(n, chunk_idx * 40 + 50)), ' ') AS chunk_text,
         |    CAST(least(n, chunk_idx * 40 + 50) - chunk_idx * 40 AS BIGINT)
         |      AS n_chunk_tokens
         |  FROM ch)
         |SELECT source, doc_id, chunk_idx, chunk_text, n_chunk_tokens,
         |  CAST(coalesce(SUM(n_chunk_tokens)
         |    OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) AS tokens_before,
         |  CAST(coalesce(SUM(n_chunk_tokens)
         |    OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    AS BIGINT) // 512 AS pack_id
         |FROM chunks ORDER BY source, doc_id, chunk_idx""".stripMargin,
    "text_lang_confusion" ->
      s"""WITH scored AS (
         |  SELECT lang,
         |    ${markerSql("en")} AS s_en, ${markerSql("de")} AS s_de,
         |    ${markerSql("es")} AS s_es, ${markerSql("fr")} AS s_fr,
         |    ${markerSql("zh")} AS s_zh
         |  FROM documents),
         |pred AS (
         |  SELECT lang,
         |    CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
         |         WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
         |         WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
         |         WHEN s_fr >= s_zh THEN 'fr'
         |         ELSE 'zh' END AS predicted
         |  FROM scored)
         |SELECT lang, predicted, COUNT(*) AS n FROM pred
         |GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS ttr,
         |  CAST(${markerSql("en")} AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
         |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
         |    / len(string_split(text, ' ')) AS chars_per_token,
         |  (len(string_split(text, ' ')) >= 10
         |   AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |       / len(string_split(text, ' ')) >= 0.15
         |   AND CAST(${markerSql("en")} AS DOUBLE) / len(string_split(text, ' ')) <= 0.5)
         |    AS quality_ok
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens,
        |  CAST(octet_length(encode(text)) AS DOUBLE) / len(string_split(text, ' ')) AS bytes_per_ws_token
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(generate_series(1, length(text)),
        |                     i -> CAST(ascii(text[i]) AS BIGINT))),
        |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df, CAST(tf * n_docs AS DOUBLE) / df AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n)
        |SELECT doc_id, term, tf, df, score, rn FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |                 ORDER BY score DESC, term) AS BIGINT) AS rn
        |  FROM scored) t
        |WHERE rn <= 3
        |ORDER BY doc_id, rn""".stripMargin,
    // same two-division-one-multiply double tree as the Spark side:
    // rational idf × cleared-integer length norm (k1=6/5, b=3/4)
    "text_bm25" ->
      """WITH d2 AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |         string_split(text, ' ') AS toks
        |  FROM documents),
        |stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS s_tokens FROM d2),
        |terms AS (SELECT doc_id, dl, unnest(toks) AS term FROM d2),
        |tf AS (SELECT doc_id, term, dl, COUNT(*) AS tf FROM terms GROUP BY 1, 2, 3),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT term, df FROM dfreq CROSS JOIN stats
        |      WHERE df * 10 <= n_docs * 9 ORDER BY df DESC, term LIMIT 5),
        |scored AS (
        |  SELECT tf.term, tf.doc_id, tf.tf, tf.dl,
        |         (CAST(n_docs * 2 - q.df * 2 + 1 AS DOUBLE) / (q.df * 2 + 1)) *
        |         (CAST(tf.tf * 22 * s_tokens AS DOUBLE) /
        |          (tf.tf * s_tokens * 10 + s_tokens * 3 + tf.dl * n_docs * 9)) AS score
        |  FROM tf JOIN q USING (term) CROSS JOIN stats),
        |r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY term
        |        ORDER BY score DESC, doc_id) AS BIGINT) AS rn FROM scored)
        |SELECT term, doc_id, tf, dl, score, rn FROM r WHERE rn <= 5
        |ORDER BY term, rn""".stripMargin,
    // the split cuts are integer rank-vs-size compares and the shuffle
    // key is the same Lehmer mix every sample_det oracle inlines — no
    // float threshold anywhere, so the engines agree bitwise
    // stride scheduling is all-integer (rk << src_idx, never a float
    // division), so the engines produce one identical total order; the
    // tiebreak (src_idx, rk) mirrors the Spark encoding exactly
    "mixture_schedule" ->
      """WITH s AS (
        |  SELECT source,
        |         CAST(ROW_NUMBER() OVER (ORDER BY source) - 1 AS BIGINT)
        |           AS src_idx
        |  FROM (SELECT DISTINCT source FROM documents)),
        |m AS (
        |  SELECT d.doc_id, d.source, s.src_idx,
        |         (doc_id % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647
        |           AS sk
        |  FROM documents d JOIN s USING (source)),
        |r AS (
        |  SELECT doc_id, source, src_idx,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY source
        |              ORDER BY sk, doc_id) AS BIGINT) AS rk
        |  FROM m)
        |SELECT doc_id, source, rk,
        |       CAST(ROW_NUMBER() OVER (ORDER BY rk << src_idx, src_idx, rk)
        |            AS BIGINT) AS pos
        |FROM r ORDER BY pos""".stripMargin,
    // phases are NTILE(4) over the whole corpus (DuckDB's NTILE and the
    // Spark closed form agree remainder-for-remainder); the order key is
    // the same Lehmer mix, so positions match bitwise
    "curriculum_order" ->
      """WITH q AS (
        |  SELECT doc_id,
        |         NTILE(4) OVER (ORDER BY n_chars, doc_id) AS phase,
        |         (doc_id % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647
        |           AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, phase,
        |       CAST(ROW_NUMBER() OVER (ORDER BY phase, shuffle_key, doc_id)
        |            AS BIGINT) AS pos
        |FROM q ORDER BY pos""".stripMargin,
    // the budget cut is integer (5·cum ≤ 3·tot); both running sums are
    // CAST to BIGINT so DuckDB's HUGEINT SUM cannot leak a float
    "token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         (doc_id % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647
        |           AS shuffle_key
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, n_tokens,
        |         CAST(SUM(n_tokens) OVER (PARTITION BY source
        |              ORDER BY shuffle_key, doc_id
        |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |         CAST(SUM(n_tokens) OVER (PARTITION BY source) AS BIGINT)
        |           AS tot_tokens
        |  FROM t)
        |SELECT source, doc_id, n_tokens, cum_tokens, tot_tokens
        |FROM r WHERE cum_tokens * 5 <= tot_tokens * 3
        |ORDER BY source, cum_tokens, doc_id""".stripMargin,
    // Madow systematic PPS: the same shuffled running sum, per-source
    // phase offset, boundary count and pick index in exact 64-bit
    // integer division (//)
    "sample_pps" -> {
      val n = PpsPerSource
      def nb(c: String) = s"(CASE WHEN $c * $n <= off THEN CAST(0 AS BIGINT) " +
        s"ELSE least(CAST($n AS BIGINT), (($c * $n - off - 1) // w_total) + 1) END)"
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         (doc_id % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647
         |           AS mix
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, n_tokens,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY source
         |              ORDER BY mix, doc_id
         |              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |         CAST(SUM(n_tokens) OVER (PARTITION BY source) AS BIGINT)
         |           AS w_total
         |  FROM t),
         |p AS (
         |  SELECT *,
         |         (((w_total & 2147483647) % 2147483647) * 48271
         |            % 2147483647 * 48271 % 2147483647 * 2147483647
         |          + (((w_total >> 31) + 1) % 2147483647) * 48271
         |            % 2147483647 * 48271 % 2147483647)
         |           % w_total AS off
         |  FROM r)
         |SELECT source, doc_id, n_tokens, cum, w_total,
         |       ${nb("cum")} AS pick_idx
         |FROM p
         |WHERE ${nb("cum")} > ${nb("(cum - n_tokens)")}
         |ORDER BY source, cum""".stripMargin
    },
    // the streaming admission's greedy fold (admit iff the doc fits
    // WHOLE; rejected docs leave the total untouched) recomputed as a
    // recursive CTE in doc_id order — the stream feeds batches in
    // doc_id order precisely so this batch twin is SQL-expressible
    "token_budget_admission" -> {
      val b = graft.streaming.StreamingAnalytics.AdmissionBudget
      s"""WITH RECURSIVE t AS (
         |  SELECT source, doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY source
         |              ORDER BY doc_id) AS BIGINT) AS rn
         |  FROM documents),
         |adm AS (
         |  SELECT source, doc_id, n_tokens, rn,
         |         CASE WHEN n_tokens <= $b THEN n_tokens
         |              ELSE CAST(0 AS BIGINT) END AS cum_tokens,
         |         CASE WHEN n_tokens <= $b THEN CAST(1 AS BIGINT)
         |              ELSE CAST(0 AS BIGINT) END AS admitted
         |  FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT d.source, d.doc_id, d.n_tokens, d.rn,
         |         CASE WHEN a.cum_tokens + d.n_tokens <= $b
         |              THEN a.cum_tokens + d.n_tokens
         |              ELSE a.cum_tokens END,
         |         CASE WHEN a.cum_tokens + d.n_tokens <= $b
         |              THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
         |  FROM adm a JOIN t d ON d.source = a.source AND d.rn = a.rn + 1)
         |SELECT source, doc_id, n_tokens, cum_tokens, admitted
         |FROM adm ORDER BY source, doc_id""".stripMargin
    },
    "split_stratified" ->
      """WITH m AS (
        |  SELECT doc_id, lang,
        |         (doc_id % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647
        |           AS shuffle_key
        |  FROM documents),
        |r AS (SELECT *,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |             ORDER BY shuffle_key, doc_id) AS BIGINT) AS rk,
        |        COUNT(*) OVER (PARTITION BY lang) AS n_lang
        |      FROM m)
        |SELECT lang, doc_id, rk, n_lang,
        |       CASE WHEN rk * 10 <= n_lang * 8 THEN 'train'
        |            WHEN rk * 10 <= n_lang * 9 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin,
    // the quartile cut is integer (4·rk ≤ count) — no percentile
    // interpolation semantics to reconcile across engines
    "quality_topq" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
        |  FROM documents),
        |s AS (SELECT *, CAST(n_distinct AS DOUBLE) / n_tokens AS ttr FROM t),
        |r AS (SELECT *,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |             ORDER BY ttr DESC, doc_id) AS BIGINT) AS rk,
        |        COUNT(*) OVER (PARTITION BY lang) AS n_lang
        |      FROM s)
        |SELECT lang, doc_id, n_tokens, n_distinct, ttr, rk FROM r
        |WHERE rk * 4 <= n_lang ORDER BY lang, rk""".stripMargin,
    "text_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |tri AS (
        |  SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tri
        |  FROM toks),
        |cnt AS (SELECT doc_id, tri, COUNT(*) AS c FROM tri GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_trigrams, MAX(c) AS max_tri,
        |       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS rep_ratio
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same counts as the Spark sorted-array folds, via plain GROUP BYs:
    // dup occurrences = sum of counts where count > 1; top bigram = max count
    "text_gopher" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tri AS (
        |  SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |  FROM toks WHERE len(t) >= 3),
        |tc AS (SELECT doc_id, g, COUNT(*) AS c FROM tri GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tri,
        |              CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_tri
        |       FROM tc GROUP BY doc_id),
        |bi AS (
        |  SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1])) AS g
        |  FROM toks WHERE len(t) >= 2),
        |bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_n
        |       FROM bc GROUP BY doc_id),
        |f AS (
        |  SELECT d.doc_id,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |    coalesce(ts.n_tri, 0) AS n_tri,
        |    CASE WHEN coalesce(ts.n_tri, 0) > 0
        |         THEN CAST(ts.dup_tri AS DOUBLE) / ts.n_tri
        |         ELSE 0.0 END AS dup_tri_frac,
        |    coalesce(bs.top_bigram_n, 0) AS top_bigram_n,
        |    CASE WHEN len(string_split(d.text, ' ')) >= 2
        |         THEN CAST(bs.top_bigram_n * 2 AS DOUBLE)
        |              / len(string_split(d.text, ' '))
        |         ELSE 0.0 END AS top_bigram_frac
        |  FROM documents d
        |  LEFT JOIN ts ON d.doc_id = ts.doc_id
        |  LEFT JOIN bs ON d.doc_id = bs.doc_id)
        |SELECT doc_id, n_tokens, n_tri, dup_tri_frac, top_bigram_n,
        |       top_bigram_frac,
        |       dup_tri_frac <= 0.35 AND top_bigram_frac <= 0.20 AS gopher_ok
        |FROM f ORDER BY doc_id""".stripMargin,
    // the same all-integer mean relative frequency; the division is the
    // single double op, performed identically on both engines
    "text_freq_score" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |c AS (SELECT term, COUNT(*) AS c FROM t GROUP BY term),
        |tot AS (SELECT COUNT(*) AS total FROM t)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |       CAST(SUM(c) AS BIGINT) AS sum_c,
        |       CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE)
        |         / (COUNT(*) * (SELECT total FROM tot)) AS rel_freq
        |FROM t JOIN c USING (term)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // DuckDB string literals do not process backslashes, so the regexes
    // below carry SINGLE backslashes where the Spark-side SQL literals
    // (which do unescape) carry doubles; RE2 and Java agree on this
    // pattern subset (classes, bounded repeats, \b). The 'g' flag makes
    // regexp_replace global, matching Spark's replace-all default.
    "pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail' || (doc_id % 7) ||
        |    '.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
        |    ' from 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) ||
        |    '.' || ((doc_id * 13) % 256) AS t
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, t,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b555-[0-9]{4}\b', '<PHONE>', 'g'),
        |      '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS red
        |  FROM p)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b555-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t,
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(length(red) AS BIGINT) AS red_len,
        |  md5(red) AS red_md5
        |FROM r ORDER BY doc_id""".stripMargin,
    // exact-integer class mass, one double division, argmax ties on class
    "nb_classify" ->
      """WITH terms AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |model AS (
        |  SELECT term, lang AS clang, count(*) AS c
        |  FROM terms GROUP BY term, lang),
        |totals AS (
        |  SELECT lang AS clang, count(*) AS t FROM terms GROUP BY lang),
        |mass AS (
        |  SELECT terms.doc_id, model.clang, sum(model.c) AS mass
        |  FROM terms JOIN model USING (term)
        |  GROUP BY terms.doc_id, model.clang),
        |pred AS (
        |  SELECT doc_id, clang AS predicted,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id
        |           ORDER BY CAST(mass AS DOUBLE) / t DESC, clang) AS rn
        |  FROM mass JOIN totals USING (clang))
        |SELECT d.lang, p.predicted, count(*) AS n
        |FROM documents d JOIN pred p ON d.doc_id = p.doc_id AND p.rn = 1
        |GROUP BY d.lang, p.predicted
        |ORDER BY d.lang, p.predicted""".stripMargin,
    // importance scoring + the deterministic Lehmer-mix draw against
    // min(1, 0.5·importance)
    "dsir_resample" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tgt AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |  WHERE source = 'src0'),
        |ct AS (SELECT term, count(*) AS ct FROM tgt GROUP BY term),
        |cb AS (SELECT term, count(*) AS cb FROM terms GROUP BY term),
        |tt AS (SELECT count(*) AS t_total FROM tgt),
        |tb AS (SELECT count(*) AS b_total FROM terms),
        |m AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         sum(coalesce(ct.ct, 0)) AS t_mass, sum(cb.cb) AS b_mass
        |  FROM terms JOIN cb USING (term) LEFT JOIN ct USING (term)
        |  GROUP BY doc_id),
        |sc AS (
        |  SELECT m.doc_id, d.source, m.n_tokens,
        |         CAST(m.t_mass * tb.b_total AS DOUBLE) / (m.b_mass * tt.t_total)
        |           AS importance
        |  FROM m CROSS JOIN tt CROSS JOIN tb
        |  JOIN documents d ON d.doc_id = m.doc_id)
        |SELECT doc_id, source, n_tokens, importance,
        |       least(1.0, importance * 0.5) AS keep_p
        |FROM sc
        |WHERE CAST((doc_id % 2147483647) * 48271 % 2147483647 * 48271
        |           % 2147483647 AS DOUBLE)
        |      < least(1.0, importance * 0.5) * 2147483647.0
        |ORDER BY doc_id""".stripMargin,
    // integer masses, one double division; decision boundary at 1.
    // DuckDB's SUM(BIGINT) returns HUGEINT, which pandas reads back as
    // float64 — the driver's value hash then sees "123.0" vs Spark's
    // "123" and fails. Every exposed sum must CAST back to BIGINT.
    "lm_bigram_score" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |idx AS (
        |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i
        |  FROM toks),
        |bi AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM idx),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY 1, 2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM bi GROUP BY 1)
        |SELECT b.doc_id,
        |       COUNT(*) AS n_bigrams,
        |       CAST(SUM(c12.c12) AS BIGINT) AS bi_mass,
        |       CAST(SUM(c1.c1) AS BIGINT) AS left_mass,
        |       CAST(SUM(CASE WHEN c12.c12 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS rare_bigrams,
        |       CAST(SUM(c12.c12) AS DOUBLE) / SUM(c1.c1) AS fluency
        |FROM bi b JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY b.doc_id ORDER BY doc_id""".stripMargin,
    "dsir_select" ->
      """WITH terms AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tgt AS (
        |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
        |  WHERE source = 'src0'),
        |ct AS (SELECT term, count(*) AS ct FROM tgt GROUP BY term),
        |cb AS (SELECT term, count(*) AS cb FROM terms GROUP BY term),
        |tt AS (SELECT count(*) AS t_total FROM tgt),
        |tb AS (SELECT count(*) AS b_total FROM terms),
        |m AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         sum(coalesce(ct.ct, 0)) AS t_mass, sum(cb.cb) AS b_mass
        |  FROM terms JOIN cb USING (term) LEFT JOIN ct USING (term)
        |  GROUP BY doc_id)
        |SELECT m.doc_id, d.source, m.n_tokens,
        |       CAST(m.t_mass AS BIGINT) AS t_mass,
        |       CAST(m.b_mass AS BIGINT) AS b_mass,
        |       CAST(m.t_mass * tb.b_total AS DOUBLE) / (m.b_mass * tt.t_total)
        |         AS importance,
        |       CAST(m.t_mass * tb.b_total AS DOUBLE) / (m.b_mass * tt.t_total)
        |         >= 1.0 AS selected
        |FROM m CROSS JOIN tt CROSS JOIN tb
        |JOIN documents d ON d.doc_id = m.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    "doc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id,
        |    unnest(generate_series(0,
        |      greatest(0, CAST(ceil((n - 50) / 40.0) AS INTEGER)))) AS chunk_idx,
        |    t, n
        |  FROM toks)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  array_to_string(list_slice(t, chunk_idx * 40 + 1,
        |    least(n, chunk_idx * 40 + 50)), ' ') AS chunk_text,
        |  CAST(least(n, chunk_idx * 40 + 50) - chunk_idx * 40 AS BIGINT)
        |    AS n_chunk_tokens
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "doc_packing" ->
      s"""SELECT source, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(SUM(len(string_split(text, ' ')))
        |    OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS tokens_before,
        |  CAST(coalesce(SUM(len(string_split(text, ' ')))
        |    OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) // $PackBin AS pack_id
        |FROM documents ORDER BY source, doc_id""".stripMargin,
    // NTILE(4) per source (DuckDB's NTILE = the same leading-buckets
    // closed form quartileBinsOf computes), then the per-(source,
    // quartile) exclusive cumsum — the multi-column group twin of the
    // doc_packing oracle
    "pack_by_length" ->
      s"""WITH q AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         CAST(NTILE(4) OVER (PARTITION BY source
        |              ORDER BY n_chars, doc_id) AS BIGINT) AS quartile
        |  FROM documents)
        |SELECT source, quartile, doc_id, n_tokens,
        |  CAST(coalesce(SUM(n_tokens)
        |    OVER (PARTITION BY source, quartile ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS tokens_before,
        |  CAST(coalesce(SUM(n_tokens)
        |    OVER (PARTITION BY source, quartile ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) // $PackBin AS pack_id
        |FROM q ORDER BY source, quartile, doc_id""".stripMargin,
    // the SAME block-BFD greedy fold, recomputed as a recursive CTE
    // over list state: per (source, quartile, chunk), docs advance in
    // rank order (length desc, doc_id), each choosing the max feasible
    // load (ties → first position) or opening a new bin — the
    // token_budget_admission recursive-fold template extended from a
    // one-long state to a bin-load list. Constants are the shared
    // PackBin / BestFitChunk fields, so the engines cannot drift.
    "pack_best_fit" -> {
      val C = BestFitChunk
      s"""WITH RECURSIVE $bestFitCtes
         |SELECT source, quartile, doc_id, n_tokens,
         |       chunk * $C + bin AS pack_id
         |FROM fit ORDER BY source, quartile, doc_id""".stripMargin
    },
    // both packers' bin economics per source, over the same NTILE
    // strata: contiguous packs/straddles from the stratum cumsum,
    // best-fit packs from the recursive fold's distinct bins
    "pack_tradeoff" -> {
      val B = PackBin; val C = BestFitChunk
      s"""WITH RECURSIVE $bestFitCtes,
         |fillq AS (
         |  SELECT source, quartile, n_tokens,
         |    CAST(coalesce(SUM(n_tokens)
         |      OVER (PARTITION BY source, quartile ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tb
         |  FROM q),
         |strat AS (
         |  SELECT source, quartile, COUNT(*) AS q_docs,
         |         SUM(n_tokens) AS q_tokens,
         |         SUM(CASE WHEN tb // $B <> (tb + n_tokens - 1) // $B
         |                  THEN 1 ELSE 0 END) AS q_straddles
         |  FROM fillq GROUP BY source, quartile),
         |contig AS (
         |  SELECT source, CAST(SUM(q_docs) AS BIGINT) AS n_docs,
         |         CAST(SUM(q_tokens) AS BIGINT) AS tokens,
         |         CAST(SUM((q_tokens + ${B - 1}) // $B) AS BIGINT)
         |           AS packs_contig,
         |         CAST(SUM(q_straddles) AS BIGINT) AS straddles_contig
         |  FROM strat GROUP BY source),
         |bins AS (
         |  SELECT DISTINCT source, quartile, chunk * $C + bin AS pack_id
         |  FROM fit),
         |bf AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS packs_bestfit
         |  FROM bins GROUP BY source),
         |ovs AS (
         |  SELECT source,
         |         CAST(SUM(CASE WHEN n_tokens > $B THEN 1 ELSE 0 END)
         |              AS BIGINT) AS oversize_bestfit
         |  FROM q GROUP BY source)
         |SELECT source, n_docs, tokens, packs_contig, straddles_contig,
         |       packs_bestfit, oversize_bestfit,
         |       packs_bestfit * 1000000 // packs_contig AS bins_ratio_ppm
         |FROM contig JOIN bf USING (source) JOIN ovs USING (source)
         |ORDER BY source""".stripMargin
    },
    // all-integer straddle math (start bin <> end bin) over the same
    // per-source contiguous-fill cumsum the doc_packing oracle uses
    "pack_efficiency" ->
      s"""WITH t AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(coalesce(SUM(len(string_split(text, ' ')))
        |      OVER (PARTITION BY source ORDER BY doc_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS tb
        |  FROM documents),
        |agg AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(n_tokens) AS BIGINT) AS tokens,
        |         CAST(SUM(CASE WHEN tb // $PackBin <> (tb + n_tokens - 1) // $PackBin
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS straddles
        |  FROM t GROUP BY source)
        |SELECT source, n_docs, tokens,
        |       (tokens + ${PackBin - 1}) // $PackBin AS n_packs,
        |       straddles, straddles * 1000000 // n_docs AS straddle_ppm
        |FROM agg ORDER BY source""".stripMargin,
    // ROW_NUMBER over the inlined Lehmer order per source — the window
    // twin of the bounded-heap TopKPerKey plan
    "source_quota" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |           ORDER BY (doc_id % 2147483647) * 48271 % 2147483647
        |                    * 48271 % 2147483647, doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, source FROM t WHERE rk <= 10
        |ORDER BY doc_id""".stripMargin,
    // the same all-integer Lehmer keep test, per source; the budget is
    // the shared DefaultMixBudget constant, not a re-typed literal
    "corpus_mix" ->
      s"""WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |tot AS (SELECT source, SUM(n_tokens) AS tot FROM t GROUP BY source)
        |SELECT t.doc_id, t.source, t.n_tokens
        |FROM t JOIN tot USING (source)
        |WHERE (doc_id % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647
        |      < (CAST($DefaultMixBudget AS BIGINT) * 2147483647) // tot
        |ORDER BY doc_id""".stripMargin,
    // the same isqrt-on-a-10^4-grid as the Scala side: double-sqrt
    // seed (IEEE correctly-rounded in both engines) corrected one CASE
    // step down then up — all-integer compares, so both engines land
    // the identical BIGINT; the only floating op is the final division
    "mix_temperature" ->
      """WITH t AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |g AS (SELECT *, n_tokens * 10000 AS r,
        |             CAST(FLOOR(SQRT(CAST(n_tokens * 10000 AS DOUBLE))) AS BIGINT) AS s0
        |      FROM t),
        |c AS (SELECT *, CASE WHEN s0 > 0 AND s0 > r // s0 THEN s0 - 1 ELSE s0 END AS s1 FROM g),
        |w AS (SELECT source, n_docs, n_tokens,
        |             CASE WHEN (s1 + 1) <= r // (s1 + 1) THEN s1 + 1 ELSE s1 END AS w_fix
        |      FROM c),
        |d AS (SELECT CAST(SUM(w_fix) AS BIGINT) AS d_fix FROM w)
        |SELECT source, n_docs, n_tokens, w_fix,
        |       CAST(w_fix AS DOUBLE) / CAST(d_fix AS DOUBLE) AS weight,
        |       (w_fix * 1000000) // d_fix AS weight_ppm
        |FROM w, d ORDER BY source""".stripMargin,
    "corpus_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |         (doc_id % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647
        |           AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key,
        |       ROW_NUMBER() OVER (ORDER BY shuffle_key, doc_id) AS pos
        |FROM k ORDER BY pos""".stripMargin,
    "corpus_shard" ->
      s"""WITH d AS (
        |  SELECT (doc_id % 2147483647) * 48271 % 2147483647 * 48271 % 2147483647
        |           % $ShardCount AS shard,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents),
        |s AS (SELECT shard, COUNT(*) AS n_docs,
        |             CAST(SUM(nt) AS BIGINT) AS n_tokens
        |      FROM d GROUP BY shard),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot FROM s)
        |SELECT shard, n_docs, n_tokens,
        |       CAST(n_tokens * $ShardCount AS DOUBLE) / tot AS load_ratio
        |FROM s, t ORDER BY shard""".stripMargin,
    "k_anon_check" ->
      s"""SELECT source, lang, COUNT(*) AS n FROM documents
        |GROUP BY source, lang HAVING COUNT(*) < $KAnonThreshold
        |ORDER BY source, lang""".stripMargin,
    "source_drift" ->
      """WITH t AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
        |st AS (SELECT source, term, COUNT(*) AS c_st FROM t GROUP BY 1, 2),
        |ct AS (SELECT term, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
        |ts AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s FROM st GROUP BY 1),
        |tot AS (SELECT CAST(SUM(t_s) AS BIGINT) AS t_all FROM ts),
        |pres AS (
        |  SELECT st.source, t_s, t_all,
        |         COUNT(*) AS n_terms,
        |         SUM(ABS(CAST(c_st AS HUGEINT) * t_all
        |                 - CAST(c_t AS HUGEINT) * t_s)) AS num_present,
        |         CAST(SUM(c_t) AS BIGINT) AS ct_present
        |  FROM st JOIN ct USING (term) JOIN ts USING (source) CROSS JOIN tot
        |  GROUP BY st.source, t_s, t_all)
        |SELECT source, n_terms, t_s,
        |       CAST(num_present
        |            + CAST(t_all - ct_present AS HUGEINT) * t_s AS DOUBLE)
        |       / (2.0 * CAST(t_s AS DOUBLE) * CAST(t_all AS DOUBLE)) AS tv_drift
        |FROM pres ORDER BY source""".stripMargin,
    // the same arithmetic with the model frozen to the 7/8 history
    // slice and OOV batch terms carrying c_t = 0 through a left join
    "drift_incremental" ->
      """WITH sl AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id % 8 = 7),
        |mt AS (
        |  SELECT unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id % 8 <> 7),
        |model AS (SELECT term, COUNT(*) AS c_t FROM mt GROUP BY 1),
        |st AS (SELECT source, term, COUNT(*) AS c_st FROM sl GROUP BY 1, 2),
        |ts AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS t_s FROM st GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS t_all FROM model),
        |j AS (
        |  SELECT st.source, st.term, st.c_st, COALESCE(model.c_t, 0) AS c_t
        |  FROM st LEFT JOIN model USING (term)),
        |pres AS (
        |  SELECT j.source, t_s, t_all,
        |         COUNT(*) AS n_terms,
        |         SUM(ABS(CAST(c_st AS HUGEINT) * t_all
        |                 - CAST(c_t AS HUGEINT) * t_s)) AS num_present,
        |         CAST(SUM(c_t) AS BIGINT) AS ct_present
        |  FROM j JOIN ts USING (source) CROSS JOIN tot
        |  GROUP BY j.source, t_s, t_all)
        |SELECT source, n_terms, t_s,
        |       CAST(num_present
        |            + CAST(t_all - ct_present AS HUGEINT) * t_s AS DOUBLE)
        |       / (2.0 * CAST(t_s AS DOUBLE) * CAST(t_all AS DOUBLE)) AS tv_drift
        |FROM pres ORDER BY source""".stripMargin,
    "bpe_pair_counts" ->
      """WITH toks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |p AS (
        |  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
        |                i -> t[i] || ' ' || t[i+1])) AS pair
        |  FROM toks)
        |SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    // the merge loop unrolled as chained CTEs (the pagerank recipe):
    // see bpeChainSql; the final select reads only the p-r argmax rows
    "bpe_train" -> bpeTrainSql(BpeMerges),
    // the incremental trainer must land on the IDENTICAL merge table the
    // unrolled chain computes — at 16 rounds (BpeIncMerges), deep enough
    // that the argmax reads counts shaped by 15 accumulated deltas, so a
    // delta-maintenance bug hash-mismatches here
    "bpe_train_inc" -> bpeTrainSql(BpeIncMerges),
    // train-on-even / tokenize-odd split; dual CTE chain
    "bpe_apply" -> bpeApplySql,
    // same chain, final select reads the rewritten corpus state instead
    // of the merge table
    "bpe_encode" ->
      s"""WITH ${bpeChainSql(BpeMerges)}
         |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         |       CAST(len(list_filter(t, x -> contains(x, '@@'))) AS BIGINT)
         |         AS n_fused,
         |       array_to_string(t, ' ') AS text_bpe
         |FROM t$BpeMerges ORDER BY doc_id""".stripMargin)

  /** Dual-chain oracle for [[bpeApply]]: the train chain (p_r, t_r)
    * runs over the even-doc_id corpus exactly like [[bpeChainSql]];
    * each round ALSO rewrites the held-out odd-doc_id state a_r with
    * the same p_r — `LEFT JOIN ON TRUE` keeps a dry round an identity
    * rewrite on both chains, mirroring the Scala foldLeft over however
    * many merges were actually learned. */
  private def bpeApplySql: String = {
    def rewrite(src: String, p: String): String =
      s"""  SELECT doc_id, list_filter(list_transform(t, (x, i) -> CASE
         |    WHEN x = p.a AND t[i+1] = p.b THEN p.a || '@@' || p.b
         |    WHEN t[i-1] = p.a AND x = p.b THEN NULL
         |    ELSE x END), x -> x IS NOT NULL) AS t
         |  FROM $src LEFT JOIN $p p ON TRUE""".stripMargin
    val rounds = (1 to BpeMerges).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT pr.pa AS a, pr.pb AS b, count(*) AS n FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |                  i -> struct_pack(pa := t[i], pb := t[i+1]))) AS pr
         |    FROM t${r - 1} WHERE len(t) >= 2) q
         |  WHERE pr.pa <> pr.pb
         |  GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
         |t$r AS MATERIALIZED (
         |${rewrite(s"t${r - 1}", s"p$r")}),
         |a$r AS MATERIALIZED (
         |${rewrite(s"a${r - 1}", s"p$r")})""".stripMargin
    }.mkString(",\n")
    s"""WITH t0 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t
       |            FROM documents WHERE doc_id % 2 = 0),
       |a0 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t
       |       FROM documents WHERE doc_id % 2 = 1),
       |$rounds
       |SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       |       CAST(len(list_filter(t, x -> contains(x, '@@'))) AS BIGINT)
       |         AS n_fused,
       |       array_to_string(t, ' ') AS text_bpe
       |FROM a$BpeMerges ORDER BY doc_id""".stripMargin
  }

  private def bpeTrainSql(merges: Int): String = {
    val out = (1 to merges)
      .map(r => s"SELECT $r AS rank, a, b, n FROM p$r")
      .mkString("\nUNION ALL ")
    s"""WITH ${bpeChainSql(merges)}
       |SELECT CAST(rank AS BIGINT) AS rank, a, b, n FROM (
       |$out) ORDER BY rank""".stripMargin
  }

  /** The BPE merge loop unrolled as chained CTEs, shared by the
    * `bpe_train` / `bpe_encode` oracles: round r picks its argmax pair
    * p_r from corpus state t_(r-1), and t_r applies the SAME local
    * fuse/consume rule the Scala loop runs — DuckDB's lambda index is
    * 1-based where Spark's transform i is 0-based, so prev/next read
    * t[i-1] / t[i+1] here vs element_at i / i+2 there. COUNT(*) keeps
    * everything BIGINT (no HUGEINT). `LEFT JOIN ON TRUE` (not CROSS
    * JOIN) so an empty p_r — the corpus running dry of non-self pairs —
    * leaves t_r as the identity rewrite (NULL comparisons fall through
    * to ELSE x), exactly the Scala loop's early stop; a cross join
    * would erase the corpus instead. Parameterized by round count:
    * `bpe_train`/`bpe_encode` unroll [[BpeMerges]] rounds,
    * `bpe_train_inc` [[BpeIncMerges]].
    *
    * Every t_r is `AS MATERIALIZED`: each round's state is referenced
    * TWICE (by p_(r+1) and t_(r+1)), and DuckDB inlines plain CTEs, so
    * an unmaterialized chain re-derives t_(r-1) per reference — 2^r
    * scans of documents.parquet by round r, which at 16 rounds
    * exhausted the file-handle limit before it exhausted patience.
    * Materialization makes the oracle the same linear chain of rewrites
    * the Scala loop runs. */
  private def bpeChainSql(merges: Int): String = {
    val rounds = (1 to merges).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT pr.pa AS a, pr.pb AS b, count(*) AS n FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |                  i -> struct_pack(pa := t[i], pb := t[i+1]))) AS pr
         |    FROM t${r - 1} WHERE len(t) >= 2) q
         |  WHERE pr.pa <> pr.pb
         |  GROUP BY 1, 2 ORDER BY n DESC, a, b LIMIT 1),
         |t$r AS MATERIALIZED (
         |  SELECT doc_id, list_filter(list_transform(t, (x, i) -> CASE
         |    WHEN x = p.a AND t[i+1] = p.b THEN p.a || '@@' || p.b
         |    WHEN t[i-1] = p.a AND x = p.b THEN NULL
         |    ELSE x END), x -> x IS NOT NULL) AS t
         |  FROM t${r - 1} LEFT JOIN p$r p ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""t0 AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |$rounds""".stripMargin
  }
}
