package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import Det._

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token statistics, heuristic language ID, quality
  * scoring, and content fingerprinting.
  *
  * All of it is declarative `functions._` (codegen'd, no UDFs): the hot
  * path stays inside whole-stage codegen and every operator is a
  * map-side transform or a single keyed aggregation — linear scans at
  * 100 TB with no driver involvement.
  */
object TextAnalysis {

  private def toks: Column = split(col("text"), " ")

  /** Tiny per-language stopword lexicon for the language-ID heuristic.
    * (The testdata vocabulary is synthetic, so the lists mix genuine
    * stopwords with corpus terms to give the mechanism signal.) */
  val lexicon: Seq[(String, String)] = Seq(
    "the" -> "en", "a" -> "en", "fast" -> "en",
    "der" -> "de", "und" -> "de", "data" -> "de",
    "le" -> "fr", "et" -> "fr", "query" -> "fr",
    "el" -> "es", "y" -> "es", "table" -> "es",
    "de" -> "zh", "shi" -> "zh", "vector" -> "zh")

  private val stopwords = Seq("the", "a", "of", "and", "is")

  /** q_text_stats — top-3 terms per language: tokenize → explode → count
    * → ranking window. One shuffle on (lang, term), partial counts
    * map-side; the rank partitions by lang only (tiny key space). */
  def textStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("term").asc)
    Tables.documents(s, d)
      .select(col("lang"), explode(toks).as("term"))
      .groupBy(col("lang"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("lang"), col("term"), col("cnt"))
      .orderBy(col("lang"), col("cnt").desc, col("term"))
  }

  /** q_token_count — whitespace tokens + a BPE-ish regex token count
    * (alpha runs / digit runs / single punctuation), per document.
    * Pure per-row map — embarrassingly parallel. */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(toks).as("ws_tokens"),
      regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).as("bpe_tokens"),
      col("n_chars"))
      .orderBy("doc_id")

  /** q_lang_id — n-gram/stopword-list language heuristic: explode tokens,
    * broadcast-join the lexicon, argmax hits per doc (ties → alphabetical,
    * no hits → 'und'). The lexicon is a broadcast dim; the only shuffle is
    * the per-doc count. */
  def langId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val lex = lexicon.toDF("term", "lg")
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("lg").asc)
    val best = docs
      .select(col("doc_id"), explode(toks).as("term"))
      .join(broadcast(lex), "term")
      .groupBy(col("doc_id"), col("lg"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lg"), col("hits"))
    docs.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"), col("lang"),
        coalesce(col("lg"), lit("und")).as("lang_pred"),
        coalesce(col("hits"), lit(0L)).as("hits"))
      .orderBy("doc_id")
  }

  /** q_quality_score — length/punctuation/stopword-ratio quality signals
    * with a plain-arithmetic composite (no transcendentals: libm results
    * differ across engines; +,-,*,/ are IEEE-identical). */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*)))
    val avgLen = (col("n_chars") - (nTok - lit(1))).cast("double") / nTok
    val stopRatio = nStop.cast("double") / nTok
    Tables.documents(s, d).select(
      col("doc_id"),
      nTok.as("n_tokens"),
      avgLen.as("avg_token_len"),
      stopRatio.as("stopword_ratio"),
      (avgLen * lit(0.1) + stopRatio * lit(0.5)).as("quality"))
      .orderBy("doc_id")
  }

  /** q_quality_logit — a fastText-style linear quality classifier (the
    * CCNet/fastText filtering stage): z = −2 + 0.6·ln(n_tokens) +
    * 3·stop_ratio − 1·dup_ratio, keep = z ≥ 0. The GATE is exact: z is
    * carried as the integer z_fp = z·n·10⁷ (the only transcendental,
    * ln(n), enters as a 1e-6 fixed-point integer, and the rational
    * ratios clear their denominator by multiplying through by n), so
    * keep/drop cannot flip cross-engine; on this corpus the narrowest
    * margin is ~1500 lnfp units vs the 1-unit libm risk. Only the
    * displayed probability runs through exp(), rounded to 1e-6 (the
    * tfidf precedent). Pure map-side — one linear scan at any scale. */
  /** (n_tokens, z_fp) — the classifier's feature/score columns over any
    * relation with a `text` column; shared by the batch query and the
    * streaming ingestion gate ([[graft.streaming.MoreStreaming
    * .sQualityGate]]). */
  private[graft] def logitZ: (Column, Column) = {
    val n = size(toks)
    val sCnt = size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*)))
    val dCnt = (n - size(array_distinct(toks))).cast("long")
    val lnfp = floor(log(n.cast("double")) * 1000000 + 0.5).cast("long")
    (n, lit(-20000000L) * n + lit(6L) * n * lnfp +
      lit(30000000L) * sCnt + lit(-10000000L) * dCnt)
  }

  def qualityLogit(s: SparkSession, d: String): DataFrame = {
    val (n, zFp) = logitZ
    Tables.documents(s, d).select(
      col("doc_id"), n.as("n_tokens"), zFp.as("z_fp"),
      round(lit(1.0) / (lit(1.0) +
        exp(-zFp.cast("double") / (n.cast("double") * 1e7))), 6).as("p_keep"),
      (zFp >= 0).as("keep"))
      .orderBy("doc_id")
  }

  /** q_domain_stats — per-source pipeline health: the rollup a corpus
    * operator monitors per crawl source/domain (the RefinedWeb
    * per-domain discipline): doc and distinct-lang counts, total
    * tokens, quality-gate pass count and rate ([[logitZ]] — the ONE
    * z_fp definition the batch classifier, the streaming gate, and the
    * corpus build share), and the exact-duplicate load (docs whose
    * md5(text) repeats WITHIN the source — cross-source dups are the
    * dedup ladder's business; this row localizes blame). Rates are one
    * IEEE division of exact longs, rounded at the output edge.
    * Shape: one corpus scan into a (source, md5)-keyed window for the
    * dup flags, then a source-keyed rollup — two narrow shuffles, no
    * joins, no driver round trips; source cardinality is tiny so the
    * final agg is map-side-combined to almost nothing. */
  def domainStats(s: SparkSession, d: String): DataFrame = {
    val (n, zFp) = logitZ
    val base = Tables.documents(s, d).select(
      col("source"), col("lang"), n.as("n_toks"),
      when(zFp >= 0, 1L).otherwise(0L).as("gated"),
      md5(col("text").cast("binary")).as("h"))
    val wDup = Window.partitionBy(col("source"), col("h"))
    base.withColumn("grp", count(lit(1)).over(wDup))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_toks").cast("long")).as("n_tokens"),
        sum(col("gated")).as("n_gated"),
        sum(when(col("grp") >= 2, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("n_tokens"),
        col("n_gated"),
        round(col("n_gated").cast("double") / col("n_docs"), 6).as("gate_rate"),
        col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6).as("dup_rate"))
      .orderBy("source")
  }

  /** q_tfidf — classic TF-IDF: term frequency per doc × ln(N/df), top-3
    * terms per doc. One shuffle builds (doc, term) counts; document
    * frequency is a second keyed agg broadcast back onto the terms; N is
    * a scalar literal resolved by a 1-row subplan. ln() is transcendental
    * (libm results may differ in the last ulp across engines), so the
    * score rounds to 1e-6 BEFORE ranking — both engines rank the same
    * rounded value, term as tie-break. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val terms = docs.select(col("doc_id"), explode(toks).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = terms.distinct().groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("score"), col("rn"))
      .orderBy("doc_id", "rn")
  }

  /** q_edit_distance — levenshtein as fuzzy-dedup's exact-verify step.
    * Edit distance is O(len²) per pair, so at ANY scale it only ever
    * runs on banded candidates, never all-pairs: here the band is
    * (lang, token count) — an equi-join key, so candidates co-locate in
    * one narrow shuffle exactly like the MinHash/SimHash bucket joins —
    * and the compared prefix is capped at 40 chars to bound the DP.
    * `a < b` keeps each unordered pair once, injectively.
    *
    * r17 (tools/AbEditDist, interleaved min-of-3 at sf0.1, guide
    * §1.4/§2.5): the surviving pair set (10.7k rows) is now
    * materialized BEFORE the declared sort — the range exchange's
    * sampling pass otherwise re-executed the whole banded join + DP a
    * second time (full 1.95 s vs 1.00 s without the sort; with the
    * checkpoint 1.13-1.19 s). The probe side also repartitions on the
    * unique doc id before the join: the DP evaluates in the scan's
    * task layout otherwise, and a corpus that arrives as one
    * unsplittable file (the guide's input-skew case; this fixture is
    * one row-group) runs the whole band join on one core — the
    * exchange moves ~60-byte rows (band key + 40-char prefix), never
    * texts, and sizes by spark.sql.shuffle.partitions. Measured
    * non-win recorded the same way: replacing size(split(text, " "))
    * with space-count arithmetic (length − length(translate)) + 1 —
    * the same value — is SLOWER, 2.30 vs 2.02 s: translate
    * materializes a full copy of the multi-KB text while split slices
    * the original bytes. */
  def editDistance(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n_tokens"),
        substring(col("text"), 1, 40).as("prefix"))
    val a = docs.select(col("doc_id").as("doc_a"), col("lang"),
      col("n_tokens"), col("prefix").as("pa"))
      .repartition(col("doc_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("lang"),
      col("n_tokens"), col("prefix").as("pb"))
    a.join(b, Seq("lang", "n_tokens"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).as("dist"))
      .filter(col("dist") <= 30)
      .transform(graft.Pins.checkpoint)
      .orderBy("doc_a", "doc_b")
  }

  /** q_doc_fingerprint — polynomial rolling hash over the characters
    * (h = h*31 + codepoint, mod 1e9+7): a deterministic content
    * fingerprint computable as a sequential fold in both engines.
    * Collision-resistant enough for bucketing; exact dedup uses md5
    * (Dedup.scala). Round 9: the fold is the native
    * [[graft.functions.Fingerprint64]] expression — the declarative
    * `aggregate(split(text, ""))` model twin (kept below for the spec)
    * materialized one single-char string per character and evaluated
    * an interpreted lambda per element; the ×10 stress flagged it at
    * per-row ratio 0.91, the interpreted-per-row signature the
    * MinhashSig60/PqEncode rounds established. The native loop streams
    * the text's bytes inside whole-stage codegen. */
  def docFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      graft.functions.fingerprint64(col("text")).as("fingerprint"))
      .orderBy("doc_id")

  /** The declarative model twin of [[docFingerprint]]'s fold — what the
    * DuckDB oracle replays; the spec pins the native expression
    * row-identical to it. */
  private[graft] def docFingerprintModel(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      aggregate(split(col("text"), ""), lit(0L),
        (acc, c) => (acc * 31 + ascii(c)) % 1000000007L).as("fingerprint"))
      .orderBy("doc_id")

  /** The deterministic normalization rule chain (ONE definition shared
    * by [[textNormalize]] and [[dedupNormalized]] so the declared row
    * and the dedup tier cannot drift): Unicode NFC canonical
    * composition ([[graft.functions.nfc_normalize]] — NFD é and NFC é
    * are byte-different, same text), lowercase fold, whitespace-run
    * collapse to one space (explicit [ \t\n\r] class — Java and RE2
    * disagree on \s's vertical-tab membership), edge trim. Order
    * matters and is part of the contract: compose first (case tables
    * are defined on composed forms), then fold case, then fix
    * whitespace. */
  private[graft] def normChain(c: Column): Column =
    trim(regexp_replace(lower(graft.functions.nfc_normalize(c)),
      "[ \t\n\r]+", " "))

  /** q_text_normalize — the normalization tier every real pipeline runs
    * UPSTREAM of content hashing (the dedup ladder here hashes raw
    * text; two encodings of the same string defeat every md5-keyed
    * tier). Pure map-side expression work — one corpus scan, zero
    * shuffle at any scale. `changed` makes the rewrite rate observable
    * (the monitoring column an ingest dashboard plots). */
  def textNormalize(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), normChain(col("text")).as("norm_text"),
        (normChain(col("text")) =!= col("text")).as("changed"))
      .orderBy("doc_id")

  /** q_dedup_norm — exact dedup over NORMALIZED text: the q_dedup_exact
    * keyed aggregation with [[normChain]] in front of the hash, so
    * composition/case/whitespace variants of one text land in one
    * group. `n_raw_variants` counts the distinct RAW md5s each group
    * merges — >1 is exactly the population raw exact dedup misses
    * (fixture-pinned: an NFC/NFD pair merges here, not there). Same
    * scale shape as q_dedup_exact: one keyed agg on the 128-bit hash. */
  def dedupNormalized(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text"), normChain(col("text")).as("nt"))
      .groupBy(md5(col("nt").cast("binary")).as("norm_hash"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc_id"),
        countDistinct(md5(col("text").cast("binary"))).as("n_raw_variants"))
      .orderBy("norm_hash")

  /** Head size for [[zipfFit]]'s regression — the standard practice of
    * fitting the DISTRIBUTION HEAD (the tail of a natural-language
    * rank/frequency curve flattens into hapax noise that swamps the
    * slope; the head is where Zipf's law is diagnostic). */
  private val ZipfFitK = 1000

  /** q_zipf_fit — the Zipf-law diagnostic over the corpus vocabulary:
    * the least-squares slope of ln(freq) on ln(rank) across the
    * top-[[ZipfFitK]] words (natural text sits near −1; a corpus whose
    * slope drifts toward 0 is template/boilerplate-heavy, toward −2 is
    * degenerate repetition — the corpus-health alarm beside
    * q_repetition_stats, at CORPUS grain instead of per-doc).
    *
    * Numerics (cross-engine exact): ranks come from one deterministic
    * top-K (freq DESC, word ASC — the VocabK idiom: the vocabulary agg
    * shuffles once, the K-row head is driver-bounded at any corpus
    * size, and no global sort of the full vocabulary happens); x =
    * ln(rank) and y = ln(freq) snap to the 1e-6 long grid (libm-to-libm
    * at these magnitudes, the docPerplexity argument); all five
    * regression sums fold as DECIMAL(38,0) over exact longs (a double
    * Σxy would be partition-order-dependent); slope/intercept/r² are
    * computed by ONE identical IEEE expression over the exact sums in
    * both engines and rounded at the edge. */
  def zipfFit(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val head = counts
      .orderBy(col("c").desc, col("w").asc).limit(ZipfFitK)
      .select(col("c"),
        row_number().over(Window.orderBy(col("c").desc, col("w").asc))
          .cast("long").as("rank"))
    head
      .select(col("c"),
        expr("CAST(floor(ln(CAST(rank AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)").as("x"),
        expr("CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("n_fit"),
        expr("sum(CAST(x AS DECIMAL(38,0)))").as("sx"),
        expr("sum(CAST(y AS DECIMAL(38,0)))").as("sy"),
        expr("sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))").as("sxy"),
        expr("sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))").as("sxx"),
        expr("sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))").as("syy"))
      .select(col("n_fit"),
        expr("""round(CAST(n_fit * sxy - sx * sy AS DOUBLE) /
                      CAST(n_fit * sxx - sx * sx AS DOUBLE), 6)""").as("slope"),
        expr("""round((CAST(sy AS DOUBLE) - CAST(n_fit * sxy - sx * sy AS DOUBLE) /
                      CAST(n_fit * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      / CAST(n_fit AS DOUBLE) / 1000000.0, 6)""").as("intercept"),
        expr("""round(CAST(n_fit * sxy - sx * sy AS DOUBLE) /
                      CAST(n_fit * sxx - sx * sx AS DOUBLE) *
                      (CAST(n_fit * sxy - sx * sy AS DOUBLE) /
                      CAST(n_fit * syy - sy * sy AS DOUBLE)), 6)""").as("r2"))
  }
}
