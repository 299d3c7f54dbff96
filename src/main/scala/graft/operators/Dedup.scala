package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators over the `documents` / `embeddings` tables —
  * the LLM-training-data staples: exact hash dedup, n-gram Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale posture: exact + minhash are the 100 TB paths (one keyed
  * aggregation / a banded self-join on short signatures); the n-gram
  * Jaccard join is prefix-filtered (AllPairs/PPJoin-style) so candidate
  * generation is driven by each document's RAREST shingles rather than
  * the hot ones, and the embedding all-pairs baseline runs as a
  * broadcast block nested-loop over primitive arrays.
  */
object Dedup {

  private def toks: Column = split(col("text"), " ")

  /** Word 3-shingles over an ALREADY-MATERIALIZED token-array column
    * (empty below 3 tokens; Spark's `sequence(1,0)` would count DOWN, so
    * the size guard is required).
    *
    * The token array MUST be projected before this lambda: higher-order
    * functions evaluate interpreted with no common-subexpression
    * elimination, so writing `split(text)` inline here re-splits the
    * document for every `element_at` call — ~3·n splits per doc, which
    * measured as ~4 s of the 5 s query at sf0.1. Materializing `tk`
    * first makes each access an O(1) array read. */
  private def shinglesOf(tk: Column): Column =
    when(size(tk) >= 3,
      transform(sequence(lit(1), size(tk) - 2), i =>
        concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
          element_at(tk, i + 2))))
      .otherwise(array())

  /** q_dedup_exact — exact duplicate groups by content hash: ONE keyed
    * aggregation on md5(text); at 100 TB this is the cheapest dedup and
    * the hash key shards perfectly. */
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc_id"))
      .orderBy("text_hash")

  /** (doc_id, shingle) pairs with duplicates — shingles carried as
    * xxhash64 longs, not strings: downstream shuffles move 8-byte keys
    * instead of ~20-byte text (collision odds at 64 bits are ~1e-8 even
    * at 1e5× this scale, and any collision only perturbs one count). */
  private def shingleRows(s: SparkSession, d: String): DataFrame =
    shingleRowsOver(Tables.documents(s, d))

  /** [[shingleRows]] over an arbitrary (doc_id, text) relation — the
    * composable core ([[graft.operators.Corpus.corpusBuild]] runs the
    * near-dup tier on its post-gate, post-exact-dedup survivors;
    * [[graft.operators.Corpus.corpusIncrement]] probes its delta's
    * shingles against the base corpus's). */
  private[operators] def shingleRowsOver(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(shinglesOf(col("tk"))).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("shingle"))

  /** q_dedup_ngram — n-gram Jaccard near-dup pairs (≥ 0.5): distinct
    * shingles per doc, self-join on shingle, |∩| / |∪|. Exact but
    * quadratic in co-bucketed docs — the baseline the MinHash variant
    * approximates. The shingle set feeds the per-doc counts and both
    * join sides — AQE's exchange reuse materializes its shuffle once
    * and serves all three consumers; the 1-row-per-doc count table is
    * explicitly broadcast.
    *
    * Scale note: on power-law corpora the standard upgrade is AllPairs/
    * PPJoin prefix filtering (order each set by global shingle
    * frequency, join only the rarest ⌊n/2⌋+1 per doc, verify candidates
    * exactly) — measured here it cuts candidate pairs 3× (1.27M→409k at
    * sf0.1) but this corpus has near-uniform shingle frequencies, so
    * the extra window + verify passes cost more than the saved join
    * rows; at 100 TB with real hot shingles the prefix plan wins and
    * drops in without changing the output contract. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardOver(Tables.documents(s, d)).orderBy("doc_a", "doc_b")

  /** [[ngramJaccard]] over an arbitrary (doc_id, text) relation — the
    * composable core behind the standalone query and
    * [[neardupPurgeOver]]'s use inside the corpus-build chain. */
  private[operators] def ngramJaccardOver(docs: DataFrame): DataFrame = {
    // NOT checkpointed, deliberately: a localCheckpoint of the distinct
    // shingle set measured 20% SLOWER here (2.07 vs 1.72 s min-of-3
    // same-window A/B at sf0.1) — the eager materialization + extra
    // job boundaries cost more than the re-derivations it saves, the
    // opposite of the 30-scan substring case (substringDrops).
    val sh = shingleRowsOver(docs).distinct()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val jaccard = col("n_common").cast("double") /
      (col("na") + col("nb") - col("n_common"))
    inter
      .join(broadcast(cnt.select(col("doc_id").as("doc_a"), col("n").as("na"))), "doc_a")
      .join(broadcast(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb"))), "doc_b")
      .filter(jaccard >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(jaccard, 6).as("jaccard"))
    // no orderBy here: the declared query sorts at the edge; the CC /
    // purge / corpus-build consumers feed a union + localCheckpoint,
    // where a sort would EXECUTE (range exchange + sort of the pair
    // relation) and then be discarded
  }

  /** MinHash signature: k independent permutations approximated by
    * xxhash64(shingle, seed k) — all k mins computed in ONE pass over the
    * exploded shingles (one aggregation, no per-seed re-scan). Takes the
    * raw (non-distinct) shingle stream: min() is duplicate-insensitive,
    * so the dedup shuffle the Jaccard path needs is pure waste here. */
  private[operators] def minhashSig(sh: DataFrame, k: Int): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(
        min(xxhash64(col("shingle"), lit(0))).as("m0"),
        (1 until k).map(j =>
          min(xxhash64(col("shingle"), lit(j))).as(s"m$j")): _*)

  /** q_dedup_minhash — MinHash + LSH banding (k=16 hashes, 4 bands × 4
    * rows): docs sharing a band bucket are candidate near-dups. The
    * 100 TB dedup path: signature is 16 longs per doc; the self-join is
    * on (band, band_hash) buckets only — never all-pairs. No SQL oracle
    * (xxhash64 is Spark-specific); deterministic for the rows-only check
    * and pinned by the Jaccard baseline in tests. */
  def minhashLsh(s: SparkSession, d: String): DataFrame = {
    val k = 16
    val sig = minhashSig(shingleRows(s, d), k)
    val bands = sig.select(
      col("doc_id"),
      posexplode(array((0 until 4).map(b =>
        xxhash64((b * 4 until (b + 1) * 4).map(j => col(s"m$j")): _*)): _*))
        .as(Seq("band", "band_hash")))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("doc_a", "doc_b")
  }

  /** q_dedup_minhash_md5 — the same MinHash+LSH pipeline over a
    * PORTABLE hash: md5 is identical in every engine, so — unlike the
    * xxhash64 fast path — the full signature → band → candidate
    * pipeline is reproducible outside Spark and carries a complete
    * DuckDB oracle (the hex parse there is a list_reduce fold). The k
    * hash family is Kirsch–Mitzenmacher double hashing — h_j = h1 +
    * j·(h2 >> 4) from TWO 60-bit md5 parses per shingle, not k md5
    * calls (measured 2.5× on this query); the shift keeps j·h2 under
    * 2^60 so the arithmetic never overflows in engines that trap on
    * int64 overflow (DuckDB) and never wraps in engines that don't
    * (JVM) — identical values everywhere. Band buckets compare as the
    * joined "m0:m1:m2:m3" string, so no second-level hash is needed. */
  /** The raw (doc_id, shingle-text) stream — md5-family input (the
    * xxhash64 path hashes at the shingle edge instead; this one keeps
    * the text because the portable hash salts it with #a/#b). */
  private[graft] def md5Shingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), explode(shinglesOf(col("tk"))).as("sh"))

  /** Portable k-component MinHash signature (m0..m{k-1}) over a
    * (doc_id, sh) stream: Kirsch–Mitzenmacher double hashing h_j = h1 +
    * j·(h2 >> 4) from TWO 60-bit md5 parses per shingle (not k md5
    * calls — measured 2.5×); the shift keeps j·h2 under 2^60 so the
    * arithmetic never overflows in engines that trap on int64 overflow
    * (DuckDB) and never wraps in engines that don't (JVM). The native
    * md5hash60 expression is value-identical to
    * conv(substring(md5(s),1,15),16,10) minus the hex round trip.
    * Round 8: retained as the DECLARATIVE MODEL TWIN of the one-pass
    * native [[md5SigOf]] that now feeds every *_md5 consumer — a spec
    * pins the two row-identical, which is what lets the native loop
    * carry the family's DuckDB oracles unchanged. */
  private[graft] def md5MinhashSig(sh: DataFrame, k: Int): DataFrame = {
    def hex60(suffix: String): Column =
      graft.functions.md5hash60(concat(col("sh"), lit(suffix)))
    val hashed = sh.select(col("doc_id"), hex60("#a").as("h1"), hex60("#b").as("h2"))
    def phash(j: Int): Column = col("h1") + lit(j.toLong) * shiftright(col("h2"), 4)
    hashed.groupBy(col("doc_id"))
      .agg(min(phash(0)).as("m0"),
        (1 until k).map(j => min(phash(j)).as(s"m$j")): _*)
  }

  /** (doc_id, m0..m{k-1}) signatures via the native ONE-PASS
    * [[graft.functions.MinhashSig60]] expression — value-identical to
    * [[md5MinhashSig]] over [[md5Shingles]] (the model twin a spec
    * pins), but with no shingle explode and no groupBy: at 100 TB the
    * exploded form SHUFFLES every (doc, shingle) row to re-group what
    * the document row already held — the sketch build's dominant data
    * movement — while this is a stateless map over documents (and the
    * codegen'd loop profiled ~2.4× faster than the interpreted
    * higher-order-function form the streaming probe used). Docs with
    * < 3 tokens drop, matching the exploded form's empty groupBy. */
  private[graft] def md5SigOf(s: SparkSession, d: String, k: Int): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"),
        graft.functions.minhash_sig60(col("tk"), k).as("sig"))
      .filter(size(col("sig")) > 0)
      .select(col("doc_id") +:
        (0 until k).map(j => col("sig").getItem(j).as(s"m$j")): _*)

  /** The full corpus band relation (doc_id, band, band_key) — the ONE
    * build behind both the session-pinned [[md5BandIndex]] and the
    * durable bucketed [[IndexStore.durableBandIndex]], so the two
    * stores cannot drift. */
  private[graft] def md5BandRows(s: SparkSession, d: String, k: Int): DataFrame =
    md5SigBands(md5SigOf(s, d, k), k)

  /** LSH bands over a k-component signature: k/4 bands × 4 rows, band
    * key = the joined "m_i:…" string (portable — no second-level hash). */
  private def md5SigBands(sig: DataFrame, k: Int): DataFrame =
    sig.select(
      col("doc_id"),
      posexplode(md5BandKeys(j => col(s"m$j"), k)).as(Seq("band", "band_key")))

  /** The k/4 band keys of a signature whose j-th minhash is `m(j)`:
    * band b joins minhashes 4b..4b+3 with ':'. ONE construction for the
    * batch sketch and the streaming probes. */
  private def md5BandKeys(m: Int => Column, k: Int): Column =
    array((0 until k / 4).map(b =>
      concat_ws(":", (b * 4 until (b + 1) * 4).map(m): _*)): _*)

  /** Band-index builds this JVM — the observable for the
    * one-build-per-corpus plan guard (the md5 sketch analog of
    * Similarity.trainRuns). */
  private[graft] val bandBuilds = new java.util.concurrent.atomic.AtomicLong(0)

  /** Corpus band index (doc_id, band, band_key) over the portable md5
    * signature — the STATIC side the streaming near-dup admission gate
    * (s_neardup_gate) probes, built ONCE per (session, corpus) and
    * localCheckpoint'ed so each admission micro-batch (and each gate
    * query) joins an already-executed sketch instead of re-hashing the
    * corpus. An admission gate probes the SAME corpus sketch for its
    * whole lifetime, so rebuilding it per gate query would re-hash the
    * corpus each time. Same k and banding as [[minhashLshMd5]]. */
  private[graft] def md5BandIndex(s: SparkSession, d: String, k: Int): DataFrame =
    graft.Pins.pinned(s, d, s"band:$k") {
      bandBuilds.incrementAndGet()
      graft.Pins.checkpoint(md5BandRows(s, d, k))
    }

  /** Per-document band keys computed MAP-SIDE from a (doc_id, tk
    * token-array) relation — the per-event form of the batch sketch
    * for streams, where exploding shingles into a groupBy would cost a
    * shuffle per micro-batch. Round 8: the signature comes from the
    * native one-pass [[graft.functions.MinhashSig60]] (the earlier
    * `transform` + k × `array_min(transform)` form evaluated its
    * higher-order lambdas interpreted — measured as
    * 6.4 s of the 10 s gate at sf0.1, ~2.4× the codegen'd cost of the
    * same hashes), then the bands via [[md5BandKeys]] VERBATIM — one
    * band construction shared with the batch index, so the sketch and
    * the streaming gate cannot drift. Docs with no shingle (< 3
    * tokens) drop out, as they do from the batch sketch. One
    * (doc_id, band, band_key) row per band. */
  private[graft] def md5BandProbes(docs: DataFrame, k: Int): DataFrame =
    md5BandArrays(docs, k)
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "band_key")))

  /** [[md5BandProbes]] before the explode: one (doc_id, bands) row per
    * document, `bands(b)` = band b's key — the shape a map-side probe
    * looks up in one call. */
  private[graft] def md5BandArrays(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.minhash_sig60(col("tk"), k).as("sig"))
      .filter(size(col("sig")) > 0)
      .select(col("doc_id"), md5BandKeys(j => col("sig").getItem(j), k).as("bands"))

  def minhashLshMd5(s: SparkSession, d: String): DataFrame = {
    val k = 16
    val bands = md5SigBands(md5SigOf(s, d, k), k)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("doc_a", "doc_b")
  }

  /** q_minhash_accuracy — the sketch-quality eval for the MinHash
    * index (the dedup-side dual of [[Similarity.annRecall]]): for every
    * LSH candidate pair, the Jaccard ESTIMATE from signature-component
    * agreement (matching minima / k — the unbiased MinHash estimator)
    * next to the EXACT distinct-shingle Jaccard and the absolute error.
    * This is how a pipeline tunes k and the banding before trusting the
    * sketch at 100 TB — and the exact side is computed only on the
    * candidate set, never all pairs. est is k_eq/16 (an exact binary
    * double: no rounding needed); the exact ratio and error round at
    * 1e-6. Shares [[minhashLshMd5]]'s portable md5 hash family, so the
    * whole eval replays in the oracle. */
  def minhashAccuracy(s: SparkSession, d: String): DataFrame = {
    val k = 16
    val sh = md5Shingles(s, d)
    val sig = md5SigOf(s, d, k)
    val bands = md5SigBands(sig, k)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // cand is NOT checkpointed although two branches consume it: a
    // checkpointed relation loses its size estimate, so the four
    // downstream attach joins planned sort-merge instead of broadcast
    // (measured 3.45 vs 2.00 s min-of-3 at sf0.1)
    val sa = sig.toDF("doc_a" +: (0 until k).map(j => s"a$j"): _*)
    val sb = sig.toDF("doc_b" +: (0 until k).map(j => s"b$j"): _*)
    val kEq = (0 until k)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0)).reduce(_ + _)
    val ds = sh.distinct()
    val cnt = ds.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // exact-Jaccard intersection counts ONLY for the LSH candidate
    // pairs: the previous all-co-shingled-pairs self-join computed
    // n_common for every pair sharing any shingle and then discarded
    // all but the candidates via the left join — the eval's contract
    // (true Jaccard per CANDIDATE) never needed them. A band-collision
    // pair with zero common shingles still coalesces to 0 below.
    val inter = cand
      .join(ds.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(ds.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val common = coalesce(col("n_common"), lit(0L))
    val trueJ = common.cast("double") / (col("na") + col("nb") - common)
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), (kEq / lit(k.toDouble)).as("est_jaccard"))
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(cnt.toDF("doc_a", "na"), "doc_a")
      .join(cnt.toDF("doc_b", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
        round(trueJ, 6).as("true_jaccard"),
        round(abs(col("est_jaccard") - trueJ), 6).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** q_dedup_simhash — 64-bit SimHash near-dup pairs: per-doc signature
    * via the native [[graft.functions.SimHash64]] expression, then a
    * banded self-join on 16-bit chunks + Hamming ≤ 3 verification
    * (bit_count(xor)). Signature is 8 bytes/doc → the join ships almost
    * nothing at scale. No SQL oracle (hash is engine-specific). */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), graft.functions.simhash64(toks).as("sig"))
    val chunks = docs.select(
      col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("chunk", "chunk_val")))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** q_dedup_simhash_md5 — the SimHash pipeline over a PORTABLE 60-bit
    * hash (15 hex chars of md5): per-token hashes vote ±1 on each bit
    * (frequency-weighted — duplicates count), bit j sets on vote ≥ 0;
    * then the same 15-bit-chunk band join + Hamming ≤ 3 verification as
    * the native variant. Carries a full DuckDB oracle — the native
    * [[graft.functions.SimHash64]] variant stays the fast path (one
    * expression eval/doc vs a 60-way aggregation). */
  def simhashMd5(s: SparkSession, d: String): DataFrame = {
    val bitsN = 60
    val h = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"),
        graft.functions.md5hash60(col("t")).as("hv"))
    def vote(j: Int): Column =
      sum(when(shiftright(col("hv"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"w$j")
    val votes = h.groupBy(col("doc_id"))
      .agg(vote(0), (1 until bitsN).map(vote): _*)
    val sig = votes.select(col("doc_id"),
      (0 until bitsN).map(j =>
        when(col(s"w$j") >= 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _).as("sig"))
    val chunks = sig.select(
      col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("sig"), c * 15).bitwiseAND(lit(0x7FFFL))): _*))
        .as(Seq("chunk", "chunk_val")))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") &&
          col("a.chunk_val") === col("b.chunk_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** q_dedup_cluster — near-duplicate CLUSTERING: connected components
    * over the Jaccard-pair graph (doc → min doc_id in its component),
    * the step every dedup pipeline needs after pair generation — keep
    * one representative per cluster, not per pair. Iterative min-label
    * propagation: each round joins labels across edges and keeps the
    * min; converges in ≤ diameter rounds (near-dup clusters are
    * shallow). The driver loop only checks a convergence COUNT per
    * round — the data never leaves the cluster; localCheckpoint caps
    * lineage growth (a real deployment points checkpoint at durable
    * storage). Oracle: the same components via a recursive CTE. */
  def dedupCluster(s: SparkSession, d: String): DataFrame =
    connectedComponents(
      ngramJaccardOver(Tables.documents(s, d)).select(col("doc_a"), col("doc_b")))
      .orderBy("doc_id")

  /** q_neardup_purge — the dedup pipeline's FINAL step: a full-corpus
    * survivor ledger. Near-dup pairs (n-gram Jaccard ≥ 0.5) cluster via
    * [[connectedComponents]]; every document — including the ones in no
    * pair, which the pair graph never sees — gets its cluster
    * representative (min doc_id), the cluster size, and the purge
    * decision (everything but the representative drops). This is the
    * relation a training run actually consumes ("which docs do I keep"),
    * not the pair/cluster diagnostics upstream. Shape: the pair+CC work
    * is [[dedupCluster]]'s; the ledger adds one LEFT join from the
    * corpus (singletons coalesce to themselves) and one cluster-keyed
    * size agg — both on natural keys, nothing driver-side. */
  def neardupPurge(s: SparkSession, d: String): DataFrame =
    neardupPurgeOver(Tables.documents(s, d))

  /** [[neardupPurge]] over an arbitrary (doc_id, text) relation — the
    * composable core; the corpus-build chain runs it on its post-gate,
    * post-exact-dedup survivors, so a cluster whose lowest-id member
    * was gated out keeps the lowest SURVIVING doc as representative. */
  private[operators] def neardupPurgeOver(docs: DataFrame): DataFrame = {
    val comp = connectedComponents(
      ngramJaccardOver(docs).select(col("doc_a"), col("doc_b")))
    val all = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_rep"), col("doc_id")).as("rep"))
    val sizes = all.groupBy(col("rep")).agg(count(lit(1)).as("cluster_size"))
    all.join(sizes, Seq("rep"))
      .select(col("doc_id"), col("rep"), col("cluster_size"),
        (col("doc_id") =!= col("rep")).as("purged"))
      .orderBy("doc_id")
  }

  /** Connected components over an undirected pair list (doc_a, doc_b):
    * (doc_id, cluster_rep = min doc in its component) for every doc
    * appearing in a pair. Min-label propagation; see [[dedupCluster]]. */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    def labeled[T](l: String)(body: => T): T = {
      sc.setJobDescription(s"cc: $l"); try body finally sc.setJobDescription(null)
    }
    // symmetrize with ONE pass over the pair relation: a union of pairs
    // with its flip evaluates the (possibly expensive) pair-derivation
    // subtree twice per branch past the last reusable exchange; the
    // explode duplicates rows map-side instead
    val edges = labeled("edges") {
      pairs
        .select(explode(array(
          struct(col("doc_a"), col("doc_b")),
          struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
        .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
        .transform(graft.Pins.checkpoint)
    }
    var labels = labeled("init") {
      edges.select(col("doc_a").as("doc")).distinct()
        .withColumn("lbl", col("doc"))
        .transform(graft.Pins.checkpoint)
    }
    // the label relation is one row per doc in the pair graph — orders
    // smaller than the edge list. Each round's labels are a measured
    // pin, so the planner broadcasts them into the per-round join while
    // they fit the threshold (the checkpointed edges never shuffle
    // again) and keys the join above it.
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      // one join + one agg per round: the convergence check rides the
      // same aggregation (own-label vs min-over-neighborhood) instead
      // of a separate join against the previous labels
      val self = labels.select(col("doc"), col("lbl"), lit(true).as("own"))
      val viaNbr = edges
        .join(labels, edges("doc_b") === labels("doc"))
        .select(col("doc_a").as("doc"), col("lbl"), lit(false).as("own"))
      // the convergence count rides the SAME checkpoint job as an
      // observed metric (CollectMetrics) — a separate count() job per
      // round only re-read the checkpointed blocks but still paid the
      // per-job planning/scheduling floor, ~2 jobs per round
      val obs = new org.apache.spark.sql.Observation(
        s"cc_conv_${java.util.UUID.randomUUID()}")
      val agg = labeled(s"round $round agg") {
        self.union(viaNbr)
          .groupBy(col("doc"))
          .agg(min(col("lbl")).as("lbl"),
            min(when(col("own"), col("lbl"))).as("old"))
          .observe(obs, count(when(col("lbl") < col("old"), 1)).as("chg"))
          .transform(graft.Pins.checkpoint)
      }
      changed = obs.get("chg").asInstanceOf[Long]
      labels = agg.select(col("doc"), col("lbl"))
    }
    labels.select(col("doc").as("doc_id"), col("lbl").as("cluster_rep"))
  }

  /** Spark's round(x, 6) semantics exactly (HALF_UP via BigDecimal) —
    * bit-identical to the declarative formulation and the SQL oracle. */
  private[operators] def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Dot of two float vectors — the SAME sequential double fold as
    * [[graft.functions.FloatDot]], so results match the codegen'd path. */
  private[operators] def dotD(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0; var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  private[operators] def normD(a: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { val x = a(i).toDouble; acc += x * x; i += 1 }
    math.sqrt(acc)
  }

  /** Rows per tile side — bounds each cogroup task's in-memory block to
    * ~tileRows vectors regardless of corpus size (8192 × 64-dim float ≈
    * a few MB per task). */
  private[operators] val tileRows = 8192L

  /** q_dedup_embedding — embedding-cosine near-dup pairs (≥ 0.9,
    * vec_id_a < vec_id_b). Exact all-pairs baseline, executed as a
    * fully distributed corpus × corpus block nested-loop: every vector
    * is hashed into one of `nb` blocks, each unordered block pair
    * (i ≤ j) is a tile, and rows are replicated to their tiles' shuffle
    * keys (probe side to tiles (b, j ≥ b), build side to tiles
    * (i ≤ b, b)). A cogroup per tile materializes ONLY the build block
    * (≤ [[tileRows]] rows, norms precomputed once) and streams the
    * probe iterator against it in a primitive loop — nothing is ever
    * collected to the driver and task memory is O(tileRows), so the
    * shape survives a corpus that no single machine can hold. Tiles are
    * uniform (hash blocks, not id ranges), so there is no triangle
    * skew; replication factor is nb per row, i.e. shuffle volume is
    * n·nb vectors — negligible next to the inherent O(n²) compare cost
    * this exact baseline pays (the LSH/IVF variants in [[Similarity]]
    * are the sub-quadratic paths). The exact BigDecimal rounding runs
    * only on pairs already within 1e-6 of the threshold (raw ≥
    * 0.8999994 ⊇ round6 ≥ 0.9, since HALF_UP rounds 0.8999995 up) — the
    * hot loop is pure primitive arithmetic. */
  def embeddingCosine(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    // Block count: enough tiles to feed every core even on a tiny
    // corpus (nb(nb+1)/2 ≥ parallelism), and enough that no block
    // exceeds tileRows on a big one. Only these two longs reach the
    // driver.
    val n = Tables.embeddings(s, d).count()
    val par = s.sparkContext.defaultParallelism
    val nbL = math.max(math.ceil(math.sqrt(2.0 * par)).toLong,
      (n + tileRows - 1) / tileRows)
    val nb = math.max(1L, math.min(nbL, math.max(1L, n))).toInt
    val tagged = e.map { case (id, v) =>
      (Math.floorMod(java.lang.Long.hashCode(id), nb), id, v)
    }
    val probe = tagged.flatMap { case (b, id, v) =>
      Iterator.range(b, nb).map(j => ((b, j), id, v))
    }
    val build = tagged.flatMap { case (b, id, v) =>
      Iterator.range(0, b + 1).map(i => ((i, b), id, v))
    }
    probe.groupByKey(_._1).cogroup(build.groupByKey(_._1)) {
      case ((bi, bj), ps, bs) =>
        val block = bs.map { case (_, id, v) => (id, v, normD(v)) }.toArray
        val diag = bi == bj
        ps.flatMap { case (_, ida, va) =>
          val na = normD(va)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
          var j = 0
          while (j < block.length) {
            val (idb, vb, nrm) = block(j)
            // diagonal tile: both sides are the same block, compare each
            // pair once (idb > ida); off-diagonal: blocks are disjoint,
            // compare all and emit in id order.
            if (if (diag) idb > ida else idb != ida) {
              val raw = dotD(va, vb) / (na * nrm)
              if (raw >= 0.8999994) {
                val c = round6(raw)
                if (c >= 0.9) {
                  if (ida < idb) out += ((ida, idb, c))
                  else out += ((idb, ida, c))
                }
              }
            }
            j += 1
          }
          out
        }
    }.toDF("vec_a", "vec_b", "cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  /** Cosine threshold for [[semDedup]] — compared on the 1e-6 rounded
    * grid (both engines round the identical sequential-fold dot
    * product, so the gate cannot flip cross-engine). */
  private val SemTau = 0.35

  /** q_semdedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster-scoped semantic dedup. Vectors are k-means-assigned to
    * cells using the TRAINED IVF index — stride-seeded centroids
    * refined by fixed-point Lloyd's rounds with a size-independent
    * nlist, so training and assignment are O(n·nlist) under an
    * O(nlist) broadcast — and a vector is REDUNDANT when a lower-id
    * cell-mate has cosine ≥ [[SemTau]]. Pairwise work is confined to
    * cells — n²/k instead of n², and the cell id is the shuffle key,
    * so at 100 TB each cell's comparison runs where its vectors
    * already live; the corpus-wide all-pairs query
    * ([[embeddingDedup]]) stays the exact baseline, this is the scale
    * path. The index comes from the SHARED [[Similarity.ivfIndex]]
    * build (localCheckpoint'ed centroids + assignment): the `cells`
    * relation feeds the member table, BOTH sides of the mate
    * self-join, and the final ledger without re-executing the
    * assignment subtree per reference — and without retraining per
    * query (a real deployment persists the index to durable storage
    * and every consumer probes it).
    * Fully oracled: assignment argmax AND the in-cell gate replay in
    * DuckDB on the rounded grid. */
  def semDedup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val (_, cells) = Similarity.ivfIndex(s, d)
    val m = e.join(cells, Seq("vec_id"))
    val mates = m.select(col("cell"), col("vec_id").as("nb_id"),
      col("embedding").as("nb_vec"))
    val redundant = m.join(mates, Seq("cell"))
      .filter(col("nb_id") < col("vec_id") &&
        Similarity.cosine(col("embedding"), col("nb_vec")) >= SemTau)
      .select(col("cell"), col("vec_id")).distinct()
    m.select(col("cell"), col("vec_id"))
      .join(redundant.withColumn("red", lit(1)), Seq("cell", "vec_id"), "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"), count(col("red")).as("n_redundant"))
      .orderBy("cell")
  }
}
