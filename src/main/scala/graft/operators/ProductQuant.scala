package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the industry-standard coding for
  * billion-vector corpora: the 64-dim vector splits into [[Subs]]
  * subspaces of [[DSub]] dims, each subspace gets its own ≤[[PqK]]-code
  * codebook, and a vector stores one code per subspace (8 bytes/vector
  * here vs 256 for the floats — a 32× cut, vs int8-SQ's 4×). Ranking
  * uses asymmetric distance computation (ADC): the query precomputes
  * its distance to every (subspace, code) centroid — a [[Subs]]·[[PqK]]
  * table, broadcast — and a candidate's distance is the SUM of 8 table
  * lookups, never a float op against the corpus.
  *
  * Everything runs in the repo's scaled-long fixed point, ONE notch
  * stricter than the IVF chain: components scale to round(x·1e6) longs
  * at the edge, so every squared-L2 distance — training assignment,
  * coding, the ADC table, and the exact side — is an INTEGER, exact in
  * any summation order in any engine. The whole query (training
  * included) replays in DuckDB with no rounding grid at all. */
object ProductQuant {

  /** Subspace count × dims per subspace = the embedding width (64). */
  private[graft] val Subs = 8
  private[graft] val DSub = 8

  /** Codes per subspace codebook — FIXED (unlike the √n-growing IVF
    * nlist, a PQ codebook's size is the code width — 4 bits here):
    * the codebook broadcast is O([[Subs]]·PqK) at any corpus size. */
  private[graft] val PqK = 16L

  /** Codebook seed stride (every stride-th vec_id seeds a code in EVERY
    * subspace): ⌈n/stride⌉ ≤ ~[[PqK]] codes regardless of corpus size —
    * here size-independence IS the contract (a PQ code is [[Subs]]×4
    * bits by definition; only the IVF cell grid grows with n). */
  private[graft] def pqStride(n: Long): Long = math.max(50L, n / PqK)

  /** Lloyd's refinement rounds per subspace codebook. */
  private[graft] val PqIters = 1

  /** PQ-training-chain executions this JVM — the observable the
    * one-training-chain-per-run plan guard asserts on (the PQ analog of
    * [[Similarity.trainRuns]]); [[pqIndex]] is what keeps it at 1. */
  private[graft] val pqTrainRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** The frozen pre-arrival codebook build for [[pqRefresh]], factored
    * out so Bench can pre-build (and price) it next to [[pqIndex]] — the
    * same cold-build-out-of-the-measured-rep move as
    * [[Similarity.preArrivalIndex]]. Pinned SEPARATELY from [[pqIndex]]
    * because the refresh only ever reads the codebooks: pinning the
    * (codebooks, codes) pair would eagerly code and checkpoint the whole
    * pre-arrival corpus for a relation nothing consumes. */
  private[graft] def preArrivalCodebooks(s: SparkSession, d: String): DataFrame =
    graft.Pins.pinned(s, d, "pq:pre-arrival") {
      val old = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 5 =!= 3)
      trainCodebooks(old, pqStride(old.count()))
    }

  /** Materialized PQ index, keyed by (session, data dir) exactly like
    * [[Similarity.ivfIndex]]: the trained per-subspace codebooks and
    * the full corpus coding, each localCheckpoint'ed so every consumer
    * (the flat-PQ eval, the composed IVF-PQ eval) reads the SAME
    * executed relations. The 100 TB shape: codebooks are Subs·PqK tiny
    * rows (broadcast tier), codes are the 8-bytes-per-vector relation
    * that REPLACES the float corpus in the serving tier — both built
    * once per corpus. Training is integer-deterministic, so cached and
    * fresh results are bit-identical and the per-query DuckDB oracles
    * (which replay the chain each time) stay green.
    *
    * The shared PQ build: (codebooks, codes). One count() (parquet
    * metadata), one training chain, one coding pass — the coding runs
    * through the native [[graft.functions.PqEncode]] coder against the
    * COLLECTED trained codebook (≤ [[Subs]]·[[PqK]] rows by contract —
    * the same O(Subs·PqK) driver move the broadcast paid), so it is a
    * pure map pass: no subvector join, no (vec_id, sub) re-group
    * shuffle, and the argmin loop runs compiled instead of the
    * interpreted zip_with/aggregate lambdas (the MinhashSig60/PqEncode
    * lesson applied to the BATCH chain — the streaming ingest coder
    * already ran this expression, spec-pinned value-identical). */
  private[graft] def pqIndex(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.Pins.pinned(s, d, "pq") {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val cb = trainCodebooks(e, pqStride(e.count()))
      val codes = xsOf(e)
        .select(col("vec_id"),
          posexplode(graft.functions.pq_encode(col("xs"), collectCb(cb), DSub))
            .as(Seq("sub", "code")))
        .transform(graft.Pins.checkpoint)
      (cb, codes)
    }

  /** (vec_id, xs) — the 1e6-scaled long vector, the native coder's
    * input currency (the streaming ingest's `xs` column). */
  private def xsOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")).as("xs"))

  /** Collect a (sub, code, c) codebook relation for the native coder —
    * ≤ [[Subs]]·[[PqK]] rows at ANY corpus size (the PQ contract). */
  private def collectCb(cb: DataFrame): Seq[(Int, Long, Seq[Long])] =
    cb.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSeq

  /** Exact integer squared L2 between two scaled-long arrays. Integer
    * adds commute, so the fold order is irrelevant — no rounding grid,
    * no Det scheme needed. */
  private[graft] def d2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** (vec_id, sub, v) — the 1e6-scaled [[DSub]]-dim subvectors of every
    * vector, one row per (vector, subspace). */
  private def subvecs(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1e6).cast("long")).as("xs"))
      .select(col("vec_id"), posexplode(
        transform(sequence(lit(0), lit(Subs - 1)),
          s => slice(col("xs"), s * DSub + 1, lit(DSub)))).as(Seq("sub", "v")))

  /** Trained per-subspace codebooks (sub, code, c: array<long>):
    * stride-seeded, then [[PqIters]] Lloyd's rounds — assign every
    * subvector to its argmin-d2 code, recenter each (sub, code) on the
    * member mean. The mean stays in the scaled-long domain: per-pos
    * sums are exact integers, and round(sx/cnt) is one IEEE division +
    * one half-away-from-zero round on identical inputs — the same long
    * in both engines. Code identity stays the seed id, keeping argmin
    * ties stable; a code that loses all members drops out. */
  /** Takes the raw (vec_id, embedding) relation: each Lloyd round codes
    * the corpus MAP-SIDE with the native [[graft.functions.PqEncode]]
    * expression against the previous round's COLLECTED codebook
    * (≤ [[Subs]]·[[PqK]] rows — the broadcast tier's own driver move),
    * then recenters with the unchanged scaled-long aggregation. The
    * former shape shuffled the (vec_id, sub) subvector relation twice
    * per round (the argmin re-group + the recenter join) and evaluated
    * [[d2]]'s zip_with/aggregate lambdas interpreted, once per
    * (subvector, candidate) pair — the coder is value-identical
    * (argmin d2 ASC, code ASC — spec-pinned against the declarative
    * chain) and compiled. */
  private def trainCodebooks(e: DataFrame, stride: Long): DataFrame = {
    pqTrainRuns.incrementAndGet()
    var cbRows: Seq[(Int, Long, Seq[Long])] = collectCb(
      subvecs(e.filter(col("vec_id") % stride === 0))
        .select(col("sub"), col("vec_id").as("code"), col("v").as("c")))
    val xs = xsOf(e)
    var cb: DataFrame = null
    for (_ <- 1 to PqIters) {
      cb = xs
        .select(col("xs"),
          posexplode(graft.functions.pq_encode(col("xs"), cbRows, DSub))
            .as(Seq("sub", "code")))
        .select(col("sub"), col("code"),
          posexplode(slice(col("xs"), col("sub") * DSub + 1, lit(DSub)))
            .as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
        .groupBy(col("sub"), col("code"))
        .agg(collect_list(struct(col("pos"),
          round(col("sx").cast("double") / col("cnt")).cast("long").as("cv"))).as("pv"))
        .select(col("sub"), col("code"),
          transform(array_sort(col("pv")), p => p.getField("cv")).as("c"))
        .transform(graft.Pins.checkpoint)
      cbRows = collectCb(cb)
    }
    cb
  }

  /** q_pq_recall — recall@10 of PQ-ADC ranking against the EXACT
    * scaled-integer L2 ranking, on the shared seed-disjoint panel
    * ([[Similarity.panelFilter]]) — the row that sits next to
    * q_sq_recall and answers whether the 32× storage cut still returns
    * the right neighbors. Shapes at 100 TB: the codebook and the
    * per-query ADC tables broadcast (Subs·PqK rows each), the corpus
    * side moves only (vec_id, sub, code) triples — 8 small ints per
    * vector — and both rankings are per-qid top-k windows over
    * panel-bounded candidate sets. Fully oracled end to end, training
    * included: every distance is an exact integer. */
  def pqRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val n = e.count()
    val sv = subvecs(e)
    val (cb, codes) = pqIndex(s, d)
    val panelIds = Tables.embeddings(s, d).filter(Similarity.panelFilter(n))
      .select(col("vec_id").as("qid"))
    val psv = broadcast(sv.join(panelIds, sv("vec_id") === panelIds("qid"))
      .select(col("qid"), col("sub"), col("v").as("qv")))
    // per-query ADC table: distance to every (sub, code) centroid
    val dtable = broadcast(psv.join(broadcast(cb), "sub")
      .select(col("qid"), col("sub"), col("code"), d2(col("qv"), col("c")).as("dq")))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    val approx = codes.join(dtable, Seq("sub", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dq")).as("dist"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    val exact = sv.join(psv, "sub")
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(d2(col("v"), col("qv"))).as("dist"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
    Similarity.recallSummary(exact, approx)
  }

  /** q_ivfpq_recall — the COMPOSED coarse+fine deployment, FAISS's
    * IVFPQ and the de-facto standard for billion-vector serving: the
    * trained IVF cells bound what you READ (probe top-2 cells by float
    * query-vs-centroid cosine — centroids stay float in an IVF-PQ
    * index), the trained PQ codes bound what you STORE (8 bytes/vector,
    * ranked by ADC — integer sums of 8 broadcast table lookups), and
    * this row is the one number that says what the combination costs
    * in quality vs [[pqRecall]]'s flat-PQ scan on the SAME exact
    * baseline and panel. Both indexes come from their shared
    * session-cached builds ([[Similarity.ivfIndex]], [[pqIndex]]) —
    * build once, probe many. Scale shape: the corpus side moves only
    * (vec_id, cell) + 8 code ints per vector, the probe prunes it to
    * nprobe/nlist before the ADC join, and both rankings are per-qid
    * top-k windows. Fully oracled end to end — the probe replays via
    * the shared IVF CTE, the ADC via the shared PQ CTE, every distance
    * an exact integer. */
  def ivfPqRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (adc, sv, psv) = composedAdc(s, d)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    val approx = adc
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    Similarity.recallSummary(pqExact(sv, psv), approx)
  }

  /** The composed coarse+fine candidate scoring shared by
    * [[ivfPqRecall]] and [[ivfPqRerank]]: probe the trained IVF cells
    * (top-2 by float query-vs-centroid cosine), score every candidate
    * in the probed cells by integer ADC. Returns (adc(qid, vec_id,
    * dist) with self-matches removed, sv, psv) — the two subvector
    * relations so callers can build the exact side without recomputing
    * the projection. */
  private def composedAdc(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val n = e.count()
    val sv = subvecs(e)
    val (cb, codes) = pqIndex(s, d)
    val (cen, cells) = Similarity.ivfIndex(s, d)
    val panel = broadcast(e.filter(Similarity.panelFilter(n))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec")))
    val psv = broadcast(sv.join(panel, sv("vec_id") === panel("qid"))
      .select(col("qid"), col("sub"), col("v").as("qv")))
    val dtable = broadcast(psv.join(broadcast(cb), "sub")
      .select(col("qid"), col("sub"), col("code"), d2(col("qv"), col("c")).as("dq")))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    val probed = panel.crossJoin(broadcast(cen))
      .select(col("qid"), col("centroid_id"),
        Similarity.cosine(col("qvec"), col("cvec")).as("cos"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 2)
      .select(col("qid"), col("centroid_id").as("cell"))
    val adc = codes.join(cells, "vec_id")
      .join(broadcast(probed), "cell")
      .join(dtable, Seq("qid", "sub", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dq")).as("dist"))
      .filter(col("vec_id") =!= col("qid"))
    (adc, sv, psv)
  }

  /** The exact integer-L2 top-10 per panel query — the one baseline
    * every PQ-family eval compares against. */
  private def pqExact(sv: DataFrame, psv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    sv.join(psv, "sub")
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(d2(col("v"), col("qv"))).as("dist"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
  }

  /** Min squared-L2 to the nearest code per (vector, subspace) — the
    * per-subspace quantization error, an exact integer (the argmin's
    * identity is irrelevant for distortion, so no tie-break needed). */
  private def minD2(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb), "sub")
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(d2(col("v"), col("c"))).as("d2"))

  /** One (n, avg per-vector distortion) summary row. The sum of exact
    * integer d2s stays within Long: unit-norm embeddings scale to
    * |v|² ≈ 1e12, so per-vector distortion ≤ ~4e12 and the sum is
    * < 2^63 up to ~10⁶ vectors per tier at stress scale (and the
    * magnitude-checked bound holds far beyond); the single division
    * and round-6 replay identically on identical inputs. */
  private def distortion(md: DataFrame, nName: String, avgName: String): DataFrame =
    md.agg(
      countDistinct(col("vec_id")).as(nName),
      round(sum(col("d2")).cast("double") / countDistinct(col("vec_id")), 6)
        .as(avgName))

  /** q_pq_refresh — the coding tier's between-retrains operation,
    * completing the [[Similarity.indexRefresh]] symmetry: codebooks
    * trained on the pre-arrival corpus (vec_id % 5 ≠ 3, the same split
    * — stride seeds are multiples of 50, hence of 5, so the seed grid
    * stays inside the pre-arrival corpus) stay FROZEN, arrivals are
    * coded against them, and the row reports mean per-vector
    * quantization distortion for the build-time corpus vs the
    * arrivals. Rising arrival distortion is THE codebook-retrain
    * trigger — the drift signal a deployed PQ store alerts on (the
    * analog of indexRefresh's cell imbalance). Cost: one extra
    * training chain per session (cached under a synthetic dir key) +
    * an O(n·Subs·PqK) broadcast scoring pass. Fully oracled: the
    * frozen chain replays via the shared PQ CTE over the filtered
    * corpus, distortion as exact integer sums. */
  def pqRefresh(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val old = e.filter(col("vec_id") % 5 =!= 3)
    val cb = preArrivalCodebooks(s, d)
    val oldRow = distortion(minD2(subvecs(old), cb), "n_old", "avg_d2_old")
    val newRow = distortion(
      minD2(subvecs(e.filter(col("vec_id") % 5 === 3)), cb),
      "n_new", "avg_d2_new")
    oldRow.crossJoin(newRow)
  }

  /** q_pq_persist — the durable tier of the PQ lifecycle, completing
    * the same save → load → verify round trip [[Similarity.indexPersist]]
    * proves for the IVF index: codebooks + codes written to parquet
    * under the corpus's index-store directory (at 100 TB the coded
    * corpus in object storage IS the serving dataset — 8 bytes/vector
    * where the floats were 256), read back, and summarized FROM THE
    * LOADED RELATIONS — row/vector counts, an order-independent
    * overflow-free bit_xor coding checksum, and the exact integer sum
    * of every codebook component. Strictly easier than the IVF proof:
    * every persisted value is already a LONG, so parquet round-trip
    * identity needs no IEEE argument at all. Oracle replays the
    * training chain; equality proves the stored bytes carry the
    * trained coding. */
  def pqPersist(s: SparkSession, d: String): DataFrame = {
    val (cb, codes) = pqIndex(s, d)
    val (_, cells) = Similarity.ivfIndex(s, d)
    val root = Similarity.indexStorePath(d)
    IndexStore.markSrc(java.nio.file.Paths.get(root), d)
    cb.write.mode("overwrite").parquet(s"$root/pq_codebooks.parquet")
    // the durable coded corpus carries its IVF cell and is PARTITIONED
    // by it — this store IS the s_ivfpq_serve serving dataset, and the
    // serve path's cost model ("one partition read per probe") only
    // holds if the layout says so; repartition first so each cell
    // writes one file (IndexLifecycleSpec pins the pruning)
    codes.join(cells, "vec_id")
      .repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$root/pq_codes.parquet")
    val lcb = s.read.parquet(s"$root/pq_codebooks.parquet")
    val lcodes = s.read.parquet(s"$root/pq_codes.parquet")
      .select(col("vec_id"), col("sub"), col("code"),
        col("cell").cast("long").as("cell"))
    val a = lcodes.agg(
      count(lit(1)).as("n_code_rows"),
      countDistinct(col("vec_id")).as("n_vecs"),
      expr("bit_xor((vec_id % 1000003) * 1009 + sub * 131 + (code % 1009))")
        .as("code_checksum"))
    val c = lcb.select(explode(col("c")).as("x"))
      .agg(count(lit(1)).as("n_cb_components"), sum(col("x")).as("cb_checksum"))
    a.crossJoin(c)
  }

  /** ADC shortlist depth for [[ivfPqRerank]] — the candidates the
    * refine stage pays an exact distance for, per query. */
  private[graft] val RerankR = 50

  /** q_ivfpq_rerank — the full production retrieval stack: IVF probe →
    * ADC shortlist (top-[[RerankR]]) → EXACT rerank of the shortlist →
    * top-10. This is how a deployed IVFPQ system actually answers
    * queries (FAISS's refine stage): the coded corpus prices the scan,
    * and the exact distance is paid for only R candidates per query —
    * here by joining the shortlist back to the subvector relation, R·8
    * rows per query instead of the corpus. Recall is PROVABLY ≥ the
    * unreranked [[ivfPqRecall]] under the shared (dist, vec_id) total
    * order: a true-top-10 member that made the shortlist has global
    * exact rank ≤ 10, hence rank ≤ 10 inside any subset, so the exact
    * rerank can only ADD hits (ADC top-10 ⊆ shortlist) — spec-pinned.
    * Equivalently: hits = |shortlist ∩ true top-10| exactly, so the
    * row measures shortlist quality, the number a deployment tunes R
    * against. Fully oracled (shared IVF + PQ + ADC CTEs). */
  def ivfPqRerank(s: SparkSession, d: String): DataFrame =
    ivfPqRerankAt(s, d, RerankR)

  /** [[ivfPqRerank]] at an arbitrary shortlist depth — the sweep
    * surface behind the R operating curve (tools.RerankSweep). */
  private[graft] def ivfPqRerankAt(s: SparkSession, d: String, r: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (adc, sv, psv) = composedAdc(s, d)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("dist").asc, col("vec_id").asc)
    val shortlist = adc
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= r)
      .select(col("qid"), col("vec_id"))
    val approx = shortlist.join(sv, "vec_id")
      .join(psv, Seq("qid", "sub"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(d2(col("v"), col("qv"))).as("dist"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    Similarity.recallSummary(pqExact(sv, psv), approx)
  }
}
