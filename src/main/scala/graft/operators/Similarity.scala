package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Similarity search over the `embeddings` table (`Array[Float]` column).
  *
  * Two tiers (SURVEY.md §7.1.5):
  *  - brute-force cosine top-k — the exact baseline; a broadcast of the
  *    query vector + one codegen'd map over the fleet, then
  *    TakeOrderedAndProject (per-partition heap, no global sort);
  *  - LSH-bucketed ANN (random hyperplane signs) — the 100 TB path: the
  *    sign signature buckets the corpus so a probe touches ~1/2^b of it;
  *    candidates re-rank with exact cosine inside the bucket.
  */
object Similarity {

  /** Dot product — the native codegen'd expression (graft.functions.
    * FloatDot): a primitive loop inlined into whole-stage codegen.
    * Spark's own zip_with+aggregate formulation evaluates its lambdas
    * interpreted (one boxed closure call per element) and was ~50×
    * slower on the all-pairs query; evaluation order (sequential fold)
    * and results are identical. */
  def dot(a: Column, b: Column): Column = graft.functions.vec_dot(a, b)

  /** Squared L2 norm (same native loop). */
  def norm2(a: Column): Column = graft.functions.vec_norm2(a)

  /** Cosine similarity, rounded to 6 decimals at the query edge: the two
    * engines sum the 64 products in different orders (≤1e-14 drift), so
    * the comparison grid must be coarser than the drift. */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b))), 6)

  /** q_similarity_knn — brute-force cosine top-20 against the query
    * vector (vec_id = 0). The 1-row query side is broadcast; the corpus
    * side is one distributed scan — at 100 TB this is the exact-rerank
    * baseline you run inside a bucket, not across the fleet. */
  def knn(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("query_vec"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosine(col("embedding"), col("query_vec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(20)
  }

  /** q_crossmodal_join — join the text table to its embedding row
    * (doc_id = vec_id): per-document text stats next to vector stats in
    * one result, the shape every retrieval/training pipeline needs. The
    * embedding side is the smaller at scale → broadcast or co-bucketed
    * by id; norms via the codegen'd fold. */
  def crossmodalJoin(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .join(Tables.embeddings(s, d),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        size(col("embedding")).as("dim"),
        round(sqrt(norm2(col("embedding"))), 6).as("l2_norm"))
      .orderBy("doc_id")

  /** Deterministic hyperplanes from pure rational arithmetic:
    * `((i·31 + j·17) mod 101) / 50.5 − 1` ∈ [−1, 0.98]. 101 is coprime
    * to the 31/17 strides, so each plane cycles through all residues —
    * scattered enough for sign-LSH, and (unlike a splitmix-style bit
    * mixer, which needs wrapping u64 arithmetic) computable in ANY
    * engine, which is what makes the LSH query oracle-checkable. */
  private[operators] def plane(j: Int, dims: Int): Seq[Double] =
    (0 until dims).map(i => ((i * 31 + j * 17) % 101) / 50.5 - 1.0)

  /** Sign-bit LSH bucket id from `nPlanes` hyperplanes (bit j = sign of
    * dot with plane j). */
  def lshBucket(vec: Column, nPlanes: Int, dims: Int): Column =
    (0 until nPlanes).map { j =>
      val p = typedlit(plane(j, dims))
      when(dot(vec, p) >= 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Hard ceiling on the IVF cell count — bounds the centroid broadcast
    * (≤ 64Ki rows × 64 doubles ≈ 34 MB) no matter how large the corpus
    * grows. Matches production guidance (FAISS recommends nlist in the
    * 4√n–16√n band; SemDeDup ships k = 50k cells at web scale). */
  private[graft] val IvfNlistCap = 65536L

  /** Centroid stride: every `stride`-th vec_id seeds a centroid, with
    * stride = max(50, ⌊√n⌋, n / [[IvfNlistCap]]) — so nlist = ⌈n/stride⌉
    * GROWS ∝ √n (capped at ~[[IvfNlistCap]]+1). The round-4 scheme
    * (`vec_id % 50`) grew nlist linearly (O(n²/50) assignment, O(n)
    * broadcast — an executor OOM at 100 TB); the rounds-5–10 scheme
    * capped nlist at 64, which made every celledTopK consumer
    * Σ|cell|² ≈ n²/64 — quadratic over a constant, and the ×10 stress
    * showed it (q_knn_join_cell per-row ratio 0.88 vs 0.25 for its
    * salted twin). Under the √-law the expected cell is √n rows, so
    * celled pairwise work is Σ|cell|² ≈ n·√n — genuinely sub-quadratic —
    * while the broadcast stays tiny (√n rows ≈ 32k at 1e9 vectors) and
    * assignment stays the embarrassingly-parallel O(n·nlist) map pass
    * every IVF build pays. Tiny corpora (n ≤ 2500) keep the legacy %50
    * grid, so every small fixture and every gate-SF oracle pins the
    * same cells as before. ⌊√n⌋ is floor(IEEE sqrt) — exactly rounded
    * in both the JVM and libm for n < 2^52, so the DuckDB oracle's
    * `greatest(50, floor(sqrt(n)), n // 65536)` replays it bit-for-bit.
    * `n` comes from the ONE count() this family takes (a
    * parquet-metadata read, no scan). */
  private[graft] def ivfStride(n: Long): Long =
    math.max(50L, math.max(math.sqrt(n.toDouble).toLong, n / IvfNlistCap))

  /** Training-chain executions this JVM — the observable the
    * one-training-chain-per-run plan guard asserts on. Incremented by
    * [[trainedCentroids]]; [[ivfIndex]] is what keeps it at 1. */
  private[graft] val trainRuns = new java.util.concurrent.atomic.AtomicLong(0)

  /** Materialized IVF index, keyed by (session, data dir): the trained
    * centroid set and the full cell assignment, each localCheckpoint'ed
    * so every consumer reads the SAME executed relations. A 100 TB
    * deployment builds its index once and serves probes against it for
    * days — retraining per query would misstate both the cost model
    * and the operational shape — so every index consumer (probe,
    * recall evals, health stats, persist, semantic dedup, streaming
    * ingest and serving) shares this build. Training is deterministic (fixed-point Lloyd's),
    * so cached and fresh results are bit-identical and the per-query
    * DuckDB oracles (which replay the full chain each time) stay green.
    * Keyed by session because a checkpoint dies with its session; keyed
    * by dir because each corpus has its own index.
    *
    * The shared index build: (centroids, cells). One count() (parquet
    * metadata), one training chain, one assignment pass — then every
    * probe, eval, health check, and semantic-dedup pass reuses the two
    * checkpointed relations. */
  private[graft] def ivfIndex(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.Pins.pinned(s, d, "ivf") {
      buildIndex(Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
    }

  /** Cell ceiling under which training/assignment argmax runs MAP-SIDE
    * over the collected centroid literal (conf
    * `graft.ivf.literalAssignMaxCells`): the crossJoin + re-group
    * formulation shuffled the corpus twice per Lloyd round (the
    * groupBy(vec_id) exchange of the expanded pairs, then the
    * embeddings⋈assignment join) for a per-row-computable decision —
    * the sVectorIngest serving precedent applied to the build (guide
    * §2.4: remove shuffles outright). 4096 cells × 64 doubles ≈ 2 MB in
    * the task binary; above the ceiling (nlist caps at [[IvfNlistCap]])
    * the broadcast crossJoin remains the honest shape. */
  private val LiteralAssignMaxCells = 4096L
  private def literalAssignMax(s: SparkSession): Long =
    s.conf.getOption("graft.ivf.literalAssignMaxCells")
      .map(_.toLong).getOrElse(LiteralAssignMaxCells)

  /** (vec_id, embedding, cell) with the argmax computed map-side over a
    * collected centroid set — value-identical to [[assignCells]] (same
    * [[cosine]], same max-of-(cos, centroid_id) struct ⇒ ties take the
    * higher centroid id), zero shuffle. */
  private def assignCellsLiteral(
      e: DataFrame, cenRows: Seq[(Long, Seq[Double])]): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      array_max(transform(typedlit(cenRows), c =>
        struct(cosine(col("embedding"), c.getField("_2")).as("cos"),
          c.getField("_1").as("centroid_id"))))
        .getField("centroid_id").as("cell"))

  private def collectCentroids(cen: DataFrame): Seq[(Long, Seq[Double])] =
    cen.collect().map(r =>
      (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq

  /** Train + assign over an arbitrary corpus relation — the one build
    * path behind [[ivfIndex]] (full corpus) and [[indexRefresh]] (the
    * pre-arrival subset). */
  private def buildIndex(e: DataFrame): (DataFrame, DataFrame) = {
    val cen = trainedCentroids(e, ivfStride(e.count()))
    val cells = gatedAssign(e, cen)
      .select(col("vec_id"), col("cell")).transform(graft.Pins.checkpoint)
    (cen, cells)
  }

  /** The size-gated assignment pass shared by the build, the refresh,
    * and each Lloyd round: map-side literal argmax under the ceiling,
    * broadcast crossJoin + re-group above it. Both branches are
    * value-identical (OperatorsSpec's model twin pins the trained
    * values; the tie-break is the same struct max). */
  private def gatedAssign(e: DataFrame, cen: DataFrame): DataFrame = {
    val rows = collectCentroids(cen)
    if (rows.size <= literalAssignMax(e.sparkSession))
      assignCellsLiteral(e, rows)
    else
      e.join(assignCells(e, broadcast(cen)), "vec_id")
  }

  /** Durable index store for [[ivfIndex]]: two parquet relations
    * (centroids, cells) under a per-corpus directory. At 100 TB the
    * index lives in object storage — trained by one batch job, then
    * loaded by every probe fleet, the ingest stream, and the next
    * incremental build; the session cache above is the in-memory tier
    * of the same lifecycle. Centroid components are doubles produced
    * by one exact division each ([[trainedCentroids]]) and parquet
    * round-trips IEEE doubles bit-exactly, so a LOADED index is
    * value-identical to the trained one — q_index_persist proves that
    * with checksums over both relations. */
  private[graft] def indexStorePath(d: String): String = {
    // md5 of the full corpus path: the store outlives the JVM, so the
    // key must be collision-resistant — a 32-bit String.hashCode would
    // let two corpus dirs silently overwrite each other's indexes
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_index_store/$md"
  }

  /** Write the trained index to the durable store (build-side API).
    * The assignment relation is PARTITIONED BY CELL — the layout the
    * serving tier's cost model assumes: a probe against the loaded
    * store reads its nprobe cells' directories and nothing else
    * (partition pruning, plan-guarded in IndexLifecycleSpec), instead
    * of scanning every file for every query. One repartition on the
    * cell key first, so each cell writes as one file rather than one
    * per (shuffle partition × cell). */
  private[graft] def saveIndex(s: SparkSession, d: String): String = {
    val (cen, cells) = ivfIndex(s, d)
    val root = indexStorePath(d)
    IndexStore.markSrc(java.nio.file.Paths.get(root), d)
    cen.write.mode("overwrite").parquet(s"$root/centroids.parquet")
    cells.repartition(col("cell")).write.mode("overwrite")
      .partitionBy("cell").parquet(s"$root/cells.parquet")
    root
  }

  /** Load (centroids, cells) from the durable store (probe-side API).
    * The partition column comes back type-inferred (int for small cell
    * ids); the cast restores the trained schema exactly, and — being
    * an upcast — unwraps around comparisons, so `cell = <id>` filters
    * still prune partitions on the loaded store. */
  private[graft] def loadIndex(s: SparkSession, root: String): (DataFrame, DataFrame) =
    (s.read.parquet(s"$root/centroids.parquet"),
      s.read.parquet(s"$root/cells.parquet")
        .select(col("vec_id"), col("cell").cast("long").as("cell")))

  /** q_index_persist — the save → load → verify round trip of the
    * durable index lifecycle: persist the trained index with
    * [[saveIndex]], read it back with [[loadIndex]], and emit one
    * summary row computed FROM THE LOADED RELATIONS — cell/vector
    * counts, an assignment checksum (bit_xor of bounded modular
    * products: order-independent and overflow-free at ANY corpus size
    * under ANSI arithmetic, where a summed checksum would trap around
    * 1e12 rows), and a centroid checksum over the 1e-6-scaled
    * components (exact integers — the same fixed-point currency the
    * training uses — so a single flipped bit in any stored double
    * changes the row). Oracle: DuckDB replays the training chain and
    * computes the same summary; equality means the persisted bytes
    * carry exactly the trained index. */
  def indexPersist(s: SparkSession, d: String): DataFrame = {
    val root = saveIndex(s, d)
    val (lcen, lcells) = loadIndex(s, root)
    val a = lcells.agg(
      countDistinct(col("cell")).as("n_cells"),
      count(lit(1)).as("n_vecs"),
      expr("bit_xor((vec_id % 1000003) * 1009 + (cell % 1009))")
        .as("asn_checksum"))
    val c = lcen.select(explode(col("cvec")).as("x"))
      .agg(sum(round(col("x") * 1e6).cast("long")).as("cen_checksum"))
    a.crossJoin(c)
  }

  /** q_index_refresh — INCREMENTAL index maintenance, the operation a
    * deployment runs between retrains: the index trained on the
    * pre-arrival corpus (vec_id % 5 ≠ 3 — the 80% that existed at
    * build time; residue 3, NOT 0, so the stride-seed grid — all
    * multiples of 50, hence of 5 — stays inside the pre-arrival
    * corpus) stays FROZEN, the arrivals (vec_id % 5 = 3) are
    * assigned into its cells by the same broadcast argmax as the
    * original build, and the row reports the health drift — cell
    * counts and imbalance before vs after absorbing the arrivals.
    * Rising imbalance is THE retrain trigger ([[ivfCellStats]] is the
    * steady-state view; this is the decision view). Cost: one extra
    * training chain per session (pinned like [[ivfIndex]], under its
    * own key) + an O(n_new·nlist) assignment pass under
    * the O(nlist) broadcast. Fully oracled: the frozen chain replays
    * via the shared training CTE over the filtered corpus, the
    * arrival assignment via the same argmax window. */
  /** The frozen pre-arrival index [[indexRefresh]] reads — factored out
    * so Bench can pre-build (and price) it alongside [[ivfIndex]]
    * instead of letting the build hide inside q_index_refresh's first
    * rep, where the cold/warm spread false-trips the contamination
    * flag at larger scale factors. */
  private[graft] def preArrivalIndex(s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.Pins.pinned(s, d, "ivf:pre-arrival") {
      buildIndex(Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .filter(col("vec_id") % 5 =!= 3))
    }

  def indexRefresh(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val (cen, oldCells) = preArrivalIndex(s, d)
    val newCells = gatedAssign(e.filter(col("vec_id") % 5 === 3), cen)
      .select(col("vec_id"), col("cell"))
    def health(cells: DataFrame, nName: String, ncName: String, imbName: String) =
      cells.groupBy(col("cell")).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("nc"), sum(col("sz")).as("n"), max(col("sz")).as("mx"))
        .select(col("n").as(nName), col("nc").as(ncName),
          round((col("mx") * col("nc")).cast("double") / col("n"), 6).as(imbName))
    health(oldCells, "n_old", "n_cells_old", "imbalance_old")
      .crossJoin(
        health(oldCells.select("cell").unionAll(newCells.select("cell")),
          "n_all", "n_cells_refreshed", "imbalance_refreshed"))
      .select(col("n_old"), (col("n_all") - col("n_old")).as("n_new"),
        col("n_cells_old"), col("n_cells_refreshed"),
        col("imbalance_old"), col("imbalance_refreshed"))
  }

  /** Argmax-cosine cell assignment over a broadcast centroid set —
    * (vec_id, cell). max of the (cos, id) struct is deterministic
    * including ties (higher centroid_id wins), matching the oracle's
    * `row_number() ... ORDER BY cos DESC, centroid_id DESC` window. */
  private[operators] def assignCells(e: DataFrame, centroids: DataFrame): DataFrame =
    e.crossJoin(centroids)
      .groupBy(col("vec_id"))
      .agg(max(struct(
        cosine(col("embedding"), col("cvec")).as("cos"),
        col("centroid_id"))).as("best"))
      .select(col("vec_id"), col("best.centroid_id").as("cell"))

  /** Lloyd's rounds for the trained IVF index. */
  private[graft] val IvfIters = 2

  /** Trained centroid set (centroid_id, cvec: array<double>): stride-
    * seeded, then [[IvfIters]] Lloyd's rounds — assign every vector to
    * its argmax-cosine centroid, recenter each cell on its members'
    * element-wise MEAN. The mean is computed in scaled-long fixed point
    * (the q_pagerank integer discipline): each component contributes
    * round(x·1e6) as a long, the per-cell sums are exact integers in
    * ANY addition order, and the single double division sx/(1e6·cnt) is
    * IEEE-identical everywhere — so the trained centroids themselves
    * (not just their rounded cosines) replay exactly in the DuckDB
    * oracle. Centroid identity stays the seed id through every round,
    * keeping argmax tie-breaks stable; a cell that loses all members
    * simply drops out. Each round is one broadcast assignment pass plus
    * one (cell, pos)-keyed aggregation — linear in the corpus with
    * nlist fixed — and the result (≤ nlist rows) is localCheckpoint'ed
    * so its consumers (assignment + probe) never re-run the training
    * chain. */
  private[operators] def trainedCentroids(e: DataFrame, stride: Long): DataFrame = {
    trainRuns.incrementAndGet()
    var cen = e.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").cast("array<double>").as("cvec"))
    for (_ <- 1 to IvfIters) {
      // each round's assignment rides the size-gated map-side argmax
      // ([[gatedAssign]]): under the ceiling a round is ONE shuffle
      // (the (cell, pos) recenter agg) instead of three (assignment
      // re-group, embeddings⋈assignment join, recenter)
      cen = gatedAssign(e, cen)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(round(col("x").cast("double") * 1e6).cast("long")).as("sx"),
          count(lit(1)).as("cnt"))
        .groupBy(col("cell"))
        .agg(collect_list(struct(col("pos"),
          (col("sx").cast("double") / (lit(1e6) * col("cnt"))).as("v"))).as("pv"))
        .select(col("cell").as("centroid_id"),
          transform(array_sort(col("pv")), p => p.getField("v")).as("cvec"))
    }
    graft.Pins.checkpoint(cen)
  }

  /** q_similarity_ivf — IVF ANN with a TRAINED index: a SIZE-INDEPENDENT
    * ~√n stride-seeded centroids ([[ivfStride]]) refined by [[IvfIters]]
    * fixed-point Lloyd's rounds ([[trainedCentroids]]), each vector
    * assigned to its max-cosine centroid via a broadcast of the centroid
    * set, probe = the query's top-2 centroids, exact rerank inside the
    * probed cells. At 100 TB the cell id is the partition key and a probe
    * touches nprobe/nlist of the corpus; training and assignment are
    * broadcast map passes — O(n·nlist) per round with nlist fixed —
    * no shuffle until the tiny rerank. Oracle: the same index math
    * in DuckDB (argmax via a ranking window over the rounded cosine —
    * rounding to 1e-6 is what makes tie-breaks engine-independent; the
    * trained centroids replay exactly via the scaled-long means).
    * The index (centroids + assignment) comes from the SHARED
    * [[ivfIndex]] build — trained once per (session, corpus), probed
    * by every consumer, the build-once/probe-many lifecycle a real
    * index has. */
  def ivf(s: SparkSession, d: String): DataFrame = ivfAt(s, d, nprobe = 2)

  /** [[ivf]] with the probe width exposed — nprobe is THE operating
    * knob of an IVF deployment (recall rises, probe cost grows as
    * nprobe/nlist of the corpus); the declared query pins nprobe=2,
    * `Sweep nprobe` measures the curve. */
  private[graft] def ivfAt(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val e = Tables.embeddings(s, d)
    val (cen, cells) = ivfIndex(s, d)
    val centroids = broadcast(cen)
    val corpus = e.join(cells, "vec_id")
    val q = e.filter(col("vec_id") === 0)
    // probe: the query's nprobe nearest cells
    val probed = q.crossJoin(centroids)
      .select(col("centroid_id"),
        cosine(col("embedding"), col("cvec")).as("cos"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
      .limit(nprobe)
      .select(col("centroid_id").as("cell"))
    corpus
      .join(broadcast(probed), "cell")
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q.select(col("embedding").as("query_vec"))))
      .select(col("vec_id"), col("cell"),
        cosine(col("embedding"), col("query_vec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** q_similarity_lsh — ANN via hyperplane LSH: bucket the corpus (4
    * planes → 16 buckets), keep only the query's bucket, exact-rerank
    * inside it. The rational [[plane]]s make the whole index
    * oracle-checkable in DuckDB. At scale the bucket id is the
    * shuffle/partition key, so a probe reads ~1/2^planes of the corpus. */
  def lsh(s: SparkSession, d: String): DataFrame = {
    val dims = 64
    val e = Tables.embeddings(s, d)
      .withColumn("bucket", lshBucket(col("embedding"), 4, dims))
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("query_vec"), col("bucket"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), "bucket")
      .select(col("vec_id"), col("bucket"),
        cosine(col("embedding"), col("query_vec")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(10)
  }

  /** Target recall-panel size (queries sampled per eval run). */
  private[graft] val RecallPanel = 20L

  /** Panel stride: every `stride`-th vec_id (offset by [[PanelOffset]])
    * joins the recall panel, stride = max(50, n/[[RecallPanel]]) — ~20
    * queries at any corpus size (tiny fixtures keep the %50 grid, like
    * [[ivfStride]]). */
  private[graft] def panelStride(n: Long): Long = math.max(50L, n / RecallPanel)

  /** Panel offset — keeps the query sample off the centroid-seed grid:
    * a panel drawn from the seed ids probes its own cell at cosine 1
    * and reports inflated recall (measured: 0.96 self-biased vs 0.90
    * honest at sf0.01). The offset alone only guarantees disjointness
    * while both strides are multiples of 50 (the small-corpus regime);
    * [[recallPanel]] therefore ALSO excludes seed ids explicitly, so
    * the guarantee holds at every corpus size — e.g. n=3025 gives
    * ivfStride 55, panelStride 151, and vec_id 1980 = 17+13·151 = 36·55
    * would otherwise be both a seed and a panel query. */
  private[graft] val PanelOffset = 17L

  /** The SHARED recall panel (qid, qvec): every `panelStride`-th
    * vec_id at [[PanelOffset]], with centroid-seed ids excluded
    * explicitly (see [[PanelOffset]]). Every retrieval eval
    * ([[annRecall]], [[sqRecall]], [[lshRecall]], [[ivfSqRecall]])
    * draws THIS panel, so their recall numbers are comparable — a user
    * choosing an index variant reads four rows measured on the same
    * queries. */
  private[graft] def panelFilter(n: Long): Column =
    col("vec_id") % panelStride(n) === PanelOffset &&
      col("vec_id") % ivfStride(n) =!= 0

  private def recallPanel(e: DataFrame, n: Long): DataFrame =
    broadcast(
      e.filter(panelFilter(n))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec")))

  /** Folds per-query (exact top-k, approx top-k ∩ exact) into the one
    * summary row every recall eval emits: k, panel size, exact/hit
    * counts, recall = hits/exact. `exact` carries (qid, vec_id);
    * `approx` carries (qid, vec_id, hit=1). With a constant k-deep
    * exact side per query the micro- and macro-average coincide, and
    * the single long/long division is exact on the 1e-6 grid in any
    * engine. */
  private[operators] def recallSummary(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("nx"), count(col("hit")).as("nh"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("nx")).as("n_exact"), sum(col("nh")).as("n_hit"))
      .select(lit(10).as("k"), col("n_queries"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))

  /** q_ann_recall — the index-quality eval every ANN deployment runs:
    * recall@10 of the IVF probe (the [[ivf]] index math) against the
    * brute-force top-10, averaged over a PANEL of ~[[RecallPanel]]
    * stride-sampled query vectors — one query is an anecdote; a panel
    * is a measurement — sampled DISJOINT from the centroid seeds
    * ([[PanelOffset]]) so index construction cannot flatter its own
    * eval. Absolute recall on the synthetic near-orthogonal embeddings
    * is data-limited; the eval's job is COMPARING index variants on a
    * fixed panel (trained > seed here). One row out: k, panel size,
    * total exact/hit
    * counts, recall = hits/exact (with a constant 10-deep exact side
    * per query the micro- and macro-average coincide, and the single
    * long/long division is exact on the 1e-6 grid in any engine).
    * The panel and centroid sets broadcast; per-query rankings are
    * row_number windows keyed by (qid), so the eval's shuffles carry
    * panel·n rows — at 100 TB you run this on a sampled corpus slice,
    * which is exactly what the stride construction expresses.
    * Fully oracled: both retrievals replay in DuckDB per panel query
    * on the rounded-cosine grid. */
  def annRecall(s: SparkSession, d: String): DataFrame =
    annRecallAt(s, d, nprobe = 2)

  /** [[annRecall]] with the probe width exposed (`Sweep nprobe`
    * measures recall vs nprobe on this). */
  private[graft] def annRecallAt(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val (cen, cells) = ivfIndex(s, d)
    val centroids = broadcast(cen)
    val panel = recallPanel(e, n)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exact = e.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    val probed = panel.crossJoin(centroids)
      .select(col("qid"), col("centroid_id"),
        cosine(col("qvec"), col("cvec")).as("cos"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= nprobe)
      .select(col("qid"), col("centroid_id").as("cell"))
    val approx = e.join(cells, "vec_id")
      .join(broadcast(probed), "cell")
      .join(panel, "qid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    recallSummary(exact, approx)
  }

  /** q_ivf_cell_stats — the index-HEALTH view an ANN deployment
    * monitors next to [[annRecall]]'s quality panel: cell-size
    * distribution of the trained index (cell count, vectors, min/max/
    * mean cell size, imbalance = max/mean). A skewed cell means probe
    * latency skew and a retrain trigger — this is the dashboard row
    * that says so. One output row at any corpus size; cost = one
    * cell-keyed count over the SHARED [[ivfIndex]] assignment (the
    * training chain runs once per session, not per dashboard refresh).
    * Fully oracled through the shared training CTE; the two
    * ratios are single divisions of exact integers, deterministic on
    * the 1e-6 grid. */
  def ivfCellStats(s: SparkSession, d: String): DataFrame = {
    val (_, cells) = ivfIndex(s, d)
    cells
      .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_cells"), sum(col("sz")).as("n_vecs"),
        min(col("sz")).as("min_cell"), max(col("sz")).as("max_cell"))
      .select(col("n_cells"), col("n_vecs"), col("min_cell"), col("max_cell"),
        round(col("n_vecs").cast("double") / col("n_cells"), 6).as("avg_cell"),
        round((col("max_cell") * col("n_cells")).cast("double") / col("n_vecs"), 6)
          .as("imbalance"))
  }

  /** q_sq_recall — retrieval in the COMPRESSED domain: recall@10 of
    * int8 scalar-quantized cosine ranking against the exact float
    * ranking, over the same seed-disjoint panel as [[annRecall]].
    * q_vec_quantize measures per-vector reconstruction error; this is
    * the question that actually decides whether the 4× storage cut is
    * usable at 100 TB — does ranking by quantized scores return the
    * same neighbors? Codes are the q_vec_quantize scheme (symmetric
    * per-vector scale 127/max|x|, round-half-up, clamped), held as
    * integer-valued doubles: every code product is ≤ 127², the
    * 64-term dot sum stays ≪ 2⁵³, so quantized dot/norms are EXACT
    * integers in any summation order and the score replays
    * bit-identically in the oracle — the quantized side needs no
    * rounding grid at all (the exact side keeps round-6 as usual).
    * Scoring runs through the same codegen'd [[dot]] loop as the float
    * path (the expression is element-type-generic). Shuffle shape is
    * [[annRecall]]'s: panel·n scored rows into per-qid top-k windows;
    * on a real corpus you point it at a sampled slice. One row out:
    * k, panel size, exact/hit counts, recall. */
  def sqRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val coded = sqCoded(e)
    val panel = broadcast(
      coded.filter(panelFilter(n))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("code").as("qcode")))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exact = coded.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
    val approx = coded.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), sqCos.as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    recallSummary(exact, approx)
  }

  /** The q_vec_quantize int8 coding (symmetric per-vector scale
    * 127/max|x|, round-half-up, clamped), held as integer-valued
    * doubles — every code product ≤ 127², the 64-term dot ≪ 2⁵³, so
    * quantized scores are EXACT integers in any summation order
    * (see [[sqRecall]]). Shared by the SQ and IVF-SQ evals. */
  private def sqCoded(e: DataFrame): DataFrame = e
    .withColumn("max_abs",
      expr("greatest(array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-30)"))
    .withColumn("code",
      expr("""transform(embedding, x ->
                least(greatest(round(CAST(x AS DOUBLE) * (CAST(127 AS DOUBLE) / max_abs), 0),
                               CAST(-127 AS DOUBLE)), CAST(127 AS DOUBLE)))"""))
    .select(col("vec_id"), col("embedding"), col("code"))

  /** Quantized cosine between `code` and `qcode` — exact rationals of
    * exact integers; needs no rounding grid to replay cross-engine. */
  private def sqCos: Column =
    dot(col("code"), col("qcode")) /
      (sqrt(norm2(col("code"))) * sqrt(norm2(col("qcode"))))

  /** q_lsh_recall — recall@10 of the sign-LSH probe ([[lsh]]'s 4
    * rational hyperplanes → 16 buckets, candidates = the query's
    * bucket) against the brute-force top-10, on the SHARED seed-disjoint
    * panel — the third index's missing scorecard: IVF has
    * [[annRecall]], SQ ranking has [[sqRecall]], and a user choosing
    * between the three needs all of them measured on the same queries.
    * A bucket holding fewer than 10 candidates simply caps the hit
    * count — that lost recall IS the measurement (probing one bucket
    * reads ~1/2^planes of the corpus; [[lsh]] documents multi-probe as
    * the knob). Shuffle shape is [[annRecall]]'s: panel·n scored rows
    * into per-qid top-k windows, bucket-join pruned on the approx side.
    * Fully oracled — the rational planes replay in DuckDB. */
  def lshRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dims = 64
    val e0 = Tables.embeddings(s, d)
    val n = e0.count()
    val e = e0.withColumn("bucket", lshBucket(col("embedding"), 4, dims))
    val panel = broadcast(
      e.filter(panelFilter(n))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("bucket").as("qbucket")))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exact = e0.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
    val approx = e.join(panel, col("bucket") === col("qbucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    recallSummary(exact, approx)
  }

  /** q_ivfsq_recall — the COMPOSED compressed-domain deployment: probe
    * the trained IVF cells (nprobe=2, the [[ivf]] scheme), rank the
    * candidates by int8 quantized cosine (the [[sqRecall]] coding),
    * recall@10 vs the exact float ranking on the shared panel. This is
    * the standard big-corpus ANN stack — cells bound what you read
    * (nprobe/nlist of the corpus), codes bound what you store (4× cut)
    * — and this eval is the one number that says what the combination
    * costs in quality vs its two halves' separate evals. Index from
    * the shared [[ivfIndex]] build; probe selection scores float
    * query-vs-centroid (centroids stay float in an IVF-SQ index — only
    * corpus vectors are coded); candidate scores are exact integers
    * (no rounding grid), tie-broken by vec_id. Fully oracled. */
  def ivfSqRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val (cen, cells) = ivfIndex(s, d)
    val centroids = broadcast(cen)
    val coded = sqCoded(e)
    val panel = broadcast(
      coded.filter(panelFilter(n))
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("code").as("qcode")))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exact = e.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    val probed = panel.crossJoin(centroids)
      .select(col("qid"), col("centroid_id"),
        cosine(col("qvec"), col("cvec")).as("cos"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 2)
      .select(col("qid"), col("centroid_id").as("cell"))
    val approx = coded.join(cells, "vec_id")
      .join(broadcast(probed), "cell")
      .join(panel, "qid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), sqCos.as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    recallSummary(exact, approx)
  }

  /** Neighbors kept per vector in [[knnJoin]]. */
  private val KnnK = 3

  /** Per-tile exact top-k: stream probe rows against a materialized
    * build block (id, vec, precomputed norm), keeping a k-slot
    * insertion buffer under the family's total order — cos (rounded to
    * the shared 1e-6 grid at compare time) DESC, neighbor id ASC — so
    * merging per-tile winners under the same order is lossless. Task
    * memory is O(|block| + k); self-pairs are skipped here, matching
    * every oracle's `a.vec_id <> b.vec_id`. Shared by [[knnJoin]]'s
    * hash tiles and [[knnJoinSalted]]'s per-cell tiles. */
  private def tileTopK(
      ps: Iterator[(Long, Array[Float])],
      block: Array[(Long, Array[Float], Double)],
      k: Int): Iterator[(Long, Long, Double)] =
    ps.flatMap { case (ida, va) =>
      val na = Dedup.normD(va)
      // insertion into a k-slot buffer ordered by (cos desc, id asc)
      val top = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      var j = 0
      while (j < block.length) {
        val (idb, vb, nrm) = block(j)
        if (idb != ida) {
          val c = Dedup.round6(Dedup.dotD(va, vb) / (na * nrm))
          if (top.length < k || c > top.last._2 ||
              (c == top.last._2 && idb < top.last._1)) {
            var pos = top.length
            while (pos > 0 && (c > top(pos - 1)._2 ||
                (c == top(pos - 1)._2 && idb < top(pos - 1)._1))) pos -= 1
            top.insert(pos, (idb, c))
            if (top.length > k) top.remove(k)
          }
        }
        j += 1
      }
      top.iterator.map { case (idb, c) => (ida, idb, c) }
    }

  /** q_knn_join — batch kNN self-join: the top-[[KnnK]] cosine
    * neighbors for EVERY vector at once (semantic dedup / retrieval
    * ground-truth construction — the batch dual of [[knn]]'s single
    * probe). Executed as a distributed corpus × corpus block
    * nested-loop with a TWO-LEVEL top-k: every vector hashes into one
    * of nb blocks, each (probe block, build block) pair is a tile, a
    * cogroup per tile materializes only the build block (≤
    * [[Dedup.tileRows]] rows, norms precomputed) and keeps a local
    * top-k per probe row — so the post-tile shuffle carries n·nb·k
    * rows, NOT the n² compared pairs — and a ranking window merges the
    * per-tile winners into the global top-k. Task memory is O(tileRows
    * + k); nothing reaches the driver (the block count derives from one
    * count()). Local and global selection use the SAME total order
    * (round-6 cosine desc, neighbor id asc) so tile-local pruning is
    * exact, not approximate — merging per-tile top-k under a total
    * order is lossless. At 100 TB the O(n²) compare cost makes this the
    * exact baseline you run per LSH/IVF bucket; the SHAPE (bounded
    * tiles, heap-sized shuffle) is what survives the scale-up. */
  def knnJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val n = Tables.embeddings(s, d).count()
    val par = s.sparkContext.defaultParallelism
    // enough tiles (nb²) to feed every core; blocks capped at tileRows
    val nbL = math.max(math.ceil(math.sqrt(par.toDouble)).toLong,
      (n + Dedup.tileRows - 1) / Dedup.tileRows)
    val nb = math.max(1L, math.min(nbL, math.max(1L, n))).toInt
    val k = KnnK
    val tagged = e.map { case (id, v) =>
      (Math.floorMod(java.lang.Long.hashCode(id), nb), id, v)
    }
    // probe rows visit every build block; build rows every probe block
    val probe = tagged.flatMap { case (b, id, v) =>
      Iterator.range(0, nb).map(j => ((b, j), id, v))
    }
    val build = tagged.flatMap { case (b, id, v) =>
      Iterator.range(0, nb).map(i => ((i, b), id, v))
    }
    val local = probe.groupByKey(_._1).cogroup(build.groupByKey(_._1)) {
      case (_, ps, bs) =>
        val block = bs.map { case (_, id, v) => (id, v, Dedup.normD(v)) }.toArray
        tileTopK(ps.map { case (_, id, v) => (id, v) }, block, k)
    }.toDF("vec_id", "neighbor", "cos_sim")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("neighbor").asc)
    local
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("neighbor"), col("cos_sim"), col("rk"))
      .orderBy("vec_id", "rk")
  }

  /** q_knn_join_cell — the SCALE path for the batch kNN join: top-
    * [[KnnK]] cosine neighbors per vector confined to the vector's OWN
    * trained IVF cell (the SemDeDup move applied to the join case —
    * [[knnJoin]] stays the exact quadratic baseline, ×10 per-row ratio
    * ~2.3 by design; this is what a deployment runs). Pairwise work
    * drops n² → Σ|cell|² ≈ n²/nlist, and the CELL ID IS THE SHUFFLE
    * KEY: both join sides hash-partition on `cell`, so at 100 TB every
    * cell's comparison executes where its vectors already live — one
    * shuffle of n rows per side, no corpus broadcast, no tile
    * explosion (a skewed cell re-tiles through [[knnJoin]]'s bounded-
    * block shape or AQE skew splitting; cell sizes are the
    * q_ivf_cell_stats health panel). The index comes from the SHARED
    * session-cached [[ivfIndex]] build — assignment is not re-trained
    * per query. A vector alone in its cell emits nothing, exactly as
    * in the oracle replay. Rank ties break like [[knnJoin]]: cos DESC
    * then neighbor id ASC, on the shared 1e-6 rounded grid — so the
    * celled result is a row-subset of a per-cell exact join, and the
    * approximation loses only cross-cell edges (priced by
    * [[knnJoinRecall]]). Fully oracled: the shared IVF training CTE
    * replays assignment, in-cell pairing, and ranking in DuckDB. */
  def knnJoinCell(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val (_, cells) = ivfIndex(s, d)
    val m = e.join(cells, Seq("vec_id"))
    val mates = m.select(col("cell"), col("vec_id").as("neighbor"),
      col("embedding").as("nb_vec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("neighbor").asc)
    m.join(mates, Seq("cell"))
      .filter(col("neighbor") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor"),
        cosine(col("embedding"), col("nb_vec")).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KnnK)
      .select(col("vec_id"), col("neighbor"), col("cos_sim"), col("rk"))
      .orderBy("vec_id", "rk")
  }

  /** Rows per tile block for [[knnJoinSalted]] — conf-overridable
    * (`spark.graft.knn.cellBlockRows`) so a spec can force multi-block
    * tiling on a tiny fixture; defaults to [[Dedup.tileRows]], the
    * family's ~2 MB block budget. */
  private[graft] def cellBlockRows(s: SparkSession): Long =
    s.conf.getOption("spark.graft.knn.cellBlockRows")
      .map(_.toLong).getOrElse(Dedup.tileRows)

  /** q_knn_join_salted — [[knnJoinCell]] made SKEW-ROBUST: identical
    * result (same cells, same total order, same oracle SQL), but the
    * within-cell all-pairs work executes as (cell, probe-block,
    * build-block) TILES instead of one shuffled equi-join task per
    * cell. Why it exists: [[knnJoinCell]]'s shuffle key is the bare
    * cell id, so a pathological cell — real embedding corpora cluster;
    * think every empty/boilerplate document embedding to one direction
    * — serializes its |cell|² compares into ONE task (tools/SkewStress
    * measures exactly this cliff). Here each vector hashes into one of
    * nb_c blocks — 1 below the block budget (a balanced corpus pays
    * ZERO replication and plans like the plain celled join), else
    * max(⌈|cell|/[[cellBlockRows]]⌉, ⌈√cores⌉) so an oversized cell
    * both bounds tile memory AND spreads over every core — and probe
    * rows visit every build
    * block of their OWN cell and vice versa, so a giant cell's work
    * spreads over nb_c² bounded tiles — the salted-join treatment
    * (`Scale.scala`'s q_salted_join) applied to the cell key, with the
    * [[knnJoin]] two-level top-k bounding task memory at O(block + k)
    * and the post-tile shuffle at |cell|·nb_c·k rows, never the
    * compared pairs. Per-cell block counts come from one count-by-cell
    * over the checkpointed assignment (≤ nlist rows, broadcast).
    * Tile-local selection uses [[tileTopK]]'s total order (round-6 cos
    * DESC, id ASC), so the window merge is exact and the result is
    * row-identical to [[knnJoinCell]] — both share one oracle. */
  def knnJoinSalted(s: SparkSession, d: String): DataFrame =
    celledTopK(s, d, KnnK).orderBy("vec_id", "rk")

  /** The salted celled candidate generator behind [[knnJoinSalted]]
    * (k = [[KnnK]]) and [[knnClassify]] (k = [[ClassifyK]]): top-k
    * cosine cellmates per vector as (vec_id, neighbor, cos_sim, rk).
    * Cells at or under the block budget keep nb = 1 (no replication,
    * one tile — the balanced-corpus fast path); a cell that tiles at
    * all gets nb = max(⌈|cell|/B⌉, ⌈√parallelism⌉) blocks, the
    * [[knnJoin]] precedent applied per cell — a giant cell must yield
    * enough nb² tiles to feed every core, not just bound tile MEMORY
    * (measured in SKEW_STRESS.json: at nb = 2 the 90 %-hot cell left
    * 28 of 32 cores idle). */
  private def celledTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val (_, cells) = ivfIndex(s, d)
    val bsz = cellBlockRows(s)
    val minNb = math.ceil(math.sqrt(s.sparkContext.defaultParallelism.toDouble)).toInt
    val nbPerCell = cells.groupBy(col("cell"))
      .agg(count(lit(1)).as("sz"))
      .select(col("cell"),
        when(col("sz") <= bsz, lit(1)).otherwise(greatest(
          ceil(col("sz").cast("double") / bsz).cast("int"), lit(minNb)))
          .as("nb"))
    val m = e.join(cells, Seq("vec_id"))
      .join(broadcast(nbPerCell), Seq("cell"))
      .select(col("cell"), col("nb"), col("vec_id"), col("embedding"))
      .as[(Long, Int, Long, Array[Float])]
    // probe rows visit every build block of their cell; build rows
    // every probe block — tile key (cell, i, j)
    val probe = m.flatMap { case (cell, nb, id, v) =>
      val b = Math.floorMod(java.lang.Long.hashCode(id), nb)
      Iterator.range(0, nb).map(j => ((cell, b, j), id, v))
    }
    val build = m.flatMap { case (cell, nb, id, v) =>
      val b = Math.floorMod(java.lang.Long.hashCode(id), nb)
      Iterator.range(0, nb).map(i => ((cell, i, b), id, v))
    }
    val local = probe.groupByKey(_._1).cogroup(build.groupByKey(_._1)) {
      case (_, ps, bs) =>
        val block = bs.map { case (_, id, v) => (id, v, Dedup.normD(v)) }.toArray
        tileTopK(ps.map { case (_, id, v) => (id, v) }, block, k)
    }.toDF("vec_id", "neighbor", "cos_sim")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("neighbor").asc)
    local
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("neighbor"), col("cos_sim"), col("rk"))
  }

  /** q_knn_join_recall — prices what [[knnJoinCell]]'s cell confinement
    * costs vs the exact [[knnJoin]]: edge recall = |celled top-k edges
    * ∩ exact top-k edges| / |exact top-k edges|, over EVERY vector (a
    * graph-level recall — the neighbor-graph consumers like SemDeDup
    * clustering and kNN-graph construction see exactly this loss).
    * Both sides reuse the already-declared relations (the exact side
    * pays its quadratic cost once here, as every recall eval in the
    * family does); the summary is one row, n_exact / n_hit / recall on
    * the 1e-6 grid. Fully oracled: exact all-pairs CTE ∩ the shared
    * IVF-chain celled CTE in DuckDB. */
  def knnJoinRecall(s: SparkSession, d: String): DataFrame = {
    val exact = knnJoin(s, d).select(col("vec_id"), col("neighbor"))
    val celled = knnJoinCell(s, d)
      .select(col("vec_id"), col("neighbor"), lit(1).as("hit"))
    exact.join(celled, Seq("vec_id", "neighbor"), "left")
      .agg(
        lit(KnnK).cast("int").as("k"),
        count(lit(1)).as("n_exact"),
        count(col("hit")).as("n_hit"),
        round(count(col("hit")).cast("double") / count(lit(1)), 6).as("recall"))
  }

  /** Metadata predicate for [[annFiltered]]: label = 3 — one of the 10
    * ~uniform classes, i.e. a ~10 % selectivity filter. Fixed so the
    * eval (and its oracle) measures one stable operating point. */
  private[graft] val FilterLabel = 3

  /** Probe widths the filtered eval compares: the family default
    * (nprobe = 2, every other recall eval's width) vs the doubled
    * probe — THE standard mitigation when a filter thins the probed
    * cells. */
  private[graft] val FilteredNprobes = Seq(2, 4)

  /** q_ann_filtered — FILTERED vector search, the hard case every
    * vector store documents (and the shape every retrieval pipeline
    * with metadata actually runs: "nearest neighbors WHERE label =
    * …"): recall@10 of the post-filtered IVF probe vs the filtered
    * brute-force top-10, on the SHARED seed-disjoint panel. The
    * filter ([[FilterLabel]], ~10 % selectivity) applies to the
    * CORPUS side in both retrievals — exact ranks only matching
    * vectors; the probe keeps its cells from the UNFILTERED geometry
    * (cells are trained on everything — a filter is a query-time
    * predicate, not an index) and the filter prunes candidates
    * INSIDE the probed cells, before ranking: predicate pushdown into
    * the index probe, not a post-rank discard that can return < k
    * rows. Two summary rows price the known failure mode: with ~10 %
    * of each cell surviving the filter, nprobe = 2 sees ~10 % of the
    * candidates the unfiltered eval sees and recall drops; doubling
    * the probe ([[FilteredNprobes]]) buys it back — the operating
    * curve a deployment tunes nprobe against. At 100 TB the label
    * filter pushes into the cell-partitioned parquet scan (a
    * PushedFilters row, not a post-scan filter), the panel and
    * centroid sets broadcast, and per-query rankings ride (nprobe,
    * qid)-keyed windows — panel·(n/10) rows, CHEAPER than the
    * unfiltered eval. Fully oracled: filter, probe, both rankings,
    * and the per-nprobe fold replay in DuckDB over the shared IVF
    * training CTE on the rounded-cosine grid. */
  def annFiltered(s: SparkSession, d: String): DataFrame =
    annFilteredAt(s, d, Seq(FilterLabel), FilteredNprobes)

  /** [[annFiltered]] with the filter's label set (selectivity) and the
    * probe widths exposed — `Sweep filtered` measures the
    * selectivity × nprobe recall surface on this; the declared query
    * stays pinned at ({3}, {2, 4}). */
  private[graft] def annFilteredAt(s: SparkSession, d: String,
      labels: Seq[Int], nprobes: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val eAll = Tables.embeddings(s, d)
    val n = eAll.count()
    val (cen, cells) = ivfIndex(s, d)
    val panel = recallPanel(eAll, n)
    val np = broadcast(nprobes.toDF("nprobe"))
    // single label stays === (plans as the EqualTo pushdown the guard
    // pins); a multi-label sweep point pushes down as In
    val fCorpus = eAll.filter(
      if (labels.size == 1) col("label") === labels.head
      else col("label").isin(labels.map(Int.box): _*))
      .select(col("vec_id"), col("embedding"))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exact = fCorpus.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    val probed = panel.crossJoin(broadcast(cen))
      .select(col("qid"), col("centroid_id"),
        cosine(col("qvec"), col("cvec")).as("cos"))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= nprobes.max)
      .select(col("qid"), col("centroid_id").as("cell"), col("prank"))
    val wqn = Window.partitionBy(col("nprobe"), col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val approx = fCorpus.join(cells, "vec_id")
      .join(broadcast(probed), "cell")
      .join(panel, "qid")
      .filter(col("vec_id") =!= col("qid"))
      .crossJoin(np)
      .filter(col("prank") <= col("nprobe"))
      .select(col("nprobe"), col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wqn)).filter(col("rn") <= 10)
      .select(col("nprobe"), col("qid"), col("vec_id"), lit(1).as("hit"))
    exact.crossJoin(np)
      .join(approx, Seq("nprobe", "qid", "vec_id"), "left")
      .groupBy(col("nprobe"), col("qid"))
      .agg(count(lit(1)).as("nx"), count(col("hit")).as("nh"))
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("nx")).as("n_exact"), sum(col("nh")).as("n_hit"))
      .select(col("nprobe"), lit(10).as("k"), col("n_queries"),
        col("n_exact").cast("long").as("n_exact"),
        col("n_hit").cast("long").as("n_hit"),
        round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
      .orderBy("nprobe")
  }

  /** RRF smoothing constant — the standard k = 60 (Cormack et al.,
    * SIGIR 2009): rank r contributes 1/(60 + r). */
  private[graft] val RrfK = 60

  /** q_hybrid_search — hybrid lexical + vector retrieval with
    * reciprocal-rank fusion: the RAG-pipeline retrieval shape
    * (rerankers consume exactly this fused shortlist). For each query
    * document on the SHARED panel (doc_id ≡ vec_id — the crossmodal
    * contract q_crossmodal_join pins):
    *  - LEXICAL leg: candidates sharing ≥1 distinct token, scored by
    *    distinct-token overlap COUNT (an exact integer — the
    *    deterministic stand-in for BM25's float; q_tfidf owns weighted
    *    scoring), top-10 by (overlap DESC, doc ASC). The join is
    *    posting-list-shaped: query tokens × the token-keyed corpus —
    *    an equi-join on the token (the inverted-index key at 100 TB;
    *    one side is the ~20-query panel, so the join is bounded by the
    *    panel's posting lists, never corpus×corpus — stop-token skew
    *    is the q_boiler_ngrams/q_ccnet_bucket family's job upstream).
    *  - VECTOR leg: top-10 cosine within the top-2 probed IVF cells
    *    (the [[annRecall]] probe shape off the shared index).
    *  - FUSION: RRF — score = Σ_legs 1/([[RrfK]] + rank), absent leg
    *    contributes 0; top-5 by (rrf DESC, doc ASC). Both engines
    *    compute 1/(60+r) as one IEEE division of exact ints and one
    *    addition in fixed order → bit-identical, ranked UNROUNDED,
    *    rounded to the 1e-6 grid only at the output edge.
    * A query absent from both legs emits nothing. Fully oracled:
    * tokenization, both rankings, and the fusion replay in DuckDB
    * over the shared IVF training CTE. */
  def hybridSearch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val (cen, cells) = ivfIndex(s, d)
    val panel = recallPanel(e, n)
    // NOT pinned, deliberately: localCheckpointing this exploded
    // pre-aggregation token relation measured SLOWER (q_hybrid_search
    // 1.9 → 2.1 s warm) — raw-token materialization costs more than the
    // one extra tokenize pass it saves (the opposite of bm25TopK's
    // post-aggregation tf pin)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
    // panel docs join BEFORE the explode (r17, guide §2.3 project
    // early): the optimizer cannot push a join below a Generate, so
    // deriving qtok from `toks` re-exploded the WHOLE corpus to keep
    // ~20 panel docs' tokens — a second full tokenize pass per
    // invocation. Same (qid, tok) rows: the join key is the doc id,
    // explode-then-filter ≡ filter-then-explode.
    val qtok = Tables.documents(s, d)
      .join(panel.select(col("qid")), col("doc_id") === col("qid"))
      .select(col("qid"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
    val wl = Window.partitionBy(col("qid"))
      .orderBy(col("overlap").desc, col("doc_id").asc)
    val lex = toks.join(broadcast(qtok), "tok")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
      .withColumn("lrank", row_number().over(wl)).filter(col("lrank") <= 10)
      .select(col("qid"), col("doc_id"), col("lrank"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    val probed = panel.crossJoin(broadcast(cen))
      .select(col("qid"), col("centroid_id"),
        cosine(col("qvec"), col("cvec")).as("cos"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 2)
      .select(col("qid"), col("centroid_id").as("cell"))
    val wv = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    val vec = e.join(cells, "vec_id")
      .join(broadcast(probed), "cell")
      .join(panel, "qid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("vrank", row_number().over(wv)).filter(col("vrank") <= 10)
      .select(col("qid"), col("doc_id"), col("vrank"))
    val fused = lex.join(vec, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        (coalesce(lit(1.0) / (lit(RrfK) + col("lrank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("vrank")), lit(0.0))).as("rrf"))
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rk", row_number().over(wf)).filter(col("rk") <= 5)
      .select(col("qid"), col("doc_id"),
        round(col("rrf"), 6).as("rrf"), col("rk"))
      .orderBy("qid", "rk")
  }

  /** q_hybrid_weighted — [[hybridSearch]] with the WEIGHTED lexical leg
    * RAG stacks actually deploy (BM25-ish × vector): a third RRF leg
    * ranks candidates by summed inverse document frequency of the
    * shared tokens, so rare shared terms outvote stop-ish ones — the
    * raw-overlap leg counts "the" and "quantum" alike; this leg does
    * not. Determinism: each token's idf = ln(N/df) enters as the
    * 1e-6 fixed-point long floor(ln·1e6 + 0.5) (the q_quality_logit
    * lnfp discipline — one libm call per DISTINCT query token, then
    * integer arithmetic), so the per-candidate score is a sum of exact
    * longs — order-independent, replayed bit-identically in DuckDB —
    * and ranking needs no rounding grid at all. Scale shape: df is one
    * token-keyed agg over the corpus (the inverted index's df stat);
    * the idf weights attach to the PANEL's tokens (≈20 queries' worth
    * — broadcastable at any corpus size), so the weighted leg is the
    * same panel-bounded posting-list join as the count leg with one
    * integer column along for the ride. FUSION: RRF over three legs —
    * score = Σ 1/([[RrfK]] + rank), absent leg contributes 0 — each
    * term one IEEE division of exact ints, summed in fixed leg order →
    * bit-identical cross-engine; top-5 by (rrf DESC, doc ASC), rounded
    * to the 1e-6 grid only at the output edge. Fully oracled. */
  def hybridWeighted(s: SparkSession, d: String): DataFrame =
    hybridWeightedAt(s, d, RrfK)

  /** [[hybridWeighted]] with the fusion knobs as parameters — what
    * tools/FusionSweep turns to justify the shipped defaults. `rrfK`
    * is the RRF constant (small ≈ winner-take-all per leg; large ≈
    * leg-count consensus — measured to be a no-op on membership here);
    * `vecWeight` scales the VECTOR leg's vote (the knob that actually
    * moves the lexical/semantic balance, because the two correlated
    * lexical legs double-vote — see PLANS.md / FUSION_SWEEP.json). At
    * the default 1.0 the term is left unmultiplied, so the declared
    * query's plan and oracle are byte-identical to round 8's. */
  private[graft] def hybridWeightedAt(s: SparkSession, d: String, rrfK: Int,
      vecWeight: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val (cen, cells) = ivfIndex(s, d)
    val panel = recallPanel(e, n)
    // BOTH lexical legs in ONE posting join + ONE aggregation
    // ([[hybridLexCand]]): they group by the same (qid, doc) key over
    // the same candidate set, so count(overlap) and sum(idf_fp) ride
    // one pass where two separate legs each re-joined the corpus token
    // relation. The panel-bounded post-agg result is pinned once per
    // invocation (the bm25TopK tf-pin precedent) for its two rank
    // consumers — WITHOUT the pin the two consumers re-derived the
    // whole posting join + df agg (ReuseExchange does NOT consolidate
    // them across the fused plan's branches: measured 35 jobs /
    // 5.4-7.2 s job-wall vs 30 / 2.8 s pinned). PlanHygieneSpec asserts
    // the posting-join shape on hybridLexCand directly (the checkpoint
    // hides it from the declared plan) plus the unchanged cell leg on
    // the declared plan.
    val cand = graft.Pins.checkpoint(hybridLexCand(s, d, panel))
    val wl = Window.partitionBy(col("qid"))
      .orderBy(col("overlap").desc, col("doc_id").asc)
    val lex = cand
      .withColumn("lrank", row_number().over(wl)).filter(col("lrank") <= 10)
      .select(col("qid"), col("doc_id"), col("lrank"))
    val ww = Window.partitionBy(col("qid"))
      .orderBy(col("w_fp").desc, col("doc_id").asc)
    val wlex = cand
      .withColumn("wrank", row_number().over(ww)).filter(col("wrank") <= 10)
      .select(col("qid"), col("doc_id"), col("wrank"))
    // vector leg (the shared-index probe shape, unchanged)
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    val probed = panel.crossJoin(broadcast(cen))
      .select(col("qid"), col("centroid_id"),
        cosine(col("qvec"), col("cvec")).as("cos"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 2)
      .select(col("qid"), col("centroid_id").as("cell"))
    val wv = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("doc_id").asc)
    val vec = e.join(cells, "vec_id")
      .join(broadcast(probed), "cell")
      .join(panel, "qid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("doc_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("vrank", row_number().over(wv)).filter(col("vrank") <= 10)
      .select(col("qid"), col("doc_id"), col("vrank"))
    val fused = lex
      .join(wlex, Seq("qid", "doc_id"), "full_outer")
      .join(vec, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        {
          val vecTerm = coalesce(lit(1.0) / (lit(rrfK) + col("vrank")), lit(0.0))
          (coalesce(lit(1.0) / (lit(rrfK) + col("lrank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfK) + col("wrank")), lit(0.0)) +
            (if (vecWeight == 1.0) vecTerm else lit(vecWeight) * vecTerm))
            .as("rrf")
        })
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    fused.withColumn("rk", row_number().over(wf)).filter(col("rk") <= 5)
      .select(col("qid"), col("doc_id"),
        round(col("rrf"), 6).as("rrf"), col("rk"))
      .orderBy("qid", "rk")
  }

  /** [[hybridLexCand]] with the panel derived internally — the spec's
    * entry point for planning the candidate relation standalone. */
  private[graft] def hybridLexCandPlan(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    hybridLexCand(s, d, recallPanel(e, e.count()))
  }

  /** The shared lexical-leg candidate generator of [[hybridWeightedAt]]:
    * one posting join (corpus tokens ⋈ broadcast panel-token/idf table)
    * + one (qid, doc)-keyed aggregation carrying BOTH legs' scores
    * (overlap count and idf_fp sum). Factored out so PlanHygieneSpec
    * can assert the posting-join shape (token equi-join, no cartesian)
    * on the relation the checkpoint in [[hybridWeightedAt]] hides from
    * the declared plan. */
  private[graft] def hybridLexCand(s: SparkSession, d: String,
      panel: DataFrame): DataFrame = {
    val docs = Tables.documents(s, d)
    // NOT pinned (see hybridSearch: raw-token checkpoint measured slower)
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    // panel join BEFORE the explode (r17 — see hybridSearch's qtok):
    // deriving from `toks` re-exploded the whole corpus to keep the
    // ~20 panel docs' tokens; same (qid, tok) rows
    val qtok = docs
      .join(panel.select(col("qid")), col("doc_id") === col("qid"))
      .select(col("qid"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
    // weighted leg's idf_fp per query token (fixed-point long). Every
    // query token has df ≥ 1 (the query doc itself carries it), so the
    // inner join against the df table keeps qtok's full key set — which
    // is what lets the count leg ride the SAME posting join below.
    val dfT = toks.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val qtokIdf = qtok.join(dfT, "tok").crossJoin(broadcast(nDocs))
      .select(col("qid"), col("tok"),
        floor(log(col("n_docs").cast("double") / col("df")) * 1e6 + 0.5)
          .cast("long").as("idf_fp"))
    toks.join(broadcast(qtokIdf), "tok")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"), sum(col("idf_fp")).as("w_fp"))
  }

  /** Vector-leg vote weight for [[hybridParity]]: the MEASURED parity
    * operating point from the round-9 fusion sweep (FUSION_SWEEP.json
    * `vec_weight_rows`; curve recorded in PLANS.md "RRF
    * fusion-balance"). The two correlated lexical legs double-vote, so
    * w = 2 is exactly vote parity — the boundary where semantic
    * neighbors first enter the fused top-5 (sem@5 0 → 0.21 at sf0.1)
    * without handing the set to the vector leg (lex@5 stays 0.59;
    * w ≥ 3 collapses it to 0.02). */
  private[graft] val ParityVecWeight = 2.0

  /** q_hybrid_parity — [[hybridWeighted]] at the measured PARITY
    * operating point: identical three-leg plan, vector-leg RRF vote
    * scaled by [[ParityVecWeight]] = 2. Shipped as a declared twin of
    * q_hybrid_weighted (the q_ann_filtered nprobe-2-vs-4 precedent —
    * twin rows pricing a trade) because the repo's own sweep proves
    * the w = 1 literature default has a DEAD vector leg on this
    * corpus: the correlated count + idf legs hold two votes each, so
    * exact-cosine members never reach the fused top-5 (sem@5 = 0 at
    * every k ∈ [10, 300]). At w = 2 the vector leg reaches vote
    * parity and the fused set mixes both modalities — the operating
    * point a RAG deployment actually wants from a "hybrid" query.
    * Determinism: 2·(1/(k+r)) is an exact power-of-two scaling of the
    * same IEEE division, summed in the same fixed leg order, so the
    * oracle replays bit-identically; rounding stays at the output
    * edge only. Fully oracled (twin CTE with the one-constant vote
    * change); mixed-membership pinned by spec on a crafted corpus. */
  def hybridParity(s: SparkSession, d: String): DataFrame =
    hybridWeightedAt(s, d, RrfK, vecWeight = ParityVecWeight)

  /** q_bm25_topk — full Okapi BM25 ranking (Robertson/Spärck Jones; the
    * Lucene practical scoring function): the WEIGHTED lexical retriever
    * the [[hybridWeighted]] idf leg approximates with a plain idf sum.
    * For each query doc on the SHARED panel, every candidate sharing a
    * token is scored Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with k1 = 1.2, b = 0.75 and the Lucene idf
    * ln((N − df + 0.5)/(df + 0.5) + 1) (always ≥ 0); top-10 per query.
    *
    * Determinism (the repo's layered fixed-point discipline): idf
    * enters as the 1e-6 long floor(ln·1e6 + 0.5) — one libm call per
    * DISTINCT query token; tf, dl, N, Σdl are exact integers, so the
    * per-term score is a FIXED chain of correctly-rounded IEEE ops on
    * identical operands (dl/avgdl clears the average's division as
    * dl·N/Σdl — one exact integer product, one division) and replays
    * bit-identically in DuckDB; each term then snaps to the 1e-9 long
    * grid BEFORE the per-(query, doc) sum (the docPerplexity scheme) so
    * the fold is order-independent, and ranking compares exact longs
    * (doc ASC tie-break). The double leaves the grid only in the
    * displayed score.
    *
    * Scale shape: tf is ONE tokenize pass (doc-keyed agg carrying dl —
    * no second corpus join for lengths); df one token-keyed agg; the
    * candidate join is posting-list-shaped and bounded by the ~20-query
    * panel's posting lists (the hybrid-leg contract), with the
    * (panel-token × idf) table and the 1-row corpus scalars broadcast. */
  def bm25TopK(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val panel = recallPanel(e, n)
    val docs = Tables.documents(s, d)
    // (doc, token) frequency with doc length along for the ride —
    // pinned once per invocation (fresh every run): tf feeds the
    // document-frequency table, the corpus scalars, the query-token
    // probe AND the scoring join, four differently-pruned subtrees
    // that each re-derived the tokenize+count pass unpinned
    val tf = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
        explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.Pins.checkpoint)
    val dfT = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // corpus scalars OFF the tf relation (exchange-reusable) — a
    // separate docs aggregate would tokenize the corpus a second time.
    // Every doc has ≥ 1 token (split('') = ['']), so distinct doc_id
    // counts all docs, and Σ tf over all (doc, tok) rows is Σ dl.
    val scal = tf.agg(countDistinct(col("doc_id")).as("n_docs"),
      sum(col("tf")).as("dl_sum"))
    // distinct query tokens × fixed-point Lucene idf (panel-sized)
    val qidf = tf.join(panel.select(col("qid")), col("doc_id") === col("qid"))
      .select(col("qid"), col("tok")).distinct()
      .join(dfT, "tok").crossJoin(broadcast(scal))
      .select(col("qid"), col("tok"), col("n_docs"), col("dl_sum"),
        floor(log((col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5)) + lit(1.0)) * 1e6 + 0.5)
          .cast("long").as("idf_fp"))
    val den = col("tf").cast("double") + lit(1.2) *
      (lit(0.25) + lit(0.75) *
        ((col("dl") * col("n_docs")).cast("double") / col("dl_sum")))
    val term = col("idf_fp").cast("double") / lit(1000000.0) *
      (col("tf").cast("double") * lit(2.2)) / den
    val scored = tf.join(broadcast(qidf), "tok")
      .filter(col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        floor(term * lit(1000000000.0) + lit(0.5)).as("term_fp"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("term_fp")).as("bm25_fp"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("bm25_fp").desc, col("doc_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
      .select(col("qid"), col("doc_id"),
        round(col("bm25_fp").cast("double") / lit(1000000000.0), 6).as("bm25"),
        col("rk"))
      .orderBy("qid", "rk")
  }

  /** Vote depth for [[knnClassify]] — the conventional k = 10. */
  private[graft] val ClassifyK = 10

  /** q_knn_classify — kNN label propagation OFF THE SHARED INDEX: each
    * vector takes the majority label of its top-[[ClassifyK]] cosine
    * neighbors within its own trained IVF cell (the [[celledTopK]]
    * SALTED candidate shape — n²/nlist pairs over bounded per-cell
    * tiles, so a hot cell spreads instead of serializing into one
    * task, no corpus broadcast), and the one summary row reports accuracy
    * against the true labels: the EVAL a weak-labeling / auto-curation
    * pipeline runs to decide whether neighbor labels are trustworthy
    * enough to propagate to unlabeled data. Vote ties break (votes
    * DESC, label ASC); neighbor ranking uses the family's (cos DESC,
    * id ASC) on the shared 1e-6 grid; a vector alone in its cell has
    * no electorate and is excluded from n_scored, exactly as in the
    * oracle. Absolute accuracy on the synthetic near-orthogonal
    * embeddings is data-limited (10 classes ⇒ ~0.1 floor) — the op's
    * value is the deterministic, fully-oracled vote pipeline: cells,
    * ranking, votes, tie-break, and the fold all replay in DuckDB
    * over the shared IVF training CTE. */
  def knnClassify(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    // candidates come from the SALTED celled generator (round 8): the
    // bare-cell equi-join shape serialized a 90 %-hot cell's electorate
    // into one task (SKEW_STRESS.json's 37× cliff); the tiled shape
    // degrades by Σnb² instead. Labels rejoin on the bounded n·k
    // candidate set, not inside the pairing.
    val top = celledTopK(s, d, ClassifyK)
      .join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("neighbor"),
        col("label").as("nb_label")), Seq("neighbor"))
    val wv = Window.partitionBy(col("vec_id"))
      .orderBy(col("votes").desc, col("nb_label").asc)
    val pred = top.groupBy(col("vec_id"), col("label"), col("nb_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(wv)).filter(col("vr") === 1)
    pred.agg(
      lit(ClassifyK).as("k"),
      count(lit(1)).as("n_scored"),
      sum(when(col("nb_label") === col("label"), 1L).otherwise(0L))
        .as("n_correct"),
      round(sum(when(col("nb_label") === col("label"), 1L).otherwise(0L))
        .cast("double") / count(lit(1)), 6).as("accuracy"))
  }

  /** Hard negatives kept per anchor by [[hardNegatives]]. */
  private[graft] val HardNegK = 2

  /** q_hard_negatives — contrastive-training hard-negative mining OFF
    * THE SHARED INDEX: for every vector, the [[HardNegK]] most similar
    * DIFFERENT-label neighbors among its top-[[ClassifyK]] cosine
    * cellmates — the "close in embedding space, different in class"
    * pairs an embedding-model trainer batches as negatives (easy
    * negatives teach nothing; the hard ones carry the gradient).
    * Candidates come from the same SALTED celled generator as
    * [[knnClassify]] (n²/nlist pairs over bounded per-cell tiles —
    * never an all-pairs or a corpus broadcast), labels rejoin on the
    * bounded n·k candidate set, and the different-label re-rank is a
    * per-anchor row_number on the family's (cos DESC, id ASC) 1e-6
    * grid. Mining depth is bounded by the candidate set BY DESIGN: an
    * anchor whose 10 nearest cellmates all share its label emits
    * fewer (or zero) rows rather than paying a wider search — at
    * 100 TB that is the correct cost class (the miner consumes an
    * already-built neighbor graph; it never builds its own). Fully
    * oracled: the two-stage rank (cellmate top-10, THEN label-filter,
    * THEN top-2) replays in DuckDB over the shared IVF training CTE. */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val cand = celledTopK(s, d, ClassifyK)
      .join(labels, Seq("vec_id"))
      .withColumnRenamed("label", "anchor_label")
      .join(labels.select(col("vec_id").as("neighbor"),
        col("label").as("neg_label")), Seq("neighbor"))
      .filter(col("neg_label") =!= col("anchor_label"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_sim").desc, col("neighbor").asc)
    cand
      .withColumn("neg_rk", row_number().over(w))
      .filter(col("neg_rk") <= HardNegK)
      .select(col("vec_id"), col("anchor_label"), col("neighbor"),
        col("neg_label"), col("cos_sim"), col("neg_rk").cast("int").as("neg_rk"))
      .orderBy("vec_id", "neg_rk")
  }

  /** Truncation widths [[matryoshkaRecall]] prices (the full width is
    * the 64-dim exact side). */
  private[graft] val MatryoshkaDims = Seq(8, 16, 32)

  /** q_matryoshka_recall — prefix-truncation operating curve
    * (Matryoshka-representation eval): recall@10 of cosine over only
    * the first 8/16/32 embedding components against the full-64-dim
    * exact top-10, on the family's shared stride-sampled query panel —
    * the measurement that decides whether a deployment can serve a
    * cheaper PREFIX of its vectors (a 4× memory/bandwidth cut with no
    * re-embedding) the way [[sqRecall]]/[[pqRecall]] price scalar/
    * product quantization. One curve, three rows (dims, recall) from
    * the same panel, so the three compression families are directly
    * comparable. Cost shape: panel·n pairs per width over a BOUNDED
    * (~20-query) panel — the stride grows with the corpus, exactly the
    * recall-family discipline; the full-dim exact side is computed
    * once and shared across the three widths. Fully oracled: list
    * slices + the rounded-cosine grid replay in DuckDB. */
  def matryoshkaRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val panel = recallPanel(e, n)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    // NOT checkpointed: each consumer re-derives the pairs with one
    // map-side broadcast cross-join over the corpus scan — cheaper at
    // any scale than materializing panel·n embedding-width rows
    val pairs = e.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
    // pinned: the full-width exact side feeds all three truncation
    // branches — without the pin each union branch would replay the
    // most expensive ranking; the pinned relation is panel·10 id
    // pairs, trivially small at any corpus scale
    val exact = pairs
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
      .transform(graft.Pins.checkpoint)
    val perDim = MatryoshkaDims.map { dims =>
      val approx = pairs
        .select(col("qid"), col("vec_id"),
          cosine(slice(col("embedding"), 1, dims),
            slice(col("qvec"), 1, dims)).as("cos"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
        .select(col("qid"), col("vec_id"), lit(1).as("hit"))
      recallSummary(exact, approx)
        .select(lit(dims).as("dims"), col("k"), col("n_queries"),
          col("n_exact"), col("n_hit"), col("recall"))
    }
    perDim.reduce(_.unionAll(_)).orderBy("dims")
  }

  /** Radius for [[rangeSearch]] — on the synthetic near-orthogonal
    * embeddings 0.3 admits a real but bounded neighborhood (33–307
    * matches across the driver's scale factors; 0.5 admits none). */
  private[graft] val RangeTau = 0.3

  /** q_range_search — RANGE (radius) retrieval off the shared index:
    * "every vector with cosine ≥ τ of the query", the retrieval shape
    * near-duplicate sweeps and contamination scans run (top-k bounds
    * the COUNT; range bounds the SIMILARITY — a dedup wants all docs
    * above the bar, however many there are). Per panel query the probe
    * visits the top-2 trained cells and keeps in-cell candidates on
    * the τ bar; the eval row prices what the cell bound costs against
    * the exact τ-neighborhood (range_recall = found/exact — the
    * index-shopping number for radius workloads, next to
    * [[annRecall]]'s top-k row). Cost shape: the probe side is
    * cells-join + broadcast(panel ∪ probed) — candidate work is
    * panel·(2n/nlist), never panel·n; the exact side is the same
    * eval-on-a-slice pass every recall row in this family pays.
    * Fully oracled over the shared IVF training CTE on the rounded
    * grid (a threshold COMPARE of two 1e-6-rounded doubles cannot
    * flip cross-engine). */
  def rangeSearch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val (cen, cells) = ivfIndex(s, d)
    val panel = recallPanel(e, n)
    val exact = e.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .filter(col("cos") >= RangeTau)
      .select(col("qid"), col("vec_id"))
    val wp = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("centroid_id").asc)
    val probed = panel.crossJoin(broadcast(cen))
      .select(col("qid"), col("centroid_id"),
        cosine(col("qvec"), col("cvec")).as("cos"))
      .withColumn("rn", row_number().over(wp)).filter(col("rn") <= 2)
      .select(col("qid"), col("centroid_id").as("cell"))
    val found = e.join(cells, "vec_id")
      .join(broadcast(probed), "cell")
      .join(panel, "qid")
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .filter(col("cos") >= RangeTau)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    exact.join(found, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("nx"), count(col("hit")).as("nh"))
      .agg(count(lit(1)).as("n_queries"),
        sum(col("nx")).as("n_exact"), sum(col("nh")).as("n_found"))
      .select(lit(RangeTau).as("tau"), col("n_queries"),
        col("n_exact"), col("n_found"),
        round(col("n_found").cast("double") / col("n_exact"), 6)
          .as("range_recall"))
  }

  /** Projected dimensionality for [[srpRecall]] (64 → 16, a 4× cut). */
  private[graft] val SrpDims = 16

  /** The ±1 sign matrix for [[srpRecall]] — the SAME rational residue
    * family as [[plane]] (sign of ((i·31 + j·17) mod 101) − 50.5), so
    * the projection replays in ANY engine: +1 iff the residue ≥ 51. */
  private[graft] def srpSign(i: Int, j: Int): Long =
    if ((i * 31 + j * 17) % 101 >= 51) 1L else -1L

  /** q_srp_recall — signed-random-projection (Johnson–Lindenstrauss)
    * dimensionality reduction as a retrieval tier: project 64-d → 16-d
    * with a deterministic ±1 matrix, rank by PROJECTED cosine, report
    * recall@10 vs the exact float ranking on the shared panel — the
    * fourth compression row (next to SQ / PQ / IVF-SQ) on the same
    * scorecard, pricing a 4× dimension cut. All projection arithmetic
    * is EXACT integer: components enter as round(v·1e6) longs, each
    * projected coordinate is a ±sum of 64 longs, and the projected
    * dot is a sum of 16 long products (≤6.6e16, well inside int64) —
    * so both engines rank identical values and the 1e-6 output grid
    * carries no drift at all. At scale the projection is one map-side
    * pass (the 16×64 sign matrix is a literal), storage drops 4×, and
    * every downstream ANN op runs on the short vectors. */
  def srpRecall(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val panel = recallPanel(e, n)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exact = e.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
    // the projection: xs = round(v_i·1e6) exact longs; p_j = Σ ±xs_i.
    // COMPACT HOF form with the sign rule evaluated arithmetically
    // inside the lambda — the serving-expression lesson (PLANS.md,
    // round 8) applies to batch plans too: the unrolled-literal form
    // (16×64 scalar nodes per coordinate) spent ~5 s in
    // analysis+codegen of the tree alone; this ~40-node tree plans
    // instantly and the 16×64 fold over a 2k-row eval corpus is
    // noise. xs binds as its own projection first so the fold reads a
    // materialized row value, not a re-evaluated subtree.
    val toXs = (vec: Column) =>
      transform(vec, x => round(x.cast("double") * 1e6).cast("long"))
    val projXs = (xs: Column) =>
      transform(sequence(lit(0), lit(SrpDims - 1)), j =>
        aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, i) =>
          acc + when((i * 31 + j * 17) % 101 >= 51,
            element_at(xs, i + 1)).otherwise(-element_at(xs, i + 1))))
    val pc = e.select(col("vec_id"), toXs(col("embedding")).as("xs"))
      .select(col("vec_id"), projXs(col("xs")).as("p"))
    val pq = panel.select(col("qid"), toXs(col("qvec")).as("xs"))
      .select(col("qid"), projXs(col("xs")).as("pq"))
    // projected dot = Σ of 16 exact long products; norms likewise —
    // the single long→double conversion and sqrt are IEEE-identical
    // everywhere, then the 1e-6 grid rounds a drift-free value.
    def ldot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, v) => acc + v)
    val approx = pc.crossJoin(broadcast(pq))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(ldot(col("p"), col("pq")).cast("double") /
          (sqrt(ldot(col("p"), col("p")).cast("double")) *
            sqrt(ldot(col("pq"), col("pq")).cast("double"))), 6).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    recallSummary(exact, approx)
      .select(lit(SrpDims).as("proj_dims"), col("k"), col("n_queries"),
        col("n_exact"), col("n_hit"), col("recall"))
  }

  /** Hamming-shortlist depth the [[bqRecall]] exact rescore reads. */
  private[graft] val BqRerank = 50

  /** The msb-first acc·2+bit packing fold over two named array
    * columns — ONE definition shared by the corpus coder ([[bqCoded]])
    * and the serving tier's map-side query coder
    * ([[graft.streaming.StreamingIndex.sBqServe]]), so corpus and
    * query bits cannot drift. */
  private[graft] def bqPackExpr(xs: String, ts: String, lo: Int, hi: Int): Column = expr(
    s"""aggregate(sequence($lo, $hi), CAST(0 AS BIGINT),
       |  (acc, j) -> acc * 2 + if(element_at($xs, j) > element_at($ts, j),
       |                           CAST(1 AS BIGINT), CAST(0 AS BIGINT)))""".stripMargin)

  /** Per-dim corpus-mean thresholds as one sorted-array row — the BQ
    * coder's only trained state (64 longs; floor of ONE IEEE double
    * division per dim — identical cross-engine). */
  private[graft] def bqThresholds(e0: DataFrame): DataFrame =
    e0.select(posexplode(
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"))
      .as(Seq("dim", "xv")))
      .groupBy(col("dim"))
      .agg(floor(sum(col("xv")).cast("double") / count(lit(1)))
        .cast("long").as("t"))
      .agg(expr("transform(array_sort(collect_list(struct(dim, t))), s -> s.t)")
        .as("ts"))

  /** The [[bqRecall]] binary coder — exact 1e-6 longs, per-dim
    * corpus-MEAN threshold (strict >), bits packed msb-first into two
    * 32-bit words by an acc·2+bit integer fold ([[bqPackExpr]]).
    * Factored out so the spec can pin threshold strictness and packing
    * order on crafted sign patterns. */
  private[graft] def bqCoded(e0: DataFrame): DataFrame = {
    val ex = e0.select(col("vec_id"), col("embedding"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
        .as("xs"))
    ex.crossJoin(broadcast(bqThresholds(e0)))
      .select(col("vec_id"), col("embedding"),
        bqPackExpr("xs", "ts", 1, 32).as("w0"),
        bqPackExpr("xs", "ts", 33, 64).as("w1"))
  }

  /** Materialized BQ index, keyed by (session, corpus): the 64-long
    * threshold array (collected — the one driver-side state a serving
    * tier holds, the literal-centroids discipline) and the pinned
    * coded corpus (vec_id, embedding, w0, w1). Build-once/serve-many:
    * [[bqPersist]] and the streaming Hamming serve read THIS build. */
  private[graft] def bqIndex(s: SparkSession, d: String): (Seq[Long], DataFrame) =
    graft.Pins.pinned(s, d, "bq") {
      val e0 = Tables.embeddings(s, d)
      val ts = bqThresholds(e0).collect().head
        .getSeq[Long](0).toSeq
      (ts, graft.Pins.checkpoint(bqCoded(e0)))
    }

  /** q_bq_persist — the BQ lifecycle's durable tier (the
    * [[indexPersist]]/[[ProductQuant]] q_pq_persist discipline applied
    * to the scorecard's best aggressive-compression coding): the
    * packed words (16 B/vector — at 100 TB the 32×-compressed words
    * ARE the Hamming-scan serving dataset) and the 64-long threshold
    * array persist to parquet under the per-corpus index store, load
    * back, and the row summarizes the LOADED relations — vector count,
    * an overflow-free bit_xor code checksum over bounded modular
    * products of (vec_id, w0, w1), and a dim-sensitive threshold
    * checksum — all-integer, so round-trip identity needs no IEEE
    * argument. Oracle: DuckDB replays the coding chain (the shared
    * q_bq_recall CTE) and computes the same summary. */
  def bqPersist(s: SparkSession, d: String): DataFrame = {
    val (ts, coded) = bqIndex(s, d)
    val root = indexStorePath(d)
    IndexStore.markSrc(java.nio.file.Paths.get(root), d)
    coded.select(col("vec_id"), col("w0"), col("w1"))
      .write.mode("overwrite").parquet(s"$root/bq_codes.parquet")
    val sess = s
    import sess.implicits._
    ts.zipWithIndex.map { case (t, i) => (i + 1, t) }
      .toDF("dim", "t")
      .write.mode("overwrite").parquet(s"$root/bq_thresholds.parquet")
    val lc = s.read.parquet(s"$root/bq_codes.parquet")
    val lt = s.read.parquet(s"$root/bq_thresholds.parquet")
    val a = lc.agg(count(lit(1)).as("n_vecs"),
      expr("bit_xor((vec_id % 1000003) * 1009 + (w0 % 1009) * 31 + (w1 % 1009))")
        .as("code_checksum"))
    val t = lt.agg(count(lit(1)).as("n_dims"),
      expr("bit_xor((CAST(dim AS BIGINT) * 4000037) ^ t)").as("thr_checksum"))
    a.crossJoin(t)
      .select(col("n_vecs"), col("code_checksum"),
        col("n_dims"), col("thr_checksum"))
  }

  /** q_bq_recall — 1-bit binary quantization + Hamming shortlist +
    * exact rescore: the fifth compression row on the family's shared
    * scorecard (SQ8 [[sqRecall]] = 4×, PQ = 32× with codebooks, SRP
    * [[srpRecall]] = 4-D cut, IVF-SQ — this is the 32×-no-codebook
    * point every modern vector store ships). Each vector compresses
    * to ONE bit per dimension — bit_d = (x_d > mean_d), the per-dim
    * corpus mean computed on the exact 1e-6 longs — packed into two
    * 32-bit words (a fold of acc·2+bit: pure integer arithmetic, no
    * 1<<63 overflow corner in either engine). Retrieval is the
    * standard two-phase plan: rank by Hamming distance
    * (bit_count(xor) on the packed words — 16 B/vector, the whole
    * candidate scan is register math), keep the top-[[BqRerank]],
    * exact-rescore those on the float vectors, report recall@10 vs
    * the brute-force ranking on the SHARED seed-disjoint panel. All
    * quantities are exact integers until the final rounded-cosine
    * rescore, so both engines rank identical values. At scale: the
    * threshold is one 64-group map-side-combined agg broadcast back;
    * the binary codes are 32× smaller than the floats, so the
    * shortlist scan reads 3 % of the bytes and the floats are touched
    * for [[BqRerank]] rows per query only. Threshold strictness
    * (> not ≥), packing order, and rescue-by-rerank are spec-pinned. */
  def bqRecall(s: SparkSession, d: String): DataFrame =
    bqRecallAt(s, d, BqRerank)

  /** [[bqRecall]] with the rescore depth exposed (`Sweep bq` measures
    * the recall-vs-R operating curve on this). */
  private[graft] def bqRecallAt(s: SparkSession, d: String, rerank: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e0 = Tables.embeddings(s, d)
    val n = e0.count()
    val coded = bqCoded(e0)
    val panel = broadcast(coded.filter(panelFilter(n))
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("w0").as("qw0"), col("w1").as("qw1")))
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    val exact = e0.crossJoin(panel.select(col("qid"), col("qvec")))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"))
    val wh = Window.partitionBy(col("qid"))
      .orderBy(col("ham").asc, col("vec_id").asc)
    val approx = coded.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qvec"), col("vec_id"), col("embedding"),
        (bit_count(col("w0").bitwiseXOR(col("qw0"))) +
          bit_count(col("w1").bitwiseXOR(col("qw1")))).as("ham"))
      .withColumn("hrn", row_number().over(wh)).filter(col("hrn") <= rerank)
      .select(col("qid"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
      .select(col("qid"), col("vec_id"), lit(1).as("hit"))
    recallSummary(exact, approx)
      .select(lit(64).as("bits"), lit(rerank).as("rerank_r"), col("k"),
        col("n_queries"), col("n_exact"), col("n_hit"), col("recall"))
  }

  /** MMR weights and selection depth for [[mmrRerank]]. λ and μ = 1−λ
    * are SEPARATE literals (not computed from each other): 1.0 − 0.7
    * is 0.30000000000000004 in IEEE — both engines must score with the
    * same 0.3 bit pattern or the greedy argmax could flip. */
  private[graft] val MmrLambda = 0.7
  private[graft] val MmrMu = 0.3
  private[graft] val MmrK = 5
  private[graft] val MmrShortlist = 20

  /** q_mmr_rerank — Maximal Marginal Relevance diversification
    * (Carbonell–Goldstein '98), the re-rank every RAG shortlist runs so
    * the k passages sent to the model aren't five copies of the same
    * paragraph: greedily pick argmax λ·rel(c) − (1−λ)·max_{s∈S}
    * sim(c,s) from the top-[[MmrShortlist]] exact shortlist, k=
    * [[MmrK]] rounds. Implementation is FULLY DECLARATIVE (the
    * q_bpe_merges precedent): the shortlist and its in-shortlist
    * pairwise sims materialize once (localCheckpoint — every greedy
    * round reads the same executed relations), then each round is an
    * anti-join (drop selected) + max-sim join + per-qid argmax window —
    * zero driver round trips. Each round's `selected` is
    * localCheckpoint'ed (the q_dedup_cluster per-round precedent):
    * round t references the previous selected THREE times (anti-join,
    * selected-sim join, union), so an un-pinned lineage re-executes
    * rounds 1..t−1 ~3^k times over the checkpointed bases — pure plan
    * overhead for a panel·k-row relation; the pin makes each round read
    * an executed ≤ panel·t-row RDD instead. Cost shape at 100 TB: the
    * corpus pass is the shortlist build (the family's panel·n eval
    * slice); everything after is panel·SL² — independent of corpus
    * size. Determinism:
    * rel and sim live on the 1e-6 grid, scores are single IEEE
    * mul/sub of grid values (identical everywhere), ties break
    * (score DESC, vec_id ASC); fully oracled via [[MmrK]] chained
    * selection CTEs in DuckDB. */
  def mmrRerank(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val n = e.count()
    val panel = recallPanel(e, n)
    val wq = Window.partitionBy(col("qid"))
      .orderBy(col("rel").desc, col("vec_id").asc)
    val shortlist = e.crossJoin(panel)
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), col("embedding"),
        cosine(col("embedding"), col("qvec")).as("rel"))
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= MmrShortlist)
      .select(col("qid"), col("vec_id"), col("embedding"), col("rel"))
      .transform(graft.Pins.checkpoint)
    val sims = shortlist.select(col("qid"), col("vec_id").as("a"),
        col("embedding").as("ea"))
      .join(shortlist.select(col("qid"), col("vec_id").as("b"),
        col("embedding").as("eb")), Seq("qid"))
      .filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
        cosine(col("ea"), col("eb")).as("sim"))
      .transform(graft.Pins.checkpoint)
    val sl = shortlist.select(col("qid"), col("vec_id"), col("rel"))
    val ws = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id").asc)
    // round 1: no selected set — score is λ·rel alone
    var selected = sl
      .select(col("qid"), col("vec_id"), col("rel"),
        (lit(MmrLambda) * col("rel")).as("score"))
      .withColumn("rn", row_number().over(ws)).filter(col("rn") === 1)
      .select(col("qid"), lit(1).as("pos"), col("vec_id"), col("score"))
      .transform(graft.Pins.checkpoint)
    for (t <- 2 to MmrK) {
      val cand = sl.join(selected.select(col("qid"), col("vec_id")),
        Seq("qid", "vec_id"), "left_anti")
      val scored = cand
        .join(sims.select(col("qid"), col("a").as("vec_id"), col("b"), col("sim")),
          Seq("qid", "vec_id"))
        .join(selected.select(col("qid"), col("vec_id").as("b")), Seq("qid", "b"))
        .groupBy(col("qid"), col("vec_id"))
        .agg(max(col("rel")).as("rel"), max(col("sim")).as("maxsim"))
        .select(col("qid"), col("vec_id"), col("rel"),
          (lit(MmrLambda) * col("rel") -
            lit(MmrMu) * col("maxsim")).as("score"))
      selected = selected.unionByName(
        scored.withColumn("rn", row_number().over(ws)).filter(col("rn") === 1)
          .select(col("qid"), lit(t).as("pos"), col("vec_id"), col("score")))
        .transform(graft.Pins.checkpoint)
    }
    selected
      .select(col("qid"), col("pos"), col("vec_id"),
        round(col("score"), 6).as("score"))
      .orderBy("qid", "pos")
  }

  /** q_embed_stats — per-dimension embedding distribution monitor: the
    * drift dashboard an embedding pipeline runs beside the ANN index
    * (a feature whose mean/std walks between ingest runs signals an
    * upstream encoder change before recall degrades — the
    * q_domain_stats discipline applied to the vector column). Per dim:
    * count, min/max, mean, population std over the exact 1e-6-scaled
    * longs (the BQ coder's currency): sums fold as DECIMAL(38,0) — a
    * double Σx² would be partition-order-dependent — and mean/std are
    * ONE identical IEEE expression over the exact sums in both
    * engines, rounded at the edge. Shape: posexplode → one keyed agg
    * (64 groups), map-side combined; linear at any corpus size. */
  def embedStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"))
        .as(Seq("dim0", "x")))
      .select((col("dim0") + 1).as("dim"), col("x"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("mnx"), max(col("x")).as("mxx"),
        expr("sum(CAST(x AS DECIMAL(38,0)))").as("sx"),
        expr("sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))").as("sxx"))
      .select(col("dim").cast("int").as("dim"), col("n"),
        (col("mnx").cast("double") / 1000000.0).as("min_v"),
        (col("mxx").cast("double") / 1000000.0).as("max_v"),
        expr("round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)")
          .as("mean_v"),
        expr("round(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000.0, 6)")
          .as("std_v"))
      .orderBy("dim")
}
