package graft.streaming

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.Tables
import graft.operators.{Dedup, ProductQuant, Similarity}

/** Streaming consumers of the STATIC, pre-built indexes — the ingest
  * half of the build-once/probe-many lifecycle (reference semantics:
  * the same stream→lookup→emit shape as Main.java:137-166's topology,
  * applied to the index surfaces this engine adds).
  *
  * A 100 TB deployment trains/builds its indexes in batch, persists
  * them, and then INGESTS new data against them continuously: every
  * arriving vector is assigned to its IVF cell, every arriving
  * document is screened against the corpus near-dup index before it
  * is admitted. Both are stream-static joins — the index side is a
  * broadcast (centroids: O(nlist); band table: the corpus sketch, a
  * shuffled join key at real scale) and the stream side never blocks
  * on index rebuilds. Both run here as REAL Structured Streaming
  * queries over a MemoryStream, sharing the batch pipeline's oracle.
  */
object StreamingIndex {

  private[streaming] val nameCounter = new java.util.concurrent.atomic.AtomicInteger

  /** Per-query streaming telemetry, recorded SYNCHRONOUSLY from
    * `q.recentProgress` after each run (listener delivery is async and
    * racy; the query object's own progress buffer is not): total state
    * rows across the run's batches — the observable the zero-state
    * plan guards assert on — and per-micro-batch `triggerExecution`
    * durations for data-carrying batches, the serving-latency numbers
    * Bench publishes (p50/p95 — latency is THE serving metric; recall
    * alone prices an index, not a deployment). Keyed by the query's
    * base name; durations accumulate across reps. */
  private[graft] val stateRowsTotal =
    new java.util.concurrent.ConcurrentHashMap[String, Long]
  private[graft] val stateOpNames =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]
  private[graft] val batchDurationsMs =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[Long]]

  /** Executed physical plan of the LAST micro-batch per query, captured
    * from the runtime's `lastExecution` — the observable the join-shape
    * guards assert on (a streaming DF can't be `.explain`ed standalone;
    * the plan that matters is the one the micro-batch actually ran). */
  private[graft] val lastExec =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.execution.SparkPlan]

  /** Per-BATCH total state rows (in batch order) and total rows REMOVED
    * by watermark eviction across the run — the observables that turn
    * "state is watermark-bounded" from an operator-name claim into a
    * measurement: removed > 0 means eviction actually fired, and a
    * series whose max stays below the lifetime group count (and decays
    * from its peak once the watermark overtakes old windows) means
    * state is bounded by the watermark lag, not by stream lifetime. */
  private[graft] val stateRowsSeries =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[Long]]
  private[graft] val stateRowsRemoved =
    new java.util.concurrent.ConcurrentHashMap[String, Long]

  /** Full per-batch duration breakdown (queryPlanning / addBatch / …)
    * of the last run — the profiling observable that separates plan
    * cost from data cost per trigger (tools/ProfileServe). */
  private[graft] val lastProgressDurations =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Map[String, Long]]]

  private[streaming] def record(base: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val prog = q.recentProgress
    stateRowsTotal.merge(
      base, prog.flatMap(_.stateOperators.map(_.numRowsTotal)).sum,
      (a, b) => a.max(b))
    stateOpNames.put(base,
      prog.flatMap(_.stateOperators.map(_.operatorName)).toSet)
    stateRowsSeries.put(base,
      prog.map(_.stateOperators.map(_.numRowsTotal).sum).toVector)
    stateRowsRemoved.merge(
      base, prog.flatMap(_.stateOperators.map(_.numRowsRemoved)).sum,
      (a, b) => a.max(b))
    val durs = prog.filter(_.numInputRows > 0)
      .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
    batchDurationsMs.merge(base, durs.toVector, (a, b) => a ++ b)
    lastProgressDurations.put(base, prog.filter(_.numInputRows > 0).map { p =>
      import scala.jdk.CollectionConverters._
      p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap
    }.toSeq)
    q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.lastExecution)
          .foreach(e => lastExec.put(base, e.executedPlan))
      case _ => ()
    }
  }

  /** Number of staggered micro-batches each rig's feed is split into.
    * A single `addData` burst makes every latency metric a one-sample
    * "distribution" and leaves watermark eviction unobservable (the
    * watermark only moves BETWEEN batches); ten batches with advancing
    * stamps make `serve_latency_ms` a real p50/p95 and let the
    * state-decay spec watch rows actually leave the store. */
  private val StaggerChunks = 10

  /** Feed `events` — already sorted so their event-time stamps are
    * non-decreasing — in [[StaggerChunks]] micro-batches, draining the
    * query between adds so each chunk is its own batch and the
    * watermark advances between chunks. Ascending stamps mean no chunk
    * ever lands behind the previous chunk's watermark, so nothing is
    * late-dropped and the emitted rows are identical to the
    * single-burst feed (each group's inputs still arrive in one batch:
    * the keyed serve/gate plans derive stamps from the event's own id,
    * so one event = one group; the map-side plans keep no groups). */
  private[streaming] def feedStaggered[A](
      input: MemoryStream[A], events: Seq[A],
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val size = math.max(1, math.ceil(events.size.toDouble / StaggerChunks).toInt)
    events.grouped(size).foreach { g =>
      input.addData(g)
      q.processAllAvailable()
    }
  }

  /** Run `body` (a whole rig: start, feed, stop) with NO-DATA
    * micro-batches disabled. Only rigs whose plan keeps watermarked
    * state can run a no-data batch at all, so within the broadcast
    * threshold — where the serve rigs and the near-dup gates answer
    * each arrival map-side with no watermark and no state — the conf
    * changes nothing. It matters for the keyed serve plans
    * (update mode, windowed top-1), the substring gates and the
    * composed ingest. The staggered drive drains the source between
    * chunks, so with the default conf every data batch there is chased
    * by a no-data batch whose only work is eager watermark eviction:
    * measured (tools/ProfileStartStop) 21 triggers for 10 chunks with
    * the no-data half costing ~45% of trigger wall time for zero
    * emitted rows. A production serving tier under continuous traffic
    * almost never runs them (the source is never drained), and in
    * update mode the emitted rows are watermark-INDEPENDENT — each
    * data batch emits its own group updates; eviction just folds into
    * the next data batch, where it remains observed (stateRowsRemoved
    * > 0, store still watermark-bounded — the expiry spec's assertions
    * hold on the lazy schedule). APPEND-mode rigs whose windows flush
    * on the trailing no-data batch must NOT use this: disabling it
    * drops rows. The conf is read per-query at start(), so the
    * save/restore cannot leak into a concurrently started rig.
    *
    * ALSO safe for the append-mode GATES and the cross-arrival tier,
    * whose emission is per-arrival, not per-window-close: a gate's
    * dropDuplicatesWithinWatermark emits first-seen rows in the batch
    * they arrive, and its (doc_id, dup_id) keys are generated inside
    * exactly ONE batch (an arrival's grams/bands land together), so
    * eviction timing cannot flip a suppression; the cross-arrival
    * processor's re-admission is decided by its own event-time check
    * (`ts <= lastTouch + horizon`), with timers being pure state GC —
    * keeping state longer cannot change a verdict. */
  private[streaming] def withLazyEviction[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "false")
    try body finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** Salt fan-out for [[sNeardupGate]]'s keyed regime, when the band
    * pin is over the broadcast threshold (conf
    * `graft.neardup.saltBuckets`; the default 1 DISABLES it — a
    * measured decision, NEARDUP_SKEW.json). Near-dup corpora are
    * Zipf-hot in band keys BY CONSTRUCTION (boilerplate documents
    * collapse to identical signatures — finding them is the gate's
    * job), so a band_key-PARTITIONED join would funnel each hot key's
    * |corpus dups| × |arriving dups| pair emission through one task
    * per band: measured 10.9 s bare → 3.0 s at R=32 on an engineered
    * 90 %-boilerplate corpus (729M pairs, forced SMJ — a 3.7× cliff
    * against the local ceiling of cores/bands = 8×; AQE does NOT
    * remedy this even in batch — its input-byte heuristics are blind
    * to output explosion and coalescing makes it 3.5× WORSE, see
    * NEARDUP_SKEW.json and PLANS.md). BUT the plan the
    * gate actually executes when the pin is over the threshold is NOT
    * key-partitioned: the planner broadcasts the tiny
    * PER-BATCH probe side (BuildLeft — verified on the executed
    * micro-batch), so arrivals travel, the sharded corpus stays put,
    * and pair emission parallelism follows the corpus's STORAGE
    * partitioning — band-key heat never concentrates into one task.
    * On that plan the salt only bloats the broadcast table ×R and
    * thrashes its lookups (measured 4.1 s bare → 9.4 s at R=32, same
    * corpus). Hence default OFF; the knob exists for the one corner
    * where BOTH sides exceed the broadcast threshold (giant backfill
    * batches) and the join genuinely key-partitions. When enabled, the
    * salt splits each corpus band key over R buckets
    * (pmod(hash(doc_id), R) — doc-deterministic, so a match meets in
    * exactly ONE bucket and output rows cannot drop or duplicate;
    * spec-pinned) and replicates only the probe side ×R. Operational
    * note for that corner: run the stage with
    * `spark.sql.adaptive.enabled=false` — both AQE heuristics
    * (skew-join split, partition coalescing) key on shuffle INPUT
    * bytes, and this pathology is OUTPUT explosion, so coalescing
    * stacks hot bands into fewer tasks and made the measured run
    * 3.5× worse (38.6 s `hot_aqe_smj_bare` vs 10.9 s `hot_smj_bare`;
    * NEARDUP_SKEW.json). The salt, not AQE, is the remedy here.
    * PlanHygieneSpec guards the executed keyed-regime plan
    * (BuildLeft probe broadcast) so a planner regression cannot
    * silently reintroduce the key-partitioned shape. */
  private[graft] val NeardupSaltBuckets = 1

  /** The (arrival, existing) band-collision pairs for [[sNeardupGate]]:
    * when `corpus` is [[graft.Pins.broadcastable]] and a `bandMap` is
    * supplied, one map-side lookup per arrival against the once-per-pin
    * sketch map emits the arrival's DISTINCT dup ids; otherwise an
    * unhinted join (the planner broadcasts the probe side — see
    * [[NeardupSaltBuckets]] for the measured skew story), optionally
    * salted, emits one row per colliding band. `probes` are
    * per-arrival (doc_id, bands) rows ([[Dedup.md5BandArrays]] — the
    * map branch needs them) or per-band (doc_id, band, band_key) rows,
    * which the join branches take as they are. Every shape emits
    * the same distinct pairs over the same index CONTENT — but see the
    * `dir` contract below for the durable regimes, where content
    * itself is conf-selected.
    *
    * CONTRACT on `dir` (round-13 advice): when non-empty AND
    * `graft.index.durable` is set, the join branch DISCARDS
    * the passed `corpus` relation and probes a durable table rebuilt
    * from `dir` at k = [[graft.operators.IndexStore.BandK]] — so `dir`
    * must name the corpus `corpus` was sketched from, at that same k
    * (every declared gate passes [[graft.operators.Dedup.md5BandIndex]]
    * `(s, dir, IndexStore.BandK)`, keeping the two definitionally in
    * step). A caller passing a crafted pin or a different k beside a
    * non-empty `dir` would silently get rows from a different index;
    * pass `dir = ""` to force the pin. Under
    * `graft.index.durable=updated` the discard is the POINT: the gate
    * serves from base ∪ admitted ([[graft.operators.IndexStore
    * .durableBandUpd]] — the increment regime, where the full-corpus
    * pin is exactly what must NOT be probed). */
  private[graft] def neardupCandidatePairs(
      s: SparkSession, probes: DataFrame, corpus: DataFrame,
      dir: String = "",
      bandMap: Option[() => Broadcast[KeyedDocsMap]] = None): DataFrame = {
    val cond = col("s.band") === col("c.band") &&
      col("s.band_key") === col("c.band_key") &&
      col("s.doc_id") =!= col("c.doc_id")
    // a broadcastable pin with a caller-supplied band map: ONE lookup
    // of the arrival's whole band array against the once-per-pin
    // broadcast (see [[pinnedKeyedMap]]) answers its sorted distinct
    // dup ids — no join, no per-trigger broadcast, no cross-band state
    if (bandMap.isDefined && graft.Pins.broadcastable(s, corpus)) {
      val bc = bandMap.get.apply()
      val probe = udf((ks: Seq[String], self: Long) => bc.value.lookupDistinct(ks, self))
      val keys = transform(col("bands"), (k, b) => bandMapKey(b, k))
      return probes
        .select(col("doc_id"), explode(probe(keys, col("doc_id"))).as("dup_id"))
    }
    val perBand = if (!probes.columns.contains("bands")) probes
      else probes.select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "band_key")))
    val r = s.conf.getOption("graft.neardup.saltBuckets")
      .map(_.toInt).getOrElse(NeardupSaltBuckets)
    // the durable-store regime (`graft.index.durable`): probe the
    // BUCKETED band table instead of the session pin — the scan is
    // already clustered on the join keys, so the static side feeds the
    // join with zero per-batch exchange (and the layout survives
    // restart); the salt path keeps the pin (salting breaks bucket
    // co-location by construction). "updated" probes base ∪ admitted
    // (the increment regime); "updated2" the twice-extended
    // generation-2 state (base ∪ a₁ ∪ a₂); "true" probes the
    // full-corpus table.
    val durable = s.conf.getOption("graft.index.durable")
    val joined =
      if (r <= 1 && dir.nonEmpty && durable.contains("updated2"))
        perBand.as("s")
          .join(graft.operators.IndexStore.durableBandUpd2(s, dir).as("c"), cond)
      else if (r <= 1 && dir.nonEmpty && durable.contains("updated"))
        perBand.as("s")
          .join(graft.operators.IndexStore.durableBandUpd(s, dir).as("c"), cond)
      else if (r <= 1 && dir.nonEmpty && durable.contains("true"))
        perBand.as("s")
          .join(graft.operators.IndexStore.durableBandIndex(s, dir).as("c"), cond)
      else if (r <= 1) perBand.as("s").join(corpus.as("c"), cond)
      else {
        val salted = corpus
          .withColumn("salt", pmod(hash(col("doc_id")), lit(r)))
        perBand
          .withColumn("salt", explode(sequence(lit(0), lit(r - 1))))
          .as("s")
          .join(salted.as("c"), cond && col("s.salt") === col("c.salt"))
      }
    joined.select(col("s.doc_id").as("doc_id"), col("c.doc_id").as("dup_id"))
  }

  /** Once-per-(session, corpus stamp) COLLECTED rig feeds and
    * feed-sizing scalars. Every rig's MemoryStream drive replays the
    * same deterministic event sequence, yet each invocation re-ran the
    * count + filtered-collect jobs that CONSTRUCT it — pure rig
    * scaffolding (visible as rig_setup_sec), ~0.3–0.5 s per rep per
    * rig at sf0.1, never part of the serving path a deployment pays
    * per trigger (its feed is a live topic that exists once). Values
    * are immutable collected arrays/seqs shared read-only across reps
    * and consumers; the handful of panels and literal codebooks total a
    * few MB — the doc feeds are the same rows the rigs already
    * collected per rep. */
  private[graft] def pinnedFeed[A](
      s: SparkSession, d: String, variant: String)(build: => A): A =
    graft.Pins.pinned(s, d, s"feed:$variant")(build)

  /** The shared recall panel as collected [[VecEvent]]s, vec_id
    * ascending — the query feed of every vector serve rig. */
  private[streaming] def vecPanel(s: SparkSession, d: String): Seq[VecEvent] =
    pinnedFeed(s, d, "feed_vec_panel") {
      import s.implicits._
      val e = Tables.embeddings(s, d)
      val n = e.count()
      e.filter(Similarity.panelFilter(n))
        .select(col("vec_id"), col("embedding"))
        .as[VecEvent].collect().toSeq.sortBy(_.vec_id)
    }

  /** The full corpus as collected [[DocEvent]]s, doc_id ascending —
    * the arrival feed of every document gate rig. */
  private[streaming] def docEvents(s: SparkSession, d: String): Seq[DocEvent] =
    pinnedFeed(s, d, "feed_doc_events") {
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .as[DocEvent].collect().toSeq.sortBy(_.doc_id)
    }

  /** Collected literal centroid rows for a serve plan, keyed by the
    * index variant — the per-rep collect job was scaffolding; the
    * literal set is what gets compiled into the plan either way. */
  private[streaming] def cenLiterals(s: SparkSession, d: String,
      variant: String, cen: => DataFrame): Seq[(Long, Seq[Double])] =
    pinnedFeed(s, d, s"feed_cen_$variant") {
      import s.implicits._
      cen.select(col("centroid_id"), col("cvec"))
        .as[(Long, Seq[Double])].collect().toSeq
    }

  /** Pinned static serving relations, keyed by (session, dir, variant)
    * plus `inputFingerprint`: a serving tier pins its corpus relation
    * next to the index ONCE — every restart, rep, and consumer then
    * reads the same executed relation (the [[Similarity.ivfIndex]]
    * philosophy applied to the stream-static join side). Re-pinning per
    * rig invocation was pure scaffolding cost (`rig_setup_sec` in
    * bench_full.json made it visible). The fingerprint carries the
    * semantic hash of any input RELATION the variant is built from, so
    * a caller passing a different cell assignment under an existing
    * variant string gets a fresh pin, not the cached one. */
  private def pinnedCorpus(s: SparkSession, d: String, variant: String,
      inputFingerprint: String = "")(build: => DataFrame): DataFrame =
    graft.Pins.pinned(s, d, s"serving:$variant", inputFingerprint)(graft.Pins.checkpoint(build))

  /** Flat posting map for the map-side hashed-key gate regime:
    * (hi, lo) = the 16-byte md5 gram key as two longs, sorted
    * lexicographically with doc ids aligned (ties by doc id, so probe
    * output order is deterministic). ~24 B/posting — the same bytes
    * the per-trigger BroadcastExchange used to collect EVERY batch. */
  private[graft] final class PostingMap(
      val hi: Array[Long], val lo: Array[Long], val doc: Array[Long])
    extends Serializable {
    /** All posting doc ids matching `key`, excluding `self` —
      * multiplicity preserved, exactly the broadcast join's rows. */
    def lookup(key: Array[Byte], self: Long): Array[Long] = {
      if (key == null || key.length != 16) return Array.emptyLongArray
      val bb = java.nio.ByteBuffer.wrap(key)
      val kh = bb.getLong(); val kl = bb.getLong()
      var a = 0; var b = hi.length
      while (a < b) {
        val m = (a + b) >>> 1
        if (hi(m) < kh || (hi(m) == kh && lo(m) < kl)) a = m + 1 else b = m
      }
      var i = a
      val out = scala.collection.mutable.ArrayBuilder.make[Long]
      while (i < hi.length && hi(i) == kh && lo(i) == kl) {
        if (doc(i) != self) out += doc(i)
        i += 1
      }
      out.result()
    }
  }

  /** Once-per-pin broadcast of a broadcastable hashed gram posting pin
    * (guide §2.4/§8: move the heavy bytes once, decide with small
    * rows). A stream-static BROADCAST join re-executes its
    * BroadcastExchange every micro-batch — collect + hash-relation
    * build of the full posting pin per trigger, paid by the no-data
    * watermark batches too (ProfileRigs: ~60-70 % of the substring
    * gates' per-batch addBatch at sf0.1 was this rebuild). A serving
    * tier holds the posting map in RAM next to the index ONCE — the
    * literal-centroids discipline at posting scale — so the map is
    * collected and broadcast once per (session, corpus stamp) and each
    * batch probes it map-side; the probe side is the per-batch arrival
    * grams (bounded), the probe a binary search. Only built for a pin
    * within the broadcast threshold — over it the durable/sharded join
    * shapes own the plan and no driver-sized collect may happen. */
  private[streaming] def pinnedPostingMap(
      s: SparkSession, d: String, variant: String,
      corpus: DataFrame): Broadcast[PostingMap] =
    graft.Pins.pinned(s, d, s"postings:$variant") {
      val rows = corpus.select(col("ghash"), col("doc_id")).collect()
      val n = rows.length
      val hi = new Array[Long](n); val lo = new Array[Long](n)
      val dc = new Array[Long](n)
      var i = 0
      while (i < n) {
        val bb = java.nio.ByteBuffer.wrap(rows(i).getAs[Array[Byte]](0))
        hi(i) = bb.getLong(); lo(i) = bb.getLong()
        dc(i) = rows(i).getLong(1)
        i += 1
      }
      val perm = Array.range(0, n).sortBy(j => (hi(j), lo(j), dc(j)))
      val h2 = perm.map(hi); val l2 = perm.map(lo); val d2 = perm.map(dc)
      s.sparkContext.broadcast(new PostingMap(h2, l2, d2))
    }

  /** String-keyed twin of [[PostingMap]] for the band and md5 tiers:
    * key → posting doc ids (sorted, multiplicity preserved). Lookups
    * exclude `self`, exactly the broadcast join's rows. */
  private[graft] final class KeyedDocsMap(
      val m: java.util.HashMap[String, Array[Long]]) extends Serializable {
    def lookup(key: String, self: Long): Array[Long] = {
      val ds = if (key == null) null else m.get(key)
      if (ds == null) Array.emptyLongArray
      else {
        val out = scala.collection.mutable.ArrayBuilder.make[Long]
        var i = 0
        while (i < ds.length) { if (ds(i) != self) out += ds(i); i += 1 }
        out.result()
      }
    }
    /** The sorted distinct doc ids ≠ `self` posted under any of `keys`:
      * one arrival's candidate set over all its bands. */
    def lookupDistinct(keys: Seq[String], self: Long): Array[Long] =
      keys.iterator.flatMap(lookup(_, self)).toArray.sorted.distinct
    def contains(key: String): Boolean = key != null && m.containsKey(key)
  }

  private[graft] object KeyedDocsMap {
    /** Collects a (key: String, doc_id: Long) relation. */
    def of(keyed: DataFrame): KeyedDocsMap = {
      val tmp = new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder.ofLong]()
      keyed.collect().foreach { r =>
        tmp.computeIfAbsent(r.getString(0), _ => new scala.collection.mutable.ArrayBuilder.ofLong) +=
          r.getLong(1)
      }
      val m = new java.util.HashMap[String, Array[Long]](tmp.size() * 2)
      tmp.forEach((k0, b) => m.put(k0, b.result().sorted))
      new KeyedDocsMap(m)
    }
  }

  /** IVF cell → the serving corpus's (vec_id, payload) entries in that
    * cell, vec_id ascending: the serve rigs' once-per-pin broadcast
    * index. A lookup concatenates the probed cells' entries minus the
    * query's own id — exactly the candidate rows the keyed join feeds
    * the windowed top-1. */
  private[graft] final class CellMap[P](
      val m: java.util.HashMap[java.lang.Long, Array[(Long, P)]]) extends Serializable {
    def lookup(cells: Seq[Long], self: Long): Array[(Long, P)] = {
      val out = Array.newBuilder[(Long, P)]
      cells.foreach { c =>
        val es = m.get(c)
        if (es != null) es.foreach(e => if (e._1 != self) out += e)
      }
      out.result()
    }
  }

  private[graft] object CellMap {
    /** Collects a (cell: Long, vec_id: Long, payload) relation. */
    def of[P](corpus: DataFrame, payload: Row => P): CellMap[P] = {
      val m = new java.util.HashMap[java.lang.Long, Array[(Long, P)]]()
      corpus.collect().groupBy(_.getLong(0)).foreach { case (c, rs) =>
        m.put(c, rs.map(r => (r.getLong(1), payload(r))).sortBy(_._1))
      }
      new CellMap(m)
    }
  }

  /** Once-per-pin broadcast of a keyed lookup index — the band sketch
    * and md5 content hashes ([[KeyedDocsMap]]) and the serving corpus
    * by cell ([[CellMap]]). Same rationale and lifecycle as
    * [[pinnedPostingMap]]: the per-trigger BroadcastExchange of the
    * static side (or, for the serve rigs, the per-trigger keyed join
    * and its state store) is replaced by one collect per (session,
    * corpus stamp, `inputFingerprint`) and a map-side probe per batch.
    * `build` must collect the same relation the join's static side
    * carried; `inputFingerprint` names that relation's pin when the
    * dirStamp alone does not (a serve map over a rebuilt cell
    * assignment must displace with its corpus pin). */
  private[streaming] def pinnedKeyedMap[M <: AnyRef : scala.reflect.ClassTag](
      s: SparkSession, d: String, variant: String, inputFingerprint: String = "")(
      build: => M): Broadcast[M] =
    graft.Pins.pinned(s, d, s"keyed:$variant", inputFingerprint)(s.sparkContext.broadcast(build))

  /** The composite band lookup key — ONE definition for build and
    * probe sides (band is an int, so the ':' split is unambiguous). */
  private def bandMapKey(band: Column, key: Column): Column =
    concat(band.cast("string"), lit(":"), key)

  /** The once-per-pin band map of a (doc_id, band, band_key) sketch. */
  private def pinnedBandMap(s: SparkSession, d: String, variant: String,
      bands: DataFrame): Broadcast[KeyedDocsMap] =
    pinnedKeyedMap(s, d, variant)(KeyedDocsMap.of(
      bands.select(bandMapKey(col("band"), col("band_key")), col("doc_id"))))

  /** A pinned relation's identity — the semantic hash of its analyzed
    * plan, which names the checkpointed RDD — so a value keyed on it
    * displaces together with the pin. */
  private def pinId(pin: DataFrame): String =
    pin.queryExecution.analyzed.semanticHash().toString

  /** The pinned (vec_id, embedding, cell) serving relation for a cell
    * assignment — the ONE definition behind the "serve"/"serve_pre"
    * cache keys shared by [[sIndexSwap]] and [[sSwapInflight]] (two
    * local copies of the build closure feeding one cache entry would
    * let an edit to one silently serve the other a value-different
    * relation). The cells plan's semantic hash is the fingerprint: a
    * rebuilt or different assignment under the same variant string
    * displaces the stale pin. */
  private def servingCorpus(s: SparkSession, d: String,
      cells: DataFrame, variant: String): DataFrame =
    pinnedCorpus(s, d, variant,
      cells.queryExecution.logical.semanticHash().toString) {
      Tables.embeddings(s, d).join(cells, "vec_id")
        .select(col("vec_id"), col("embedding"), col("cell"))
    }

  /** One arriving vector (the embeddings row as a stream event). */
  case class VecEvent(vec_id: Long, embedding: Seq[Float])

  /** One arriving document (the documents row as a stream event). */
  case class DocEvent(doc_id: Long, text: String)

  /** s_vector_ingest — streaming IVF cell assignment: each arriving
    * vector takes its argmax-cosine cell MAP-SIDE against the trained
    * centroid set ([[Similarity.ivfIndex]]), collected once and inlined
    * as a LITERAL array — ≤ nlist ≈ 64 rows, the serving-RAM move
    * [[sAnnServe]] documents. Cell assignment is per-record stateless
    * (the reference's own ingest, Main.java:137-141, is a stateless
    * per-record map), so the plan is too: append mode, ZERO state, no
    * join, no shuffle — a vector's assignment emits in the micro-batch
    * it arrives in and nothing is retained afterwards. (The round-6
    * form — broadcast cross-join + groupBy(vec_id) update-mode agg —
    * kept O(every vector ever ingested) state for this same stateless
    * computation; the zero-state plan guard pins the fix.) Ties break
    * by max of the (cos, centroid_id) struct — higher centroid_id —
    * exactly the batch assignment's aggregate. Oracle: the batch
    * assignment chain (`cells`) replayed in DuckDB. */
  def sVectorIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val cenRows: Seq[(Long, Seq[Double])] =
      cenLiterals(s, d, "ivf", Similarity.ivfIndex(s, d)._1)
    val vecs = pinnedFeed(s, d, "feed_vec_all") {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .as[VecEvent].collect().toSeq
    }
    EventPairing.withStreamingPartitions(s) {
      val input = MemoryStream[VecEvent]
      val assigned = input.toDF()
        .withColumn("best", array_max(transform(typedlit(cenRows), c =>
          struct(
            Similarity.cosine(col("embedding"), c.getField("_2")).as("cos"),
            c.getField("_1").as("cid")))))
        .select(col("vec_id"), col("best.cid").as("cell"))
      val name = s"s_vector_ingest_${nameCounter.incrementAndGet()}"
      val q = assigned.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        feedStaggered(input, vecs.toSeq.sortBy(_.vec_id), q)
        record("s_vector_ingest", q)
      } finally q.stop()
      s.table(name).orderBy("vec_id")
    }
  }

  /** s_ann_serve — the SERVING path of the ANN deployment: arriving
    * query vectors (the shared recall panel as a stream) probe the
    * TRAINED index and emit their nearest neighbor. The centroid set
    * is collected to the driver and inlined as a LITERAL array — ≤
    * nlist ≈ 64 rows, the one collect a real ANN service performs
    * (centroids live in serving RAM) — so the probe (argmax cosine
    * over the literal, cos DESC / centroid_id ASC ties via the
    * Long.MaxValue−id trick) is pure MAP-SIDE work. The top-1 rerank
    * over the probed cell (max of (cos, MaxValue−vec_id) — cos DESC,
    * vec_id ASC ties) is size-gated ([[graft.Pins.broadcastable]] on
    * the serving pin). Within the threshold the candidates come from
    * the once-per-pin broadcast [[CellMap]], and the answer is one
    * stateless projection per arrival: append mode, no join, no
    * shuffle, no state — the
    * reference's per-record lookups are stateless maps too
    * (Main.java:137-141). Over it they come from one stream-static
    * equi-join on the probed cell (at 100 TB the corpus is partitioned
    * by cell, so a probe reads one partition), and the top-1 is a
    * stateful aggregation WINDOWED on the query's arrival stamp under
    * a watermark, update mode, so per-query state expires once the
    * watermark passes its window — a serving tier that never expires
    * per-query state eventually dies (the reference's
    * unbounded-suppress-buffer failure mode, Main.java:198). Both
    * regimes emit the same rows. A panel query whose probed cell holds
    * only itself emits nothing, exactly as in the batch/oracle replay.
    * Fully oracled: probe argmax + rerank replay in DuckDB over the
    * shared training CTE. */
  def sAnnServe(s: SparkSession, d: String): DataFrame = {
    val (cen, cells) = Similarity.ivfIndex(s, d)
    // the serving relation is PINNED once per (session, corpus) next to
    // the index — unpinned, every micro-batch would re-run corpus⋈cells.
    // Routed through servingCorpus so THIS caller carries the same
    // cells fingerprint as the swap rigs sharing the "serve" variant:
    // identical assignment ⇒ shared pin and map, different ⇒ honest
    // displacement (not the round-9 silent stale hit).
    val corpus = servingCorpus(s, d, cells, "serve")
    val mapSide = graft.Pins.broadcastable(s, corpus)
    runServe(s, "s_ann_serve", vecPanel(s, d), mapSide)(
      serveTop1Plan(s, _, d, "ivf", cen, "serve", corpus, mapSide)).orderBy("qid")
  }

  /** s_filtered_serve — FILTERED serving: the batch q_ann_filtered
    * lesson applied at the serving tier. Arriving query vectors ask
    * "nearest neighbor WHERE label = [[Similarity.FilterLabel]]" — the
    * retrieval-with-metadata shape every production vector service
    * exposes. Three deliberate differences from [[sAnnServe]]:
    * (1) the static candidate relation is label-filtered BEFORE any
    * query reads it (the predicate pushes into the corpus scan of the
    * pin — at 100 TB the serving tier's cell-partitioned store is ALSO
    * label-pruned, reading ~10 % of the bytes); (2) the probe is
    * WIDENED to the top-2 cells — the FilteredSweep operating surface
    * showed one probe doubling restores the unfiltered operating point
    * at ~10 % selectivity, so the serving plan bakes that knob-turn
    * in (probe ties: cos DESC, centroid_id ASC, via the negated-cos
    * sort), and the winner may come from either cell; (3) a query
    * whose probed cells hold no label-matching candidate emits nothing
    * — the empty-result-is-an-answer contract, same as the oracle
    * replay. Everything else is [[sAnnServe]]'s size-gated shape:
    * map-side against the once-per-pin [[CellMap]] within the
    * threshold, the keyed join plus watermarked windowed top-1 over
    * it. Fully oracled: probe top-2, label filter, and rerank replay
    * in DuckDB over the shared IVF training CTE. */
  def sFilteredServe(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val (cen, cells) = Similarity.ivfIndex(s, d)
    val corpus = pinnedCorpus(s, d, "filtered",
      cells.queryExecution.logical.semanticHash().toString) {
      e.filter(col("label") === Similarity.FilterLabel)
        .join(cells, "vec_id")
        .select(col("vec_id"), col("embedding"), col("cell"))
    }
    val mapSide = graft.Pins.broadcastable(s, corpus)
    runServe(s, "s_filtered_serve", vecPanel(s, d), mapSide)(
      serveTop1Plan(s, _, d, "ivf", cen, "filtered", corpus, mapSide, nProbe = 2))
      .orderBy("qid")
  }

  /** s_index_swap — the refresh→serve HANDOFF, the last edge of the
    * index lifecycle: a serving query answers live traffic off index
    * v1 (the FROZEN pre-arrival build [[Similarity.preArrivalIndex]] —
    * the index a deployment serves from while arrivals accumulate),
    * then at a batch boundary the deployment hot-swaps to index v2
    * (the full retrained [[Similarity.ivfIndex]]) by RESTARTING the
    * serving query with the new centroid literal and candidate
    * relation — exactly how a literal-inlined-centroid serving tier
    * upgrades (the centroids are compiled INTO the plan, so a new
    * index IS a new plan; the stop/start is the swap, and the output
    * sink — a topic in production, two unioned memory tables here —
    * keeps accumulating across it). The panel splits by alternating
    * qid-rank position: odd positions arrive before the swap and are
    * answered by v1 (whose candidate set holds ONLY pre-arrival
    * vectors — an arrival cannot be retrieved before the index absorbs
    * it), even positions arrive after and are answered by v2 (arrivals
    * now retrievable, centroids retrained). Continuity = no query is
    * lost or double-answered
    * across the swap, and each side is bit-pinned to its own index's
    * batch replay — both training chains replayed in ONE DuckDB oracle
    * (the suffixed CTE instantiation). Each phase keeps the full
    * size-gated serve shape of [[sAnnServe]] ([[serveTop1Plan]]). A
    * query alone in its probed cell emits nothing, per the oracle. */
  def sIndexSwap(s: SparkSession, d: String): DataFrame = {
    val panel = vecPanel(s, d)
    val (cenA, cellsA) = Similarity.preArrivalIndex(s, d)
    val (cenB, cellsB) = Similarity.ivfIndex(s, d)
    // cellsA only holds pre-arrival ids, so the v1 candidate relation
    // is the pre-arrival corpus by construction; both versions pin
    // once per (session, corpus) and are SHARED with sSwapInflight
    // ([[servingCorpus]] — one definition per cache key)
    def servePhase(version: Int, cenTag: String, cen: => DataFrame,
        variant: String, cells: DataFrame, queries: Seq[VecEvent]): DataFrame = {
      val corpus = servingCorpus(s, d, cells, variant)
      val mapSide = graft.Pins.broadcastable(s, corpus)
      runServe(s, "s_index_swap", queries, mapSide)(
        serveTop1Plan(s, _, d, cenTag, cen, variant, corpus, mapSide))
        .select(lit(version).as("version"), col("qid"), col("vec_id"), col("cos_sim"))
    }
    // the arrival timeline: alternating panel positions (by qid rank)
    // land before/after the swap — qid PARITY would not do (the panel
    // grid is stride-spaced, so its ids can share one parity)
    val ordered = panel.sortBy(_.vec_id).zipWithIndex
    val v1 = servePhase(1, "ivf_pre", cenA, "serve_pre", cellsA,
      ordered.filter(_._2 % 2 == 0).map(_._1))
    val v2 = servePhase(2, "ivf", cenB, "serve", cellsB,
      ordered.filter(_._2 % 2 == 1).map(_._1))
    v1.unionByName(v2).orderBy("version", "qid")
  }

  /** How a serve rig ranks a query's candidates: `prep` adds the
    * per-query columns the ranking reads (from `qid`, `qvec`),
    * `payload` names the corpus column a candidate carries, `rank`
    * builds one candidate's ranking struct from (vec_id, payload),
    * `lowest` takes the least struct instead of the greatest, and
    * `out` reads the answer columns off the winner. */
  private[graft] final case class Rerank[P](payload: String, read: Row => P,
      prep: DataFrame => DataFrame, rank: (Column, Column) => Column,
      lowest: Boolean, out: Column => Seq[Column])(
      implicit val tag: scala.reflect.runtime.universe.TypeTag[P])

  /** Exact-cosine top-1: cos DESC, vec_id ASC ties (MaxValue−vec_id). */
  private def cosRerank: Rerank[Array[Float]] = Rerank[Array[Float]](
    "embedding", _.getSeq[Float](2).toArray, identity,
    (id, emb) => struct(
      Similarity.cosine(emb, col("qvec")).as("cos"),
      (lit(Long.MaxValue) - id).as("nid")),
    lowest = false,
    top => Seq((lit(Long.MaxValue) - top.getField("nid")).as("vec_id"),
      top.getField("cos").as("cos_sim")))

  /** The single-query serve topology of every vector serve rig:
    * the probed cells — argmax cosine over the literal centroids
    * (`nProbe` = 1) or the top-`nProbe` by (cos DESC, centroid_id ASC)
    * — then the top-1 of their candidates minus the query itself,
    * ranked by `rerank`. The centroids are collected and compiled INTO
    * the plan (the serving-RAM move of [[sAnnServe]]), so a new index
    * is literally a new plan. With `mapSide`
    * ([[graft.Pins.broadcastable]] on `corpus`) the candidates come
    * from the once-per-pin broadcast [[CellMap]] of `corpus` and the
    * winner is `array_max`/`array_min` over them: a
    * stateless projection, append mode; an empty candidate set has no
    * winner and emits no row. Without it, one stream-static equi-join
    * on the probed cell and a top-1 aggregation windowed on the query's
    * stamp under a 1-minute watermark, update mode. */
  private[graft] def serveTop1Plan[P](s: SparkSession, stream: DataFrame,
      d: String, cenTag: String, cen: => DataFrame, variant: String,
      corpus: DataFrame, mapSide: Boolean, nProbe: Int = 1,
      rerank: Rerank[P] = cosRerank): DataFrame = {
    val cenLit = typedlit(cenLiterals(s, d, cenTag, cen))
    val cells =
      if (nProbe == 1)
        array(lit(Long.MaxValue) - array_max(transform(cenLit, c => struct(
          Similarity.cosine(col("qvec"), c.getField("_2")).as("cos"),
          (lit(Long.MaxValue) - c.getField("_1")).as("nid")))).getField("nid"))
      else
        transform(slice(array_sort(transform(cenLit, c => struct(
          (-Similarity.cosine(col("qvec"), c.getField("_2"))).as("negcos"),
          c.getField("_1").as("cid")))), 1, nProbe), p => p.getField("cid"))
    val queries = rerank.prep(
      stream.select(col("vec_id").as("qid"), col("embedding").as("qvec")))
    val top = if (mapSide) {
      implicit val tag: scala.reflect.runtime.universe.TypeTag[P] = rerank.tag
      val bc = pinnedKeyedMap(s, d, s"cells_$variant", pinId(corpus))(
        CellMap.of(corpus.select(col("cell"), col("vec_id"), col(rerank.payload)),
          rerank.read))
      val candidates = udf((cs: Seq[Long], self: Long) => bc.value.lookup(cs, self))
      val ranked = transform(candidates(cells, col("qid")),
        c => rerank.rank(c.getField("_1"), c.getField("_2")))
      val winner = if (rerank.lowest) array_min(ranked) else array_max(ranked)
      // explode, not a Filter on the winner: the optimizer pushes a
      // Filter below this projection with the alias inlined, so the
      // lookup and the ranking would run twice per arrival
      queries.select(col("qid"), explode(array_compact(array(winner))).as("top"))
    } else
      queries
        // +1 day: keep every stamp strictly above the epoch-0 initial
        // watermark (see sNeardupGate)
        .withColumn("ts", timestamp_seconds(col("qid") + lit(86400L)))
        .withWatermark("ts", "1 minute")
        .withColumn("cell", explode(cells))
        .join(corpus, Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy(window(col("ts"), "1 minute"), col("qid"))
        .agg({
          val rank = rerank.rank(col("vec_id"), col(rerank.payload))
          if (rerank.lowest) min(rank) else max(rank)
        }.as("top"))
    top.select(col("qid") +: rerank.out(col("top")): _*)
  }

  /** Drive one serve query through the staggered feed of `queries`
    * into a memory table and return it: append mode for the stateless
    * map-side plan, update mode for the keyed one. */
  private def runServe(s: SparkSession, rig: String, queries: Seq[VecEvent],
      mapSide: Boolean)(plan: DataFrame => DataFrame): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    EventPairing.withStreamingPartitions(s) {
      val input = MemoryStream[VecEvent]
      val name = s"${rig}_${nameCounter.incrementAndGet()}"
      val q = withLazyEviction(s) {
        plan(input.toDF()).writeStream.format("memory").queryName(name)
          .outputMode(if (mapSide) "append" else "update").start()
      }
      try {
        feedStaggered(input, queries.sortBy(_.vec_id), q)
        record(rig, q)
      } finally q.stop()
      s.table(name)
    }
  }

  /** s_swap_inflight — the swap of [[sIndexSwap]] with queries IN
    * FLIGHT at the boundary: v1 is stopped, and while no serving query
    * is up the middle third of the panel ARRIVES at the source; v2
    * then restarts from v1's OWN checkpoint (same source, same offset
    * log, new plan — the centroids are literals, so the retrained
    * index is a new plan by construction) and resumes from the exact
    * committed offset, drains the in-flight block, then serves the
    * post-swap third. This pins the at-least-once story across the
    * restart with the contract chosen here: **a query not committed by
    * v1 when the swap begins is answered EXACTLY ONCE, by the NEW
    * index** — Structured Streaming's offset log makes the boundary a
    * batch boundary, v1's commits are never replayed into v2 (no
    * double-answer), and the in-flight block cannot be lost because
    * the source retains it past v1's last commit. The panel splits
    * into CONTIGUOUS qid-rank thirds (not the alternating split of
    * s_index_swap): stamps derive from vec_id and the watermark
    * survives the restart in the checkpoint, so only a contiguous
    * timeline keeps every arrival ahead of the carried watermark —
    * an interleaved split would silently late-drop in-flight queries
    * behind v1's final watermark (exactly the bug class this rig
    * exists to pin). Both phases take ONE size-gate regime
    * ([[graft.Pins.broadcastable]] must admit both pins for the
    * map-side plan), so the restart never changes the state schema —
    * none map-side, the same windowed agg and key when keyed — which is what
    * Spark requires of a checkpoint-compatible upgrade; the upstream
    * literal/static-side swap is the allowed kind of plan change. Oracle: v1's chain
    * answers the first third, v2's chain the rest — both training
    * chains replayed in one DuckDB query (the s_index_swap CTE with a
    * thirds split). */
  def sSwapInflight(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val panel = vecPanel(s, d)
    val (cenA, cellsA) = Similarity.preArrivalIndex(s, d)
    val (cenB, cellsB) = Similarity.ivfIndex(s, d)
    val corpusA = servingCorpus(s, d, cellsA, "serve_pre")
    val corpusB = servingCorpus(s, d, cellsB, "serve")
    val mapSide = graft.Pins.broadcastable(s, corpusA) &&
      graft.Pins.broadcastable(s, corpusB)
    val ordered = panel.sortBy(_.vec_id).zipWithIndex
    val np = ordered.size
    // contiguous rank thirds: t0 served by v1; t1 arrives during the
    // swap window (in flight); t2 arrives after v2 is up. 1-based rank
    // r is in t0 iff 3r <= n — mirrored verbatim in the oracle SQL.
    val t0 = ordered.collect { case (v, i) if 3 * (i + 1) <= np => v }
    val rest = ordered.collect { case (v, i) if 3 * (i + 1) > np => v }
    val (t1, t2) = rest.splitAt(rest.size / 2)
    EventPairing.withStreamingPartitions(s) {
      val input = MemoryStream[VecEvent]
      // ONE checkpoint across both phases — the whole point of the rig
      // (the memory sink refuses recovery, so the sink is the
      // production foreachBatch pattern of sForeachSink: per-phase
      // parquet appends, read back after the drain)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_swap_inflight").toString
      val out1 = java.nio.file.Files
        .createTempDirectory("graft_swap_inflight_v1").toString
      val out2 = java.nio.file.Files
        .createTempDirectory("graft_swap_inflight_v2").toString
      def startPhase(cenTag: String, cen: => DataFrame, variant: String,
          corpus: DataFrame, outDir: String) =
        withLazyEviction(s) {
          serveTop1Plan(s, input.toDF(), d, cenTag, cen, variant, corpus, mapSide)
            .writeStream
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.write.mode("append").parquet(outDir)
            }
            .option("checkpointLocation", ckpt)
            .outputMode(if (mapSide) "append" else "update").start()
        }
      def readPhase(version: Int, outDir: String): DataFrame = {
        val parts = Option(new java.io.File(outDir)
          .listFiles((_, nm) => nm.endsWith(".parquet"))).fold(0)(_.length)
        if (parts == 0) Seq.empty[(Long, Long, Double)]
          .toDF("qid", "vec_id", "cos_sim")
          .select(lit(version).as("version"), col("qid"), col("vec_id"),
            col("cos_sim"))
        else s.read.parquet(outDir).select(lit(version).as("version"),
          col("qid"), col("vec_id"), col("cos_sim"))
      }
      try {
        val q1 = startPhase("ivf_pre", cenA, "serve_pre", corpusA, out1)
        // v1's data-carrying batches enter the serving telemetry too —
        // the rig_setup/serving split in Bench reads batchDurationsMs,
        // and without this record the v1 phase's per-batch serving time
        // would be misclassified as scaffolding (sIndexSwap records both
        // phases the same way)
        try {
          feedStaggered(input, t0, q1)
          record("s_swap_inflight", q1)
        } finally q1.stop()
        // the swap window: no serving query is up; these queries sit in
        // the source past v1's last committed offset
        input.addData(t1)
        val q2 = startPhase("ivf", cenB, "serve", corpusB, out2)
        try {
          q2.processAllAvailable() // v2's first batches drain the in-flight block
          feedStaggered(input, t2, q2)
          record("s_swap_inflight", q2)
        } finally q2.stop()
        // pinned so the result outlives the temp sink dirs deleted below
        readPhase(1, out1).unionByName(readPhase(2, out2))
          .orderBy("version", "qid")
          .transform(graft.Pins.checkpoint)
      } finally {
        // a multi-rep bench loop would otherwise leave three temp dirs
        // per invocation behind for the life of the machine
        Seq(ckpt, out1, out2).foreach(deleteRecursively)
      }
    }
  }

  /** Best-effort recursive delete of a rig's temp dir (checkpoint or
    * parquet sink scratch) — failures are swallowed: cleanup must
    * never fail the query that produced the result. */
  private def deleteRecursively(path: String): Unit =
    try {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val p = Paths.get(path)
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        val all = try walk.iterator().asScala.toSeq finally walk.close()
        all.reverseIterator
          .foreach(f => try Files.delete(f) catch { case _: Throwable => () })
      }
    } catch { case _: Throwable => () }

  /** s_pq_ingest — streaming PQ coding at the ingest edge: every
    * arriving vector is coded against the FROZEN trained codebooks
    * ([[ProductQuant.pqIndex]] — built in batch, static here), emitting
    * its (sub, code) rows. The codebook is collected and inlined as a
    * LITERAL — Subs·PqK ≈ 128 tiny rows, the same serving-RAM move as
    * [[sAnnServe]]'s centroids — so the coder is PURE MAP-SIDE
    * expression work: no join, no shuffle, NO STATE (append mode on a
    * stateless projection — coding is embarrassingly parallel at
    * ingest, and the plan says so). Argmin ties replay the batch
    * chain's (d2 ASC, code ASC) via lexicographic struct min. Oracle:
    * the batch coding relation (`codes`) replayed in DuckDB over the
    * shared PQ training CTE — a streamed code is correct iff it is
    * row-identical to the batch one. */
  /** The literal-codebook map-side coder: from a 1e6-scaled `xs`
    * column, the [[ProductQuant.Subs]]-long code array — per subspace,
    * lexicographic struct-min over the matching codebook entries
    * replays the batch chain's (d2 ASC, code ASC) argmin exactly.
    * Factored out so the tie-break is spec-pinnable with crafted
    * codebooks.
    *
    * Expression SHAPE matters at serving cadence — this coder went
    * through all three forms and the native one wins both regimes:
    * (round 6) unrolled literal arithmetic, ~10k expression nodes —
    * fastest per ROW but ~1.3 s of re-analysis + re-codegen EVERY
    * trigger (a micro-batch runtime rebuilds its plan per trigger);
    * (round 8a) compact higher-order form, ~25× smaller tree, planned
    * instantly — but HOF lambdas evaluate INTERPRETED, and the ×10
    * stress flagged the linear per-row cost at ratio 1.0 (74.9 s, the
    * table's worst absolute row); (round 8b, current) the native
    * [[graft.functions.PqEncode]] expression — ONE tree node, codebook
    * shipped as primitive arrays through the codegen reference array,
    * the argmin loop compiled inside whole-stage codegen. Cheap per
    * trigger AND per row. */
  private[graft] def mapSideCodes(cbRows: Seq[(Int, Long, Seq[Long])]): org.apache.spark.sql.Column =
    graft.functions.pq_encode(col("xs"), cbRows, ProductQuant.DSub)

  /** Integer squared-L2 between subspace `sb` of the event's 1e6-scaled
    * `xs` column and a literal centroid component array — the compact
    * per-candidate distance both PQ serving expressions share. */
  private def subD2(sb: Int, centroid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(
      zip_with(
        slice(col("xs"), sb * ProductQuant.DSub + 1, ProductQuant.DSub),
        centroid, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  def sPqIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val cbRows: Seq[(Int, Long, Seq[Long])] =
      pinnedFeed(s, d, "feed_cb_pq") {
        ProductQuant.pqIndex(s, d)._1
          .select(col("sub").cast("int"), col("code"), col("c"))
          .as[(Int, Long, Seq[Long])].collect().toSeq
      }
    val vecs = pinnedFeed(s, d, "feed_vec_all") {
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .as[VecEvent].collect().toSeq
    }
    EventPairing.withStreamingPartitions(s) {
      val input = MemoryStream[VecEvent]
      val coded = input.toDF()
        .select(col("vec_id"),
          transform(col("embedding"),
            x => round(x.cast("double") * 1e6).cast("long")).as("xs"))
        .select(col("vec_id"), mapSideCodes(cbRows).as("codes"))
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      val name = s"s_pq_ingest_${nameCounter.incrementAndGet()}"
      val q = coded.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        feedStaggered(input, vecs.toSeq.sortBy(_.vec_id), q)
        record("s_pq_ingest", q)
      } finally q.stop()
      s.table(name).orderBy("vec_id", "sub")
    }
  }

  /** s_ivfpq_serve — the PRODUCTION IVFPQ serving topology as one
    * streaming query, composing every piece the batch evals price:
    * a float query vector arrives; the probe (top-2 cells, cos DESC /
    * centroid_id ASC) runs MAP-SIDE against the literal-inlined
    * trained centroids ([[sAnnServe]]'s serving-RAM move); the
    * query's ADC distance table — its integer d2 to all ≤128 (sub,
    * code) centroids over the literal codebook — is computed ONCE per
    * event as an array of per-subspace maps; and each candidate's
    * distance is the SUM OF 8 MAP LOOKUPS against its static 8-byte
    * code row — the corpus's floats are never touched. The top-1
    * (dist ASC, vec_id ASC via min-of-struct) over the probed cells'
    * coded candidates is [[sAnnServe]]'s size-gated shape: map-side
    * against the once-per-pin [[CellMap]] of code rows within the
    * threshold (stateless, append), the stream-static equi-join on the
    * probed cell plus the watermarked windowed min over it (per-query
    * state expires instead of accumulating for the life of the
    * serving process). Fully oracled: the shared IVF + PQ +
    * composed-ADC CTEs replay probe, table, and ranking — every
    * distance an exact integer. */
  def sIvfPqServe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (cen, cells) = Similarity.ivfIndex(s, d)
    val (cb, codes) = ProductQuant.pqIndex(s, d)
    val cbRows: Seq[(Int, Long, Seq[Long])] =
      pinnedFeed(s, d, "feed_cb_pq") {
        cb.select(col("sub").cast("int"), col("code"), col("c"))
          .as[(Int, Long, Seq[Long])].collect().toSeq
      }
    val bySub: Map[Int, Seq[(Long, Seq[Long])]] =
      cbRows.groupBy(_._1).map { case (sb, rs) =>
        sb -> rs.map(r => (r._2, r._3))
      }
    // static serving relation: (vec_id, cell, codes_arr[8]) — the coded
    // corpus, 8 small ints per vector plus its partition key, pinned
    // once per (session, corpus) like [[sAnnServe]]'s
    val corpus = pinnedCorpus(s, d, "pq_coded",
      cells.queryExecution.logical.semanticHash().toString + ":" +
        codes.queryExecution.logical.semanticHash().toString) {
      cells.join(
        codes.groupBy(col("vec_id"))
          .agg(collect_list(struct(col("sub"), col("code"))).as("pv")),
        "vec_id")
        .select(col("vec_id"), col("cell"),
          transform(array_sort(col("pv")), p => p.getField("code")).as("codes_arr"))
    }
    // per-event ADC table: array over subs of map(code -> integer d2).
    // Compact HOF form over the literal codebook — see [[mapSideCodes]]
    // for why tree size (per-trigger replan cost), not per-row speed,
    // is the binding constraint at serving cadence.
    val dtable = array((0 until ProductQuant.Subs).map { sb =>
      val cands = typedlit(bySub(sb).sortBy(_._1))
      map_from_arrays(
        transform(cands, c => c.getField("_1")),
        transform(cands, c => subD2(sb, c.getField("_2"))))
    }: _*)
    val adc = Rerank[Array[Long]]("codes_arr", _.getSeq[Long](2).toArray,
      _.withColumn("xs", transform(col("qvec"),
          x => round(x.cast("double") * 1e6).cast("long")))
        .withColumn("dt", dtable),
      (id, codes) => struct(
        (0 until ProductQuant.Subs).map { sb =>
          element_at(col("dt").getItem(sb), codes.getItem(sb))
        }.reduce(_ + _).as("dist"),
        id.as("vec_id")),
      lowest = true,
      top => Seq(top.getField("vec_id").as("vec_id"), top.getField("dist").as("dist")))
    val mapSide = graft.Pins.broadcastable(s, corpus)
    runServe(s, "s_ivfpq_serve", vecPanel(s, d), mapSide)(
      serveTop1Plan(s, _, d, "ivf", cen, "pq_coded", corpus, mapSide, nProbe = 2, adc))
      .orderBy("qid")
  }

  /** s_neardup_gate — streaming near-duplicate admission gate: each
    * arriving document computes its md5-MinHash band keys MAP-SIDE
    * ([[Dedup.md5BandArrays]] — the per-event form of the batch
    * signature, value-identical) and probes the corpus band index
    * ([[Dedup.md5BandIndex]]); any band collision with a DIFFERENT
    * existing doc flags the arrival as a near-dup candidate before it
    * is admitted to the corpus. Emitted rows are the (arrival,
    * existing) candidate pairs, size-gated ([[neardupGatePlan]]):
    *  - when the band pin is [[graft.Pins.broadcastable]], ONE map-side
    *    lookup of the arrival's band array against the once-per-pin
    *    sketch map returns its sorted distinct dup ids — a stateless
    *    projection, append mode with no watermark: no join, no
    *    Exchange, no state store;
    *  - over the threshold the plan is an unhinted equi-join on
    *    band_key (an unconditional broadcast would ship the whole
    *    corpus sketch to every executor, an OOM rather than a plan
    *    choice), with the per-band pairs collapsed by a
    *    dropDuplicatesWithinWatermark over the arrival stamp —
    *    state O(candidate pairs WITHIN THE WATERMARK), never O(corpus)
    *    or O(stream lifetime). The keyed plan the micro-batch
    *    actually picks broadcasts the per-batch PROBE side into the
    *    sharded corpus, so the gate's Zipf-hot band keys never
    *    serialize into one task — measured, with the salted fallback
    *    for the giant-batch corner ([[NeardupSaltBuckets]],
    *    NEARDUP_SKEW.json).
    * RE-ARRIVAL CONTRACT map-side: emission is per ARRIVAL — a doc_id
    * that arrives again (a re-send, in a later batch) emits its
    * distinct pairs again, once per arrival. In the keyed regime the
    * watermarked dedup keys on (doc_id, dup_id), so a re-arrival
    * inside the watermark emits nothing (spec-pinned in both regimes).
    * The rig feeds each doc once, so both regimes emit the same rows.
    * Oracle: the symmetric band-collision pairs replayed in DuckDB over
    * the same portable md5 hash family. */
  def sNeardupGate(s: SparkSession, d: String): DataFrame =
    neardupGate(s, d, "s_neardup_gate",
      Dedup.md5BandIndex(s, d, graft.operators.IndexStore.BandK), d, "band_gate")

  /** The near-dup gate's per-arrival plan over `arrivals` (doc_id,
    * text): map-side and stateless when `corpus` is
    * [[graft.Pins.broadcastable]], the keyed join plus watermarked
    * (doc_id, dup_id) dedup otherwise — see [[sNeardupGate]]. Append
    * mode in both regimes. `corpus` and `dir` are
    * [[neardupCandidatePairs]]'s; `mapVariant` keys the once-per-pin
    * band map. */
  private[graft] def neardupGatePlan(s: SparkSession, d: String,
      arrivals: DataFrame, corpus: DataFrame, dir: String,
      mapVariant: String): DataFrame = {
    val probes = Dedup.md5BandArrays(
      arrivals.select(col("doc_id"), split(col("text"), " ").as("tk")),
      graft.operators.IndexStore.BandK)
    val pairs = neardupCandidatePairs(s, probes, corpus, dir,
      Some(() => pinnedBandMap(s, d, mapVariant, corpus)))
    if (graft.Pins.broadcastable(s, corpus)) pairs
    else pairs
      // +1 day: the initial watermark is epoch 0 and the late-row
      // filter drops rows AT the watermark, so a doc_id-0 arrival
      // stamped exactly at epoch 0 would silently vanish
      .withColumn("ts", timestamp_seconds(col("doc_id") + lit(86400L)))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("doc_id", "dup_id")
      .select(col("doc_id"), col("dup_id"))
  }

  /** Drive a near-dup gate rig: every corpus doc arrives once, through
    * the staggered feed, into a memory table. */
  private def neardupGate(s: SparkSession, d: String, rig: String,
      corpus: DataFrame, dir: String, mapVariant: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val docs = docEvents(s, d)
    EventPairing.withStreamingPartitions(s) {
      val input = MemoryStream[DocEvent]
      val name = s"${rig}_${nameCounter.incrementAndGet()}"
      val q = withLazyEviction(s) {
        neardupGatePlan(s, d, input.toDF(), corpus, dir, mapVariant)
          .writeStream.format("memory").queryName(name)
          .outputMode("append").start()
      }
      try {
        feedStaggered(input, docs.sortBy(_.doc_id), q)
        record(rig, q)
      } finally q.stop()
      s.table(name).orderBy("doc_id", "dup_id")
    }
  }

  /** The (arrival, existing) exact-gram collision pairs for
    * [[sSubstringGate]]: equi-join on (h, gtext) — the 8-byte hash
    * leads, the text column makes the match EXACT (a 60-bit collision
    * cannot fake a duplicate; the batch tier's contract). Size-gated
    * like [[neardupCandidatePairs]]: map-side against a `postingMap`
    * when `corpus` is [[graft.Pins.broadcastable]], otherwise an
    * unhinted join, where — exactly the [[sNeardupGate]] story the
    * NEARDUP_SKEW verdict measured — the planner broadcasts the tiny
    * per-batch PROBE side into the sharded index (BuildLeft,
    * plan-guarded): arrivals travel, the corpus stays put, and
    * boilerplate-hot grams never key-partition into one task. All
    * shapes emit identical rows over the same index content. Same
    * `dir` CONTRACT as
    * [[neardupCandidatePairs]]: a non-empty `dir` under
    * `graft.index.durable` replaces `corpus` with a durable table
    * rebuilt from `dir` ([[graft.operators.Corpus.gramRows]] — the one
    * gram definition, so no k to drift here), and `=updated` probes
    * base ∪ admitted instead of the full corpus. */
  private[graft] def substringCandidatePairs(
      s: SparkSession, probes: DataFrame, corpus: DataFrame,
      dir: String = "",
      postingMap: Option[() => Broadcast[PostingMap]] = None): DataFrame = {
    val cond = col("s.h") === col("c.h") &&
      col("s.gtext") === col("c.gtext") &&
      col("s.doc_id") =!= col("c.doc_id")
    // HASHED-KEY regime (r15, the substring-gate trigger-cost item):
    // when BOTH sides carry `ghash` — the 16-byte md5 of the gram text,
    // computed ONCE at pin-build time on the corpus side and map-side
    // per arrival on the probe side — the pin/shard branches join on it
    // alone and the broadcast carries (ghash, doc_id) rows instead of
    // the gram STRINGS, shrinking the per-trigger hash-table build
    // (~70% of the gate's p50 was the text-carrying broadcast; measured
    // in bench_full.json serve_latency_ms). md5 equality IS text
    // equality here by the repo's exact-dedup convention (q_dedup_exact
    // keys on md5(text)); the oracle stays the exact-text join and
    // matches barring a 128-bit collision — the same assumption every
    // exact tier already makes. The durable branches keep the
    // (h, gtext) condition: the bucketed tables are clustered on those
    // keys and the exchange-free property rides the table layout.
    val hashed = probes.columns.contains("ghash") &&
      corpus.columns.contains("ghash")
    val condHash = col("s.ghash") === col("c.ghash") &&
      col("s.doc_id") =!= col("c.doc_id")
    def slim(df: DataFrame): DataFrame =
      df.select(col("ghash"), col("doc_id"))
    // In the join regime the probe-side broadcast is left to planner
    // ESTIMATES on purpose — round-11 advice suggested an explicit
    // broadcast(probes) hint so the BuildLeft shape is guaranteed, and
    // the round-12 ×10 stress REFUTED it: the per-batch probe side is
    // unbounded (gram rows scale with the arrival batch), and the
    // forced broadcast OOM'd the heap collecting task results for the
    // driver-side build (s_substring_gate ×10, heap exhaustion in
    // DirectTaskResult serialization) — the exact "an OOM rather than
    // a plan choice" failure the neardup size gate exists to prevent.
    // Estimate-driven is the OOM-safe adaptive behavior: the planner
    // broadcasts the per-batch probe side while it is bounded
    // (BuildLeft, plan-guarded at realistic batch sizes) and degrades
    // to a sharded join only when a giant batch genuinely cannot
    // broadcast — reshuffling the posting index for that batch is the
    // correct price, not a regression.
    // the durable-store regime (`graft.index.durable`): the degraded
    // path joins the BUCKETED gram table — HashPartitioning(h)
    // satisfies the (h, gtext) clustering, so the posting side feeds
    // the join with zero per-batch exchange; only the bounded probe
    // side aligns (or broadcasts, planner's estimate). One write per
    // corpus version replaces one posting-index shuffle per oversized
    // batch — the round-12 carried perf item. "updated" probes
    // base ∪ admitted (the increment regime); "true" the full corpus.
    val durable = s.conf.getOption("graft.index.durable")
    // A broadcastable pin with a caller-supplied posting map: probe the
    // once-per-pin broadcast MAP-SIDE instead of re-broadcasting the
    // posting relation every trigger (see [[pinnedPostingMap]]). The
    // UDF returns every matching posting doc id ≠ the probe doc —
    // multiplicity preserved — so the emitted (doc_id, dup_id) rows
    // are definitionally the broadcast join's; the probe volume is the
    // per-batch arrival grams, so the non-codegen boundary costs
    // microseconds where the per-trigger broadcast build cost
    // hundreds of ms (guide §8's manual-broadcast pattern).
    if (hashed && postingMap.isDefined && graft.Pins.broadcastable(s, corpus)) {
      val bc = postingMap.get.apply()
      val probe = udf((k: Array[Byte], self: Long) => bc.value.lookup(k, self))
      return probes
        .select(col("doc_id"), explode(probe(col("ghash"), col("doc_id"))).as("dup_id"))
    }
    val joined =
      if (dir.nonEmpty && durable.contains("updated2"))
        probes.as("s")
          .join(graft.operators.IndexStore.durableGramUpd2(s, dir).as("c"), cond)
      else if (dir.nonEmpty && durable.contains("updated"))
        probes.as("s")
          .join(graft.operators.IndexStore.durableGramUpd(s, dir).as("c"), cond)
      else if (dir.nonEmpty && durable.contains("true"))
        probes.as("s")
          .join(graft.operators.IndexStore.durableGramIndex(s, dir).as("c"), cond)
      else if (hashed)
        probes.as("s").join(slim(corpus).as("c"), condHash)
      else probes.as("s").join(corpus.as("c"), cond)
    joined.select(col("s.doc_id").as("doc_id"), col("c.doc_id").as("dup_id"))
  }

  /** The 16-byte exact gram key of the hashed-key gate regime —
    * ONE definition for the pin-build and probe sides. */
  private[graft] def gramKey: org.apache.spark.sql.Column =
    unhex(md5(col("gtext").cast("binary")))

  /** s_substring_gate — the EXACT-substring admission tier of the
    * streaming ingest path, beside [[sNeardupGate]]'s sketch tier: a
    * production pipeline screens arrivals for verbatim duplicated
    * spans (the Lee-et-al. tier q_substring_dedup runs in batch)
    * before admitting them to the corpus. Every arriving document
    * computes its stride-1 8-token grams MAP-SIDE
    * ([[graft.operators.Corpus.gramRows]] — the SAME definition the
    * batch tiers hash with, so stream and batch cannot drift) and
    * probes the session-cached corpus gram-posting index
    * ([[Corpus.gramIndex]]); an exact-text gram collision with a
    * DIFFERENT existing doc flags the arrival. Emitted rows are the
    * (arrival, existing) candidate pairs, deduplicated across an
    * arrival's own grams by the watermark-bounded
    * dropDuplicatesWithinWatermark state the near-dup gate keeps in its
    * keyed regime (state is O(pairs within the watermark), never
    * O(corpus)). The
    * index side is SIZE-GATED ([[substringCandidatePairs]]): within the
    * broadcast threshold the postings probe map-side (zero per-batch
    * shuffle); over it the per-batch probe side broadcasts
    * into the sharded index (BuildLeft — plan-guarded, the
    * NEARDUP_SKEW-validated shape). Oracle: the symmetric exact-gram
    * collision pairs replayed in DuckDB over the same gram windows
    * the batch substring oracle builds. */
  def sSubstringGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // the HASHED serving pin (r15): the gate's static side is the gram
    // index projected to (doc_id, ghash) — the 16-byte exact key — so
    // the per-trigger broadcast build carries no gram strings (the
    // dominant share of the gate's p50; see substringCandidatePairs).
    // Built once per corpus version from the shared gramIndex pin.
    val corpus = pinnedCorpus(s, d, "gram_gate") {
      graft.operators.Corpus.gramIndex(s, d)
        .select(col("doc_id"), gramKey.as("ghash"))
    }
    val docs = docEvents(s, d)
    EventPairing.withStreamingPartitions(s) {
      val input = MemoryStream[DocEvent]
      // probes carry BOTH key shapes: ghash for the pin regime, the
      // (h, gtext) pair for the conf-selected durable bucketed joins
      val probes = graft.operators.Corpus.gramRows(
        input.toDF().select(col("doc_id"), split(col("text"), " ").as("tk")))
        .select(col("doc_id"), col("gtext"), col("h"))
        .withColumn("ghash", gramKey)
      val gated = substringCandidatePairs(s, probes, corpus, d,
        Some(() => pinnedPostingMap(s, d, "gram_gate", corpus)))
        // +1 day: the initial watermark is epoch 0 and the late-row
        // filter drops rows AT the watermark (see sNeardupGate)
        .withColumn("ts", timestamp_seconds(col("doc_id") + lit(86400L)))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("doc_id", "dup_id")
        .select(col("doc_id"), col("dup_id"))
      val name = s"s_substring_gate_${nameCounter.incrementAndGet()}"
      val q = withLazyEviction(s) {
        gated.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
      }
      try {
        feedStaggered(input, docs.toSeq.sortBy(_.doc_id), q)
        record("s_substring_gate", q)
      } finally q.stop()
      s.table(name).orderBy("doc_id", "dup_id")
    }
  }

  /** s_substring_gate_upd — the INCREMENT-REGIME exact-substring gate:
    * the same topology as [[sSubstringGate]], but the index side is
    * the UPDATED durable gram table — base split ∪ admitted arrivals,
    * the product [[graft.operators.IndexStore.dedupIndexUpdate]]
    * maintains — so this run screens arrivals against yesterday's
    * corpus PLUS the previous run's admitted arrivals, the exact
    * lifecycle moment the incremental index exists for (round-13
    * verdict: the updated tables were built and append ≡ rebuild
    * verified, but nothing served from them). Consequences the
    * full-corpus gate cannot express: a collision with a NON-admitted
    * delta doc cannot flag (its postings never entered the index),
    * while a collision with an ADMITTED prior-run arrival does even
    * though that doc is absent from the base split — both spec-pinned
    * on a crafted fixture. The loaded table relation is passed as the
    * corpus side directly (it IS the bucketed scan), so every
    * size-gate regime serves the same base ∪ admitted rows: within the
    * threshold the pin probes map-side; over it the join reads
    * the appended BUCKETED table with zero static-side exchange — the
    * bucket spec is table metadata and survives the append
    * (plan-guarded). Existing gates switch to this index via
    * `graft.index.durable=updated` ([[substringCandidatePairs]]);
    * this declared row pins the served CONTENT with a full oracle:
    * symmetric exact-gram collisions of all arrivals against the
    * base ∪ admitted gram windows. */
  def sSubstringGateUpd(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // pinned: a stream-static join re-executes its static side every
    // micro-batch, and unpinned this rig re-read + re-broadcast the
    // bucketed table per trigger — measured 14.0 s vs the session-pin
    // gate's 9.8 s at sf0.1. The pin is the standard serving-tier move
    // (sAnnServe); the dirStamp fingerprint displaces it with the
    // table. The durable keyed path (conf regime) still reads
    // the bucketed scan — that is the exchange-free degraded shape,
    // not this rig's broadcast regime.
    val corpus = pinnedCorpus(s, d, "gram_upd") {
      graft.operators.IndexStore.durableGramUpd(s, d)
        .select(col("doc_id"), gramKey.as("ghash"))
    }
    val docs = docEvents(s, d)
    EventPairing.withStreamingPartitions(s) {
      val input = MemoryStream[DocEvent]
      val probes = graft.operators.Corpus.gramRows(
        input.toDF().select(col("doc_id"), split(col("text"), " ").as("tk")))
        .select(col("doc_id"), col("gtext"), col("h"))
        .withColumn("ghash", gramKey)
      // dir = "" on purpose: the corpus relation IS the updated table;
      // a conf-selected diversion to the full-corpus table would
      // silently change this row's declared content
      val gated = substringCandidatePairs(s, probes, corpus, "",
        Some(() => pinnedPostingMap(s, d, "gram_upd", corpus)))
        .withColumn("ts", timestamp_seconds(col("doc_id") + lit(86400L)))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("doc_id", "dup_id")
        .select(col("doc_id"), col("dup_id"))
      val name = s"s_substring_gate_upd_${nameCounter.incrementAndGet()}"
      val q = withLazyEviction(s) {
        gated.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
      }
      try {
        feedStaggered(input, docs.toSeq.sortBy(_.doc_id), q)
        record("s_substring_gate_upd", q)
      } finally q.stop()
      s.table(name).orderBy("doc_id", "dup_id")
    }
  }

  /** s_substring_gate_upd2 — the exact-substring gate serving DAY 2's
    * index state: base ∪ admitted₁ ∪ admitted₂, the twice-extended
    * table [[graft.operators.IndexStore.dedupIndexUpdate2]] maintains —
    * so day 3's ingest run screens against every prior admission
    * (round-14 verdict item 1: the serving half of the chained loop).
    * The gen-2-specific consequences: a collision with an ADMITTED
    * day-2 arrival flags even though its content is absent from both
    * the base split AND day 1's state, while a day-2 REJECTED doc
    * stays invisible — both spec-pinned. Existing gates switch to this
    * state via `graft.index.durable=updated2`
    * ([[substringCandidatePairs]]); this declared row pins the served
    * content with a full oracle over the base ∪ a₁ ∪ a₂ gram windows. */
  def sSubstringGateUpd2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val corpus = pinnedCorpus(s, d, "gram_upd2") {
      graft.operators.IndexStore.durableGramUpd2(s, d)
        .select(col("doc_id"), gramKey.as("ghash"))
    }
    val docs = docEvents(s, d)
    EventPairing.withStreamingPartitions(s) {
      val input = MemoryStream[DocEvent]
      val probes = graft.operators.Corpus.gramRows(
        input.toDF().select(col("doc_id"), split(col("text"), " ").as("tk")))
        .select(col("doc_id"), col("gtext"), col("h"))
        .withColumn("ghash", gramKey)
      // dir = "" on purpose: the corpus relation IS the updated2 table
      // (the sSubstringGateUpd contract)
      val gated = substringCandidatePairs(s, probes, corpus, "",
        Some(() => pinnedPostingMap(s, d, "gram_upd2", corpus)))
        .withColumn("ts", timestamp_seconds(col("doc_id") + lit(86400L)))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("doc_id", "dup_id")
        .select(col("doc_id"), col("dup_id"))
      val name = s"s_substring_gate_upd2_${nameCounter.incrementAndGet()}"
      val q = withLazyEviction(s) {
        gated.writeStream.format("memory").queryName(name)
          .outputMode("append").start()
      }
      try {
        feedStaggered(input, docs.toSeq.sortBy(_.doc_id), q)
        record("s_substring_gate_upd2", q)
      } finally q.stop()
      s.table(name).orderBy("doc_id", "dup_id")
    }
  }

  /** s_neardup_gate_upd — [[sSubstringGateUpd]]'s sketch-tier twin:
    * the near-dup admission gate serving from the UPDATED durable band
    * index (base split ∪ admitted arrivals — [[graft.operators
    * .IndexStore.durableBandUpd]]), completing the increment regime
    * across BOTH collision tiers. Same consequences: a band collision
    * with a rejected delta doc cannot flag; one with an admitted
    * prior-run arrival does. The loaded table relation is the corpus
    * side (pinned — the serving-tier move), so every size-gate regime
    * serves the same base ∪ admitted rows. Oracle: symmetric band
    * collisions of all arrivals against the base ∪ admitted md5-band
    * chain (the shared admission CTEs). */
  def sNeardupGateUpd(s: SparkSession, d: String): DataFrame = {
    val corpus = pinnedCorpus(s, d, "band_upd") {
      graft.operators.IndexStore.durableBandUpd(s, d)
        .select(col("doc_id"), col("band"), col("band_key"))
    }
    // dir = "" on purpose: the corpus relation IS the updated table
    // (see sSubstringGateUpd)
    neardupGate(s, d, "s_neardup_gate_upd", corpus, "", "band_upd")
  }

  /** s_neardup_gate_upd2 — [[sSubstringGateUpd2]]'s sketch-tier twin:
    * the near-dup gate serving day 2's band state (base ∪ a₁ ∪ a₂ —
    * [[graft.operators.IndexStore.durableBandUpd2]]), completing the
    * generation-2 serving regime across both collision tiers. Oracle:
    * symmetric band collisions of all arrivals against the
    * base ∪ a₁ ∪ a₂ md5-band chain (the chained admission CTEs). */
  def sNeardupGateUpd2(s: SparkSession, d: String): DataFrame = {
    val corpus = pinnedCorpus(s, d, "band_upd2") {
      graft.operators.IndexStore.durableBandUpd2(s, d)
        .select(col("doc_id"), col("band"), col("band_key"))
    }
    // dir = "" on purpose: the corpus relation IS the updated2 table
    neardupGate(s, d, "s_neardup_gate_upd2", corpus, "", "band_upd2")
  }

  /** The (arrival, existing) EXACT-duplicate pairs for
    * [[sCorpusIngest]]: equi-join of the arrival's md5(text) against
    * the corpus content-hash index — the cheapest admission tier
    * (q_dedup_exact's key, streamed). Size-gated like the other tiers:
    * a [[graft.Pins.broadcastable]] (doc_id, md5) pin with an `md5Map`
    * probes map-side; otherwise an unhinted join, where planner
    * estimates broadcast the bounded per-batch probe side (the
    * [[substringCandidatePairs]] shape — md5 keys of mass-duplicated
    * boilerplate are exactly as Zipf-hot as band keys, so the corpus
    * must stay sharded and the arrivals travel; an UNCONDITIONAL
    * probe hint OOMs on giant batches, see substringCandidatePairs).
    * All shapes emit identical rows. */
  private[graft] def exactCandidatePairs(
      s: SparkSession, probes: DataFrame, corpus: DataFrame,
      md5Map: Option[() => Broadcast[KeyedDocsMap]] = None): DataFrame = {
    // a broadcastable pin with a caller-supplied md5 map: the
    // once-per-pin broadcast probe (see [[pinnedKeyedMap]])
    if (md5Map.isDefined && graft.Pins.broadcastable(s, corpus)) {
      val bc = md5Map.get.apply()
      val probe = udf((k: String, self: Long) => bc.value.lookup(k, self))
      return probes
        .select(col("doc_id"), explode(probe(col("h"), col("doc_id"))).as("dup_id"))
    }
    val cond = col("s.h") === col("c.h") && col("s.doc_id") =!= col("c.doc_id")
    probes.as("s").join(corpus.as("c"), cond)
      .select(col("s.doc_id").as("doc_id"), col("c.doc_id").as("dup_id"))
  }

  /** s_corpus_ingest — the COMPOSED streaming admission path: the five
    * screens a production ingest runs on EVERY arriving document,
    * composed into one streaming query the way [[graft.operators
    * .Corpus.corpusBuild]] composes the batch tiers into one job. Four
    * screens check each arrival map-side or against a session-pinned
    * index; the fifth checks it against the run's OWN earlier arrivals
    * (the round-12 gap: the pinned indexes are frozen pre-run, so a
    * re-sent document inside one ingest window passed every screen).
    * Every failed screen emits a (doc_id, reason) flag row:
    *  - 'quality'       — the [[graft.operators.TextAnalysis.logitZ]]
    *                      gate (z_fp < 0): pure map-side;
    *  - 'exact'         — md5(text) collides with a DIFFERENT existing
    *                      doc ([[exactCandidatePairs]] over the pinned
    *                      content-hash index);
    *  - 'substring'     — an exact 8-token gram collides
    *                      ([[substringCandidatePairs]] over
    *                      [[graft.operators.Corpus.gramIndex]]);
    *  - 'neardup'       — a MinHash band collides
    *                      ([[neardupCandidatePairs]] over
    *                      [[graft.operators.Dedup.md5BandIndex]]);
    *  - 'exact_arrival' — the content matched an EARLIER same-run
    *                      arrival ([[ArrivalDedupProcessor]] keep-first
    *                      state keyed on content md5 — the batch
    *                      increment's `exact_delta` rule, streamed).
    *                      Corpus-tier PRECEDENCE is declarative: the
    *                      tier's input anti-joins the md5 index, so
    *                      content the corpus already holds is the
    *                      'exact' screen's business and never enters
    *                      arrival state (matching corpusIncrement's
    *                      exact_base → exact_delta order); like the
    *                      batch rule, quality-rejected arrivals DO
    *                      seed state (their later twins still flag).
    * A clean arrival emits nothing (admission is the default; flags
    * are the alerts). The rig's feed replays the corpus plus a NOVEL
    * re-sent burst — each '0'-bucket doc contributes one synthetic
    * 4-token text sent TWICE under block ids — because corpus-replayed
    * content can never reach the arrival tier (precedence sends it to
    * 'exact'); stamps derive from the id's (block, original) split
    * ([[ArrivalDedup.tsSeconds]]) so arrival order is id order. State:
    * the shared dropDuplicatesWithinWatermark on the four stateless
    * legs — O(flags within the watermark) — plus the keep-first store,
    * O(distinct novel content within its horizon); the arrival leg
    * needs no flag dedup (one row per flagged arrival by construction)
    * and unions in AFTER the watermark dedup, so neither stateful
    * branch redefines the other's watermark. Every index side is the
    * SAME pinned relation its standalone gate serves from (zero added
    * index cost). Oracle: the union of the five tiers' batch replays
    * over the arrival CTE (z_fp, md5/gram/band arrival-probes-corpus
    * pairs, novel-content keep-first) in DuckDB. */
  def sCorpusIngest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val k = graft.operators.IndexStore.BandK
    // REGIME SWITCH (round-15 verdict item 4: the composed production
    // screen pinned the frozen full-corpus indexes regardless of
    // `graft.index.durable`, while the standalone gates honored it —
    // so the one screen a deployment actually runs could not serve
    // day-2 index state). All content tiers now route through the
    // same switch: updated/updated2 serve the increment regime's
    // day-1/day-2 state (base ∪ admitted generations) — gram and band
    // tiers from the durable updated tables under the standalone
    // gates' own pins (zero added pin cost), the exact tier's md5
    // index and the arrival leg's precedence anti-join derived from
    // the same doc set (there is no durable md5 table; the set is the
    // regime's definition). innerDir = "" in regime mode — the passed
    // relation IS the regime state, so the candidate-pair helpers'
    // own conf diversion must not re-route it (the sSubstringGateUpd
    // contract); conf-regime agreement with the standalone upd2
    // replays is spec-pinned (StreamingSpec).
    val regime = s.conf.getOption("graft.index.durable")
      .collect { case "updated" => false; case "updated2" => true }
    val (bandIdx, gramIdx, md5Idx, innerDir, gramVariant, tierTag) = regime match {
      case None =>
        (Dedup.md5BandIndex(s, d, k),
          // the hashed gate pin (r15): shared with sSubstringGate's
          // variant, so the composed ingest's substring leg rides the
          // same once-per-pin posting map (zero added build cost)
          pinnedCorpus(s, d, "gram_gate") {
            graft.operators.Corpus.gramIndex(s, d)
              .select(col("doc_id"), gramKey.as("ghash"))
          },
          pinnedCorpus(s, d, "md5index") {
            Tables.documents(s, d)
              .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
          },
          d, "gram_gate", "gate")
      case Some(g2) =>
        val tag = if (g2) "upd2" else "upd"
        val band = pinnedCorpus(s, d, s"band_$tag") {
          (if (g2) graft.operators.IndexStore.durableBandUpd2(s, d)
           else graft.operators.IndexStore.durableBandUpd(s, d))
            .select(col("doc_id"), col("band"), col("band_key"))
        }
        val gram = pinnedCorpus(s, d, s"gram_$tag") {
          (if (g2) graft.operators.IndexStore.durableGramUpd2(s, d)
           else graft.operators.IndexStore.durableGramUpd(s, d))
            .select(col("doc_id"), gramKey.as("ghash"))
        }
        val gens = graft.operators.Corpus.worldOf(s)
        val stateDocs = (1 to (if (g2) 2 else 1)).foldLeft(
          Tables.documents(s, d).select(col("doc_id"), col("text"))
            .filter(graft.operators.Corpus.isBaseColOf(gens))) { (b, g) =>
          b.unionByName(graft.operators.Corpus.admittedDelta(s, d, g, gens)
            .select(col("doc_id"), col("text")))
        }
        val md5I = pinnedCorpus(s, d, s"md5index_$tag") {
          stateDocs.select(col("doc_id"),
            md5(col("text").cast("binary")).as("h"))
        }
        (band, gram, md5I, "", s"gram_$tag", tag)
    }
    val docs = docEvents(s, d).sortBy(_.doc_id)
    // the novel re-sent burst: same synthetic content under two block
    // ids, arriving after the corpus replay (id order = arrival order)
    val rb = ArrivalDedup.ResentBase
    val span = docs.lastOption.fold(1L)(_.doc_id + 1)
    val novel = docs.filter(e => ArrivalDedup.md5Nibble(e.doc_id) == '0')
      .map(e => (e.doc_id, s"novel resend payload ${e.doc_id}"))
    val arrivals = docs ++
      novel.map { case (id, t) => DocEvent(id + rb, t) } ++
      novel.map { case (id, t) => DocEvent(id + 2 * rb, t) }
    PairingTws.withRocksDb(s) {
      EventPairing.withStreamingPartitions(s) {
        val input = MemoryStream[DocEvent]
        val arr = input.toDF()
        // block-split stamps: 86400 (epoch-0 guard, see sNeardupGate)
        // + block·span + original — monotone in arrival order
        def tsCol: org.apache.spark.sql.Column =
          timestamp_seconds(lit(86400L) +
            expr(s"doc_id div $rb") * lit(span) + pmod(col("doc_id"), lit(rb)))
        def md5Map = pinnedKeyedMap(s, d, s"md5_$tierTag")(
          KeyedDocsMap.of(md5Idx.select(col("h"), col("doc_id"))))
        val (_, zFp) = graft.operators.TextAnalysis.logitZ
        val quality = arr.select(col("doc_id"), zFp.as("z_fp"))
          .filter(col("z_fp") < 0)
          .select(col("doc_id"), lit("quality").as("reason"))
        val exact = exactCandidatePairs(s,
          arr.select(col("doc_id"), md5(col("text").cast("binary")).as("h")),
          md5Idx, Some(() => md5Map))
          .select(col("doc_id"), lit("exact").as("reason"))
        val substr = substringCandidatePairs(s,
          graft.operators.Corpus.gramRows(
            arr.select(col("doc_id"), split(col("text"), " ").as("tk")))
            .select(col("doc_id"), col("gtext"), col("h"))
            .withColumn("ghash", gramKey),
          gramIdx, innerDir,
          Some(() => pinnedPostingMap(s, d, gramVariant, gramIdx)))
          .select(col("doc_id"), lit("substring").as("reason"))
        val near = neardupCandidatePairs(s,
          Dedup.md5BandArrays(
            arr.select(col("doc_id"), split(col("text"), " ").as("tk")), k),
          bandIdx, innerDir,
          Some(() => pinnedBandMap(s, d, s"band_$tierTag", bandIdx)))
          .select(col("doc_id"), lit("neardup").as("reason"))
        val fourLegs = quality.unionByName(exact)
          .unionByName(substr).unionByName(near)
          .withColumn("ts", tsCol)
          .withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("doc_id", "reason")
          .select(col("doc_id"), col("reason"))
        // corpus-tier precedence: content the corpus holds never
        // enters arrival state (the 'exact' screen owns it). Under the
        // exact tier's map-side regime the anti-join rides the SAME
        // once-per-pin md5 map as the exact tier (a left_anti semi-probe
        // is a set membership test — the third per-trigger broadcast
        // this rig used to rebuild); otherwise the join stays for the
        // planner.
        val preceded = {
          val base = arr.select(col("doc_id"),
            md5(col("text").cast("binary")).as("key"), tsCol.as("ts"))
            .withWatermark("ts", "10 minutes")
          if (graft.Pins.broadcastable(s, md5Idx)) {
            val bc = md5Map
            val known = udf((k: String) => bc.value.contains(k))
            base.filter(!known(col("key")))
          } else
            base.join(md5Idx.select(col("h").as("key")).distinct(),
              Seq("key"), "left_anti")
        }
        val arrivalLeg = preceded
          .as[ArrivalEvent]
          .groupByKey(_.key)
          .transformWithState(new ArrivalDedupProcessor(3 * span),
            "ts", OutputMode.Append())
          .select(col("doc_id"), lit("exact_arrival").as("reason"))
        val flags = fourLegs.unionByName(arrivalLeg)
        val name = s"s_corpus_ingest_${nameCounter.incrementAndGet()}"
        val q = withLazyEviction(s) {
          flags.writeStream.format("memory").queryName(name)
            .outputMode("append").start()
        }
        try {
          feedStaggered(input, arrivals, q)
          record("s_corpus_ingest", q)
        } finally q.stop()
        s.table(name).orderBy("doc_id", "reason")
      }
    }
  }

  /** s_bq_serve — the binary-quantization serving tier: the scorecard's
    * best aggressive-compression point (q_bq_recall: 0.56@32×) given
    * the lifecycle its SQ/PQ/IVF siblings already have. Arriving query
    * vectors are CODED MAP-SIDE against the trained corpus thresholds
    * inlined as a 64-long literal ([[Similarity.bqIndex]] — the
    * literal-centroids discipline: thresholds live in RAM, the corpus
    * does not) with the SAME packing fold the corpus coder uses
    * ([[Similarity.bqPackExpr]] — query and corpus bits cannot drift).
    * Each micro-batch then runs the standard two-phase BQ plan in a
    * foreachBatch body (per-query retrieval is stateless across
    * batches, so batch semantics — rank windows included — are the
    * honest expression): Hamming shortlist by bit_count(xor) over the
    * PINNED coded corpus (16 B/vector of register math — the tiny
    * per-batch probe side broadcasts, the corpus stays put), keep the
    * top-[[Similarity.BqRerank]], exact-rescore those on the float
    * column, emit each query's top-1. Results append to a parquet
    * sink dir and the declared row reads them back ([[sForeachSink]]'s
    * prove-the-loop pattern). Oracle: the shared BQ coding CTE +
    * Hamming-top-R + rescored top-1 per panel query. */
  def sBqServe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val (ts, coded) = Similarity.bqIndex(s, d)
    val panel = vecPanel(s, d)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bq_serve").toString
    EventPairing.withStreamingPartitions(s) {
      val input = MemoryStream[VecEvent]
      val probes = input.toDF()
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        .withColumn("qxs",
          expr("transform(qvec, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"))
        .withColumn("qts", typedlit(ts))
        .select(col("qid"), col("qvec"),
          Similarity.bqPackExpr("qxs", "qts", 1, 32).as("qw0"),
          Similarity.bqPackExpr("qxs", "qts", 33, 64).as("qw1"))
      val q = probes.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          import org.apache.spark.sql.expressions.Window
          val wh = Window.partitionBy(col("qid"))
            .orderBy(col("ham").asc, col("vec_id").asc)
          val wc = Window.partitionBy(col("qid"))
            .orderBy(col("cos").desc, col("vec_id").asc)
          batch.crossJoin(coded)
            .filter(col("vec_id") =!= col("qid"))
            .select(col("qid"), col("qvec"), col("vec_id"), col("embedding"),
              (bit_count(col("w0").bitwiseXOR(col("qw0"))) +
                bit_count(col("w1").bitwiseXOR(col("qw1")))).as("ham"))
            .withColumn("hrn", row_number().over(wh))
            .filter(col("hrn") <= Similarity.BqRerank)
            .withColumn("cos", Similarity.cosine(col("embedding"), col("qvec")))
            .withColumn("rn", row_number().over(wc)).filter(col("rn") === 1)
            .select(col("qid"), col("vec_id"), col("cos").as("cos_sim"))
            .write.mode("append").parquet(dir)
        }
        .outputMode("append").start()
      try {
        feedStaggered(input, panel.toSeq.sortBy(_.vec_id), q)
        record("s_bq_serve", q)
      } finally q.stop()
      val parts = Option(new java.io.File(dir)
        .listFiles((_, fn) => fn.endsWith(".parquet"))).fold(0)(_.length)
      if (parts == 0) Seq.empty[(Long, Long, Double)].toDF("qid", "vec_id", "cos_sim")
      else s.read.parquet(dir)
        .select(col("qid"), col("vec_id"), col("cos_sim"))
        .orderBy("qid")
    }
  }
}
