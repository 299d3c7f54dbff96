package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import Det._

/** Aggregation / window / join surface beyond the round-1 inventory:
  * argmin-argmax aggregates, filtered aggregates, ordered string
  * aggregation, schema-aligning union, binning, HAVING, grand totals,
  * IN/EXISTS subqueries, percent/cume/nth window functions, RANGE
  * frames, keep-first dedup, gaps-and-islands, deterministic hash
  * sampling, and a broadcast range (theta) join.
  */
object Analytics {

  /** q_minmax_by — argmin/argmax aggregates: the order that realized the
    * extreme price per priority. min_by/max_by on a column with ties is
    * nondeterministic in BOTH engines, so the ordering argument is the
    * STRUCT (price, key) — lexicographic, injective for any key/price
    * magnitude (a scaled-arithmetic combination would collide once keys
    * outgrow the scale factor). DuckDB's arg_max can't take a composite
    * ordering, so the oracle states the same semantics as ranking
    * windows over (price, key). */
  def minmaxBy(s: SparkSession, d: String): DataFrame = {
    val ord = struct(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        max_by(col("o_orderkey"), ord).as("best_order"),
        max(col("o_totalprice")).as("best_price"),
        min_by(col("o_orderkey"), ord).as("worst_order"),
        min(col("o_totalprice")).as("worst_price"))
      .orderBy("o_orderpriority")
  }

  /** q_count_if — filtered aggregates (count_if ≙ FILTER clause): share
    * of delinquent / affluent accounts per market segment. */
  def countIf(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_custs"),
        count_if(col("c_acctbal") < 0.0).as("n_delinquent"),
        count_if(col("c_acctbal") > 5000.0).as("n_affluent"))
      .withColumn("delinquent_share",
        col("n_delinquent").cast("double") / col("n_custs"))
      .orderBy("c_mktsegment")

  /** q_string_agg — ordered string aggregation: nation roster per region
    * (sorted collect_list + concat_ws ≙ string_agg ... ORDER BY). The
    * sort inside the aggregate is what makes it deterministic. */
  def stringAgg(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_nations"),
        concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
      .orderBy("r_name")

  /** q_union_by_name — schema-aligning union: two projections with
    * different column order/subset combine by NAME (missing columns →
    * null), then a null-aware rollup proves which side carried what. */
  def unionByName(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("event_id"), col("user_id"), col("value"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("value"), col("event_id")) // no user_id, different order
    signups.unionByName(purchases, allowMissingColumns = true)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("user_id")).as("n_with_user"),
        dsum(col("value")).as("sum_value"))
  }

  /** q_histogram — equi-width binning (no width_bucket in the oracle
    * engine, so the portable floor-divide form): 60k-wide price buckets
    * capped at bucket 9. */
  def histogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(least(floor(col("o_totalprice") / 60000.0), lit(9L))
        .cast("int").as("bucket"),
        col("o_totalprice"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy("bucket")

  /** q_having — post-aggregation predicate: customers with ≥ 15 orders
    * (`filter` after `agg` plans exactly like SQL HAVING). */
  def having(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spend"))
      .filter(col("n_orders") >= 15)
      .orderBy("o_custkey")

  /** q_global_agg — grand-total aggregation (no grouping key): one
    * partial per partition, one 1-row final — the cheapest possible
    * full-scan summary at any scale. */
  def globalAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        dsum(col("l_quantity")).as("total_qty"),
        unix_millis(min(col("l_shipdate"))).as("first_ship_ms"),
        unix_millis(max(col("l_shipdate"))).as("last_ship_ms"))

  /** q_in_subquery — uncorrelated IN / NOT IN subqueries (planned as
    * left-semi + null-aware anti joins) through the SQL surface. */
  def inSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer")
    s.sql("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM graft_orders
      WHERE o_custkey IN (SELECT c_custkey FROM graft_customer
                          WHERE c_mktsegment = 'BUILDING')
        AND o_custkey NOT IN (SELECT c_custkey FROM graft_customer
                              WHERE c_acctbal < 0.0)
      ORDER BY o_orderkey""")
  }

  /** q_exists_subquery — correlated EXISTS with an extra predicate
    * (decorrelates to a filtered semi-join): orders containing at least
    * one near-max-quantity line. */
  def existsSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders")
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem")
    s.sql("""
      SELECT o_orderkey, o_orderpriority, o_totalprice
      FROM graft_orders
      WHERE EXISTS (SELECT 1 FROM graft_lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity >= 49.0)
      ORDER BY o_orderkey""")
  }

  /** q_window_percent — distribution window functions: percent_rank /
    * cume_dist / nth_value per market segment, over the injectively
    * ordered (acctbal, custkey) so peer groups are single rows. */
  def windowPercent(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(s, d)
      .select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        nth_value(col("c_custkey"), 2)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("second_poorest"))
      .orderBy("c_mktsegment", "c_acctbal", "c_custkey")
  }

  /** q_window_range — RANGE frame over a day index: per customer, spend
    * within the trailing 31-day window of each order (RANGE includes
    * value-peers — same-day orders — identically in both engines; the
    * sum runs in exact decimal). */
  def windowRange(s: SparkSession, d: String): DataFrame = {
    val day = datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"), day.as("day"),
        col("o_totalprice"))
      .withColumn("trailing_spend",
        sum(col("o_totalprice").cast(DecimalType(18, 4))).over(w).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"), col("day"), col("trailing_spend"))
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  /** q_dedup_keepfirst — canonical-representative dedup: one survivor
    * per exact-content group (min doc_id via a ranking window), the
    * keep-side counterpart of q_dedup_exact's group census. */
  def dedupKeepFirst(s: SparkSession, d: String): DataFrame = {
    val byHash = Window.partitionBy(col("text_hash"))
    Tables.documents(s, d)
      .withColumn("text_hash", md5(col("text").cast("binary")))
      .withColumn("rn", row_number().over(byHash.orderBy(col("doc_id"))))
      .withColumn("group_size", count(lit(1)).over(byHash))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("group_size"))
      .orderBy("doc_id")
  }

  /** q_gaps_islands — maximal runs of consecutive order keys among open
    * orders (key − row_number is constant within a run). The classic
    * formulation is a GLOBAL ordered window — a single-task sort of the
    * whole relation, the serialization shape this library keeps killing
    * ([[Scale.skyline]]'s round-9 sweep). Here row_number is computed
    * DISTRIBUTED: range-partition by key, rank locally per range
    * (Window.partitionBy on the partition id — each range is one
    * group), and lift local ranks to global ones by broadcast-joining
    * each range's row-count prefix (P scalars folded on the driver —
    * the skyline stitch). Ranges are pinned (localCheckpoint) so the
    * count pass and the rank pass see the SAME sampled boundaries.
    * Islands spanning a range boundary need no merge pass at all:
    * global rank makes `key − rn` identical on both sides, and the
    * groupBy(grp) shuffle reunites them. Emitted rows are identical to
    * the global-window form (spec-pinned across forced multi-range
    * layouts). SIZE-GATED like [[Scale.skyline]]: below
    * [[IslandsDistributedMinRows]] (conf
    * `graft.islands.distributedMinRows`) the classic global window
    * runs as-is — one task sorting a relation that fits one task is
    * the cheaper plan (the stitch costs a flat ~0.5 s of shuffle +
    * driver-fold scaffolding, measured at sf0.1); above it the single
    * sort is the scale-killer and the stitch takes over. */
  def gapsIslands(s: SparkSession, d: String): DataFrame = {
    // pinned ONCE: the branch gate's count and whichever ranking pass
    // runs both read these blocks — the filter scan happens one time
    // (round-10 fix: the gate previously cost a full extra relation
    // pass before any useful work)
    val keys = Tables.orders(s, d)
      .filter(col("o_orderstatus") === "O")
      .select(col("o_orderkey"))
      .transform(graft.Pins.checkpoint)
    val limit = s.conf.getOption("graft.islands.distributedMinRows")
      .map(_.toLong).getOrElse(IslandsDistributedMinRows)
    val ranked =
      if (keys.count() < limit) {
        keys.withColumn("rn",
          row_number().over(Window.orderBy(col("o_orderkey"))))
      } else {
        val (ranged, prefix) = PrefixStitch.rangeRank(
          keys, Seq(col("o_orderkey")))
        val wLocal = Window.partitionBy(col("pid")).orderBy(col("o_orderkey"))
        ranged
          .withColumn("lrn", row_number().over(wLocal))
          .join(prefix, "pid")
          .select(col("o_orderkey"),
            (col("rank_before") + col("lrn")).as("rn"))
      }
    ranked
      .withColumn("grp", col("o_orderkey") - col("rn"))
      .groupBy(col("grp"))
      .agg(min(col("o_orderkey")).as("island_start"),
        max(col("o_orderkey")).as("island_end"),
        count(lit(1)).as("n_orders"))
      .select(col("island_start"), col("island_end"), col("n_orders"))
      .orderBy("island_start")
  }

  /** Row ceiling under which [[gapsIslands]] keeps the classic global
    * ordered window: ~1M (key, rank) pairs sort comfortably in one
    * task, and the distributed stitch's flat scaffolding (range
    * shuffle + checkpoint + P-scalar driver fold) only pays for itself
    * once one task can no longer hold the sort. Conf-overridable via
    * `graft.islands.distributedMinRows` (the spec knob — specs pin
    * both branches row-identical). */
  private[graft] val IslandsDistributedMinRows = 1L << 20

  /** q_hash_sample — deterministic content-hash sampling: md5 of the key
    * is engine-independent, so `md5(key) starts with hex digit 0` is the
    * same ~1/16 sample everywhere — reproducible across engines, runs,
    * and cluster sizes, unlike TABLESAMPLE/rand(). Rolled up so the
    * sample is also checked in aggregate. */
  def hashSample(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 1) === "0")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_sampled"), dsum(col("o_totalprice")).as("sampled_value"))
      .orderBy("o_orderpriority")

  /** q_window_ignorenulls — null-skipping window navigation: the running
    * "last known non-null value" per segment (last + ignoreNulls ≙
    * LAST_VALUE ... IGNORE NULLS) — the gap-fill primitive for sparse
    * time series. Nulls are synthesized from negative balances. */
  def windowIgnoreNulls(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment")).orderBy(col("c_custkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.customer(s, d)
      .withColumn("v", when(col("c_acctbal") >= 0.0, col("c_acctbal")))
      .select(col("c_mktsegment"), col("c_custkey"), col("v"),
        last(col("v"), ignoreNulls = true).over(w).as("last_known"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** q_try_funcs — error-tolerant expression forms: try_divide (null on
    * zero divisor) and try_cast (null on unparseable input) — the
    * per-expression counterpart of the source-level PERMISSIVE JSON
    * handling (C2). Scale note: try_cast's failure path is an
    * exception-throw per row (~25 µs here — it tripled this query's
    * runtime on a mostly-failing column), so the cast sits behind a
    * cheap regexp guard: rows that can't parse never enter the
    * throwing path. The guard (unsigned digits only) is part of the
    * query's contract and the oracle states the SAME guard — a bare
    * TRY_CAST would additionally accept signed/padded/decimal forms. */
  def tryFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        try_divide(col("value"), (col("user_id") % 3).cast("double")).as("safe_div"),
        when(col("event_type").rlike("^[0-9]+$"),
          expr("try_cast(event_type AS INT)")).as("parsed_type"))
      .orderBy("event_id")

  /** q_grouping_id — GROUPING flags on a cube: distinguishes a real
    * NULL group value from a subtotal row (the thing a plain cube
    * result can't express), plus the packed grouping_id bitmask. */
  def groupingId(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_prio"),
        grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** q_quantile_disc — discrete percentiles (PERCENTILE_DISC ≙ DuckDB
    * quantile_disc): returns an actual member of the group (first value
    * with cume_dist ≥ p), so unlike the interpolated q_percentiles no
    * edge rounding is needed — the value is exact in both engines. */
  def quantileDisc(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50_disc"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90_disc"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** q_collect_set — distinct-set aggregation rendered deterministic:
    * collect_set is unordered in both engines, so the set sorts before
    * serializing (the same discipline as q_string_agg). */
  def collectSet(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        concat_ws(",", array_sort(collect_set(col("o_orderstatus")))).as("statuses"),
        size(collect_set(col("o_orderstatus"))).as("n_statuses"))
      .orderBy("o_orderpriority")

  /** q_sequence_fill — calendar zero-fill: a generated month spine
    * (sequence + explode) left-joined to the monthly rollup so empty
    * months appear as explicit zeros — the standard densification step
    * before time-series modeling. The spine derives from the data's own
    * min/max, so the query stays self-contained at any scale. */
  def sequenceFill(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val bounds = o.agg(
      date_trunc("month", min(col("o_orderdate"))).as("lo"),
      date_trunc("month", max(col("o_orderdate"))).as("hi"))
    val spine = bounds.select(
      explode(sequence(col("lo"), col("hi"), expr("INTERVAL 1 MONTH"))).as("m"))
    val monthly = o.groupBy(date_trunc("month", col("o_orderdate")).as("m"))
      .agg(count(lit(1)).as("n"))
    spine.join(monthly, Seq("m"), "left_outer")
      .select(unix_millis(col("m")).as("month_ms"),
        coalesce(col("n"), lit(0L)).as("n_orders"))
      .orderBy("month_ms")
  }

  /** q_stats_pop — population-variant statistics + simple linear
    * regression aggregates per priority (the samp variants live in
    * q_stats_agg). All are ratios of order-dependent double sums, so
    * they round at the edge like the other moment aggregates. */
  def statsPop(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .agg(
        round(var_pop(col("o_totalprice")), 2).as("vp"),
        round(stddev_pop(col("o_totalprice")), 4).as("sp"),
        round(covar_pop(col("o_totalprice"), col("o_custkey").cast("double")), 2).as("cvp"),
        round(covar_samp(col("o_totalprice"), col("o_custkey").cast("double")), 2).as("cvs"),
        round(regr_slope(col("o_totalprice"), col("o_custkey").cast("double")), 6).as("slope"),
        round(regr_r2(col("o_totalprice"), col("o_custkey").cast("double")), 6).as("r2"))
      .orderBy("o_orderpriority")

  /** q_range_join — theta (range-predicate) join: events against a tiny
    * value-band dimension with `lo ≤ value < hi`. A non-equi join can
    * only plan as nested-loop — broadcasting the 4-row band table keeps
    * it a map-side pass (the alternative at scale: bin both sides to an
    * equi-key first). */
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("p00_small", 0.0, 100.0),
      ("p01_mid", 100.0, 250.0),
      ("p02_large", 250.0, 500.0),
      ("p03_huge", 500.0, 1e9)).toDF("band", "lo", "hi")
    Tables.events(s, d)
      .join(broadcast(bands),
        col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy("band")
  }

  /** q_range_join_custom — the SAME band-join semantics as
    * [[rangeJoin]], executed through the engine's own
    * [[graft.plans.BandJoinPlan]] operator (binary-search probe into
    * the broadcast sorted band table, O(log m) per row instead of
    * BNLJ's O(m)) — and it must agree with the declarative query's
    * oracle, which is what makes the custom operator trustworthy. */
  def rangeJoinCustom(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      ("p00_small", 0.0, 100.0),
      ("p01_mid", 100.0, 250.0),
      ("p02_large", 250.0, 500.0),
      ("p03_huge", 500.0, 1e9)).toDF("band", "lo", "hi")
    graft.plans.BandJoin.bandJoin(
        Tables.events(s, d).select(col("value")), bands, "value", "lo", "hi")
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy("band")
  }

  /** q_funnel — ordered-stage funnel (view → signup → purchase): a
    * stage only counts if it happens AT OR AFTER the previous stage's
    * first completion, so out-of-order events don't fake progress. One
    * conditional-aggregation pass per user (min-ts per stage with an
    * ordering predicate via a two-level agg), then a tiny rollup to
    * per-stage user counts — the corpus shuffles once on user_id.
    * Timestamps are exact longs; no float anywhere. */
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), millis(col("ts")).as("ts_ms"))
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view", col("ts_ms"))).as("t_view"))
      .join(ev, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"))
      .agg(min(when(col("event_type") === "signup" &&
        col("ts_ms") >= col("t_view"), col("ts_ms"))).as("t_signup"))
      .join(ev, Seq("user_id"))
      .groupBy(col("user_id"), col("t_view"), col("t_signup"))
      .agg(min(when(col("event_type") === "purchase" &&
        col("ts_ms") >= col("t_signup"), col("ts_ms"))).as("t_purchase"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      count(col("t_view")).as("n_viewed"),
      count(col("t_signup")).as("n_signed_up"),
      count(col("t_purchase")).as("n_purchased"))
  }

  /** q_retention — weekly cohort retention: users cohorted by their
    * first-seen week, counted distinct per (cohort, weeks-since) cell.
    * The classic triangular matrix every growth dashboard draws. Two
    * keyed aggregations (first-seen per user, then the cell rollup)
    * plus a broadcast-sized join back — integer week arithmetic on
    * epoch-ms, nothing engine-variant. Cells are capped at offset ≤ 8
    * so output stays dashboard-sized at any scale. */
  def retention(s: SparkSession, d: String): DataFrame = {
    val wk = 604800000L // 7 * 24 * 3600 * 1000
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr(s"unix_millis(ts) div $wk").as("week"))
    val first = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
    ev.join(first, Seq("user_id"))
      .select(col("user_id"), col("cohort"), (col("week") - col("cohort")).as("offset"))
      .filter(col("offset") <= 8)
      .groupBy(col("cohort"), col("offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort", "offset")
  }

  /** q_anomaly_zscore — per-group z-score outliers (the data-quality
    * monitor every ingest pipeline runs): per event_type mean and
    * population stddev, broadcast back, keep |value − mean| > 3σ. The
    * moments are built from the SAME fixed-point sums both engines
    * compute exactly (Σ and Σx² as 1e-4-grain longs), so mean/σ are
    * bit-identical doubles and the 3σ gate can't flip cross-engine —
    * the usual stddev_pop would drift in summation order. Shape: one
    * map-side-combined agg to #types rows, broadcast join back, one
    * codegen'd filter — the corpus is scanned twice but never
    * shuffled on a data-sized key. */
  def anomalyZscore(s: SparkSession, d: String): DataFrame = {
    val stats = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        dsum(col("value")).as("sum_v"),
        dsum(col("value") * col("value")).as("sum_v2"))
      .select(col("event_type"),
        (col("sum_v") / col("n")).as("mean_v"),
        sqrt(col("sum_v2") / col("n") -
          (col("sum_v") / col("n")) * (col("sum_v") / col("n"))).as("sd_v"))
    Tables.events(s, d)
      .join(broadcast(stats), Seq("event_type"))
      .filter(col("sd_v") > 0.0 &&
        abs(col("value") - col("mean_v")) > col("sd_v") * 3.0)
      .select(col("event_id"), col("event_type"), col("value"),
        round((col("value") - col("mean_v")) / col("sd_v"), 6).as("z"))
      .orderBy("event_id")
  }

  /** EWMA taps: α = 1/2 truncated at 8 samples — every weight is a
    * power of two, so the weighted sum is EXACT integer arithmetic
    * (weight 2^(7−k) on the 1e-4 fixed-point minute totals) and the
    * smoother is bit-identical on any engine or partitioning. An
    * untruncated EWMA is an order-dependent float recurrence — the
    * 8-tap cut costs < 0.4 % of the mass (2^-8) and buys determinism
    * plus a pure window-function form (no sequential state). */
  private val EwmaTaps = 8

  /** q_ewma_smooth — the monitoring smoother: per event type, the
    * exponentially weighted moving average of per-MINUTE value totals
    * (the [[anomalyZscore]] companion — z-score flags points, EWMA
    * tracks level). Pre-aggregating to the minute grid makes the
    * series key (event_type, minute) unique, so the lag window is
    * deterministic without inventing a tie-break on raw events. Taps
    * are the previous OBSERVED minutes (gaps compress — densify with
    * the q_sequence_fill spine first if calendar-true decay matters).
    * One keyed aggregation + one window pass; numerator and
    * denominator are exact longs, one final double division. Leading
    * edge: fewer-than-8 available taps renormalize over the present
    * weights (pinned by spec). */
  def ewmaSmooth(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("minute", col("ts")).as("minute"))
      .agg(sum(floor(col("value") * 10000 + 0.5).cast("long")).as("svl"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("minute"))
    val num = (1 until EwmaTaps).map { k =>
      coalesce(lag(col("svl"), k).over(w) * (1L << (EwmaTaps - 1 - k)), lit(0L))
    }.foldLeft(col("svl") * (1L << (EwmaTaps - 1)))(_ + _)
    val den = (1 until EwmaTaps).map { k =>
      when(lag(col("svl"), k).over(w).isNotNull,
        lit(1L << (EwmaTaps - 1 - k))).otherwise(lit(0L))
    }.foldLeft(lit(1L << (EwmaTaps - 1)).as("w0"))(_ + _)
    base.select(col("event_type"), millis(col("minute")).as("minute_ms"),
        (col("svl").cast("double") / 10000.0).as("raw_value"),
        round(num.cast("double") / (den * 10000L).cast("double"), 6).as("ewma"))
      .orderBy("event_type", "minute_ms")
  }
}
