package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import Det._

/** The TPC-H optimizer-showcase pack (SURVEY.md §2.3, extending the
  * Q1/Q3/Q5/Q6 family in [[Relational]]): the classic decision-support
  * queries adapted to the driver's slimmed star (no partsupp table; no
  * commitdate/receiptdate/shipmode/container columns), each kept for the
  * DISTINCT Catalyst feature it exercises rather than for benchmark
  * fidelity:
  *
  *   - Q2 shape  — correlated-min decorrelation (scalar subquery → agg+join)
  *   - Q4 shape  — EXISTS → left-semi with a non-equi conjunct
  *   - Q7        — OR'd nation-pair filter over a two-branch snowflake
  *   - Q10       — returned-item revenue top-k over a 4-table join
  *   - Q12 shape — conditional two-way classification agg over a fact join
  *   - Q14       — promo revenue share (conditional numerator, one scan)
  *   - Q18       — HAVING-subquery large orders joined back to the fact
  *   - Q19       — disjunctive conjunct groups, CNF common-factor pushdown
  *   - Q8        — one dimension in two broadcast roles + grouped ratio
  *   - Q9 shape  — substring dim filter + exact-decimal profit expression
  *
  * Scale rules as everywhere in this library: dims broadcast, the fact
  * shuffles at most once on its join key, aggregates are partial by
  * construction, revenue sums ride the exact-decimal [[Det]] scheme so
  * rankings are engine-independent, and every sort is terminal.
  *
  * Reference mapping: the reference pipeline (Main.java:120-205) is one
  * fixed topology; this pack is part of the generalized relational surface
  * a user migrating OFF it onto a warehouse-shaped engine expects to run.
  */
object Tpch {

  private def ts(d: String) = lit(d).cast("timestamp")

  /** q_tpch_q2 — Q2's optimizer lesson on the slimmed star: a correlated
    * scalar subquery ("the min unit price offered for this part") that
    * Catalyst decorrelates into an aggregate + equi-join instead of a
    * per-row re-scan. With no partsupp table, lineitem plays the
    * part-supplier offer relation: for PROMO parts of size ≤ 10, find the
    * (part, supplier) pairs achieving the per-part MINIMUM l_extendedprice.
    * The min is computed over the stored doubles and compared by EQUALITY
    * (no arithmetic), so cross-engine determinism needs no fixed point.
    * Plan: part filter pushed to its scan, part broadcasts into lineitem,
    * one shuffle on l_partkey for the min, the min relation (part-count
    * sized) broadcasts back — the fact never shuffles twice. */
  def q2Shape(s: SparkSession, d: String): DataFrame = {
    val offers = Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .filter(col("p_type") === "PROMO" && col("p_size") <= 10)),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        col("l_suppkey"), col("l_extendedprice"))
    val minPrice = offers.groupBy(col("p_partkey").as("m_partkey"))
      .agg(min(col("l_extendedprice")).as("min_price"))
    offers
      .join(broadcast(minPrice),
        col("p_partkey") === col("m_partkey") &&
          col("l_extendedprice") === col("min_price"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      // a part can have several offers AT the min (same supplier twice or
      // price ties) — the contract is the distinct winner set
      .select(col("p_partkey"), col("p_brand"), col("p_size"),
        col("s_suppkey"), col("s_name"), col("min_price"))
      .distinct()
      .orderBy(col("p_partkey").asc, col("s_suppkey").asc)
  }

  /** q_tpch_q4 — Q4's shape (order priority checking): how many orders per
    * priority had at least one LATE line (shipped > 30 days after the order
    * date — the commitdate/receiptdate lateness rewritten onto available
    * columns). The EXISTS subquery is expressed as a LEFT SEMI join whose
    * condition mixes the equi key with a non-equi cross-side predicate
    * (l_shipdate > o_orderdate + 30d): Catalyst keeps the equi part as the
    * hash key and evaluates the band residual inside the join — no
    * nested-loop fallback, and the semi form never duplicates orders with
    * many late lines. One shuffle each side on the order key. */
  def q4Shape(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1997-07-01"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate")),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
        "leftsemi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")

  /** q_tpch_q7 — Q7 (volume shipping): revenue flowing between two specific
    * nations in either direction, by supplier nation × customer nation ×
    * ship year. The join is a TWO-BRANCH snowflake off the fact (supplier →
    * nation on one side, orders → customer → nation on the other) with the
    * OR'd pair predicate ((N1,N2) or (N2,N1)) evaluated AFTER both branches
    * resolve — exactly the filter Catalyst cannot push below the join, so
    * the plan shows dims broadcast, one fact shuffle on l_orderkey, and the
    * pair filter as a post-join codegen'd filter. Year extraction is integer
    * (cast to int for Spark/DuckDB agreement). */
  def q7(s: SparkSession, d: String): DataFrame = {
    val sn = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val cn = broadcast(Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation")))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1996-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .join(cn, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
        (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(dsumExact(dprod(col("l_extendedprice"),
        lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** q_tpch_q10 — Q10 (returned item reporting): the top-20 customers by
    * revenue LOST to returns (l_returnflag = 'R') for orders placed in one
    * quarter. Classic funnel: both fact filters pushed to their scans, the
    * one real shuffle is lineitem⋈orders on the order key, customer and
    * nation broadcast, and the final rollup is customer-cardinality. The
    * top-20 ranking rides the exact-decimal revenue with the key as
    * tie-break, so it cannot flip between engines. */
  def q10(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("1997-07-01") &&
          col("o_orderdate") < ts("1997-10-01")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(dsumExact(dprod(col("l_extendedprice"),
        lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)

  /** q_tpch_q12 — Q12's shape (shipping classification): per line status
    * (the slimmed star's stand-in for shipmode), how many LATE-shipped 1997
    * lines belong to critical-priority orders vs not — the two-way
    * conditional-count aggregate over a single fact⋈orders join that Q12
    * exists to exercise (CASE folding into partial aggregation; one
    * shuffle). The lateness band predicate reuses the q4 residual shape. */
  def q12Shape(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1998-01-01"))
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")

  /** q_tpch_q14 — Q14 (promotion effect): the share of one month's revenue
    * carried by PROMO parts — a conditional numerator and unconditional
    * denominator from ONE scan of the filtered fact (no second pass), part
    * broadcast in for the type flag. Both sums are exact decimal; only the
    * final share divides the two exact doubles (single IEEE op, identical
    * everywhere). The CASE's zero branch is typed to the product's decimal
    * so the sum never widens through double. */
  def q14(s: SparkSession, d: String): DataFrame = {
    val rev = dprod(col("l_extendedprice"), lit(1.0) - col("l_discount"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1997-09-01") &&
        col("l_shipdate") < ts("1997-10-01"))
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .agg(
        dsumExact(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast(DecimalType(25, 8)))).as("promo_revenue"),
        dsumExact(rev).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (col("promo_revenue") * 100.0 / col("total_revenue")).as("promo_share_pct"))
  }

  /** q_tpch_q18 — Q18 (large volume customers): orders whose total quantity
    * exceeds 180, joined back to orders+customer for the report, top-10 by
    * order value. The HAVING subquery becomes an aggregate on the fact's
    * natural key (one shuffle, map-side partial sums) whose survivor set is
    * TINY at any scale — it broadcasts back into orders, so the second join
    * costs no fact shuffle. Quantity sums ride the fixed-point scheme;
    * the top-10 ties break on the key. */
  def q18(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("b_orderkey"))
      .agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 180.0)
    Tables.orders(s, d)
      .join(broadcast(big), col("o_orderkey") === col("b_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        millis(col("o_orderdate")).as("orderdate_ms"),
        col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(10)
  }

  /** q_tpch_q15 — Q15 (top supplier): the aggregated-VIEW + scalar-
    * subquery pattern — revenue per supplier for one quarter, then the
    * supplier(s) achieving the GLOBAL MAX of that derived relation.
    * Catalyst evaluates the max as a scalar subquery over the
    * (supplier-count-sized) revenue view and the equality filter
    * reuses the same view — the view computes from one fact shuffle;
    * revenue is exact decimal so the max-equality cannot drift. Ties
    * (several suppliers at the max) all emit, as in the spec's
    * RETURN clause. */
  def q15(s: SparkSession, d: String): DataFrame = {
    val revenue = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= ts("1997-01-01") &&
        col("l_shipdate") < ts("1997-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(dsumExact(dprod(col("l_extendedprice"),
        lit(1.0) - col("l_discount"))).as("total_revenue"))
    val top = revenue.agg(max(col("total_revenue")).as("max_revenue"))
    revenue
      .join(broadcast(top), col("total_revenue") === col("max_revenue"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  /** q_tpch_q22 — Q22's shape (global sales opportunity): rich but
    * LAPSED customers — above the average positive balance of a nation
    * subset, with no order since 2001 (the synthetic data keeps every
    * customer active overall, so "lapsed since a cutoff" is the
    * non-degenerate form of the spec's "no orders"). Two classic
    * planner moves in one query: the scalar AVG subquery computes once
    * and broadcasts into the filter (no per-row re-evaluation), and
    * NOT EXISTS decorrelates to a LEFT ANTI hash join against the
    * date-pruned orders (the cutoff predicate pushes into the orders
    * scan — the anti-join's build side is the recent slice, not the
    * table). Grouped to the per-nation dashboard row; balance sums
    * ride the fixed-point scheme. */
  def q22Shape(s: SparkSession, d: String): DataFrame = {
    val pool = Tables.customer(s, d)
      .filter(col("c_nationkey") < 10 && col("c_acctbal") > 0.0)
    val avgBal = pool.agg(davg(col("c_acctbal")).as("avg_bal"))
    pool
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("2001-01-01"))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy("c_nationkey")
  }

  /** q_tpch_q19 — Q19 (discounted revenue, the DISJUNCTIVE-pushdown
    * showcase): three OR'd conjunct groups over brand × size × quantity.
    * Catalyst's CNF conversion extracts the cross-group common factors —
    * the scan shows l_quantity ∈ [1,40] and p_size ∈ [1,50] pushed as
    * range filters and p_brand IN (…) pushed to the part scan — while the
    * per-group brand↔quantity coupling stays a post-join residual. Part
    * broadcasts; one filtered fact scan, zero shuffles before the global
    * agg. */
  def q19(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1.0, 20.0)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10.0, 30.0)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20.0, 40.0)))
      .agg(dsumExact(dprod(col("l_extendedprice"),
        lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))

  /** q_tpch_q13 — Q13 (customer order-count distribution): how many
    * customers placed exactly N qualifying orders, INCLUDING the
    * zero-order customers the inner join would silently drop — the
    * null-preserving outer-aggregate + histogram-of-counts shape
    * (the comment-pattern exclusion rewritten onto o_orderpriority).
    * The scale move: orders pre-aggregates to (custkey, count) BEFORE
    * the outer join — the join's right side is customer-cardinality,
    * not order-cardinality, and the count arrives map-side-combined;
    * COALESCE(cnt, 0) then restores the spec's count(o_orderkey)=0 for
    * never-matched customers (the LEFT OUTER's whole point). One
    * shuffle per side on the customer key; the final histogram groups
    * a #customers-row relation. Deterministic: counts only. */
  def q13Shape(s: SparkSession, d: String): DataFrame = {
    val perCust = Tables.orders(s, d)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("cnt"))
    Tables.customer(s, d)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"), coalesce(col("cnt"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** q_tpch_q17 — Q17 (small-quantity-order revenue): average yearly
    * revenue lost if small orders (below 20 % of a part's own average
    * quantity) were not filled, for one brand/size group — the
    * CORRELATED per-part AVG decorrelated by hand exactly like
    * [[q2Shape]]'s correlated min: the per-part threshold computes
    * once as an aggregate (one fact shuffle on l_partkey, partial
    * map-side) and broadcasts back into the same filtered fact slice
    * (part-count-sized — tiny at any scale), instead of re-scanning
    * lineitem per outer row. The part filter broadcasts into the fact
    * scan, so both passes touch only the brand/size slice. The AVG
    * rides the fixed-point [[Det]] scheme and the 0.2× threshold is a
    * single IEEE multiply of a deterministic value, so the `<` compare
    * cannot flip cross-engine; the revenue sum is fixed-point with one
    * final /7.0. */
  def q17Shape(s: SparkSession, d: String): DataFrame = {
    val pf = broadcast(Tables.part(s, d)
      .filter(col("p_brand") === "Brand#1" && col("p_size") === 5)
      .select(col("p_partkey")))
    val pl = Tables.lineitem(s, d)
      .join(pf, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val th = pl.groupBy(col("l_partkey").as("a_partkey"))
      .agg((lit(0.2) * davg(col("l_quantity"))).as("qmax"))
    pl.join(broadcast(th),
        col("l_partkey") === col("a_partkey") && col("l_quantity") < col("qmax"))
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  /** q_tpch_q21 — Q21 (suppliers who kept orders waiting): for one
    * nation, suppliers whose LATE line was the ONLY late line of a
    * multi-supplier finished order — the stacked EXISTS + NOT-EXISTS
    * showcase (a LEFT SEMI and a LEFT ANTI against the SAME fact-side
    * relation and join key, each with the `<> suppkey` residual riding
    * the equi key). Lateness is the q4/q12 proxy (shipped > 60 days
    * after order date — the slimmed star has no receipt/commit dates).
    * The scale move: the fact joins orders ONCE and immediately
    * reduces to one row per (order, supplier) carrying its late-line
    * count — the semi/anti and the localCheckpoint pin all run on
    * that orders-cardinality relation, never on raw lines; numwait
    * then recovers the spec's per-LINE count as Σ n_late. Counts are
    * longs end to end; the top-10 ties break on s_name (unique). */
  def q21Shape(s: SparkSession, d: String): DataFrame = {
    val sg = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(sum(when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
        1L).otherwise(0L)).as("n_late"))
      .transform(graft.Pins.checkpoint) // referenced three times: base, semi side, anti side
    val late = sg.filter(col("n_late") > 0L)
    val sn = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_1")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name")))
    late
      // EXISTS: some other supplier contributed to the same order
      .join(sg.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2")),
        col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
      // NOT EXISTS: no OTHER supplier was late on that order
      .join(late.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3")),
        col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"),
        "left_anti")
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(sum(col("n_late")).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(10)
  }

  /** q_tpch_q8 — Q8 (national market share): one supplier nation's
    * share of a region's revenue in one part-type segment, per order
    * year — the showcase for a dimension joined in TWO ROLES (nation
    * keys the customer side through region AND names the supplier
    * side; Catalyst must keep the two broadcast instances apart) and
    * for the conditional-sum ratio (the [[q14]] promo-share move,
    * grouped). Plan shape at 100 TB: part's type filter broadcasts
    * into the fact scan (the biggest reducer, applied first), the one
    * real shuffle is lineitem⋈orders on the order key, and customer→
    * nation→region collapses to a broadcast keys-only filter dim —
    * the region predicate never touches the fact. Both sums ride the
    * exact-decimal scheme; their ratio is one IEEE division of two
    * deterministic doubles ([[q14]]). */
  def q8(s: SparkSession, d: String): DataFrame = {
    val americaCust = broadcast(Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d).filter(col("r_name") === "AMERICA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey")))
    val suppNation = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val vol = dprod(col("l_extendedprice"), lit(1.0) - col("l_discount"))
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d)
        .filter(col("o_orderdate") >= ts("1995-01-01") &&
          col("o_orderdate") < ts("1997-01-01"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(americaCust, col("o_custkey") === col("c_custkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(
        dsumExact(when(col("supp_nation") === "NATION_1", vol)
          .otherwise(lit(0).cast(DecimalType(25, 8)))).as("nation_volume"),
        dsumExact(vol).as("total_volume"))
      .select(col("o_year"), col("nation_volume"), col("total_volume"),
        (col("nation_volume") / col("total_volume")).as("mkt_share"))
      .orderBy("o_year")
  }

  /** q_tpch_q9 — Q9 shape (product-type profit): profit per supplier
    * nation per order year over one part-name segment. The slimmed
    * star has no partsupp, so unit cost is proxied by the part's OWN
    * `p_retailprice` (the [[q2Shape]] adaptation convention: lineitem
    * plays the offer relation, part carries the price book) — amount
    * = price·(1−discount) − retail·quantity, an expression-heavy
    * aggregate input computed entirely in exact decimal ((25,8) minus
    * (25,8) is exact in both engines; the sum then rides
    * [[dsumExact]]). The p_name CONTAINS filter is the spec's
    * '%green%' lesson: a substring predicate prunes the broadcast dim
    * (and reaches the part scan as a pushed StringContains), not the
    * fact. One fact shuffle (lineitem⋈orders); supplier→nation
    * broadcasts; the rollup is (nation × year)-cardinality. */
  def q9Shape(s: SparkSession, d: String): DataFrame = {
    val sn = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation")))
    val redParts = broadcast(Tables.part(s, d)
      .filter(col("p_name").contains("red"))
      .select(col("p_partkey"), col("p_retailprice")))
    val amount = dprod(col("l_extendedprice"), lit(1.0) - col("l_discount")) -
      dprod(col("p_retailprice"), col("l_quantity"))
    Tables.lineitem(s, d)
      .join(redParts, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(dsumExact(amount).as("sum_profit"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("nation").asc, col("o_year").desc)
  }
}
