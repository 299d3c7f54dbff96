package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine determinism helpers.
  *
  * The driver hash-compares query output against DuckDB running the same
  * SQL. Floating-point SUMs are order-dependent, and Spark's partition-wise
  * combine visits rows in a different order than DuckDB — so a raw
  * `sum(double)` can differ in the last ulps and fail the hash compare.
  *
  * The fix used throughout this library: cast each per-row double to
  * `DECIMAL(18,4)` first (IEEE-754 → decimal nearest rounding is
  * deterministic and identical in both engines since `x.xxx5` is never
  * exactly representable in binary), sum exactly in decimal, and cast the
  * final aggregate back to double. The result is bit-identical regardless
  * of partitioning, parallelism, or visit order — on 32 cores or 1000
  * executors. Per-row double arithmetic (a*b, a-b) stays raw: IEEE ops on
  * identical inputs are deterministic everywhere.
  */
object Det {
  /** Order-independent exact sum of a double expression — FIXED-POINT
    * form: each row scales to a 1e-4-granular long (`floor(x·1e4 + 0.5)`
    * is pure IEEE arithmetic, identical in both engines), longs sum
    * exactly, one division converts back. Same determinism as the
    * decimal form but at raw-long aggregation speed — the decimal sum
    * measured 3.5× slower. Headroom: int64
    * carries ~1e14 rows/group at 1e5 magnitudes; beyond that use the
    * decimal form ([[dsumExact]]).
    * SQL: `CAST(SUM(CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0`. */
  def dsum(c: Column): Column =
    sum(floor(c * 10000 + 0.5)).cast("double") / 10000.0

  /** Order-independent avg: exact fixed-point sum, then double division.
    * SQL: `CAST(SUM(CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 / COUNT(x)`. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Millis-since-epoch (truncating, matches DuckDB `epoch_ms(ts)`). */
  def millis(c: Column): Column = unix_millis(c)

  /** Exact decimal product of 2-decimal-valued factors (prices, 1±rate).
    * Each factor is within ~1e-13 of a 2-decimal value, so the cast to
    * DECIMAL(12,4) is far from any rounding tie → identical in both
    * engines; decimal multiplication is then exact ((12,4)² → (25,8),
    * ×(12,4) → (38,12), within both engines' 38-digit cap). Avoids
    * engine-specific double rounding (e.g. FMA contraction) entirely.
    * SQL: `CAST(x AS DECIMAL(12,4)) * CAST(y AS DECIMAL(12,4)) …`. */
  def dprod(cs: Column*): Column =
    cs.map(_.cast(DecimalType(12, 4))).reduce(_ * _)

  /** Order-independent exact sum of a [[dprod]] (already decimal). The
    * re-cast to scale 6 is a no-op on the value (factors carry ≤6 real
    * decimal digits) but keeps the int128→double conversion in DuckDB a
    * single correctly-rounded step — at scale 12 it double-rounds and can
    * land 1 ulp off Spark's BigDecimal.doubleValue.
    * SQL: `CAST(CAST(SUM(…) AS DECIMAL(38,6)) AS DOUBLE)`. */
  def dsumExact(c: Column): Column =
    sum(c).cast(DecimalType(38, 6)).cast("double")
}
