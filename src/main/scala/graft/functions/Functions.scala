package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-function equivalents of the reference's SQL macros and scalar
  * derivations (SURVEY.md §2.2, §2.10).
  *
  * Cross-engine determinism playbook (the DuckDB oracle must hash-match):
  *   - 2-decimal money columns are integerized per row with [[cents]]
  *     before aggregation; integer sums are exact and independent of
  *     partitioning / summation order, so they match the oracle bit-for-bit
  *     at any scale. Raw `sum(double)` would drift in the last ulps because
  *     Spark's partial-aggregation tree and DuckDB's loop add in different
  *     orders.
  *   - Averages are emitted as `exact-integer-sum / count` — one double
  *     division over identical operands gives identical IEEE-754 results in
  *     both engines.
  *   - Timestamps are truncated to whole seconds before comparison/output:
  *     the test parquet carries nanosecond timestamps, which Spark reads at
  *     microsecond precision while DuckDB keeps nanoseconds.
  */
object Functions {

  /** Integerize a 2-decimal double column to exact cents (bigint).
    * `round` lands on an integer (the true value is integral), so the
    * HALF_UP-vs-value rounding divergence between engines cannot bite. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** P14 — severity CASE chain (reference
    * dbt_files/models/core/fact_earthquake_data.sql:9-16), re-based onto the
    * generic magnitude-like column with thresholds supplied by the caller. */
  def severity(
      magnitude: Column,
      thresholds: Seq[(Double, String)] = Seq(
        8.0 -> "Great", 7.0 -> "Major", 6.0 -> "Strong",
        5.0 -> "Moderate", 4.0 -> "Light"),
      otherwise: String = "Minor"): Column = {
    thresholds
      .foldLeft(Option.empty[Column]) { case (acc, (bound, label)) =>
        val branch = (magnitude >= bound, lit(label))
        Some(acc.fold(when(branch._1, branch._2))(_.when(branch._1, branch._2)))
      }
      .map(_.otherwise(lit(otherwise)))
      .getOrElse(lit(otherwise))
  }

  /** Shared price-severity bucket table (orders' o_totalprice analog of
    * the magnitude buckets) — single source for every model that
    * classifies by price band. */
  val priceSeverityThresholds: Seq[(Double, String)] = Seq(
    400000.0 -> "Great", 300000.0 -> "Major", 200000.0 -> "Strong",
    100000.0 -> "Moderate", 50000.0 -> "Light")

  /** P16 — decade macro: `cast(floor(year/10)*10 as int64)`
    * (reference dbt_files/macros/get_decade.sql:5-9). Division of int by
    * int yields double in both Spark and DuckDB, so floor matches. */
  def getDecade(ts: Column): Column =
    (floor(year(ts) / 10) * 10).cast("long")

  /** P18 — dbt_utils-style surrogate key
    * (reference dbt_files/models/core/stg_earthquake.sql:31):
    * md5 of '-'-joined null-coalesced string casts. */
  def surrogateKey(cols: Column*): Column =
    md5(concat_ws("-", cols.map(c => coalesce(c.cast("string"), lit(""))): _*))

  /** P3 — epoch-milliseconds → timestamp (reference
    * pipeline/clean_historical.py:27-28 does
    * `to_timestamp(from_unixtime(time/1000))`; we use the direct,
    * session-TZ-independent `timestamp_millis`). */
  def epochMsToTs(ms: Column): Column = timestamp_millis(ms)

  /** Second-truncated timestamp for oracle-safe output (ns vs µs parquet). */
  def toSecond(ts: Column): Column = date_trunc("second", ts)

  /** A deterministic 60-bit hash both engines can compute identically:
    * the first 15 hex chars of md5("seed:" + x), parsed base-16. Used as
    * the shared hash primitive for minhash/simhash so the DuckDB oracle
    * can replay the exact signature computation. Backed by the fused
    * codegen expression (graft.expressions.Md5Hash60) — digest bytes →
    * long with no hex-string materialization; [[md5Hash60Reference]] is
    * the builtin formulation it must stay bit-identical to. */
  def md5Hash60(c: Column, seed: Int): Column =
    graft.expressions.Md5Hashes.hash60(c, seed)

  /** Builtin-composed reference formulation of [[md5Hash60]] (what the
    * DuckDB oracle computes); kept for the equivalence spec. */
  def md5Hash60Reference(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), c)), 1, 15), 16, 10)
      .cast("long")

  /** Two independent 56-bit hashes from ONE md5 evaluation (hex chars
    * 1-14 and 15-28). A k-perm MinHash family derives its k functions as
    * `h1 + i*h2` — one digest instead of k per element, with every value
    * < 2^59 so the bigint arithmetic is overflow-safe in both engines.
    * Fused codegen expression; [[md5Hash56PairReference]] is the builtin
    * formulation it must stay bit-identical to. */
  def md5Hash56Pair(c: Column): (Column, Column) =
    graft.expressions.Md5Hashes.hash56Pair(c)

  /** Builtin-composed reference formulation of [[md5Hash56Pair]]. */
  def md5Hash56PairReference(c: Column): (Column, Column) = {
    val h = md5(c)
    (conv(substring(h, 1, 14), 16, 10).cast("long"),
      conv(substring(h, 15, 14), 16, 10).cast("long"))
  }

  /** Minimal JSON string escaping for driver-side machine-parsed lines
    * (Bench's metric line, LogSink's log lines) — one definition so the
    * two emitters cannot drift. */
  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
