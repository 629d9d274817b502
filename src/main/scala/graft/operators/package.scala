package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{floor, lit, round, sum}

package object operators {

  /** Tie-stable rounding for cross-engine (Spark vs DuckDB) parity.
    *
    * Derived measures here are rationals with small denominators (sums
    * of 2-decimal values divided by window counts, etc.), so a result
    * can land EXACTLY on a round-half boundary; the two engines' binary
    * doubles then sit on opposite sides and round differently. Any
    * value that is NOT an exact tie is >= ~1e-6 from the boundary, so
    * nudging by 1e-9 on BOTH sides resolves exact ties identically
    * while leaving every other value unchanged — but only while 1e-9
    * is more than half an ulp of the value, i.e. for |x| below about
    * 2^24 (1.7e7). Past that the nudge is lost in the addition, and two
    * doubles an ulp apart on either side of a tie round to different
    * results: round an exact DECIMAL total before the double cast
    * instead ([[centsSum]]). Oracle SQL uses the same
    * `round(x + 1e-9, n)` form.
    */
  def rnd(c: Column, scale: Int): Column = round(c + lit(1e-9), scale)

  /** A money total to the cent: the exact DECIMAL sum of `term` (a
    * DECIMAL expression) rounded HALF_UP to 2 places, then cast to
    * double. For whole-table money sums, which pass 2^24 where
    * [[rnd]]'s nudge no longer separates a half-cent tie: a sum of
    * 4-decimal products like Σ ext·(1−disc) can end in exactly 5 in the
    * third place (278423198.475 in one seeded lineitem sample), and
    * there the engines' casts of the unrounded sum differ by an ulp —
    * Spark's is the nearest double (just above the tie), DuckDB's cast
    * of its scale-12 product sum lands one ulp below. Oracle side:
    * `CAST(round(sum(<term>), 2) AS DOUBLE)` — DuckDB's DECIMAL `round`
    * rounds half away from zero, as HALF_UP does, and both casts of the
    * exact 2-place value give its nearest double. */
  def centsSum(term: Column): Column = round(sum(term), 2).cast("double")

  import org.apache.spark.sql.functions.{count, get_json_object, trim, when}

  /** ANSI-safe DOUBLE extraction of a JSON string field: a malformed
    * payload or non-numeric value becomes null — quarantined by the
    * validation/quality operators — instead of aborting the job (one
    * bad record in 100 TB must never kill the pass; ANSI `cast`
    * throws CAST_INVALID_INPUT). Oracle parity: DuckDB errors outright
    * on malformed JSON, so its side is `CASE WHEN json_valid(props)
    * THEN TRY_CAST(... AS DOUBLE) END` (SparkEntry.duckJsonDouble);
    * both engines agree on every probe case incl. '1e3', '1.5',
    * '-0.0', empty, over-range (→ ±1e20-style doubles). */
  def jsonDouble(props: Column, path: String): Column =
    get_json_object(props, path).try_cast("double")

  /** ANSI-safe BIGINT extraction with an EXPLICIT integral-format
    * contract (optional sign + digits, surrounding whitespace ok):
    * the engines' native string→long rules diverge — Spark rejects
    * '1.5'/'1e3', DuckDB TRY_CAST rounds '1.5'→2 and parses
    * '1e3'→1000 — so a shared regex pins both to the same set.
    * Overflow beyond Long range passes the regex and nulls in both
    * (try_cast / TRY_CAST). Oracle side: SparkEntry.duckJsonLong. */
  def jsonLong(props: Column, path: String): Column = {
    val s = get_json_object(props, path)
    when(trim(s).rlike("^[+-]?[0-9]+$"), s.try_cast("long"))
  }

  /** Exact decimal sum of a fixed-point (<=6dp) column, as double.
    * Summing doubles accumulates order-dependent error that can
    * straddle a rounding boundary differently per engine; summing
    * DECIMAL is exact in both Spark and DuckDB, and the single
    * cast-to-double of the same exact value is bit-identical. */
  def decSum(c: Column): Column = sum(c.cast("decimal(38,6)")).cast("double")

  /** Tie-stable exact-sum average (sum is exact decimal, the division
    * and rounding run on bit-identical doubles in both engines). */
  def decAvg(c: Column, scale: Int): Column =
    rnd(decSum(c) / count(c), scale)

  /** Exact discounted-revenue sum Σ ext·(1−disc) for 2-decimal money
    * columns, in primitive LONG arithmetic instead of DECIMAL(38,6):
    * `round(x·100)` recovers each value's exact scaled integer from
    * its double representation, the per-row multiply and the sum run
    * on longs inside whole-stage codegen (~5-10× cheaper than
    * BigDecimal in the hot loop — measured 1.25 s → 0.5 s on the
    * 600k-row top-k), and one final division emits the nearest double
    * of the same exact rational the DECIMAL path (and the oracle's
    * sum-of-DECIMAL cast) produces.
    *
    * Exactness requires the per-GROUP scaled sum to stay below 2^53 —
    * true for any per-order/per-entity group at any corpus scale
    * (group size is bounded by the entity, not the corpus), NOT for
    * whole-table groups at 100 TB; those keep [[decSum]]. */
  def discountedRevenueSum(ext: Column, disc: Column): Column = {
    // floor(x·100 + 0.5), not round(x·100): Spark's Round on doubles
    // routes through BigDecimal per row — the very cost this helper
    // removes — while Floor is a bare Math.floor in generated code
    // (and already emits long). Half-up is exact for the non-negative
    // money/discount columns this is documented for.
    val extC = floor(ext * 100 + 0.5)
    val discPct = floor(disc * 100 + 0.5)
    sum(extC * (lit(100L) - discPct)).cast("double") / 1e4
  }

  /** Normalize a small frame's partitioning to the cluster's default
    * parallelism (a small parquet table arrives as ONE partition,
    * which serializes downstream per-row kernels and nested-loop
    * scoring onto a single core). A large input — one whose optimizer
    * size estimate exceeds `parallelism × files.maxPartitionBytes`,
    * the same ratio the file scan uses to split partitions — passes
    * through untouched, so a well-partitioned 100 TB scan is never
    * reshuffled or coalesced.
    *
    * The decision is purely plan-side — no `df.rdd` probe, which
    * would force a second physical-plan materialization per call. Two
    * consequences to know: in the SMALL regime the frame is
    * repartitioned to exactly `defaultParallelism` even if it already
    * had more partitions (same cores either way; the shuffle is
    * trivially cheap at that size), and a frame with UNKNOWN stats
    * (e.g. an RDD-backed LogicalRDD reporting Long.MaxValue) is
    * treated as large and passes through — callers feeding non-file
    * sources to quadratic kernels should pre-partition explicitly.
    *
    * Fence contract: a repartitioned result is [[fence]]d, so per-row
    * work written after the call runs after the exchange, on every
    * core. Catalyst would otherwise push a later Filter below the
    * repartition, into the one-split scan task the spread exists to
    * escape. A filter meant for the scan (parquet pushdown, partition
    * pruning) goes BEFORE the call, as [[Analytics.pricingSummary]]
    * does. A large input passes through unfenced: its scan is already
    * wide, and a later filter may still reach it. */
  def spreadToCores(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (estBytes < BigInt(par) * maxPartitionBytes) fence(df.repartition(par)) else df
  }

  /** `df` behind an optimizer fence: no Filter written on the result is
    * pushed into `df`'s plan, and no Filter over one of `df`'s computed
    * columns is rewritten to recompute that column's expression (a
    * FilterExec has no common-subexpression elimination, so a filter
    * with k conjuncts over an aliased kernel would run the kernel k
    * times per row). Column pruning still reaches the scan. The fence
    * is a logical node only: it plans to `df`'s own physical plan, with
    * no operator, exchange or materialization of its own. Use it after
    * projecting an expensive per-row kernel that later filters read. */
  def fence(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.fence(df)
}
