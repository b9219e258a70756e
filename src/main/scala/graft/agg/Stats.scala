package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Summary-statistics aggregations, re-expressing the reference's per-float
  * and whole-file stats (reference: ingest/preprocess.py:295-357 = A1,
  * fastapi_app.py:279-372 = A3).
  *
  * Single `groupBy(...).agg(...)` call per summary: Spark plans a partial
  * (map-side) + final hash aggregate, so there is exactly one shuffle on the
  * grouping key regardless of how many measures are packed in. No UDAF —
  * every stat decomposes into builtin count/min/max/avg (all null-skipping,
  * matching pandas NaN-skipping semantics once NaN is normalized to null at
  * the scan).
  */
object Stats {

  /** Order-independent mean: the sum runs in DECIMAL (exact, so partition
    * and merge order cannot perturb it — fixture values are exact at 6
    * decimals), is cast to double once, and divided by the count. A plain
    * `avg` accumulates doubles in engine-specific order; when a mean lands
    * exactly on a decimal rounding boundary (systematic here: power-of-two
    * group sizes over 2-decimal data), the final ulp decides the rounded
    * digit and two engines can disagree. This form is bit-identical across
    * Spark and DuckDB.
    */
  def exactMean(c: Column, scale: Int = 6): Column =
    parityRound(sum(c.cast("decimal(27,6)")).cast("double") / count(c), scale)

  /** Cross-engine-deterministic rounding: pure double ops (multiply, add,
    * floor, divide) evaluate bit-identically in any IEEE-754 engine, unlike
    * `round`, which Spark routes through Double.toString shortest-repr
    * (recreating decimal halfway cases that C-style rounding never sees).
    * Half-values round toward +inf. Use for ratios/means whose inputs are
    * bit-identical across engines; SQL twin: floor(x * 1e<n> + 0.5) / 1e<n>.
    */
  def parityRound(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * p + 0.5) / p
  }

  /** The oracle-paired md5 hash lane: the first `digits` hex digits of
    * `md5(s)` read as one base-16 INT (uniform over 0 until 16^digits). Each
    * digit is parsed back from the hex text, exactly as the DuckDB twin
    * writes it — `instr('0123456789abcdef', substr(md5(s), i, 1)) - 1`, times
    * 16^(digits - i), summed — so both engines draw the same lane. Callers
    * that want a LONG lane cast the result.
    */
  def md5HexLane(s: Column, digits: Int): Column = {
    require(digits >= 1 && digits <= 7, s"an int lane holds 1 to 7 hex digits, got $digits")
    val hex = md5(s)
    (1 to digits).map(i =>
      (call_function("instr", lit("0123456789abcdef"), substring(hex, i, 1)) - 1) *
        lit(1 << (4 * (digits - i)))).reduce(_ + _)
  }

  /** Order-independent money sum: per-row cast to DECIMAL(30,10) — exact
    * for the fixtures' ≤4-decimal money/measurement doubles (6 guard
    * digits below the finest input decimal) — then an EXACT decimal sum,
    * rounded to cents and surfaced as DOUBLE. `round(sum(double), 2)` is
    * order-dependent: parallel partial-sum order differs between engines
    * (and across partitionings of the same engine), and a sum landing
    * within one ulp of a half-cent flips the rounded output — q7 did
    * exactly that under the round-12 seed fuzz (242766.42 vs .43). The
    * decimal sum is associative, so the result is identical under ANY
    * partitioning — the property a 1000-executor aggregation needs.
    * SQL twin: CAST(round(sum(CAST((x) AS DECIMAL(30,10))), 2) AS DOUBLE).
    */
  def sumMoney(c: Column): Column =
    round(sum(c.cast("decimal(30,10)")), 2).cast("double")
  def sumMoney(name: String): Column = sumMoney(col(name))

  /** The `{count, min, max, mean}` block the reference packs per measurement
    * (ingest/preprocess.py:331-339), as flat aliased columns.
    * Doubles are rounded so a DuckDB oracle summing in a different order
    * agrees bit-for-bit after rounding; the mean uses `exactMean`.
    */
  def measureStats(c: String): Seq[Column] = Seq(
    count(col(c)).as(s"${c}_count"),
    round(min(col(c)), 4).as(s"${c}_min"),
    round(max(col(c)), 4).as(s"${c}_max"),
    exactMean(col(c)).as(s"${c}_mean")
  )

  /** A1: per-key summary — time range, distinct-count, and per-measure stats
    * in ONE aggregate (one shuffle).
    */
  def perKeySummary(
      df: DataFrame,
      key: Seq[String],
      tsCol: String,
      distinctCol: String,
      measures: Seq[String]): DataFrame = {
    val aggs: Seq[Column] =
      Seq(
        date_format(min(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(max(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        countDistinct(col(distinctCol)).as("n_distinct"),
        count(lit(1)).as("n_rows")
      ) ++ measures.flatMap(measureStats)
    df.groupBy(key.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** A3: whole-table stats — same measure block, no grouping (single row). */
  def globalSummary(df: DataFrame, tsCol: String, measures: Seq[String]): DataFrame = {
    val aggs: Seq[Column] =
      Seq(
        date_format(min(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(max(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        count(lit(1)).as("n_rows")
      ) ++ measures.flatMap(measureStats)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Nested `properties` struct exactly shaped like the reference's JSONB
    * (ingest/preprocess.py:315-339): date_range / location-like value range /
    * per-measurement stats map. Used by the JSON-packing query (F13).
    */
  def packProperties(summary: DataFrame, measures: Seq[String]): DataFrame = {
    val measStruct = map(
      measures.flatMap { m =>
        Seq(
          lit(m),
          struct(
            col(s"${m}_count").as("count"),
            col(s"${m}_min").as("min"),
            col(s"${m}_max").as("max"),
            col(s"${m}_mean").as("mean")
          )
        )
      }: _*
    )
    summary.withColumn(
      "properties",
      struct(
        col("n_rows").cast("int").as("total_rows"),
        struct(col("first_ts").as("start"), col("last_ts").as("end")).as("date_range"),
        measStruct.as("measurements")
      )
    )
  }
}
