package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Parquet table loaders for the driver-generated testdata layout
  * (`TESTDATA.md`): one parquet file per table under the sf dir.
  *
  * At cluster scale these would be catalog tables; the seam is a
  * single `spark.read.parquet` call so swapping in a catalog /
  * bucketed layout touches only this file.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events.ts` is parquet TIMESTAMP(NANOS). Depending on the Spark
    * build it surfaces either as raw nanos under `nanosAsLong` (older
    * readers reject nanos outright) — converted here with exact
    * integer division (`DIV 1000` → micros) — or natively as
    * TIMESTAMP_NTZ with the same micros truncation (Spark ≥ 4.1
    * ignores the legacy conf). BOTH normalize to plain TIMESTAMP so
    * every consumer sees one type contract: under the UTC sessions
    * this library pins (Verify, the specs) the NTZ→LTZ cast is
    * value-exact, and the result matches DuckDB's naive `epoch()`
    * arithmetic bit-for-bit. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}

/** Float-stabilization helpers for the DuckDB oracle compare.
  *
  * Doubles that cross an engine boundary are scaled to integers with
  * `FLOOR(x * scale + 0.5)` — IEEE-identical in Spark and DuckDB — so
  * ulp-level engine differences and Spark's nondeterministic
  * double-sum reduction order can never flip a hash (SURVEY.md §5).
  *
  *  - [[e6]] for per-row sequentially-computed scores (error ~1e-15,
  *    boundary distance 5e-7).
  *  - [[e2]] for large aggregated sums of decimal-ish inputs (exact
  *    decimal totals land ~integer cents; accumulated fp error ≪ 0.5
  *    at cent scale).
  */
object Stab {
  def e6(c: Column): Column = floor(c * lit(1000000.0) + lit(0.5)).cast(LongType)
  /** [[e6]] on a driver-side double, the same IEEE steps. */
  def e6(d: Double): Long = math.floor(d * 1000000.0 + 0.5).toLong
  def e2(c: Column): Column = floor(c * lit(100.0) + lit(0.5)).cast(LongType)
  /** SQL fragments for the same ops (DuckDB side). */
  def sqlE6(expr: String): String = s"CAST(FLOOR(($expr) * 1000000.0 + 0.5) AS BIGINT)"
  def sqlE2(expr: String): String = s"CAST(FLOOR(($expr) * 100.0 + 0.5) AS BIGINT)"

  /** FLOOR integer division (b > 0): Java `Math.floorDiv` semantics
    * (−7 → −4). MEASURED CORRECTION (round 8): DuckDB's BIGINT `//`
    * does NOT floor — it truncates toward zero exactly like Spark's
    * `div` (−7 // 2 = −3 in DuckDB 1.x; only the FLOAT `//` differs).
    * So for a signed ratio the ENGINE-PARITY pairing is simply Spark
    * `div` ↔ DuckDB `//` (both truncate), and THIS helper is for
    * contracts that want mathematical floor on BOTH sides — its
    * oracle twin is [[sqlFloorDiv]], which emulates floor explicitly
    * (a bare `//` in the oracle would be off by one on every odd
    * negative numerator — the exact bug bq_build shipped for one
    * compare cycle before this correction). `a − pmod(a,b)` is the
    * largest multiple of b ≤ a (pmod is the non-negative remainder),
    * so the division that follows is exact (done in decimal(38,0),
    * not double — long `/` would round past 2^53). */
  def floorDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)).cast("decimal(38,0)") / b.cast("decimal(38,0)"))
      .cast(LongType)

  /** [[floorDiv]] of an e6-scaled numerator — the signed-safe form of
    * the `x * 1000000 div y` share/mean convention. */
  def floorDivE6(a: Column, b: Column): Column =
    floorDiv(a * lit(1000000L), b)

  /** DuckDB twin of [[floorDiv]]: BIGINT `//` truncates, so floor is
    * emulated — subtract 1 when the truncated quotient dropped a
    * nonzero remainder on a negative dividend (b > 0 convention). */
  def sqlFloorDiv(a: String, b: String): String =
    s"CAST((($a) // ($b)) - (CASE WHEN (($a) % ($b)) <> 0 AND ($a) < 0 " +
      s"THEN 1 ELSE 0 END) AS BIGINT)"
}
