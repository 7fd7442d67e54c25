package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Loaders for the driver's synthetic parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark's
      // vectorized reader rejects — read nanos as raw long and truncate
      // to micros, the same truncation DuckDB applies) and as plain
      // TIMESTAMP(MICROS)/NTZ. Branch on what the file actually holds so
      // either vintage loads; the NTZ wall time is interpreted in the
      // session zone (UTC everywhere in this repo), matching DuckDB's
      // naive read.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ => df.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }
}

/** Deterministic numeric aggregation helpers.
  *
  * Double sums are order-dependent under parallel (partial/merge)
  * aggregation, so a Spark sum and a single-threaded oracle sum can differ
  * in the last ulps and break hash comparison. We sum exactly by casting
  * each element to DECIMAL(25,6) first (decimal addition is exact and
  * associative — identical for any partition order, and cheap relative to
  * the shuffle it sits behind), then cast the exact total back to double.
  * The oracle SQL mirrors the same cast, so both engines round the same
  * exact value.
  */
object Num {
  private val Dec = DecimalType(25, 6)

  /** Exact (associativity-safe) sum of a double column. */
  def exactSum(c: Column): Column = sum(c.cast(Dec))

  /** Exact sum rounded to `dp` decimal places, as double. */
  def sumD(c: Column, dp: Int = 4): Column = round(exactSum(c).cast("double"), dp)

  /** Exact average (exact sum / non-null count) rounded to `dp`, as double. */
  def avgD(c: Column, dp: Int = 4): Column =
    round(exactSum(c).cast("double") / count(c), dp)

  /** Oracle-SQL fragment mirroring [[exactSum]]. The `+ 0.0` normalizes
    * IEEE negative zero: DuckDB's ROUND keeps the sign of a tiny negative
    * value that rounds to zero (-0.0), Spark's decimal-based round never
    * emits it, and the driver's string compare distinguishes the two.
    * `-0.0 + 0.0 == 0.0` and is a no-op on every other value.
    */
  def sqlSum(expr: String, dp: Int = 4): String =
    s"(ROUND(CAST(SUM(CAST(($expr) AS DECIMAL(25,6))) AS DOUBLE), $dp) + 0.0)"

  /** Oracle-SQL fragment mirroring [[avgD]]; `+ 0.0` as in [[sqlSum]]. */
  def sqlAvg(expr: String, dp: Int = 4): String =
    s"(ROUND(CAST(SUM(CAST(($expr) AS DECIMAL(25,6))) AS DOUBLE) / COUNT($expr), $dp) + 0.0)"

  /** Deterministic round of a raw double column.
    *
    * Engine-native ROUND(double, n) differs between Spark (exact decimal
    * expansion, HALF_UP) and DuckDB (fp-multiply based) on half-way ulps.
    * floor(x*10^n + 0.5)/10^n uses only IEEE-defined double ops, so any two
    * conforming engines produce bit-identical results. [[sqlRoundD]] emits
    * the same formula for the oracle.
    */
  def roundD(c: Column, dp: Int = 4): Column = {
    val p = math.pow(10, dp)
    floor(c * p + lit(0.5)).cast("double") / p
  }

  /** Oracle-SQL fragment mirroring [[roundD]]. Parenthesized whole, like
    * the Column it mirrors: spliced into `x * <fragment>`, a bare
    * `FLOOR(...) / 1e6` would parse as `(x * FLOOR(...)) / 1e6`.
    */
  def sqlRoundD(expr: String, dp: Int = 4): String = {
    val p = s"1e$dp"
    s"(FLOOR(($expr) * $p + 0.5) / $p)"
  }

  /** Portable standard-normal CDF Φ(x), via the Abramowitz–Stegun 7.1.26
    * erf approximation (|err| < 1.5e-7 — far inside the 2-3dp the
    * reference reports its probabilities at). Engine-native CDFs are not
    * cross-engine pinnable, but this formula is plain IEEE double
    * arithmetic plus one exp(), and JVM Math.exp and DuckDB's libm exp
    * produced bit-identical results over an 801-point probe of [-4, 4]
    * on this container — so Spark and the oracle compute the SAME double.
    * [[sqlPhi]] emits the mirror with identical association order.
    */
  def phi(x: Column): Column = {
    val z = x / math.sqrt(2.0)
    val az = abs(z)
    val sg = when(z < 0, lit(-1.0)).otherwise(lit(1.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * az)
    val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t) + lit(1.421413741)) * t
      - lit(0.284496736)) * t + lit(0.254829592)
    val erf = sg * (lit(1.0) - poly * t * exp(-az * az))
    lit(0.5) * (lit(1.0) + erf)
  }

  /** Oracle-SQL fragment mirroring [[phi]]. Keep `e` a SIMPLE column
    * reference — it is substituted several times.
    */
  def sqlPhi(e: String): String = {
    val z = s"(($e) / SQRT(2.0))"
    val az = s"ABS($z)"
    val sg = s"(CASE WHEN $z < 0 THEN -1.0 ELSE 1.0 END)"
    val t = s"(1.0 / (1.0 + 0.3275911 * $az))"
    val poly = s"(((((1.061405429 * $t - 1.453152027) * $t) + 1.421413741) * $t" +
      s" - 0.284496736) * $t + 0.254829592)"
    s"(0.5 * (1.0 + $sg * (1.0 - $poly * $t * EXP(-$az * $az))))"
  }
}
