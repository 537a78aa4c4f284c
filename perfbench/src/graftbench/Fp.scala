package graftbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{bit_xor, coalesce, col, count, lit, xxhash64}
import org.apache.spark.unsafe.Platform

/** Order-free answer fingerprint: `(count, bit_xor(xxhash64(row)))`.
  *
  * The engine side is computed by Spark over the result frame; the
  * expected side is computed here in plain Scala with the same hash
  * chain Spark's `xxhash64` uses (seed 42, each column's hash seeding
  * the next, NULL leaving the seed unchanged), so an expected answer
  * never needs a round trip through the engine under test.
  * [[Fp.selfTest]] pins that the two agree for every column type the
  * workloads use.
  */
final case class Fp(count: Long, xor: Long) {
  def +(row: Long): Fp = Fp(count + 1, xor ^ row)
  def -(row: Long): Fp = Fp(count - 1, xor ^ row)
  override def toString: String = f"($count,$xor%016x)"
}

object Fp {
  val Empty: Fp = Fp(0L, 0L)

  /** Spark's fingerprint of `df` (the caller selects and casts the columns). */
  def of(df: DataFrame): Fp = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col): _*)), lit(0L)))
      .collect()(0)
    Fp(r.getLong(0), r.getLong(1))
  }

  /** Expected-side row hash. Values: Int, Long, String, Double, BigDecimal
    * (as decimal(p<=18)), java.sql.Date (as its day number via [[Day]]),
    * or null.
    */
  def row(values: Any*): Long = {
    var h = 42L
    values.foreach {
      case null => ()
      case i: Int => h = XXH64.hashInt(i, h)
      case l: Long => h = XXH64.hashLong(l, h)
      case d: Double =>
        val n = if (d == -0.0d) 0.0d else d
        h = XXH64.hashLong(java.lang.Double.doubleToLongBits(n), h)
      case s: String =>
        val b = s.getBytes(StandardCharsets.UTF_8)
        h = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, h)
      case Day(d) => h = XXH64.hashInt(d, h)
      case Cents(c) => h = XXH64.hashLong(c, h)
      case other => throw new IllegalArgumentException(s"unhashable ${other.getClass}")
    }
    h
  }

  def ofRows(rows: Iterable[Seq[Any]]): Fp =
    rows.foldLeft(Empty)((fp, r) => fp + row(r: _*))

  /** A DATE value (days since epoch) on the expected side. */
  final case class Day(days: Int)
  /** A DECIMAL(18,2) value as its unscaled cents on the expected side. */
  final case class Cents(cents: Long)

  /** Fails loudly when the Scala hash chain and Spark's disagree. */
  def selfTest(spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    val rows = Seq((1L, 7, "aé中", 2.5d, 1234L, 17000), (-3L, -1, "", -0.0d, -5L, 0))
    val df = rows.toDF("l", "i", "s", "d", "c", "day")
      .select(col("l"), col("i"), col("s"), col("d"),
        (col("c").cast("decimal(18,0)") / 100).cast("decimal(18,2)").as("c"),
        org.apache.spark.sql.functions.date_from_unix_date(col("day")).as("day"))
    val want = ofRows(rows.map { case (l, i, s, d, c, day) => Seq(l, i, s, d, Cents(c), Day(day)) })
    val got = of(df)
    require(got == want, s"fingerprint self-test failed: spark $got vs scala $want")
  }
}
