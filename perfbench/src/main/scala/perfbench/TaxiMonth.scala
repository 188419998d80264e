package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic yellow-taxi month (January 2024) in the 19-column trip
  * schema, written as raw parquet with the source feed's loose types
  * (longs and doubles where the canonical schema has ints).
  *
  * Dirty rows are planted at exact counts that depend only on the row
  * count: row `i` takes the class of its position `v = (i*m + off) mod n`
  * in a seed-chosen permutation, so a seed moves which rows are dirty but
  * never how many. Classes by `v`:
  *   - out of window: pickup before the month or at/after the next one
  *     (one row sits exactly on the next month's first instant);
  *   - negative: trip_distance or total_amount below zero;
  *   - null: dropoff, a location, trip_distance or total_amount is null;
  *   - duplicate: an exact copy of a clean row (kept by cleaning, removed
  *     by the fact load's natural-key dedup);
  *   - clean: everything else, with ~2.5% nulls in the nullable columns
  *     (passenger_count, RatecodeID, store_and_fwd_flag,
  *     congestion_surcharge, airport_fee) that cleaning keeps.
  * Pickup instants are distinct across clean rows, so the fact table's
  * natural key is unique except for the planted duplicates.
  */
object TaxiMonth {
  val Year = 2024
  val Month = 1
  private val MonthStartSec = java.time.LocalDate.of(Year, Month, 1)
    .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
  private val MonthSeconds = 31L * 86400L

  final case class Plan(rows: Long, outOfWindow: Long, negative: Long, nulls: Long, duplicates: Long) {
    def dirty: Long = outOfWindow + negative + nulls
    /** Rows cleaning keeps: everything not planted dirty. */
    def kept: Long = rows - dirty
    /** Rows the fact table holds after an idempotent load. */
    def factRows: Long = kept - duplicates
  }

  def plan(rows: Long): Plan = {
    require(rows >= 1000 && rows <= MonthSeconds, s"rows must be in [1000, $MonthSeconds]")
    Plan(rows, rows * 10 / 1000, rows * 8 / 1000, rows * 7 / 1000, rows * 5 / 1000)
  }

  /** The canonical trip schema the ingest cast block produces. */
  val casts: Seq[(String, DataType)] = Seq(
    "VendorID" -> IntegerType, "tpep_pickup_datetime" -> TimestampType,
    "tpep_dropoff_datetime" -> TimestampType, "passenger_count" -> IntegerType,
    "trip_distance" -> DoubleType, "RatecodeID" -> IntegerType,
    "store_and_fwd_flag" -> StringType, "PULocationID" -> IntegerType,
    "DOLocationID" -> IntegerType, "payment_type" -> IntegerType,
    "fare_amount" -> DoubleType, "extra" -> DoubleType, "mta_tax" -> DoubleType,
    "tip_amount" -> DoubleType, "tolls_amount" -> DoubleType,
    "improvement_surcharge" -> DoubleType, "total_amount" -> DoubleType,
    "congestion_surcharge" -> DoubleType, "airport_fee" -> DoubleType)

  /** The raw feed's schema: the source file's loose types. */
  val rawSchema: StructType = StructType(Seq(
    "VendorID" -> LongType, "tpep_pickup_datetime" -> TimestampType,
    "tpep_dropoff_datetime" -> TimestampType, "passenger_count" -> DoubleType,
    "trip_distance" -> DoubleType, "RatecodeID" -> DoubleType,
    "store_and_fwd_flag" -> StringType, "PULocationID" -> LongType,
    "DOLocationID" -> LongType, "payment_type" -> LongType,
    "fare_amount" -> DoubleType, "extra" -> DoubleType, "mta_tax" -> DoubleType,
    "tip_amount" -> DoubleType, "tolls_amount" -> DoubleType,
    "improvement_surcharge" -> DoubleType, "total_amount" -> DoubleType,
    "congestion_surcharge" -> DoubleType, "airport_fee" -> DoubleType,
  ).map { case (n, t) => StructField(n, t, nullable = true) })

  /** SplitMix64 finalizer: a stateless hash, so row `c`'s column `k` is a
    * pure function of (seed, c, k). */
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The trip at index `i`, with `seed` and the permutation parameters. */
  private final class Rows(seed: Long, p: Plan) extends Serializable {
    private val n = p.rows
    // position permutation: the multiplier is a prime > n, hence coprime with n
    private val m = (BigInt(BigInt(n + 1 + Math.floorMod(seed * 7919L, 100000L)).bigInteger
      .nextProbablePrime()) % n).toLong
    private val mInv = BigInt(m).modInverse(BigInt(n)).toLong
    private val off = Math.floorMod(seed * 104729L + 17L, n)
    // a second permutation spreads pickups over the month
    private val m2 = (BigInt(BigInt(n + 100001 + Math.floorMod(seed * 31L, 100000L)).bigInteger
      .nextProbablePrime()) % n).toLong
    private val off2 = Math.floorMod(seed * 1299709L, n)
    private val stride = MonthSeconds / n
    private val b1 = p.outOfWindow
    private val b2 = b1 + p.negative
    private val b3 = b2 + p.nulls
    private val b4 = b3 + p.duplicates

    private def cents(x: Double): Double = Math.round(x * 100.0) / 100.0
    private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

    def apply(i: Long): Row = {
      val v = Math.floorMod(i * m + off, n)
      // a duplicate copies every column of the clean row at position v + duplicates
      val c = if (v >= b3 && v < b4) Math.floorMod((v + p.duplicates - off) * mInv, n) else i
      val salt = mix(seed ^ (c * 0x2545F4914F6CDD1DL))
      def u(k: Int): Double = (mix(salt + k) >>> 11) * (1.0 / (1L << 53))
      def orNull[T](x: T, k: Int): Any = if (u(k) < 0.025) null else x

      val slot = Math.floorMod(c * m2 + off2, n)
      val pickupSec = MonthStartSec + slot * stride + (if (slot == 0) 0L else (u(1) * stride).toLong)
      val dist = cents(0.3 + u(2) * u(2) * 18.0)
      val minutes = 3.0 + dist * 2.6 + u(3) * 12.0
      val vendor = if (u(4) < 0.30) 1L else if (u(4) < 0.95) 2L else if (u(4) < 0.98) 6L else 7L
      val payment = if (u(5) < 0.72) 1L else if (u(5) < 0.92) 2L else if (u(5) < 0.95) 0L
        else if (u(5) < 0.97) 3L else if (u(5) < 0.99) 4L else 5L
      val pu = (u(6) * 265).toLong + 1
      val dolo = (u(7) * 265).toLong + 1
      val rate = if (u(8) < 0.94) 1.0 else if (u(8) < 0.97) 2.0 else if (u(8) < 0.98) 3.0
        else if (u(8) < 0.99) 5.0 else 99.0
      val fare = cents(3.0 + dist * 2.5 + minutes * 0.35 + (if (rate == 2.0) 52.0 else 0.0))
      val extra = if (u(9) < 0.5) 0.0 else if (u(9) < 0.8) 1.0 else 2.5
      val tip = if (payment == 1L) cents(fare * u(10) * 0.3) else 0.0
      val tolls = if (u(11) < 0.06) 6.94 else 0.0
      val airport = if (pu == 132L || pu == 138L) 1.75 else 0.0
      val total = cents(fare + extra + 0.5 + tip + tolls + 1.0 + 2.5 + airport)

      // planted classes (v < b1: out of window; < b2: negative; < b3: null)
      val out = v < b1
      val neg = v >= b1 && v < b2
      val nul = v >= b2 && v < b3
      val pickup =
        if (v == 0) MonthStartSec + MonthSeconds
        else if (out && u(12) < 0.5) MonthStartSec - 1L - (u(13) * 259200).toLong
        else if (out) MonthStartSec + MonthSeconds + (u(13) * 259200).toLong
        else pickupSec
      // a few clean rows end before they start: ingest keeps them, ML drops them
      val durationSec = if (u(14) < 0.002) -300L else (minutes * 60).toLong
      val nullKind = (u(15) * 5).toInt
      def nulled(x: Any, k: Int): Any = if (nul && nullKind == k) null else x
      val negDistance = u(16) < 0.5

      Row(vendor, ts(pickup), nulled(ts(pickup + durationSec), 0),
        orNull((u(17) * 4).toInt + 1.0, 20),
        nulled(if (neg && negDistance) -dist else dist, 1),
        orNull(rate, 21), orNull(if (u(18) < 0.01) "Y" else "N", 22),
        nulled(pu, 2), nulled(dolo, 3), payment,
        fare, extra, 0.5, tip, tolls, 1.0,
        nulled(if (neg && !negDistance) -total else total, 4),
        orNull(2.5, 23), orNull(airport, 24))
    }
  }

  /** Raw trips for `seed`, partitioned `partitions` ways (a pure function of
    * both, so writes are byte-identical). */
  def frame(spark: SparkSession, seed: Long, p: Plan, partitions: Int): DataFrame = {
    val rows = new Rows(seed, p)
    spark.range(0, p.rows, 1, partitions).map((i: java.lang.Long) => rows(i))(Encoders.row(rawSchema))
  }

  /** Writes the raw month and returns its size in bytes. */
  def write(spark: SparkSession, seed: Long, p: Plan, partitions: Int, path: String): Long = {
    frame(spark, seed, p, partitions).write.mode("overwrite").parquet(path)
    Dirs.parquetBytes(path)
  }
}

object Dirs {
  def parquetFiles(path: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(path))
  }

  def parquetBytes(path: String): Long = parquetFiles(path).map(_.length).sum

  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(path))
  }
}
