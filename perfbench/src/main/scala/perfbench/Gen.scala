package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

/** Seeded inputs. The same seed always yields the same files: Spark's
  * `rand(s)`/`randn(s)` are seeded per partition, and the partition count
  * is fixed here, not taken from the machine. */
object Gen {

  /** Tutorial_02's binning ranges: X, Y in detector steps, t in ToF steps. */
  val XRange = (300.0, 1800.0)
  val YRange = (200.0, 1800.0)
  val TRange = (68000.0, 90000.0)

  /** Circular detector footprint (centre, radius) inside the X/Y ranges. */
  val Centre = (1050.0, 1000.0)
  val Radius = 660.0
  /** Six photoemission bands along the time of flight, (centre, sigma). */
  val Bands = Seq((70500.0, 900.0), (73800.0, 1100.0), (77200.0, 1300.0),
    (80600.0, 1500.0), (84000.0, 1700.0), (87400.0, 1900.0))
  /** Share of events on a flat secondary-electron background, which also
    * puts some events outside the t range for the range filter to drop. */
  val Background = 0.2

  /** Number of split parquet files the events are written as. */
  val Files = 8

  /** `n` single-electron events `X, Y, t, ADC` (float32). The uniform
    * draws are columns of their own first: a random expression written
    * twice in one projection would draw twice. */
  def events(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val s = seed * 1000003L
    val draws = spark.range(0, n, 1, Files)
      .select((0 to 5).map(k => rand(s + k).as(s"u$k")) :+ randn(s + 6).as("z"): _*)
    val r = sqrt(col("u0")) * Radius
    val th = col("u1") * (2 * math.Pi)
    val band = floor(col("u2") * Bands.length)
    val (centre, sigma) = Bands.zipWithIndex.foldRight((lit(0.0), lit(0.0))) {
      case (((c, sd), i), (accC, accS)) =>
        (when(band === i, lit(c)).otherwise(accC), when(band === i, lit(sd)).otherwise(accS))
    }
    val tFlat = lit(TRange._1 - 500.0) + col("u3") * (TRange._2 - TRange._1 + 1000.0)
    draws.select(
      (lit(Centre._1) + r * cos(th)).cast(FloatType).as("X"),
      (lit(Centre._2) + r * sin(th)).cast(FloatType).as("Y"),
      when(col("u4") < Background, tFlat).otherwise(centre + sigma * col("z")).cast(FloatType).as("t"),
      (lit(200.0) + col("u5") * 3800.0).cast(FloatType).as("ADC"))
  }

  def writeEvents(spark: SparkSession, n: Long, seed: Long, path: String): Unit =
    events(spark, n, seed).write.mode("overwrite").parquet(path)

  /** What the event workloads rely on, computed with plain Spark SQL and
    * no library code: the event count, the share of Tutorial_02's
    * 100 x 100 x 200 cells that hold an (unjittered) event (estimated to
    * 1%, well inside the 0.4 to 0.65 the check allows), and the share
    * of events inside its ranges, whose calibrated image the k-space
    * grid is sized to contain. */
  final case class Props(count: Long, occupied: Double, inRanges: Double) {
    def ok(n: Long): Boolean = count == n && occupied >= 0.4 && occupied <= 0.65 && inRanges >= 0.95
  }

  def properties(spark: SparkSession, path: String): Props = {
    def in(c: String, r: (Double, Double)) = col(c) >= r._1 && col(c) < r._2
    def bin(c: String, r: (Double, Double), n: Int) = floor((col(c) - r._1) * n / (r._2 - r._1))
    val inside = in("X", XRange) && in("Y", YRange) && in("t", TRange)
    val cell = (bin("X", XRange, 100) * 100 + bin("Y", YRange, 100)) * 200 + bin("t", TRange, 200)
    val r = spark.read.parquet(path).agg(
      count(lit(1)), sum(when(inside, 1L).otherwise(0L)), approx_count_distinct(when(inside, cell), 0.01)).head()
    Props(r.getLong(0), r.getLong(2) / 2e6, r.getLong(1).toDouble / r.getLong(0))
  }
}
