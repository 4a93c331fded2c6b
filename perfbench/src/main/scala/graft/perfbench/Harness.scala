package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload run shares: the session, the trace, the clock and
  * the tally of checked operations.
  */
final class Harness(val spark: SparkSession, val trace: Trace, val seed: Long,
                    val seconds: Double, val sf: Double, val workDir: String, val cacheDir: String,
                    val expected: Expected) {

  var attempted = 0L
  var failed = 0L
  /** How many times the traced work repeated; listener totals are
    * reported per repetition.
    */
  var tracedUnits = 1
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count one checked operation; a failed check is logged to stderr. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
  }

  /** Count one operation that threw; the run goes on. */
  def attempt[T](what: String)(body: => T): Option[T] =
    try Some(body)
    catch {
      case e: Exception =>
        attempted += 1; failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }

  def dir(name: String): String = s"$workDir/$name"

  /** Progress line on stderr, stamped with seconds since the JVM started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%7.2f s  $msg")

  /** Release cached frames and RDDs left by the previous timed call. */
  def clearState(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Harness {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Order-independent digest of a frame: row count and the sum of a
    * 64-bit hash of every row, reduced mod a prime so it cannot overflow.
    */
  def digest(df: DataFrame): String = {
    val hash = pmod(xxhash64(df.columns.toSeq.map(c => df(c)): _*), lit(1000000007L))
    val r = df.select(count(lit(1)), coalesce(sum(hash), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }
}
