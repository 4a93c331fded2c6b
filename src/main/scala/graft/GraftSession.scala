package graft

import org.apache.spark.sql.SparkSession

/** Session factory with scale-oriented defaults.
  *
  * Local testing runs `local[N]`, but every knob here is chosen for the
  * 1000-executor / 100 TB target: AQE on (runtime coalescing + skew-join
  * splitting), explicit shuffle parallelism (never the 200 default), UTC
  * session time zone (oracle parity + deterministic `date_trunc` /
  * `unix_timestamp`, see SURVEY §7.4.4).
  */
object GraftSession {
  def builder(appName: String = "graft", cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // The driver's events.parquet carries TIMESTAMP(NANOS), which Spark 4
      // only reads as long under this flag (see TestTables.events). Set at
      // session construction, not inside readers (round-1 verdict #7).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(
      math.max(4, Runtime.getRuntime.availableProcessors()))

  /** Drop every cached table and persisted RDD, so the next query starts
    * from a cold cache. Persisted RDDs include the `localCheckpoint`
    * blocks iterative operators (clusters, PageRank) leave outside the
    * SQL cache, which `clearCache` cannot see.
    *
    * OWNERSHIP ASSUMPTION: the caller owns the whole session — nothing
    * holds a cached or checkpoint-backed frame across the call. That holds
    * for the mains that call this between registry entries (`Bench`,
    * `Verify`, `Probe`, `WidthCounts`); do not call it from library code:
    * a `localCheckpoint`-backed frame someone else holds cannot be read
    * again once its blocks are gone (its lineage is truncated; re-reads
    * fail, they don't recompute).
    */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
