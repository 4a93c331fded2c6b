package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic corpus in the shape of the engine's TPC-H-ish
  * test tables (`TESTDATA.md`): the tables the pipeline adapter
  * (`TestTables.streams/songs/users`) and the sampled registry entries
  * read. Every value is a hash of (row id, column salt), so the same scale
  * factor gives byte-identical tables on any core count or partitioning;
  * the benchmark seed never changes the corpus, only how it is landed.
  *
  * Row counts follow the test tables: sf0.1 has 600,000 lineitem rows,
  * 20,000 parts, 1,000 suppliers, 150,000 orders, 100,000 events, 5,000
  * documents and 2,000 embeddings.
  */
object Corpus {

  val Tables: Seq[String] = Seq("part", "supplier", "lineitem", "orders",
    "events", "documents", "embeddings")

  def rows(sf: Double, table: String): Long = math.max(1L, math.round(sf * (table match {
    case "part"       => 200000.0
    case "supplier"   => 10000.0
    case "lineitem"   => 6000000.0
    case "orders"     => 1500000.0
    case "events"     => 1000000.0
    case "documents"  => 50000.0
    case "embeddings" => 20000.0
  })))

  private def h(salt: Int): Column = xxhash64(col("id"), lit(salt))
  /** Uniform integer in [0, n). */
  private def pick(salt: Int, n: Long): Column = pmod(h(salt), lit(n))
  /** Uniform double in [0, 1). */
  private def unit(salt: Int): Column = pmod(h(salt), lit(1L << 30)) / lit((1L << 30).toDouble)
  private def oneOf(salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (pick(salt, values.size.toLong) + 1).cast("int"))
  private def day(base: String, salt: Int, days: Long): Column =
    timestamp_seconds(unix_timestamp(lit(base)) + pick(salt, days) * 86400L)

  private val Vocab = Seq("a", "the", "data", "spark", "stream", "batch", "query",
    "join", "agg", "sort", "scan", "hash", "key", "value", "row", "column",
    "table", "part", "order", "line", "customer", "group", "filter", "window",
    "merge", "vector", "fast", "slow", "big", "small", "plan", "shuffle", "index")

  def build(spark: SparkSession, sf: Double, table: String): DataFrame = {
    val n = rows(sf, table)
    val r = spark.range(n).toDF("id")
    table match {
      case "part" => r.select(
        col("id").as("p_partkey"),
        concat_ws(" ", oneOf(1, Seq("blue", "red", "hot", "cold", "small", "large", "green", "dark")),
          oneOf(2, Seq("ring", "bolt", "gear", "plate", "rod", "anvil", "nut", "pipe"))).as("p_name"),
        concat(lit("Brand#"), (pick(3, 25) + 1).cast("string")).as("p_brand"),
        oneOf(4, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")).as("p_type"),
        (pick(5, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice"))
      case "supplier" => r.select(
        col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        pick(1, 25).cast("int").as("s_nationkey"),
        round(unit(2) * 11000.0 - 1000.0, 2).as("s_acctbal"))
      case "lineitem" => r.select(
        pick(1, rows(sf, "orders")).as("l_orderkey"),
        pick(2, rows(sf, "part")).as("l_partkey"),
        pick(3, rows(sf, "supplier")).as("l_suppkey"),
        (pick(4, 7) + 1).cast("int").as("l_linenumber"),
        (pick(5, 50) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + unit(6) * 104100.0, 2).as("l_extendedprice"),
        (pick(7, 11) / 100.0).as("l_discount"),
        (pick(8, 9) / 100.0).as("l_tax"),
        oneOf(9, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(10, Seq("O", "F")).as("l_linestatus"),
        day("1995-01-02 00:00:00", 11, 2499).as("l_shipdate"))
      case "orders" => r.select(
        col("id").as("o_orderkey"),
        pick(1, math.max(1L, n / 10)).as("o_custkey"),
        oneOf(2, Seq("O", "F", "P")).as("o_orderstatus"),
        round(lit(1000.0) + unit(3) * 499000.0, 2).as("o_totalprice"),
        day("1995-01-01 00:00:00", 4, 2404).as("o_orderdate"),
        oneOf(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
      case "events" => r.select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + (col("id") * lit(2592000000000L / n)) +
          pmod(h(1), lit(2592000000000L / n))).as("ts"),
        pick(2, math.max(1L, n * 3 / 200)).as("user_id"),
        oneOf(3, Seq("signup", "click", "error", "view", "purchase")).as("event_type"),
        round(-log(lit(1.0) - unit(4)) * 80.0, 2).as("value"),
        concat(lit("{\"k\": "), pick(5, 100).cast("string"), lit("}")).as("props"))
      case "documents" =>
        // ~0.2% of documents repeat an earlier text, so the dedup entries
        // find exact as well as near duplicates
        val textId = when(pmod(col("id"), lit(500L)) === 7, col("id") - 1).otherwise(col("id"))
        val nWords = (pick(1, 91) + 10).cast("int")
        val words = transform(sequence(lit(1), nWords), i =>
          element_at(array(Vocab.map(lit): _*),
            (pmod(xxhash64(textId, i, lit(2)), lit(Vocab.size.toLong)) + 1).cast("int")))
        r.withColumn("text", concat_ws(" ", words)).select(
          col("id").as("doc_id"),
          col("text"),
          when(unit(3) < 0.41, "en").otherwise(oneOf(4, Seq("es", "zh", "de", "fr"))).as("lang"),
          concat(lit("src"), pmod(col("id"), lit(20L)).cast("string")).as("source"),
          length(col("text")).cast("long").as("n_chars"))
      case "embeddings" =>
        val label = pick(1, 10)
        r.withColumn("label", label.cast("int")).select(
          col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), j =>
            ((pmod(xxhash64(col("label"), j, lit(2)), lit(1000L)) - 500) / 2500.0 +
              (pmod(xxhash64(col("id"), j, lit(3)), lit(1000L)) - 500) / 5000.0).cast("float")).as("embedding"),
          col("label"))
    }
  }

  /** The tables the pipeline adapter (`TestTables.streams/songs/users`) reads. */
  val PipelineTables: Seq[String] = Seq("part", "supplier", "lineitem")

  /** Write tables as `<dir>/<name>.parquet`, the layout `TestTables.table` reads. */
  def write(spark: SparkSession, sf: Double, dir: String, tables: Seq[String]): Unit =
    tables.foreach(t => build(spark, sf, t).write.mode("overwrite").parquet(s"$dir/$t.parquet"))
}
