package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.serve.KpiSink

/** The KV read path: the items one pipeline run served, read back through
  * the store's read API and `graft.serve.KvDataSource` by one client thread
  * in a closed loop (the next operation starts when the previous returned).
  *
  * The seed picks the key popularity order and the operation sequence.
  * The six read kinds have equal shares, and about a tenth of the
  * operations are `putBatch` calls of 25 re-timestamped items, so the store
  * and both secondary indexes grow while the run reads them. Keys are drawn
  * Zipf-skewed over all items with YCSB's Zipfian constant (0.99); nothing
  * records real read traffic, so the skew is an assumption. A driver-side
  * model of the keys, built from `scanAll` and updated by every put, gives
  * the item count each read must return.
  *
  * Latency is reported per kind of operation only: reads cost from about
  * 0.02 ms (GetItem) to tens of milliseconds (table scans), so a pooled
  * figure would follow the shares. Each kind gets a few dozen samples, too
  * few for a p99, so the tail is reported as p90.
  */
object KvServe {

  val Reads: Seq[String] = Seq("get_item", "query_id", "query_kpi_type", "query_genre_date",
    "query_prefix", "df_point")
  val PutShare = 0.10
  val Mix: Seq[(String, Double)] = Reads.map(_ -> (1 - PutShare) / Reads.size) :+ ("put_batch" -> PutShare)
  /** YCSB's Zipfian constant. */
  val ZipfS = 0.99
  val WarmOps = 20
  val Ops = 180
  val SmallKpiTypes = Seq("user", "trending")
  private val TsTo = "2025"

  /** Driver-side model of the store's keys and index entries. */
  private final class Model(items: Seq[KpiSink.Item]) {
    val byId = mutable.HashMap[String, java.util.TreeSet[String]]()
    val byType = mutable.HashMap[String, java.util.TreeMap[String, Integer]]()
    val byGenre = mutable.HashMap[String, java.util.TreeMap[String, Integer]]()
    val ids = new java.util.TreeMap[String, Integer]()
    items.foreach(add)

    private def bump(m: java.util.TreeMap[String, Integer], k: String): Unit = m.merge(k, 1, (a, b) => a + b)

    def add(it: KpiSink.Item): Unit = {
      val id = it("id").toString
      val ts = it("timestamp").toString
      if (byId.getOrElseUpdate(id, new java.util.TreeSet[String]()).add(ts)) {
        bump(ids, id)
        it.get("kpi_type").foreach(t => bump(byType.getOrElseUpdate(t.toString, new java.util.TreeMap()), ts))
        for (g <- it.get("genre"); d <- it.get("date"))
          bump(byGenre.getOrElseUpdate(g.toString, new java.util.TreeMap()), d.toString)
      }
    }

    private def sumRange(m: Option[java.util.TreeMap[String, Integer]], from: String, to: String): Int =
      m.map(_.subMap(from, true, to, true).values().asScala.map(_.intValue).sum).getOrElse(0)

    def idCount(id: String, from: String, to: String): Int =
      byId.get(id).map(_.subSet(from, true, to, true).size).getOrElse(0)
    def typeCount(t: String, from: String, to: String): Int = sumRange(byType.get(t), from, to)
    def genreCount(g: String, from: String, to: String): Int = sumRange(byGenre.get(g), from, to)
    def prefixCount(p: String): Int = ids.subMap(p, true, p + '\uffff', true).values().asScala.map(_.intValue).sum
  }

  /** Zipf(s) ranks over `n` keys by inverse-CDF lookup. */
  private final class Zipf(n: Int, s: Double, rng: scala.util.Random) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Run the closed-loop mix against `store`: `WarmOps` unrecorded
    * operations, then `Ops` recorded ones, each checked against the model.
    */
  def mix(h: Harness, store: KpiSink.InMemoryKvStore): Unit = {
    val spark = h.spark
    val items = store.scanAll()
    val model = new Model(items)
    val rng = new scala.util.Random(h.seed)
    val keys = rng.shuffle(items.map(it => (it("id").toString, it("timestamp").toString))).toIndexedSeq
    val zipf = new Zipf(keys.size, ZipfS, rng)
    val genres = rng.shuffle(model.byGenre.keys.toSeq.sorted).toIndexedSeq
    val genreZipf = new Zipf(genres.size, ZipfS, rng)
    val dates = model.byGenre.values.flatMap(_.keySet().asScala).toSeq.distinct.sorted.toIndexedSeq
    val schema: StructType = spark.read.format("graft.serve.KvDataSource").option("store", store.id).load().schema
    val cdf = Mix.map(_._2).scanLeft(0.0)(_ + _).tail
    var putSeq = 0

    /** One operation: (kind, call returning the items it saw, expected count). */
    def nextOp(): (String, () => Int, Int) = {
      val u = rng.nextDouble()
      val k = cdf.indexWhere(u < _)
      Mix(if (k < 0) Mix.size - 1 else k)._1 match {
        case kind @ "get_item" =>
          val (id, ts) = keys(zipf.next())
          (kind, () => store.getItem(id, ts).size, 1)
        case kind @ "query_id" =>
          val (id, _) = keys(zipf.next())
          (kind, () => store.queryById(id, Some(Pipelines.RunTs), Some(TsTo)).size,
            model.idCount(id, Pipelines.RunTs, TsTo))
        case kind @ "query_kpi_type" =>
          val t = SmallKpiTypes(rng.nextInt(SmallKpiTypes.size))
          (kind, () => store.queryByKpiType(t, Some(Pipelines.RunTs), Some(TsTo)).size,
            model.typeCount(t, Pipelines.RunTs, TsTo))
        case kind @ "query_genre_date" =>
          val g = genres(genreZipf.next())
          val j = rng.nextInt(dates.size)
          val (from, to) = (dates(j), dates(math.min(j + 29, dates.size - 1)))
          (kind, () => store.queryByGenreDate(g, Some(from), Some(to)).size, model.genreCount(g, from, to))
        case kind @ "query_prefix" =>
          val p = s"GENRE_TOP_${genres(genreZipf.next())}_${dates(rng.nextInt(dates.size)).take(7)}"
          (kind, () => store.queryByIdPrefix(p).size, model.prefixCount(p))
        case kind @ "df_point" =>
          val (id, ts) = keys(zipf.next())
          (kind, () => spark.read.format("graft.serve.KvDataSource").schema(schema)
            .option("store", store.id).load()
            .filter(col("id") === id && col("timestamp") === ts).collect().length, 1)
        case kind =>
          putSeq += 1
          val ts = f"2024-07-01T00:00:00.$putSeq%06d"
          val batch = Seq.fill(KpiSink.BatchSize)(keys(zipf.next())).distinct
            .flatMap { case (id, t0) => store.getItem(id, t0) }.map(_ + ("timestamp" -> ts))
          (kind, () => { store.putBatch(batch); batch.foreach(model.add); batch.size }, batch.size)
      }
    }

    val latencies = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    val returned = mutable.HashMap[String, Long]().withDefaultValue(0L)
    (1 to WarmOps + Ops).foreach { n =>
      val (kind, call, want) = nextOp()
      h.attempt(kind) {
        val (got, s) = Harness.timed(h.trace.span(s"serve.$kind")(call()))
        h.check(got == want, s"$kind returned $got items, expected $want")
        if (n > WarmOps) {
          latencies.getOrElseUpdate(kind, mutable.ArrayBuffer[Double]()) += s * 1000.0
          returned(kind) += got
        }
      }
    }

    Mix.map(_._1).foreach { kind =>
      val l = latencies.getOrElse(kind, mutable.ArrayBuffer[Double]()).toSeq
      h.put(s"serve.${kind}_p50_ms", Harness.quantile(l, 0.5), "ms")
      h.put(s"serve.${kind}_p90_ms", Harness.quantile(l, 0.90), "ms")
      if (kind != "put_batch")
        h.put(s"serve.$kind.items_returned", returned(kind).toDouble / math.max(1, l.size), "count")
    }
  }
}
