package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions.{count, lit}

import graft.io.{FsUtil, ParquetIO}
import graft.kpi.KpiQueries
import graft.pipeline.PipelineJob
import graft.serve.{KpiItems, KpiSink}
import graft.streaming.IncrementalIngest
import graft.validate.Validator

/** The pipeline workload: `PipelineJob.run` with the in-memory KV sink,
  * cold over the history and then one new file at a time, with every
  * run's outputs checked.
  */
object Pipelines {

  val RunTs = "2024-06-26T00:00:00"

  /** KPI output directory -> span name. */
  val KpiSpans: Map[String, String] = Map(
    "user_kpis" -> "kpi.user", "genre_daily_metrics_kpi" -> "kpi.genre_daily",
    "genre_top_songs_kpi" -> "kpi.top_songs", "genre_top_genres_kpi" -> "kpi.top_genres",
    "trending_kpis" -> "kpi.trending")

  final case class Dirs(staging: String, output: String, quarantine: String) {
    def storedBytes: Long = Seq(staging, output, quarantine).map(d => Landing.treeBytes(Paths.get(d))).sum
    def delete(): Unit = Seq(staging, output, quarantine).foreach(d => Landing.deleteTree(Paths.get(d)))
  }

  def config(in: Landing.Inputs, files: Seq[String], d: Dirs): PipelineJob.Config =
    PipelineJob.Config(streamFiles = files, songsCsv = in.songsCsv, usersCsv = in.usersCsv,
      stagingDir = d.staging, outputDir = d.output, quarantineDir = Some(d.quarantine), runTs = RunTs)

  /** Storage after a traced replay materialized the enrichment: bytes of
    * every cached RDD, and the enrichment's own cached partitions and bytes.
    */
  final case class Cache(allBytes: Long, enrichedPartitions: Int, enrichedBytes: Long)

  /** One timed `PipelineJob.run`. Traced runs replay its steps instead.
    * With tracing on, `work` is the Spark work the run caused, untraced
    * runs included.
    */
  final case class Run(result: PipelineJob.Result, seconds: Double, cache: Option[Cache],
                       usefulBatchRatio: Double, layers: Map[String, Double], work: Trace.Work)

  def run(h: Harness, cfg: PipelineJob.Config, store: KpiSink.InMemoryKvStore, traced: Boolean): Run = {
    h.clearState()
    val attempts0 = store.batchAttempts
    val stored0 = store.batchSizeHistogram.values.sum
    val mark = h.trace.mark
    val work0 = h.trace.total()
    var cache: Option[Cache] = None
    val (res, s) = Harness.timed {
      if (!traced) PipelineJob.run(h.spark, cfg, Some(store))
      else h.trace.span("pipeline")(replay(h, cfg, store, c => cache = Some(c)))
    }
    val useful = (store.batchSizeHistogram.values.sum - stored0).toDouble /
      math.max(1, store.batchAttempts - attempts0)
    Run(res, s, cache, useful, if (traced) h.trace.selfSeconds(mark) else Map.empty, h.trace.total() - work0)
  }

  private def rowCount(o: Observation): Long = o.get("rows").asInstanceOf[Long]
  private def counted(df: DataFrame, o: Observation): DataFrame = df.observe(o, count(lit(1)).as("rows"))

  /** `PipelineJob.run`'s steps, through the same public calls and in the
    * same order, with a span around each layer. Two differences, both
    * charged to the tracing overhead: the private `loadDim` is rebuilt from
    * `FsUtil` and `Validator.processReferenceData`, and the persisted
    * enrichment is materialized in a job of its own, inside its own span
    * (a pass over every partition that returns nothing), instead of inside
    * the first KPI write. That split is the only difference in Spark work
    * (see `replayExtra`).
    */
  private def replay(h: Harness, cfg: PipelineJob.Config, store: KpiSink.InMemoryKvStore,
                     cache: Cache => Unit): PipelineJob.Result = {
    val spark = h.spark
    val t = h.trace
    val stagedRows = t.span("validate.streams") {
      val obs = new Observation("staged_streams")
      ParquetIO.writeAppend(counted(Validator.processStreams(spark, cfg.streamFiles, cfg.quarantineDir), obs),
        s"${cfg.stagingDir}/streams")
      rowCount(obs)
    }
    def loadDim(csv: String, staged: String, ledger: String): DataFrame = {
      val changed = t.span("validate.cdc_check")(FsUtil.checksumChanged(spark, csv, ledger))
      if (changed || !FsUtil.exists(spark, staged)) {
        ParquetIO.writeOverwrite(Validator.processReferenceData(spark, csv), staged)
        FsUtil.commitChecksum(spark, csv, ledger)
      }
      ParquetIO.read(spark, staged)
    }
    val (songs, users) = t.span("validate.dims") {
      (loadDim(cfg.songsCsv, s"${cfg.stagingDir}/songs", s"${cfg.stagingDir}/ledger/songs.md5"),
        loadDim(cfg.usersCsv, s"${cfg.stagingDir}/users", s"${cfg.stagingDir}/ledger/users.md5"))
    }
    val enriched = t.span("kpi.enrich") {
      val e = KpiQueries.persistEnriched(KpiQueries.prepareStreamingData(
        ParquetIO.read(spark, s"${cfg.stagingDir}/streams"), songs, users))
      e.foreachPartition((_: Iterator[Row]) => ())
      e
    }
    val rddId = enriched.queryExecution.optimizedPlan.collectFirst { case r: InMemoryRelation =>
      r.cacheBuilder.cachedColumnBuffers.id }
    val storage = spark.sparkContext.getRDDStorageInfo
    val own = storage.filter(r => rddId.contains(r.id))
    cache(Cache(storage.map(r => r.memSize + r.diskSize).sum, own.map(_.numCachedPartitions).sum,
      own.map(r => r.memSize + r.diskSize).sum))
    val kpiRows = KpiQueries.all(enriched, cfg.approxDistinct, cfg.deskewTrending).map { case (name, df) =>
      t.span(KpiSpans(name)) {
        val o = new Observation(s"kpi_$name")
        ParquetIO.writeOverwrite(counted(df, o), s"${cfg.outputDir}/$name")
        require(PipelineJob.outputNonEmpty(ParquetIO.read(spark, s"${cfg.outputDir}/$name")),
          s"KPI output $name is empty")
        name -> rowCount(o)
      }
    }
    val served = t.span("serve.items_sink") {
      val out = (n: String) => ParquetIO.read(spark, s"${cfg.outputDir}/$n")
      Seq(
        KpiItems.userItems(out("user_kpis"), cfg.runTs),
        KpiItems.genreDailyItems(out("genre_daily_metrics_kpi"), cfg.runTs),
        KpiItems.topSongsItems(out("genre_top_songs_kpi"), cfg.runTs),
        KpiItems.topGenresItems(out("genre_top_genres_kpi"), cfg.runTs),
        KpiItems.trendingItems(out("trending_kpis"), cfg.runTs)).zipWithIndex.map { case (df, i) =>
        val o = new Observation(s"served_$i")
        KpiSink.write(counted(df, o), store)
        rowCount(o)
      }.sum
    }
    enriched.unpersist()
    PipelineJob.Result(stagedRows, kpiRows, served)
  }

  /** Output checks of one run: staged and quarantined row counts, the
    * five KPI tables' row counts and digests, and served items = KPI rows
    * = store size. Returns the number of rows the run quarantined.
    */
  def verify(h: Harness, cfg: PipelineJob.Config, res: PipelineJob.Result,
             store: KpiSink.InMemoryKvStore, stagedRows: Long, quarantined: Long): Long = {
    h.check(res.stagedStreamRows == stagedRows,
      s"staged ${res.stagedStreamRows} stream rows, expected $stagedRows")
    val q = h.spark.read.json(s"${cfg.quarantineDir.get}/corrupt_records").count()
    h.check(q == quarantined, s"quarantined $q rows, expected $quarantined")
    KpiSpans.keys.toSeq.sorted.foreach { name =>
      val d = Harness.digest(h.spark.read.parquet(s"${cfg.outputDir}/$name"))
      h.check(res.kpiRows.get(name).contains(d.takeWhile(_ != ':').toLong),
        s"$name: reported ${res.kpiRows.get(name)} rows, digest $d")
      h.check(h.expected.matches(s"kpi.$name", d), s"$name digest $d differs from the recorded one")
    }
    h.check(res.servedItems == res.kpiRows.values.sum && store.size == res.servedItems,
      s"served ${res.servedItems} items for ${res.kpiRows.values.sum} KPI rows; store holds ${store.size}")
    q
  }

  /** The Spark work a traced replay does on top of `PipelineJob.run`. The
    * replay materializes the enrichment in a job of its own, so the stage
    * that builds the cache in the untraced run is split in two: one more
    * stage, which reads every cached partition back once (one task and the
    * partition's bytes each). Shuffle and spill are the same.
    */
  def replayExtra(c: Cache): Trace.Work =
    Trace.Work(stages = 1, tasks = c.enrichedPartitions, inputBytes = c.enrichedBytes)

  /** Largest tracing overhead, as a share of the untraced run, that a
    * faithful replay shows. Set from traced runs on a 4-core host, where it
    * was 0.005-0.044 at sf0.01 and 0.15-0.17 at sf0.001: the traced run is
    * always the first timed iteration, so it pays more of the JIT warm-up,
    * which weighs more on the shorter sf0.001 run.
    */
  val MaxTraceOverhead = 0.25

  /** Corpus for a workload: the test-data directory given with `--sf-dir`,
    * or the tables generated at the run's scale factor. Generated tables do
    * not depend on the seed, so they are kept under `--cache` and made only
    * by the first run that needs them.
    */
  def corpus(h: Harness, sfDir: Option[String], tables: Seq[String] = Corpus.PipelineTables): String =
    sfDir.getOrElse {
      val dir = s"${h.cacheDir}/sf${h.sf}"
      tables.filterNot(t => Files.exists(Paths.get(s"$dir/$t.done"))).foreach { t =>
        Corpus.write(h.spark, h.sf, dir, Seq(t))
        Files.createFile(Paths.get(s"$dir/$t.done"))
      }
      dir
    }

  /** Set-up repetitions before the first timed iteration. */
  val SetupRepeats = 3
  /** Timed iterations per run, at least; more while `--seconds` lasts. */
  val MinIterations = 2

  /** `pipeline_incremental`. The seed picks which of the landed stream
    * files arrives last. The other seven are the history: the first run in
    * the fresh JVM stages them into empty staging, dims and checksum ledger
    * included (a cold run with a CDC miss, `pipeline.first_run_s`). Each
    * timed iteration then restores that staged history, lets a fresh
    * streaming checkpoint ingest the history files (the set-up, `setup_s`),
    * and times `PipelineJob.run` on the new file (a CDC hit, with the KPIs
    * and the sink recomputed over all history; `run_s`) and
    * `runAvailableNow` on it. With tracing on, odd iterations replay the run
    * with spans and even ones do not, so one run gives both the layer
    * figures and the tracing overhead. After the last iteration, the KV mix
    * reads the served items back.
    */
  def incremental(h: Harness, sfDir: Option[String]): Unit = {
    val spark = h.spark
    val corpusDir = corpus(h, sfDir)
    val in = Landing.land(spark, corpusDir, h.dir("land"), h.seed)
    val newIdx = new scala.util.Random(h.seed).nextInt(Landing.StreamFiles)
    val newFile = in.streamFiles(newIdx)
    val history = in.streamFiles.filterNot(_ == newFile)
    h.log("inputs landed")

    val snap = h.dir("history_staging")
    h.attempt("history run") {
      val store = new KpiSink.InMemoryKvStore()
      val d = Dirs(snap, h.dir("history_out"), h.dir("history_quarantine"))
      val (res, s) = Harness.timed(PipelineJob.run(spark, config(in, history, d), Some(store)))
      h.put("pipeline.first_run_s", s, "s")
      h.check(res.stagedStreamRows == in.cleanRows.sum - in.cleanRows(newIdx),
        s"history run staged ${res.stagedStreamRows} rows")
      h.check(res.servedItems == res.kpiRows.values.sum && store.size == res.servedItems,
        s"history run served ${res.servedItems} items; store holds ${store.size}")
    }
    h.log("history run done")

    h.trace.reset()
    val setup, untraced, traced, cache, stored, useful, ingest = mutable.ArrayBuffer[Double]()
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    val tracedWork, untracedWork = mutable.ArrayBuffer[Trace.Work]()
    var batches = 0L
    var lastStore: Option[KpiSink.InMemoryKvStore] = None
    val deadline = System.nanoTime() + (h.seconds * 1e9).toLong
    var i = 1
    while (i <= MinIterations || System.nanoTime() < deadline) {
      val isTraced = h.trace.enabled && i % 2 == 1
      val d = Dirs(h.dir(s"staging$i"), h.dir(s"out$i"), h.dir(s"quarantine$i"))
      val streamIn = h.dir(s"stream_in$i")
      val streamStaging = h.dir(s"stream_staging$i")
      val checkpoint = h.dir(s"checkpoint$i")
      val streamQuarantine = h.dir(s"stream_quarantine$i")
      // set-up: restore the staged history and let a fresh streaming
      // checkpoint ingest the history files; repeated before the first
      // iteration, whose figure is the median
      (1 to (if (i == 1) SetupRepeats else 1)).foreach { _ =>
        Seq(d.staging, streamIn, streamStaging, checkpoint).foreach(p => Landing.deleteTree(Paths.get(p)))
        setup += Harness.timed {
          Landing.copyTree(Paths.get(snap), Paths.get(d.staging))
          Files.createDirectories(Paths.get(streamIn))
          history.foreach(f => Files.copy(Paths.get(f), Paths.get(streamIn).resolve(Paths.get(f).getFileName)))
          IncrementalIngest.runAvailableNow(spark, streamIn, streamStaging, checkpoint)
        }._2
      }
      Files.copy(Paths.get(newFile), Paths.get(streamIn).resolve(Paths.get(newFile).getFileName))
      val cfg = config(in, Seq(newFile), d)
      System.gc() // pay the previous iteration's garbage outside the timer
      h.attempt("incremental run") {
        val store = new KpiSink.InMemoryKvStore()
        lastStore = Some(store)
        val r = run(h, cfg, store, isTraced)
        h.log(f"iteration $i: PipelineJob.run took ${r.seconds}%.3f s${if (isTraced) " (traced)" else ""}")
        val q = verify(h, cfg, r.result, store, in.cleanRows(newIdx), in.corruptRows(newIdx).toLong)
        if (isTraced) {
          traced += r.seconds
          layers += r.layers
          r.cache.foreach { c =>
            cache += c.allBytes.toDouble
            tracedWork += r.work - replayExtra(c)
          }
          h.put("validate.rows_staged", r.result.stagedStreamRows.toDouble, "count")
          h.put("validate.rows_quarantined", q.toDouble, "count")
          h.put("serve.items_written", r.result.servedItems.toDouble, "count")
        } else {
          untraced += r.seconds
          untracedWork += r.work
        }
        stored += d.storedBytes.toDouble / in.bytes
        useful += r.usefulBatchRatio
      }
      h.attempt("incremental ingest") {
        val before = spark.read.parquet(streamStaging).count()
        val call = () =>
          IncrementalIngest.runAvailableNow(spark, streamIn, streamStaging, checkpoint, Some(streamQuarantine))
        val (n, s) = Harness.timed(if (isTraced) h.trace.span("streaming.available_now")(call()) else call())
        val staged = spark.read.parquet(streamStaging).count() - before
        h.check(staged == in.cleanRows(newIdx), s"AvailableNow staged $staged rows, expected ${in.cleanRows(newIdx)}")
        val q = spark.read.json(s"$streamQuarantine/corrupt_records").count()
        h.check(q == in.corruptRows(newIdx), s"AvailableNow quarantined $q rows, expected ${in.corruptRows(newIdx)}")
        h.check(n >= 1, "AvailableNow ran no batch")
        ingest += s
        batches = n
      }
      d.delete()
      Seq(streamIn, streamStaging, checkpoint, streamQuarantine).foreach(p => Landing.deleteTree(Paths.get(p)))
      h.log(s"iteration $i done")
      i += 1
    }
    // the last run's served items, read back through the KV read path
    lastStore.foreach(store => h.attempt("kv read mix")(KvServe.mix(h, store)))
    h.log("kv read mix done")

    import Harness.median
    h.put("setup_s", median(setup.take(SetupRepeats).toSeq), "s")
    h.put("run_s", median(untraced.toSeq), "s")
    h.put("pipeline.stored_bytes_ratio", median(stored.toSeq), "ratio")
    h.put("serve.useful_batch_ratio", median(useful.toSeq), "ratio")
    h.put("streaming.available_now_s", median(ingest.toSeq), "s")
    h.put("streaming.batches", batches.toDouble, "count")
    if (h.trace.enabled) {
      h.tracedUnits = traced.size
      val layer = (n: String) => median(layers.toSeq.map(_.getOrElse(n, 0.0)))
      Seq("validate.streams", "validate.dims", "validate.cdc_check", "kpi.enrich", "kpi.user",
        "kpi.genre_daily", "kpi.top_songs", "kpi.top_genres", "kpi.trending", "serve.items_sink")
        .foreach(n => h.put(s"${n}_s", layer(n), "s"))
      h.put("kpi.cache_bytes", median(cache.toSeq), "bytes")
      val tracedRun = median(traced.toSeq)
      val untracedRun = median(untraced.toSeq)
      val layerSum = layers.headOption.map(_.keys.filter(_ != "pipeline").toSeq.map(layer).sum).getOrElse(0.0)
      h.put("pipeline.untraced_run_s", untracedRun, "s")
      h.put("pipeline.trace_overhead_s", tracedRun - untracedRun, "s")
      h.put("pipeline.layer_sum_s", layerSum, "s")
      h.put("pipeline.gap_s", layer("pipeline"), "s")
      // the replay is faithful when it does the same Spark work as the
      // untraced run (but for materializing the enrichment on its own) ...
      val sameWork = (w: Trace.Work) => w.copy(executorRunMs = 0)
      for (t <- tracedWork; u <- untracedWork)
        h.check(sameWork(t) == sameWork(u), s"traced replay did $t (less its own cache pass), untraced run did $u")
      // ... and its layers account for the untraced run within the bounded
      // tracing overhead
      val allowed = MaxTraceOverhead * untracedRun
      h.check(math.abs(tracedRun - untracedRun) <= allowed && math.abs(untracedRun - layerSum) <= allowed,
        f"traced run $tracedRun%.3f s, layer self-times $layerSum%.3f s, untraced run $untracedRun%.3f s: " +
          f"more than ${MaxTraceOverhead * 100}%.0f%% apart")
    }
  }
}
