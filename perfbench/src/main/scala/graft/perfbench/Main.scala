package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.GraftSession

/** Runs one benchmark workload and prints one JSON line with every metric
  * it measured (name -> value and unit) and the tally of checked
  * operations. `perfbench/run.py` builds this package, starts it and picks
  * the metrics `BENCHMARK.json` declares.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --sf <scale factor> --work <dir> --cache <dir> --expected <expected.json>
  *        [--sf-dir <test-data dir>] [--record <file>]
  * }}}
  *
  * `--work` holds this run's files; `--cache` keeps the generated corpus
  * from one run to the next.
  *
  * `--sf-dir` reads an existing test-data directory (for instance a 10x
  * replica) instead of generating the corpus; digests are not checked
  * then. `--record` writes the digests seen to a file instead of checking
  * them.
  */
object Main {

  val Workloads: Map[String, (Harness, Option[String]) => Unit] = Map(
    "pipeline_incremental" -> Pipelines.incremental,
    "registry_sample" -> Registry.run)

  /** Listener figures reported for each of these span-name prefixes. */
  val Groups: Seq[String] = Seq("validate", "kpi", "serve", "streaming", "ops")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val sfDir = opts.get("sf-dir")
    val record = opts.get("record")
    val sf = opt("sf").toDouble
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    Files.createDirectories(Paths.get(work))
    val expected =
      if (record.isDefined || sfDir.isDefined) new Expected(None)
      else Expected.load(opt("expected"), opt("sf"))

    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder("perfbench", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(spark.sparkContext, opt("trace") == "1")
    val h = new Harness(spark, trace, opt("seed").toLong, opt("seconds").toDouble, sf, work,
      Paths.get(opt("cache")).toAbsolutePath.toString, expected)
    try {
      h.log(s"session started; running $workload")
      body(h, sfDir)
      if (trace.enabled) Groups.foreach { g =>
        val w = trace.workUnder(g)
        val per = (x: Double) => x / h.tracedUnits
        val wall = trace.wallUnder(g)
        h.put(s"$g.stages", per(w.stages.toDouble), "count")
        h.put(s"$g.tasks", per(w.tasks.toDouble), "count")
        h.put(s"$g.executor_run_s", per(w.executorRunMs / 1000.0), "s")
        h.put(s"$g.busy_share", if (wall > 0) w.executorRunMs / 1000.0 / (wall * cores) else 0.0, "ratio")
        h.put(s"$g.input_bytes", per(w.inputBytes.toDouble), "bytes")
        h.put(s"$g.shuffle_read_bytes", per(w.shuffleReadBytes.toDouble), "bytes")
        h.put(s"$g.shuffle_write_bytes", per(w.shuffleWriteBytes.toDouble), "bytes")
        h.put(s"$g.spill_bytes", per(w.spillBytes.toDouble), "bytes")
      }
    } finally {
      trace.close()
      spark.stop()
    }

    val mapper = new ObjectMapper()
    record.foreach { f =>
      val node = mapper.createObjectNode()
      expected.seen.foreach { case (k, v) => node.put(k, v) }
      mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(f), node)
    }
    val out = mapper.createObjectNode()
    out.put("correct", h.failed == 0 && h.attempted > 0)
    out.put("attempted", h.attempted)
    out.put("failed", h.failed)
    val ms = out.putObject("metrics")
    h.metrics.foreach { case (k, (v, u)) => ms.putObject(k).put("value", v).put("unit", u) }
    println(mapper.writeValueAsString(out))
  }
}
