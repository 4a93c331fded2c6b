package graft.perfbench

import scala.collection.mutable

import graft.SparkEntry

/** `registry_sample`: a fixed sample of `SparkEntry.queries` over the
  * generated corpus, each timed as plan (forcing
  * `queryExecution.executedPlan`) plus execute (the `noop` sink). The heavy
  * band is data work and shuffle; the cheap band is almost all fixed
  * per-query cost (analysis, planning, codegen, job scheduling), so a
  * planner-side change shows on one band and a data-side change on the
  * other.
  */
object Registry {

  val Heavy: Seq[String] = Seq("q_dedup_pairs_maxdf", "q_containment_maxdf", "q_overlap_matrix",
    "q_pca_top", "q_trimmed_mean", "q_logrank", "q_perm_test", "q_er_clusters", "q_langid",
    "q_knn_topk_agg", "kpi_trending")
  val Cheap: Seq[String] = Seq("q_union_all", "q_sort_limit", "q_split3", "q_string_agg",
    "q_unpivot", "q_wow", "q_tumbling", "q_url_canon", "q_zorder", "q_user_growth")
  val Entries: Seq[String] = Heavy ++ Cheap

  def run(h: Harness, sfDir: Option[String]): Unit = {
    val spark = h.spark
    val queries = SparkEntry.queries
    val dir = Pipelines.corpus(h, sfDir, Corpus.Tables)
    // set-up, repeated: open every input table (a count per table)
    h.put("setup_s", Harness.median((1 to 3).map(_ => Harness.timed(Corpus.Tables.foreach(t =>
      graft.TestTables.table(spark, dir, t).count()))._2)), "s")
    h.log("corpus written and opened")

    /** Plan one entry (forcing the executed plan), then execute it through
      * the noop sink; (plan seconds, execute seconds).
      */
    def once(name: String): (Double, Double) = {
      h.clearState()
      val (df, planS) = Harness.timed(h.trace.span(s"ops.$name.plan") {
        val df = queries(name)(spark, dir)
        df.queryExecution.executedPlan
        df
      })
      val (_, execS) = Harness.timed(h.trace.span(s"ops.$name.exec")(
        df.write.format("noop").mode("overwrite").save()))
      (planS, execS)
    }

    // output check, in an untimed first pass that also warms the JVM: each
    // entry's digest, taken by an action of its own
    Entries.foreach { name =>
      h.attempt(name) {
        h.clearState()
        val d = Harness.digest(queries(name)(spark, dir))
        h.check(h.expected.matches(s"entry.$name", d), s"$name digest $d differs from the recorded one")
      }
    }
    h.log("digests checked")

    h.trace.reset()
    val plan, exec = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    val deadline = System.nanoTime() + (h.seconds * 1e9).toLong
    var passes = 0
    while (passes < 1 || System.nanoTime() < deadline) {
      System.gc() // pay the previous pass's garbage outside the timers
      Entries.foreach { name =>
        h.attempt(name) {
          val (p, e) = once(name)
          plan.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += p
          exec.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += e
        }
      }
      passes += 1
    }
    h.tracedUnits = passes
    h.log(s"$passes timed passes done")

    val med = (m: mutable.HashMap[String, mutable.ArrayBuffer[Double]], n: String) =>
      Harness.median(m.getOrElse(n, Nil).toSeq)
    h.put("run_s", Entries.map(n => med(plan, n) + med(exec, n)).sum, "s")
    h.put("ops.plan_s", Entries.map(med(plan, _)).sum, "s")
    h.put("ops.exec_s", Entries.map(med(exec, _)).sum, "s")
    Entries.foreach { n =>
      h.put(s"ops.$n.plan_s", med(plan, n), "s")
      h.put(s"ops.$n.exec_s", med(exec, n), "s")
    }
  }
}
