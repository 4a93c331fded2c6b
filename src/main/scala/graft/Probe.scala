package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{GraftSparkInternals, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, InSubqueryExec,
  ScalarSubquery, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

import graft.ops.Bucketing

/** Dev probe over registry entries:
  * `runMain graft.Probe <sfDir> [--passes n] [query…]` (every entry when
  * none is named; 2 passes by default) prints one JSON line per
  * (entry, pass) with
  *
  *   - `plan_s`: frame construction plus analysis, optimization and
  *     physical planning (forced through `executedPlan`). Plans with many
  *     repeated subtree references can spend seconds in the optimizer
  *     before any job starts, invisible in stage metrics;
  *   - `exchanges`: [[Bucketing.shuffleCount]] of the planned frame,
  *     before execution — the count `PlanAudit.shuffleBudget` pins;
  *   - `exec_s`: the noop-sink execution;
  *   - `jobs`, `stages`, `tasks`, `input_bytes`, `shuffle_read_bytes`,
  *     `shuffle_write_bytes`: the Spark work of the whole pass, actions an
  *     entry runs while building its frame included;
  *   - `dup`: null, or the subtree the physical plan evaluates more than
  *     once ([[dupReport]]).
  *
  * Every pass starts from [[GraftSession.reset]]: entries that cache or
  * checkpoint internally would otherwise time cache reads after pass 1.
  * A failed pass prints `{"entry", "pass", "error"}` instead, skips the
  * entry's remaining passes, and makes the run exit 1.
  */
object Probe {

  /** Spark work of one pass, as counted by [[Counter]]. */
  final case class Work(jobs: Long, stages: Long, tasks: Long, inputBytes: Long,
                        shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** One (entry, pass) record; [[json]] is the line `main` prints. */
  final case class Pass(entry: String, pass: Int, planS: Double, execS: Double,
                        exchanges: Int, work: Work, dup: Option[String]) {
    def json: String = {
      import Verify.jsonString
      s"""{"entry":${jsonString(entry)},"pass":$pass,""" +
        f""""plan_s":$planS%.3f,"exec_s":$execS%.3f,""" +
        s""""exchanges":$exchanges,"jobs":${work.jobs},"stages":${work.stages},""" +
        s""""tasks":${work.tasks},"input_bytes":${work.inputBytes},""" +
        s""""shuffle_read_bytes":${work.shuffleReadBytes},""" +
        s""""shuffle_write_bytes":${work.shuffleWriteBytes},""" +
        s""""dup":${dup.map(jsonString).getOrElse("null")}}"""
    }
  }

  /** Listener counting jobs, completed stages, their tasks and their
    * input and shuffle bytes. Events arrive asynchronously, so [[take]]
    * drains the listener bus before it reads; otherwise work would be
    * credited to the wrong pass.
    */
  final class Counter(sc: SparkContext) extends SparkListener {
    private val jobs, stages, tasks, input, read, write = new AtomicLong

    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      Option(s.stageInfo.taskMetrics).foreach { m =>
        input.addAndGet(m.inputMetrics.bytesRead)
        read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }

    /** The work counted since the last call; counting restarts at zero. */
    def take(): Work = {
      GraftSparkInternals.drainListenerBus(sc)
      Work(jobs.getAndSet(0), stages.getAndSet(0), tasks.getAndSet(0),
        input.getAndSet(0), read.getAndSet(0), write.getAndSet(0))
    }
  }

  /** One pass of `entry` from a reset session; `counter` must be
    * registered on `spark`.
    */
  def pass(spark: SparkSession, sfDir: String, entry: String,
           fn: (SparkSession, String) => DataFrame, pass: Int,
           counter: Counter): Pass = {
    GraftSession.reset(spark)
    counter.take() // drop what earlier passes left on the bus
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val plan = df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val exchanges = Bucketing.shuffleCount(df)
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    Pass(entry, pass, (t1 - t0) / 1e9, (t3 - t2) / 1e9, exchanges,
      counter.take(), dupReport(plan))
  }

  private def subqueryPlans(p: SparkPlan): Seq[SparkPlan] =
    p.expressions.flatMap(_.collect {
      case e: ScalarSubquery => e.plan
      case e: InSubqueryExec => e.plan
    })

  /** All evaluated subtrees: children of every node + roots of subqueries,
    * not descending into ReusedExchange (its child is shared, not re-run)
    * and visiting each AQE query stage ONCE (AQE represents stage reuse as
    * repeated QueryStageExec nodes with the same id, not ReusedExchange).
    */
  private def walk(p: SparkPlan, acc: mutable.Buffer[SparkPlan],
                   seenStages: mutable.Set[Int]): Unit = {
    p match {
      case _: ReusedExchangeExec => // shared — not a second evaluation
      case a: AdaptiveSparkPlanExec =>
        walk(a.executedPlan, acc, seenStages)
      case q: QueryStageExec =>
        if (seenStages.add(q.id)) walk(q.plan, acc, seenStages)
      case other =>
        acc += other
        other.children.foreach(walk(_, acc, seenStages))
        subqueryPlans(other).foreach(walk(_, acc, seenStages))
    }
  }

  private def scanTables(p: SparkPlan): Seq[String] = p.collect {
    case f: FileSourceScanExec =>
      f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?")
  }

  /** Find a subtree the physical plan evaluates more than once.
    *
    * Spark's ReuseExchange/ReuseSubquery only dedupe IDENTICAL exchange or
    * subquery nodes; a subtree that feeds both a BroadcastExchange (a 1-row
    * count, a threshold array) and the main shuffle path is computed once
    * PER PARENT — e.g. `bhFdr` re-ran its data-sized permutation-test input
    * three times (broadcast m, cache fill under kStar, the null-p union
    * branch).
    *
    * Walks the plan INCLUDING subquery plans, canonicalizes every subtree
    * that reads a parquet scan and does real work (an exchange or an
    * aggregate, not a bare column prune), and reports the deepest
    * canonical form seen more than once: its count, size and scanned
    * tables, plus the number of such duplicate groups. None when no
    * subtree repeats.
    */
  def dupReport(plan: SparkPlan): Option[String] = {
    val all = mutable.Buffer[SparkPlan]()
    walk(plan, all, mutable.Set[Int]())
    val interesting = all.filter { st =>
      scanTables(st).nonEmpty &&
        st.collect { case e: Exchange => e
                     case a: BaseAggregateExec => a }.nonEmpty
    }
    val dups = interesting.groupBy(_.canonicalized).filter(_._2.size > 1)
    if (dups.isEmpty) None
    else {
      val (canon, occ) = dups.maxBy { case (c, _) => c.collect { case x => x }.size }
      val size = canon.collect { case x => x }.size
      Some(s"${occ.size}x duplicated subtree of $size nodes over " +
        s"tables=${scanTables(canon).distinct.mkString(",")} " +
        s"(total dup groups: ${dups.size})")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val (passes, names) = args.toList.tail match {
      case "--passes" :: n :: rest => (n.toInt, rest)
      case rest => (2, rest)
    }
    require(passes >= 1, s"--passes must be at least 1, got $passes")
    val entries = Verify.entries(names)
    val spark = GraftSession.get("graft-probe")
    val counter = new Counter(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    val failed = entries.filterNot { case (name, fn) =>
      (1 to passes).forall { p =>
        try { println(pass(spark, sfDir, name, fn, p, counter).json); true }
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          println(s"""{"entry":${Verify.jsonString(name)},"pass":$p,""" +
            s""""error":${Verify.jsonString(msg)}}""")
          false
        }
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[probe] ${failed.size} entries failed: " +
        failed.map(_._1).mkString(", "))
      sys.exit(1)
    }
  }
}
