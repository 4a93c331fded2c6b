package graft

import org.apache.spark.sql.SparkSession

import graft.ops.Par

/** Dev tool behind the dense-stage width audit (`WidthAuditSpec`):
  * `runMain graft.WidthCounts <sfDir> [narrowDir]` writes a
  * deliberately SINGLE-row-group copy of every table (the narrow-scan
  * shape the r12 fair-10x probe caught serializing dense per-row
  * stages), constructs every registry entry against it with the
  * [[Par]] invocation recorder on, and prints a paste-ready
  * `PlanAudit.widthGuardPins` map of entries whose construction fired
  * the round-robin spread, plus the distinct guarded call sites seen —
  * the numbers the audit spec pins.
  */
object WidthCounts {

  /** Copy each parquet table in `sfDir` to `narrowDir` as ONE file
    * (one row group): the fixture every width-audit construction runs
    * against. Events' ts column round-trips through the adaptive read,
    * so the copy is always plain TIMESTAMP — still handled by
    * `TestTables.events`.
    */
  def writeNarrowFixture(spark: SparkSession, sfDir: String,
                         narrowDir: String): Unit = {
    val tables = new java.io.File(sfDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName)
    tables.foreach { t =>
      val name = t.stripSuffix(".parquet")
      val df = if (name == "events") TestTables.events(spark, sfDir)
               else spark.read.parquet(s"$sfDir/$t")
      df.coalesce(1).write.mode("overwrite").parquet(s"$narrowDir/$t")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val narrowDir = if (args.length > 1) args(1) else "/tmp/graft_narrow"
    val spark = GraftSession.get("graft-width-counts")
    writeNarrowFixture(spark, sfDir, narrowDir)
    val sites = scala.collection.mutable.SortedSet.empty[String]
    val pins = scala.collection.mutable.ListBuffer.empty[(String, Int)]
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      Par.auditStart()
      val recs =
        try {
          SparkEntry.queries(name)(spark, narrowDir).queryExecution.logical
          Par.auditStop()
        } catch { case e: Throwable =>
          Par.auditStop()
          System.err.println(s"[width-counts] $name failed to construct: " +
            e.toString.take(200))
          Nil
        } finally GraftSession.reset(spark)
      val spread = recs.filter(_.spread)
      if (spread.nonEmpty) {
        pins += ((name, spread.size))
        spread.foreach(r => sites += r.site)
      }
    }
    println("// paste into PlanAudit.widthGuardPins")
    pins.toList.sortBy(_._1).grouped(3).foreach { g =>
      println("    " + g.map { case (n, c) => s""""$n" -> $c""" }
        .mkString(", ") + ",")
    }
    println(s"// ${pins.size} entries; ${sites.size} distinct guarded call sites:")
    sites.groupBy(_.takeWhile(_ != ':')).toSeq.sortBy(_._1).foreach {
      case (f, ss) => println(s"//   $f: ${ss.size}  (${ss.mkString(", ")})")
    }
    spark.stop()
  }
}
