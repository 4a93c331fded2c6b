package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The registry entries `names` selects, sorted by name; every entry
    * when `names` is empty. An unknown name fails, listing every unknown
    * name — a typo must not leave an empty parity check.
    */
  def entries(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown registry entries: ${unknown.mkString(", ")}")
    val picked = if (names.isEmpty) all else all.filter { case (n, _) => names.contains(n) }
    picked.toSeq.sortBy(_._1)
  }

  /** JSON string literal of `s`: backslash, quote and ALL control chars
    * (<0x20) escaped — one tab or CR in an oracle SQL string would
    * otherwise make oracle_sql.json unparseable, and the oracle compare
    * would check nothing.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `runMain graft.Verify <sfDir> <outDir> [query…]`: naming entries
    * dumps only those (and only their oracle SQL), so one changed entry
    * can be parity-checked without re-running the whole registry.
    */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val names = args.toSeq.drop(2)
    val picked = entries(names)
    val spark = GraftSession.get("graft-verify")
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // some entries cache scratch frames internally (dedup stores,
      // shingle sets) or leave localCheckpoint blocks (clusters,
      // PageRank); drop them so 300+ queries don't accumulate them in
      // one long-lived session — the output is already written
      GraftSession.reset(spark)
    }
    val json = SparkEntry.oracleSql.filter { case (k, _) => names.isEmpty || names.contains(k) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
