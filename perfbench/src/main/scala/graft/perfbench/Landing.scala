package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.TestTables

/** Lands the pipeline's CSV inputs: the `TestTables` adapter of a corpus
  * written as `StreamFiles` stream CSVs plus songs/users CSVs in the
  * column order of `graft.model.Schemas`.
  *
  * The seed picks which file each stream row lands in and which files
  * receive the `CorruptRows` injected rows (each has an unparseable
  * `listen_time`, so validation quarantines it). Rows are only moved
  * between files, never changed or dropped, so every seed stages the same
  * history and the KPI outputs do not depend on the seed.
  */
object Landing {

  val StreamFiles = 8
  val CorruptRows = 48

  final case class Inputs(streamFiles: IndexedSeq[String], songsCsv: String, usersCsv: String,
                          cleanRows: IndexedSeq[Long], corruptRows: IndexedSeq[Int]) {
    /** Bytes of every landed CSV. */
    def bytes: Long = (streamFiles ++ Seq(songsCsv, usersCsv)).map(f => Files.size(Paths.get(f))).sum
  }

  private def fileOf(seed: Long): org.apache.spark.sql.Column =
    pmod(xxhash64(col("user_id"), col("track_id"), col("listen_time").cast("long"), lit(seed)),
      lit(StreamFiles.toLong)).cast("int")

  /** Which file each injected corrupt row lands in. */
  def corruptFile(seed: Long, k: Int): Int =
    Math.floorMod(new scala.util.Random(seed * 7919L + k).nextInt(), StreamFiles)

  def land(spark: SparkSession, corpusDir: String, dir: String, seed: Long): Inputs = {
    import spark.implicits._
    val streams = TestTables.streams(spark, corpusDir).withColumn("file", fileOf(seed))
    val corrupt = (0 until CorruptRows).map(k =>
      (s"u$k", s"t$k", s"corrupt-ts-$k", corruptFile(seed, k))).toDF("user_id", "track_id", "listen_time", "file")
    val lines = streams
      .select(col("user_id"), col("track_id"),
        date_format(col("listen_time"), "yyyy-MM-dd HH:mm:ss").as("listen_time"), col("file"))
      .unionByName(corrupt)
    val tmp = s"$dir/_streams"
    lines.repartition(StreamFiles, col("file"))
      .sortWithinPartitions("file", "user_id", "track_id", "listen_time") // same seed, same bytes
      .write.partitionBy("file")
      .option("header", "true").csv(tmp)
    val files = (0 until StreamFiles).map { i =>
      moveSingle(Paths.get(s"$tmp/file=$i"), Paths.get(s"$dir/streams_$i.csv"))
    }
    deleteTree(Paths.get(tmp))
    val counts = streams.groupBy("file").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val songs = writeSingle(songsFrame(spark, corpusDir), s"$dir/songs.csv")
    val users = writeSingle(usersFrame(spark, corpusDir), s"$dir/users.csv")
    Inputs(files, songs, users,
      (0 until StreamFiles).map(i => counts.getOrElse(i, 0L)),
      (0 until StreamFiles).map(i => (0 until CorruptRows).count(k => corruptFile(seed, k) == i)))
  }

  /** Songs dim in `Schemas.songs` column order: the adapter's columns plus
    * audio features derived from the track id.
    */
  private def songsFrame(spark: SparkSession, corpusDir: String): DataFrame = {
    val k = col("track_id").cast("long")
    def frac(salt: Int) = round(pmod(xxhash64(k, lit(salt)), lit(1000L)) / 1000.0, 3)
    TestTables.songs(spark, corpusDir).select(
      k.cast("int").as("id"), col("track_id"), col("artists"),
      concat(lit("album_"), pmod(k, lit(500L)).cast("string")).as("album_name"),
      col("track_name"), pmod(k, lit(101L)).cast("int").as("popularity"),
      col("duration_ms"), (pmod(k, lit(9L)) === 0).as("explicit"),
      frac(1).as("danceability"), frac(2).as("energy"),
      pmod(k, lit(12L)).cast("int").as("key"), round(frac(3) * -30.0, 3).as("loudness"),
      pmod(k, lit(2L)).cast("int").as("mode"), frac(4).as("speechiness"),
      frac(5).as("acousticness"), frac(6).as("instrumentalness"), frac(7).as("liveness"),
      frac(8).as("valence"), round(frac(9) * 120.0 + 60.0, 3).as("tempo"),
      (pmod(k, lit(3L)) + 3).cast("int").as("time_signature"), col("track_genre"))
      .orderBy("id")
  }

  private def usersFrame(spark: SparkSession, corpusDir: String): DataFrame = {
    val k = col("user_id").cast("long")
    TestTables.users(spark, corpusDir).select(
      col("user_id"), col("user_name"), (pmod(k, lit(60L)) + 18).cast("int").as("user_age"),
      col("user_country"),
      date_add(lit("2015-01-01").cast("date"), pmod(k, lit(3000L)).cast("int")).as("created_at"))
      .orderBy(k)
  }

  private def writeSingle(df: DataFrame, file: String): String = {
    val tmp = s"${file}_tmp"
    df.coalesce(1).write.option("header", "true").option("dateFormat", "yyyy-MM-dd").csv(tmp)
    val out = moveSingle(Paths.get(tmp), Paths.get(file))
    deleteTree(Paths.get(tmp))
    out
  }

  /** Move the one CSV part file Spark wrote under `partDir` to `target`. */
  private def moveSingle(partDir: Path, target: Path): String = {
    val parts = Files.list(partDir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toList
    require(parts.size == 1, s"expected one part file under $partDir, found ${parts.size}")
    Files.move(parts.head, target, StandardCopyOption.REPLACE_EXISTING)
    target.toString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toList.reverse
      all.foreach(Files.delete)
    }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.toList.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
