package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.BeforeAndAfterAll

import graft.ops.Bucketing

/** [[Probe]] on sf0.001: the per-pass record, the duplicated-subtree walk
  * of the physical plan, and the entry selection it shares with
  * [[Verify]].
  */
class ProbeSpec extends SparkSpec with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"

  // flagged: the digit counts feed both the per-digit rows and the total
  // they are divided by, so the lineitem scan and its aggregate run twice;
  // the trimmed mean is one chain from its scan to its result
  private val flagged = "q_benford"
  private val clean = "q_trimmed_mean"

  private lazy val counter = {
    val c = new Probe.Counter(spark.sparkContext)
    spark.sparkContext.addSparkListener(c)
    c
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(counter)
    super.afterAll()
  }

  private def probe(name: String): Probe.Pass =
    Probe.pass(spark, sfDir, name, SparkEntry.queries(name), 1, counter)

  test("a pass times planning and execution apart and counts the Spark work") {
    val p = probe(flagged)
    p.planS should be > 0.0
    p.execS should be > 0.0
    p.work.jobs should be >= 1L
    p.work.stages should be >= 1L
    p.work.tasks should be >= p.work.stages
  }

  test("exchanges equal Bucketing.shuffleCount on a fresh frame of the entry") {
    for (name <- Seq(flagged, clean)) {
      val p = probe(name)
      GraftSession.reset(spark)
      p.exchanges shouldBe Bucketing.shuffleCount(SparkEntry.queries(name)(spark, sfDir))
    }
  }

  test("dup reports a subtree the plan evaluates twice, and is empty otherwise") {
    probe(flagged).dup.getOrElse(fail(s"$flagged not flagged")) should
      include("tables=")
    probe(clean).dup shouldBe None
  }

  test("a pass starts from a reset session: localCheckpoint blocks are released") {
    val sc = spark.sparkContext
    val rdd = sc.parallelize(1 to 10).localCheckpoint()
    rdd.count()
    sc.getPersistentRDDs.keySet should contain(rdd.id)
    probe(clean)
    sc.getPersistentRDDs.keySet should not contain rdd.id
  }

  test("the JSON line parses and carries every field") {
    val p = probe(flagged)
    val node = new ObjectMapper().readTree(p.json)
    Seq("entry", "pass", "plan_s", "exec_s", "exchanges", "jobs", "stages",
      "tasks", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
      "dup").foreach(f => withClue(f)(node.has(f) shouldBe true))
    node.get("entry").asText shouldBe flagged
    node.get("exchanges").asInt shouldBe p.exchanges
    node.get("dup").asText shouldBe p.dup.get
    new ObjectMapper().readTree(probe(clean).json).get("dup").isNull shouldBe true
  }

  test("entry selection: all sorted by default, unknown names fail and are listed") {
    Verify.entries(Nil).map(_._1) shouldBe SparkEntry.queries.keys.toSeq.sorted
    Verify.entries(Seq(clean, flagged)).map(_._1) shouldBe Seq(flagged, clean)
    val e = intercept[IllegalArgumentException] {
      Verify.entries(Seq(clean, "q_nope", "q_nada"))
    }
    e.getMessage should include("q_nope, q_nada")
  }
}
