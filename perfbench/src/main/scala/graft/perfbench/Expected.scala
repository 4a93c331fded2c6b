package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Output digests recorded for the generated corpus at one scale factor
  * (`expected.json`: scale factor -> key -> digest). `matches` compares an
  * actual digest with the recorded one. Without recorded digests (a corpus
  * given with `--sf-dir`, or `--record`) every digest matches, and only the
  * structural checks of each workload apply. Every digest seen is kept, so
  * `--record` can write a fresh table.
  */
final class Expected(values: Option[Map[String, String]]) {
  val seen = mutable.LinkedHashMap[String, String]()

  def matches(key: String, actual: String): Boolean = {
    seen(key) = actual
    values.forall(_.get(key).contains(actual))
  }
}

object Expected {
  def load(file: String, sf: String): Expected = {
    val node = new ObjectMapper().readTree(new java.io.File(file)).get(sf)
    require(node != null, s"no recorded digests for scale factor $sf in $file")
    new Expected(Some(node.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap))
  }
}
