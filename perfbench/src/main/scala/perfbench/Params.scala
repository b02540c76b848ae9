package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** The fixed workload parameters of `workloads.json`: every entry is
  * `{"value": ..., "why": "..."}`, so each number carries its reason.
  */
final class Params(root: JsonNode, workload: String) {
  private def node(section: String, key: String): JsonNode = {
    val n = root.path(section).path(key).path("value")
    require(!n.isMissingNode, s"workloads.json lacks $section.$key")
    n
  }
  private def find(key: String): JsonNode =
    if (root.path(workload).has(key)) node(workload, key)
    else node("common", key)

  def int(key: String): Int = find(key).asInt()
  def long(key: String): Long = find(key).asLong()
  def double(key: String): Double = find(key).asDouble()
  def str(key: String): String = find(key).asText()
  def strs(key: String): Seq[String] =
    find(key).elements().asScala.map(_.asText()).toSeq

  /** The workload's section plus the common one, values only, for the
    * run artifact.
    */
  def values: Map[String, Any] =
    Seq("common", workload).flatMap { s =>
      root.path(s).fields().asScala.map { e =>
        e.getKey -> Json.mapper.treeToValue(e.getValue.path("value"),
          classOf[Object])
      }
    }.toMap
}

object Params {
  def load(file: File, workload: String): Params = {
    val root = Json.read(file)
    require(root.has(workload), s"unknown workload '$workload' " +
      s"(known: ${root.fieldNames().asScala.filter(_ != "common").mkString(", ")})")
    new Params(root, workload)
  }

  /** "5 seconds" / "1 second" / "500 milliseconds" → ms. */
  def intervalMs(s: String): Long = {
    val Array(n, unit) = s.trim.split("\\s+")
    val k = unit.stripSuffix("s") match {
      case "millisecond" => 1L
      case "second" => 1000L
      case "minute" => 60000L
      case other => throw new IllegalArgumentException(s"unit '$other'")
    }
    n.toLong * k
  }
}
