package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** `workloads.json`: each workload's fixed op lists. */
object Spec {
  final case class Workload(queries: Seq[String], ingests: Seq[String], streams: Seq[String])

  def load(path: String): Map[String, Workload] = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    def strings(n: JsonNode, key: String): Seq[String] =
      Option(n.get(key)).getOrElse(sys.error(s"$path: no \"$key\" list"))
        .elements.asScala.map(_.asText).toSeq
    root.fields.asScala.map { e =>
      val n = e.getValue
      e.getKey -> Workload(strings(n, "queries"), strings(n, "ingests"), strings(n, "streams"))
    }.toMap
  }

  /** Expected fingerprints: a flat JSON object, op name to fingerprint. */
  def loadExpected(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else new ObjectMapper().readTree(f).fields.asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
  }
}
