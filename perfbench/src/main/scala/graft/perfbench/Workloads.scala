package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The query workloads as recorded in `perfbench/workloads.json`: which
  * contract queries make up one pass, the tables they read, and the
  * operator family each query's time is booked to in the traced run. Every
  * listed query is checked against its DuckDB oracle (`SparkEntry.oracleSql`)
  * except approximate ones with an `exact_twin`, which are checked by recall
  * against the twin.
  */
final case class QueryOp(query: String, family: String, twin: Option[(String, Double)])
final case class QuerySet(tables: Seq[String], ops: Seq[QueryOp])

object Workloads {
  private lazy val root: JsonNode = new ObjectMapper().readTree(
    java.nio.file.Paths.get(sys.env.getOrElse("PERFBENCH_HOME", "perfbench"), "workloads.json").toFile)

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def querySet(name: String): QuerySet = {
    val w = root.path("workloads").path(name)
    require(w.has("tables") && w.path("ops").elements().asScala.forall(_.has("query")),
      s"no query workload named $name")
    QuerySet(strings(w.path("tables")), w.path("ops").elements().asScala.map { o =>
      QueryOp(o.path("query").asText, o.path("family").asText,
        if (o.has("exact_twin")) Some((o.path("exact_twin").asText, o.path("recall_floor").asDouble))
        else None)
    }.toSeq)
  }

  /** The ingest workload's tables, batches per pass and compaction period. */
  def ingest: (Seq[String], Int, Int) = {
    val w = root.path("workloads").path("ingest")
    (strings(w.path("tables")), w.path("batches").asInt, w.path("compact_every").asInt)
  }

  val families: Seq[String] = Seq("relational", "timeseries", "dedup", "ann", "multimodal")
}
