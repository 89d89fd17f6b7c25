package graftbench

import java.io.File
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One ingest_upkeep round's requests besides its micro-batch. */
final case class Round(forgetDocs: Seq[Long], forgetVecs: Seq[Long], listingRows: Long)

/** The generator's `plan.json`: every seeded choice a run makes that is not
  * already in the generated tables and micro-batches. */
final case class Plan(seed: Long, olapOrder: Seq[String], initialDocIds: Seq[Long],
    dedupProbes: Seq[Long], annProbes: Seq[Long], rounds: Seq[Round])

object Plan {
  private def longs(n: JsonNode): Seq[Long] = n.elements().asScala.map(_.asLong).toSeq

  def load(path: String): Plan = {
    val j = new ObjectMapper().readTree(new File(path))
    Plan(
      seed = j.get("seed").asLong,
      olapOrder = j.get("olap_order").elements().asScala.map(_.asText).toSeq,
      initialDocIds = longs(j.get("initial_doc_ids")),
      dedupProbes = longs(j.get("dedup_probes")),
      annProbes = longs(j.get("ann_probes")),
      rounds = j.get("rounds").elements().asScala.map(r => Round(
        longs(r.get("forget_docs")), longs(r.get("forget_vecs")),
        r.get("listing_rows").asLong)).toSeq)
  }
}
