package graftbench

import graft.SparkEntry
import graft.functions.SessionMemo

/** `olap_mix`: the analyst surface. One op is one read-only gated entry of
  * `SparkEntry.queries` over the generated warehouse, materialized through
  * the noop sink; ops follow the seed's permutation of [[Entries]], and one
  * cycle is one pass over it. Touches no index, streaming or sink code. */
final class OlapMix(ctx: Ctx) extends Workload {
  import OlapMix._

  private val spark = ctx.spark
  private val order = ctx.plan.olapOrder
  require(order.toSet == Entries.keySet, "plan's olap_order must permute the entry set")

  def cycle: Int = order.size
  def warmupOps: Int = order.size

  private def entry(i: Int): String = order(i % order.size)

  /** Session-level state every entry leans on: the memoized intermediates
    * the dedup group shares, rebuilt from an empty memo. */
  def setup(rep: Int, tracer: Tracer): Unit = {
    SessionMemo.clear()
    MemoPrimers.foreach(run)
  }

  private def run(name: String): Unit =
    SparkEntry.queries(name)(spark, ctx.tables).write.format("noop").mode("overwrite").save()

  def op(i: Int, tracer: Tracer): Unit = {
    val name = entry(i)
    tracer.span(Entries(name))(run(name))
  }

  /** Warm-up writes each entry's answer for the oracle comparison run.py
    * makes; measured ops then run the same plans into the noop sink. */
  override def warmup(i: Int, tracer: Tracer): Unit = {
    val name = entry(i)
    SparkEntry.queries(name)(spark, ctx.tables).write.mode("overwrite")
      .parquet(s"${ctx.work}/answers/$name")
  }

  def finalChecks(): Seq[Check] = Nil

  override def extra(): Map[String, Any] = Map(
    "answers_dir" -> s"${ctx.work}/answers",
    "oracle_sql" -> order.map(n => n -> SparkEntry.oracleSql(n)).toMap)
}

object OlapMix {
  /** Entry → the public call that implements it. */
  val Entries: Map[String, String] = Map(
    "q01_pricing_summary" -> "analytics.Relational.pricingSummary",
    "q04_revenue_by_nation" -> "analytics.Relational.revenueByNation",
    "q05_top_orders_per_customer" -> "analytics.Relational.topOrdersPerCustomer",
    "q06_customer_cube" -> "analytics.Relational.customerCube",
    "q13_approx_distinct" -> "analytics.Relational.approxDistinct",
    "q102_mergeable_quantiles" -> "analytics.Relational.mergeableQuantiles",
    "q21_token_stats" -> "analytics.TextStats.tokenStats",
    "q55_tfidf_terms" -> "analytics.TextStats.tfidfTopTerms",
    "q176_bm25_topk" -> "analytics.TextStats.bm25TopK",
    "q28_cosine_topk" -> "analytics.Similarity.bruteForceTopK",
    "q152_kmv_overlap" -> "analytics.Accuracy.kmvOverlap",
    "q37_dedup_corpus" -> "analytics.Dedup.dedupCorpus",
    "q71_dedup_keep_best" -> "analytics.Dedup.dedupKeepBest",
    "q72_dedup_stats" -> "analytics.Dedup.dedupStats",
    "q142_dedup_pipeline" -> "analytics.Dedup.dedupPipelineSummary")

  /** The entry whose first run fills the `SessionMemo` intermediates the
    * dedup group shares. */
  val MemoPrimers: Seq[String] = Seq("q37_dedup_corpus")
}
