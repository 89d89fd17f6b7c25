package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.Pipeline
import graft.analytics.{AnnGraphIndex, AnnIndex, DedupIndex, LexIndex, TextStats}
import graft.streaming.{AnnGraphIndexStream, AnnIndexStream, DedupIndexStream,
  LexIndexStream, ShardManifestStream}
import graft.streaming.AnnIndexStream.VecArrival
import graft.streaming.DedupIndexStream.DocArrival

/** `ingest_upkeep`: the reference consumer's standing loop with the index
  * lifecycle riding on it. One op is one round:
  *
  *  - the round's micro-batch of 100 documents (planted near-duplicates,
  *    re-crawled versions, fresh documents) goes through Structured
  *    Streaming (`MemoryStream` + `foreachBatch`): the re-crawled and
  *    forgotten ids are deleted from the dedup and lex indexes, then the
  *    batch runs dedup → lex → shard manifest, then the dedup index gets
  *    its threshold compaction;
  *  - the round's 20 vectors go through a second stream the same way:
  *    deletes on the IVF and graph indexes, IVF then graph extends, and
  *    the IVF threshold compaction;
  *  - every second round (the cycle) also runs the full maintenance pass:
  *    compaction of the lex and graph indexes, and a rebuild of the IVF
  *    index into staging swapped in over the live one;
  *  - the round's 100 wire-schema listing lines go through `Pipeline.run`
  *    on the client thread while the two streams process their batches.
  *
  * After each op the serve reads probe all four indexes with a fixed probe
  * set plus the round's deleted and re-crawled items, so they read through
  * the merge-on-read tombstones. Versions and fresh arrivals replace every
  * deleted id, so the corpus size is stationary.
  *
  * Each stream's legs run in the micro-batch's own session, as the
  * streams' `run` wiring does, and that family's serve reads use the same
  * session: the stream's session is a clone with its own table-relation
  * cache, which another session's writes do not refresh. */
final class IngestUpkeep(ctx: Ctx) extends Workload {
  import IngestUpkeep._

  private val spark = ctx.spark
  import spark.implicits._
  private val plan = ctx.plan

  /** Odd rounds also run the full maintenance pass. */
  def cycle: Int = 2
  override def minCycles: Int = 1
  /** One plain round; the measured cycle then opens with a maintenance
    * round, whose builders the set-ups have already run. */
  def warmupOps: Int = 1

  private def maintains(round: Long): Boolean = round % cycle == cycle - 1

  private case class Arrival(id: Long, text: String, kind: String, of: Long)
  private val batchDocs: Map[Int, Seq[Arrival]] =
    spark.read.parquet(s"${ctx.inputs}/stream_docs.parquet").collect().toSeq
      .map(r => r.getInt(0) -> Arrival(r.getLong(1), r.getString(2), r.getString(3), r.getLong(4)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  private val batchVecs: Map[Int, Seq[(Long, Seq[Double], Long)]] =
    spark.read.parquet(s"${ctx.inputs}/stream_vecs.parquet").collect().toSeq
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getSeq[Double](2), r.getLong(3))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  private val baseDocs: Map[Long, String] =
    spark.read.parquet(s"${ctx.tables}/documents.parquet").select("doc_id", "text")
      .as[(Long, String)].collect().toMap
  private val initialDocs: Seq[(Long, String)] = plan.initialDocIds.map(i => i -> baseDocs(i))
  private val baseVecs: Seq[(Long, Seq[Double])] =
    spark.read.parquet(s"${ctx.tables}/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq.sortBy(_._1)
  private val fixedDocProbes: Seq[String] = plan.dedupProbes.map(baseDocs(_) + " probe")
  private val fixedVecProbes: Seq[Seq[Double]] = {
    val m = baseVecs.toMap
    plan.annProbes.map(m)
  }

  // the benchmark's own model of the live corpus, and every id ever deleted
  private val liveDocs = mutable.Map.empty[Long, String]
  private val liveVecs = mutable.Map.empty[Long, Seq[Double]]
  private val deletedDocs = mutable.Set.empty[Long]
  private val deletedVecs = mutable.Set.empty[Long]
  private val listingRows = mutable.Map.empty[Int, Long]

  private var rep = -1
  private def dd = s"iu${rep}_dd"
  private def lx = s"iu${rep}_lx"
  private def an = s"iu${rep}_an"
  private def gx = s"iu${rep}_gx"
  private def dir = s"${ctx.work}/loop/r$rep"
  private def survivorsDir = s"$dir/survivors"
  private def manifestDir = s"$dir/manifest"

  @volatile private var tracer: Tracer = _
  @volatile private var docSession: SparkSession = _
  @volatile private var vecSession: SparkSession = _
  private var docIn: MemoryStream[DocArrival] = _
  private var vecIn: MemoryStream[VecArrival] = _
  private var queries: Seq[StreamingQuery] = Nil

  def setup(rep: Int, tr: Tracer): Unit = {
    queries.foreach(_.stop())
    this.rep = rep
    tracer = tr
    liveDocs.clear(); liveDocs ++= initialDocs
    liveVecs.clear(); liveVecs ++= baseVecs
    deletedDocs.clear(); deletedVecs.clear()
    val docs = initialDocs.toDF("doc_id", "text")
    val vecs = baseVecs.toDF("vec_id", "v")
    // the four families and the manifest write disjoint tables: built on
    // driver threads, as the engine's own multi-index builds are
    // the graph is built without NN-descent refinement rounds, as the
    // engine's own forget-audit gate (q216) builds it
    graft.functions.Par.inParallel(Seq(
      () => DedupIndex.build(docs, dd),
      () => LexIndex.build(docs, lx),
      () => AnnIndex.build(vecs, an),
      () => AnnGraphIndex.build(vecs, gx, k = 8, rounds = 0),
      () => ShardManifestStream.mergeBatch(
          ShardManifestStream.latestManifest(spark, manifestDir, 0), docs, Shards)
        .coalesce(1).write.mode("overwrite").parquet(s"$manifestDir/v=0")))
    implicit val sqlCtx = spark.sqlContext
    docIn = MemoryStream[DocArrival]
    vecIn = MemoryStream[VecArrival]
    queries = Seq(
      docIn.toDS().writeStream.queryName(s"docs$rep")
        .option("checkpointLocation", s"$dir/ckpt/docs")
        .foreachBatch((b: Dataset[DocArrival], id: Long) => docBatch(b.toDF(), id)).start(),
      vecIn.toDS().writeStream.queryName(s"vecs$rep")
        .option("checkpointLocation", s"$dir/ckpt/vecs")
        .foreachBatch((b: Dataset[VecArrival], id: Long) => vecBatch(b.toDF(), id)).start())
  }

  private def ids(s: SparkSession, col: String, xs: Seq[Long]): DataFrame = {
    import s.implicits._
    xs.toDF(col)
  }

  private def docBatch(batch: DataFrame, id: Long): Unit = {
    val s = batch.sparkSession
    docSession = s
    val i = id.toInt
    val gone = ids(s, "doc_id", batchDocs(i).filter(_.kind == "version").map(_.of) ++
      plan.rounds(i).forgetDocs)
    val tr = tracer
    tr.span("analytics.DedupIndex.delete")(DedupIndex.delete(gone, dd))
    tr.span("analytics.LexIndex.delete")(LexIndex.delete(gone, lx))
    tr.span("streaming.DedupIndexStream.processBatch")(
      DedupIndexStream.processBatch(s, dd, batch, id, survivorsDir))
    val survivors = s.read.parquet(s"$survivorsDir/b=$id")
    tr.span("streaming.LexIndexStream.processBatch")(
      LexIndexStream.processBatch(s, lx, survivors, id, s"$dir/lex"))
    tr.span("streaming.ShardManifestStream.mergeBatch")(
      ShardManifestStream.mergeBatch(
          ShardManifestStream.latestManifest(s, manifestDir, id + 1), survivors, Shards)
        .coalesce(1).write.mode("overwrite").parquet(s"$manifestDir/v=${id + 1}"))
    tr.span("analytics.DedupIndex.compactOverThreshold")(
      DedupIndex.compactOverThreshold(s, dd, FileThreshold))
    if (maintains(id)) tr.span("analytics.LexIndex.compact")(LexIndex.compact(s, lx))
  }

  private def vecBatch(batch: DataFrame, id: Long): Unit = {
    val s = batch.sparkSession
    vecSession = s
    val i = id.toInt
    val gone = ids(s, "vec_id", batchVecs(i).filter(_._3 >= 0).map(_._3) ++
      plan.rounds(i).forgetVecs)
    val tr = tracer
    tr.span("analytics.AnnIndex.delete")(AnnIndex.delete(gone, an))
    tr.span("analytics.AnnGraphIndex.delete")(AnnGraphIndex.delete(gone, gx))
    tr.span("streaming.AnnIndexStream.processBatch")(
      AnnIndexStream.processBatch(s, an, batch, id, s"$dir/ann_markers"))
    tr.span("streaming.AnnGraphIndexStream.processBatch")(
      AnnGraphIndexStream.processBatch(s, gx, batch, id, s"$dir/graph_markers"))
    tr.span("analytics.AnnIndex.compactOverThreshold")(
      AnnIndex.compactOverThreshold(s, an, FileThreshold))
    if (maintains(id)) {
      tr.span("analytics.AnnGraphIndex.compact")(AnnGraphIndex.compact(s, gx))
      // rebuild over the live vector corpus after this round, then swap
      val goneIds = batchVecs(i).filter(_._3 >= 0).map(_._3).toSet ++ plan.rounds(i).forgetVecs
      val next = (liveVecs -- goneIds).toSeq ++ batchVecs(i).map(v => v._1 -> v._2)
      val stg = s"${an}_stg"
      tr.span("analytics.AnnIndex.build")(AnnIndex.build({
        import s.implicits._; next.sortBy(_._1).toDF("vec_id", "v") }, stg))
      tr.span("analytics.AnnIndex.swapIn")(AnnIndex.swapIn(s, stg, an))
    }
  }

  // the round's probes, for the serve reads and their checks
  private var docProbes: Seq[String] = Nil
  private var vecProbes: Seq[Seq[Double]] = Nil
  private var versionDocs: Seq[Long] = Nil
  private var versionVecs: Seq[Long] = Nil
  private var markers: Seq[(Int, String)] = Nil
  private var plantIds: Set[Long] = Set.empty

  def op(i: Int, tr: Tracer): Unit = {
    tracer = tr
    val docs = batchDocs(i)
    val vecs = batchVecs(i)
    // the two standing queries take their micro-batches while the client
    // runs the listing pipeline; the op ends when all three are done
    docIn.addData(docs.map(d => DocArrival(d.id, d.text)))
    vecIn.addData(vecs.map(v => VecArrival(v._1, v._2)))
    listingRows(i) = tr.span("ingest.Pipeline.run")(Pipeline.run(spark,
      f"${ctx.inputs}/listings/r=$i%05d.jsonl", s"$dir/listings",
      java.time.LocalDate.of(2025, 1, 1).plusDays(i).toString))
    queries.foreach(_.processAllAvailable())
    // the model follows the same requests
    val r = plan.rounds(i)
    val versions = docs.filter(_.kind == "version")
    val goneDocs = versions.map(_.of) ++ r.forgetDocs
    val goneVecs = vecs.filter(_._3 >= 0).map(_._3) ++ r.forgetVecs
    docProbes = goneDocs.map(liveDocs) ++ versions.map(_.text)
    vecProbes = goneVecs.map(liveVecs) ++ vecs.filter(_._3 >= 0).map(_._2)
    versionDocs = versions.map(_.id)
    versionVecs = vecs.filter(_._3 >= 0).map(_._1)
    markers = versions.zipWithIndex.map { case (v, k) => (MarkerQueryBase + k, s"rev${i}d${v.of}") }
    plantIds = docs.filter(_.kind == "plant").map(_.id).toSet
    liveDocs --= goneDocs; liveDocs ++= docs.filter(_.kind != "plant").map(d => d.id -> d.text)
    liveVecs --= goneVecs; liveVecs ++= vecs.map(v => v._1 -> v._2)
    deletedDocs ++= goneDocs; deletedVecs ++= goneVecs
  }

  private def docProbeFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    (fixedDocProbes ++ docProbes).zipWithIndex.map { case (t, k) => (ProbeIdBase + k, t) }
      .toDF("doc_id", "text")
  }
  private def vecProbeFrame(s: SparkSession): DataFrame = {
    import s.implicits._
    (fixedVecProbes ++ vecProbes).zipWithIndex.map { case (v, k) => (ProbeIdBase + k, v) }
      .toDF("query_id", "qv")
  }

  override def serves(i: Int): Seq[(String, () => Any)] = Seq(
    "analytics.LexIndex.bm25Against" -> (() =>
      LexIndex.bm25Against(docSession, lx, TextStats.RetrievalQueries ++ markers, 10).collect()),
    "analytics.DedupIndex.nearDupsAgainst" -> (() =>
      DedupIndex.nearDupsAgainst(docSession, dd, docProbeFrame(docSession)).collect()),
    "analytics.AnnIndex.topKAgainst" -> (() =>
      AnnIndex.topKAgainst(vecSession, an, vecProbeFrame(vecSession), 5, 4).collect()),
    "analytics.AnnGraphIndex.topKAgainst" -> (() =>
      AnnGraphIndex.topKAgainst(vecSession, gx, vecProbeFrame(vecSession), 5).collect()))

  /** No serve returns a deleted id (the q216 property); every re-crawl's new
    * version is what the serves find for its new text and vector; the
    * round's listings all landed; the planted near-duplicates were dropped. */
  override def checkOp(i: Int, served: Seq[Any]): Seq[Check] = {
    val listed = Check(s"listings@$i", listingRows.get(i).contains(plan.rounds(i).listingRows),
      s"raw zone rows ${listingRows.get(i)} vs ${plan.rounds(i).listingRows} well-formed lines")
    val survivors = docSession.read.parquet(s"$survivorsDir/b=$i").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val plants = Check(s"planted_near_dups_dropped@$i", (survivors & plantIds).isEmpty,
      s"${(survivors & plantIds).size} planted near-duplicates survived")
    if (served.contains(null)) return Seq(listed, plants) // the failed serve is counted
    val Seq(bm25, dups, ivf, graph) = served.map(_.asInstanceOf[Array[Row]].toSeq)
    val firstVersionDoc = ProbeIdBase + fixedDocProbes.size + (docProbes.size - versionDocs.size)
    val firstVersionVec = ProbeIdBase + fixedVecProbes.size + (vecProbes.size - versionVecs.size)
    val docHits = dups.map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("corpus_id"))).toSet
    val ivfTop = ivf.filter(_.getAs[Int]("rn") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val markerTop = bm25.filter(r => r.getAs[Int]("query_id") >= MarkerQueryBase &&
      r.getAs[Int]("rn") == 1).map(r => r.getAs[Int]("query_id") -> r.getAs[Long]("doc_id")).toMap
    val servedDocs = bm25.map(_.getAs[Long]("doc_id")) ++ dups.map(_.getAs[Long]("corpus_id"))
    val servedVecs = (ivf ++ graph).map(_.getAs[Long]("neighbor_id"))
    Seq(listed, plants,
      Check(s"forgotten_never_served@$i",
        !servedDocs.exists(deletedDocs) && !servedVecs.exists(deletedVecs),
        "a serve returned a deleted id"),
      Check(s"bm25_finds_versions@$i", versionDocs.indices.forall(k =>
        markerTop.get(MarkerQueryBase + k).contains(versionDocs(k))),
        s"marker top-1 $markerTop vs $versionDocs"),
      Check(s"dedup_finds_versions@$i", versionDocs.indices.forall(k =>
        docHits((firstVersionDoc + k, versionDocs(k)))),
        "a re-crawled text did not match its new version"),
      Check(s"ivf_finds_versions@$i", versionVecs.indices.forall(k =>
        ivfTop.get(firstVersionVec + k).contains(versionVecs(k))),
        "a re-crawled vector was not its own top-1"))
  }

  private def rowSet(df: DataFrame): Set[Row] = df.collect().toSet

  /** The lex index's BM25 answers equal a from-scratch BM25 over the live
    * corpus, and the streamed manifest equals a from-scratch manifest over
    * everything committed. */
  def finalChecks(): Seq[Check] = {
    val s = docSession
    import s.implicits._
    val qterms = TextStats.RetrievalQueries
      .flatMap { case (q, t) => t.split(" ").map(w => (q, w)) }.toDF("query_id", "term")
    val bm25 = rowSet(LexIndex.bm25Against(s, lx, TextStats.RetrievalQueries, 10))
    val bm25Want = rowSet(TextStats.bm25On(liveDocs.toSeq.toDF("doc_id", "text"), qterms, 10))
    val everCommitted = initialDocs.toDF("doc_id", "text")
      .unionByName(s.read.parquet(survivorsDir).select("doc_id", "text"))
    val manifest = rowSet(ShardManifestStream.latestManifest(s, manifestDir, Long.MaxValue))
    val manifestWant = rowSet(ShardManifestStream.mergeBatch(
      ShardManifestStream.latestManifest(s, s"$dir/no_manifest", 0), everCommitted, Shards))
    queries.foreach(_.stop())
    Seq(
      Check("bm25_index_equals_recompute", bm25 == bm25Want,
        s"${bm25.size} rows vs ${bm25Want.size}"),
      Check("manifest_equals_recompute", manifest == manifestWant,
        s"${manifest.size} shards vs ${manifestWant.size}"))
  }

  override def recordState(i: Int, tr: Tracer): Unit = {
    tr.recordState(docSession, i, "dedup", dd)
    tr.recordState(docSession, i, "lex", lx)
    tr.recordState(vecSession, i, "ann", an)
    tr.recordState(vecSession, i, "graph", gx)
  }
}

object IngestUpkeep {
  val Shards = 16
  val FileThreshold = 4
  val ProbeIdBase = 900000000L
  val MarkerQueryBase = 100
}
