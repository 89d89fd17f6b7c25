package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.BenchBus
import org.apache.spark.sql.BenchSql
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the engine, with Spark's own
  * counts attributed to them.
  *
  * A span tags its thread with `sc.setLocalProperty`; jobs inherit the tag
  * (threads that `graft.functions.Par` fans out inherit it too, because
  * local properties are inheritable), and tasks are attributed through the
  * stage → span map taken at job start. Everything is kept in memory and
  * exported once, when the run ends. With `on = false` no listener is
  * registered and [[span]] is the body itself. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nextSpan = new AtomicLong(0)
  @volatile private var curOp = -1
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageTag = new ConcurrentHashMap[Int, (Long, Int)]()
  private val execTag = new ConcurrentHashMap[Long, (Long, Int)]()
  private val rawScans = new ConcurrentLinkedQueue[(Long, String, Long)]()
  private val scans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val state = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def tagOf(p: java.util.Properties): (Long, Int) = {
    def get(k: String, d: Long) =
      Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(d)
    (get(SpanKey, -1L), get(OpKey, -1L).toInt)
  }

  private object jobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (span, op) = tagOf(e.properties)
      e.stageIds.foreach(s => stageTag.put(s, (span, op)))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => if (span >= 0) execTag.putIfAbsent(x.toLong, (span, op)))
      jobs.add(Map("span" -> span, "op" -> op))
    }
    /** The end of a SQL execution carries its executed plan, whose scan
      * nodes hold the files-read metric. A `QueryExecutionListener` sees the
      * same plans but only for the session it is registered on, and each
      * streaming query runs in a clone of the session. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        BenchSql.queryOf(end).toSeq.flatMap(q => fileScans(q.executedPlan)).foreach { s =>
          val table = s.tableIdentifier.map(_.table).getOrElse("")
          val files = s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          rawScans.add((end.executionId, table, files))
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val (span, op) = Option(stageTag.get(e.stageId)).getOrElse((-1L, -1))
      val m = Option(e.taskMetrics)
      val shuffle = m.map(x => x.shuffleReadMetrics.totalBytesRead +
        x.shuffleWriteMetrics.bytesWritten).getOrElse(0L)
      val spill = m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L)
      tasks.add(Map("span" -> span, "op" -> op,
        "launch_ms" -> e.taskInfo.launchTime, "finish_ms" -> e.taskInfo.finishTime,
        "cpu_ns" -> m.map(_.executorCpuTime).getOrElse(0L),
        "shuffle_bytes" -> shuffle, "spill_bytes" -> spill))
    }
  }

  private object streamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0)
        progress.add(Map("query" -> Option(p.name).getOrElse(""), "batch" -> p.batchId,
          "durations_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  if (on) {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Ops tag the jobs of their thread; spans opened on other threads (the
    * streaming query's) pick the current op up from here. */
  def beginOp(i: Int): Unit = if (on) {
    curOp = i
    sc.setLocalProperty(OpKey, i.toString)
  }

  def endOp(): Unit = if (on) sc.setLocalProperty(OpKey, null)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextSpan.getAndIncrement()
      val prevSpan = sc.getLocalProperty(SpanKey)
      val prevOp = sc.getLocalProperty(OpKey)
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(OpKey, curOp.toString)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e9
        spans.add(Map("id" -> id, "name" -> name, "op" -> curOp,
          "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis(), "wall_s" -> wall))
        sc.setLocalProperty(SpanKey, prevSpan)
        sc.setLocalProperty(OpKey, prevOp)
      }
    }

  /** Delivers pending listener events and resolves the scans they reported
    * to spans, with the scanned table's current file count. Call outside
    * timed regions. */
  def settle(): Unit = if (on) {
    BenchBus.drain(sc)
    var r = rawScans.poll()
    while (r != null) {
      val (execId, table, files) = r
      Option(execTag.get(execId)).foreach { case (span, op) =>
        scans.add(Map("span" -> span, "op" -> op, "table" -> table,
          "files_read" -> files, "table_files" -> tableFiles(spark, table)._1))
      }
      r = rawScans.poll()
    }
  }

  /** Layout state of one index after op `i`: files and MB across its
    * tables, and the tombstones pending in its merge-on-read log. */
  def recordState(s: SparkSession, i: Int, family: String, name: String): Unit = if (on) {
    val tables = s.catalog.listTables().collect().map(_.name)
      .filter(t => t.startsWith(name + "_") && t != graft.sink.Tombstones.tableOf(name))
    val (files, bytes) = tables.map(tableFiles(s, _)).foldLeft((0L, 0L)) {
      case ((f, b), (f2, b2)) => (f + f2, b + b2) }
    val pending = graft.sink.Tombstones.of(s, name).map(_.count()).getOrElse(0L)
    state.add(Map("op" -> i, "index" -> family, "files" -> files,
      "mb" -> bytes / 1e6, "tombstones" -> pending))
  }

  def export(): Map[String, Any] = {
    settle()
    Map("spans" -> spans.asScala.toSeq,
      "jobs" -> jobs.asScala.toSeq, "tasks" -> tasks.asScala.toSeq,
      "scans" -> scans.asScala.toSeq, "progress" -> progress.asScala.toSeq,
      "state" -> state.asScala.toSeq, "cores" -> sc.defaultParallelism)
  }
}

object Tracer {
  val SpanKey = "graftbench.span"
  val OpKey = "graftbench.op"

  /** File-source scans of an executed plan, through adaptive wrappers,
    * query stages, reused exchanges and subqueries. */
  def fileScans(plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case r: ReusedExchangeExec => fileScans(r.child)
    case p => (p.children ++ p.subqueries).flatMap(fileScans)
  }

  /** (data files, bytes) under a catalog table's location. */
  def tableFiles(spark: SparkSession, table: String): (Long, Long) =
    if (table.isEmpty) (0L, 0L)
    else try {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
      val loc = new Path(spark.sessionState.catalog.getTableMetadata(id).location)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(loc, true)
      var (n, b) = (0L, 0L)
      while (it.hasNext) {
        val f = it.next()
        val nm = f.getPath.getName
        if (!nm.startsWith("_") && !nm.startsWith(".")) { n += 1; b += f.getLen }
      }
      (n, b)
    } catch { case _: Exception => (0L, 0L) }
}
