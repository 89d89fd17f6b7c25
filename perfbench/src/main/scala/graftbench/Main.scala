package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one local[N] driver process with
  * a single client thread (closed loop: the next op starts when the
  * previous op and its serve reads have returned).
  *
  * Phases, in order:
  *  1. session start;
  *  2. set-up, repeated [[Harness.SetupReps]] times from scratch (the
  *     median is the reported set-up time; the last repetition's state is
  *     used);
  *  3. warm-up ops, untimed, until JIT, codegen and session caches are
  *     steady;
  *  4. the measured window: whole cycles of ops for at least `--seconds`
  *     and at least [[Workload.minCycles]] cycles, traced when `--trace 1`;
  *  5. answer checks.
  * Raw samples go to `--out` as JSON; run.py turns them into metrics.
  *
  * Usage: graftbench.Main --workload W --inputs DIR --work DIR
  *   --seconds N --trace 0|1 --cores N --out FILE */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opt("work")).getAbsolutePath
    val cores = opt.getOrElse("cores", "4")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val plan = Plan.load(s"${opt("inputs")}/plan.json")
    val ctx = Ctx(spark, plan, s"${opt("inputs")}/tables", opt("inputs"), work)
    val w: Workload = opt("workload") match {
      case "olap_mix" => new OlapMix(ctx)
      case "ingest_upkeep" => new IngestUpkeep(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val out = Harness.run(spark, w, opt("seconds").toDouble, opt("trace") == "1") +
      ("session_s" -> sessionS)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(new File(opt("out")).toPath, mapper.writeValueAsString(out).getBytes(UTF_8))
    spark.stop()
  }
}

/** What every workload shares: the session, the generated plan, and where
  * its inputs and scratch state live. */
final case class Ctx(spark: SparkSession, plan: Plan, tables: String,
    inputs: String, work: String)

/** A workload: set-up, ops, serve reads after each op, and checks.
  * `cycle` is the op count after which the workload repeats itself (one
  * pass over the entry order, one maintenance cadence); measured windows
  * end on a cycle boundary. */
trait Workload {
  def cycle: Int
  /** Whole cycles a measured window holds at least. */
  def minCycles: Int = 2
  def warmupOps: Int
  def setup(rep: Int, tracer: Tracer): Unit
  def op(i: Int, tracer: Tracer): Unit
  /** An untimed warm-up op; by default the op and its serve reads. */
  def warmup(i: Int, tracer: Tracer): Unit = { op(i, tracer); serves(i).foreach(_._2()) }
  /** Serve reads after op `i`: (span name, read). Each is timed alone. */
  def serves(i: Int): Seq[(String, () => Any)] = Nil
  /** Checks on op `i`'s outcome and its serve results, run untimed. */
  def checkOp(i: Int, served: Seq[Any]): Seq[Check] = Nil
  /** Checks run once after the measured windows. */
  def finalChecks(): Seq[Check]
  /** Layout state recorded after each traced op. */
  def recordState(i: Int, tracer: Tracer): Unit = ()
  def extra(): Map[String, Any] = Map.empty
}

final case class Check(name: String, ok: Boolean, detail: String = "") {
  def toMap: Map[String, Any] = Map("name" -> name, "ok" -> ok, "detail" -> detail)
}

object Harness {

  private def now(): Long = System.nanoTime()

  /** Set-ups per run; the median is the reported set-up time. */
  val SetupReps = 3

  def run(spark: SparkSession, w: Workload, seconds: Double,
      trace: Boolean): Map[String, Any] = {
    val untraced = new Tracer(spark, false)
    def log(msg: String): Unit = System.err.println(s"graftbench: $msg")
    val setupS = (0 until SetupReps).map { r =>
      val t = now(); w.setup(r, untraced)
      val s = (now() - t) / 1e9; log(f"setup $r: $s%.2f s"); s
    }
    val tw = now()
    (0 until w.warmupOps).foreach { i =>
      val t = now(); w.warmup(i, untraced); log(f"warm-up op $i: ${(now() - t) / 1e9}%.2f s")
    }
    val warmupS = (now() - tw) / 1e9
    // listeners exist only in a traced run, and only from here on
    val tr = new Tracer(spark, trace)
    val checks = Seq.newBuilder[Check]
    val ops = Seq.newBuilder[Map[String, Any]]
    val serveLat = Seq.newBuilder[Map[String, Any]]
    var excluded = 0L
    val start = now()
    val first = w.warmupOps
    var next = first
    def more = (now() - start - excluded) / 1e9 < seconds ||
      (next - first) % w.cycle != 0 || next - first < w.minCycles * w.cycle
    while (more) {
      val i = next
      tr.beginOp(i)
      val t = now()
      val err = try { w.op(i, tr); None } catch { case e: Exception => Some(e) }
      val lat = (now() - t) / 1e9
      tr.endOp()
      log(f"op $i: $lat%.2f s${err.fold("")(e => s" FAILED $e")}")
      val served = if (err.isDefined) Nil else w.serves(i).map { case (name, read) =>
        val ts = now()
        val res = try Right(tr.span(name)(read())) catch { case e: Exception => Left(e) }
        val s = (now() - ts) / 1e9
        serveLat += Map("op" -> i, "name" -> name, "s" -> s, "ok" -> res.isRight)
        log(f"  serve $name: $s%.2f s")
        res.fold(e => { checks += Check(s"$name@$i", ok = false, e.toString); null }, identity)
      }
      val te = now()
      val opChecks = err match {
        case Some(e) => Seq(Check(s"op@$i", ok = false, e.toString))
        case None => w.checkOp(i, served)
      }
      checks ++= opChecks.filterNot(_.ok)
      ops += Map("op" -> i, "s" -> lat,
        "ok" -> (err.isEmpty && !served.contains(null) && opChecks.forall(_.ok)))
      if (tr.on) { tr.settle(); w.recordState(i, tr) }
      excluded += now() - te
      next += 1
    }
    val measured = Map("ops" -> ops.result(), "serves" -> serveLat.result(),
      "elapsed_s" -> (now() - start - excluded) / 1e9) ++ (if (tr.on) tr.export() else Map.empty)
    val finals = w.finalChecks()
    val failedChecks = checks.result() ++ finals.filterNot(_.ok)
    Map("setup_s" -> setupS, "warmup_s" -> warmupS, "cycle" -> w.cycle,
      "window" -> measured,
      "checks" -> failedChecks.map(_.toMap), "final_checks" -> finals.size,
      "peak_rss_mb" -> peakRssMb()) ++ w.extra()
  }

  /** The driver process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
