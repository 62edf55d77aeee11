package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.Graft

/** JVM side of the benchmark: one workload, one seed, one closed-loop
  * single client. `run.py` generates the inputs, launches this main,
  * and turns `result.json` into the printed metrics.
  *
  * Usage: Main --workload W --inputs IN_DIR --dir WORK_DIR --seconds S
  *             --trace 0|1 --cpus N --warm-cap WARM_CAP_S --cap LOOP_CAP_S
  *        Main --workload calibrate --dir WORK_DIR --cpus N
  *
  * Set-up (`setup_s`): session start, warm-up on throwaway state until op
  * latency converges, then one build of the timed state. Warm-up runs
  * rounds of `warmRound` throwaway ops of the same shape and stops once
  * the median op latency of each of the last two rounds is no more than
  * `WarmTolerance` below the best round before them, after at least
  * `MinWarmRounds` rounds (or after the workload's `maxWarmRounds`, or
  * at WARM_CAP_S from main start).
  * An untraced pass always runs; --trace 1 adds a traced pass over the
  * same ops on its own freshly built state, interleaved op by op with the
  * untraced one, so the tracing overhead is measured within one JVM at
  * one warmth.
  *
  * Timed region: each op, plus the store maintenance that follows it
  * (compactions); an op's latency includes its maintenance. Cache sweeps
  * and output checks run outside it. */
object Main {
  val WarmTolerance = 0.05
  val MinWarmRounds = 4
  val MaxWarmRounds = 20

  def main(args: Array[String]): Unit = {
    val mainStart = System.nanoTime()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = new File(a("dir")).getAbsolutePath
    val cpus = a("cpus").toInt

    val spark = Graft.configure(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("graft-perfbench")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$dir/warehouse")
        .config("spark.local.dir", s"$dir/local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (a("workload") == "calibrate") {
      write(s"$dir/result.json", Seq("calibration_s" -> calibration(spark, cpus)))
      spark.stop()
      return
    }
    val in = new File(a("inputs")).getAbsolutePath
    val seconds = a("seconds").toDouble
    // hard stops, counted from main start, so a slow machine still exits in time
    val warmCapAt = mainStart + (a("warm-cap").toDouble * 1e9).toLong
    val capAt = mainStart + (a("cap").toDouble * 1e9).toLong
    val sessionS = (System.nanoTime() - mainStart) / 1e9
    val ctx = new Ctx(spark)
    def workload(tag: String): Workload = a("workload") match {
      case "pig_etl" => new PigEtl(ctx, in, dir, tag)
      case "ingest_stream" => new IngestStream(ctx, in, dir, tag)
      case "vector_search" => new VectorSearch(ctx, in, dir, tag)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = {
      val t = System.nanoTime(); body; ctx.sweep(Set.empty); (System.nanoTime() - t) / 1e9
    }
    val t0 = System.nanoTime()
    val warmRounds = warmUp(ctx, workload("w"), warmCapAt)
    val warmS = (System.nanoTime() - t0) / 1e9
    // a traced run interleaves the two passes op by op, so both see the
    // same JVM warmth and their difference is the tracing overhead alone
    val lanes = (if (a("trace") == "1") Seq("untraced", "traced") else Seq("untraced")).map { pass =>
      val w = workload(pass.take(1))
      val buildS = timed(w.buildTimed())
      new Lane(pass, w, if (pass == "traced") Some(new Tracer(spark)) else None, buildS)
    }
    val results = new Loop(ctx, lanes, seconds, cpus, capAt).run()
    lanes.flatMap(_.tracer).foreach { t => t.write(s"$dir/spans.jsonl"); t.close() }
    val buildS = lanes.head.buildS
    write(s"$dir/result.json", Seq(
      "workload" -> a("workload"),
      "session_s" -> sessionS,
      "warm_up_s" -> warmS,
      "warm_rounds_ms" -> warmRounds,
      "warm_converged" -> converged(warmRounds),
      "build_s" -> buildS,
      "setup_s" -> (sessionS + warmS + buildS),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "master" -> spark.sparkContext.master,
      "passes" -> results))
    spark.stop()
  }

  private def write(path: String, kv: Seq[(String, Any)]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try out.println(Json.obj(kv)) finally out.close()
  }

  /** True once two rounds in a row were no more than `WarmTolerance`
    * faster than the best round before them. */
  def converged(rounds: Seq[Double]): Boolean =
    rounds.size >= MinWarmRounds && {
      val best = rounds.dropRight(2).min
      rounds.takeRight(2).forall(_ >= best * (1 - WarmTolerance))
    }

  /** Rounds of throwaway ops until latency converges; returns each
    * round's median op latency in ms. */
  private def warmUp(ctx: Ctx, w: Workload, capAt: Long): Seq[Double] = {
    w.warmStart()
    ctx.sweep(Set.empty)
    val rounds = mutable.ArrayBuffer[Double]()
    while (!converged(rounds.toSeq) && rounds.size < w.maxWarmRounds &&
        System.nanoTime() < capAt) {
      val lat = (0 until w.warmRound).map { j =>
        val before = ctx.spark.sparkContext.getPersistentRDDs.keySet.toSet
        val ms = w.warmOp(rounds.size, j)
        ctx.sweep(before)
        ms
      }
      rounds += median(lat)
      System.err.println(s"[graftbench] warm round ${rounds.size}: " +
        lat.map(x => f"$x%.0f").mkString(" ") + " ms")
    }
    rounds.toSeq
  }

  def timeMs(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The repo Bench's fixed 20M-row machine-speed probe, one reading;
    * ambient context for the run record only. */
  private def calibration(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 20000000L, 1L, cpus)
      .selectExpr("id % 8191 AS k", "(id * 2654435761) % 1000003 AS v")
      .groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v").as("s"),
        org.apache.spark.sql.functions.max("v").as("m"))
      .selectExpr("sum(s + m)").collect()
    (System.nanoTime() - t0) / 1e9
  }
}

/** One pass of a workload over its own timed state, traced or not. */
final class Lane(val pass: String, val w: Workload, val tracer: Option[Tracer],
                 val buildS: Double) {
  val ops = mutable.ArrayBuffer[OpRecord]()
  var timedNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var jitMs = 0L
  var window: Option[LayerWindow] = None
  var phases0: Map[String, Double] = Map.empty
}

/** The closed loop: op i of every lane, then op i + 1, until the first
  * lane has timed `seconds` and ends a round; then each lane's checks
  * and, when traced, its per-layer numbers. Lanes take turns at running
  * an op first, so what the first run leaves in shared caches (codegen,
  * file metadata) favours neither. */
final class Loop(ctx: Ctx, lanes: Seq[Lane], seconds: Double, cpus: Int, capAt: Long) {
  private val spark = ctx.spark
  private val osb = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Whole-stage and expression classes Spark compiled with Janino so far
    * (codegen cache misses). */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs(): Long = {
    var s = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => s += math.max(0L, b.getCollectionTime))
    s
  }

  def run(): Map[String, Map[String, Any]] = {
    lanes.foreach(l => l.tracer.foreach { t => t.collect(); l.phases0 = t.phaseTotals })
    val lead = lanes.head
    // an untraced run ends on a round boundary, so every run has the same
    // op mix; a traced run needs only the per-layer window, and ends after
    // as many ops as lanes, so each lane runs first equally often
    val round = if (lanes.size > 1) 1 else lead.w.roundLen
    def more(i: Int) = lead.w.hasOp(i) && System.nanoTime() < capAt &&
      (lead.timedNs / 1e9 < seconds || i % round != 0 || i < lead.w.traceOps ||
        i % lanes.size != 0)
    var i = 0
    val cpu0 = hostCpu()
    while (more(i)) { (if (i % 2 == 0) lanes else lanes.reverse).foreach(step(_, i)); i += 1 }
    val cpu1 = hostCpu()
    val steal = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
    val rssMb = vmHwmMb()
    val heapPeakMb = heapPeakUsedMb()
    lanes.map(l => l.pass -> finish(l, rssMb, heapPeakMb, steal)).toMap
  }

  /** (steal, total) CPU ticks of the machine so far (Linux `/proc/stat`):
    * steal is time a virtual machine's CPUs waited for the host. */
  private def hostCpu(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { line =>
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }.getOrElse((0L, 1L))
    finally src.close()
  }

  private def step(l: Lane, i: Int): Unit = {
    val w = l.w
    val tracer = l.tracer
    ctx.tracer = tracer
    // the tracer takes in only its own lane's events
    tracer.foreach { t => t.collect(); t.active = true }
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val root = tracer.map(_.open(s"op $i", "op", -1L))
    ctx.parent = root.map(_.id).getOrElse(-1L)
    val gc0 = gcMs()
    val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val cg0 = codegenCompiles()
    val c0 = osb.getProcessCpuTime
    val t0 = System.nanoTime()
    val err = try { w.op(i); None } catch {
      case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
    }
    if (err.isEmpty) w.maintain(i)
    val t1 = System.nanoTime()
    l.cpuNs += osb.getProcessCpuTime - c0
    l.timedNs += t1 - t0
    l.gcMs += gcMs() - gc0
    l.jitMs += ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0
    val codegen = codegenCompiles() - cg0
    for (t <- tracer; r <- root) r.end = t.now()
    tracer.foreach { t => t.collect(); t.active = false }
    ctx.sweep(before)
    val checked = err.isEmpty && w.check(i)
    ctx.tracer = None
    l.ops += OpRecord(i, w.kind(i), (t1 - t0) / 1e6, err, checked, codegen)
    if (i + 1 == w.traceOps) tracer.foreach { t =>
      l.window = Some(LayerWindow(i + 1, t.phaseTotals, l.gcMs))
    }
  }

  private def finish(l: Lane, rssMb: Double, heapPeakMb: Double,
                     steal: Double): Map[String, Any] = {
    val f0 = System.nanoTime()
    val fin = l.w.finish(l.ops.size)
    val finishS = (System.nanoTime() - f0) / 1e9
    val records = l.ops.map(o =>
      o.copy(checked = o.checked && fin.invariantsOk && !fin.failedOps(o.i)))
    val layers = l.tracer.map { t =>
      val lw = l.window.getOrElse(LayerWindow(l.ops.size, t.phaseTotals, l.gcMs))
      // whichever lane runs an op first pays its codegen cache misses
      val codegen = lanes.flatMap(_.ops).filter(_.i < lw.ops).map(_.codegen).sum
      Layers.derive(t, lw, l.phases0, cpus, l.w, fin) ++
        Map("plans.codegen_compiles_per_op" -> codegen.toDouble / math.max(1, lw.ops)) ++
        Map("jvm.heap_used_peak_mb" -> heapPeakMb, "jvm.gc_ms" -> lw.gcMs.toDouble)
    }.getOrElse(Map.empty)
    Map(
      "ops" -> records.map(o => Map("i" -> o.i, "kind" -> o.kind, "lat_ms" -> o.latMs,
        "error" -> o.error, "checked" -> o.checked)),
      "timed_s" -> l.timedNs / 1e9,
      "cpu_s" -> l.cpuNs / 1e9,
      "gc_s" -> l.gcMs / 1e3,
      "jit_s" -> l.jitMs / 1e3,
      "host_steal_share" -> steal,
      "finish_s" -> finishS,
      "rss_peak_mb" -> rssMb,
      "checks" -> fin.notes,
      "extra" -> fin.extra,
      "layers" -> layers,
      "build_s" -> l.buildS)
  }

  /** Peak resident set of this JVM so far (Linux `VmHWM`). */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def heapPeakUsedMb(): Double = {
    var s = 0L
    ManagementFactory.getMemoryPoolMXBeans.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) s += p.getPeakUsage.getUsed
    }
    s / 1048576.0
  }
}

/** One op of a lane; `codegen` counts the Janino compiles during it. */
final case class OpRecord(i: Int, kind: String, latMs: Double, error: Option[String],
                          checked: Boolean, codegen: Long)

/** Phase totals and the lane's GC time when the per-layer window (the
  * first `traceOps` ops) closed. */
final case class LayerWindow(ops: Int, phases: Map[String, Double], gcMs: Long)

/** End-of-run verdict of a workload: whether its run-wide invariants
  * hold (if not, every op counts as failed), the ops whose own end-of-run
  * check failed, notes for the run record, and the workload-specific
  * numbers. */
final case class Finish(invariantsOk: Boolean, failedOps: Set[Int],
                        notes: Map[String, Any], extra: Map[String, Double])

/** Shared plumbing: the session, the tracer of the current pass (if
  * any), and the span the current op's calls hang under. */
final class Ctx(val spark: SparkSession) {
  var tracer: Option[Tracer] = None
  var parent: Long = -1L

  def call[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.call(name, parent)(body)
    case None => body
  }

  /** Cache hygiene after an op: release graft's tracked persists, then
    * unpersist every RDD that appeared since `before` (including
    * `localCheckpoint` blocks, which `clearCache` does not see). */
  def sweep(before: Set[Int]): Unit = {
    graft.dsl.Rel.releaseTracked(blocking = true)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
      if (!before.contains(id)) r.unpersist(blocking = true)
    }
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) f.length else 0L

  def parquetFiles(f: File): Int =
    Option(f.listFiles).map(_.count(x => x.isFile && x.getName.endsWith(".parquet"))).getOrElse(0)
}

/** One workload. `tag` names the state the instance builds and uses. */
trait Workload {
  /** The loop ends on a multiple of this, so every run has the same mix. */
  def roundLen: Int
  /** Ops in the per-layer window; the loop always runs at least this many. */
  def traceOps: Int
  /** Throwaway work before the first warm-up round. */
  def warmStart(): Unit = ()
  /** Ops per warm-up round; a round's median is compared to the last. */
  def warmRound: Int
  /** Warm-up stops after this many rounds even if not converged. */
  def maxWarmRounds: Int = Main.MaxWarmRounds
  /** Op `j` of warm-up round `r`, on throwaway state: the same work in
    * every round. Returns its latency in ms, maintenance included. */
  def warmOp(r: Int, j: Int): Double
  def buildTimed(): Unit
  def hasOp(i: Int): Boolean
  def kind(i: Int): String
  def op(i: Int): Unit
  def maintain(i: Int): Unit = ()
  def check(i: Int): Boolean
  def finish(nOps: Int): Finish
  /** Span names whose stages write durable bucketed stores. */
  def storeCalls: Set[String] = Set.empty
}
