package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.pipeline.Curate
import graft.rules.QualityRules
import graft.synth.Transcripts
import graft.tableio.TableIO

/** Host probe taken around one rep: single-thread spin time before it,
  * and the steal and system shares of machine time during it.
  */
final case class Probe(spinMs: Double, stealPct: Double, sysPct: Double)

final case class Rep(wallS: Double, traced: Boolean, ops: Int, failed: Int,
    quality: Double, probe: Probe, window: Window, layer: Map[String, Double])

/** The benchmark's entry point:
  *
  *   PerfBench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Sets up a `local[nproc]` session and the workload's seeded input in
  * `--work`, runs untimed warm-up reps, then timed reps until
  * `--seconds` have passed, checking every rep's output. The last line
  * of standard output is the result: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`.
  */
object PerfBench {
  val SpanProp = "perfbench.span"
  val WarmupSeconds = 12
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "turns_per_s" -> "1/s", "peak_task_mem_mb" -> "MB",
    "output_quality" -> "ratio")

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val args = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"--$k is required"))
    val spec = WorkloadSpec.byName(arg("workload")).getOrElse(
      sys.error(s"unknown workload ${arg("workload")}; one of " +
        WorkloadSpec.all.map(_.name).mkString(", ")))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    TableIO.deleteRecursive(work)
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Bench.session(cores.toString)
    try {
      val result = new PerfBench(spark, spec, seed, seconds, trace, work, cores, jvmStartMs).run()
      println(result)
    } finally {
      spark.stop()
      TableIO.deleteRecursive(work)
    }
  }
}

final class PerfBench(spark: org.apache.spark.sql.SparkSession, spec: WorkloadSpec,
    seed: Long, seconds: Double, trace: Boolean, work: Path, cores: Int,
    jvmStartMs: Long) {
  import PerfBench._

  private val sc = spark.sparkContext
  private val listener = new StageListener
  sc.addSparkListener(listener)
  private val runId = s"${spec.name}-$seed-${System.currentTimeMillis()}"
  private val tracer = new Tracer(runId, enabled = true,
    id => sc.setLocalProperty(SpanProp, id.toString))
  private val noTrace = new Tracer(runId, enabled = false)
  private val wl = Workload(spark, spec, seed, work, cores)

  private def secs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def run(): String = {
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val (_, modelsS) = secs(Curate.defaultModels)
    // the input is written three times; set-up counts the median write
    val inputS = (1 to 3).map(_ => secs(wl.writeInput())._2)
    val (_, prepS) = secs(wl.prepare())
    // untimed reps: the first loads classes and fills Spark's code
    // caches; rep times keep falling for several more while the JIT
    // compiles the driver's planning and scheduling paths
    val (warm, warmS) = secs {
      val w0 = System.nanoTime()
      val ws = ArrayBuffer(oneRep(traced = false))
      while (ws.size < 2 || System.nanoTime() - w0 < WarmupSeconds * 1e9)
        ws += oneRep(traced = false)
      ws.toSeq
    }
    val setupS = sessionS + modelsS + Stats.median(inputS) + prepS + warmS

    val reps = ArrayBuffer[Rep]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def count(traced: Boolean) = reps.count(_.traced == traced)
    // untraced reps only unless tracing; then untraced, traced, traced,
    // untraced, ... so a drift in rep times during the run (the JIT is
    // still at work) does not read as tracing overhead
    def enough =
      if (trace) count(true) >= 2 && count(false) >= 2 else reps.size >= 4
    // a run must end within 180 s: stop early on a very slow host
    def pastDeadline = System.currentTimeMillis() - jvmStartMs > 140000
    while (reps.isEmpty || (!enough || elapsed < seconds) && !pastDeadline)
      reps += oneRep(traced = trace && (reps.size % 4 == 1 || reps.size % 4 == 2))

    val kernel =
      if (!trace) Map.empty[String, Double]
      else Kernel.measure(sampleTexts(), Curate.defaultModels, QualityRules.defaultConfig,
        rounds = 7, roundMs = 80)

    val all = warm ++ reps.toSeq
    val attempted = all.map(_.ops).sum
    val failed = all.map(_.failed).sum
    val untraced = reps.filter(!_.traced).toSeq
    val traced = reps.filter(_.traced).toSeq
    // medians over the reps that completed; NaN (printed as null) if none did
    def med(xs: Seq[Double]) = xs.filterNot(_.isNaN) match {
      case Seq() => Double.NaN
      case ok => Stats.median(ok)
    }
    def tps(rs: Seq[Rep]) = rs.map(wl.inputTurns / _.wallS).filterNot(_.isNaN)
    val untracedTps = tps(untraced)
    val e2e = Map(
      "setup_s" -> setupS,
      "turns_per_s" -> med(untracedTps),
      "peak_task_mem_mb" -> med(untraced.map(_.window.peakMem / 1048576.0)),
      "output_quality" -> med(untraced.map(_.quality)))

    val perLayer: Map[String, Double] =
      if (!trace) Map.empty
      else {
        val measured = kernel ++ Map(
          "host.spin_ms" -> med(all.map(_.probe.spinMs)),
          "host.steal_pct" -> med(all.map(_.probe.stealPct)),
          "host.sys_pct" -> med(all.map(_.probe.sysPct)),
          "trace.traced_minus_untraced_turns_per_s" -> (med(tps(traced)) - med(untracedTps)))
        Layers.metrics.map { case (k, _, _) =>
          k -> measured.getOrElse(k, med(traced.map(_.layer.getOrElse(k, 0.0))))
        }.toMap
      }

    val diagnostics = Json.obj(
      "run_id" -> runId, "workload" -> spec.name, "seed" -> seed, "cores" -> cores,
      "process_s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3, "loop_s" -> elapsed,
      "input" -> Map("convs" -> spec.nConvs, "buckets" -> spec.buckets,
        "turns" -> wl.inputTurns, "parquet_bytes" -> wl.inputBytes),
      "setup" -> Map("session_s" -> sessionS, "models_s" -> modelsS, "input_s" -> inputS,
        "prepare_s" -> prepS, "warmup_s" -> warmS),
      "reps" -> all.map(r => Map("wall_s" -> r.wallS, "traced" -> r.traced,
        "turns_per_s" -> wl.inputTurns / r.wallS, "ops" -> r.ops, "failed" -> r.failed,
        "quality" -> r.quality, "peak_task_mem_mb" -> r.window.peakMem / 1048576.0,
        "spin_ms" -> r.probe.spinMs, "steal_pct" -> r.probe.stealPct,
        "sys_pct" -> r.probe.sysPct)),
      "untraced_turns_per_s" -> Map("n" -> untracedTps.size, "median" -> med(untracedTps),
        "quartiles" -> (if (untracedTps.isEmpty) Nil else Stats.quantiles(untracedTps))),
      "end_to_end" -> e2e, "per_layer" -> perLayer)
    println(diagnostics)
    if (trace) writeTrace(diagnostics)

    val shown: Seq[(String, String, Double)] =
      if (!trace) endToEnd.map { case (k, u) => (k, u, e2e(k)) }
      else Layers.metrics.map { case (k, u, _) => (k, u, perLayer(k)) }
    Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(shown.map { case (k, u, v) =>
        k -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
      }: _*)))
  }

  /** Turns of the first conversations of the workload's input, for the
    * single-thread kernel timings.
    */
  private def sampleTexts(): Array[String] =
    Iterator.from(0).flatMap(c => Transcripts.conversation(seed, c.toLong).map(_._1.text))
      .take(2000).toArray

  private def oneRep(traced: Boolean): Rep = {
    val tr = if (traced) tracer else noTrace
    org.apache.spark.BusDrain(sc)
    listener.detail = traced
    listener.take()
    val spinMs = graft.Bench.spinProbeMs()
    val (tot0, st0, sy0) = graft.Bench.readSteal()
    val attempt = scala.util.Try {
      val (out, wall) = secs(tr.span("rep")(wl.rep(tr, traced)))
      (out, wall - out.extra.get(Workload.DoneMs).filterNot(_.isNaN).getOrElse(0.0) / 1e3)
    }
    val (tot1, st1, sy1) = graft.Bench.readSteal()
    org.apache.spark.BusDrain(sc)
    val window = listener.take()
    val d = math.max(tot1 - tot0, 1L).toDouble
    val probe = Probe(spinMs, 100.0 * (st1 - st0) / d, 100.0 * (sy1 - sy0) / d)
    attempt match {
      case scala.util.Success((out, wall)) =>
        val (failed, quality, checked) = scala.util.Try(wl.check(out)) match {
          case scala.util.Success(c) => c
          case scala.util.Failure(e) =>
            System.err.println(s"check failed: $e")
            (out.ops, Double.NaN, Map.empty[String, Double])
        }
        val layer: Map[String, Double] =
          if (traced) Layers.of(tracer, window, wall, cores, out.ops) else Map.empty
        Rep(wall, traced, out.ops, failed, quality, probe, window,
          layer ++ out.extra ++ checked)
      case scala.util.Failure(e) =>
        System.err.println(s"rep failed: $e")
        val ops = wl.opsPerRep
        Rep(Double.NaN, traced, ops, ops, Double.NaN, probe, window, Map.empty)
    }
  }

  /** Spans with their self times, plus the run's record, written once
    * when the run ends.
    */
  private def writeTrace(diagnostics: String): Unit = {
    val spans = tracer.spans
    val dir = work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val body = Json.obj(
      "run" -> Json.Raw(diagnostics),
      "spans" -> spans.sortBy(_.startNs).map(s => Json.Raw(Json.obj(
        "run_id" -> s.runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_ns" -> Spans.selfNs(s, spans)))),
      "self_ns_by_name" -> Spans.selfByName(spans))
    Files.write(dir.resolve(s"$runId.json"), body.getBytes(StandardCharsets.UTF_8))
  }
}
