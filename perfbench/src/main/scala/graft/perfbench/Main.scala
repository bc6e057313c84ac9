package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.operators.PlanCache

/** A benchmark workload: seeded inputs and one pass over its operations. */
trait Workload {
  def name: String
  /** Generate this run's inputs from the seed into `dir`. */
  def prepare(dir: File): Unit
  /** Set-up work after the inputs exist (counted in set-up time). */
  def afterSetup(): Unit = ()
  /** Untimed reset before every pass. */
  def startPass(): Unit = ()
  /** Run every operation once, each through [[Run.op]]. */
  def pass(): Unit
  /** The workload's own end-to-end figures, printed by name. */
  def named(m: Measure): Seq[(String, Double, String)]
  /** Per-layer figures from the traced passes and layer probes. */
  def layers(traced: Measure): Map[String, Double]
  /** The single-core baseline, where the workload has one. */
  def scaling(m: Measure): Map[String, Double] = Map.empty
}

object Stats {
  /** Median as Python's `statistics.median` takes it. */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank quantile: the ceil(q·n)-th smallest sample. */
  def nearestRank(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    s(math.max(1, math.ceil(q * s.length).toInt) - 1)
  }
}

/** What one measuring loop saw: its operations, pass times, listener
  * work, and (when traced) its spans. */
final class Measure(val ops: Seq[Op], val passSeconds: Seq[Double],
                    val counts: Counts, val spans: Seq[Span],
                    val planCache: Seq[Map[String, Long]]) {
  def passes: Int = passSeconds.length
  /** A typical pass: each operation's median over the passes, summed.
    * One slow operation in one pass does not move it. */
  def passMedian: Double = typicalSum(ops.map(_.name).toSet)
  def typicalSum(names: Set[String]): Double = names.toSeq.map(opMedian).sum
  def opMedian(name: String): Double =
    Stats.median(ops.filter(_.name == name).map(_.seconds))
  def opQuantile(q: Double): Double = Stats.nearestRank(ops.map(_.seconds), q)

  private def passSpans = spans.filter(s => s.name == "pass" && s.parent == 0)
  private def children(id: Int) = spans.filter(_.parent == id)
  private def opSpans(p: Span, names: Set[String]) = children(p.id).filter(o => names(o.name))

  /** Median over passes of the seconds spent in spans named `phase`
    * directly under the named operations. */
  def perPassSpanSeconds(names: Set[String], phase: String): Double =
    Stats.median(passSpans.map { p =>
      opSpans(p, names).flatMap(o => children(o.id)).filter(_.name == phase).map(_.seconds).sum
    })
  /** Median over passes of a listener count summed over the named operations. */
  def perPassCount(names: Set[String], key: String): Double =
    Stats.median(passSpans.map(p => opSpans(p, names).map(_.counts.getOrElse(key, 0L)).sum.toDouble))
  def spanCount(name: String, key: String): Double =
    Stats.median(spans.filter(_.name == name).map(_.counts.getOrElse(key, 0L).toDouble))
  def planCacheMedian: Map[String, Double] = Seq("hits", "misses", "evictions", "pins")
    .map(k => s"plan_cache.$k" -> Stats.median(planCache.map(_.getOrElse(k, 0L).toDouble))).toMap

  /** Largest relative gap between an operation's span and the sum of its
    * build / plan / exec children. */
  def phaseGap: Double = {
    val gaps = passSpans.flatMap(p => children(p.id)).flatMap { o =>
      val ph = children(o.id)
      if (ph.isEmpty || o.seconds <= 0) None
      else Some(math.abs(o.seconds - ph.map(_.seconds).sum) / o.seconds)
    }
    if (gaps.isEmpty) 0.0 else gaps.max
  }
}

object Main {
  val Workloads = Seq("raster_hw2", "engine_mix")

  /** Every per-layer metric with its unit; a workload reports 0 for a
    * layer it never calls. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "sources.decode_s" -> "s", "sources.decode_mpix_per_s" -> "Mpix/s",
    "sources.tiff_encode_mpix_per_s" -> "Mpix/s", "sources.files_read" -> "count",
    "sources.bytes_read" -> "B", "sources.bytes_written" -> "B",
    "operators.stats_agg_s" -> "s", "operators.composite_pivot_s" -> "s",
    "operators.composite_write_s" -> "s",
    "functions.minhash_s" -> "s", "functions.minhash_rows_per_s" -> "1/s",
    "functions.kll_level_s" -> "s", "functions.kll_level_rows_per_s" -> "1/s",
    "functions.cosine_s" -> "s", "functions.cosine_rows_per_s" -> "1/s",
    "queries.build_s" -> "s", "queries.plan_s" -> "s", "queries.exec_s" -> "s",
    "queries.jobs" -> "count", "queries.stages" -> "count", "queries.tasks" -> "count",
    "queries.tasks_per_stage" -> "ratio", "trace.phase_gap" -> "ratio",
    "plan_cache.hits" -> "count", "plan_cache.misses" -> "count",
    "plan_cache.evictions" -> "count", "plan_cache.pins" -> "count",
    "exec.task_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.core_util" -> "ratio", "exec.shuffle_read_mb" -> "MB",
    "exec.shuffle_write_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.failed_tasks" -> "count",
    "raster.t1_stats_s" -> "s", "raster.t1_composite_s" -> "s",
    "raster.speedup_stats" -> "ratio", "raster.speedup_composite" -> "ratio",
    "raster.efficiency_stats" -> "ratio", "raster.efficiency_composite" -> "ratio",
    "heap_peak_mb" -> "MB", "trace.overhead" -> "ratio", "failed_frac" -> "ratio")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private def metricsJson(ms: Seq[(String, Double, String)]) =
    ListMap(ms.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*)

  private def now: Long = System.nanoTime()
  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    require(Workloads.contains(opts.workload), s"unknown workload '${opts.workload}'")
    require(new File(opts.fixtures).isDirectory, s"no fixtures at '${opts.fixtures}'")
    javax.imageio.ImageIO.setUseCache(false)
    HeapWatch.install()
    val run = new Run(opts)
    val goldens = new Goldens(opts.goldens, opts.corrupt, opts.record, opts.size)
    val wl: Workload = opts.workload match {
      case "raster_hw2" => new RasterHw2(run)
      case "engine_mix" => new EngineMix(run, goldens)
    }
    try execute(run, wl, goldens) finally run.stop()
  }

  private def execute(run: Run, wl: Workload, goldens: Goldens): Unit = {
    val opts = run.opts
    // Set-up: a fresh session and freshly generated inputs, several times,
    // then one warm-up pass over the last inputs.
    val rounds = (1 to 3).map { r =>
      val t0 = now
      run.stop(); run.start(Runtime.getRuntime.availableProcessors)
      wl.prepare(new File(opts.work, s"input_$r"))
      since(t0)
    }
    val t0 = now
    wl.afterSetup()
    wl.startPass()
    val warmOps = run.ops.length
    wl.pass()
    val warmup = since(t0)
    val setup = Stats.median(rounds) + warmup

    val (m, traced) = measure(run, wl)
    val heap = HeapWatch.peakMb
    val env = environment(run)

    var metrics: Seq[(String, Double, String)] = Nil
    if (opts.trace) {
      val tracer = run.tracer
      val probed = wl.layers(traced)
      run.tracer = new Tracer(false, () => run.counts())
      val exec = execLayer(run, m)
      val layers = probed ++ exec ++ wl.scaling(m) ++ Map(
        "heap_peak_mb" -> heap,
        "trace.phase_gap" -> traced.phaseGap,
        "trace.overhead" -> (traced.passMedian - m.passMedian) / m.passMedian)
      val failedFrac = run.ops.count(!_.ok).toDouble / run.ops.length
      metrics = LayerUnits.map { case (k, u) =>
        (k, if (k == "failed_frac") failedFrac else layers.getOrElse(k, 0.0), u)
      }
      writeTrace(opts.traceOut, wl.name, env, run, tracer, traced, metrics)
    } else {
      metrics = Seq(
        ("setup_s", setup, "s"),
        ("pass_s", m.passMedian, "s"))
    }

    val attempted = run.ops.length
    val failed = run.ops.count(!_.ok)
    println(s"env ${json.writeValueAsString(ListMap(env: _*))}")
    println(f"setup_rounds_s ${rounds.map(r => f"$r%.3f").mkString(" ")}  warmup_s $warmup%.3f")
    println(run.ops.slice(warmOps, warmOps + m.ops.length / m.passes)
      .map(o => f"${o.name}=${o.seconds}%.3f").mkString("warmup_ops ", " ", ""))
    println(f"passes ${m.passes}%d  operations ${m.ops.length}%d  " +
            f"pass_s ${m.passSeconds.map(p => f"$p%.3f").mkString(" ")}")
    val shown = if (opts.trace) metrics else metrics ++ wl.named(m) ++ Seq(
      ("op_p50_s", m.opQuantile(0.5), "s"), ("op_p60_s", m.opQuantile(0.6), "s"),
      ("heap_peak_mb", heap, "MB"), ("failed_frac", failed.toDouble / attempted, "ratio"))
    shown.foreach { case (k, v, u) => println(f"metric $k%-34s $v%14.6f $u") }
    if (opts.record && failed == 0) {
      val lines = goldens.recorded.map { case (k, v) => s"$k $v" }
      println(lines.mkString("golden ", "\ngolden ", ""))
    }
    val result = json.writeValueAsString(ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metricsJson(metrics)))
    Files.write(new File(opts.out).toPath, result.getBytes(StandardCharsets.UTF_8))
  }

  /** Run passes until the next one would overrun the time budget, at
    * least two of each kind. An untraced run measures untraced passes for
    * `--seconds`; a traced run interleaves untraced and traced passes
    * (U T T U ...) for twice that, so warm-up drift falls on both kinds
    * alike and their difference is the tracing overhead. Each pass starts from the
    * workload's untimed reset; its time is the sum of its operations'
    * times, so output checks are excluded. Returns (untraced, traced). */
  private def measure(run: Run, wl: Workload): (Measure, Measure) = {
    val kinds = if (run.opts.trace) 2 else 1
    val tracers = Seq(false, true).map(on => new Tracer(on, () => run.counts()))
    val ops = Seq.fill(kinds)(ArrayBuffer.empty[Op])
    val times = Seq.fill(kinds)(ArrayBuffer.empty[Double])
    val cache = Seq.fill(kinds)(ArrayBuffer.empty[Map[String, Long]])
    val counts = Array.fill(kinds)(Counts(Map.empty))
    HeapWatch.reset()
    val start = now
    var i = 0
    while (times.exists(_.length < 2) ||
           since(start) + Stats.median(times.flatten) <= run.opts.seconds * kinds) {
      val k = if (kinds == 1) 0 else Seq(0, 1, 1, 0)(i % 4)
      run.tracer = tracers(k)
      wl.startPass()
      val c0 = run.counts()
      val first = run.ops.length
      run.tracer.span("pass")(wl.pass())
      val pass = run.ops.drop(first)
      ops(k) ++= pass
      times(k) += pass.map(_.seconds).sum
      counts(k) = counts(k) + (run.counts() - c0)
      cache(k) += PlanCache.stats
      HeapWatch.collectNow()
      i += 1
    }
    run.tracer = tracers(kinds - 1)
    val m = (0 until kinds).map(k =>
      new Measure(ops(k).toSeq, times(k).toSeq, counts(k), tracers(k).all, cache(k).toSeq))
    (m.head, m.last)
  }

  /** Spark substrate figures per pass of the untraced loop. */
  private def execLayer(run: Run, m: Measure): Map[String, Double] = {
    val c = m.counts; val n = m.passes.toDouble
    val wall = m.passSeconds.sum
    Map(
      "exec.task_s" -> c("run_ms") / 1e3 / n,
      "exec.cpu_s" -> c("cpu_ns") / 1e9 / n,
      "exec.gc_s" -> c("gc_ms") / 1e3 / n,
      "exec.core_util" -> c("run_ms") / 1e3 / (wall * run.activeCores),
      "exec.shuffle_read_mb" -> c("shuffle_read_b") / 1e6 / n,
      "exec.shuffle_write_mb" -> c("shuffle_write_b") / 1e6 / n,
      "exec.spill_mb" -> c("spill_b") / 1e6 / n,
      "exec.failed_tasks" -> c("failed_tasks").toDouble)
  }

  private def environment(run: Run): Seq[(String, Any)] = {
    val spark = run.spark
    val o = run.opts
    Seq(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "size" -> o.size, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1000000,
      "spark_local_dir" -> spark.sparkContext.getConf.get("spark.local.dir"),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
  }

  private def writeTrace(path: String, workload: String, env: Seq[(String, Any)],
                         run: Run, tracer: Tracer, traced: Measure,
                         metrics: Seq[(String, Double, String)]): Unit = {
    if (path.isEmpty) return
    val t0 = tracer.all.map(_.startNs).minOption.getOrElse(0L)
    val spans = tracer.all.map { s =>
      ListMap(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "workload_id" -> s"$workload-${run.opts.seed}",
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> tracer.selfSeconds(s),
        "counts" -> ListMap(s.counts.toSeq.sortBy(_._1): _*))
    }
    val ops = run.ops.map(o =>
      ListMap("name" -> o.name, "seconds" -> o.seconds, "error" -> o.error))
    val doc = ListMap(
      "workload" -> workload,
      "env" -> ListMap(env: _*),
      "metrics" -> metricsJson(metrics),
      "traced_pass_s" -> traced.passSeconds,
      "plan_cache_per_pass" -> traced.planCache.map(m => ListMap(m.toSeq.sortBy(_._1): _*)),
      "operations" -> ops,
      "spans" -> spans)
    json.writeValue(new File(path), doc)
  }
}
