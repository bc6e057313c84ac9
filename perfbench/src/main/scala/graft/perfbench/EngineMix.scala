package graft.perfbench

import java.io.File

import org.apache.spark.sql.functions.{col, lit, xxhash64}

import graft.SparkEntry
import graft.operators.PlanCache

/** Writes a seeded copy of the parquet fixtures: the same rows in a
  * seed-dependent order, one file per table. Queries whose outputs are
  * order-independent give identical results for every seed. */
object Fixtures {
  def permute(run: Run, tables: Seq[String], dest: File): Unit = {
    val spark = run.spark
    val opts = run.opts
    val pool = java.util.concurrent.Executors.newFixedThreadPool(run.activeCores)
    try tables.map { t =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val df = spark.read.parquet(new File(opts.fixtures, s"$t.parquet").getAbsolutePath)
          df.orderBy(xxhash64(df.columns.map(col).toSeq :+ lit(opts.seed): _*))
            .coalesce(1).write.mode("overwrite")
            .parquet(new File(dest, s"$t.parquet").getAbsolutePath)
        }
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }
}

/** Registry rows and per-row corpus kernels, run back to back from
  * cleared caches in one seed-permuted order.
  *
  * The registry rows are latency-bound: query construction, stage
  * scheduling and PlanCache shared frames dominate. The kernels are
  * per-row native expressions: `functions` and the Sketch / Similarity
  * operators do the work and PlanCache is bypassed. Neither touches
  * raster decode. */
final class EngineMix(run: Run, goldens: Goldens) extends Workload {
  val name = "engine_mix"
  private val tiny = run.opts.size == "tiny"

  /** The reference's two-level stats and composite rows, a plain
    * relational row, the row with the most driver-side construction
    * (`rel_kll_merge_disk`, a parquet write round trip), a second
    * consumer of its KLL stream, and a PlanCache shared-frame consumer.
    * `--size tiny` keeps the first three. */
  private val allQueries: Seq[String] = Seq(
    "band_stats", "composite_pivot", "rel_pricing_summary",
    "rel_kll_merge_disk", "rel_kll_merge", "dedup_minhash_pairs")
  val queries: Seq[String] = if (tiny) allQueries.take(3) else allQueries
  private val kernels = new CorpusKernels(run, tiny)

  private val order =
    new scala.util.Random(run.opts.seed).shuffle(queries ++ CorpusKernels.names)
  private var dir: File = _

  /** The tables these queries and kernels read. */
  private val tables = Seq("lineitem", "events", "documents", "embeddings")

  def prepare(d: File): Unit = { dir = d; Fixtures.permute(run, tables, d) }

  override def afterSetup(): Unit = kernels.train(dir)

  override def startPass(): Unit = {
    run.clearCaches()
    PlanCache.resetStats()
  }

  def pass(): Unit = order.foreach { op =>
    run.op(op) {
      if (CorpusKernels.names.contains(op)) {
        val dfs = run.tracer.span("build")(kernels.outputs(op, dir))
        run.tracer.span("exec")(dfs.map(Fingerprint.of).mkString(","))
      } else {
        val df = run.tracer.span("build")(SparkEntry.queries(op)(run.spark, dir.getAbsolutePath))
        run.tracer.span("plan")(df.queryExecution.executedPlan)
        run.tracer.span("exec")(Fingerprint.of(df))
      }
    }(goldens.check(name, op, _))
  }

  def named(m: Measure): Seq[(String, Double, String)] = {
    val q = m.ops.filter(o => queries.contains(o.name)).map(_.seconds)
    Seq(
      ("mix_s", m.typicalSum(queries.toSet), "s"),
      ("query_p50_s", Stats.nearestRank(q, 0.5), "s"),
      ("query_p60_s", Stats.nearestRank(q, 0.6), "s"),
      ("kernels_s", m.typicalSum(CorpusKernels.names.toSet), "s")) ++
      CorpusKernels.names.map(k => (s"${k}_s", m.opMedian(k), "s"))
  }

  def layers(traced: Measure): Map[String, Double] = {
    val qs = queries.toSet
    val jobs = traced.perPassCount(qs, "jobs")
    val stages = traced.perPassCount(qs, "stages")
    val tasks = traced.perPassCount(qs, "tasks")
    Map(
      "queries.build_s" -> traced.perPassSpanSeconds(qs, "build"),
      "queries.plan_s" -> traced.perPassSpanSeconds(qs, "plan"),
      "queries.exec_s" -> traced.perPassSpanSeconds(qs, "exec"),
      "queries.jobs" -> jobs, "queries.stages" -> stages,
      "queries.tasks" -> tasks,
      "queries.tasks_per_stage" -> (if (stages > 0) tasks / stages else 0.0)) ++
      traced.planCacheMedian ++ kernels.layers(traced)
  }
}

/** Golden digests recorded from the engine as first benchmarked, one per
  * workload, size and operation. */
final class Goldens(path: String, corrupt: Boolean, record: Boolean, size: String) {
  private val table: Map[String, String] =
    if (path.isEmpty || !new File(path).isFile) Map.empty
    else {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap
      finally src.close()
    }
  val recorded = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def check(workload: String, op: String, fp: String): Option[String] = {
    val key = s"$workload/$size/$op"
    if (record) return recorded.get(key) match {
      case Some(prev) if prev != fp => Some(s"digest $fp != earlier $prev in the same run")
      case _ => recorded(key) = fp; None
    }
    table.get(key) match {
      case None => Some(s"no golden digest for $key")
      case Some(want) =>
        val w = if (corrupt) want + "x" else want
        if (fp == w) None else Some(s"digest $fp != golden $w")
    }
  }
}
