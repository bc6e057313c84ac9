package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Command-line settings of one benchmark run. */
final case class Opts(
    workload: String = "",
    seed: Long = 1L,
    seconds: Double = 10.0,
    trace: Boolean = false,
    fixtures: String = "",
    work: String = "",
    out: String = "",
    traceOut: String = "",
    goldens: String = "",
    size: String = "full",
    corrupt: Boolean = false,
    record: Boolean = false)

object Opts {
  def parse(args: Array[String]): Opts = {
    def go(o: Opts, rest: List[String]): Opts = rest match {
      case Nil => o
      case "--workload" :: v :: t => go(o.copy(workload = v), t)
      case "--seed" :: v :: t => go(o.copy(seed = v.toLong), t)
      case "--seconds" :: v :: t => go(o.copy(seconds = v.toDouble), t)
      case "--trace" :: v :: t => go(o.copy(trace = v == "1"), t)
      case "--fixtures" :: v :: t => go(o.copy(fixtures = v), t)
      case "--work" :: v :: t => go(o.copy(work = v), t)
      case "--out" :: v :: t => go(o.copy(out = v), t)
      case "--trace-out" :: v :: t => go(o.copy(traceOut = v), t)
      case "--goldens" :: v :: t => go(o.copy(goldens = v), t)
      case "--size" :: v :: t => go(o.copy(size = v), t)
      case "--corrupt" :: t => go(o.copy(corrupt = true), t)
      case "--record" :: t => go(o.copy(record = true), t)
      case a :: _ => throw new IllegalArgumentException(s"unknown argument $a")
    }
    go(Opts(), args.toList)
  }
}

/** One operation a pass ran: a program, a registry query or a kernel.
  * `error` is empty when it finished and its output checked correct. */
final case class Op(name: String, seconds: Double, error: String) {
  def ok: Boolean = error.isEmpty
}

/** Session, listener, tracer and the operation log of one run. */
final class Run(val opts: Opts) {
  val listener = new CountingListener
  private var session: SparkSession = _
  private var cores = 0
  var tracer: Tracer = new Tracer(false, () => counts())
  val ops = ArrayBuffer.empty[Op]

  def spark: SparkSession = session
  def activeCores: Int = cores
  def counts(): Counts = listener.snapshot(session.sparkContext)

  def start(n: Int): SparkSession = {
    cores = n
    val localDir = new File(opts.work, "spark-local"); localDir.mkdirs()
    session = GraftSession.tuned(
        SparkSession.builder().master(s"local[$n]").appName("perfbench"), n)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.getAbsolutePath)
      .config("spark.sql.warehouse.dir",
              new File(opts.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    session.sparkContext.addSparkListener(listener)
    session
  }

  def stop(): Unit = if (session != null) {
    graft.operators.PlanCache.releaseAll()
    session.stop()
    session = null
  }

  /** Drop every cached frame between passes. `clearCache` must always be
    * paired with `PlanCache.pruneStale`, or stale tracked frames can
    * later uncache a same-plan pin. */
  def clearCaches(): Unit = {
    session.catalog.clearCache()
    graft.operators.PlanCache.pruneStale()
  }

  /** Time `run`, then check its result. The check is not timed. A throw
    * or a failed check is recorded as a failed operation, never as a
    * time; nothing is retried. */
  def op[R](name: String)(run: => R)(check: R => Option[String]): Unit = {
    val t0 = System.nanoTime()
    val o = try {
      val r = tracer.span(name)(run)
      val sec = (System.nanoTime() - t0) / 1e9
      Op(name, sec, check(r).getOrElse(""))
    } catch {
      case e: Throwable =>
        Op(name, (System.nanoTime() - t0) / 1e9,
           s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    ops += o
    if (!o.ok) System.err.println(s"[perfbench] FAILED ${o.name}: ${o.error}")
  }
}
