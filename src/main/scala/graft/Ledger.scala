package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLongArray}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.PlanCache

/** Per-row run ledger: one [[Ledger.Entry]] per timed row, so a slow or
  * failing row is explainable from the written record alone.
  *
  * A row's wall time splits into construction (`build_s`: the query
  * function, eager driver actions included), Catalyst optimization and
  * planning (from the final plan's `QueryExecution.tracker`) and
  * execution (`exec_s`). `analysis_s` runs inside construction and is
  * reported, not added. Jobs, stages, tasks and shuffle/spill bytes come
  * from a listener that attributes each job through a per-row
  * SparkContext local property — Spark carries local properties onto
  * broadcast and subquery threads, and each caller thread (a concurrent
  * prewarm pool included) sets its own. PlanCache hits/misses are
  * `PlanCache.stats` deltas, so rows that overlap in time may see each
  * other's.
  *
  * Listener events arrive asynchronously: read [[entries]] after
  * `spark.stop()`, which drains the listener bus. A row that throws is
  * recorded with `status = "error"` and returns no time.
  */
final class Ledger(spark: SparkSession) {
  import Ledger._

  private val nextId = new AtomicInteger
  private val recorded = ArrayBuffer.empty[Entry]
  private val counts = new ConcurrentHashMap[Int, AtomicLongArray]
  // boxed, so a stage of an unattributed job reads as null, never row 0
  private val stageRow = new ConcurrentHashMap[Int, Integer]

  private val listener = new SparkListener {
    private def add(id: Int, field: String, n: Long): Unit =
      counts.computeIfAbsent(id, _ => new AtomicLongArray(Counted.size))
        .addAndGet(Counted.indexOf(field), n)
    private def rowOfStage(stageId: Int): Option[Int] =
      Option(stageRow.get(stageId)).map(_.intValue)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(RowProperty)))
        .foreach { row =>
          val id = row.toInt
          add(id, "jobs", 1)
          e.stageIds.foreach(stageRow.put(_, id))
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      rowOfStage(e.stageInfo.stageId).foreach(add(_, "stages", 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      rowOfStage(e.stageId).foreach { id =>
        add(id, "tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          add(id, "shuffle_read_b", m.shuffleReadMetrics.localBytesRead +
                                    m.shuffleReadMetrics.remoteBytesRead)
          add(id, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
          add(id, "spill_b", m.diskBytesSpilled)
        }
      }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Construct a row with `build`, then plan and execute its full
    * physical plan (`toRdd.count()`: `df.count()` would let Catalyst
    * prune every column). Returns the wall seconds, or None if it threw. */
  def time(row: String, pass: Int, retry: Boolean = false)
          (build: => DataFrame): Option[Double] =
    record(row, pass, retry) { clock =>
      val qe = build.queryExecution
      clock.built = System.nanoTime()
      qe.executedPlan
      clock.phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
      clock.planned = System.nanoTime()
      qe.toRdd.count()
    }.map(_._2)

  /** Record a construction-only row (frame builders whose plans run
    * later, in their own rows); returns what `build` returned. */
  def construct[A](row: String, pass: Int, retry: Boolean = false)
                  (build: => A): Option[A] =
    record(row, pass, retry)(_ => build).map(_._1)

  private def record[A](row: String, pass: Int, retry: Boolean)
                       (body: Clock => A): Option[(A, Double)] = {
    val id = nextId.getAndIncrement()
    val sc = spark.sparkContext
    val cache0 = PlanCache.stats
    val clock = new Clock
    sc.setLocalProperty(RowProperty, id.toString)
    val result =
      try Right(body(clock))
      catch { case e: Throwable => Left(e) }
      finally sc.setLocalProperty(RowProperty, null)
    val end = System.nanoTime()
    val cache1 = PlanCache.stats
    val built = if (clock.built < 0) end else clock.built
    val planned = if (clock.planned < 0) end else clock.planned
    def sec(from: Long, to: Long): Double = (to - from) / 1e9
    def phase(k: String): Double = clock.phases.getOrElse(k, 0L) / 1e3
    val entry = Entry(id, row, pass, retry,
      error = result.left.toOption.map(describe),
      wall_s = sec(clock.start, end), build_s = sec(clock.start, built),
      analysis_s = phase("analysis"), optimization_s = phase("optimization"),
      planning_s = phase("planning"), exec_s = sec(planned, end),
      cache_hits = cache1("hits") - cache0("hits"),
      cache_misses = cache1("misses") - cache0("misses"))
    synchronized { recorded += entry }
    result.toOption.map(_ -> entry.wall_s)
  }

  /** Every entry so far, in record order, with the listener's counts. */
  def entries: Seq[Entry] = synchronized(recorded.toList).map { e =>
    Option(counts.get(e.id)).fold(e)(c => e.copy(counted = Counted.indices.map(c.get)))
  }

  /** Stop counting (a session that outlives the ledger). */
  def detach(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Ledger {
  private val RowProperty = "graft.ledger.row"
  private val Counted = Seq("jobs", "stages", "tasks",
    "shuffle_read_b", "shuffle_write_b", "spill_b")

  private final class Clock {
    val start: Long = System.nanoTime()
    var built, planned = -1L
    var phases = Map.empty[String, Long]
  }

  /** JSON string literal: backslash, quote and every control char
    * escaped, so a message or SQL text never breaks a `json.load`. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.nextOption()
    (e.getClass.getSimpleName + msg.fold("")(": " + _)).take(500)
  }

  final case class Entry(id: Int, row: String, pass: Int, retry: Boolean,
      error: Option[String], wall_s: Double, build_s: Double,
      analysis_s: Double, optimization_s: Double, planning_s: Double,
      exec_s: Double, cache_hits: Long, cache_misses: Long,
      counted: Seq[Long] = Seq.fill(Counted.size)(0L)) {
    def ok: Boolean = error.isEmpty
    def status: String = if (ok) "ok" else "error"
    def count(k: String): Long = counted(Counted.indexOf(k))

    def json: String = {
      val secs = Seq("wall_s" -> wall_s, "build_s" -> build_s,
        "analysis_s" -> analysis_s, "optimization_s" -> optimization_s,
        "planning_s" -> planning_s, "exec_s" -> exec_s)
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.4f" }
      val longs = (Counted.zip(counted) ++ Seq("cache_hits" -> cache_hits,
        "cache_misses" -> cache_misses)).map { case (k, v) => s""""$k":$v""" }
      (Seq(s""""row":${jsonString(row)}""", s""""pass":$pass""",
           s""""retry":$retry""", s""""status":"$status"""",
           s""""error":${error.fold("null")(jsonString)}""") ++ secs ++ longs)
        .mkString("{", ",", "}")
    }
  }
}
