package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** The bench ledger: a row that throws is an error entry and never a
  * time; a row that runs carries its scheduler counts and a phase split
  * that accounts for its wall time. */
class LedgerSpec extends SparkSpec with Eventually {
  // the committed sf0.001 fixture copy (lineitem, documents, events,
  // embeddings), relative to the project root the tests run in
  private val dir = "perfbench/data/sf0.001"

  test("a query that throws is an error entry, counted failed, never timed") {
    val ledger = new Ledger(spark)
    try {
      val boom: (SparkSession, String) => DataFrame =
        (_, _) => throw new IllegalStateException("boom")
      assert(ledger.time("boom", pass = 1)(boom(spark, dir)).isEmpty)
      spark.range(5).count() // outside any row: counted for none
      val ok = ledger.time("range", pass = 1)(spark.range(10).toDF())
      assert(ok.isDefined)
      // events arrive in order, so once the range row's task is counted
      // the unattributed job before it has been seen too
      eventually(timeout(Span(30, Seconds))) {
        assert(ledger.entries.find(_.row == "range").get.count("tasks") >= 1)
      }
      val e = ledger.entries.find(_.row == "boom").get
      assert(e.counted.forall(_ == 0), e.json)
      assert(e.status == "error")
      assert(e.error.contains("IllegalStateException: boom"))
      assert(e.json.contains("\"status\":\"error\""))
      assert(e.json.contains("\"error\":\"IllegalStateException: boom\""))
      val (passes, failed) = Bench.tally(ledger.entries, nRuns = 1)
      assert(failed == Set("boom"))
      assert(passes == Seq(Map("range" -> ok.get)))
    } finally ledger.detach()
  }

  test("a failing construction-only row and a failing retry also fail the row") {
    val ledger = new Ledger(spark)
    try {
      assert(ledger.construct("_pin:_build_x", pass = 1)(
        sys.error("no frames")).isEmpty)
      assert(ledger.time("flaky", pass = 1)(spark.range(3).toDF()).isDefined)
      assert(ledger.time("flaky", pass = 1, retry = true)(
        sys.error("retry failed")).isEmpty)
      val (passes, failed) = Bench.tally(ledger.entries, nRuns = 1)
      assert(failed == Set("_pin:_build_x", "flaky"))
      assert(passes == Seq(Map.empty))
    } finally ledger.detach()
  }

  test("a fixture query runs jobs and its phases sum to its wall time") {
    val ledger = new Ledger(spark)
    try {
      val q = SparkEntry.queries("rel_pricing_summary")
      assert(ledger.time("rel_pricing_summary", pass = 1)(q(spark, dir)).isDefined)
      eventually(timeout(Span(30, Seconds))) {
        val e = ledger.entries.head
        assert(e.ok)
        assert(e.count("jobs") >= 1)
        assert(e.count("stages") >= 1 && e.count("tasks") >= e.count("stages"))
      }
      val e = ledger.entries.head
      val sum = e.build_s + e.optimization_s + e.planning_s + e.exec_s
      assert(math.abs(sum - e.wall_s) <= math.max(0.05 * e.wall_s, 0.010),
        s"phases $sum s vs wall ${e.wall_s} s: ${e.json}")
      assert(e.analysis_s <= e.build_s + 0.002)
    } finally ledger.detach()
  }
}
