package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import graft.SparkEntry

/** Dev-only: print the formatted physical plan of selected queries.
  * With `--exec` each query runs first, so the plan printed is AQE's
  * FINAL adaptive plan (runtime join-strategy conversions, coalesced
  * reads), followed by its per-operator runtime metrics (rows, shuffle
  * bytes, spills). A query that fails to run fails the tool.
  * Usage: runMain graft.tools.Explain <sfDir> [--exec] <queryName> [queryName...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.GraftSession.fromEnv()
    val exec = args.contains("--exec")
    val names0 = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq
    val names = names0.filterNot(_ == "--exec")
    try names.foreach { n =>
      println(s"\n########## $n ##########")
      val df = SparkEntry.queries(n)(spark, dir)
      if (exec) df.queryExecution.toRdd.count()
      df.explain("formatted")
      if (exec) {
        println(s"########## metrics: $n ##########")
        printMetrics(df.queryExecution.executedPlan)
      }
    } finally spark.stop()
  }

  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => finalPlan(a.executedPlan)
    case q: QueryStageExec => finalPlan(q.plan)
    case other => other
  }

  private val Interesting = Set("numOutputRows", "dataSize", "spillSize",
    "shuffleBytesWritten", "recordsRead", "numFiles", "peakMemory")

  /** One line per operator of the executed plan, with its nonzero
    * metrics; reused/united subqueries are followed via innerChildren. */
  private def printMetrics(p: SparkPlan, depth: Int = 0): Unit = {
    val plan = finalPlan(p)
    val ms = plan.metrics.collect {
      case (k, v) if Interesting(k) && v.value > 0 => s"$k=${v.value}"
    }.mkString(" ")
    println(("  " * depth) + plan.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
    (plan.children ++ plan.innerChildren.collect { case sp: SparkPlan => sp })
      .foreach(printMetrics(_, depth + 1))
  }
}
