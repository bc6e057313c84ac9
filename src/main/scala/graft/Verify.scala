package graft
import java.nio.file.{Files, Paths}
import Ledger.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev-only third arg: comma-separated query-name subset (the driver
    // always passes two args → full registry)
    val subset: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').map(_.trim).toSet) else None
    val selected = subset match {
      case Some(names) =>
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    val spark = GraftSession.fromEnv()
    new java.io.File(outDir).mkdirs()
    // Fail LOUDLY, not by omission: a query whose plan fails to build must
    // leave a durable per-query error artifact, or a systemic regression
    // (e.g. a fixture-schema drift breaking a shared loader) masquerades
    // as a smaller, fully-green registry in the driver's compare.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      // clear any PREVIOUS run's output first: a failing query must leave
      // an absent directory (loud checker error), not stale parquet that
      // silently grades as the old result
      val dest = new java.io.File(s"$outDir/$name")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      try {
        if (dest.exists()) rm(dest)
        Files.deleteIfExists(Paths.get(s"$outDir/$name.ERROR"))
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(dest.getPath)
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        System.err.println(s"[verify] $name failed: $msg")
        errors(name) = msg
        try { if (dest.exists()) rm(dest) } catch { case _: Throwable => () }
        try Files.writeString(Paths.get(s"$outDir/$name.ERROR"), msg + "\n")
        catch { case _: Throwable => () }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure roster (empty object when all green) —
    // oracle_check.py reads this and counts every entry as a FAIL, even
    // for rows-only queries that have no oracle SQL to trip over.
    val errJson = errors
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(
        s"[verify] ${errors.size} of ${selected.size} queries FAILED: " +
        errors.keys.mkString(", "))
    graft.operators.PlanCache.releaseAll() // explicit persist lifecycle
    spark.stop()
  }
}
