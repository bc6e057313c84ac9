package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Ledger rows of the shared-frame prewarm: one per frame's
    * materialization (`_pin:<name>`), plus one per frame's construction
    * (`_pin:_build_<name>`: eager size probes run there, before any
    * frame materializes). */
  private[graft] val PinPrefix = "_pin:"

  /** Per-pass seconds of every registry row from the ledger: the min of
    * a row's attempts in that pass (first run and >5 s retry). A row with
    * any error entry — warm-up and prewarm included — is never timed: it
    * is left out of every pass and returned in the failed set instead.
    * Pin rows break down the prewarm, which is timed as a whole. */
  private[graft] def tally(entries: Seq[Ledger.Entry], nRuns: Int)
      : (Seq[Map[String, Double]], Set[String]) = {
    val failed = entries.filterNot(_.ok).map(_.row).toSet
    val timed = entries.filter(e =>
      e.pass >= 1 && !failed(e.row) && !e.row.startsWith(PinPrefix))
    val passes = (1 to nRuns).map(p =>
      timed.filter(_.pass == p).groupMapReduce(_.row)(_.wall_s)(math.min))
    (passes, failed)
  }

  /** Shared-frame prewarm, timed as its own `_shared_frames` line: each
    * declared frame ([[graft.queries.SharedFrames]]) feeds 2-8 rows, and
    * after a cache clear its build used to land on whichever consumer
    * ran first (10x per-row jumps while family totals stayed flat).
    * Construction (persist + eager size probes) is sequential in
    * declaration order, which is dependency order. Materialization is
    * concurrent (VERDICT r11 #4): builds are exchange-barrier-bound, and
    * racing builds share uncached subtrees at the BlockManager's
    * per-block compute lock. Heaviest first by the `_pin:<name>` seconds
    * this run has recorded; the first prewarm has none and keeps
    * declaration order. */
  private[graft] def prewarm(spark: SparkSession, sfDir: String,
      ledger: Ledger, pass: Int, retry: Boolean): Unit = {
    val frames = graft.queries.SharedFrames.frames.flatMap { case (name, build) =>
      ledger.construct(s"${PinPrefix}_build_$name", pass, retry)(
        graft.operators.PlanCache.reuse(build(spark, sfDir))).map(name -> _)
    }
    val seconds = ledger.entries.filter(_.ok)
      .groupMapReduce(_.row)(_.wall_s)(math.max)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      frames.sortBy { case (n, _) => -seconds.getOrElse(PinPrefix + n, 0.0) }
        .map { case (name, df) =>
          pool.submit(new Runnable {
            def run(): Unit = { ledger.time(PinPrefix + name, pass, retry)(df); () }
          })
        }.foreach(_.get())
    } finally pool.shutdown()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Steady-state certification (VERDICT r7 #6): time the registry
    // SPARK_GRAFT_RUNS times (default 2) and report the per-query MIN —
    // host CPU-steal spikes individual queries 5-10x over steady state
    // (CLAUDE.md), and one contended reading in a single-pass run is
    // indistinguishable from a plan regression. Each pass starts from a
    // cleared cache + a re-timed prewarm, so no pass is cache-warm from
    // the previous one.
    val nRuns = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt)
    // dev-only: comma-separated subset of query names to bench in the
    // given order (cold-vs-warm profiling; repeats get a #n suffix so
    // the warm timing doesn't overwrite the cold one); unset = full
    // registry
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
    def selected: Seq[(String, (SparkSession, String) => DataFrame)] =
      only match {
        case Some(names) =>
          val unknown = names.filterNot(SparkEntry.queries.contains)
          require(unknown.isEmpty,
            s"SPARK_GRAFT_ONLY: unknown queries ${unknown.mkString(", ")}")
          val seen = scala.collection.mutable.Map.empty[String, Int]
          names.map { n =>
            val k = seen.updateWith(n)(c => Some(c.getOrElse(0) + 1)).get
            (if (k == 1) n else s"$n#$k") -> SparkEntry.queries(n)
          }
        // name-sorted: Map iteration order reshuffles whenever the
        // registry grows, silently re-assigning which family member
        // pays a shared sketch's build — a fixed order keeps per-query
        // history comparable across rounds
        case None => SparkEntry.queries.toSeq.sortBy(_._1)
      }
    val spark = GraftSession.fromEnv()
    // one entry per timed row (warm-up rows as pass 0): status, phase
    // split, scheduler counts, PlanCache deltas — see Ledger
    val ledger = new Ledger(spark)
    // untimed warm-up at the TARGET sf: JIT tiering + codegen compilation
    // of the exact AQE plan variants otherwise lands on whichever queries
    // happen to run first (measured ±10s scatter on trivial queries; a
    // smaller-sf warm-up does not compile the same plans)
    val warmupDir = sys.env.getOrElse("SPARK_GRAFT_WARMUP_DIR", sfDir)
    if (new java.io.File(warmupDir).isDirectory && only.isEmpty) {
      SparkEntry.queries.foreach { case (name, fn) =>
        ledger.time(name, pass = 0)(fn(spark, warmupDir))
      }
      spark.catalog.clearCache() // drop warm-up persisted intermediates
      graft.operators.PlanCache.pruneStale()
      // absorb the post-warm-up cliff OUTSIDE any query's timing: freeing
      // ~90 queries' caches leaves a major-GC debt + JIT churn that
      // otherwise lands on whichever query happens to run first
      // (measured 5-20s on a query whose steady-state cost is ~1s)
      System.gc()
      spark.range(50000000L).selectExpr("sum(id)").collect()
    }
    graft.operators.PlanCache.resetStats()
    // One timing pass over the registry: timed prewarm + first pass +
    // outlier retries. Host CPU-steal bursts spike individual queries
    // 5-10x over their steady state (measured: same query 1.5s and 12.4s
    // within one JVM, box otherwise idle); re-time >5s outliers once and
    // keep the min. clearCache first on retry: the first run may have
    // persisted its own intermediates, and a cache-warm retry would
    // understate real cost — but re-prewarm the shared frames
    // UNTIMED afterwards, or the retry pays a rebuild its steady state
    // never sees. Returns the prewarm's seconds, if it ran.
    val RetryOverSec = 5.0
    def onePass(pass: Int): Option[Double] = {
      val shared =
        if (only.isEmpty) {
          val t0 = System.nanoTime()
          prewarm(spark, sfDir, ledger, pass, retry = false)
          Some((System.nanoTime() - t0) / 1e9)
        } else None
      val firstPass = selected.map { case (name, fn) =>
        (name, fn, ledger.time(name, pass)(fn(spark, sfDir))) }
      firstPass.foreach { case (name, fn, t) =>
        if (t.exists(_ > RetryOverSec)) {
          spark.catalog.clearCache()
          graft.operators.PlanCache.pruneStale()
          if (only.isEmpty) prewarm(spark, sfDir, ledger, pass, retry = true)
          ledger.time(name, pass, retry = true)(fn(spark, sfDir))
        }
      }
      shared
    }
    val sharedByPass = (1 to nRuns).map { i =>
      if (i > 1) {
        spark.catalog.clearCache()
        graft.operators.PlanCache.pruneStale()
        System.gc()
      }
      onePass(i)
    }
    val cacheStats = graft.operators.PlanCache.stats
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    // stop() drains the listener bus, so every ledger entry read below
    // carries its complete job/stage/task counts. Teardown must never
    // eat the contract: if stop() throws, a last-line JSON parse would
    // see a stack trace (ADVICE r9) — so report it on stderr instead
    try {
      spark.sparkContext.setLogLevel("ERROR")
      spark.stop()
    } catch {
      case e: Throwable => System.err.println(s"[bench] spark.stop() failed: $e")
    }
    val entries = ledger.entries
    val (rowPasses, failed) = tally(entries, nRuns)
    val passes = rowPasses.zip(sharedByPass).map { case (rows, shared) =>
      rows ++ shared.map("_shared_frames" -> _) }
    // steady state = per-query min across passes; `median` = lower
    // median (for 2 passes that coincides with the min) so no synthetic
    // averaged value ever enters the file
    def combine(f: Seq[Double] => Double): Map[String, Double] =
      passes.flatMap(_.keys).distinct
        .map(k => k -> f(passes.flatMap(_.get(k)))).toMap
    val results = combine(_.min)
    val medians = combine(vs => vs.sorted.apply((vs.size - 1) / 2))
    // first-attempt seconds of every >5 s outlier, keyed row@pass
    val retried = entries.filter(e => e.retry && !e.row.startsWith(PinPrefix))
      .flatMap(r => entries.find(e =>
        e.row == r.row && e.pass == r.pass && !e.retry))
      .map(e => s""""${e.row}@${e.pass}":${e.wall_s}""").mkString("{", ",", "}")
    def fmt(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    def sortByName(m: Map[String, Double]): Seq[(String, Double)] =
      m.toSeq.sortBy(_._1)
    // max over every build of each pin (the cold one; warm re-prewarms
    // are ~0)
    val sharedPins = entries
      .filter(e => e.ok && e.row.startsWith(PinPrefix))
      .groupMapReduce(_.row.stripPrefix(PinPrefix))(_.wall_s)(math.max)
    // the prewarm line is real spent time but NOT a registry query: it
    // counts in the total, is reported in its own field, and is excluded
    // from n_queries (ADVICE r7 — a phantom 178th query otherwise)
    val sharedSec = results.getOrElse("_shared_frames", 0.0)
    val qResults = results - "_shared_frames"
    val total = results.values.sum
    // Full per-query detail: printed first (may scroll out of the
    // harness's bounded tail capture) and persisted next to the build,
    // there with the ledger.
    val perPass = passes.map(p => fmt(sortByName(p))).mkString("[", ",", "]")
    val detail =
      s""""metric":"detail","value":$total,"unit":"sec","n_queries":${qResults.size},"n_failed":${failed.size},"n_runs":$nRuns,"shared_frames_sec":${f"$sharedSec%.3f"},"shared_pins":${fmt(sortByName(sharedPins))},"queries":${fmt(sortByName(qResults))},"median":${fmt(sortByName(medians - "_shared_frames"))},"runs":$perPass,"retried":$retried,"failed":${failed.toSeq.sorted.map(Ledger.jsonString).mkString("[", ",", "]")},"plan_cache":$cacheStats,"sf":"$sfDir""""
    println(s"{$detail}")
    try {
      val p = java.nio.file.Paths.get("bench_detail.json")
      val ledgerJson = entries.map(_.json).mkString("[\n", ",\n", "\n]")
      java.nio.file.Files.write(p,
        s"{$detail,\"ledger\":$ledgerJson}".getBytes("UTF-8"))
    } catch {
      case e: Throwable =>
        System.err.println(
          s"[bench] writing bench_detail.json failed; the file on disk is stale or incomplete: $e")
    }
    // Contract line LAST and compact: the harness keeps only the final
    // ~2000 chars of output, and a 134-entry queries map (~5 KB) gets
    // its opening brace truncated away — so the parseable line carries
    // the total plus a fixed headline subset and stays well under the
    // buffer. Full timings live in the detail line / bench_detail.json.
    // The last five rows are compute-bound (VERDICT r16 #1), so the
    // line also samples rows whose time scales with cores.
    val headline = Seq(
      "rel_pricing_summary", "rel_nation_volume", "rel_top_lineitems",
      "rel_cube_sales", "rel_salted_join", "rel_window_rank",
      "band_file_means", "band_stats", "composite_pivot",
      "dedup_exact", "dedup_minhash_pairs", "dedup_clusters",
      "sim_topk_brute", "sim_topk_ivf", "sim_topk_ivfpq",
      "text_stats", "doc_tfidf_top_terms", "pipe_dedup_keep",
      "evt_asof_attribution", "evt_tumbling_hourly", "mm_byte_stats",
      "dedup_prefix_pairs", "rel_skew_f2_est", "rel_cc_chain",
      "rel_kll_merge_disk", "text_unigram_encode")
    val head = only match {
      case Some(_) => sortByName(qResults)
      case None    => headline.flatMap(n => qResults.get(n).map(n -> _))
    }
    // contract line LAST on stdout, after session teardown: shutdown
    // warnings can otherwise interleave past it in a combined-stream
    // tail capture, and the driver parses the final line as JSON
    val contract =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${qResults.size},"n_failed":${failed.size},"n_runs":$nRuns,"shared_frames_sec":${f"$sharedSec%.3f"},"queries":${fmt(head)},"sf":"$sfDir"}"""
    println(contract)
  }
}
