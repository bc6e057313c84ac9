package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory encoding the engine's recommended
  * configuration, local or cluster. Every knob is overridable afterwards;
  * this is the documented starting point, not a straitjacket.
  */
object GraftSession {

  /** Local session: `cores` executor threads in one JVM. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors,
            appName: String = "graft"): SparkSession =
    tuned(SparkSession.builder().master(s"local[$cores]").appName(appName),
          shufflePartitions = cores).getOrCreate()

  /** The entry points' session: `local[$SPARK_GRAFT_CPUS]` (default 32)
    * with the shuffle width matched, no UI, WARN logs. */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val s = tuned(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply the engine's config profile to any builder (cluster path:
    * caller sets master/deploy; pass the cluster's total cores so the
    * shuffle width matches the execution width). */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b
      // match shuffle width to execution width — the default 200 is wrong
      // in both directions (too many tiny tasks locally, far too few at
      // 1000 executors); AQE coalescing then adapts downward at runtime
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // let AQE re-coalesce the output partitioning of cached plans:
      // iterative operators (connected components) persist tiny
      // intermediates every round, and without this each round re-runs
      // at the full static shuffle width no matter how small the data
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
              "true")
      // engine functions available from SQL without per-session register()
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // deterministic cross-engine timestamps (oracle + fixtures contract)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // split planning: default 128m is right for the 100 TB case; keep
      // explicit so local experiments change it consciously
      .config("spark.sql.files.maxPartitionBytes", "128m")
      // rank-filter pushdown budget: rn <= k filters plan as
      // WindowGroupLimit (map-side top-k before the exchange) only up
      // to this threshold, and the default 1000 silently missed the
      // KLL sketch's cap = 1024 survivor windows — the whole level-0
      // stream then sorted inside one window partition (caught by the
      // round-13 plan audit). 4096 covers every rank filter the engine
      // plans (KMV k = 256, KLL cap = 1024) with headroom; the limit
      // state is k rows per partition — trivially memory-safe
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "4096")
}
