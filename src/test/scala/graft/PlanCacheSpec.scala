package graft

import org.apache.spark.storage.StorageLevel

import graft.operators.PlanCache
import graft.queries.SharedFrames

/** Lifecycle contract of the plan-reuse persist registry: idempotence on
  * cached plans, scoped release, full release — and the declared shared
  * frames Bench prewarms through it. */
class PlanCacheSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("reuse is idempotent on already-cached plans") {
    PlanCache.releaseAll()
    val df = spark.range(0, 50).toDF()
    PlanCache.reuse(df)
    val n = PlanCache.stats("live")
    PlanCache.reuse(df) // same (now cached) plan — must not re-track
    PlanCache.reuse(spark.range(0, 50).toDF()) // same plan, new instance
    assert(PlanCache.stats("live") == n)
    PlanCache.releaseAll()
  }

  test("releaseAll unpersists everything and empties the registry") {
    PlanCache.releaseAll()
    val dfs = (0 until 3).map(i => spark.range(i * 7, i * 7 + 10).toDF())
    dfs.foreach(PlanCache.reuse)
    assert(PlanCache.stats("live") == 3)
    PlanCache.releaseAll()
    assert(PlanCache.stats("live") == 0)
    assert(dfs.forall(_.storageLevel == StorageLevel.NONE))
  }

  test("scoped releases the frames persisted inside it; earlier ones survive") {
    PlanCache.releaseAll()
    PlanCache.resetStats()
    val before = PlanCache.reuse(spark.range(5000, 5100).toDF())
    val (inner, hit) = PlanCache.scoped {
      val inner = PlanCache.reuse(spark.range(5200, 5300).toDF())
      val hit = PlanCache.reuse(spark.range(5000, 5100).toDF())
      assert(inner.storageLevel != StorageLevel.NONE)
      assert(PlanCache.stats("live") == 2)
      (inner, hit)
    }
    assert(inner.storageLevel == StorageLevel.NONE,
      "a frame persisted inside the scope is released at its end")
    assert(before.storageLevel != StorageLevel.NONE &&
           hit.storageLevel != StorageLevel.NONE,
      "a frame cached before the scope, and hit inside it, survives")
    assert(PlanCache.stats("live") == 1)
    assert(PlanCache.stats("live_max") == 2)
    PlanCache.releaseAll()
  }

  test("declared shared frames: unique names") {
    val names = SharedFrames.frames.map(_._1)
    assert(names.distinct == names, names.diff(names.distinct))
  }

  test("one prewarm persists every declared frame; rebuilding them misses nothing") {
    PlanCache.releaseAll()
    val ledger = new Ledger(spark)
    try Bench.prewarm(spark, dir, ledger, pass = 1, retry = false)
    finally ledger.detach()
    val rows = ledger.entries
    assert(rows.forall(_.ok), rows.filterNot(_.ok).map(e => e.row -> e.error))
    SharedFrames.frames.foreach { case (name, _) =>
      assert(rows.exists(_.row == s"${Bench.PinPrefix}_build_$name"), name)
      assert(rows.exists(_.row == Bench.PinPrefix + name), name)
    }
    // constructing the list a second time: every plan is already cached
    val misses = PlanCache.stats("misses")
    val again = SharedFrames.frames.map { case (name, build) =>
      name -> PlanCache.reuse(build(spark, dir))
    }
    again.foreach { case (name, df) =>
      assert(df.storageLevel != StorageLevel.NONE, s"$name is not cached")
    }
    assert(PlanCache.stats("misses") == misses,
      "a rebuilt shared frame issued a new persist")
    PlanCache.releaseAll()
  }
}
