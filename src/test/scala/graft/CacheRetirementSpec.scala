package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Shared

/** The session-cache retirement policy (round-13 verdict item 1,
  * hardened round 15): a 207-query sweep must not accumulate dead
  * persisted blocks across queries — at sf10 that accumulation was
  * ~55 G of scratch and the single-JVM suite ENOSPC'd. Two
  * mechanisms, both engine-level: anonymous per-query transients are
  * retired as soon as their query finishes
  * ([[Shared.retireTransients]]), and the memoized cross-query
  * families live under a byte budget ([[Shared.enforceBudget]]) —
  * eviction drops the frame from the memo too, so a late consumer
  * transparently rebuilds it (visible recompute, never a wrong
  * answer).
  *
  * Round 15 policy (the round-14 sf10 thrash fix): eviction is
  * weighted by measured rebuild cost — cheapest rebuild per byte
  * freed goes first, so the quadratic match family (the most
  * expensive build in the suite) is the LAST thing dropped — and
  * frames touched by the query that just finished are protected
  * until everything older is gone (under a family-clustered sweep
  * they are exactly what the next query re-reads). Accounting is one
  * storage snapshot with per-frame sizes (GraftCacheProbe), not the
  * round-14 re-poll of the lagging global total.
  */
class CacheRetirementSpec extends AnyFunSuite {
  import TestSpark._

  test("retireTransients unpersists anonymous tracked frames") {
    val df = Shared.track(
      spark.range(0, 1000).toDF("x").persist(StorageLevel.MEMORY_AND_DISK))
    df.count()
    assert(df.storageLevel !== StorageLevel.NONE)
    Shared.retireTransients()
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("memoized materializes eagerly: the frame has accounted storage " +
      "before any consumer acts on it") {
    Shared.clear()
    val m = Shared.memoized(spark, "/cache-spec-eager", "fam")(
      spark.range(0, 12345).toDF("x"))
    // no .count() here — memoized itself must have materialized
    val id = org.apache.spark.sql.GraftCacheProbe.cachedRddId(m)
    assert(id.isDefined, "cached buffers not built at memoization time")
    assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
      i.id == id.get && i.memSize + i.diskSize > 0),
      "materialized frame has no storage entry")
    Shared.clear()
  }

  test("enforceBudget evicts the cheapest rebuild per byte first and " +
      "an evicted family rebuilds on next access") {
    Shared.clear()
    // ranges differ: the cache manager matches CANONICALIZED plans
    // (aliases erased), so two identical ranges would share one cache
    // entry and unpersisting one would drop both
    val dir = "/cache-spec"
    val cheap = Shared.memoized(spark, dir, "famCheap")(
      spark.range(0, 60000).toDF("x"))
    val dear = Shared.memoized(spark, dir, "famDear")(
      spark.range(0, 50000).toDF("y"))
    // injected costs: famCheap rebuilds in ~no time, famDear is the
    // quadratic family — wall-clock-measured costs would be flaky here
    Shared.setBuildCostForTest(spark, dir, "famCheap", 0.001)
    Shared.setBuildCostForTest(spark, dir, "famDear", 100.0)
    // age both frames out of the protected (current-epoch) set
    Shared.enforceBudget(spark, Long.MaxValue)
    def total = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    val t0 = total
    assert(t0 > 0L)
    // one byte over budget: exactly the cheap-per-byte frame must go,
    // the expensive family must survive — the opposite of what byte-
    // blind LRU did at sf10 (famCheap is also the LARGER frame, so
    // size alone would pick it too; the next test isolates cost)
    Shared.enforceBudget(spark, t0 - 1)
    assert(cheap.storageLevel === StorageLevel.NONE,
      "cheap-rebuild frame not evicted")
    assert(dear.storageLevel !== StorageLevel.NONE,
      "expensive family wrongly evicted")
    // evicted family rebuilds: the memo no longer returns the old frame
    var rebuilt = false
    val c2 = Shared.memoized(spark, dir, "famCheap") {
      rebuilt = true; spark.range(0, 10).toDF("x")
    }
    assert(rebuilt, "evicted family must rebuild on next access")
    assert(!(c2 eq cheap))
    // a generous budget evicts nothing
    val dearBefore = dear.storageLevel
    Shared.enforceBudget(spark, Long.MaxValue)
    assert(dear.storageLevel === dearBefore)
    Shared.clear()
  }

  test("rebuild cost outranks size: a small expensive frame outlives a " +
      "large cheap one") {
    Shared.clear()
    val dir = "/cache-spec-cost"
    val big = Shared.memoized(spark, dir, "bigCheap")(
      spark.range(0, 80000).toDF("x"))
    val small = Shared.memoized(spark, dir, "smallDear")(
      spark.range(0, 20000).toDF("y"))
    Shared.setBuildCostForTest(spark, dir, "bigCheap", 0.001)
    Shared.setBuildCostForTest(spark, dir, "smallDear", 100.0)
    Shared.enforceBudget(spark, Long.MaxValue) // age out of protection
    def total = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    Shared.enforceBudget(spark, total - 1)
    assert(big.storageLevel === StorageLevel.NONE)
    assert(small.storageLevel !== StorageLevel.NONE)
    Shared.clear()
  }

  test("frames touched by the just-finished query are evicted last") {
    Shared.clear()
    val dir = "/cache-spec-epoch"
    // ranges differ: identical ranges canonicalize to ONE cache entry
    val recent = Shared.memoized(spark, dir, "famRecent")(
      spark.range(0, 50000).toDF("x"))
    val old = Shared.memoized(spark, dir, "famOld")(
      spark.range(0, 51000).toDF("y"))
    // make famRecent the CHEAPER eviction on cost grounds — protection
    // must still save it
    Shared.setBuildCostForTest(spark, dir, "famRecent", 0.001)
    Shared.setBuildCostForTest(spark, dir, "famOld", 100.0)
    Shared.enforceBudget(spark, Long.MaxValue) // epoch tick: both old
    // famRecent is re-touched by the "current query"
    Shared.memoized(spark, dir, "famRecent")(
      fail("famRecent must still be memoized"))
    def total = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    Shared.enforceBudget(spark, total - 1)
    assert(old.storageLevel === StorageLevel.NONE,
      "unprotected frame not evicted")
    assert(recent.storageLevel !== StorageLevel.NONE,
      "frame touched by the just-finished query wrongly evicted")
    Shared.clear()
  }

  test("budget default derives from the scratch volume and the env " +
      "override path is crash-safe by construction") {
    // the default is min(60% of free scratch, free − shuffle headroom)
    // at startup, floored at min(1 GiB, free/2) — positive on any box,
    // and never above the volume's actual free space
    assert(Shared.cacheBudgetBytes > 0L)
  }

  test("evictionPlan: a cheap single cover beats the best " +
      "bytes-per-second ratio (the round-15 q43 scenario)") {
    // the sf10 state at q43: 2.5 G over budget; pivotedScores (25 G,
    // 148 s) has the best ratio, but a 3 G frame at 80 s covers the
    // whole deficit for half the rebuild cost — and two sub-GiB
    // frames would be cheaper still if either covered alone
    val plan = Shared.evictionPlan(Seq(
      ("pivotedScores", 25L << 30, 148.0, false),
      ("dupPairs", 3L << 30, 80.0, false),
      ("shingleTf3", 1L << 29, 44.0, false),
      ("pairScores6", 55L << 20, 3.9, false)),
      deficit = (5L << 29)) // 2.5 GiB
    assert(plan === Seq("dupPairs"),
      s"expected the cheapest single cover, got $plan")
  }

  test("evictionPlan: without a single cover, ratio-greedy until one " +
      "appears; protected frames go last") {
    // deficit 6 G, biggest unprotected frame 4 G: no single cover —
    // take the best ratio (bigCheap), leaving 2 G, now covered by the
    // cheapest cover among the rest
    val plan = Shared.evictionPlan(Seq(
      ("bigCheap", 4L << 30, 10.0, false),
      ("midA", 3L << 30, 90.0, false),
      ("midB", 3L << 30, 60.0, false),
      ("hot", 8L << 30, 5.0, true)),
      deficit = 6L << 30)
    assert(plan === Seq("bigCheap", "midB"))
    // only a protected frame can cover: unprotected exhaust first
    val plan2 = Shared.evictionPlan(Seq(
      ("small", 1L << 30, 1.0, false),
      ("hot", 8L << 30, 5.0, true)),
      deficit = 6L << 30)
    assert(plan2 === Seq("small", "hot"))
  }

  test("releaseMemo drops families by key prefix and they rebuild on " +
      "next access") {
    Shared.clear()
    val dir = "/cache-spec-release"
    val a = Shared.memoized(spark, dir, "famK8")(
      spark.range(0, 30000).toDF("x"))
    val b = Shared.memoized(spark, dir, "other")(
      spark.range(0, 31000).toDF("y"))
    // prefix match: "famK" catches the parameterized "famK8" key
    Shared.releaseMemo("famK")
    assert(a.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "released family still persisted")
    assert(b.storageLevel !== org.apache.spark.storage.StorageLevel.NONE,
      "unrelated family wrongly released")
    var rebuilt = false
    Shared.memoized(spark, dir, "famK8") {
      rebuilt = true; spark.range(0, 10).toDF("x")
    }
    assert(rebuilt, "released family must rebuild on next access")
    Shared.clear()
  }

  test("twin memo keys sharing one physical cache entry are accounted " +
      "once and evicted together") {
    Shared.clear()
    val dir = "/cache-spec-twins"
    // canonically-equal plans: the CacheManager keeps ONE entry, so
    // both memo keys resolve to the same storage RDD. Per-key
    // accounting would double-count the bytes, and evicting one key
    // would silently unpersist the twin while it stayed in the memo —
    // recomputing on EVERY later access with no cache (ADVICE r15)
    val a = Shared.memoized(spark, dir, "twinA")(
      spark.range(0, 40000).toDF("n"))
    val b = Shared.memoized(spark, dir, "twinB")(
      spark.range(0, 40000).toDF("n"))
    import org.apache.spark.sql.GraftCacheProbe
    assert(GraftCacheProbe.cachedRddId(a) === GraftCacheProbe.cachedRddId(b),
      "fixture broke: twins no longer share a cache entry")
    Shared.enforceBudget(spark, Long.MaxValue) // age out of protection
    Shared.enforceBudget(spark, 1L)            // evict everything
    assert(a.storageLevel === StorageLevel.NONE)
    // BOTH keys must be out of the memo: the next access of either
    // twin rebuilds (and re-persists) instead of recomputing forever
    var rebuilt = false
    Shared.memoized(spark, dir, "twinB") {
      rebuilt = true; spark.range(0, 40000).toDF("n")
    }
    assert(rebuilt,
      "twinB stayed memoized after its shared cache entry was evicted")
    Shared.clear()
  }

  test("clear resets touch attribution: a new sweep starts clean") {
    Shared.clear()
    Shared.beginQuery("qXX_probe")
    Shared.memoized(spark, "/cache-spec-touch", "famT")(
      spark.range(0, 10).toDF("x"))
    assert(Shared.touchReport.exists(_._1 == "famT"))
    Shared.clear()
    // without the reset, run 2's warm builds are attributed to run 1's
    // LAST query and the regenerated consumer map drifts (ADVICE r15)
    assert(Shared.touchReport.isEmpty, "touches survived clear()")
    Shared.memoized(spark, "/cache-spec-touch", "famT2")(
      spark.range(0, 10).toDF("x"))
    assert(Shared.touchReport.isEmpty,
      "memo touch recorded with no query attribution set")
    Shared.clear()
  }

  test("a released parent re-prices its derived family at the chain " +
      "cost: the evictor no longer sees it as a near-free victim") {
    Shared.clear()
    val dir = "/cache-spec-chain"
    // real family names: the derivation edge pairScores2→pivotedScores
    // is the declared one (SweepOrder.families)
    val parent = Shared.memoized(spark, dir, "pivotedScores")(
      spark.range(0, 40000).toDF("x"))
    val child = Shared.memoized(spark, dir, "pairScores2")(
      spark.range(0, 41000).toDF("y"))
    val other = Shared.memoized(spark, dir, "famOther")(
      spark.range(0, 42000).toDF("z"))
    Shared.setBuildCostForTest(spark, dir, "pivotedScores", 150.0)
    Shared.setBuildCostForTest(spark, dir, "pairScores2", 0.5)
    Shared.setBuildCostForTest(spark, dir, "famOther", 5.0)
    // parent still cached: the child's price is its own incremental
    assert(Shared.effectiveCostForTest(spark, dir, "pairScores2") === 0.5)
    // scheduler releases the parent (the q19 moment): the child's true
    // rebuild is now the whole chain (ADVICE r16)
    Shared.releaseMemo("pivotedScores")
    assert(Shared.effectiveCostForTest(spark, dir, "pairScores2") === 150.5)
    // and the evictor acts on it: one byte over budget must pick the
    // mid-priced famOther, NOT the incrementally-cheap child whose
    // eviction would re-run the 150 s chain
    Shared.enforceBudget(spark, Long.MaxValue) // age out of protection
    def total = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    Shared.enforceBudget(spark, total - 1)
    assert(other.storageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "expected the truly-cheaper family to go")
    assert(child.storageLevel !== org.apache.spark.storage.StorageLevel.NONE,
      "derived family evicted at its stale incremental price")
    assert(parent.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    Shared.clear()
  }

  test("effective cost accumulates over multi-level uncached chains") {
    Shared.clear()
    val dir = "/cache-spec-chain2"
    // only the deepest frame is cached; every ancestor (pairScores2 →
    // pivotedScores → partScores/partSuppScores → partCands) is absent
    // but priced — rebuilding pairScores3 rebuilds them all
    Shared.memoized(spark, dir, "pairScores3")(
      spark.range(0, 1000).toDF("x"))
    Shared.setBuildCostForTest(spark, dir, "pairScores3", 1.0)
    Shared.setBuildCostForTest(spark, dir, "pairScores2", 2.0)
    Shared.setBuildCostForTest(spark, dir, "pivotedScores", 40.0)
    Shared.setBuildCostForTest(spark, dir, "partScores", 80.0)
    Shared.setBuildCostForTest(spark, dir, "partSuppScores", 70.0)
    Shared.setBuildCostForTest(spark, dir, "partCands", 30.0)
    assert(Shared.effectiveCostForTest(spark, dir, "pairScores3")
      === (1.0 + 2.0 + 40.0 + 80.0 + 70.0 + 30.0))
    Shared.clear()
  }

  test("derived budget is never 0: a near-full scratch volume keeps " +
      "eviction LIVE instead of disabling it (ADVICE r16)") {
    // usable ≈ 0 made the round-16 formula return 0, which
    // enforceBudget reads as 'disabled' — eviction off exactly when
    // the disk is most constrained
    assert(Shared.derivedBudget(0L, 16L << 30) === (64L << 20))
    assert(Shared.derivedBudget(100L << 20, 16L << 30) === (64L << 20))
    // healthy volumes unchanged: 60% binds on a big box...
    assert(Shared.derivedBudget(100L << 30, 16L << 30) === (60L << 30))
    // ...free−headroom binds when they cross; floor min(1G, free/2)
    assert(Shared.derivedBudget(20L << 30, 16L << 30) === (4L << 30))
  }

  test("headroom sizes to the observed shuffle watermark with the " +
      "measured 16 GiB constant as the big-box floor ceiling") {
    val G = 1L << 30
    // big box, nothing observed yet: the measured constant
    assert(Shared.headroomBytes(0L, 100 * G) === 16 * G)
    // small-scratch box: proportionate floor, not 16 GiB flat
    assert(Shared.headroomBytes(0L, 24 * G) === 6 * G)
    // observed transient dominates once it exceeds half the floor
    assert(Shared.headroomBytes(10 * G, 100 * G) === 20 * G)
    assert(Shared.headroomBytes(5 * G, 24 * G) === 10 * G)
    // the startup budget equals the watermark-0 derivation
    assert(Shared.cacheBudgetBytes > 0L)
    assert(Shared.currentBudget > 0L)
  }

  test("clear drops everything: memo, stamps, and transients") {
    val m = Shared.memoized(spark, "/cache-spec2", "fam")(
      spark.range(0, 100).toDF("x"))
    m.count()
    val t = Shared.track(
      spark.range(0, 100).toDF("x").persist(StorageLevel.MEMORY_AND_DISK))
    t.count()
    Shared.clear()
    assert(m.storageLevel === StorageLevel.NONE)
    assert(t.storageLevel === StorageLevel.NONE)
  }
}
