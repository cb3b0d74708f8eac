package graft

import org.scalatest.funsuite.AnyFunSuite

/** The family-clustered sweep order + scheduler-informed release plan
  * (round 15): the round-14 sf10 run priced what happens without them
  * — 101 evictions, 2.54× like-for-like — because the alphabetical
  * order scattered each memo family's consumers and the byte budget
  * had no knowledge of which families were already dead. Both are
  * derived from the one declaration per family
  * ([[SweepOrder.families]]). */
class SweepOrderSpec extends AnyFunSuite {

  private def consumers(key: String): Set[String] =
    SweepOrder.families.find(_.key == key).get.consumers

  private val names = SparkEntry.queries.keys.toSeq.sorted
  private val ordered = SweepOrder.sort(names.map(_ -> ())).map(_._1)

  /** The no-memo tail group: where a query touching no family sorts. */
  private val tail = SweepOrder.group("q01_pricing_summary")

  test("match-family consumers are contiguous in the clustered order") {
    val matchQs = Seq("partCands", "partScores", "partSuppScores",
      "pivotedScores", "pairScores2", "pairScores3", "pairScores6",
      "k3walk", "k6walk").flatMap(consumers).toSet
    val idxs = ordered.zipWithIndex.collect {
      case (n, i) if matchQs(n) => i
    }
    assert(idxs.nonEmpty)
    assert(idxs.max - idxs.min === idxs.size - 1,
      s"match-family consumers not contiguous: $idxs")
    // the match workload warms group 0: it must stay the match cluster
    assert(matchQs.map(SweepOrder.group) === Set(0))
  }

  test("every declared memo consumer is a real query name") {
    val known = SparkEntry.queries.keySet
    val ghosts = SweepOrder.families.flatMap(_.consumers).toSet -- known
    assert(ghosts.isEmpty, s"consumer map names unknown queries: $ghosts")
  }

  test("parents are declared families, before their children") {
    // warmGroup chains each build on its parents' futures in one pass
    // over the declaration order
    val keys = SweepOrder.families.map(_.key)
    SweepOrder.families.zipWithIndex.foreach { case (f, i) =>
      f.parents.foreach { p =>
        assert(keys.indexOf(p) >= 0 && keys.indexOf(p) < i,
          s"${f.key}: parent $p is not declared before it")
      }
    }
  }

  test("releaseSchedule puts each family at its LAST consumer's index") {
    val order = Seq("q13_entity_candidates", "q14_entity_scores",
      "q94_matcher_pipeline", "q29_cosine_shingles")
    val sched = SweepOrder.releaseSchedule(order)
    assert(sched(0).contains("partCands"))       // only consumer: q13
    assert(sched(2).contains("partScores"))      // last of q14/q94
    assert(sched(2).contains("partSuppScores"))  // last: q94
    assert(sched(3) === Seq("cosineWeights"))
    // families with no consumer in the order are never scheduled
    assert(!sched.values.flatten.toSeq.contains("dupPairs"))
    // a family read only by its children's builds is dead with them
    val lsh = SweepOrder.releaseSchedule(
      Seq("q31_knn_lsh", "q194_multiprobe_lsh", "q01_pricing_summary"))
    assert(lsh(1).contains("lshBuckets"))
  }

  test("key is total: names not shaped q<digits> sort into the tail group") {
    // a harness sorting a mixed name list (e.g. cache_build alongside
    // queries) must not crash on "".toInt (ADVICE r15)
    val last = (tail, 1, 0, Int.MaxValue)
    assert(SweepOrder.key("cache_build") === last)
    assert(SweepOrder.key("") === last)
    assert(SweepOrder.key("q") === last)
    // the tail group is the one after every family group
    assert(SweepOrder.families.flatMap(_.consumers)
      .forall(q => SweepOrder.group(q) < tail))
    // q13 is partCands' sole consumer → an opener (flag 0, depth 0)
    val g = SweepOrder.group("q13_entity_candidates")
    assert(SweepOrder.key("q13_entity_candidates") === ((g, 0, 0, 13)))
    assert(SweepOrder.key("q14_entity_scores") === ((g, 1, 0, 14)))
  }

  test("sole-consumer openers are DERIVED: q19 opens the match cluster " +
      "by chain depth, not by a hard-coded id (VERDICT r16)") {
    // the rule: a query that is the only consumer of a memo family
    // opens its cluster (release-early), deepest derivation chain
    // first. q19/pivotedScores (depth 2) and q13/partCands (depth 0)
    // fall out of the declared consumers and parents — no literal ids.
    assert(SweepOrder.openerDepth("q19_score_pivot") === 2)
    assert(SweepOrder.openerDepth("q13_entity_candidates") === 0)
    assert(!SweepOrder.openerDepth.contains("q14_entity_scores"),
      "q14 shares partScores with eight other consumers — not an opener")
    assert(ordered.take(2) === Seq("q19_score_pivot", "q13_entity_candidates"))
    // and the release schedule drops the big frames right there
    val sched = SweepOrder.releaseSchedule(ordered)
    assert(sched(0) === Seq("pivotedScores"))
    assert(sched(1) === Seq("partCands"))
    // every cluster gets the same treatment for free: each
    // sole-consumer query (q29/cosineWeights, q57/mlMinhashTf,
    // q163/mmrCands+mmrSims among them) leads its own group
    Seq("q29_cosine_shingles", "q57_ml_minhash", "q163_mmr_rerank")
      .foreach(q => assert(SweepOrder.openerDepth.contains(q), q))
    SweepOrder.openerDepth.keys.foreach { q =>
      val grp = ordered.filter(n => SweepOrder.group(n) == SweepOrder.group(q))
      val openers = grp.takeWhile(SweepOrder.openerDepth.contains)
      assert(openers.contains(q), s"$q does not lead its group: $grp")
    }
  }

  test("q70, q166 and q188 share a group with q118") {
    // each of them builds an ANN leg that q118 grades
    val g = SweepOrder.group("q118_ann_recall")
    assert(g < tail)
    Seq("q70_ivf_ann", "q166_sq8_ann", "q188_matryoshka_recall")
      .foreach(q => assert(SweepOrder.group(q) === g, q))
  }

  test("every query that touches a family sorts before every one that " +
      "touches none") {
    val touching = SweepOrder.families.flatMap(_.consumers).toSet
    val lastTouching = ordered.lastIndexWhere(touching)
    val firstNone = ordered.indexWhere(n => !touching(n))
    assert(lastTouching < firstNone,
      s"${ordered(firstNone)} runs before ${ordered(lastTouching)}")
  }

  test("warmGroup 0 leaves exactly the nine match memo keys cached") {
    import TestSpark._
    queries.Shared.clear()
    try {
      queries.Shared.warmGroup(spark, sf, 0)
      assert(queries.Shared.cachedKeysForTest(spark, sf) === Set(
        "partCands", "partScores", "partSuppScores", "pivotedScores",
        "pairScores2", "pairScores3", "pairScores6", "k3walk", "k6walk"))
    } finally queries.Shared.clear()
  }

  test("clustered order covers exactly the input and reverse respects it") {
    assert(ordered.sorted === names)
  }
}
