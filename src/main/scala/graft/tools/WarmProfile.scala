// Round-17 measurement: time each match-family memo layer's build
// individually (the cache_build group-0 decomposition).
// Usage: tools/run.sh graft.tools.WarmProfile <sfDir>
package graft.tools


object WarmProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Session.build(graft.Session.cpus(32))
    def t(what: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[warmprofile] $what ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    // layer order follows the match chain's declared parents
    // (SweepOrder.families), but serial so the attribution is per layer
    // (queries touch the memo via SparkEntry)
    val q = graft.SparkEntry.queries
    t("partCands (q13)")(q("q13_entity_candidates")(spark, dir).count())
    t("partScores (q14)")(q("q14_entity_scores")(spark, dir).count())
    t("partSuppScores+pivot (q19)")(q("q19_score_pivot")(spark, dir).count())
    t("pairScores2+grid (q20)")(q("q20_weight_grid")(spark, dir).count())
    t("pairScores3+grid (q159)")(q("q159_weight_grid_k3")(spark, dir).count())
    t("pairScores6+grid (q199)")(q("q199_weight_grid_k6")(spark, dir).count())
    t("k6walk (q200)")(q("q200_weight_refine_k6")(spark, dir).count())
    try spark.stop() catch { case _: Throwable => () }
  }
}
