package graft

import org.apache.spark.sql.SparkSession
import graft.queries._

/** The memo families, each declared once, and the family-clustered
  * sweep derived from them (Bench, Verify and the query spec run it).
  *
  * The round-14 sf10 run measured WHY order matters: the ~31 GiB
  * matchPairs/partScores family exceeds any reasonable cache budget
  * together with the other memo families, and its consumers were
  * scattered across the alphabetical sweep (q13…q20, then q43/q44,
  * then q72, then q159–161, then q199–203) — so the budget evicted
  * and the consumers rebuilt it ~15 times (101 evictions, 2.54×
  * like-for-like). Running each memo family's consumers CONTIGUOUSLY
  * bounds rebuilds to at most one per family regardless of budget,
  * which is exactly how a user would schedule a multi-query session
  * over shared intermediates.
  *
  * Everything the sweep knows about a family comes from its
  * [[Family]] declaration: the sweep groups are the connected
  * components of the family/consumer/parent graph, numbered by their
  * smallest consumer id, with the queries that touch no family last
  * (their transients are retired per-query, so they exert no cache
  * pressure on anyone); the staged warm builds a group's families
  * ([[graft.queries.Shared.warmGroup]]); the cluster openers come from
  * the parents, and the release points from the consumers. The query
  * spec checks the declared consumers against the memo touches a
  * sweep observes, in both directions.
  */
object SweepOrder {

  /** One cross-query memo family: its memo-key prefix (parameterized
    * keys carry scale-derived suffixes, e.g. kmeans⟨K⟩), the families
    * its build reads, the queries that read it in a warm sweep, and
    * the accessor that builds (memoizes) it. Parents are declared
    * before their children. */
  final case class Family(key: String, parents: Seq[String],
                          consumers: Set[String],
                          build: (SparkSession, String) => Unit)

  val families: Seq[Family] = {
    import MatchingQueries._
    import VectorQueries._
    Seq(
      // the quadratic match chain
      Family("partCands", Nil, Set("q13_entity_candidates"), partCands(_, _)),
      Family("partScores", Seq("partCands"), Set("q14_entity_scores",
        "q15_type_filter", "q16_date_filter", "q17_multitype_filter",
        "q18_match_stats", "q43_total_score", "q44_pair_dedup",
        "q71_rank_eval", "q94_matcher_pipeline"), partScores(_, _)),
      Family("partSuppScores", Nil, Set("q17_multitype_filter",
        "q43_total_score", "q94_matcher_pipeline"), partSuppScores(_, _)),
      // q20/q72 consume the memoized pairScores2 INTERSECTION since
      // round 16, leaving q19 as the pivot's only consumer — so the
      // ~25 GiB (sf10) frame releases at the cluster's start instead of
      // sitting resident until q72
      Family("pivotedScores", Seq("partScores", "partSuppScores"),
        Set("q19_score_pivot"), pivotedScores(_, _)),
      Family("pairScores2", Seq("pivotedScores"),
        Set("q20_weight_grid", "q72_weight_refine"), weightPairScores(_, _)),
      // q160 reads the memoized k3 walk since round 17; q161 still
      // reads the score table directly for serving
      Family("pairScores3", Seq("pairScores2"),
        Set("q159_weight_grid_k3", "q161_trained_total"),
        weightPairScores3(_, _)),
      Family("pairScores6", Seq("pairScores2"),
        Set("q199_weight_grid_k6", "q203_trained_total_k6"),
        weightPairScores6(_, _)),
      Family("k3walk", Seq("pairScores3"),
        Set("q160_weight_refine_k3", "q161_trained_total"), k3Walk(_, _)),
      Family("k6walk", Seq("pairScores6"),
        Set("q200_weight_refine_k6", "q203_trained_total_k6"), k6Walk(_, _)),
      // text dedup
      Family("dupPairs", Nil, Set("q26_lsh_dup_pairs",
        "q36_connected_components", "q59_level2_hamming",
        "q93_curation_pipeline", "q105_survivorship", "q111_curation_report",
        "q123_split_leakage", "q129_triangles", "q153_degree_dist",
        "q190_incremental_cc", "q193_source_contamination",
        "q197_dataset_card", "q204_group_split"), Shared.dupPairs(_, _)),
      Family("simhashes", Nil, Set("q27_simhash", "q45_hamming_pairs",
        "q59_level2_hamming"), Shared.simhashes(_, _)),
      Family("shingleTf3", Nil, Set("q49_rare_words", "q50_sentence_runs",
        "q81_boilerplate_coverage", "q93_curation_pipeline",
        "q111_curation_report", "q197_dataset_card"),
        ParityQueries.shingleTf3(_, _)),
      Family("cosineWeights", Nil, Set("q29_cosine_shingles"),
        TextQueries.cosinePairs(_, _)),
      // vector indexes, and the memoized ANN search legs (each leg =
      // its standalone query + the graders that re-read it)
      // lshBuckets and the pq/ivfpq books and codes are read only by
      // other families' builds
      Family("lshBuckets", Nil, Set(), bucketsOf(_, _)),
      Family("candCosines", Seq("lshBuckets"), Set("q74_embedding_dups",
        "q162_embedding_dup_clusters", "q178_dbscan"), candCosines(_, _)),
      Family("knnEdges", Seq("candCosines"),
        Set("q168_knn_graph", "q171_label_prop"), knnEdges(_, _)),
      Family("kmeans", Nil, Set("q82_kmeans", "q106_semdedup",
        "q164_persisted_index", "q186_tombstone_serve",
        "q187_compaction_report"), (s, d) =>
        kmeansAssignment(s, d, semDedupK(Tables.embeddings(s, d).count()))),
      // pqIndex/ivfPqIndex build a book and its codes together
      Family("pqCodebook", Nil, Set(), pqIndex(_, _)),
      Family("pqCodes", Seq("pqCodebook"), Set(), pqIndex(_, _)),
      Family("ivfpqBook", Seq("kmeans"), Set(), ivfPqIndex(_, _)),
      Family("ivfpqCodes", Seq("ivfpqBook", "kmeans"), Set(), ivfPqIndex(_, _)),
      Family("annBrute", Nil, Set("q30_knn_brute", "q118_ann_recall",
        "q172_retrieval_metrics", "q188_matryoshka_recall",
        "q194_multiprobe_lsh"), annBrute(_, _)),
      Family("annLsh", Seq("lshBuckets"), Set("q31_knn_lsh",
        "q118_ann_recall", "q172_retrieval_metrics", "q194_multiprobe_lsh"),
        annLsh(_, _)),
      Family("annIvfFlat", Nil, Set("q70_ivf_ann", "q118_ann_recall",
        "q172_retrieval_metrics"), annIvf(_, _)),
      Family("annIvfKmeans", Seq("kmeans"), Set("q158_ivf_kmeans",
        "q118_ann_recall", "q172_retrieval_metrics"), annIvfKmeans(_, _)),
      Family("annSq8", Nil, Set("q166_sq8_ann", "q118_ann_recall",
        "q172_retrieval_metrics"), annSq8(_, _)),
      Family("annPq", Seq("pqCodes"), Set("q173_pq_ann", "q118_ann_recall",
        "q172_retrieval_metrics"), annPq(_, _)),
      Family("annIvfpq", Seq("ivfpqCodes", "kmeans"), Set("q174_ivf_pq",
        "q118_ann_recall", "q172_retrieval_metrics"), annIvfPq(_, _)),
      Family("annMlsh", Seq("lshBuckets"),
        Set("q194_multiprobe_lsh", "q172_retrieval_metrics"), mlshResult(_, _)),
      Family("annMrl", Nil,
        Set("q188_matryoshka_recall", "q172_retrieval_metrics"),
        (s, d) => MrlDims.foreach(mrlResult(s, d, _))),
      Family("mmrCands", Nil, Set("q163_mmr_rerank"), mmrFrames(_, _)),
      Family("mmrSims", Seq("mmrCands"), Set("q163_mmr_rerank"),
        mmrFrames(_, _)),
      // single-query and small graph/vocab families
      Family("mlMinhashTf", Nil, Set("q57_ml_minhash"), MlQueries.q57Tf(_, _)),
      Family("bpeVocab", Nil, Set("q119_bpe_merges", "q131_bpe_encode"),
        NlpQueries.bpeVocab(_, _)),
      Family("prEdges", Nil, Set("q121_pagerank", "q182_trustrank"),
        MiscQueries.prEdges(_, _)))
  }

  private lazy val byKey: Map[String, Family] =
    families.map(f => f.key -> f).toMap

  /** The family a memo key belongs to: the longest declared prefix, so
    * "pqCodes" can never resolve through a shorter sibling key. */
  def familyOf(memoKey: String): Option[Family] =
    families.filter(f => memoKey.startsWith(f.key)).maxByOption(_.key.length)

  // total on ANY name: one not shaped q<digits>… sorts last instead of
  // throwing NumberFormatException out of a harness's startup sort
  // (ADVICE r15 — "".toInt)
  private def numericId(name: String): Int =
    name.drop(1).takeWhile(_.isDigit).toIntOption.getOrElse(Int.MaxValue)

  /** Connected components of the family/consumer/parent graph, ordered
    * by their smallest consumer id: two families link when one is the
    * other's parent or they share a consumer. */
  private lazy val groups: Seq[Seq[Family]] = {
    def linked(a: Family, b: Family) = a.parents.contains(b.key) ||
      b.parents.contains(a.key) || a.consumers.exists(b.consumers)
    families
      .foldLeft(List.empty[List[Family]]) { (comps, f) =>
        val (joined, rest) = comps.partition(_.exists(linked(f, _)))
        (f :: joined.flatten) :: rest
      }
      .map(c => families.filter(c.contains))
      .sortBy(_.flatMap(_.consumers).map(numericId).minOption
        .getOrElse(Int.MaxValue))
  }

  private lazy val groupOf: Map[String, Int] =
    (for ((g, i) <- groups.zipWithIndex; f <- g; q <- f.consumers)
      yield q -> i).toMap

  /** Sweep group of a query name: its family component, or the tail
    * group (one past the last component) when it touches no family. */
  def group(name: String): Int = groupOf.getOrElse(name, groups.size)

  /** The families of sweep group `g` (none for the tail group). */
  def familiesOf(g: Int): Seq[Family] = groups.lift(g).getOrElse(Nil)

  /** Derivation depth of a memo family — how long the rebuild chain
    * under it is: partCands 0, partScores 1, pivotedScores 2, …
    * Deeper chain = costlier rebuild class, without hand-coding
    * per-family sizes here. */
  private def chainDepth(f: Family): Int =
    f.parents.map(p => 1 + chainDepth(byKey(p))).maxOption.getOrElse(0)

  /** Queries that are the SOLE consumer of some memo family, mapped to
    * the deepest chain depth among those families (VERDICT r16 item
    * 1): a family with exactly one consumer should have that consumer
    * OPEN its cluster, so the scheduler releases the frame after the
    * very first query instead of holding it resident across the whole
    * cluster — at sf10 the ~25 GiB pivotedScores plus the score tables
    * together exceed a 40 GiB budget, and in numeric order that
    * residency forced the one round-15 eviction. Deeper-chain
    * (costlier-rebuild-class) openers run first, so q19 opens the
    * match cluster as a CONSEQUENCE of the declarations. */
  private[graft] lazy val openerDepth: Map[String, Int] =
    families
      .collect { case f if f.consumers.size == 1 => f.consumers.head -> chainDepth(f) }
      .groupMapReduce(_._1)(_._2)(math.max)

  /** Sort key: (family group, opener flag, −opener depth, numeric id).
    * Sole-consumer openers lead their group, deepest chain first; ties
    * and everything else run in numeric order; queries touching no
    * memo family run last. */
  def key(name: String): (Int, Int, Int, Int) = {
    val id = numericId(name)
    openerDepth.get(name) match {
      case Some(d) => (group(name), 0, -d, id)
      case None    => (group(name), 1, 0, id)
    }
  }

  def sort[T](qs: Seq[(String, T)]): Seq[(String, T)] =
    qs.sortBy { case (n, _) => key(n) }

  /** index → memo-key prefixes whose last consumer in `order` sits at
    * that index. This is the scheduler's knowledge the byte budget
    * cannot infer: once a family's LAST scheduled consumer has run,
    * its frames are dead weight no matter how expensive they were to
    * build — the sweep releases them right there
    * ([[graft.queries.Shared.releaseMemo]]), so the budget never has
    * to choose between a dead expensive family and a live cheap one.
    * An undeclared consumer of a released family costs one visible
    * rebuild, never a wrong answer. */
  def releaseSchedule(order: Seq[String]): Map[Int, Seq[String]] = {
    val idx = order.zipWithIndex.toMap
    // a family with no consumer of its own (read only by its children's
    // builds) is dead once every child is
    def readers(f: Family): Set[String] =
      if (f.consumers.nonEmpty) f.consumers
      else families.filter(_.parents.contains(f.key)).flatMap(readers).toSet
    families
      .flatMap { f =>
        val hits = readers(f).flatMap(idx.get)
        if (hits.isEmpty) None else Some(f.key -> hits.max)
      }
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
  }

  /** A failure's class and message, for stderr and the bench record. */
  private[graft] def cause(e: Throwable): String =
    s"${e.getClass.getName}: ${e.getMessage}"

  /** Run `qs` as one sweep, in clustered order. A full sweep warms each
    * group's families at its first query, unattributed in the touch
    * report, and forces a GC at each group boundary: the previous
    * cluster's shuffle files are deleted but can stay mmap'd by the
    * JVM until a GC — at sf10 that transient ran whole-disk df
    * 20–40 G above du (round 15's 88 G spike). A subset run does
    * neither: a replayed query builds only what it reads, and must not
    * carry a pause production queries never see (VERDICT r16).
    *
    * Each query is named for the touch report, then handed to `run`;
    * after it, this query's transients are retired, the families whose
    * last consumer it was are released, and the cache budget is
    * enforced — without that a 207-query sf10 sweep accumulates ~55 G
    * of dead rdd blocks and the late heavies ENOSPC on 80 G scratch.
    *
    * Returns the warm seconds and whether every warm succeeded; a
    * failed warm is reported on stderr under `tag` and degrades to
    * lazy per-query builds. */
  def sweep[T](spark: SparkSession, dir: String, qs: Seq[(String, T)],
               full: Boolean, tag: String)
              (run: (String, T) => Unit): (Double, Boolean) = {
    val ordered = sort(qs)
    val releaseAt = releaseSchedule(ordered.map(_._1))
    var warmSec = 0.0
    var warmOk = true
    var prevGroup = -1
    ordered.zipWithIndex.foreach { case ((name, q), i) =>
      val g = group(name)
      if (g != prevGroup) {
        if (prevGroup >= 0 && full) System.gc()
        prevGroup = g
        if (full && Shared.warmable(g)) {
          Shared.beginQuery("")
          val t0 = System.nanoTime()
          try Shared.warmGroup(spark, dir, g) catch { case e: Throwable =>
            warmOk = false
            System.err.println(s"[$tag] cache_build group $g failed: ${cause(e)}")
          }
          warmSec += (System.nanoTime() - t0) / 1e9
          System.err.println(f"[$tag] cache_build group $g, cum $warmSec%.1f s")
        }
      }
      Shared.beginQuery(name)
      run(name, q)
      Shared.retireTransients()
      releaseAt.getOrElse(i, Nil).foreach(Shared.releaseMemo)
      Shared.enforceBudget(spark)
    }
    Shared.beginQuery("")
    (warmSec, warmOk)
  }
}
