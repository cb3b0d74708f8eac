package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over a DataFrame edge list — the dedup
  * clustering step (reference: GraphX `connectedComponents` in
  * `deduplication/PersonDeduplicationStage.scala:150-159`).
  *
  * One loop, two phases, switched on what the loop observes:
  *  - min-label propagation: each round every node adopts the smallest
  *    label among itself and its neighbours. A round is one
  *    co-partitioned join plus one min aggregate, but fixpoint takes
  *    O(diameter) rounds. The dup-pair forests (q36, q190, q204)
  *    converge in [[MinLabelRounds]].
  *  - large-star/small-star (Kiveris et al., "Connected Components in
  *    MapReduce and Beyond"): any other graph continues on an edge set
  *    with the same components — each node to its label, each edge
  *    between its endpoints' labels. Every round squares path lengths,
  *    so even long chains converge in O(log² n) rounds.
  *
  * Each round frame is `localCheckpoint`ed (constant plan size), and
  * convergence is `observe`d on that same action: no second job. The
  * first round's checkpoint also observes the node count, which sets
  * the round bound, and the round's input rows (nodes plus directed
  * edges), which size every later round frame's partitioning
  * ([[graft.Session.statePartitions]]). Reaching the bound throws:
  * labels are never returned unconverged.
  */
object GraphComponents {

  /** Min-label rounds before the star phase takes over. Two settle a
    * pair forest. On q178's dense core graph at sf1 the star phase
    * after them took half the time of min-label alone (26 rounds); on
    * q162 the two were within run-to-run noise (CHANGES.md). */
  private val MinLabelRounds = 2

  /** Bytes of one (node, comp) or (src, dst) row of round state. */
  private val RowBytes = 24L

  /** nodes: (node); edges: (src, dst), every endpoint a node. Returns
    * (node, comp), comp = the minimum node id of node's component. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame =
    components(nodes, edges, n => MinLabelRounds + squaredLog2(n))

  /** The round bound: O(log² n) for the star phase (Kiveris et al.). */
  private def squaredLog2(n: Long): Int = {
    val l = 64 - java.lang.Long.numberOfLeadingZeros(n)
    l * l
  }

  /** Partitions of the round frames of a graph whose first round
    * reads `rows` rows (nodes plus directed edges). */
  private[graft] def roundPartitions(s: SparkSession, rows: Long): Int =
    graft.Session.statePartitions(s, rows * RowBytes)

  /** [[connectedComponents]] with the round bound as a function of the
    * node count (specs force a small one). */
  private[graft] def components(nodes: DataFrame, edges: DataFrame,
                                maxRounds: Long => Int): DataFrame = {
    var (round, bound, n) = (0, Int.MaxValue, 0L)
    var sig = (-1L, "")
    var converged = false
    // Checkpoint one round frame, observing (count, sum of `value`) on
    // the same action. Min-label only lowers labels, so the label set
    // changed iff the sum did; the star phase's edge set changed iff
    // (count, hash sum) did. Decimal sums cannot overflow; the string
    // form makes an empty frame's null sum compare equal too.
    def step(df: DataFrame, value: Column): DataFrame = {
      if (round == bound) throw new IllegalStateException(
        s"connected components did not converge in $bound rounds " +
          s"on a graph of $n nodes")
      round += 1
      val obs = Observation(s"cc_round_$round")
      val out = df.observe(obs, count(lit(1)).as("n"),
        sum(value.cast("decimal(38,0)")).as("s")).localCheckpoint()
      val cur = (obs.get("n").asInstanceOf[Long], String.valueOf(obs.get("s")))
      converged = cur == sig
      sig = cur
      out
    }

    // both directions of every edge from one pass over `edges` (a
    // derived edge frame, such as q178's core graph, is costly to
    // evaluate), kept for round 1 and the co-partitioned copy below
    val directed = edges.select(explode(array(
        struct(col("src").as("node"), col("dst").as("comp")),
        struct(col("dst").as("node"), col("src").as("comp")))).as("e"))
      .select("e.*")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Round 1 needs no join: every node starts as its own label, so
    // the labels its neighbours offer are their own ids
    val state = Observation("cc_state")
    var labels = step(nodes.select(col("node"), col("node").as("comp"))
      .union(directed).observe(state, count(lit(1)).as("rows"))
      .groupBy("node").agg(min("comp").as("comp")), col("comp"))
    n = sig._1
    bound = maxRounds(n)
    val parts = roundPartitions(nodes.sparkSession,
      state.get("rows").asInstanceOf[Long])
    labels = labels.repartition(parts, col("node"))
    val undirected = directed
      .select(col("node").as("src"), col("comp").as("dst"))
      .repartition(parts, col("src"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // (neighbour, label) for every edge: co-partitioned with labels
    def neighbourLabels(l: DataFrame): DataFrame =
      undirected.join(l, undirected("src") === l("node"))
        .select(undirected("dst").as("node"), col("comp"))

    try {
      while (!converged && round < MinLabelRounds)
        labels = step(labels.union(neighbourLabels(labels))
          .repartition(parts, col("node"))
          .groupBy("node").agg(min("comp").as("comp")), col("comp"))
      if (converged) labels
      else {
        // canonical (hi, lo) edge set, hash-partitioned on hi
        def canon(a: String, b: String)(df: DataFrame): DataFrame =
          df.filter(col(a) =!= col(b))
            .select(greatest(col(a), col(b)).as("u"),
              least(col(a), col(b)).as("v"))
            .repartition(parts, col("u"))
            .distinct()
        val edgeHash = xxhash64(col("u"), col("v"))
        sig = (-1L, "")
        // an edge inside a labelled cluster maps to a self-loop and
        // drops out, so the star phase starts on far fewer edges
        val mapped = neighbourLabels(labels)
          .join(labels.select(col("node"), col("comp").as("c")), "node")
          .select("comp", "c")
        var e = step(canon("comp", "c")(
          labels.select(col("node").as("comp"), col("comp").as("c"))
            .union(mapped)), edgeHash)
        while (!converged) {
          // large-star: hang every larger neighbour of u onto the
          // minimum of u's closed neighbourhood
          val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
            .repartition(parts, col("u"))
          val minsL = sym.groupBy("u").agg(min("v").as("mv"))
            .select(col("u"), least(col("mv"), col("u")).as("m"))
          val large = canon("a", "b")(sym.join(minsL, "u")
            .filter(col("v") > col("u"))
            .select(col("v").as("a"), col("m").as("b")))
          // small-star: in (hi, lo) orientation every neighbour of u is
          // smaller, so re-hang them (and u) onto their minimum
          val minsS = large.groupBy("u").agg(min("v").as("m"))
          e = step(canon("a", "b")(
            large.join(minsS, "u").select(col("v").as("a"), col("m").as("b"))
              .union(minsS.select(col("u").as("a"), col("m").as("b")))),
            edgeHash)
        }
        // the fixpoint is a star forest rooted at each component's min
        val roots = e.groupBy("u").agg(min("v").as("root"))
        labels.join(roots, col("node") === col("u"), "left")
          .select(col("node"), coalesce(col("root"), col("node")).as("comp"))
      }
    } finally { undirected.unpersist(); directed.unpersist() }
  }
}
