package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Score-type weight grid evaluation (reference A9/W3/J7:
  * `matching/stage/WeightTrainerStage.scala:218-256,321-408`).
  *
  * The reference generates the weight simplex through iterated
  * constrained cross joins and walks it with driver threads; the grid
  * itself is tiny (hundreds of rows), so it is built driver-side and
  * every weight point is scored in ONE group-local pass over the
  * labelled pair table ([[scorePoints]]): rank inside the partition
  * that owns the doc1 key, never materialize |pairs|×|points| — the
  * top-k shape of distributed similarity joins over top-k rankings.
  *
  * Totals are micro-quantized before ranking so that rank order (and
  * therefore the error metric) is bit-stable across engines.
  */
object WeightTraining {

  /** 1-D simplex grid over two score types: weight_id i in [0, steps],
    * w1 = i/steps, w2 = 1 - i/steps (driver-side, steps + 1 rows). */
  def twoTypeGrid(spark: SparkSession, steps: Int): DataFrame = {
    import spark.implicits._
    (0 to steps).map(i => (i.toLong, i.toDouble / steps, 1.0 - i.toDouble / steps))
      .toDF("weight_id", "w1", "w2")
  }

  /** Walker-style iterative refinement (reference
    * `WeightTrainerStage.scala:93-147`: coarse Cartographer grid →
    * per-area Walker halving the step until the error stops
    * improving). The 2-type simplex is 1-D, so the walk probes
    * `w1 ± step` around the incumbent, halving `step` each round.
    * The loop is driver-side (data-dependent control flow, SURVEY
    * §7.4-6) but each evaluation is ONE distributed pass over the
    * cached match table via [[evaluateGrid]]; the probed weight set
    * per round is a 3-row driver-side grid.
    *
    * Weights live on the exact integer lattice num/denom with
    * denom = coarseSteps·2^rounds, so every probed weight is a single
    * double division — the same value any other engine computes —
    * instead of an accumulated FP sum (0.2 + 0.1 ≠ 0.3 in doubles).
    * That makes the whole walk unrollable in the DuckDB oracle: the
    * reachable set is the 81-point lattice, and the argmin chain is
    * plain SQL (q72's oracle evaluates all lattice points, then walks).
    *
    * `labeled` is (doc1, doc2, s1, s2, accepted): labels are a column
    * over the pair table (round 17, guide §2.3), so every probe batch
    * is exactly scan → group-local rank → aggregate, with no join in
    * the loop. Returns one row per evaluation round: (round, w1,
    * error) of the incumbent after that round — deterministic given
    * deterministic inputs. */
  def refineWeightsLabeled(spark: SparkSession, labeled: DataFrame,
                           coarseSteps: Int = 5,
                           rounds: Int = 4): DataFrame = {
    import spark.implicits._
    val denom = coarseSteps << rounds
    def errOf(nums: Seq[Int]): Seq[(Int, Long)] = {
      val grid = nums.zipWithIndex
        .map { case (n, i) =>
          (i.toLong, n.toDouble / denom, 1.0 - n.toDouble / denom) }
        .toDF("weight_id", "w1", "w2")
      evaluateGridLabeled(labeled, grid)
        .select("weight_id", "error").collect()
        .map(r => (nums(r.getLong(0).toInt), r.getLong(1))).toSeq
    }
    val coarse = errOf((0 to coarseSteps).map(_ * (denom / coarseSteps)))
    var (bestN, bestErr) = coarse.minBy { case (n, e) => (e, n) }
    val history = Seq.newBuilder[(Int, Double, Long)]
    history += ((0, bestN.toDouble / denom, bestErr))
    var step = denom / coarseSteps / 2
    var round = 1
    while (round <= rounds) {
      val probes = Seq(bestN - step, bestN, bestN + step)
        .filter(n => n >= 0 && n <= denom).distinct
      val (n, e) = errOf(probes).minBy { case (n, e) => (e, n) }
      bestN = n; bestErr = e
      history += ((round, bestN.toDouble / denom, bestErr))
      step /= 2
      round += 1
    }
    history.result().toDF("round", "w1", "error")
  }

  /** Constrained k-type simplex lattice (J7 generalized to the
    * reference's real arity — `WeightTrainerStage.scala:321-456`
    * walks ~9 active score types the same way): every integer point
    * (n_1..n_k) with n_i ≥ 0 and Σ n_i = steps, the set the
    * reference's `generateWeight` builds with iterated constrained
    * cross joins, here enumerated driver-side by [[lattice]] — plus
    * w_i = n_i/steps as a single exact division per axis.
    * C(steps+k−1, k−1) rows: dimension-sized at any corpus scale. */
  def simplexGrid(spark: SparkSession, k: Int, steps: Int): DataFrame = {
    require(k >= 2, s"simplex needs >= 2 score types, got $k")
    pointsFrame(spark, lattice(k, steps), steps)
  }

  /** Integer lattice points as a driver-side grid frame: n1..nk and
    * w_i = n_i/denom. */
  private def pointsFrame(spark: SparkSession, points: Seq[Seq[Int]],
                          denom: Int): DataFrame = {
    val k = points.head.length
    val schema = StructType(
      (1 to k).map(i => StructField(s"n$i", LongType, nullable = false)) ++
        (1 to k).map(i => StructField(s"w$i", DoubleType)))
    val rows = points.map(ns =>
      Row.fromSeq(ns.map(_.toLong) ++ ns.map(_.toDouble / denom)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The [[evaluateGrid]] metric generalized to k score columns:
    * `pairScores` (doc1, doc2, s1..sk) against `grid` (n1..nk, w1..wk),
    * keyed by the lattice coordinates (the deterministic identity of a
    * weight point) and the weights. */
  def evaluateSimplex(pairScores: DataFrame, labels: DataFrame,
                      grid: DataFrame, k: Int): DataFrame =
    evaluateSimplexLabeled(joinLabels(pairScores, labels), grid, k)

  /** [[evaluateSimplex]] over an already-labelled pair table (doc1,
    * doc2, s1..sk, accepted): labels as a column projection instead of
    * a per-evaluation join (round 17, guide §2.3). */
  def evaluateSimplexLabeled(labeled: DataFrame, grid: DataFrame,
                             k: Int): DataFrame =
    scorePoints(labeled, grid,
      (1 to k).map(i => s"n$i") ++ (1 to k).map(i => s"w$i"), k)

  /** The shared label attach: left join + absent-label ⇒ not accepted. */
  private def joinLabels(pairScores: DataFrame, labels: DataFrame): DataFrame =
    pairScores
      .join(labels, Seq("doc1", "doc2"), "left")
      .na.fill(false, Seq("accepted"))

  /** The one evaluation kernel over `labeled` (doc1, doc2, s1..sk,
    * accepted) and a dimension-sized `grid`, collected so each point's
    * w1..wk travel in the closure. One row per point: its `keys`, then
    * error = Σ (rank − 1), n_top1 / n_top3 = ranked first / in the top
    * 3, n_accepted — all over accepted pairs — where rank orders a
    * doc1's pairs by (total_micro desc nulls last, doc2 asc) and
    * total_micro is Spark's `round((w1·s1 + … + wk·sk) · 1e6)` cast to
    * long (left fold, HALF_UP on the shortest decimal repr).
    *
    * Grouping by the doc1 ATTRIBUTE leaves clustering to the planner:
    * the doc1-hash-partitioned pair memos are only sorted in place by
    * (doc1, doc2); other inputs are exchanged on doc1 first. Each group
    * emits a counter row per point, which a partial aggregate collapses
    * in the same stage: only |partitions|×|points| rows are shuffled. */
  private def scorePoints(labeled: DataFrame, grid: DataFrame,
                          keys: Seq[String], k: Int): DataFrame = {
    val wNames = (1 to k).map(i => s"w$i")
    val pts = grid.select((keys ++ wNames).distinct.map(col): _*).collect()
    val ws = pts.map(r => wNames.map(r.getAs[Double]).toArray)
    val in = labeled.select(Seq(col("doc1"), col("doc2")) ++
      (1 to k).map(i => col(s"s$i").cast(DoubleType)) :+ col("accepted"): _*)
    val counterEnc = Encoders.product[(Int, Long, Long, Long, Long)]
    val counters = in.groupBy("doc1")
      .as(Encoders.row(StructType(Seq(in.schema("doc1")))), Encoders.row(in.schema))
      .flatMapSortedGroups(col("doc2"))((_, rows) => rankGroup(rows.toArray, ws))(counterEnc)
      .toDF("pid", "error", "n_top1", "n_top3", "n_accepted")
      .groupBy("pid")
      .agg(sum("error"), sum("n_top1"), sum("n_top3"), sum("n_accepted"))
    val outSchema = StructType(keys.map(grid.schema(_)) ++
      Seq("error", "n_top1", "n_top3", "n_accepted").map(StructField(_, LongType)))
    counters.map(r => Row.fromSeq(keys.map(pts(r.getInt(0)).getAs[Any](_)) ++
      (1 to 4).map(r.getLong)))(Encoders.row(outSchema))
  }

  /** One doc1 group (rows doc2-ascending: doc1, doc2, s1..sk,
    * accepted) ranked under every weight point → (point index, error,
    * n_top1, n_top3, n_accepted). A pair with a null score has a null
    * total (ranked last). */
  private def rankGroup(g: Array[Row], ws: Array[Array[Double]])
      : Iterator[(Int, Long, Long, Long, Long)] = {
    val k = g.head.length - 3
    val sc = g.map(r => if ((2 until 2 + k).exists(r.isNullAt)) null
      else Array.tabulate(k)(i => r.getDouble(2 + i)))
    val acc = g.map(r => !r.isNullAt(k + 2) && r.getBoolean(k + 2))
    val nAcc = acc.count(identity).toLong
    ws.indices.iterator.map { p =>
      val w = ws(p)
      val micro = sc.map { s =>
        if (s == null) 0L
        else {
          var t = w(0) * s(0)
          for (i <- 1 until k) t += w(i) * s(i)
          roundHalfUp(t * 1e6)
        }
      }
      // stable: equal totals keep doc2 order
      val order = g.indices.sortWith((a, b) =>
        if ((sc(a) == null) != (sc(b) == null)) sc(b) == null
        else micro(a) > micro(b))
      var err, top1, top3 = 0L
      for ((j, r) <- order.iterator.zipWithIndex if acc(j)) {
        err += r
        if (r == 0) top1 += 1
        if (r < 3) top3 += 1
      }
      (p, err, top1, top3, nAcc)
    }
  }

  /** Spark's `round(x).cast("long")` on a double: HALF_UP on the
    * shortest decimal repr (functions/Exact.scala). Below 2^40 that
    * repr lies within 2^-13 of x, so unless x is within 1e-3 of a
    * half-way point it rounds the same way as x itself — only the
    * near-half case pays for the decimal conversion. */
  private def roundHalfUp(x: Double): Long = {
    val f = math.floor(x)
    val frac = x - f
    if (math.abs(x) < (1L << 40) && math.abs(frac - 0.5) > 1e-3)
      f.toLong + (if (frac > 0.5) 1 else 0)
    else java.math.BigDecimal.valueOf(x)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue
  }

  /** All integer k-tuples with Σ = sum, in lexicographic order
    * (driver-side; lattices and probe sets are dimension-sized while
    * every EVALUATION stays one distributed pass). */
  private def lattice(k: Int, sum: Int): Seq[Seq[Int]] =
    if (k == 1) Seq(Seq(sum))
    else (0 to sum).flatMap(n => lattice(k - 1, sum - n).map(n +: _))

  /** Walker refinement on the k-type simplex (the [[refineWeightsLabeled]]
    * driver loop generalized past k=2; reference Cartographer+Walker
    * `WeightTrainerStage.scala:93-147,321-456`). Weights live on the
    * exact integer lattice n/denom with denom = coarseSteps·2^rounds:
    * the coarse pass evaluates the steps=coarseSteps sub-simplex
    * (multiples of 2^rounds), then each round probes the incumbent's
    * ±step moves along every ORDERED axis pair (n + step·(e_i − e_j),
    * the unit moves that preserve Σ n = denom — k(k−1) probes, each a
    * valid simplex point by construction) and halves the step. Argmin
    * ties break by (error, lexicographic n) so the walk is
    * deterministic and the DuckDB oracle can unroll it from a
    * full-lattice error table. One distributed pass per round; the
    * probe grid is a ≤ k(k−1)+1 row driver-side frame.
    *
    * Returns one row per round: (round, n1..nk, w1..wk, error) of the
    * incumbent after that round. */
  def refineWeightsSimplex(spark: SparkSession, pairScores: DataFrame,
                           labels: DataFrame, k: Int,
                           coarseSteps: Int = 4, rounds: Int = 3): DataFrame =
    refineWeightsSimplexLabeled(spark, joinLabels(pairScores, labels), k,
      coarseSteps, rounds)

  /** [[refineWeightsSimplex]] over an already-labelled pair table —
    * same rationale as [[refineWeightsLabeled]]: no join or label
    * broadcast inside the walk's probe evaluations (round 17). */
  def refineWeightsSimplexLabeled(spark: SparkSession, labeled: DataFrame,
                                  k: Int, coarseSteps: Int = 4,
                                  rounds: Int = 3): DataFrame = {
    import spark.implicits._
    import scala.math.Ordering.Implicits._
    val denom = coarseSteps << rounds
    def errOf(points: Seq[Seq[Int]]): Seq[(List[Int], Long)] = {
      evaluateSimplexLabeled(labeled, pointsFrame(spark, points, denom), k)
        .select((1 to k).map(i => col(s"n$i")) :+ col("error"): _*)
        .collect()
        .map(r => ((0 until k).map(i => r.getLong(i).toInt).toList,
          r.getLong(k))).toSeq
    }
    val f = denom / coarseSteps // = 2^rounds
    val coarse = errOf(lattice(k, coarseSteps).map(_.map(_ * f)))
    var (bestNs, bestErr) = coarse.minBy { case (ns, e) => (e, ns) }
    val history = Seq.newBuilder[(Int, List[Int], Long)]
    history += ((0, bestNs, bestErr))
    var step = f / 2
    for (round <- 1 to rounds) {
      val probes = (for {
        i <- 0 until k; j <- 0 until k if i != j
        cand = bestNs.updated(i, bestNs(i) + step)
          .updated(j, bestNs(j) - step)
        if cand.forall(n => n >= 0 && n <= denom)
      } yield cand).distinct :+ bestNs
      val (ns, e) = errOf(probes).minBy { case (ns, e) => (e, ns) }
      bestNs = ns; bestErr = e
      history += ((round, bestNs, bestErr))
      step /= 2
    }
    history.result()
      .map { case (r, ns, e) => (r, ns.map(_.toLong), e) }
      .toDF("round", "nums", "error")
      .select(col("round") +:
        ((1 to k).map(i => col("nums")(i - 1).as(s"n$i")) ++
          (1 to k).map(i => (col("nums")(i - 1) / denom.toDouble).as(s"w$i"))) :+
        col("error"): _*)
  }

  /** Evaluate every point of a 2-type `grid` (weight_id, w1, w2) over
    * `pairScores` (doc1, doc2, s1, s2) and `labels` (doc1, doc2,
    * accepted) in one [[scorePoints]] pass, keyed by weight_id. */
  def evaluateGrid(pairScores: DataFrame, labels: DataFrame,
                   grid: DataFrame): DataFrame =
    evaluateGridLabeled(joinLabels(pairScores, labels), grid)

  /** [[evaluateGrid]] over an already-labelled pair table — same
    * no-join-in-the-loop rationale as [[refineWeightsLabeled]]. */
  def evaluateGridLabeled(labeled: DataFrame,
                          grid: DataFrame): DataFrame =
    scorePoints(labeled, grid, Seq("weight_id"), 2)
}
