package graft

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._
import graft.operators.GraphComponents

/** The one connected-components operator: exact labels against a
  * driver-side union-find, the star phase on a long chain, the loud
  * round bound, and partition counts that are derived per frame, never
  * set on the caller's session. */
class StarSpec extends AnyFunSuite {
  import TestSpark._

  private val Key = "spark.sql.shuffle.partitions"

  private def labelsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def dupGraph: (DataFrame, DataFrame) = (
    Tables.documents(spark, sf).select(col("doc_id").as("node")),
    queries.Shared.dupPairs(spark, sf)
      .select(col("doc1").as("src"), col("doc2").as("dst")))

  private def path(n: Long): (DataFrame, DataFrame) = (
    spark.range(0, n).select(col("id").as("node")),
    spark.range(0, n - 1).select(col("id").as("src"), (col("id") + 1).as("dst")))

  test("connectedComponents matches a driver-side union-find on the dup-pair graph") {
    val (nodes, edges) = dupGraph
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent(x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    nodes.collect().foreach(r => parent(r.getLong(0)) = r.getLong(0))
    val pairs = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "the dup-pair graph has no edges at sf0.001")
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // the smaller root wins, so every root is its component's minimum
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(n => (n, find(n))).toSet
    assert(labelsOf(GraphComponents.connectedComponents(nodes, edges)) === expected)
    queries.Shared.clear()
  }

  test("a 256-node path converges well under its diameter") {
    val (nodes, edges) = path(256)
    val zeros = (0L until 256L).map(n => (n, 0L)).toSet
    assert(labelsOf(GraphComponents.connectedComponents(nodes, edges)) === zeros)
    // 20 rounds << diameter 255: min-label alone would need 256, so
    // correct labels within the bound prove the star phase's squaring
    assert(labelsOf(GraphComponents.components(nodes, edges, _ => 20)) === zeros)
  }

  test("reaching the round bound throws, naming the bound and the graph size") {
    val (nodes, edges) = path(256)
    val e = intercept[IllegalStateException](
      GraphComponents.components(nodes, edges, _ => 3))
    assert(e.getMessage.contains("3 rounds"), e.getMessage)
    assert(e.getMessage.contains("256 nodes"), e.getMessage)
  }

  test("CC and stream drains size partitions per frame, never on the caller's session") {
    val before = spark.conf.get(Key)
    val (nodes, edges) = dupGraph
    val parts = GraphComponents.roundPartitions(spark,
      nodes.count() + 2 * edges.count())
    // the derived count must differ from the session's for this to bite
    assert(parts < Session.partitions(spark))
    val minLabel = GraphComponents.connectedComponents(nodes, edges)
    assert(minLabel.rdd.getNumPartitions === parts)
    val (pNodes, pEdges) = path(256)
    val star = GraphComponents.connectedComponents(pNodes, pEdges)
    assert(star.rdd.getNumPartitions ===
      GraphComponents.roundPartitions(spark, 256 + 2 * 255))
    assert(spark.conf.get(Key) === before)
    queries.Shared.clear()

    // a stateful drain latches its state-store count from the private
    // session it starts on; the caller's listeners still see it
    val stateParts = mutable.Buffer[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        stateParts.synchronized {
          stateParts ++= e.progress.stateOperators.map(_.numShufflePartitions)
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      assert(SparkEntry.queries("q155_cdc_update")(spark, sf).count() > 0)
      val derived = Session.statePartitions(spark, Tables.bytes(sf, "events"))
      assert(derived < Session.partitions(spark))
      eventually(timeout(30.seconds)) {
        stateParts.synchronized {
          assert(stateParts.nonEmpty && stateParts.forall(_ == derived),
            s"state-store partitions $stateParts, derived $derived")
        }
      }
    } finally spark.streams.removeListener(listener)
    assert(spark.conf.get(Key) === before)
  }
}
