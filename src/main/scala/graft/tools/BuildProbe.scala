// Round-18 scratch: decompose the match-chain cache_build cost —
// time the candidate self-join alone (noop sink), the repartition,
// and the persist+count, with shuffle/spill metrics per step.
// Usage: tools/run.sh graft.tools.BuildProbe <sfDir>
package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

object BuildProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Session.build(graft.Session.cpus(32))
    val shufR = new AtomicLong; val shufW = new AtomicLong
    val memSp = new AtomicLong; val diskSp = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        memSp.addAndGet(m.memoryBytesSpilled)
        diskSp.addAndGet(m.diskBytesSpilled)
      }
    })
    def t(what: String)(body: => Unit): Unit = {
      val (r0, w0, m0, d0) = (shufR.get, shufW.get, memSp.get, diskSp.get)
      val t0 = System.nanoTime()
      body
      Thread.sleep(300)
      println(f"[buildprobe] $what%-40s ${(System.nanoTime() - t0) / 1e9}%6.1f s" +
        f" shufR=${(shufR.get - r0) >> 20}%5d MiB shufW=${(shufW.get - w0) >> 20}%5d MiB" +
        f" spillM=${(memSp.get - m0) >> 20}%5d MiB spillD=${(diskSp.get - d0) >> 20}%5d MiB")
    }
    val ents = graft.Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("doc_id"), col("l_partkey").as("entity_id"))
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val cands = graft.operators.EntityMatching.candidatePairs(ents)
    t("selfjoin count()")(cands.count())
    t("selfjoin noop")(noop(cands))
    t("selfjoin noop again")(noop(cands))
    t("selfjoin+repart(doc1) noop")(noop(cands.repartition(32, col("doc1"))))
    val p = cands.repartition(32, col("doc1"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    t("repart+persist count")(p.count())
    t("cached read count")(p.count())
    t("scorePairs off cache noop")(noop(
      graft.operators.EntityMatching.scorePairs(p, "part_overlap")))
    p.unpersist(true)
    t("scorePairs direct (no cache) noop")(noop(
      graft.operators.EntityMatching.scorePairs(cands, "part_overlap")))
    try spark.stop() catch { case _: Throwable => () }
  }
}
