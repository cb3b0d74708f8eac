// Scratch profiler — run with: tools/run.sh graft.tools.Profile <sfDir> <query>
package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Explains the query's physical plan, then times it twice in one JVM
  * (run 1 cold, run 2 warm w.r.t. the session memo caches), reporting
  * per-run executor metrics — shuffle read/write bytes and
  * memory/disk spill — via a stage listener. The spill columns are
  * what separates "this box's page cache went cold" from "the plan
  * actually spilled" when a bench number moves (BASELINE.md q19/q50
  * variance investigations). */
object Profile {

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Session.build(graft.Session.cpus(8))
    val memSpill = new AtomicLong; val diskSpill = new AtomicLong
    val shufR = new AtomicLong; val shufW = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    val fn = graft.SparkEntry.queries(args(1))
    val df = fn(spark, dir)
    df.explain("formatted")
    for (i <- 1 to 2) {
      memSpill.set(0); diskSpill.set(0); shufR.set(0); shufW.set(0)
      val t0 = System.nanoTime()
      val n = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      // listener events are posted async; poll until the totals stop
      // changing (a fixed sleep can under-report spill on a loaded box)
      var prev = -1L
      var cur = memSpill.get + diskSpill.get + shufR.get + shufW.get
      while (cur != prev) {
        Thread.sleep(400)
        prev = cur
        cur = memSpill.get + diskSpill.get + shufR.get + shufW.get
      }
      println(f"run $i: $dt%.3f s rows=$n shufR=${mb(shufR)} " +
        f"shufW=${mb(shufW)} memSpill=${mb(memSpill)} diskSpill=${mb(diskSpill)}")
    }
    spark.stop()
  }

  private def mb(v: AtomicLong): String =
    f"${v.get / 1048576.0}%.1fMB"
}
