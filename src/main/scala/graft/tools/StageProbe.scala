// Round-17 scratch: per-stage task counts and durations for one query,
// warm (2nd run). Usage: tools/run.sh graft.tools.StageProbe <sfDir> <q>
package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

object StageProbe {
  def main(args: Array[String]): Unit = {
    val (dir, name) = (args(0), args(1))
    val spark = graft.Session.build(graft.Session.cpus(32))
    val fn = graft.SparkEntry.queries(name)
    fn(spark, dir).count() // run 1: builds memos + codegen warm
    @volatile var log = Vector.empty[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val ms = for {
          a <- si.completionTime; b <- si.submissionTime
        } yield a - b
        log :+= f"stage ${si.stageId}%4d tasks=${si.numTasks}%3d " +
          f"${ms.getOrElse(-1L)}%6d ms  ${si.name.takeWhile(_ != '\n').take(90)}"
      }
    })
    val t0 = System.nanoTime()
    fn(spark, dir).count()
    val dt = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1500)
    log.foreach(println)
    println(f"[stageprobe] $name warm ${dt}%.2f s, ${log.size} stages")
    try spark.stop() catch { case _: Throwable => () }
  }
}
