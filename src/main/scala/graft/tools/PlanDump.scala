// Round-17 measurement harness: capture .explain("formatted") + warm
// per-query timings for a list of queries in ONE JVM, with the memo
// families staged exactly as Bench stages them — so the captured plan
// and seconds are the in-sweep shape, not a cold-cache anomaly.
// Usage: tools/run.sh graft.tools.PlanDump <sfDir> <outDir> <q1> [q2...]
package graft.tools

import java.nio.file.{Files, Paths}

object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val spark = graft.Session.build(graft.Session.cpus(32))
    Files.createDirectories(Paths.get(outDir))
    // stage every family group once so memo reads are warm, as in a
    // full sweep (groups 0.. are the family components; the tail group
    // after them has none)
    Iterator.from(0).takeWhile(graft.queries.Shared.warmable)
      .foreach(g => graft.queries.Shared.warmGroup(spark, dir, g))
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val df = fn(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(s"$outDir/$name.txt"), plan.getBytes("UTF-8"))
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      println(f"[plandump] $name rows=${ts.head._2} " +
        f"t1=${ts(0)._1}%.2f s t2=${ts(1)._1}%.2f s min=${ts.map(_._1).min}%.2f s")
    }
    try spark.stop() catch { case _: Throwable => () }
  }
}
