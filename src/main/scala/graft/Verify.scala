package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = Session.build(Session.cpus(4))
    new java.io.File(outDir).mkdirs()
    // the Bench sweep (SweepOrder.sweep): sf10 replay sweeps run
    // through this main and hit the identical cache budget. Subset
    // runs skip the warm: a single replayed query builds only what it
    // reads.
    val picked = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
    SweepOrder.sweep(spark, sfDir, picked, only.isEmpty, "verify") {
      (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${SweepOrder.cause(e)}")
        }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  /** JSON string literal: escapes backslash, quote, and ALL control
    * chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
