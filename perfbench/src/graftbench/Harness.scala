package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.Shared

/** JVM side of the benchmark: one process is one batch session.
  *
  * Modes (first argument):
  *  - `setup`: build the session, print `READY`, stop.
  *  - `prep`: run the named queries once, untimed, so the files they
  *    cache between sessions (marker-guarded layouts) exist.
  *  - `pass`: build the session, run the `warmup=` queries untimed,
  *    warm the named memo groups, then run the named queries once each
  *    in the given order, timing every call from outside. With
  *    `trace=1` the listeners of [[Tracer]] are attached for the timed
  *    part.
  *  - `fingerprint-dir`: fingerprint the parquet output written per
  *    query under `dir=` (graft.Verify's layout).
  *
  * Options are `key=value` arguments. A pass writes its record as JSON
  * to `out=`; the caller checks fingerprints and computes metrics.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opt = args.tail.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    def list(k: String) = opt.getOrElse(k, "").split(",").filter(_.nonEmpty).toSeq
    val cpus = opt("cpus").toInt
    val spark = Session.build(cpus)
    println("READY")
    System.out.flush()
    val code = try mode match {
      case "setup" => 0
      case "prep" => prep(spark, opt("data"), list("queries"))
      case "pass" =>
        val rec = new Pass(spark, opt("data"), list("groups").map(_.toInt),
          list("warmup"), list("queries"), opt.getOrElse("trace", "0") == "1",
          cpus).run()
        Files.write(Paths.get(opt("out")), rec.getBytes(StandardCharsets.UTF_8))
        0
      case "fingerprint-dir" =>
        val fps = list("queries").map { n =>
          n -> Json.str(Fingerprint(spark.read.parquet(s"${opt("dir")}/$n")).render)
        }
        Files.write(Paths.get(opt("out")),
          Json.obj(fps: _*).getBytes(StandardCharsets.UTF_8))
        0
    } finally {
      Shared.clear()
      spark.stop()
    }
    sys.exit(code)
  }

  private def prep(spark: SparkSession, data: String, names: Seq[String]): Int =
    names.count { n =>
      val failed = try { Fingerprint(SparkEntry.queries(n)(spark, data)); false }
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] prep $n failed: $e")
        true
      }
      Shared.retireTransients()
      failed
    }
}

/** The session config of `graft.Bench`, with N = the cores given. */
object Session {
  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "45s")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        (cpus * 2).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The settings in effect, for the record. */
  def describe(spark: SparkSession): Seq[(String, String)] =
    spark.sparkContext.getConf.getAll.toSeq
      .filterNot { case (k, _) => k.startsWith("spark.app.") || k.startsWith("spark.driver.") }
      .sorted
}

final class Pass(spark: SparkSession, data: String, groups: Seq[Int],
                 warmup: Seq[String], names: Seq[String], trace: Boolean,
                 cpus: Int) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val tracer = if (trace) Some(new Tracer(spark)) else None
  private val t00 = System.nanoTime()
  private def now = (System.nanoTime() - t00) / 1e9

  // spans (name, parent, start, end in seconds since the pass began),
  // kept in memory and written with the record
  private val spans = mutable.ArrayBuffer.empty[String]
  private def span[T](name: String, parent: String)(body: => T): T = {
    val s = now
    try body finally {
      spans += Json.obj("name" -> Json.str(name), "parent" -> Json.str(parent),
        "start_s" -> Json.num(s), "end_s" -> Json.num(now))
    }
  }

  private var peakStorage = 0L
  private var peakOldGen = 0L
  private val cachedRdds = mutable.Set.empty[Int]
  private def sampleStorage(): Long = {
    val infos = spark.sparkContext.getRDDStorageInfo
    infos.foreach(i => if (i.memSize + i.diskSize > 0) cachedRdds += i.id)
    val b = infos.map(i => i.memSize + i.diskSize).sum
    peakStorage = math.max(peakStorage, b)
    peakOldGen = math.max(peakOldGen, Tracer.oldGenBytes())
    b
  }

  private def failure(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    Json.obj("class" -> Json.str(e.getClass.getName),
      "message" -> Json.str(String.valueOf(e.getMessage).take(2000)),
      "root_class" -> Json.str(root.getClass.getName))
  }

  // time the pass thread spends waiting on the tracer (bus drains);
  // the tracer is attached for the timed part only
  private var tracing = false
  private var traceBlockedNs = 0L
  private def snapshot(): Option[Map[String, Double]] =
    tracer.filter(_ => tracing).map { t =>
      val a = System.nanoTime()
      try t.snapshot() finally traceBlockedNs += System.nanoTime() - a
    }

  private var buildSec = 0.0
  private var houseSec = 0.0
  private var lastResult = 0L

  /** One query: construction, the action, then the program's own
    * per-query housekeeping. Returns its JSON record. */
  private def query(name: String, pass: Int): String = {
    val tag = s"$name#$pass"
    Shared.beginQuery(name)
    val before = snapshot()
    val t0 = System.nanoTime()
    var tb = t0
    val res = try {
      val df = span("plan.build", tag)(SparkEntry.queries(name)(spark, data))
      tb = System.nanoTime()
      Right(span("action", tag)(Fingerprint(df)))
    } catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    lastResult = t1
    val counters = for (a <- before; b <- snapshot()) yield Tracer.delta(a, b)
    val storage = sampleStorage()
    val th = System.nanoTime()
    span("memo.housekeeping", tag) {
      Shared.retireTransients()
      Shared.enforceBudget(spark)
    }
    if (pass == 0) {
      houseSec += (System.nanoTime() - th) / 1e9
      buildSec += (tb - t0) / 1e9
    }
    val fields = Seq(
      "query" -> Json.str(name),
      "pass" -> Json.num(pass),
      "latency_s" -> Json.num((t1 - t0) / 1e9),
      "build_s" -> Json.num((tb - t0) / 1e9),
      "storage_bytes" -> Json.num(storage)) ++
      (res match {
        case Right(fp) => Seq("fingerprint" -> Json.str(fp.render))
        case Left(e) => Seq("error" -> failure(e))
      }) ++
      counters.map(c => "counters" -> Json.numMap(c))
    Json.obj(fields: _*)
  }

  /** Peak resident set size of this process (VmHWM), in bytes. */
  private def peakRss(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong * 1024).getOrElse(-1L)

  def run(): String = {
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val results = mutable.ArrayBuffer.empty[String]
    // the first queries of a JVM pay class loading and JIT that every
    // later one reuses; the warm-up queries take that cost, untimed, so
    // it does not land on whichever query the seed puts first
    val w0 = System.nanoTime()
    warmup.foreach(n => results += query(n, -1))
    val warmupS = (System.nanoTime() - w0) / 1e9
    peakStorage = 0L
    cachedRdds.clear()
    tracer.foreach(_.attach())
    tracing = trace
    val warmErrors = mutable.ArrayBuffer.empty[String]
    val before = snapshot()
    peakOldGen = Tracer.oldGenBytes()

    // the timed region: memo build, then every query once
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    groups.foreach { g =>
      Shared.beginQuery("")
      try span("memo.build", s"group$g")(Shared.warmGroup(spark, data, g))
      catch { case e: Throwable =>
        warmErrors += Json.obj("group" -> Json.num(g), "error" -> failure(e))
      }
    }
    val memoSec = (System.nanoTime() - t0) / 1e9
    sampleStorage()
    lastResult = System.nanoTime()
    names.foreach(n => results += query(n, 0))
    // the region ends at the last result, before its housekeeping
    val wall = (lastResult - t0) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val layer = snapshot().map(b => Tracer.delta(before.get, b))
    tracing = false
    tracer.foreach(_.detach())
    // heap the session still holds after the workload: memo frames
    // cached in memory plus Spark's own state
    System.gc()
    val liveHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

    Json.obj(
      "setup_s" -> Json.num(setupS),
      "wall_s" -> Json.num(wall),
      "cpu_s" -> Json.num(cpu),
      "memo_build_s" -> Json.num(memoSec),
      "plan_build_s" -> Json.num(buildSec),
      "housekeeping_s" -> Json.num(houseSec),
      "warmup_s" -> Json.num(warmupS),
      "trace_blocked_s" -> Json.num(traceBlockedNs / 1e9),
      "live_heap_bytes" -> Json.num(liveHeap),
      "peak_cache_bytes" -> Json.num(peakStorage),
      "old_gen_peak_bytes" -> Json.num(peakOldGen),
      "cached_rdds" -> Json.num(cachedRdds.size),
      "peak_rss_bytes" -> Json.num(peakRss()),
      "cpus" -> Json.num(cpus),
      "warm_errors" -> Json.arr(warmErrors.toSeq),
      "layer" -> layer.map(Json.numMap).getOrElse("null"),
      "session_conf" -> Json.obj(Session.describe(spark)
        .map { case (k, v) => k -> Json.str(v) }: _*),
      "spans" -> Json.arr(spans.toSeq),
      "queries" -> Json.arr(results.toSeq))
  }
}

/** Minimal JSON rendering for the record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString
  def num(l: Long): String = l.toString
  def num(i: Int): String = i.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def numMap(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
}
