package graft

import org.apache.spark.sql.SparkSession

/** The one session config every graft main runs with (Bench, Verify
  * and the tools), so a probe's plans and timings are the sweep's. The
  * specs keep their own `TestSpark`: plan specs pin its config. */
object Session {

  /** Core count from SPARK_GRAFT_CPUS, else the caller's default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def build(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // without periodic driver GC, Spark's ContextCleaner (default
      // 30 min) never releases finished shuffle files and a long sweep
      // can fill a local disk — what killed the round-1 bench
      .config("spark.cleaner.periodicGC.interval", "45s")
      // this box is disk-bound (run-to-run spread tracks disk
      // throughput, BASELINE.md): zstd halves shuffle bytes vs lz4 for
      // a CPU cost the idle-on-IO cores absorb
      .config("spark.io.compression.codec", "zstd")
      // subset-key co-partitioning (round 17, guide §2.4): the match
      // chain is cached hash-partitioned by doc1, and its (doc1, doc2)
      // joins — e.g. the pivot's full outer — are exchange-free only
      // when co-partitioning accepts a subset of the join keys (the
      // same rule aggregations/windows already use). No correctness
      // effect; only which exchanges ENSURE_REQUIREMENTS inserts.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // parallel file-listing job sized to the session, not the 10000
      // default (round 17, guide §6): listing q95's 5000 partition
      // dirs as 5000 one-stat tasks was 8.1 s of pure scheduling on
      // local[32]; 2×cores tasks do the same listing in ~0.5 s, and
      // the value scales with the executor count on a real cluster
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        (cpus * 2).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
