package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.functions.Exact

/** Structured Streaming surface over the events table. The reference
  * has no streaming (SURVEY.md §2.10); this is the green-field scope:
  * the SAME declarative aggregation as
  * [[graft.operators.EventAnalytics.tumblingCounts]] run as a stream —
  * `readStream` → watermark → windowed agg → sink.
  *
  * [[windowedCountsOnce]] drains the parquet path with
  * `Trigger.AvailableNow` into a memory sink and returns the result as
  * a DataFrame, so the batch DuckDB oracle verifies the streaming
  * path bit-for-bit. Complete output mode is used for the oracle run
  * (every window emitted); append-mode + watermark behaviour — only
  * watermark-expired windows emitted, state dropped — is covered by
  * StreamingSpec.
  */
object EventStream {

  private val runIdx = new AtomicInteger(0)

  /** Run one bounded drain to completion: `start` builds and starts
    * the stream on a private session. A stateful stream latches its
    * state-store partition count — the starting session's shuffle
    * partitions — at `.start()`, and every partition pays a state
    * commit per micro-batch (four stores for a stream-stream join), so
    * that count is sized to the drain's input, the events table's
    * bytes on disk ([[graft.Session.statePartitions]]). The caller's
    * session config is never changed; its streaming listeners are
    * attached to the private session so they still see the drain. */
  private def drain(s: SparkSession, dir: String)(
      start: SparkSession => StreamingQuery): SparkSession = {
    val ns = s.newSession()
    ns.conf.set("spark.sql.shuffle.partitions", graft.Session
      .statePartitions(s, graft.Tables.bytes(dir, "events")).toString)
    s.streams.listListeners().foreach(ns.streams.addListener)
    start(ns).awaitTermination()
    ns
  }

  /** [[drain]] `stream` with AvailableNow into a memory sink; returns
    * the sink's rows as a frame of the caller's session (the sink's
    * table lives in the private one, and the rows are on the driver
    * already). */
  private def drainToMemory(s: SparkSession, dir: String, mode: String)(
      stream: SparkSession => DataFrame): DataFrame = {
    val name = s"graft_stream_${runIdx.incrementAndGet()}"
    val sink = drain(s, dir)(ns => stream(ns).writeStream.format("memory")
      .queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start()).table(name)
    s.createDataFrame(sink.collectAsList(), sink.schema)
  }

  def eventsStream(s: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeTs(
      s.readStream.schema(s.read.parquet(s"$dir/events.parquet").schema)
        .parquet(StreamStage.monitoredPath(dir, "events")))

  def windowedAgg(events: DataFrame, width: String = "1 hour",
                  watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(Exact.cents(col("value"))).as("sum_value_cents"))
      .select(col("w.start").as("wstart"), col("event_type"),
        col("n_events"), col("sum_value_cents"))

  /** Run the stream to completion over the (finite) input, return the
    * materialized result. */
  def windowedCountsOnce(s: SparkSession, dir: String,
                         outputMode: String = "complete"): DataFrame =
    drainToMemory(s, dir, outputMode)(ns => windowedAgg(eventsStream(ns, dir)))

  /** The latest-wins changelog compaction, shared verbatim by the
    * batch (q130) and streaming (q143) halves of the parity pair so
    * the two paths can never drift apart: one `max(struct(ts,
    * event_id, payload…))` aggregation — the struct compares (ts,
    * event_id) first, a unique total order, so the payload rides
    * along for free. */
  def compact(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        Exact.cents(col("value")).as("v"))
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"),
          col("v"))).as("last"),
        count(lit(1)).as("n_changes"))
      .select(col("user_id"), col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_type"),
        col("last.v").as("last_value_cents"),
        col("last.ts").as("last_ts"), col("n_changes"))

  /** Streaming CDC compaction — q130's latest-wins snapshot maintained
    * CONTINUOUSLY: [[compact]] run as a complete-mode streaming agg,
    * so each trigger the memory sink holds the current per-key
    * snapshot (a materialized view the stream keeps fresh — the q140
    * maintenance identity, but with the state store doing the merge).
    * The batch q130 oracle verifies the drained snapshot
    * bit-for-bit. */
  def compactOnce(s: SparkSession, dir: String): DataFrame =
    drainToMemory(s, dir, "complete")(ns => compact(eventsStream(ns, dir)))

  /** Update-mode CDC compaction into a keyed external store — the
    * 100 TB shape of [[compactOnce]]'s snapshot maintenance (round-8
    * verdict item 3): the same [[compact]] aggregation run in UPDATE
    * output mode through foreachBatch, so each trigger emits ONLY the
    * users whose snapshot row changed. The batch function appends
    * those rows, stamped with the epoch id, to a keyed parquet
    * changelog (the append-only upsert log — the q101 store shape;
    * against a store with native upsert the same batch would be a
    * keyed MERGE). The current snapshot is reconstructed as
    * latest-epoch-wins over the log — one combinable `max(struct)`
    * per user, the q130 discipline again.
    *
    * Complete mode rewrites EVERY key's row every trigger — fine for
    * a bounded drain, a full-snapshot rewrite per micro-batch at
    * 100 TB. Update mode writes O(changed keys) per trigger; the
    * state store still holds one row per user either way.
    *
    * Exactly-once: foreachBatch is AT-LEAST-ONCE for side-effecting
    * sinks — a crashed-then-retried epoch appends its rows twice. The
    * log schema makes that harmless by construction: a replayed
    * epoch's rows are byte-identical (same epoch_id, same aggregate
    * state), and the max(struct) reconstruction is idempotent under
    * duplicate rows — no transactional sink needed for correctness.
    * Both the multi-epoch behaviour (second batch appends only its
    * touched users; reconstruction still equals the batch snapshot)
    * and replay idempotence are pinned in StreamingSpec. */
  def compactUpdateOnce(s: SparkSession, dir: String): DataFrame = {
    val idx = runIdx.incrementAndGet()
    val out = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-stream",
      Integer.toHexString(dir.hashCode), s"cdc_update_log_$idx").toString
    drain(s, dir)(ns => compact(eventsStream(ns, dir))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        batch.withColumn("epoch_id", lit(epoch))
          .write.mode("append").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start())
    snapshotFromLog(s.read.parquet(out))
  }

  /** STREAMING drift monitor — the q136 PSI with the CURRENT side
    * maintained by a stream: the frozen baseline is the first half of
    * the event log (ts < the cutoff, histogrammed in batch — at a
    * real deployment this is the stored reference profile), the live
    * side is a complete-mode streaming count over (event_type, value
    * bucket) — the state store IS the live histogram, kept fresh per
    * trigger — and the PSI readout joins the drained snapshot against
    * the baseline batch-side. Buckets are value cents div 500 capped
    * at 24 (fixed resolution over a fixed value domain); smoothing,
    * ln-term micro-quantization and the +1 Laplace guard are q136's
    * exact formula, so drift stays finite when either side misses a
    * bucket.
    *
    * Scale shape: the streaming state is ≤ types × 25 rows regardless
    * of event volume (counts are combinable); the readout is
    * dimension-sized joins. */
  def driftOnce(s: SparkSession, dir: String): DataFrame = {
    val NB = 25
    val cutoff = lit("2024-01-16").cast("timestamp")
    def bucketed(df: DataFrame): DataFrame = df
      .withColumn("bucket",
        expr(s"CAST(least(greatest(CAST(round(value*100) AS BIGINT), 0)"
          + s" div 500, ${NB - 1}) AS INT)"))
    val ref = bucketed(
        graft.Tables.events(s, dir).filter(col("ts") < cutoff))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("ref_n"))
    val cur = drainToMemory(s, dir, "complete")(ns =>
      bucketed(eventsStream(ns, dir).filter(col("ts") >= cutoff))
        .groupBy("event_type", "bucket").agg(count(lit(1)).as("cur_n")))
    val cells = ref.join(cur, Seq("event_type", "bucket"), "full_outer")
      .na.fill(0L, Seq("ref_n", "cur_n"))
    val tot = cells.groupBy("event_type")
      .agg(sum("ref_n").as("ref_tot"), sum("cur_n").as("cur_tot"))
    cells.join(broadcast(tot), Seq("event_type"))
      .withColumn("p_ref", (col("ref_n") + 1) / (col("ref_tot") + lit(NB)))
      .withColumn("p_cur", (col("cur_n") + 1) / (col("cur_tot") + lit(NB)))
      .withColumn("psi_micro",
        round((col("p_cur") - col("p_ref"))
          * log(col("p_cur") / col("p_ref")) * 1e6).cast("long"))
      .select("event_type", "bucket", "ref_n", "cur_n", "psi_micro")
      .orderBy("event_type", "bucket")
  }

  /** Latest-epoch-wins snapshot reconstruction over an update-mode
    * changelog: one combinable max(struct) keyed by user — epoch_id
    * leads the struct, so the newest upsert's payload rides along. */
  def snapshotFromLog(log: DataFrame): DataFrame =
    log.groupBy("user_id")
      .agg(max(struct(col("epoch_id"), col("last_ts"),
        col("last_event_id"), col("last_type"), col("last_value_cents"),
        col("n_changes"))).as("x"))
      .select(col("user_id"), col("x.last_event_id").as("last_event_id"),
        col("x.last_type").as("last_type"),
        col("x.last_value_cents").as("last_value_cents"),
        col("x.last_ts").as("last_ts"), col("x.n_changes").as("n_changes"))

  // ---- stateful sessionization ------------------------------------

  final case class SessEv(user_id: Long, ts_us: Long, event_id: Long, cents: Long)
  final case class SessRow(user_id: Long, sess_id: Long, start_us: Long,
      end_us: Long, n_events: Long, sum_value_cents: Long)

  /** Per-user sessionizer for flatMapGroupsWithState: splits the
    * user's events (sorted by event time) at gaps > `gapUs` and emits
    * one row per session. State carries the session counter so a
    * multi-batch stream numbers sessions consistently; with
    * Trigger.AvailableNow the whole table arrives in one batch and the
    * result equals the batch window-function sessionization (q34). */
  private def sessionizeGroup(gapUs: Long)(
      user: Long, it: Iterator[SessEv],
      state: GroupState[Long]): Iterator[SessRow] = {
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    if (evs.isEmpty) Iterator.empty
    else {
      var sessId = state.getOption.getOrElse(0L)
      val out = Seq.newBuilder[SessRow]
      var start = 0L; var end = 0L; var n = 0L; var cents = 0L
      evs.foreach { e =>
        if (n == 0L) { sessId += 1; start = e.ts_us }
        else if (e.ts_us - end > gapUs) {
          out += SessRow(user, sessId, start, end, n, cents)
          sessId += 1
          start = e.ts_us; n = 0L; cents = 0L
        }
        end = e.ts_us
        n += 1
        cents += e.cents
      }
      out += SessRow(user, sessId, start, end, n, cents)
      state.update(sessId)
      out.result().iterator
    }
  }

  /** Gap sessionization via the stateful streaming API
    * (`KeyValueGroupedDataset.flatMapGroupsWithState`), drained with
    * AvailableNow into a memory sink. Column-compatible with the batch
    * [[graft.operators.EventAnalytics.sessionize]] / its DuckDB oracle. */
  def statefulSessionsOnce(s: SparkSession, dir: String,
                           gapMinutes: Int = 30): DataFrame = {
    import s.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    drainToMemory(s, dir, "append")(ns => eventsStream(ns, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), Exact.cents(col("value")).as("cents"))
      .as[SessEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        sessionizeGroup(gapUs))
      .toDF())
      .select(col("user_id"), col("sess_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        col("n_events"), col("sum_value_cents"))
  }

  // ---- streaming dedup / join / file sink --------------------------

  /** Streaming exact dedup: the input stream is unioned with itself
    * (every event arrives twice), then `dropDuplicates(event_id)` with
    * a watermark bounds the dedup state — the streaming counterpart of
    * q22's batch content dedup. Drained append-mode into memory; the
    * per-type roll-up of the deduped rows must equal the batch
    * distinct-events aggregate. */
  def dedupedCountsOnce(s: SparkSession, dir: String): DataFrame =
    drainToMemory(s, dir, "append") { ns =>
      val ev = eventsStream(ns, dir)
      ev.unionByName(ev)
        .withWatermark("ts", "1 hour")
        .dropDuplicates("event_id")
        .select(col("event_id"), col("event_type"),
          Exact.cents(col("value")).as("cents"))
    }
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_value_cents"))

  /** Stream-static join: the event stream joined to a static per-user
    * dimension (computed batch-side from the same table), then
    * per-(bucket, type) roll-up. The static side is planned as a
    * broadcast per micro-batch — the streaming analogue of the
    * reference's broadcast dim joins (J5). */
  def streamStaticJoinOnce(s: SparkSession, dir: String): DataFrame =
    drainToMemory(s, dir, "append") { ns =>
      val userDim = graft.Tables.events(ns, dir)
        .select(col("user_id")).distinct()
        .withColumn("user_bucket", col("user_id") % 10)
      eventsStream(ns, dir)
        .join(broadcast(userDim), Seq("user_id"))
        .select(col("user_bucket"), col("event_type"),
          Exact.cents(col("value")).as("cents"))
    }
      .groupBy("user_bucket", "event_type")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_value_cents"))

  /** Built-in merging session windows on the stream:
    * `session_window(ts, gap)` grouped per user — the declarative
    * counterpart of the flatMapGroupsWithState sessionizer
    * ([[statefulSessionsOnce]]): session state creation, merge and
    * expiry are handled by the engine's window-merging state store
    * instead of user code. Complete-mode drain over the finite input
    * so every session is emitted (append mode would withhold sessions
    * newer than the final watermark). Splits at gap >= 30 min (the
    * window-merge rule: a new event merges only if it starts strictly
    * inside the previous window). */
  def sessionWindowsOnce(s: SparkSession, dir: String,
                         gapMinutes: Int = 30): DataFrame =
    drainToMemory(s, dir, "complete")(ns => eventsStream(ns, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes").as("sw"),
        col("user_id"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(Exact.cents(col("value"))).as("sum_value_cents"))
      .select("user_id", "session_start", "session_end", "n_events",
        "sum_value_cents"))

  /** Stream-stream interval join: view events joined to purchase
    * events of the same user within [view_ts, view_ts + 30 min]. Both
    * sides carry watermarks and the join condition bounds event time,
    * so the state store can expire rows — the canonical stateful
    * stream-stream join shape (Spark buffers both sides keyed by
    * user_id; at 100 TB/day the watermark bound is what keeps state
    * finite). Drained AvailableNow into memory; the batch SQL oracle
    * proves stream/batch parity. */
  def streamStreamJoinOnce(s: SparkSession, dir: String): DataFrame =
    drainToMemory(s, dir, "append") { ns =>
      val ev = eventsStream(ns, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          col("ts").as("view_ts"))
        .withWatermark("view_ts", "1 hour")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("purchase_user"), col("ts").as("purchase_ts"),
          Exact.cents(col("value")).as("purchase_cents"))
        .withWatermark("purchase_ts", "1 hour")
      views.join(purchases,
          col("user_id") === col("purchase_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          (unix_micros(col("purchase_ts")) - unix_micros(col("view_ts")))
            .as("lag_us"),
          col("purchase_cents"))
    }

  /** Streaming aggregation → file sink via foreachBatch: each
    * micro-batch overwrites the parquet output with the complete
    * windowed aggregate (the idempotent-overwrite pattern for
    * aggregate sinks); the function then reads the files back. This is
    * the S7 sink shape on the streaming path. */
  def parquetSinkOnce(s: SparkSession, dir: String): DataFrame = {
    val out = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft-stream",
      Integer.toHexString(dir.hashCode), "win_parquet").toString
    drain(s, dir)(ns => windowedAgg(eventsStream(ns, dir))
      .writeStream
      .outputMode("complete")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start())
    s.read.parquet(out)
  }
}
