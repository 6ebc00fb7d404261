package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.RawMerge

/** Streaming surface (SURVEY.md §2 Part B, ST-1..ST-5). The reference's only
  * "streaming" is a resumable pagination cursor
  * (/root/reference/src/migration.py:83-87,152-154); Structured Streaming is
  * its Spark-native generalization: checkpointed incremental processing over
  * an unbounded source.
  *
  * Each transformation is written against a plain DataFrame so the SAME code
  * runs in batch (oracle-checked below at sf0.01) and on a stream (tested
  * with MemoryStream in StreamingSpec) — the core Structured Streaming
  * contract: a streaming query's result equals the batch query over the data
  * seen so far. Watermarks bound state at 100 TB: without one, the window /
  * dedup state grows with the key space forever.
  */
object Streams {

  /** ST-1 core: tumbling 1-hour counts per event type. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("w_start"), col("event_type"), col("c"))

  /** ST-2 core: sliding 1-hour windows advancing every 30 minutes — each
    * event lands in 2 windows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("w_start"), col("event_type"), col("c"))

  /** ST-3 core: 30-minute-gap session windows per user. Session end = last
    * event + gap (Spark `session_window` semantics). */
  def sessionCounts(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"))

  /** ST-4 core: keyed dedup — batch form of
    * `dropDuplicatesWithinWatermark("event_id")` (the streaming form is
    * exercised in StreamingSpec; state is bounded by the watermark there). */
  def dedupCount(events: DataFrame): DataFrame =
    events.dropDuplicates("event_id").agg(count(lit(1)).as("n"))

  /** ST-7 core: stream-stream INTERVAL JOIN — the funnel pattern (a
    * purchase within 30 minutes after a click by the same user). Written
    * against plain DataFrames like the rest of the battery: in batch it
    * plans as an equi-join on the user with the time window as a
    * post-filter; on TWO STREAMS (StreamingSpec) the same expression is
    * Spark's watermarked stream-stream join — the time bounds
    * (`p_ts ∈ [c_ts, c_ts + 30m)`) bound BOTH sides' buffered state, so
    * with watermarks each side's join state expires as event time passes
    * (clicks after +30m, purchases after the click watermark catches up) —
    * the state-boundedness contract that makes a stream-stream join viable
    * over unbounded input. */
  def funnelPairs(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
      col("ts").as("c_ts"), col("event_id").as("c_id"))
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("p_ts"), col("event_id").as("p_id"))
    c.join(p, col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") < col("c_ts") + expr("INTERVAL 30 MINUTES"))
  }

  /** ST-10 — FUNNEL ABANDONMENT via stream-stream LEFT OUTER join: the
    * other half of [[funnelPairs]] — the clicks that did NOT convert
    * within the +30 min window, the rows a re-engagement pipeline actually
    * consumes. Inner stream-stream joins emit on match; the OUTER side is
    * the hard part of Structured Streaming — a null-extended row may only
    * emit once the watermark proves no matching purchase can still arrive,
    * so the click buffers in join state until its +30 min bound passes the
    * watermark and then emits exactly once (Spark's watermarked
    * left-outer semantics). Same state-boundedness contract as the inner
    * form: the time bounds expire both sides' buffers as event time
    * advances. In batch the identical expression is a plain left-outer
    * interval join. */
  def funnelAbandoned(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
      col("ts").as("c_ts"), col("event_id").as("c_id"))
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("p_ts"), col("event_id").as("p_id"))
    c.join(p, col("c_user") === col("p_user") &&
      col("p_ts") >= col("c_ts") &&
      col("p_ts") < col("c_ts") + expr("INTERVAL 30 MINUTES"), "left_outer")
  }

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessionOut(user_id: Long, s_start: java.sql.Timestamp,
                        s_end: java.sql.Timestamp, n: Long)

  /** ST-3 alternative via CUSTOM STATE (`KeyValueGroupedDataset.
    * flatMapGroupsWithState`): gap-based sessionization written as an
    * explicit state machine — the extension point for session semantics
    * `session_window` can't express (e.g. value-dependent gaps, session
    * caps). Semantics match [[sessionCounts]]: a gap >= `gapMinutes` starts
    * a new session, session end = last event + gap.
    *
    * State per key is the open session only (bounded); in streaming it
    * would be closed by an event-time timeout tied to the watermark. */
  def statefulSessions(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMinutes * 60L * 1000L
    events.select(col("user_id"), col("ts")).as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[Long], SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[List[Long]]) =>
          val times = (state.getOption.getOrElse(Nil) ++
            it.map(_.ts.getTime)).sorted
          state.remove()
          if (times.isEmpty) Iterator.empty
          else {
            val sessions = times.tail.foldLeft(List(List(times.head))) {
              case (acc @ cur :: rest, t) =>
                if (t - cur.head >= gapMs) List(t) :: acc
                else (t :: cur) :: rest
              case (Nil, t) => List(List(t))
            }.map(_.reverse).reverse
            sessions.iterator.map(ts => SessionOut(uid,
              new java.sql.Timestamp(ts.head),
              new java.sql.Timestamp(ts.last + gapMs), ts.size.toLong))
          }
      }.toDF()
  }

  case class DedupRecord(event_id: Long, user_id: Long, event_type: String)

  /** ST-4 alternative via the Spark 4 arbitrary-state API
    * (`transformWithState` + [[org.apache.spark.sql.streaming.StatefulProcessor]]):
    * first-seen keyed dedup whose per-key state carries a processing-time
    * TTL. `dropDuplicatesWithinWatermark` bounds dedup state by EVENT time —
    * if the source's event time stalls (a stuck upstream producer), the
    * watermark stalls and state grows without bound; a TTL bounds it by
    * PROCESSING time regardless. At 100 TB of keys that eviction policy is
    * what keeps the state store (RocksDB-backed, required by this API) from
    * becoming a second copy of the dataset. */
  class FirstSeenDedup(ttl: Option[java.time.Duration])
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DedupRecord, DedupRecord] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))
    override def handleInputRows(key: Long, rows: Iterator[DedupRecord],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[DedupRecord] =
      if (seen.exists() || !rows.hasNext) Iterator.empty
      else { seen.update(true); Iterator.single(rows.next()) }
  }

  /** First occurrence of each `event_id` (streaming only; exercised with
    * MemoryStream + RocksDB state store + query restart in StreamingSpec).
    *
    * With `ttl = Some(d)` the state store evicts each key `d` after it was
    * written — wall-clock-bounded state even when the source's event time
    * stalls. TTL forces `TimeMode.ProcessingTime`, under which the engine
    * schedules timer micro-batches continuously — use it with a periodic
    * `Trigger.ProcessingTime` pipeline, NOT with available-now/drain
    * semantics (the query never reports "caught up"). `ttl = None` runs in
    * `TimeMode.None`: batches are purely data-driven, state lives until the
    * query dies. */
  def dedupFirstSeen(events: DataFrame,
      ttl: Option[java.time.Duration] = None) = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.select(col("event_id"), col("user_id"), col("event_type"))
      .as[DedupRecord]
      .groupByKey(_.event_id)
      .transformWithState(new FirstSeenDedup(ttl),
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }

  /** Per-micro-batch progress record of [[syncContainers]] (A24): bounded,
    * metadata-sized accounting — row counters come from the persisted batch
    * frame, `targetFilesScanned` from the pruned read's file index. */
  case class SyncBatchProgress(batchId: Long, srcRows: Long, mergedRows: Long,
                               errorRows: Long, affectedBuckets: Set[Long],
                               targetFilesScanned: Seq[String])

  /** One stream row of the opt-in replay-dedup path: merge-key string,
    * source file, raw line. */
  case class SyncRow(k: String, f: String, raw: String)

  /** Cross-batch FIRST-SEEN gate on the merge key for [[syncContainers]]'s
    * `dedupeReplays` mode: the first micro-batch to carry a key claims it;
    * every later batch's rows for that key are dropped before the merge, so
    * a replayed or out-of-order source file cannot resurrect an older
    * document version. Within the claiming batch ALL of the key's rows pass
    * (the deterministic last-file-wins rule downstream picks the winner) —
    * the state records only `seen`, one boolean per key, RocksDB-backed and
    * checkpoint-durable like [[FirstSeenDedup]]. */
  /** `ttl`: optional processing-time bound on the gate's state — on a
    * long-running CONTINUOUS sync, first-seen keys otherwise accumulate for
    * the life of the query (one boolean per key is small, but unbounded is
    * unbounded). With a TTL a key can be re-merged after `ttl` of silence —
    * for replay protection that is exactly the window replays arrive in.
    * TTL requires `TimeMode.ProcessingTime` (see [[dedupFirstSeen]]'s
    * caveat: use a processing-time trigger, not available-now drains). */
  class FirstSeenKeys(ttl: Option[java.time.Duration] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, SyncRow, SyncRow] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var seen: ValueState[Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))
    override def handleInputRows(key: String, rows: Iterator[SyncRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[SyncRow] =
      if (seen.exists()) Iterator.empty
      else { seen.update(true); rows }
  }

  /** ST-6: CONTINUOUS container sync — the reference's migration loop
    * (migrate → wait → migrate again) as one restartable streaming query.
    * The source container's data tree is a FileStreamSource (the streaming
    * generalization of the reference's continuation-token pagination, A2:
    * the checkpoint tracks which files are consumed, so a restart resumes
    * exactly where the last run stopped); every micro-batch runs the one
    * container merge ([[graft.core.ContainerMerge.mergeRaw]], the same
    * policy as the orchestrator and SQL INSERT) against the CURRENT target
    * and lands only inserts/updates through the bucketed upsert sink.
    *
    * The target side of each micro-batch is BUCKET-PRUNED
    * ([[graft.core.FileAccount.readRawBucketsFor]]): only the `data/b=<k>`
    * directories the batch's keys hash to are read and canonical-hashed —
    * the distributed analogue of the reference's per-document point-read
    * (migration.py:119-122). Per-trigger target work is O(|batch| +
    * |affected buckets|), so a small delta against a 100 TB container costs
    * a few bucket directories, not a container scan.
    *
    * Within a batch, duplicate merge keys collapse to one row before the
    * merge (the reference's serial loop is last-write-wins per page; a
    * micro-batch has no defined intra-batch order, so the winner is the
    * lexicographically LAST source file, content-hash tiebreak — the
    * [[graft.core.ContainerMerge.plan]] rule, stable under checkpoint
    * replay). Invalid/corrupt documents append to the container's `_errors`
    * dead-letter (A13, at-least-once under replay) and never reach the sink.
    *
    * Run with `Trigger.AvailableNow` for a catch-up-and-stop sync (the
    * reference's one-shot run) or a processing-time trigger for true
    * continuous replication. Reprocessing after a crash is safe: the sink
    * upserts by merge key, so a replayed batch converges to the same state.
    * `onBatch` receives per-batch progress (A24) — counters, affected
    * buckets, and the exact target files scanned. */
  /** `dedupeReplays` (opt-in) puts a cross-batch FIRST-SEEN gate on the
    * merge key ahead of the merge ([[FirstSeenKeys]]): once a batch has
    * carried a key, later batches' rows for it are dropped, so a replayed or
    * out-of-order source file cannot resurrect an older document version.
    * This trades the default "every batch re-merges" semantics for
    * first-batch-wins per key — right for catch-up syncs of snapshot-like
    * sources, wrong for sources that emit genuine updates. REQUIRES the
    * RocksDB state store provider: if the session has no provider set this
    * call sets it (a SESSION-WIDE setting — every other streaming query in
    * the session inherits it; set it yourself at session build time if that
    * matters), and if the session pins a DIFFERENT provider the call fails
    * fast instead of silently overriding it. The gate's state lives in the
    * same checkpoint as the file-source cursor, so a restart resumes both
    * together. `dedupeTtl` bounds the gate's state by processing time for
    * continuous-mode callers (see [[FirstSeenKeys]]). Corrupt lines are
    * gated by content hash instead of key: a replayed corrupt file does not
    * re-dead-letter. */
  /** `sourceOptions`: passthrough to the file stream source — RATE SHAPING
    * lives here. A catch-up sync over a huge backlog should be N bounded
    * micro-batches, not one giant batch: pass
    * `Map("maxFilesPerTrigger" -> "k")` (with `Trigger.AvailableNow` the
    * source drains the whole backlog k files at a time, checkpointing after
    * each batch — bounded memory AND bounded lost work on a crash;
    * `maxBytesPerTrigger` shapes by volume instead). */
  def syncContainers(spark: SparkSession,
                     source: graft.core.FileAccount,
                     target: graft.core.FileAccount,
                     db: String, container: String,
                     checkpoint: String,
                     trigger: org.apache.spark.sql.streaming.Trigger =
                       org.apache.spark.sql.streaming.Trigger.AvailableNow(),
                     sanitize: Boolean = false,
                     dedupeReplays: Boolean = false,
                     dedupeTtl: Option[java.time.Duration] = None,
                     sourceOptions: Map[String, String] = Map.empty,
                     onBatch: SyncBatchProgress => Unit = _ => ()):
      org.apache.spark.sql.streaming.StreamingQuery = {
    require(dedupeTtl.isEmpty || {
      val t = trigger.getClass.getName
      !t.contains("AvailableNow") && !t.contains("OneTime")
    }, "dedupeTtl forces TimeMode.ProcessingTime, whose timer batches never " +
      "drain under run-once triggers (AvailableNow/Once) — use a " +
      "processing-time trigger for TTL'd continuous syncs (see " +
      "FirstSeenKeys/dedupFirstSeen)")
    val props = source.containerProperties(db, container)
    target.createDatabaseIfAbsent(db)
    target.createContainerIfAbsent(db, container, props)
    val pkPaths = props.pkPaths
    // the source-file column is captured in the stream (before any state
    // gate) for the merge's last-file-wins duplicate rule
    val mergeBatch: (DataFrame, Long) => Unit = (batch, batchId) => {
      val (st, p) = graft.core.ContainerMerge.mergeRaw(batch.sparkSession,
        target, db, container, batch.select(col("value").as("raw"), col("__f")),
        fileCol = Some("__f"), sanitize = sanitize)
      onBatch(SyncBatchProgress(batchId, st.srcRows, st.mergedKeys,
        st.errorRows, p.pruned.getOrElse(Set.empty), p.targetFiles))
    }
    // the source container may itself be bucket-laid-out (b=<k> dirs from
    // a prior upsert) with stray files at the data/ root — recursive
    // lookup reads both, matching the batch readRaw. input_file_name() is
    // captured HERE: downstream of a state operator it would be empty.
    val lines = sourceOptions.foldLeft(
        spark.readStream.option("recursiveFileLookup", "true")) {
        case (r, (k, v)) => r.option(k, v)
      }
      .text(source.dataPath(db, container))
      .select(col("value"), input_file_name().as("__f"))
    val streamIn: DataFrame =
      if (!dedupeReplays) lines
      else {
        val rocksDb =
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        val providerKey = "spark.sql.streaming.stateStore.providerClass"
        spark.conf.getOption(providerKey) match {
          case None => spark.conf.set(providerKey, rocksDb)
          case Some(p) if p == rocksDb || p.endsWith("HDFSBackedStateStoreProvider") =>
            // the HDFS default can't serve transformWithState; replacing the
            // engine DEFAULT is the documented session-wide side effect
            spark.conf.set(providerKey, rocksDb)
          case Some(other) => throw new IllegalStateException(
            s"dedupeReplays requires the RocksDB state store; session pins $other — " +
              "unset it or set RocksDBStateStoreProvider yourself")
        }
        import spark.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val keyParts = RawMerge.keyCols(pkPaths).map(col)
        val validKey = keyParts.map(c => c.isNotNull && c =!= "").reduce(_ && _)
        RawMerge.storedKeyed(lines, pkPaths, carry = Seq("__f"), doc = "value")
          .withColumn("k",
            when(validKey, concat_ws("\u0001", lit("k") +: keyParts: _*))
              .otherwise(concat(lit("e|"), md5(col("raw")))))
          .select(col("k"), col("__f").as("f"), col("raw"))
          .as[SyncRow]
          .groupByKey(_.k)
          .transformWithState(new FirstSeenKeys(dedupeTtl),
            if (dedupeTtl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
            OutputMode.Append())
          .toDF()
          .select(col("raw").as("value"), col("f").as("__f"))
      }
    streamIn.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(mergeBatch)
      .start()
  }

  // ---- oracle-checked batch forms ----

  def qSt1(spark: SparkSession, dir: String): DataFrame =
    tumblingCounts(Tables.events(spark, dir)).orderBy("w_start", "event_type")

  def qSt2(spark: SparkSession, dir: String): DataFrame =
    slidingCounts(Tables.events(spark, dir)).orderBy("w_start", "event_type")

  def qSt3(spark: SparkSession, dir: String): DataFrame =
    sessionCounts(Tables.events(spark, dir)).orderBy("user_id", "s_start")

  def qSt4(spark: SparkSession, dir: String): DataFrame =
    dedupCount(Tables.events(spark, dir))

  /** ST-7 (batch form): click→purchase pairs within the funnel window. */
  def qSt7(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    funnelPairs(ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
      .select("c_id", "p_id")
      .orderBy("c_id", "p_id")
  }

  /** ST-10 (batch form): abandoned clicks — no purchase by the same user
    * within the +30 min funnel window ([[funnelAbandoned]] filtered to the
    * null-extended rows). The StreamingSpec twin runs the same expression
    * as a live watermarked stream-stream left-outer join. */
  def qSt10(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    funnelAbandoned(ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
      .where(col("p_id").isNull)
      .select(col("c_id"), col("c_user").as("user_id"))
      .orderBy("c_id")
  }

  /** ST-11 (batch form): WINDOWED DISTRIBUTION DRIFT — the data-quality
    * monitor a production ingestion pipeline runs next to its sinks: per
    * consecutive pair of event-time hours, the total-variation distance
    * between the two hours' event-type distributions, in permyriad. A
    * schema-stable feed whose CONTENT shifts (a client update changes the
    * click/view mix, an outage spikes errors) moves tv4 long before any
    * hard failure; the monitor thresholds it.
    *
    * Exactness: TV = ½·Σ_t |p₁(t) − p₂(t)| is rational once cleared of
    * denominators — tv4 = (10⁴ · Σ_t |c₁ᵗ·n₂ − c₂ᵗ·n₁|) DIV (2·n₁·n₂),
    * BIGINT throughout (the numerator stays non-negative, so DuckDB's
    * floor-// and Spark's truncating DIV agree). Hours with zero events
    * form no pair (n₁, n₂ >= 1 by construction — no zero guard needed).
    *
    * Scale: the counting core IS [[tumblingCounts]] (ST-1) — ONE
    * map-side-combined aggregate reduces the event stream to (hour, type,
    * count), metadata-sized, and its streaming form (watermarked tumbling
    * window) is already spec-pinned equal to the batch form, so the drift
    * monitor runs live by putting this derivation in the foreachBatch
    * consumer of that aggregate. The pair join and the per-pair reduce
    * run on the counts frame, never on events. */
  def qSt11(spark: SparkSession, dir: String): DataFrame =
    driftOf(tumblingCounts(Tables.events(spark, dir)))

  /** The drift derivation over ANY (w_start, event_type, c) counts frame —
    * in batch that frame is [[tumblingCounts]] of the events table; live,
    * it is the SAME aggregate's streaming output (StreamingSpec pins the
    * equality end to end), so the monitor is this function applied in the
    * foreachBatch consumer. */
  private[graft] def driftOf(counts: DataFrame): DataFrame = {
    val c = counts
      .select(col("w_start").as("w"), col("event_type").as("t"), col("c"))
    val n = c.groupBy("w").agg(sum("c").as("n"))
    val a = c.select(col("w").as("w1"), col("t"), col("c").as("c1"))
    val b = c.select((col("w") - expr("INTERVAL 1 HOUR")).as("w1"),
      col("t"), col("c").as("c2"))
    a.join(b, Seq("w1", "t"), "full") // USING-join coalesces the keys
      .select(col("w1"), col("t"),
        coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
      .join(n.select(col("w").as("w1"), col("n").as("n1")), "w1")
      .join(n.select((col("w") - expr("INTERVAL 1 HOUR")).as("w1"),
        col("n").as("n2")), "w1")
      .groupBy("w1", "n1", "n2")
      .agg(sum(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("d"))
      .select(col("w1").as("w_start"), col("n1"), col("n2"),
        expr("(10000 * d) DIV (2 * n1 * n2)").as("tv4"))
      .orderBy("w_start")
  }

  /** Q-ST12 — DRIFT ALERT DEBOUNCE: the decision layer on top of
    * [[qSt11]]'s monitor — a window-pair ALERTS iff its TV distance is
    * >= 3000 permyriad AND the immediately preceding comparable pair
    * (w_start exactly one hour earlier) was too. One spiky hour is noise;
    * two consecutive hot pairs is a regime change — the classic
    * k-consecutive alert debounce at k = 2, the rule an operator actually
    * pages on. Live, the same rule is [[alertOf]] applied to the
    * foreachBatch drift frame (batch == stream because the whole chain
    * below [[driftOf]] is streamed-pinned, and StreamingSpec pins this
    * derivation end to end as well).
    *
    * Scale: the drift frame is CALENDAR-sized (one row per event-hour —
    * [[qSt11]]'s reduction already left the event stream behind), so the
    * unpartitioned lag window is bounded by wall-clock hours, never by
    * data volume (the q_w8 family precedent). A GAP in the hours (no
    * comparable preceding pair) reports prev_tv4 = -1 and never alerts. */
  def qSt12(spark: SparkSession, dir: String): DataFrame =
    alertOf(driftOf(tumblingCounts(Tables.events(spark, dir))))

  /** The debounce derivation over ANY (w_start, n1, n2, tv4) drift frame —
    * see [[qSt12]]; shared by the batch query and the live consumer. */
  private[graft] def alertOf(drift: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("w_start")
    drift.select(col("w_start"), col("tv4"),
        lag("w_start", 1).over(w).as("pw"),
        lag("tv4", 1).over(w).as("ptv"))
      .select(col("w_start"), col("tv4"),
        when(col("pw") === col("w_start") - expr("INTERVAL 1 HOUR"),
          col("ptv")).otherwise(lit(-1L)).as("prev_tv4"))
      .withColumn("alert",
        when(col("tv4") >= 3000 && col("prev_tv4") >= 3000, 1L)
          .otherwise(0L))
      .orderBy("w_start")
  }

  /** Q-ST13 — GATE ADMISSION VERDICT (batch form of the [[dedupGateBatch]]
    * decision logic, minus the durable store): classify an incoming batch
    * (docs 100 ≤ doc_id < 250, standing in for one micro-batch) against a
    * held-out eval frame (doc_id < 20) with the gate's own two rejection
    * lanes — `contaminated` (shares a verbatim 8-token gram with the eval
    * set, the [[graft.operators.TextAnalysis.qT11]] rule the
    * `decontamEval` opt-in runs at the door) taking precedence over
    * `contaminated_fuzzy` (a verified MinHash near-dup of an eval doc —
    * the [[graft.operators.TextAnalysis.qT24]] rule the `decontamFuzzy`
    * opt-in runs at the door, VERDICT r17 task 3: shingle Jaccard ≥ 0.2
    * against any eval doc, candidates via [[fuzzyEvalPairsOf]]), over
    * `dup` (a band key shared with a smaller doc_id in the same batch —
    * rule (b) min-id-wins, bands via [[bandKeys]] so the batch form and
    * the live gate can never drift), else `admit`. The oracle replays
    * all three lanes (the q_t11 gram kernel + the q_t24 fuzzy chain +
    * the q_d4 banding CTEs) and the precedence.
    *
    * Scale: the eval gram set, eval band keys, and eval shingle lists all
    * broadcast (eval-sized); the dup leg is one band-keyed agg over
    * batch-sized bands; the fuzzy verify shingles candidates only — every
    * lane micro-batch-bounded exactly like the live gate. */
  def qSt13(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
    val batch = docs.where(col("doc_id") >= 100 && col("doc_id") < 250)
    val evalDocs = docs.where(col("doc_id") < 20)
    val evalGrams = graft.operators.TextAnalysis
      .tokenGrams(evalDocs).select("gram").distinct()
    val contam = graft.operators.TextAnalysis.tokenGrams(batch)
      .join(broadcast(evalGrams), "gram")
      .select("doc_id").distinct().withColumn("c", lit(1))
    val fuzzy = fuzzyEvalPairsOf(batch.select("doc_id", "text"),
        evalDocs.select("doc_id", "text"))
      .where(col("jac_e4") >= FuzzyContamJacE4)
      .select("doc_id").distinct().withColumn("f", lit(1))
    val bands = bandKeys(batch)
    val dup = bands
      .join(bands.groupBy("band", "bk").agg(min("doc_id").as("first_id")),
        Seq("band", "bk"))
      .where(col("doc_id") > col("first_id"))
      .select("doc_id").distinct().withColumn("d", lit(1))
    batch.select("doc_id")
      .join(contam, Seq("doc_id"), "left")
      .join(fuzzy, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("c") === 1, lit("contaminated"))
          .when(col("f") === 1, lit("contaminated_fuzzy"))
          .when(col("d") === 1, lit("dup"))
          .otherwise(lit("admit")).as("verdict"))
      .orderBy("doc_id")
  }

  /** ST-5 (batch form): incremental MERGE equivalence — applying the merge
    * in two half-batches (foreachBatch style) must land on the same final
    * state as one full-refresh merge; the oracle pins the final state's
    * order-independent checksum. Runs [[RawMerge.mergedState]], the
    * production merge body, twice over JSON lines, seeded from an empty
    * target. */
  def qSt5(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      col("event_id").cast("string").as("id"),
      col("event_type").as("pk"),
      col("props").as("text"))
    val half = xxhash64(col("id")) % 2 === 0
    val empty = RawMerge.docLines(ev.limit(0))
    val t1 = RawMerge.mergedState(spark, RawMerge.docLines(ev.filter(half)),
      empty, Seq("/pk"))
    val t2 = RawMerge.mergedState(spark, RawMerge.docLines(ev.filter(!half)),
      t1.select("raw"), Seq("/pk"))
    RawMerge.stateChecksum(t2)
  }

  // ---- ST-9: dedup-gated ingestion ----

  /** ST-9 — DEDUP-GATED INGESTION: admit a micro-batch of documents only if
    * they are not MinHash-LSH near-dups of anything already ingested — the
    * online form of the qD4 batch sweep, run AT THE DOOR so the corpus never
    * accumulates the duplicates a later offline pass would have to claw
    * back. Each admitted doc's band keys land in a durable band store; the
    * next batch's candidates stream against it.
    *
    * Gate rule (deterministic): a doc is rejected iff one of its 2 band
    * keys ([[graft.operators.Dedup.qD4]]'s 2×2 banding of the fused
    * `minhash_sig`) is (a) present in the store under a DIFFERENT doc_id,
    * or (b) shared with a smaller doc_id in the same batch (min-id-wins;
    * a doc whose smaller colliding sibling was itself rejected still
    * rejects — the gate errs toward dropping, which is the right direction
    * for ingestion hygiene, and stays a one-aggregation rule instead of a
    * per-batch connected-components pass). Docs too short to shingle have
    * no bands and admit trivially.
    *
    * Exactly-once: foreachBatch can replay a batch after a crash, and a
    * replayed doc's own bands are already in the store — so the gate keys
    * collisions on OTHER doc_ids, and a `_commits/<batchId>` marker makes
    * the whole batch idempotent (replay of a committed batch is a no-op,
    * the standard foreachBatch sink contract).
    *
    * Scale: the batch side is micro-batch-sized and BROADCASTS into the
    * band-store scan, so the store — which grows with the corpus — streams
    * map-only and is never shuffled; AND the store IS bucket-partitioned
    * by band key (`bp = hash(bk) mod` the store's frozen bucket count —
    * `spark.graft.gateBandBuckets` at creation, default
    * [[GateBandBucketsDefault]], recorded in `_store_meta.tsv` like a
    * container's bucket count — the [[graft.core.GraftCatalog]] point-read
    * posture), so each batch's scan prunes to its own keys' partitions —
    * the bytes read per batch track the batch, not the corpus (pruning is
    * lossless: a colliding store row shares the bk, hence the partition).
    * Pre-marker stores are adopted/migrated one-time at entry — see
    * [[resolveGateStore]]. Returns (admitted, rejected) counts for the
    * batch.
    *
    * `advanceIndex = true` (with `corpusDir`) makes the gate the FULL
    * ingestion sink: the admitted delta lands in `corpusDir`'s
    * `documents.parquet` AND advances the durable
    * [[graft.operators.DupClusters]] artifact, all under this batch's
    * `_commits/<batchId>` marker. The landing is a STAGED-DELTA protocol
    * (the append-then-marker ordering had a double-append window — a
    * crash after the corpus append but before its marker replayed the
    * append):
    *
    *   1. the admitted delta is written to `_commits/<batchId>.delta.tmp`
    *      and published by ONE rename to `_commits/<batchId>.delta` —
    *      from this point the delta and the decisions it encodes are
    *      durable and replay-detectable;
    *   2. each staged file MOVES into the corpus under a deterministic
    *      `gate-b<batchId>-<name>` target — idempotent: a replay skips
    *      targets that already exist, so the delta lands EXACTLY ONCE at
    *      every crash point;
    *   3. the index appends publish by their own fingerprint-keyed
    *      atomic renames (self-idempotent), then the batch marker
    *      commits and the staging dir is swept.
    *
    * A replay that finds the staged delta finishes steps 2–3 and derives
    * the indexes for the resulting corpus state; a replay from BEFORE the
    * staging rename recomputes decisions (bit-identical — the store's
    * copy of this batch's bands self-matches away) and restages. A crash
    * inside the gate-store appends can duplicate rows in `docs/`/`bands/`
    * (pre-existing, decision-neutral: duplicates carry the same doc_id
    * and band keys), but never in the corpus.
    * `advanceLex = true` (implies `advanceIndex`) additionally advances
    * the durable inverted index ([[graft.operators.LexIndex]]) under the
    * SAME marker — both artifacts' priors resolve before the delta lands,
    * and the replay path re-derives BOTH for the current corpus state, so
    * the lexical serving lanes (BM25 / hybrid-RRF) stay consistent with a
    * streaming-ingested corpus at the same crash points.
    * `advanceAnn = true` (implies `advanceIndex`; batch must carry an
    * `embedding` column) additionally lands the admitted vectors in
    * `corpusDir`'s `embeddings.parquet` and advances the durable ANN
    * index ([[graft.operators.Similarity.IvfIndex.appendFor]], the gate's
    * serving config lloydIters = 0) under the SAME marker: both deltas
    * stage under ONE `_commits/<batchId>.delta` rename (docs/ + embs/
    * subtrees; [[publishDelta]] routes by prefix), so the vector lane of
    * [[graft.operators.Similarity.qSim17]] serves a streaming-ingested
    * corpus O(delta)-warm — never a rebuild — at every crash point.
    * `advanceMm = true` (implies `advanceIndex`) additionally advances
    * BOTH multimodal IVF lanes ([[graft.operators.MmIvf.append]] — image
    * and audio) with the admitted doc ids: the lanes' real decode kernels
    * re-synthesize the bounded asset subset of the delta executor-side,
    * assign against frozen centroids, and publish at the post-delta
    * fingerprint (per-lane idempotent renames; a seed-raising delta
    * routes to a rebuild). A crash replay re-derives both lanes for the
    * resulting corpus state, so q_mm19/q_mm21 serve a streaming-ingested
    * corpus without waiting for an offline rebuild (VERDICT r15 task 3 —
    * the gate previously left the mm index stale).
    * `extVectors = Some(frame)` (requires `advanceMm`; frame is
    * `(asset_id, f)` from the SAME frozen encoder generation that seeded
    * the lane) additionally advances the EXTERNAL mm lane
    * ([[graft.operators.MmIvf.appendExternal]]) under the SAME marker
    * (VERDICT r16 task 2). The lane must be SEEDED before the first gated
    * batch ([[graft.operators.MmIvf.buildExternal]] with the caller's
    * vectors) — the gate refuses an unseeded lane rather than
    * fixture-building it, which would silently mix vector spaces. Unlike
    * the decode lanes a lost external append cannot rebuild from the
    * corpus, so the admitted delta's vectors stage under `extv/` inside
    * the SAME `_commits/<batchId>.delta` rename (never landed in the
    * corpus — [[publishDelta]] skips the prefix) together with the
    * pre-delta index path (`_extprior`); a crash replay finishes exactly
    * the interrupted append from that staging. A seed-raising ext delta
    * refuses loudly inside appendExternal — rebuilding needs the caller's
    * full vector frame, which the gate does not hold.
    *
    * ONCE SEEDED, PASS `extVectors` ON EVERY GATED BATCH (VERDICT r17
    * task 5): each admitted batch moves the corpus fingerprint, and only
    * the ext append republishes the lane at the new one — a batch gated
    * WITHOUT `extVectors` leaves the lane at the old fingerprint, and
    * the next `extVectors` batch refuses with an explicit re-seed
    * ([[graft.operators.MmIvf.buildExternal]] with the full vector
    * frame) as the only recovery. For a batch whose documents carry no
    * vectors, pass `Some(spark.emptyDataset[...].toDF("asset_id", "f"))`
    * — an EMPTY (asset_id BIGINT, f ARRAY<BIGINT>) frame: the empty
    * staged delta republishes the lane at the post-batch fingerprint
    * (zero new vectors indexed), keeping it current for the next real
    * append (spec-pinned in StreamingSpec).
    *
    * Maintenance opt-ins, both AFTER the commit marker (so a crash
    * mid-upkeep replays as a committed no-op):
    *  - `autoExpireKeepLast = Some(n)`: every admitted batch publishes a
    *    new corpus fingerprint, superseding the prior DupClusters (and lex)
    *    dir — under a busy gate that is one superseded dir per micro-batch.
    *    This runs the `expire_indexes` sweep (keep the newest n superseded
    *    dirs; live fingerprints are never touched) for the advanced
    *    artifact kinds, mirroring [[compactGateStore]]'s posture.
    *  - `vacuumCommitsBelow = Some(floor)`: sweep `_commits` metadata for
    *    batchIds the source checkpoint can no longer replay — see
    *    [[vacuumGateCommits]] for the horizon contract (for a live query,
    *    the current batchId is a safe floor).
    *
    * `decontamEval = Some(evalFrame)` adds a DECONTAMINATION lane ahead of
    * the dup legs: batch docs sharing a verbatim 8-token gram with the
    * eval frame (the [[graft.operators.TextAnalysis.qT11]] rule) are
    * rejected and quarantined to the store's `_contam` channel
    * (doc_id, text, batch_id, reason) — eval leakage never enters the
    * corpus, so the offline q_t11/q_t38 passes become audits instead of
    * cleanups. `decontamFuzzy = true` (VERDICT r17 task 3) adds the
    * [[graft.operators.TextAnalysis.qT24]] rule as a second door lane:
    * batch docs whose verified shingle Jaccard against any eval doc
    * reaches [[FuzzyContamJacE4]] (candidates via MinHash banding,
    * [[fuzzyEvalPairsOf]]) quarantine with reason `fuzzy` — paraphrased
    * leakage refused at the door, not clawed back offline.
    * [[qSt13]] is the oracle-checked batch form of the combined verdict. */
  /** The gate's LSH band keys for a (doc_id, text) frame: [[graft
    * .operators.Dedup.qD4]]'s 2×2 banding of the fused `minhash_sig`
    * (3-token shingles, 4 mins, 2 bands). Docs too short to shingle emit
    * no rows. Shared by [[dedupGateBatch]] (which adds the store's bp
    * partition key) and the [[qSt13]] batch-form verdict, so the two can
    * never drift. */
  private[graft] def bandKeys(batch: DataFrame): DataFrame =
    batch.selectExpr("doc_id", "minhash_sig(text, 3) AS ms")
      .where(col("ms").isNotNull)
      .selectExpr("doc_id",
        """explode(array(
          |  named_struct('band', 1, 'bk', concat(ms.m1, '_', ms.m2)),
          |  named_struct('band', 2, 'bk', concat(ms.m3, '_', ms.m4)))) AS b""".stripMargin)
      .selectExpr("doc_id", "b.band AS band", "b.bk AS bk")

  /** The fuzzy-decontam flag threshold — shingle Jaccard ≥ 0.2 in
    * integer permyriad, [[graft.operators.TextAnalysis.qT24]]'s `flagged`
    * rule verbatim, so the gate lane and the offline audit can never
    * disagree on what counts as paraphrased leakage. */
  private[graft] val FuzzyContamJacE4 = 2000L

  /** [[graft.operators.TextAnalysis.fuzzyEvalPairs]]'s kernel over two
    * FRAMES (VERDICT r17 task 3 — the gate's fuzzy lane and [[qSt13]]'s
    * batch form share it): candidates via the gate's own 2×2 MinHash
    * banding ([[bandKeys]] on both sides), verified with exact 3-token
    * shingle Jaccard in integer permyriad. Returns (doc_id, e_id,
    * jac_e4) for batch × eval band collisions only.
    *
    * Scale: the eval side is benchmark-sized — its band keys AND its
    * shingle lists broadcast; the batch side pays one fused signature
    * pass plus shingling of the CANDIDATES only (the live gate passes
    * its already-checkpointed band frame via `batchBands`, so the
    * signature pass stays computed once per batch). Never batch × eval
    * all-pairs. */
  private[graft] def fuzzyEvalPairsOf(batch: DataFrame, ev: DataFrame,
      batchBands: Option[DataFrame] = None): DataFrame = {
    val bBands = batchBands.getOrElse(bandKeys(batch.select("doc_id", "text")))
      .select("doc_id", "band", "bk")
    val eBands = bandKeys(ev.select("doc_id", "text"))
      .withColumnRenamed("doc_id", "e_id")
    val cand = bBands.join(broadcast(eBands), Seq("band", "bk"))
      .select("doc_id", "e_id").distinct()
    val gc = batch.join(cand.select("doc_id").distinct(), Seq("doc_id"))
      .selectExpr("doc_id", "word_shingles(text, 3) AS gc")
    val ge = ev.selectExpr("doc_id AS e_id", "word_shingles(text, 3) AS ge")
      .join(broadcast(cand.select("e_id").distinct()), Seq("e_id"))
    cand.join(gc, "doc_id").join(broadcast(ge), "e_id")
      .withColumn("jac_e4",
        expr("(CAST(size(array_intersect(gc, ge)) AS BIGINT) * 10000) " +
          "DIV size(array_union(gc, ge))"))
      .select("doc_id", "e_id", "jac_e4")
  }

  def dedupGateBatch(spark: SparkSession, storeDir: String,
      batch: DataFrame, batchId: Long, advanceIndex: Boolean = false,
      corpusDir: Option[String] = None,
      advanceLex: Boolean = false,
      advanceAnn: Boolean = false,
      advanceMm: Boolean = false,
      autoExpireKeepLast: Option[Int] = None,
      vacuumCommitsBelow: Option[Long] = None,
      decontamEval: Option[DataFrame] = None,
      decontamFuzzy: Boolean = false,
      extVectors: Option[DataFrame] = None): (Long, Long) = {
    require(!decontamFuzzy || decontamEval.nonEmpty,
      "dedupGateBatch: decontamFuzzy is a second lane of the decontamEval " +
        "protocol — pass the eval frame as well")
    require(!advanceIndex || corpusDir.nonEmpty,
      "dedupGateBatch: advanceIndex = true needs the corpusDir the " +
        "admitted delta lands in")
    require(!advanceLex || advanceIndex,
      "dedupGateBatch: advanceLex rides the advanceIndex corpus-landing " +
        "protocol — set advanceIndex = true as well")
    require(!advanceAnn || advanceIndex,
      "dedupGateBatch: advanceAnn rides the advanceIndex corpus-landing " +
        "protocol — set advanceIndex = true as well")
    require(!advanceMm || advanceIndex,
      "dedupGateBatch: advanceMm rides the advanceIndex corpus-landing " +
        "protocol — set advanceIndex = true as well")
    require(!advanceAnn || batch.columns.contains("embedding"),
      "dedupGateBatch: advanceAnn = true needs an `embedding` column on " +
        "the batch (the admitted delta lands in embeddings.parquet)")
    // VERDICT r16 task 2: caller-supplied (asset_id, f) delta vectors for
    // the EXTERNAL mm lane ride the same _commits marker as the decode
    // lanes. The lane must be advanceMm-scoped (it is an mm lane) and
    // SEEDED before the first gated batch — the gate never fixture-builds
    // it implicitly, because the fixture quantization and a caller's
    // encoder generation are different vector spaces.
    require(extVectors.isEmpty || advanceMm,
      "dedupGateBatch: extVectors ride the advanceMm lane protocol — " +
        "set advanceMm = true (and advanceIndex) as well")
    // ADVICE r17: the staged extv/ copy is read back on crash replay with
    // a hard (asset_id BIGINT, f ARRAY<BIGINT>) schema — a frame that
    // stages as e.g. array<int> would fail only at replay, AFTER the
    // staged rename landed the docs, wedging the batch on every retry.
    // Refuse a contract-violating caller before anything is staged.
    extVectors.foreach { ev =>
      import org.apache.spark.sql.types.{ArrayType, LongType}
      val cols = ev.columns.toSet
      val fOk = cols.contains("f") && (ev.schema("f").dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      })
      require(cols.contains("asset_id") &&
        ev.schema("asset_id").dataType == LongType && fOk,
        "dedupGateBatch: extVectors must carry (asset_id BIGINT, " +
          "f ARRAY<BIGINT>) — the staged crash-replay copy is read back " +
          s"with exactly that schema; got ${ev.schema.simpleString}")
    }
    graft.functions.GraftFunctions.register(spark)
    val st = graft.core.Storage.hadoop
    // fail fast with a clear message: the ANN lane fingerprints and appends
    // against the corpus's embeddings file, so it must exist (seed it with
    // the initial corpus) before the first gated batch
    require(!advanceAnn || corpusDir.forall(d => st.exists(
      new org.apache.hadoop.fs.Path(d, "embeddings.parquet").toString)),
      "dedupGateBatch: advanceAnn = true needs an existing " +
        "embeddings.parquet in corpusDir (seed the corpus before streaming)")
    healGateStore(storeDir) // finish any crashed compaction swap first
    val meta = resolveGateStore(spark, storeDir) // layout marker + migration
    val marker = s"$storeDir/_commits/$batchId"
    val deltaDir = s"$storeDir/_commits/$batchId.delta"
    if (st.exists(marker)) { // replayed, already committed
      st.deleteRecursive(deltaDir) // sweep a crash-between-commit-and-clean
      return (0L, 0L)
    }
    def commit(): Unit = { st.mkdirs(s"$storeDir/_commits"); st.writeString(marker, ""); () }
    // post-commit maintenance (see the scaladoc's opt-ins) — runs at every
    // commit site so a gate that only ever replays/admits-zero still keeps
    // its metadata bounded
    def upkeep(): Unit = {
      val advanced = Map("dup" -> true, "lex" -> advanceLex,
        "ivf" -> advanceAnn, "mm" -> advanceMm)
      for (n <- autoExpireKeepLast; d <- corpusDir if advanceIndex;
           f <- graft.core.Artifact.kinds if advanced(f.kind)) {
        // the gate pins its OWN staged _extprior generations (ADVICE
        // r17): self-upkeep must never sweep a generation a concurrent
        // crash replay of this gate still needs
        f.expireStale(Seq(d), Some(n), None, gateStoreDirs = Seq(storeDir))
      }
      vacuumCommitsBelow.foreach(f => vacuumGateCommits(storeDir, f))
    }
    if (advanceIndex && st.exists(deltaDir)) {
      // crash between the staging rename and the final commit: the
      // decisions and the admitted delta are durable. Finish the landing
      // (idempotent deterministic-name moves — files already moved are
      // skipped, so the delta can never double-append) and derive the
      // indexes for the RESULTING corpus state — fingerprint-keyed
      // publish means a completed append warm-loads and a lost one
      // rebuilds (spec-pinned equal to the append), so the
      // reconciliation refusal never fires
      publishDelta(st, deltaDir, corpusDir.get, batchId)
      graft.operators.DupClusters.build(spark, corpusDir.get)
      if (advanceLex) graft.operators.LexIndex.build(spark, corpusDir.get)
      // the ANN rebuild-on-lost-append: with the gate's serving config
      // (lloydIters = 0) and a delta within the frozen scale this derives
      // the index appendFor would have published (spec-pinned)
      if (advanceAnn)
        graft.operators.Similarity.IvfIndex.build(spark, corpusDir.get,
          lloydIters = 0)
      // the mm rebuild-on-lost-append: fingerprint-keyed publish means a
      // completed append warm-loads and a lost one rebuilds from the
      // bounded asset subset (spec-pinned equal to the append)
      if (advanceMm) {
        graft.operators.MmIvf.build(spark, corpusDir.get)
        graft.operators.MmIvf.buildAudio(spark, corpusDir.get); ()
      }
      // EXT lane (VERDICT r16 task 2), self-describing from the staging:
      // unlike the decode lanes, a lost external append cannot rebuild
      // from the corpus — so the staged delta KEEPS the vectors (extv/,
      // never landed in the corpus) plus the pre-delta prior's path
      // (_extprior), and replay finishes exactly the append the crash
      // interrupted. Idempotent like every lane: an append that already
      // published warm-loads at its marker inside appendExternal.
      if (st.exists(s"$deltaDir/extv")) {
        val prior = graft.operators.MmIvf.loadAt(spark,
          st.readString(s"$deltaDir/_extprior").trim)
        graft.operators.MmIvf.appendExternal(spark, corpusDir.get, prior,
          readStagedExtv(spark, deltaDir)); ()
      }
      commit()
      st.deleteRecursive(deltaDir)
      upkeep()
      return (0L, 0L)
    }
    // the SEEDED-lane check runs only on the FRESH path — after the
    // committed-marker and staged-delta branches above. A crash replay
    // after publishDelta has already moved the fingerprint (the staged
    // extv/ + _extprior exist precisely to finish that append), and a
    // replay of an old committed batch may arrive after later batches
    // moved it further: both must short-circuit on their markers, never
    // refuse here. On a fresh batch the lane must be current — seeded
    // before the first gated batch, and advanced by EVERY admitted batch
    // thereafter (extVectors on each gate call), or re-seeded via
    // buildExternal after any batch that advanced the corpus without it.
    require(extVectors.isEmpty || corpusDir.forall(
      graft.operators.MmIvf.hasExternal),
      "dedupGateBatch: extVectors need a SEEDED external mm lane at the " +
        "corpus's current fingerprint — build it once with " +
        "MmIvf.buildExternal(corpusDir, Some(vectors)) before streaming, " +
        "and pass extVectors on every gated batch so the lane tracks the " +
        "corpus")
    val n = batch.count()
    if (n == 0) { commit(); upkeep(); return (0L, 0L) }
    val bands = bandKeys(batch)
      .selectExpr("doc_id", "band", "bk",
        // the store's partition key: band keys hash into the store's FROZEN
        // bucket count, so a batch's store scan PRUNES to matching partitions
        s"pmod(xxhash64(bk), ${meta.bandBuckets}) AS bp")
      .localCheckpoint(eager = true) // one signature pass, fanned 3 ways below
    // DECONTAMINATION LANE (opt-in): a doc sharing a verbatim 8-token gram
    // with the eval frame is rejected BEFORE the dup legs — the qT11 rule
    // run AT THE DOOR, so eval leakage never enters the corpus and no
    // offline decontam pass has to claw it back. The eval gram set is
    // eval-sized and BROADCASTS into the batch's gram stream (the q_t38
    // hit-set posture); rejected docs are quarantined to the `_contam`
    // channel (doc_id, text, batch_id — the A4/A13 reject-with-channel
    // pattern) for audit. Replay of an uncommitted crash can duplicate
    // channel rows (decision-neutral, same ids — the docs/bands caveat);
    // a committed batch short-circuits at the marker as always.
    val verbatim = decontamEval match {
      case Some(ev) =>
        val evalGrams = graft.operators.TextAnalysis
          .tokenGrams(ev.select("doc_id", "text")).select("gram").distinct()
        graft.operators.TextAnalysis.tokenGrams(batch.select("doc_id", "text"))
          .join(broadcast(evalGrams), "gram")
          .select("doc_id").distinct()
          .localCheckpoint(eager = true)
      case None => batch.select("doc_id").limit(0)
    }
    // FUZZY LANE (opt-in, VERDICT r17 task 3): a verified MinHash
    // near-dup of an eval doc — the qT24 rule run AT THE DOOR, so a
    // lightly paraphrased eval answer (few exact 8-grams, high shingle
    // Jaccard) is refused instead of clawed back by the offline q_t24
    // pass. Candidates via the gate's own banding against the
    // BROADCAST eval band keys, exact-Jaccard verified, threshold =
    // qT24's flag rule. Verbatim hits take precedence (one reason per
    // doc in the quarantine channel).
    val fuzzy = decontamEval match {
      case Some(ev) if decontamFuzzy =>
        fuzzyEvalPairsOf(batch.select("doc_id", "text"),
            ev.select("doc_id", "text"), batchBands = Some(bands))
          .where(col("jac_e4") >= FuzzyContamJacE4)
          .select("doc_id").distinct()
          .join(verbatim, Seq("doc_id"), "left_anti")
          .localCheckpoint(eager = true)
      case _ => batch.select("doc_id").limit(0)
    }
    // ADVICE r15: only launch the quarantine append when the batch
    // actually rejected something — the counts read the eagerly
    // checkpointed blocks, so a clean batch pays no write job and a
    // never-rejecting store never grows a _contam dir. Each quarantined
    // row carries its rejection `reason` (verbatim | fuzzy) for audit.
    val nVerbatim = if (decontamEval.nonEmpty) verbatim.count() else 0L
    val nFuzzy = if (decontamFuzzy) fuzzy.count() else 0L
    // one-time legacy migration (review r18): a store quarantined into
    // before the fuzzy lane holds 3-column (doc_id, text, batch_id)
    // files; appending 4-column rows would leave the dir mixed-schema,
    // and the compaction rewrite (mergeSchema off) could then silently
    // collapse it to whichever footer wins — dropping `reason`. Every
    // legacy row predates the fuzzy lane, so its reason IS verbatim;
    // rewrite once and swap it in ([[graft.core.Storage.swapDir]];
    // [[healGateStore]] recovers a crash at any point).
    if (nVerbatim + nFuzzy > 0L && st.exists(s"$storeDir/_contam") &&
      !spark.read.parquet(s"$storeDir/_contam").columns.contains("reason")) {
      val live = s"$storeDir/_contam"
      val migrated = spark.read.parquet(live)
        .withColumn("reason", lit("verbatim"))
        .localCheckpoint(eager = true)
      val staging = s"$live.compact-${java.util.UUID.randomUUID().toString.take(8)}"
      migrated.write.mode("overwrite").parquet(staging)
      migrated.unpersist()
      st.swapDir(staging, live)
    }
    if (nVerbatim + nFuzzy > 0L)
      batch.join(verbatim, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), lit(batchId).as("batch_id"),
          lit("verbatim").as("reason"))
        .union(batch.join(fuzzy, Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("text"), lit(batchId).as("batch_id"),
            lit("fuzzy").as("reason")))
        .write.mode("append").parquet(s"$storeDir/_contam")
    val contaminated = verbatim.union(fuzzy)
    val bandsPath = s"$storeDir/bands"
    val rejectedStore =
      if (st.exists(bandsPath)) {
        // micro-batch-bounded driver collect (<= 2 band keys per doc): the
        // partitions this batch can possibly collide in. The store scan
        // reads ONLY those bp dirs — at 100 TB the store grows with the
        // corpus but each batch's read stays ~|batch|/bandBuckets of
        // it; a matching store row has the same bk, hence the same bp, so
        // pruning can never lose a collision
        val bps = bands.select("bp").distinct().collect().map(_.getLong(0)).toSeq
        prunedBandStore(spark, bandsPath, bps)
          .join(broadcast(bands.withColumnRenamed("doc_id", "b_id")),
            Seq("band", "bk"))
          .where(col("doc_id") =!= col("b_id"))
          .select(col("b_id").as("doc_id")).distinct()
      } else batch.select("doc_id").limit(0)
    val rejectedBatch = bands
      .join(bands.groupBy("band", "bk").agg(min("doc_id").as("first_id")),
        Seq("band", "bk"))
      .where(col("doc_id") > col("first_id"))
      .select("doc_id").distinct()
    val rejected = rejectedStore.union(rejectedBatch).union(contaminated)
      .distinct()
      .localCheckpoint(eager = true)
    val admitted = batch.join(rejected, Seq("doc_id"), "left_anti")
      .localCheckpoint(eager = true)
    val nAdmit = admitted.count()
    admitted.write.mode("append").parquet(s"$storeDir/docs")
    bands.join(rejected, Seq("doc_id"), "left_anti")
      .write.mode("append").partitionBy("bp").parquet(bandsPath)
    if (advanceIndex && nAdmit > 0) {
      // VERDICT r10 task 7: the gate's admission AND the index advances
      // run under the SAME _commits/<batchId> marker — the two-call
      // sequence the operator previously had to order is now one
      // crash-safe protocol (staged-delta landing; see the method
      // scaladoc). Priors resolve BEFORE the delta lands (warm
      // memo/durable load; the lex build on first use is the one-time
      // cost of opting into lex maintenance).
      val dir = corpusDir.get
      val prior = graft.operators.DupClusters.build(spark, dir)
      val priorLex =
        if (advanceLex) Some(graft.operators.LexIndex.build(spark, dir))
        else None
      val priorAnn =
        if (advanceAnn) Some(graft.operators.Similarity.IvfIndex
          .build(spark, dir, lloydIters = 0))
        else None
      val priorMm =
        if (advanceMm) Some((graft.operators.MmIvf.build(spark, dir),
          graft.operators.MmIvf.buildAudio(spark, dir)))
        else None
      // the ext prior warm-loads by marker (hasExternal was required at
      // entry), BEFORE the delta lands and moves the fingerprint
      val priorExt =
        if (extVectors.nonEmpty)
          Some(graft.operators.MmIvf.buildExternal(spark, dir))
        else None
      val adm = admitted.select("doc_id", "text")
      st.deleteRecursive(deltaDir + ".tmp") // a crashed attempt's leftover
      if (advanceAnn || extVectors.nonEmpty) {
        // BOTH corpus files' deltas under ONE staging rename (the ANN lane
        // must be durable at the same instant as the decisions — a crash
        // between two renames would lose the vectors); publishDelta routes
        // by the docs/ vs embs/ prefix. The EXT lane's delta vectors stage
        // under extv/ in the SAME rename: they never land in the corpus
        // (publishDelta skips them) but they make the external append
        // replayable — the vectors exist nowhere else.
        adm.write.mode("overwrite").parquet(deltaDir + ".tmp/docs")
        if (advanceAnn)
          admitted.selectExpr("doc_id AS vec_id", "embedding")
            .write.mode("overwrite").parquet(deltaDir + ".tmp/embs")
      } else {
        adm.write.mode("overwrite").parquet(deltaDir + ".tmp")
      }
      for (ev <- extVectors; pe <- priorExt) {
        // admitted ids only: a rejected doc's vectors must not index
        ev.select("asset_id", "f")
          .join(admitted.selectExpr("doc_id AS asset_id"),
            Seq("asset_id"), "left_semi")
          .write.mode("overwrite").parquet(deltaDir + ".tmp/extv")
        // hidden name: publishDelta's walk skips _-prefixed files, so the
        // pointer stays with the staging for the crash branch
        st.writeString(deltaDir + ".tmp/_extprior", pe.path)
      }
      if (!st.rename(deltaDir + ".tmp", deltaDir))
        throw new IllegalStateException(
          s"dedup gate: staging the batch-$batchId delta failed")
      publishDelta(st, deltaDir, dir, batchId)
      graft.operators.DupClusters.append(spark, dir, prior, adm)
      priorLex.foreach(p => graft.operators.LexIndex.append(spark, dir, p, adm))
      priorAnn.foreach(p => graft.operators.Similarity.IvfIndex.appendFor(
        spark, dir, 0, p,
        admitted.selectExpr("doc_id AS vec_id", "embedding")))
      // both mm lanes advance from the SAME admitted ids (the decode
      // kernels re-synthesize the bounded asset subset executor-side);
      // each lane's publish is its own fingerprint-keyed atomic rename
      priorMm.foreach { case (pi, pa) =>
        val admIds = admitted.selectExpr("doc_id AS asset_id")
        graft.operators.MmIvf.append(spark, dir, pi, admIds, "img")
        graft.operators.MmIvf.append(spark, dir, pa, admIds, "aud"); ()
      }
      // ext lane last, reading back the STAGED copy (the same frame a
      // crash replay would finish from, so the two histories append
      // byte-identical deltas). A seed-raising ext delta REFUSES inside
      // appendExternal — the honest behavior: the gate cannot rebuild
      // the lane without the caller's full vector frame.
      priorExt.foreach { pe =>
        graft.operators.MmIvf.appendExternal(spark, dir, pe,
          readStagedExtv(spark, deltaDir)); ()
      }
      ()
    }
    commit()
    if (advanceIndex) { st.deleteRecursive(deltaDir); () } // staging is dead
    upkeep()
    // upkeep AFTER the commit marker: every micro-batch appends one parquet
    // write to bands/ and docs/ — unbounded small-file accumulation, the
    // exact disease FileAccount.compactContainer cures for containers. The
    // threshold keeps amortized upkeep O(1) per batch (a rewrite every
    // ~GateCompactThreshold batches, each reading only store-sized data).
    compactGateStore(spark, storeDir)
    (nAdmit, n - nAdmit)
  }

  /** Read the staged ext-lane delta with an EXPLICIT schema: a batch
    * whose supplied vectors all belonged to rejected docs stages an
    * EMPTY frame (Spark may emit zero part files for it), and schema
    * inference over zero files throws — but the append must still run so
    * the lane republishes at the post-delta fingerprint and stays
    * current for the next batch's seeded check. */
  private def readStagedExtv(spark: SparkSession,
                             deltaDir: String): DataFrame =
    spark.read.schema("asset_id BIGINT, f ARRAY<BIGINT>")
      .parquet(s"$deltaDir/extv")

  /** Step 2 of [[dedupGateBatch]]'s staged-delta landing: MOVE every data
    * file of the published staging dir into the corpus under a
    * deterministic `gate-b<batchId>-<name>` target. Idempotent at every
    * crash point — a file whose target already exists was moved by a
    * previous attempt (rename removed the source atomically; a source
    * lingering beside an existing target can only be a non-atomic store's
    * partial, and is dropped rather than landed twice). Hidden files
    * (`_SUCCESS`, checksum sidecars) never move — corpus readers ignore
    * them by convention and [[graft.core.Artifact.corpusEntries]]
    * excludes them from fingerprints. */
  private def publishDelta(st: graft.core.Storage, deltaDir: String,
                           corpusDir: String, batchId: Long): Unit = {
    val docCorpus =
      new org.apache.hadoop.fs.Path(corpusDir, "documents.parquet").toString
    val embCorpus =
      new org.apache.hadoop.fs.Path(corpusDir, "embeddings.parquet").toString
    st.walk(deltaDir).map(_.relPath).filterNot(graft.core.Storage.hidden)
      // extv/ is NOT corpus data: the ext mm lane's staged delta vectors
      // stay in the staging dir for the crash branch to finish the
      // external append, and die with it at the post-commit sweep
      .filterNot(_.startsWith("extv/")).sorted.foreach { rel =>
      val src = new org.apache.hadoop.fs.Path(deltaDir, rel).toString
      // routing is self-describing from the staged layout: an advanceAnn
      // batch stages docs/ + embs/ subtrees; a docs-only batch stages at
      // the root (and any pre-subtree staging from older versions lands as
      // documents — the only kind those versions ever staged)
      val corpus = if (rel.startsWith("embs/")) embCorpus else docCorpus
      val dst = new org.apache.hadoop.fs.Path(corpus,
        s"gate-b$batchId-${rel.replace('/', '-')}").toString
      if (st.exists(dst)) {
        // a source lingering beside an existing target (ADVICE r11): on an
        // atomic-rename store this state is unreachable (a completed move
        // removed its source atomically, and replays reuse the SAME staged
        // files), so it can only be a copy-then-delete store's crash
        // mid-move — and there the DESTINATION may be the partial, not the
        // source. Compare CONTENT tokens (length + head/tail CRC32C, ADVICE
        // r12) before dropping the source — a same-size but
        // content-divergent destination must lose to the staged source; on
        // mismatch redo the move over a clean destination.
        val same =
          try st.contentToken(src) == st.contentToken(dst)
          catch { case scala.util.control.NonFatal(_) => false }
        if (same) { st.delete(src); () }
        else {
          st.delete(dst)
          if (!st.rename(src, dst))
            throw new IllegalStateException(
              s"dedup gate: re-landing $src -> $dst failed")
        }
      }
      else if (!st.rename(src, dst))
        throw new IllegalStateException(
          s"dedup gate: landing $src -> $dst failed")
    }
  }

  /** Checkpoint-aware retention for the gate's `_commits` metadata (VERDICT
    * r11 task 3): every micro-batch leaves one marker file forever — the
    * same unbounded-metadata shape `expire_indexes` closed for index
    * fingerprints; years of streaming would be millions of tiny files in
    * one directory. A marker is REPLAY PROTECTION, so it may only be swept
    * once the source checkpoint can no longer re-deliver its batchId: the
    * caller supplies that horizon (`safeBatchFloor` — for a live
    * foreachBatch query the current batchId is safe, because the engine
    * replays at most the one batch whose checkpoint commit did not land,
    * never an earlier one; the same store-outlives-checkpoint caveat as
    * the markers themselves applies — resetting the checkpoint while
    * keeping the store already breaks marker semantics, vacuumed or not).
    *
    * Sweeps, for every id STRICTLY BELOW the floor:
    *   - the `_commits/<id>` marker file;
    *   - a `<id>.delta` staging dir whose marker is present (crash between
    *     commit and clean — exactly what the replay path would sweep);
    *   - any `<id>.delta.tmp` (a crashed staging attempt: its batch either
    *     committed or can no longer replay).
    * Ids AT or ABOVE the floor are never touched — replay safety is the
    * point, so the refusal is by construction, not by flag. A staged
    * `.delta` WITHOUT its marker below the floor is admitted data that
    * never landed and never will (the engine does not advance the
    * checkpoint past an uncommitted batch): that is corruption, left in
    * place for inspection rather than silently deleted. Returns the number
    * of entries removed.
    *
    * SQL doorway: `CALL graft.system.vacuum_gate(store_dir,
    * safe_batch_floor)`. */
  def vacuumGateCommits(storeDir: String, safeBatchFloor: Long): Int = {
    require(safeBatchFloor >= 0,
      "vacuumGateCommits: the safe-replay horizon must be >= 0")
    val st = graft.core.Storage.hadoop
    val dir = s"$storeDir/_commits"
    if (!st.exists(dir)) return 0
    def idOf(name: String, suffix: String): Option[Long] =
      Option(name).filter(_.endsWith(suffix))
        .map(_.dropRight(suffix.length))
        .filter(s => s.nonEmpty && s.forall(_.isDigit))
        .map(_.toLong)
    val markerIds = st.listFilePaths(dir)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .flatMap(idOf(_, "")).toSet
    var swept = 0
    // crashed staging attempts: always dead below the floor
    for (n <- st.listDirNames(dir); id <- idOf(n, ".delta.tmp")
         if id < safeBatchFloor) {
      if (st.deleteRecursive(s"$dir/$n")) swept += 1
    }
    // committed-but-unswept staging dirs: the marker proves the landing
    // finished; an unmarked .delta below the floor is corruption — keep it
    for (n <- st.listDirNames(dir); id <- idOf(n, ".delta")
         if id < safeBatchFloor && markerIds.contains(id)) {
      if (st.deleteRecursive(s"$dir/$n")) swept += 1
    }
    for (id <- markerIds if id < safeBatchFloor) {
      // ADVICE r12: never drop a marker whose committed .delta dir is still
      // present (its deleteRecursive above just failed) — an orphaned dir
      // without its marker reads as UNMARKED staged data to every later
      // vacuum (i.e. corruption, preserved forever). Keeping the marker
      // lets the next vacuum retry the pair in the right order.
      if (!st.exists(s"$dir/$id.delta") && st.delete(s"$dir/$id")) swept += 1
    }
    swept
  }

  /** One gate store's metadata-only shape — what `CALL
    * graft.system.gate_stats` returns. Everything here comes from listings
    * and the meta marker: no data file is ever opened, so the call is
    * O(metadata) at any store size (the `stats` procedure's posture
    * applied to ingestion state). */
  final case class GateStats(layoutVersion: Int, bandBuckets: Int,
      bandFiles: Long, bandBytes: Long, docFiles: Long, docBytes: Long,
      commits: Long, maxBatchId: Long, pendingDeltas: Long,
      crashedStaging: Long, contamFiles: Long, contamBytes: Long)

  /** Metadata-only observability for a gate store (see [[GateStats]]):
    * sub-store file counts/bytes, committed-batch markers and the highest
    * committed batchId (the floor feed for [[vacuumGateCommits]]), plus
    * any staged-but-unswept deltas and crashed `.delta.tmp` attempts —
    * the numbers a maintenance runbook reads before vacuuming/compacting. */
  def gateStats(storeDir: String): GateStats = {
    val st = graft.core.Storage.hadoop
    def files(sub: String): (Long, Long) = {
      val fs = st.walk(s"$storeDir/$sub")
        .filterNot(f => graft.core.Storage.hidden(f.relPath))
      (fs.size.toLong, fs.map(_.size).sum)
    }
    val meta = readGateMeta(storeDir)
    val commitsDir = s"$storeDir/_commits"
    val markers = st.listFilePaths(commitsDir)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
      .filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong)
    val dirs = st.listDirNames(commitsDir)
    val (bf, bb) = files("bands")
    val (df, db) = files("docs")
    // the decontam lane's quarantine channel — zero when the opt-in never
    // ran (the dir does not exist) OR when it ran and rejected nothing
    val (cf, cb) = files("_contam")
    GateStats(
      meta.map(_.layoutVersion).getOrElse(0),
      meta.map(_.bandBuckets).getOrElse(0),
      bf, bb, df, db,
      markers.size.toLong,
      if (markers.nonEmpty) markers.max else -1L,
      dirs.count(n => n.endsWith(".delta")).toLong,
      dirs.count(n => n.endsWith(".delta.tmp")).toLong,
      cf, cb)
  }

  /** File-count bound for [[dedupGateBatch]]'s store: a sub-store whose
    * data-file count (beyond one file per live band partition, for the
    * partitioned band store) exceeds this compacts on the next batch. */
  val GateCompactThreshold = 16

  /** Default hash-partition count of the band store (`bands/bp=N/`): each
    * batch's store scan prunes to its own band keys' partitions — the
    * "bucket-partitioned by band key" posture the GraftCatalog point-read
    * path uses, applied to ingestion state. The count is FROZEN at store
    * creation (from `spark.graft.gateBandBuckets`, this default otherwise)
    * and recorded in the store's `_store_meta.tsv` — exactly like a
    * container's bucket count. Why a large default matters: a batch with
    * ≥buckets distinct band keys touches every partition and re-reads the
    * whole band store, so the bucket count bounds the largest batch that
    * still prunes (a thousands-of-docs ingestion batch carries ~2×|docs|
    * band keys — 64 was far too coarse, 1024 keeps a 100 TB store's
    * per-batch read at ~|batch|/1024 of it). */
  val GateBandBucketsDefault = 1024

  /** Session override for the bucket count of NEWLY CREATED gate stores
    * (existing stores keep their frozen count). */
  val GateBandBucketsConf = "spark.graft.gateBandBuckets"

  /** Current gate-store layout version: v2 = bands hash-partitioned by
    * `bp` with the bucket count frozen in `_store_meta.tsv`. History:
    * v0 = unpartitioned bands (no `bp` column), v1 = partitioned with a
    * hard-coded 64 and no marker. */
  val GateLayoutVersion = 2

  /** The gate store's frozen facts (layout version + band-bucket count),
    * persisted in `_store_meta.tsv` at creation. */
  final case class GateStoreMeta(layoutVersion: Int, bandBuckets: Int)

  private def gateMetaPath(storeDir: String): String =
    s"$storeDir/_store_meta.tsv"

  private def writeGateMeta(storeDir: String, m: GateStoreMeta): Unit = {
    val st = graft.core.Storage.hadoop
    st.mkdirs(storeDir)
    st.writeString(gateMetaPath(storeDir),
      s"layoutVersion\t${m.layoutVersion}\nbandBuckets\t${m.bandBuckets}\n")
  }

  private[graft] def readGateMeta(storeDir: String): Option[GateStoreMeta] = {
    val st = graft.core.Storage.hadoop
    val p = gateMetaPath(storeDir)
    if (!st.exists(p)) None
    else {
      val kv = st.readString(p).linesIterator.filter(_.nonEmpty)
        .map(_.split('\t')).collect { case Array(k, v) => k -> v }.toMap
      Some(GateStoreMeta(kv("layoutVersion").toInt, kv("bandBuckets").toInt))
    }
  }

  /** Resolve the store's layout marker at every gate entry, adopting or
    * migrating marker-less stores ONE TIME (ADVICE r10: the hash-partitioned
    * layout landed with no version marker, so a store written by an older
    * build would fail analysis — `bp` not found — or fail partition
    * discovery once mixed layouts land in the same dir):
    *
    *  - marker present → its frozen `bandBuckets` governs every bp
    *    computation (a later session conf change never re-keys a store);
    *    if `bands/` exists WITHOUT `bp=` dirs the previous migration
    *    crashed between marker write and swap — redo it (the swap protocol
    *    + [[healGateStore]] make the redo safe from any crash point).
    *  - no marker, no `bands/` → fresh store: freeze
    *    `spark.graft.gateBandBuckets` (default [[GateBandBucketsDefault]]).
    *  - no marker, `bands/` with `bp=` dirs → a v1 store (the layout that
    *    hard-coded 64): adopt in place — same physical layout, marker
    *    records the historical 64.
    *  - no marker, `bands/` without `bp=` dirs → a v0 unpartitioned store:
    *    write the marker, then rewrite `bands/` once with derived `bp`
    *    via the compaction swap protocol (crash-safe; a marker-only state
    *    is the redo case above). Decisions are layout-independent — the
    *    gate reads the full row set — so migration never changes an
    *    admit/reject. */
  private[graft] def resolveGateStore(spark: SparkSession,
      storeDir: String): GateStoreMeta = {
    val st = graft.core.Storage.hadoop
    val bandsPath = s"$storeDir/bands"
    def hasBpDirs = st.listDirNames(bandsPath).exists(_.startsWith("bp="))
    def hasDataFiles =
      st.walk(bandsPath).exists(f => !graft.core.Storage.hidden(f.relPath))
    readGateMeta(storeDir) match {
      case Some(m) =>
        require(m.layoutVersion <= GateLayoutVersion,
          s"gate store $storeDir has layout v${m.layoutVersion}, newer than " +
            s"this build's v$GateLayoutVersion — refusing to write")
        if (st.exists(bandsPath) && !hasBpDirs && hasDataFiles)
          migrateGateBands(spark, bandsPath, m.bandBuckets) // crashed migration: redo
        m
      case None if !st.exists(bandsPath) =>
        val m = GateStoreMeta(GateLayoutVersion, spark.conf
          .getOption(GateBandBucketsConf).map(_.toInt)
          .getOrElse(GateBandBucketsDefault))
        require(m.bandBuckets > 0, s"$GateBandBucketsConf must be positive")
        writeGateMeta(storeDir, m); m
      case None if hasBpDirs =>
        val m = GateStoreMeta(GateLayoutVersion, 64) // v1's hard-coded count
        writeGateMeta(storeDir, m); m
      case None =>
        val m = GateStoreMeta(GateLayoutVersion, spark.conf
          .getOption(GateBandBucketsConf).map(_.toInt)
          .getOrElse(GateBandBucketsDefault))
        writeGateMeta(storeDir, m) // marker FIRST: a crash mid-swap redoes above
        if (hasDataFiles) migrateGateBands(spark, bandsPath, m.bandBuckets)
        else { st.deleteRecursive(bandsPath); () } // empty v0 shell (e.g. lone _SUCCESS)
        m
    }
  }

  /** One-time v0→v2 band rewrite: derive `bp` from the stored band keys and
    * swap the partitioned layout in ([[graft.core.Storage.swapDir]]), so
    * [[healGateStore]] covers every crash point. */
  private def migrateGateBands(spark: SparkSession, live: String,
      buckets: Int): Unit = {
    val st = graft.core.Storage.hadoop
    val rows = spark.read.parquet(live)
      .withColumn("bp", pmod(xxhash64(col("bk")), lit(buckets.toLong)))
      .repartition(col("bp"))
      .localCheckpoint(eager = true) // the plan reads the files the swap replaces
    val staging = s"$live.compact-${java.util.UUID.randomUUID().toString.take(8)}"
    rows.write.mode("overwrite").partitionBy("bp").parquet(staging)
    rows.unpersist()
    st.swapDir(staging, live)
  }

  /** The pruned band-store reader — partition filters reach the parquet
    * source listing, so only the named `bp=` dirs are touched
    * (spec-pinned via inputFiles). */
  private[graft] def prunedBandStore(spark: SparkSession, bandsPath: String,
                                     bps: Seq[Long]): DataFrame =
    // partition-type inference reads `bp=` dirs back as INT — filter with
    // INT literals so the predicate stays a bare partition-column filter
    // (a cast-wrapped column can drop out of partition pruning)
    spark.read.parquet(bandsPath).where(col("bp").isin(bps.map(_.toInt): _*))

  /** Heal a crashed swap of each sub-store ([[compactGateStore]],
    * [[migrateGateBands]], the `_contam` reason migration) — called at
    * every gate entry. [[graft.core.Storage.healSwap]] rolls an absent live
    * dir back from its trash, then drops the trash and the `.compact-`
    * staging trees, so no row is ever lost. */
  private[graft] def healGateStore(storeDir: String): Unit = {
    val st = graft.core.Storage.hadoop
    for (sub <- Seq("bands", "docs", "_contam"))
      st.healSwap(s"$storeDir/$sub", _.startsWith(s"$sub.compact-"))
  }

  /** Compact the gate's band/doc stores back to size-targeted files once
    * they cross [[GateCompactThreshold]] — the maintenance story the
    * append-per-batch layout needs (without it a month of micro-batches is
    * tens of thousands of tiny parquet files and the store scan dies of
    * listing + open overhead long before data volume matters).
    *
    * Per sub-store: rewrite into a `.compact-` staging dir (lineage
    * TRUNCATED first — the plan reads the very files the swap replaces),
    * then [[graft.core.Storage.swapDir]] swaps it in. A crash anywhere
    * leaves either the live dir or the complete original in trash;
    * [[healGateStore]] (run at every gate entry) restores the
    * invariant. Gate determinism is layout-independent — decisions read
    * the full row set, never file boundaries — so a compaction between
    * batches never changes an admit/reject (spec-pinned). */
  def compactGateStore(spark: SparkSession, storeDir: String,
      fileThreshold: Int = GateCompactThreshold,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    val st = graft.core.Storage.hadoop
    var before = 0; var after = 0
    // _contam compacts like docs: one parquet append per contaminated
    // batch is the same unbounded-small-file disease, and a plain rewrite
    // preserves the channel's (doc_id, text, batch_id, reason) rows
    // (legacy 3-column stores are reason-migrated at the first
    // quarantine append, so the dir is never mixed-schema here)
    for (sub <- Seq("bands", "docs", "_contam")) {
      val live = s"$storeDir/$sub"
      if (st.exists(live)) {
        val files = st.walk(live).filterNot(f => graft.core.Storage.hidden(f.relPath))
        before += files.size
        // the partitioned band store legitimately holds ~1 file per live
        // bp dir — the compaction trigger counts files BEYOND that floor,
        // or a fully-compacted store would re-trigger every batch
        val floor =
          if (sub == "bands") files.map(_.relPath.split('/').head).distinct.size
          else 0
        if (files.size - floor > fileThreshold) {
          val nOut = math.max(1L,
            (files.map(_.size).sum + targetBytes - 1L) / targetBytes).toInt
          val rows =
            if (sub == "bands")
              // hash-cluster whole bp groups per task → exactly one file
              // per partition dir after the partitionBy write
              spark.read.parquet(live).repartition(col("bp"))
                .localCheckpoint(eager = true)
            else
              spark.read.parquet(live).repartition(nOut)
                .localCheckpoint(eager = true)
          val staging = s"$live.compact-${java.util.UUID.randomUUID().toString.take(8)}"
          if (sub == "bands")
            rows.write.mode("overwrite").partitionBy("bp").parquet(staging)
          else rows.write.mode("overwrite").parquet(staging)
          rows.unpersist()
          st.swapDir(staging, live)
          after += st.walk(live).count(f => !graft.core.Storage.hidden(f.relPath))
        } else after += files.size
      }
    }
    (before, after)
  }
}
