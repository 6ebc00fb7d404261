package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RawMerge
import graft.streaming.Streams

/** ST-1..ST-5 streaming tests (SURVEY.md §5.2 item 4): every streaming query
  * must be batch-equivalent — running the same transformation over a
  * MemoryStream replay of the rows yields the same result as the static
  * DataFrame. Watermark/state behavior (late rows, in-watermark dedup) is
  * exercised explicitly.
  */
/** Top-level so Spark encoders can instantiate it without an outer scope. */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double, props: String)

class StreamingSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, "streaming-spec")
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2025-01-01 ${minute / 60}%02d:${minute % 60}%02d:00")

  private val rows = Seq(
    Ev(1, ts(5), 1, "click", 1.0, "{}"),
    Ev(2, ts(20), 1, "click", 2.0, "{}"),
    Ev(3, ts(65), 1, "view", 3.0, "{}"),   // new hour, >30m gap → new session
    Ev(4, ts(70), 2, "click", 4.0, "{}"),
    Ev(5, ts(130), 2, "view", 5.0, "{}"),
    Ev(6, ts(135), 1, "click", 6.0, "{}"))

  /** Run a streaming transformation over a MemoryStream replay of `rows` to
    * completion and return the sink contents. */
  private def runStream(name: String, mode: OutputMode)
                       (f: DataFrame => DataFrame): DataFrame = {
    val src = MemoryStream[Ev](spark)
    val q = f(src.toDF()).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    // two chunks: exercises incremental state across micro-batches
    src.addData(rows.take(3)); q.processAllAvailable()
    src.addData(rows.drop(3)); q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("ST-1 tumbling window counts: stream == batch") {
    val got = runStream("st1", OutputMode.Complete())(Streams.tumblingCounts)
    assert(canon(got) == canon(Streams.tumblingCounts(rows.toDF())))
  }

  test("ST-2 sliding window counts: stream == batch") {
    val got = runStream("st2", OutputMode.Complete())(Streams.slidingCounts)
    assert(canon(got) == canon(Streams.slidingCounts(rows.toDF())))
  }

  test("ST-3 session windows: stream == batch") {
    val got = runStream("st3", OutputMode.Complete())(Streams.sessionCounts)
    assert(canon(got) == canon(Streams.sessionCounts(rows.toDF())))
    // user 1: sessions {5,20}, {65}, {135} (gaps >= 30m split)
    assert(got.filter(col("user_id") === 1).count() == 3)
  }

  test("ST-4 dropDuplicatesWithinWatermark absorbs in-watermark duplicates") {
    val src = MemoryStream[Ev](spark)
    val q = src.toDF()
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream.format("memory").queryName("st4")
      .outputMode(OutputMode.Append()).start()
    src.addData(rows)
    q.processAllAvailable()
    src.addData(rows.take(2)) // exact duplicates, still inside the watermark
    q.processAllAvailable()
    q.stop()
    assert(spark.table("st4").count() == rows.size)
  }

  test("ST-11 drift monitor: the derivation over the STREAMED counts equals the batch query") {
    // the live form of q_st11: the watermarked tumbling aggregate streams,
    // and the drift derivation runs over its output table (the foreachBatch
    // consumer shape the scaladoc describes) — per-pair TV distances must
    // equal the batch form over the same rows
    val got = runStream("st11", OutputMode.Complete())(Streams.tumblingCounts)
    assert(canon(Streams.driftOf(got)) ==
      canon(Streams.driftOf(Streams.tumblingCounts(rows.toDF()))),
      "streamed drift diverged from the batch derivation")
  }

  test("ST-12 drift alert debounce: the derivation over the STREAMED counts equals the batch query") {
    // the alert layer composes on the same streamed counts frame as ST-11
    // — the foreachBatch consumer pages on alertOf(driftOf(counts)), and
    // that chain must equal the batch q_st12 form over the same rows
    val got = runStream("st12", OutputMode.Complete())(Streams.tumblingCounts)
    assert(canon(Streams.alertOf(Streams.driftOf(got))) ==
      canon(Streams.alertOf(Streams.driftOf(Streams.tumblingCounts(rows.toDF())))),
      "streamed alert chain diverged from the batch derivation")
  }

  test("CALL graft.system.drift: the ops doorway over a LIVE-streamed container equals the batch derivation (VERDICT r13 task 6)") {
    import java.nio.file.{Files, Paths}
    import graft.core.{ContainerProps, FileAccount}
    val root = Files.createTempDirectory(Paths.get("target"), "drift-proc")
    val acc = FileAccount(root.resolve("acct").toString)
    Files.createDirectories(Paths.get(acc.root))
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c",
      ContainerProps(Seq("/pk"), buckets = 4))
    // LIVE ingestion through the real foreachBatch upsert sink (the ST-5
    // e2e shape): events land as ordinary JSON documents carrying the
    // monitored fields; the doorway then reads the CONTAINER, not the
    // stream — the after-every-gate-batch operator workflow
    val src = MemoryStream[Ev](spark)
    val q = src.toDF().writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        graft.functions.GraftFunctions.register(s)
        val docs = batch.selectExpr(
          "to_json(named_struct('id', CAST(event_id AS STRING), " +
            "'pk', event_type, " +
            "'ts', date_format(ts, 'yyyy-MM-dd HH:mm:ss'), " +
            "'event_type', event_type)) AS raw")
          .selectExpr("raw", "json_pk(raw, 'id') AS __id",
            "json_pk(raw, 'pk') AS __pk0")
        acc.upsertRaw(s, "db", "c", docs, Seq("__id", "__pk0"), Seq("/pk"))
        ()
      }.start()
    src.addData(rows.take(3)); q.processAllAvailable()
    src.addData(rows.drop(3)); q.processAllAvailable()
    q.stop()
    spark.conf.set("spark.sql.catalog.graftdr",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdr.root", acc.root)
    val got = spark.sql(
      "CALL graftdr.system.drift(db => 'db', container => 'c')")
    assert(got.count() >= 2, "fixture spans hours; drift must emit windows")
    // the doorway returns the monitor (q_st11) AND the debounced alert
    // (q_st12) in one row — compare against the same composition
    val drift = Streams.driftOf(Streams.tumblingCounts(
      rows.toDF().select(col("ts"), col("event_type"))))
    val want = drift.join(Streams.alertOf(drift)
        .select(col("w_start"), col("prev_tv4"), col("alert")), "w_start")
      .orderBy("w_start")
    assert(canon(got) == canon(want),
      "doorway must equal the q_st11 + q_st12 derivation over the same rows")
    // a field that never parses yields zero monitored rows, not a throw
    assert(spark.sql("CALL graftdr.system.drift(db => 'db', " +
      "container => 'c', ts_field => 'nope')").count() == 0)
    // field names splice into a JSON path: anything beyond a simple key
    // must REFUSE, not reach the expression parser
    val inj = intercept[Exception](spark.sql("CALL graftdr.system.drift(" +
      "db => 'db', container => 'c', ts_field => \"a')) FROM x; --\")").count())
    assert(inj.getMessage.contains("simple JSON key"),
      s"injectable field name must be refused: ${inj.getMessage}")
    // window-count bound (ADVICE r14): corrupt ts values scattered over a
    // wide range make one row per distinct hour — the collect must REFUSE
    // past the declared cap (seamed low here) with the corrupt-field
    // diagnosis, never materialize the garbage. The fixture spans >= 2
    // distinct hours, so a cap of 1 must trip; the passing calls above
    // already pin the under-cap path at the default bound.
    val prevCap = sys.props.get("graft.drift.maxWindows")
    sys.props("graft.drift.maxWindows") = "1"
    try {
      val over = intercept[Exception](spark.sql(
        "CALL graftdr.system.drift(db => 'db', container => 'c')").count())
      assert(over.getMessage.contains("distinct hourly windows") &&
        over.getMessage.contains("corrupt"),
        s"over-cap drift must refuse with the diagnosis: ${over.getMessage}")
    } finally {
      prevCap match {
        case Some(v) => sys.props("graft.drift.maxWindows") = v
        case None => sys.props.remove("graft.drift.maxWindows")
      }
    }
  }

  test("ST-1 with watermark drops too-late rows from open windows") {
    val src = MemoryStream[Ev](spark)
    val q = src.toDF()
      .withWatermark("ts", "10 minutes")
      .transform(Streams.tumblingCounts)
      .writeStream.format("memory").queryName("st1w")
      .outputMode(OutputMode.Append()).start()
    src.addData(rows); q.processAllAvailable()
    // watermark is now ts(135)-10m = 02:05; hour-0 windows are closed and
    // emitted; a row at ts(6) must be discarded, not re-open the window
    src.addData(Ev(99, ts(6), 1, "click", 9.0, "{}")); q.processAllAvailable()
    q.stop()
    val hour0 = spark.table("st1w")
      .filter(col("w_start") === ts(0) && col("event_type") === "click")
    assert(hour0.select("c").as[Long].collect().toSeq == Seq(2L),
      "late row must not change the closed hour-0 click count")
  }

  test("ST-3b custom-state sessionization matches session_window semantics") {
    val got = Streams.statefulSessions(rows.toDF())
      .orderBy("user_id", "s_start").collect().map(_.toString).toSeq
    val want = Streams.sessionCounts(rows.toDF())
      .select("user_id", "s_start", "s_end", "n")
      .orderBy("user_id", "s_start").collect().map(_.toString).toSeq
    assert(got == want)
  }

  test("ST-4b transformWithState TTL dedup: first-seen only, across batches") {
    // the arbitrary-state API requires the RocksDB state store provider;
    // checkpoint file checksums are disabled because their async writer
    // deadlocks RocksDB snapshot uploads on the local filesystem (tasks pin
    // in ChecksumCheckpointFileManager.awaitResult)
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevCk = spark.conf.getOption("spark.sql.streaming.checkpoint.fileChecksum.enabled")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    try {
      // AvailableNow (not processAllAvailable): ProcessingTime mode keeps
      // scheduling timer micro-batches forever, so processAllAvailable never
      // settles; available-now drains the data and terminates. Restarting
      // from the same checkpoint then proves the dedup state SURVIVES a
      // restart (each restart gets a fresh, empty memory sink).
      val ckpt = java.nio.file.Files.createTempDirectory(
        java.nio.file.Paths.get("target"), "st4b-ckpt").toString
      val src = MemoryStream[Ev](spark)
      // foreachBatch sink: supports checkpoint recovery (memory sink doesn't)
      // driver-side buffer; foreachBatch bodies run sequentially on the driver
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      def runOnce(): Seq[Long] = {
        out.clear()
        val q = Streams.dedupFirstSeen(src.toDF())
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[Streams.DedupRecord], _: Long) =>
            out ++= batch.collect().map(_.event_id); ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode(OutputMode.Append()).start()
        q.awaitTermination()
        out.sorted.toSeq
      }
      src.addData(rows.take(3) ++ rows.take(2)) // in-batch duplicates of 1,2
      assert(runOnce() == Seq(1L, 2L, 3L))
      src.addData(rows) // cross-restart duplicates of 1..3; first sight of 4..6
      assert(runOnce() == Seq(4L, 5L, 6L),
        "state must survive the restart and filter 1..3")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevCk match {
        case Some(p) => spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", p)
        case None    => spark.conf.unset("spark.sql.streaming.checkpoint.fileChecksum.enabled")
      }
    }
  }

  test("ST-5 foreachBatch incremental merge == full-refresh merge") {
    def docLines(df: DataFrame): DataFrame = RawMerge.docLines(df.select(
      col("event_id").cast("string").as("id"),
      col("event_type").as("pk"),
      col("value").cast("string").as("text")))
    def merged(src: DataFrame, tgt: DataFrame): Seq[String] =
      RawMerge.mergedState(spark, src, tgt, Seq("/pk")).select("raw").as[String]
        .collect().toSeq
    var state = Seq.empty[String] // driver-held tiny target fixture, raw lines

    val src = MemoryStream[Ev](spark)
    val q = src.toDF().writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        state = merged(docLines(batch), state.toDF("raw"))
        ()
      }.start()
    src.addData(rows.take(2)); q.processAllAvailable()
    src.addData(rows.drop(2)); q.processAllAvailable()
    // replay of batch 1: idempotence under reprocessing (checkpoint retry)
    src.addData(rows.take(2)); q.processAllAvailable()
    q.stop()

    val ev = docLines(rows.toDF())
    assert(state.nonEmpty && state.sorted == merged(ev, ev.limit(0)).sorted)
  }

  test("ST-5 e2e: file source → foreachBatch raw upsert, checkpoint restart") {
    import java.nio.file.{Files, Paths}
    import graft.core.{ContainerProps, FileAccount}
    val root = Files.createTempDirectory(Paths.get("target"), "stream-e2e")
    val in = root.resolve("in"); Files.createDirectories(in)
    val cp = root.resolve("cp").toString
    val acc = FileAccount(root.resolve("acct").toString)
    Files.createDirectories(Paths.get(acc.root))
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/pk"), buckets = 4))

    // the real incremental sink: every micro-batch upserts its raw documents
    // by merge key; exactly-once comes from the checkpointed file source +
    // the sink's key-idempotent bucket rewrite (reprocessing a batch lands
    // the same state)
    val upsertBatch: (DataFrame, Long) => Unit = (batch, _) => {
      val s = batch.sparkSession
      graft.functions.GraftFunctions.register(s)
      val keyed = batch.selectExpr("value AS raw",
        "json_pk(value, 'id') AS __id", "json_pk(value, 'pk') AS __pk0")
      acc.upsertRaw(s, "db", "c", keyed, Seq("__id", "__pk0"), Seq("/pk"))
      ()
    }
    def startQuery() = spark.readStream
      .option("maxFilesPerTrigger", 1).text(in.toString)
      .writeStream.option("checkpointLocation", cp)
      .foreachBatch(upsertBatch).start()

    Files.writeString(in.resolve("f1.json"), (0 until 10)
      .map(i => s"""{"id":"d$i","pk":"p${i % 3}","v":$i}""").mkString("\n"))
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    assert(acc.readRaw(spark, "db", "c").count() == 10)

    // kill/restart: new file carries updates of d0..d4 + new docs d10..d14;
    // the restarted query resumes from the checkpoint (f1 is not replayed)
    Files.writeString(in.resolve("f2.json"),
      ((0 until 5).map(i => s"""{"id":"d$i","pk":"p${i % 3}","v":${i + 100}}""") ++
        (10 until 15).map(i => s"""{"id":"d$i","pk":"p${i % 3}","v":$i}"""))
        .mkString("\n"))
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val state2 = acc.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet
    assert(state2.size == 15, s"upsert must replace, not append: $state2")
    assert(state2.contains("""{"id":"d3","pk":"p0","v":103}"""))
    assert(!state2.contains("""{"id":"d3","pk":"p0","v":3}"""), "stale doc must be gone")

    // third restart with no new input: checkpoint says caught up → no change
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    assert(acc.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet == state2)
  }

  test("ST-6 syncs a hierarchical 2-path pk container (composite key + injection)") {
    import java.nio.file.{Files, Paths}
    import graft.core.{ContainerProps, FileAccount}
    val root = Files.createTempDirectory(Paths.get("target"), "sync-hpk")
    val src = FileAccount(root.resolve("src").toString)
    val tgt = FileAccount(root.resolve("tgt").toString)
    Files.createDirectories(Paths.get(src.root))
    Files.createDirectories(Paths.get(tgt.root))
    src.createDatabaseIfAbsent("db")
    src.createContainerIfAbsent("db", "c",
      ContainerProps(Seq("/tenant", "/owner/region"), buckets = 4))
    val data = Paths.get(src.root, "db", "c", "data")
    Files.createDirectories(data)
    def doc(i: Int, v: Int) =
      s"""{"id":"h$i","tenant":"t${i % 2}","owner":{"region":"r${i % 3}"},"v":$v}"""
    Files.writeString(data.resolve("f1.json"),
      (0 until 6).map(i => doc(i, i)).mkString("\n"))
    val cp = root.resolve("cp").toString
    val q1 = Streams.syncContainers(spark, src, tgt, "db", "c", cp)
    q1.awaitTermination()
    val landed = tgt.readRaw(spark, "db", "c").collect().map(_.getString(0))
    assert(landed.length == 6)
    assert(landed.forall(_.contains(""""owner/region":"r""")),
      s"hierarchical pk must inject its literal path key:\n${landed.mkString("\n")}")
    assert(tgt.containerProperties("db", "c").pkPaths == Seq("/tenant", "/owner/region"))

    // delta: one update on an existing composite key + one new key
    Files.writeString(data.resolve("f2.json"),
      Seq(doc(3, 333), doc(9, 9)).mkString("\n"))
    val q2 = Streams.syncContainers(spark, src, tgt, "db", "c", cp)
    q2.awaitTermination()
    val state = tgt.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet
    assert(state.size == 7, state.mkString("\n"))
    assert(state.exists(s => s.contains(""""id":"h3"""") && s.contains(""""v":333""")))
    assert(!state.exists(s => s.contains(""""id":"h3"""") && s.endsWith(""""v":3}""")))

    // no new input: a third sync neither reprocesses nor rewrites
    val q3 = Streams.syncContainers(spark, src, tgt, "db", "c", cp)
    q3.awaitTermination()
    assert(tgt.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet == state)
  }

  test("ST-6 prunes the target read to the batch's buckets; dupes collapse; errors dead-letter") {
    import java.nio.file.{Files, Paths}
    import graft.core.{ContainerProps, FileAccount}
    graft.functions.GraftFunctions.register(spark)
    val root = Files.createTempDirectory(Paths.get("target"), "sync-prune")
    val src = FileAccount(root.resolve("src").toString)
    val tgt = FileAccount(root.resolve("tgt").toString)
    Files.createDirectories(Paths.get(src.root))
    Files.createDirectories(Paths.get(tgt.root))
    src.createDatabaseIfAbsent("db")
    src.createContainerIfAbsent("db", "c", ContainerProps(Seq("/pk"), buckets = 8))
    def keyed(docs: Seq[String]) = docs.toDF("raw")
      .selectExpr("raw", "json_pk(raw, 'id') AS __id", "json_pk(raw, 'pk') AS __pk0")
    // SOURCE in the bucketed b=<k> layout (as a prior upsert leaves it) plus
    // a stray file at the data root — the streaming source must discover
    // both (recursiveFileLookup, matching batch readRaw)
    val docs = (0 until 40).map(i => s"""{"id":"d$i","pk":"p${i % 4}","v":$i}""")
    src.upsertRaw(spark, "db", "c", keyed(docs), Seq("__id", "__pk0"), Seq("/pk"))
    val sdata = Paths.get(src.root, "db", "c", "data")
    Files.writeString(sdata.resolve("zz-stray.json"), """{"id":"s1","pk":"p9","v":1}""")

    val progress = scala.collection.mutable.ArrayBuffer.empty[Streams.SyncBatchProgress]
    val cp = root.resolve("cp").toString
    val q1 = Streams.syncContainers(spark, src, tgt, "db", "c", cp,
      onBatch = progress += _)
    q1.awaitTermination()
    assert(tgt.readRaw(spark, "db", "c").count() == 41,
      "bucketed dirs AND the stray must stream through")

    // delta: two versions of d1 in one micro-batch (last file wins) + one
    // corrupt line; the target read must touch ONLY d1's bucket directory
    progress.clear()
    Files.writeString(sdata.resolve("zz-delta1.json"), """{"id":"d1","pk":"p1","v":100}""")
    Files.writeString(sdata.resolve("zz-delta2.json"), """{"id":"d1","pk":"p1","v":200}""")
    Files.writeString(sdata.resolve("zz-delta3.json"), "corrupt {{")
    val q2 = Streams.syncContainers(spark, src, tgt, "db", "c", cp,
      onBatch = progress += _)
    q2.awaitTermination()

    val state = tgt.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet
    assert(state.size == 41)
    assert(state.contains("""{"id":"d1","pk":"p1","v":200}"""),
      "lexicographically-last source file must win the intra-batch duplicate")
    assert(!state.exists(s => s.contains(""""id":"d1"""") && !s.contains("200")))
    val p = progress.filter(_.srcRows > 0)
    assert(p.map(_.srcRows).sum == 3, s"batch must carry 3 delta rows: $p")
    assert(p.map(_.mergedRows).sum == 1, s"d1's two versions must collapse to one: $p")
    assert(p.map(_.errorRows).sum == 1, s"corrupt line must count as error: $p")
    assert(Files.isDirectory(Paths.get(tgt.root, "db", "c", "_errors")),
      "corrupt documents must dead-letter on the target")
    val touched = p.flatMap(_.affectedBuckets).toSet
    assert(touched.size == 1, s"one merge key must touch one bucket: $touched")
    assert(p.flatMap(_.targetFilesScanned).nonEmpty &&
      p.flatMap(_.targetFilesScanned).forall(f =>
        touched.exists(b => f.contains(s"b=$b"))),
      s"target scan must stay inside the affected bucket dirs: " +
        s"${p.flatMap(_.targetFilesScanned)}")
  }

  test("ST-8 streaming embedding ingestion: each micro-batch appends to the durable ANN index") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.001"
    val prevRoot = sys.props.get("graft.ivf.root")
    sys.props("graft.ivf.root") = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ivf-stream").toString
    try {
      // the continuous-training-data story: new embeddings arrive as a
      // stream; foreachBatch routes each micro-batch through the locked,
      // delta-sized IvfIndex.append — the index stays probe-ready
      // throughout, no corpus pass ever re-runs
      val base = Similarity.IvfIndex.build(spark, sf, lloydIters = 0, cells = 8)
      val baseCount = base.assigned.count()
      val src = MemoryStream[(Long, Seq[Float])](spark)
      val q = src.toDF().toDF("vec_id", "embedding").writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            Similarity.IvfIndex.append(batch.sparkSession, sf,
              lloydIters = 0, batch, cells = 8)
          ()
        }
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory(java.nio.file.Paths.get("target"), "ivf-cp").toString)
        .start()
      // two batches of twin vectors of queries 3 and 7: after ingestion each
      // must surface as its twin's exact top-1 at sim 1.0
      val e = graft.core.Tables.embeddings(spark, sf)
      def twin(of: Long, id: Long) = e.where(col("vec_id") === of)
        .select(lit(id).as("vec_id"), col("embedding"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      src.addData(twin(3, 910003L)); q.processAllAvailable()
      src.addData(twin(7, 910007L)); q.processAllAvailable()
      q.stop()
      val idx = Similarity.IvfIndex.build(spark, sf, lloydIters = 0, cells = 8)
      assert(idx.assigned.count() == baseCount + 2,
        "both streamed vectors must be in the durable assignment")
      val top = Similarity.IvfIndex.probe(spark, sf, idx, nprobe = 8, topK = 1)
        .where(col("q_id").isin(3L, 7L)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(top(3L) == (910003L, 1.0) && top(7L) == (910007L, 1.0),
        s"streamed twins must be exact top-1 neighbors: $top")
      // crash-replay shape (round 13): re-appending an already-landed
      // batch must be a per-id no-op in BOTH lanes — the foreachBatch
      // engine replays the one batch whose checkpoint commit did not land
      val replayBatch = {
        import spark.implicits._
        twin(3, 910003L).toDF("vec_id", "embedding")
      }
      val replayed = Similarity.IvfIndex.append(spark, sf, lloydIters = 0,
        replayBatch, cells = 8)
      assert(replayed.assigned.count() == baseCount + 2 &&
        replayed.qassigned.count() == baseCount + 2,
        "a replayed append must land zero new rows in either lane")
    } finally {
      prevRoot match {
        case Some(p) => sys.props("graft.ivf.root") = p
        case None    => sys.props.remove("graft.ivf.root")
      }
    }
  }

  test("ST-9 full sink, live: a real stream advances corpus + dup/lex/ANN indexes under batch markers") {
    // the whole ingestion story under the actual engine: each micro-batch
    // dedups at the door, lands docs AND vectors exactly once, and
    // advances all three durable indexes — after which the served hybrid
    // resolves the streamed corpus warm
    import graft.operators.Similarity
    val store = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "gate-full").toString
    val root = java.nio.file.Files.createTempDirectory("graft-fullcorpus").toString
    val props = Seq("graft.ivf.root", "graft.lexindex.root", "graft.dupindex.root")
    val prev = props.map(p => p -> sys.props.get(p)).toMap
    props.foreach(p => sys.props(p) = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "full-idx").toString)
    try {
      val sf = "/root/testdata/sf0.001"
      val docs = graft.core.Tables.documents(spark, sf)
      val embs = graft.core.Tables.embeddings(spark, sf)
      docs.where(col("doc_id") < 100).write.parquet(s"$root/documents.parquet")
      embs.where(col("vec_id") < 100).write.parquet(s"$root/embeddings.parquet")
      graft.functions.GraftFunctions.register(spark)
      // bounded driver rows for the MemoryStream fixture (40 + 1 docs)
      def slice(lo: Long, hi: Long): Seq[(Long, String, Seq[Float])] =
        docs.where(col("doc_id") >= lo && col("doc_id") < hi)
          .join(embs.selectExpr("vec_id AS doc_id", "embedding"), "doc_id")
          .select("doc_id", "text", "embedding")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2))).toSeq
      val counts = scala.collection.mutable.Map.empty[Long, (Long, Long)]
      val src = MemoryStream[(Long, String, Seq[Float])](spark)
      val q = src.toDF().toDF("doc_id", "text", "embedding").writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          counts(id) = Streams.dedupGateBatch(b.sparkSession, store, b, id,
            advanceIndex = true, corpusDir = Some(root),
            advanceLex = true, advanceAnn = true); ()
        }
        .option("checkpointLocation", java.nio.file.Files
          .createTempDirectory(java.nio.file.Paths.get("target"), "full-cp").toString)
        .start()
      src.addData(slice(100, 120): _*); q.processAllAvailable()
      // batch 1 carries a near-dup of an admitted batch-0 doc under a new
      // id: the gate must reject it, and its VECTOR must not land either
      val dupText = slice(100, 101).head._2
      src.addData(slice(120, 140) :+ ((900L, dupText,
        slice(100, 101).head._3)): _*)
      q.processAllAvailable()
      q.stop()
      assert(counts(0L) == (20L, 0L) && counts(1L) == (20L, 1L),
        s"per-batch (admitted, rejected): $counts")
      val nDocs = graft.core.Tables.documents(spark, root).count()
      val nEmbs = graft.core.Tables.embeddings(spark, root).count()
      assert(nDocs == 140L && nEmbs == 140L,
        s"corpus files must advance together: docs=$nDocs embs=$nEmbs")
      assert(Similarity.IvfIndex.build(spark, root, lloydIters = 0)
        .assigned.count() == nEmbs, "ANN index must cover the streamed corpus")
      assert(graft.operators.LexIndex.build(spark, root).nDocsAll == nDocs)
      assert(graft.operators.DupClusters.build(spark, root).nDocs == nDocs)
      // the served hybrid resolves the streamed corpus (smoke: ranked rows)
      assert(Similarity.qSim17(spark, root).count() > 0)
    } finally {
      props.foreach(p => prev(p) match {
        case Some(v) => sys.props(p) = v
        case None    => sys.props.remove(p); ()
      })
      Similarity.IvfIndex.evictSession(spark)
      graft.operators.LexIndex.evictSession(spark)
      graft.operators.DupClusters.evictSession(spark)
    }
  }

  test("ST-9 dedup-gated ingestion: near-dups rejected at the door, replay is a no-op") {
    val store = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "dedup-gate").toString
    val counts = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val src = MemoryStream[(Long, String)](spark)
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        counts(id) = Streams.dedupGateBatch(b.sparkSession, store, b, id); ()
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get("target"), "gate-cp").toString)
      .start()
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    // batch 0: doc 2 is a within-batch near-dup of doc 1 (min-id-wins)
    src.addData((1L, dup), (2L, dup),
      (4L, "completely different words forming another shingle set entirely"))
    q.processAllAvailable()
    // batch 1: doc 5 collides with the STORE (doc 1's bands); doc 6 is new
    src.addData((5L, dup),
      (6L, "yet another brand new distinct document text with fresh tokens"))
    q.processAllAvailable()
    q.stop()
    assert(counts(0L) == (2L, 1L) && counts(1L) == (1L, 1L),
      s"per-batch (admitted, rejected): $counts")
    val docs = spark.read.parquet(s"$store/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docs == Set(1L, 4L, 6L), s"admitted corpus: $docs")
    // the band store holds only admitted docs' keys
    val bandDocs = spark.read.parquet(s"$store/bands")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(bandDocs == Set(1L, 4L, 6L), s"band store docs: $bandDocs")
    // replaying a committed batchId is a no-op even with different data
    val replay = Streams.dedupGateBatch(spark, store,
      spark.range(1).selectExpr("90L AS doc_id", s"'$dup' AS text"), 0L)
    assert(replay == (0L, 0L), "committed batch must not re-apply")
    assert(spark.read.parquet(s"$store/docs").count() == 3)
  }

  test("ST-9 decontam lane: eval-gram leaks rejected at the door, quarantined to _contam; dup lane unaffected; replay no-op") {
    val store = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "decontam-gate").toString
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val eval = spark.range(1)
      .selectExpr("0L AS doc_id", s"'$evalText' AS text")
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val counts = scala.collection.mutable.Map.empty[Long, (Long, Long)]
    val src = MemoryStream[(Long, String)](spark)
    val q = src.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        counts(id) = Streams.dedupGateBatch(b.sparkSession, store, b, id,
          decontamEval = Some(eval)); ()
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get("target"), "decontam-cp").toString)
      .start()
    // doc 2 embeds the FULL eval sentence (an 8-gram leak) in fresh text;
    // doc 3 is a within-batch near-dup of doc 1; doc 4 is clean
    src.addData((1L, dup), (2L, s"intro words then $evalText trailing tail"),
      (3L, dup),
      (4L, "completely different words forming another shingle set entirely"))
    q.processAllAvailable()
    q.stop()
    assert(counts(0L) == (2L, 2L), s"per-batch (admitted, rejected): $counts")
    val docs = spark.read.parquet(s"$store/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(docs == Set(1L, 4L), s"admitted corpus: $docs")
    // the leak is quarantined with its batch id; the dup is NOT (it is a
    // dup rejection, not a contamination)
    val contam = spark.read.parquet(s"$store/_contam")
      .select("doc_id", "batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(contam == Set((2L, 0L)), s"_contam channel: $contam")
    // a contaminated doc's bands never enter the store
    val bandDocs = spark.read.parquet(s"$store/bands")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(bandDocs == Set(1L, 4L), s"band store docs: $bandDocs")
    // committed replay stays a no-op and appends nothing to the channel
    assert(Streams.dedupGateBatch(spark, store,
      spark.range(1).selectExpr("91L AS doc_id",
        s"'$evalText' AS text"), 0L, decontamEval = Some(eval)) == (0L, 0L))
    assert(spark.read.parquet(s"$store/_contam").count() == 1L)
    // the channel is visible on the metadata-only doorway ...
    val g = Streams.gateStats(store)
    assert(g.contamFiles > 0L && g.contamBytes > 0L, s"$g")
    // ... and compacts like the other sub-stores, rows intact
    val (before, after) = Streams.compactGateStore(spark, store,
      fileThreshold = 0)
    assert(after <= before, s"compaction grew files: $before -> $after")
    assert(spark.read.parquet(s"$store/_contam")
      .select("doc_id", "batch_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((2L, 0L)),
      "channel rows must survive compaction byte-identical")
    // ADVICE r15: a store whose batches never reject anything never grows
    // a _contam dir — the quarantine append is gated on a non-empty frame
    val cleanStore = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "clean-gate").toString
    assert(Streams.dedupGateBatch(spark, cleanStore,
      spark.range(1).selectExpr("7L AS doc_id",
        "'totally clean words with no overlap at all here now' AS text"),
      0L, decontamEval = Some(eval)) == (1L, 0L))
    assert(!graft.core.Storage.hadoop.exists(s"$cleanStore/_contam"),
      "a clean batch must not create the quarantine channel")
  }

  test("ST-9 fuzzy decontam lane (VERDICT r17 task 3): a paraphrased eval " +
    "doc quarantines with reason=fuzzy; verbatim keeps precedence; opt-out " +
    "admits it") {
    // 20 distinct words; the paraphrase changes words 8 and 16, so every
    // 8-token window differs (no verbatim gram) while 12/18 shingles
    // survive (Jaccard ~0.5 >= the 0.2 flag rule) and the MinHash bands
    // still collide — exactly the leakage the verbatim lane cannot see
    val evalText = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima mike november oscar papa quebec romeo " +
      "sierra tango"
    val eval = spark.range(1).selectExpr("0L AS doc_id", s"'$evalText' AS text")
    // words 8 and 13 changed: every 8-token window of the 20 contains a
    // changed word (no verbatim gram survives), 12/18 shingles persist
    // (Jaccard 0.5 >= the 0.2 flag rule), and this particular pair was
    // searched to band-collide under the fused minhash_sig (the guard
    // below catches kernel drift)
    val paraText = "alpha bravo charlie delta echo foxtrot golf chx8v1 " +
      "india juliet kilo lima chy13v1 november oscar papa quebec romeo " +
      "sierra tango"
    // fixture sanity: the paraphrase is a FUZZY-lane candidate (bands
    // collide, Jaccard over threshold) but not a verbatim one
    val para1 = Seq((2L, paraText)).toDF("doc_id", "text")
    val fp = Streams.fuzzyEvalPairsOf(para1, eval).collect()
    assert(fp.length == 1 && fp(0).getLong(2) >= Streams.FuzzyContamJacE4,
      s"fixture drift: paraphrase must band-collide and verify: ${fp.toSeq}")
    val batch = Seq(
      (1L, s"intro words then $evalText trailing tail"), // verbatim leak
      (2L, paraText),                                    // paraphrased leak
      (3L, "completely different words forming another shingle set entirely"))
      .toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "fuzzy-gate").toString
    assert(Streams.dedupGateBatch(spark, store, batch, 0L,
      decontamEval = Some(eval), decontamFuzzy = true) == (1L, 2L))
    assert(spark.read.parquet(s"$store/docs")
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L),
      "only the clean doc may enter the corpus")
    val contam = spark.read.parquet(s"$store/_contam")
      .select("doc_id", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(contam == Set((1L, "verbatim"), (2L, "fuzzy")),
      s"one reason per quarantined doc, verbatim precedence: $contam")
    // the lane is OPT-IN: without decontamFuzzy the paraphrase walks in
    // (the exact r17-verdict gap this lane closes)
    val store2 = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "fuzzy-off").toString
    assert(Streams.dedupGateBatch(spark, store2, batch, 0L,
      decontamEval = Some(eval)) == (2L, 1L),
      "without the fuzzy lane only the verbatim leak is refused")
    // fuzzy without the eval frame is a contract violation
    val e = intercept[IllegalArgumentException](
      Streams.dedupGateBatch(spark, store2, batch, 1L, decontamFuzzy = true))
    assert(e.getMessage.contains("decontamEval"), e.getMessage)
    // legacy-store migration (review r18): a pre-fuzzy 3-column _contam
    // channel is reason-migrated ONCE at the first quarantine append
    // (all legacy rows predate the fuzzy lane → verbatim), so the dir
    // is never mixed-schema and compaction cannot drop the column
    val store3 = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "legacy-gate").toString
    Seq((90L, "old quarantined text", 7L)).toDF("doc_id", "text", "batch_id")
      .write.parquet(s"$store3/_contam")
    assert(Streams.dedupGateBatch(spark, store3, batch, 0L,
      decontamEval = Some(eval), decontamFuzzy = true) == (1L, 2L))
    val migrated = spark.read.parquet(s"$store3/_contam")
      .select("doc_id", "reason").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(migrated == Set((90L, "verbatim"), (1L, "verbatim"), (2L, "fuzzy")),
      s"legacy rows must migrate to reason=verbatim exactly once: $migrated")
  }

  test("ST-9 vector-less ext batch (VERDICT r17 task 5): an EMPTY " +
    "extVectors frame keeps a seeded lane current; a malformed schema " +
    "refuses before staging") {
    import graft.operators.MmIvf
    val store = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "extv-empty").toString
    val root = java.nio.file.Files.createTempDirectory("graft-extvcorpus").toString
    val prevMm = sys.props.get("graft.mmivf.root")
    sys.props("graft.mmivf.root") = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "mm-extv").toString
    try {
      val all = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      all.where(col("doc_id") < 100).write.parquet(s"$root/documents.parquet")
      def vecsOf(ids: Seq[Long]) = ids
        .map(i => (i, Seq.tabulate(4)(d => (i * 7 + d * 3) % 11)))
        .toDF("asset_id", "f")
      def batchOf(lo: Int, hi: Int) =
        all.where(col("doc_id") >= lo && col("doc_id") < hi)
          .select("doc_id", "text")
      MmIvf.buildExternal(spark, root, Some(vecsOf(0L until 100L)))
      // ADVICE r17: a frame that would stage fine but fail the replay-side
      // ARRAY<BIGINT> read refuses AT THE DOOR, before anything is staged
      val bad = intercept[IllegalArgumentException](
        Streams.dedupGateBatch(spark, store, batchOf(100, 120), 0L,
          advanceIndex = true, corpusDir = Some(root), advanceMm = true,
          extVectors = Some(Seq.empty[(Long, Seq[Int])].toDF("asset_id", "f"))))
      assert(bad.getMessage.contains("ARRAY<BIGINT>"), bad.getMessage)
      assert(!graft.core.Storage.hadoop.exists(s"$store/_commits"),
        "a refused batch must stage nothing")
      // the scaladoc recipe: a batch whose admitted docs carry no vectors
      // passes Some(empty frame) — the lane republishes at the post-batch
      // fingerprint with zero new vectors and stays current
      val empty = Seq.empty[(Long, Seq[Long])].toDF("asset_id", "f")
      val (a0, _) = Streams.dedupGateBatch(spark, store, batchOf(100, 120),
        0L, advanceIndex = true, corpusDir = Some(root), advanceMm = true,
        extVectors = Some(empty))
      assert(a0 > 0, "the vector-less batch's docs must admit")
      MmIvf.evictSession(spark)
      assert(MmIvf.buildExternal(spark, root).feats.count() == 100L,
        "an empty extVectors frame must republish the lane unchanged")
      // ... and the NEXT real append is accepted (the lane never went
      // stale), indexing exactly the admitted new ids
      val (a1, _) = Streams.dedupGateBatch(spark, store, batchOf(120, 140),
        1L, advanceIndex = true, corpusDir = Some(root), advanceMm = true,
        extVectors = Some(vecsOf(120L until 140L)))
      assert(a1 > 0)
      MmIvf.evictSession(spark)
      assert(MmIvf.buildExternal(spark, root).feats.count() == 100L + a1,
        "the post-recipe real append must index the admitted delta")
    } finally {
      prevMm match {
        case Some(p) => sys.props("graft.mmivf.root") = p
        case None    => sys.props.remove("graft.mmivf.root")
      }
      MmIvf.evictSession(spark)
    }
  }

  test("ST-9 store maintenance: bounded files under many batches; decisions survive compaction; crashed swap heals") {
    val store = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "gate-compact").toString
    val st = graft.core.Storage.hadoop
    def nFiles(sub: String): Int = st.walk(s"$store/$sub").count { f =>
      val n = f.relPath.split('/').last
      !n.startsWith("_") && !n.startsWith(".")
    }
    val firstText = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    for (i <- 0 until 24) {
      val text = if (i == 0) firstText
        else s"document number$i speaks about topic$i and subject$i plus matter$i uniquely distinct"
      val df = spark.range(1).selectExpr(s"CAST(${100 + i} AS BIGINT) AS doc_id",
        s"'$text' AS text")
      assert(Streams.dedupGateBatch(spark, store, df, i.toLong) == (1L, 0L))
    }
    // each of the 24 batches appended >= 1 parquet file per sub-store; the
    // auto-compaction (threshold GateCompactThreshold) must keep counts
    // bounded instead of letting them grow with batch count. The band
    // store's floor is one file per live bp partition dir.
    val bpDirs = st.listDirNames(s"$store/bands").count(_.startsWith("bp="))
    assert(bpDirs > 0, "band store must be hash-partitioned by bp")
    assert(nFiles("bands") <= bpDirs + Streams.GateCompactThreshold + 1,
      s"bands files unbounded: ${nFiles("bands")} over $bpDirs partitions")
    assert(nFiles("docs") <= Streams.GateCompactThreshold + 1,
      s"docs files unbounded: ${nFiles("docs")}")
    // partition pruning: a reader scoped to a bp subset must READ only
    // those partition dirs' files (the per-batch store-scan contract) —
    // checked on the scan's numFiles metric, since inputFiles lists the
    // unpruned relation
    val someBps = spark.read.parquet(s"$store/bands")
      .select("bp").distinct().limit(2).collect()
      .map(_.getAs[Number](0).longValue()).toSeq
    val pruned = Streams.prunedBandStore(spark, s"$store/bands", someBps)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    val readFiles = scan.metrics("numFiles").value
    assert(readFiles > 0 && readFiles < nFiles("bands"),
      s"scan must prune: read $readFiles of ${nFiles("bands")} files")
    assert(scan.toString.contains("PartitionFilters"),
      "bp filter must reach the scan as a partition filter")
    assert(spark.read.parquet(s"$store/docs").count() == 24,
      "compaction must never lose admitted docs")
    // determinism across compaction: a near-dup of batch 0's admitted doc —
    // whose band keys have been rewritten by at least one compaction — is
    // still rejected by the same rule
    val rej = Streams.dedupGateBatch(spark, store,
      spark.range(1).selectExpr("CAST(999 AS BIGINT) AS doc_id", s"'$firstText' AS text"),
      1000L)
    assert(rej == (0L, 1L), s"post-compaction store must still reject: $rej")
    // crashed swap: live dir renamed away, complete original in trash —
    // the entry-time heal restores it and the gate keeps rejecting
    assert(st.rename(s"$store/bands", s"$store/bands.trash-deadbeef"))
    Streams.healGateStore(store)
    assert(st.exists(s"$store/bands"), "heal must restore the live dir from trash")
    val rej2 = Streams.dedupGateBatch(spark, store,
      spark.range(1).selectExpr("CAST(998 AS BIGINT) AS doc_id", s"'$firstText' AS text"),
      1001L)
    assert(rej2 == (0L, 1L), s"healed store must still reject: $rej2")
  }

  test("ST-9 store layout: bucket count frozen at creation; per-batch read tracks the batch, not the corpus") {
    val store = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "gate-buckets").toString
    val st = graft.core.Storage.hadoop
    // a session asking for 256 buckets CREATES the store with 256 frozen
    val s2 = spark.newSession()
    s2.conf.set(Streams.GateBandBucketsConf, "256")
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    val mk = (id: Long, text: String) =>
      s2.range(1).selectExpr(s"CAST($id AS BIGINT) AS doc_id", s"'$text' AS text")
    assert(Streams.dedupGateBatch(s2, store, mk(1L, dup), 0L) == (1L, 0L))
    val meta0 = Streams.readGateMeta(store).get
    assert(meta0 == Streams.GateStoreMeta(Streams.GateLayoutVersion, 256),
      s"store must freeze the creating session's bucket count: $meta0")
    // a LATER session with a different conf does not re-key the store: the
    // frozen 256 still governs bp, so a store near-dup is still caught
    val s3 = spark.newSession()
    s3.conf.set(Streams.GateBandBucketsConf, "8")
    assert(Streams.dedupGateBatch(s3, store,
      s3.range(1).selectExpr("CAST(9 AS BIGINT) AS doc_id", s"'$dup' AS text"),
      1L) == (0L, 1L), "frozen bucket count must keep store collisions visible")
    assert(Streams.readGateMeta(store).get.bandBuckets == 256,
      "an existing store's frozen count must survive later conf changes")
    // grow the corpus well past one batch, then verify a batch's store scan
    // reads only ITS band keys' partitions — the pruning win the larger
    // bucket count exists for (with 64 buckets a modest batch touched
    // every partition and re-read the whole store)
    for (i <- 2 to 40)
      assert(Streams.dedupGateBatch(s2, store,
        mk(100L + i, s"document number$i about topic$i subject$i matter$i distinctly unique"),
        10L + i) == (1L, 0L))
    val allBands = s2.read.parquet(s"$store/bands")
    val total = allBands.count()
    val batchBps = allBands.where(col("doc_id") === 140L)
      .select("bp").distinct().collect().map(_.getAs[Number](0).longValue()).toSeq
    assert(batchBps.nonEmpty && batchBps.size <= 2)
    val pruned = Streams.prunedBandStore(s2, s"$store/bands", batchBps)
    val readRows = pruned.count()
    assert(readRows < total / 4,
      s"a 1-doc batch's store scan must read a small fraction of the corpus " +
        s"($readRows of $total band rows)")
    assert(st.exists(s"$store/_store_meta.tsv"))
  }

  test("ST-9 store layout: marker-less v0/v1 stores adopt or migrate one-time, decisions unchanged") {
    import graft.streaming.Streams
    graft.functions.GraftFunctions.register(spark)
    val st = graft.core.Storage.hadoop
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    def v0Bands(id: Long, text: String): DataFrame =
      spark.range(1).selectExpr(s"CAST($id AS BIGINT) AS doc_id", s"'$text' AS text")
        .selectExpr("doc_id", "minhash_sig(text, 3) AS ms")
        .selectExpr("doc_id",
          """explode(array(
            |  named_struct('band', 1, 'bk', concat(ms.m1, '_', ms.m2)),
            |  named_struct('band', 2, 'bk', concat(ms.m3, '_', ms.m4)))) AS b""".stripMargin)
        .selectExpr("doc_id", "b.band AS band", "b.bk AS bk")
    // ---- v0: unpartitioned bands (no bp column, no marker) ----
    val v0 = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "gate-v0").toString
    v0Bands(1L, dup).write.parquet(s"$v0/bands")
    spark.range(1).selectExpr("CAST(1 AS BIGINT) AS doc_id", s"'$dup' AS text")
      .write.parquet(s"$v0/docs")
    // first entry migrates in place and the stored doc still rejects its twin
    assert(Streams.dedupGateBatch(spark, v0,
      spark.range(1).selectExpr("CAST(99 AS BIGINT) AS doc_id", s"'$dup' AS text"),
      0L) == (0L, 1L), "migrated v0 store must still reject the stored near-dup")
    val m0 = Streams.readGateMeta(v0).get
    assert(m0.layoutVersion == Streams.GateLayoutVersion)
    assert(st.listDirNames(s"$v0/bands").exists(_.startsWith("bp=")),
      "v0 bands must be rewritten into the partitioned layout")
    assert(spark.read.parquet(s"$v0/bands").count() == 2,
      "migration must not lose band rows")
    // bp values must match the frozen count's keying (else pruning would
    // silently miss collisions)
    val bad = spark.read.parquet(s"$v0/bands")
      .where(expr(s"bp <> pmod(xxhash64(bk), ${m0.bandBuckets})")).count()
    assert(bad == 0, s"$bad migrated rows keyed inconsistently with the marker")
    // ---- v1: bp-partitioned with the historical hard-coded 64, no marker ----
    val v1 = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "gate-v1").toString
    v0Bands(1L, dup).selectExpr("doc_id", "band", "bk",
        "pmod(xxhash64(bk), 64) AS bp")
      .write.partitionBy("bp").parquet(s"$v1/bands")
    spark.range(1).selectExpr("CAST(1 AS BIGINT) AS doc_id", s"'$dup' AS text")
      .write.parquet(s"$v1/docs")
    assert(Streams.dedupGateBatch(spark, v1,
      spark.range(1).selectExpr("CAST(99 AS BIGINT) AS doc_id", s"'$dup' AS text"),
      0L) == (0L, 1L), "adopted v1 store must still reject the stored near-dup")
    assert(Streams.readGateMeta(v1).get.bandBuckets == 64,
      "a v1 store must be adopted with its historical bucket count, not re-keyed")
    // a from-scratch build must refuse a FUTURE layout rather than corrupt it
    val vN = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "gate-vn").toString
    st.writeString(s"$vN/_store_meta.tsv", "layoutVersion\t99\nbandBuckets\t64\n")
    val e = intercept[IllegalArgumentException] {
      Streams.dedupGateBatch(spark, vN,
        spark.range(1).selectExpr("CAST(1 AS BIGINT) AS doc_id", "'x y z' AS text"), 0L)
    }
    assert(e.getMessage.contains("newer than"), e.getMessage)
  }

  test("ST-7 stream-stream interval join: two live streams == batch funnel") {
    // clicks and purchases as SEPARATE streams (the two-source shape a real
    // funnel pipeline has), both watermarked so the interval condition
    // bounds each side's buffered join state
    val funnel = Seq(
      Ev(11, ts(5), 1, "click", 0, "{}"),
      Ev(12, ts(20), 1, "purchase", 0, "{}"),   // 15m after click 11 → match
      Ev(13, ts(40), 1, "purchase", 0, "{}"),   // 35m after click 11 → no
      Ev(14, ts(70), 2, "click", 0, "{}"),
      Ev(15, ts(75), 2, "purchase", 0, "{}"),   // 5m after click 14 → match
      Ev(16, ts(75), 1, "purchase", 0, "{}"),   // other user → no
      Ev(17, ts(90), 2, "click", 0, "{}"),
      Ev(18, ts(95), 2, "purchase", 0, "{}"))   // matches click 17 AND 14? 14 is 25m before → yes both
    val clicks = funnel.filter(_.event_type == "click")
    val purchases = funnel.filter(_.event_type == "purchase")
    val cs = MemoryStream[Ev](spark)
    val ps = MemoryStream[Ev](spark)
    val joined = Streams.funnelPairs(
      cs.toDF().withWatermark("ts", "1 hour"),
      ps.toDF().withWatermark("ts", "1 hour"))
      .select("c_id", "p_id")
    val q = joined.writeStream.format("memory").queryName("st7")
      .outputMode(OutputMode.Append()).start()
    // interleaved arrival across micro-batches: join state must hold
    // clicks until their +30m window closes
    cs.addData(clicks.take(1)); ps.addData(purchases.take(2)); q.processAllAvailable()
    cs.addData(clicks.drop(1)); ps.addData(purchases.drop(2)); q.processAllAvailable()
    q.stop()
    val got = canon(spark.table("st7"))
    val want = canon(Streams.funnelPairs(
      clicks.toDF(), purchases.toDF()).select("c_id", "p_id"))
    assert(got == want, s"stream got $got, batch wants $want")
    assert(want.size == 4, s"fixture must exercise multi-match + window edge: $want")
  }

  test("ST-10 stream-stream LEFT OUTER join: unmatched clicks emit exactly once == batch abandonment") {
    // the OUTER side is the hard part: a null-extended row may only emit
    // once the watermark proves no matching purchase can still arrive, so
    // emission needs event time to ADVANCE past each click's +30m bound —
    // the late sentinel rows below exist to push the watermark, and are
    // excluded from the comparison (their own bounds never close)
    val funnel = Seq(
      Ev(11, ts(5), 1, "click", 0, "{}"),
      Ev(12, ts(20), 1, "purchase", 0, "{}"),  // converts click 11
      Ev(13, ts(40), 2, "click", 0, "{}"),     // abandoned (next purchase 50m later)
      Ev(14, ts(90), 2, "purchase", 0, "{}"),
      Ev(15, ts(100), 3, "click", 0, "{}"),    // abandoned (no user-3 purchase)
      Ev(16, ts(110), 1, "purchase", 0, "{}"))
    val clickSentinel = Ev(99, ts(600), 99, "click", 0, "{}")
    val purchaseSentinel = Ev(98, ts(660), 98, "purchase", 0, "{}")
    val clicks = funnel.filter(_.event_type == "click")
    val purchases = funnel.filter(_.event_type == "purchase")
    val cs = MemoryStream[Ev](spark)
    val ps = MemoryStream[Ev](spark)
    val abandoned = Streams.funnelAbandoned(
        cs.toDF().withWatermark("ts", "10 minutes"),
        ps.toDF().withWatermark("ts", "10 minutes"))
      .where(col("p_id").isNull)
      .select("c_id")
    val q = abandoned.writeStream.format("memory").queryName("st10")
      .outputMode(OutputMode.Append()).start()
    cs.addData(clicks); ps.addData(purchases); q.processAllAvailable()
    cs.addData(Seq(clickSentinel)); q.processAllAvailable()   // wm -> 590
    ps.addData(Seq(purchaseSentinel)); q.processAllAvailable() // flush batch
    q.stop()
    val got = canon(spark.table("st10"))
    val want = canon(Streams.funnelAbandoned(
        clicks.toDF(), purchases.toDF())
      .where(col("p_id").isNull).select("c_id"))
    assert(got == want, s"stream got $got, batch wants $want")
    assert(want.size == 2, s"fixture must exercise converted + abandoned: $want")
  }

  test("ST-6 rate shaping: maxFilesPerTrigger makes catch-up a bounded multi-batch drain") {
    import java.nio.file.{Files, Paths}
    import graft.core.{ContainerProps, FileAccount}
    val root = Files.createTempDirectory(Paths.get("target"), "sync-rate")
    val src = FileAccount(root.resolve("src").toString)
    val tgt = FileAccount(root.resolve("tgt").toString)
    Files.createDirectories(Paths.get(src.root))
    Files.createDirectories(Paths.get(tgt.root))
    src.createDatabaseIfAbsent("db")
    src.createContainerIfAbsent("db", "c", ContainerProps(Seq("/pk"), buckets = 4))
    val data = Paths.get(src.root, "db", "c", "data")
    Files.createDirectories(data)
    // a 6-file backlog, one doc per file: the catch-up sync must drain it in
    // ceil(6/2) = 3 bounded micro-batches, not one giant batch
    (0 until 6).foreach(i => Files.writeString(data.resolve(f"f$i%02d.json"),
      s"""{"id":"d$i","pk":"p${i % 2}","v":$i}"""))
    val progress = scala.collection.mutable.ArrayBuffer.empty[Streams.SyncBatchProgress]
    val q = Streams.syncContainers(spark, src, tgt, "db", "c",
      root.resolve("cp").toString,
      sourceOptions = Map("maxFilesPerTrigger" -> "2"),
      onBatch = progress += _)
    q.awaitTermination()
    val p = progress.filter(_.srcRows > 0)
    assert(p.size == 3, s"6 files at 2/trigger must drain in 3 batches: $p")
    assert(p.forall(_.srcRows <= 2), s"per-batch rows must stay bounded: $p")
    assert(p.map(_.srcRows).sum == 6)
    assert(tgt.readRaw(spark, "db", "c").count() == 6,
      "the shaped drain must land the complete state")
  }

  test("ST-6 opt-in replay dedup: a replayed older version cannot resurrect") {
    import java.nio.file.{Files, Paths}
    import graft.core.{ContainerProps, FileAccount}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevCk = spark.conf.getOption("spark.sql.streaming.checkpoint.fileChecksum.enabled")
    // same RocksDB + checksum setup as ST-4b (transformWithState requirement)
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    try {
      val root = Files.createTempDirectory(Paths.get("target"), "sync-replay")
      def run(tag: String, dedupe: Boolean): (FileAccount, String) = {
        val src = FileAccount(root.resolve(s"$tag-src").toString)
        val tgt = FileAccount(root.resolve(s"$tag-tgt").toString)
        Files.createDirectories(Paths.get(src.root))
        Files.createDirectories(Paths.get(tgt.root))
        src.createDatabaseIfAbsent("db")
        src.createContainerIfAbsent("db", "c", ContainerProps(Seq("/pk"), buckets = 4))
        val data = Paths.get(src.root, "db", "c", "data")
        Files.createDirectories(data)
        val cp = root.resolve(s"$tag-cp").toString
        // batch 1: the NEWER version of d1 arrives first, plus a corrupt line
        Files.writeString(data.resolve("f1.json"),
          "{\"id\":\"d1\",\"pk\":\"p\",\"v\":2}\ncorrupt {{")
        Streams.syncContainers(spark, src, tgt, "db", "c", cp,
          dedupeReplays = dedupe).awaitTermination()
        // batch 2: an out-of-order/replayed OLDER version of d1, a replay of
        // the same corrupt line, and a genuinely new key
        Files.writeString(data.resolve("f2.json"),
          "{\"id\":\"d1\",\"pk\":\"p\",\"v\":1}\ncorrupt {{\n{\"id\":\"d2\",\"pk\":\"p\",\"v\":9}")
        Streams.syncContainers(spark, src, tgt, "db", "c", cp,
          dedupeReplays = dedupe).awaitTermination()
        (tgt, Paths.get(tgt.root, "db", "c", "_errors").toString)
      }
      val (tgtD, errD) = run("dedup", dedupe = true)
      val stateD = tgtD.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet
      assert(stateD.exists(s => s.contains("\"id\":\"d1\"") && s.contains("\"v\":2")),
        s"first-seen version of d1 must survive the replay: $stateD")
      assert(!stateD.exists(_.contains("\"v\":1")),
        s"the replayed older version must be dropped: $stateD")
      assert(stateD.exists(_.contains("\"id\":\"d2\"")),
        "a genuinely new key must pass the gate")
      // the replayed corrupt line dead-letters once, not once per replay
      val deadLines = spark.read.text(errD).count()
      assert(deadLines == 1, s"corrupt replay must not re-dead-letter: $deadLines")

      // contrast: the DEFAULT mode keeps every-batch-re-merges semantics —
      // the later (older) version wins, which is exactly the resurrection
      // the opt-in gate exists to prevent
      val (tgtN, _) = run("nodedup", dedupe = false)
      val stateN = tgtN.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet
      assert(stateN.exists(s => s.contains("\"id\":\"d1\"") && s.contains("\"v\":1")),
        s"default mode must keep last-write-wins across batches: $stateN")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevCk match {
        case Some(p) => spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", p)
        case None    => spark.conf.unset("spark.sql.streaming.checkpoint.fileChecksum.enabled")
      }
    }
  }

  test("ST-6 replay dedup gates on the full composite key (hierarchical pk)") {
    import java.nio.file.{Files, Paths}
    import graft.core.{ContainerProps, FileAccount}
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val prevCk = spark.conf.getOption("spark.sql.streaming.checkpoint.fileChecksum.enabled")
    spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    try {
      val root = Files.createTempDirectory(Paths.get("target"), "sync-replay-hpk")
      val src = FileAccount(root.resolve("src").toString)
      val tgt = FileAccount(root.resolve("tgt").toString)
      Files.createDirectories(Paths.get(src.root))
      Files.createDirectories(Paths.get(tgt.root))
      src.createDatabaseIfAbsent("db")
      src.createContainerIfAbsent("db", "c",
        ContainerProps(Seq("/tenant", "/owner/region"), buckets = 4))
      val data = Paths.get(src.root, "db", "c", "data")
      Files.createDirectories(data)
      val cp = root.resolve("cp").toString
      // batch 1: (h1, t1, emea) v2 — the newer version first
      Files.writeString(data.resolve("f1.json"),
        """{"id":"h1","tenant":"t1","owner":{"region":"emea"},"v":2}""")
      Streams.syncContainers(spark, src, tgt, "db", "c", cp,
        dedupeReplays = true).awaitTermination()
      // batch 2: the same id under a DIFFERENT composite key must pass the
      // gate (the key is id ++ every pk component, not id alone), while the
      // replayed older version of the SAME composite key must be dropped
      Files.writeString(data.resolve("f2.json"), Seq(
        """{"id":"h1","tenant":"t1","owner":{"region":"emea"},"v":1}""",
        """{"id":"h1","tenant":"t1","owner":{"region":"apac"},"v":9}""").mkString("\n"))
      Streams.syncContainers(spark, src, tgt, "db", "c", cp,
        dedupeReplays = true).awaitTermination()
      val state = tgt.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet
      assert(state.size == 2, state.mkString("\n"))
      assert(state.exists(s => s.contains("\"region\":\"emea\"") && s.contains("\"v\":2")),
        s"older emea replay must not resurrect: $state")
      assert(state.exists(s => s.contains("\"region\":\"apac\"") && s.contains("\"v\":9")),
        s"same id under a new composite key must pass the gate: $state")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None    => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      prevCk match {
        case Some(p) => spark.conf.set("spark.sql.streaming.checkpoint.fileChecksum.enabled", p)
        case None    => spark.conf.unset("spark.sql.streaming.checkpoint.fileChecksum.enabled")
      }
    }
  }

  test("ST-6: continuous container sync catches up, resumes, and skips unchanged") {
    import java.nio.file.{Files, Paths}
    import graft.core.{ContainerProps, FileAccount}
    val root = Files.createTempDirectory(Paths.get("target"), "sync-e2e")
    val src = FileAccount(root.resolve("src").toString)
    val tgt = FileAccount(root.resolve("tgt").toString)
    Files.createDirectories(Paths.get(src.root))
    Files.createDirectories(Paths.get(tgt.root))
    src.createDatabaseIfAbsent("db")
    src.createContainerIfAbsent("db", "c", ContainerProps(Seq("/pk"), buckets = 4))
    val data = Paths.get(src.root, "db", "c", "data")
    Files.createDirectories(data)
    Files.writeString(data.resolve("f1.json"), (0 until 8)
      .map(i => s"""{"id":"s$i","pk":"p${i % 2}","v":$i}""").mkString("\n"))
    val cp = root.resolve("cp").toString

    // catch-up sync: AvailableNow drains the backlog and stops
    val q1 = Streams.syncContainers(spark, src, tgt, "db", "c", cp)
    q1.awaitTermination()
    assert(tgt.readRaw(spark, "db", "c").count() == 8)

    // source grows: one update + one new doc in a new file; resumed sync
    // (same checkpoint) processes ONLY the new file and upserts by key
    Files.writeString(data.resolve("f2.json"), Seq(
      """{"id":"s3","pk":"p1","v":303}""",
      """{"id":"s9","pk":"p1","v":9}""").mkString("\n"))
    val q2 = Streams.syncContainers(spark, src, tgt, "db", "c", cp)
    q2.awaitTermination()
    val state = tgt.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet
    assert(state.size == 9)
    assert(state.contains("""{"id":"s3","pk":"p1","v":303}"""))
    assert(!state.contains("""{"id":"s3","pk":"p1","v":3}"""))

    // nothing new: a third sync neither reprocesses nor rewrites
    val q3 = Streams.syncContainers(spark, src, tgt, "db", "c", cp)
    q3.awaitTermination()
    assert(tgt.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet == state)
  }

  test("ST-6 via SQL catalog: readStream.table drains a container, resumes from checkpoint") {
    import java.nio.file.{Files, Paths}
    import graft.core.FileAccount
    val root = Files.createTempDirectory(Paths.get("target"), "streamcat")
    spark.conf.set("spark.sql.catalog.graftst",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftst.root", root.toString)
    spark.sql("CREATE NAMESPACE graftst.db")
    spark.sql("CREATE TABLE graftst.db.c (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='16')")
    val acc = FileAccount(root.toString)
    graft.functions.GraftFunctions.register(spark)
    def land(docs: Seq[String]): Unit = {
      val keyed = graft.operators.RawMerge
        .srcKeyed(spark, docs.toDF("raw"), Seq("/id"))
        .select(col("raw"), col("__id"), col("__pk0"))
      acc.upsertRaw(spark, "db", "c", keyed, Seq("__id", "__pk0"), Seq("/id"))
      ()
    }
    land((0 until 10).map(i => s"""{"id":"a$i","v":$i}"""))

    val ckpt = Files.createTempDirectory(Paths.get("target"), "streamcat-ckpt")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(): Int = {
      val before = out.size
      val q = spark.readStream.table("graftst.db.c")
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          out ++= batch.collect().map(_.getString(0)); ()
        }
        .start()
      q.awaitTermination()
      out.size - before
    }
    // first drain consumes the whole container through the catalog table
    assert(drain() == 10)
    // the checkpoint is the resume cursor: an unchanged container yields 0
    assert(drain() == 0)

    // a delta upsert rewrites only its keys' buckets; the resumed stream
    // re-reads those fresh files (survivor rows re-emit: at-least-once per
    // document version, the sync engine's contract) but NOT the untouched
    // buckets' files
    land(Seq("""{"id":"b0","v":100}""", """{"id":"b1","v":101}"""))
    val delta = drain()
    assert(delta >= 2, s"new documents must arrive, got $delta rows")
    assert(delta < 12, s"untouched buckets must not re-emit, got $delta rows")
    val ids = out.flatMap("\"id\":\"([ab]\\d+)\"".r.findFirstMatchIn(_))
      .map(_.group(1)).toSet
    assert(ids.size == 12, s"every document must have streamed, got $ids")
  }

  test("stream-static enrichment: readStream.table joins a broadcast dim per micro-batch") {
    import java.nio.file.{Files, Paths}
    import graft.core.FileAccount
    val root = Files.createTempDirectory(Paths.get("target"), "streamenr")
    spark.conf.set("spark.sql.catalog.graftse",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftse.root", root.toString)
    spark.sql("CREATE NAMESPACE graftse.db")
    spark.sql("CREATE TABLE graftse.db.c (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='4')")
    val acc = FileAccount(root.toString)
    def land(docs: Seq[String]): Unit = {
      val keyed = graft.operators.RawMerge
        .srcKeyed(spark, docs.toDF("raw"), Seq("/id"))
        .select(col("raw"), col("__id"), col("__pk0"))
      acc.upsertRaw(spark, "db", "c", keyed, Seq("__id", "__pk0"), Seq("/id"))
      ()
    }
    land((0 until 8).map(i => s"""{"id":"e$i","cat":"c${i % 4}"}"""))
    // the static dim side of the classic streaming ENRICHMENT join —
    // category metadata living outside the container
    val dim = Seq(("c0", "alpha"), ("c1", "beta"), ("c2", "gamma"),
      ("c3", "delta")).toDF("cat", "label")

    val ckpt = Files.createTempDirectory(Paths.get("target"), "streamenr-ckpt")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def drain(): Int = {
      val before = out.size
      val q = spark.readStream.table("graftse.db.c")
        .selectExpr("get_json_object(raw, '$.id') AS id",
          "get_json_object(raw, '$.cat') AS cat")
        .join(broadcast(dim), "cat")
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          out ++= batch.select("id", "label").collect()
            .map(r => r.getString(0) -> r.getString(1)); ()
        }
        .start()
      q.awaitTermination()
      out.size - before
    }
    assert(drain() == 8)
    assert(out.forall { case (id, label) =>
      val cat = id.stripPrefix("e").toInt % 4
      label == Seq("alpha", "beta", "gamma", "delta")(cat)
    }, s"every streamed row must be enriched: $out")
    // the dim re-binds on the NEXT batch too (stream-static joins re-plan
    // the static side per micro-batch)
    land(Seq("""{"id":"e8","cat":"c2"}"""))
    assert(drain() >= 1)
    assert(out.exists { case (id, label) => id == "e8" && label == "gamma" })
  }

  test("catalog stream rate shaping: maxFilesPerTrigger bounds each micro-batch") {
    import java.nio.file.{Files, Paths}
    import graft.core.FileAccount
    val root = Files.createTempDirectory(Paths.get("target"), "streamrate")
    spark.conf.set("spark.sql.catalog.graftrl",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrl.root", root.toString)
    spark.sql("CREATE NAMESPACE graftrl.db")
    spark.sql("CREATE TABLE graftrl.db.c (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='8')")
    val acc = FileAccount(root.toString)
    val values = (0 until 48)
      .map(i => s"""('{"id":"r$i","v":$i}')""").mkString(", ")
    spark.sql(s"INSERT INTO graftrl.db.c VALUES $values")
    val nFiles = acc.bucketDirList("db", "c").size
    assert(nFiles > 2, "need a multi-file container for the rate test")

    // one file per trigger: an AvailableNow drain becomes >= nFiles
    // checkpointed batches, none carrying more than one file's rows —
    // bounded memory AND bounded lost work, the A2 paged-catchup contract
    val ckpt = Files.createTempDirectory(Paths.get("target"), "streamrate-ck")
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream
      .option("maxFilesPerTrigger", "1")
      .table("graftrl.db.c")
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) => batches += b.count(); () }
      .start()
    q.awaitTermination()
    assert(batches.map(identity).sum == 48,
      s"the drain must deliver every document, got $batches")
    assert(batches.count(_ > 0) >= nFiles,
      s"1-file batches: expected >= $nFiles non-empty batches, got ${batches.size}")
    val perFileMax = 48 / nFiles * 3 // files are uneven; bound loosely
    assert(batches.forall(_ <= perFileMax),
      s"no batch may exceed one file's rows (~<=$perFileMax), got $batches")
  }

  test("container-to-container SQL streaming: readStream.table -> writeStream.toTable, checkpoint resume") {
    import java.nio.file.{Files, Paths}
    import graft.core.FileAccount
    val root = Files.createTempDirectory(Paths.get("target"), "streamsql")
    spark.conf.set("spark.sql.catalog.graftsw",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsw.root", root.toString)
    spark.sql("CREATE NAMESPACE graftsw.db")
    spark.sql("CREATE TABLE graftsw.db.src (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='8')")
    spark.sql("CREATE TABLE graftsw.db.dst (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='8')")
    val acc = FileAccount(root.toString)
    graft.functions.GraftFunctions.register(spark)
    def land(docs: Seq[String]): Unit = {
      val keyed = graft.operators.RawMerge
        .srcKeyed(spark, docs.toDF("raw"), Seq("/id"))
        .select(col("raw"), col("__id"), col("__pk0"))
      acc.upsertRaw(spark, "db", "src", keyed, Seq("__id", "__pk0"), Seq("/id"))
      ()
    }
    land((0 until 12).map(i => s"""{"id":"s$i","v":$i}"""))

    // the full SQL pipe: container stream in, per-epoch merge-commit out —
    // no foreachBatch, no bespoke API on either end
    val ckpt = Files.createTempDirectory(Paths.get("target"), "streamsql-ckpt")
    def pipe(): Unit = {
      val q = spark.readStream.table("graftsw.db.src")
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("graftsw.db.dst")
      q.awaitTermination()
    }
    pipe()
    assert(spark.table("graftsw.db.dst").count() == 12,
      "first drain must replicate the whole source container")
    assert(acc.bucketDirList("db", "dst").size > 1,
      "the streaming sink must maintain the bucket layout")
    assert(acc.readBucketCounts("db", "dst").values.map(_._1).sum == 12,
      "the streaming sink must maintain the _counts.json sidecar")

    // restart from the checkpoint: nothing new → dst byte-identical
    // (re-merged replays classify as skips; no bucket rewrites)
    val sigs = acc.bucketSignatures("db", "dst")
    pipe()
    assert(acc.bucketSignatures("db", "dst") == sigs,
      "an empty resume must not rewrite the destination")

    // source delta (one update + one insert) flows through: upsert
    // semantics in the sink — the update lands in place, no duplicates.
    // The source's bucket rewrite re-emits that bucket's surviving rows
    // (at-least-once per version); the sink's canonical-diff absorbs them.
    land(Seq("""{"id":"s3","v":333}""", """{"id":"n0","v":100}"""))
    pipe()
    assert(spark.table("graftsw.db.dst").count() == 13,
      "the delta must merge, not append")
    val s3 = spark.sql("SELECT raw FROM graftsw.db.dst WHERE _id = 's3'")
      .collect()
    assert(s3.length == 1 && s3(0).getString(0).contains("333"),
      s"the update must land in the destination, got: ${s3.toSeq}")
  }
}
