package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ContainerProps, FileAccount}

/** Storage maintenance: bucket compaction (the engine's OPTIMIZE — bounds
  * the small-file growth incremental upserts leave behind) and staging
  * vacuum (sweeps trees abandoned by writes that died before commit), via
  * both the Scala API and the SQL `CALL graft.system.*` procedures. */
class MaintenanceSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, "maintenance-spec")

  private def newAccount(prefix: String): FileAccount = {
    val root = Files.createTempDirectory(Paths.get("target"), prefix)
    FileAccount(root.toString)
  }

  /** Upsert `docs` through the merge engine with enough write parallelism
    * that every bucket lands multiple small part files. */
  private def upsert(acc: FileAccount, db: String, c: String,
                     docs: Seq[String], parts: Int): Unit = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val keyed = graft.operators.RawMerge
      .srcKeyed(spark, docs.toDF("raw").repartition(parts), Seq("/id"))
      .select(col("raw"), col("__id"), col("__pk0"))
    acc.upsertRaw(spark, db, c, keyed, Seq("__id", "__pk0"), Seq("/id"))
    ()
  }

  private def dataFileCount(acc: FileAccount, db: String, c: String): Int = {
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(acc.root, db, c, "data")).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith(".")).size
  }

  private def contents(acc: FileAccount, db: String, c: String): Seq[String] =
    acc.readRaw(spark, db, c).collect().map(_.getString(0)).toSeq.sorted

  test("compactContainer: coalesces per-bucket small files, keeps rows and sidecar, idempotent") {
    val acc = newAccount("compact")
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/id"), buckets = 2))
    val docs = (1 to 64).map(i => s"""{"id":"d$i","v":$i}""")
    upsert(acc, "db", "c", docs, parts = 8)

    val before = contents(acc, "db", "c")
    val filesBefore = dataFileCount(acc, "db", "c")
    assert(filesBefore > 2, s"fixture must start oversubscribed, got $filesBefore files")
    assert(acc.countRows(spark, "db", "c") == 64)

    val stats = acc.compactContainer(spark, "db", "c")
    assert(stats.buckets.nonEmpty && stats.filesBefore == filesBefore)
    // tiny buckets → one file each
    assert(stats.filesAfter == stats.buckets.size)
    assert(dataFileCount(acc, "db", "c") <= 2)
    assert(contents(acc, "db", "c") == before, "compaction must not change rows")
    // sidecar re-signed: the count stays metadata-only (and correct)
    assert(acc.countRows(spark, "db", "c") == 64)
    val sigs = acc.bucketSignatures("db", "c")
    val sidecar = acc.readBucketCounts("db", "c")
    assert(sidecar.forall { case (b, (_, sig)) => sigs.get(b).contains(sig) },
      "sidecar signatures must vouch for the compacted buckets")

    // second pass: nothing oversubscribed → untouched no-op
    val again = acc.compactContainer(spark, "db", "c")
    assert(again.buckets.isEmpty && again.filesBefore == 0L)
    assert(acc.bucketSignatures("db", "c") == sigs,
      "a no-op compaction must not touch any bucket")
  }

  test("compactContainer: absorbs strays into their buckets, leaves compact buckets untouched") {
    val acc = newAccount("compact-stray")
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/id"), buckets = 2))
    upsert(acc, "db", "c", (1 to 16).map(i => s"""{"id":"d$i","v":$i}"""), parts = 4)
    acc.compactContainer(spark, "db", "c") // reach the compact steady state
    val sigsBefore = acc.bucketSignatures("db", "c")

    // an external writer drops a file at the data root (out of layout)
    Files.writeString(Paths.get(acc.root, "db", "c", "data", "external.json"),
      """{"id":"stray1","v":-1}""" + "\n")
    val stats = acc.compactContainer(spark, "db", "c")
    assert(stats.straysAbsorbed == 1L && stats.buckets.size == 1,
      s"only the stray's bucket rewrites, got $stats")
    assert(!Files.exists(Paths.get(acc.root, "db", "c", "data", "external.json")))
    assert(acc.countRows(spark, "db", "c") == 17)
    assert(contents(acc, "db", "c").contains("""{"id":"stray1","v":-1}"""))
    val sigsAfter = acc.bucketSignatures("db", "c")
    val untouched = sigsBefore.keySet -- stats.buckets
    assert(untouched.forall(b => sigsAfter.get(b) == sigsBefore.get(b)),
      "buckets outside the rewrite set must stay byte-for-byte identical")
  }

  test("compactContainer: a bucket that absorbs strays is sized by its own bytes, so a second pass rewrites nothing") {
    val acc = newAccount("compact-stray-size")
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/id"), buckets = 2))
    upsert(acc, "db", "c", (1 to 40).map(i => s"""{"id":"d$i","v":$i}"""), parts = 1)
    // one stray file whose rows key to both buckets
    val strays = (1 to 40).map(i => s"""{"id":"s$i","v":-$i,"pad":"${"x" * 24}"}""")
    Files.writeString(Paths.get(acc.root, "db", "c", "data", "external.json"),
      strays.mkString("", "\n", "\n"))
    val first = acc.compactContainer(spark, "db", "c", targetBytes = 400L)
    assert(first.straysAbsorbed == 1L && first.buckets == Set(0L, 1L), first.toString)
    val again = acc.compactContainer(spark, "db", "c", targetBytes = 400L)
    assert(again.buckets.isEmpty,
      s"a compacted bucket must not read as oversubscribed, got $again")
    assert(acc.countRows(spark, "db", "c") == 80)
    assert(acc.metadataRowCount("db", "c").contains(80L))
  }

  test("autocompact: repeated small upserts keep per-bucket file counts bounded") {
    val acc = newAccount("autocompact")
    spark.conf.set("spark.sql.catalog.grafta",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grafta.root", acc.root)
    spark.sql("CREATE NAMESPACE grafta.db")
    // bounded container: any just-rewritten bucket ending over 3 files
    // compacts inline; control: no threshold, files accumulate
    spark.sql("CREATE TABLE grafta.db.bounded (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='2', 'autocompact'='3')")
    spark.sql("CREATE TABLE grafta.db.control (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='2')")
    assert(acc.containerProperties("db", "bounded").autocompactFiles == Some(3))
    assert(spark.sql("SHOW TBLPROPERTIES grafta.db.bounded")
      .collect().exists(r => r.getString(0) == "autocompact" && r.getString(1) == "3"))

    def maxFilesPerBucket(c: String): Int =
      acc.bucketDirList("db", c).map { case (_, dir) =>
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
          .count(p => java.nio.file.Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith("_") &&
            !p.getFileName.toString.startsWith("."))
      }.maxOption.getOrElse(0)

    for (batch <- 0 until 8) {
      val values = (0 until 8).map(i =>
        s"""('{"id":"b$batch-$i","v":$i}')""").mkString(", ")
      spark.sql(s"INSERT INTO grafta.db.bounded VALUES $values")
      spark.sql(s"INSERT INTO grafta.db.control VALUES $values")
    }
    val bounded = maxFilesPerBucket("bounded")
    val control = maxFilesPerBucket("control")
    assert(bounded <= 3, s"autocompact must bound files per bucket, got $bounded")
    assert(control > 3, s"the control fixture must actually accumulate, got $control")
    // compaction upkeep must not cost correctness: rows + metadata intact
    assert(spark.sql("SELECT count(1) FROM grafta.db.bounded").head().getLong(0) == 64)
    assert(acc.countRows(spark, "db", "bounded") == 64)
    val sigs = acc.bucketSignatures("db", "bounded")
    assert(acc.readBucketCounts("db", "bounded")
      .forall { case (b, (_, sig)) => sigs.get(b).contains(sig) })
  }

  test("layout churn chain: upsert -> compact -> rebucket -> upsert -> compact preserves contents across geometries") {
    for ((n, b0, b1, parts) <- Seq((23, 1, 5, 3), (64, 4, 2, 8), (17, 3, 16, 2))) {
      val acc = newAccount(s"churn-$b0-$b1")
      acc.createDatabaseIfAbsent("db")
      acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/id"), buckets = b0))
      val docs = (1 to n).map(i => s"""{"id":"x$i","v":$i}""")
      upsert(acc, "db", "c", docs, parts)
      val want = docs.sorted
      assert(contents(acc, "db", "c") == want)
      acc.compactContainer(spark, "db", "c")
      assert(contents(acc, "db", "c") == want, s"compact broke ($n,$b0)")
      assert(acc.rebucketContainer(spark, "db", "c", b1) == n.toLong)
      assert(contents(acc, "db", "c") == want, s"rebucket broke ($b0->$b1)")
      // the sidecar vouches after every step: counts stay metadata-only
      assert(acc.countRows(spark, "db", "c") == n.toLong)
      // updates still land on the new geometry (replace, not duplicate)
      upsert(acc, "db", "c", Seq(s"""{"id":"x1","v":-1}"""), 1)
      acc.compactContainer(spark, "db", "c")
      val after = contents(acc, "db", "c")
      assert(after.length == n && after.contains("""{"id":"x1","v":-1}"""),
        s"post-rebucket upsert must replace by key ($b0->$b1)")
    }
  }

  test("vacuumStaging: sweeps idle staging trees, keeps live ones") {
    val acc = newAccount("vacuum")
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/id")))
    val stale = Paths.get(acc.root, "db", "c", "_staging", "dead-write")
    val live = Paths.get(acc.root, "db", "c", "_staging", "live-write")
    Files.createDirectories(stale); Files.createDirectories(live)
    Files.writeString(stale.resolve("part-0.txt"), "{}\n")
    Files.writeString(live.resolve("part-0.txt"), "{}\n")
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 48L * 3600 * 1000)
    Files.setLastModifiedTime(stale.resolve("part-0.txt"), old)

    val removed = acc.vacuumStaging("db", "c", ttlMs = 24L * 3600 * 1000)
    assert(removed.size == 1 && removed.head.endsWith("dead-write"))
    assert(!Files.exists(stale) && Files.exists(live.resolve("part-0.txt")))
    // second sweep: nothing left to remove
    assert(acc.vacuumStaging("db", "c", ttlMs = 24L * 3600 * 1000).isEmpty)

    // a stale _rebucket tree is UNTOUCHABLE while the data tree is absent
    // (mid-swap crash: staging is the only copy; recovery renames it) ...
    val rb = Paths.get(acc.root, "db", "c", "_rebucket", "b=0")
    Files.createDirectories(rb)
    Files.writeString(rb.resolve("part-0.txt"), """{"id":"only-copy"}""" + "\n")
    Files.setLastModifiedTime(rb.resolve("part-0.txt"), old)
    assert(!acc.vacuumStaging("db", "c", ttlMs = 0)
        .exists(_.contains("_rebucket")) && Files.exists(rb),
      "a mid-swap _rebucket tree must never be swept")
    // ... and sweepable once a live data tree exists again (died pre-swap)
    upsert(acc, "db", "c", Seq("""{"id":"alive","v":1}"""), 1)
    val swept = acc.vacuumStaging("db", "c", ttlMs = 0)
    assert(swept.exists(_.endsWith("_rebucket")) &&
      !Files.exists(Paths.get(acc.root, "db", "c", "_rebucket")))
  }

  test("compaction interleaves with a catalog stream: re-emit from new files, no wedge") {
    val acc = newAccount("compact-stream")
    spark.conf.set("spark.sql.catalog.graftmc",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftmc.root", acc.root)
    spark.sql("CREATE NAMESPACE graftmc.db")
    spark.sql("CREATE TABLE graftmc.db.c (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='2')")
    upsert(acc, "db", "c", (1 to 32).map(i => s"""{"id":"d$i","v":$i}"""), parts = 8)

    val ckpt = Files.createTempDirectory(Paths.get("target"), "compact-ckpt")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(): Int = {
      val before = out.size
      val q = spark.readStream.table("graftmc.db.c")
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out ++= b.collect().map(_.getString(0)); ()
        }
        .start()
      q.awaitTermination()
      out.size - before
    }
    assert(drain() == 32)
    // compaction replaces every oversubscribed bucket's files with fresh
    // part files: under the at-least-once-per-version contract the resumed
    // stream RE-EMITS the rewritten buckets' rows from the new files —
    // and, critically, does not wedge on the deleted old paths
    val stats = acc.compactContainer(spark, "db", "c")
    assert(stats.buckets.nonEmpty)
    assert(drain() == 32, "compacted buckets must re-emit exactly once from their new files")
    assert(drain() == 0, "steady state after the re-emit")
    // the pipeline keeps flowing after compaction
    spark.sql("""INSERT INTO graftmc.db.c VALUES ('{"id":"d33","v":33}')""")
    assert(drain() >= 1)
    val ids = out.flatMap("\"id\":\"(d\\d+)\"".r.findFirstMatchIn(_))
      .map(_.group(1)).toSet
    assert(ids.size == 33, s"every document version must have streamed, got ${ids.size}")

    // a REBUCKET swaps the entire file set: the resumed stream re-emits
    // everything from the new layout (at-least-once per version) and the
    // deleted old paths never wedge it
    assert(acc.rebucketContainer(spark, "db", "c", 8) == 33L)
    assert(drain() == 33, "the new layout must re-emit exactly its rows")
    assert(drain() == 0)
    spark.sql("""INSERT INTO graftmc.db.c VALUES ('{"id":"d34","v":34}')""")
    assert(drain() >= 1)
    val ids2 = out.flatMap("\"id\":\"(d\\d+)\"".r.findFirstMatchIn(_))
      .map(_.group(1)).toSet
    assert(ids2.size == 34, "the stream keeps flowing across the re-bucket")
  }

  test("SQL surface: CALL graft.system.compact / vacuum return result rows") {
    val acc = newAccount("callproc")
    spark.conf.set("spark.sql.catalog.graftmx",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftmx.root", acc.root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftmx.db")
    spark.sql("CREATE TABLE graftmx.db.c (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='2')")
    upsert(acc, "db", "c", (1 to 32).map(i => s"""{"id":"d$i","v":$i}"""), parts = 8)
    val filesBefore = dataFileCount(acc, "db", "c")
    assert(filesBefore > 2)

    val r = spark.sql(
      "CALL graftmx.system.compact(db => 'db', container => 'c')").head()
    assert(r.getAs[Long]("files_before") == filesBefore.toLong)
    assert(r.getAs[Long]("files_after") <= 2L)
    assert(r.getAs[Int]("buckets_compacted") > 0)
    assert(spark.sql("SELECT count(1) FROM graftmx.db.c").head().getLong(0) == 32)

    // positional args + default ttl; a fresh staging tree survives
    val staging = Paths.get(acc.root, "db", "c", "_staging", "w1")
    Files.createDirectories(staging)
    Files.writeString(staging.resolve("part-0.txt"), "{}\n")
    val v = spark.sql("CALL graftmx.system.vacuum('db', 'c')").head()
    assert(v.getAs[Int]("staging_trees_removed") == 0)
    // ttl 0: everything idle is swept
    val v0 = spark.sql("CALL graftmx.system.vacuum('db', 'c', 0)").head()
    assert(v0.getAs[Int]("staging_trees_removed") == 1)
    assert(!Files.exists(staging))

    // unknown procedure fails loudly (Spark wraps the catalog's guidance
    // in FAILED_TO_LOAD_ROUTINE), not silently
    val err = intercept[Exception](
      spark.sql("CALL graftmx.system.nope('a')")).getMessage
    assert(err.contains("FAILED_TO_LOAD_ROUTINE") && err.contains("nope"))

    // stats: one metadata-only row per bucket, vouched after the compact
    val st = spark.sql("CALL graftmx.system.stats('db', 'c')").collect()
    assert(st.nonEmpty && st.length <= 2)
    assert(st.forall(_.getAs[Boolean]("vouched")))
    assert(st.map(_.getAs[Long]("rows")).sum == 32L)
    assert(st.forall(_.getAs[Int]("files") >= 1))

    // verify: sidecar-vouched count with zero rescans in the steady state
    val vr = spark.sql("CALL graftmx.system.verify('db', 'c')").head()
    assert(vr.getAs[Long]("rows") == 32L)
    assert(vr.getAs[Int]("rescanned_buckets") == 0)
    assert(vr.getAs[Int]("vouched_buckets") == vr.getAs[Int]("buckets"))
  }

  test("gate _commits retention: metadata bounded under 50 batches; horizon refusals; decisions unchanged") {
    // VERDICT r11 task 3: one marker per micro-batch forever is the same
    // unbounded-metadata bug class expire_indexes fixed for fingerprints.
    // The harness NEVER replays an id below the floor it passes (the floor
    // is the current batchId — exactly the live-query contract, where the
    // engine re-delivers at most the one uncommitted batch), so sweeping
    // below it cannot meet a replay by construction.
    val store = Files.createTempDirectory(Paths.get("target"), "gate-vac").toString
    val st = graft.core.Storage.hadoop
    graft.functions.GraftFunctions.register(spark)
    val firstText = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    def batchDf(docId: Long, text: String) = spark.range(1)
      .selectExpr(s"CAST($docId AS BIGINT) AS doc_id", s"'$text' AS text")
    for (i <- 0 until 50) {
      val text = if (i == 0) firstText
        else s"doc number$i topic$i subject$i matter$i uniquely distinct"
      val r = graft.streaming.Streams.dedupGateBatch(spark, store,
        batchDf(100L + i, text), i.toLong,
        vacuumCommitsBelow = Some(i.toLong))
      assert(r == (1L, 0L))
    }
    def commitEntries(): Seq[String] =
      st.listFilePaths(s"$store/_commits")
        .map(p => p.substring(p.lastIndexOf('/') + 1)) ++
        st.listDirNames(s"$store/_commits")
    assert(commitEntries().size <= 2,
      s"_commits metadata unbounded after 50 batches: ${commitEntries()}")
    // the surviving marker is the newest batch's: a replay AT the horizon
    // is still a committed no-op — replay protection is intact
    assert(graft.streaming.Streams.dedupGateBatch(spark, store,
      batchDf(149L, "doc number49 topic49 subject49 matter49 uniquely distinct"),
      49L) == (0L, 0L))
    // decisions unchanged: a near-dup of batch 0's admitted doc still rejects
    assert(graft.streaming.Streams.dedupGateBatch(spark, store,
      batchDf(999L, firstText), 1000L) == (0L, 1L))
    // refusal by construction: floor == id never sweeps that id — the
    // below-floor marker 49 goes, the at-floor marker 1000 survives
    assert(graft.streaming.Streams.vacuumGateCommits(store, 1000L) == 1)
    assert(!st.exists(s"$store/_commits/49"), "below-floor marker swept")
    assert(st.exists(s"$store/_commits/1000"), "marker at the floor must survive")
    // an unmarked staged delta below the floor is corruption — left in
    // place for inspection; a crashed .delta.tmp below the floor is swept
    st.mkdirs(s"$store/_commits/5.delta")
    st.mkdirs(s"$store/_commits/6.delta.tmp")
    val swept = graft.streaming.Streams.vacuumGateCommits(store, 2000L)
    assert(st.exists(s"$store/_commits/5.delta"),
      "unmarked staged delta must be preserved for inspection")
    assert(!st.exists(s"$store/_commits/6.delta.tmp"),
      "crashed staging attempt below the floor must be swept")
    assert(!st.exists(s"$store/_commits/1000"), "marker below the new floor swept")
    assert(swept >= 2, s"expected the tmp dir + markers swept, got $swept")
    // SQL doorway returns the swept count
    spark.conf.set("spark.sql.catalog.graftvg",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftvg.root",
      Files.createTempDirectory(Paths.get("target"), "vg-root").toString)
    st.writeString(s"$store/_commits/7", "")
    // observability first: gate_stats reads the same facts vacuuming acts
    // on, metadata-only — markers, highest committed id, pending/crashed
    // staging — plus the frozen layout and sub-store shapes
    val g = spark.sql(
      s"CALL graftvg.system.gate_stats(store_dir => '$store')").head()
    assert(g.getAs[Int]("layout_version") == graft.streaming.Streams.GateLayoutVersion)
    assert(g.getAs[Int]("band_buckets") > 0)
    assert(g.getAs[Long]("band_files") > 0 && g.getAs[Long]("band_bytes") > 0)
    assert(g.getAs[Long]("doc_files") > 0 && g.getAs[Long]("doc_bytes") > 0)
    assert(g.getAs[Long]("commits") == 1L, s"only marker 7 survives: $g")
    assert(g.getAs[Long]("max_batch_id") == 7L)
    assert(g.getAs[Long]("pending_deltas") == 1L, "the preserved unmarked delta")
    assert(g.getAs[Long]("crashed_staging") == 0L)
    // decontam never opted in on this store: the channel reads empty
    assert(g.getAs[Long]("contam_files") == 0L &&
      g.getAs[Long]("contam_bytes") == 0L, s"$g")
    val r = spark.sql(
      s"CALL graftvg.system.vacuum_gate(store_dir => '$store', " +
        "safe_batch_floor => 3000)").head()
    assert(r.getAs[Int]("entries_removed") >= 1)
    assert(!st.exists(s"$store/_commits/7"))
  }

  test("rebucket: full rewrite into a new layout, contents/sidecar/point-reads intact") {
    val acc = newAccount("rebucket")
    spark.conf.set("spark.sql.catalog.graftrb",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrb.root", acc.root)
    spark.sql("CREATE NAMESPACE graftrb.db")
    spark.sql("CREATE TABLE graftrb.db.c (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='2')")
    upsert(acc, "db", "c", (1 to 48).map(i => s"""{"id":"d$i","v":$i}"""), parts = 4)
    val before = contents(acc, "db", "c")
    assert(acc.bucketDirList("db", "c").size <= 2)

    val r = spark.sql(
      "CALL graftrb.system.rebucket('db', 'c', 8)").head()
    assert(r.getAs[Long]("rows") == 48L && r.getAs[Int]("buckets") == 8)
    assert(acc.containerProperties("db", "c").buckets == 8)
    assert(acc.bucketDirList("db", "c").size > 2,
      "the new layout must actually spread")
    assert(Files.notExists(Paths.get(acc.root, "db", "c", "_rebucket")),
      "staging must be swapped away")
    assert(contents(acc, "db", "c") == before, "re-bucketing must not change rows")
    // sidecar rebuilt and vouching: count is metadata-only
    assert(acc.countRows(spark, "db", "c") == 48)
    val sigs = acc.bucketSignatures("db", "c")
    assert(acc.readBucketCounts("db", "c")
      .forall { case (b, (_, sig)) => sigs.get(b).contains(sig) })
    // point reads prune against the NEW hash layout
    assert(spark.sql(
      "SELECT raw FROM graftrb.db.c WHERE _id = 'd7'").count() == 1)
    // the merge engine keeps working against the new layout
    spark.sql("""INSERT INTO graftrb.db.c VALUES ('{"id":"d49","v":49}')""")
    assert(spark.sql("SELECT count(1) FROM graftrb.db.c").head().getLong(0) == 49)
  }

  test("ALTER TABLE SET/UNSET autocompact: the one mutable property, meta surgery preserves unknown fields") {
    val acc = newAccount("alterac")
    spark.conf.set("spark.sql.catalog.graftal",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftal.root", acc.root)
    spark.sql("CREATE NAMESPACE graftal.db")
    // a container created with verbatim foreign metadata (the reference's
    // indexing-policy posture): surgery must not disturb it
    Files.createDirectories(Paths.get(acc.root, "db", "c"))
    Files.writeString(Paths.get(acc.root, "db", "c", "_meta.json"),
      """{"pk": ["/id"], "buckets": 2, "indexingPolicy": {"mode": "consistent"}}""")

    spark.sql("ALTER TABLE graftal.db.c SET TBLPROPERTIES ('autocompact'='4')")
    val props = acc.containerProperties("db", "c")
    assert(props.autocompactFiles == Some(4))
    assert(props.raw.get.contains(""""indexingPolicy": {"mode": "consistent"}"""),
      s"foreign metadata must survive verbatim, got ${props.raw.get}")
    // idempotent re-set replaces, never duplicates
    spark.sql("ALTER TABLE graftal.db.c SET TBLPROPERTIES ('autocompact'='8')")
    val meta = Files.readString(Paths.get(acc.root, "db", "c", "_meta.json"))
    assert("autocompact".r.findAllIn(meta).size == 1 && meta.contains("\"autocompact\": 8"))
    spark.sql("ALTER TABLE graftal.db.c UNSET TBLPROPERTIES ('autocompact')")
    assert(acc.containerProperties("db", "c").autocompactFiles.isEmpty)

    // layout properties stay immutable
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE graftal.db.c SET TBLPROPERTIES ('buckets'='32')"))
    assert(e.getMessage.contains("autocompact") ||
      e.getMessage.contains("fixed at creation"))
  }

  test("distinctKeys: bucket-sketch estimate is incremental — only changed buckets re-sketch") {
    val acc = newAccount("distinct")
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/id"), buckets = 4))
    upsert(acc, "db", "c", (1 to 200).map(i => s"""{"id":"d$i","v":$i}"""), parts = 4)

    // cold call: every bucket sketches; HLL is exact at this cardinality
    val first = acc.distinctKeys(spark, "db", "c")
    assert(first.estimate == 200L,
      s"HLL is exact in sparse mode at 200 keys: $first")
    assert(first.resketched == first.buckets && first.vouched == 0, s"$first")

    // warm call: pure metadata — zero buckets re-sketched, same estimate
    val second = acc.distinctKeys(spark, "db", "c")
    assert(second == first.copy(vouched = first.buckets, resketched = 0),
      s"warm call must be metadata-only: $second")

    // a delta upsert touches SOME buckets; only those re-sketch.
    // 20 new keys + 10 rewrites of existing keys (distinct +20 only)
    upsert(acc, "db", "c",
      (201 to 220).map(i => s"""{"id":"d$i","v":$i}""") ++
        (1 to 10).map(i => s"""{"id":"d$i","v":${i * 100}}"""), parts = 2)
    val third = acc.distinctKeys(spark, "db", "c")
    assert(third.estimate == 220L, s"delta must raise the estimate: $third")
    assert(third.resketched >= 1 && third.resketched <= third.buckets,
      s"only touched buckets re-sketch: $third")
    // and the call after the repair is metadata-only again
    val fourth = acc.distinctKeys(spark, "db", "c")
    assert(fourth.resketched == 0 && fourth.estimate == 220L, s"$fourth")
  }

  test("distinctKeys: an empty bucket dir vouches too — zero-marker entry, next call metadata-only") {
    val acc = newAccount("distinctempty")
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/id"), buckets = 2))
    upsert(acc, "db", "c", (1 to 40).map(i => s"""{"id":"e$i","v":$i}"""), parts = 2)
    // an externally-created empty bucket dir (a compaction that drained it,
    // a torn external write): scans to zero rows, so the sketch pass emits
    // no group for it — it must STILL get a sidecar entry (zero marker),
    // or it stays unvouched and re-scans on every call forever
    Files.createDirectories(Paths.get(acc.root, "db", "c", "data", "b=9"))
    val first = acc.distinctKeys(spark, "db", "c")
    assert(first.estimate == 40L, s"$first")
    val second = acc.distinctKeys(spark, "db", "c")
    assert(second.resketched == 0,
      s"empty bucket must be vouched after the first call: $second")
    assert(second.vouched == second.buckets && second.estimate == 40L, s"$second")
    // an empty file appearing in the empty bucket changes its signature:
    // exactly that one bucket re-sketches (still zero keys), then re-vouches
    Files.createFile(Paths.get(acc.root, "db", "c", "data", "b=9", "part-x.txt"))
    val third = acc.distinctKeys(spark, "db", "c")
    assert(third.resketched == 1 && third.estimate == 40L, s"$third")
    val fourth = acc.distinctKeys(spark, "db", "c")
    assert(fourth.resketched == 0 && fourth.estimate == 40L, s"$fourth")
  }

  test("SQL surface: CALL graft.system.distinct returns the sketch estimate") {
    val acc = newAccount("calldistinct")
    spark.conf.set("spark.sql.catalog.graftdk",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdk.root", acc.root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftdk.db")
    spark.sql("CREATE TABLE graftdk.db.c (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='2')")
    upsert(acc, "db", "c", (1 to 64).map(i => s"""{"id":"k$i"}"""), parts = 2)
    val r = spark.sql(
      "CALL graftdk.system.distinct(db => 'db', container => 'c')").head()
    assert(r.getLong(0) == 64L && r.getInt(1) == 2 && r.getInt(3) == 2, s"$r")
    val r2 = spark.sql("CALL graftdk.system.distinct('db', 'c')").head()
    assert(r2.getLong(0) == 64L && r2.getInt(2) == 2 && r2.getInt(3) == 0,
      s"second call must be vouched: $r2")
  }

  test("SQL surface: CALL graft.system.dupclusters builds/loads the dup index and reports its shape") {
    val acc = newAccount("calldup")
    spark.conf.set("spark.sql.catalog.graftdc",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdc.root", acc.root)
    val dir = "/root/testdata/sf0.001"
    val r = spark.sql(s"CALL graftdc.system.dupclusters('$dir')").head()
    assert(r.getString(0).contains("dup-index"), s"$r")
    assert(r.getLong(1) == 500L, s"n_docs: $r")
    val idx = graft.operators.DupClusters.build(spark, dir)
    assert(r.getLong(2) == idx.pairs.count() &&
      r.getLong(3) == idx.clusters.count(), s"$r")
    // cohesion rollup (VERDICT r14 task 6): pinned EQUAL to q_g10 + the
    // SafeDensityPm/SafeMeanHamC gate the keeper (q_t39) collapses under
    val g = graft.operators.Dedup.qG10(spark, dir).collect()
    val unsafe = g.filter(x =>
      x.getAs[Long]("density_pm") < graft.operators.Dedup.SafeDensityPm ||
        x.getAs[Long]("mean_ham_c") > graft.operators.Dedup.SafeMeanHamC)
    assert(r.getAs[Long]("n_components") == g.length.toLong, s"$r")
    assert(r.getAs[Long]("min_density_pm") ==
      (if (g.isEmpty) 0L else g.map(_.getAs[Long]("density_pm")).min), s"$r")
    assert(r.getAs[Long]("n_unsafe_components") == unsafe.length.toLong, s"$r")
    assert(r.getAs[Long]("max_unsafe_members") ==
      (if (unsafe.isEmpty) 0L
       else unsafe.map(_.getAs[Long]("n_members")).max), s"$r")
    // the q_g11 cut-set size rides the same doorway row
    assert(r.getAs[Long]("n_weak_edges") ==
      graft.operators.Dedup.qG11(spark, dir).count(), s"$r")
    // the severing outcome (round 16) pinned equal to the q_g12 lanes
    assert(r.getAs[Long]("n_refuted_edges") == idx.refuted.count(), s"$r")
    assert(r.getAs[Long]("n_severed_components") ==
      graft.operators.Dedup.qG12(spark, dir)
        .select("component_sev").distinct().count(), s"$r")
    // the verdicts-cache size (VERDICT r16 task 5): pair-bounded by the
    // publish-time vacuum — every cached edge is in the live pair set
    assert(r.getAs[Long]("n_cached_verdicts") == idx.verdicts.count(), s"$r")
    assert(idx.verdicts.join(idx.pairs.select("a_id", "b_id"),
      Seq("a_id", "b_id"), "left_anti").isEmpty,
      "every cached verdict's edge must be in the live pair set")
    // the q_g13 depth verdict rides the same row, pinned to the query
    val dep = graft.operators.Dedup.qG13(spark, dir)
      .groupBy("graph").agg(max("depth").as("mx"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.getAs[Long]("max_depth_raw") == dep("raw") &&
      r.getAs[Long]("max_depth_severed") == dep("severed"), s"$r vs $dep")
    assert(r.getAs[Long]("max_depth_severed") <=
      r.getAs[Long]("max_depth_raw"), s"$r")
  }

  test("expire_indexes: ivf kind — live IVF index survives a sweep and still probes from a fresh session") {
    val dir = "/root/testdata/sf0.001"
    val st = graft.core.Storage.hadoop
    val ivfRoot = Files.createTempDirectory(Paths.get("target"), "ivf-live")
      .toAbsolutePath.toString
    val prev = sys.props.get("graft.ivf.root")
    sys.props("graft.ivf.root") = ivfRoot
    try {
      graft.operators.Similarity.IvfIndex.build(spark, dir, lloydIters = 0)
      // a stale fingerprint (name does NOT contain the live corpus fp)
      st.mkdirs(s"$ivfRoot/v2-deadbeef00-l0-c16")
      st.writeString(s"$ivfRoot/v2-deadbeef00-l0-c16/centroids.tsv", "x\n")
      val swept = graft.core.Artifact.Ivf
        .expireStale(Seq(dir), Some(0), None)
      assert(swept.map(_.name) == Seq("v2-deadbeef00-l0-c16"),
        swept.mkString(", "))
      // the REAL index survived and serves the probe lane from a fresh
      // session (durable-load path, not the memo)
      val s2 = spark.newSession()
      assert(graft.operators.Similarity.qSim3(s2, dir).count() == 30)
    } finally {
      prev match {
        case Some(p) => sys.props("graft.ivf.root") = p
        case None    => sys.props.remove("graft.ivf.root"); ()
      }
    }
  }

  test("expire_indexes: dup kind — live dup-cluster index survives a sweep and serves the graph family") {
    val dir = "/root/testdata/sf0.001"
    val st = graft.core.Storage.hadoop
    val dupRoot = Files.createTempDirectory(Paths.get("target"), "dup-live")
      .toAbsolutePath.toString
    val prev = sys.props.get("graft.dupindex.root")
    sys.props("graft.dupindex.root") = dupRoot
    try {
      val idx = graft.operators.DupClusters.build(spark, dir)
      st.mkdirs(s"$dupRoot/v2-feedface00")
      st.writeString(s"$dupRoot/v2-feedface00/meta.tsv", "nDocs\t1\n")
      val swept = graft.core.Artifact.Dup.expireStale(Seq(dir), Some(0), None)
      assert(swept.map(_.name) == Seq("v2-feedface00"), swept.mkString(", "))
      // the real index survived; a fresh session warm-loads it and the
      // graph family still serves (q_g3 reads only artifact frames)
      val s2 = spark.newSession()
      val idx2 = graft.operators.DupClusters.build(s2, dir)
      assert(idx2.path == idx.path && idx2.nDocs == idx.nDocs)
      assert(graft.operators.Dedup.qG3(s2, dir).count() >= 1)
    } finally {
      prev match {
        case Some(p) => sys.props("graft.dupindex.root") = p
        case None    => sys.props.remove("graft.dupindex.root"); ()
      }
    }
  }

  test("SQL surface: CALL graft.system.lexindex builds/loads the inverted index and reports its shape") {
    val acc = newAccount("calllex")
    spark.conf.set("spark.sql.catalog.graftlx",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftlx.root", acc.root)
    val dir = "/root/testdata/sf0.001"
    val r = spark.sql(s"CALL graftlx.system.lexindex('$dir')").head()
    assert(r.getString(0).contains("lex-index"), s"$r")
    assert(r.getLong(1) == 500L, s"n_docs: $r")
    val idx = graft.operators.LexIndex.build(spark, dir)
    assert(r.getLong(2) == idx.terms.count() &&
      r.getLong(3) == idx.postings.count(), s"$r")
    assert(r.getLong(4) == idx.buckets.toLong, s"buckets: $r")
  }

  test("SQL surface: CALL graft.system.ivfindex builds/loads the ANN index and reports its shape") {
    val acc = newAccount("callivf")
    spark.conf.set("spark.sql.catalog.graftiv",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftiv.root", acc.root)
    val dir = "/root/testdata/sf0.001"
    val r = spark.sql(s"CALL graftiv.system.ivfindex('$dir')").head()
    assert(r.getLong(0) == graft.operators.Similarity.IvfCells.toLong, s"$r")
    assert(r.getLong(1) == 500L, s"n_vectors: $r")
    val idx = graft.operators.Similarity.IvfIndex.build(spark, dir, lloydIters = 0)
    assert(r.getDouble(2) == idx.scale, s"scale: $r")
    // balance verdict columns (the qSim19 numbers, CALL-shaped) agree with
    // the oracle-checked query form
    val bal = graft.operators.Similarity.qSim19(spark, dir).collect()
    assert(r.getLong(3) == bal.map(_.getLong(2)).max, s"max_share_pm: $r")
    assert(r.getLong(4) == bal.map(_.getLong(3)).sum, s"n_hot_cells: $r")
    // named lloyd_iters spelling resolves too (the trained quantizer)
    val r1 = spark.sql(
      s"CALL graftiv.system.ivfindex(dir => '$dir', lloyd_iters => 1)").head()
    assert(r1.getLong(1) == 500L, s"$r1")
    // serving guidance (VERDICT r15 task 5): the recommendation is pinned
    // EQUAL to the q_sim22 measured curve — smallest nprobe meeting the
    // target, with its measured recall/scan columns
    val curve = graft.operators.Similarity.qSim22(spark, dir).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(3))).sortBy(_._1)
    val target = 900
    val want = curve.find(_._2 >= target).getOrElse(curve.last)
    val r2 = spark.sql(s"CALL graftiv.system.ivfindex(dir => '$dir', " +
      s"target_recall_pm => $target)").head()
    assert((r2.getAs[Long]("recommended_nprobe"),
      r2.getAs[Long]("rec_recall_pm"),
      r2.getAs[Long]("rec_scan_pm")) == want,
      s"guidance must equal the q_sim22 curve: $r2 vs $want")
    // an unmeetable target falls back to probing every cell (recall 1000)
    val r3 = spark.sql(s"CALL graftiv.system.ivfindex(dir => '$dir', " +
      s"target_recall_pm => 1001)").head()
    assert(r3.getAs[Long]("recommended_nprobe") ==
      graft.operators.Similarity.IvfCells.toLong &&
      r3.getAs[Long]("rec_recall_pm") == 1000L, s"$r3")
    // no target: the sweep is skipped, guidance columns read 0
    assert(r.getAs[Long]("recommended_nprobe") == 0L, s"$r")
    // VERDICT r16 task 4: the r2 call computed + PUBLISHED the curve
    // under the index fingerprint; a warm call answers from that parquet
    // without launching the probe sweep's jobs
    assert(graft.core.Storage.hadoop.exists(
      graft.operators.Similarity.IvfIndex.nprobeCurvePath(dir)),
      "the nprobe curve must persist beside the index lanes")
    @volatile var warmJobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        warmJobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val r4 =
      try {
        val out = spark.sql(s"CALL graftiv.system.ivfindex(dir => '$dir', " +
          s"target_recall_pm => $target)").head()
        // listener delivery is async — settle until the count is stable
        var prev = -1
        while (prev != warmJobs) { prev = warmJobs; Thread.sleep(300) }
        out
      } finally spark.sparkContext.removeSparkListener(listener)
    assert((r4.getAs[Long]("recommended_nprobe"),
      r4.getAs[Long]("rec_recall_pm"),
      r4.getAs[Long]("rec_scan_pm")) == want,
      s"cached-curve recommendation must be unchanged: $r4 vs $want")
    assert(warmJobs <= 8,
      s"a warm target_recall_pm call must read the cached curve, not " +
        s"re-run the probe sweep: $warmJobs jobs")
  }

  test("SQL surface: CALL graft.system.mmivf builds/loads the multimodal " +
    "feature index and reports its shape + occupancy") {
    val acc = newAccount("callmm")
    spark.conf.set("spark.sql.catalog.graftmm",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftmm.root", acc.root)
    val dir = "/root/testdata/sf0.001"
    // ISOLATED index root: the shared target/mm-index serves other SF
    // corpora (bench/slope runs), and the keep-0 sweep below would reap
    // their live-but-unlisted fingerprints — exactly the unlisted-corpus
    // hazard expireStale's scaladoc warns about
    val prevRoot = sys.props.get("graft.mmivf.root")
    sys.props("graft.mmivf.root") = Files
      .createTempDirectory(Paths.get("target"), "mm-call").toString
    try {
      graft.operators.MmIvf.evictSession(spark)
      val r = spark.sql(s"CALL graftmm.system.mmivf('$dir')").head()
      assert(r.getString(0).contains("mm-call"), s"$r")
      assert(r.getAs[Long]("n_cells") == graft.operators.MmIvf.Cells.toLong, s"$r")
      // pngAssets covers doc_id < 200: every asset decodes and is indexed
      assert(r.getAs[Long]("n_assets") == 200L, s"$r")
      // occupancy columns agree with the index frame the query form serves
      val idx = graft.operators.MmIvf.build(spark, dir)
      val counts = idx.feats.groupBy("cell").count().collect().map(_.getLong(1))
      assert(r.getAs[Long]("max_share_pm") == counts.max * 1000L / counts.sum, s"$r")
      assert(r.getAs[Long]("n_empty_cells") ==
        graft.operators.MmIvf.Cells.toLong - counts.length, s"$r")
      // and the mm kind participates in retention sweeps (bound semantics
      // shared with ivf/dup/lex; live fingerprint protected)
      // the audio lane answers on the same doorway; its 8 cells carry the
      // same 200 fixture assets under the -aud fingerprint dir
      val ra = spark.sql(
        s"CALL graftmm.system.mmivf(dir => '$dir', lane => 'aud')").head()
      assert(ra.getString(0).endsWith("-aud"), s"$ra")
      assert(ra.getAs[Long]("n_assets") == 200L, s"$ra")
      val eBad = intercept[Exception](
        spark.sql(s"CALL graftmm.system.mmivf(dir => '$dir', lane => 'x')")
          .head())
      assert(eBad.getMessage.contains("unknown lane"), eBad.getMessage)
      // SERVING GUIDANCE (VERDICT r17 task 2 — recall-curve parity with
      // the text lane): no target → guidance columns read 0
      assert(r.getAs[Long]("recommended_nprobe") == 0L, s"$r")
      // with a target: recommendation pinned EQUAL to the measured
      // per-lane curve — smallest nprobe meeting it
      val target = 900
      val curveImg = graft.operators.MmIvf
        .cachedNprobeCurve(spark, dir, "img")
        .select("nprobe", "recall_pm", "scan_pm").collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).sortBy(_._1)
      val want = curveImg.find(_._2 >= target).getOrElse(curveImg.last)
      val rg = spark.sql(s"CALL graftmm.system.mmivf(dir => '$dir', " +
        s"target_recall_pm => $target)").head()
      assert((rg.getAs[Long]("recommended_nprobe"),
        rg.getAs[Long]("rec_recall_pm"),
        rg.getAs[Long]("rec_scan_pm")) == want,
        s"guidance must equal the measured img curve: $rg vs $want")
      // the curve persists INSIDE the lane's fingerprint dir, so
      // retention sweeps it with its generation
      val curvePath = graft.operators.MmIvf.nprobeCurvePath(dir, "img")
      assert(graft.core.Storage.hadoop.exists(curvePath) &&
        curvePath.startsWith(idx.path),
        s"curve must live inside the lane dir: $curvePath vs ${idx.path}")
      // a warm call answers from the cached parquet, never the sweep
      @volatile var warmJobs = 0
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          warmJobs += 1
      }
      spark.sparkContext.addSparkListener(listener)
      val rw =
        try {
          val out = spark.sql(s"CALL graftmm.system.mmivf(dir => '$dir', " +
            s"target_recall_pm => $target)").head()
          var prev = -1
          while (prev != warmJobs) { prev = warmJobs; Thread.sleep(300) }
          out
        } finally spark.sparkContext.removeSparkListener(listener)
      assert((rw.getAs[Long]("recommended_nprobe"),
        rw.getAs[Long]("rec_recall_pm"),
        rw.getAs[Long]("rec_scan_pm")) == want,
        s"cached-curve recommendation must be unchanged: $rw vs $want")
      assert(warmJobs <= 8,
        s"warm mm guidance must read the cached curve: $warmJobs jobs")
      // an unmeetable target falls back to probing every cell (the aud
      // lane gets its own curve under its own -aud dir)
      val ru = spark.sql(s"CALL graftmm.system.mmivf(dir => '$dir', " +
        s"lane => 'aud', target_recall_pm => 1001)").head()
      assert(ru.getAs[Long]("recommended_nprobe") ==
        graft.operators.MmIvf.Cells.toLong &&
        ru.getAs[Long]("rec_recall_pm") == 1000L, s"$ru")
      assert(graft.core.Storage.hadoop.exists(
        graft.operators.MmIvf.nprobeCurvePath(dir, "aud")))
      // the EXT lane refuses implicit fixture seeding on the guidance
      // path too (hasExternal's contract) — and serves guidance once
      // explicitly seeded
      val eExt = intercept[Exception](
        spark.sql(s"CALL graftmm.system.mmivf(dir => '$dir', " +
          s"lane => 'ext', target_recall_pm => $target)").head())
      assert(eExt.getMessage.contains("not seeded"), eExt.getMessage)
      graft.operators.MmIvf.buildExternal(spark, dir) // explicit seed
      val re = spark.sql(s"CALL graftmm.system.mmivf(dir => '$dir', " +
        s"lane => 'ext', target_recall_pm => 1001)").head()
      assert(re.getAs[Long]("recommended_nprobe") ==
        graft.operators.MmIvf.Cells.toLong &&
        re.getAs[Long]("rec_recall_pm") == 1000L, s"$re")
      // the mm kind's retention sweep protects BOTH lanes' live dirs
      val swept = graft.core.Artifact.Mm.expireStale(Seq(dir), Some(0), None)
      assert(swept.isEmpty, s"live mm index must survive a keep-0 sweep: $swept")
      assert(graft.operators.MmIvf.qMm19(spark, dir).count() > 0,
        "image lane still serves after the sweep")
      assert(graft.operators.MmIvf.qMm21(spark, dir).count() > 0,
        "audio lane still serves after the sweep")
    } finally {
      prevRoot match {
        case Some(v) => sys.props("graft.mmivf.root") = v
        case None => sys.props.remove("graft.mmivf.root")
      }
      graft.operators.MmIvf.evictSession(spark)
    }
  }

  test("expire_indexes: keep_last_n retains whole GENERATIONS — every mm lane of a superseded corpus state (ADVICE r15)") {
    // two superseded generations, each publishing an img + aud lane dir
    // under one corpus fingerprint: a flat newest-N ranking with keep 1
    // would retain only the single newest dir (one lane — unusable);
    // generation grouping must keep the newest PAIR and sweep the old one
    val root = Files.createTempDirectory(Paths.get("target"), "mm-gen")
      .toAbsolutePath.toString
    val st = graft.core.Storage.hadoop
    def put(name: String, ageMs: Long): Unit = {
      st.mkdirs(s"$root/$name")
      st.writeString(s"$root/$name/centroids.tsv", "x\n")
      Files.setLastModifiedTime(Paths.get(root, name, "centroids.tsv"),
        java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - ageMs))
    }
    val fpLive = "f" * 32
    val fpA = "a" * 32 // the older generation
    val fpB = "b" * 32 // the newer generation
    put(s"v1-$fpLive-k8", 0L)
    put(s"v1-$fpA-k8", 4 * 3600L * 1000L)
    put(s"v1-$fpA-k8-aud", 3 * 3600L * 1000L)
    put(s"v1-$fpB-k8", 2 * 3600L * 1000L)
    put(s"v1-$fpB-k8-aud", 1 * 3600L * 1000L)
    val swept = graft.operators.IndexRetention
      .sweep(st, root, "mm", Set(fpLive), Some(1), None)
    assert(swept.map(_.name).toSet ==
      Set(s"v1-$fpA-k8", s"v1-$fpA-k8-aud"),
      s"the whole older generation must sweep: ${swept.map(_.name)}")
    val remaining = st.listDirNames(root).toSet
    assert(remaining ==
      Set(s"v1-$fpLive-k8", s"v1-$fpB-k8", s"v1-$fpB-k8-aud"),
      s"the kept generation must retain BOTH lanes: $remaining")
  }

  test("mm retention pins generations a live gate's _extprior still " +
    "references (ADVICE r17)") {
    // a crashed ext-lane batch's staged _extprior names the pre-delta
    // generation its replay must loadAt; an out-of-band keep-0 sweep
    // must not take it while the pointer is live — and must take it
    // once the gate is no longer listed (or the staging is gone)
    val root = Files.createTempDirectory(Paths.get("target"), "mm-pin")
      .toAbsolutePath.toString
    val st = graft.core.Storage.hadoop
    def put(name: String, ageMs: Long): Unit = {
      st.mkdirs(s"$root/$name")
      st.writeString(s"$root/$name/centroids.tsv", "x\n")
      Files.setLastModifiedTime(Paths.get(root, name, "centroids.tsv"),
        java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - ageMs))
    }
    val fpLive = "f" * 32
    val fpA = "a" * 32 // superseded generation, img + ext lanes
    put(s"v1-$fpLive-k8", 0L)
    put(s"v1-$fpA-k8", 4 * 3600L * 1000L)
    put(s"v1-$fpA-k8-ext", 4 * 3600L * 1000L)
    val gate = Files.createTempDirectory(Paths.get("target"), "pin-gate")
      .toAbsolutePath.toString
    st.mkdirs(s"$gate/_commits/7.delta/extv")
    st.writeString(s"$gate/_commits/7.delta/_extprior",
      s"$root/v1-$fpA-k8-ext\n")
    val pins = graft.operators.MmIvf.extPriorPins(Seq(gate))
    assert(pins == Set(s"v1-$fpA-k8-ext"), s"$pins")
    // a gate store with no staged deltas pins nothing
    assert(graft.operators.MmIvf.extPriorPins(
      Seq(Files.createTempDirectory(Paths.get("target"), "pin-empty")
        .toAbsolutePath.toString)).isEmpty)
    val swept1 = graft.operators.IndexRetention
      .sweep(st, root, "mm", Set(fpLive), Some(0), None,
        protectedNames = pins)
    assert(swept1.map(_.name).toSet == Set(s"v1-$fpA-k8") &&
      st.exists(s"$root/v1-$fpA-k8-ext"),
      s"the _extprior generation must survive the sweep: " +
        s"${swept1.map(_.name)}")
    // with the pointer gone (replay finished, delta cleaned), the same
    // sweep takes it
    st.deleteRecursive(s"$gate/_commits/7.delta")
    val swept2 = graft.operators.IndexRetention
      .sweep(st, root, "mm", Set(fpLive), Some(0), None,
        protectedNames = graft.operators.MmIvf.extPriorPins(Seq(gate)))
    assert(swept2.map(_.name) == Seq(s"v1-$fpA-k8-ext"),
      s"${swept2.map(_.name)}")
  }

  test("expire_indexes: quantizer-variant dirs of one fingerprint are " +
    "DISTINCT generations (ADVICE r16)") {
    // ivf root shape: v3-<fp>-i<iters>-k<cells>. Two variants of the
    // older fingerprint + one of the newer: keep_last_n=2 must rank
    // three UNITS (variants are letter+digit suffixes, not lanes) and
    // sweep only the oldest variant — under the pre-fix `v<ver>-<fp>`
    // key both fpA variants were one unit and nothing swept at keep 2.
    val root = Files.createTempDirectory(Paths.get("target"), "ivf-gen")
      .toAbsolutePath.toString
    val st = graft.core.Storage.hadoop
    def put(name: String, ageMs: Long): Unit = {
      st.mkdirs(s"$root/$name")
      st.writeString(s"$root/$name/centroids.tsv", "x\n")
      Files.setLastModifiedTime(Paths.get(root, name, "centroids.tsv"),
        java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - ageMs))
    }
    val fpLive = "f" * 32
    val fpA = "a" * 32
    val fpB = "b" * 32
    put(s"v3-$fpLive-i1-k16", 0L)
    put(s"v3-$fpA-i0-k16", 4 * 3600L * 1000L)
    put(s"v3-$fpA-i0-k256", 3 * 3600L * 1000L)
    put(s"v3-$fpB-i1-k16", 1 * 3600L * 1000L)
    val swept = graft.operators.IndexRetention
      .sweep(st, root, "ivf", Set(fpLive), Some(2), None)
    assert(swept.map(_.name).toSet == Set(s"v3-$fpA-i0-k16"),
      s"only the oldest quantizer variant sweeps: ${swept.map(_.name)}")
    assert(st.listDirNames(root).toSet == Set(s"v3-$fpLive-i1-k16",
      s"v3-$fpA-i0-k256", s"v3-$fpB-i1-k16"))
  }

  test("expire_indexes: unrecognized dir shapes form their OWN " +
    "generation (review r17 — the lane strip is anchored to " +
    "v<ver>-<32-hex>)") {
    // a bare `-[a-z]+$` strip would collapse data-alpha/data-beta into
    // one 'data' unit and keep_last_n=1 would then keep BOTH; anchored,
    // they are two units and the older one sweeps
    val root = Files.createTempDirectory(Paths.get("target"), "gen-anchor")
      .toAbsolutePath.toString
    val st = graft.core.Storage.hadoop
    def put(name: String, ageMs: Long): Unit = {
      st.mkdirs(s"$root/$name")
      st.writeString(s"$root/$name/centroids.tsv", "x\n")
      Files.setLastModifiedTime(Paths.get(root, name, "centroids.tsv"),
        java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - ageMs))
    }
    val fpLive = "f" * 32
    put(s"v1-$fpLive-k8", 0L)
    put("data-alpha", 3 * 3600L * 1000L)
    put("data-beta", 2 * 3600L * 1000L)
    val swept = graft.operators.IndexRetention
      .sweep(st, root, "mm", Set(fpLive), Some(1), None)
    assert(swept.map(_.name).toSet == Set("data-alpha"),
      s"only the older unrecognized unit sweeps: ${swept.map(_.name)}")
    assert(st.listDirNames(root).toSet ==
      Set(s"v1-$fpLive-k8", "data-beta"))
  }

  test("expire_indexes: stale fingerprints swept, live + lock-held survive, bounds compose") {
    val dir = "/root/testdata/sf0.001"
    val st = graft.core.Storage.hadoop
    val lexRoot = Files.createTempDirectory(Paths.get("target"), "lex-exp")
      .toAbsolutePath.toString
    // all four roots isolated: the 'all' sweep below must not reach the
    // default roots other suites share
    val rootProps = Seq("graft.lexindex.root", "graft.ivf.root",
      "graft.dupindex.root", "graft.mmivf.root")
    val prevProps = rootProps.map(k => k -> sys.props.get(k)).toMap
    sys.props("graft.lexindex.root") = lexRoot
    sys.props("graft.ivf.root") = Files
      .createTempDirectory(Paths.get("target"), "ivf-exp").toString
    sys.props("graft.dupindex.root") = Files
      .createTempDirectory(Paths.get("target"), "dup-exp").toString
    sys.props("graft.mmivf.root") = Files
      .createTempDirectory(Paths.get("target"), "mm-exp").toString
    try {
      // live index for the CURRENT corpus fingerprint
      graft.operators.LexIndex.build(spark, dir)
      val live = st.listDirNames(lexRoot)
      assert(live.size == 1, s"one live dir expected: $live")
      // three superseded fingerprints (fabricated: the sweeper keys on dir
      // names + mtimes, exactly what a dead corpus state leaves behind),
      // with distinct publish times for the keep_last_n ordering, plus one
      // whose build lock is held (an in-flight JVM)
      def fakeIdx(name: String, ageMs: Long): Unit = {
        st.mkdirs(s"$lexRoot/$name")
        st.writeString(s"$lexRoot/$name/meta.tsv", "nDocsAll\t1\n")
        val t = java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - ageMs)
        Files.setLastModifiedTime(Paths.get(lexRoot, name, "meta.tsv"), t)
      }
      fakeIdx("v1-aaaa0001-b64", 3 * 3600L * 1000L)
      fakeIdx("v1-aaaa0002-b64", 2 * 3600L * 1000L)
      fakeIdx("v1-aaaa0003-b64", 1 * 3600L * 1000L)
      fakeIdx("v1-cccc0001-b64", 4 * 3600L * 1000L)
      st.writeString(s"$lexRoot/v1-cccc0001-b64.lock", "held")
      spark.conf.set("spark.sql.catalog.graftei",
        classOf[graft.core.GraftCatalog].getName)
      spark.conf.set("spark.sql.catalog.graftei.root",
        Files.createTempDirectory(Paths.get("target"), "ei-acc").toString)
      // a SECOND corpus sharing this root: its live index must survive any
      // sweep that lists it in corpus_dirs (the multi-corpus contract)
      val rootB = Files.createTempDirectory("graft-lexexp-b").toString
      graft.core.Tables.documents(spark, dir).where(col("doc_id") < 100)
        .write.parquet(s"$rootB/documents.parquet")
      graft.operators.LexIndex.build(spark, rootB)
      val liveB = (st.listDirNames(lexRoot).toSet -- live.toSet)
        .filterNot(n => n.startsWith("v1-aaaa") || n.startsWith("v1-cccc"))
      assert(liveB.size == 1, s"corpus B must have one live dir: $liveB")
      // both bounds: outside newest 1 AND older than 90 minutes — only the
      // two oldest unlocked stale dirs qualify
      val cutoff = System.currentTimeMillis() - 90L * 60L * 1000L
      val swept = spark.sql(
        s"CALL graftei.system.expire_indexes(kind => 'lex', " +
          s"corpus_dirs => '$dir,$rootB', keep_last_n => 1, " +
          s"older_than_ms => ${cutoff}L)").collect()
      assert(swept.map(_.getString(1)).toSet ==
        Set("v1-aaaa0001-b64", "v1-aaaa0002-b64"), swept.mkString(", "))
      assert(swept.forall(r => r.getString(0) == "lex" && r.getLong(3) >= 1L))
      // an abandoned UNLOCKED staging dir (newest mtime) must never occupy
      // a keep_last_n slot: with keep 1 the newest REAL superseded dir
      // survives and only the staging garbage sweeps
      fakeIdx("v1-aaaa0009-b64.tmp-dead1234", 0L)
      val keep1 = spark.sql(
        s"CALL graftei.system.expire_indexes('lex', '$dir,$rootB', 1)")
        .collect()
      assert(keep1.map(_.getString(1)).toSeq ==
        Seq("v1-aaaa0009-b64.tmp-dead1234"),
        s"staging garbage must sweep without costing the keep slot: " +
          keep1.mkString(", "))
      assert(st.listDirNames(lexRoot).contains("v1-aaaa0003-b64"),
        "the newest real superseded dir must hold the keep slot")
      // a crashed LIVE-corpus build's unlocked staging dir is dead garbage
      // (publish is a rename — a completed build never keeps its staging
      // name), so the live-fingerprint filter must not shelter it
      fakeIdx(s"${live.head}.tmp-beef5678", 0L)
      val liveTmp = spark.sql(
        s"CALL graftei.system.expire_indexes('lex', '$dir,$rootB', 1)")
        .collect()
      assert(liveTmp.map(_.getString(1)).toSeq ==
        Seq(s"${live.head}.tmp-beef5678"), liveTmp.mkString(", "))
      // a nonexistent corpus path would fingerprint as the constant
      // empty hash and protect nothing — it must refuse loudly instead
      val errNx = intercept[Exception](spark.sql(
        s"CALL graftei.system.expire_indexes('lex', " +
          s"'$dir,$lexRoot/no-such-corpus', 0)")).getMessage
      assert(errNx.contains("corpus not found"), errNx)
      // keep_last_n 0 finishes the sweep; live (BOTH corpora) + locked
      // never touched
      val rest = spark.sql(
        s"CALL graftei.system.expire_indexes('lex', '$dir,$rootB', 0)")
        .collect()
      assert(rest.map(_.getString(1)).toSeq == Seq("v1-aaaa0003-b64"))
      val remaining = st.listDirNames(lexRoot).toSet
      assert(remaining == live.toSet ++ liveB + "v1-cccc0001-b64",
        s"live (both corpora) + lock-held must survive: $remaining")
      // the live indexes still serve after the sweep (fresh session: the
      // durable load path, not the memo)
      val s2 = spark.newSession()
      assert(graft.operators.LexIndex.build(s2, dir).nDocsAll == 500L)
      assert(graft.operators.LexIndex.build(s2, rootB).nDocsAll == 100L)
      // no bounds set → loud refusal, nothing swept
      val err = intercept[Exception](spark.sql(
        s"CALL graftei.system.expire_indexes('lex', '$dir')")).getMessage
      assert(err.contains("keep_last_n"), err)
      // unknown kind → loud refusal
      val err2 = intercept[Exception](spark.sql(
        s"CALL graftei.system.expire_indexes('nope', '$dir', 0)")).getMessage
      assert(err2.contains("unknown kind"), err2)
      // 'all' over the other (empty) roots composes without error — both
      // corpora listed, or the sweep would rightly take B's live index
      assert(spark.sql(
        s"CALL graftei.system.expire_indexes('all', '$dir,$rootB', 0)")
        .collect().isEmpty)
    } finally {
      rootProps.foreach { k =>
        prevProps(k) match {
          case Some(p) => sys.props(k) = p
          case None    => sys.props.remove(k)
        }
      }
    }
  }
}
