package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ContainerProps, FileAccount}
import graft.Orchestrator.{Config, migrate}

/** M6 catalog-orchestration tests: account/database/container enumeration
  * and creation (A17-A21), connection probe (A22), pk alignment abort (A16),
  * scoping rules (A26), counters + verification (A15/A23/B5), summary file
  * (A25), sanitize flag (A14/B3), and the FIXTURES.md §2.4 idempotence
  * invariant at the whole-account level.
  */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, "catalog-spec")

  private def newAccount(prefix: String): FileAccount = {
    val root = Files.createTempDirectory(Paths.get("target"), prefix)
    FileAccount(root.toString)
  }

  private def seedContainer(acc: FileAccount, db: String, c: String,
                            pk: Seq[String], docs: Seq[String]): Unit = {
    acc.createDatabaseIfAbsent(db)
    acc.createContainerIfAbsent(db, c, ContainerProps(pk))
    Files.createDirectories(Paths.get(acc.root, db, c, "data"))
    Files.writeString(Paths.get(acc.root, db, c, "data", "part-0.json"),
      docs.mkString("\n"))
  }

  private def freshSource(): FileAccount = {
    val src = newAccount("cat-src")
    seedContainer(src, "hr", "employees", Seq("/department"), Seq(
      """{"id":"e1","department":"eng","email":"a@real.com","level":3,"_etag":"x1","_ts":1}""",
      """{"id":"e2","department":"eng","email":"b@real.com","level":4,"_etag":"x2","_ts":2}""",
      """{"id":"e3","department":"ops","email":"c@real.com","level":5,"_etag":"x3","_ts":3}""",
      """{"department":"ops","email":"noid@real.com","level":9}"""))  // error row
    seedContainer(src, "hr", "teams", Seq("/id"), Seq(
      """{"id":"t1","size":5}""", """{"id":"t2","size":7}"""))
    seedContainer(src, "fin", "accounts", Seq("/owner/region"), Seq(
      """{"id":"a1","owner":{"region":"emea"},"balance":10.5}""",
      """{"id":"a2","owner":{"region":"apac"},"balance":20.5}"""))
    src
  }

  test("CLI run(): args parse, exit codes, summary file, idempotent rerun (A28)") {
    spark.sparkContext // ensure the shared local session exists for run()
    val src = freshSource()
    val tgt = newAccount("cat-cli-t")
    val summary = Files.createTempFile(Paths.get("target"), "cli-sum", ".json")
    val code = Orchestrator.run(Array(
      src.root, tgt.root, "--database", "hr", "--summary", summary.toString))
    assert(code == 0)
    val js = Files.readString(summary)
    assert(js.contains("\"ok\": true") && js.contains("\"container\": \"employees\""))
    assert(!js.contains("\"database\": \"fin\""), "--database must scope the run")
    // rerun: everything already migrated -> all skipped, still exit 0
    assert(Orchestrator.run(Array(src.root, tgt.root, "--database", "hr",
      "--summary", summary.toString)) == 0)
    assert(Files.readString(summary).contains("\"inserted\": 0"))
    // --container without --database (main.py:109-110) and bad paths -> 1
    assert(Orchestrator.run(Array(src.root, tgt.root, "--container", "x")) == 1)
    assert(Orchestrator.run(Array("target/nope-src", tgt.root)) == 1)
    // malformed arguments -> 1 with the usage line on stderr, no exception
    for (bad <- Seq(
        Array(src.root, tgt.root, "--database"),
        Array(src.root, tgt.root, "--max-errors", "x"),
        Array(src.root, tgt.root, "--parallelism", "two"),
        Array(src.root))) {
      val err = new java.io.ByteArrayOutputStream
      val saved = System.err
      System.setErr(new java.io.PrintStream(err, true))
      val code = try Orchestrator.run(bad) finally System.setErr(saved)
      assert(code == 1, s"${bad.toSeq} must exit 1")
      val usage = err.toString.linesIterator.find(_.startsWith("usage: "))
      assert(usage.exists(u => u.contains("--max-errors") && u.contains("--parallelism")),
        s"${bad.toSeq} must print the usage line, got: $err")
    }
  }

  test("summary file escapes database and container names") {
    val summary = Files.createTempFile(Paths.get("target"), "esc-sum", ".json")
    Orchestrator.writeSummary(Orchestrator.Summary(Seq(
      Orchestrator.ContainerResult("d\\b", "a\"b", 1, 0, 0, 0, 1, 1,
        verified = true)), 1.0), summary.toString)
    val js = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(summary.toFile)
    val c = js.get("containers").get(0)
    assert(c.get("database").asText == "d\\b" && c.get("container").asText == "a\"b")
    assert(js.get("ok").asBoolean)
  }

  test("catalog enumeration and idempotent creation (A17-A21)") {
    val src = freshSource()
    assert(src.listDatabases() == Seq("fin", "hr"))
    assert(src.listContainers("hr") == Seq("employees", "teams"))
    assert(src.containerProperties("hr", "employees").pkPaths == Seq("/department"))
    assert(src.containerProperties("fin", "accounts").pkPaths == Seq("/owner/region"))
    // fallback to /id when metadata absent (containers.py:38-44)
    assert(src.containerProperties("hr", "nonexistent").pkPaths == Seq("/id"))
    // create-if-absent keeps existing metadata
    src.createContainerIfAbsent("hr", "employees", ContainerProps(Seq("/other")))
    assert(src.containerProperties("hr", "employees").pkPaths == Seq("/department"))
  }

  test("connection probe fails on a missing account root (A22)") {
    assert(!FileAccount("target/does-not-exist-xyz").testConnection())
    val err = intercept[IllegalArgumentException] {
      migrate(spark, FileAccount("target/does-not-exist-xyz"), newAccount("cat-t"))
    }
    assert(err.getMessage.contains("unreachable"))
  }

  test("full-account migration: counters, verification, idempotence") {
    val src = freshSource()
    val tgt = newAccount("cat-tgt")
    val first = migrate(spark, src, tgt)
    assert(first.ok, s"verification failed: ${first.results}")
    assert(first.results.size == 3)
    val emp = first.results.find(_.container == "employees").get
    assert(emp.inserted == 3 && emp.errors == 1 && emp.updated == 0)
    // target now mirrors the catalog
    assert(tgt.listDatabases() == Seq("fin", "hr"))
    assert(tgt.containerProperties("fin", "accounts").pkPaths == Seq("/owner/region"))
    // second run: nothing inserted/updated — the reference's implicit
    // contract (A10/A12, FIXTURES.md §2.4)
    val second = migrate(spark, src, tgt)
    assert(second.ok)
    assert(second.results.forall(r => r.inserted == 0 && r.updated == 0))
    assert(second.results.find(_.container == "employees").get.skipped == 3)
  }

  test("changed source docs become updates; target-only docs survive") {
    val src = freshSource()
    val tgt = newAccount("cat-tgt2")
    migrate(spark, src, tgt)
    // mutate one source doc + add a target-only doc
    Files.writeString(Paths.get(src.root, "hr", "teams", "data", "part-0.json"),
      Seq("""{"id":"t1","size":6}""", """{"id":"t2","size":7}""").mkString("\n"))
    val extra = Paths.get(tgt.root, "hr", "teams", "data", "zz-extra.json")
    Files.writeString(extra, """{"id":"t9","size":99}""")
    val run = migrate(spark, src, tgt,
      Config(scopeDatabase = Some("hr"), scopeContainer = Some("teams")))
    val teams = run.results.head
    assert(teams.updated == 1 && teams.skipped == 1 && teams.inserted == 0)
    assert(teams.targetCount == 3, "target-only doc must survive the merge")
    assert(run.ok)
  }

  test("incremental merge: pruned target read, identical state and counters") {
    val src = freshSource()
    val tgtFull = newAccount("cat-inc-f")
    val tgtInc = newAccount("cat-inc-i")
    migrate(spark, src, tgtFull)
    migrate(spark, src, tgtInc)
    // delta: one employee's level changes; everything else is unchanged
    Files.writeString(Paths.get(src.root, "hr", "employees", "data", "part-0.json"), Seq(
      """{"id":"e1","department":"eng","email":"a@real.com","level":3,"_etag":"x1","_ts":1}""",
      """{"id":"e2","department":"eng","email":"b@real.com","level":44,"_etag":"x2","_ts":2}""",
      """{"id":"e3","department":"ops","email":"c@real.com","level":5,"_etag":"x3","_ts":3}""",
      """{"department":"ops","email":"noid@real.com","level":9}""").mkString("\n"))
    val full = migrate(spark, src, tgtFull, Config(incremental = Some(false)))
    val inc = migrate(spark, src, tgtInc, Config(incremental = Some(true)))
    assert(full.ok && inc.ok, s"full=$full inc=$inc")
    def key(r: Orchestrator.ContainerResult) =
      (r.database, r.container, r.inserted, r.updated, r.skipped, r.errors,
        r.sourceCount, r.targetCount, r.verified)
    assert(inc.results.map(key).sortBy(_.toString) ==
      full.results.map(key).sortBy(_.toString),
      "incremental and full mode must report identical counters")
    val emp = inc.results.find(_.container == "employees").get
    assert(emp.updated == 1 && emp.skipped == 2 && emp.inserted == 0 && emp.errors == 1)
    for (db <- Seq("hr", "fin"); c <- tgtInc.listContainers(db)) {
      val a = tgtFull.read(spark, db, c).collect().map(_.toString).sorted.toSeq
      val b = tgtInc.read(spark, db, c).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"$db/$c state must not depend on merge mode")
    }
    // the pruned read itself: only the delta key's bucket directories (and
    // no full-container listing) back the incremental target side
    graft.functions.GraftFunctions.register(spark)
    val keys = spark.range(1).selectExpr("'e2' AS __id", "'eng' AS __pk0")
    val (pruned, buckets) = tgtInc.readRawBucketsFor(
      spark, "hr", "employees", keys, Seq("__id", "__pk0"))
    assert(buckets.size == 1)
    assert(pruned.inputFiles.nonEmpty && pruned.inputFiles.forall(f =>
      buckets.exists(b => f.contains(s"b=$b"))),
      s"pruned read must stay inside affected bucket dirs: ${pruned.inputFiles.toSeq}")
  }

  /** Total bytes read by Spark tasks while `body` runs (input metrics off the
    * listener bus; polled until the async bus drains). */
  private def measuredBytesRead(body: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) bytes.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(l)
    def stable(): Long = {
      var prev = -1L; var cur = bytes.get; var i = 0
      while (prev != cur && i < 50) { Thread.sleep(200); prev = cur; cur = bytes.get; i += 1 }
      cur
    }
    try {
      // the async listener bus may still be delivering queued events from
      // PRIOR jobs — drain them into a baseline before running the body
      val base = stable()
      body
      stable() - base
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("incremental verification is O(delta): no full-container scan, sidecar counts") {
    // the CLI test (Orchestrator.run -> Sessions.local(32)) retunes the
    // shared session's shuffle partitions; pin them so the byte measurement
    // below is deterministic regardless of test order
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    // a 4000-doc target over 128 buckets; the delta run touches ≤4 of them
    val pad = "x" * 100
    val bigDocs = (0 until 4000).map(i => s"""{"id":"d$i","v":$i,"pad":"$pad"}""")
    val bigSrc = newAccount("cat-odelta-src")
    seedContainer(bigSrc, "db", "c", Seq("/id"), bigDocs)
    Files.writeString(Paths.get(bigSrc.root, "db", "c", "_meta.json"),
      """{"pk": ["/id"], "buckets": 128}""")
    val tgt = newAccount("cat-odelta-tgt")
    val seeded = migrate(spark, bigSrc, tgt).results.head
    assert(seeded.verified && seeded.verifyMode == "full" && seeded.inserted == 4000)
    val tgtBytes = tgt.dataBytes("db", "c")

    // delta source: 2 updates, 1 identical doc (skip), 1 new doc (insert)
    val deltaSrc = newAccount("cat-odelta-delta")
    seedContainer(deltaSrc, "db", "c", Seq("/id"), Seq(
      s"""{"id":"d10","v":-10,"pad":"$pad"}""",
      s"""{"id":"d20","v":-20,"pad":"$pad"}""",
      s"""{"id":"d30","v":30,"pad":"$pad"}""",
      s"""{"id":"new1","v":1,"pad":"$pad"}"""))
    var inc: Orchestrator.ContainerResult = null
    val bytesRead = measuredBytesRead {
      inc = migrate(spark, deltaSrc, tgt, Config(incremental = Some(true))).results.head
    }
    info(s"incremental run bytesRead=$bytesRead tgtBytes=$tgtBytes ratio=${bytesRead.toDouble / tgtBytes}")
    assert(inc.verified && inc.verifyMode == "incremental", inc.toString)
    assert(inc.updated == 2 && inc.inserted == 1 && inc.skipped == 1, inc.toString)
    assert(inc.targetCount == 4001, "sidecar count must reflect the merged total")
    // the old code's two full-container line counts alone would read
    // 2 × tgtBytes; the whole O(delta) run — delta + a handful of affected
    // buckets, several passes — must stay well under one container scan
    assert(bytesRead < (tgtBytes * 0.6).toLong,
      s"incremental run read $bytesRead bytes vs target $tgtBytes — full scan detected")

    // sidecar self-heals: an external write to a bucket invalidates that
    // bucket's listing signature and only that bucket is recounted
    val someBucket = Files.list(Paths.get(tgt.root, "db", "c", "data"))
      .iterator().asScala.filter(Files.isDirectory(_))
      .filter(_.getFileName.toString.startsWith("b=")).toSeq.head
    Files.writeString(someBucket.resolve("external.txt"),
      s"""{"id":"ext1","v":0,"pad":"$pad"}""")
    val healBytes = measuredBytesRead {
      assert(tgt.countRows(spark, "db", "c") == 4002)
    }
    assert(healBytes < (tgtBytes * 0.2).toLong,
      s"self-heal recount must scan only the tampered bucket, read $healBytes")
    // healed: a second count is metadata-only (sidecar repaired)
    assert(tgt.countRows(spark, "db", "c") == 4002)
  }

  test("duplicate merge keys in the target fail verification safely, never silently") {
    // the reference's data model cannot hold two documents with one (id, pk)
    // — Cosmos enforces uniqueness — so a duplicate-key target is container
    // corruption by an external writer. The merge must COMPLETE (no crash)
    // and report verified=false rather than silently blessing the state.
    val src = newAccount("cat-dup-src")
    seedContainer(src, "db", "c", Seq("/pk"), Seq(
      """{"id":"k1","pk":"p","v":1}""",
      """{"id":"k2","pk":"p","v":2}"""))
    for (mode <- Seq(Some(false), Some(true))) {
      val tgt = newAccount(s"cat-dup-tgt-$mode")
      assert(migrate(spark, src, tgt).ok)
      // corrupt the container: a second row for k1 via an external write
      Files.writeString(Paths.get(tgt.root, "db", "c", "data", "zz-dup.json"),
        """{"id":"k1","pk":"p","v":999}""")
      val r = migrate(spark, src, tgt, Config(incremental = mode)).results.head
      assert(!r.verified,
        s"duplicate-key container must not verify (incremental=$mode): $r")
      // the upsert collapses rows by merge key, so the flagged run also
      // HEALED the container: a rerun converges to a verified clean state
      val healed = migrate(spark, src, tgt, Config(incremental = mode)).results.head
      assert(healed.verified && healed.targetCount == 2,
        s"rerun after the flagged merge must verify clean (incremental=$mode): $healed")
      val k1 = tgt.readRaw(spark, "db", "c").collect().map(_.getString(0))
        .filter(_.contains("\"id\":\"k1\""))
      assert(k1.length == 1, s"duplicate must have collapsed: ${k1.toSeq}")
    }
  }

  test("two identical copies of one target document never verify silently") {
    // both copies classify as skip; the run must still collapse them and
    // report verified=false, and the rerun verifies with one copy left
    val src = newAccount("cat-dupcopy-src")
    seedContainer(src, "db", "c", Seq("/pk"), Seq(
      """{"id":"k1","pk":"p","v":1}""",
      """{"id":"k2","pk":"p","v":2}"""))
    for (mode <- Seq(Some(false), Some(true))) {
      val tgt = newAccount(s"cat-dupcopy-tgt-$mode")
      assert(migrate(spark, src, tgt).ok)
      val k1File = Files.walk(Paths.get(tgt.root, "db", "c", "data")).iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .find(f => Files.readString(f).contains("\"id\":\"k1\"")).get
      // an external writer lands a second, identical copy in k1's bucket dir
      Files.writeString(k1File.resolveSibling("zz-copy.txt"),
        """{"id":"k1","pk":"p","v":1}""" + "\n")
      val r = migrate(spark, src, tgt, Config(incremental = mode)).results.head
      assert(r.skipped >= 2 && r.inserted == 0 && !r.verified,
        s"two copies of one key must not verify (incremental=$mode): $r")
      val healed = migrate(spark, src, tgt, Config(incremental = mode)).results.head
      assert(healed.verified && healed.targetCount == 2,
        s"the rerun must verify clean (incremental=$mode): $healed")
      val k1 = tgt.readRaw(spark, "db", "c").collect().map(_.getString(0))
        .filter(_.contains("\"id\":\"k1\""))
      assert(k1.toSeq == Seq("""{"id":"k1","pk":"p","v":1}"""),
        s"one copy must be left (incremental=$mode): ${k1.toSeq}")
    }
  }

  /** Call sites (long form) of every Spark job `body` starts: the SQL
    * execution's site when the job belongs to one, plus its stages'. */
  private def jobSites(body: => Unit): Seq[String] = {
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execSite.put(s.executionId, s.details)
          case _ =>
        }
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(x => Option(execSite.get(x.toLong)))
        sites.add((exec.toSeq ++ e.stageInfos.map(_.details)).mkString("\n"))
      }
    }
    spark.sparkContext.addSparkListener(l)
    def settle(): Unit = {
      var prev = -1; var i = 0
      while (prev != sites.size && i < 50) { prev = sites.size; Thread.sleep(200); i += 1 }
    }
    try { settle(); sites.clear(); body; settle(); sites.asScala.toSeq }
    finally spark.sparkContext.removeSparkListener(l)
  }

  test("an all-skip rerun starts no sink job and writes nothing") {
    val src = freshSource()
    for (mode <- Seq(Some(false), Some(true))) {
      val tgt = newAccount(s"cat-rerun-$mode")
      assert(migrate(spark, src, tgt).ok)
      val data = Paths.get(tgt.root, "hr", "employees", "data")
      def listing(): Map[String, (Long, Long)] =
        Files.walk(data).iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => data.relativize(f).toString ->
            (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      val before = listing()
      var r: Orchestrator.ContainerResult = null
      val sites = jobSites {
        r = migrate(spark, src, tgt, Config(scopeDatabase = Some("hr"),
          scopeContainer = Some("employees"), incremental = mode)).results.head
      }
      assert(r.verified && r.skipped == 3 && r.inserted + r.updated == 0, r.toString)
      assert(sites.exists(_.contains("migrateContainer")),
        s"the listener must see the run's jobs: $sites")
      assert(!sites.exists(_.contains("upsertRaw")),
        s"an all-skip rerun must start no sink job (incremental=$mode)")
      assert(listing() == before, s"an all-skip rerun must write nothing (incremental=$mode)")
    }
    // the listener does see sink jobs when there is something to write
    val tgt = newAccount("cat-rerun-write")
    assert(jobSites(assert(migrate(spark, src, tgt).ok)).exists(_.contains("upsertRaw")))
  }

  /** The visible lines of a container's dead-letter channel. */
  private def deadLines(acc: FileAccount, db: String, c: String): Seq[String] = {
    val dir = Paths.get(acc.errorsPath(db, c))
    if (!Files.isDirectory(dir)) Nil
    else Files.list(dir).iterator().asScala.toSeq
      .filterNot(p => Seq("_", ".").exists(p.getFileName.toString.startsWith))
      .flatMap(p => Files.readAllLines(p).asScala)
  }

  /** A 16-bucket target of 64 documents plus one dead-lettered line, and a
    * delta source: 3 updates, 2 inserts and the given invalid lines. */
  private def seededDelta(name: String, invalid: Seq[String]): (FileAccount, FileAccount) = {
    val seed = newAccount(s"$name-seed")
    seedContainer(seed, "db", "c", Seq("/id"),
      (0 until 64).map(i => s"""{"id":"d$i","v":$i}""") :+ "seed-dead")
    val tgt = newAccount(s"$name-tgt")
    assert(migrate(spark, seed, tgt).ok)
    assert(deadLines(tgt, "db", "c") == Seq("seed-dead"))
    val src = newAccount(s"$name-src")
    seedContainer(src, "db", "c", Seq("/id"),
      Seq("""{"id":"d1","v":-1}""", """{"id":"d2","v":-2}""", """{"id":"d3","v":-3}""",
        """{"id":"n1","v":1}""", """{"id":"n2","v":2}""") ++ invalid)
    (src, tgt)
  }

  test("an incremental migrate runs at most 8 Spark jobs and dead-letters without a write job") {
    val invalid = Seq("""{"id":"bad", truncated""", """{"v":"no id"}""")
    val (src, tgt) = seededDelta("cat-jobs", invalid)
    var r: Orchestrator.ContainerResult = null
    val sites = jobSites {
      r = migrate(spark, src, tgt, Config(incremental = Some(true))).results.head
    }
    assert(r.verified && r.verifyMode == "incremental" && r.errors == 2 &&
      r.updated == 3 && r.inserted == 2, r.toString)
    assert(sites.nonEmpty && sites.size <= 8,
      s"a migrate call runs at most 8 jobs, got ${sites.size}:\n${sites.mkString("\n---\n")}")
    // the sink's bucket write is the call's only write job
    val writes = sites.filter(_.contains("DataFrameWriter"))
    assert(writes.size == 1 && writes.forall(_.contains("upsertRaw")),
      s"the dead-letter must start no write job: $writes")
    // the channel holds exactly this run's invalid lines (overwrite mode)
    assert(deadLines(tgt, "db", "c").sorted == invalid.sorted)
  }

  test("dead-letters past the inline bound land every line through the write job") {
    // more invalid lines than the tally carries, and one line over its
    // byte cap: each run falls back to the text write and loses nothing
    for (invalid <- Seq((0 until 300).map(i => s"bad-$i"),
                        Seq("short-bad", "x" * (20 << 10)))) {
      val (src, tgt) = seededDelta("cat-deadcap", invalid)
      var r: Orchestrator.ContainerResult = null
      val sites = jobSites {
        r = migrate(spark, src, tgt, Config(incremental = Some(true))).results.head
      }
      assert(r.verified && r.errors == invalid.size, r.toString)
      assert(sites.exists(s => s.contains("DataFrameWriter") && !s.contains("upsertRaw")),
        "past the bound the dead-letter is a write job")
      assert(deadLines(tgt, "db", "c").sorted == invalid.sorted)
    }
  }

  test("an SQL INSERT of a corrupt line appends to the error channel and keeps its files") {
    val root = Files.createTempDirectory(Paths.get("target"), "sqlerr")
    spark.conf.set("spark.sql.catalog.grafterr", classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grafterr.root", root.toString)
    spark.sql("CREATE NAMESPACE grafterr.db")
    spark.sql("CREATE TABLE grafterr.db.c (raw STRING) TBLPROPERTIES ('pk'='/id')")
    val acc = FileAccount(root.toString)
    val dir = Paths.get(acc.errorsPath("db", "c"))
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("part-0.jsonl"), "prior-dead\n")
    spark.sql("""INSERT INTO grafterr.db.c VALUES ('{"id":"a","v":1}'), ('corrupt-1')""")
    spark.sql("""INSERT INTO grafterr.db.c VALUES ('corrupt-2')""")
    assert(Files.exists(dir.resolve("part-0.jsonl")), "the prior dead-letter file must stay")
    assert(deadLines(acc, "db", "c").sorted == Seq("corrupt-1", "corrupt-2", "prior-dead"))
    assert(spark.table("grafterr.db.c").count() == 1)
  }

  test("the CLI summary reports per-phase milliseconds after the existing fields") {
    spark.sparkContext
    val src = freshSource()
    val tgt = newAccount("cat-phase-t")
    val summary = Files.createTempFile(Paths.get("target"), "phase-sum", ".json")
    assert(Orchestrator.run(Array(src.root, tgt.root, "--summary", summary.toString)) == 0)
    val js = new com.fasterxml.jackson.databind.ObjectMapper().readTree(summary.toFile)
    val cs = js.get("containers").elements().asScala.toSeq
    assert(cs.size == 3)
    for (c <- cs) {
      assert(c.fieldNames().asScala.toSeq == Seq("database", "container", "inserted",
        "updated", "skipped", "errors", "source_count", "target_count", "verified",
        "verify_mode", "phase_ms"), c.toString)
      val ph = c.get("phase_ms")
      assert(ph.fieldNames().asScala.toSeq ==
        Seq("key", "classify_tally", "deadletter", "sink", "verify"), ph.toString)
      assert(ph.elements().asScala.forall(v => v.isNumber && v.asDouble >= 0), ph.toString)
    }
  }

  test("duplicate merge keys in the source merge ONE document, from the last file") {
    // two lines for one (id, pk) in two source files: Cosmos could never
    // hold both, so the merge keeps the lexicographically last file's line
    // and the run verifies; the counters count merged keys, sourceCount
    // every line read
    val src = newAccount("cat-sdup-src")
    seedContainer(src, "db", "c", Seq("/pk"), Seq(
      """{"id":"k1","pk":"p","v":1}""", """{"id":"k2","pk":"p","v":2}"""))
    Files.writeString(Paths.get(src.root, "db", "c", "data", "part-1.json"),
      """{"id":"k1","pk":"p","v":3}""")
    val seed = newAccount("cat-sdup-seed")
    seedContainer(seed, "db", "c", Seq("/pk"), Seq("""{"id":"k1","pk":"p","v":0}"""))
    for (mode <- Seq(Some(false), Some(true)); seeded <- Seq(false, true)) {
      val tgt = newAccount(s"cat-sdup-tgt-$mode-$seeded")
      if (seeded) assert(migrate(spark, seed, tgt).ok)
      val r = migrate(spark, src, tgt, Config(incremental = mode)).results.head
      val what = s"(incremental=$mode, seeded=$seeded): $r"
      assert(r.verified, s"the merged state must verify $what")
      assert(r.sourceCount == 3 && r.errors == 0, what)
      assert(r.inserted + r.updated == 2 && r.updated == (if (seeded) 1 else 0), what)
      val k1 = tgt.readRaw(spark, "db", "c").collect().map(_.getString(0))
        .filter(_.contains("\"id\":\"k1\""))
      assert(k1.length == 1 && k1.head.contains("\"v\":3"),
        s"exactly the last file's k1 must land $what: ${k1.toSeq}")
      val again = migrate(spark, src, tgt, Config(incremental = mode)).results.head
      assert(again.verified && again.inserted == 0 && again.updated == 0,
        s"a rerun must be all skips $what: $again")
    }
  }

  test("parallel container migration matches the serial result (A26 at scale)") {
    val src = freshSource()
    val serial = migrate(spark, src, newAccount("cat-par-s"))
    val parallel = migrate(spark, src, newAccount("cat-par-p"), Config(parallelism = 3))
    assert(parallel.ok)
    def key(r: Orchestrator.ContainerResult) =
      (r.database, r.container, r.inserted, r.updated, r.skipped, r.errors,
        r.sourceCount, r.targetCount, r.verified)
    assert(parallel.results.map(key).sortBy(_.toString) ==
      serial.results.map(key).sortBy(_.toString))
  }

  test("hierarchical 2-path partition key end-to-end (migration.py:21-39)") {
    val src = newAccount("cat-hpk-src")
    seedContainer(src, "db", "c", Seq("/tenant", "/owner/region"), Seq(
      """{"id":"h1","tenant":"t1","owner":{"region":"emea"},"v":1}""",
      """{"id":"h2","tenant":"t1","owner":{"region":"apac"},"v":2}""",
      """{"id":"h3","tenant":"t2","owner":{"region":"emea"},"v":3}""",
      """{"id":"h4","tenant":"t1","v":4}"""))  // error: second pk path missing
    val tgt = newAccount("cat-hpk-tgt")
    assert(src.containerProperties("db", "c").pkPaths == Seq("/tenant", "/owner/region"))
    val r1 = migrate(spark, src, tgt).results.head
    assert(r1.inserted == 3 && r1.errors == 1 && r1.verified, r1.toString)
    // reference injection (migration.py:112-114): the literal path string of
    // the HIERARCHICAL component becomes a top-level key; the flat component
    // is already present and must NOT be duplicated
    val landed = tgt.readRaw(spark, "db", "c").collect().map(_.getString(0))
    assert(landed.count(_.contains(""""owner/region":""")) == 3, landed.mkString("\n"))
    // idempotence across the composite key: the injected write form must
    // re-key (and re-bucket) identically on the second run
    val r2 = migrate(spark, src, tgt).results.head
    assert(r2.skipped == 3 && r2.inserted == 0 && r2.updated == 0, r2.toString)
    // a delta on one composite key flows as exactly one update — also in
    // incremental (bucket-pruned) mode
    Files.writeString(Paths.get(src.root, "db", "c", "data", "part-0.json"), Seq(
      """{"id":"h1","tenant":"t1","owner":{"region":"emea"},"v":1}""",
      """{"id":"h2","tenant":"t1","owner":{"region":"apac"},"v":22}""",
      """{"id":"h3","tenant":"t2","owner":{"region":"emea"},"v":3}""",
      """{"id":"h4","tenant":"t1","v":4}""").mkString("\n"))
    val r3 = migrate(spark, src, tgt,
      Config(incremental = Some(true))).results.head
    assert(r3.updated == 1 && r3.skipped == 2 && r3.verified, r3.toString)
    // alignment assert covers every path component (A16)
    val tgt2 = newAccount("cat-hpk-tgt2")
    tgt2.createDatabaseIfAbsent("db")
    tgt2.createContainerIfAbsent("db", "c",
      graft.core.ContainerProps(Seq("/tenant", "/region")))
    val err = intercept[IllegalArgumentException] {
      migrate(spark, src, tgt2)
    }
    assert(err.getMessage.contains("partition key mismatch"))
  }

  test("scoping: --container requires --database (A26)") {
    val err = intercept[IllegalArgumentException] {
      migrate(spark, freshSource(), newAccount("cat-t"),
        Config(scopeContainer = Some("employees")))
    }
    assert(err.getMessage.contains("requires"))
  }

  test("pk misalignment aborts the container (A16)") {
    val src = freshSource()
    val tgt = newAccount("cat-tgt3")
    tgt.createDatabaseIfAbsent("hr")
    tgt.createContainerIfAbsent("hr", "employees", ContainerProps(Seq("/id")))
    val err = intercept[IllegalArgumentException] {
      migrate(spark, src, tgt, Config(scopeDatabase = Some("hr"),
        scopeContainer = Some("employees")))
    }
    assert(err.getMessage.contains("partition key mismatch"))
  }

  test("sanitize masks PII in the landed target (A14, B3 fix)") {
    val src = freshSource()
    val tgt = newAccount("cat-tgt4")
    migrate(spark, src, tgt, Config(scopeDatabase = Some("hr"),
      scopeContainer = Some("employees"), sanitize = true))
    val landed = tgt.read(spark, "hr", "employees")
    val emails = landed.select("email").collect().map(_.getString(0)).toSeq
    assert(emails.forall(_.endsWith("@masked.example")), s"unmasked: $emails")
    // non-PII fields untouched
    assert(landed.filter(col("id") === "e1").head.getAs[Long]("level") == 3L)
  }

  test("container metadata replicates verbatim: indexing policy, throughput (A20/A21)") {
    val src = newAccount("cat-meta-src")
    src.createDatabaseIfAbsent("db")
    Files.createDirectories(Paths.get(src.root, "db", "c"))
    // indexing-policy paths are '/'-prefixed too — they must NOT leak into
    // the parsed pk list, and the whole blob must survive byte-for-byte
    val meta = """{"pk": ["/tenant"], "buckets": 8, """ +
      """"indexing_policy": {"includedPaths": ["/*"], "excludedPaths": ["/blob/?"]}, """ +
      """"throughput": 400}"""
    Files.writeString(Paths.get(src.root, "db", "c", "_meta.json"), meta)
    Files.createDirectories(Paths.get(src.root, "db", "c", "data"))
    Files.writeString(Paths.get(src.root, "db", "c", "data", "p0.json"),
      """{"id":"x","tenant":"t1"}""")
    val props = src.containerProperties("db", "c")
    assert(props.pkPaths == Seq("/tenant"), "indexing paths must not leak into pk")
    assert(props.buckets == 8)
    val tgt = newAccount("cat-meta-tgt")
    assert(migrate(spark, src, tgt).ok)
    assert(Files.readString(Paths.get(tgt.root, "db", "c", "_meta.json")) == meta,
      "metadata must replicate byte-for-byte")
  }

  test("corrupt documents land in the error channel, bounded by maxErrors (A13)") {
    val src = newAccount("cat-err-src")
    seedContainer(src, "db", "c", Seq("/id"), Seq(
      """{"id":"ok1","v":1}""",
      """{"id":"ok2","v":2}""",
      """{"id":"bad", truncated""",   // corrupt line
      "not json at all"))             // corrupt line
    val tgt = newAccount("cat-err-tgt")
    // corrupt lines complete the run (counted + dead-lettered), not a crash
    val run = migrate(spark, src, tgt)
    val r = run.results.head
    assert(r.errors == 2 && r.inserted == 2 && r.verified, r.toString)
    val dead = Paths.get(tgt.root, "db", "c", "_errors")
    assert(Files.isDirectory(dead), "error docs must be dead-lettered")
    // the same container aborts when the error budget is exceeded
    val tgt2 = newAccount("cat-err-tgt2")
    val err = intercept[IllegalArgumentException] {
      migrate(spark, src, tgt2, Config(maxErrors = 1))
    }
    assert(err.getMessage.contains("maxErrors"))
  }

  test("a maxErrors abort releases the cached classified frame") {
    val src = newAccount("cat-abort-src")
    seedContainer(src, "db", "c", Seq("/id"), Seq(
      """{"id":"ok1","v":1}""", """{"id":"bad", truncated""", "not json at all"))
    val tgt = newAccount("cat-abort-tgt")
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[IllegalArgumentException] {
      migrate(spark, src, tgt, Config(maxErrors = 1))
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "an aborted container run must not leave its frame cached")
  }

  test("summary JSON is written with per-container counters (A25)") {
    val src = freshSource()
    val tgt = newAccount("cat-tgt5")
    val s = migrate(spark, src, tgt)
    val path = Files.createTempFile(Paths.get("target"), "summary", ".json")
    Orchestrator.writeSummary(s, path.toString)
    val txt = Files.readString(path)
    assert(txt.contains("\"containers\"") && txt.contains("\"employees\""))
    assert(txt.contains("\"inserted\": 3"))
    assert(txt.contains("\"ok\": true"))
  }

  test("content audit catches the in-place rewrite the listing signature cannot") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val acc = newAccount("cat-audit")
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/pk"), buckets = 4))
    val docs = (0 until 20).map(i => s"""{"id":"d$i","pk":"p${i % 3}","v":$i}""")
    val keyed = docs.toDF("raw").selectExpr("raw",
      "json_pk(raw, 'id') AS __id", "json_pk(raw, 'pk') AS __pk0")
    acc.upsertRaw(spark, "db", "c", keyed, Seq("__id", "__pk0"), Seq("/pk"))
    assert(acc.countRows(spark, "db", "c") == 20)
    val before = acc.auditBuckets(spark, "db", "c")
    assert(before.values.map(_._1).sum == 20)

    // the documented blind spot: rewrite one data file IN PLACE, same name,
    // same byte length, mtime restored — the listing signature still vouches
    val dataFile = Files.walk(Paths.get(acc.root, "db", "c", "data"))
      .iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.contains("b="))
      .filterNot(_.getFileName.toString.startsWith("."))
      .toSeq.head
    val mtime = Files.getLastModifiedTime(dataFile)
    val sigBefore = acc.bucketSignatures("db", "c")
    val bytes = Files.readAllBytes(dataFile)
    val i = bytes.lastIndexOf('}'.toByte) - 1
    bytes(i) = (if (bytes(i) == '0'.toByte) '1' else '0').toByte // same length
    Files.write(dataFile, bytes)
    Files.setLastModifiedTime(dataFile, mtime)
    // drop the local-FS client checksum sidecar the original write left —
    // an external writer on a real store (HDFS/S3: server-side checksums)
    // leaves no such file, and a stale one fails the read before the audit
    // gets to SEE the corruption
    Files.deleteIfExists(
      dataFile.resolveSibling("." + dataFile.getFileName.toString + ".crc"))
    assert(acc.bucketSignatures("db", "c") == sigBefore,
      "listing signature must (by design) still vouch — that is the trade")
    assert(acc.countRows(spark, "db", "c") == 20,
      "the stale-but-vouched count is the documented limitation")
    // the opt-in deep audit sees the content change, localized to a bucket
    val after = acc.auditBuckets(spark, "db", "c")
    val diff = after.keySet.filter(b => before.get(b) != after.get(b))
    assert(diff.size == 1,
      s"audit must localize the corrupt bucket: before=$before after=$after")
  }

  test("content audit books a stray file at the data root as bucket -1 with its row count") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val acc = newAccount("cat-audit-stray")
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/pk"), buckets = 2))
    val docs = (0 until 6).map(i => s"""{"id":"d$i","pk":"p${i % 2}","v":$i}""")
    val keyed = docs.toDF("raw").selectExpr("raw",
      "json_pk(raw, 'id') AS __id", "json_pk(raw, 'pk') AS __pk0")
    acc.upsertRaw(spark, "db", "c", keyed, Seq("__id", "__pk0"), Seq("/pk"))
    Files.writeString(Paths.get(acc.root, "db", "c", "data", "stray.json"),
      "{\"id\":\"x1\",\"pk\":\"p9\"}\n{\"id\":\"x2\",\"pk\":\"p9\"}\n")
    val audit = acc.auditBuckets(spark, "db", "c")
    assert(audit.get(-1L).map(_._1).contains(2L), s"stray bucket: $audit")
    assert(audit.values.map(_._1).sum == 8, s"every row audited once: $audit")
  }

  test("SQL catalog facade: CREATE NAMESPACE / CREATE TABLE / SHOW / SELECT drive FileAccount metadata") {
    val root = Files.createTempDirectory(Paths.get("target"), "sqlcat")
    spark.conf.set("spark.sql.catalog.graftcat",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcat.root", root.toString)

    // namespace DDL lands as a database directory the Scala API sees
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.hr")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.hr") // idempotent
    val acc = FileAccount(root.toString)
    assert(acc.listDatabases() == Seq("hr"))
    val namespaces = spark.sql("SHOW NAMESPACES IN graftcat")
      .collect().map(_.getString(0)).toSeq
    assert(namespaces == Seq("hr"))

    // table DDL writes the same _meta.json containerProperties reads
    spark.sql("CREATE TABLE graftcat.hr.employees (raw STRING) " +
      "TBLPROPERTIES ('pk'='/department', 'buckets'='4')")
    assert(acc.listContainers("hr") == Seq("employees"))
    val props = acc.containerProperties("hr", "employees")
    assert(props.pkPaths == Seq("/department") && props.buckets == 4)
    val shown = spark.sql("SHOW TABLES IN graftcat.hr")
      .collect().map(_.getString(1)).toSeq
    assert(shown == Seq("employees"))
    assert(spark.catalog.listTables("graftcat.hr")
      .collect().map(_.name).toSeq == Seq("employees"))

    // documents upserted through the MERGE ENGINE are readable through SQL
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val pk = Seq("/department")
    val keyCols = Seq("__id", "__pk0")
    val docs = Seq(
      """{"id":"e1","department":"eng","level":3}""",
      """{"id":"e2","department":"eng","level":4}""",
      """{"id":"e3","department":"ops","level":5}""").toDF("raw")
    val keyed = graft.operators.RawMerge.srcKeyed(spark, docs, pk)
      .select(("raw" +: keyCols).map(col): _*)
    acc.upsertRaw(spark, "hr", "employees", keyed, keyCols, pk)
    assert(spark.sql("SELECT count(1) FROM graftcat.hr.employees").head().getLong(0) == 3)
    assert(spark.table("graftcat.hr.employees")
      .filter(col("raw").contains("\"id\":\"e2\"")).count() == 1)

    // rename + drop round-trip through the same directories
    // the RENAME TO target is an identifier WITHIN the same catalog
    spark.sql("ALTER TABLE graftcat.hr.employees RENAME TO hr.staff")
    assert(acc.listContainers("hr") == Seq("staff"))
    assert(spark.table("graftcat.hr.staff").count() == 3)
    spark.sql("DROP TABLE graftcat.hr.staff")
    assert(acc.listContainers("hr").isEmpty)
    spark.sql("DROP NAMESPACE graftcat.hr")
    assert(acc.listDatabases().isEmpty)
  }

  test("SQL catalog guards: rename-onto-existing, bad column name, filtered overwrite") {
    val root = Files.createTempDirectory(Paths.get("target"), "sqlguard")
    spark.conf.set("spark.sql.catalog.graftg",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftg.root", root.toString)
    spark.sql("CREATE NAMESPACE graftg.db")
    spark.sql("CREATE TABLE graftg.db.a (raw STRING)")
    spark.sql("CREATE TABLE graftg.db.b (raw STRING)")

    // a rename onto an existing table must FAIL (TableCatalog contract):
    // Hadoop rename would otherwise nest a/ inside b/ and report success,
    // silently losing the source container
    val acc = FileAccount(root.toString)
    val renameErr = intercept[Exception] {
      spark.sql("ALTER TABLE graftg.db.a RENAME TO db.b")
    }
    assert(renameErr.getMessage.toLowerCase.contains("already exists"),
      s"want already-exists, got: ${renameErr.getMessage}")
    assert(acc.listContainers("db") == Seq("a", "b"),
      "both containers must survive the refused rename")

    // a mis-NAMED single string column must be refused at DDL time —
    // accepting (foo STRING) would make every later SELECT foo fail
    val ddlErr = intercept[Exception] {
      spark.sql("CREATE TABLE graftg.db.c (foo STRING)")
    }
    assert(ddlErr.getMessage.contains("raw STRING"))

    // only UNCONDITIONAL overwrite maps onto the engine (truncate+merge);
    // a filtered overwrite would need per-row deletes the bucket layout
    // does not express — refused at write-build time, not silently ignored
    val ovErr = intercept[Exception] {
      spark.table("graftg.db.b").writeTo("graftg.db.a")
        .overwrite(col("raw") === "x")
    }
    assert(ovErr.getMessage.contains("unconditional"),
      s"filtered overwrite must be refused, got: ${ovErr.getMessage}")
  }

  test("SQL INSERT routes through the bucket-upsert engine: sidecars, idempotence, overwrite") {
    val root = Files.createTempDirectory(Paths.get("target"), "sqlwrite")
    spark.conf.set("spark.sql.catalog.graftw",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftw.root", root.toString)
    spark.sql("CREATE NAMESPACE graftw.db")
    spark.sql("CREATE TABLE graftw.db.docs (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='8')")
    val acc = FileAccount(root.toString)

    // plain INSERT lands documents through the merge engine: real bucket
    // layout (not a flat append) with the count sidecar maintained
    val values = (0 until 32)
      .map(i => s"""('{"id":"d$i","v":$i}')""").mkString(", ")
    spark.sql(s"INSERT INTO graftw.db.docs VALUES $values")
    assert(acc.bucketDirList("db", "docs").size > 1,
      "INSERT must maintain the pk-hash bucket layout")
    assert(acc.readBucketCounts("db", "docs").values.map(_._1).sum == 32,
      "INSERT must maintain the _counts.json sidecar")
    assert(spark.table("graftw.db.docs").count() == 32)
    // the landed form is the merge engine's write form (pk-injected key
    // readable through the point-read metadata column)
    assert(spark.sql("SELECT raw FROM graftw.db.docs WHERE _id = 'd7'")
      .count() == 1)

    // IDEMPOTENT rerun: identical INSERT classifies every document as a
    // skip — zero buckets rewritten, every data file byte-identical
    val sigsBefore = acc.bucketSignatures("db", "docs")
    spark.sql(s"INSERT INTO graftw.db.docs VALUES $values")
    assert(spark.table("graftw.db.docs").count() == 32,
      "re-INSERT of identical documents must not duplicate")
    assert(acc.bucketSignatures("db", "docs") == sigsBefore,
      "re-INSERT of unchanged documents must not rewrite any bucket")

    // UPDATE branch: a changed document upserts in place, rewriting only
    // the bucket its key hashes to
    spark.sql("""INSERT INTO graftw.db.docs VALUES ('{"id":"d7","v":777}')""")
    assert(spark.table("graftw.db.docs").count() == 32)
    val d7 = spark.sql("SELECT raw FROM graftw.db.docs WHERE _id = 'd7'")
      .collect()
    assert(d7.length == 1 && d7(0).getString(0).contains("777"),
      s"update must land, got: ${d7.toSeq}")
    val sigsAfter = acc.bucketSignatures("db", "docs")
    val changedBuckets = sigsAfter.keySet.filter(b =>
      sigsBefore.get(b) != sigsAfter.get(b))
    assert(changedBuckets.size == 1,
      s"a single-document update must rewrite exactly one bucket, got $changedBuckets")

    // error channel (A4/A13): an id-less document dead-letters to _errors
    // instead of failing the INSERT or polluting the container
    spark.sql("""INSERT INTO graftw.db.docs VALUES ('{"v":"no id"}')""")
    assert(spark.table("graftw.db.docs").count() == 32,
      "an invalid document must not land in the container")
    val errDir = Paths.get(acc.errorsPath("db", "docs"))
    assert(Files.exists(errDir) &&
      Files.list(errDir).iterator().asScala.exists(p =>
        !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith(".")),
      "invalid documents must dead-letter to _errors")

    // intra-batch duplicate keys collapse deterministically; INSERT
    // OVERWRITE truncates first, so the final state is exactly the new set
    spark.sql("""INSERT OVERWRITE graftw.db.docs VALUES
      ('{"id":"z1","v":1}'), ('{"id":"z2","v":2}'), ('{"id":"z2","v":2}')""")
    assert(spark.table("graftw.db.docs").count() == 2,
      "INSERT OVERWRITE must replace the container contents")
    assert(acc.readBucketCounts("db", "docs").values.map(_._1).sum == 2,
      "the sidecar must follow the overwrite")
    // no staging residue inside the container tree
    assert(!Files.exists(Paths.get(acc.root, "db", "docs", "_staging")) ||
      Files.list(Paths.get(acc.root, "db", "docs", "_staging"))
        .iterator().asScala.isEmpty,
      "staging directories must be cleaned up after commit")
  }

  test("SQL catalog point read: _id/_key equality prunes the scan to one bucket dir") {
    val root = Files.createTempDirectory(Paths.get("target"), "sqlprune")
    spark.conf.set("spark.sql.catalog.graftp",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftp.root", root.toString)
    spark.sql("CREATE NAMESPACE graftp.db")
    spark.sql("CREATE TABLE graftp.db.docs (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='8')")

    // land 64 documents through the merge engine so the bucket layout is real
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val acc = FileAccount(root.toString)
    val docs = (0 until 64).map(i => s"""{"id":"d$i","v":$i}""").toDF("raw")
    val keyed = graft.operators.RawMerge.srcKeyed(spark, docs, Seq("/id"))
      .select(col("raw"), col("__id"), col("__pk0"))
    acc.upsertRaw(spark, "db", "docs", keyed, Seq("__id", "__pk0"), Seq("/id"))
    assert(acc.bucketDirList("db", "docs").size > 1,
      "layout must actually spread over multiple buckets")

    // correctness: the metadata-column predicate returns exactly the doc
    val hit = spark.sql(
      "SELECT raw FROM graftp.db.docs WHERE _id = 'd7'").collect()
    assert(hit.length == 1 && hit(0).getString(0).contains("\"id\":\"d7\""))
    // the full merge key works identically (pk = /id, so key = id ++ id)
    val hitKey = spark.sql(
      "SELECT raw FROM graftp.db.docs WHERE _key = 'd7d7'").collect()
    assert(hitKey.length == 1 && hitKey(0).getString(0).contains("\"id\":\"d7\""))

    // pruning: the physical scan's input partitions touch ONLY the bucket
    // dir d7 hashes to (the SQL analogue of readRawBuckets' point read)
    val df = spark.sql("SELECT raw FROM graftp.db.docs WHERE _id = 'd7'")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, "expected a DSv2 batch scan")
    val parts = scans.flatMap(_.partitions.flatten).collect {
      case s: graft.core.ContainerFileSlice => s.path
    }
    assert(parts.nonEmpty, "scan must carry ContainerFileSlice partitions")
    val bucketDirs = parts.flatMap("/b=(\\d+)/".r.findFirstMatchIn(_))
      .map(_.group(1)).distinct
    assert(bucketDirs.length == 1,
      s"point read must touch exactly one bucket dir, got $bucketDirs from $parts")
    // and an unfiltered scan touches them all (the pruning is the filter's)
    val all = spark.table("graftp.db.docs").queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.flatMap(_.partitions.flatten).collect {
      case s: graft.core.ContainerFileSlice => s.path
    }
    assert(all.length > parts.length,
      "unfiltered scan must read more files than the point read")
  }

  test("SQL DELETE: bucket-pruned key delete, no-op on absent keys, TRUNCATE, unsupported predicates refused") {
    val root = Files.createTempDirectory(Paths.get("target"), "sqldel")
    spark.conf.set("spark.sql.catalog.graftd",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftd.root", root.toString)
    spark.sql("CREATE NAMESPACE graftd.db")
    spark.sql("CREATE TABLE graftd.db.docs (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='8')")
    val acc = FileAccount(root.toString)
    val values = (0 until 48)
      .map(i => s"""('{"id":"d$i","v":$i}')""").mkString(", ")
    spark.sql(s"INSERT INTO graftd.db.docs VALUES $values")
    assert(spark.table("graftd.db.docs").count() == 48)

    // keyed DELETE rewrites ONLY the bucket holding the key
    val sigs0 = acc.bucketSignatures("db", "docs")
    spark.sql("DELETE FROM graftd.db.docs WHERE _key = 'd7d7'")
    assert(spark.table("graftd.db.docs").count() == 47)
    assert(spark.sql("SELECT * FROM graftd.db.docs WHERE _id = 'd7'").count() == 0)
    val sigs1 = acc.bucketSignatures("db", "docs")
    assert(sigs1.keySet.count(b => sigs0.get(b) != sigs1.get(b)) == 1,
      "a one-key DELETE must rewrite exactly one bucket")
    // sidecar follows the delete
    assert(acc.readBucketCounts("db", "docs").values.map(_._1).sum == 47)

    // _id IN (...) works for /id-pk containers
    spark.sql("DELETE FROM graftd.db.docs WHERE _id IN ('d1', 'd2')")
    assert(spark.table("graftd.db.docs").count() == 45)

    // deleting an ABSENT key is a byte-for-byte no-op, not a bucket rewrite
    val sigs2 = acc.bucketSignatures("db", "docs")
    spark.sql("DELETE FROM graftd.db.docs WHERE _key = 'nope-nope'")
    assert(acc.bucketSignatures("db", "docs") == sigs2,
      "deleting an absent key must not rewrite anything")

    // a predicate the layout can't express as a metadata delete falls
    // through to the GROUP-BASED rewrite (SupportsRowLevelOperations):
    // matching rows vanish, survivors of the rewritten groups stay.
    // Matches v=3 and v=30..39 → 11 of the 45 remaining docs.
    spark.sql("DELETE FROM graftd.db.docs WHERE raw LIKE '%\"v\":3%'")
    assert(spark.table("graftd.db.docs").count() == 34,
      "predicate DELETE must drop exactly the matching documents")
    assert(spark.sql("SELECT * FROM graftd.db.docs WHERE _id = 'd33'").count() == 0)
    assert(acc.readBucketCounts("db", "docs").values.map(_._1).sum == 34,
      "the sidecar must follow the rewrite")

    // unconditional DELETE == truncate; container survives empty
    spark.sql("DELETE FROM graftd.db.docs")
    assert(spark.table("graftd.db.docs").count() == 0)
    assert(acc.listContainers("db") == Seq("docs"))

    // TRUNCATE TABLE drives the same path
    spark.sql(s"INSERT INTO graftd.db.docs VALUES ('{\"id\":\"x\",\"v\":1}')")
    assert(spark.table("graftd.db.docs").count() == 1)
    spark.sql("TRUNCATE TABLE graftd.db.docs")
    assert(spark.table("graftd.db.docs").count() == 0)
  }

  test("MERGE INTO / UPDATE: group-based rewrite with bucket-level group pruning") {
    val root = Files.createTempDirectory(Paths.get("target"), "sqlmerge")
    spark.conf.set("spark.sql.catalog.graftm",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftm.root", root.toString)
    spark.sql("CREATE NAMESPACE graftm.db")
    spark.sql("CREATE TABLE graftm.db.docs (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='8')")
    val acc = FileAccount(root.toString)
    val values = (0 until 32)
      .map(i => s"""('{"id":"d$i","v":$i}')""").mkString(", ")
    spark.sql(s"INSERT INTO graftm.db.docs VALUES $values")

    // MERGE: one matched update, one not-matched insert — the canonical
    // upsert statement, now first-class SQL on the container. This case
    // keeps the data-column spelling (get_json_object) working; the
    // metadata-column spelling (ON t._id = s.k — the ergonomic form) is
    // pinned by the dedicated test below, via MergeMetaRepair.
    import spark.implicits._
    Seq(("d3", """{"id":"d3","v":300}"""), ("n1", """{"id":"n1","v":100}"""))
      .toDF("k", "doc").createOrReplaceTempView("m_src")
    val mergeSql =
      """MERGE INTO graftm.db.docs t USING m_src s
        |ON get_json_object(t.raw, '$.id') = s.k
        |WHEN MATCHED THEN UPDATE SET raw = s.doc
        |WHEN NOT MATCHED THEN INSERT (raw) VALUES (s.doc)""".stripMargin
    spark.sql(mergeSql)
    assert(spark.table("graftm.db.docs").count() == 33,
      "merge must upsert: 32 docs + 1 insert")
    val d3 = spark.sql("SELECT raw FROM graftm.db.docs WHERE _id = 'd3'").collect()
    assert(d3.length == 1 && d3(0).getString(0).contains("300"),
      s"matched row must update, got ${d3.toSeq}")
    assert(spark.sql("SELECT raw FROM graftm.db.docs WHERE _id = 'n1'")
      .count() == 1, "not-matched row must insert")
    assert(acc.readBucketCounts("db", "docs").values.map(_._1).sum == 33,
      "the sidecar must follow the merge")

    // UPDATE with a key predicate rides the STATIC pushdown: the rewrite
    // reads (and therefore replaces) only the key's bucket
    val sigs0 = acc.bucketSignatures("db", "docs")
    spark.sql("""UPDATE graftm.db.docs SET raw = '{"id":"d5","v":555}'
      |WHERE _id = 'd5'""".stripMargin)
    assert(spark.table("graftm.db.docs").count() == 33)
    val d5 = spark.sql("SELECT raw FROM graftm.db.docs WHERE _id = 'd5'").collect()
    assert(d5.length == 1 && d5(0).getString(0).contains("555"),
      s"UPDATE must land, got ${d5.toSeq}")
    val sigs1 = acc.bucketSignatures("db", "docs")
    val changed = (sigs0.keySet ++ sigs1.keySet)
      .filter(b => sigs0.get(b) != sigs1.get(b))
    assert(changed.size == 1,
      s"a keyed UPDATE must replace exactly the key's bucket, got $changed")

    // merge is idempotent at the CONTENT level: re-running the same MERGE
    // replaces the same groups with identical rows
    spark.sql(mergeSql)
    assert(spark.table("graftm.db.docs").count() == 33,
      "re-running the merge must not duplicate")
  }

  test("MERGE INTO on the _id/_key metadata columns (MergeMetaRepair)") {
    // the ergonomics the metadata columns exist for: a keyed SQL upsert
    // spelled directly against the engine's merge key, no get_json_object.
    // Spark 4.1's group-based rewrite leaves metadata-column references
    // bare inside the runtime group filter (MISSING_ATTRIBUTES);
    // graft.core.MergeMetaRepair rewrites them to the raw-derived
    // expressions the scan computes, post-hoc.
    val root = Files.createTempDirectory(Paths.get("target"), "sqlmergeid")
    spark.conf.set("spark.sql.catalog.graftmi",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftmi.root", root.toString)
    spark.sql("CREATE NAMESPACE graftmi.db")
    spark.sql("CREATE TABLE graftmi.db.docs (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='8')")
    val values = (0 until 32)
      .map(i => s"""('{"id":"d$i","v":$i}')""").mkString(", ")
    spark.sql(s"INSERT INTO graftmi.db.docs VALUES $values")
    val acc = FileAccount(root.toString)

    import spark.implicits._
    Seq(("d3", """{"id":"d3","v":300}"""), ("n1", """{"id":"n1","v":100}"""))
      .toDF("k", "doc").createOrReplaceTempView("mi_src")
    val mergeSql =
      """MERGE INTO graftmi.db.docs t USING mi_src s
        |ON t._id = s.k
        |WHEN MATCHED THEN UPDATE SET raw = s.doc
        |WHEN NOT MATCHED THEN INSERT (raw) VALUES (s.doc)""".stripMargin
    spark.sql(mergeSql)
    assert(spark.table("graftmi.db.docs").count() == 33)
    val d3 = spark.sql("SELECT raw FROM graftmi.db.docs WHERE _id = 'd3'").collect()
    assert(d3.length == 1 && d3(0).getString(0).contains("300"),
      s"matched row must update via the _id condition, got ${d3.toSeq}")
    assert(spark.sql("SELECT raw FROM graftmi.db.docs WHERE _id = 'n1'")
      .count() == 1, "not-matched row must insert via the _id condition")
    assert(acc.readBucketCounts("db", "docs").values.map(_._1).sum == 33,
      "the sidecar must follow the metadata-column merge")
    // idempotent at the content level, same as the data-column spelling
    spark.sql(mergeSql)
    assert(spark.table("graftmi.db.docs").count() == 33)

    // the _key spelling works too (for /id-pk containers _key = id ++ id)
    Seq(("d5d5", """{"id":"d5","v":555}"""))
      .toDF("kk", "doc").createOrReplaceTempView("mi_src2")
    spark.sql(
      """MERGE INTO graftmi.db.docs t USING mi_src2 s
        |ON t._key = s.kk
        |WHEN MATCHED THEN UPDATE SET raw = s.doc""".stripMargin)
    val d5 = spark.sql("SELECT raw FROM graftmi.db.docs WHERE _id = 'd5'").collect()
    assert(d5.length == 1 && d5(0).getString(0).contains("555"),
      s"_key-conditioned merge must land, got ${d5.toSeq}")
    assert(spark.table("graftmi.db.docs").count() == 33)

    // a DELETE-only merge through _id (group replace drops the row)
    Seq("n1").toDF("k").createOrReplaceTempView("mi_del")
    spark.sql(
      """MERGE INTO graftmi.db.docs t USING mi_del s
        |ON t._id = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.table("graftmi.db.docs").count() == 32)
    assert(spark.sql("SELECT raw FROM graftmi.db.docs WHERE _id = 'n1'").count() == 0)

    // a NON-/id partition key: _key = id ++ pk value, so the repair's
    // raw-derived expression must concat the pk path too
    spark.sql("CREATE TABLE graftmi.db.parted (raw STRING) " +
      "TBLPROPERTIES ('pk'='/region', 'buckets'='4')")
    spark.sql("INSERT INTO graftmi.db.parted VALUES " +
      """('{"id":"a","region":"eu","v":1}'), ('{"id":"b","region":"us","v":2}')""")
    Seq(("aeu", """{"id":"a","region":"eu","v":10}"""))
      .toDF("kk", "doc").createOrReplaceTempView("mi_pk")
    spark.sql(
      """MERGE INTO graftmi.db.parted t USING mi_pk s
        |ON t._key = s.kk
        |WHEN MATCHED THEN UPDATE SET raw = s.doc""".stripMargin)
    val av = spark.sql("SELECT raw FROM graftmi.db.parted WHERE _key = 'aeu'").collect()
    assert(av.length == 1 && av(0).getString(0).contains("10"),
      s"composite-key merge must land on the pk-derived _key, got ${av.toSeq}")
    assert(spark.table("graftmi.db.parted").count() == 2)

    // NOT MATCHED BY SOURCE disables group filtering (every group may
    // rewrite), so the metadata condition rides the join alone — the
    // full-sync MERGE shape must work on _id too
    Seq(("d1", """{"id":"d1","v":1111}"""))
      .toDF("k", "doc").createOrReplaceTempView("mi_sync")
    spark.sql(
      """MERGE INTO graftmi.db.docs t USING mi_sync s
        |ON t._id = s.k
        |WHEN MATCHED THEN UPDATE SET raw = s.doc
        |WHEN NOT MATCHED THEN INSERT (raw) VALUES (s.doc)
        |WHEN NOT MATCHED BY SOURCE AND t._id = 'd7' THEN DELETE""".stripMargin)
    val d1s = spark.sql("SELECT raw FROM graftmi.db.docs WHERE _id = 'd1'").collect()
    assert(d1s.length == 1 && d1s(0).getString(0).contains("1111"))
    assert(spark.sql("SELECT raw FROM graftmi.db.docs WHERE _id = 'd7'").count() == 0,
      "NOT MATCHED BY SOURCE delete must land through the _id condition")
    assert(spark.table("graftmi.db.docs").count() == 31)
  }

  test("scan statistics: sidecar-driven size/rows, point read shrinks them, small containers broadcast") {
    val root = Files.createTempDirectory(Paths.get("target"), "sqlstats")
    spark.conf.set("spark.sql.catalog.grafts",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grafts.root", root.toString)
    spark.sql("CREATE NAMESPACE grafts.db")
    spark.sql("CREATE TABLE grafts.db.dim (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='4')")
    val values = (0 until 32)
      .map(i => s"""('{"id":"k$i","v":$i}')""").mkString(", ")
    spark.sql(s"INSERT INTO grafts.db.dim VALUES $values")

    def scanOf(df: org.apache.spark.sql.DataFrame): graft.core.ContainerScan = {
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }.collect { case s: graft.core.ContainerScan => s }
      assert(scans.nonEmpty, "expected a container scan in the optimized plan")
      scans.head
    }
    // full scan: bytes = sum of data files, rows = sidecar sum (vouched)
    val full = scanOf(spark.table("grafts.db.dim"))
    val st = full.estimateStatistics()
    assert(st.numRows().getAsLong == 32,
      s"sidecar row count must feed numRows, got ${st.numRows()}")
    assert(st.sizeInBytes().getAsLong > 0)
    // a point read reports ONE bucket's bytes, not the container's
    val point = scanOf(spark.sql(
      "SELECT raw FROM grafts.db.dim WHERE _key = 'k3k3'"))
    assert(point.estimateStatistics().sizeInBytes().getAsLong <
      st.sizeInBytes().getAsLong,
      "static pruning must shrink the stats report")

    // the payoff: a kb-sized container joined against a fact is BROADCAST
    // (without the report, DSv2 relations default to never-broadcast)
    import spark.implicits._
    val fact = (0 until 2000).map(i => s"k${i % 32}").toDF("fk")
    val joined = fact.join(spark.table("grafts.db.dim"),
      expr("fk = _id"))
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a small container dim must broadcast:\n$plan")
  }

  test("COUNT(*) pushdown: sidecar-vouched counts skip the container read; anything unvouched falls back") {
    val root = Files.createTempDirectory(Paths.get("target"), "sqlcnt")
    spark.conf.set("spark.sql.catalog.graftcnt",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftcnt.root", root.toString)
    spark.sql("CREATE NAMESPACE graftcnt.db")
    spark.sql("CREATE TABLE graftcnt.db.docs (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='4')")
    val values = (0 until 32)
      .map(i => s"""('{"id":"c$i","v":$i}')""").mkString(", ")
    spark.sql(s"INSERT INTO graftcnt.db.docs VALUES $values")

    def scansOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
      }
    // vouched container: the count comes from the sidecar scan — no
    // container file is opened (the scan has no file slices at all)
    val q1 = spark.sql("SELECT count(*) FROM graftcnt.db.docs")
    assert(scansOf(q1).exists(_.isInstanceOf[graft.core.ContainerCountScan]),
      s"vouched count must plan the sidecar count scan:\n${q1.queryExecution}")
    assert(q1.collect().head.getLong(0) == 32)

    // a filtered count keeps every filter residual, so Spark never offers
    // the aggregate — the ordinary scan answers it
    val q2 = spark.sql(
      "SELECT count(*) FROM graftcnt.db.docs WHERE _id = 'c3'")
    assert(!scansOf(q2).exists(_.isInstanceOf[graft.core.ContainerCountScan]))
    assert(q2.collect().head.getLong(0) == 1)

    // an EXTERNAL write lands a file the sidecar can't vouch for: the
    // pushdown must decline (fall back to the counting scan) and still be
    // correct
    val bucketDirs = Files.list(root.resolve("db/docs/data")).toArray
      .map(_.toString).filter(_.contains("b="))
    Files.write(Paths.get(bucketDirs.head, "external-9.txt"),
      "{\"id\":\"ext9\",\"v\":9}\n".getBytes("UTF-8"))
    val q3 = spark.sql("SELECT count(*) FROM graftcnt.db.docs")
    assert(!scansOf(q3).exists(_.isInstanceOf[graft.core.ContainerCountScan]),
      "an unvouched bucket must decline the metadata count")
    assert(q3.collect().head.getLong(0) == 33)

    // the maintenance verify re-vouches (self-healing sidecar) and the
    // NEXT count is metadata-only again, now including the external row
    spark.sql("CALL graftcnt.system.verify('db', 'docs')").collect()
    val q4 = spark.sql("SELECT count(*) FROM graftcnt.db.docs")
    assert(scansOf(q4).exists(_.isInstanceOf[graft.core.ContainerCountScan]),
      s"a re-vouched container must push the count again:\n${q4.queryExecution}")
    assert(q4.collect().head.getLong(0) == 33)
  }

  test("runtime filtering: a join against a small key set prunes bucket dirs at execution") {
    val root = Files.createTempDirectory(Paths.get("target"), "sqlrf")
    spark.conf.set("spark.sql.catalog.graftrf",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrf.root", root.toString)
    spark.sql("CREATE NAMESPACE graftrf.db")
    spark.sql("CREATE TABLE graftrf.db.docs (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='8')")
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val acc = FileAccount(root.toString)
    val docs = (0 until 64).map(i => s"""{"id":"d$i","v":$i}""").toDF("raw")
    val keyed = graft.operators.RawMerge.srcKeyed(spark, docs, Seq("/id"))
      .select(col("raw"), col("__id"), col("__pk0"))
    acc.upsertRaw(spark, "db", "docs", keyed, Seq("__id", "__pk0"), Seq("/id"))
    val allFiles = acc.bucketDirList("db", "docs").size
    assert(allFiles > 2, "layout must spread over multiple buckets")

    // a key-set join on _key: the build side is only known at runtime —
    // static pushdown can't prune this, SupportsRuntimeFiltering must.
    // The dim carries a selective filter (DPP's has-benefit heuristic) and
    // is parquet-backed: a LocalRelation would be constant-folded before
    // the PartitionPruning rule ever looks for that filter.
    val dimPath = Files.createTempDirectory(Paths.get("target"), "rfdim")
      .resolve("dim").toString
    Seq(("d7d7", "want"), ("d13d13", "want"), ("d0d0", "skip"))
      .toDF("k", "grp").write.mode("overwrite").parquet(dimPath)
    spark.read.parquet(dimPath).createOrReplaceTempView("rf_dim")
    val q = spark.sql(
      "SELECT c.raw FROM graftrf.db.docs c " +
        "JOIN (SELECT k FROM rf_dim WHERE grp = 'want') d ON c._key = d.k")
    val rows = q.collect()
    assert(rows.length == 2 &&
      rows.map(_.getString(0)).forall(r =>
        r.contains("\"id\":\"d7\"") || r.contains("\"id\":\"d13\"")),
      s"join must return exactly the matched docs, got ${rows.toSeq}")

    // audit the scan object the executed plan holds: filter() ran on the
    // driver and narrowed the planned files to the keys' bucket dirs.
    // AQE query stages hide their subtrees from collect() — walk through
    // AdaptiveSparkPlanExec.executedPlan and QueryStageExec.plan explicitly
    def allScans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allScans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allScans(s.plan)
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          Seq(b)
        case other => other.children.flatMap(allScans)
      }
    val containerScans = allScans(q.queryExecution.executedPlan)
      .map(_.scan).collect { case s: graft.core.ContainerScan => s }
    assert(containerScans.nonEmpty, "expected the container's DSv2 scan")
    val planned = containerScans.head.currentFiles
    val bucketDirs = planned.flatMap("/b=(\\d+)/".r.findFirstMatchIn(_))
      .map(_.group(1)).distinct
    assert(bucketDirs.nonEmpty && bucketDirs.length <= 2,
      s"runtime filter must prune to <= 2 key buckets of $allFiles, got $bucketDirs")
  }

  test("SQL catalog point read prunes on _key for a HIERARCHICAL pk container") {
    // pk != /id: _id alone cannot determine the bucket (the merge key is
    // id ++ pk values), but the full _key still must — same contract as
    // readRawBucketsFor on a composite key
    val root = Files.createTempDirectory(Paths.get("target"), "sqlprune2")
    spark.conf.set("spark.sql.catalog.graftq",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftq.root", root.toString)
    spark.sql("CREATE NAMESPACE graftq.db")
    spark.sql("CREATE TABLE graftq.db.docs (raw STRING) " +
      "TBLPROPERTIES ('pk'='/owner/region', 'buckets'='16')")
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val acc = FileAccount(root.toString)
    val regions = Seq("emea", "apac", "amer", "anz")
    val docs = (0 until 48)
      .map(i => s"""{"id":"d$i","owner":{"region":"${regions(i % 4)}"},"v":$i}""")
      .toDF("raw")
    val keyed = graft.operators.RawMerge.srcKeyed(spark, docs, Seq("/owner/region"))
      .select(col("raw"), col("__id"), col("__pk0"))
    acc.upsertRaw(spark, "db", "docs", keyed, Seq("__id", "__pk0"), Seq("/owner/region"))

    // merge key = id ++ pk value: d5 is in region "emea"? 5 % 4 = 1 → apac
    val hit = spark.sql(
      "SELECT raw FROM graftq.db.docs WHERE _key = 'd5apac'").collect()
    assert(hit.length == 1 && hit(0).getString(0).contains("\"id\":\"d5\""))
    val parts = spark.sql("SELECT raw FROM graftq.db.docs WHERE _key = 'd5apac'")
      .queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.flatMap(_.partitions.flatten).collect {
        case s: graft.core.ContainerFileSlice => s.path
      }
    val bucketDirs = parts.flatMap("/b=(\\d+)/".r.findFirstMatchIn(_))
      .map(_.group(1)).distinct
    assert(bucketDirs.length == 1,
      s"composite-key point read must touch one bucket dir, got $bucketDirs")
    // _id alone must NOT prune here (bucket needs the pk value too) — but
    // it must still FILTER correctly as a residual predicate
    val byId = spark.sql(
      "SELECT raw FROM graftq.db.docs WHERE _id = 'd5'").collect()
    assert(byId.length == 1 && byId(0).getString(0).contains("\"id\":\"d5\""))
  }

  test("CTAS: CREATE TABLE ... AS SELECT routes through create + merge-engine append") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ctas").toString
    spark.conf.set("spark.sql.catalog.graftct",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftct.root", root)
    spark.sql("CREATE NAMESPACE graftct.db")
    spark.sql("CREATE TABLE graftct.db.src (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='2')")
    spark.sql("""INSERT INTO graftct.db.src VALUES ('{"id":"a","v":1}'), ('{"id":"b","v":2}')""")
    // CTAS: the new container gets ITS OWN layout properties, rows land
    // through the same upsert commit as INSERT (sidecars, idempotence)
    spark.sql("CREATE TABLE graftct.db.dst TBLPROPERTIES ('pk'='/id', 'buckets'='4') " +
      "AS SELECT raw FROM graftct.db.src")
    val acc = graft.core.FileAccount(root)
    assert(acc.containerProperties("db", "dst").buckets == 4)
    assert(spark.sql("SELECT count(*) FROM graftct.db.dst").head().getLong(0) == 2L)
    assert(acc.countRows(spark, "db", "dst") == 2)
    // the copy is a merge-key upsert: re-running the SELECT as INSERT is a
    // no-op on identical docs (canonical-diff skip)
    spark.sql("INSERT INTO graftct.db.dst SELECT raw FROM graftct.db.src")
    assert(spark.sql("SELECT count(*) FROM graftct.db.dst").head().getLong(0) == 2L)
  }

  test("REPLACE TABLE AS SELECT: staged write, one-rename swap, abort leaves the old table") {
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "rtas").toString
    spark.conf.set("spark.sql.catalog.graftrt",
      classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftrt.root", root)
    spark.sql("CREATE NAMESPACE graftrt.db")
    spark.sql("CREATE TABLE graftrt.db.t (raw STRING) " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='2')")
    spark.sql("""INSERT INTO graftrt.db.t VALUES ('{"id":"old","v":1}')""")

    // RTAS: new contents AND new layout land atomically
    spark.sql("REPLACE TABLE graftrt.db.t TBLPROPERTIES ('pk'='/id', 'buckets'='4') " +
      """AS SELECT '{"id":"new","v":2}' AS raw""")
    val acc = graft.core.FileAccount(root)
    assert(acc.containerProperties("db", "t").buckets == 4)
    val rows = spark.sql("SELECT raw FROM graftrt.db.t").collect().map(_.getString(0))
    assert(rows.length == 1 && rows(0).contains("\"id\":\"new\""),
      s"replace must swap contents: ${rows.mkString}")
    assert(acc.countRows(spark, "db", "t") == 1)

    // a FAILING SELECT aborts: the old table survives untouched, and the
    // staged tree is deleted (no hidden leftovers)
    intercept[Exception](spark.sql(
      "REPLACE TABLE graftrt.db.t TBLPROPERTIES ('pk'='/id') " +
        "AS SELECT CAST(raise_error('boom') AS STRING) AS raw FROM graftrt.db.t"))
    assert(spark.sql("SELECT raw FROM graftrt.db.t").collect()
      .map(_.getString(0)).exists(_.contains("\"id\":\"new\"")),
      "failed replace must leave the old table")
    // REPLACE of a missing table refuses; CREATE OR REPLACE accepts
    intercept[Exception](spark.sql(
      """REPLACE TABLE graftrt.db.nope AS SELECT '{"id":"x"}' AS raw"""))
    spark.sql("CREATE OR REPLACE TABLE graftrt.db.t2 " +
      "TBLPROPERTIES ('pk'='/id', 'buckets'='2') " +
      """AS SELECT '{"id":"a","v":1}' AS raw""")
    assert(spark.sql("SELECT count(*) FROM graftrt.db.t2").head().getLong(0) == 1L)

    // abandoned RTAS staging (simulating a driver crash mid-SELECT) is
    // TTL-swept by the container's vacuum
    val staged = java.nio.file.Paths.get(root, "db", "_rtas-t-deadbeef")
    java.nio.file.Files.createDirectories(staged)
    java.nio.file.Files.writeString(staged.resolve("junk.txt"), "x\n")
    val v = spark.sql("CALL graftrt.system.vacuum('db', 't', 0)").head()
    assert(v.getAs[Int]("staging_trees_removed") >= 1)
    assert(!java.nio.file.Files.exists(staged))
  }

  test("an incremental migrate keeps a stored line whose key does not parse in its bucket") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val tgt = newAccount("cat-badline-t")
    tgt.createDatabaseIfAbsent("db")
    tgt.createContainerIfAbsent("db", "c", ContainerProps(Seq("/id"), buckets = 4))
    val keyCols = Seq("__id", "__pk0")
    def bucketOf(key: String): Long =
      spark.range(1).select(pmod(xxhash64(lit(key)), lit(4L))).head().getLong(0)
    val ids = (0 until 24).map(i => s"d$i")
    tgt.upsertRaw(spark, "db", "c", graft.operators.RawMerge.srcKeyed(spark,
        ids.map(i => s"""{"id":"$i","v":1}""").toDF("raw"), Seq("/id"))
      .select(("raw" +: keyCols).map(col): _*), keyCols, Seq("/id"))
    // a line with no parseable key in bucket 1, which the empty key (the
    // key of such a line) does not hash to
    assert(bucketOf("") != 1L)
    Files.writeString(Paths.get(tgt.root, "db", "c", "data", "b=1", "part-external.txt"),
      "not json\n")
    val doc = ids.find(i => bucketOf(i + i) == 1L).get
    val src = newAccount("cat-badline-s")
    seedContainer(src, "db", "c", Seq("/id"), Seq(s"""{"id":"$doc","v":2}"""))

    val r = Orchestrator.migrateContainer(spark, src, tgt, "db", "c",
      Config(incremental = Some(true)))
    val lines = tgt.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSeq
    assert(lines.size == 25 && lines.count(_ == "not json") == 1,
      s"the merge must keep every stored line: $r")
    assert(lines.exists(l => l.contains(s""""id":"$doc"""") && l.contains("\"v\":2")))
    assert(r.updated == 1 && r.verified && r.verifyMode == "incremental", r.toString)
  }
}
