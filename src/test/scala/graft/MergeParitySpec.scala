package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ContainerProps, FileAccount}
import graft.streaming.Streams

/** The orchestrator, SQL `INSERT` and the streaming sync are three doorways
  * into one merge policy (`ContainerMerge`): fed the same raw lines against
  * copies of one target, they must land the same documents and dead-letter
  * the same lines. */
class MergeParitySpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, "merge-parity-spec")

  private def account(root: Path, name: String, docs: Seq[String],
                      buckets: Int = 4): FileAccount = {
    val acc = FileAccount(root.resolve(name).toString)
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/pk"), buckets = buckets))
    if (docs.nonEmpty) {
      val data = Paths.get(acc.root, "db", "c", "data")
      Files.createDirectories(data)
      Files.writeString(data.resolve("part-0.json"), docs.mkString("\n"))
    }
    acc
  }

  private def errorLines(acc: FileAccount): Long = {
    val dir = Paths.get(acc.errorsPath("db", "c"))
    if (!Files.isDirectory(dir)) 0L
    else Files.list(dir).iterator().asScala
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }
      .map(p => Files.readAllLines(p).asScala.count(_.nonEmpty).toLong).sum
  }

  test("orchestrator, SQL INSERT and syncContainers land the same state") {
    val root = Files.createTempDirectory(Paths.get("target"), "parity")
    val seed = account(root, "seed", Seq(
      """{"id":"skip","pk":"p","v":1}""",
      """{"id":"same","pk":"p","v":2,"_etag":"a","_ts":1}""",
      """{"id":"upd","pk":"q","v":3}"""))
    val lines = Seq(
      """{"id":"skip","pk":"p","v":1}""",                      // skip
      """{"v":2,"pk":"p","id":"same","_etag":"b","_ts":9}""",  // identical re-send
      """{"id":"upd","pk":"q","v":33}""",                      // update
      """{"id":"new","pk":"q","v":4}""",                       // insert
      "corrupt {{",                                            // error
      """{"id":"","pk":"p","v":5}""",                          // error: empty id
      """{"id":"dup","pk":"p","v":6}""",                       // one key, one file:
      """{"id":"dup","pk":"p","v":7}""")                       //   content-hash tiebreak
    val src = account(root, "src", lines)
    val targets = Seq("orchestrated", "sql", "synced").map { n =>
      val t = account(root, n, Nil)
      assert(Orchestrator.migrate(spark, seed, t).ok, s"seeding $n")
      t
    }
    val Seq(viaOrchestrator, viaSql, viaSync) = targets

    val r = Orchestrator.migrate(spark, src, viaOrchestrator).results.head
    assert(r.verified && r.skipped == 2 && r.updated == 1 && r.inserted == 2 &&
      r.errors == 2 && r.sourceCount == lines.size, r.toString)

    spark.conf.set("spark.sql.catalog.graftpar", classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftpar.root", viaSql.root)
    spark.read.text(Paths.get(src.root, "db", "c", "data", "part-0.json").toString)
      .createOrReplaceTempView("parity_src")
    spark.sql("INSERT INTO graftpar.db.c SELECT value FROM parity_src")

    val progress = scala.collection.mutable.ArrayBuffer.empty[Streams.SyncBatchProgress]
    Streams.syncContainers(spark, src, viaSync, "db", "c",
      root.resolve("cp").toString, onBatch = progress += _).awaitTermination()
    assert(progress.map(_.srcRows).sum == lines.size &&
      progress.map(_.mergedRows).sum == 5 && progress.map(_.errorRows).sum == 2,
      progress.toString)

    def state(acc: FileAccount): Seq[String] =
      acc.readRaw(spark, "db", "c").collect().map(_.getString(0)).sorted.toSeq
    val expected = state(viaOrchestrator)
    assert(expected.size == 5 && expected.count(_.contains("\"id\":\"dup\"")) == 1 &&
      expected.exists(_.contains("\"v\":33")), expected.mkString("\n"))
    assert(state(viaSql) == expected, "SQL INSERT must land the orchestrator's state")
    assert(state(viaSync) == expected, "syncContainers must land the orchestrator's state")
    assert(targets.map(errorLines) == Seq(2L, 2L, 2L),
      "every doorway must dead-letter the same two lines")
  }

  test("the sink rewrites changed and stray buckets from the plan alone: full, incremental, SQL") {
    val root = Files.createTempDirectory(Paths.get("target"), "sinkparity")
    val seed = account(root, "seed",
      (0 until 40).map(i => f"""{"id":"k$i%02d","pk":"p${i % 4}","v":$i}"""), buckets = 16)
    val stray = Seq("""{"id":"s1","pk":"p1","v":-1}""", """{"id":"s2","pk":"p2","v":-2}""")
    val changed = Seq(
      """{"id":"k05","pk":"p1","v":500}""",   // update
      """{"id":"s1","pk":"p1","v":100}""",    // update of a stray's document
      """{"id":"n1","pk":"p3","v":7}""")      // insert
    val src = account(root, "src", changed :+ """{"id":"k06","pk":"p2","v":6}""") // + a skip
    def keyOf(doc: String): String = "\"id\":\"([^\"]+)\"".r.findFirstMatchIn(doc).get.group(1)
    def mergeKey(doc: String): String =
      keyOf(doc) + "\"pk\":\"([^\"]+)\"".r.findFirstMatchIn(doc).get.group(1)
    def state(acc: FileAccount): Seq[String] =
      acc.readRaw(spark, "db", "c").collect().map(_.getString(0)).sorted.toSeq

    for (doorway <- Seq("full", "incremental", "sql")) {
      val t = account(root, s"tgt-$doorway", Nil, buckets = 16)
      assert(Orchestrator.migrate(spark, seed, t).ok)
      val strayFile = Paths.get(t.root, "db", "c", "data", "zz-stray.json")
      Files.writeString(strayFile, stray.mkString("\n"))
      val before = state(t)
      val preSigs = t.bucketSignatures("db", "c")
      doorway match {
        case "sql" =>
          spark.conf.set("spark.sql.catalog.graftsink", classOf[graft.core.GraftCatalog].getName)
          spark.conf.set("spark.sql.catalog.graftsink.root", t.root)
          spark.read.text(Paths.get(src.root, "db", "c", "data", "part-0.json").toString)
            .createOrReplaceTempView("sink_src")
          spark.sql("INSERT INTO graftsink.db.c SELECT value FROM sink_src")
        case mode =>
          val r = Orchestrator.migrate(spark, src, t,
            Orchestrator.Config(incremental = Some(mode == "incremental"))).results.head
          assert(r.verified && r.verifyMode == mode && r.inserted == 1 &&
            r.updated == 2 && r.skipped == 1, r.toString)
      }
      val gone = changed.map(keyOf).toSet
      val expected = (before.filterNot(d => gone(keyOf(d))) ++ changed).sorted
      assert(state(t) == expected, s"$doorway: before - changed keys + changed rows")
      val lines = t.readRaw(spark, "db", "c").count()
      assert(lines == 43 && t.countRows(spark, "db", "c") == lines &&
        t.metadataRowCount("db", "c").contains(lines),
        s"$doorway: countRows, metadataRowCount and the line count must agree")
      assert(!Files.exists(strayFile), s"$doorway: the stray must be absorbed")
      // the layout's bucket of a merge key: pmod(xxhash64(id ++ pk), buckets)
      val rewritten = (changed ++ stray).map(d => spark.sql(
        s"SELECT pmod(xxhash64('${mergeKey(d)}'), 16L)").head().getLong(0)).toSet
      val untouched = preSigs.keySet -- rewritten
      val postSigs = t.bucketSignatures("db", "c")
      assert(untouched.nonEmpty && untouched.forall(b => postSigs.get(b) == preSigs.get(b)),
        s"$doorway: untouched buckets must keep their listing signatures")
    }
  }
}
