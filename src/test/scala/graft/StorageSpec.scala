package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ContainerProps, FileAccount}

/** A RawLocalFileSystem under a NON-DEFAULT scheme: resolving it requires
  * going through the Hadoop `fs.<scheme>.impl` registry of the session's
  * configuration — exactly the boundary a cluster deployment crosses for
  * `hdfs://`/`s3a://`. If any account code still touched `java.nio.file`
  * directly, every call against `graftfs:` URIs would fail. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** A scheme whose connector advertises SERVER-SIDE COPY — the object-store
  * deployment shape ([[graft.core.ServerSideCopy]]): `copyFile` must route
  * byte movement through the connector (S3 CopyObject analog), not stream
  * through the JVM. Copies are counted so the spec can prove the snapshot/
  * restore path actually took the fast path. */
class GraftCopyFs extends org.apache.hadoop.fs.RawLocalFileSystem
    with graft.core.ServerSideCopy {
  override def getUri: java.net.URI = java.net.URI.create("graftcp:///")
  override def getScheme: String = "graftcp"
  override def copyInStore(src: org.apache.hadoop.fs.Path,
                           dst: org.apache.hadoop.fs.Path): Long = {
    GraftCopyFs.copies.incrementAndGet()
    mkdirs(dst.getParent)
    org.apache.hadoop.fs.FileUtil.copy(this, src, this, dst,
      /*deleteSource=*/ false, /*overwrite=*/ true, getConf)
    getFileStatus(dst).getLen
  }
}
object GraftCopyFs {
  val copies = new java.util.concurrent.atomic.AtomicLong(0)
}

/** A local filesystem whose renames and deletes fail by the name of the
  * path they act on — the steps of [[graft.core.Storage.swapDir]]:
  * `SwapFaultFs.fault(name)` = Some(true) throws (the process dies at that
  * step), Some(false) refuses (the call returns false), None proceeds. */
class SwapFaultFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("swapfault:///")
  override def getScheme: String = "swapfault"
  private def proceed(p: org.apache.hadoop.fs.Path): Boolean =
    SwapFaultFs.fault(p.getName) match {
      case Some(true) => throw new java.io.IOException(s"crash at $p")
      case Some(false) => false
      case None => true
    }
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    proceed(src) && super.rename(src, dst)
  override def delete(p: org.apache.hadoop.fs.Path, recursive: Boolean): Boolean =
    proceed(p) && super.delete(p, recursive)
}
object SwapFaultFs {
  @volatile var fault: String => Option[Boolean] = _ => None
  /** Run `body` with `f` armed; disarmed however it ends. */
  def armed[T](f: String => Option[Boolean])(body: => T): T = {
    fault = f
    try body finally fault = _ => None
  }
}

/** A local filesystem that counts the metadata calls (`listStatus`,
  * `getFileStatus`) the engine's own code makes: calls whose nearest
  * caller outside Hadoop, the JDK and Scala is in `graft.core`. Spark's
  * file index and commit protocol are not counted. */
class ListCountFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("listcount:///")
  override def getScheme: String = "listcount"
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (ListCountFs.tick()) ListCountFs.listed.add(p.getName)
    super.listStatus(p)
  }
  override def getFileStatus(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    ListCountFs.tick(); super.getFileStatus(p)
  }
}
object ListCountFs {
  val calls = new java.util.concurrent.atomic.AtomicLong
  /** Names of the directories the engine listed, once per listing. */
  val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val skipped = Seq("org.apache.hadoop.", "java.", "jdk.", "scala.", "graft.ListCountFs")
  def reset(): Unit = { calls.set(0); listed.clear() }
  /** Count the call when the engine made it; true when it did. */
  def tick(): Boolean = {
    val engine = Thread.currentThread.getStackTrace.iterator.map(_.getClassName)
      .find(c => !skipped.exists(c.startsWith)).exists(_.startsWith("graft.core."))
    if (engine) calls.incrementAndGet()
    engine
  }
}

/** Proof of the [[graft.core.Storage]] boundary (SURVEY §2 A-storage /
  * round-5 port): the whole account surface — catalog, bucketed upsert,
  * sidecar counts, signatures, stray absorption — runs against a filesystem
  * known only to the Hadoop configuration. */
class StorageSpec extends AnyFunSuite {
  lazy val spark = {
    val s = graft.core.Sessions.local(4, "storage-spec")
    // register the scheme the way a deployment does: in the Hadoop
    // configuration every reader/writer (and Storage) resolves against
    s.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    s
  }

  private def newAccount(): (FileAccount, java.nio.file.Path) = {
    spark // force init (registers the scheme before any Storage call)
    val tmp = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graftfs-acct")
    (FileAccount("graftfs:" + tmp.toAbsolutePath), tmp)
  }

  test("catalog surface works on a custom-scheme FileSystem") {
    val (acct, local) = newAccount()
    assert(acct.testConnection())
    assert(acct.listDatabases().isEmpty)
    acct.createDatabaseIfAbsent("db")
    acct.createContainerIfAbsent("db", "c",
      ContainerProps(Seq("/pk"), buckets = 4))
    assert(acct.listDatabases() == Seq("db"))
    assert(acct.listContainers("db") == Seq("c"))
    val props = acct.containerProperties("db", "c")
    assert(props.pkPaths == Seq("/pk") && props.buckets == 4)
    // the bytes really landed on the backing store the scheme maps to
    assert(java.nio.file.Files.exists(local.resolve("db/c/_meta.json")),
      "metadata must reach the scheme's backing filesystem")
  }

  test("bucketed upsert + sidecar counts + pruned reads work on graftfs://") {
    import spark.implicits._
    val (acct, local) = newAccount()
    graft.functions.GraftFunctions.register(spark)
    acct.createDatabaseIfAbsent("db")
    acct.createContainerIfAbsent("db", "c",
      ContainerProps(Seq("/pk"), buckets = 4))
    val pk = Seq("/pk")
    val keyCols = Seq("__id", "__pk0")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      graft.operators.RawMerge.srcKeyed(spark, df, pk)
        .select(("raw" +: keyCols).map(col): _*)

    val docs = (0 until 20)
      .map(i => s"""{"id":"d$i","pk":"p${i % 3}","v":$i}""").toDF("raw")
    val affected = acct.upsertRaw(spark, "db", "c", keyed(docs), keyCols, pk)
    assert(affected.nonEmpty)
    assert(acct.countRows(spark, "db", "c") == 20)
    assert(acct.readRaw(spark, "db", "c").count() == 20)
    assert(acct.dataBytes("db", "c") > 0)
    assert(java.nio.file.Files.isDirectory(local.resolve("db/c/data")),
      "bucket layout must land on the backing filesystem")

    // incremental second upsert: one changed doc rewrites only its bucket
    val sigsBefore = acct.bucketSignatures("db", "c")
    val delta = Seq("""{"id":"d1","pk":"p1","v":99}""").toDF("raw")
    val affected2 = acct.upsertRaw(spark, "db", "c", keyed(delta), keyCols, pk)
    assert(affected2.size == 1)
    val sigsAfter = acct.bucketSignatures("db", "c")
    val untouched = sigsBefore.keySet -- affected2
    assert(untouched.forall(b => sigsBefore(b) == sigsAfter(b)),
      "unaffected buckets must keep their listing signatures")
    assert(acct.countRows(spark, "db", "c") == 20)
    // pruned read covers the rewritten bucket
    val pruned = acct.readRawBuckets(spark, "db", "c", affected2)
    assert(pruned.filter(col("raw").contains("\"v\":99")).count() == 1)
  }

  test("full migration between two custom-scheme accounts (the reference's actual job)") {
    import java.nio.file.{Files => JF}
    val (src, srcLocal) = newAccount()
    val (tgt, _) = newAccount()
    src.createDatabaseIfAbsent("db")
    src.createContainerIfAbsent("db", "c",
      ContainerProps(Seq("/pk"), buckets = 4))
    val data = srcLocal.resolve("db/c/data")
    JF.createDirectories(data)
    JF.writeString(data.resolve("f1.json"), (0 until 30)
      .map(i => s"""{"id":"d$i","pk":"p${i % 3}","v":$i}""").mkString("\n"))

    // initial full migration src -> tgt, both behind graftfs://
    val r1 = Orchestrator.migrateContainer(spark, src, tgt, "db", "c",
      Orchestrator.Config())
    assert(r1.verified && r1.verifyMode == "full" &&
      r1.inserted == 30 && r1.targetCount == 30, r1.toString)

    // delta run: 2 updates + 1 insert — auto-incremental (source bytes much
    // smaller than target), bucket-pruned verify, all through the scheme
    JF.writeString(data.resolve("f1.json"),
      Seq("""{"id":"d1","pk":"p1","v":100}""",
        """{"id":"d2","pk":"p2","v":200}""",
        """{"id":"d99","pk":"p0","v":99}""").mkString("\n"))
    val r2 = Orchestrator.migrateContainer(spark, src, tgt, "db", "c",
      Orchestrator.Config())
    assert(r2.verified && r2.verifyMode == "incremental" &&
      r2.inserted == 1 && r2.updated == 2 && r2.targetCount == 31, r2.toString)

    // the summary sink also writes through the scheme
    val sumPath = "graftfs:" + srcLocal.toAbsolutePath.resolve("summary.json")
    Orchestrator.writeSummary(
      Orchestrator.Summary(Seq(r1, r2), durationSec = 1.0), sumPath)
    assert(JF.readString(srcLocal.resolve("summary.json")).contains("\"verified\": true"))
  }

  test("stray files on the custom scheme are absorbed into the layout") {
    import spark.implicits._
    val (acct, local) = newAccount()
    graft.functions.GraftFunctions.register(spark)
    acct.createDatabaseIfAbsent("db")
    acct.createContainerIfAbsent("db", "c",
      ContainerProps(Seq("/pk"), buckets = 4))
    val pk = Seq("/pk")
    val keyCols = Seq("__id", "__pk0")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      graft.operators.RawMerge.srcKeyed(spark, df, pk)
        .select(("raw" +: keyCols).map(col): _*)
    acct.upsertRaw(spark, "db", "c",
      keyed(Seq("""{"id":"a","pk":"p","v":1}""").toDF("raw")), keyCols, pk)
    // external writer drops a file at the data/ root (via plain local IO —
    // the account must SEE it through the graftfs lens)
    java.nio.file.Files.writeString(local.resolve("db/c/data/external.txt"),
      """{"id":"x","pk":"p","v":7}""" + "\n")
    assert(acct.countRows(spark, "db", "c") == 2)
    acct.upsertRaw(spark, "db", "c",
      keyed(Seq("""{"id":"b","pk":"p","v":2}""").toDF("raw")), keyCols, pk)
    assert(!java.nio.file.Files.exists(local.resolve("db/c/data/external.txt")),
      "stray must be absorbed into the bucket layout")
    assert(acct.countRows(spark, "db", "c") == 3)
    assert(acct.readRaw(spark, "db", "c")
      .filter(col("raw").contains("\"id\":\"x\"")).count() == 1)
  }

  test("key delete with a stray present: an absent key is a no-op, a real delete absorbs the stray") {
    import spark.implicits._
    import java.nio.file.Files
    val (acct, local) = newAccount()
    graft.functions.GraftFunctions.register(spark)
    acct.createDatabaseIfAbsent("db")
    acct.createContainerIfAbsent("db", "c",
      ContainerProps(Seq("/id"), buckets = 4))
    val pk = Seq("/id")
    val keyCols = Seq("__id", "__pk0")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      graft.operators.RawMerge.srcKeyed(spark, df, pk)
        .select(("raw" +: keyCols).map(col): _*)
    // the layout bucket of an /id-pk document: its merge key is id ++ id
    def bucketOf(id: String): Long =
      spark.range(1).select(pmod(xxhash64(lit(id + id)), lit(4L))).head().getLong(0)
    val ids = (0 until 24).map(i => s"d$i")
    acct.upsertRaw(spark, "db", "c",
      keyed(ids.map(i => s"""{"id":"$i","v":1}""").toDF("raw")), keyCols, pk)
    val victim = ids.head
    val vb = bucketOf(victim)
    // the stray's rows all key to one bucket other than the victim's
    val sb = ids.map(bucketOf).find(_ != vb).get
    val neighbours = ids.filter(bucketOf(_) == sb)
    val strayIds = (0 until 200).map(i => s"s$i").filter(bucketOf(_) == sb).take(2)
    val stray = local.resolve("db/c/data/external.txt")
    Files.writeString(stray,
      strayIds.map(i => s"""{"id":"$i","v":2}""").mkString("", "\n", "\n"))
    val strayBytes = Files.readAllBytes(stray)
    val sigs0 = acct.bucketSignatures("db", "c")

    assert(acct.deleteByMergeKeys(spark, "db", "c", Seq("nopenope")) == 0L)
    assert(acct.bucketSignatures("db", "c") == sigs0,
      "deleting an absent key must not rewrite anything")
    assert(java.util.Arrays.equals(Files.readAllBytes(stray), strayBytes),
      "deleting an absent key must leave the stray as it was")

    assert(acct.deleteByMergeKeys(spark, "db", "c", Seq(victim + victim)) == 1L)
    assert(!Files.exists(stray), "a real delete absorbs the stray")
    val sigs1 = acct.bucketSignatures("db", "c")
    assert(sigs1.keySet.filter(b => sigs0.get(b) != sigs1.get(b)) == Set(vb, sb),
      "exactly the victim's bucket and the stray's bucket rewrite")
    val docs = acct.readRaw(spark, "db", "c").collect().map(_.getString(0))
    (neighbours ++ strayIds).foreach { i =>
      assert(docs.count(_.contains(s""""id":"$i"""")) == 1, s"$i must survive once")
    }
    assert(!docs.exists(_.contains(s""""id":"$victim"""")))
    val lines = {
      import scala.jdk.CollectionConverters._
      Files.walk(local.resolve("db/c/data")).iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => Files.readAllLines(p).size.toLong).sum
    }
    assert(lines == 25L)
    assert(acct.countRows(spark, "db", "c") == lines)
    assert(acct.metadataRowCount("db", "c").contains(lines))
  }

  test("a stored line whose key does not parse keeps its bucket through a direct load and a key delete") {
    import spark.implicits._
    import java.nio.file.Files
    val (acct, local) = newAccount()
    graft.functions.GraftFunctions.register(spark)
    acct.createDatabaseIfAbsent("db")
    acct.createContainerIfAbsent("db", "c",
      ContainerProps(Seq("/id"), buckets = 4))
    val pk = Seq("/id")
    val keyCols = Seq("__id", "__pk0")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      graft.operators.RawMerge.srcKeyed(spark, df, pk)
        .select(("raw" +: keyCols).map(col): _*)
    def bucketOf(key: String): Long =
      spark.range(1).select(pmod(xxhash64(lit(key)), lit(4L))).head().getLong(0)
    val ids = (0 until 24).map(i => s"d$i")
    acct.upsertRaw(spark, "db", "c",
      keyed(ids.map(i => s"""{"id":"$i","v":1}""").toDF("raw")), keyCols, pk)
    // a line with no parseable key, placed in a bucket other than the one
    // the empty key hashes to (which holds the `sharing` documents)
    val empty = bucketOf("")
    val (away, sharing) = ids.partition(i => bucketOf(i + i) != empty)
    assert(away.nonEmpty && sharing.nonEmpty)
    val home = bucketOf(away.head + away.head)
    Files.writeString(local.resolve(s"db/c/data/b=$home/part-external.txt"),
      "not json\n")
    def lines(): Seq[String] =
      acct.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSeq

    acct.upsertRaw(spark, "db", "c",
      keyed(Seq(s"""{"id":"${away.head}","v":2}""").toDF("raw")), keyCols, pk)
    assert(lines().size == 25 && lines().count(_ == "not json") == 1,
      "a direct load must keep every other stored line")
    sharing.foreach(i => assert(lines().exists(_.contains(s""""id":"$i""""))))

    assert(acct.deleteByMergeKeys(spark, "db", "c",
      Seq(away.head + away.head)) == 1L)
    assert(lines().size == 24 && lines().count(_ == "not json") == 1,
      "a key delete must keep every other stored line")
    assert(acct.countRows(spark, "db", "c") == 24)
  }

  test("snapshot/restore route file copies through the connector's server-side copy") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftcp.impl", classOf[GraftCopyFs].getName)
    val tmp = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "graftcp-acct")
    val acct = FileAccount("graftcp:" + tmp.toAbsolutePath)
    graft.functions.GraftFunctions.register(spark)
    acct.createDatabaseIfAbsent("db")
    acct.createContainerIfAbsent("db", "c", ContainerProps(Seq("/id"), buckets = 2))
    val keyCols = Seq("__id", "__pk0")
    val docs = (1 to 12).map(i => s"""{"id":"d$i","v":$i}""").toDF("raw")
    val keyed = graft.operators.RawMerge.srcKeyed(spark, docs, Seq("/id"))
      .select(("raw" +: keyCols).map(col): _*)
    acct.upsertRaw(spark, "db", "c", keyed, keyCols, Seq("/id"))

    GraftCopyFs.copies.set(0)
    val info = acct.snapshotContainer("db", "c", "fast")
    assert(info.files > 0)
    assert(GraftCopyFs.copies.get() >= info.files,
      "every snapshot data-file copy must take the server-side fast path")
    // the fast-path copy produced a faithful, readable snapshot
    assert(acct.readRaw(spark, "db", s"c/_snapshots/fast").count() == 12)

    val before = GraftCopyFs.copies.get()
    assert(acct.restoreSnapshot("db", "c", "fast") > 0)
    assert(GraftCopyFs.copies.get() > before,
      "restore must route through the same server-side copy hook")
    assert(acct.countRows(spark, "db", "c") == 12)

    // stream-path contract on the DEFAULT store: copyFile overwrites and
    // leaves no dot-prefixed staging leftovers at the destination
    val store = graft.core.Storage.hadoop
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "copyfile")
    java.nio.file.Files.writeString(dir.resolve("a.txt"), "hello")
    java.nio.file.Files.writeString(dir.resolve("b.txt"), "stale-longer-content")
    assert(store.copyFile(s"$dir/a.txt", s"$dir/b.txt") == 5L)
    assert(java.nio.file.Files.readString(dir.resolve("b.txt")) == "hello")
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("._copy-")).toSeq
    assert(leftovers.isEmpty, s"staging names must be renamed away: $leftovers")
  }

  test("object-store roots REFUSE IVF coordination without the single-writer opt-in") {
    spark // force init
    val store = graft.core.Storage.hadoop
    // the probe answers from the scheme, without loading a connector jar
    assert(!store.supportsAtomicRename("s3a://bucket/ivf"))
    assert(!store.supportsExclusiveCreate("s3a://bucket/ivf"))
    assert(!store.supportsAtomicRename("gs://bucket/ivf"))
    // local, default-scheme, and custom registered schemes stay capable
    assert(store.supportsAtomicRename("target/ivf-index"))
    assert(store.supportsExclusiveCreate("graftfs:/tmp/x"))
    // the deployment can extend the denylist for its own connector
    sys.props("graft.storage.nonAtomicSchemes") = "mystore"
    try assert(!store.supportsAtomicRename("mystore://x/y"))
    finally sys.props.remove("graft.storage.nonAtomicSchemes")

    // the refusal gate itself — the first statement of withIndexLock, which
    // EVERY index mutation (build miss-path, append) acquires: pointed at an
    // object-store root it fails fast with deployment guidance, before any
    // lock/publish IO
    val oldRoot = sys.props.get("graft.ivf.root")
    sys.props("graft.ivf.root") = "s3a://bucket/ivf"
    try {
      val ex = intercept[IllegalArgumentException] {
        graft.core.Artifact
          .requireCoordinationCapable("s3a://bucket/ivf/idx.lock")
      }
      assert(ex.getMessage.contains("atomic rename"))
      assert(ex.getMessage.contains("graft.ivf.singleWriter"))
      // the explicit opt-in accepts the same root (caller owns exclusivity)
      sys.props("graft.ivf.singleWriter") = "true"
      graft.core.Artifact
        .requireCoordinationCapable("s3a://bucket/ivf/idx.lock")
    } finally {
      sys.props.remove("graft.ivf.singleWriter")
      oldRoot match {
        case Some(v) => sys.props("graft.ivf.root") = v
        case None    => sys.props.remove("graft.ivf.root")
      }
    }
  }

  private def swapFaultRoot(prefix: String): (String, java.nio.file.Path) = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.swapfault.impl", classOf[SwapFaultFs].getName)
    val tmp = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), prefix).toAbsolutePath
    ("swapfault:" + tmp, tmp)
  }

  private def names(dir: java.nio.file.Path): Set[String] =
    Option(dir.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  test("swapDir: a crash at each step, or a refused swap rename, heals to the pre- or post-swap tree") {
    val (root, local) = swapFaultRoot("swap-primitive")
    val st = graft.core.Storage.hadoop
    val live = s"$root/live"
    val staging = s"$root/_next"
    // (fault on the name each step acts on, crash?, tree live holds after the heal)
    val cases = Seq(
      ("step 1 crash: rename live aside", (n: String) => n == "live", true, "pre"),
      ("step 2 crash: rename staging in", (n: String) => n == "_next", true, "pre"),
      ("step 3 crash: delete the trash", (n: String) => n.startsWith("live.trash-"), true, "post"),
      ("step 2 refused", (n: String) => n == "_next", false, "pre"))
    for ((what, at, crash, expected) <- cases) {
      st.deleteRecursive(live)
      st.writeString(s"$live/part-0", "pre")
      st.writeString(s"$live/b=1/part-0", "pre")
      st.writeString(s"$staging/part-0", "post")
      val e = intercept[Exception](SwapFaultFs.armed(n => if (at(n)) Some(crash) else None) {
        st.swapDir(staging, live)
      })
      if (!crash) {
        assert(e.isInstanceOf[IllegalStateException], s"$what: $e")
        assert(st.readString(s"$live/part-0") == "pre", s"$what: swapDir must roll back")
      }
      st.healSwap(live, _ == "_next")
      assert(st.readString(s"$live/part-0") == expected, what)
      assert(st.exists(s"$live/b=1/part-0") == (expected == "pre"), what)
      assert(names(local) == Set("live"), s"$what: leftovers ${names(local)}")
    }
    // a swap with no crash lands the new tree and leaves nothing behind
    st.writeString(s"$staging/part-0", "post")
    st.swapDir(staging, live)
    assert(st.readString(s"$live/part-0") == "post" && names(local) == Set("live"))
  }

  test("a re-bucket whose swap rename fails keeps every row; its rerun lands the new layout") {
    import spark.implicits._
    val (root, local) = swapFaultRoot("swap-rebucket")
    spark.conf.set("spark.sql.catalog.graftsfb", classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsfb.root", root)
    graft.functions.GraftFunctions.register(spark)
    val acct = FileAccount(root)
    acct.createDatabaseIfAbsent("db")
    acct.createContainerIfAbsent("db", "c", ContainerProps(Seq("/id"), buckets = 2))
    val keyCols = Seq("__id", "__pk0")
    val docs = (0 until 24).map(i => s"""{"id":"d$i","v":$i}""")
    acct.upsertRaw(spark, "db", "c",
      graft.operators.RawMerge.srcKeyed(spark, docs.toDF("raw"), Seq("/id"))
        .select(("raw" +: keyCols).map(col): _*), keyCols, Seq("/id"))
    def stored(): Set[String] =
      spark.sql("SELECT raw FROM graftsfb.db.c").collect().map(_.getString(0)).toSet

    intercept[Exception](SwapFaultFs.armed(n => if (n == "_rebucket") Some(false) else None) {
      spark.sql("CALL graftsfb.system.rebucket('db', 'c', 4)").collect()
    })
    assert(stored() == docs.toSet, "a failed swap must leave the container whole")
    assert(spark.sql("CALL graftsfb.system.rebucket('db', 'c', 4)").head().getLong(0) == 24L)
    assert(stored() == docs.toSet, "the rerun must keep every row")
    assert(acct.containerProperties("db", "c").buckets == 4)
    assert(acct.bucketDirList("db", "c").map(_._1).toSet.subsetOf((0L until 4L).toSet))
    assert(acct.countRows(spark, "db", "c") == 24L)
    assert(!names(local.resolve("db/c")).exists(_.contains(".trash-")))
  }

  test("an RTAS whose swap rename fails leaves the old table, and vacuum keeps it") {
    val (root, local) = swapFaultRoot("swap-rtas")
    spark.conf.set("spark.sql.catalog.graftsfr", classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsfr.root", root)
    spark.sql("CREATE NAMESPACE graftsfr.db")
    spark.sql("CREATE TABLE graftsfr.db.t (raw STRING) TBLPROPERTIES ('pk'='/id', 'buckets'='2')")
    val docs = (0 until 12).map(i => s"""{"id":"d$i","v":$i}""")
    spark.sql("INSERT INTO graftsfr.db.t VALUES " + docs.map(d => s"('$d')").mkString(", "))
    def stored(): Set[String] =
      spark.sql("SELECT raw FROM graftsfr.db.t").collect().map(_.getString(0)).toSet
    assert(stored() == docs.toSet)

    intercept[Exception](SwapFaultFs.armed(n => if (n.startsWith("_rtas-t-")) Some(false) else None) {
      spark.sql("REPLACE TABLE graftsfr.db.t TBLPROPERTIES ('pk'='/id', 'buckets'='4') " +
        """AS SELECT '{"id":"new","v":1}' AS raw""")
    })
    spark.sql("CALL graftsfr.system.vacuum('db', 't', 0)").collect()
    assert(stored() == docs.toSet, "the old table must stay readable with all its rows")
    assert(FileAccount(root).containerProperties("db", "t").buckets == 2)
    assert(names(local.resolve("db")) == Set("t"), names(local.resolve("db")).toString)
    assert(spark.sql("SHOW TABLES IN graftsfr.db").collect().map(_.getString(1)).toSeq == Seq("t"))
  }

  test("an RTAS whose swap rename is refused keeps the table's snapshots") {
    val (root, _) = swapFaultRoot("swap-rtas-history")
    spark.conf.set("spark.sql.catalog.graftsfh", classOf[graft.core.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsfh.root", root)
    spark.sql("CREATE NAMESPACE graftsfh.db")
    spark.sql("CREATE TABLE graftsfh.db.t (raw STRING) TBLPROPERTIES ('pk'='/id', 'buckets'='2')")
    val doc = """{"id":"d0","v":0}"""
    spark.sql(s"INSERT INTO graftsfh.db.t VALUES ('$doc')")
    val acct = FileAccount(root)
    acct.snapshotContainer("db", "t", "v1")

    intercept[Exception](SwapFaultFs.armed(n => if (n.startsWith("_rtas-t-")) Some(false) else None) {
      spark.sql("REPLACE TABLE graftsfh.db.t TBLPROPERTIES ('pk'='/id', 'buckets'='2') " +
        """AS SELECT '{"id":"new","v":1}' AS raw""")
    })
    assert(acct.listSnapshots("db", "t").map(_.tag) == Seq("v1"),
      "a refused swap must leave the table's published snapshots in place")
    assert(spark.sql("SELECT raw FROM graftsfh.db.t").collect().map(_.getString(0)).toSeq == Seq(doc))
  }

  test("an incremental migrate lists the target once before its sink and once after") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.listcount.impl", classOf[ListCountFs].getName)
    val local = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "listcount").toAbsolutePath
    def account(name: String, docs: Seq[String]): FileAccount = {
      val data = local.resolve(s"$name/db/c/data")
      java.nio.file.Files.createDirectories(data)
      java.nio.file.Files.writeString(data.resolve("part-0.json"), docs.mkString("\n"))
      FileAccount(s"listcount:${local.resolve(name)}")
    }
    val full = account("full", (0 until 64).map(i => s"""{"id":"d$i","v":$i}"""))
    val delta = account("delta", Seq("""{"id":"d1","v":-1}""", """{"id":"n1","v":1}""", "bad"))
    val tgt = FileAccount(s"listcount:${local.resolve("tgt")}")
    assert(Orchestrator.migrateContainer(spark, full, tgt, "db", "c", Orchestrator.Config()).verified)
    assert(tgt.bucketDirList("db", "c").size == 16)
    ListCountFs.reset()
    val r = Orchestrator.migrateContainer(spark, delta, tgt, "db", "c", Orchestrator.Config())
    val calls = ListCountFs.calls.get
    import scala.jdk.CollectionConverters._
    val perBucket = ListCountFs.listed.asScala.toSeq.filter(_.startsWith("b="))
      .groupMapReduce(identity)(_ => 1)(_ + _)
    assert(r.verified && r.verifyMode == "incremental" && r.updated == 1 &&
      r.inserted == 1 && r.errors == 1, r.toString)
    // one walk before the sink and one after list each bucket dir twice;
    // a walk per bucket (pre-signatures, re-sign, post-signatures, the
    // sidecar vouching) lists it again and adds 3 or more calls per bucket
    assert(perBucket.size == 16 && perBucket.values.forall(_ == 2),
      s"engine listings per bucket dir: $perBucket")
    assert(calls <= 162, s"metadata calls from graft.core: $calls")
  }
}
