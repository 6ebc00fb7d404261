package graft.core

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.RawMerge

/** Container metadata the engine acts on (A20/A21). The reference also
  * carries indexing policy and dedicated throughput (containers.py:16-24);
  * those are Cosmos provisioning concerns declared out of scope (SURVEY.md §2
  * Part B non-goals). `buckets` is this engine's physical-layout analogue of
  * Cosmos's pk-hash partitioning: the container's data directory is split
  * into `buckets` hash buckets of the merge key, which is what makes the
  * sink's incremental upsert prune — only buckets containing changed
  * documents are rewritten. */
case class ContainerProps(pkPaths: Seq[String] = Seq("/id"), buckets: Int = 16,
                          raw: Option[String] = None,
                          autocompactFiles: Option[Int] = None)

/** Outcome of one [[FileAccount.compactContainer]] pass. */
final case class CompactionStats(buckets: Set[Long], filesBefore: Long,
                                 filesAfter: Long, bytesRewritten: Long,
                                 straysAbsorbed: Long)

/** One published container snapshot ([[FileAccount.snapshotContainer]]). */
final case class SnapshotInfo(tag: String, createdMs: Long,
                              files: Long, bytes: Long)

/** One walk of a container's `data/` tree ([[FileAccount.listData]]);
  * `tree` is None when there is no `data/`. A migrate call lists its
  * target once before the sink and once after it, and reads the mode
  * rule's bytes, the bucket dirs, their signatures and the strays off those
  * two listings instead of walking the tree per bucket. */
final case class DataListing(dataDir: String, tree: Option[FileTree]) {
  private def files: Seq[FileMeta] = tree.fold(Seq.empty[FileMeta])(_.files)
  def exists: Boolean = tree.isDefined
  /** Bytes of every file under `data/`, hidden ones included. */
  def bytes: Long = files.map(_.size).sum
  /** The buckets that have a `b=<k>` directory. */
  lazy val buckets: Set[Long] =
    tree.fold(Set.empty[Long])(_.dirs.flatMap(DataListing.bucketId).toSet)
  /** Visible files directly under `data/`: strays. */
  def strays: Seq[String] = files.map(_.relPath)
    .filter(r => !r.contains('/') && !Storage.hidden(r))
    .map(r => new HPath(dataDir, r).toString)
  /** The listing signature of every bucket directory. */
  lazy val signatures: Map[Long, String] = {
    val inBucket = files.flatMap { f =>
      val i = f.relPath.indexOf('/')
      if (i < 0) None
      else DataListing.bucketId(f.relPath.take(i))
        .map(_ -> f.copy(relPath = f.relPath.drop(i + 1)))
    }.groupMap(_._1)(_._2)
    buckets.iterator.map(b => b -> DataListing.signature(inBucket.getOrElse(b, Nil))).toMap
  }
}

object DataListing {
  private val BucketName = "b=(\\d+)".r

  /** The bucket id of a `b=<k>` directory name. */
  def bucketId(name: String): Option[Long] = name match {
    case BucketName(k) => Some(k.toLong)
    case _ => None
  }

  /** Listing signature of one bucket directory's files (paths relative to
    * it): md5 over the sorted (name, size, mtime) triples of its data
    * files. The filter matches what Spark's readers scan: hidden
    * ("."-prefixed, e.g. local-FS .crc sidecars) and "_"-prefixed files
    * are invisible to the data path, so they do not enter it either. */
  def signature(files: Seq[FileMeta]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(files.filterNot(f => Storage.hidden(f.relPath))
        .map(f => s"${f.relPath}:${f.size}:${f.mtimeMs}").sorted
        .mkString(";").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

/** Outcome of one [[FileAccount.distinctKeys]] pass. */
final case class DistinctStats(estimate: Long, buckets: Int,
                               vouched: Int, resketched: Int)

/** File-backed account: the catalog surface of the reference
  * (/root/reference/src/clients.py, containers.py) over a directory tree
  * `root/<database>/<container>/{_meta.json, data/b=<k>/<part>.txt}`.
  *
  * `root` is a Hadoop URI (or a scheme-less local path): every metadata
  * operation goes through [[Storage]] — the Hadoop FileSystem API resolved
  * from the session's Hadoop configuration — and every data-path read/write
  * hands the same URIs to `spark.read`/`DataFrame.write`, so an account can
  * live on `file:///`, `hdfs://`, `s3a://`, or any registered
  * `fs.<scheme>.impl` without touching this class (the reference's "account"
  * is a Cosmos endpoint; here it is any storage a Spark reader can scan).
  *
  * Documents are RAW JSON lines — read and written as text, never through
  * schema inference, so unknown fields of any shape round-trip byte-exactly
  * (the reference's schemaless contract: migration.py:91-150 only ever
  * touches `id`, the pk paths, and the four system fields; everything else
  * passes through untouched). Metadata is a tiny `_meta.json` the driver
  * reads once per container — catalog calls are driver-side and out of the
  * data path, exactly like the reference's management-plane calls vs its
  * document loop.
  */
case class FileAccount(root: String) {
  @transient private lazy val store: Storage = Storage.hadoop

  private def p(parts: String*): String =
    parts.foldLeft(new HPath(root))((a, b) => new HPath(a, b)).toString

  /** Databases and containers: hidden names and [[Storage.swapDir]] trash
    * (an RTAS swap's trash sits beside the container it replaces) are not. */
  private def listDirs(dir: String): Seq[String] =
    store.listDirNames(dir)
      .filterNot(n => Storage.hidden(n) || n.contains(Storage.TrashInfix)).sorted

  /** A22: liveness probe — the reference calls list_databases on both
    * accounts before starting (clients.py:13-22). */
  def testConnection(): Boolean = store.isDirectory(root)

  /** A17. */
  def listDatabases(): Seq[String] = listDirs(root)

  /** A18: idempotent create (clients.py:40-49). */
  def createDatabaseIfAbsent(db: String): Unit = store.mkdirs(p(db))

  /** A19 (containers.py:78-89). */
  def listContainers(db: String): Seq[String] = listDirs(p(db))

  /** A20 with the reference's graceful fallback to pk `/id`
    * (containers.py:38-44). The engine interprets only `pk` and `buckets`;
    * everything else in `_meta.json` (the reference also carries indexing
    * policy and dedicated throughput, containers.py:16-24) is opaque
    * metadata kept in `raw` and replicated verbatim on container creation —
    * the same copy-what-you-don't-interpret posture as the document path. */
  def containerProperties(db: String, container: String): ContainerProps = {
    val meta = p(db, container, "_meta.json")
    if (!store.exists(meta)) ContainerProps()
    else {
      // driver-side JSON: {"pk": ["/a/b", ...], "buckets": 16, ...}
      val s = store.readString(meta)
      // pk paths come from the "pk" array ONLY — an indexing policy also
      // holds '/'-prefixed path strings and must not leak into the pk list
      val pks = "\"pk\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(s)
        .map(m => "\"(/[^\"]*)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
        .getOrElse(Seq.empty)
      val buckets = "\"buckets\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toInt).getOrElse(16)
      val autoc = "\"autocompact\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s)
        .map(_.group(1).toInt).filter(_ > 0)
      ContainerProps(if (pks.isEmpty) Seq("/id") else pks, buckets, Some(s), autoc)
    }
  }

  /** A21: recreate with matching metadata (containers.py:46-76) — the
    * source's `_meta.json` is copied byte-for-byte when available, so
    * indexing policy / throughput / unknown fields survive the migration. */
  def createContainerIfAbsent(db: String, container: String,
                              props: ContainerProps): Unit = {
    store.mkdirs(p(db, container))
    val meta = p(db, container, "_meta.json")
    if (!store.exists(meta))
      store.writeString(meta, props.raw.getOrElse(
        props.pkPaths.map(q => s""""$q"""").mkString(
          """{"pk": [""", ", ",
          s"""], "buckets": ${props.buckets}""" +
            props.autocompactFiles.fold("")(n => s""", "autocompact": $n""") +
            "}")))
  }

  /** Set/clear the container's auto-compaction file threshold — the one
    * MUTABLE container property (layout properties pk/buckets are fixed:
    * stored buckets hash by them). Edits `_meta.json` surgically so every
    * uninterpreted field (indexing policy, throughput, unknown keys)
    * survives byte-for-byte, same posture as container creation. */
  def setAutocompact(db: String, container: String, n: Option[Int]): Unit = {
    val meta = p(db, container, "_meta.json")
    val s =
      if (store.exists(meta)) store.readString(meta)
      else """{"pk": ["/id"], "buckets": 16}"""
    // remove an existing entry wherever it sits: the trailing-comma form
    // FIRST (a front-position field owns the comma after it), then the
    // leading-comma form (any later position)
    val stripped =
      ",?\\s*\"autocompact\"\\s*:\\s*\\d+".r.replaceAllIn(
        "\"autocompact\"\\s*:\\s*\\d+\\s*,\\s*".r.replaceAllIn(s, ""), "")
    val out = n match {
      case None => stripped
      case Some(v) =>
        require(v > 0, s"autocompact must be a positive file count, got $v")
        val idx = stripped.lastIndexOf('}')
        require(idx >= 0, s"malformed _meta.json for $db.$container")
        val bodyBlank = stripped.substring(
          stripped.indexOf('{') + 1, idx).trim.isEmpty
        stripped.substring(0, idx) +
          (if (bodyBlank) "" else ", ") + s""""autocompact": $v""" +
          stripped.substring(idx)
    }
    store.writeString(meta, out)
  }

  def hasData(db: String, container: String): Boolean =
    store.isDirectory(p(db, container, "data"))

  /** Container data directory as a URI/path string for Spark readers and
    * writers — the single place layout knowledge lives. */
  def dataPath(db: String, container: String): String = dataDir(db, container)

  /** A13 dead-letter directory (next to the data, inside the container). */
  def errorsPath(db: String, container: String): String =
    p(db, container, "_errors")

  /** Land dead-letter `lines` in `_errors` as one new file, with no Spark
    * job: written under a hidden name, then renamed to a unique visible
    * `part-<uuid>.txt`, so no reader sees a partial file. With `replace`
    * the channel's other visible files are deleted after the rename. */
  private[core] def writeErrors(db: String, container: String, lines: Seq[String],
                  replace: Boolean): Unit = {
    val dir = errorsPath(db, container)
    val name = s"part-${java.util.UUID.randomUUID()}.txt"
    val tmp = new HPath(dir, s".$name").toString
    store.writeString(tmp, lines.map(_ + "\n").mkString)
    if (!store.rename(tmp, new HPath(dir, name).toString)) {
      store.delete(tmp)
      throw new IllegalStateException(s"dead-letter publish failed: $tmp -> $name")
    }
    if (replace)
      store.listFilePaths(dir).filter { f =>
        val n = new HPath(f).getName
        n != name && !Storage.hidden(n)
      }.foreach(store.delete(_))
  }

  /** Staging directory for one SQL/streaming write (inside the container,
    * `_`-prefixed so scans and signature walks never see it). */
  def stagingPath(db: String, container: String, writeId: String): String =
    p(db, container, "_staging", writeId)

  /** Drop the count sidecar (with the data it vouched for — truncate). */
  def dropBucketCounts(db: String, container: String): Unit = {
    store.delete(countsPath(db, container)); ()
  }

  /** Truncate: drop the container's data tree and its count sidecar (the
    * metadata `_meta.json` survives — the container still exists, empty). */
  def truncateData(db: String, container: String): Unit = {
    store.deleteRecursive(dataPath(db, container))
    dropBucketCounts(db, container)
  }

  /** Bucket-pruned DELETE by full merge key (id ++ pk values — the exact
    * string [[upsertRaw]] buckets by): rewrites ONLY the buckets that
    * actually contain a matching key, the delete analogue of the
    * incremental upsert. Buckets a key hashes to but does not match in are
    * left byte-for-byte untouched (deleting an absent key is a no-op, not
    * a rewrite). Stray files are read (they can hold any key) and, when
    * a rewrite happens, absorbed into the layout like the upsert does.
    * `keys` is driver-bounded (it arrives from SQL IN-lists / equality
    * literals). Shape: the key buckets (+ strays) read once, one per-bucket
    * tally, the [[rewriteBuckets]] commit. Returns the number of deleted
    * documents. */
  def deleteByMergeKeys(spark: SparkSession, db: String, container: String,
                        keys: Seq[String]): Long = {
    GraftFunctions.register(spark)
    if (keys.isEmpty || !hasData(db, container)) return 0L
    val props = containerProperties(db, container)
    val keySet = keys.toSet
    val (read, _, strays) = readWithStrays(spark, db, container, props,
      keySet.map(ContainerBuckets.bucketOf(_, props.buckets)))
    read.fold(0L) { df =>
      val rows = RawMerge.storedKeyed(df, props.pkPaths, carry = Seq("__b", "__stray"))
        .withColumn("__del", concat_ws("", RawMerge.keyCols(props.pkPaths).map(col): _*)
          .isInCollection(keySet))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // per bucket: rows deleted, rows kept, stray rows
        val tally = rows.groupBy("__b").agg(count(when(col("__del"), lit(1))),
            count(when(!col("__del"), lit(1))), count(when(col("__stray"), lit(1))))
          .collect()
        val deleted = tally.map(_.getLong(1)).sum
        // rewrite set: the buckets that lose a row + (when rewriting anyway)
        // the buckets stray rows key to, so strays are absorbed like upsertRaw
        if (deleted > 0L) {
          val rewrite = tally.filter(r => r.getLong(1) > 0L || r.getLong(3) > 0L)
            .map(r => r.getLong(0) -> r.getLong(2)).toMap
          rewriteBuckets(db, container,
            rows.filter(!col("__del") && col("__b").isInCollection(rewrite.keySet))
              .select(col("raw"), col("__b").as("b")),
            rewrite, strays)
        }
        deleted
      } finally { rows.unpersist(); () }
    }
  }

  /** Total bytes under the container's data tree — driver-side file
    * metadata, used to pick full vs incremental merge mode. */
  def dataBytes(db: String, container: String): Long =
    store.walk(p(db, container, "data")).map(_.size).sum

  /** One walk of the container's data tree ([[DataListing]]). */
  private[graft] def listData(db: String, container: String): DataListing = {
    val dir = dataDir(db, container)
    DataListing(dir, store.tree(dir))
  }

  /** Bucket compaction (the engine's OPTIMIZE): every incremental upsert
    * rewrites its affected buckets with FRESH part files sized by the
    * batch, so a container fed by many small merges accumulates many small
    * files per bucket — and at 100 TB the small-file tax (per-file open
    * cost, listing weight, tiny input splits) dominates long before data
    * volume does. Compaction rewrites each oversubscribed bucket down to
    * `ceil(bucketBytes / targetBytes)` files (min 1), absorbing any stray
    * out-of-layout files along the way; buckets already at or under their
    * target file count are left byte-for-byte untouched, so the operation
    * is incremental and idempotent like the upsert it cleans up after.
    *
    * Selection is pure driver metadata (the bucket listing). The rewrite
    * reads ONLY the selected buckets (+ strays and the buckets they key
    * to) once, tallies each bucket's rows and landed bytes, splits each
    * bucket's rows into the file count its bytes call for (hash of the raw
    * line — size-balanced, content-independent of arrival order) and
    * commits through the bucket-rewrite tail every rewrite shares
    * ([[rewriteBuckets]]). Rows are never parsed (a stored row's bucket is
    * its directory), except strays. Returns (compacted bucket ids, files
    * before, files after, bytes rewritten, strays absorbed). */
  def compactContainer(spark: SparkSession, db: String, container: String,
                       targetBytes: Long = 128L << 20,
                       only: Option[Set[Long]] = None,
                       fileThreshold: Int = 1): CompactionStats = {
    GraftFunctions.register(spark)
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val noop = CompactionStats(Set.empty, 0L, 0L, 0L, 0L)
    if (!hasData(db, container)) return noop
    val props = containerProperties(db, container)

    def dataFiles(dir: String): Seq[FileMeta] =
      store.walk(dir).filterNot(f => Storage.hidden(f.relPath))
    def targetFileCount(bytes: Long): Long =
      math.max(1L, (bytes + targetBytes - 1L) / targetBytes)

    // `only` bounds the METADATA walk too (the auto-compaction hook passes
    // the upsert's affected buckets, keeping per-write upkeep O(affected)
    // rather than O(container)); the buckets strays key to join the
    // rewrite set through the read below whatever `only` says
    val listing: Map[Long, Seq[FileMeta]] = bucketDirList(db, container)
      .filter { case (b, _) => only.forall(_.contains(b)) }
      .map { case (b, dir) => b -> dataFiles(dir) }.toMap
    val oversubscribed: Set[Long] = listing.collect {
      case (b, fs) if fs.nonEmpty && fs.size >
          math.max(targetFileCount(fs.map(_.size).sum), fileThreshold.toLong) => b
    }.toSet
    val (read, rewrite, strays) =
      readWithStrays(spark, db, container, props, oversubscribed)
    if (read.isEmpty) return noop
    val filesBefore = rewrite.toSeq.map(b =>
      listing.getOrElse(b, dataFiles(bucketDir(db, container, b))))
    val strayBytes = strays.flatMap(store.fileMeta).map(_.size).sum

    val rows = read.get.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // per bucket: rows, and bytes exactly as the text writer lands them
      val tally: Map[Long, (Long, Long)] = rows.groupBy("__b")
        .agg(count(lit(1)), sum(octet_length(col("raw")) + 1))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // per-bucket slice counts, shipped as a BROADCAST frame, not a plan
      // literal: a full-container compaction of a many-bucket layout would
      // otherwise embed an O(buckets) map in every task's expression tree
      val sliceOf = tally.map { case (b, (_, bytes)) => b -> targetFileCount(bytes) }
      import spark.implicits._
      val out = rows
        .join(broadcast(sliceOf.toSeq.sorted.toDF("__b", "__nf")), Seq("__b"))
        .withColumn("__s", pmod(xxhash64(col("raw")), col("__nf")))
        .repartition(math.max(1L, sliceOf.values.sum).toInt, col("__b"), col("__s"))
        .select(col("raw"), col("__b").as("b"))
      rewriteBuckets(db, container, out,
        rewrite.map(b => b -> tally.get(b).fold(0L)(_._1)).toMap, strays)
    } finally { rows.unpersist(); () }
    val filesAfter = rewrite.toSeq.sorted
      .map(b => dataFiles(bucketDir(db, container, b)).size).sum
    CompactionStats(rewrite, filesBefore.map(_.size).sum + strays.size.toLong,
      filesAfter, filesBefore.flatten.map(_.size).sum + strayBytes,
      strays.size.toLong)
  }

  /** Re-bucket a container: rewrite the WHOLE data tree into a new
    * pk-hash layout of `newBuckets` buckets and update `_meta.json`. The
    * escape hatch for a bucket count mis-sized at creation — too few
    * buckets and incremental upserts rewrite too much per batch; too many
    * and the layout fragments. A full-container rewrite is the honest
    * cost (every row's bucket changes); it runs as ONE distributed pass
    * into a `_rebucket` staging tree (invisible to scans), then
    * [[Storage.swapDir]] replaces `data/` with it; a crashed swap heals
    * when the next container operation starts ([[healSwaps]]), and a
    * rerun re-keys every row from its content. Strays are absorbed (the
    * full read sees them); the sidecar is rebuilt with fresh counts and
    * signatures; a catalog stream over the container re-emits everything
    * from the new files (at-least-once per document version, the standard
    * contract). Returns the row count. */
  def rebucketContainer(spark: SparkSession, db: String, container: String,
                        newBuckets: Int): Long = {
    require(newBuckets > 0, s"bucket count must be positive, got $newBuckets")
    GraftFunctions.register(spark)
    healSwaps(db, container)
    val pkPaths = containerProperties(db, container).pkPaths
    if (!hasData(db, container)) {
      setBuckets(db, container, newBuckets)
      return 0L
    }
    val staging = p(db, container, "_rebucket")
    // one distributed pass: key every stored row (malformed rows key to
    // null → pmod(xxhash64(""), n)-style stable bucket, they stay stored
    // like the upsert path stores them), write the NEW layout to staging
    // (the overwrite clears a leftover staging tree)
    keyedRows(readRaw(spark, db, container), pkPaths, newBuckets)
      .select(col("raw"), col("__b").as("b"))
      .write.partitionBy("b").mode(SaveMode.Overwrite).text(staging)
    // per-bucket counts off the STAGED files (a second pass over the new
    // tree, not the old one — no lineage on the files the swap deletes)
    val counts: Map[Long, Long] = spark.read
      .option("recursiveFileLookup", "true").text(staging)
      .withColumn("__b",
        regexp_extract(input_file_name(), "/b=(\\d+)/", 1).cast("long"))
      .groupBy("__b").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    store.swapDir(staging, dataDir(db, container))
    setBuckets(db, container, newBuckets)
    writeBucketCounts(db, container,
      counts.toSeq.sortBy(_._1).map { case (b, n) =>
        b -> (n, dirSignature(bucketDir(db, container, b)))
      }.toMap)
    counts.values.sum
  }

  /** `_meta.json` surgery for the bucket count — same
    * preserve-uninterpreted-fields posture as [[setAutocompact]]. Private:
    * callers go through [[rebucketContainer]] (metadata alone must never
    * disagree with the stored layout). */
  private def setBuckets(db: String, container: String, n: Int): Unit = {
    val meta = p(db, container, "_meta.json")
    val s =
      if (store.exists(meta)) store.readString(meta)
      else """{"pk": ["/id"]}"""
    val re = "\"buckets\"\\s*:\\s*\\d+".r
    val out =
      if (re.findFirstIn(s).isDefined) re.replaceAllIn(s, s""""buckets": $n""")
      else {
        val idx = s.lastIndexOf('}')
        require(idx >= 0, s"malformed _meta.json for $db.$container")
        val bodyBlank = s.substring(s.indexOf('{') + 1, idx).trim.isEmpty
        s.substring(0, idx) +
          (if (bodyBlank) "" else ", ") + s""""buckets": $n""" + s.substring(idx)
      }
    store.writeString(meta, out)
  }

  /** The [[Storage.swapDir]] swaps that replace a container's trees, each
    * as (live tree, its staging siblings' names): an RTAS commit swaps the
    * whole container dir from `db/_rtas-<container>-<id>`; re-bucket and
    * restore swap `data/` from `_rebucket` / `_restore`. The container dir
    * comes first: `data/` and its trash live inside it. */
  private def swaps(db: String, container: String): Seq[(String, String => Boolean)] =
    Seq(p(db, container) -> (_.startsWith(s"_rtas-$container-")),
      dataDir(db, container) -> Set("_rebucket", "_restore"))

  /** Heal every crashed swap of the container ([[Storage.healSwap]]) —
    * run when a re-bucket, restore or RTAS starts ([[vacuumStaging]] heals
    * each swap too). Staging trees stay for their operation's rerun or for
    * the vacuum. */
  private[core] def healSwaps(db: String, container: String): Unit =
    swaps(db, container).foreach { case (live, _) => store.healSwap(live) }

  /** Remove ABANDONED staging trees (`_staging/<writeId>`): a SQL/streaming
    * write that dies between staging and commit leaves its tree behind (the
    * `_` prefix keeps it invisible to scans, but the bytes linger). A tree
    * is abandoned when nothing under it was modified within `ttlMs` — the
    * TTL is the guard against sweeping a LIVE write's staging (pick it
    * above the longest plausible stage-to-commit window; in-flight writers
    * keep their newest mtime current). The staging trees of the
    * container's swaps ([[swaps]]) follow the same TTL, after the swaps
    * are healed, and only while the live tree they would replace exists.
    * Driver metadata only. Returns the deleted tree paths. */
  def vacuumStaging(db: String, container: String, ttlMs: Long,
                    nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    def stale(dir: String): Boolean =
      store.walk(dir).map(_.mtimeMs).maxOption.getOrElse(0L) <= nowMs - ttlMs
    val base = p(db, container, "_staging")
    val writes =
      if (!store.isDirectory(base)) Seq.empty[String]
      else store.listDirNames(base).sorted.map(w => new HPath(base, w).toString)
    val swapStaging = swaps(db, container).flatMap { case (live, isStaging) =>
      store.healSwap(live)
      val parent = new HPath(live).getParent
      if (!store.isDirectory(live)) Nil
      else store.listDirNames(parent.toString).filter(isStaging).sorted
        .map(n => new HPath(parent, n).toString)
    }
    (writes ++ swapStaging).filter(stale).map { dir => store.deleteRecursive(dir); dir }
  }

  // ---- snapshots (time travel / restore) ----
  //
  // A snapshot is a full physical copy of the container's state — `data/`
  // tree, `_meta.json` (the LAYOUT at snapshot time: pk + bucket count),
  // and the `_counts.json` sidecar — under `_snapshots/<tag>/`, staged
  // into a `_`-prefixed temp name and PUBLISHED by one rename, so a
  // half-copied snapshot is never visible under its tag. The `_` prefix
  // keeps the whole subtree invisible to scans, signature walks, and
  // maintenance (compaction/re-bucket touch `data/` only; vacuum never
  // descends `_snapshots`). Because stored files are immutable-once-
  // published (every write path rewrites whole bucket dirs), a completed
  // snapshot never changes afterward.
  //
  // The 100 TB cost model is stated honestly: this is a COPY (IO-bound on
  // container bytes, driver-streamed here; an object-store deployment
  // remaps Storage.copyFile onto server-side copy and parallelizes per
  // file). The zero-copy alternative — manifest-pinning live files — would
  // require every rewrite path to defer deletes behind a reference count,
  // turning the engine's whole-directory swap model into manifest-tracked
  // immutable files (the Iceberg design); the copy keeps snapshots
  // ORTHOGONAL: no write path changes, no GC coupling, and a snapshot
  // survives even a corrupted live tree. SURVEY §9 addendum records the
  // trade.

  private def snapshotsBase(db: String, c: String): String =
    p(db, c, "_snapshots")

  private[core] def snapshotPath(db: String, c: String, tag: String): String =
    p(db, c, "_snapshots", tag)

  /** The one tag grammar every snapshot surface shares. Critically it
    * admits no `/` and no leading `.`, so a tag can never traverse out of
    * `_snapshots/` when spliced into a path (`VERSION AS OF '../../x'` and
    * the `c@tag` identifier spelling both funnel through this check). */
  private[core] def isValidTag(tag: String): Boolean =
    tag.matches("[A-Za-z0-9][A-Za-z0-9._-]*")

  private def requireTag(tag: String): Unit =
    require(isValidTag(tag),
      s"snapshot tag must be [A-Za-z0-9][A-Za-z0-9._-]*, got '$tag'")

  /** Copy one container tree (data + meta + counts sidecar) under `dst`.
    * Returns (files, bytes) copied. */
  private def copyContainerState(db: String, c: String, dst: String)
      : (Long, Long) = {
    var files = 0L; var bytes = 0L
    val dataSrc = dataPath(db, c)
    // skip checksum/hidden sidecars (.crc on raw local): the copy re-derives
    // whatever integrity metadata the destination filesystem wants
    store.walk(dataSrc)
      .filterNot(_.relPath.split('/').last.startsWith("."))
      .foreach { fm =>
        bytes += store.copyFile(s"$dataSrc/${fm.relPath}", s"$dst/data/${fm.relPath}")
        files += 1
      }
    Seq("_meta.json", "_counts.json").foreach { f =>
      val src = p(db, c, f)
      if (store.exists(src)) { store.copyFile(src, s"$dst/$f"); () }
    }
    (files, bytes)
  }

  /** Create snapshot `tag` of the container's current state. Refuses an
    * existing tag (snapshots are immutable; drop first to re-tag). */
  def snapshotContainer(db: String, c: String, tag: String,
                        nowMs: Long = System.currentTimeMillis())
      : SnapshotInfo = {
    requireTag(tag)
    require(store.isDirectory(p(db, c)), s"no such container $db.$c")
    val dst = snapshotPath(db, c, tag)
    if (store.exists(dst))
      throw new IllegalStateException(s"snapshot '$tag' already exists for $db.$c")
    val tmp = p(db, c, "_snapshots", s"_tmp-$tag")
    store.deleteRecursive(tmp)
    // Capture the live signatures BEFORE the copy starts: a write landing
    // mid-copy changes a bucket under the copier's feet, and vouching its
    // NEW count against the OLD copied bytes would let the snapshot's
    // COUNT(*) pushdown confidently disagree with the snapshot's data.
    val preSigs = bucketSignatures(db, c)
    val preCounts = readBucketCounts(db, c)
    val (files, bytes) = copyContainerState(db, c, tmp)
    // re-sign the copied sidecar over the SNAPSHOT tree: counts carry over
    // byte-for-byte, but vouching signatures include file mtimes, which a
    // copy changes — recompute per-bucket signatures under the staged tree
    // so metadata-only COUNT(*) stays free on snapshot reads. Only buckets
    // that were (a) vouched by the source sidecar BEFORE the copy and
    // (b) byte-identical AFTER it (signature stable across the copy
    // window) carry over; a bucket mutated mid-copy simply loses its free
    // count — snapshot reads of it fall back to scanning, never lie.
    val postSigs = bucketSignatures(db, c)
    val vouchedCounts = preCounts.filter {
      case (b, (_, sig)) =>
        preSigs.get(b).contains(sig) && postSigs.get(b).contains(sig)
    }
    if (vouchedCounts.nonEmpty)
      writeBucketCounts(db, s"$c/_snapshots/_tmp-$tag",
        vouchedCounts.map { case (b, (n, _)) =>
          b -> (n, dirSignature(new HPath(tmp, s"data/b=$b").toString))
        })
    store.writeString(s"$tmp/_snapshot.json",
      s"""{"tag": "$tag", "created_ms": $nowMs, "files": $files, "bytes": $bytes}""")
    if (!store.rename(tmp, dst))
      throw new IllegalStateException(
        s"snapshot publish failed: could not rename $tmp to $dst")
    SnapshotInfo(tag, nowMs, files, bytes)
  }

  /** All published snapshots of a container, oldest first. Staging leftovers
    * (`_tmp-*`) and anything without a manifest are invisible. */
  def listSnapshots(db: String, c: String): Seq[SnapshotInfo] = {
    val base = snapshotsBase(db, c)
    store.listDirNames(base).filterNot(_.startsWith("_")).sorted.flatMap { tag =>
      val mf = s"${new HPath(base, tag)}/_snapshot.json"
      if (!store.exists(mf)) None
      else {
        val s = store.readString(mf)
        def num(k: String): Long =
          s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(s)
            .map(_.group(1).toLong).getOrElse(0L)
        Some(SnapshotInfo(tag, num("created_ms"), num("files"), num("bytes")))
      }
    }.sortBy(_.createdMs)
  }

  def dropSnapshot(db: String, c: String, tag: String): Boolean = {
    requireTag(tag)
    store.deleteRecursive(snapshotPath(db, c, tag))
  }

  /** Retention sweep over published snapshots: drop every snapshot that is
    * BOTH outside the newest `keepLastN` (when set) AND created before
    * `olderThanMs` (when set) — each bound alone never widens the sweep,
    * so `keep_last_n => 7` with `older_than_ms` unset keeps exactly the
    * newest 7, and adding an age floor can only RETAIN more. At least one
    * bound is required: an unbounded call would silently erase the
    * container's whole history, which is a decision the caller must spell
    * out (`keep_last_n => 0` drops everything eligible by age, explicit).
    *
    * Readers are NOT coordinated with (same contract as Spark's own file
    * sources under retention): a batch `VERSION AS OF` or a streaming
    * `c@tag` replay of an expired tag sees the snapshot vanish between
    * listings — in-flight streams drain missing files as empty (the
    * engine's listing-consistency tolerance) and a fresh query fails with
    * table-not-found. Pin retention to be strictly longer than the
    * longest replay a pipeline runs; the snapshot a stream is replaying
    * THIS epoch is typically also the newest, which `keep_last_n >= 1`
    * always retains. Returns the dropped snapshots' metadata. */
  def expireSnapshots(db: String, c: String, keepLastN: Option[Int],
                      olderThanMs: Option[Long]): Seq[SnapshotInfo] = {
    require(keepLastN.isDefined || olderThanMs.isDefined,
      "expire_snapshots needs keep_last_n and/or older_than_ms: an " +
        "unbounded expiration would drop the container's entire history")
    keepLastN.foreach(n => require(n >= 0, s"keep_last_n must be >= 0, got $n"))
    val all = listSnapshots(db, c) // oldest first
    val protectedTags: Set[String] = keepLastN match {
      case Some(n) => all.takeRight(n).map(_.tag).toSet
      case None => Set.empty
    }
    val dropped = all.filter { s =>
      !protectedTags.contains(s.tag) && olderThanMs.forall(s.createdMs < _)
    }
    dropped.foreach(s => dropSnapshot(db, c, s.tag))
    dropped
  }

  /** Restore the container to snapshot `tag`: data tree, layout metadata
    * (`_meta.json` — the snapshot's bucket count governs its data), and
    * count sidecar all return to snapshot state. Copy-then-swap like
    * [[rebucketContainer]]: the full new tree lands in `_restore` first,
    * then [[Storage.swapDir]] replaces `data/` with it (an empty snapshot
    * just deletes `data/`); a crashed swap heals when the next container
    * operation starts, and the snapshot itself still holds every row.
    * Returns files restored. */
  def restoreSnapshot(db: String, c: String, tag: String): Long = {
    requireTag(tag)
    val snap = snapshotPath(db, c, tag)
    require(store.isDirectory(snap), s"no snapshot '$tag' for $db.$c")
    healSwaps(db, c)
    val staging = p(db, c, "_restore")
    store.deleteRecursive(staging)
    var files = 0L
    store.walk(s"$snap/data")
      .filterNot(_.relPath.split('/').last.startsWith("."))
      .foreach { fm =>
        store.copyFile(s"$snap/data/${fm.relPath}", s"$staging/${fm.relPath}")
        files += 1
      }
    val dir = dataPath(db, c)
    if (files > 0) store.swapDir(staging, dir) else { store.deleteRecursive(dir); () }
    val metaSrc = s"$snap/_meta.json"
    if (store.exists(metaSrc)) { store.copyFile(metaSrc, p(db, c, "_meta.json")); () }
    // sidecar: counts carry over, signatures re-derive over the restored
    // tree (copies change mtimes — same discipline as snapshot creation);
    // only buckets the snapshot's own sidecar vouches carry over
    val snapC = s"$c/_snapshots/$tag"
    val snapSigs = bucketSignatures(db, snapC)
    val vouched = readBucketCounts(db, snapC).filter {
      case (b, (_, sig)) => snapSigs.get(b).contains(sig)
    }
    if (vouched.nonEmpty)
      writeBucketCounts(db, c, vouched.map { case (b, (n, _)) =>
        b -> (n, dirSignature(bucketDir(db, c, b)))
      })
    else { store.delete(countsPath(db, c)); () }
    files
  }

  /** Content-level change profile from snapshot `from` to snapshot `to`
    * (either may be None = the LIVE state): per-document action counts
    * inserted / updated / unchanged / deleted, by merge key with
    * canonical-JSON comparison — the A10 change-detection kernel
    * ([[graft.operators.RawMerge.classifyAll]]) pointed at two versions
    * of the SAME container. This is the audit CDC surface: "what did the
    * last batch actually change", answerable after the fact from
    * snapshots alone. Layout-independent (raw reads, key join) — the two
    * states may even have different bucket counts; ONE full-outer merge
    * join, the same scale shape as a verification pass. */
  def diffSnapshots(spark: SparkSession, db: String, c: String,
                    from: Option[String], to: Option[String]): DataFrame = {
    def statePath(tag: Option[String]): String = tag match {
      case Some(t) =>
        requireTag(t)
        require(store.isDirectory(snapshotPath(db, c, t)),
          s"no snapshot '$t' for $db.$c")
        s"$c/_snapshots/$t"
      case None => c
    }
    val fromC = statePath(from); val toC = statePath(to)
    // pk paths from the TO state's metadata (pk is fixed at creation, so
    // both states agree; the to-side copy is simply the fresher read)
    val pkPaths = containerProperties(db, toC).pkPaths
    GraftFunctions.register(spark)
    graft.operators.RawMerge.classifyAll(spark,
        readRaw(spark, db, toC), readRaw(spark, db, fromC), pkPaths)
      .groupBy("action").agg(count(lit(1)).as("n"))
      .withColumn("change", expr(
        """CASE action WHEN 'insert' THEN 'inserted'
          |  WHEN 'update' THEN 'updated' WHEN 'skip' THEN 'unchanged'
          |  WHEN 'target' THEN 'deleted' ELSE action END""".stripMargin))
      .select(col("change"), col("n"))
      .orderBy("change")
  }

  private def dataDir(db: String, container: String): String =
    p(db, container, "data")

  // ---- per-bucket row-count sidecar (_counts.json) ----
  //
  // Maintained by `upsertRaw` (which already knows exactly which buckets it
  // rewrote and their row counts), so container totals become metadata sums
  // instead of full-container scans — the verification analogue of the
  // point-read: at 100 TB a 1% delta's verify must not re-read 100%.
  // Each entry carries a listing signature (file names + sizes + mtimes) so
  // external modification of a bucket is detected and that bucket — and only
  // that bucket — is recounted.

  private def countsPath(db: String, container: String): String =
    p(db, container, "_counts.json")

  /** Existing `data/b=<k>` bucket directories (id → path). */
  private[graft] def bucketDirList(db: String, container: String): Seq[(Long, String)] = {
    val d = dataDir(db, container)
    store.listDirNames(d).flatMap(name =>
      DataListing.bucketId(name).map(_ -> new HPath(d, name).toString)).sortBy(_._1)
  }

  /** Driver-metadata listing signature of one bucket directory: md5 over the
    * sorted (name, size, mtime) triples of its data files. Detects external
    * rewrites without reading a byte of data — with the honesty caveat that
    * the signal is only as sharp as the filesystem's mtime: an in-place
    * rewrite that preserves the file's name and byte length within the
    * store's mtime granularity (1 s on some filesystems) is NOT caught.
    * That's the standard listing-consistency trade (Spark's own file index
    * makes it for cache validity); a deployment that needs stronger vouching
    * should version files instead of rewriting them in place — which is what
    * the upsert sink does (fresh part files per rewrite). */
  private def dirSignature(dir: String): String =
    store.tree(dir).fold("")(t => DataListing.signature(t.files))

  /** Listing signatures of every bucket directory — pure driver metadata,
    * one walk of the data tree. Used by incremental verification to prove
    * unaffected buckets were left byte-for-byte untouched, without
    * scanning them. */
  def bucketSignatures(db: String, container: String): Map[Long, String] =
    listData(db, container).signatures

  /** Sidecar entries: bucket → (rowCount, listing signature at write time). */
  private[graft] def readBucketCounts(db: String, container: String): Map[Long, (Long, String)] = {
    val f = countsPath(db, container)
    if (!store.exists(f)) Map.empty
    else
      """\{"b":\s*(\d+),\s*"n":\s*(\d+),\s*"sig":\s*"([a-f0-9]*)"\}""".r
        .findAllMatchIn(store.readString(f))
        .map(m => m.group(1).toLong -> (m.group(2).toLong, m.group(3))).toMap
  }

  private def writeBucketCounts(db: String, container: String,
                                counts: Map[Long, (Long, String)]): Unit =
    store.writeString(countsPath(db, container),
      counts.toSeq.sortBy(_._1).map { case (b, (n, sig)) =>
        s"""{"b": $b, "n": $n, "sig": "$sig"}"""
      }.mkString("{\"buckets\": [\n  ", ",\n  ", "\n]}\n"))

  /** Exact container row count from DRIVER METADATA ALONE — Some(n) iff
    * every bucket directory's current listing signature matches its count
    * sidecar entry and no stray out-of-layout files exist; None the moment
    * anything is unvouched (an external write, a missing sidecar, a stray)
    * so the caller falls back to a counting scan ([[countRows]] — which
    * also self-heals the sidecar, making the NEXT call metadata-only).
    * This is the `SELECT count(*)` fast path: at 100 TB the difference
    * between a listing walk and reading every byte of the container. */
  def metadataRowCount(db: String, container: String): Option[Long] = {
    val listing = listData(db, container)
    if (listing.strays.nonEmpty) return None
    val sidecar = readBucketCounts(db, container)
    val sigs = listing.signatures
    if (sigs.forall { case (b, sig) => sidecar.get(b).exists(_._2 == sig) })
      Some(sigs.keys.toSeq.map(sidecar(_)._1).sum)
    else None
  }

  /** Container row count in O(metadata + unvouched buckets): buckets whose
    * current listing signature matches the sidecar contribute their recorded
    * count for free; buckets the sidecar can't vouch for (external writes,
    * missing sidecar) are scanned — and only those — plus any stray files.
    * Self-healing: recounted buckets are written back to the sidecar. */
  def countRows(spark: SparkSession, db: String, container: String): Long =
    countRows(spark, db, container, listData(db, container))

  /** [[countRows]] off a `listing` of the data tree taken since its last
    * write: the listing's signatures vouch the sidecar and name the
    * strays, so no walk of its own. */
  private[graft] def countRows(spark: SparkSession, db: String, container: String,
                               listing: DataListing): Long = {
    val sidecar = readBucketCounts(db, container)
    val sigs = listing.signatures
    val (vouched, unvouched) = sigs.keys.toSeq.sorted.partition(b =>
      sidecar.get(b).exists(_._2 == sigs(b)))
    val vouchedSum = vouched.map(sidecar(_)._1).sum
    val recounted: Map[Long, Long] =
      if (unvouched.isEmpty) Map.empty
      else {
        val perBucket = unvouched.map { b =>
          b -> spark.read.option("recursiveFileLookup", "true")
            .text(bucketDir(db, container, b)).count()
        }.toMap
        // repair the sidecar so the next call is metadata-only
        writeBucketCounts(db, container,
          (sidecar -- perBucket.keys) ++
            perBucket.map { case (b, n) => b -> (n, sigs(b)) })
        perBucket
      }
    val strays = listing.strays
    val strayCount =
      if (strays.isEmpty) 0L
      else spark.read.text(strays: _*).count()
    vouchedSum + recounted.values.sum + strayCount
  }

  /** Opt-in DEEP verification — the content-checksum vouching mode the
    * listing-signature caveat (see [[dirSignature]]) points to: ONE
    * distributed pass over the container computing, per bucket, the row
    * count and an order-independent content checksum (XOR of per-row
    * xxhash64 — mergeable, so it distributes as a partial+final aggregate).
    * Stray files at the data root land in bucket -1. Costs a full container
    * scan by design (that is what "content-verified" means); use it as the
    * periodic audit next to the free listing-signature vouching, and
    * compare two audits (or an audit against an expected state) to locate
    * corruption bucket-by-bucket. The collect is bounded by the bucket
    * count. */
  def auditBuckets(spark: SparkSession, db: String,
                   container: String): Map[Long, (Long, Long)] =
    readRaw(spark, db, container)
      .withColumn("__b",
        coalesce(nullif(regexp_extract(input_file_name(), "/b=(\\d+)/", 1),
          lit("")).cast("long"), lit(-1L)))
      .groupBy("__b")
      .agg(count(lit(1)).as("n"),
        coalesce(expr("bit_xor(xxhash64(raw))"), lit(0L)).as("h"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  // ---- per-bucket distinct-key HLL sketch sidecar (_sketches.json) ----
  //
  // The mergeable-summaries form of the count sidecar: each bucket carries a
  // serialized Datasketches HLL sketch of its merge keys (Spark's
  // hll_sketch_agg), vouched by the same listing signature as _counts.json.
  // Distinct-key estimation then costs O(metadata + changed buckets): vouched
  // buckets contribute their stored sketch for free, only unvouched buckets
  // re-sketch, and the container estimate is a driver-bounded union of
  // bucket sketches (HLL union is exact over sketches — the property that
  // makes per-bucket caching sound). At 100 TB this is the difference
  // between a COUNT(DISTINCT key) full scan per audit and a listing walk
  // plus the delta — the same O(delta) contract as incremental verify (A15),
  // applied to cardinality.

  private def sketchesPath(db: String, container: String): String =
    p(db, container, "_sketches.json")

  /** Sidecar entries: bucket → (serialized HLL sketch, listing signature at
    * sketch time). */
  private[graft] def readBucketSketches(
      db: String, container: String): Map[Long, (Array[Byte], String)] = {
    val f = sketchesPath(db, container)
    if (!store.exists(f)) Map.empty
    else
      """\{"b":\s*(\d+),\s*"sk":\s*"([A-Za-z0-9+/=]*)",\s*"sig":\s*"([a-f0-9]*)"\}""".r
        .findAllMatchIn(store.readString(f))
        .map(m => m.group(1).toLong ->
          (java.util.Base64.getDecoder.decode(m.group(2)), m.group(3))).toMap
  }

  private def writeBucketSketches(db: String, container: String,
      sketches: Map[Long, (Array[Byte], String)]): Unit =
    store.writeString(sketchesPath(db, container),
      sketches.toSeq.sortBy(_._1).map { case (b, (sk, sig)) =>
        s"""{"b": $b, "sk": "${java.util.Base64.getEncoder.encodeToString(sk)}", "sig": "$sig"}"""
      }.mkString("{\"buckets\": [\n  ", ",\n  ", "\n]}\n"))

  /** Distinct merge-key estimate in O(metadata + unvouched buckets):
    * buckets whose listing signature matches the sketch sidecar contribute
    * their stored sketch free; unvouched buckets — and only those — are
    * re-sketched in ONE distributed pass (grouped by physical bucket dir)
    * and written back, so the next call is metadata-only. Stray
    * out-of-layout files are sketched per call and unioned into the
    * estimate but never persisted (their keys belong to hash buckets whose
    * signatures cannot vouch for them; the next upsert absorbs them).
    * Self-healing and idempotent, like [[countRows]]. */
  def distinctKeys(spark: SparkSession, db: String,
                   container: String): DistinctStats = {
    GraftFunctions.register(spark)
    val props = containerProperties(db, container)
    def sketchOf(df: DataFrame): DataFrame =
      RawMerge.storedKeyed(df, props.pkPaths, carry = Seq("__b"))
        .select(col("__b"),
          concat_ws("", RawMerge.keyCols(props.pkPaths).map(col): _*).as("__k"))
        .groupBy("__b").agg(expr("hll_sketch_agg(__k)").as("sk"))

    val sidecar = readBucketSketches(db, container)
    val dirs = bucketDirList(db, container)
    val sigs = dirs.map { case (b, dir) => b -> dirSignature(dir) }.toMap
    val (vouched, unvouched) = dirs.partition { case (b, _) =>
      sidecar.get(b).exists(_._2 == sigs(b)) }
    val sketched: Map[Long, Array[Byte]] =
      if (unvouched.isEmpty) Map.empty
      else sketchOf(
        spark.read.option("recursiveFileLookup", "true")
          .text(unvouched.map(_._2): _*)
          .select(col("value").as("raw"))
          .withColumn("__b",
            regexp_extract(input_file_name(), "/b=(\\d+)/", 1).cast("long")))
        .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    // EVERY unvouched bucket gets an entry: a bucket dir that scans to zero
    // rows produces no group in the sketch pass, so it writes back a
    // zero-length marker keyed by its current signature — otherwise empty
    // buckets stay unvouched forever (re-scanned every call, stale entries
    // retained) and the "next call is metadata-only" contract fails
    val fresh: Map[Long, Array[Byte]] = unvouched.map { case (b, _) =>
      b -> sketched.getOrElse(b, Array.emptyByteArray) }.toMap
    if (fresh.nonEmpty || sidecar.keySet.exists(b => !sigs.contains(b)))
      // write back fresh sketches; drop entries for vanished buckets
      writeBucketSketches(db, container,
        (sidecar -- sidecar.keySet.filterNot(sigs.contains) -- fresh.keys) ++
          fresh.map { case (b, sk) => b -> (sk, sigs(b)) })
    val strays = strayFiles(db, container)
    val straySketch: Seq[Array[Byte]] =
      if (strays.isEmpty) Nil
      else sketchOf(spark.read.text(strays: _*)
          .select(col("value").as("raw")).withColumn("__b", lit(-1L)))
        .collect().map(_.getAs[Array[Byte]](1)).toSeq
    // zero-length entries are empty-bucket markers, not sketches — they
    // vouch the bucket but contribute nothing to the union
    val all: Seq[Array[Byte]] =
      (vouched.map { case (b, _) => sidecar(b)._1 } ++
        fresh.values ++ straySketch).filter(_.nonEmpty)
    val estimate =
      if (all.isEmpty) 0L
      else {
        import org.apache.spark.sql.Encoders
        spark.createDataset(all)(Encoders.BINARY).toDF("sk")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
          .head().getLong(0)
      }
    DistinctStats(estimate, dirs.size, vouched.size, unvouched.size)
  }

  /** A1: full container scan, RAW — one `raw` string column per document
    * line, no inference, bucket layout transparent (recursive lookup). */
  def readRaw(spark: SparkSession, db: String, container: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true")
      .text(dataDir(db, container))
      .select(col("value").as("raw"))

  /** Typed scan via schema inference — the ANALYTICS view of a container
    * (aggregations, joins, masking checks). The merge path never uses this:
    * inference retypes and reorders, which is exactly what the raw path
    * exists to avoid. */
  def read(spark: SparkSession, db: String, container: String): DataFrame =
    spark.read.json(
      spark.read.option("recursiveFileLookup", "true")
        .text(dataDir(db, container)).as(
          org.apache.spark.sql.Encoders.STRING))

  // ---- bucket-pruned reads (the point-read analogue) ----

  /** Bucket-pruned raw read: only the `data/b=<k>` directories in `buckets`
    * (plus any stray files at the data/ root, which can hold any key). This
    * is the engine's analogue of the reference's per-document point-read
    * (migration.py:119-122): target work scales with the buckets a batch
    * touches, not with the container. A `listing` of the data tree taken
    * since its last write answers which dirs exist and what is stray
    * instead of per-bucket calls. */
  def readRawBuckets(spark: SparkSession, db: String, container: String,
                     buckets: Set[Long],
                     listing: Option[DataListing] = None): DataFrame = {
    val paths = bucketDirs(db, container, buckets, listing) ++
      straysOf(db, container, listing)
    if (paths.isEmpty)
      spark.range(0).select(lit(null).cast("string").as("raw"))
    else
      spark.read.option("recursiveFileLookup", "true")
        .text(paths: _*)
        .select(col("value").as("raw"))
  }

  /** The target side for an INCREMENTAL merge of the given source keys:
    * reads only the bucket directories those keys hash to — plus the
    * buckets any stray (out-of-layout) files hash to, so a subsequent
    * verification over the returned bucket set covers everything the upsert
    * may rewrite. `keys` carries the `keyCols` columns of the batch's VALID
    * documents. The source buckets come from one job with no exchange:
    * each partition sets its keys' buckets in a bitset of the bucket
    * count's width and the driver ORs them, so the collect is bounded by
    * partitions × buckets / 8 bytes. `listing` as in [[readRawBuckets]].
    * Returns (pruned raw frame, affected bucket ids). */
  def readRawBucketsFor(spark: SparkSession, db: String, container: String,
                        keys: DataFrame, keyCols: Seq[String],
                        listing: Option[DataListing] = None): (DataFrame, Set[Long]) = {
    GraftFunctions.register(spark)
    val props = containerProperties(db, container)
    import spark.implicits._
    val srcBuckets: Set[Long] = keys.select(bucketCol(keyCols, props.buckets))
      .as[Long].mapPartitions { bs =>
        val bits = new java.util.BitSet
        bs.foreach(b => bits.set(b.toInt))
        Iterator(bits.toLongArray)
      }.collect()
      .foldLeft(new java.util.BitSet) { (acc, words) =>
        acc.or(java.util.BitSet.valueOf(words)); acc }
      .stream().toArray.map(_.toLong).toSet
    val (read, affected, _) =
      readWithStrays(spark, db, container, props, srcBuckets, listing)
    (read.fold(spark.range(0).select(lit(null).cast("string").as("raw")))(
      _.select("raw")), affected)
  }

  /** The one read behind every bucket rewrite and the pruned merge read:
    * the `data/b=<k>` dirs of `buckets` plus every stray file, widened by
    * the buckets the stray rows key to — a stray can hold any key, and a
    * rewrite that absorbs it must read the bucket its rows land in. Rows:
    * `raw`, `__b` (a bucketed row's directory, so stored rows are never
    * parsed; a stray row's key bucket) and `__stray`. One bounded collect,
    * only when strays exist. `listing` as in [[readRawBuckets]]. Returns
    * (the rows, None when nothing is stored there; the buckets read; the
    * strays read). */
  private def readWithStrays(spark: SparkSession, db: String, container: String,
                             props: ContainerProps, buckets: Set[Long],
                             listing: Option[DataListing] = None)
      : (Option[DataFrame], Set[Long], Seq[String]) = {
    def lines(paths: Seq[String]): DataFrame =
      spark.read.option("recursiveFileLookup", "true").text(paths: _*)
        .select(col("value").as("raw"))
    val strays = straysOf(db, container, listing)
    val strayRows =
      if (strays.isEmpty) None
      else Some(keyedRows(lines(strays), props.pkPaths, props.buckets)
        .select(col("raw"), col("__b"), lit(true).as("__stray")))
    val all = buckets ++ strayRows.fold(Set.empty[Long])(
      _.select("__b").distinct().collect().map(_.getLong(0)).toSet)
    val dirs = bucketDirs(db, container, all, listing)
    val bucketRows =
      if (dirs.isEmpty) None
      else Some(lines(dirs).select(col("raw"),
        regexp_extract(input_file_name(), "/b=(\\d+)/", 1).cast("long").as("__b"),
        lit(false).as("__stray")))
    ((bucketRows ++ strayRows).reduceOption(_ unionAll _), all, strays)
  }

  // ---- incremental upsert sink (A11/A12) ----

  /** Merge-key hash bucket — the sink's layout column. Stable across runs
    * (xxhash64 of the ''-joined key columns), so a replaced document
    * and its replacement always land in the same bucket. */
  private[core] def bucketCol(keyCols: Seq[String], buckets: Int) =
    pmod(xxhash64(concat_ws("", keyCols.map(col): _*)), lit(buckets.toLong))

  /** Data file listing (path, byte size) — driver metadata through the
    * Storage boundary, hidden/`_`-prefixed files excluded (the same
    * convention Spark's own readers use). */
  private[core] def dataFilesMeta(db: String, container: String): Seq[(String, Long)] =
    if (!hasData(db, container)) Seq.empty
    else {
      val dir = dataDir(db, container)
      store.walk(dir).filterNot(f => Storage.hidden(f.relPath))
        .map(f => (new HPath(dir, f.relPath).toString, f.size))
    }

  /** Remove the groups a row-level read planned: whole `b=<k>` bucket dirs
    * for bucketed files, individual deletes for strays. Returns the bucket
    * ids whose dirs were removed. */
  private[core] def deleteGroups(db: String, container: String,
                                 files: Seq[String]): Set[Long] = {
    val re = "/b=(\\d+)/".r
    val (bucketed, strays) = files.partition(re.findFirstMatchIn(_).isDefined)
    val buckets = bucketed.flatMap(re.findFirstMatchIn(_)).map(_.group(1).toLong).toSet
    buckets.foreach(b => store.deleteRecursive(bucketDir(db, container, b)))
    strays.foreach(store.delete(_))
    buckets
  }

  /** Recount + re-sign `touched` buckets into the sidecar after a
    * row-level group replacement; buckets that ended empty drop out. The
    * signatures come off `listing` (taken after the write) when the caller
    * has one, else from a walk of each touched bucket. */
  private[core] def resignBuckets(db: String, container: String,
                                  touched: Set[Long],
                                  counts: Map[Long, Long],
                                  listing: Option[DataListing] = None): Unit = {
    val prior = readBucketCounts(db, container)
    writeBucketCounts(db, container,
      (prior -- touched) ++ touched.toSeq.sorted.flatMap { b =>
        val n = counts.getOrElse(b, 0L)
        if (n == 0L) None
        else Some(b -> (n, listing.fold(dirSignature(bucketDir(db, container, b)))(
          _.signatures.getOrElse(b, ""))))
      })
  }

  /** Data files sitting directly under `data/` (not in a `b=<k>` bucket dir):
    * documents placed by an external writer. They are absorbed into the
    * bucket layout on the next upsert that sees them. */
  private def strayFiles(db: String, container: String): Seq[String] =
    store.listFilePaths(dataDir(db, container)).filterNot(Storage.hidden)

  /** The strays: off `listing` when the caller has one, else listed. */
  private def straysOf(db: String, container: String,
                       listing: Option[DataListing]): Seq[String] =
    listing.fold(strayFiles(db, container))(_.strays)

  /** The dirs of the `buckets` that exist: off `listing` when the caller
    * has one, else probed one by one. */
  private def bucketDirs(db: String, container: String, buckets: Set[Long],
                         listing: Option[DataListing]): Seq[String] =
    buckets.toSeq.sorted.filter(b =>
      listing.fold(store.isDirectory(bucketDir(db, container, b)))(_.buckets(b)))
      .map(bucketDir(db, container, _))

  private def bucketDir(db: String, container: String, b: Long): String =
    new HPath(dataDir(db, container), s"b=$b").toString

  /** Key + bucket extraction for stored rows ([[RawMerge.storedKeyed]]:
    * the stored form is keyed as-is). */
  private def keyedRows(rawDf: DataFrame, pkPaths: Seq[String],
                        nb: Int): DataFrame =
    RawMerge.storedKeyed(rawDf, pkPaths)
      .withColumn("__b", bucketCol(RawMerge.keyCols(pkPaths), nb))

  /** The commit tail every bucket rewrite shares: land `out` (`raw`, `b`)
    * with one dynamic-partition-overwrite write (bucket dirs absent from it
    * keep their files byte-for-byte), remove the rewritten buckets that
    * ended empty (the overwrite only replaces partitions PRESENT in the
    * output), delete the stray files whose rows `out` absorbed, and re-sign
    * the sidecar. `counts` holds every rewritten bucket with its row count
    * in `out`.
    *
    * Commit safety: `out` may read the very bucket files the write
    * replaces, and needs no lineage checkpoint, on one condition every
    * caller keeps. The write is ONE job whose commit (the partition swap)
    * follows every task, so a recomputed block of the caller's persisted
    * input reads the files before the swap; `counts` (and any expected
    * figure) were aggregated before the write; and nothing reads the input
    * after the commit — the caller unpersists it then.
    *
    * With `listAfter`, one walk of the whole data tree after the commit
    * signs the sidecar and is returned, for a caller that checks every
    * bucket next; without, only the rewritten buckets are walked. */
  private def rewriteBuckets(db: String, container: String, out: DataFrame,
                             counts: Map[Long, Long], strays: Seq[String],
                             listAfter: Boolean = false): Option[DataListing] = {
    if (counts.values.exists(_ > 0L))
      out.write.partitionBy("b")
        .option("partitionOverwriteMode", "dynamic")
        .mode(SaveMode.Overwrite)
        .text(dataDir(db, container))
    counts.collect { case (b, 0L) => b }
      .foreach(b => store.deleteRecursive(bucketDir(db, container, b)))
    strays.foreach(store.delete(_))
    val after = if (listAfter) Some(listData(db, container)) else None
    resignBuckets(db, container, counts.keySet, counts, after)
    after
  }

  /** The merge sink (A11/A12): land the post-merge rows of the buckets a
    * merge rewrites — the distributed analogue of the reference's
    * per-document `replace_item`/`create_item` (migration.py:132-146),
    * where unchanged documents cost nothing. `rows` (`raw`, `b`) holds
    * every row those buckets keep, `counts` each rewritten bucket with its
    * row count, `strays` the stray files the rows were read from
    * ([[ContainerMerge.Plan.rows]], [[ContainerMerge.Tally]],
    * [[ContainerMerge.Plan.strays]]). A stray that lands after the merge
    * read it is not in `strays` and survives.
    *
    * Shape: one dynamic-partition-overwrite write job and the
    * [[rewriteBuckets]] tail; no re-read, no re-count. With nothing to
    * rewrite (an all-skip rerun) it returns before any Spark action. The
    * copy-on-write grain is the bucket: a delta of d changed keys over B
    * buckets rewrites about 1 − (1 − 1/B)^d of the container, since merge
    * keys hash uniformly (migrate_delta's 21 changed documents over 16
    * buckets rewrite ~80% of its rows, `write_amp` ~57); only a delta
    * whose keys cluster in few buckets rewrites a small share. `rows`
    * reads the bucket files the write replaces; the caller keeps the
    * commit-safety condition [[rewriteBuckets]] states. With `listAfter`
    * it returns a listing of the data tree after the commit (Some when it
    * rewrote anything), which signed the sidecar ([[rewriteBuckets]]). */
  def upsertRaw(spark: SparkSession, db: String, container: String,
                rows: DataFrame, counts: Map[Long, Long],
                strays: Seq[String],
                listAfter: Boolean = false): Option[DataListing] = {
    store.mkdirs(dataDir(db, container))
    if (counts.isEmpty) return None
    val after = rewriteBuckets(db, container, rows, counts, strays, listAfter)
    // AUTO-COMPACTION (opt-in via the container's "autocompact" metadata /
    // TBLPROPERTIES): every upsert writes fresh part files into its
    // affected buckets, so a container fed by many small merges can grow
    // its per-bucket file count. With a threshold N set, any
    // JUST-REWRITTEN bucket that ended with more than max(N, size-target)
    // files is compacted inline — upkeep stays O(affected buckets) per
    // write (the restriction bounds the metadata walk too), untouched
    // buckets are never examined, and the post-compaction sidecar re-sign
    // keeps verification metadata-only. Write amplification is bounded:
    // each upsert rewrites at most its own buckets one extra time.
    containerProperties(db, container).autocompactFiles.fold(after) { thr =>
      compactContainer(spark, db, container,
        only = Some(counts.keySet), fileThreshold = thr)
      after.map(_ => listData(db, container))
    }
  }

  /** Direct load: land `changed` documents (columns: `raw` + the key
    * columns `keyCols`, already extracted) as given — no classification,
    * no injection, no masking — replacing the stored rows with the same
    * merge key. For seeding and tooling; merges go through
    * [[ContainerMerge]] and the sink above. Reads the affected buckets'
    * stored rows (plus strays) once, drops the replaced keys, tallies the
    * result per bucket and hands it to the sink. Returns the set of bucket
    * ids rewritten. */
  def upsertRaw(spark: SparkSession, db: String, container: String,
                changed: DataFrame, keyCols: Seq[String],
                pkPaths: Seq[String]): Set[Long] = {
    GraftFunctions.register(spark)
    store.mkdirs(dataDir(db, container))
    val props = containerProperties(db, container)
    val chg = changed.withColumn("__b", bucketCol(keyCols, props.buckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (read, affected, strays) = readWithStrays(spark, db, container, props,
        chg.select("__b").distinct().collect().map(_.getLong(0)).toSet)
      if (affected.isEmpty) Set.empty
      else {
        val survivors = read.map(RawMerge.storedKeyed(_, pkPaths, carry = Seq("__b"))
          .join(chg.select(keyCols.map(col): _*), keyCols, "left_anti"))
        val rows = (survivors.toSeq :+ chg)
          .map(_.select(col("raw"), col("__b").as("b"))).reduce(_ unionAll _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val counts: Map[Long, Long] = rows.groupBy("b").count()
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          upsertRaw(spark, db, container, rows,
            affected.map(b => b -> counts.getOrElse(b, 0L)).toMap, strays)
          affected
        } finally { rows.unpersist(); () }
      }
    } finally { chg.unpersist(); () }
  }
}
