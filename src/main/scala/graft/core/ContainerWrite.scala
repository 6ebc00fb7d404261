package graft.core

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, GraftColumn, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.RawMerge

/** SQL write path of [[GraftCatalog]] tables: `INSERT INTO graft.db.c`,
  * `INSERT OVERWRITE`, and `df.writeStream.toTable("graft.db.c")` all commit
  * through the SAME merge engine as the bespoke API — the reference's
  * per-document upsert loop (/root/reference/src/migration.py:91-150)
  * surfaced as a DataSource-V2 write, which closes the last non-SQL surface:
  * a container is now readable AND writable from plain Spark SQL.
  *
  * SEMANTICS — an INSERT is an UPSERT BY MERGE KEY, not a blind append
  * (a plain append could not maintain the pk-hash bucket layout, the
  * `_counts.json` sidecars, or key uniqueness — the properties every
  * point-read, pruned merge, and O(metadata) verification in this engine
  * relies on). Each committed batch runs the A9–A12 pipeline: parse + key
  * once, dead-letter invalid documents to the container's `_errors` channel
  * (A4/A13 — an INSERT of a corrupt line "succeeds" into the error channel,
  * exactly like the reference's per-document error branch), collapse
  * intra-batch duplicate keys deterministically (content-hash order),
  * canonical-diff against the CURRENT target (so re-inserting an unchanged
  * document is a SKIP — reruns are idempotent and rewrite nothing), and land
  * inserts/updates through [[FileAccount.upsertRaw]], rewriting only the
  * buckets that actually changed. `INSERT OVERWRITE` truncates the container
  * data first (filesystem truncate — not atomic with the subsequent write,
  * like every file-based overwrite), then merges into the empty layout.
  * There is deliberately NO separate MERGE INTO surface: INSERT already IS
  * the merge (same classify → upsert pipeline MERGE INTO would run).
  *
  * MECHANICS — executors stage their rows as raw text lines under
  * `container/_staging/<queryId>/` (one file per task, created-on-first-row;
  * the `_` prefix keeps staging invisible to every scan and signature walk),
  * and the driver-side commit reads ONLY the files named in the task commit
  * messages (so speculative / retried task attempts leave at most orphan
  * staging files, never duplicate rows), runs the distributed merge, then
  * deletes the staging tree. Work scales with the batch and its affected
  * buckets, never the container. Streaming commits are per-epoch under
  * `_staging/<queryId>/<epochId>/`; a replayed epoch re-merges and converges
  * (canonical-diff skips make it a no-op) — at-least-once delivery into an
  * idempotent sink, the same contract as [[graft.streaming.Streams
  * .syncContainers]]'s foreachBatch path. */
object ContainerMerge {

  /** Metadata-sized accounting of one committed batch (A23/A24). */
  final case class Stats(srcRows: Long, mergedKeys: Long, errorRows: Long,
                         rewrittenBuckets: Set[Long])

  /** A stored file directly under `data/`, outside every `b=<k>` bucket
    * directory: a stray an external writer placed there. */
  private val StrayFile = "/data/[^/]+$"

  /** One planned merge (lazy frames). `classified` is the full-outer
    * classification: every source row with its action plus every target
    * row the plan read, `raw` in post-merge form (masked on inserts and
    * updates under `sanitize`), `__n` (source lines behind the row), `__b`
    * (the row's bucket; null on an error row), `__t_rn` (rank of the
    * target row within its merge key, null when no target row joined),
    * `__t_stray` (read from a stray file), `__p` (its partition). It is
    * partitioned by `__p` ([[clustering]]): each bucket's rows sit in one
    * partition, or in one per slice when the session has more cores than
    * the container has buckets or a bucket reads over [[SliceBytes]].
    * `pruned` is the bucket set a pruned
    * target side reads (`None` for a whole-container or absent target);
    * `targetFiles` are the files the target side reads. Callers persist
    * `classified` for the [[tally]] collect and the sink write, and
    * unpersist it after the sink. */
  final case class Plan(classified: DataFrame, pruned: Option[Set[Long]],
                        targetFiles: Seq[String]) {
    /** Per merge key, the first target row (or the unmatched source row):
      * what a key group leaves in the container. */
    private def first = col("__t_rn").isNull || col("__t_rn") === 1

    /** One row per (partition, bucket, action); the error rows carry a
      * null `__b`, so they form one group — collect it and read it with
      * [[Tally.of]]: counters, expected state, rewrite set, sidecar counts
      * and, up to the [[deadLines]] bound, the error lines themselves.
      * Grouped by `__p` first, it needs no exchange of its own: AQE reads
      * the cached frame's `__p` partitioning. */
    lazy val tally: DataFrame = classified
      .groupBy(col("__p"), col("__b"), col("action"))
      .agg(
        count(lit(1)).as("n"),
        coalesce(sum(when(first, col("__n"))), lit(0L)).as("src"),
        coalesce(expr("bit_xor(xxhash64(raw))"), lit(0L)).as("h"),
        count(when(first, lit(1))).as("kept"),
        count(when(col("__t_stray"), lit(1))).as("stray"),
        count(when(col("__t_rn") > 1, lit(1))).as("dup"),
        deadLines(col("action") === "error").as("dead"))

    /** The invalid source lines, for the dead-letter channel. */
    def errors: DataFrame =
      classified.filter(col("action") === "error").select("raw")

    /** The post-merge rows of the buckets `t` rewrites: the sink's input
      * (`raw`, `b`). A duplicate-key group keeps its first row only. */
    def rows(t: Tally): DataFrame =
      classified.filter(col("action") =!= "error" && first &&
          col("__b").isInCollection(t.rewrite.keySet))
        .select(col("raw"), col("__b").as("b"))

    /** The stray files the target side reads: the sink deletes exactly
      * these once their rows are rewritten into the layout. `targetFiles`
      * are encoded URIs; the store takes plain path strings. */
    def strays: Seq[String] =
      targetFiles.filter(f => StrayFile.r.findFirstIn(f).isDefined)
        .map(f => new HPath(java.net.URI.create(f)).toString)
  }

  /** A collected [[Plan.tally]]. `actions`: classified rows per action;
    * `sourceCount`: source lines read; `mergedKeys`: distinct valid source
    * keys; `expectedCount`/`expectedHash`: row count and
    * `bit_xor(xxhash64(raw))` of the expected post-merge state (every
    * non-error row, duplicate target keys NOT collapsed, so a duplicate-key
    * target never verifies); `rewrite`: the buckets holding a changed,
    * stray-file or duplicate-key row, each with the row count it keeps;
    * `dead`: the error lines within the [[deadLines]] bound. */
  final case class Tally(actions: Map[String, Long], sourceCount: Long,
                         mergedKeys: Long, expectedCount: Long,
                         expectedHash: Long, rewrite: Map[Long, Long],
                         dead: Seq[String])

  object Tally {
    def of(rows: Array[Row]): Tally = {
      def n(r: Row, c: String): Long = r.getAs[Long](c)
      val state = rows.filter(_.getAs[String]("action") != "error")
      val rewrite = state.filter { r =>
        Set("insert", "update")(r.getAs[String]("action")) ||
          n(r, "stray") > 0 || n(r, "dup") > 0
      }.map(n(_, "__b")).toSet
      Tally(
        rows.groupMapReduce(_.getAs[String]("action"))(n(_, "n"))(_ + _)
          .withDefaultValue(0L),
        rows.map(n(_, "src")).sum,
        state.filter(_.getAs[String]("action") != "target").map(n(_, "kept")).sum,
        state.map(n(_, "n")).sum,
        state.map(n(_, "h")).foldLeft(0L)(_ ^ _),
        state.filter(r => rewrite(n(r, "__b")))
          .groupMapReduce(n(_, "__b"))(n(_, "kept"))(_ + _),
        rows.toSeq.flatMap(r => r.getSeq[String](r.fieldIndex("dead"))))
    }
  }

  /** A tally carries at most [[DeadLines]] error lines of at most
    * [[DeadLineBytes]] UTF-8 bytes each, so one partial aggregation buffer,
    * and the driver collect, hold at most 4 MiB of them. */
  private val DeadLines = 256
  private val DeadLineBytes = 16 << 10

  /** The bounded collect of the `raw` lines of the rows `isError` selects,
    * for the dead-letter: `collect_top_k` keeps at most [[DeadLines]]
    * values per buffer (`collect_list` would grow with the errors), and a
    * line longer than [[DeadLineBytes]] is left out. [[deadLetter]] lands
    * them only when none was left out. */
  private def deadLines(isError: Column): Column =
    GraftColumn.internalFn("collect_top_k",
      when(isError && octet_length(col("raw")) <= DeadLineBytes, col("raw")),
      lit(DeadLines), lit(false))

  /** A13 dead-letter: land the `errors` invalid lines in the container's
    * `_errors` — appended (SQL INSERT, streaming commit, sync, group
    * replace), or replacing the channel with `overwrite` (the
    * orchestrator). When `collected` holds every one of them (the tally's
    * bounded collect) they land as one file with no Spark job
    * ([[FileAccount.writeErrors]]); past the bound, `lines` is written by
    * one text write job. */
  private[graft] def deadLetter(account: FileAccount, db: String, container: String,
                                errors: Long, collected: Seq[String],
                                lines: => DataFrame, overwrite: Boolean): Unit =
    if (errors > 0) {
      if (collected.size == errors)
        account.writeErrors(db, container, collected, replace = overwrite)
      else lines.write.mode(if (overwrite) "overwrite" else "append")
        .text(account.errorsPath(db, container))
    }

  /** Key a raw-lines source once ([[RawMerge.srcKeyed]]); `fileCol`, when
    * the caller has one, rides along for the duplicate rule. */
  def key(s: SparkSession, src: DataFrame, pkPaths: Seq[String],
          fileCol: Option[String] = None): DataFrame =
    RawMerge.srcKeyed(s, src, pkPaths, carry = fileCol.toSeq)

  /** The merge policy — the reference's per-document loop
    * (migration.py:91-150) as one distributed plan over a [[key]]ed source:
    *  1. invalid lines (unparseable, empty id or pk) split off as errors;
    *  2. duplicate merge keys collapse to ONE row: the lexicographically
    *     last source file (when the caller has a file column), then the
    *     highest content hash, then the bytes — deterministic under replay;
    *  3. the rows classify against the target side in one full-outer join:
    *     with `prune` only the buckets their keys hash to
    *     ([[FileAccount.readRawBucketsFor]], the point-read of
    *     migration.py:119-122), else the whole container. The target rows
    *     of every bucket read ride along, so the sink rewrites a bucket
    *     from this frame alone;
    *  4. target rows rank within their merge key (content hash, then
    *     bytes): a duplicate-key group, which Cosmos could never hold, keeps
    *     its first row when its bucket is rewritten. A row's bucket is its
    *     key's, except a stored row whose key does not parse: it keeps its
    *     directory's, as in every bucket rewrite;
    *  5. inserts/updates carry the write form, masked when `sanitize`;
    *  6. the classified rows are clustered by bucket (one exchange on
    *     the partition id [[clustering]] deals), so the tally groups them
    *     with no further exchange and the sink lands each rewritten
    *     bucket as ONE file per slice: one file when the container has at
    *     least as many buckets as the session has cores and its buckets
    *     read under [[SliceBytes]] each, the small rewritten buckets the
    *     gain needs. The costs: one task writes all of a bucket slice, so
    *     a bucket far larger than the others makes a straggler; the error
    *     rows sit in partition 0; and the classified rows cross one more
    *     exchange.
    * `props` are the target's, read once by the caller. */
  def plan(s: SparkSession, target: FileAccount, db: String, container: String,
           keyed: DataFrame, props: ContainerProps, fileCol: Option[String],
           prune: Boolean, sanitize: Boolean,
           listing: Option[DataListing] = None): Plan = {
    val pkPaths = props.pkPaths
    val keys = RawMerge.keyCols(pkPaths)
    val tkeys = RawMerge.tgtKeyCols(pkPaths)
    val valid = RawMerge.validCol(pkPaths)
    // the windows' key shuffles and sorts are the ones the join needs anyway
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((fileCol.toSeq :+ "__ch" :+ "__w").map(col(_).desc): _*)
    val one = keyed.filter(valid)
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("__rn") === 1)
    val invalid = keyed.filter(!valid).withColumn("__n", lit(1L))
    val (tgt, pruned) =
      if (!listing.fold(target.hasData(db, container))(_.exists))
        (s.range(0).select(lit(null).cast("string").as("raw")), None)
      else if (prune) {
        val (df, buckets) = target.readRawBucketsFor(s, db, container, props,
          keyed.filter(valid).select(keys.map(col): _*), keys, listing)
        (df, Some(buckets))
      } else (target.readRaw(s, db, container), None)
    val tw = Window.partitionBy(tkeys.map(col): _*)
      .orderBy(col("__t_ch"), col("__t_raw"))
    val tgtK = RawMerge.tgtKeyed(
        tgt.withColumn("__t_stray", input_file_name().rlike(StrayFile))
          .withColumn("__t_b", nullif(
            regexp_extract(input_file_name(), "/b=(\\d+)/", 1), lit("")).cast("long")),
        pkPaths, carry = Seq("__t_stray", "__t_b"))
      // a stored row with a missing key part is no duplicate of anything
      .withColumn("__t_rn", when(tkeys.map(col(_).isNotNull).reduce(_ && _),
        row_number().over(tw)).otherwise(lit(1)))
    val joined = RawMerge.classifyKeyed(one, invalid, tgtK, pkPaths,
      "full_outer", carry = Seq("__n"), tgtCarry = Seq("__t_stray", "__t_rn", "__t_b"))
    val masked =
      if (!sanitize) joined
      else joined.withColumn("raw", when(col("action").isin("insert", "update"),
        expr("mask_json(raw)")).otherwise(col("raw")))
    // the input bytes per bucket read: a pruned read's source keys all
    // hash to its buckets
    val bucketBytes = (fileBytes(keyed) + fileBytes(tgt)) /
      math.max(1, pruned.fold(props.buckets)(_.size))
    val (width, part) = clustering(s, props.buckets, bucketBytes)
    // a stored row whose key does not parse keeps its directory's bucket
    val classified = masked.withColumn("__b", when(col("action") =!= "error",
        coalesce(when(keys.map(col(_).isNull).reduce(_ || _), col("__t_b")),
          target.bucketCol(keys, props.buckets))))
      .drop("__t_b")
      .withColumn("__p", part)
      .repartitionById(width, col("__p"))
    Plan(classified, pruned, tgt.inputFiles.toSeq)
  }

  /** The input bytes per bucket slice a merge aims at: compaction's
    * default target file size ([[FileAccount.compactContainer]]). */
  val SliceBytes: Long = 128L << 20

  /** The bucket clustering of [[plan]] for a container of `buckets`
    * buckets, each read from about `bucketBytes` of input: the partition
    * count and each row's partition id (`__p`). A bucket splits into
    * `slices` content-hash slices: enough that every core of the session
    * writes when the container has fewer buckets than cores, and that no
    * slice reads more than about [[SliceBytes]] (AQE neither splits nor
    * coalesces a cached plan's partitions, so the clustering alone sizes
    * the tally and sink tasks). The (bucket, slice) groups are dealt
    * round-robin onto the partitions, at most the session's shuffle
    * partition count of them, so each partition holds as many groups as
    * the next, give or take one (a hash of the bucket id would not:
    * Spark's murmur3 lands 16 buckets on 4 partitions 6/6/3/1). Error
    * rows, bucket null, go to partition 0. */
  private[graft] def clustering(s: SparkSession, buckets: Int,
                                bucketBytes: Long): (Int, Column) = {
    val slices = Seq(1L, (s.sparkContext.defaultParallelism + buckets - 1L) / buckets,
      (bucketBytes + SliceBytes - 1L) / SliceBytes).max
    val groups = buckets * slices
    val width = math.max(1L, math.min(groups,
      s.conf.get("spark.sql.shuffle.partitions").toLong)).toInt
    val group = if (slices == 1) col("__b")
      else col("__b") * slices + pmod(xxhash64(col("raw")), lit(slices))
    (width, pmod(coalesce(group, lit(0L)), lit(width.toLong)).cast("int"))
  }

  /** Bytes of the files behind `df`'s file-source leaves; other leaves (a
    * local relation, a stream's batch, an empty range) count 0. The file
    * index holds the sizes already: no file-system call. */
  private def fileBytes(df: DataFrame): Long =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRelation => l.relation.sizeInBytes }.sum

  /** Merge a raw-lines frame (a `raw` string column, plus `fileCol` when
    * the caller has one) into the container through [[plan]] → upsert,
    * against the pruned target: the SQL batch and streaming commits and
    * [[graft.streaming.Streams.syncContainers]]. The counters come from the
    * plan's [[Plan.tally]], the same collect that sizes the sink. Returns
    * them with the buckets the upsert REWROTE, and the plan with the target
    * side it READ. */
  def mergeRaw(s: SparkSession, account: FileAccount, db: String,
               container: String, src: DataFrame,
               fileCol: Option[String] = None,
               sanitize: Boolean = false): (Stats, Plan) = {
    val props = account.containerProperties(db, container)
    val p = plan(s, account, db, container, key(s, src, props.pkPaths, fileCol),
      props, fileCol, prune = true, sanitize = sanitize)
    p.classified.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val t = Tally.of(p.tally.collect())
      val errorRows = t.actions("error")
      deadLetter(account, db, container, errorRows, t.dead, p.errors, overwrite = false)
      account.upsertRaw(s, db, container, p.rows(t), t.rewrite, p.strays)
      (Stats(t.sourceCount, t.mergedKeys, errorRows, t.rewrite.keySet), p)
    } finally { p.classified.unpersist(); () }
  }

  /** Commit of a group-based row-level rewrite (MERGE INTO / UPDATE /
    * non-key DELETE): `src` carries the REPLACEMENT rows of every read
    * group — Spark's rewrite already applied the matched/not-matched
    * logic, so unlike [[mergeRaw]] there is no classify step. The read
    * groups (`readFiles`: whole bucket dirs + any strays, as the scan
    * planned them) are deleted and the replacement rows land bucketed by
    * merge key; strays read are thereby absorbed into the layout.
    * Replacement rows violating the document contract (an UPDATE SET that
    * strips the id) dead-letter to `_errors` like every other write path.
    * Sidecar: replaced buckets get fresh (count, signature); a bucket that
    * was appended to without being read (not expected from Spark's
    * rewrite, but handled) only keeps a vouched entry when its prior count
    * was vouched too. The keyed rows read staged files, never container
    * files, so the group delete cannot pull their input away. */
  def replaceGroups(s: SparkSession, account: FileAccount, db: String,
                    container: String, readFiles: Seq[String],
                    src: DataFrame): Unit = {
    val props = account.containerProperties(db, container)
    val pkPaths = props.pkPaths
    // layout bucket of each replacement row; null for an invalid one
    val keyed = key(s, src, pkPaths)
      .withColumn("b", when(RawMerge.validCol(pkPaths),
        account.bucketCol(RawMerge.keyCols(pkPaths), props.buckets)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one tally: replacement rows per bucket, invalid rows (and their
      // lines, up to the dead-letter bound) under null
      val tally = keyed.groupBy("b")
        .agg(count(lit(1)), deadLines(col("b").isNull)).collect()
      tally.find(_.isNullAt(0)).foreach(r => deadLetter(account, db, container,
        r.getLong(1), r.getSeq[String](2), keyed.filter(col("b").isNull).select("raw"),
        overwrite = false))
      val outCounts: Map[Long, Long] = tally.filterNot(_.isNullAt(0))
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prior = account.readBucketCounts(db, container)
        .map { case (b, (n, _)) => b -> n }
      val deleted = account.deleteGroups(db, container, readFiles)
      if (outCounts.nonEmpty)
        keyed.filter(col("b").isNotNull).select(col("__w").as("raw"), col("b"))
          .write.partitionBy("b")
          .mode(org.apache.spark.sql.SaveMode.Append)
          .text(account.dataPath(db, container))
      val touched = deleted ++ outCounts.keySet
      val counts: Map[Long, Long] = touched.iterator.flatMap { b =>
        if (deleted(b)) Some(b -> outCounts.getOrElse(b, 0L))
        else prior.get(b).map(p => b -> (p + outCounts.getOrElse(b, 0L)))
      }.toMap
      account.resignBuckets(db, container, touched, counts)
      // a row-level rewrite lands one part file per write task per bucket,
      // so a wide MERGE/UPDATE leaves batch-shaped small files exactly
      // like the direct load — the same opt-in inline compaction bounds
      // them (O(touched buckets) upkeep, untouched buckets never examined)
      props.autocompactFiles.foreach { thr =>
        account.compactContainer(s, db, container,
          only = Some(touched), fileThreshold = thr)
      }
    } finally { keyed.unpersist(); () }
  }
}

/** One staged task output; the ONLY files commit reads are the ones these
  * messages name (task-retry/speculation safety). `path == null` marks a
  * task that saw no rows and created no file. */
final case class StagedFileMessage(path: String) extends WriterCommitMessage

/** Group-based (copy-on-write) row-level operation: the engine behind SQL
  * `MERGE INTO`, `UPDATE`, and non-key-predicate `DELETE` on container
  * tables. Spark's rewrite reads the affected groups through [[newScanBuilder]]
  * (bucket dirs, runtime-filtered via the scan's `SupportsRuntimeFiltering`
  * to the buckets the merge/update keys hash to), computes each group's
  * replacement rows, and commits them through [[newWriteBuilder]] —
  * [[ContainerMerge.replaceGroups]] swaps exactly the read groups.
  *
  * Coordination: the scan reports its FINAL planned file list (after
  * runtime group filtering) into [[readFiles]] on this driver-side object;
  * scan tasks run before the write commit, so the commit always sees the
  * exact group set the replacement rows were computed from. */
final class ContainerRowLevelOperation(account: FileAccount, db: String,
                                       container: String,
                                       props: ContainerProps,
                                       tableName: String,
                                       cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  @volatile private[core] var readFiles: Seq[String] = Seq.empty

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String =
    s"graft container row-level $cmd $db.$container"

  // keep the identity metadata columns alive through the rewrite: the
  // merge/update condition is typically ON t._key/_id = ..., and without
  // this declaration the rewrite's target relation carries only data
  // columns, leaving the condition unresolvable
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_key"),
      org.apache.spark.sql.connector.expressions.Expressions.column("_id"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ContainerScanBuilder(account, db, container, props, tableName,
      options, files => readFiles = files)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def description(): String =
          s"graft container group replacement ($cmd) $db.$container"

        override def toBatch: BatchWrite = new BatchWrite {
          private val staging =
            account.stagingPath(db, container, info.queryId())

          override def createBatchWriterFactory(
              pinfo: PhysicalWriteInfo): DataWriterFactory = {
            val conf = new SerializableHadoopConf(Storage.sessionHadoopConf())
            val dir = staging
            // the replacement rows' raw column position in the write schema
            // (group-based rewrites may carry metadata columns alongside)
            val rawIdx = info.schema().fieldIndex("raw")
            new DataWriterFactory {
              override def createWriter(partitionId: Int,
                  taskId: Long): DataWriter[InternalRow] =
                new RawLineStagingWriter(dir,
                  s"part-$partitionId-$taskId.txt", conf, rawIdx)
            }
          }

          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val spark = SparkSession.active
            try {
              val files = messages.collect {
                case StagedFileMessage(p) if p != null => p }
              val staged =
                if (files.isEmpty)
                  spark.range(0).select(lit(null).cast("string").as("raw"))
                else spark.read.text(files: _*).select(col("value").as("raw"))
              ContainerMerge.replaceGroups(spark, account, db, container,
                readFiles, staged)
            } finally { Storage.hadoop.deleteRecursive(staging); () }
          }

          override def abort(messages: Array[WriterCommitMessage]): Unit = {
            Storage.hadoop.deleteRecursive(staging); ()
          }
        }
      }
    }
}

final class ContainerWriteBuilder(account: FileAccount, db: String,
                                  container: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsOverwrite {

  private var truncateFirst = false

  // INSERT OVERWRITE on an unpartitioned v2 table arrives as
  // overwrite-by-expression; only the unconditional form maps onto the
  // engine (truncate + merge) — a filtered overwrite would need per-row
  // deletes the bucket layout does not express
  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    require(filters.forall(_.isInstanceOf[AlwaysTrue]),
      s"graft containers support only unconditional INSERT OVERWRITE, got " +
        filters.mkString(", "))
    truncateFirst = true
    this
  }

  override def build(): Write = {
    val schema = info.schema()
    require(schema.length == 1 && schema.head.dataType == StringType,
      s"graft containers take a single raw JSON-line string column, got $schema")
    new ContainerWrite(account, db, container, info.queryId(), truncateFirst)
  }
}

final class ContainerWrite(account: FileAccount, db: String, container: String,
                           queryId: String, truncateFirst: Boolean)
    extends Write {

  override def description(): String =
    s"graft container merge-write $db.$container" +
      (if (truncateFirst) " (overwrite)" else "")

  /** Merge ONLY the staged files the task commit messages name, then drop
    * the staging tree `dir`. */
  private def commitStaged(messages: Array[WriterCommitMessage], dir: String,
                           truncate: Boolean): Unit = {
    val spark = SparkSession.active
    try {
      if (truncate) account.truncateData(db, container)
      val files = messages.collect { case StagedFileMessage(p) if p != null => p }
      if (files.nonEmpty)
        ContainerMerge.mergeRaw(spark, account, db, container,
          spark.read.text(files: _*).select(col("value").as("raw")))
    } finally { Storage.hadoop.deleteRecursive(dir); () }
  }

  override def toBatch: BatchWrite = new BatchWrite {
    private val staging = account.stagingPath(db, container, queryId)

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val conf = new SerializableHadoopConf(Storage.sessionHadoopConf())
      val dir = staging
      new DataWriterFactory {
        override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
          new RawLineStagingWriter(dir, s"part-$partitionId-$taskId.txt", conf)
      }
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit =
      commitStaged(messages, staging, truncateFirst)

    override def abort(messages: Array[WriterCommitMessage]): Unit = {
      Storage.hadoop.deleteRecursive(staging); ()
    }
  }

  override def toStreaming: StreamingWrite = new StreamingWrite {
    private def epochDir(epochId: Long): String =
      new HPath(account.stagingPath(db, container, queryId),
        s"epoch-$epochId").toString

    override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory = {
      val conf = new SerializableHadoopConf(Storage.sessionHadoopConf())
      val base = account.stagingPath(db, container, queryId)
      new StreamingDataWriterFactory {
        override def createWriter(partitionId: Int, taskId: Long,
                                  epochId: Long): DataWriter[InternalRow] =
          new RawLineStagingWriter(
            new HPath(base, s"epoch-$epochId").toString,
            s"part-$partitionId-$taskId.txt", conf)
      }
    }

    // a replayed epoch (failure between sink commit and checkpoint WAL)
    // re-merges the same documents: canonical-diff classifies them as
    // skips, so the replay converges without rewriting a bucket —
    // at-least-once delivery into an idempotent sink
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
      commitStaged(messages, epochDir(epochId), truncate = false)

    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
      Storage.hadoop.deleteRecursive(epochDir(epochId)); ()
    }
  }

}

/** Executor-side staging writer: raw lines to one text file, created on the
  * first row (an empty task stages nothing and commits a null path).
  * `rawIdx` locates the raw column in the incoming row — 0 for plain
  * INSERTs (schema is exactly `raw`), positional for row-level rewrites
  * whose write schema may carry extra attributes. */
final class RawLineStagingWriter(dir: String, name: String,
                                 conf: SerializableHadoopConf,
                                 rawIdx: Int = 0)
    extends DataWriter[InternalRow] {

  private var out: java.io.Writer = _
  private var path: String = _

  override def write(record: InternalRow): Unit = {
    if (out == null) {
      val p = new HPath(dir, name)
      val fs = p.getFileSystem(conf.value)
      out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        fs.create(p, true), StandardCharsets.UTF_8))
      path = p.toString
    }
    // a NULL raw (schema declares it non-null, but defend anyway) stages as
    // an empty line → parse failure → the merge's error channel, exactly
    // like any other invalid document
    val s = record.getUTF8String(rawIdx)
    if (s != null) out.write(s.toString)
    out.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    StagedFileMessage(path)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    if (path != null) { Storage.hadoop(conf.value).delete(path); () }
  }

  override def close(): Unit = if (out != null) out.close()
}
