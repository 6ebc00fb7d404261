package graft.core

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, EqualTo, Filter, In}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.JsonDocs

/** Spark-SQL (DataSource V2) facade over [[FileAccount]] — the reference's
  * management plane (A17–A21: /root/reference/src/clients.py:28-49,
  * containers.py:7-89) exposed to SQL-first users, so
  * `spark.sql("CREATE NAMESPACE ...")`, `SHOW NAMESPACES`, `SHOW TABLES`,
  * `CREATE TABLE`, and `spark.table(...)` drive the SAME `_meta.json` /
  * directory metadata the bespoke Scala API ([[FileAccount]]) and the merge
  * engine act on. Register like any catalog plugin:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.root", "hdfs://...")
  * spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
  * spark.sql("CREATE TABLE graft.db.c (raw STRING) TBLPROPERTIES ('pk'='/pk', 'buckets'='16')")
  * spark.table("graft.db.c")   // reads the container's raw JSON lines
  * }}}
  *
  * Namespace = database directory; table = container; table properties map
  * onto [[ContainerProps]] (`pk` = comma-joined pk paths, `buckets` =
  * bucket count; anything else in `_meta.json` is carried verbatim in the
  * `raw_meta` property — same copy-what-you-don't-interpret posture as the
  * document path). Reads scan the container's raw JSON lines distributed,
  * one input partition per data file (the bucket layout keeps file counts
  * proportional to buckets, not corpus size).
  *
  * POINT-READ PUSHDOWN: two hidden METADATA columns (absent from
  * `SELECT *`, resolvable by name) surface the document identity —
  * `_id` (the document id) and `_key` (the merge key: id ++ pk values, the
  * exact string [[FileAccount.upsertRaw]] buckets by). Equality/IN
  * predicates on them are pushed into the scan and mapped to the bucket
  * directories those keys hash to, so
  * `SELECT raw FROM graft.db.c WHERE _id = 'x'` reads ONE bucket dir (plus
  * any stray files, which can hold any key) instead of the whole container
  * — the SQL analogue of the reference's per-document point read
  * (migration.py:119-122) and of [[FileAccount.readRawBuckets]]. The
  * predicate itself is still re-evaluated by Spark above the scan (a bucket
  * holds many keys), so pruning can only skip files, never change results.
  *
  * WRITES route through the merge engine ([[ContainerWrite]]): `INSERT
  * INTO` / `INSERT OVERWRITE` / `writeStream.toTable` are upserts by merge
  * key — executors stage raw lines, the driver-side commit runs the A9–A12
  * classify → bucket-upsert pipeline, so layout, sidecars, canonical-diff
  * skip semantics, and the `_errors` channel hold for SQL writers too.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog {
  private var catalogName: String = _
  private var account: FileAccount = _
  private def store: Storage = Storage.hadoop

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val root = options.get("root")
    require(root != null && root.nonEmpty,
      s"spark.sql.catalog.$name.root must point at a FileAccount root")
    account = FileAccount(root)
  }

  override def name(): String = catalogName

  // ---- namespaces (databases: A17/A18) ----

  private def db(ns: Array[String]): String = {
    if (ns.length != 1) throw new NoSuchNamespaceException(ns)
    ns(0)
  }

  override def listNamespaces(): Array[Array[String]] =
    account.listDatabases().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty // single-level tree
    else throw new NoSuchNamespaceException(namespace)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && account.listDatabases().contains(namespace(0))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit =
    account.createDatabaseIfAbsent(db(namespace))

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft namespaces carry no mutable metadata")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val d = db(namespace)
    if (!namespaceExists(namespace)) false
    else if (account.listContainers(d).nonEmpty && !cascade)
      throw new IllegalStateException(
        s"namespace $d is not empty (use CASCADE)")
    else store.deleteRecursive(new HPath(account.root, d).toString)
  }

  // ---- tables (containers: A19/A20/A21) ----

  private def split(ident: Identifier): (String, String) =
    (db(ident.namespace()), ident.name())

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    account.listContainers(db(namespace))
      .map(Identifier.of(namespace, _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean = {
    val (d, c) = split(ident)
    account.listDatabases().contains(d) && account.listContainers(d).contains(c)
  }

  override def loadTable(ident: Identifier): Table = {
    // `db.`c@tag`` resolves to the snapshot view — the identifier spelling
    // of VERSION AS OF. It exists because streaming has no time-travel
    // clause: `spark.readStream.table("graft.db.\`c@tag\`")` replays a
    // FROZEN snapshot (reproducible training epochs), where the plain name
    // tails the live container. `@` is refused in created table names, so
    // the spelling can never collide with a real container.
    val at = ident.name().indexOf('@')
    if (at > 0)
      return loadTable(Identifier.of(ident.namespace(),
        ident.name().substring(0, at)), ident.name().substring(at + 1))
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val (d, c) = split(ident)
    new ContainerTable(account, d, c, account.containerProperties(d, c))
  }

  // ---- time travel (SELECT ... VERSION AS OF / TIMESTAMP AS OF) ----
  //
  // A snapshot tree mirrors the container layout (data/ + _meta.json +
  // _counts.json), so the WHOLE batch read stack — bucket-pruned point
  // reads, runtime filtering, sidecar statistics, COUNT(*) pushdown —
  // works against it unchanged: the scan builder just gets the snapshot
  // subtree as its container path. Layout properties come from the
  // snapshot's OWN _meta.json (a re-bucket after the snapshot must not
  // re-hash snapshot reads).

  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // validate BEFORE splicing into any path: the tag grammar admits no
    // '/' and no leading '.', so a malicious `VERSION AS OF '../../x'`
    // (or `c@../..` — the @-spelling delegates here) can never escape
    // `_snapshots/` and alias the live tree or a sibling container. An
    // invalid tag is indistinguishable from a missing snapshot.
    if (!account.isValidTag(version)) throw new NoSuchTableException(ident)
    val (d, c) = split(ident)
    val snapC = s"$c/_snapshots/$version"
    if (!store.isDirectory(account.snapshotPath(d, c, version)))
      throw new NoSuchTableException(ident)
    new SnapshotTable(account, d, c, version, snapC,
      account.containerProperties(d, snapC))
  }

  /** TIMESTAMP AS OF → the latest snapshot created at or before it
    * (micros since epoch, per the DSv2 contract). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val (d, c) = split(ident)
    val eligible = account.listSnapshots(d, c)
      .filter(_.createdMs * 1000L <= timestampMicros)
    if (eligible.isEmpty)
      throw new NoSuchTableException(ident)
    loadTable(ident, eligible.last.tag)
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "graft containers partition by pk-hash buckets ('buckets' property), not PARTITIONED BY")
    // the declared column must also be NAMED raw — accepting `(foo STRING)`
    // would succeed at DDL time and then fail every `SELECT foo` confusingly
    // (scans always return the engine's document contract column `raw`)
    require(schema.isEmpty ||
        (schema.length == 1 && schema.head.dataType == StringType &&
          schema.head.name.equalsIgnoreCase("raw")),
      s"graft containers hold raw JSON lines: declare (raw STRING), got $schema")
    // `@` is the snapshot-reference spelling (`c@tag`) — a container named
    // with it would shadow every snapshot read of its prefix
    require(!ident.name().contains('@'),
      s"'@' is reserved for snapshot references (c@tag): ${ident.name()}")
    val (d, c) = split(ident)
    val props = parseProps(properties)
    account.createDatabaseIfAbsent(d)
    account.createContainerIfAbsent(d, c, props)
    loadTable(ident)
  }

  private def parseProps(properties: util.Map[String, String]): ContainerProps =
    ContainerProps(
      pkPaths = Option(properties.get("pk"))
        .map(_.split(",").map(_.trim).toSeq).getOrElse(Seq("/id")),
      buckets = Option(properties.get("buckets")).map(_.toInt).getOrElse(16),
      raw = Option(properties.get("raw_meta")),
      autocompactFiles =
        Option(properties.get("autocompact")).map(_.toInt).filter(_ > 0))

  // ---- staged DDL (REPLACE TABLE / RTAS / atomic CTAS) ----
  //
  // The AS SELECT rows land in a HIDDEN staged container (`_rtas-<c>-<id>`
  // at the db level — `_`-prefixed, invisible to listings and scans)
  // through the ordinary merge-engine write path, so the staged tree has
  // real layout, sidecars, and an error channel. Commit is ONE directory
  // swap ([[Storage.swapDir]]) — readers see the old table until the new
  // one is complete, and a failed SELECT aborts into a staged-tree delete,
  // never a half-replaced table. A crashed swap heals when the next stage
  // of the table, or its vacuum, starts (the old table is rolled back);
  // vacuum sweeps abandoned `_rtas-*` trees by TTL while the table exists.

  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: util.Map[String, String],
                    mode: StagedContainerTable.Mode): StagedTable = {
    // same validations as createTable
    require(partitions.isEmpty,
      "graft containers partition by pk-hash buckets ('buckets' property), not PARTITIONED BY")
    require(schema.isEmpty ||
        (schema.length == 1 && schema.head.dataType == StringType &&
          schema.head.name.equalsIgnoreCase("raw")),
      s"graft containers hold raw JSON lines: declare (raw STRING), got $schema")
    require(!ident.name().contains('@'),
      s"'@' is reserved for snapshot references (c@tag): ${ident.name()}")
    val (d, c) = split(ident)
    account.healSwaps(d, c)
    mode match {
      case StagedContainerTable.Create =>
        if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
      case StagedContainerTable.Replace =>
        if (!tableExists(ident)) throw new NoSuchTableException(ident)
      case StagedContainerTable.CreateOrReplace => ()
    }
    val props = parseProps(properties)
    account.createDatabaseIfAbsent(d)
    val stagedC = s"_rtas-$c-${java.util.UUID.randomUUID().toString.take(8)}"
    account.createContainerIfAbsent(d, stagedC, props)
    new StagedContainerTable(account, ident, d, c, stagedC, props, mode)
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, StagedContainerTable.Create)

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, StagedContainerTable.Replace)

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties,
      StagedContainerTable.CreateOrReplace)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val (d, c) = split(ident)
    // LAYOUT properties (pk, buckets) are fixed at creation — every stored
    // bucket hashes by them, so changing either silently orphans data
    // (reference parity: containers.py:46-76). `autocompact` is engine-owned
    // upkeep tuning with no bearing on stored bytes: mutable.
    changes.foreach {
      case sp: TableChange.SetProperty if sp.property == "autocompact" =>
        val n = sp.value.toInt
        require(n > 0, s"autocompact must be a positive file count, got $n")
        account.setAutocompact(d, c, Some(n))
      case rp: TableChange.RemoveProperty if rp.property == "autocompact" =>
        account.setAutocompact(d, c, None)
      case other =>
        throw new UnsupportedOperationException(
          s"only the 'autocompact' property is mutable " +
            s"(layout properties are fixed at creation), got $other")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val (d, c) = split(ident)
    tableExists(ident) &&
      store.deleteRecursive(new HPath(new HPath(account.root, d), c).toString)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    // TableCatalog contract — and a data-loss guard: Hadoop rename into an
    // EXISTING directory moves src INSIDE dst and reports success, which
    // would silently nest the source container unreachably inside the
    // destination instead of failing the ALTER TABLE ... RENAME TO
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    val (od, oc) = split(oldIdent); val (nd, nc) = split(newIdent)
    val src = new HPath(new HPath(account.root, od), oc).toString
    val dst = new HPath(new HPath(account.root, nd), nc).toString
    // re-check through the rename result: a destination that appeared
    // concurrently turns the rename into the nesting move above — detect it
    // by verifying the source is GONE and the destination holds our tree
    if (!store.rename(src, dst) || store.isDirectory(src))
      throw new IllegalStateException(s"rename $src -> $dst failed")
    // the nesting case moved the WHOLE container tree to dst/<oc> — detect
    // it by the container's own internal markers there (`_meta.json`,
    // `data/`), not bare directory existence: every container tree contains
    // a `data` subdirectory, so a container literally NAMED "data" (or any
    // name colliding with layout dirs) would otherwise always trip this
    // check on its own successfully-renamed contents
    val nested = new HPath(dst, oc)
    if (store.exists(new HPath(nested, "_meta.json").toString) ||
        store.isDirectory(new HPath(nested, "data").toString))
      throw new TableAlreadyExistsException(newIdent)
  }

  // ---- maintenance procedures (CALL graft.system.compact / vacuum) ----
  //
  // The storage-maintenance verbs every long-lived 100 TB container needs,
  // surfaced through SQL so an operator never has to leave it: `compact`
  // coalesces the small files incremental upserts accumulate
  // ([[FileAccount.compactContainer]]); `vacuum` sweeps staging trees
  // abandoned by writes that died before commit
  // ([[FileAccount.vacuumStaging]]).

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names.map(Identifier.of(Array("system"), _))
    else Array.empty

  override def loadProcedure(ident: Identifier): procedures.UnboundProcedure = {
    if (!ident.namespace().sameElements(Array("system")) ||
        !GraftProcedures.names.contains(ident.name()))
      throw new RuntimeException(
        s"procedure $ident not found; available: " +
          GraftProcedures.names.map(n => s"$catalogName.system.$n").mkString(", "))
    GraftProcedures(ident.name(), account)
  }
}

/** One container as a readable V2 table: schema is the engine's document
  * contract (one `raw` JSON-line string per document), reads are
  * distributed one-partition-per-data-file, key-equality predicates on the
  * hidden `_id`/`_key` metadata columns prune to bucket directories. */
object StagedContainerTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}

/** One staged DDL operation ([[GraftCatalog.stageCreate]] family): a full
  * [[ContainerTable]] over the hidden staged container for the AS SELECT
  * write, plus the commit/abort pair — commit swaps the staged tree into
  * the real container name ([[Storage.swapDir]]), abort deletes it. */
final class StagedContainerTable(account: FileAccount, ident: Identifier,
                                 db: String, realC: String, stagedC: String,
                                 props: ContainerProps,
                                 mode: StagedContainerTable.Mode)
    extends StagedTable with SupportsRead with SupportsWrite {

  private val inner = new ContainerTable(account, db, stagedC, props)
  private def store: Storage = Storage.hadoop
  private def dir(c: String): String =
    new HPath(new HPath(account.root, db), c).toString

  override def name(): String = s"$db.$realC (staged $stagedC)"
  override def schema(): StructType = inner.schema()
  override def capabilities(): util.Set[TableCapability] = inner.capabilities()
  override def properties(): util.Map[String, String] = inner.properties()
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)

  override def commitStagedChanges(): Unit = {
    val real = dir(realC)
    // re-check the mode's precondition AT COMMIT (the table set may have
    // moved during the SELECT); violations abort the staged tree rather
    // than clobber a table the caller did not agree to replace
    if (mode == StagedContainerTable.Create && store.isDirectory(real)) {
      abortStagedChanges()
      throw new TableAlreadyExistsException(ident)
    }
    // REPLACE swaps the DATA, not the table's history: published snapshots
    // (`_snapshots/`) and the dead-letter channel (`_errors/`) are
    // container-lifetime state, so carry them into the staged tree before
    // the swap — renames, no copy. Without this, RTAS would silently
    // erase every `VERSION AS OF` tag the container ever published (the
    // replace-preserves-history semantics time-travel tables are expected
    // to have). The AS SELECT itself can have dead-lettered rows into the
    // STAGED `_errors` already, so when the destination exists the two
    // channels merge child-by-child (error part files carry job-unique
    // names; a pathological collision falls back to a disambiguated name
    // rather than dropping history). Each carry rename is recorded: a
    // refused swap leaves the old tree live, and Spark's abort then deletes
    // the staged tree, so the carried history moves back first.
    val carried = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def carry(from: String, to: String): Boolean = {
      val ok = store.rename(from, to)
      if (ok) carried += (from -> to)
      ok
    }
    Seq("_snapshots", "_errors").foreach { keep =>
      val src = new HPath(real, keep).toString
      val dst = new HPath(dir(stagedC), keep).toString
      if (store.isDirectory(src)) {
        if (!store.isDirectory(dst)) { carry(src, dst); () }
        else {
          val children = store.listFilePaths(src) ++
            store.listDirNames(src).map(new HPath(src, _).toString)
          children.foreach { child =>
            val name = new HPath(child).getName
            if (!carry(child, new HPath(dst, name).toString)) {
              carry(child, new HPath(dst, s"pre-replace-$name").toString); ()
            }
          }
        }
      }
    }
    try store.swapDir(dir(stagedC), real)
    catch { case scala.util.control.NonFatal(e) =>
      // only into a live tree: renaming into an absent one would create it
      // and make the next heal drop the trash that holds the old table
      if (store.isDirectory(real))
        carried.reverseIterator.foreach { case (from, to) =>
          try store.rename(to, from)
          catch { case scala.util.control.NonFatal(r) => e.addSuppressed(r) }
        }
      throw e
    }
  }

  override def abortStagedChanges(): Unit = {
    store.deleteRecursive(dir(stagedC)); ()
  }
}

/** Read-only view of one published snapshot: the full batch scan stack
  * (bucket-pruned point reads, runtime filtering, sidecar stats, COUNT(*)
  * pushdown) over the snapshot subtree. No write/stream capabilities — a
  * snapshot is immutable by construction, and the type makes SQL agree
  * (INSERT/DELETE against `VERSION AS OF` fail in analysis, not at
  * commit). `containerPath` is the snapshot subtree relative to the db
  * (`c/_snapshots/tag`), resolved by the same [[FileAccount]] path logic
  * as a live container. */
final class SnapshotTable(account: FileAccount, db: String, container: String,
                          tag: String, containerPath: String,
                          props: ContainerProps)
    extends Table with SupportsRead with SupportsMetadataColumns {

  override def name(): String = s"$db.$container@$tag"

  override def schema(): StructType =
    StructType(Seq(StructField("raw", StringType, nullable = false)))

  // MICRO_BATCH_READ over a snapshot is the FROZEN replay: the stream
  // drains the snapshot's fixed file set (AvailableNow terminates after
  // it), then never sees another offset — live writes land outside the
  // snapshot tree. Reproducible epoch reads for training pipelines:
  // `spark.readStream.table("graft.db.\`c@tag\`")`.
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name: String = "_id"
      override def dataType: DataType = StringType
      override def isNullable: Boolean = true
      override def comment: String = "document id (null for malformed documents)"
    },
    new MetadataColumn {
      override def name: String = "_key"
      override def dataType: DataType = StringType
      override def isNullable: Boolean = true
      override def comment: String =
        "merge key (id ++ pk values) — equality predicates prune to bucket dirs"
    })

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("pk", props.pkPaths.mkString(","))
    m.put("buckets", props.buckets.toString)
    m.put("snapshot", tag)
    m.put("location", account.dataPath(db, containerPath))
    m
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ContainerScanBuilder(account, db, containerPath, props, name(),
      options, null)
}

final class ContainerTable(account: FileAccount, db: String, container: String,
                           private[core] val props: ContainerProps)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns with SupportsDelete
    with SupportsRowLevelOperations {

  override def name(): String = s"$db.$container"

  override def schema(): StructType =
    StructType(Seq(StructField("raw", StringType, nullable = false)))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)

  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name: String = "_id"
      override def dataType: DataType = StringType
      override def isNullable: Boolean = true
      override def comment: String = "document id (null for malformed documents)"
    },
    new MetadataColumn {
      override def name: String = "_key"
      override def dataType: DataType = StringType
      override def isNullable: Boolean = true
      override def comment: String =
        "merge key (id ++ pk values) — equality predicates prune to bucket dirs"
    })

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    m.put("pk", props.pkPaths.mkString(","))
    m.put("buckets", props.buckets.toString)
    m.put("location", account.dataPath(db, container))
    props.autocompactFiles.foreach(n => m.put("autocompact", n.toString))
    props.raw.foreach(m.put("raw_meta", _))
    m
  }

  // SQL writes route through the merge engine ([[ContainerWrite]]): an
  // INSERT is an upsert by merge key — staged by executors, committed
  // driver-side through classify → FileAccount.upsertRaw, so the bucket
  // layout, count sidecars, canonical-diff skip semantics, and the error
  // channel are all maintained. INSERT OVERWRITE truncates first;
  // `writeStream.toTable` commits per-epoch through the same path.
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new ContainerWriteBuilder(account, db, container, info)

  private def filterBuckets(f: Filter): Option[Set[Long]] =
    ContainerBuckets.filterBuckets(f, props.pkPaths, props.buckets)

  // ---- SQL DELETE (the third verb on the merge engine) ----

  /** Merge keys a filter pins; None = not key-expressible. Mirrors
    * [[ContainerBuckets.filterBuckets]]'s `_key`/`_id` contract. */
  private def filterKeys(f: Filter): Option[Set[String]] = f match {
    case EqualTo("_key", k) if k != null => Some(Set(k.toString))
    case In("_key", vs) =>
      Some(vs.iterator.filter(_ != null).map(_.toString).toSet)
    case EqualTo("_id", id) if props.pkPaths == Seq("/id") && id != null =>
      Some(Set(id.toString + id.toString))
    case In("_id", vs) if props.pkPaths == Seq("/id") =>
      Some(vs.iterator.filter(_ != null)
        .map(v => v.toString + v.toString).toSet)
    case _ => None
  }

  // DELETE maps onto the engine when every conjunct either pins merge keys
  // (equality/IN on _key, or _id for /id-pk containers — a bucket-pruned
  // key delete) or is the unconditional TRUE (truncate). Anything else —
  // predicates on raw, ranges — would need a row-level scan-and-rewrite
  // the layout does not express as a metadata-only delete; Spark reports
  // those as unsupported instead of silently scanning.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => f.isInstanceOf[AlwaysTrue] || filterKeys(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val keySets = filters.filterNot(_.isInstanceOf[AlwaysTrue]).map(filterKeys)
    require(keySets.forall(_.isDefined),
      s"unsupported DELETE predicate: ${filters.mkString(", ")}")
    if (keySets.isEmpty) account.truncateData(db, container) // DELETE FROM t
    else {
      // conjunctive: a row is deleted iff it matches EVERY filter
      val keys = keySets.flatten.reduce(_ intersect _)
      account.deleteByMergeKeys(
        org.apache.spark.sql.SparkSession.active, db, container, keys.toSeq)
      ()
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ContainerScanBuilder(account, db, container, props, name(), options, null)

  /** MERGE INTO / UPDATE / arbitrary-predicate DELETE via the group-based
    * (copy-on-write) row-level API: Spark reads the affected GROUPS
    * (bucket dirs — runtime-filtered to the buckets the merge keys hash
    * to, through the scan's [[SupportsRuntimeFiltering]]), computes the
    * replacement rows, and the write's commit swaps exactly the read
    * groups ([[ContainerMerge.replaceGroups]]). Key-equality DELETEs never
    * get here — [[SupportsDelete.canDeleteWhere]] claims them first as
    * metadata-only bucket deletes. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new ContainerRowLevelOperation(account, db, container, props,
          name(), info.command())
    }
}

/** The table's scan builder, shared by plain reads and the row-level
  * (MERGE/UPDATE/DELETE rewrite) read path — `onPlan` (nullable) is the
  * row-level coordination hook: the scan reports the exact files the
  * (runtime-filtered) read finally planned, which is the group set the
  * rewrite's commit replaces. */
private[core] final class ContainerScanBuilder(
    account: FileAccount, db: String, container: String,
    props: ContainerProps, tableName: String,
    options: CaseInsensitiveStringMap,
    onPlan: Seq[String] => Unit)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var buckets: Option[Set[Long]] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType =
    StructType(Seq(StructField("raw", StringType, nullable = false)))
  private var countPushed: Option[Long] = None

  /** COUNT(*) answered from the count sidecars — `SELECT count(*) FROM
    * graft.db.c` becomes a listing walk instead of a container read (A3/A15
    * count verification in O(metadata); at 100 TB, milliseconds vs reading
    * every byte). Accepted ONLY when provably exact: no grouping, nothing
    * but COUNT(*) requested, a plain read (not the row-level rewrite path),
    * no bucket pruning in play (Spark additionally never offers the
    * aggregate while residual filters exist — and this scan keeps every
    * filter residual), and [[FileAccount.metadataRowCount]] vouches every
    * bucket's listing signature with no strays. Anything unvouched
    * declines, and the ordinary counting scan runs (which self-heals the
    * sidecar via the maintenance path, making the NEXT count metadata-
    * only). Partial-pushdown semantics: the scan emits one row per count
    * column and Spark's final aggregate sums them. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    val countsOnly = agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])
    if (onPlan != null || buckets.isDefined || pushed.nonEmpty ||
        agg.groupByExpressions.nonEmpty || !countsOnly) return false
    countPushed = account.metadataRowCount(db, container)
    countPushed.foreach(_ => pushedAggCols = agg.aggregateExpressions.length)
    countPushed.isDefined
  }

  private var pushedAggCols: Int = 1

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val usable = filters.flatMap(f =>
      ContainerBuckets.filterBuckets(f, props.pkPaths, props.buckets)
        .map(f -> _))
    // conjunctive semantics: every pushed filter must hold, so the scan
    // only needs buckets in the INTERSECTION of their constraints
    buckets = usable.map(_._2)
      .reduceOption(_ intersect _).orElse(buckets)
    pushed = usable.map(_._1)
    // bucket pruning skips files, it does not evaluate the predicate
    // (a bucket holds many keys) — every filter stays residual
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    countPushed match {
      case Some(n) => return new ContainerCountScan(tableName, n, pushedAggCols)
      case None =>
    }
    val meta = account.dataFilesMeta(db, container)
    val files = ContainerBuckets.prune(meta.map(_._1), buckets)
    // sidecar counts feed the scan's statistics report — metadata-only
    // reads, so Catalyst prices a container join on REAL numbers
    // (without a report, a DSv2 relation defaults to "infinite" and a
    // small container dim is never broadcast)
    val rowsByBucket = account.readBucketCounts(db, container)
      .map { case (b, (n, _)) => b -> n }
    // streaming rate shaping (A2's bounded pagination through SQL):
    // maxFilesPerTrigger / maxBytesPerTrigger cap each micro-batch
    val limits = StreamLimits(
      Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      Option(options.get("maxBytesPerTrigger")).map(_.toLong))
    new ContainerScan(tableName, files,
      () => account.dataFilesMeta(db, container),
      required, props.pkPaths, props.buckets, meta.toMap, rowsByBucket,
      limits, new SerializableHadoopConf(Storage.sessionHadoopConf()),
      onPlan)
  }
}

final case class ContainerFileSlice(path: String) extends InputPartition

/** The pushed-COUNT(*) scan: one input partition, one row carrying the
  * sidecar-derived exact count (replicated per requested count column);
  * Spark's final aggregate sums the partials. No container file is opened. */
final class ContainerCountScan(table: String, n: Long, cols: Int)
    extends Scan with Batch with Serializable {

  override def readSchema(): StructType =
    StructType((1 to cols).map(i =>
      StructField(s"count_$i", org.apache.spark.sql.types.LongType,
        nullable = false)))

  override def description(): String =
    s"graft container $table (COUNT(*) from count sidecars: $n rows, no files read)"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array(ContainerCountSlice(n, cols))

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val s = p.asInstanceOf[ContainerCountSlice]
        new PartitionReader[InternalRow] {
          private var emitted = false
          override def next(): Boolean = { val r = !emitted; emitted = true; r }
          override def get(): InternalRow =
            InternalRow.fromSeq(Seq.fill(s.cols)(s.n))
          override def close(): Unit = ()
        }
      }
    }
}

final case class ContainerCountSlice(n: Long, cols: Int) extends InputPartition

/** Merge-key → bucket-directory mapping, shared by the ScanBuilder's STATIC
  * pushdown (`WHERE _key = 'x'` literals, known at planning) and the scan's
  * RUNTIME filter (join-driven key sets, known only after the build side
  * executes). The hash MUST match [[FileAccount.upsertRaw]]'s bucket column
  * (`pmod(xxhash64(concat_ws("", keyCols)), buckets)`) — both paths
  * evaluate the same Catalyst `XxHash64` driver-side on the key strings. */
private[core] object ContainerBuckets {

  def bucketOf(key: String, buckets: Int): Long = {
    val h = XxHash64(Seq(Literal(UTF8String.fromString(key), StringType)), 42L)
      .eval(InternalRow.empty).asInstanceOf[Long]
    ((h % buckets) + buckets) % buckets
  }

  /** Bucket ids a filter constrains the scan to; None = no constraint from
    * this filter. `_key` carries the full merge key; `_id` is usable alone
    * only when the pk path IS /id (then key = id ++ id). Values arrive as
    * planner literals (String) or runtime-collected join keys — stringify
    * either way. */
  def filterBuckets(f: Filter, pkPaths: Seq[String],
                    buckets: Int): Option[Set[Long]] = f match {
    case EqualTo("_key", k) if k != null =>
      Some(Set(bucketOf(k.toString, buckets)))
    case In("_key", vs) =>
      Some(vs.iterator.filter(_ != null)
        .map(v => bucketOf(v.toString, buckets)).toSet)
    case EqualTo("_id", id) if pkPaths == Seq("/id") && id != null =>
      Some(Set(bucketOf(id.toString + id.toString, buckets)))
    case In("_id", vs) if pkPaths == Seq("/id") =>
      Some(vs.iterator.filter(_ != null)
        .map(v => bucketOf(v.toString + v.toString, buckets)).toSet)
    case _ => None
  }

  /** Keep a `b=<k>` file only if k is selected; files OUTSIDE the bucket
    * layout (strays) can hold any key and are always read. */
  def prune(files: Seq[String], buckets: Option[Set[Long]]): Seq[String] =
    buckets match {
      case None => files
      case Some(bs) => files.filter { path =>
        "/b=(\\d+)/".r.findFirstMatchIn(path) match {
          case Some(m) => bs.contains(m.group(1).toLong)
          case None => true
        }
      }
    }
}

/** Per-trigger admission caps for the catalog streaming source (None =
  * unbounded). File-granular like the rest of the stream: a batch takes
  * whole files up to the cap, always at least one so the stream makes
  * progress even when a single file exceeds `maxBytes`. */
final case class StreamLimits(maxFiles: Option[Int], maxBytes: Option[Long])

final class ContainerScan(table: String, files: Seq[String],
                          @transient lister: () => Seq[(String, Long)],
                          schema: StructType, pkPaths: Seq[String],
                          buckets: Int, sizes: Map[String, Long],
                          rowsByBucket: Map[Long, Long],
                          limits: StreamLimits,
                          conf: SerializableHadoopConf,
                          @transient onPlan: Seq[String] => Unit = null)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics with Serializable {

  // RUNTIME (join-driven) bucket pruning — the point-read pushdown extended
  // to the merge join itself: when this scan joins a small key set on
  // `_key` (or `_id` for /id-pk containers), Spark's dynamic pruning hands
  // the ACTUAL build-side keys here after the build side executes, and the
  // scan narrows to the bucket dirs those keys hash to before any input
  // partition is planned. A 100-key merge against a 100 TB container then
  // touches ~100 buckets' files, not every file — without the caller ever
  // leaving SQL. Driver-side state: Spark invokes filter() and re-plans on
  // the driver; executors only ever see the final file slices.
  private var activeFiles: Seq[String] = files

  private[graft] def currentFiles: Seq[String] = activeFiles

  // only attributes present in THIS scan's pruned output — Spark resolves
  // the refs against the scan schema and fails hard on absent columns
  override def filterAttributes(): Array[NamedReference] = {
    val usable =
      if (pkPaths == Seq("/id")) Seq("_key", "_id") else Seq("_key")
    usable.filter(schema.fieldNames.contains)
      .map(Expressions.column).toArray
  }

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.flatMap(
      ContainerBuckets.filterBuckets(_, pkPaths, buckets))
    // conjunctive, like the static path; pruning only skips files (a
    // bucket holds many keys), Spark re-evaluates the join above the scan
    sets.reduceOption(_ intersect _).foreach { bs =>
      activeFiles = ContainerBuckets.prune(activeFiles, Some(bs))
    }
  }

  override def readSchema(): StructType = schema

  override def description(): String = s"graft container $table (${files.size} files)"

  override def toBatch: Batch = this

  /** Statistics from DRIVER METADATA only: byte size from the file listing
    * (post static AND runtime pruning — a point read reports one bucket's
    * bytes, not the container's), row count from the `_counts.json`
    * sidecar when the selected files are exactly whole vouched buckets.
    * Without this report a DSv2 relation defaults to an effectively
    * infinite size and a megabyte-sized container dim would never be
    * broadcast — at 100 TB the difference between a map-only dim join and
    * a full fact shuffle. Estimates only: Spark re-verifies nothing here,
    * and AQE corrects at runtime off actual sizes. */
  override def estimateStatistics(): Statistics = {
    val fs = activeFiles
    val bytes = fs.flatMap(sizes.get).sum
    val bucketRe = "/b=(\\d+)/".r
    val selBuckets = fs.flatMap(bucketRe.findFirstMatchIn(_))
      .map(_.group(1).toLong).toSet
    val straySelected = fs.exists(bucketRe.findFirstMatchIn(_).isEmpty)
    val rowsKnown = !straySelected && selBuckets.forall(rowsByBucket.contains)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        if (rowsKnown)
          java.util.OptionalLong.of(selBuckets.toSeq.map(rowsByBucket).sum)
        else java.util.OptionalLong.empty()
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // row-level coordination: report the FINAL (runtime-filtered) file set
    // — the group list the MERGE/UPDATE/DELETE rewrite commit replaces
    if (onPlan != null) onPlan(activeFiles)
    activeFiles.map(ContainerFileSlice(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ContainerReaderFactory(schema.fieldNames, pkPaths, conf)

  /** `spark.readStream.table("graft.db.c")` — ST-6's source side surfaced
    * through the SQL catalog: each micro-batch reads the data files that
    * appeared since the last committed offset, with the checkpoint as the
    * resume cursor (the A2 pagination analogue, same contract as the
    * FileStreamSource path `Streams.syncContainers` drives). */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ContainerMicroBatchStream(lister, schema.fieldNames, pkPaths,
      limits, conf)
}

/** Offset of the container stream: the set of data files already consumed.
  * The bucket layout keeps the container's file count proportional to its
  * bucket count (upserts REWRITE whole bucket dirs with fresh part files),
  * so the offset stays metadata-sized — and a bucket rewrite makes the
  * surviving rows reappear in new files, which the stream re-emits: the
  * delivery contract is at-least-once per document VERSION, exactly the
  * contract `Streams.syncContainers` consumes (its merge collapses
  * replays; ST-8's first-seen gate is the opt-in exactly-once analogue). */
final case class ContainerStreamOffset(files: Seq[String]) extends Offset {
  override def json(): String =
    files.sorted.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      .mkString("[", ",", "]")
}

object ContainerStreamOffset {
  def fromJson(json: String): ContainerStreamOffset =
    ContainerStreamOffset(
      "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(json)
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\")).toSeq)
}

final class ContainerMicroBatchStream(lister: () => Seq[(String, Long)],
                                      fields: Array[String],
                                      pkPaths: Seq[String],
                                      limits: StreamLimits,
                                      conf: SerializableHadoopConf)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  // AvailableNow drains to a FIXED snapshot taken at query start, so the
  // run terminates even while writers keep landing files
  @volatile private var snapshot: Option[Seq[(String, Long)]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    snapshot = Some(lister())

  override def initialOffset(): Offset = ContainerStreamOffset(Seq.empty)

  override def getDefaultReadLimit: ReadLimit = (limits.maxFiles, limits.maxBytes) match {
    case (Some(f), Some(b)) =>
      ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
    case (Some(f), None) => ReadLimit.maxFiles(f)
    case (None, Some(b)) => ReadLimit.maxBytes(b)
    case _ => ReadLimit.allAvailable()
  }

  /** Apply the per-trigger cap to the not-yet-consumed files (sorted, so
    * batch composition is deterministic and matches the replay order).
    * Whole-file granularity, minimum one file per batch — a bounded
    * catch-up over a huge backlog becomes N checkpointed batches instead
    * of one giant batch, exactly the reference's paged migration loop
    * (A2 / migration.py:81-87) surfaced as Spark admission control. */
  private def admit(newFiles: Seq[(String, Long)]): Seq[(String, Long)] = {
    val byName = newFiles.sortBy(_._1)
    val afterFiles = limits.maxFiles.fold(byName)(n => byName.take(math.max(1, n)))
    limits.maxBytes.fold(afterFiles) { cap =>
      var cum = 0L
      val taken = afterFiles.takeWhile { case (_, sz) =>
        val ok = cum == 0L || cum + sz <= cap; cum += sz; ok }
      if (taken.isEmpty) afterFiles.take(1) else taken
    }
  }

  // SupportsAdmissionControl surface (required by SupportsTriggerAvailableNow):
  // each batch takes up to the configured cap of what's new since `start`
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val startFiles = start.asInstanceOf[ContainerStreamOffset].files
    val available = snapshot.getOrElse(lister())
    val seen = startFiles.toSet
    val fresh = available.filterNot { case (p, _) => seen(p) }
    if (fresh.isEmpty) start
    else ContainerStreamOffset(startFiles ++ admit(fresh).map(_._1))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-control latestOffset(start, limit) is the entry point")

  override def deserializeOffset(json: String): Offset =
    ContainerStreamOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[ContainerStreamOffset].files.toSet
    end.asInstanceOf[ContainerStreamOffset].files
      .filterNot(seen).sorted
      .map(ContainerFileSlice(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ContainerReaderFactory(fields, pkPaths, conf)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

final class ContainerReaderFactory(fields: Array[String], pkPaths: Seq[String],
                                   conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = new HPath(partition.asInstanceOf[ContainerFileSlice].path)
    // MISSING-FILE TOLERANCE: a concurrent upsert rewrites whole bucket
    // dirs (deleting old part files), so a file can vanish between the
    // driver's listing and this executor open — in the streaming case the
    // end offset is already WAL-committed, so failing here would replay the
    // same batch against the same deleted files forever. An empty reader is
    // correct under the delivery contract: the rewritten bucket's surviving
    // rows reappear in its NEW part files, which the next listing picks up
    // (at-least-once per document version; batch reads inherit the same
    // listing-consistency semantics as Spark's own file sources).
    val in = try path.getFileSystem(conf.value).open(path)
      catch { case _: java.io.FileNotFoundException =>
        return new PartitionReader[InternalRow] {
          override def next(): Boolean = false
          override def get(): InternalRow =
            throw new IllegalStateException("empty reader")
          override def close(): Unit = ()
        }
      }
    val lines = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
    val paths = pkPaths.map(_.stripPrefix("/")).toArray
    val needsKeys = fields.exists(f => f == "_id" || f == "_key")
    new PartitionReader[InternalRow] {
      private var line: String = _
      override def next(): Boolean = { line = lines.readLine(); line != null }
      override def get(): InternalRow = {
        val raw = UTF8String.fromString(line)
        // (id, pk0..pkN) via the merge path's parse-once kernel — the same
        // key derivation upsertRaw buckets by; null keys for malformed docs
        lazy val keys: Array[UTF8String] =
          if (!needsKeys) null else JsonDocs.docKeys(raw, paths, inject = false)
        InternalRow.fromSeq(fields.toSeq.map {
          case "raw" => raw
          case "_id" => if (keys == null) null else keys(1)
          case "_key" =>
            if (keys == null) null
            else {
              // concat_ws("", id, pks...) semantics: nulls skipped
              val sb = new java.lang.StringBuilder()
              var i = 1
              while (i < keys.length) {
                if (keys(i) != null) sb.append(keys(i).toString)
                i += 1
              }
              UTF8String.fromString(sb.toString)
            }
          case other =>
            throw new IllegalStateException(s"unknown column $other")
        })
      }
      override def close(): Unit = lines.close()
    }
  }
}

/** Minimal serializable Hadoop-conf carrier (the engine avoids Spark's
  * private[spark] SerializableConfiguration): writes the fully-resolved
  * entry set, rebuilds a defaults-free Configuration on the executor. */
final class SerializableHadoopConf(@transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = conf

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    val entries = conf.iterator().asScala
      .map(e => (e.getKey, e.getValue)).toArray
    out.writeObject(entries)
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    val entries = in.readObject().asInstanceOf[Array[(String, String)]]
    conf = new Configuration(false)
    entries.foreach { case (k, v) => conf.set(k, v) }
  }
}
