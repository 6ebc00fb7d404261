package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Maintenance procedures of [[GraftCatalog]] — the SQL surface of the
  * engine's storage upkeep, callable without leaving SQL:
  *
  * {{{
  * CALL graft.system.compact(db => 'db', container => 'c', target_mb => 128)
  * CALL graft.system.vacuum(db => 'db', container => 'c', ttl_hours => 24)
  * }}}
  *
  * Both are driver-coordinated container maintenance (the reference has no
  * analogue — its store compacts server-side; a file-backed layout must own
  * the job): `compact` bounds the per-bucket file count that incremental
  * upserts grow ([[FileAccount.compactContainer]]), `vacuum` sweeps staging
  * trees abandoned by writes that died before commit
  * ([[FileAccount.vacuumStaging]]). Results come back as ordinary result
  * rows (a one-row [[LocalScan]]), so `spark.sql("CALL ...")` composes with
  * the caller's own reporting. */
private[core] object GraftProcedures {

  /** Hard cap on the hourly windows [[DriftProcedure]] collects to the
    * driver: ~11 years of hourly data — far above any sane monitoring
    * span, far below driver-OOM territory. Exceeding it means the ts
    * field is corrupt (scattered epoch garbage), and the procedure
    * refuses with that diagnosis instead of materializing the garbage.
    * The `graft.drift.maxWindows` property overrides (test seam — specs
    * pin the refusal without fabricating 10⁵ distinct hours). */
  def MaxDriftWindows: Int =
    sys.props.get("graft.drift.maxWindows").map(_.toInt).getOrElse(100000)

  val names: Array[String] =
    Array("compact", "vacuum", "stats", "verify", "rebucket",
      "snapshot", "snapshots", "restore", "drop_snapshot",
      "expire_snapshots", "expire_indexes", "diff", "distinct",
      "dupclusters", "lexindex", "ivfindex", "mmivf", "vacuum_gate",
      "gate_stats", "drift")

  def apply(name: String, account: FileAccount): UnboundProcedure = name match {
    case "compact"  => new CompactProcedure(account)
    case "vacuum"   => new VacuumProcedure(account)
    case "stats"    => new StatsProcedure(account)
    case "verify"   => new VerifyProcedure(account)
    case "rebucket" => new RebucketProcedure(account)
    case "distinct" => new DistinctProcedure(account)
    case "dupclusters" => new DupClustersProcedure(account)
    case "lexindex"    => new LexIndexProcedure
    case "ivfindex"    => new IvfIndexProcedure
    case "mmivf"       => new MmIvfProcedure
    case "snapshot"      => new SnapshotProcedure(account)
    case "snapshots"     => new ListSnapshotsProcedure(account)
    case "restore"       => new RestoreProcedure(account)
    case "drop_snapshot" => new DropSnapshotProcedure(account)
    case "expire_snapshots" => new ExpireSnapshotsProcedure(account)
    case "expire_indexes"   => new ExpireIndexesProcedure
    case "vacuum_gate"      => new VacuumGateProcedure
    case "gate_stats"       => new GateStatsProcedure
    case "drift"            => new DriftProcedure(account)
    case "diff"          => new DiffProcedure(account)
  }

  private[core] def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** One-row driver-computed result relation. */
  private[core] final class OneRowScan(schema: StructType, row: InternalRow)
      extends LocalScan {
    override def rows(): Array[InternalRow] = Array(row)
    override def readSchema(): StructType = schema
  }

  /** Multi-row driver-computed result relation (bucket-bounded). */
  private[core] final class RowsScan(schema: StructType,
                                     rs: Array[InternalRow])
      extends LocalScan {
    override def rows(): Array[InternalRow] = rs
    override def readSchema(): StructType = schema
  }
}

/** `CALL graft.system.compact(db, container[, target_mb])` — see
  * [[FileAccount.compactContainer]]. */
private[core] final class CompactProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "compact"
  override def description(): String =
    "coalesce a container's per-bucket small files down to target_mb-sized files"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build(),
    ProcedureParameter.in("target_mb", IntegerType).defaultValue("128")
      .comment("target output file size per bucket, MiB").build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val db = input.getUTF8String(0).toString
    val container = input.getUTF8String(1).toString
    val targetMb = input.getInt(2)
    val stats = account.compactContainer(SparkSession.active, db, container,
      targetMb.toLong << 20)
    val schema = StructType(Seq(
      StructField("buckets_compacted", IntegerType, nullable = false),
      StructField("files_before", LongType, nullable = false),
      StructField("files_after", LongType, nullable = false),
      StructField("bytes_rewritten", LongType, nullable = false),
      StructField("strays_absorbed", LongType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](
      stats.buckets.size, stats.filesBefore, stats.filesAfter,
      stats.bytesRewritten, stats.straysAbsorbed))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.rebucket(db, container, buckets)` — see
  * [[FileAccount.rebucketContainer]]: the full-rewrite escape hatch for a
  * bucket count mis-sized at creation. */
private[core] final class RebucketProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "rebucket"
  override def description(): String =
    "rewrite the container into a new pk-hash bucket layout (full pass)"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build(),
    ProcedureParameter.in("buckets", IntegerType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val db = input.getUTF8String(0).toString
    val container = input.getUTF8String(1).toString
    val buckets = input.getInt(2)
    val rows = account.rebucketContainer(
      SparkSession.active, db, container, buckets)
    val schema = StructType(Seq(
      StructField("rows", LongType, nullable = false),
      StructField("buckets", IntegerType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](rows, buckets))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.stats(db, container)` — one row per bucket from
  * DRIVER METADATA only (listing + the `_counts.json` sidecar, no data
  * read): file count, bytes, the sidecar row count, and whether the
  * current listing signature vouches for it. The capacity-planning /
  * skew-triage view an operator reads before deciding to compact,
  * re-bucket, or deep-audit. */
private[core] final class StatsProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "stats"
  override def description(): String =
    "per-bucket file/byte/row stats from driver metadata (no data scan)"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val db = input.getUTF8String(0).toString
    val container = input.getUTF8String(1).toString
    val sidecar = account.readBucketCounts(db, container)
    val sigs = account.bucketSignatures(db, container)
    val files = account.dataFilesMeta(db, container)
    val re = "/b=(\\d+)/".r
    val byBucket = files.groupBy(f => re.findFirstMatchIn(f._1).map(_.group(1).toLong))
    val schema = StructType(Seq(
      StructField("bucket", LongType, nullable = false),
      StructField("files", IntegerType, nullable = false),
      StructField("bytes", LongType, nullable = false),
      StructField("rows", LongType, nullable = true),
      StructField("vouched", BooleanType, nullable = false)))
    val rows = byBucket.toSeq.sortBy(_._1.getOrElse(-1L)).map { case (b, fs) =>
      val bucket = b.getOrElse(-1L) // -1 = strays at the data root
      val vouched = b.exists(id =>
        sidecar.get(id).exists(e => sigs.get(id).contains(e._2)))
      new GenericInternalRow(Array[Any](
        bucket, fs.size, fs.map(_._2).sum,
        b.flatMap(sidecar.get).map(_._1).filter(_ => vouched)
          .map(Long.box).orNull,
        vouched))
    }
    java.util.List.of[Scan](
      new GraftProcedures.RowsScan(schema, rows.toArray)).iterator()
  }
}

/** `CALL graft.system.verify(db, container)` — the A15 verification
  * surfaced through SQL: container row count in O(metadata + unvouched
  * buckets) via [[FileAccount.countRows]] (sidecar-vouched buckets are
  * free; externally-modified ones — and only those — rescan and self-heal
  * the sidecar). */
private[core] final class VerifyProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "verify"
  override def description(): String =
    "container row count: sidecar-vouched buckets free, unvouched rescanned"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val db = input.getUTF8String(0).toString
    val container = input.getUTF8String(1).toString
    val sidecar = account.readBucketCounts(db, container)
    val sigs = account.bucketSignatures(db, container)
    val vouched = sigs.count { case (b, sig) =>
      sidecar.get(b).exists(_._2 == sig) }
    val rows = account.countRows(
      SparkSession.active, db, container)
    val schema = StructType(Seq(
      StructField("rows", LongType, nullable = false),
      StructField("buckets", IntegerType, nullable = false),
      StructField("vouched_buckets", IntegerType, nullable = false),
      StructField("rescanned_buckets", IntegerType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](
      rows, sigs.size, vouched, sigs.size - vouched))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.distinct(db, container)` — incremental distinct
  * merge-key estimate via the per-bucket HLL sketch sidecar
  * ([[FileAccount.distinctKeys]]): vouched buckets contribute their stored
  * sketch free, only changed buckets re-sketch, and the estimate is a
  * driver-bounded sketch union — COUNT(DISTINCT key) at O(delta) cost. */
private[core] final class DistinctProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "distinct"
  override def description(): String =
    "distinct merge-key estimate: vouched bucket sketches free, changed buckets re-sketched"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val db = input.getUTF8String(0).toString
    val container = input.getUTF8String(1).toString
    val stats = account.distinctKeys(SparkSession.active, db, container)
    val schema = StructType(Seq(
      StructField("distinct_keys_est", LongType, nullable = false),
      StructField("buckets", IntegerType, nullable = false),
      StructField("vouched_buckets", IntegerType, nullable = false),
      StructField("resketched_buckets", IntegerType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](
      stats.estimate, stats.buckets, stats.vouched, stats.resketched))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.dupclusters(dir)` — build (or warm-load) the durable
  * dup-cluster index over a documents corpus directory
  * ([[graft.operators.DupClusters]]) and report its shape: docs covered,
  * verified near-dup pairs, clustered (non-singleton) members. The SQL
  * doorway to the artifact the cluster-routed split / keep-canonical /
  * dedup-aware-mix queries consume — a warm call is metadata + cached
  * graph-sized counts, never a corpus pass; a cold call pays the one-pass
  * build ONCE for every consumer thereafter. Takes a corpus DIRECTORY (the
  * index is corpus-fingerprint-keyed), not a db/container — the same
  * testdata contract as the query surface. */
private[core] final class DupClustersProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "dupclusters"
  override def description(): String =
    "build or warm-load the durable dup-cluster index for a corpus dir"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("dir", StringType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    import org.apache.spark.sql.functions._
    val dir = input.getUTF8String(0).toString
    val s = SparkSession.active
    val idx = graft.operators.DupClusters.build(s, dir)
    // cohesion rollup (VERDICT r14 task 6): the q_g10 audit's verdict on
    // the ops doorway — an operator sees the transitive-chain hazard
    // (components failing the SafeDensityPm/SafeMeanHamC collapse gate)
    // without running the registry query. One graph-sized aggregate over
    // the cached lanes; MaintenanceSpec pins it equal to q_g10.
    val unsafe = col("density_pm") < graft.operators.Dedup.SafeDensityPm ||
      col("mean_ham_c") > graft.operators.Dedup.SafeMeanHamC
    val coh = graft.operators.Dedup.qG10(s, dir)
      .agg(count(lit(1)).as("n_components"),
        coalesce(min("density_pm"), lit(0L)).as("min_density_pm"),
        coalesce(sum(when(unsafe, 1L).otherwise(0L)), lit(0L))
          .as("n_unsafe_components"),
        coalesce(max(when(unsafe, col("n_members"))), lit(0L))
          .as("max_unsafe_members"))
      .head()
    // the q_g11 cut-set size alongside the q_g10 verdict: how many edges
    // are transitive-closure glue (zero triangle support) — the re-verify
    // queue an operator drains before trusting per-component collapse
    val nWeak = graft.operators.Dedup
      .weakEdges(idx.pairs.select("a_id", "b_id", "ham")).count()
    // the severing outcome (round 16): how many welds the edit-distance
    // re-verification refuted, and the family count after the artifact
    // severs them — the q_g12 verdict on the ops doorway
    val nRefuted = idx.refuted.count()
    val nSevComponents = idx.severed.select("component").distinct().count()
    // verdicts-cache size (VERDICT r16 task 5): pair-bounded by the
    // publish-time vacuum — an operator watching this column sees the
    // cache track the live graph instead of append history
    val nVerdicts = idx.verdicts.count()
    // the q_g13 depth verdict: max family depth before/after severing —
    // the cluster-diameter hazard (Lee et al. 2022) on one row
    val depths = graft.operators.Dedup.qG13(s, dir)
      .groupBy("graph").agg(max("depth").as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val maxDepthRaw = depths.getOrElse("raw", 0L)
    val maxDepthSev = depths.getOrElse("severed", 0L)
    val schema = StructType(Seq(
      StructField("index_path", StringType, nullable = false),
      StructField("n_docs", LongType, nullable = false),
      StructField("n_pairs", LongType, nullable = false),
      StructField("n_clustered", LongType, nullable = false),
      StructField("n_components", LongType, nullable = false),
      StructField("min_density_pm", LongType, nullable = false),
      StructField("n_unsafe_components", LongType, nullable = false),
      StructField("max_unsafe_members", LongType, nullable = false),
      StructField("n_weak_edges", LongType, nullable = false),
      StructField("n_refuted_edges", LongType, nullable = false),
      StructField("n_severed_components", LongType, nullable = false),
      StructField("n_cached_verdicts", LongType, nullable = false),
      StructField("max_depth_raw", LongType, nullable = false),
      StructField("max_depth_severed", LongType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](
      GraftProcedures.utf8(idx.path), idx.nDocs,
      idx.pairs.count(), idx.clusters.count(),
      coh.getLong(0), coh.getLong(1), coh.getLong(2), coh.getLong(3),
      nWeak, nRefuted, nSevComponents, nVerdicts, maxDepthRaw, maxDepthSev))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.lexindex(dir)` — build (or warm-load) the durable
  * inverted index over a documents corpus directory
  * ([[graft.operators.LexIndex]]) and report its shape: docs covered,
  * distinct terms, postings rows, and the frozen bucket count. SQL parity
  * with `dupclusters`: the doorway to the artifact the BM25 / hybrid-RRF
  * lexical lanes serve from — a warm call reads sidecar metadata plus
  * index-sized counts, never a corpus pass. */
private[core] final class LexIndexProcedure
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "lexindex"
  override def description(): String =
    "build or warm-load the durable inverted index for a corpus dir"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("dir", StringType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = input.getUTF8String(0).toString
    val idx = graft.operators.LexIndex.build(SparkSession.active, dir)
    val schema = StructType(Seq(
      StructField("index_path", StringType, nullable = false),
      StructField("n_docs", LongType, nullable = false),
      StructField("n_terms", LongType, nullable = false),
      StructField("n_postings", LongType, nullable = false),
      StructField("buckets", LongType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](
      GraftProcedures.utf8(idx.path), idx.nDocsAll,
      idx.terms.count(), idx.postings.count(), idx.buckets.toLong))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.ivfindex(dir[, lloyd_iters])` — build (or
  * warm-load) the durable IVF ANN index over an embeddings corpus
  * directory ([[graft.operators.Similarity.IvfIndex]]) and report its
  * shape: coarse cells, indexed vectors, and the frozen int8 quantizer
  * scale. Completes the artifact-doorway trio with `dupclusters` and
  * `lexindex` — a warm call reads sidecars plus one index-sized count,
  * never a corpus pass. */
private[core] final class IvfIndexProcedure
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "ivfindex"
  override def description(): String =
    "build or warm-load the durable IVF ANN index for a corpus dir"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("dir", StringType).build(),
    ProcedureParameter.in("lloyd_iters", IntegerType).defaultValue("0")
      .comment("quantizer training rounds (0 = seeded)").build(),
    ProcedureParameter.in("target_recall_pm", IntegerType).defaultValue("-1")
      .comment("when >= 0: run the q_sim22 nprobe sweep and recommend " +
        "the smallest nprobe whose measured recall meets the target")
      .build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = input.getUTF8String(0).toString
    val iters = input.getInt(1)
    val targetRecallPm = input.getInt(2)
    val idx = graft.operators.Similarity.IvfIndex
      .build(SparkSession.active, dir, lloydIters = iters)
    // balance verdict (round 13 — the qSim19 numbers, CALL-shaped): the
    // retrain-on-drift signal for the frozen-quantizer append paths. One
    // aggregate over the CACHED assignment; k-row collect, k = n_cells.
    val counts = idx.assigned.groupBy("cell").count()
      .collect().map(_.getLong(1))
    val total = counts.sum
    val maxSharePm = // empty index (no assigned vectors) reports 0, not a throw
      if (counts.isEmpty || total == 0L) 0L else counts.max * 1000L / total
    val nHot = counts.count(c => c * idx.cellIds.length > 2L * total).toLong
    // dead cells are retrain evidence exactly like hot ones: they waste
    // nprobe budget and signal a drifted quantizer (VERDICT r13 task 5)
    val nEmpty = (idx.cellIds.length - counts.length).toLong
    // SERVING GUIDANCE (VERDICT r15 task 5): with a target, recommend the
    // SMALLEST nprobe whose measured q_sim22 recall meets it (falling
    // back to probing every cell — recall 1000 pm by construction — when
    // no smaller point does). VERDICT r16 task 4: the curve is CACHED
    // under the serving index's fingerprint — the first request per index
    // state pays the 5-point sweep once and publishes it; every call
    // after reads a sweep-point-sized parquet, no probe jobs
    // (MaintenanceSpec pins both the recommendation and the warm
    // job-count). target < 0 skips the sweep entirely (zeros).
    val (recNprobe, recRecall, recScan) =
      if (targetRecallPm < 0) (0L, 0L, 0L)
      else {
        val curve = graft.operators.Similarity.IvfIndex
          .cachedNprobeCurve(SparkSession.active, dir)
          .select("nprobe", "recall_pm", "scan_pm")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        curve.find(_._2 >= targetRecallPm).getOrElse(curve.last) match {
          case (np, rec, scan) => (np, rec, scan)
        }
      }
    val schema = StructType(Seq(
      StructField("n_cells", LongType, nullable = false),
      StructField("n_vectors", LongType, nullable = false),
      StructField("quant_scale", DoubleType, nullable = false),
      StructField("max_share_pm", LongType, nullable = false),
      StructField("n_hot_cells", LongType, nullable = false),
      StructField("n_empty_cells", LongType, nullable = false),
      StructField("recommended_nprobe", LongType, nullable = false),
      StructField("rec_recall_pm", LongType, nullable = false),
      StructField("rec_scan_pm", LongType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](
      idx.cellIds.length.toLong, total, idx.scale, maxSharePm, nHot, nEmpty,
      recNprobe, recRecall, recScan))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.mmivf(dir)` — build (or warm-load) the durable
  * MULTIMODAL feature IVF index ([[graft.operators.MmIvf]]: 20-dim
  * integer image features computed in the decode kernel) and report its
  * shape + occupancy health, completing the artifact-doorway quartet
  * with `dupclusters` / `lexindex` / `ivfindex`. A warm call reads the
  * centroid sidecar plus index-sized counts — never a decode pass. */
private[core] final class MmIvfProcedure
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "mmivf"
  override def description(): String =
    "build or warm-load the durable multimodal feature IVF index for a corpus dir"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("dir", StringType).build(),
    ProcedureParameter.in("lane", StringType).defaultValue("'img'").build(),
    ProcedureParameter.in("target_recall_pm", IntegerType).defaultValue("-1")
      .comment("when >= 0: recommend the smallest nprobe whose measured " +
        "recall (cached per-lane curve) meets the target").build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dir = input.getUTF8String(0).toString
    val lane = input.getUTF8String(1).toString
    val targetRecallPm = input.getInt(2)
    require(lane == "img" || lane == "aud" || lane == "ext",
      s"mmivf: unknown lane '$lane' (one of: img, aud, ext)")
    // the ext lane is never fixture-built implicitly (hasExternal's
    // contract — a gate expecting encoder vectors must not find fixture
    // quantization published at its fingerprint); require an explicit
    // prior buildExternal instead
    require(lane != "ext" || graft.operators.MmIvf.hasExternal(dir),
      "mmivf: the ext lane is not seeded at this corpus fingerprint — " +
        "build it explicitly with MmIvf.buildExternal(dir, Some(vectors))")
    val idx = lane match {
      case "aud" => graft.operators.MmIvf.buildAudio(SparkSession.active, dir)
      case "ext" => graft.operators.MmIvf.buildExternal(SparkSession.active, dir)
      case _     => graft.operators.MmIvf.build(SparkSession.active, dir)
    }
    // occupancy verdict, the ivfindex shape: hot cells degrade probe cost,
    // empty cells waste nprobe budget — both are retrain/re-seed evidence
    val counts = idx.feats.groupBy("cell").count()
      .collect().map(_.getLong(1))
    val total = counts.sum
    val maxSharePm =
      if (counts.isEmpty || total == 0L) 0L else counts.max * 1000L / total
    val nHot = counts.count(c => c * idx.cellIds.length > 2L * total).toLong
    val nEmpty = (idx.cellIds.length - counts.length).toLong
    // SERVING GUIDANCE (VERDICT r17 task 2 — the ivfindex posture per mm
    // lane): with a target, recommend the SMALLEST nprobe whose measured
    // recall meets it, read from the lane's CACHED curve — the first
    // request per lane state pays the sweep once and publishes it inside
    // the lane dir; every call after reads a sweep-point-sized parquet
    // (MaintenanceSpec pins recommendation and warm job-count).
    val (recNprobe, recRecall, recScan) =
      if (targetRecallPm < 0) (0L, 0L, 0L)
      else {
        val curve = graft.operators.MmIvf
          .cachedNprobeCurve(SparkSession.active, dir, lane)
          .select("nprobe", "recall_pm", "scan_pm")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        curve.find(_._2 >= targetRecallPm).getOrElse(curve.last) match {
          case (np, rec, scan) => (np, rec, scan)
        }
      }
    val schema = StructType(Seq(
      StructField("index_path", StringType, nullable = false),
      StructField("n_cells", LongType, nullable = false),
      StructField("n_assets", LongType, nullable = false),
      StructField("max_share_pm", LongType, nullable = false),
      StructField("n_hot_cells", LongType, nullable = false),
      StructField("n_empty_cells", LongType, nullable = false),
      StructField("recommended_nprobe", LongType, nullable = false),
      StructField("rec_recall_pm", LongType, nullable = false),
      StructField("rec_scan_pm", LongType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](
      GraftProcedures.utf8(idx.path), idx.cellIds.length.toLong, total,
      maxSharePm, nHot, nEmpty, recNprobe, recRecall, recScan))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.snapshot(db, container, tag)` — publish a named
  * snapshot of the container's current state
  * ([[FileAccount.snapshotContainer]]); readable afterwards via
  * `SELECT ... FROM graft.db.c VERSION AS OF 'tag'`. */
private[core] final class SnapshotProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "snapshot"
  override def description(): String =
    "publish a named snapshot of the container (read back via VERSION AS OF)"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build(),
    ProcedureParameter.in("tag", StringType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val info = account.snapshotContainer(
      input.getUTF8String(0).toString, input.getUTF8String(1).toString,
      input.getUTF8String(2).toString)
    val schema = StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("created_ms", LongType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](
      GraftProcedures.utf8(info.tag), info.createdMs, info.files, info.bytes))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.snapshots(db, container)` — list published snapshots
  * (oldest first), from the per-snapshot manifests alone. */
private[core] final class ListSnapshotsProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "snapshots"
  override def description(): String =
    "list the container's published snapshots (metadata only)"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val infos = account.listSnapshots(
      input.getUTF8String(0).toString, input.getUTF8String(1).toString)
    val schema = StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("created_ms", LongType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))
    val rows = infos.map(i => new GenericInternalRow(Array[Any](
      GraftProcedures.utf8(i.tag), i.createdMs, i.files, i.bytes)))
    java.util.List.of[Scan](
      new GraftProcedures.RowsScan(schema, rows.toArray)).iterator()
  }
}

/** `CALL graft.system.restore(db, container, tag)` — return the container
  * (data, layout metadata, count sidecar) to snapshot state
  * ([[FileAccount.restoreSnapshot]]). */
private[core] final class RestoreProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "restore"
  override def description(): String =
    "restore the container to a published snapshot's state"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build(),
    ProcedureParameter.in("tag", StringType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val files = account.restoreSnapshot(
      input.getUTF8String(0).toString, input.getUTF8String(1).toString,
      input.getUTF8String(2).toString)
    val schema = StructType(Seq(
      StructField("files_restored", LongType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](files))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.diff(db, container, from_tag[, to_tag])` — content-
  * level change profile between two snapshots (empty `to_tag` = the live
  * state): inserted / updated / unchanged / deleted document counts via
  * the A10 canonical-diff kernel ([[FileAccount.diffSnapshots]]). The
  * audit CDC question — "what did the batch actually change" — answered
  * after the fact from snapshots alone, layout-independent. */
private[core] final class DiffProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "diff"
  override def description(): String =
    "inserted/updated/unchanged/deleted counts between two snapshots (or vs live)"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build(),
    ProcedureParameter.in("from_tag", StringType).build(),
    ProcedureParameter.in("to_tag", StringType).defaultValue("''")
      .comment("empty = the live container state").build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val toTag = Option(input.getUTF8String(3)).map(_.toString).filter(_.nonEmpty)
    val rows = account.diffSnapshots(SparkSession.active,
        input.getUTF8String(0).toString, input.getUTF8String(1).toString,
        Some(input.getUTF8String(2).toString), toTag)
      .collect() // ≤ 5 action rows
    val schema = StructType(Seq(
      StructField("change", StringType, nullable = false),
      StructField("n", LongType, nullable = false)))
    val out: Array[InternalRow] = rows.map(r => new GenericInternalRow(
      Array[Any](GraftProcedures.utf8(r.getString(0)), r.getLong(1))))
    java.util.List.of[Scan](
      new GraftProcedures.RowsScan(schema, out)).iterator()
  }
}

/** `CALL graft.system.drop_snapshot(db, container, tag)`. */
private[core] final class DropSnapshotProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "drop_snapshot"
  override def description(): String = "delete a published snapshot"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build(),
    ProcedureParameter.in("tag", StringType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dropped = account.dropSnapshot(
      input.getUTF8String(0).toString, input.getUTF8String(1).toString,
      input.getUTF8String(2).toString)
    val schema = StructType(Seq(
      StructField("dropped", BooleanType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](dropped))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.expire_snapshots(db, container[, keep_last_n]
  * [, older_than_ms])` — retention sweep over published snapshots
  * ([[FileAccount.expireSnapshots]]): drops snapshots outside the newest
  * `keep_last_n` AND older than `older_than_ms` (each bound alone only
  * retains more; -1 = bound unset; at least one must be set). Returns one
  * row per dropped snapshot. Reader coordination contract (streams
  * replaying `c@tag`) is documented on the account method: pick retention
  * longer than the longest replay. */
private[core] final class ExpireSnapshotsProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "expire_snapshots"
  override def description(): String =
    "drop snapshots outside keep_last_n and/or older than older_than_ms"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build(),
    ProcedureParameter.in("keep_last_n", IntegerType).defaultValue("-1")
      .comment("always retain the newest N snapshots (-1 = unset)").build(),
    ProcedureParameter.in("older_than_ms", LongType).defaultValue("-1")
      .comment("only drop snapshots created before this epoch-ms (-1 = unset)")
      .build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dropped = account.expireSnapshots(
      input.getUTF8String(0).toString, input.getUTF8String(1).toString,
      Some(input.getInt(2)).filter(_ >= 0),
      Some(input.getLong(3)).filter(_ >= 0))
    val schema = StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("created_ms", LongType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))
    val rows = dropped.map(i => new GenericInternalRow(Array[Any](
      GraftProcedures.utf8(i.tag), i.createdMs, i.files, i.bytes)))
    java.util.List.of[Scan](
      new GraftProcedures.RowsScan(schema, rows.toArray)).iterator()
  }
}

/** `CALL graft.system.expire_indexes(kind, corpus_dirs[, keep_last_n]
  * [, older_than_ms])` — retention sweep over the durable index artifacts
  * ([[graft.operators.IndexRetention]]): drops SUPERSEDED corpus-fingerprint
  * dirs under the ivf / dup / lex index roots, never the live fingerprint
  * of any listed corpus's current files and never a lock-held in-flight
  * build. `corpus_dirs` is comma-separated and must list EVERY corpus
  * served from the swept roots — on a shared root, an unlisted corpus's
  * LIVE index is indistinguishable from a superseded one and would be
  * swept. `kind` is `ivf`, `dup`, `lex`, or `all`; bound semantics mirror
  * `expire_snapshots` (drop outside the newest `keep_last_n` AND older
  * than `older_than_ms`; -1 = unset; at least one must be set). Returns
  * one row per swept dir. */
private[core] final class ExpireIndexesProcedure
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "expire_indexes"
  override def description(): String =
    "drop superseded index-artifact fingerprints outside keep_last_n / older_than_ms"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("kind", StringType)
      .comment("ivf | dup | lex | mm | all").build(),
    ProcedureParameter.in("corpus_dirs", StringType)
      .comment("comma-separated corpora whose CURRENT fingerprints are " +
        "protected — list EVERY corpus served from the swept roots").build(),
    ProcedureParameter.in("keep_last_n", IntegerType).defaultValue("-1")
      .comment("always retain the newest N superseded dirs (-1 = unset)")
      .build(),
    ProcedureParameter.in("older_than_ms", LongType).defaultValue("-1")
      .comment("only drop dirs published before this epoch-ms (-1 = unset)")
      .build(),
    ProcedureParameter.in("gate_store_dirs", StringType).defaultValue("''")
      .comment("comma-separated live dedup-gate store dirs: generations " +
        "their staged _extprior pointers still reference are pinned " +
        "(an mm sweep without them can wedge a crashed ext-lane batch)")
      .build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val kind = input.getUTF8String(0).toString
    val dirs = input.getUTF8String(1).toString
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val keepN = Some(input.getInt(2)).filter(_ >= 0)
    val olderMs = Some(input.getLong(3)).filter(_ >= 0)
    val gates = input.getUTF8String(4).toString
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val families = Artifact.kinds.filter(f => kind == "all" || f.kind == kind)
    if (families.isEmpty) throw new IllegalArgumentException(
      s"expire_indexes: unknown kind '$kind' (ivf | dup | lex | mm | all)")
    val swept = families.flatMap(_.expireStale(dirs, keepN, olderMs, gates))
    val schema = StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("name", StringType, nullable = false),
      StructField("created_ms", LongType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("bytes", LongType, nullable = false)))
    val rows = swept.map(s => new GenericInternalRow(Array[Any](
      GraftProcedures.utf8(s.kind), GraftProcedures.utf8(s.name),
      s.createdMs, s.files, s.bytes)))
    java.util.List.of[Scan](
      new GraftProcedures.RowsScan(schema, rows.toArray)).iterator()
  }
}

/** `CALL graft.system.vacuum_gate(store_dir, safe_batch_floor)` —
  * checkpoint-aware retention for a streaming dedup gate's `_commits`
  * metadata ([[graft.streaming.Streams.vacuumGateCommits]]): sweeps marker
  * files, committed staging dirs, and crashed staging attempts for batchIds
  * STRICTLY BELOW the caller's safe-replay horizon (the source checkpoint's
  * committed-batch floor). Ids at or above the floor are never touched —
  * the refusal is by construction. */
private[core] final class VacuumGateProcedure
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "vacuum_gate"
  override def description(): String =
    "sweep gate _commits metadata below a safe-replay batch horizon"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("store_dir", StringType).build(),
    ProcedureParameter.in("safe_batch_floor", LongType)
      .comment("batchIds below this can no longer replay from the source " +
        "checkpoint; entries at or above it are never swept").build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val swept = graft.streaming.Streams.vacuumGateCommits(
      input.getUTF8String(0).toString, input.getLong(1))
    val schema = StructType(Seq(
      StructField("entries_removed", IntegerType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](swept))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.gate_stats(store_dir)` — metadata-only
  * observability for a streaming dedup gate's store
  * ([[graft.streaming.Streams.gateStats]]): sub-store file counts/bytes,
  * committed markers and the highest committed batchId (the floor feed
  * for `vacuum_gate`), pending staged deltas, crashed staging attempts.
  * No data file is opened — O(metadata) at any store size. */
private[core] final class GateStatsProcedure
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "gate_stats"
  override def description(): String =
    "metadata-only shape of a dedup-gate store (files/bytes/commits/staging)"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("store_dir", StringType).build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val g = graft.streaming.Streams.gateStats(input.getUTF8String(0).toString)
    val schema = StructType(Seq(
      StructField("layout_version", IntegerType, nullable = false),
      StructField("band_buckets", IntegerType, nullable = false),
      StructField("band_files", LongType, nullable = false),
      StructField("band_bytes", LongType, nullable = false),
      StructField("doc_files", LongType, nullable = false),
      StructField("doc_bytes", LongType, nullable = false),
      StructField("commits", LongType, nullable = false),
      StructField("max_batch_id", LongType, nullable = false),
      StructField("pending_deltas", LongType, nullable = false),
      StructField("crashed_staging", LongType, nullable = false),
      StructField("contam_files", LongType, nullable = false),
      StructField("contam_bytes", LongType, nullable = false)))
    val row = new GenericInternalRow(Array[Any](
      g.layoutVersion, g.bandBuckets, g.bandFiles, g.bandBytes,
      g.docFiles, g.docBytes, g.commits, g.maxBatchId,
      g.pendingDeltas, g.crashedStaging, g.contamFiles, g.contamBytes))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}

/** `CALL graft.system.drift(db, container[, ts_field, type_field])` — the
  * OPS DOORWAY of the q_st11 drift monitor (VERDICT r13 task 6): windowed
  * total-variation distance in permyriad between consecutive event-time
  * hours of the container's documents. `ts_field` names the JSON field
  * (under `$.`) whose `to_timestamp` parse buckets documents into hours;
  * `type_field` the categorical whose distribution is monitored; rows
  * whose fields are missing/unparseable are excluded (they have no place
  * in either distribution). The counting core is the SAME tumbling
  * aggregate the live stream runs and [[graft.streaming.Streams.driftOf]]
  * is the SAME derivation (StreamingSpec pins streamed == batch), so an
  * operator alternates freely between this CALL after a gate batch and the
  * identical derivation inside `foreachBatch` on
  * `spark.readStream.table("graft.db.c")`. Each row carries the q_st11
  * monitor numbers (n1/n2/tv4) AND the q_st12 k=2 debounced `alert` flag
  * (with its prev_tv4 evidence) — the page/no-page decision in the same
  * result. One distributed pass over the container; the result (and the
  * driver collect) is window-count-bounded — hours of data, never rows. */
private[core] final class DriftProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "drift"
  override def description(): String =
    "hour-over-hour total-variation drift (permyriad) of a JSON field's distribution"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build(),
    ProcedureParameter.in("ts_field", StringType).defaultValue("'ts'")
      .comment("JSON field parsed with to_timestamp; buckets to hours").build(),
    ProcedureParameter.in("type_field", StringType).defaultValue("'event_type'")
      .comment("JSON field whose categorical distribution is monitored").build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    import org.apache.spark.sql.functions.{col, expr}
    val db = input.getUTF8String(0).toString
    val container = input.getUTF8String(1).toString
    val tsField = input.getUTF8String(2).toString
    val typeField = input.getUTF8String(3).toString
    // field names interpolate into a JSON path: keep them simple keys
    Seq(tsField, typeField).foreach { f =>
      require(f.matches("[A-Za-z0-9_]+"),
        s"drift: field must be a simple JSON key, got '$f'")
    }
    val spark = SparkSession.active
    val ev = spark.read.option("recursiveFileLookup", "true")
      .text(account.dataPath(db, container))
      .select(
        expr(s"to_timestamp(get_json_object(value, '$$.$tsField'))").as("ts"),
        expr(s"get_json_object(value, '$$.$typeField')").as("event_type"))
      .where(col("ts").isNotNull && col("event_type").isNotNull)
    val drift = graft.streaming.Streams
      .driftOf(graft.streaming.Streams.tumblingCounts(ev))
    // the full monitor + decision stack in one row: the q_st11 numbers
    // plus the q_st12 k=2 debounce (the flag an operator pages on)
    val out = drift.join(graft.streaming.Streams.alertOf(drift)
        .select(col("w_start"), col("prev_tv4"), col("alert")), "w_start")
      .orderBy("w_start")
    val schema = StructType(Seq(
      StructField("w_start", TimestampType, nullable = false),
      StructField("n1", LongType, nullable = false),
      StructField("n2", LongType, nullable = false),
      StructField("tv4", LongType, nullable = false),
      StructField("prev_tv4", LongType, nullable = false),
      StructField("alert", LongType, nullable = false)))
    // "window-count-bounded" is only a real bound when the timestamps are
    // sane: corrupt/adversarial ts values scattered over a wide range make
    // one row PER DISTINCT HOUR — effectively row-bounded (ADVICE r14).
    // Enforce the bound before collecting: limit(MaxDriftWindows + 1) keeps
    // the probe itself bounded, and overflow is a hard error naming the
    // likely cause rather than a driver OOM.
    val rs = out.limit(GraftProcedures.MaxDriftWindows + 1).collect() match {
      case rows if rows.length > GraftProcedures.MaxDriftWindows =>
        throw new IllegalStateException(
          s"drift: container '$db.$container' spans more than " +
            s"${GraftProcedures.MaxDriftWindows} distinct hourly windows — " +
            s"likely corrupt '$tsField' values; clean the field or narrow " +
            "the container before monitoring")
      case rows => rows.map { r =>
        new GenericInternalRow(Array[Any](
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .fromJavaTimestamp(r.getTimestamp(0)),
          r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))): InternalRow
      }
    }
    java.util.List.of[Scan](new GraftProcedures.RowsScan(schema, rs))
      .iterator()
  }
}

/** `CALL graft.system.vacuum(db, container[, ttl_hours])` — see
  * [[FileAccount.vacuumStaging]]. */
private[core] final class VacuumProcedure(account: FileAccount)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = "vacuum"
  override def description(): String =
    "delete staging trees abandoned by writes that died before commit"

  override def bind(inputType: StructType): BoundProcedure = this

  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("db", StringType).build(),
    ProcedureParameter.in("container", StringType).build(),
    ProcedureParameter.in("ttl_hours", IntegerType).defaultValue("24")
      .comment("only staging trees idle longer than this are swept").build())

  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val db = input.getUTF8String(0).toString
    val container = input.getUTF8String(1).toString
    val ttlMs = input.getInt(2).toLong * 3600L * 1000L
    val removed = account.vacuumStaging(db, container, ttlMs)
    val schema = StructType(Seq(
      StructField("staging_trees_removed", IntegerType, nullable = false),
      StructField("paths", ArrayType(StringType, containsNull = false),
        nullable = false)))
    val row = new GenericInternalRow(Array[Any](
      removed.size,
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
        removed.map(GraftProcedures.utf8).toArray)))
    java.util.List.of[Scan](new GraftProcedures.OneRowScan(schema, row))
      .iterator()
  }
}
