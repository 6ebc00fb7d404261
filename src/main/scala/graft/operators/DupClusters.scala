package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Artifact, Tables}
import graft.core.Artifact.sub
import graft.functions.GraftFunctions

/** DURABLE dup-cluster index over the SimHash near-dup graph — the artifact
  * form of the [[Dedup.qD6]] → components → PageRank pipeline that
  * [[TextAnalysis.qT18]] (cluster-routed split), [[TextAnalysis.qT19]]
  * (keep-canonical), [[TextAnalysis.qT26]] (dedup-aware mix) and the qG*
  * structural diagnostics all consume. Without it, every one of those
  * queries re-mines the band graph and re-runs the BSP loops from raw text
  * per invocation; with it, the graph is mined ONCE per corpus state and
  * every consumer afterwards reads graph-sized parquet.
  *
  * Durability is the [[Artifact]] protocol (family [[Artifact.Dup]]):
  * corpus-fingerprint-keyed directory under `graft.dupindex.root`, staged
  * build published by ONE atomic rename with `meta.tsv` written last, all
  * mutation under the shared index lock, and a session handle cache so a
  * session pays the parquet read once. A changed corpus hashes to a
  * different directory, so load-on-miss can never serve a stale graph.
  *
  * On-disk layout (`v1-<fp>-p<iters>/`):
  *   - `sigs/`     (doc_id, simhash)            — node-sized; what appends
  *                                                 join new docs against
  *   - `pairs/`    (a_id, b_id, ham)            — the verified qD6 edges
  *   - `clusters/` (id, component, rank_e6)     — component label (min
  *                    reachable id, [[Dedup.componentsOfPairs]]) and
  *                    integer-micro PageRank ([[Dedup.pageRank]],
  *                    [[Dedup.PageRankIters]] rounds) per non-singleton node
  *   - `severed/`  (id, component, rank_e6)     — components over the
  *                    SURVIVING edges after refuted welds drop (q_g12;
  *                    severing-isolated nodes self-label); what the gated
  *                    keeper consumes
  *   - `refuted/`  (a_id, b_id)                 — the dropped cut-set
  *   - `verdicts/` (a_id, b_id, refuted)        — weld-verdict cache for
  *                    edges in the live pair set (append verifies only
  *                    new weak edges; [[vacuumVerdicts]] drops rows whose
  *                    edge left the pair set, so the cache is pair-bounded
  *                    rather than append-history-monotone)
  *   - `meta.tsv`                                — doc count + params;
  *                    its existence IS the published-index predicate
  *
  * Scale posture: the build is ONE corpus pass (the fused simhash32
  * projection — the persisted signature frame feeds both the stored
  * `sigs/` and the band-join mining), plus graph-sized joins and the
  * O(iters×|E|) BSP loops; everything written is graph- or node-sized,
  * orders of magnitude below the corpus. Warm consumers run ZERO corpus
  * passes (q_t19/q_g4 touch only artifact files — PlanAuditSpec pins this
  * via `inputFiles`, the qSim3 discipline). [[append]] keeps the artifact
  * consistent under ingestion (the ST-9 gate's admitted batches) with
  * delta-sized work: new signatures band-join against the stored node-sized
  * `sigs/`, never against corpus text.
  */
object DupClusters {

  /** A loaded index: `pairs`, `clusters`, `severed`, and `refuted` are
    * persisted + materialized (MEMORY_AND_DISK); `sigs` stays a lazy
    * reader — only [[append]] needs it, and only as the build side of a
    * delta join. `severed` is (id, component, rank_e6) over the SURVIVING
    * edge set (refuted weld edges dropped, [[Dedup.refutedWeakEdges]]) —
    * the graph the gated keeper consumes; `refuted` is the dropped
    * cut-set (a_id, b_id), so warm consumers derive surviving pairs with
    * one graph-sized anti-join and zero corpus passes. `verdicts` stays a
    * lazy reader like `sigs` — the (a_id, b_id, refuted) weld-verdict
    * cache, consumed only by [[append]] (its content depends on WHEN
    * edges were verified — a superset of the current weak set, bounded
    * by the live pair set via [[vacuumVerdicts]] — so it is a CACHE,
    * never compared by the consistency specs). */
  final case class DupIndex(path: String, nDocs: Long, sigs: DataFrame,
                            pairs: DataFrame, clusters: DataFrame,
                            severed: DataFrame, refuted: DataFrame,
                            verdicts: DataFrame) extends Artifact.Handle {
    def persistedFrames: Seq[DataFrame] = Seq(pairs, clusters, severed, refuted)
  }

  /** Bump when the graph recipe (banding, Hamming bound, iteration counts)
    * or the layout changes — an index built by an older recipe must not be
    * served for the same corpus. v2: + `corpus_files.tsv` (the corpus file
    * listing at build time, [[append]]'s out-of-band-change guard).
    * v3: + `severed/` (components over the surviving edge set after
    * refuted weld edges are dropped) and `refuted/` (the dropped cut-set)
    * — VERDICT r15 task 2. v4: + `verdicts/` (every weld verdict ever
    * computed — the monotone cache that makes [[append]]'s text
    * verification DELTA-bounded: edit distances are immutable, so only
    * never-verified weak edges pay the fetch+DP). */
  private val FormatVersion = 4

  private val Marker = "meta.tsv"

  /** `<graft.dupindex.root>/v<ver>-<fp>-p<iters>` ([[Artifact.Dup]]). */
  private def indexPath(dir: String): String =
    Artifact.Dup.dirFor(dir, FormatVersion, s"-p${Dedup.PageRankIters}")

  /** Corpus doc count from parquet metadata — a driver-cheap reconciliation
    * handle ([[append]] refuses a delta that doesn't add up). */
  private def corpusCount(s: SparkSession, dir: String): Long =
    Tables.documents(s, dir).count()

  /** Build (or fetch) the index for `dir`: in-process memo, then the
    * durable on-disk copy, and only on a true miss the one-pass corpus
    * build — staged and atomically renamed into place under the shared
    * mutation lock (two racing JVMs: one rename wins, the loser loads). */
  def build(s: SparkSession, dir: String): DupIndex =
    Artifact.Dup.cached(s, indexPath(dir))(loadOrBuild(s, dir))

  private def loadOrBuild(s: SparkSession, dir: String): DupIndex = {
    val path = indexPath(dir)
    Artifact.publishOnce(path, Marker) { staging =>
      val entries = Artifact.corpusEntries(Artifact.Dup.corpusFile(dir))
      val sigs = Dedup.simhash(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val pairs = Dedup.pairsOfSigs(sigs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try stage(s, staging, sigs, pairs, corpusCount(s, dir),
          entries, Tables.documents(s, dir), None)
        finally { pairs.unpersist(); () }
      } finally { sigs.unpersist(); () }
    }
    load(s, path)
  }

  /** Verdicts-cache vacuum (VERDICT r16 task 5): keep only cached weld
    * verdicts whose edge still appears in the CURRENT pair set. Without
    * it the cache is append-history-monotone — graph-bounded, but a
    * long-lived gate rewrites an ever-growing superset wholesale each
    * publish. Semantics-preserving by construction: the refuted set is
    * `weak-now ∩ refuted-ever`, and an edge absent from `pairs` cannot
    * be weak-now; if a dropped edge ever re-enters the pair set (a
    * re-banded recipe is a new FormatVersion, so in practice it cannot),
    * the append re-verifies it — same verdict, edit distances are
    * immutable. One graph-sized left-semi join at publish time. */
  private[graft] def vacuumVerdicts(prior: DataFrame,
                                    pairs: DataFrame): DataFrame =
    prior.select("a_id", "b_id", "refuted")
      .join(pairs.select("a_id", "b_id"), Seq("a_id", "b_id"), "left_semi")

  /** Stage the six frames + marker into `staging` ([[Artifact.publishOnce]]
    * publishes it). `pairs` must be persisted by the caller — components,
    * PageRank, the severing, and the parquet write all read it. `docs` is
    * the post-state corpus reader — the severing's edit-distance
    * re-verification ([[Dedup.refutedWeakEdges]]) fetches endpoint text
    * for the weak cut-set through it: a map-only broadcast-pruned scan,
    * the one place the build touches text beyond the signature pass. */
  private def stage(s: SparkSession, staging: String, sigs: DataFrame,
                    pairs: DataFrame, nDocs: Long,
                    entries: Seq[String], docs: DataFrame,
                    priorVerdicts: Option[DataFrame]): Unit = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = pairs.select("a_id", "b_id")
    val comp = Dedup.componentsOfPairs(s, edges, Dedup.MaxDriverPairs)
    val ranks = Dedup.pageRank(edges, Dedup.PageRankIters)
      .selectExpr("id AS r_id", "r AS rank_e6")
    sigs.write.mode("overwrite").parquet(sub(staging, "sigs"))
    pairs.write.mode("overwrite").parquet(sub(staging, "pairs"))
    comp.join(ranks, col("id") === col("r_id"))
      .select("id", "component", "rank_e6")
      .write.mode("overwrite").parquet(sub(staging, "clusters"))
    // severing (VERDICT r15 task 2): refute the weak cut-set by bounded
    // edit distance, recompute components over the surviving edges, and
    // keep severed-isolated nodes as their own singleton families — the
    // graph the gated keeper ships against. Verification is CACHED in
    // verdicts/ (edit distances are immutable): an append verifies only
    // the weak edges its prior has never verified — delta-bounded text
    // work — while a cold build verifies the whole weak set; both paths
    // land the SAME refuted set (the weak-now ∩ refuted-ever semantics),
    // which is what keeps append ≡ from-scratch build.
    val prior = priorVerdicts
      .map(vacuumVerdicts(_, pairs))
      .getOrElse(pairs.select("a_id", "b_id").limit(0)
        .withColumn("refuted", lit(false)))
    val weak = Dedup.weakEdges(pairs).select("a_id", "b_id").persist(lvl)
    try {
      val verdicts = prior.select("a_id", "b_id", "refuted")
        .unionByName(Dedup.verifyEdges(docs,
          weak.join(prior, Seq("a_id", "b_id"), "left_anti")))
        .persist(lvl)
      try {
        verdicts.write.mode("overwrite").parquet(sub(staging, "verdicts"))
        val refuted = weak.join(verdicts.where(col("refuted")),
          Seq("a_id", "b_id"), "left_semi").persist(lvl)
        try {
          refuted.write.mode("overwrite").parquet(sub(staging, "refuted"))
          val surviving = pairs.select("a_id", "b_id")
            .join(refuted, Seq("a_id", "b_id"), "left_anti")
          val sevComp = Dedup
            .componentsOfPairs(s, surviving, Dedup.MaxDriverPairs)
            .withColumnRenamed("component", "comp_sev")
          comp.join(ranks, col("id") === col("r_id"))
            .join(sevComp, Seq("id"), "left")
            .select(col("id"),
              coalesce(col("comp_sev"), col("id")).as("component"),
              col("rank_e6"))
            .write.mode("overwrite").parquet(sub(staging, "severed"))
        } finally { refuted.unpersist(); () }
      } finally { verdicts.unpersist(); () }
    } finally { weak.unpersist(); () }
    Artifact.writeCorpusEntries(staging, entries)
    Artifact.writeMeta(staging,
      "nDocs" -> nDocs, "pageRankIters" -> Dedup.PageRankIters)
  }

  private def load(s: SparkSession, path: String): DupIndex = {
    def frame(child: String) = s.read.parquet(sub(path, child))
    DupIndex(path, Artifact.readMeta(path)("nDocs").toLong, frame("sigs"),
      Artifact.persistCounted(frame("pairs")),
      Artifact.persistCounted(frame("clusters")),
      Artifact.persistCounted(frame("severed")),
      Artifact.persistCounted(frame("refuted")), frame("verdicts"))
  }

  /** Incremental maintenance — the ingestion-side contract that keeps the
    * ST-9 dedup gate and this offline graph CONSISTENT: after new documents
    * land in the corpus (e.g. a gate-admitted micro-batch appended to
    * `documents.parquet`), the caller hands the SAME delta here and the
    * index advances with delta-sized work:
    *
    *   1. delta signatures — one fused simhash32 pass over `newDocs` only;
    *   2. delta pairs — the new signatures band-join the stored node-sized
    *      `sigs/` (complete by the qD6 pigeonhole: every new pair has a
    *      delta endpoint, and prior-prior pairs are already stored);
    *   3. components + PageRank + the weld severing recompute over the
    *      UNIFIED pair frame — graph-sized BSP; the only text touched is
    *      the endpoints of weak edges the prior NEVER VERIFIED (the
    *      `verdicts/` cache — a delta-bounded set, since an old weak
    *      edge's verdict is already stored and adding edges never makes
    *      a supported edge weak; edit distances are immutable, so the
    *      cached verdicts agree with what a from-scratch build computes
    *      and the published refuted/severed lanes are IDENTICAL);
    *   4. publish at the NEW corpus fingerprint's path (atomic rename).
    *
    * Spec-pinned equal to a from-scratch [[build]] on the post-append
    * corpus (same pairs, same clusters — DupClustersSpec), which is the
    * consistency statement: gate-admitted data and offline curation see
    * the same graph. `newDocs` needs (doc_id, text) with genuinely new ids
    * (dedupe upstream — the gate already guarantees this for admitted
    * docs). Out-of-band guards (BOTH must pass, else rebuild): the count
    * reconciliation `prior.nDocs + |delta| = |corpus|`, AND (ADVICE r10 —
    * an in-place edit can keep the count unchanged) a per-file check that
    * every corpus file recorded at the prior build is still unchanged
    * (size + mtime + content token, `corpus_files.tsv` — ADVICE r11: the
    * token catches same-size preserved-mtime rewrites —
    * [[Artifact.Family.appendGuard]]) — an append only ADDS files. */
  def append(s: SparkSession, dir: String, prior: DupIndex,
             newDocs: DataFrame): DupIndex = {
    GraftFunctions.register(s)
    val newPath = indexPath(dir)
    val (nowEntries, now) = Artifact.Dup.appendGuard("dup-cluster append",
      prior.path, newPath, dir, prior.nDocs, corpusCount(s, dir),
      newDocs.count())
    val dSigs = newDocs.selectExpr("doc_id", "simhash32(text) AS simhash")
      .where(col("simhash").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val allSigs = prior.sigs.unionByName(dSigs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // delta mining: all-sigs × delta-sigs on the band keys. The delta
        // side broadcasts (micro-batch-sized); the node-sized signature
        // frame streams map-only — the corpus text is never touched.
        def bandsOf(df: DataFrame) = df.selectExpr("doc_id", "simhash",
          """stack(3, 0, simhash & 2047,
            |         1, (simhash >> 11) & 2047,
            |         2, (simhash >> 22) & 1023) AS (band, bv)""".stripMargin)
        val a = bandsOf(allSigs)
          .selectExpr("doc_id AS x_id", "simhash AS sx", "band", "bv")
        val d = bandsOf(dSigs)
          .selectExpr("doc_id AS y_id", "simhash AS sy",
            "band AS band_d", "bv AS bv_d")
        val newPairs = a.join(broadcast(d),
            col("band") === col("band_d") && col("bv") === col("bv_d") &&
              col("x_id") =!= col("y_id"))
          .withColumn("ham", expr("bit_count(sx ^ sy)"))
          .where(col("ham") <= 2)
          // canonicalize: a delta id can sit on either side of an edge
          .selectExpr("least(x_id, y_id) AS a_id",
            "greatest(x_id, y_id) AS b_id", "CAST(ham AS INT) AS ham")
          .distinct()
        val pairs = prior.pairs.unionByName(newPairs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          Artifact.publishOnce(newPath, Marker) { staging =>
            stage(s, staging, allSigs, pairs, now, nowEntries,
              Tables.documents(s, dir), Some(prior.verdicts))
          }
        } finally { pairs.unpersist(); () }
      } finally { allSigs.unpersist(); () }
    } finally { dSigs.unpersist(); () }
    Artifact.Dup.supersede(s, prior, newPath)(load(s, newPath))
  }

  /** Test/maintenance hook: drop this session's memoized frames so a fresh
    * [[build]] exercises the durable load path. */
  private[graft] def evictSession(s: SparkSession): Unit =
    Artifact.Dup.evictSession(s)
}
