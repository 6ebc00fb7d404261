package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Artifact, Tables}
import graft.core.Artifact.sub
import graft.functions.GraftFunctions

/** Similarity search over the `embeddings` table (SURVEY.md Q-X2 + ANN
  * extensions). The scalar kernel is the codegen'd
  * [[graft.functions.CosineSimilarity]] expression — one fused pass per pair,
  * inside whole-stage codegen.
  *
  * Scale design: brute force is the oracle-checked exact baseline with a
  * bounded query side (broadcast the queries, stream the corpus — a map-only
  * plan at any corpus size); the per-query top-k uses a window over the
  * candidate rows, which AQE partitions by query id. The sub-quadratic path
  * is random-hyperplane LSH bucketing (see [[Dedup.qD4]] for the same shape
  * on MinHash).
  */
object Similarity {

  /** Q-X2: brute-force cosine top-50 over a bounded id range. */
  def qX2(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val a = e.selectExpr("vec_id AS a_id", "embedding AS ea").where(col("a_id") <= 20)
    val b = e.selectExpr("vec_id AS b_id", "embedding AS eb")
    a.join(b, col("a_id") < col("b_id"))
      .selectExpr("a_id", "b_id", "ROUND(cosine_sim(ea, eb), 4) AS sim")
      .orderBy(desc("sim"), col("a_id"), col("b_id"))
      .limit(50)
  }

  /** Number of random hyperplanes for the sign-LSH signature (2^P buckets) —
    * the ORACLE default. Bucket count must track corpus size (2^P buckets
    * keep expected per-bucket membership bounded: at 100 TB pick P ≈
    * log2(N / target_bucket_size)); [[lshPairs]] takes the width as a
    * parameter so deployments tune it without touching the oracle queries. */
  val LshPlanes = 8

  /** Deterministic ±1 hyperplane entries, seeded from md5 of "p_i" — the
    * exact value the DuckDB oracle recomputes, so both engines build the
    * same planes without sharing state. Shared with [[Dedup.qD8]]'s banded
    * variant (same plane family, different banding). Canonical definition
    * lives with the codegen'd signature kernel
    * ([[graft.functions.LshBandSignature.planeSign]]). */
  private[operators] def planeSign(p: Int, i: Int): Double =
    graft.functions.LshBandSignature.planeSign(p, i)

  /** Q-SIM2: sub-quadratic near-duplicate search via random-hyperplane LSH.
    *
    * Each vector gets a P-bit signature (bit p = sign of the dot with plane
    * p); only vectors sharing the full signature become candidate pairs, and
    * candidates are then scored EXACTLY with the codegen'd cosine kernel —
    * so precision is 1.0 by construction and only recall is approximate
    * (pairs split across buckets are missed; the qD7 brute-force query is
    * the exact reference).
    *
    * Scale shape: signatures are a map-only pass (no shuffle); the candidate
    * join shuffles on the bucket key, whose cardinality (2^P) is tunable to
    * keep per-bucket pair counts bounded — at 100 TB this replaces the
    * O(n^2) pair join with sum over buckets of O(|bucket|^2), and AQE splits
    * any skewed bucket. */
  def qSim2(s: SparkSession, dir: String): DataFrame = lshPairs(s, dir, LshPlanes)

  /** [[qSim2]] with a configurable plane count. The plane family is a fixed
    * sequence, so `planes = p` buckets by the first `p` bits of the same
    * signature: coarser widths strictly coarsen the bucketing (every pair
    * found at width p is found at any width < p — recall only grows). */
  def lshPairs(s: SparkSession, dir: String, planes: Int): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    // one fused codegen'd pass computes all plane bits (the HOF formulation
    // runs interpreted lambdas per element per plane — see
    // [[graft.functions.LshBandSignature]])
    val bucket = expr(s"lsh_band_sig(embedding, 0, $planes)")
    val sigs = e.select(col("vec_id"), col("embedding"), bucket.as("bucket"))
    val a = sigs.selectExpr("vec_id AS a_id", "embedding AS ea", "bucket")
    val b = sigs.selectExpr("vec_id AS b_id", "embedding AS eb", "bucket AS b_bucket")
    // declared merge join: the signature frame is O(corpus) and carries the
    // embeddings for exact rescoring — it must never be a broadcast build
    // side at scale, and the SMJ sides are identical shuffle subtrees, so
    // ReuseExchange computes the signature pass once
    a.hint("merge").join(b, col("bucket") === col("b_bucket") && col("a_id") < col("b_id"))
      .withColumn("sim_raw", expr("cosine_sim(ea, eb)"))
      .where(col("sim_raw") >= 0.4)
      .selectExpr("a_id", "b_id", "ROUND(sim_raw, 4) AS sim")
      .orderBy("a_id", "b_id")
  }

  /** IVF coarse-quantizer cell count and probe width (qSim3/qSim4). */
  val IvfCells = 16
  val IvfProbe = 4

  /** IVF (inverted-file) ANN index with a BUILD / PROBE split — an ANN index
    * is built once and probed many times; rebuilding the corpus assignment
    * per query (the round-1 shape) is the classic anti-pattern the split
    * removes.
    *
    * '''Build''' ([[IvfIndex.build]]): the coarse quantizer starts from the
    * [[IvfCells]] lowest-id vectors (deterministic, so the index contract is
    * oracle-checkable) and runs `lloydIters` Lloyd (k-means) refinement
    * rounds: assign every vector to its nearest centroid by cosine (ties →
    * lower centroid id), recompute each cell's centroid as the element-wise
    * member mean, ROUND(·,6)-snapped so float sum-order differences between
    * engines and partitions are absorbed. Each round is one map-only
    * assignment pass plus one groupBy(cell, dim) whose shuffle output is
    * bounded by K×dim rows regardless of corpus size. The final
    * cell-assignment table is written to disk partitioned by cell (the IVF
    * analogue of the merge sink's bucket layout) and memoized in-process, so
    * '''subsequent probes — including from a fresh session — run ZERO
    * corpus-wide passes''': the durable index is keyed by a corpus
    * fingerprint (file names/sizes/mtimes), so a changed corpus rebuilds and
    * a fresh session over the same corpus reloads.
    *
    * '''Probe''' ([[IvfIndex.probe]]): each query ranks the K centroids (a
    * per-row expression over literal centroids), probes its `nprobe` nearest
    * cells, and is scored EXACTLY against only those cells' members with the
    * codegen'd cosine kernel — a broadcast hash join into the cached
    * assignment; the corpus never shuffles. Scored work is
    * O(|corpus| × nprobe / K) per query, the IVF contract; at 100 TB K grows
    * to ~√N and the cell becomes the partition/bucket layout.
    */
  object IvfIndex {
    /** One index: the session-registered ranking function (`fn(embedding,
      * nprobe)` → ranked cell ids; [[graft.functions.IvfRankCells]] holds
      * the centroid matrix as a driver object, NOT plan text), the centroid
      * data itself (for re-registration in other sessions), and the cached
      * cell-partitioned assignment. */
    final case class Index(fn: String, cellIds: Array[Long],
                           cents: Array[Array[Double]], assigned: DataFrame,
                           scale: Double, qassigned: DataFrame)
        extends Artifact.Handle {
      def persistedFrames: Seq[DataFrame] = Seq(assigned, qassigned)
      /** PQ codebook: the 16 int8 seed vectors of the SERVED lane —
        * bounded driver metadata, derived from the immutable published
        * index state, so memoized as a lazy val on the session-cached
        * handle (the LexIndex maxDf/ssnMin gate pattern, round 19): a
        * serving loop calling [[probePq]] per query must not re-run the
        * 16-row collect job every call. A new index generation gets a new
        * handle, so there is no staleness channel. */
      lazy val pqCodebook: Array[Array[Long]] =
        qassigned.where(col("vec_id") < 16)
          .orderBy("vec_id").select("qv").collect()
          .map(_.getSeq[Byte](0).map(_.toLong).toArray)
    }

    /** Test/bench hook ([[DupClusters.evictSession]]'s contract): drop the
      * session's memo so the next [[build]] exercises the durable load
      * path instead of returning the in-process handle. */
    private[graft] def evictSession(s: SparkSession): Unit =
      Artifact.Ivf.evictSession(s)

    /** Bump when the build algorithm or on-disk format changes — a stale
      * on-disk index from an older build must not be served for the same
      * corpus. v2: centroids.tsv (cid\tcomma-joined doubles) instead of v1's
      * centroid SQL text; committed by ATOMIC RENAME of a staging dir.
      * v3: + the SERVED int8 lane — `assignment_int8/` (cell-partitioned
      * TINYINT vectors, 1 byte/component vs the float lane's 4) and
      * `scale.txt` (the global symmetric quantization scale = corpus
      * max |component|, Double.toString round-trip-exact). */
    private val FormatVersion = 3

    private val Marker = "centroids.tsv"

    private lazy val store: graft.core.Storage = graft.core.Storage.hadoop

    /** `<graft.ivf.root>/v<ver>-<fp>-i<iters>-k<cells>`, keyed by the
      * embeddings file's fingerprint ([[Artifact.Ivf]]) — an ANN index
      * outlives the session that built it, and a changed corpus hashes to
      * a different dir, so load-on-miss can never serve a stale index. */
    private def indexPath(dir: String, lloydIters: Int, cells: Int): String =
      Artifact.Ivf.dirFor(dir, FormatVersion, s"-i$lloydIters-k$cells")

    /** Deterministic per-index function name (the plan references the index
      * by identity, never by centroid values). */
    private def fnName(path: String): String =
      "ivf_cells_" + java.security.MessageDigest.getInstance("MD5")
        .digest(path.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

    /** K seed / trained centroids via bounded driver collects; every Lloyd
      * round is one map-only assignment pass (the ranking expression) plus
      * one groupBy(cell, dim) whose shuffle output is bounded by K×dim rows
      * regardless of corpus size, ROUND(·,6)-snapped so float sum-order
      * differences between engines and partitions are absorbed. */
    private def doBuild(s: SparkSession, dir: String, lloydIters: Int,
                        k: Int): (Array[Long], Array[Array[Double]]) = {
      GraftFunctions.register(s)
      val e = Tables.embeddings(s, dir)
      // bounded metadata-sized collect: K seed rows; float seeds widen to
      // double EXACTLY (same promotion the cosine kernel applies per element)
      val seeds = e.where(col("vec_id") < k).orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      var ids: Array[Long] = seeds.map(_._1)
      var cents: Array[Array[Double]] = seeds.map(_._2)
      // ONE registry name per build, re-bound each round (iterations are
      // serial: the collect below executes before the next re-registration)
      // — no per-iteration registry/centroid-matrix leak in long sessions
      val tmpFn = fnName(s"build|$dir|$lloydIters|$k")
      for (_ <- 1 to lloydIters) {
        graft.functions.IvfRankCells.register(s, tmpFn, ids, cents)
        val trained = e
          .selectExpr("vec_id", "embedding",
            s"element_at($tmpFn(embedding, 1), 1) AS cell")
          .selectExpr("cell", "posexplode(embedding) AS (i, v)")
          .groupBy("cell", "i").agg(expr("ROUND(avg(CAST(v AS DOUBLE)), 6)").as("c"))
          .groupBy("cell")
          .agg(expr("array_sort(collect_list(struct(i, c)))").as("ic"))
          .selectExpr("cell", "transform(ic, x -> x.c) AS cent")
          .collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          .sortBy(_._1)
        ids = trained.map(_._1)
        cents = trained.map(_._2)
      }
      (ids, cents)
    }

    /** Build (or fetch) the index for `dir`: in-process memo first, then the
      * DURABLE on-disk copy, and only on a true miss the corpus build —
      * whose result is staged into a temp directory and ATOMICALLY RENAMED
      * into place (centroids marker inside), so two JVMs racing the same
      * build can never interleave files: exactly one rename wins, the loser
      * discards its staging dir and loads the winner's index. */
    def build(s: SparkSession, dir: String, lloydIters: Int,
              cells: Int = IvfCells): Index =
      Artifact.Ivf.cached(s, indexPath(dir, lloydIters, cells))(
        loadOrBuild(s, dir, lloydIters, cells))

    /** CACHED q_sim22 recall/scan curve under the SERVING index's
      * fingerprint (VERDICT r16 task 4): a serving fleet polling
      * `CALL graft.system.ivfindex(..., target_recall_pm => N)` must not
      * re-run the 5-point probe sweep per call. Computed ONCE per index
      * state — lazily, on first request — from the exact [[qSim22]]
      * frame (the curve's definition and this cache's only producer),
      * published sweep-point-sized INSIDE the index dir by the house
      * staged-rename protocol, and read thereafter. The dir is
      * fingerprint-keyed, so a changed corpus or quantizer config gets a
      * fresh curve for free and retention sweeps the curve with its
      * generation. The registry query stays the live sweep. */
    /** Where [[cachedNprobeCurve]] persists (spec hook). */
    private[graft] def nprobeCurvePath(dir: String): String =
      sub(indexPath(dir, 0, IvfCells), "nprobe_curve")

    def cachedNprobeCurve(s: SparkSession, dir: String): DataFrame = {
      // qSim22 builds/warm-loads the index itself; the stage block runs
      // only on a miss, so a warm call never computes the sweep
      Artifact.publishOnce(nprobeCurvePath(dir), "_SUCCESS") { staging =>
        qSim22(s, dir).write.parquet(staging)
      }
      s.read.parquet(nprobeCurvePath(dir))
    }

    /** Incremental index maintenance: assign NEW vectors (`vec_id`,
      * `embedding`) with the stored quantizer — a map-only, delta-sized
      * job, no corpus pass — and append them cell-partitioned into the
      * durable assignment. The index is the growing entity, the analogue
      * of the reference's container doubling as its own point-read index
      * and absorbing every merge delta. Appends do NOT retrain the
      * quantizer (standard IVF practice: retrain on drift, not per
      * insert); a drift-driven rebuild is a new index directory.
      * The read-modify-write on the shared assignment directory is guarded
      * by the artifact lock ([[Artifact.withIndexLock]]), so two processes
      * cannot interleave partition files. Returns the refreshed
      * Index; the previous in-memory assignment is unpersisted.
      *
      * IDEMPOTENT per vec_id (round 13 — closes ST-8's replay gap): each
      * lane filters the delta against the ids it ALREADY holds before
      * writing, and the membership probe runs per lane, so a foreachBatch
      * replay after a crash — including one that landed the float lane
      * but not the int8 lane — appends each vector to each lane exactly
      * once and self-heals the half-landed state. The probe is two
      * delta-bounded joins against the PERSISTED lane frames (a broadcast
      * semi to find collisions, a broadcast anti to drop them), never an
      * index-sized shuffle. Same-id-different-vector replays are the
      * caller's contract violation, as before. */
    def append(s: SparkSession, dir: String, lloydIters: Int,
               newVecs: DataFrame, cells: Int = IvfCells): Index = {
      val prior = build(s, dir, lloydIters, cells)
      GraftFunctions.register(s)
      graft.functions.IvfRankCells.register(s, prior.fn, prior.cellIds, prior.cents)
      val path = indexPath(dir, lloydIters, cells)
      val asgPath = sub(path, "assignment")
      val qasgPath = sub(path, "assignment_int8")
      val newIds = newVecs.select("vec_id")
      def freshFor(lane: DataFrame): DataFrame = {
        // delta-bounded: collisions <= |delta| rows, then broadcast anti
        val already = lane.join(broadcast(newIds), Seq("vec_id"), "left_semi")
          .select("vec_id").distinct()
        newVecs.join(broadcast(already), Seq("vec_id"), "left_anti")
      }
      Artifact.withIndexLock(path + ".lock") {
        freshFor(prior.assigned).selectExpr("vec_id", "embedding",
            s"element_at(${prior.fn}(embedding, 1), 1) AS cell")
          .write.mode("append").partitionBy("cell").parquet(asgPath)
        // int8 lane follows: quantized with the FROZEN build-time scale
        // (saturating — see quantizeExpr), so both lanes stay row-aligned
        freshFor(prior.qassigned).selectExpr("vec_id",
            quantizeExpr("embedding", prior.scale) + " AS qv",
            s"element_at(${prior.fn}(embedding, 1), 1) AS cell")
          .write.mode("append").partitionBy("cell").parquet(qasgPath)
      }
      prior.release()
      val updated = prior.copy(assigned = loadLane(s, asgPath),
        qassigned = loadLane(s, qasgPath))
      Artifact.Ivf.put(s, path, updated)
      updated
    }

    /** Corpus-advance append (VERDICT r12 task 3 — the gate's ANN lane):
      * unlike [[append]], which grows the CURRENT fingerprint's directory
      * in place (ST-8: vectors stream into an index that outgrows its
      * corpus file), this publishes a NEW fingerprint-keyed directory for
      * a corpus whose `embeddings.parquet` JUST advanced — the
      * [[graft.operators.LexIndex.append]] discipline, so warm consumers
      * ([[qSim17]]'s vector lane) resolve the post-delta corpus with zero
      * corpus passes. Call it AFTER the delta lands: `prior` is the
      * pre-delta index (resolve it BEFORE landing), `newVecs` the landed
      * delta (`vec_id`, `embedding`; ids must be new — the gate dedupes).
      * Work is index-sized (the prior assignment, already persisted,
      * re-lays out cell-by-cell) plus delta-sized (new vectors assigned
      * with the FROZEN prior quantizer — centroids and int8 scale copy
      * verbatim, standard IVF practice: retrain-on-drift is a rebuild).
      * With lloydIters = 0 and a delta within the frozen scale a
      * from-scratch rebuild derives the IDENTICAL index (seeds are the
      * unchanged vec_id < k vectors), which is what makes the gate's
      * crash-replay rebuild fallback exact (spec-pinned). A delta
      * component beyond the frozen scale is the one case where append and
      * crash-replay rebuild would publish DIFFERENT content under the same
      * fingerprint (the rebuild recomputes the scale from the post-delta
      * max); that delta is detected by a delta-sized max-|component| agg
      * and ROUTED to the same corpus rebuild the replay path takes —
      * crash and non-crash histories converge bit-for-bit, at the price
      * of one corpus pass exactly when the quantizer has drifted (which
      * is the retrain signal anyway). Every in-scale delta stays NO
      * corpus pass. Idempotent: an already-published target loads instead
      * of re-publishing (the crash-replay shape). */
    def appendFor(s: SparkSession, dir: String, lloydIters: Int,
                  prior: Index, newVecs: DataFrame,
                  cells: Int = IvfCells): Index = {
      GraftFunctions.register(s)
      val path = indexPath(dir, lloydIters, cells) // POST-delta fingerprint
      // delta-sized agg, only on the publish path: a component beyond the
      // frozen scale means the append-published int8 lane (saturating at
      // prior.scale) and a crash-replay rebuild (fresh scale) would
      // diverge under the same fingerprint — route to the rebuild instead
      // (loadOrBuild's corpus build below)
      val scaleRaising = !Artifact.isPublished(path, Marker) && {
        val r = newVecs.selectExpr(
          "max(aggregate(embedding, CAST(0.0 AS DOUBLE), " +
            "(a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))) AS mx").head()
        val deltaMax = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
        val raising = deltaMax > prior.scale
        if (raising) System.err.println(
          s"IVF appendFor: delta max |component| $deltaMax exceeds the " +
            s"frozen int8 scale ${prior.scale} — quantizer drift; routing " +
            "to a full rebuild so crash and non-crash histories publish " +
            "identical content (consider retraining with lloydIters > 0)")
        raising
      }
      if (!scaleRaising) Artifact.publishOnce(path, Marker) { staging =>
        graft.functions.IvfRankCells.register(s, prior.fn,
          prior.cellIds, prior.cents)
        prior.assigned.select("vec_id", "embedding", "cell")
          .unionByName(newVecs.selectExpr("vec_id", "embedding",
            s"element_at(${prior.fn}(embedding, 1), 1) AS cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(sub(staging, "assignment"))
        prior.qassigned.select("vec_id", "qv", "cell")
          .unionByName(newVecs.selectExpr("vec_id",
            quantizeExpr("embedding", prior.scale) + " AS qv",
            s"element_at(${prior.fn}(embedding, 1), 1) AS cell"))
          .write.mode("overwrite").partitionBy("cell")
          .parquet(sub(staging, "assignment_int8"))
        store.writeString(sub(staging, "scale.txt"),
          java.lang.Double.toString(prior.scale) + "\n")
        Artifact.writeCentroids(staging, prior.cellIds, prior.cents)
      }
      Artifact.Ivf.supersede(s, prior, path)(
        loadOrBuild(s, dir, lloydIters, cells))
    }

    private def loadOrBuild(s: SparkSession, dir: String, lloydIters: Int,
                            k: Int): Index = {
      val path = indexPath(dir, lloydIters, k)
      Artifact.publishOnce(path, Marker) { staging =>
        val (ids, cents) = doBuild(s, dir, lloydIters, k)
        // stage the full index — one corpus pass writes the
        // cell-partitioned assignment (the durable form; probes in ANY
        // session hereafter read only these files), marker last
        GraftFunctions.register(s)
        val stageFn = fnName(path) // the final name: the load below re-registers the same matrix
        graft.functions.IvfRankCells.register(s, stageFn, ids, cents)
        Tables.embeddings(s, dir)
          .selectExpr("vec_id", "embedding",
            s"element_at($stageFn(embedding, 1), 1) AS cell")
          .write.mode("overwrite").partitionBy("cell")
          .parquet(sub(staging, "assignment"))
        // the int8 SERVING lane: one global symmetric scale (corpus
        // max |component| — qSim9's scheme, priced there in recall
        // points), vectors stored as TINYINT so a probe moves 1/4 of
        // the float lane's bytes; scale written Double.toString-exact
        val mx = Tables.embeddings(s, dir).selectExpr(
          "max(aggregate(embedding, CAST(0.0 AS DOUBLE), " +
            "(a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))) AS mx")
          .head().getDouble(0)
        Tables.embeddings(s, dir)
          .selectExpr("vec_id",
            quantizeExpr("embedding", mx) + " AS qv",
            s"element_at($stageFn(embedding, 1), 1) AS cell")
          .write.mode("overwrite").partitionBy("cell")
          .parquet(sub(staging, "assignment_int8"))
        store.writeString(sub(staging, "scale.txt"),
          java.lang.Double.toString(mx) + "\n")
        Artifact.writeCentroids(staging, ids, cents)
      }
      val (ids, cents) = Artifact.readCentroids(path)
      val fn = fnName(path)
      graft.functions.IvfRankCells.register(s, fn, ids, cents)
      val scale = store.readString(sub(path, "scale.txt")).trim.toDouble
      Index(fn, ids, cents, loadLane(s, sub(path, "assignment")), scale,
        loadLane(s, sub(path, "assignment_int8")))
    }

    /** One cell-partitioned lane, persisted and materialized: probes must
      * not re-read even the index files. */
    private def loadLane(s: SparkSession, p: String): DataFrame =
      Artifact.persistCounted(
        s.read.parquet(p).withColumn("cell", col("cell").cast("long")))

    /** The symmetric int8 quantization expression over a float-array
      * column: `floor(x·127/scale + 0.5)` is deterministic IEEE double
      * arithmetic (no HALF_UP ambiguity — qSim9's contract), clamped to
      * [-127, 127] so an APPENDED vector exceeding the frozen build-time
      * scale saturates instead of wrapping in the TINYINT cast. */
    private[operators] def quantizeExpr(c: String, scale: Double): String = {
      val sc = java.lang.Double.toString(scale)
      s"transform($c, x -> CAST(greatest(CAST(-127 AS DOUBLE), " +
        s"least(CAST(127 AS DOUBLE), " +
        s"FLOOR(CAST(x AS DOUBLE) * 127.0 / CAST($sc AS DOUBLE) + 0.5))) AS TINYINT))"
    }

    /** Probe: exact top-`topK` neighbors per query over the `nprobe` nearest
      * cells' members. Queries broadcast; the assignment table is read from
      * cache — zero corpus scans, and the cell ranking is the registered
      * expression (no centroid text in the plan). */
    def probe(s: SparkSession, dir: String, idx: Index,
              nprobe: Int = IvfProbe, topK: Int = 3): DataFrame = {
      GraftFunctions.register(s)
      graft.functions.IvfRankCells.register(s, idx.fn, idx.cellIds, idx.cents)
      val probes = Tables.embeddings(s, dir).where(col("vec_id") < 10)
        .selectExpr("vec_id AS q_id", "embedding AS eq",
          s"explode(${idx.fn}(embedding, $nprobe)) AS cell")
      val w = Window.partitionBy("q_id").orderBy(desc("sim_raw"), col("n_id"))
      broadcast(probes).join(idx.assigned, "cell")
        .where(col("vec_id") =!= col("q_id"))
        .selectExpr("q_id", "vec_id AS n_id", "cosine_sim(eq, embedding) AS sim_raw")
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= topK)
        .selectExpr("q_id", "n_id", "ROUND(sim_raw, 4) AS sim", "rank")
        .orderBy("q_id", "rank")
    }

    /** Probe the int8 SERVING lane: cell ranking is unchanged (float
      * centroids, full-precision query — the cheap part), but candidate
      * rescoring reads `assignment_int8` — 1/4 the bytes of the float
      * lane, the memory/bandwidth win [[Similarity.qSim9]] priced — and
      * ranks by the EXACT BIGINT dot of the symmetrically-quantized query
      * and member vectors (integer end-to-end after quantization, so the
      * ranking is engine-exact; no float summation anywhere downstream of
      * the one deterministic floor). */
    def probeInt8(s: SparkSession, dir: String, idx: Index,
                  nprobe: Int = IvfProbe, topK: Int = 3,
                  probeLimit: Int = 10): DataFrame = {
      GraftFunctions.register(s)
      graft.functions.IvfRankCells.register(s, idx.fn, idx.cellIds, idx.cents)
      val probes = Tables.embeddings(s, dir).where(col("vec_id") < probeLimit)
        .selectExpr("vec_id AS q_id",
          quantizeExpr("embedding", idx.scale) + " AS qq",
          s"explode(${idx.fn}(embedding, $nprobe)) AS cell")
      val w = Window.partitionBy("q_id").orderBy(desc("qdot"), col("n_id"))
      broadcast(probes).join(idx.qassigned, "cell")
        .where(col("vec_id") =!= col("q_id"))
        // int_dot == the HOF fold (TINYINT sides sign-extend like its BIGINT
        // casts) but codegen'd — per-CANDIDATE work, the probe's hot loop
        .selectExpr("q_id", "vec_id AS n_id", "int_dot(qq, qv) AS qdot")
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= topK)
        .select(col("q_id"), col("n_id"), col("qdot"), col("rank"))
        .orderBy("q_id", "rank")
    }

    /** Probe through the IVF-PQ lane — the Faiss `IVFPQ` architecture
      * completed: cell ranking as every other probe (float centroids,
      * full-precision query), but candidates are scored by ASYMMETRIC
      * DISTANCE COMPUTATION over PQ codes instead of any per-member
      * vector read. The codebook is the 16 quantized seed vectors sliced
      * 8×16 (the [[Similarity.qSim13]] recipe over the index's OWN int8
      * lane — the [[graft.functions.PqEncode]] codegen'd argmin, codes
      * directly off the durable TINYINT assignment); each probe builds
      * its 8×16 LUT once ([[graft.functions.PqLut]]) and every
      * candidate costs 8 table lookups — at 100 TB the candidate read is
      * 8 bytes of codes instead of 64 floats, the memory-bandwidth
      * endgame of the int8 lane's 4× (this is 32×). Exact ranking order:
      * (adot desc, n_id) — integer end-to-end, oracle-replayable. */
    def probePq(s: SparkSession, dir: String, idx: Index,
                nprobe: Int = IvfProbe, topK: Int = 10): DataFrame = {
      GraftFunctions.register(s)
      graft.functions.IvfRankCells.register(s, idx.fn, idx.cellIds, idx.cents)
      val cb: Array[Array[Long]] = idx.pqCodebook
      val codes = idx.qassigned.select(col("vec_id").as("n_id"), col("cell"),
        org.apache.spark.sql.GraftColumn.of(graft.functions.PqEncode(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("qv"),
          cb, 8)).as("codes"))
      val probes = Tables.embeddings(s, dir).where(col("vec_id") < 10)
        .selectExpr("vec_id AS q_id",
          quantizeExpr("embedding", idx.scale) + " AS qq",
          s"explode(${idx.fn}(embedding, $nprobe)) AS cell")
        .select(col("q_id"), col("cell"),
          org.apache.spark.sql.GraftColumn.of(graft.functions.PqLut(
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("qq"),
            cb, 8)).as("lut"))
      val w = Window.partitionBy("q_id").orderBy(desc("adot"), col("n_id"))
      broadcast(probes).join(codes, "cell")
        .where(col("n_id") =!= col("q_id"))
        // the per-CANDIDATE ADC loop: 8 lookups into the probe's LUT
        .withColumn("adot", expr("pq_lut_sum(lut, codes)"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= topK)
        .select(col("q_id"), col("n_id"), col("adot"), col("rank"))
        .orderBy("q_id", "rank")
    }
  }

  /** Q-SIM3: IVF ANN with the seeded quantizer — build(0 Lloyd rounds) +
    * probe. The build is memoized: repeat invocations are probe-only. */
  def qSim3(s: SparkSession, dir: String): DataFrame =
    IvfIndex.probe(s, dir, IvfIndex.build(s, dir, lloydIters = 0))

  /** Q-SIM4: IVF ANN with a TRAINED quantizer — build(1 Lloyd round) +
    * probe; more rounds are the same bounded stages repeated. */
  def qSim4(s: SparkSession, dir: String): DataFrame =
    IvfIndex.probe(s, dir, IvfIndex.build(s, dir, lloydIters = 1))

  /** Q-SIM11: SERVE the int8-quantized IVF index — [[qSim3]]'s seeded
    * index probed through the `assignment_int8` lane
    * ([[IvfIndex.probeInt8]]): same cell ranking, candidate rescoring by
    * exact BIGINT dot over TINYINT vectors (4× less candidate IO than the
    * float lane). The recall cost of serving compressed was priced by
    * [[qSim9]]; RecallSpec measures this query's own overlap against the
    * float probe on the identical index. */
  def qSim11(s: SparkSession, dir: String): DataFrame =
    IvfIndex.probeInt8(s, dir, IvfIndex.build(s, dir, lloydIters = 0))

  /** Q-SIM14 — IVF-PQ: the seeded index probed through PQ codes with
    * asymmetric distance computation ([[IvfIndex.probePq]]) — the fourth
    * and final serving compression level (float → int8 → PQ codes), the
    * standard Faiss IVFPQ shape. Recall cost vs the exact lanes is
    * RecallSpec's business; the oracle replays the integer ADC ranking
    * exactly. */
  def qSim14(s: SparkSession, dir: String): DataFrame =
    IvfIndex.probePq(s, dir, IvfIndex.build(s, dir, lloydIters = 0))

  /** Q-SIM15 — HYBRID RETRIEVAL: the canonical RAG search operator —
    * a lexical lane and a vector lane ranked independently per probe, then
    * fused with reciprocal-rank fusion (Cormack's 1/(60+r), [[
    * graft.operators.TextAnalysis.qT23]]'s integer form). Hybrid search is
    * what production retrieval actually serves (BM25-class exact matching
    * catches what embeddings blur — rare names, code, numbers — and
    * vectors catch paraphrase that lexical misses); RRF is the
    * calibration-free way to combine the two incomparable score scales.
    *
    * Probes are the first 5 documents (doc_id ↔ vec_id aligned by the
    * fixture contract) run as "more-like-this" queries: the vector lane
    * is exact cosine over the probe's embedding ([[qSim1]]'s broadcast
    * shape), the lexical lane is distinct-token Jaccard against the
    * probe's own token set in integer permyriad (engine-exact, the qD2
    * verify kernel as a ranking signal). Each lane keeps its top-100
    * candidate list; fusion — absent rank contributes 0, the qT23
    * contract — emits the top-10 per probe with both source ranks, so a
    * consumer can see WHY a hit fused high.
    *
    * Scale (round 11): the vector lane broadcasts the 5-probe side and
    * streams the corpus map-only; the LEXICAL lane is served by the
    * durable inverted index ([[LexIndex.jaccardTopDocs]]) — probe token
    * sets and set-size sidecars come from index files, the corpus text is
    * never re-tokenized (warm runs: zero corpus passes on the lexical
    * side, PlanAuditSpec inputFiles audit; [[lexLaneDirect]] keeps the
    * index-free formulation and LexIndexSpec pins the two bit-equal).
    * The per-probe rank windows partition on q_id (bounded partitions);
    * fusion runs over ≤ 200 candidate rows per probe — at 100 TB the
    * vector lane would be served by the IVF/PQ index the same way, and
    * the fusion stage is unchanged (it only ever sees candidate lists). */
  def qSim15(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val w = Window.partitionBy("q_id")
    val v = broadcast(e.selectExpr("vec_id AS q_id", "embedding AS eq")
        .where(col("q_id") < 5))
      .join(e.selectExpr("vec_id AS n_id", "embedding AS en"),
        col("q_id") =!= col("n_id"))
      .withColumn("sim", expr("cosine_sim(eq, en)"))
      .withColumn("r_v", row_number().over(w.orderBy(col("sim").desc, col("n_id"))))
      .where(col("r_v") <= 100).select("q_id", "n_id", "r_v")
    val l = LexIndex.jaccardTopDocs(s, dir, nProbes = 5, topR = 100)
    rrfFuse(v, l)
  }

  /** The hybrid fusion stage, shared verbatim by [[qSim15]] (exact vector
    * lane) and [[qSim17]] (served vector lane): integer RRF (k=60, absent
    * rank contributes 0 — the qT23 contract) over two per-probe candidate
    * lists (q_id, n_id, r_v) / (q_id, n_id, r_l), top-10 per probe with
    * both source ranks. One function = structurally identical contract. */
  private def rrfFuse(v: DataFrame, l: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id")
    v.join(l, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf_s",
        (coalesce(expr("1000000 DIV (60 + r_v)"), lit(0L)) +
          coalesce(expr("1000000 DIV (60 + r_l)"), lit(0L))).cast("long"))
      .select(col("q_id"), col("n_id"),
        coalesce(col("r_v"), lit(0)).cast("long").as("r_v"),
        coalesce(col("r_l"), lit(0)).cast("long").as("r_l"),
        col("rrf_s"))
      .withColumn("rank", row_number().over(w.orderBy(desc("rrf_s"), col("n_id"))))
      .where(col("rank") <= 10)
      .selectExpr("q_id", "n_id", "r_v", "r_l", "rrf_s", "CAST(rank AS BIGINT) AS rank")
      .orderBy("q_id", "rank")
  }

  /** Q-SIM17 — SERVED HYBRID RETRIEVAL: [[qSim15]] with BOTH lanes on warm
    * durable indexes — the shape a 100 TB deployment actually runs (the
    * half [[qSim15]]'s own scaladoc promised and round 11 only delivered
    * for the lexical lane). The vector lane is the int8 IVF serving lane
    * ([[IvfIndex.probeInt8]], top-100 shortlist: cell-pruned candidates,
    * exact BIGINT rescoring, 1/4 the candidate IO of float); the lexical
    * lane is the candidate-bounded inverted-index Jaccard
    * ([[LexIndex.jaccardTopDocs]]); fusion is [[rrfFuse]] — the SAME
    * function [[qSim15]] calls, so the fusion contract is identical by
    * construction, and it only ever sees two <= 100-row-per-probe
    * candidate lists.
    *
    * Scale: warm runs read zero corpus text/vectors outside the pushed
    * vec_id < 5 probe fetch — the vector candidates come from the cached
    * int8 assignment, the lexical candidates from posting files
    * (PlanAuditSpec pins the scan set). Recall vs the exact-lane fusion is
    * measured in RecallSpec, not assumed; the oracle replays both lanes
    * and the fusion integer-exactly. */
  def qSim17(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val idx = IvfIndex.build(s, dir, lloydIters = 0)
    val v = IvfIndex.probeInt8(s, dir, idx, topK = 100, probeLimit = 5)
      .select(col("q_id"), col("n_id"), col("rank").as("r_v"))
    val l = LexIndex.jaccardTopDocs(s, dir, nProbes = 5, topR = 100)
    rrfFuse(v, l)
  }

  /** USER-SUPPLIED-QUERY HYBRID (VERDICT r14 task 3, the [[rrfFuse]]
    * half): [[qSim15]]/[[qSim17]] run "more-like-this" probes drawn from
    * the corpus; a RAG consumer arrives with a QUERY — text for the
    * lexical lane, an encoder vector for the vector lane. This entry
    * point serves that query from BOTH durable indexes: the vector lane
    * quantizes `queryVec` with the index's frozen scale, ranks cells with
    * the registered quantizer, and rescores ONLY the probed cells'
    * int8 members by exact BIGINT dot ([[IvfIndex.probeInt8]]'s serving
    * shape, sans self-exclusion — a user query has no self); the lexical
    * lane is [[LexIndex.bm25ForQuery]]'s posting-pruned exact integer
    * BM25 ranked by (score desc, doc_id); fusion is [[rrfFuse]] — the
    * same function the fixture hybrids call, so the contract is identical
    * by construction. Returns the fused top-10 with both source ranks
    * under q_id = 0 (one query per call).
    *
    * Scale: the query side is ONE row; candidates are cell-pruned (vector)
    * and posting-bucket-pruned (lexical); every window partitions over
    * candidate-bounded rows. Zero corpus passes warm. */
  def hybridForQuery(s: SparkSession, dir: String, queryText: String,
                     queryVec: Array[Float],
                     nprobe: Int = IvfProbe): DataFrame = {
    GraftFunctions.register(s)
    val idx = IvfIndex.build(s, dir, lloydIters = 0)
    graft.functions.IvfRankCells.register(s, idx.fn, idx.cellIds, idx.cents)
    import s.implicits._
    val probes = Seq((0L, queryVec.toSeq)).toDF("q_id", "embedding")
      .selectExpr("q_id",
        IvfIndex.quantizeExpr("embedding", idx.scale) + " AS qq",
        s"explode(${idx.fn}(embedding, $nprobe)) AS cell")
    val wv = Window.partitionBy("q_id").orderBy(desc("qdot"), col("n_id"))
    val v = broadcast(probes).join(idx.qassigned, "cell")
      .selectExpr("q_id", "vec_id AS n_id", "int_dot(qq, qv) AS qdot")
      .withColumn("r_v", row_number().over(wv))
      .where(col("r_v") <= 100).select("q_id", "n_id", "r_v")
    val wl = Window.partitionBy("q_id").orderBy(desc("bm25_s"), col("doc_id"))
    val l = LexIndex.bm25ForQuery(s, dir, queryText, topN = 100)
      .withColumn("q_id", lit(0L))
      .withColumn("r_l", row_number().over(wl))
      .select(col("q_id"), col("doc_id").as("n_id"), col("r_l"))
    rrfFuse(v, l)
  }

  /** Q-SIM21 — the [[hybridForQuery]] surface pinned by fixtures: query
    * text = [[graft.operators.TextAnalysis.Bm25FixtureQueries]]' first
    * entry, query vector = the embeddings row vec_id = 7 (a 1-row bounded
    * read standing in for the user's encoder output). The doc_id↔vec_id
    * fixture alignment makes the fused list interpretable: vec 7 itself
    * ranks first in the vector lane (no self-exclusion — the user-query
    * contract), and the oracle replays both lanes and the fusion
    * integer-exactly. */
  def qSim21(s: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(s, dir).where(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    hybridForQuery(s, dir,
      graft.operators.TextAnalysis.Bm25FixtureQueries.head._2, qv)
  }

  /** Q-SIM19 — IVF CELL-BALANCE AUDIT: the index-health number that
    * decides WHEN the frozen-quantizer appends ([[IvfIndex.append]] /
    * [[IvfIndex.appendFor]] — both deliberately never retrain) have
    * drifted the corpus far enough that a rebuild is due. Per cell of the
    * served assignment: member count, share in per-mille, and a hot flag
    * (occupancy > 2× the uniform mean — a hot cell is exactly what
    * degrades probe cost, since cell-pruned candidate work tracks
    * occupancy; standard IVF re-train trigger). Emitting per-cell rows
    * (not one verdict) lets an operator see WHERE the skew lives before
    * deciding between retrain and nlist change.
    *
    * Scale: one aggregate over the CACHED cell-partitioned assignment —
    * cell-count-sized output, zero corpus passes warm; the total arrives
    * by the broadcast-one-row crossJoin. EMPTY cells are emitted too
    * (occupancy 0, hot 0), left-joined from the driver-held cell-id list
    * (k rows): a dead cell is retrain evidence exactly like a hot one —
    * it wastes nprobe budget and signals a drifted quantizer (VERDICT r13
    * task 5). The oracle replays the seeded quantizer assignment
    * arithmetically (the qSim3 CTE) and counts. */
  def qSim19(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val idx = IvfIndex.build(s, dir, lloydIters = 0)
    val k = idx.cellIds.length.toLong
    import s.implicits._
    val cells = idx.cellIds.toSeq.toDF("cid") // driver-held: k rows
    val counts = idx.assigned.groupBy(col("cell").as("cid"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.agg(coalesce(sum("n"), lit(0L)).as("t"))
    cells.join(broadcast(counts), Seq("cid"), "left")
      .crossJoin(broadcast(tot))
      .select(col("cid"), coalesce(col("n"), lit(0L)).as("n"),
        expr("(coalesce(n, 0L) * 1000) DIV t").as("share_pm"),
        when(coalesce(col("n"), lit(0L)) * lit(k) > lit(2L) * col("t"), 1L)
          .otherwise(0L).as("hot"))
      .orderBy("cid")
  }

  /** Q-SIM20 — TOPIC × LANGUAGE MIX AUDIT: the diversity table a mix
    * planner reads before sampling — per IVF cell (the cheap topic proxy
    * the index already maintains) and predicted language, document count
    * and the language's share of the cell in per-mille. A cell whose mass
    * is one language flags a topic the other languages under-cover; a
    * language concentrated in few cells flags narrow domain coverage —
    * both drive per-(topic, language) sampling corrections.
    *
    * Scale: the cell side is the CACHED assignment (no corpus vector
    * pass warm); the language side is [[TextAnalysis.qT1]]'s map-only
    * kernel over the documents scan; they meet in one doc-keyed join of
    * two slim (id, small-col) frames and reduce to a cells × languages
    * table. The oracle replays the seeded quantizer assignment and the
    * lang CASE arithmetically. */
  def qSim20(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val idx = IvfIndex.build(s, dir, lloydIters = 0)
    val c2 = idx.assigned
      .select(col("vec_id").as("doc_id"), col("cell").as("cid"))
      .join(TextAnalysis.langPredicted(s, dir).select("doc_id", "lang_pred"),
        "doc_id")
      .groupBy("cid", "lang_pred").agg(count(lit(1)).as("n_docs"))
    c2.join(c2.groupBy("cid").agg(sum("n_docs").as("cn")), "cid")
      .select(col("cid"), col("lang_pred"), col("n_docs"),
        expr("(n_docs * 1000) DIV cn").as("share_pm"))
      .orderBy("cid", "lang_pred")
  }

  /** [[qSim22]]'s sweep points. The last entry equals [[IvfCells]], so
    * the sweep's top row doubles as a built-in self-check: probing every
    * cell IS the exact scan and must read recall_pm = 1000. */
  val NprobeSweep: Seq[Int] = Seq(1, 2, 4, 8, IvfCells)

  /** Q-SIM22 — NPROBE PLANNING SWEEP: recall@10 versus scanned-corpus
    * fraction at nprobe ∈ {1, 2, 4, 8, 16} over the same warm IVF index
    * every probe lane serves from — the measured curve an operator reads
    * to pick a serving nprobe, the IVF analogue of [[graft.operators
    * .Dedup.qD20]]'s LSH band planning (parameters from measurement, not
    * folklore). Per sweep point: recall_pm (top-10 overlap vs the exact
    * scan, per-mille over the exact lane's MEASURED row count — a probe
    * short of k rows shrinks the denominator, never fakes recall; a
    * zero-overlap point still emits its row), the candidate rows the probe
    * actually scores (Σ probed-cell sizes − the self matches), and
    * scan_pm (candidates as per-mille of the full 10×(N−1) exact work).
    * The nprobe = [[IvfCells]] row probes every cell — recall_pm = 1000
    * by construction, the sweep's own calibration row.
    *
    * Engine-exact: rankings replay [[IvfIndex.probe]]'s arithmetic
    * (float-cosine candidates, n_id tiebreak — the oracle replays
    * assignment, per-np cell sets, and both rankings); the accounting is
    * integer DIV. Every sweep point's probed-cell set is a POS-PREFIX of
    * the full cell ranking ([[graft.functions.IvfRankCells]] selects by
    * (sim desc, cellId asc), so fn(v, np) == fn(v, K).take(np) by
    * construction) — which is what lets the round-19 optimization score
    * candidates ONCE instead of once per sweep point.
    *
    * Scale (round-19 shape): one warm index, 10 bounded probes, ONE
    * qSim3-shaped scoring pass at nprobe = K (broadcast probes ⋈
    * cell-partitioned assignment) carrying each candidate's cell rank
    * `pos`; the five sweep points are pos-prefixes ranked in one window
    * over the sweep-replicated frame (5 × candidates rows, probe-bounded),
    * checkpointed at sweep × probes × k rows. The previous form planned a
    * FULL probe subtree per sweep point (5 windows, 5 broadcast joins, a
    * persisted exact lane + a plan-build count job) — 5× the stages for
    * byte-identical output. Accounting frames are cell-count- and
    * probe-count-sized; the exact-lane denominator and the corpus total
    * both ride the plan as one-row broadcast aggregates. */
  def qSim22(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val idx = IvfIndex.build(s, dir, lloydIters = 0)
    graft.functions.IvfRankCells.register(s, idx.fn, idx.cellIds, idx.cents)
    val k = 10
    import s.implicits._
    val nps = NprobeSweep.map(_.toLong)
    // ONE scored-candidate pass at nprobe = K, keeping each candidate's
    // probed-cell rank: sweep point np sees exactly the pos < np prefix
    val scored = broadcast(Tables.embeddings(s, dir).where(col("vec_id") < 10)
        .selectExpr("vec_id AS q_id", "embedding AS eq",
          s"posexplode(${idx.fn}(embedding, $IvfCells)) AS (pos, cell)"))
      .join(idx.assigned, "cell")
      .where(col("vec_id") =!= col("q_id"))
      .selectExpr("q_id", "pos", "vec_id AS n_id",
        "cosine_sim(eq, embedding) AS sim_raw")
    val w = Window.partitionBy("nprobe", "q_id")
      .orderBy(desc("sim_raw"), col("n_id"))
    // bounded: sweep points × probes × k rows — checkpointed because the
    // exact lane, the hits semi-join, and the denominator all reuse it
    val ranked10 = scored
      .select(explode(typedLit(nps)).as("nprobe"), col("q_id"), col("pos"),
        col("n_id"), col("sim_raw"))
      .where(col("pos") < col("nprobe"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("nprobe", "q_id", "n_id")
      .localCheckpoint(eager = true)
    val exact = ranked10.where(col("nprobe") === IvfCells.toLong)
      .select("q_id", "n_id")
    val hits = ranked10.join(exact, Seq("q_id", "n_id"), "left_semi")
      .groupBy("nprobe").agg(count(lit(1)).as("hits"))
    // candidate accounting: probed-cell sizes per sweep point (the rank
    // order of cells is the probe function's own), minus the self match
    // each of the 10 probes excludes
    val sizes = idx.assigned.groupBy("cell").agg(count(lit(1)).as("csz"))
    val scans = Tables.embeddings(s, dir).where(col("vec_id") < 10)
      .selectExpr("vec_id AS q_id",
        s"posexplode(${idx.fn}(embedding, $IvfCells)) AS (pos, cell)")
      .join(broadcast(sizes), "cell")
      .select(explode(typedLit(nps)).as("nprobe"), col("csz"), col("pos"))
      .where(col("pos") < col("nprobe"))
      .groupBy("nprobe").agg((sum("csz") - 10L).as("n_candidates"))
    // ADVICE r15: the sweep-point frame DRIVES the output (exactly one row
    // per sweep point even when a point recalls nothing — left joins +
    // coalesce); the recall denominator is MEASURED from the exact lane
    // (never assumed 10×k rows) and rides the plan as a one-row broadcast
    // agg, as does the corpus total — no plan-build count jobs
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val totals = idx.assigned.agg(count(lit(1)).as("n_total"))
    nps.toDF("nprobe")
      .join(scans, Seq("nprobe"), "left")
      .join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(nExact))
      .crossJoin(broadcast(totals))
      .select(col("nprobe"),
        expr("(coalesce(hits, 0L) * 1000) DIV n_exact").as("recall_pm"),
        col("n_candidates"),
        expr("(n_candidates * 1000) DIV (10 * (n_total - 1))").as("scan_pm"))
      .orderBy("nprobe")
  }

  /** Q-SIM16 — PQ SHORTLIST + EXACT RERANK: the two-stage serving
    * pattern production ANN actually runs (Faiss/ScaNN "refine" stage):
    * stage 1 ranks candidates by the 8-byte PQ codes
    * ([[IvfIndex.probePq]], top-100 shortlist — memory-bandwidth-cheap
    * but lossy), stage 2 re-scores ONLY the shortlist with exact float
    * cosine over the full vectors and emits the top-10. Recall recovers
    * toward the exact lane at PQ scan cost, because stage 2 touches 100
    * vectors per probe no matter the corpus size. Output carries each
    * hit's stage-1 rank (`r_adc`) so a consumer sees how far the exact
    * order moved it — the number that justifies (or kills) the refine
    * stage for a workload.
    *
    * Scale: the shortlist is probe-count × 100 rows and BROADCASTS into
    * the full-vector fetch, so the rescore reads a bounded set of rows
    * from the assignment — never a corpus pass; the ranking window
    * partitions on q_id over ≤ 100-row partitions. RecallSpec measures
    * the recovery against both the pure-ADC lane and float truth;
    * the oracle replays shortlist + rescore exactly. */
  def qSim16(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val idx = IvfIndex.build(s, dir, lloydIters = 0)
    val sl = IvfIndex.probePq(s, dir, idx, topK = 100)
      .select(col("q_id"), col("n_id"), col("rank").as("r_adc"))
    val e = Tables.embeddings(s, dir)
    val w = Window.partitionBy("q_id").orderBy(desc("sim_raw"), col("n_id"))
    broadcast(sl)
      .join(e.selectExpr("vec_id AS n_id", "embedding AS en"), "n_id")
      .join(broadcast(e.selectExpr("vec_id AS q_id", "embedding AS eq")
        .where(col("q_id") < 10)), "q_id")
      .withColumn("sim_raw", expr("cosine_sim(eq, en)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .selectExpr("q_id", "n_id", "ROUND(sim_raw, 4) AS sim", "r_adc", "rank")
      .orderBy("q_id", "rank")
  }

  /** Q-SIM18 — MMR DIVERSIFIED RE-RANK (Carbonell & Goldstein 1998), the
    * serving step between retrieval and the consumer: a plain top-k is
    * often k near-copies of one answer (this corpus is BUILT of near-dup
    * families — q_d*'s whole subject), so production retrieval re-ranks
    * the shortlist by Maximal Marginal Relevance — greedily pick the
    * candidate maximizing relevance MINUS its worst redundancy against
    * what is already picked. λ = 1/2, so the argmax of
    * λ·rel − (1−λ)·max_sel(sim) is the argmax of the INTEGER rel − pen —
    * no float anywhere: relevance is the int8 lane's exact BIGINT dot
    * ([[IvfIndex.probeInt8]], top-20 shortlist), redundancy the same dot
    * between candidates, so the greedy ranking is engine-exact and the
    * oracle replays it round by round (statically unrolled CTEs).
    *
    * Scale: the shortlist is probe×20 rows — BOUNDED by serving
    * parameters, independent of corpus size (the corpus was left behind
    * at the shortlist stage, the q_sim16 posture). The greedy itself runs
    * ON THE DRIVER over that checked-bounded shortlist (round-19
    * optimization, guide §1.2 "the distributed algorithm" + §5: selection
    * depth = output size over ≤ probes×topK rows is serving-layer work —
    * the previous distributed form spent 6 eager localCheckpoint jobs and
    * 4 rounds of join+window stages shuffling ≤ 100 rows; the driver form
    * is two bounded jobs: probe + collect). The pairwise-redundancy dots
    * (probes×20×19 of them, 64-dim int8) are exact integer arithmetic
    * either way, so the ranking is engine-identical and the oracle
    * replays it round by round (statically unrolled CTEs) — re-proven
    * against the oracle when this form landed, and pinned bit-equal to
    * [[qSim18Distributed]] by RecallSpec. Output carries rel and
    * mmr_rank so a consumer sees what diversity cost in relevance. */
  def qSim18(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val idx = IvfIndex.build(s, dir, lloydIters = 0)
    qSim18Greedy(s,
      IvfIndex.probeInt8(s, dir, idx, topK = 20, probeLimit = 5)
        .select(col("q_id"), col("n_id"), col("qdot").as("rel"))
        .join(idx.qassigned.select(col("vec_id"), col("qv")),
          col("n_id") === col("vec_id")),
      maxRows = 5 * 20)
  }

  /** The MMR greedy over a serving-bounded shortlist, on the driver.
    * `shortlist` must carry (q_id, n_id, rel, qv) and is REQUIRED to hold
    * at most `maxRows` rows (checked — a corpus-sized frame here is a
    * contract violation, never silently collected; the qD9 bounded-collect
    * pattern). Integer MMR with λ = 1/2: per round pick the candidate
    * maximizing rel − max_selected(dot), ties to the smaller n_id — the
    * exact arithmetic the distributed form computed, in the same order. */
  private[graft] def qSim18Greedy(s: SparkSession, shortlist: DataFrame,
                                  maxRows: Int): DataFrame = {
    import s.implicits._
    val rows = shortlist.select(col("q_id"), col("n_id"), col("rel"),
      col("qv")).limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"qSim18 shortlist exceeds its serving bound ($maxRows)")
    def dot(a: Array[Long], b: Array[Long]): Long = {
      var acc = 0L; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val out = rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).flatMap {
      case (q, rs) =>
        val cand = rs.map { r =>
          (r.getLong(1), r.getLong(2),
            r.getSeq[Any](3).map(_.asInstanceOf[Number].longValue).toArray)
        }.sortBy(c => (-c._2, c._1)).toVector
        var selected = Vector((cand.head._1, cand.head._2, 1L))
        var selVecs = Vector(cand.head._3)
        var remaining = cand.tail
        for (k <- 2 to 5 if remaining.nonEmpty) {
          val best = remaining
            .map(c => (c, c._2 - selVecs.map(v => dot(c._3, v)).max))
            .minBy { case (c, score) => (-score, c._1) }._1
          selected :+= ((best._1, best._2, k.toLong))
          selVecs :+= best._3
          remaining = remaining.filterNot(_._1 == best._1)
        }
        selected.map(sel => (q, sel._1, sel._2, sel._3))
    }
    out.toDF("q_id", "n_id", "rel", "mmr_rank").orderBy("q_id", "mmr_rank")
  }

  /** The pre-round-19 DISTRIBUTED MMR greedy — retained as the equality
    * oracle for [[qSim18Greedy]] (the [[lexLaneDirect]] pattern):
    * SimilaritySpec pins the two bit-equal on the fixture corpus. Each of
    * the 4 greedy rounds is an equi-join + per-probe argmax window over
    * serving-bounded frames, with eager localCheckpoints truncating the
    * per-round lineage. */
  private[graft] def qSim18Distributed(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val idx = IvfIndex.build(s, dir, lloydIters = 0)
    val sl = IvfIndex.probeInt8(s, dir, idx, topK = 20, probeLimit = 5)
      .select(col("q_id"), col("n_id"), col("qdot").as("rel"))
      .localCheckpoint(eager = true)
    val vecs = idx.qassigned.select(col("vec_id"), col("qv"))
    val withV = sl.join(vecs, sl("n_id") === vecs("vec_id"))
      .select(col("q_id"), col("n_id"), col("qv"))
    val pairs = withV.select(col("q_id"), col("n_id").as("a_id"), col("qv").as("va"))
      .join(withV.select(col("q_id"), col("n_id").as("b_id"), col("qv").as("vb")),
        Seq("q_id"))
      .where(col("a_id") =!= col("b_id"))
      .selectExpr("q_id", "a_id", "b_id",
        "aggregate(zip_with(va, vb, (x, y) -> CAST(x AS BIGINT) * CAST(y AS BIGINT)), " +
          "0L, (a, b) -> a + b) AS psim")
      .localCheckpoint(eager = true) // bounded: probes × 20 × 19 rows
    val w = Window.partitionBy("q_id")
    var selected = sl
      .withColumn("r", row_number().over(w.orderBy(desc("rel"), col("n_id"))))
      .where(col("r") === 1)
      .select(col("q_id"), col("n_id"), col("rel"),
        lit(1).cast("long").as("mmr_rank"))
    for (k <- 2 to 5) {
      val next = sl
        .join(selected.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_anti")
        .join(pairs.withColumnRenamed("q_id", "pq"),
          col("n_id") === col("a_id") && col("q_id") === col("pq"))
        .join(selected.select(col("q_id"), col("n_id").as("b_id")),
          Seq("q_id", "b_id"))
        .groupBy("q_id", "n_id", "rel").agg(max("psim").as("pen"))
        .withColumn("r", row_number().over(
          w.orderBy((col("rel") - col("pen")).desc, col("n_id"))))
        .where(col("r") === 1)
        .select(col("q_id"), col("n_id"), col("rel"),
          lit(k).cast("long").as("mmr_rank"))
      selected = selected.unionByName(next).localCheckpoint(eager = true)
    }
    selected.orderBy("q_id", "mmr_rank")
  }

  /** The index-free lexical lane of [[qSim15]] (re-tokenizes the corpus
    * per run) — retained as the equality oracle for the
    * [[LexIndex.jaccardTopDocs]] served form. */
  private[graft] def lexLaneDirect(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), array_distinct(split(lower(col("text")), " ")).as("w"))
    val win = Window.partitionBy("q_id")
    broadcast(docs.selectExpr("doc_id AS q_id", "w AS wq")
        .where(col("q_id") < 5))
      .join(docs.selectExpr("doc_id AS n_id", "w AS wn"),
        col("q_id") =!= col("n_id"))
      .withColumn("jac4", expr(
        "(size(array_intersect(wq, wn)) * 10000) DIV size(array_union(wq, wn))"))
      .withColumn("r_l", row_number().over(win.orderBy(desc("jac4"), col("n_id"))))
      .where(col("r_l") <= 100).select("q_id", "n_id", "r_l")
  }

  /** Q-SIM5 — per-class embedding CENTROIDS (the prototype / class-mean
    * vector aggregate every training pipeline computes: cluster summaries,
    * nearest-class-mean classification, drift tracking between snapshot
    * embeddings). Join embeddings to their documents' language, then mean
    * per (class, dimension).
    *
    * Scale shape: the join broadcasts nothing it shouldn't (doc metadata is
    * a projection of the corpus — at real scale both sides shuffle on the
    * id, or the lang column lives WITH the embedding and the join
    * disappears); the aggregate's shuffle output is bounded by
    * classes × dims rows regardless of corpus size — the same contract as
    * the IVF Lloyd step, with the same ROUND(·,6) snap absorbing
    * float-sum-order differences between partitions and engines. */
  def qSim5(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    e.join(d, e("vec_id") === d("doc_id"))
      .select(col("lang"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("lang", "i")
      .agg(expr("ROUND(avg(CAST(v AS DOUBLE)), 6)").as("c"))
      .orderBy("lang", "i")
  }

  /** Brute-force k-NN: for each query vector (vec_id < 10), the top-3
    * neighbors over the whole corpus by cosine. The query side is tiny and
    * broadcast; the corpus side streams — scan-bound at any corpus size.
    * Ranking tiebreaks on neighbor id for determinism. */
  def qSim1(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.selectExpr("vec_id AS q_id", "embedding AS eq").where(col("q_id") < 10)
    val c = e.selectExpr("vec_id AS n_id", "embedding AS en")
    val w = Window.partitionBy("q_id").orderBy(desc("sim_raw"), col("n_id"))
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("sim_raw", expr("cosine_sim(eq, en)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .selectExpr("q_id", "n_id", "ROUND(sim_raw, 4) AS sim", "rank")
      .orderBy("q_id", "rank")
  }

  /** Q-SIM6 — FILTERED vector search ("find similar items in MY
    * category"), the metadata-predicate ANN pattern every production
    * vector store needs: each query's neighbor set is restricted to
    * corpus vectors sharing its `label` — a PRE-FILTER strategy, applied
    * as a join predicate BEFORE the similarity kernel, so the filter
    * prunes candidates instead of post-filtering a top-k that may then
    * come back short (the classic filtered-ANN recall bug).
    *
    * Scale: same shape as [[qSim1]] — tiny query side broadcast, corpus
    * streams once, the label equality rides the broadcast hash join's
    * residual condition, per-query ranking in a partitioned window. At
    * selective labels the IVF route composes the same way (filter the
    * cell candidate set); this is the exact-baseline form. */
  def qSim6(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.selectExpr("vec_id AS q_id", "embedding AS eq", "label AS ql")
      .where(col("q_id") < 10)
    val c = e.selectExpr("vec_id AS n_id", "embedding AS en", "label AS nl")
    val w = Window.partitionBy("q_id").orderBy(desc("sim_raw"), col("n_id"))
    broadcast(q).join(c, col("q_id") =!= col("n_id") && col("ql") === col("nl"))
      .withColumn("sim_raw", expr("cosine_sim(eq, en)"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .selectExpr("q_id", "n_id", "ROUND(sim_raw, 4) AS sim", "rank")
      .orderBy("q_id", "rank")
  }

  /** q_sim7 — nearest-centroid ASSIGNMENT audit: per true label, how many
    * vectors land on their own class centroid (embedding-space
    * separability — the standard cheap eval of whether an embedding model
    * still separates the classes a pipeline routes by, run before trusting
    * any label-filtered retrieval like qSim6).
    *
    * Scale: per-label centroids are ONE bounded label×dim aggregation
    * (classes×dims result, like qSim5), collected driver-side (10×64
    * doubles — metadata) into a LITERAL centroid array; assignment is then
    * a map-only projection (`transform` over the literal + `array_max` on
    * (cos, -label) structs — no join, no shuffle, corpus streams once);
    * the rollup on true label is metadata-sized. Cross-engine exactness:
    * centroids round to 6 decimals BEFORE the cosine (the qSim5 contract),
    * dot products run sequentially in DOUBLE on both engines, and the
    * output sums integer-quantized similarities (permyriad) instead of
    * averaging doubles. */
  def qSim7(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    // bounded: classes × dims rows
    val cent: Seq[(Int, Seq[Double])] = e
      .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("label", "i")
      .agg(expr("ROUND(avg(CAST(v AS DOUBLE)), 6)").as("c"))
      .groupBy("label")
      .agg(sort_array(collect_list(struct(col("i"), col("c")))).as("cv"))
      .collect()
      .map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(_.getDouble(1)).toSeq)
      .sortBy(_._1).toSeq
    val centCol = array(cent.map { case (l, v) =>
      struct(lit(l).as("cl"), typedLit(v).as("cv")) }: _*)
    e.withColumn("cents", centCol)
      .selectExpr("vec_id", "label", "embedding",
        // per-vector norm once; each centroid's norm constant-folds
        "sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, b) -> a + b)) AS nv",
        "cents")
      .selectExpr("vec_id", "label",
        "array_max(transform(cents, c -> struct(" +
          "aggregate(zip_with(embedding, c.cv, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, b) -> a + b) " +
          "/ (nv * sqrt(aggregate(zip_with(c.cv, c.cv, (x, y) -> x * y), 0D, (a, b) -> a + b))) AS cos, " +
          "-c.cl AS nl))) AS best")
      .selectExpr("label", "-best.nl AS assigned", "best.cos AS cos")
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(when(col("assigned") === col("label"), 1L).otherwise(0L)).as("n_correct"),
        sum(expr("CAST(round(cos * 10000) AS BIGINT)")).as("sim_e4"))
      .orderBy("label")
  }

  /** q_sim8 — embedding NORM PROFILE: per-label L2-norm statistics (count,
    * sum/min/max of the permyriad-quantized norm, and degenerate
    * zero-vector count) — the vector-column entry in the verification
    * family (qV4 profiles scalars; this profiles the embedding column).
    * Run before any cosine-based pipeline: a norm collapse or a stray
    * zero vector silently corrupts cosine math (0/0), and a norm
    * distribution shifted between snapshots is the cheapest signal of an
    * embedding-model change.
    *
    * Scale: map-only per-row norm (index-order double accumulation, the
    * cosine kernel's summation contract) + one label-sized hash agg —
    * scan-bound. Cross-engine exactness: each norm quantizes to integer
    * permyriad BEFORE aggregation (the qSim7 contract), so sums never
    * compare accumulated doubles. */
  def qSim8(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .selectExpr("label",
        "CAST(round(sqrt(aggregate(zip_with(embedding, embedding, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (a, b) -> a + b)) * 10000) AS BIGINT) AS ne4")
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("ne4")).as("sum_ne4"),
        min(col("ne4")).as("min_ne4"),
        max(col("ne4")).as("max_ne4"),
        sum(when(col("ne4") === 0L, 1L).otherwise(0L)).as("n_zero"))
      .orderBy("label")

  /** Q-SIM10 — MATRYOSHKA (prefix-truncation) recall audit: rank neighbors
    * by cosine over only the FIRST 16 of 64 embedding dimensions and
    * measure per-probe top-10 overlap against the full-dimension baseline
    * — the eval behind MRL-style dimension reduction (Kusupati et al.,
    * NeurIPS'22: nested prefixes of a matryoshka-trained embedding carry
    * most of the signal at a fraction of the cost). Run before serving
    * retrieval from a truncated index: 4× less memory/bandwidth, recall
    * priced per probe. For THIS corpus's embeddings (not MRL-trained) the
    * audit's verdict is exactly the point — overlap quantifies how much
    * signal the prefix actually carries.
    *
    * Engine-exactness: both lanes are the [[qSim1]] float-cosine contract
    * (ranking on the raw double, the established cross-engine-stable
    * comparison); truncation is `slice`, deterministic on both sides. */
  def qSim10(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val probes = col("q_id") < 10
    val w = Window.partitionBy("q_id")
    def topk(frame: DataFrame, simCol: String): DataFrame =
      frame.withColumn("r", row_number().over(
          w.orderBy(col(simCol).desc, col("n_id"))))
        .where(col("r") <= 10).select("q_id", "n_id")
    val full = topk(
      broadcast(e.selectExpr("vec_id AS q_id", "embedding AS eq").where(probes))
        .join(e.selectExpr("vec_id AS n_id", "embedding AS en"),
          col("q_id") =!= col("n_id"))
        .withColumn("sim", expr("cosine_sim(eq, en)")), "sim")
    val tr = e.selectExpr("vec_id", "slice(embedding, 1, 16) AS emb16")
    val pre = topk(
      broadcast(tr.selectExpr("vec_id AS q_id", "emb16 AS eq").where(probes))
        .join(tr.selectExpr("vec_id AS n_id", "emb16 AS en"),
          col("q_id") =!= col("n_id"))
        .withColumn("sim", expr("cosine_sim(eq, en)")), "sim")
    full.join(pre.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("overlap_at_10"))
      .orderBy("q_id")
  }

  /** Q-SIM9 — INT8 QUANTIZATION recall audit: quantize every embedding to
    * int8 (symmetric, one global scale = max |component|, the simplest
    * production scheme: 4× less memory and bandwidth, integer SIMD dots),
    * rank neighbors by the EXACT integer dot product of quantized
    * vectors, and measure per-probe top-10 overlap against the float
    * cosine baseline ([[qSim1]]'s shape) — the eval a pipeline runs
    * BEFORE switching its retrieval fleet to a compressed index. Run at
    * 100 TB this is the cheap proxy for "can we serve from int8": the
    * quantized ranking is map-side arithmetic on 64 bytes/vector instead
    * of 256.
    *
    * Engine-exactness: the quantized lane is integer end-to-end —
    * `floor(x·127/max + 0.5)` is deterministic IEEE double arithmetic
    * (mult/div/floor are exact-rounded, identical in any engine; no
    * HALF_UP ambiguity, unlike ROUND), and the dot/rank comparison is
    * then pure BIGINT. The float baseline lane is qSim1's established
    * contract. Overlap counts are integers; nothing in the output
    * depends on float summation order. */
  def qSim9(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val mx = e.selectExpr(
      "max(aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))) AS mx")
    val qz = e.crossJoin(broadcast(mx)).selectExpr("vec_id",
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) AS qv")
    val probes = col("q_id") < 10 // declared probe set, qSim1's convention
    val w = Window.partitionBy("q_id")
    // float lane (the baseline): qSim1's exact cosine top-10
    val f = broadcast(e.selectExpr("vec_id AS q_id", "embedding AS eq")
        .where(probes))
      .join(e.selectExpr("vec_id AS n_id", "embedding AS en"),
        col("q_id") =!= col("n_id"))
      .withColumn("sim", expr("cosine_sim(eq, en)"))
      .withColumn("r", row_number().over(w.orderBy(col("sim").desc, col("n_id"))))
      .where(col("r") <= 10).select("q_id", "n_id")
    // int8 lane: exact BIGINT dot of quantized vectors
    val i = broadcast(qz.selectExpr("vec_id AS q_id", "qv AS qq").where(probes))
      .join(qz.selectExpr("vec_id AS n_id", "qv AS qn"), col("q_id") =!= col("n_id"))
      .withColumn("dot",
        expr("aggregate(zip_with(qq, qn, (x, y) -> x * y), 0L, (a, b) -> a + b)"))
      .withColumn("r", row_number().over(w.orderBy(desc("dot"), col("n_id"))))
      .where(col("r") <= 10).selectExpr("q_id", "n_id", "1 AS hit")
    f.join(i, Seq("q_id", "n_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("overlap_at_10"))
      .orderBy("q_id")
  }

  /** q_sim12 — RANGE (radius) SEARCH: every corpus vector within cosine
    * ≥ 0.3 of each probe, the other half of the vector-search API surface
    * (top-k answers "the k nearest"; range answers "ALL near enough" —
    * duplicate sweeps, abuse-cluster expansion, and recall-oriented
    * retrieval want the latter, where k is unknowable a priori).
    *
    * Scale: [[qSim1]]'s exact shape minus the window — probes broadcast,
    * the corpus streams ONCE map-only through the broadcast join, and the
    * threshold filters inline, so there is no per-query ranking state at
    * all (cheaper than top-k at scale: no partitioned sort, output bounded
    * by the radius). The IVF route composes identically for selective
    * radii: rank cells by centroid similarity, probe until a cell's best
    * possible member falls below τ. */
  def qSim12(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.selectExpr("vec_id AS q_id", "embedding AS eq").where(col("q_id") < 10)
    val c = e.selectExpr("vec_id AS n_id", "embedding AS en")
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("sim_raw", expr("cosine_sim(eq, en)"))
      .where(col("sim_raw") >= 0.3)
      .selectExpr("q_id", "n_id", "ROUND(sim_raw, 4) AS sim")
      .orderBy("q_id", "n_id")
  }

  /** q_sim13 — PRODUCT QUANTIZATION (PQ) ADC recall audit: encode every
    * int8 corpus vector as 8 sub-space codes (8 dims × 16 codes each — the
    * Jégou/Douze/Schmid 2011 scheme), rank neighbors by the asymmetric-
    * distance-computation (ADC) dot built from per-probe lookup tables,
    * and price the result per probe against BOTH baselines: top-10
    * overlap vs the float cosine truth (`overlap_at_10`) and vs the
    * un-PQ'd int8 ranking (`overlap_vs_int8` — the INCREMENTAL loss PQ
    * adds on top of q_sim9's quantization). PQ codes are 8 bytes/vector —
    * 32× smaller than the float lane, 8× smaller than int8 — the
    * compression that lets a 100 TB corpus's candidate lists live in
    * executor memory. The codebook here is the SEEDED form (sub-vectors of
    * the vec_id < 16 int8 seeds) so the oracle can replay it — the same
    * seeded-vs-Lloyd split as q_sim3/q_sim4; a trained codebook drops in
    * through the identical encode/ADC machinery.
    *
    * Engine-exactness: integer end-to-end after q_sim9's one deterministic
    * floor — codes argmin by exact BIGINT squared-L2 (ties to the lower
    * code: `array_min` on (dist, code) structs), LUT entries and ADC sums
    * exact BIGINT, rankings tiebreak on n_id.
    *
    * Scale: the codebook is 16×64 BIGINTs of driver metadata (bounded
    * collect, the qSim7 pattern) bound into the kernels, so ENCODING IS
    * MAP-ONLY — the corpus streams once, no join, no shuffle; each probe
    * computes its 8×16 LUT inside its own row ([[graft.functions.PqLut]]);
    * scoring is the qSim1 broadcast shape where the corpus side carries 8
    * codes instead of 64 floats, and ADC is 8 array lookups per candidate
    * instead of 64 multiplies. */
  def qSim13(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val mx = e.selectExpr(
      "max(aggregate(embedding, CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, abs(CAST(x AS DOUBLE))))) AS mx")
    // the quantize is a cheap 64-op map projection; the expensive stages
    // (encode, rescore) run on the NATIVE kernels below, so the frame can
    // stay lazy (a persist would block the plan audit behind a checkpoint
    // and saves little once the HOF interpretive cost is gone)
    val qz = e.crossJoin(broadcast(mx)).selectExpr("vec_id",
      "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) AS qv")
    locally {
      // codebook: the 16 int8 seed vectors — bounded driver metadata
      val cb: Array[Array[Long]] = qz.where(col("vec_id") < 16).orderBy("vec_id")
        .select("qv").collect().map(_.getSeq[Long](0).toArray)
      val w = Window.partitionBy("q_id")
      // ROUND-20 (guide §2.4, the q_sim22 lesson): the three rankings —
      // ADC, float-cosine truth, int8 exact — were three separate
      // broadcast-probe lanes, i.e. THREE corpus passes, three q_id-keyed
      // window exchanges, and two (q_id, n_id) rejoin exchanges. All three
      // rank the SAME candidate universe (every n_id ≠ q_id), so one pass
      // computes all three scores map-side against the 10-row probe
      // broadcast (q_id, eq, qq, lut), projects the narrow
      // (q_id, n_id, adot, sim, dot) frame, and the three row_number
      // windows share ONE q_id exchange (same partition spec). The
      // overlap counts fall out of the rank columns directly — a row in
      // the PQ top-10 is a float-truth hit iff its r_f ≤ 10 — which is
      // exactly the old left-join/coalesce arithmetic (bit-equal ranks:
      // same order keys, same tiebreaks, same candidate set; oracle
      // re-proven on two SFs when this form landed).
      val probeSide = broadcast(
        e.where(col("vec_id") < 10).crossJoin(broadcast(mx))
          .selectExpr("vec_id AS q_id", "embedding AS eq",
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) AS qq")
          .select(col("q_id"), col("eq"), col("qq"),
            org.apache.spark.sql.GraftColumn.of(graft.functions.PqLut(
              org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("qq"),
              cb, 8)).as("lut")))
      val corpusSide = e.crossJoin(broadcast(mx))
        .selectExpr("vec_id AS n_id", "embedding AS en",
          "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) AS qn")
        .select(col("n_id"), col("en"), col("qn"),
          org.apache.spark.sql.GraftColumn.of(graft.functions.PqEncode(
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("qn"),
            cb, 8)).as("codes"))
      val scored = probeSide
        .join(corpusSide, col("q_id") =!= col("n_id"))
        .selectExpr("q_id", "n_id",
          "pq_lut_sum(lut, codes) AS adot",
          "cosine_sim(eq, en) AS sim",
          "int_dot(qq, qn) AS dot")
      scored
        .withColumn("r_pq", row_number().over(w.orderBy(desc("adot"), col("n_id"))))
        .withColumn("r_f", row_number().over(w.orderBy(col("sim").desc, col("n_id"))))
        .withColumn("r_i8", row_number().over(w.orderBy(desc("dot"), col("n_id"))))
        .where(col("r_pq") <= 10)
        .groupBy("q_id")
        .agg(sum(when(col("r_f") <= 10, 1L).otherwise(0L)).cast("long").as("overlap_at_10"),
          sum(when(col("r_i8") <= 10, 1L).otherwise(0L)).cast("long").as("overlap_vs_int8"))
        .orderBy("q_id")
    }
  }
}
