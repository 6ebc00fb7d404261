package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions
import graft.functions.Hashing.md5h32

/** The schemaless form of the reference's per-document merge
  * (/root/reference/src/migration.py:91-150): documents are RAW JSON lines,
  * never schema-inferred, so unknown fields of any shape — mixed-type,
  * heterogeneous nesting, dicts inside arrays — survive the pipeline
  * byte-exactly. This is the reference's actual data model (Cosmos documents
  * are schemaless; the migrator only ever interprets `id`, the pk paths, and
  * the four system fields) and SURVEY §7.3's declared risk #1.
  *
  * Structure is touched in exactly three per-row kernels
  * ([[graft.functions.JsonDocs]]): canonical content form for the diff
  * (Python-dict-equality semantics: key order and number format are
  * irrelevant, system fields stripped at every depth), pk extraction by
  * dict-only path traversal, and the reference's pre-write pk injection. A
  * line that fails to parse classifies as an 'error' row — the per-document
  * error channel (A13): corrupt input lands in the error counter and the
  * dead-letter file, never as a task failure.
  *
  * Scale shape: key extraction and canonical hashing are map-side projections
  * inside whole-stage codegen, and the join payload carries the 32-char
  * canonical md5 instead of re-shipping parsed documents. A container merge
  * ([[graft.core.ContainerMerge.plan]]) crosses three exchanges: the
  * full-outer (id ++ pk) equi-join, which Spark never broadcasts, shuffles
  * the source and the target once each on the merge key (the dedup and
  * rank windows reuse those partitionings), and the classified rows are
  * clustered by bucket, dealt evenly onto the partitions. Its tally groups
  * by that partition id first and needs no exchange of its own. AQE
  * coalesces small partitions and splits skewed keys; only the left-outer
  * [[classify]] may broadcast a small target.
  */
object RawMerge {

  /** The merge-key columns of a keyed frame: `__id` then one `__pk<i>` per
    * partition-key path, in path order. Source, stored and target-side
    * keying, the bucket layout and the upsert sink all use this layout. */
  private[graft] def keyCols(pkPaths: Seq[String]): Seq[String] =
    "__id" +: pkPaths.indices.map(i => s"__pk$i")

  /** The target side's names for [[keyCols]] (`__t_id`, `__t_pk<i>`). */
  private[graft] def tgtKeyCols(pkPaths: Seq[String]): Seq[String] =
    keyCols(pkPaths).map(k => "__t_" + k.drop(2))

  /** `json_doc_keys` over `doc`: `raw` + `carry` + `__w` (with `inject`)
    * + [[keyCols]]. */
  private def keyedBy(src: DataFrame, doc: String, pkPaths: Seq[String],
                      inject: Boolean, carry: Seq[String]): DataFrame = {
    GraftFunctions.register(src.sparkSession)
    val csv = pkPaths.map(_.stripPrefix("/")).mkString(",")
    src.selectExpr(s"$doc AS raw" +: carry :+
        s"json_doc_keys($doc, '$csv', '$inject') AS __m": _*)
      .selectExpr(Seq("raw") ++ carry ++ (if (inject) Seq("__m.w AS __w") else Nil) ++
        keyCols(pkPaths).zip("__m.id" +: pkPaths.indices.map(i => s"__m.pk$i"))
          .map { case (k, e) => s"$e AS $k" }: _*)
  }

  /** Source side: raw + injected write-form + merge keys from ONE parse via
    * the [[graft.functions.JsonDocKeys]] struct kernel (codegen CSE
    * collapses the repeated field accesses, so even after Catalyst pushes
    * the validity predicates into the scan the document parses once per
    * operator, not once per derived column). The canonical hash rides in a
    * SECOND projection on purpose: it must not be part of the kernel the
    * scan-pushed predicates evaluate (see [[graft.functions.JsonDocs.docKeys]]).
    * `carry` columns of `src` pass through unchanged (e.g. a source-file
    * column the caller captured before this keying). */
  private[graft] def srcKeyed(s: SparkSession, src: DataFrame,
                              pkPaths: Seq[String],
                              carry: Seq[String] = Nil): DataFrame =
    keyedBy(src, "raw", pkPaths, inject = true, carry)
      .withColumn("__ch", expr("md5(canonical_json(__w))"))

  /** Stored-row keying: `raw` (the `doc` column) + `carry` + [[keyCols]] of
    * each line exactly as stored — no injection. The target side of the
    * merge, the container's bucket layout and the stream replay gate all
    * key stored lines through this. */
  private[graft] def storedKeyed(df: DataFrame, pkPaths: Seq[String],
                                 carry: Seq[String] = Nil,
                                 doc: String = "raw"): DataFrame =
    keyedBy(df, doc, pkPaths, inject = false, carry)

  /** Target side: keys + canonical hash + original bytes (kept for the skip
    * branch: a skipped document's bytes are the TARGET's, which the
    * reference leaves untouched, migration.py:124-130). No injection — the
    * target is compared exactly as stored, like the reference's read-back
    * document. `carry` columns of `tgt` pass through unchanged. */
  private[graft] def tgtKeyed(tgt: DataFrame, pkPaths: Seq[String],
                              carry: Seq[String] = Nil): DataFrame =
    storedKeyed(tgt, pkPaths, carry)
      .select((col("raw").as("__t_raw") +: keyCols(pkPaths).zip(tgtKeyCols(pkPaths))
        .map { case (k, t) => col(k).as(t) }) ++ carry.map(col): _*)
      .withColumn("__t_ch", expr("md5(canonical_json(__t_raw))"))

  /** Valid document predicate (migration.py:92-109): parseable, id present
    * and non-empty, every pk value a non-null non-empty scalar. */
  private[graft] def validCol(pkPaths: Seq[String]): Column =
    (col("__w").isNotNull +: keyCols(pkPaths).map(k => col(k).isNotNull && col(k) =!= ""))
      .reduce(_ && _)

  /** The one classification body. `valid` rows of a [[srcKeyed]] frame join
    * the [[tgtKeyed]] target `tgtK` on the merge key; `invalid` rows become
    * `error` rows.
    * A left-outer join classifies the source rows alone; a full-outer join
    * adds the target-only complement as `action = 'target'`. Actions follow
    * the reference's branch order (migration.py:92-146): error → insert →
    * skip → update.
    *
    * `raw` is state-correct per branch: insert/update rows carry the
    * source's injected write form, skip and target-only rows the target's
    * ORIGINAL bytes (the reference never rewrites an unchanged document),
    * error rows the source's original bytes (dead-letter form). Output:
    * `raw` + [[keyCols]] + `carry` (columns of both `valid` and `invalid`)
    * + `tgtCarry` (columns of `tgtK`, null on error rows) + `action`. */
  private[graft] def classifyKeyed(valid: DataFrame, invalid: DataFrame,
                                   tgtK: DataFrame, pkPaths: Seq[String],
                                   joinType: String,
                                   carry: Seq[String] = Nil,
                                   tgtCarry: Seq[String] = Nil): DataFrame = {
    val keys = keyCols(pkPaths)
    val tkeys = tgtKeyCols(pkPaths)
    val action =
      when(col("__id").isNull, lit("target"))
        .when(col("__t_id").isNull, lit("insert"))
        .when(col("__ch") === col("__t_ch"), lit("skip"))
        .otherwise(lit("update"))
    val raw =
      when(col("action").isin("insert", "update"), col("__w"))
        .otherwise(col("__t_raw"))
    val classified = valid
      .join(tgtK,
        keys.zip(tkeys).map { case (k, t) => col(k) === col(t) }.reduce(_ && _),
        joinType)
      .withColumn("action", action)
      .select((raw.as("raw") +:
        keys.zip(tkeys).map { case (k, t) => coalesce(col(k), col(t)).as(k) }) ++
        (carry ++ tgtCarry).map(col) :+ col("action"): _*)
    val errors = invalid
      .select((col("raw") +: keys.map(col)) ++ carry.map(col) ++
        tgtCarry.map(c => lit(null).cast(tgtK.schema(c).dataType).as(c)) :+
        lit("error").as("action"): _*)
    classified.unionAll(errors)
  }

  private def classifyWith(s: SparkSession, src: DataFrame, tgt: DataFrame,
                           pkPaths: Seq[String], joinType: String): DataFrame = {
    val sk = srcKeyed(s, src, pkPaths)
    val valid = validCol(pkPaths)
    classifyKeyed(sk.filter(valid), sk.filter(!valid), tgtKeyed(tgt, pkPaths),
      pkPaths, joinType)
  }

  /** Per-document action classification of raw `src` against raw `tgt` (both
    * single-`raw`-column frames): one row per source line, `raw` + merge
    * keys + `action` ([[classifyKeyed]] over a left-outer join). */
  def classify(s: SparkSession, src: DataFrame, tgt: DataFrame,
               pkPaths: Seq[String]): DataFrame =
    classifyWith(s, src, tgt, pkPaths, "left_outer")

  /** Full-outer classification — ONE src⋈tgt shuffle: every source row
    * classified exactly as [[classify]] does, PLUS the target-only
    * complement as `action = 'target'`, so counters and the expected
    * post-merge state ([[mergedStateOf]]) derive from this single frame.
    * [[graft.core.ContainerMerge.plan]] runs the same join body. */
  def classifyAll(s: SparkSession, src: DataFrame, tgt: DataFrame,
                  pkPaths: Seq[String]): DataFrame =
    classifyWith(s, src, tgt, pkPaths, "full_outer")

  /** Post-merge container state, byte-faithful: inserts/updates carry the
    * source's (injected, optionally masked) bytes; skips and target-only
    * rows carry the target's ORIGINAL bytes; error rows are excluded
    * (reference: counted and skipped). Masking applies only to written
    * documents (migration.py:131-136). Derived from [[classifyAll]] — one
    * full-outer join, shareable with the classification pass. */
  def mergedState(s: SparkSession, src: DataFrame, tgt: DataFrame,
                  pkPaths: Seq[String], sanitize: Boolean = false): DataFrame =
    mergedStateOf(classifyAll(s, src, tgt, pkPaths), pkPaths, sanitize)

  /** [[mergedState]] from an already-computed (possibly cached)
    * [[classifyAll]] frame: expected-state derivation costs zero additional
    * joins. */
  def mergedStateOf(all: DataFrame, pkPaths: Seq[String],
                    sanitize: Boolean): DataFrame = {
    val keys = keyCols(pkPaths)
    val written = if (sanitize) expr("mask_json(raw)") else col("raw")
    all.filter(col("action") =!= "error")
      .select(
        when(col("action").isin("insert", "update"), written)
          .otherwise(col("raw")).as("raw") +: keys.map(col): _*)
  }

  // ---- oracle-checked snapshot queries on the `documents` table ----
  //
  // q_m1–q_m3: flat (id, pk, text) snapshots, one JSON line per row via
  // [[docLines]] (same arithmetic in the DuckDB oracle, SparkEntry.oracleSql):
  //   - source: id null (so absent) for doc_id%53=0 (missing-id errors, A4),
  //             pk emptied for doc_id%71=0 (invalid-pk errors, A6)
  //   - target: doc_id%10=3 rows absent (inserts), doc_id%10=7 rows stale
  //             (updates), the rest identical (skips)

  /** One JSON line per row of an (id, pk, text) frame. `to_json` drops null
    * fields, so a null id or pk is an absent one (an 'error' row). */
  private[graft] def docLines(df: DataFrame): DataFrame =
    df.select(to_json(struct(col("id"), col("pk"), col("text"))).as("raw"))

  /** Order-independent checksum of a merged state of [[docLines]] lines:
    * row count and the sum of 32-bit md5s of `id|pk|text`. */
  private[graft] def stateChecksum(state: DataFrame): DataFrame =
    state.selectExpr("from_json(raw, 'id STRING, pk STRING, text STRING') AS d")
      .selectExpr(s"${md5h32("concat(d.id, '|', d.pk, '|', d.text)")} AS h32")
      .agg(count(lit(1)).as("n"), sum(col("h32")).as("h"))

  private def actionHistogram(classified: DataFrame): DataFrame =
    classified.groupBy("action").agg(count(lit(1)).as("c")).orderBy("action")

  private def sourceLines(docs: DataFrame): DataFrame = docLines(docs.select(
    when(col("doc_id") % 53 === 0, lit(null))
      .otherwise(col("doc_id").cast("string")).as("id"),
    when(col("doc_id") % 71 === 0, lit(""))
      .otherwise(col("lang")).as("pk"),
    col("text")))

  private def targetLines(docs: DataFrame): DataFrame = docLines(docs
    .filter(col("doc_id") % 10 =!= 3)
    .select(
      col("doc_id").cast("string").as("id"),
      col("lang").as("pk"),
      when(col("doc_id") % 10 === 7, concat(col("text"), lit(" [stale]")))
        .otherwise(col("text")).as("text")))

  /** Q-M1: action histogram of the merge classification (A9-A12 + A23). */
  def qM1(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    actionHistogram(classify(spark, sourceLines(docs), targetLines(docs), Seq("/pk")))
  }

  /** Q-M2: order-independent checksum of the post-merge target state (the
    * B5 fix: content parity, not just count parity). */
  def qM2(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    stateChecksum(mergedState(spark, sourceLines(docs), targetLines(docs), Seq("/pk")))
  }

  /** Q-M3: idempotence — re-classifying the source against the merged state
    * must yield only 'skip' (plus the unchanged 'error' rows): the
    * reference's implicit contract that a second migration run writes
    * nothing (migration.py:124-130 + FIXTURES.md §2.4). */
  def qM3(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val src = sourceLines(docs)
    val after = mergedState(spark, src, targetLines(docs), Seq("/pk"))
    actionHistogram(classify(spark, src, after, Seq("/pk")))
  }

  // q_m4/q_m5: deterministic raw-JSON source/target snapshots built from
  // `documents` (the driver testdata has no raw containers). They exercise
  // exactly what schema inference destroys: key order differs between the
  // sides, numbers are value-equal but format-different (1.0 vs 1), and
  // system fields sit at top level AND inside a dict-in-array (the B2 case).
  // Expected actions are pure doc_id arithmetic, so the DuckDB oracle is
  // analytic ground truth, independent of the engine's JSON machinery:
  //   - doc_id % 101 == 0 → truncated line (corrupt)        → error
  //   - doc_id %  53 == 0 → id empty                        → error
  //   - doc_id %  71 == 0 → pk empty                        → error
  //   - doc_id %  10 == 3 → absent from target              → insert
  //   - doc_id %  10 == 7 → nested payload value differs    → update
  //   - otherwise: only key order / number format / system fields differ
  //                                                         → skip

  private[operators] def rawSource(docs: DataFrame): DataFrame = {
    val idStr = when(col("doc_id") % 53 === 0, lit(""))
      .otherwise(col("doc_id").cast("string"))
    val pkStr = when(col("doc_id") % 71 === 0, lit("")).otherwise(col("lang"))
    val full = concat(
      lit("{\"z\":1.0,\"id\":\""), idStr,
      lit("\",\"pk\":\""), pkStr,
      lit("\",\"payload\":{\"a\":[{\"v\":"), (col("doc_id") % 7).cast("string"),
      lit(",\"_etag\":\"s\"}],\"src\":\""), col("source"),
      lit("\"},\"_ts\":1}"))
    docs.select(
      when(col("doc_id") % 101 === 0, substring(full, 1, 20)).otherwise(full)
        .as("raw"))
  }

  private[operators] def rawTarget(docs: DataFrame): DataFrame = {
    val v2 = (col("doc_id") % 7 +
      when(col("doc_id") % 10 === 7, lit(1)).otherwise(lit(0))).cast("string")
    docs.filter(col("doc_id") % 10 =!= 3)
      .select(concat(
        lit("{\"id\":\""), col("doc_id").cast("string"),
        lit("\",\"z\":1,\"_rid\":\"r\",\"pk\":\""), col("lang"),
        lit("\",\"payload\":{\"src\":\""), col("source"),
        lit("\",\"a\":[{\"_etag\":\"t\",\"v\":"), v2,
        lit("}]},\"_ts\":2}")).as("raw"))
  }

  /** Q-M4: schemaless merge classification — the action histogram of the raw
    * merge over snapshots whose skip-rows differ in everything inference
    * breaks (key order, 1.0-vs-1, system fields at depth) and whose corrupt
    * rows exercise the error channel. */
  def qM4(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    actionHistogram(classify(spark, rawSource(docs), rawTarget(docs), Seq("/pk")))
  }

  /** Q-M5: byte-fidelity checksum of the post-merge state — skips keep the
    * TARGET's exact bytes, inserts/updates the SOURCE's, target-only rows
    * survive; the oracle rebuilds the same strings and must match the
    * md5-sum exactly (the round-trip contract, hash-checked). */
  def qM5(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    mergedState(spark, rawSource(docs), rawTarget(docs), Seq("/pk"))
      .selectExpr(s"${md5h32("raw")} AS h32")
      .agg(count(lit(1)).as("n"), sum(col("h32")).as("h"))
  }
}
