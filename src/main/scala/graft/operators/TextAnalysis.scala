package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.GraftFunctions
import graft.functions.Hashing.md5h32

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline battery (SURVEY.md §2 Part B Q-X4 plus the language-ID / quality /
  * token-count / fingerprint extensions).
  *
  * Scale posture: every query here is a single scan + per-row expression work
  * (HOFs over the token array stay inside the row — no explode-shuffle except
  * where the semantics genuinely aggregate across documents), followed by one
  * hash aggregation. At 100 TB that plan is scan-bound, which is the best
  * case; nothing materializes a tokenized copy of the corpus.
  */
object TextAnalysis {

  /** Q-X4: tokenize + global term frequency, top-20. The only text query that
    * must shuffle (cross-document aggregate); partial aggregation on the
    * mapper side collapses the per-word stream before the exchange. */
  def qX4(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("w"))
      .limit(20)

  /** Q-T9 — TF-IDF top terms per document: term frequency within the doc ×
    * inverse document frequency across the corpus, top-3 terms per doc by
    * score with a lexical tiebreak. The idf is the INTEGER surrogate
    * `(n_docs * 1000) DIV df` — transcendental ln() differs across libm
    * implementations, so a hash-exact cross-engine contract needs the
    * rational form (rank order for fixed n_docs is identical: x ↦
    * n*1000 div x is monotone where ln(n/x) is).
    *
    * Scale: tf is the one explode-shuffle (map-side partial agg first, like
    * qX4); df reduces the tf frame (term-sized, not token-sized); n_docs is
    * a 1-row broadcast; the top-3 window partitions by doc_id — no global
    * sort, no unpartitioned window. */
  def qT9(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val tf = docs
      .select(col("doc_id"),
        explode(split(lower(col("text")), " ")).as("term"))
      .where(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term").crossJoin(broadcast(nDocs))
      .withColumn("score", expr("tf * ((n_docs * 1000) DIV df)"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("score"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** Q-T10 — TRAINING-MIX QUOTA SAMPLING: rebalance the corpus by capping
    * every language at 10% of the corpus size (a data-derived quota, vs
    * [[qT6]]'s fixed per-stratum count) with the deterministic md5-order
    * pick within each language. The operation a mixture-tuning pipeline
    * runs to stop a dominant language from swamping the training mix.
    * Scale: one count (broadcast 1 row), one partitioned window in
    * md5 order — no global sort; the quota comparison is integer DIV. */
  def qT10(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(expr("md5(CAST(doc_id AS STRING))"), col("doc_id"))
    docs.withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(n))
      .where(col("rn") <= expr("n_docs DIV 10"))
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")
  }

  /** Token 8-grams of each document, one row per gram — the shared kernel
    * of the decontamination check. HOF form (`transform` over `sequence`):
    * the gram strings are built inside the row, the only explode is the
    * final one-column gram stream. Documents under 8 tokens contribute
    * nothing (`sequence(1, n)` with n < 1 would generate DESCENDING —
    * guard, don't rely on it). */
  private[graft] def tokenGrams(docs: DataFrame): DataFrame =
    Tables.spread(
        docs.select(col("doc_id"), split(lower(col("text")), " ").as("w")),
        col("doc_id"))
      .select(col("doc_id"), explode(when(size(col("w")) >= 8,
          expr("transform(sequence(1, size(w) - 7), i -> array_join(slice(w, i, 8), ' '))"))
        .otherwise(expr("CAST(array() AS array<string>)"))).as("gram"))

  /** Q-T11 — BENCHMARK DECONTAMINATION: find corpus documents that share a
    * verbatim 8-token gram with a held-out evaluation set (here: docs with
    * `doc_id < 20`, a declared bound standing in for the benchmark corpus).
    * The canonical pre-training hygiene pass — an eval answer leaked into
    * the training set inflates downstream scores, so contaminated docs are
    * flagged (and then dropped or split-corrected) BEFORE training. Exact
    * n-gram overlap is the industry-standard first pass (GPT-3 used 13-gram
    * dedup against its evals; 8 here keeps the sf0.01 fixture non-trivial).
    *
    * Scale: the eval side is benchmarks — thousands of docs, not the
    * corpus — so its distinct gram set BROADCASTS; the corpus side streams
    * map-only through the hash join (one explode, no corpus shuffle except
    * the per-doc count). Work is corpus-linear, never corpus × eval. */
  def qT11(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val evalGrams = tokenGrams(docs.where(col("doc_id") < 20))
      .select("gram").distinct()
    tokenGrams(docs.where(col("doc_id") >= 20))
      .join(broadcast(evalGrams), "gram")
      .groupBy("doc_id").agg(count_distinct(col("gram")).as("n_shared"))
      .orderBy("doc_id")
  }

  /** Q-T12 — REPETITION SCORE: per-document top-token mass (most frequent
    * token's count over total tokens, integer ×10000) — the Gopher-style
    * repetition signal that catches keyword-stuffed / boilerplate / broken
    * documents that pass [[qT2]]'s shape checks (length and punctuation
    * look fine; the text is "buy buy buy ..."). Deterministic tiebreak:
    * highest count, then lexicographically first token.
    *
    * Scale: qX4's explode-shuffle shape (map-side partial agg on
    * (doc_id, token)), then ONE doc-keyed aggregation computing total and
    * top term together — `min(struct(-c, t))` picks the winner without a
    * second window pass over the token counts. Integer DIV for the ratio
    * (HALF-free, hash-exact cross-engine). */
  def qT12(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .where(col("t") =!= "")
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum(col("c")).as("tot"),
        min(struct((-col("c")).as("nc"), col("t"))).as("m"))
      .select(col("doc_id"), col("m.t").as("top_term"),
        (-col("m.nc")).as("top_c"),
        expr("((-m.nc) * 10000) DIV tot").as("rep_x10000"))
      .orderBy("doc_id")

  /** Stopword lists for the n-gram/stopword language-ID heuristic —
    * canonical definition lives with the fused kernel
    * ([[graft.functions.LangHits.StopWords]]). */
  val StopWords: Seq[(String, Seq[String])] = graft.functions.LangHits.StopWords

  /** Language-ID: count function-word hits per language over the token
    * stream (duplicates count — frequency matters) via the fused
    * [[graft.functions.LangHits]] kernel (one pass; the composable form ran
    * four interpreted filter lambdas per row), then classify as the max-hit
    * language with a fixed priority-order tiebreak, 'und' when nothing
    * hits. */
  def qT1(s: SparkSession, dir: String): DataFrame =
    langPredicted(s, dir).orderBy("doc_id")

  /** [[qT1]] without the presentation sort — the map-only form other
    * operators ([[qT34]]) join against (a Sort below a join would be a
    * corpus-wide exchange for nothing at scale). */
  private[operators] def langPredicted(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    Tables.documents(s, dir)
      .selectExpr("doc_id", "lang_hits(text) AS lh")
      .selectExpr("doc_id",
        "CAST(lh.en AS INT) AS en_hits", "CAST(lh.es AS INT) AS es_hits",
        "CAST(lh.de AS INT) AS de_hits", "CAST(lh.fr AS INT) AS fr_hits")
      .selectExpr(
        "doc_id", "en_hits", "es_hits", "de_hits", "fr_hits",
        """CASE
          |  WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
          |  WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
          |  WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
          |  WHEN fr_hits > 0 THEN 'fr'
          |  ELSE 'und'
          |END AS lang_pred""".stripMargin)
  }

  /** q_t13 — language-ID CONFUSION MATRIX: [[qT1]]'s n-gram classifier
    * rolled up against the corpus's labeled `lang` column — the accuracy
    * audit run before trusting lang-routed curation (quota sampling,
    * per-language quality thresholds) to the heuristic. Same pattern as
    * the embedding-space separability audit (q_sim7): cheap eval of the
    * signal a pipeline routes by. Map-only scoring (the fused `lang_hits`
    * kernel), then a languages²-sized rollup — scan-bound at any corpus
    * size. */
  def qT13(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    Tables.documents(s, dir)
      .selectExpr("lang", "lang_hits(text) AS lh")
      .selectExpr("lang",
        "CAST(lh.en AS INT) AS en_hits", "CAST(lh.es AS INT) AS es_hits",
        "CAST(lh.de AS INT) AS de_hits", "CAST(lh.fr AS INT) AS fr_hits")
      .selectExpr("lang",
        """CASE
          |  WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
          |  WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
          |  WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
          |  WHEN fr_hits > 0 THEN 'fr'
          |  ELSE 'und'
          |END AS lang_pred""".stripMargin)
      .groupBy("lang", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")
  }

  /** Quality scoring: length, average word length, stopword ratio, and a
    * weighted composite score — the "keep or drop this document" signal of a
    * training-data pipeline.
    *
    * Every score is a ratio of integers, so ROUND(n/d, 4) is computed in
    * EXACT integer arithmetic — HALF_UP(10000·n/d) = (20000n + d) div 2d —
    * instead of rounding a double. Rounding the double is engine-divergent
    * on ties: at sf0.1 a stop_ratio of exactly 0.37875 rounds to 0.3788 in
    * Spark (BigDecimal of the shortest decimal string, HALF_UP) but 0.3787
    * in DuckDB (scaled-double path sees 3787.4999…, the truncated binary
    * value below the tie). Integer form is bit-identical on both engines.
    *
    * quality = least(w,100)/100·0.5 + (h/w)·0.3 + least(nc/w,10)/10·0.2
    *         = (5·least(w,100)·w + 300·h + 20·least(nc,10w)) / (1000·w). */
  def qT2(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    Tables.documents(s, dir)
      .selectExpr(
        "doc_id",
        "lang_hits(text).n AS w",
        "CAST(n_chars AS BIGINT) AS nc",
        "lang_hits(text).en AS h")
      .selectExpr(
        "doc_id",
        "w AS n_words",
        "CAST((20000 * nc + w) DIV (2 * w) AS DOUBLE) / 10000 AS avg_wlen",
        "CAST((20000 * h + w) DIV (2 * w) AS DOUBLE) / 10000 AS stop_ratio",
        "CAST((20000 * (5 * least(w, 100) * w + 300 * h + 20 * least(nc, 10 * w)) + 1000 * w) " +
          "DIV (2000 * w) AS DOUBLE) / 10000 AS quality")
      .orderBy("doc_id")
  }

  /** Q-T5: the COMPOSED curation gate — the per-document keep/drop decision
    * a training-data run applies, all three filters in one pipeline:
    * quality >= 0.5 (the qT2 composite, integer-exact as `q10k`), a
    * confident language ID (qT1's classifier, not 'und'), and
    * first-document-wins exact dedup on the content hash (qD1/qX5's key).
    * Output: per-language kept-count, total words, and the exact integer
    * quality sum (bit-stable across engines and row order — a double
    * quality sum would drift with addition order).
    *
    * Scale shape: ONE corpus scan of per-row expressions; the only
    * all-rows shuffle is the per-hash first-wins window (hash-partitioned,
    * same key as the dedup family), then a languages-sized rollup. At
    * 100 TB this is the curation pass's minimal plan: scan-bound, one
    * exchange. */
  def qT5(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("chash").orderBy("doc_id")
    Tables.documents(s, dir)
      .selectExpr(
        "doc_id", "md5(lower(text)) AS chash",
        "CAST(n_chars AS BIGINT) AS nc",
        "lang_hits(text) AS lh")
      .selectExpr("doc_id", "chash", "nc", "lh.n AS w",
        "lh.en AS en_hits", "lh.es AS es_hits",
        "lh.de AS de_hits", "lh.fr AS fr_hits")
      .selectExpr(
        "doc_id", "chash", "w",
        "(20000 * (5 * least(w, 100) * w + 300 * en_hits + 20 * least(nc, 10 * w)) + 1000 * w) " +
          "DIV (2000 * w) AS q10k",
        """CASE
          |  WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
          |  WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
          |  WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
          |  WHEN fr_hits > 0 THEN 'fr'
          |  ELSE 'und'
          |END AS lang_pred""".stripMargin)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("q10k") >= 5000 && col("lang_pred") =!= "und")
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("kept"),
        sum(col("q10k")).as("q10k_sum"),
        sum(col("w")).as("words"))
      .orderBy("lang_pred")
  }

  /** Token counting: whitespace tokens and a BPE-ish regex tokenizer (letter
    * runs | digit runs | single punctuation). Both are per-row expressions —
    * no tokenized corpus is materialized. */
  def qT3(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS ws_tokens",
        "size(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS re_tokens")
      .orderBy("doc_id")

  /** Document fingerprinting: rolling 8-char-gram hashes per document, keep
    * the min hash (a 1-permutation MinHash over character shingles — the
    * winnowing primitive) and the distinct-gram count. All inside one HOF
    * pass per row. */
  def qT4(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr(
        "doc_id",
        s"transform(sequence(1, greatest(length(text) - 7, 1)), i -> ${md5h32("substring(text, i, 8)")}) AS hs")
      .selectExpr(
        "doc_id",
        "array_min(hs) AS fp_min",
        "CAST(size(array_distinct(hs)) AS BIGINT) AS n_grams")
      .orderBy("doc_id")

  /** Q-T6 — DETERMINISTIC stratified subsample: the first
    * [[StratumSampleK]] documents per language in md5-hash order of the id.
    * Hash-order selection is the training-data way to subsample: uniform
    * within each stratum (md5 is an order-scrambling hash), yet a pure
    * function of the data — reruns, retries, and the DuckDB oracle all pick
    * the SAME rows, where `rand()`-based sampling is untestable and
    * non-idempotent (the masking lesson, SURVEY §7.3 item 2).
    *
    * Plan: one shuffle on the stratum key + per-partition sort — the same
    * cost as any per-stratum window. At 100 TB with huge strata, cap the
    * sort with a two-phase pick (per-partition top-k on the hash, then
    * top-k of tops — the TakeOrderedAndProject shape per stratum); the
    * declared k here keeps the oracle form simple. */
  def qT6(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= StratumSampleK)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id")
  }

  /** Documents kept per stratum by [[qT6]]. */
  val StratumSampleK = 20

  /** Chunk geometry for [[qT8]]: window of [[ChunkSize]] chars advancing by
    * [[ChunkStride]] (so consecutive chunks overlap by size − stride). */
  val ChunkSize = 100
  val ChunkStride = 80

  /** Q-T8 — document CHUNKING: fixed-size overlapping windows per document,
    * the embedding/RAG preparation step (every long document becomes
    * retrievable units with overlap so no boundary sentence is lost).
    * Emitted as (idx, length, checksum) per chunk so the oracle pins exact
    * chunk bytes. One generator per row (sequence → posexplode), no
    * shuffle until the final presentation ORDER BY — the chunker is
    * scan-bound and output-proportional at any corpus size. */
  def qT8(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "text",
        s"sequence(1, greatest(length(text), 1), $ChunkStride) AS starts")
      .selectExpr("doc_id", "text", "posexplode(starts) AS (chunk_idx, st)")
      .selectExpr("doc_id", "chunk_idx",
        s"substring(text, st, $ChunkSize) AS chunk")
      .selectExpr("doc_id", "chunk_idx",
        "CAST(length(chunk) AS BIGINT) AS c_len",
        s"${md5h32("chunk")} AS c_hash")
      .orderBy("doc_id", "chunk_idx")

  /** Q-T7 — text NORMALIZATION, the first step of every LLM curation
    * pipeline: lowercase → strip non-alphanumerics → collapse whitespace →
    * trim, emitted as (length, checksum) so the oracle pins the exact
    * normalized bytes without shipping them. Pure per-row expression work
    * (codegen'd regexp_replace chain) — scan-bound at any corpus size, the
    * same posture as the rest of the battery. Patterns stay in the
    * RE2-compatible subset so Spark (java.util.regex) and DuckDB (RE2)
    * agree character-for-character. */
  def qT7(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id",
        "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''), ' +', ' ')) AS norm")
      .selectExpr("doc_id",
        "CAST(length(norm) AS BIGINT) AS n_norm",
        s"${md5h32("norm")} AS h32")
      .orderBy("doc_id")

  /** Q-T14 — PII DENSITY SCAN: per-source incidence of email / phone / SSN
    * shaped substrings — the detection-side complement of the A14 masking
    * transform (sanitizer.py:6-38 replaces PII it is TOLD about by field
    * name; a curation pipeline first needs to MEASURE how much free-text
    * PII a source leaks before deciding to mask, filter, or drop it).
    * The corpus is derived deterministically from `documents` (doc_id mod 7
    * injects known PII shapes) so the oracle replays the same text — same
    * pattern as the merge-snapshot fixtures.
    *
    * Scale: pure per-row regexp work (codegen'd) + one source-sized hash
    * agg — scan-bound, the cheapest possible shape. Patterns stay in the
    * RE2-compatible subset (character classes only, no backreferences or
    * lookaround) so Spark's java.util.regex and DuckDB's RE2 agree match
    * -for-match — the qT7 contract. */
  def qT14(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("source",
        """concat(text, CASE
          |  WHEN doc_id % 7 = 0 THEN concat(' contact user', doc_id, '@example.com or admin@data-site.org')
          |  WHEN doc_id % 7 = 1 THEN ' call 555-867-5309 or 555-123-4567'
          |  WHEN doc_id % 7 = 2 THEN ' ssn 123-45-6789 on file'
          |  ELSE '' END) AS t""".stripMargin)
      .selectExpr("source",
        "size(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\\\.[A-Za-z][A-Za-z]+', 0)) AS n_email",
        "size(regexp_extract_all(t, '[0-9]{3}-[0-9]{3}-[0-9]{4}', 0)) AS n_phone",
        "size(regexp_extract_all(t, '[0-9]{3}-[0-9]{2}-[0-9]{4}', 0)) AS n_ssn")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_email") > 0, 1L).otherwise(0L)).as("docs_with_pii_email"),
        sum(col("n_email").cast("long")).as("emails"),
        sum(col("n_phone").cast("long")).as("phones"),
        sum(col("n_ssn").cast("long")).as("ssns"))
      .orderBy("source")

  /** Q-T16 — SPLIT-LEAKAGE AUDIT: after [[qT15]]'s hash-split assignment,
    * count the TRAIN documents that share a verbatim 8-token gram with any
    * TEST document, per language. Hash-splitting guarantees each DOCUMENT
    * lands in one split, but near-duplicate documents land independently —
    * a train/test pair of dups leaks test answers into training exactly
    * like benchmark contamination ([[qT11]]), and this is the audit that
    * prices it BEFORE anyone trusts a held-out score. (The remedy — route
    * by dup-cluster instead of doc — needs [[graft.operators.Dedup.qD9]]'s
    * components; this query is the detector.)
    *
    * Scale: same gram machinery as qT11 — test-side distinct grams are the
    * ~5% split (broadcast), the train side streams map-only into the gram
    * join; per-lang rollup is languages-sized. Leak rate in integer
    * per-mille (DIV, hash-exact). */
  def qT16(s: SparkSession, dir: String): DataFrame = {
    val split = Tables.documents(s, dir)
      .withColumn("h", expr("substring(md5(CAST(doc_id AS STRING)), 1, 2)"))
      .withColumn("split",
        when(col("h") < "e6", "train")
          .when(col("h") < "f3", "val").otherwise("test"))
    val testGrams = tokenGrams(split.where(col("split") === "test"))
      .select("gram").distinct()
    val leaky = tokenGrams(split.where(col("split") === "train"))
      .join(broadcast(testGrams), "gram")
      .select("doc_id").distinct()
    split.where(col("split") === "train")
      .join(leaky.withColumn("leak", lit(1)), Seq("doc_id"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_train"),
        sum(coalesce(col("leak"), lit(0))).cast("long").as("n_leaky"))
      .withColumn("leak_pm", expr("(n_leaky * 1000) DIV n_train"))
      .orderBy("lang")
  }

  /** Q-T17 — SEQUENCE-PACKING STATS: the concat-then-chunk packing pass a
    * pre-training pipeline runs to turn documents into fixed 2048-token
    * training sequences — documents concatenate in deterministic md5
    * order WITHIN each language shard, the stream chunks at sequence
    * boundaries, and the audit reports per shard: documents, tokens,
    * sequences, integer-per-mille fill (waste is only the final ragged
    * sequence), and the FRAGMENTED documents a boundary splits (the rows
    * an attention-masking/best-fit packer would fight for). Per-shard
    * packing is the scale form: the prefix sum runs in a
    * language-PARTITIONED window, never a global one, and shards pack
    * independently on a cluster exactly as they do here.
    *
    * All integer: token counts are whitespace splits ([[qT3]]'s
    * ws_tokens), offsets are window sums, bins are DIV — hash-exact. */
  def qT17(s: SparkSession, dir: String): DataFrame = {
    val seqLen = 2048
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      .orderBy(expr("md5(CAST(doc_id AS STRING))"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        expr("size(split(text, ' '))").cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("frag",
        when(expr(s"(cum - tok) DIV $seqLen") =!= expr(s"(cum - 1) DIV $seqLen"),
          1L).otherwise(0L))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        sum(col("frag")).as("n_fragmented"))
      .withColumn("n_seqs", expr(s"(total_tokens + ${seqLen - 1}) DIV $seqLen"))
      .withColumn("fill_pm",
        expr(s"(total_tokens * 1000) DIV (n_seqs * $seqLen)"))
      .select("lang", "n_docs", "total_tokens", "n_seqs", "fill_pm", "n_fragmented")
      .orderBy("lang")
  }

  /** Q-T15 — DETERMINISTIC TRAIN/VAL/TEST SPLIT assignment: route every
    * document to a split by a hash of its id, never by position or
    * random() — the property a training pipeline actually needs is that
    * the assignment is REPRODUCIBLE across engines, re-runs, and data
    * relayouts (a repartition must not move documents between splits),
    * and that a later incremental batch lands in the same splits without
    * seeing the old data. md5-prefix thresholds give ~90/5/5: the first
    * two hex chars partition the hash space at 'e6' (230/256) and 'f3'
    * (243/256); pure string comparison, so Spark and the oracle agree
    * byte-for-byte with no float anywhere. The rollup reports per-(lang,
    * split) counts plus each split's per-mille share of the language —
    * the skew check run before trusting the split to be stratified
    * (hash-splitting is only ~proportional per stratum; a tiny stratum
    * can land lopsided, and this is the query that shows it).
    *
    * Scale: one map-side projection (md5 + two comparisons), one
    * (lang × split)-sized rollup, a languages-sized window for the
    * share — no join, no global pass; the assignment column itself
    * costs nothing at 100 TB because it is derived, not stored. */
  def qT15(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    Tables.documents(s, dir)
      .selectExpr("lang",
        "substring(md5(CAST(doc_id AS STRING)), 1, 2) AS h")
      .withColumn("split",
        when(col("h") < "e6", "train")
          .when(col("h") < "f3", "val").otherwise("test"))
      .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_total", sum("n_docs").over(w))
      // integer DIV, not ROUND-of-double: engine-exact per-mille share
      .select(col("lang"), col("split"), col("n_docs"),
        expr("(n_docs * 1000) DIV lang_total").as("share_pm"))
      .orderBy("lang", "split")
  }

  /** The qT15/qT16 md5-prefix routing (~90/5/5) over any id column. */
  private def splitOf(idCol: String) =
    when(expr(s"substring(md5(CAST($idCol AS STRING)), 1, 2)") < "e6", "train")
      .when(expr(s"substring(md5(CAST($idCol AS STRING)), 1, 2)") < "f3", "val")
      .otherwise("test")

  /** Q-T18 — CLUSTER-ROUTED train/val/test split: the remedy [[qT16]]'s
    * own verdict calls for. Per-document hash routing sends the two halves
    * of a near-duplicate pair to DIFFERENT splits ~10% of the time, so
    * test answers leak into train verbatim. Here the routing key is the
    * document's DUP-CLUSTER representative (the min-id label of its
    * [[Dedup.qD6]] simhash component, singletons = themselves), so a whole
    * near-dup family lands in one split by construction.
    *
    * The result is the audit a pipeline pins before trusting the split:
    * per split — docs, distinct clusters, integer per-mille share, and two
    * edge-leak counters over the SAME candidate graph: `cross_edges`
    * (near-dup edges whose endpoints landed in different splits under
    * cluster routing — structurally 0, computed from the data, not
    * assumed) vs `hash_cross_edges` (the same count under qT15's
    * per-document routing — the leak being fixed, nonzero whenever the
    * corpus has dup pairs). Both counters attribute an edge to its
    * a-endpoint's cluster-routed split (one grouping, one contract).
    *
    * Scale: the component map and edge set are candidate-graph-sized
    * (orders of magnitude below the corpus), so the doc→component join
    * broadcasts; routing itself is one md5 per row, derived not stored —
    * same posture as qT15. Both frames come from the durable
    * [[DupClusters]] artifact: a warm run's only corpus touch is the one
    * doc-id projection the split assignment itself needs — the graph is
    * never re-mined. */
  def qT18(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val idx = DupClusters.build(s, dir)
    val pairs = idx.pairs.select("a_id", "b_id")
    val comp = idx.clusters.select("id", "component")
    val asg = Tables.documents(s, dir).select(col("doc_id"))
        .join(broadcast(comp), col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("component"))
        .withColumn("split", splitOf("component"))
      // edge-leak counters over the pair frame alone (graph-sized, never
      // the corpus): hash routing derives from the endpoint ids directly;
      // cluster routing needs each endpoint's component, one broadcast
      // join per side against the (graph-sized) component map
      val routedEdges = pairs
        .join(broadcast(comp.selectExpr("id AS a_m", "component AS a_c")),
          col("a_id") === col("a_m"))
        .join(broadcast(comp.selectExpr("id AS b_m", "component AS b_c")),
          col("b_id") === col("b_m"))
        .select(splitOf("a_c").as("split"),
          (splitOf("a_c") =!= splitOf("b_c")).cast("long").as("cx"),
          (splitOf("a_id") =!= splitOf("b_id")).cast("long").as("hx"))
      val edgeCounts = routedEdges.groupBy("split")
        .agg(sum("cx").as("ce"), sum("hx").as("he"))
      val base = asg.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("component").as("n_clusters"))
        .withColumn("total",
          sum("n_docs").over(org.apache.spark.sql.expressions.Window
            .partitionBy()))
      base
        .join(edgeCounts, Seq("split"), "left")
        .select(col("split"), col("n_docs"), col("n_clusters"),
          expr("(n_docs * 1000) DIV total").as("share_pm"),
          coalesce(col("ce"), lit(0L)).as("cross_edges"),
          coalesce(col("he"), lit(0L)).as("hash_cross_edges"))
        .orderBy("split")
  }

  /** Q-T19 — KEEP-CANONICAL curation: materialize ONE survivor per dup
    * family — the dedup decision [[qT5]] only diagnoses, wired to the
    * graph machinery: families are the [[Dedup.qD6]] simhash components
    * (size >= 2; singletons keep themselves trivially and are omitted),
    * the survivor is the member duplication structurally concentrates on —
    * max [[Dedup.pageRank]] centrality ([[Dedup.qG4]]'s exact integer
    * recurrence over the SAME graph), tiebreak min doc_id, both total
    * orders, so the pick is deterministic across engines and re-runs.
    *
    * COLLAPSE-BLIND by declaration (round 15): this is the classic
    * keep-one-per-component form, kept as the family's baseline — it
    * trusts every component to be a real dup family, which the q_g10
    * cohesion audit shows is false for transitive chains. The SAFE form
    * a production dedup should consume is [[qT39]] (cohesion-gated,
    * chain components collapsed per LPA community); [[qT26]] already
    * prices its drop set.
    *
    * Scale: every frame here (components, ranks, survivors) is
    * candidate-graph-sized, and ALL of it now comes from the durable
    * [[DupClusters]] artifact — `clusters/` already carries (id, component,
    * rank_e6) per member, so a warm run reads graph-sized parquet and runs
    * one component-partitioned window: ZERO corpus passes, zero graph
    * mining (PlanAuditSpec pins `inputFiles` ⊆ artifact). The cold path
    * (first run per corpus state) pays the one-pass build once, for every
    * consumer thereafter. */
  def qT19(s: SparkSession, dir: String): DataFrame = {
    val cw = org.apache.spark.sql.expressions.Window.partitionBy("component")
    DupClusters.build(s, dir).clusters
      .withColumn("csize", count(lit(1)).over(cw))
      .withColumn("rn", row_number().over(
        cw.orderBy(desc("rank_e6"), col("id"))))
      .where(col("rn") === 1)
      .select(col("component"), col("id").as("survivor_id"),
        col("csize"), col("rank_e6"))
      .orderBy("component")
  }

  /** Q-T39 — COHESION-GATED keep-canonical, [[qT19]] made SAFE: the
    * round-14 q_g10 audit ([[Dedup.qG10]]) proved keep-one-per-component
    * is the wrong curation answer exactly where dedup matters most — a
    * 3226-member component at edge density 3 per-mille is a transitive
    * chain of pairwise near-dups whose endpoints are likely NOT mutual
    * duplicates, and collapsing it destroys ~3225 non-duplicate documents.
    * This query wires the audit INTO the action: components passing the
    * declared cohesion gate (density ≥ [[Dedup.SafeDensityPm]] pm AND mean
    * verified Hamming ≤ [[Dedup.SafeMeanHamC]] centi) collapse per
    * component as before; failing components collapse per
    * label-propagation community ([[Dedup.qG6]]'s recurrence over the
    * SAME graph), so a bridge-welded pair of cliques keeps TWO survivors
    * (RecallSpec pins that fixture) and the chain keeps one per dense
    * sub-family. One row per surviving group: mode says which path
    * ('component' = gate passed, 'community' = chain routed). The
    * reference tie-in is its "safe deduplication" promise (README.md:3)
    * at curation scale; [[qT26]] prices the drop set with the SAME keeper.
    *
    * Scale: the [[Dedup.gatedKeepMembers]] core — cohesion stats reduce
    * the artifact's graph-sized pairs lane, the safe-set broadcast is
    * component-count-sized, LPA is the O(iters×|E|) BSP loop, and the
    * survivor window partitions per (component, group). Zero corpus
    * passes warm. */
  def qT39(s: SparkSession, dir: String): DataFrame = {
    val idx = DupClusters.build(s, dir)
    val gw = org.apache.spark.sql.expressions.Window
      .partitionBy("component", "group_id")
    // round 16: the keeper consumes the SEVERED graph (q_g12) — refuted
    // weld edges dropped (one graph-sized anti-join on the artifact's
    // refuted/ lane), components recomputed over the survivors — so the
    // community-routing leg only handles chains the edit-distance
    // severing could not refute
    val surviving = idx.pairs.join(idx.refuted, Seq("a_id", "b_id"), "left_anti")
    Dedup.gatedKeepMembers(s, surviving, idx.severed)
      .withColumn("gsize", count(lit(1)).over(gw))
      .where(col("rn") === 1)
      .select(col("component"), col("mode"), col("group_id"),
        col("id").as("survivor_id"), col("gsize"), col("rank_e6"))
      .orderBy("component", "group_id")
  }

  /** Q-T20 — unigram language-model quality score, the CCNet-style
    * perplexity filter (Wenzek et al. 2020) with a SELF-TRAINED model: a
    * document built from corpus-frequent tokens scores high ("natural"
    * text under the corpus distribution), one built from rare tokens —
    * OCR noise, lexicon soup, wrong-language fragments — scores low.
    * CCNet thresholds KenLM log-likelihood; transcendental log() is not
    * bit-stable across engines ([[qT9]]'s idf lesson), so the per-token
    * log2(count) is the INTEGER floor form `length(bin(c)) - 1` — exact in
    * both engines, monotone in c, which is all a rank-and-threshold filter
    * consumes. Score = mean bits per token, integer per-mille.
    *
    * Scale: one explode-shuffle builds per-(doc, term) tf with map-side
    * combine ([[qT9]]'s shape); the unigram table reduces the tf frame
    * (term-sized); scoring joins tf — doc×DISTINCT-term rows, far below
    * the token stream — to the term table on the term key and reduces per
    * doc. No token-stream re-shuffle, no driver-side model. */
  def qT20(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val uni = tf.groupBy("w").agg(sum("tf").as("c"))
      .select(col("w"), (length(expr("bin(c)")) - 1).cast("long").as("bits"))
    tf.join(uni, "w")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("n_tokens"),
        expr("(sum_bits * 1000) DIV n_tokens").as("ll_pm"))
      .orderBy("doc_id")
  }

  /** Q-T21 — BM25 TERM-MATCH RETRIEVAL: score every document against a
    * query, Okapi BM25 (k1 = 1.2, b = 0.75), top-20 docs. The lexical
    * retrieval baseline every RAG / retrieval-eval pipeline runs next to
    * its vector index — a corpus engine that serves kNN (q_sim1) but not
    * BM25 can't reproduce the standard hybrid-retrieval comparison.
    *
    * The query is data-derived for self-containment: the 3 terms whose
    * document frequency is closest to N/2 (maximally discriminative — a
    * df≈N/2 term splits the corpus in half), tiebreak lexicographic.
    *
    * Exactness: BM25 is rational once ln is replaced by the Robertson
    * idf's integer surrogate. With k1 = 6/5, b = 3/4 and avgdl = T/N:
    *   tf·(k1+1) / (tf + k1(1−b) + k1·b·dl/avgdl)
    *     = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)   — integers throughout;
    *   idf_s = ((2(N−df)+1)·1000) DIV (2·df+1)  ≈ 1000·(N−df+½)/(df+½).
    * Both factors are engine-exact BIGINT arithmetic (per-mille scaled),
    * so the oracle hash-matches without any float tolerance.
    *
    * Scale (round 11): served from the DURABLE inverted index
    * ([[LexIndex]]) — the query pick and idf read the term-sized `terms/`
    * sidecar, scoring reads ONLY the 3 query terms' posting buckets
    * (parquet partition pruning) plus the node-sized doclen, and the
    * final top-20 is a TakeOrdered. Warm runs touch zero corpus files
    * (PlanAuditSpec inputFiles audit); the one-time build is the single
    * tokenize-explode pass the per-run form used to pay every time.
    * [[qT21Direct]] keeps the index-free formulation; LexIndexSpec pins
    * the two bit-equal. */
  def qT21(s: SparkSession, dir: String): DataFrame =
    LexIndex.bm25TopDocs(s, dir)

  /** Fixture query strings for [[qT41]] — stand-ins for user-supplied RAG
    * queries (deterministic so the oracle can replay; one carries an
    * OUT-OF-VOCABULARY token to pin the skip path: OOV terms match no
    * postings and silently contribute nothing, the [[LexIndex
    * .bm25ForQuery]] contract). */
  val Bm25FixtureQueries: Seq[(Long, String)] = Seq(
    (1L, "fast vector join"),
    (2L, "slow merge scan query"),
    (3L, "spark zzzunseen stream"))

  /** Q-T41 — BM25 with USER-SUPPLIED QUERY TEXT (VERDICT r14 task 3):
    * [[qT21]]'s serving machinery behind the entry point a RAG consumer
    * actually calls — query string in, tokenize with the index's own
    * tokenizer, prune to the query terms' posting buckets, same exact
    * integer BM25 out. Three fixture queries (one with an OOV token)
    * exercise multi-term scoring, df spread, and the skip path; per-query
    * ranks re-derive from (bm25_s desc, doc_id) — the same total order the
    * per-query top-20 was cut by, so the window only re-labels.
    *
    * Scale: per query, [[LexIndex.bm25ForQuery]]'s shape — a ≤|terms|-row
    * vocabulary lookup, posting-bucket-pruned scan, TakeOrdered top-20;
    * the union is query-count-sized and the rank window partitions per
    * query over ≤20 rows. Zero corpus passes warm. */
  def qT41(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(desc("bm25_s"), col("doc_id"))
    Bm25FixtureQueries.map { case (qid, q) =>
      LexIndex.bm25ForQuery(s, dir, q)
        .select(lit(qid).as("query_id"), col("doc_id"),
          col("n_hit"), col("bm25_s"))
    }.reduce(_.unionByName(_))
      .withColumn("rank", row_number().over(w).cast("long"))
      .orderBy("query_id", "rank")
  }

  /** [[qT42]]'s shard size: one output shard per this many tokens of the
    * packed global stream. 4096 matches a common training sequence-batch
    * granularity at spec SF; at 100 TB the same plan runs with a larger
    * budget (the constant only scales the shard COUNT, never the shape). */
  val ShardTokenBudget = 4096L

  /** [[qT42]]'s prefix-sum bucket width (documents per range bucket).
    * The per-bucket window sorts ≤ this many rows; the bucket OFFSETS are
    * the fully recursive [[bucketOffsets]] prefix sum, so no window
    * anywhere in the pack depends on the corpus size — the width only
    * trades scan parallelism against per-partition sort size. */
  val PackBucketWidth = 64L

  /** [[bucketOffsets]]'s per-level contraction: each recursion level
    * groups 2²¹ child buckets under one parent, so every level's window
    * partitions hold ≤ 2²¹ rows BY CONSTRUCTION (Long arithmetic, not a
    * data property), and [[PrefixLevels]] levels exhaust the full 63-bit
    * non-negative Long key space (3 × 21 = 63): after the last division
    * the only representable key is 0, so the recursion base needs no
    * window at all — the exclusive prefix of a single-key frame is 0. */
  private val PrefixShift = 21
  private val PrefixLevels = 3

  /** Distributed EXCLUSIVE prefix sum over a `(bucket: Long, bt: Long)`
    * frame → `(bucket, boff)` where `boff = Σ bt over all buckets < this
    * one`. The classic two-pass trick applied recursively ([[PrefixShift]]
    * bits per level): within each 2²¹-key parent group a PARTITIONED
    * window computes the in-group exclusive prefix, the per-parent totals
    * recurse one level up (each level's frame shrinks ≥ 2²¹×, so the
    * recursed side is always broadcast-sized), and parent offsets add back
    * via a broadcast equi-join. Closes VERDICT r15 "What's wrong #1": the
    * former single-level variant sorted corpus/width rows in ONE task;
    * here every window partition is ≤ 2²¹ rows at ANY corpus size, with
    * zero unpartitioned windows ([[PlanGateSpec]] rule 5 now enforces
    * this — the old allowlist entry is deleted). */
  private[graft] def bucketOffsets(frame: DataFrame, levels: Int = PrefixLevels): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    if (levels == 0) {
      // 63 bits divided away: the only representable bucket id is 0, so
      // the frame is one row and its exclusive prefix is identically 0
      frame.select(col("bucket"), lit(0L).as("boff"))
    } else {
      val div = 1L << PrefixShift
      val withParent = frame.withColumn("parent", expr(s"bucket DIV $div"))
      val inW = Window.partitionBy("parent").orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
      val inoff = withParent
        .withColumn("inoff", coalesce(sum("bt").over(inW), lit(0L)))
      val parents = withParent.groupBy("parent").agg(sum("bt").as("bt"))
        .withColumnRenamed("parent", "bucket")
      val poff = bucketOffsets(parents, levels - 1)
        .withColumnRenamed("bucket", "parent")
        .withColumnRenamed("boff", "poff")
      inoff.join(broadcast(poff), "parent")
        .select(col("bucket"), (col("poff") + col("inoff")).as("boff"))
    }
  }

  /** Q-T42 — TOKEN-BUDGET SHARD PACKING: lay every document's tokens out
    * in one deterministic global stream (doc_id order, the [[qT3]]
    * whitespace tokenizer), cut the stream every [[ShardTokenBudget]]
    * tokens, and assign each document to the shard its FIRST token falls
    * in — the deterministic sharding step between curation and training
    * (the T5/C4-style "pack into sequences" layout; [[qT17]] reports the
    * pad/waste geometry of such packs, this query produces the actual
    * assignment). A document may straddle a boundary (it belongs to its
    * start shard); true close-when-full bin packing is a sequential
    * recurrence by definition, while the boundary cut is pure prefix-sum
    * arithmetic — same shard sizes ±1 document, and reruns, retries, and
    * the oracle all produce the SAME layout (the masking lesson, SURVEY
    * §7.3 item 2). Emits per shard: document count, token mass, and the
    * [first_doc, last_doc] range (contiguous by construction, so a loader
    * can seek a shard with two ids).
    *
    * Scale: the exclusive prefix sum is the textbook DISTRIBUTED two-pass
    * applied RECURSIVELY — never a corpus-sized single-partition window.
    * The in-bucket prefix is a window PARTITIONED BY bucket directly over
    * the scan (≤ [[PackBucketWidth]] rows each, text already projected
    * down to one BIGINT); the per-bucket totals (corpus/width rows,
    * map-side combined) feed [[bucketOffsets]], whose every window
    * partition is ≤ 2²¹ rows by Long arithmetic at ANY corpus size; the
    * final add-back is a plain equi-join on bucket (AQE broadcasts it
    * when small). Raw text never reaches an exchange, and no window in
    * the whole pack is unpartitioned. */
  def qT42(s: SparkSession, dir: String): DataFrame =
    qT42Width(s, dir, PackBucketWidth)

  /** [[qT42]] with the bucket width as a parameter: the packing is
    * width-INVARIANT by construction (the width only re-cuts the prefix
    * sum's two passes), and PropertySpec pins that invariance — the
    * distributed two-pass result equals itself under different cuts,
    * including the degenerate one-bucket cut that IS the oracle's single
    * sequential window. */
  private[graft] def qT42Width(s: SparkSession, dir: String,
                               width: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("tok"),
        expr(s"doc_id DIV $width").as("bucket"))
    val boff = bucketOffsets(toks.groupBy("bucket").agg(sum("tok").as("bt")))
    val preW = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("inoff", coalesce(sum("tok").over(preW), lit(0L)))
      .join(boff, "bucket")
      .select(col("doc_id"), col("tok"),
        (col("boff") + col("inoff")).as("pre"))
      .select(col("doc_id"), col("tok"),
        expr(s"pre DIV $ShardTokenBudget").as("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("shard")
  }

  /** [[qT43]]'s histogram bin width in ll_pm units: scores quantize to
    * `ll_pm DIV 100` before the threshold scan, so the per-language
    * histogram is ≤ ~640 bins BY CONSTRUCTION (ll_pm ≤ 63 bits × 1000 —
    * the bin count is bounded by the score arithmetic, not the corpus). */
  val PplBinWidth = 100L

  /** Q-T43 — PERPLEXITY BUCKETS (CCNet, Wenzek et al. 2020,
    * arXiv:1911.00359): split each language's documents into head /
    * middle / tail terciles by language-model score — the curation step
    * CCNet-descended pipelines run right after lang-ID (keep head+middle,
    * drop or down-weight tail). The score is [[qT20]]'s integer unigram
    * log-likelihood surrogate (mean floor-log2 token frequency, per-mille
    * — HIGH = common-word fluent text = LOW perplexity = head; LOW = rare-
    * word noise = tail), so the verdict is engine-exact and the oracle
    * replays score → histogram → thresholds → bucket arithmetically.
    *
    * The tercile thresholds are NOT a per-language rank window (the
    * rank-everything shape the plan gate bans): scores quantize into a
    * BOUNDED per-language histogram ([[PplBinWidth]]), the cumulative scan
    * runs over that ≤640-bin frame, and the two boundary bins (first bin
    * with 3·cum ≥ n, first with 3·cum ≥ 2n) broadcast back as a
    * language-sized frame — the same two-pass trick as [[qT42]]'s prefix
    * sum, trading exact-rank terciles for bin-resolution terciles (the
    * declared quantization; CCNet itself buckets on binned perplexity).
    *
    * Emits one row per document: (doc_id, lang, ll_pm, bucket) with
    * bucket ∈ head|middle|tail — tail is `bin ≤ t1` (rarest-word third,
    * ties resolve whole bins into the lower bucket).
    *
    * Scale: one tokenize-explode pass into the (doc, term) tf frame, the
    * term-sized unigram join, one doc-sized score agg; everything after
    * is histogram-sized. No corpus-wide window, text never in an
    * exchange. */
  def qT43(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val uni = tf.groupBy("w").agg(sum("tf").as("c"))
      .select(col("w"), (length(expr("bin(c)")) - 1).cast("long").as("bits"))
    val ll = tf.join(uni, "w")
      .groupBy("doc_id")
      .agg(expr("(sum(tf * bits) * 1000) DIV sum(tf)").as("ll_pm"))
      .join(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
    val hist = ll.select(col("lang"), expr(s"ll_pm DIV $PplBinWidth").as("bin"))
      .groupBy("lang", "bin").agg(count(lit(1)).as("cnt"))
    val cumW = Window.partitionBy("lang").orderBy("bin")
    val cum = hist
      .withColumn("cum", sum("cnt").over(cumW))
      .withColumn("n", sum("cnt").over(Window.partitionBy("lang")))
    val thresholds = cum.groupBy("lang").agg(
      min(when(col("cum") * 3 >= col("n"), col("bin"))).as("t1"),
      min(when(col("cum") * 3 >= col("n") * 2, col("bin"))).as("t2"))
    ll.join(broadcast(thresholds), "lang")
      .select(col("doc_id"), col("lang"), col("ll_pm"),
        when(expr(s"ll_pm DIV $PplBinWidth") <= col("t1"), lit("tail"))
          .when(expr(s"ll_pm DIV $PplBinWidth") <= col("t2"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
      .orderBy("doc_id")
  }

  /** [[qT44]]'s stop-word presence list. Gopher's own list is eight
    * English closed-class words (Rae et al. 2021 §A1.1.2: the, be, to,
    * of, and, that, have, with) — on THIS corpus's synthetic vocabulary
    * only two closed-class words exist at all, so the list is the
    * corpus-appropriate instantiation of the same rule (a declared
    * fixture adaptation, like q_t11's 8-gram vs GPT-3's 13): a document
    * must contain every listed function word to read as natural text. */
  val GopherStops: Seq[String] = Seq("the", "a")

  /** Minimum distinct [[GopherStops]] hits for the stop-word rule. */
  val GopherMinStopHits = 2L

  /** Q-T44 — GOPHER QUALITY RULES (Rae et al. 2021 §A1.1.2, the rule
    * battery Dolma/RefinedWeb descend from): the per-document
    * keep/drop gate a curation run applies AFTER [[qT2]]'s shape score —
    * five of the paper's document-level rules, each reported as its own
    * integer column so an operator sees WHY a doc fails, plus the
    * composed `pass` flag:
    *   - word count in [50, 100000] (whitespace tokens, the qT3 lane);
    *   - mean word length in [3, 10] characters (×10 fixed point,
    *     integer DIV — engine-exact, no float mean);
    *   - ≥ 80 % of words contain an alphabetic character (per-mille);
    *   - ≥ [[GopherMinStopHits]] distinct [[GopherStops]] present;
    *   - repetition: the qT12 top-token mass ≤ 20 % (the paper's
    *     duplicated-line surrogate for a corpus without line structure —
    *     declared adaptation, same intent: kill "buy buy buy").
    * The line-shape rules (bullet/ellipsis starts) are omitted as
    * structurally degenerate on this corpus (documents carry no
    * newlines) — declared, not silently skipped.
    *
    * Scale: ONE tokenize pass feeds every rule — the per-word legs fold
    * into HOF expressions inside the scan projection (no explode), the
    * repetition leg is the qT12 (doc, token) map-side-combined agg, and
    * the join back is doc-keyed. Integer end-to-end; the oracle replays
    * each rule arithmetically. */
  def qT44(s: SparkSession, dir: String): DataFrame = {
    val stops = GopherStops.map(w => s"'$w'").mkString(", ")
    val base = Tables.documents(s, dir)
      .selectExpr("doc_id",
        "filter(split(lower(text), ' '), x -> x <> '') AS ws")
      .selectExpr("doc_id",
        "CAST(size(ws) AS BIGINT) AS n_words",
        "aggregate(ws, 0L, (a, x) -> a + length(x)) AS chars",
        "CAST(size(filter(ws, x -> x rlike '[a-z]')) AS BIGINT) AS n_alpha",
        s"CAST(size(array_intersect(array_distinct(ws), array($stops))) AS BIGINT) AS stop_hits")
    val rep = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .where(col("t") =!= "")
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_c"), sum("c").as("tot"))
      .select(col("doc_id"), expr("(top_c * 1000) DIV tot").as("rep_pm"))
    base.join(rep, "doc_id")
      .select(col("doc_id"), col("n_words"),
        expr("(chars * 10) DIV n_words").as("mwl_e1"),
        expr("(n_alpha * 1000) DIV n_words").as("alpha_pm"),
        col("stop_hits"), col("rep_pm"),
        expr(("CAST(n_words BETWEEN 50 AND 100000 " +
          "AND (chars * 10) DIV n_words BETWEEN 30 AND 100 " +
          "AND (n_alpha * 1000) DIV n_words >= 800 " +
          s"AND stop_hits >= $GopherMinStopHits " +
          "AND rep_pm <= 200 AS BIGINT)")).as("pass"))
      .orderBy("doc_id")
  }

  /** The index-free [[qT21]] formulation (one tokenize-explode corpus
    * pass per run) — retained as the equality oracle for the served form. */
  private[graft] def qT21Direct(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val tot = dl.agg(sum("dl").as("t"), count(lit(1)).as("n"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val qt = dfreq.crossJoin(broadcast(tot))
      .orderBy(abs(col("df") * 2 - col("n")), col("w"))
      .limit(3)
      .select("w", "df")
    tf.join(broadcast(qt), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        expr("((2 * (n - df) + 1) * 1000) DIV (2 * df + 1)").as("idf_s"),
        expr("(22000 * tf * t) DIV (10 * tf * t + 3 * t + 9 * dl * n)")
          .as("tfpart"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"),
        sum(col("idf_s") * col("tfpart")).as("bm25_s"))
      .orderBy(desc("bm25_s"), col("doc_id"))
      .limit(20)
  }

  /** Q-T22 — TRAINING-MIX REWEIGHTING: per-language token mass, corpus
    * share, and the importance weight that flattens the mix to uniform
    * (weight ∝ target_share / actual_share with a uniform target across
    * the observed languages — the DoReMi-style baseline a mixture-tuning
    * run starts from, and the number a sampling loader multiplies into
    * each domain's pick probability). Integer per-mille throughout:
    * share_pm = 1000·tokens/T, weight_pm = 1000·T/(L·tokens).
    *
    * Scale: one tokenize pass reduced to a language-sized frame (L rows);
    * the (T, L) totals re-aggregate THAT frame, not the corpus — the
    * second pass is over ~hundreds of rows regardless of corpus size. */
  def qT22(s: SparkSession, dir: String): DataFrame = {
    val perLang = Tables.documents(s, dir)
      .select(col("lang"),
        size(filter(split(lower(col("text")), " "), w => w =!= "")).cast("long").as("ntok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("tokens"))
    val tot = perLang.agg(sum("tokens").as("t"), count(lit(1)).as("l"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("tokens"),
        expr("(tokens * 1000) DIV t").as("share_pm"),
        expr("(t * 1000) DIV (l * tokens)").as("weight_pm"))
      .orderBy("lang")
  }

  /** Q-T23 — RECIPROCAL-RANK-FUSION data selection: fuse two independent
    * document rankings — the [[qT2]] composite quality score and the
    * [[qT20]] unigram-LM score — into one selection order via RRF
    * (Cormack et al.: score = Σ 1/(60 + rank)), top-20 fused picks. The
    * standard way to combine incomparable quality signals without
    * calibrating them onto one scale; the same fusion serves hybrid
    * retrieval (BM25 list + vector list) — [[qT21]] and
    * [[graft.operators.Similarity.qSim1]] produce exactly such lists.
    *
    * Integer-exact: ranks are integers, each RRF term is
    * 1000000 DIV (60 + r), absent-from-one-list contributes 0 (rank
    * reported as 0). Fusion happens over each signal's top-100 CANDIDATE
    * LIST, not the whole corpus — so the only corpus-wide work is two
    * TakeOrdered(100) passes (distributed k-smallest merges, no global
    * sort), and the rank windows run over 100-row frames that are
    * driver-sized BY CONSTRUCTION (the unpartitioned window is bounded,
    * not a scale hazard). */
  def qT23(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val cand = 100
    val q10k = Tables.documents(s, dir)
      .selectExpr("doc_id", "lang_hits(text).n AS w",
        "CAST(n_chars AS BIGINT) AS nc", "lang_hits(text).en AS h")
      .selectExpr("doc_id",
        "(20000 * (5 * least(w, 100) * w + 300 * h + 20 * least(nc, 10 * w)) + 1000 * w) " +
          "DIV (2000 * w) AS q10k")
      .orderBy(desc("q10k"), col("doc_id")).limit(cand)
      .withColumn("r_q", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(desc("q10k"), col("doc_id"))))
      .select("doc_id", "r_q")
    val ll = qT20(s, dir)
      .orderBy(desc("ll_pm"), col("doc_id")).limit(cand)
      .withColumn("r_l", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(desc("ll_pm"), col("doc_id"))))
      .select("doc_id", "r_l")
    q10k.join(ll, Seq("doc_id"), "full_outer")
      .selectExpr("doc_id", "coalesce(r_q, 0L) AS r_q", "coalesce(r_l, 0L) AS r_l",
        "coalesce(1000000 DIV (60 + r_q), 0L) + coalesce(1000000 DIV (60 + r_l), 0L) AS rrf_s")
      .orderBy(desc("rrf_s"), col("doc_id"))
      .limit(20)
  }

  /** Q-T24 — FUZZY DECONTAMINATION: corpus documents that are NEAR-DUPS of
    * an eval-set document (doc_id < 20, [[qT11]]'s declared benchmark
    * stand-in), via MinHash-LSH banding + exact shingle-Jaccard verify.
    * [[qT11]]'s exact 8-gram pass catches verbatim leakage; a lightly
    * paraphrased or reformatted eval answer shares few exact 8-grams but
    * keeps high shingle Jaccard — this is the second decontamination pass
    * production pipelines run (fuzzy MinHash dedup against evals, the
    * GPT-3-appendix / Dolma-style hygiene step). Output per flagged-
    * candidate corpus doc: collision count, max verified Jaccard
    * (permyriad), and the flag at jac ≥ 0.2.
    *
    * Scale: the corpus side pays ONE fused map-only signature pass
    * ([[graft.operators.Dedup.minhashSig]]'s kernel — no explode, no agg);
    * the eval side is benchmark-sized, so ITS band keys broadcast and the
    * candidate join is map-only on the corpus stream (never corpus ×
    * corpus — unlike [[Dedup.qD4]] this doesn't even need the band
    * self-join shuffle). Verification tokenizes candidates only, with the
    * bounded eval shingle side broadcast. */
  def qT24(s: SparkSession, dir: String): DataFrame =
    fuzzyEvalPairs(s, dir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_eval_hits"), max("jac_e4").as("max_jac_e4"))
      .withColumn("flagged", (col("max_jac_e4") >= 2000).cast("long"))
      .orderBy("doc_id")

  /** [[qT24]]'s verified (corpus doc, eval doc, exact shingle-Jaccard)
    * candidate frame — the shared core of both rollup directions: qT24
    * reports per CORPUS doc (which training docs to drop), [[qT38]]'s
    * fuzzy leg per EVAL doc (which benchmark rows are dirty). */
  private[graft] def fuzzyEvalPairs(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val bands = Dedup.minhashSig(s, dir).selectExpr("doc_id",
      """explode(array(
        |  named_struct('band', 1, 'bk', concat(m1, '_', m2)),
        |  named_struct('band', 2, 'bk', concat(m3, '_', m4)))) AS b""".stripMargin)
      .selectExpr("doc_id", "b.band AS band", "b.bk AS bk")
    val evalB = bands.where(col("doc_id") < 20)
      .withColumnRenamed("doc_id", "e_id")
    val cand = bands.where(col("doc_id") >= 20)
      .join(broadcast(evalB), Seq("band", "bk"))
      .select("doc_id", "e_id").distinct()
    val docs = Tables.documents(s, dir)
    val gc = docs.join(broadcast(cand.select("doc_id").distinct()), Seq("doc_id"))
      .selectExpr("doc_id", "word_shingles(text, 3) AS gc")
    val ge = docs.where(col("doc_id") < 20)
      .join(broadcast(cand.select("e_id").distinct()),
        col("doc_id") === col("e_id"))
      .selectExpr("e_id", "word_shingles(text, 3) AS ge")
    cand.join(gc, "doc_id").join(broadcast(ge), "e_id")
      .withColumn("jac_e4",
        expr("(CAST(size(array_intersect(gc, ge)) AS BIGINT) * 10000) DIV size(array_union(gc, ge))"))
      .select("doc_id", "e_id", "jac_e4")
  }

  /** Q-T25 — TOKEN FREQUENCY SPECTRUM (Zipf/Heaps audit): group the
    * vocabulary by floor-log2 of term frequency and report, per bin, the
    * number of types and their total occurrence mass plus per-mille
    * shares. The frequency spectrum is the one-table corpus fingerprint
    * behind Zipf's law (mass per log-frequency bin ~ flat for natural
    * text) and Heaps' law (how fast vocabulary grows) — the audit that
    * flags a machine-generated or template-heavy crawl slice (hapax bin
    * collapses, head bin bloats) before it contaminates a training mix,
    * and the input to tokenizer-vocabulary sizing.
    *
    * Exactness: floor-log2 via `length(bin(c)) - 1` (the q_t20 idiom —
    * transcendental log() is not bit-stable across engines); shares are
    * integer per-mille DIV against 1-row broadcast totals.
    *
    * Scale: one tokenize-explode with map-side partial agg builds the
    * term-frequency frame (the qX4 shape); the spectrum reduces the
    * VOCABULARY-sized frame to ≤ 64 bins; totals are a 1-row broadcast
    * joined back. Nothing after the first exchange is corpus-sized. */
  def qT25(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bins = tf
      .select((length(expr("bin(c)")) - 1).cast("long").as("bin"), col("c"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_types"), sum("c").as("occ_mass"))
    val tot = bins.agg(sum("n_types").as("vocab"), sum("occ_mass").as("total"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_types"), col("occ_mass"),
        expr("(n_types * 1000) DIV vocab").as("type_pm"),
        expr("(occ_mass * 1000) DIV total").as("mass_pm"))
      .orderBy("bin")
  }

  /** Q-T26 — DEDUP-AWARE TRAINING MIX: the [[qT22]] per-language token
    * mass recomputed AFTER keep-one-per-cluster dedup ([[qT19]]'s
    * survivors), side by side with the raw mass — docs and tokens before
    * vs after, with integer per-mille retention. The number that matters:
    * mixture weights tuned on RAW token counts are wrong exactly when
    * duplication is language-skewed (a heavily-mirrored language looks
    * bigger than the text it actually contributes), so a loader must
    * reweight on EFFECTIVE tokens — this is the query that prices that
    * correction, per language.
    *
    * Round 15: the drop set is the COHESION-GATED keeper's
    * ([[Dedup.gatedKeepMembers]], [[qT39]]'s core) — non-survivors per
    * gate-passing component or, for chain components failing the q_g10
    * gate, per LPA community. The mix this query prices is therefore the
    * mix the SAFE dedup actually ships, not the one a cohesion-blind
    * collapse would (which on this corpus would mis-drop ~3225 chain
    * members and skew every per-language retention number below).
    *
    * Scale: the drop set (non-survivor members of simhash components) is
    * GRAPH-sized, never corpus-sized, so the doc-side exclusion is a
    * broadcast anti-join and the corpus streams once through tokenize +
    * per-language reduce (the qT22 plan plus one broadcast). The component
    * map and ranks come from the durable [[DupClusters]] artifact — a warm
    * run's only corpus work is the tokenize pass the token accounting
    * itself requires; the graph is never re-mined. */
  def qT26(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val idx = DupClusters.build(s, dir)
    // same severed inputs as qT39 — the drop set this query prices is the
    // one the SAFE dedup actually ships
    val surviving = idx.pairs.join(idx.refuted, Seq("a_id", "b_id"), "left_anti")
    val dropped = Dedup.gatedKeepMembers(s, surviving, idx.severed)
      .where(col("rn") > 1)
      .select(col("id").as("drop_id"))
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
      size(filter(split(lower(col("text")), " "), w => w =!= ""))
        .cast("long").as("ntok"))
    val before = docs.groupBy("lang")
      .agg(count(lit(1)).as("docs_before"), sum("ntok").as("tokens_before"))
    val after = docs
      .join(broadcast(dropped), col("doc_id") === col("drop_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("docs_after"), sum("ntok").as("tokens_after"))
    before.join(after, Seq("lang"), "left")
      .select(col("lang"), col("docs_before"),
        coalesce(col("docs_after"), lit(0L)).as("docs_after"),
        col("tokens_before"),
        coalesce(col("tokens_after"), lit(0L)).as("tokens_after"))
      .select(col("lang"), col("docs_before"), col("docs_after"),
        col("tokens_before"), col("tokens_after"),
        expr("(docs_after * 1000) DIV docs_before").as("kept_docs_pm"),
        expr("CASE WHEN tokens_before = 0 THEN 1000 " +
          "ELSE (tokens_after * 1000) DIV tokens_before END").as("kept_tokens_pm"))
      .orderBy("lang")
  }

  /** Q-T27 — TEMPERATURE-RESAMPLED language mix (α = 1/2): [[qT22]] flattens
    * the mix all the way to uniform; the standard production compromise
    * (UniMax / mT5-style temperature sampling) resamples language l with
    * probability ∝ mass^α, 0 < α < 1 — boosting tails without letting a
    * 50-doc language repeat until it memorizes. α = 1/2 is the one exponent
    * in that family with an ENGINE-EXACT form: pow(x, 0.5) is IEEE-754
    * `sqrt`, correctly rounded by mandate in both the JVM and DuckDB, so
    * `floor(sqrt(tokens))` is bit-stable cross-engine where a general
    * `pow(tokens, 0.3)` (exp/ln composition, implementation-defined ULP)
    * is not. Emits per language: token mass, the proportional share, the
    * temperature share, and the resampling boost each document in that
    * language gets under the new mix — all integer per-mille
    * (boost_pm = (tshare_pm · 1000) DIV share_pm).
    *
    * OVERFLOW CONTRACT: boost_pm is defined on the per-mille-ROUNDED
    * shares, not the raw masses. The raw form
    * ((s_l · T · 1000) DIV (tokens · S)) overflows Int64 once
    * T · s_half_l exceeds ~9.2e15 (a 1e12-token corpus with one
    * 1e10-token language crosses it), and Spark wraps silently in
    * non-ANSI mode while DuckDB widens — the cross-engine-exact claim
    * would break exactly at the 100 TB posture. The rounded form's
    * intermediates are ≤ 1e6 by construction; the only remaining Int64
    * bound is tokens·1000 < 2^63, i.e. a ~9.2e15-token (≈ 37 PB text)
    * corpus — documented, far above posture. Rounding: boost resolution
    * is 1/1000 compounded through two per-mille floors (monotone,
    * reproducible in both engines); a language under 1/1000 of corpus
    * mass has share_pm = 0 → boost_pm NULL (declared, NULLIF-guarded in
    * both engines) rather than a division error.
    *
    * Scale: identical shape to [[qT22]] — the corpus reduces to an L-row
    * frame in one tokenize pass with map-side partial aggregation; the
    * sqrt/share arithmetic runs over those L rows and a broadcast 1-row
    * total. Nothing downstream of the first agg scales with the corpus. */
  def qT27(s: SparkSession, dir: String): DataFrame = {
    val perLang = Tables.documents(s, dir)
      .select(col("lang"),
        size(filter(split(lower(col("text")), " "), w => w =!= ""))
          .cast("long").as("ntok"))
      .groupBy("lang")
      .agg(sum("ntok").as("tokens"))
      .withColumn("s_half", expr("CAST(floor(sqrt(tokens)) AS BIGINT)"))
    val tot = perLang.agg(sum("tokens").as("t"), sum("s_half").as("sh"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("tokens"),
        expr("(tokens * 1000) DIV t").as("share_pm"),
        expr("(s_half * 1000) DIV sh").as("tshare_pm"))
      .withColumn("boost_pm",
        expr("(tshare_pm * 1000) DIV NULLIF(share_pm, 0)"))
      .orderBy("lang")
  }

  /** Q-T28 — BPE MERGE-PAIR INDUCTION (one round): the top-20 adjacent
    * character pairs by corpus occurrence mass — exactly the statistic the
    * first merge round of byte-pair-encoding tokenizer training (Sennrich
    * et al. 2016) maximizes, and the missing primitive between
    * [[qT25]]'s frequency spectrum (which sizes a vocabulary) and an
    * actual learned vocabulary. Real BPE trainers iterate this: count
    * pairs, merge the argmax, recount; ONE deterministic round is the
    * oracle-checkable unit (iterated merges change the symbol alphabet,
    * which SQL replays poorly), and the round's top-k IS the merge list a
    * trainer would commit.
    *
    * The trick that makes this scale is the same one production BPE uses:
    * pairs are counted over the WORD-FREQUENCY TABLE, not the token
    * stream — the corpus reduces to (word, count) in one map-combined
    * shuffle (vocabulary-sized, qT9's tf shape), and the pair explode
    * (len−1 substrings per DISTINCT word, weighted by its count) runs
    * over that table. At 100 TB the token stream is petabytes; the
    * vocabulary is megabytes. Top-20 is a TakeOrdered, never a global
    * sort; (count desc, pair asc) is a total order, so the result is
    * deterministic cross-engine. Words under 2 chars carry no pair and
    * are filtered BEFORE the explode (also: Spark's `sequence(1, 0)`
    * counts DOWN, which would fabricate pairs — the filter is
    * correctness, not just economy). */
  def qT28(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("n"))
    words.where(length(col("w")) >= 2)
      .selectExpr("n",
        "explode(transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))) AS pair")
      .groupBy("pair").agg(sum("n").as("n_occ"))
      .orderBy(desc("n_occ"), col("pair"))
      .limit(20)
  }

  /** Q-T29 — BIGRAM-LM QUALITY SCORE, the second-order companion to
    * [[qT20]]'s unigram model (the CCNet/KenLM idea one order up): score
    * each document by the mean predictability of its adjacent token pairs
    * under a corpus-trained bigram model. A document can pass the unigram
    * filter with perfectly common words in an ORDER no natural text uses
    * (shuffled scrapes, keyword stuffing, table dumps) — the bigram score
    * is what catches it, because p(w2|w1) collapses on unnatural
    * transitions.
    *
    * Integer surrogate (engine-exact, the [[qT20]] floor-log2 idiom):
    * per pair occurrence, bits = floor-log2((c12 · 1024) DIV c1) via
    * `length(bin(x)) − 1` — ≈ 10 + log2(p(w2|w1)) clamped at 0 — with
    * c12 the corpus count of the pair and c1 the count of w1 as a LEFT
    * element (so Σ_w2 p(w2|w1) = 1 by construction). The doc score is the
    * tf-weighted mean in per-mille, over docs with ≥ 1 pair. Adjacency is
    * over the ""-filtered token sequence (deterministic in both engines).
    *
    * Scale: one tokenize-explode pass builds the (doc, bigram) tf frame
    * with map-side combine — the pairing runs in the codegen'd
    * [[graft.functions.WordBigrams]] kernel (`word_bigrams`), not an
    * interpreted HOF, so the scan stays inside whole-stage codegen
    * ([[qT29Hof]] keeps the composable form, spec-pinned bit-equal); the
    * corpus bigram table reduces FROM that frame and the left-unigram
    * table from the bigram table (both vocabulary-shaped, far below the
    * token stream; w1 recovers via `substring_index` — tokens contain no
    * spaces); scoring joins the doc-bigram frame against the bits table
    * bigram-keyed — at 100 TB flip [[Dedup.gramHashKeys]] and the join
    * keys on the gram's 128-bit hash so the join/shuffle keys stay
    * fixed-width (the bits side then carries only (h1, h2, bits) rows —
    * fully fixed-width), exactly the q_d16/q_d18 posture; [[qT29Keyed]]
    * is spec-pinned bit-equal to the string-keyed form. */
  def qT29(s: SparkSession, dir: String): DataFrame =
    qT29Keyed(s, dir, Dedup.gramHashKeys)

  private[graft] def qT29Keyed(s: SparkSession, dir: String,
                               hashKeys: Boolean): DataFrame = {
    GraftFunctions.register(s)
    val bg0 = Tables.documents(s, dir)
      .selectExpr("doc_id", "explode(word_bigrams(text)) AS gram")
    val bg =
      if (hashKeys)
        bg0.select((Seq(col("doc_id")) ++ Dedup.gramKey(col("gram")) :+
            col("gram")): _*)
          .groupBy("doc_id", "h1", "h2")
          .agg(min("gram").as("gram"), count(lit(1)).as("tf"))
      else bg0.groupBy("doc_id", "gram").agg(count(lit(1)).as("tf"))
    val keys = if (hashKeys) Seq("h1", "h2") else Seq("gram")
    val big =
      if (hashKeys) bg.groupBy("h1", "h2")
        .agg(min("gram").as("gram"), sum("tf").as("c12"))
      else bg.groupBy("gram").agg(sum("tf").as("c12"))
    val unil = big
      .groupBy(expr("substring_index(gram, ' ', 1)").as("w1"))
      .agg(sum("c12").as("c1"))
    val bits = big
      .withColumn("w1", expr("substring_index(gram, ' ', 1)"))
      .join(unil, "w1")
      .select((keys.map(col) :+
        (length(expr("bin((c12 * 1024) DIV c1)")) - 1).cast("long").as("bits")): _*)
    bg.join(bits, keys)
      .groupBy("doc_id")
      .agg(sum("tf").as("n_pairs"),
        sum(col("tf") * col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("n_pairs"),
        expr("(sum_bits * 1000) DIV n_pairs").as("bll_pm"))
      .orderBy("doc_id")
  }

  /** Q-T32 — CURATION FUNNEL: the per-stage attrition report of the whole
    * pipeline — [[qT5]] composes the filters into one keep/drop gate and
    * reports what SURVIVES; this reports what each stage COSTS, which is
    * the number a pipeline review actually reads ("decontam dropped 4‰,
    * dedup dropped 31%"). Stages run SEQUENTIALLY (each stage's input is
    * the previous stage's survivors — funnel semantics, deliberately
    * different from qT5's filter-conjunction accounting):
    *   1. quality  — the qT2/qT5 integer composite, q10k >= 5000;
    *   2. lang_id  — a confident language prediction (not 'und');
    *   3. exact_dedup — min-doc-id-wins per content hash AMONG the stage-2
    *      survivors (a dropped low-quality doc must not shadow its
    *      surviving duplicate);
    *   4. decontam — drop survivors sharing an 8-token gram with the eval
    *      set (doc_id < 20, the qT11/qT31 declared bound; the corpus side
    *      of the funnel is doc_id >= 20 for the same reason).
    * Output: one row per stage — (stage_id, stage, n_in, n_out, drop_pm).
    *
    * Scale (plan-audited, PlanAuditSpec): TWO corpus scans, and corpus
    * text NEVER crosses an exchange — columnar re-scan is cheaper at
    * 100 TB than caching text or dragging it through a shuffle. Scan 1
    * computes every per-row signal map-side and DROPS text before the
    * dedup keeper's min-over-hash-partition window (the chash exchange
    * carries only ids + flags). Scan 2 is the contamination lane: since
    * the eval side broadcasts, "shares an eval gram" is DOC-INTRINSIC —
    * flagging every corpus doc map-only and AND-ing with p3 is exactly
    * "decontam among the dedup survivors", so the gram lane needs neither
    * the window nor the survivor set (its only shuffle is the
    * eval-bounded hit-id distinct). Like qT31 it has a
    * [[Dedup.gramHashKeys]] fixed-width-key twin ([[qT32Keyed]],
    * spec-pinned bit-equal) so at 100 TB the gram string drops out of the
    * join entirely. The final counts are one aggregate row unpivoted
    * driver-free with `stack`; no stage materializes an intermediate
    * corpus. */
  def qT32(s: SparkSession, dir: String): DataFrame =
    qT32Keyed(s, dir, Dedup.gramHashKeys)

  private[graft] def qT32Keyed(s: SparkSession, dir: String,
                               hashKeys: Boolean): DataFrame = {
    GraftFunctions.register(s)
    val base = Tables.documents(s, dir).where(col("doc_id") >= 20)
      .selectExpr("doc_id", "text", "md5(lower(text)) AS chash",
        "CAST(n_chars AS BIGINT) AS nc", "lang_hits(text) AS lh")
      .selectExpr("doc_id", "text", "chash", "nc", "lh.n AS w",
        "lh.en AS en_hits", "lh.es AS es_hits",
        "lh.de AS de_hits", "lh.fr AS fr_hits")
      .selectExpr("doc_id", "text", "chash",
        "(20000 * (5 * least(w, 100) * w + 300 * en_hits + 20 * least(nc, 10 * w)) + 1000 * w) " +
          "DIV (2000 * w) AS q10k",
        """CASE
          |  WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits > 0 THEN 'en'
          |  WHEN es_hits >= de_hits AND es_hits >= fr_hits AND es_hits > 0 THEN 'es'
          |  WHEN de_hits >= fr_hits AND de_hits > 0 THEN 'de'
          |  WHEN fr_hits > 0 THEN 'fr'
          |  ELSE 'und'
          |END AS lang_pred""".stripMargin)
      .withColumn("p1", col("q10k") >= 5000)
      .withColumn("p2", col("p1") && col("lang_pred") =!= "und")
    val keeper = min(when(col("p2"), col("doc_id")))
      .over(org.apache.spark.sql.expressions.Window.partitionBy("chash"))
    // text is DROPPED before the window so the chash exchange ships only
    // ids + flags (see scaladoc — the 100 TB invariant the plan audit pins)
    val deduped = base.drop("text")
      .withColumn("p3", col("p2") && col("doc_id") === keeper)
    def keyed(g: DataFrame): DataFrame =
      if (hashKeys)
        g.select((Seq(col("doc_id")) ++ Dedup.gramKey(col("gram"))): _*)
      else g
    val keys = if (hashKeys) Seq("h1", "h2") else Seq("gram")
    val evalGrams = keyed(tokenGrams(Tables.documents(s, dir)
      .where(col("doc_id") < 20))).select(keys.head, keys.tail: _*).distinct()
    // doc-intrinsic contamination flag over the WHOLE corpus side (map-only
    // against the broadcast eval grams); p4 = p3 AND NOT bad is identical
    // to flagging only the dedup survivors
    val contaminated = keyed(tokenGrams(Tables.documents(s, dir)
        .where(col("doc_id") >= 20).select("doc_id", "text")))
      .join(broadcast(evalGrams), keys)
      .select("doc_id").distinct()
    deduped
      .join(contaminated.withColumn("bad", lit(true)), Seq("doc_id"), "left")
      .withColumn("p4", col("p3") && col("bad").isNull)
      .agg(count(lit(1)).as("n0"),
        sum(when(col("p1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("p2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("p3"), 1L).otherwise(0L)).as("n3"),
        sum(when(col("p4"), 1L).otherwise(0L)).as("n4"))
      .selectExpr("stack(4, " +
        "1L, 'quality', n0, n1, " +
        "2L, 'lang_id', n1, n2, " +
        "3L, 'exact_dedup', n2, n3, " +
        "4L, 'decontam', n3, n4) AS (stage_id, stage, n_in, n_out)")
      .withColumn("drop_pm", expr("((n_in - n_out) * 1000) DIV n_in"))
      .orderBy("stage_id")
  }

  /** Q-T31 — EVAL-SIDE CONTAMINATION MASS: [[qT11]] flags TRAINING docs
    * that leak an eval gram; this reports the number decontamination
    * actually publishes — per EVAL document, how much of it the training
    * corpus already contains: distinct 8-gram count, grams found anywhere
    * in training, and `contam_pm` (the GPT-3-appendix "dirtiness"
    * fraction a benchmark run thresholds on before trusting its scores —
    * an eval example that is 80% present in training measures memory, not
    * generalization). Same declared eval bound as qT11 (doc_id < 20).
    *
    * Scale: the eval side is benchmark-sized — its per-doc distinct gram
    * frame broadcasts; the training corpus streams MAP-ONLY through one
    * hash join (no corpus shuffle at all: the hit-set distinct and the
    * final per-eval-doc count are bounded by eval gram counts, not corpus
    * size). Work is corpus-linear, never corpus × eval — and at 100 TB
    * the same [[Dedup.gramHashKeys]] fixed-width-key form applies (the
    * gram string drops out entirely: every join/group key becomes the
    * 128-bit hash; [[qT31Keyed]] is spec-pinned bit-equal). */
  def qT31(s: SparkSession, dir: String): DataFrame =
    qT31Keyed(s, dir, Dedup.gramHashKeys)

  private[graft] def qT31Keyed(s: SparkSession, dir: String,
                               hashKeys: Boolean): DataFrame = {
    val docs = Tables.documents(s, dir)
    def keyed(g: DataFrame): DataFrame =
      if (hashKeys)
        g.select((Seq(col("doc_id")) ++ Dedup.gramKey(col("gram"))): _*)
      else g
    val keys = if (hashKeys) Seq("h1", "h2") else Seq("gram")
    val evalG = keyed(tokenGrams(docs.where(col("doc_id") < 20))).distinct()
    val hit = keyed(tokenGrams(docs.where(col("doc_id") >= 20)))
      .join(broadcast(evalG.select(keys.head, keys.tail: _*).distinct()), keys)
      .select(keys.head, keys.tail: _*).distinct() // bounded by eval grams
    evalG.join(broadcast(hit.withColumn("h", lit(1))), keys, "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("h").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        expr("(n_hit * 1000) DIV n_grams").as("contam_pm"))
      .orderBy("doc_id")
  }

  /** Q-T35 — SEMANTIC DECONTAMINATION: the third leg of the decontam
    * battery ([[qT11]] exact grams, [[qT24]] fuzzy edit-verified; this one
    * catches PARAPHRASED leakage that shares no verbatim or near-verbatim
    * span): per eval document (vec_id < 20, the declared benchmark bound),
    * its nearest TRAINING-side embedding by exact cosine, and a
    * contamination flag at sim >= 0.995 — the directional eval→train pass
    * a pretraining team runs with the embedding model it trusts.
    *
    * Scale: the eval side is benchmark-sized and BROADCASTS; the training
    * corpus streams map-only through the codegen'd cosine kernel into a
    * per-eval argmax — exact by construction (this is the decision that
    * wants exactness; the IVF-served lane of [[graft.operators.Similarity
    * .qSim17]] / the [[graft.operators.Dedup]] q_d15 machinery is the
    * approximate scale path when even one corpus stream per eval batch is
    * too much). Ties break on the lower training id, the sim-family
    * convention. */
  def qT35(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val q = e.selectExpr("vec_id AS q_id", "embedding AS eq")
      .where(col("q_id") < 20)
    val c = e.selectExpr("vec_id AS n_id", "embedding AS en")
      .where(col("n_id") >= 20)
    // the per-eval argmax is a PARTIAL-AGGREGABLE max_by, never a window:
    // a rank-everything window would shuffle all |eval| x N joined rows
    // into <= |eval| partitions and SORT each partition's corpus-sized
    // candidate list — parallelism capped at the eval-doc count at 100x.
    // max_by combines map-side, shuffles <= |eval| rows per partition,
    // and never sorts; tie-break on the LOWER training id via the
    // negated-id second comparator field (sim-family convention).
    broadcast(q).join(c, col("q_id") =!= col("n_id"))
      .withColumn("sim_raw", expr("cosine_sim(eq, en)"))
      .groupBy("q_id")
      .agg(expr("max_by(named_struct('n_id', n_id, 'sim_raw', sim_raw), " +
        "named_struct('s', sim_raw, 'ni', -n_id))").as("best"))
      // the flag thresholds the ROUNDED sim — the family's cross-engine
      // equalizer (raw doubles differ in ulps between engines' sum orders)
      .selectExpr("q_id", "best.n_id AS n_id", "ROUND(best.sim_raw, 4) AS sim",
        "CAST(CASE WHEN ROUND(best.sim_raw, 4) >= 0.995 THEN 1 ELSE 0 END AS BIGINT) AS contaminated")
      .orderBy("q_id")
  }

  /** Q-T36 — SERVED SEMANTIC DECONTAMINATION: [[qT35]]'s scale lane, made
    * real (VERDICT r13 task 2 — the path q_t35's scaladoc promised in
    * prose). The nightly decontam a pretraining team runs against a
    * 100 TB corpus cannot stream the corpus once per eval batch; it
    * probes the DURABLE int8 IVF index instead:
    *
    *  - stage 1: each eval doc (vec_id < 20) quantizes with the index's
    *    FROZEN scale, ranks its `nprobe` = 4 nearest cells with the
    *    registered centroid expression, and shortlists the top-10
    *    TRAINING-side members (vec_id >= 20 — the directional eval→train
    *    restriction [[qT35]] makes by construction) of those cells by the
    *    exact BIGINT int8 dot — the [[graft.operators.Similarity.IvfIndex
    *    .probeInt8]] serving lane with the train-side filter inside the
    *    ranking, so the shortlist is never diluted by other eval docs;
    *  - stage 2: ONLY the <= 10-per-eval shortlist fetches float vectors
    *    (an equi-join against the cached assignment — index files, no
    *    corpus pass) and re-scores with exact cosine; the per-eval argmax
    *    is the same partial-aggregable max_by as [[qT35]], and the flag
    *    thresholds the same ROUND(sim, 4) >= 0.995.
    *
    * Approximate by construction (candidates ⊆ probed cells), so its flag
    * can only MISS vs [[qT35]], never false-positive: the subset argmax is
    * <= the exact argmax and rounding is monotone — RecallSpec measures
    * the agreement on the warm index instead of assuming it. Warm scale
    * shape: probes broadcast; candidate work is Σ|probed cells| int8 rows
    * (1/4 the float bytes); the only corpus-sized frames are the cached
    * index lanes. Oracle replays quantization, cell ranking, the int8
    * shortlist, and the rerank arithmetically. */
  def qT36(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val idx = Similarity.IvfIndex.build(s, dir, lloydIters = 0)
    val nprobe = Similarity.IvfProbe
    val shortR = 10
    val probes = Tables.embeddings(s, dir).where(col("vec_id") < 20)
      .selectExpr("vec_id AS q_id", "embedding AS eq",
        Similarity.IvfIndex.quantizeExpr("embedding", idx.scale) + " AS qq",
        s"explode(${idx.fn}(embedding, $nprobe)) AS cell")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("qdot"), col("n_id"))
    val short = broadcast(probes).join(idx.qassigned, "cell")
      .where(col("vec_id") >= 20) // directional: train side only
      .selectExpr("q_id", "eq", "vec_id AS n_id", "int_dot(qq, qv) AS qdot")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= shortR)
      .select("q_id", "eq", "n_id")
    // stage 2: the shortlist BROADCASTS into the float-lane fetch
    // (q_sim16's refine shape) — <= |eval| x 10 vector reads, then the
    // qT35 argmax/flag contract verbatim
    idx.assigned.select(col("vec_id").as("n_id"), col("embedding").as("en"))
      .join(broadcast(short), "n_id")
      .withColumn("sim_raw", expr("cosine_sim(eq, en)"))
      .groupBy("q_id")
      .agg(expr("max_by(named_struct('n_id', n_id, 'sim_raw', sim_raw), " +
        "named_struct('s', sim_raw, 'ni', -n_id))").as("best"))
      .selectExpr("q_id", "best.n_id AS n_id", "ROUND(best.sim_raw, 4) AS sim",
        "CAST(CASE WHEN ROUND(best.sim_raw, 4) >= 0.995 THEN 1 ELSE 0 END AS BIGINT) AS contaminated")
      .orderBy("q_id")
  }

  /** Q-T38 — EVAL DECONTAMINATION REPORT: the one table a benchmark owner
    * actually reads — per EVAL doc (doc_id/vec_id < 20, the family's
    * declared benchmark bound), all three decontam legs side by side and
    * a combined verdict:
    *
    *  - `exact_pm` — [[qT31]]'s verbatim-8-gram dirtiness per-mille;
    *  - `n_fuzzy` / `max_jac_e4` / `fuzzy` — [[qT24]]'s MinHash-LSH +
    *    edit-verified lane rolled up in the EVAL direction (which
    *    benchmark rows are dirty, vs qT24's which training docs to drop)
    *    from the SAME [[fuzzyEvalPairs]] frame, flag at >= 0.2 Jaccard;
    *  - `sem_sim` / `semantic` — [[qT35]]'s paraphrase leg (exact cosine
    *    vs the nearest training embedding, flag at rounded >= 0.995);
    *  - `clean` = 1 iff every leg is clear — the row a leaderboard run
    *    cites when it claims its eval set is uncontaminated.
    *
    * Scale: pure COMPOSITION — each leg keeps its own audited plan (eval
    * sides broadcast, training streams map-only / served lanes); the
    * report joins three <= |eval|-row frames, all broadcast. The base is
    * the EVAL DOCUMENT SET itself (doc_id < 20 from the documents table,
    * ADVICE r14) — an eval doc missing an embeddings row still appears,
    * with its exact/fuzzy legs live and sem_sim coalesced to 0.0, instead
    * of silently vanishing from the report on the strength of the
    * dataset's doc↔embedding 1:1 invariant; legs that drop a doc (too
    * short for grams, no band collision, no embedding) coalesce to their
    * clean value, which is exactly what absence means there. At
    * 100 TB the semantic leg swaps to the IVF-served [[qT36]] (same
    * output contract; flag agreement vs the exact lane measured in
    * RecallSpec) — a one-line substitution, kept exact here because the
    * REPORT is the artifact a leaderboard cites and the oracle pins the
    * exact form. */
  def qT38(s: SparkSession, dir: String): DataFrame = {
    val exact = qT31(s, dir).selectExpr("doc_id AS q_id", "contam_pm AS exact_pm")
    val fuzzy = fuzzyEvalPairs(s, dir)
      .groupBy(col("e_id").as("q_id"))
      .agg(count(lit(1)).as("n_fuzzy"), max("jac_e4").as("max_jac_e4"))
      .withColumn("fuzzy", (col("max_jac_e4") >= 2000).cast("long"))
    val sem = qT35(s, dir)
      .selectExpr("q_id", "sim AS sem_sim", "contaminated AS semantic")
    Tables.documents(s, dir).where(col("doc_id") < 20)
      .select(col("doc_id").as("q_id"))
      .join(broadcast(exact), Seq("q_id"), "left")
      .join(broadcast(fuzzy), Seq("q_id"), "left")
      .join(broadcast(sem), Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("exact_pm"), lit(0L)).as("exact_pm"),
        coalesce(col("n_fuzzy"), lit(0L)).as("n_fuzzy"),
        coalesce(col("max_jac_e4"), lit(0L)).as("max_jac_e4"),
        coalesce(col("fuzzy"), lit(0L)).as("fuzzy"),
        coalesce(col("sem_sim"), lit(0.0)).as("sem_sim"),
        coalesce(col("semantic"), lit(0L)).as("semantic"))
      .withColumn("clean",
        when(col("exact_pm") === 0 && col("fuzzy") === 0 &&
          col("semantic") === 0, 1L).otherwise(0L))
      .orderBy("q_id")
  }

  /** Q-T37 — INTRA-DOCUMENT REPETITION (the Gopher dup-n-gram family,
    * Rae et al. 2021 §A1.1): per document, what fraction of its 2-gram
    * and 3-gram OCCURRENCES belong to an n-gram repeated WITHIN the
    * document — the signal that catches template spam, keyword stuffing,
    * and looping generation that sails through [[qT12]]'s top-TOKEN mass
    * (rep-1) and is invisible to [[graft.operators.Dedup.qD17]]'s
    * corpus-level duplication (a doc can be 90% self-repetition while
    * every gram is corpus-unique). `keep` applies Gopher-inspired
    * thresholds on the occurrence mass (<= 200 pm for 2-grams, <= 180 pm
    * for 3-grams — Gopher's 0.20/0.18, stated there over character mass;
    * occurrence mass keeps the metric integer-exact and tokenizer-free).
    *
    * Exactness: pure integer counts and per-mille integer DIV; a doc too
    * short for 3-grams reports occ3 = 0 / dup3_pm = 0 via the zero guard
    * (never a divide-by-zero on either engine). Round 15 (ADVICE r14):
    * the result is TOTAL over the corpus — docs with fewer than 2 tokens
    * (both gram lanes empty) anchor on the documents frame and emit
    * occ2 = occ3 = 0 / keep = 1, so a consumer joining on the keep gate
    * sees every document instead of silently losing the too-short ones.
    *
    * Scale: per n, ONE explode-shuffle into (doc, gram)-keyed counts with
    * map-side combine (the [[qT12]]/[[graft.operators.Dedup.qD17]]
    * shape), reduced doc-keyed; the two n-lanes meet in a doc-keyed
    * full-outer join of doc-sized frames. At 100 TB the gram string drops
    * out of the shuffle entirely via [[graft.operators.Dedup.gramHashKeys]]
    * (fixed-width 128-bit keys, spec-pinned bit-equal); the sf-scale
    * default keeps the string for oracle readability. */
  def qT37(s: SparkSession, dir: String): DataFrame =
    qT37Keyed(s, dir, Dedup.gramHashKeys)

  private[graft] def qT37Keyed(s: SparkSession, dir: String,
                               hashKeys: Boolean): DataFrame = {
    val docs = Tables.documents(s, dir)
    def mass(n: Int, occ: String, dup: String): DataFrame = {
      val grams = docs
        .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
        .select(col("doc_id"), explode(when(size(col("w")) >= n,
            expr(s"transform(sequence(1, size(w) - ${n - 1}), " +
              s"i -> array_join(slice(w, i, $n), ' '))"))
          .otherwise(expr("CAST(array() AS array<string>)"))).as("gram"))
      val perGram =
        if (hashKeys)
          grams.select((Dedup.gramKey(col("gram")) :+ col("doc_id")): _*)
            .groupBy("doc_id", "h1", "h2").agg(count(lit(1)).as("c"))
        else grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
      perGram.groupBy("doc_id").agg(
        sum("c").as(occ),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as(dup))
    }
    docs.select(col("doc_id"))
      .join(mass(2, "occ2", "dup2"), Seq("doc_id"), "left")
      .join(mass(3, "occ3", "dup3"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("occ2"), lit(0L)).as("occ2"),
        coalesce(col("occ3"), lit(0L)).as("occ3"),
        expr("CASE WHEN coalesce(occ2, 0L) = 0 THEN 0L " +
          "ELSE (coalesce(dup2, 0L) * 1000) DIV occ2 END").as("dup2_pm"),
        expr("CASE WHEN coalesce(occ3, 0L) = 0 THEN 0L " +
          "ELSE (coalesce(dup3, 0L) * 1000) DIV occ3 END").as("dup3_pm"))
      .withColumn("keep",
        when(col("dup2_pm") <= 200 && col("dup3_pm") <= 180, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Q-T33 — DSIR-STYLE IMPORTANCE WEIGHTS: rank the raw pool by how
    * target-like each document's token distribution is — the data-selection
    * step (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling") a domain-targeted pretraining mix runs before
    * sampling. Target = `doc_id < 20` (the qT11/qT31 declared benchmark
    * bound standing in for the domain sample), raw pool = the rest. Per
    * raw document: importance weight = Σ_w tf_w · llr(w), where llr is the
    * Laplace-smoothed log-likelihood ratio of the target vs raw unigram
    * models. DSIR hashes n-grams into buckets; here the feature is the
    * token itself (exactly [[qT20]]'s vocabulary), which keeps the oracle
    * replayable and admits the [[Dedup.gramHashKeys]] fixed-width twin for
    * the 100 TB join ([[qT33Keyed]], spec-pinned bit-equal).
    *
    * Exactness: transcendental log() is not bit-stable across engines
    * ([[qT20]]'s lesson), so llr uses the integer floor-log2 idiom on the
    * 1024-scaled ratio: b10(w) = length(bin(((ct+1)(Nr+V)·1024) DIV
    * ((cr+1)(Nt+V)))) − 1 ∈ [0, ~60] — llr_bits = b10 − 10, saturating at
    * −10 when the ratio falls below 2⁻¹⁰ (bin(0) = "0"). Scores keep the
    * NON-NEGATIVE b10 through every division (Spark's DIV truncates toward
    * zero, DuckDB's // floors — they only agree on non-negative
    * numerators) and re-center by plain subtraction afterwards. BIGINT
    * width: the scaled ratio's numerator is (ct+1)(Nr+V)·1024 ≤ ~2⁶³ up to
    * ~10⁹-token models per side; beyond that the product needs DECIMAL —
    * a declared bound of this formulation, not of the plan.
    *
    * Scale: the target side is benchmark-sized; the raw side is ONE
    * explode-shuffle into per-(doc, term) tf with map-side combine
    * ([[qT20]]'s shape). The model join (full outer target×raw counts) and
    * the scoring join are vocab-keyed — term-sized frames, never the token
    * stream — and the totals arrive by a broadcast-one-row crossJoin. */
  def qT33(s: SparkSession, dir: String): DataFrame =
    qT33Keyed(s, dir, Dedup.gramHashKeys)

  private[graft] def qT33Keyed(s: SparkSession, dir: String,
                               hashKeys: Boolean): DataFrame = {
    val docs = Tables.documents(s, dir)
    def tfOf(d: DataFrame): DataFrame = d
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    def keyed(g: DataFrame): DataFrame =
      if (hashKeys)
        g.select((g.columns.filterNot(_ == "w").map(col).toSeq ++
          Dedup.gramKey(col("w"))): _*)
      else g
    val keys = if (hashKeys) Seq("h1", "h2") else Seq("w")
    val tgt = keyed(tfOf(docs.where(col("doc_id") < 20)))
    val raw = keyed(tfOf(docs.where(col("doc_id") >= 20)))
    val joint = tgt.groupBy(keys.head, keys.tail: _*)
      .agg(sum("tf").as("ct"))
      .join(raw.groupBy(keys.head, keys.tail: _*).agg(sum("tf").as("cr")),
        keys, "full")
      .select((keys.map(col) :+ coalesce(col("ct"), lit(0L)).as("ct") :+
        coalesce(col("cr"), lit(0L)).as("cr")): _*)
    val tot = joint.agg(
      coalesce(sum("ct"), lit(0L)).as("nt"),
      coalesce(sum("cr"), lit(0L)).as("nr"),
      count(lit(1)).as("v"))
    val llr = joint.crossJoin(broadcast(tot))
      .select((keys.map(col) :+
        (length(expr("bin(((ct + 1) * (nr + v) * 1024) DIV ((cr + 1) * (nt + v)))"))
          - 1).cast("long").as("b10")): _*)
    raw.join(llr, keys)
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"),
        sum(col("tf") * col("b10")).as("sum_plus"))
      .select(col("doc_id"), col("n_tokens"),
        (col("sum_plus") - lit(10L) * col("n_tokens")).as("dsir_bits"),
        (expr("(sum_plus * 1000) DIV n_tokens") - 10000L).as("dsir_pm"))
      .orderBy("doc_id")
  }

  /** Q-T30 — BPE APPLY: [[qT28]] LEARNS one round of merge candidates;
    * this one TOKENIZES with them — the missing last step of the
    * tokenizer story (q_t25 prices the raw token spectrum, q_t28 learns
    * the merge table, this applies it and reports what the corpus costs
    * in BPE tokens). Per document: whitespace-word count, BPE-symbol
    * count after applying the top-20 merges in rank order, and
    * `bpe_pm` = symbols per word ×1000 — the tokenizer-cost number a mix
    * planner multiplies against token budgets.
    *
    * Apply semantics (deterministic, engine-exact): a word becomes the
    * symbol string `" c1 c2 … cn "` (one space around every symbol —
    * symbols never contain spaces, split() guarantees it); merge rank k
    * `"ab"` rewrites `" a b "` → `" ab "` with plain literal `replace`,
    * run TWICE — one left-to-right non-overlapping pass leaves an
    * unmerged pair only where its leading space was consumed by the
    * previous match, and every such survivor then has a merged symbol on
    * its left, so no two survivors are adjacent and the second pass takes
    * them all. Both engines' `replace` scan the source left-to-right
    * non-overlapping, so the fold replays exactly. Ranks are [[qT28]]'s
    * static counts (the documented BPE-ish simplification — no
    * re-counting between merges), applied lowest-rank-first.
    *
    * Scale: the merge table is 20 rows of driver metadata ([[qT28]]'s
    * TakeOrdered output — bounded collect); segmentation runs MAP-ONLY
    * over the DISTINCT-WORD vocabulary (megabytes where the token stream
    * is petabytes, the qT28 argument) as 40 codegen'd string replaces,
    * and rejoins the (doc, word, tf) frame by word — one
    * vocabulary-keyed equi-join, no explode beyond the qT9 tokenize
    * pass, no window. */
  def qT30(s: SparkSession, dir: String): DataFrame = {
    val words = docWordTf(s, dir)
    words.join(bpeSegWords(s, dir, words.select("w").distinct()), "w")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_words"),
        sum(col("tf") * col("n_sym")).as("n_bpe"))
      .select(col("doc_id"), col("n_words"), col("n_bpe"),
        expr("(n_bpe * 1000) DIV n_words").as("bpe_pm"))
      .orderBy("doc_id")
  }

  /** Per-(doc, word) term frequency over the ""-filtered token stream —
    * the shared base of the BPE-apply consumers. */
  private def docWordTf(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))

  /** [[qT30]]'s segmentation core, shared with [[qT34]]: apply the
    * [[qT28]] top-20 merges in rank order over the DISTINCT-WORD
    * vocabulary and return each word's BPE symbol count. The fold is 40
    * codegen'd literal replaces — map-only where the token stream is
    * petabytes (the vocabulary is the small frame). */
  private def bpeSegWords(s: SparkSession, dir: String,
                          vocab: DataFrame): DataFrame = {
    // bounded collect: exactly the top-20 TakeOrdered rows (rank order)
    val rules = qT28(s, dir).collect().map(_.getString(0)).toSeq
    // " c1 c2 … cn " — (?s) so a newline inside a token is a symbol too
    var seg = concat(lit(" "),
      regexp_replace(col("w"), lit("(?s)(.)"), lit("$1 ")))
    for (r <- rules; _ <- 1 to 2) {
      // split the pair at the CODE-POINT boundary (qT28's substring
      // semantics), not the UTF-16 one
      val cps = r.codePoints().toArray
      val a = new String(Character.toChars(cps(0)))
      val b = new String(Character.toChars(cps(1)))
      seg = org.apache.spark.sql.functions.replace(
        seg, lit(s" $a $b "), lit(s" $a$b "))
    }
    vocab.select(col("w"),
      size(split(trim(seg), " ")).cast("long").as("n_sym"))
  }

  /** Q-T34 — TOKENIZER FERTILITY BY LANGUAGE: BPE symbols per word,
    * rolled up by [[qT1]]'s predicted language — the number a mix planner
    * multiplies against per-language token budgets (a language whose
    * fertility is 1.4× pays 1.4× the compute per word; fertility skew is
    * the standard argument for tokenizer retraining or per-language
    * sampling corrections). Per language: doc count, word count, BPE
    * symbol count, fertility in per-mille (symbols per word × 1000).
    *
    * Scale: reuses [[qT30]]'s vocabulary-sized segmentation (the fold
    * never touches the token stream) and [[qT1]]'s map-only lang kernel;
    * the rollup is languages-sized. Integer-exact end to end. */
  def qT34(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    val words = docWordTf(s, dir)
    val perDoc = words
      .join(bpeSegWords(s, dir, words.select("w").distinct()), "w")
      .groupBy("doc_id")
      .agg(sum("tf").as("nw"), sum(col("tf") * col("n_sym")).as("nb"))
    perDoc.join(langPredicted(s, dir).select("doc_id", "lang_pred"), "doc_id")
      .groupBy("lang_pred")
      .agg(count(lit(1)).as("n_docs"),
        sum("nw").as("n_words"), sum("nb").as("n_bpe"))
      .select(col("lang_pred"), col("n_docs"), col("n_words"), col("n_bpe"),
        expr("(n_bpe * 1000) DIV n_words").as("fert_pm"))
      .orderBy("lang_pred")
  }

  /** The composable-HOF [[qT29]] formulation (interpreted lambda pairing)
    * — retained as the equality oracle for the `word_bigrams` kernel. */
  private[graft] def qT29Hof(s: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), t -> t <> '')").as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, CAST(i AS INT)) AS w1,
          |              element_at(toks, CAST(i AS INT) + 1) AS w2))"""
          .stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    val big = bg.groupBy("w1", "w2").agg(sum("tf").as("c12"))
    val unil = big.groupBy("w1").agg(sum("c12").as("c1"))
    val bits = big.join(unil, "w1")
      .select(col("w1"), col("w2"),
        (length(expr("bin((c12 * 1024) DIV c1)")) - 1).cast("long").as("bits"))
    bg.join(bits, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_pairs"),
        sum(col("tf") * col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("n_pairs"),
        expr("(sum_bits * 1000) DIV n_pairs").as("bll_pm"))
      .orderBy("doc_id")
  }
}
