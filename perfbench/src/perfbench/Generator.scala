package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded workload generator. Renders Cosmos-style JSON-line accounts from
  * the committed parquet tables (no new data, only new shapes) and states,
  * per container, what a correct migration must report and leave behind.
  *
  * Account `shop` holds one container, `customer`: PII-named fields (name,
  * email, phoneNumber and a nested address) and a hierarchical pk whose
  * second path is nested (`/c_mktsegment`, `/nation/key`).
  * Every document carries the four system fields. The seed sets their
  * values, picks ~0.1% of the documents to be invalid (no `id`), and picks
  * the delta: ~1% updates, ~0.5% identical re-sends (system fields differ),
  * ~0.5% inserts and two invalid documents per container.
  */
object Generator {
  val Db = "shop"

  /** A container and its pk paths. */
  final case class Spec(name: String, pk: Seq[String])

  val Specs: Seq[Spec] = Seq(Spec("customer", Seq("/c_mktsegment", "/nation/key")))

  /** What one container's migration must report: the four counters, the
    * order-independent digest of the target's documents afterwards, the raw
    * bytes of the documents it inserts or updates, and the bytes of the
    * documents the target holds afterwards. */
  final case class Expect(inserted: Long, updated: Long, skipped: Long,
                          errors: Long, content: Digest, changedBytes: Long,
                          liveBytes: Long)

  def spec(name: String): Spec = Specs.find(_.name == name).get

  /** Base rows of one container: `key` (the document id), the payload
    * columns, and the seeded `invalid` flag. */
  private def baseRows(spark: SparkSession, data: String, c: String,
                       seed: Long): DataFrame = {
    val t = spark.read.parquet(s"$data/$c.parquet")
    val keyed = c match {
      case "customer" => t.select(
        concat(lit("c-"), col("c_custkey")).as("key"),
        struct(col("c_mktsegment"), col("c_name").as("name"),
          concat(lower(regexp_replace(col("c_name"), "#", ".")),
            lit("@example.com")).as("email"),
          concat(lit("+1-555-"), lpad((col("c_custkey") % 10000).cast("string"), 4, "0"))
            .as("phoneNumber"),
          struct(concat((col("c_custkey") % 9000 + 100).cast("string"), lit(" Main St")).as("street"),
            concat(lit("City"), col("c_nationkey").cast("string")).as("city"),
            lpad((col("c_custkey") % 100000).cast("string"), 5, "0").as("postalCode"))
            .as("address"),
          struct(col("c_nationkey").as("key")).as("nation"),
          col("c_acctbal").as("acctbal")).as("p"))
    }
    keyed.withColumn("invalid", pmod(xxhash64(col("key"), lit(seed)), lit(1000L)) === 0)
  }

  /** Renders base rows as raw JSON lines. `kind` selects the variant:
    * "base", "update" (adds a `rev` field), "identical" (same content, new
    * system fields), "insert" (new id), "invalid" (no id). Besides the
    * source line `raw`, `stored` is the form a correct migration writes:
    * the reference's pre-write fix-up sets every pk path whose literal
    * top-level key is absent (the nested `nation/key`) to its value. */
  private def render(rows: DataFrame, spec: Spec, seed: Long, kind: Column): DataFrame = {
    val h = xxhash64(col("key"), lit(seed))
    val id = when(col("invalid") || kind === "invalid", lit(null).cast("string"))
      .when(kind === "insert", concat(col("key"), lit("-n")))
      .otherwise(col("key"))
    val resent = kind.isin("update", "identical")
    val fields = Seq(
      id.as("id"), col("p.*"),
      when(kind === "update", lit(seed % 97 + 1)).as("rev"),
      substring(md5(concat(col("key"), lit(s"r$seed"))), 1, 12).as("_rid"),
      concat(lit(s"dbs/$Db/colls/${spec.name}/docs/"), col("key")).as("_self"),
      concat(lit("\""), substring(md5(concat(col("key"), lit(s"e$seed"), resent.cast("string"))), 1, 16),
        lit("\"")).as("_etag"),
      (lit(1700000000L) + pmod(h, lit(1000000L)) + resent.cast("long")).as("_ts"))
    val injected = spec.pk.map(_.stripPrefix("/")).filter(_.contains("/"))
      .map(p => col("p." + p.replace('/', '.')).as(p))
    rows.select(col("key"), to_json(struct(fields: _*)).as("raw"),
      to_json(struct(fields ++ injected: _*)).as("stored"), kind.as("kind"),
      (!col("invalid") && kind =!= "invalid").as("valid"))
  }

  /** The full source of one container: columns key, raw, stored, kind, valid. */
  def full(spark: SparkSession, data: String, c: String, seed: Long): DataFrame =
    render(baseRows(spark, data, c, seed), spec(c), seed, lit("base"))

  /** The delta source of one container (columns as [[full]]). */
  def delta(spark: SparkSession, data: String, c: String, seed: Long): DataFrame = {
    val base = baseRows(spark, data, c, seed).filter(!col("invalid"))
    val h = pmod(xxhash64(col("key"), lit(seed + 7)), lit(1000L))
    val kind = when(h < 10, "update").when(h < 15, "identical").when(h < 20, "insert")
    val picked = base.withColumn("kind", kind).filter(col("kind").isNotNull)
    val invalid = base.filter(h >= 20)
      .orderBy(xxhash64(col("key"), lit(seed + 9)), col("key")).limit(2)
      .withColumn("kind", lit("invalid"))
    render(picked.unionByName(invalid), spec(c), seed, col("kind"))
  }

  /** Writes `docs` (column `raw`) as container `c` of the account at
    * `root`, in four files. */
  def writeContainer(root: String, spec: Spec, docs: DataFrame): Unit = {
    val dir = new java.io.File(root, s"$Db/${spec.name}")
    dir.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(dir, "_meta.json").toPath,
      spec.pk.map(p => "\"" + p + "\"").mkString("{\"pk\": [", ", ", "], \"buckets\": 16}"))
    docs.repartition(4, col("key")).sortWithinPartitions("key").select("raw")
      .write.text(new java.io.File(dir, "data").getPath)
  }

  private def stored(df: DataFrame, mask: Boolean): DataFrame =
    df.select(col("key"), (if (mask) expr("mask_json(stored)") else col("stored")).as("raw"))

  /** Expectations for a full copy of `src` into an empty target. */
  def expectCopy(src: DataFrame, sanitize: Boolean): Expect = {
    val valid = src.filter(col("valid"))
    val written = stored(valid, sanitize)
    val n = valid.count()
    Expect(n, 0L, 0L, src.count() - n, Digest.ofDocs(written),
      Digest.lineBytes(valid), Digest.lineBytes(written))
  }

  /** Expectations for re-migrating `src` into the target a copy of it
    * produced without masking: every valid document is a skip. */
  def expectRerun(src: DataFrame): Expect = {
    val valid = src.filter(col("valid"))
    val n = valid.count()
    val kept = stored(valid, mask = false)
    Expect(0L, 0L, n, src.count() - n, Digest.ofDocs(kept), 0L, Digest.lineBytes(kept))
  }

  /** Expectations for merging `delta` into the unmasked copy of `full`;
    * with `sanitize` the inserted and updated documents land masked. */
  def expectDelta(full: DataFrame, delta: DataFrame, sanitize: Boolean): Expect = {
    val counts = delta.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val changed = delta.filter(col("kind").isin("update", "insert"))
    val kept = full.filter(col("valid"))
      .join(delta.filter(col("kind") === "update").select("key"), Seq("key"), "left_anti")
    val after = stored(kept, mask = false).unionByName(stored(changed, sanitize))
    Expect(counts("insert"), counts("update"), counts("identical"), counts("invalid"),
      Digest.ofDocs(after), Digest.lineBytes(changed), Digest.lineBytes(after))
  }
}
