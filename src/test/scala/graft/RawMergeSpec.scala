package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ContainerProps, FileAccount}
import graft.functions.GraftFunctions
import graft.operators.RawMerge

/** Schemaless raw-document pipeline tests: canonical-JSON diff semantics
  * (Python-dict equality: key order, number format, system fields at every
  * depth), the per-document error channel (corrupt lines classify, never
  * throw), reference pk injection (migration.py:112-114), byte-exact
  * round-trip through the bucketed sink, and incremental upsert pruning
  * (only affected bucket directories are rewritten).
  */
class RawMergeSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, "rawmerge-spec")

  private def canon(s: String): String = {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(s).toDF("raw").selectExpr("canonical_json(raw) AS c")
      .head().getString(0)
  }

  test("canonical_json: key order, number format, system fields at depth") {
    assert(canon("""{"a":1.0,"b":[{"_etag":"x","k":2}],"_ts":9}""") ==
      canon("""{"b":[{"k":2.00}],"a":1}"""))
    assert(canon("""{"a":1e2}""") == canon("""{"a":100}"""))
    assert(canon("""{"a":0.0}""") == canon("""{"a":-0.0}"""))
    // value-different numbers stay different
    assert(canon("""{"a":1.5}""") != canon("""{"a":1}"""))
    // string "1" is not number 1 (Python: "1" != 1)
    assert(canon("""{"a":"1"}""") != canon("""{"a":1}"""))
    // system fields inside dicts inside arrays (B2) are stripped
    assert(canon("""{"p":[{"v":1,"_rid":"r","_self":"s"}]}""") ==
      canon("""{"p":[{"v":1}]}"""))
    // unicode + escapes round through
    assert(canon("""{"s":"uniçode-Ж \"q\""}""") ==
      canon("{\"s\":\"uniçode-Ж \\\"q\\\"\"}"))
  }

  test("canonical_json: idempotent on generated documents; malformed → null") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val docs = RawMergeSpec.sampleDocs(300, seed = 77L)
    val bad = docs.toDF("raw")
      .selectExpr("canonical_json(raw) AS c1",
        "canonical_json(canonical_json(raw)) AS c2")
      .where(col("c1").isNull || col("c1") =!= col("c2")).count()
    assert(bad == 0, "canon must be defined and idempotent on valid docs")
    val corrupt = Seq("not json", """{"id": """, """{"a":1}trailing""", "")
    val nn = corrupt.toDF("raw").selectExpr("canonical_json(raw) AS c")
      .where(col("c").isNotNull).count()
    assert(nn == 0, "malformed lines must canonicalize to null")
  }

  test("canonical_json: adversarial shapes — big numbers, dup keys, depth, escapes") {
    // integers beyond double precision compare by exact value (BigInteger)
    assert(canon("""{"a":9007199254740993}""") == canon("""{"a":9007199254740993}"""))
    assert(canon("""{"a":9007199254740993}""") != canon("""{"a":9007199254740992}"""))
    // big-int vs equal-valued float form
    assert(canon("""{"a":1000000000000000000000}""") == canon("""{"a":1e21}"""))
    // duplicate keys: last wins (Jackson), deterministically
    assert(canon("""{"a":1,"a":2}""") == canon("""{"a":2}"""))
    // 40-deep nesting round-trips without blowing the renderer
    val deep = "{\"k\":" * 40 + "1" + "}" * 40
    assert(canon(deep) != null && canon(deep) == canon(canon(deep)))
    // escape forms normalize (A == A), control chars survive
    assert(canon("""{"s":"AB"}""") == canon("""{"s":"AB"}"""))
    assert(canon("{\"s\":\"a\\nb\\tc\"}") == canon("{\"s\":\"a\\u000ab\\u0009c\"}"))
    // scalar pk extraction normalizes numbers; containers/empty are invalid
    GraftFunctions.register(spark)
    import spark.implicits._
    val got = Seq(
      """{"id":"a","pk":1.0}""", """{"id":"b","pk":1}""",
      """{"id":"c","pk":{"x":1}}""", """{"id":"d","pk":[1]}""",
      """{"id":"e","pk":true}""", """{"id":"f"}""").toDF("raw")
      .selectExpr("json_pk(raw, 'id') AS id", "json_pk(raw, 'pk') AS pk")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("a") == "1" && got("b") == "1", "1.0 and 1 must join as the same pk")
    assert(got("c") == null && got("d") == null && got("f") == null)
    assert(got("e") == "true")
  }

  test("json_doc_keys agrees with the single kernels (parse-once consistency)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val docs = RawMergeSpec.sampleDocs(200, seed = 33L) ++ Seq(
      """{"id":"n1","owner":{"region":"emea"},"x":1}""",   // nested pk, injection fires
      """{"id":"n2","owner":{"region":{"bad":1}}}""",      // container pk → null
      "corrupt")
    val df = docs.toDF("raw").selectExpr(
      "json_doc_keys(raw, 'owner/region', 'true') AS m",
      "json_inject_pk(raw, 'owner/region') AS w2",
      "json_pk(raw, 'id') AS id2",
      "json_pk(raw, 'owner/region') AS pk2")
    val bad = df.where(
      !(col("m.w") <=> col("w2")) || !(col("m.id") <=> col("id2")) ||
        !(col("m.pk0") <=> col("pk2")) ||
        (col("m").isNull =!= col("w2").isNull)).count()
    assert(bad == 0, "struct kernel must equal the composed single kernels")
  }

  test("classify: actions, corrupt-line error channel, pk injection (A4/A6/A13)") {
    import spark.implicits._
    val src = Seq(
      """{"id":"d1","owner":{"region":"emea"},"x":1.0,"_ts":9}""", // skip
      """{"id":"d2","owner":{"region":"emea"},"x":2}""",           // update
      """{"id":"d3","owner":{"region":"apac"},"x":1}""",           // insert
      """{"id":"","owner":{"region":"emea"}}""",                   // error: empty id
      """{"owner":{"region":"emea"},"x":5}""",                     // error: missing id
      """{"id":"d4","owner":{"region":{"deep":1}}}""",             // error: dict pk
      """{"id":"d5","owner":{}}""",                                // error: missing pk
      "corrupt {{"                                                 // error: not JSON
    ).toDF("raw")
    val tgt = Seq(
      // canonically equal to injected d1: key order + number format + system
      // fields differ, literal "owner/region" key present from a prior write
      """{"x":1,"owner":{"region":"emea"},"owner/region":"emea","id":"d1","_etag":"t"}""",
      """{"id":"d2","owner":{"region":"emea"},"owner/region":"emea","x":3}""",
      """{"id":"d9","owner":{"region":"emea"},"x":9}"""           // target-only: kept
    ).toDF("raw")

    val cls = RawMerge.classify(spark, src, tgt, Seq("/owner/region"))
    val hist = cls.groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist == Map("skip" -> 1L, "update" -> 1L, "insert" -> 1L, "error" -> 5L))

    // reference injection: written docs carry the literal pk-path key
    val d3 = cls.where(col("__id") === "d3").head().getAs[String]("raw")
    assert(d3.contains(""""owner/region":"apac""""), d3)

    // idempotence: re-classifying against the merged state yields only skips
    val merged = RawMerge.mergedState(spark, src, tgt, Seq("/owner/region"))
    val again = RawMerge.classify(spark, src, merged, Seq("/owner/region"))
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again == Map("skip" -> 3L, "error" -> 5L))

    // byte fidelity of the merged state: the skipped doc keeps the TARGET's
    // exact bytes; insert/update rows carry the source's injected bytes
    val mraw = merged.select("raw").collect().map(_.getString(0)).toSet
    assert(mraw.contains(
      """{"x":1,"owner":{"region":"emea"},"owner/region":"emea","id":"d1","_etag":"t"}"""))
    // the reference never deletes: the target-only doc survives as stored
    assert(mraw.size == 4 && mraw.contains("""{"id":"d9","owner":{"region":"emea"},"x":9}"""))
  }

  test("falsy ids (0, 0.0, false) classify as errors — migration.py:93 `if not item_id`") {
    import spark.implicits._
    val src = Seq(
      """{"id":0,"pk":"p1","v":1}""",      // number 0: falsy → error
      """{"id":0.0,"pk":"p1","v":2}""",    // 0.0: falsy → error
      """{"id":false,"pk":"p1","v":3}""",  // false: falsy → error
      """{"id":"0","pk":"p1","v":4}""",    // string "0": truthy → valid
      """{"id":true,"pk":"p1","v":5}""",   // true: truthy → valid
      """{"id":7,"pk":"p1","v":6}"""       // nonzero number: truthy → valid
    ).toDF("raw")
    val hist = RawMerge.classify(spark, src, src.limit(0), Seq("/pk"))
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hist == Map("error" -> 3L, "insert" -> 3L), hist.toString)
    // 0-valued PK stays valid (migration.py:101 is `in ["", None]`, not falsy)
    val pkHist = RawMerge.classify(spark,
      Seq("""{"id":"a","pk":0}""").toDF("raw"), src.limit(0), Seq("/pk"))
      .groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pkHist == Map("insert" -> 1L), pkHist.toString)
  }

  test("round-trip: generated docs survive the sink byte-exactly") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val acc = RawMergeSpec.newAccount("raw-rt")
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/pk"), buckets = 8))
    val docs = RawMergeSpec.sampleDocs(400, seed = 11L)
    val changed = docs.toDF("raw")
      .selectExpr("raw", "json_pk(raw, 'id') AS __id", "json_pk(raw, 'pk') AS __pk0")
    acc.upsertRaw(spark, "db", "c", changed, Seq("__id", "__pk0"), Seq("/pk"))
    val back = acc.readRaw(spark, "db", "c").collect().map(_.getString(0))
    assert(back.sorted.toSeq == docs.sorted,
      "every raw line must round-trip byte-exactly through the sink")
  }

  test("incremental upsert rewrites only affected buckets; strays absorbed") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val acc = RawMergeSpec.newAccount("raw-upsert")
    acc.createDatabaseIfAbsent("db")
    acc.createContainerIfAbsent("db", "c", ContainerProps(Seq("/pk"), buckets = 8))
    def keyed(docs: Seq[String]) = docs.toDF("raw")
      .selectExpr("raw", "json_pk(raw, 'id') AS __id", "json_pk(raw, 'pk') AS __pk0")
    val initial = (0 until 200).map(i => s"""{"id":"d$i","pk":"p${i % 5}","v":$i}""")
    acc.upsertRaw(spark, "db", "c", keyed(initial), Seq("__id", "__pk0"), Seq("/pk"))

    val dataDir = Paths.get(acc.root, "db", "c", "data")
    def snapshot(): Map[String, Long] =
      Files.walk(dataDir).iterator().asScala
        .filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("_"))
        .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis).toMap
    val before = snapshot()

    // change 2 docs (~1%) → at most 2 of 8 buckets rewritten
    val delta = Seq(
      """{"id":"d7","pk":"p2","v":-7}""",
      """{"id":"d42","pk":"p2","v":-42}""")
    val touched = acc.upsertRaw(spark, "db", "c", keyed(delta), Seq("__id", "__pk0"), Seq("/pk"))
    assert(touched.size <= 2, s"expected <=2 affected buckets, got $touched")
    val after = snapshot()
    val untouchedDirs = (0 until 8).map(b => dataDir.resolve(s"b=$b").toString)
      .filterNot(d => touched.exists(t => d.endsWith(s"b=$t")))
    for (d <- untouchedDirs) {
      val b4 = before.filter(_._1.startsWith(d))
      val aft = after.filter(_._1.startsWith(d))
      assert(b4 == aft, s"unaffected bucket $d must keep its files byte-dated")
    }
    // final state: 200 docs, the 2 changed ones replaced
    val back = acc.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet
    assert(back.size == 200)
    assert(back.contains("""{"id":"d7","pk":"p2","v":-7}"""))
    assert(!back.exists(_.contains(""""id":"d7","pk":"p2","v":7""")))

    // stray file written out-of-band is preserved, then absorbed into the
    // layout (and superseded correctly when its key changes)
    Files.writeString(dataDir.resolve("zz-extra.txt"),
      """{"id":"x1","pk":"p9","v":100}""")
    acc.upsertRaw(spark, "db", "c",
      keyed(Seq("""{"id":"d7","pk":"p2","v":-77}""")), Seq("__id", "__pk0"), Seq("/pk"))
    val back2 = acc.readRaw(spark, "db", "c").collect().map(_.getString(0)).toSet
    assert(back2.contains("""{"id":"x1","pk":"p9","v":100}"""))
    assert(back2.contains("""{"id":"d7","pk":"p2","v":-77}"""))
    assert(back2.size == 201)
    assert(!Files.exists(dataDir.resolve("zz-extra.txt")), "stray must be absorbed")
  }

  test("mask_json agrees with column masking and leaves non-PII untouched") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val raw =
      """{"email":"a@real.com","name":"Ada L","level":3,"payload":{"City":"Berlin","note":"keep"}}"""
    val masked = Seq(raw).toDF("raw").selectExpr("mask_json(raw) AS m")
      .head().getString(0)
    // column-based masking of the same doc (schema-inferred view)
    val df = spark.read.json(Seq(raw).toDS())
    val viaColumns = graft.functions.Masking(df)
    val row = viaColumns.head()
    val expectedEmail = row.getAs[String]("email")
    val expectedName = row.getAs[String]("name")
    assert(masked.contains(s""""email":"$expectedEmail""""))
    assert(masked.contains(s""""name":"$expectedName""""))
    assert(expectedEmail.endsWith("@masked.example"))
    assert(masked.contains(""""level":3"""))
    assert(masked.contains(""""note":"keep""""))
    // nested PII field (City) masked at depth
    val expectedCity = row.getAs[org.apache.spark.sql.Row]("payload").getAs[String]("City")
    assert(masked.contains(s""""City":"$expectedCity""""))
    assert(expectedCity.startsWith("City"))
  }

  test("container-valued PII names mask wholesale, identically on both surfaces") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // sanitizer.py:51-55 replaces ANY matched value, dicts/lists included —
    // a name OBJECT must not leak its nested scalars through the mask
    val raw = """{"id":"1","name":{"first":"Ada","last":"L"},"tags":["x"],"address":["1 Real St","CA"]}"""
    val masked = Seq(raw).toDF("raw").selectExpr("mask_json(raw) AS m")
      .head().getString(0)
    assert(!masked.contains("Ada") && !masked.contains("Real St"), masked)
    // column surface masks the same shapes to the same values
    val row = graft.functions.Masking(spark.read.json(Seq(raw).toDS())).head()
    val expectedName = row.getAs[String]("name")
    val expectedAddr = row.getAs[String]("address")
    assert(expectedName.startsWith("Fn") && expectedName.contains(" Ln"))
    assert(masked.contains(s""""name":"$expectedName""""), masked)
    assert(masked.contains(s""""address":"$expectedAddr""""), masked)
    // non-PII container untouched
    assert(masked.contains(""""tags":["x"]"""))
  }

  test("container-PII parity holds across heterogeneous document shapes") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // the schemaless case this engine exists for: each document's "address"
    // object has DIFFERENT keys, so the inferred schema is their union and
    // the column surface sees explicit nulls where a field is absent; one
    // doc also carries a GENUINE null. Both surfaces must still mask every
    // document's container to the identical value.
    val docs = Seq(
      """{"id":"1","address":{"street":"1 Real St","city":"Springfield"},"v":1}""",
      """{"id":"2","address":{"street":"2 Real St","zip":"90210"},"v":2}""",
      """{"id":"3","address":{"city":"Shelbyville","zip":null},"v":3}""")
    val viaRaw = docs.toDF("raw")
      .selectExpr("get_json_object(raw, '$.id') AS id", "mask_json(raw) AS m")
      .collect().map(r => r.getString(0) ->
        r.getString(1).split("\"address\":\"")(1).split("\"")(0)).toMap
    val viaCols = graft.functions.Masking(spark.read.json(docs.toDS()))
      .selectExpr("id", "address").collect()
      .map(r => r.getString(r.fieldIndex("id")) -> r.getString(r.fieldIndex("address"))).toMap
    assert(viaRaw.keySet == Set("1", "2", "3"))
    for (k <- viaRaw.keySet)
      assert(viaRaw(k) == viaCols(k),
        s"doc $k: raw surface masked to ${viaRaw(k)}, column surface to ${viaCols(k)}")
    // the doc with "zip":null and the same doc WITHOUT the key seed equally
    val withNull = Seq("""{"address":{"city":"A","zip":null}}""").toDF("raw")
      .selectExpr("mask_json(raw) AS m").head().getString(0)
    val absent = Seq("""{"address":{"city":"A"}}""").toDF("raw")
      .selectExpr("mask_json(raw) AS m").head().getString(0)
    assert(withNull == absent, s"null-vs-absent must seed equally: $withNull vs $absent")
  }
}

object RawMergeSpec {
  def newAccount(prefix: String): FileAccount = {
    val root = Files.createTempDirectory(Paths.get("target"), prefix)
    FileAccount(root.toString)
  }

  // ---- single-line JSON document generator (valid docs, adversarial
  // payloads: unicode, escapes, numbers, deep nesting, system fields) ----

  private val scalarGen: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr.map(s => "\"" + s.take(10) + "\""),
    Gen.choose(-100000, 100000).map(_.toString),
    Gen.choose(-1000.0, 1000.0).map(d => f"$d%.4f"),
    Gen.const("null"), Gen.const("true"), Gen.const("false"),
    Gen.const("\"uniçode-Ж\\\"q\\\" \\\\ tab\""),
    Gen.const("1.0"), Gen.const("1e3"), Gen.const("-0.0"))

  private val nameGen: Gen[String] = Gen.oneOf(
    "a", "b", "k1", "payload", "note", "Email", "_etag", "_rid", "_ts", "deep key")

  private def valueGen(depth: Int): Gen[String] =
    if (depth <= 0) scalarGen
    else Gen.frequency(
      4 -> scalarGen,
      2 -> Gen.choose(0, 3).flatMap(n =>
        Gen.listOfN(n, valueGen(depth - 1)).map(_.mkString("[", ",", "]"))),
      3 -> objGen(depth - 1))

  private def objGen(depth: Int): Gen[String] = for {
    n <- Gen.choose(0, 4)
    names <- Gen.listOfN(n, nameGen)
    vals <- Gen.listOfN(n, valueGen(depth))
  } yield names.distinct.zip(vals)
    .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  /** `n` valid single-line docs with unique (id, pk) and arbitrary payload. */
  def sampleDocs(n: Int, seed: Long): Seq[String] =
    (0 until n).map { i =>
      val body = objGen(3).apply(Gen.Parameters.default, Seed(seed + i))
        .getOrElse("{}")
      s"""{"id":"doc-$i","pk":"p${i % 7}","payload":$body}"""
    }
}
