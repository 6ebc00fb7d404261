package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tests of the benchmark's own code, run as
  * `python3 perfbench/run.py --selftest`. Prints one line per test and
  * returns non-zero when any fails. */
object SelfTest {
  def run(spark: SparkSession, a: Main.Args): Int = {
    val tiny = s"${a.work}/tiny"
    // ~300 rows of each table keep every test to a few seconds
    Seq("customer").foreach { t =>
      spark.read.parquet(s"${a.data}/$t.parquet").limit(300).write.parquet(s"$tiny/$t.parquet")
    }
    val tests: Seq[(String, () => Unit)] = Seq(
      "generator is deterministic per seed" -> (() => generatorDeterministic(spark, tiny)),
      "digest ignores row order, key order and system fields" -> (() => digestOrder(spark)),
      "tail percentile keeps ten samples above it" -> (() => tailRule()),
      "call-site attribution of a tiny migrate" -> (() => attribution(spark, tiny, a.work)),
      "a corrupted target fails the gate" -> (() => corruptedTarget(spark, tiny, a.work)))
    val failed = tests.count { case (name, t) =>
      try { t(); println(s"ok   $name"); false }
      catch { case e: Throwable => println(s"FAIL $name: $e"); true }
    }
    println(s"${tests.size - failed} passed, $failed failed")
    if (failed == 0) 0 else 1
  }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def generatorDeterministic(spark: SparkSession, data: String): Unit =
    Generator.Specs.foreach { s =>
      def lines(seed: Long) = Seq(Generator.full(spark, data, s.name, seed),
        Generator.delta(spark, data, s.name, seed))
        .map(_.select(concat_ws("|", col("kind"), col("raw"))).collect().map(_.getString(0)).sorted.toSeq)
      val (a, b, c) = (lines(3), lines(3), lines(4))
      check(a == b, s"${s.name}: seed 3 rendered two different accounts")
      check(a(0) != c(0) && a(1) != c(1), s"${s.name}: seeds 3 and 4 rendered the same documents")
      val raws = Generator.full(spark, data, s.name, 3).select("raw", "valid").collect()
      check(raws.forall(r => r.getBoolean(1) == Digest.canonical(r.getString(0)).contains("\"id\"")),
        s"${s.name}: validity flag disagrees with the id field")
    }

  private def digestOrder(spark: SparkSession): Unit = {
    import spark.implicits._
    val docs = Seq("""{"id":"a","x":1.50,"n":{"b":1,"a":2},"_ts":1}""",
      """{"id":"b","x":[1,2],"_etag":"\"e\""}""", """{"id":"c"}""").toDF("raw")
    check(Digest.ofDocs(docs) == Digest.ofDocs(docs.orderBy(desc("raw")).repartition(3)),
      "frame order changed the digest")
    check(Digest.canonical("""{"_rid":"r","n":{"a":2,"b":1},"x":1.5,"id":"a"}""") ==
      Digest.canonical("""{"id":"a","x":1.50,"n":{"b":1,"a":2},"_ts":1}"""),
      "key order, number format or system fields changed the canonical form")
    check(Digest.ofDocs(docs) != Digest.ofDocs(docs.limit(2)), "a missing document kept the digest")
    val schema = StructType(Seq(StructField("b", DoubleType), StructField("a", StringType)))
    val rows = Seq(Row(0.1 + 0.2, "x"), Row(2.0, "y"), Row(null, "z"))
    check(Digest.ofRows(schema, rows) == Digest.ofRows(schema, rows.reverse), "row order changed it")
    check(Digest.ofRows(schema, rows) == Digest.ofRows(schema, Row(0.3, "x") +: rows.tail),
      "float noise below 6 decimals changed it")
    check(Digest.ofRows(schema, rows) != Digest.ofRows(schema, Row(0.31, "x") +: rows.tail),
      "a changed value kept it")
    val d = Digest.ofRows(schema, rows)
    check(Digest.parse(d.toString) == d, s"$d does not round-trip")
  }

  private def tailRule(): Unit = {
    check(Stats.tail((1 to 10).map(_.toDouble)).isEmpty, "ten samples gave a tail")
    val Some((v, p, n)) = Stats.tail((1 to 100).map(_.toDouble))
    check(v == 90.0 && p == 90.0 && n == 100, s"100 samples gave ($v, $p, $n)")
  }

  private def attribution(spark: SparkSession, data: String, work: String): Unit = {
    val m = new Migration(spark, data, s"$work/attr", 5L, "migrate_copy")
    m.setup(1)
    m.prepare()
    val l = new JobListener
    val sc = spark.sparkContext
    BenchBus.drain(sc)
    sc.addSparkListener(l)
    val t0 = System.currentTimeMillis()
    val outcome = m.op(0)
    BenchBus.drain(sc)
    sc.removeSparkListener(l)
    val t1 = System.currentTimeMillis()
    val jobs = l.take()
    val errors = outcome().errors
    check(errors.isEmpty, s"the tiny copy failed its own check: $errors")
    val phases = Attribution.phases(jobs.map(_.callSite))
    Seq("classify", "expected", "sink", "verify").foreach { p =>
      check(phases.contains(p), s"no job attributed to $p; got ${phases.distinct}")
    }
    val all = Intervals.covered(jobs.map(j => (j.startMs, j.endMs)), t0, t1)
    val other = Intervals.covered(jobs.zip(phases).collect {
      case (j, "other") => (j.startMs, j.endMs) }, t0, t1)
    check(other <= 0.1 * all, s"$other of $all ms busy time unattributed")
    val stack = "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n" +
      "graft.core.FileAccount.$anonfun$upsertRaw$2(Accounts.scala:9)\n" +
      "graft.core.FileAccount.upsertRaw(Accounts.scala:8)\n" +
      "graft.Orchestrator$.migrateContainer(Orchestrator.scala:7)\n" +
      "graft.Orchestrator$.$anonfun$migrate$1(Orchestrator.scala:6)\n" +
      "perfbench.Migration.op(Workloads.scala:5)"
    check(Attribution.rawPhase(stack) == "sink", s"upsertRaw stack gave ${Attribution.rawPhase(stack)}")
    val state = "org.apache.spark.sql.Dataset.head(Dataset.scala:1)\n" +
      "graft.Orchestrator$.stateStats$1(Orchestrator.scala:9)\n" +
      "graft.Orchestrator$.migrateContainer(Orchestrator.scala:7)"
    check(Attribution.phases(Seq(state, stack, state)) == Seq("expected", "sink", "verify"),
      "content checks around the sink are not expected/verify")
    def under(action: String, caller: String) =
      s"org.apache.spark.sql.classic.$action(Dataset.scala:1)\n$caller(Orchestrator.scala:7)\n" +
        "graft.Orchestrator$.$anonfun$migrate$1(Orchestrator.scala:6)"
    Seq(
      under("Dataset.collect", "graft.Orchestrator$.migrateContainer") -> "classify",
      under("DataFrameWriter.text", "graft.Orchestrator$.migrateContainer") -> "deadletter",
      under("DataFrameWriter.text", "graft.operators.RawMerge$.classifyAll") -> "other",
      under("Dataset.collect", "graft.operators.RawMerge$.classifyAll") -> "other",
      under("Dataset.count", "graft.Orchestrator$.migrateContainer") -> "other")
      .foreach { case (s, want) =>
        check(Attribution.rawPhase(s) == want, s"${s.split('\n').take(2).mkString(" <- ")} gave " +
          s"${Attribution.rawPhase(s)}, not $want")
      }
  }

  private def corruptedTarget(spark: SparkSession, data: String, work: String): Unit = {
    val m = new Migration(spark, data, s"$work/corrupt", 6L, "migrate_rerun")
    m.setup(1)
    val clean = m.op(0)().errors
    check(clean.isEmpty, s"the clean rerun failed its check: $clean")
    val gate = m.op(1)
    // after the operation, alter one stored document in place (and drop its
    // checksum sidecar): only the gate's content check can see it
    val dataDir = new File(s"$work/corrupt/setup-1/target/${Generator.Db}/customer/data").toPath
    val file = Files.walk(dataDir).iterator().asScala
      .find(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-")).get
    val lines = Files.readAllLines(file).asScala
    Files.write(file, (lines.head.replaceFirst("\"acctbal\":[-0-9.]+", "\"acctbal\":-1") +:
      lines.tail).asJava)
    Files.deleteIfExists(file.resolveSibling("." + file.getFileName + ".crc"))
    val errors = gate().errors
    check(errors.exists(_.contains("content")), s"the gate passed a corrupted target: $errors")
  }
}
