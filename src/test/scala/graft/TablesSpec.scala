package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** The schema memo in [[Tables.load]]: a warm load starts no Spark job, reads
  * what a plain `spark.read.parquet` reads, and infers again when the files
  * or the session's inference confs change. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(2, "tables-spec")

  /** Spark jobs started by `body` on this thread. A marker job run after it
    * in its own job group proves every earlier job event was delivered. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val counted = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`)  => counted.incrementAndGet(); ()
          case Some(`marker`) => markerSeen.countDown()
          case _              =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "measured")
      body
      sc.setJobGroup(marker, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(60, TimeUnit.SECONDS), "marker job event never arrived")
      counted.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tempDir(prefix: String): String =
    Files.createTempDirectory(Paths.get("target"), prefix).toAbsolutePath.toString

  /** A parquet file written without Spark, so its footer carries no Spark
    * schema and inference reads the parquet types themselves. */
  private def writeParquet(path: String, message: String)(
      rows: SimpleGroupFactory => Seq[org.apache.parquet.example.data.Group]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new HPath(path)).withType(schema).build()
    try rows(new SimpleGroupFactory(schema)).foreach(w.write) finally w.close()
  }

  /** A sf-style dir: `documents` written by Spark, `events` with the
    * TIMESTAMP(NANOS) column the session reads as BIGINT (nanosAsLong). */
  private lazy val sf: String = {
    import spark.implicits._
    val dir = tempDir("tables-sf")
    Seq((1L, "a b", Seq(1L, 2L), 1.5), (2L, "c", Seq.empty[Long], 2.5))
      .toDF("doc_id", "text", "v", "x").write.parquet(s"$dir/documents.parquet")
    writeParquet(s"$dir/events.parquet",
      "message m { required int64 user_id; required int64 ts (TIMESTAMP(NANOS,false)); }") { f =>
      Seq(f.newGroup().append("user_id", 7L).append("ts", 1700000000123456789L),
        f.newGroup().append("user_id", 8L).append("ts", 1700000001000000001L))
    }
    dir
  }

  test("a second load of the same table starts no Spark job") {
    // the listener sees the inference job a bare read starts
    assert(jobsOf { spark.read.parquet(s"$sf/documents.parquet").schema } >= 1)
    Tables.documents(spark, sf).schema
    assert(jobsOf { Tables.documents(spark, sf).schema } == 0)
  }

  test("a memoized load reads the same schema and rows as spark.read.parquet") {
    for (name <- Seq("documents", "events")) {
      Tables.load(spark, sf, name)
      val memo = Tables.load(spark, sf, name)
      val plain = spark.read.parquet(s"$sf/$name.parquet")
      assert(memo.schema == plain.schema, name)
      assert(rows(memo) == rows(plain), name)
    }
    assert(Tables.events(spark, sf).where("user_id = 7")
      .selectExpr("unix_micros(ts)").head().getLong(0) == 1700000000123456L)
  }

  test("a table overwritten with a different schema is inferred again") {
    import spark.implicits._
    val dir = tempDir("tables-overwrite")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").schema.fieldNames.toSeq == Seq("id", "s"))
    assert(jobsOf { Tables.load(spark, dir, "t").schema } == 0)
    Seq((2L, 3.5, true)).toDF("id", "x", "flag")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.load(spark, dir, "t")
    assert(after.schema.fieldNames.toSeq == Seq("id", "x", "flag"))
    assert(after.collect().toSeq == Seq(Row(2L, 3.5, true)))
  }

  test("flipping spark.sql.parquet.binaryAsString infers again") {
    // an unannotated BINARY column in a file without Spark's footer schema
    // (a Spark-written one would pin the type)
    val dir = tempDir("tables-binary")
    writeParquet(s"$dir/bin.parquet", "message m { required int64 id; required binary b; }") {
      f => Seq(f.newGroup().append("id", 1L).append("b", "ab"))
    }
    val key = "spark.sql.parquet.binaryAsString"
    val prior = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.load(spark, dir, "bin").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.load(spark, dir, "bin")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.collect().toSeq == Seq(Row(1L, "ab")))
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
