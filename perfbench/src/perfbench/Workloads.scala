package perfbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.Orchestrator
import graft.core.FileAccount

/** What one timed operation left for the checks and metrics (all
  * collected outside the timed interval). */
final case class OpOutcome(errors: Seq[String], values: Map[String, Double],
                           parts: Seq[Part])

/** A named sub-interval of an operation (one query of a mix pass), the
  * unit that per-module trace attribution works on. */
final case class Part(name: String, module: String, startMs: Long,
                      fnEndMs: Long, endMs: Long, seconds: Double)

trait Workload {
  /** One set-up, into a fresh directory; operations use the latest one. */
  def setup(rep: Int): Unit
  /** Untimed work before each operation (resets the target). */
  def prepare(): Unit = ()
  /** The timed operation; returns a closure that checks it afterwards. */
  def op(i: Int): () => OpOutcome
}

object FileTrees {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.iterator().asScala.toVector.reverse.foreach(Files.delete) finally all.close()
    }

  /** Copies a directory tree, keeping modification times: the target's
    * listing signatures stay valid, exactly as if it had never moved. */
  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.iterator().asScala.foreach { s =>
      val d = to.resolve(from.relativize(s))
      if (Files.isDirectory(s)) Files.createDirectories(d)
      else Files.copy(s, d, StandardCopyOption.COPY_ATTRIBUTES)
    } finally all.close()
    val dirs = Files.walk(from)
    try dirs.iterator().asScala.filter(Files.isDirectory(_)).toVector.reverse.foreach { s =>
      Files.setLastModifiedTime(to.resolve(from.relativize(s)), Files.getLastModifiedTime(s))
    } finally dirs.close()
  }

  /** Data files (no hidden or `_` files) below `dir`: path → (size, mtime). */
  def dataFiles(dir: Path): Map[String, (Long, Long)] =
    if (!Files.exists(dir)) Map.empty
    else {
      val all = Files.walk(dir)
      try all.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }.map(f => f.toString -> (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
      finally all.close()
    }
}

/** The three migration workloads over one seeded account. */
final class Migration(spark: SparkSession, data: String, work: String,
                      seed: Long, kind: String) extends Workload {
  import Generator._

  // the delta masks what it writes into an unmasked target, so identical
  // re-sends still classify as skips
  private val sanitize = kind != "migrate_rerun"
  private var fullRoot, srcRoot, tgtRoot, seededRoot: String = _
  private var expect: Map[String, Expect] = Map.empty

  /** Every container's full source documents, for the kernel timings. */
  def sourceDocs(): Seq[(Spec, DataFrame)] =
    Specs.map(s => s -> FileAccount(fullRoot).readRaw(spark, Db, s.name))

  def setup(rep: Int): Unit = {
    val base = s"$work/setup-$rep"
    fullRoot = s"$base/source"
    srcRoot = fullRoot
    tgtRoot = s"$base/target"
    val fulls = Specs.map { s =>
      val df = full(spark, data, s.name, seed).cache()
      writeContainer(fullRoot, s, df)
      s -> df
    }
    expect = fulls.map { case (s, df) =>
      s.name -> (kind match {
        case "migrate_copy" => expectCopy(df, sanitize = true)
        case "migrate_rerun" => expectRerun(df)
        case "migrate_delta" =>
          srcRoot = s"$base/delta"
          seededRoot = s"$base/seeded"
          val d = delta(spark, data, s.name, seed).cache()
          writeContainer(srcRoot, s, d)
          try expectDelta(df, d, sanitize) finally d.unpersist()
      })
    }.toMap
    fulls.foreach(_._2.unpersist())
    // the rerun target is an unmasked copy of the source; the delta merges
    // into a pristine unmasked copy restored before every operation
    kind match {
      case "migrate_rerun" => seedTarget(fullRoot, tgtRoot)
      case "migrate_delta" => seedTarget(fullRoot, seededRoot)
      case _ =>
    }
  }

  private def seedTarget(from: String, to: String): Unit = {
    Files.createDirectories(new File(to).toPath)
    val s = Orchestrator.migrate(spark, FileAccount(from), FileAccount(to))
    require(s.ok, s"seeding $to did not verify")
  }

  /** The target's data files before the next operation, for write_amp. */
  private var before = Map.empty[String, (Long, Long)]

  override def prepare(): Unit = {
    kind match {
      case "migrate_copy" =>
        FileTrees.deleteTree(new File(tgtRoot).toPath)
        Files.createDirectories(new File(tgtRoot).toPath)
      case "migrate_delta" =>
        FileTrees.deleteTree(new File(tgtRoot).toPath)
        FileTrees.copyTree(new File(seededRoot).toPath, new File(tgtRoot).toPath)
      case _ =>
    }
    before = dataDirs.map(FileTrees.dataFiles).reduce(_ ++ _)
  }

  private def dataDirs: Seq[Path] =
    Specs.map(s => new File(FileAccount(tgtRoot).dataPath(Db, s.name)).toPath)

  def op(i: Int): () => OpOutcome = {
    val summary = Orchestrator.migrate(spark, FileAccount(srcRoot), FileAccount(tgtRoot),
      Orchestrator.Config(sanitize = sanitize))
    val prior = before
    () => check(summary, prior)
  }

  /** Checks one migrate call against the generator's expectations and
    * measures what it wrote. */
  private def check(summary: Orchestrator.Summary,
                    before: Map[String, (Long, Long)]): OpOutcome = {
    val tgt = FileAccount(tgtRoot)
    val byName = summary.results.map(r => r.container -> r).toMap
    val errors = Specs.flatMap { s =>
      val e = expect(s.name)
      byName.get(s.name) match {
        case None => Seq(s"${s.name}: no result")
        case Some(r) =>
          val counters = Seq(("inserted", r.inserted, e.inserted), ("updated", r.updated, e.updated),
            ("skipped", r.skipped, e.skipped), ("errors", r.errors, e.errors))
            .collect { case (n, got, want) if got != want => s"${s.name}: $n $got != $want" }
          val content = Digest.ofDocs(tgt.readRaw(spark, Db, s.name))
          val dead = FileTrees.dataFiles(new File(tgt.errorsPath(Db, s.name)).toPath).keys.toSeq
            .map(f => Files.readAllLines(new File(f).toPath).size.toLong).sum
          counters ++
            (if (!r.verified) Seq(s"${s.name}: verified=false") else Nil) ++
            (if (content != e.content) Seq(s"${s.name}: content $content != ${e.content}") else Nil) ++
            (if (dead != e.errors) Seq(s"${s.name}: dead-letter rows $dead != ${e.errors}") else Nil)
      }
    }
    val after = dataDirs.map(FileTrees.dataFiles).reduce(_ ++ _)
    val written = after.collect { case (p, m) if !before.get(p).contains(m) => m._1 }.sum
    val changed = Specs.map(s => expect(s.name).changedBytes).sum
    val live = Specs.map(s => expect(s.name).liveBytes).sum
    val docs = summary.results.map(_.sourceCount).sum.toDouble
    val writtenDocs = summary.results.map(r => r.inserted + r.updated).sum.toDouble
    OpOutcome(errors, Map(
      "docs" -> docs, "written_docs" -> writtenDocs,
      "written_bytes" -> written.toDouble, "changed_bytes" -> changed.toDouble,
      "data_bytes" -> after.values.map(_._1).sum.toDouble, "live_bytes" -> live.toDouble,
      "data_files" -> after.size.toDouble,
      "incremental" -> summary.results.count(_.verifyMode == "incremental").toDouble),
      Nil)
  }
}

/** The warm query mix: a fixed list of registry queries, each pass in a
  * seed-permuted order, every result checked against committed digests. */
final class QueryMix(spark: SparkSession, data: String, work: String,
                     seed: Long, expected: Map[String, (Long, Digest)]) extends Workload {
  import QueryMix._

  private def setIndexRoots(dir: String): Unit = Seq(
    "graft.ivf.root" -> "ivf", "graft.lexindex.root" -> "lex",
    "graft.dupindex.root" -> "dup", "graft.mmivf.root" -> "mm")
    .foreach { case (k, v) => System.setProperty(k, s"$dir/$v") }

  /** Builds the durable index the mix reads into a fresh root, so every
    * later pass takes the cache-hit path. */
  def setup(rep: Int): Unit = {
    setIndexRoots(s"$work/index-$rep")
    IndexQueries.foreach(q => graft.SparkEntry.queries(q)(spark, data).collect())
  }

  def op(i: Int): () => OpOutcome = {
    val order = new scala.util.Random(seed * 1000003L + i).shuffle(Mix)
    val done = order.map { case (q, module) =>
      val n0 = System.nanoTime()
      val t0 = System.currentTimeMillis()
      val df = graft.SparkEntry.queries(q)(spark, data)
      val t1 = System.currentTimeMillis()
      val rows = df.collect().toSeq
      val part = Part(q, module, t0, t1, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9)
      (part, df.schema, rows)
    }
    () => check(done)
  }

  private def check(done: Seq[(Part, StructType, Seq[Row])]): OpOutcome = {
    val errors = done.flatMap { case (p, schema, rows) =>
      val got = (rows.size.toLong, Digest.ofRows(schema, rows))
      expected.get(p.name) match {
        case None => Seq(s"${p.name}: no expected digest")
        case Some(want) if want != got => Seq(s"${p.name}: rows/digest $got != $want")
        case _ => Nil
      }
    }
    OpOutcome(errors, Map("queries" -> done.size.toDouble), done.map(_._1))
  }
}

object QueryMix {
  /** Query → operator module. Light queries are bound by fixed overhead;
    * the rest run the sketch, PQ and text kernels. */
  val Mix: Seq[(String, String)] = Seq(
    "q_a1_count" -> "relational",
    "q_d1_exact_dedup" -> "dedup",
    "q_t1_lang_id" -> "textanalysis",
    "q_st1_tumbling" -> "streams",
    "q_mm2_frame_sample" -> "multimodal",
    "q_j6_composite_key" -> "joins",
    "q_d13_minhash_est" -> "dedup",
    "q_sim14_ivfpq" -> "similarity")

  /** The queries of the mix that build a durable index on first use. */
  val IndexQueries: Seq[String] = Seq("q_sim14_ivfpq")

  val Modules: Seq[String] = Seq("relational", "joins", "dedup", "similarity",
    "textanalysis", "multimodal", "streams")

  /** Reads `name<TAB>rows<TAB>digest` lines. */
  def readExpected(path: String): Map[String, (Long, Digest)] =
    Files.readAllLines(new File(path).toPath).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, n, d) = l.split('\t')
        q -> (n.toLong, Digest.parse(d))
      }.toMap
}
