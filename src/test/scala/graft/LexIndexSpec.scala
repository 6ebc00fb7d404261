package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LexIndex, Similarity, TextAnalysis}

/** The durable inverted index (VERDICT r10 task 2): the served BM25 and
  * Jaccard lanes must be bit-equal to their index-free formulations, warm
  * consumers must read ONLY index files (zero corpus passes, with the BM25
  * posting read bucket-PRUNED to the query terms), and the append path
  * must equal a from-scratch rebuild — with the out-of-band-change guard
  * (ADVICE r10) refusing to append onto a silently-edited base. */
class LexIndexSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, "lexindex-spec")
  val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def backing(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources
          .HadoopFsRelation].location.inputFiles.toSeq
    }.flatten

  test("served BM25 (qT21) is bit-equal to the index-free formulation") {
    assert(rows(TextAnalysis.qT21(spark, sf)) ==
      rows(TextAnalysis.qT21Direct(spark, sf)))
  }

  test("served Jaccard lane is bit-equal to the index-free formulation") {
    val served = rows(LexIndex.jaccardTopDocs(spark, sf).orderBy("q_id", "r_l"))
    val direct = rows(Similarity.lexLaneDirect(spark, sf).orderBy("q_id", "r_l"))
    assert(served == direct)
  }

  // walk the EXECUTED plan including AQE wrappers and materialized query
  // stages (QueryStageExec is a leaf — plain collect won't descend)
  private def allScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = p match {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case _ => Seq.empty
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case other => other.children
    }
    here ++ kids.flatMap(allScans)
  }

  test("warm BM25 touches only index files, postings bucket-pruned to the query terms") {
    TextAnalysis.qT21(spark, sf).collect() // ensure built + warm
    val q = TextAnalysis.qT21(spark, sf)
    q.collect()
    val files = q.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains("lex-index")),
      s"warm BM25 must read only index files: ${files.take(3)}")
    // the postings read must be PRUNED to the query terms' buckets — the
    // on-disk posting-list seek: 3 terms -> at most 3 of the 64 bucket
    // dirs actually read (executed-scan metrics, not the unpruned listing)
    val post = allScans(q.queryExecution.executedPlan)
      .filter(_.relation.location.inputFiles.exists(_.contains("postings")))
    assert(post.nonEmpty, "no postings scan found in the executed plan")
    val filesRead = post.map(_.metrics("numFiles").value).sum
    val allPostingFiles =
      post.head.relation.location.inputFiles.count(_.contains("postings"))
    assert(filesRead > 0 && filesRead <= 3 && filesRead < allPostingFiles,
      s"3 query terms must prune the postings read to <= 3 bucket files, " +
        s"read $filesRead of $allPostingFiles")
  }

  test("user-query BM25 (bm25ForQuery): bucket-pruned reads, tokenizer " +
    "parity, OOV skip, all-OOV empty (VERDICT r14 task 3)") {
    // correctness vs a direct per-term computation through the SAME index
    // frames: a 2-term query must score exactly the docs carrying those
    // terms; an appended OOV term must change nothing; an all-OOV query
    // returns the typed empty frame
    val q2 = LexIndex.bm25ForQuery(spark, sf, "fast vector")
    val q2oov = LexIndex.bm25ForQuery(spark, sf, "fast zzznothere vector")
    def rset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rset(q2).nonEmpty)
    assert(rset(q2) == rset(q2oov),
      "an out-of-vocabulary term must contribute nothing")
    // the index tokenizer lowers: mixed-case query matches the same terms
    assert(rset(LexIndex.bm25ForQuery(spark, sf, "FAST Vector")) == rset(q2),
      "query tokenization must mirror the index's lower()")
    val empty = LexIndex.bm25ForQuery(spark, sf, "zzznothere qqqnope")
    assert(empty.columns.toSeq == Seq("doc_id", "n_hit", "bm25_s")
      && empty.count() == 0L, "all-OOV query: typed empty frame")
    // serving shape: warm run reads ONLY index files, postings pruned to
    // the query terms' buckets (the qT21 discipline)
    val warm = LexIndex.bm25ForQuery(spark, sf, "fast vector join")
    warm.collect()
    val files = warm.inputFiles.toSeq
    assert(files.nonEmpty && files.forall(_.contains("lex-index")),
      s"warm bm25ForQuery must read only index files: ${files.take(3)}")
    val post = allScans(warm.queryExecution.executedPlan)
      .filter(_.relation.location.inputFiles.exists(_.contains("postings")))
    assert(post.nonEmpty, "no postings scan found in the executed plan")
    val filesRead = post.map(_.metrics("numFiles").value).sum
    val allPostingFiles =
      post.head.relation.location.inputFiles.count(_.contains("postings"))
    assert(filesRead > 0 && filesRead <= 3 && filesRead < allPostingFiles,
      s"3 query terms must prune the postings read to <= 3 bucket files, " +
        s"read $filesRead of $allPostingFiles")
  }

  test("warm Jaccard lane runs zero corpus passes") {
    LexIndex.jaccardTopDocs(spark, sf).collect()
    val q = LexIndex.jaccardTopDocs(spark, sf)
    q.collect()
    // doclen is served from the session cache (InMemory scan) and postings
    // from parquet: every surviving file relation must be an index file
    val files = q.inputFiles.toSeq
    assert(files.forall(_.contains("lex-index")),
      s"warm Jaccard must not re-read corpus text: ${files.take(3)}")
  }

  test("durable: a fresh session loads the artifact and answers identically") {
    val orig = rows(TextAnalysis.qT21(spark, sf))
    val s2 = spark.newSession()
    val idx = LexIndex.build(s2, sf)
    for ((df, what) <- Seq((idx.terms, "terms"), (idx.doclen, "doclen"))) {
      val files = backing(df)
      assert(files.nonEmpty && files.forall(_.contains("lex-index")),
        s"fresh-session $what must come from the durable artifact: ${files.take(3)}")
    }
    assert(rows(TextAnalysis.qT21(s2, sf)) == orig)
  }

  test("append: delta advance equals from-scratch build of the post-append corpus") {
    val root = Files.createTempDirectory("graft-lexappend").toString
    val corpus = s"$root/documents.parquet"
    val all = graft.core.Tables.documents(spark, sf)
    val base = all.where(col("doc_id") < 450)
    val delta = all.where(col("doc_id") >= 450)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      base.write.parquet(corpus)
      val idx0 = LexIndex.build(spark, root)
      delta.write.mode("append").parquet(corpus)
      val idx1 = LexIndex.append(spark, root, idx0,
        delta.select("doc_id", "text"))
      // totals reconcile with a from-scratch view of the full corpus
      val full = LexIndex.build(spark, sf)
      assert(idx1.nDocsAll == full.nDocsAll && idx1.nTok == full.nTok &&
        idx1.tTok == full.tTok,
        s"appended totals ${(idx1.nDocsAll, idx1.nTok, idx1.tTok)} != " +
          s"full-corpus ${(full.nDocsAll, full.nTok, full.tTok)}")
      // sidecars and postings equal the full corpus' (same docs either way)
      def sorted(df: org.apache.spark.sql.DataFrame, cols: String*) =
        rows(df.select(cols.head, cols.tail: _*).orderBy(cols.head, cols.tail: _*))
      assert(sorted(idx1.terms, "w", "df") == sorted(full.terms, "w", "df"))
      assert(sorted(idx1.doclen, "doc_id", "dl", "nterms", "has_empty") ==
        sorted(full.doclen, "doc_id", "dl", "nterms", "has_empty"))
      assert(sorted(idx1.postings, "doc_id", "w", "tf") ==
        sorted(full.postings, "doc_id", "w", "tf"))
      // and the served query answers identically on the appended index
      assert(rows(TextAnalysis.qT21(spark, root)) ==
        rows(TextAnalysis.qT21(spark, sf)))
      // the superseded handle's sidecars are RELEASED by the append
      assert(idx0.terms.storageLevel ==
        org.apache.spark.storage.StorageLevel.NONE &&
        idx0.doclen.storageLevel ==
          org.apache.spark.storage.StorageLevel.NONE,
        "append must unpersist the superseded index's frames")
    } finally { delta.unpersist(); () }
  }

  test("append refuses an out-of-band edit even when the row count adds up") {
    val root = Files.createTempDirectory("graft-lexoob").toString
    val corpus = s"$root/documents.parquet"
    val all = graft.core.Tables.documents(spark, sf)
    all.where(col("doc_id") < 450).write.parquet(corpus)
    val idx0 = LexIndex.build(spark, root)
    // out-of-band: REPLACE the base corpus in place (same doc count — the
    // count-only guard ADVICE r10 flagged would pass), then land a delta
    val tmp = Files.createTempDirectory("graft-lexoob2").toString
    graft.core.Tables.documents(spark, root)
      .withColumn("text", concat(col("text"), lit(" edited")))
      .write.parquet(s"$tmp/documents.parquet")
    new scala.reflect.io.Directory(new java.io.File(corpus)).deleteRecursively()
    new java.io.File(s"$tmp/documents.parquet")
      .renameTo(new java.io.File(corpus))
    val delta = all.where(col("doc_id") >= 450)
    delta.write.mode("append").parquet(corpus)
    val e = intercept[IllegalArgumentException] {
      LexIndex.append(spark, root, idx0, delta.select("doc_id", "text"))
    }
    assert(e.getMessage.contains("out-of-band"),
      s"guard must name the out-of-band change: ${e.getMessage}")
  }

  test("append refuses an in-place same-size edit with preserved mtime (content token)") {
    val root = Files.createTempDirectory("graft-lextok").toString
    val corpus = s"$root/documents.parquet"
    val all = graft.core.Tables.documents(spark, sf)
    all.where(col("doc_id") < 450).coalesce(1).write.parquet(corpus)
    val idx0 = LexIndex.build(spark, root)
    // in-place edit of a corpus data file: same size, mtime restored — the
    // size+mtime guard ADVICE r11 flagged would pass; the content token
    // must refuse. (Stale .crc sidecars from the external edit are removed
    // — Hadoop's checksum wrapper would otherwise fail the read itself.)
    val dataFile = new java.io.File(corpus).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).head
    val mtime = java.nio.file.Files.getLastModifiedTime(dataFile.toPath)
    val bytes = java.nio.file.Files.readAllBytes(dataFile.toPath)
    // flip a byte inside the token's tail window (a real rewrite perturbs
    // the parquet footer, which always sits there)
    val off = bytes.length - 16
    bytes(off) = (bytes(off) ^ 0x5a).toByte
    java.nio.file.Files.write(dataFile.toPath, bytes)
    java.nio.file.Files.setLastModifiedTime(dataFile.toPath, mtime)
    new java.io.File(corpus).listFiles()
      .filter(_.getName.endsWith(".crc")).foreach(_.delete())
    val delta = all.where(col("doc_id") >= 450)
    delta.write.mode("append").parquet(corpus)
    val e = intercept[IllegalArgumentException] {
      LexIndex.append(spark, root, idx0, delta.select("doc_id", "text"))
    }
    assert(e.getMessage.contains("out-of-band"),
      s"content token must catch the preserved-mtime rewrite: ${e.getMessage}")
  }
}
