package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DupClusters, LexIndex, MmIvf, Similarity}

/** Pins the PUBLISHED on-disk layout of every durable index family: the
  * dir-name shape `v<ver>-<32 hex fingerprint>-<suffix>`, the exact set of
  * children, and the marker file's keys. Any change here means indexes
  * published by an earlier build stop warm-loading — it must come with a
  * format-version bump, never silently. */
class ArtifactLayoutSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, "artifact-layout-spec")
  val sf = "/root/testdata/sf0.001"

  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
      .filterNot(_.startsWith("."))

  private def lines(file: String): Seq[String] =
    scala.io.Source.fromFile(file, "UTF-8").getLines().filter(_.nonEmpty).toSeq

  /** Build one family into a fresh root (system property `rootProp`) and
    * return the single published dir. */
  private def published(rootProp: String)(build: => Unit): String = {
    val root = Files.createTempDirectory(Paths.get("target"), "layout")
      .toAbsolutePath.toString
    val prev = sys.props.get(rootProp)
    sys.props(rootProp) = root
    try build
    finally prev match {
      case Some(v) => sys.props(rootProp) = v
      case None    => sys.props.remove(rootProp); ()
    }
    val entries = names(root)
    assert(entries.size == 1,
      s"exactly one published dir, no lock or staging leftovers: $entries")
    s"$root/${entries.head}"
  }

  private def assertPartitioned(dir: String, key: String): Unit = {
    val parts = names(dir) - "_SUCCESS"
    assert(parts.nonEmpty && parts.forall(_.startsWith(s"$key=")),
      s"$dir must be partitioned by $key: $parts")
  }

  /** centroids.tsv: `cid\tv,v,...` lines with one dimension throughout. */
  private def centroidIds(dir: String): Seq[String] = {
    val rows = lines(s"$dir/centroids.tsv").map(_.split("\t", -1))
    assert(rows.forall(_.length == 2), rows.map(_.mkString("|")))
    assert(rows.map(_(1).split(",").length).distinct.size == 1)
    rows.map(_(0))
  }

  test("dup-cluster index: dir name, children and meta.tsv keys") {
    val dir = published("graft.dupindex.root") {
      DupClusters.build(spark, sf); DupClusters.evictSession(spark)
    }
    assert(dir.split('/').last.matches("v4-[0-9a-f]{32}-p3"), dir)
    assert(names(dir) == Set("sigs", "pairs", "clusters", "severed",
      "refuted", "verdicts", "corpus_files.tsv", "meta.tsv"), names(dir))
    assert(lines(s"$dir/meta.tsv").map(_.split("\t")(0)) ==
      Seq("nDocs", "pageRankIters"))
  }

  test("lex index: dir name, children and meta.tsv keys") {
    val dir = published("graft.lexindex.root") {
      LexIndex.build(spark, sf); LexIndex.evictSession(spark)
    }
    assert(dir.split('/').last.matches("v1-[0-9a-f]{32}-b64"), dir)
    assert(names(dir) == Set("postings", "terms", "doclen",
      "corpus_files.tsv", "meta.tsv"), names(dir))
    assertPartitioned(s"$dir/postings", "wb")
    assert(lines(s"$dir/meta.tsv").map(_.split("\t")(0)) ==
      Seq("nDocsAll", "nTok", "tTok", "buckets"))
  }

  test("mm index (image lane): dir name, children and centroids.tsv keys") {
    val dir = published("graft.mmivf.root") {
      MmIvf.build(spark, sf); MmIvf.evictSession(spark)
    }
    assert(dir.split('/').last.matches("v1-[0-9a-f]{32}-k8"), dir)
    assert(names(dir) == Set("features", "centroids.tsv"), names(dir))
    assertPartitioned(s"$dir/features", "cell")
    assert(centroidIds(dir) == (0 until 8).map(_.toString))
  }

  test("IVF index: dir name, children and centroids.tsv keys") {
    val dir = published("graft.ivf.root") {
      Similarity.IvfIndex.build(spark, sf, lloydIters = 0)
      Similarity.IvfIndex.evictSession(spark)
    }
    assert(dir.split('/').last.matches("v3-[0-9a-f]{32}-i0-k16"), dir)
    assert(names(dir) == Set("assignment", "assignment_int8", "scale.txt",
      "centroids.tsv"), names(dir))
    assertPartitioned(s"$dir/assignment", "cell")
    assertPartitioned(s"$dir/assignment_int8", "cell")
    assert(centroidIds(dir) == (0 until 16).map(_.toString))
  }
}
