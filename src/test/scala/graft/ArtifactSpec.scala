package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Artifact, Storage}

/** A local filesystem whose rename always fails — the publish step of
  * [[Artifact.publishOnce]] losing to the store. */
class NoRenameFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("norename:///")
  override def getScheme: String = "norename"
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean = false
}

/** The shared artifact protocol: the corpus-listing guard and the
  * publish-once contract every index family relies on — staging never
  * outlives a failed attempt, crashed leftovers are cleared under the
  * lock, and a published artifact is never staged again. */
class ArtifactSpec extends AnyFunSuite {
  private val st = Storage.hadoop

  private def tmpRoot(): String =
    Files.createTempDirectory(Paths.get("target"), "artifact-spec")
      .toAbsolutePath.toString

  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)
      .filterNot(_.startsWith("."))

  private def publishMarker(staging: String): Unit =
    st.writeString(s"$staging/meta.tsv", "k\tv\n")

  test("changedPriorFiles flags edited and removed files, ignores additions") {
    val prior = Seq("a.parquet:100:1:tdeadbeef", "b.parquet:200:2:tcafe0001")
    assert(Artifact.changedPriorFiles(prior,
      Seq("a.parquet:100:1:tdeadbeef", "b.parquet:200:2:tcafe0001",
        "c.parquet:50:3:t00000001")).isEmpty)
    // same size+mtime, different CONTENT token (the ADVICE r11 case)
    assert(Artifact.changedPriorFiles(prior,
      Seq("a.parquet:100:1:t12345678", "b.parquet:200:2:tcafe0001")) ==
      Seq("a.parquet:100:1:tdeadbeef"))
    assert(Artifact.changedPriorFiles(prior,
      Seq("b.parquet:200:2:tcafe0001")) == Seq("a.parquet:100:1:tdeadbeef"))
    // v1 prior listings (pre-token) compare on their own fields — the
    // one-time migration path: never refused by the token they lack
    val v1 = Seq("a.parquet:100:1", "b.parquet:200:2")
    assert(Artifact.changedPriorFiles(v1,
      Seq("a.parquet:100:1:tdeadbeef", "b.parquet:200:2:tcafe0001")).isEmpty)
    assert(Artifact.changedPriorFiles(v1,
      Seq("a.parquet:100:9:tdeadbeef", "b.parquet:200:2:tcafe0001")) ==
      Seq("a.parquet:100:1"))
  }

  test("publishOnce: a throwing stage leaves no staging tree, lock or target") {
    val root = tmpRoot()
    val path = s"$root/v1-x"
    val e = intercept[RuntimeException] {
      Artifact.publishOnce(path, "meta.tsv") { staging =>
        st.writeString(s"$staging/part-0", "corpus-sized bytes")
        throw new RuntimeException("stage failed")
      }
    }
    assert(e.getMessage == "stage failed")
    assert(names(root).isEmpty, s"leftovers: ${names(root)}")
  }

  test("publishOnce: a marker-less leftover and dead staging siblings are cleared, then republished") {
    val root = tmpRoot()
    val path = s"$root/v1-x"
    st.writeString(s"$path/stale-part", "crashed pre-publish")
    st.writeString(s"$path.tmp-dead0001/part-0", "crashed staging")
    // a sibling artifact whose name merely extends this one is untouched
    st.writeString(s"$path-aud.tmp-live0001/part-0", "other artifact")
    Artifact.publishOnce(path, "meta.tsv") { staging =>
      st.writeString(s"$staging/fresh", "y")
      publishMarker(staging)
    }
    assert(names(root) == Set("v1-x", "v1-x-aud.tmp-live0001"), names(root))
    assert(names(path) == Set("fresh", "meta.tsv"), names(path))
  }

  test("publishOnce: a failed rename throws and removes the staging dir") {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.norename.impl", classOf[NoRenameFs].getName)
    val fs = Storage.hadoop(conf)
    val root = tmpRoot()
    val e = intercept[IllegalStateException] {
      Artifact.publishOnce(s"norename:$root/v1-x", "meta.tsv", fs) { staging =>
        fs.writeString(s"$staging/part-0", "x")
        fs.writeString(s"$staging/meta.tsv", "k\tv\n")
      }
    }
    assert(e.getMessage.contains("failed"), e.getMessage)
    assert(names(root).isEmpty, s"leftovers: ${names(root)}")
  }

  test("publishOnce: a caller after a publish never runs its stage body") {
    val root = tmpRoot()
    val runs = new AtomicInteger(0)
    val path = s"$root/v1-x"
    Artifact.publishOnce(path, "meta.tsv") { staging =>
      runs.incrementAndGet(); publishMarker(staging)
    }
    Artifact.publishOnce(path, "meta.tsv") { _ => runs.incrementAndGet(); () }
    assert(runs.get == 1)
    // a caller that arrives WHILE the first one stages waits on the lock,
    // re-checks the marker, and loads instead of staging again
    val racing = s"$root/v1-y"
    val staging = new CountDownLatch(1)
    val first = new Thread(() => Artifact.publishOnce(racing, "meta.tsv") { s =>
      staging.countDown(); Thread.sleep(300)
      runs.incrementAndGet(); publishMarker(s)
    })
    first.start()
    staging.await()
    Artifact.publishOnce(racing, "meta.tsv") { _ => runs.incrementAndGet(); () }
    first.join()
    assert(runs.get == 2)
    assert(names(root) == Set("v1-x", "v1-y"), names(root))
  }
}
