package graft.core

import java.nio.charset.StandardCharsets

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** File metadata the engine acts on: driver-side listing signatures and the
  * corpus/bucket fingerprints — never data bytes. */
final case class FileMeta(relPath: String, size: Long, mtimeMs: Long)

/** One recursive listing ([[Storage.tree]]): every file and every directory
  * under a root, paths relative to it. */
final case class FileTree(files: Seq[FileMeta], dirs: Seq[String])

/** Capability hook for stores that can copy a file WITHOUT streaming its
  * bytes through this JVM (S3 CopyObject, GCS rewrite, Azure server-side
  * copy). A deployment's custom `fs.<scheme>.impl` implements this
  * alongside [[org.apache.hadoop.fs.FileSystem]]; [[HadoopStorage.copyFile]]
  * routes every same-filesystem copy — so the whole snapshot/restore path —
  * through it, turning an O(container-bytes-through-driver) snapshot into
  * O(files) metadata calls. The implementation owns the copy's atomicity:
  * it must not expose a partial file at `dst` (object-store copies are
  * atomic puts, so this is the natural behavior). Returns bytes copied. */
trait ServerSideCopy {
  def copyInStore(src: org.apache.hadoop.fs.Path,
                  dst: org.apache.hadoop.fs.Path): Long
}

/** The engine's storage boundary.
  *
  * The reference talks to a real remote store through a client object
  * (/root/reference/src/clients.py:7-11); everything this engine does to a
  * container directory tree — catalog metadata, bucket listings, sidecars,
  * dead-letter appends, the durable ANN index — goes through this trait so
  * the same code runs against any filesystem Spark itself can reach. The
  * default implementation is the Hadoop [[FileSystem]] API resolved per-path
  * from the active session's Hadoop configuration: `file:///` in the
  * sandbox, `hdfs://`/`s3a://`/object-store connectors on a cluster, or any
  * custom `fs.<scheme>.impl` the deployment registers (StorageSpec proves
  * the boundary with a non-default scheme).
  *
  * All calls are DRIVER-side metadata operations, O(files-listed); data-path
  * reads and writes stay on `spark.read`/`DataFrame.write`, which resolve
  * the same URIs through the same Hadoop configuration.
  */
trait Storage {
  def exists(p: String): Boolean
  def isDirectory(p: String): Boolean
  def mkdirs(p: String): Unit
  /** Delete a file (or empty dir); false if absent. */
  def delete(p: String): Boolean
  /** Recursive delete of a tree; false if absent. */
  def deleteRecursive(p: String): Boolean
  /** Directory/file rename; false on failure (e.g. destination exists).
    * Atomic on HDFS and POSIX filesystems — the publish primitive the
    * durable-index build relies on. On S3A, "rename" is a non-atomic
    * copy+delete: deployments there should point publish roots at a
    * rename-capable store (HDFS, or S3 behind a metadata layer) or accept
    * the documented single-writer assumption. */
  def rename(src: String, dst: String): Boolean
  /** Create a file atomically, failing if it already exists — the lock
    * primitive (HDFS: atomic create; local FS: create-new). S3A cannot
    * provide create-exclusive through this API (last-writer-wins PUT) —
    * same deployment note as [[rename]]: use a rename/lock-capable store
    * for coordination paths, or external coordination. */
  def createExclusive(p: String, content: String): Boolean
  /** Names of child DIRECTORIES (not paths). */
  def listDirNames(p: String): Seq[String]
  /** Full paths of child FILES (non-recursive). */
  def listFilePaths(p: String): Seq[String]
  /** Recursive file metadata under a tree, paths relative to `p`.
    * Empty if `p` is a file or absent — callers that accept single-file
    * roots use [[fileMeta]]. */
  final def walk(p: String): Seq[FileMeta] = tree(p).fold(Seq.empty[FileMeta])(_.files)
  /** [[walk]] with the directories it passed: one `listStatus` per
    * directory. None if `p` is a file or absent. */
  def tree(p: String): Option[FileTree]
  /** Metadata of one file, if it exists. */
  def fileMeta(p: String): Option[FileMeta]
  def readString(p: String): String
  def writeString(p: String, s: String): Unit
  /** Byte-for-byte copy of one file (parent dirs created, destination
    * overwritten); returns bytes copied. The contract — full copy, NO
    * partial visibility at the final name — is enforced by the default
    * implementation (stream to a dot-prefixed sibling, publish by rename),
    * so callers may rely on it. An object-store deployment remaps the byte
    * movement onto a server-side copy by implementing [[ServerSideCopy]]
    * on its `fs.<scheme>.impl` (S3 CopyObject and friends are atomic puts,
    * so the same no-partial-visibility contract holds there for free). */
  def copyFile(src: String, dst: String): Long
  /** Whether [[rename]] on this path's filesystem is ATOMIC (one metadata
    * op, fails-not-overwrites on existing destination) — the publish
    * primitive coordination paths rely on. False on object stores whose
    * "rename" is copy+delete (S3A and friends). Callers that coordinate
    * through rename MUST consult this and refuse (or demand an explicit
    * single-writer opt-in) when it is false — documentation alone does not
    * stop a concurrent second writer from corrupting a published tree. */
  def supportsAtomicRename(p: String): Boolean
  /** Whether [[createExclusive]] is a real atomic create-if-absent on this
    * path's filesystem — the lock primitive. False where PUT semantics are
    * last-writer-wins (S3 without a metadata layer). Same contract as
    * [[supportsAtomicRename]]: coordination callers must check, not hope. */
  def supportsExclusiveCreate(p: String): Boolean
  /** Cheap per-file CONTENT token for out-of-band-change detection
    * (ADVICE r11): CRC32C over the file's length, first 4 KiB, and last
    * 4 KiB — two seeks and ≤ 8 KiB read per file, independent of size.
    * Catches in-place rewrites that preserve size AND mtime (object-store
    * copies, `touch -r`, some rsync modes), which a size+mtime listing
    * cannot; for parquet the tail window always covers the footer, which
    * any rewrite perturbs. NOT a full-content hash and not adversarial —
    * it is a change detector for the append guards, not an integrity
    * proof. Formatted `t<hex>` so listing entries carrying it are
    * self-describing (see `Artifact.corpusEntries`). */
  def contentToken(p: String): String

  /** Replace the tree at `live` with the complete tree at `staging`, a
    * sibling of it, by the trash protocol: rename live to a trash sibling
    * (`<live>.trash-<tag>`), rename staging into live, delete the trash. A
    * failed second rename renames the trash back, then throws. At every
    * crash point either live or a trash [[healSwap]] finds holds the
    * complete pre-swap tree. An absent live skips the first rename; the
    * leftovers of an earlier crashed swap are healed first. */
  final def swapDir(staging: String, live: String): Unit = {
    healSwap(live)
    val trash = s"$live${Storage.TrashInfix}${java.util.UUID.randomUUID().toString.take(8)}"
    if (exists(live) && !rename(live, trash))
      throw new IllegalStateException(s"swap failed: could not move $live aside")
    if (!rename(staging, live)) {
      if (exists(trash)) rename(trash, live)
      throw new IllegalStateException(
        s"swap failed: could not rename $staging to $live; the pre-swap " +
          "tree is back in place, or in its trash for the next heal")
    }
    deleteRecursive(trash); ()
  }

  /** Finish or undo a crashed [[swapDir]] of `live`; run it when an
    * operation on `live` starts. With live absent, its trash holds the
    * complete pre-swap tree: rename it back (roll back). Once live exists,
    * delete every trash sibling and the staging siblings whose names
    * `staging` matches. With live and trash both absent nothing is
    * touched. */
  final def healSwap(live: String, staging: String => Boolean = _ => false): Unit = {
    val hp = new Path(live)
    val parent = hp.getParent
    val siblings = listDirNames(parent.toString)
    val trash = siblings.filter(_.startsWith(hp.getName + Storage.TrashInfix))
    if (!exists(live)) trash.headOption.foreach(t => rename(new Path(parent, t).toString, live))
    if (exists(live))
      (trash ++ siblings.filter(staging)).foreach(n => deleteRecursive(new Path(parent, n).toString))
  }
}

object Storage {
  /** Infix of a [[Storage.swapDir]] trash sibling's name. */
  private[core] val TrashInfix = ".trash-"

  /** The Spark reader convention for hidden files: a `_`- or `.`-prefixed
    * name (`_SUCCESS`, checksum sidecars, staging trees). Takes a name or
    * a path; a path is judged by its last segment. */
  def hidden(path: String): Boolean = {
    val n = path.substring(path.lastIndexOf('/') + 1)
    n.startsWith("_") || n.startsWith(".")
  }

  /** Hadoop configuration of the active Spark session — the same one its
    * own readers and writers resolve paths with — or a bare default when no
    * session is up (catalog calls before the first action). */
  def sessionHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** The default boundary: Hadoop FileSystem. The configuration is cached
    * per instance once a live session exists (see
    * [[HadoopStorage.resolvedConf]]): pre-session calls never pin a bare
    * conf, and a session reconfigured AFTER an instance cached requires a
    * new instance to be seen. */
  def hadoop: Storage = new HadoopStorage(() => sessionHadoopConf())

  /** Fixed-conf variant for tests that pin a specific configuration. */
  def hadoop(conf: Configuration): Storage = new HadoopStorage(() => conf)
}

final class HadoopStorage(conf: () => Configuration) extends Storage {
  /** Configuration cached from the first call made WITH a live Spark
    * session — a fresh `newHadoopConf()` clones the whole session conf, so
    * paying it per call would tax every bucket listing. Calls made before
    * any session exists get a throwaway bare Configuration WITHOUT caching
    * it: a long-lived holder (account/index singleton) whose first call
    * predates the session must still pick up `spark.hadoop.*` settings
    * (s3a credentials, fs.<scheme>.impl) once the session is up. Holders
    * that reconfigure an ALREADY-RUNNING session build a new
    * account/storage instance to see the change. */
  @volatile private var cachedConf: Configuration = _
  private def resolvedConf(): Configuration = {
    val c = cachedConf
    if (c != null) c
    else {
      val sessionUp = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession).nonEmpty
      val fresh = conf()
      if (sessionUp) cachedConf = fresh
      fresh
    }
  }

  /** Resolve the filesystem for a path — unwrapping client-side checksum
    * wrappers (LocalFileSystem): the engine's contract allows EXTERNAL
    * writers to touch container files directly, which would leave `.crc`
    * sidecars stale and fail every later metadata read with a
    * ChecksumException. Real cluster stores (HDFS/S3A) checksum server-side
    * and are unaffected; Spark's own data-path readers keep their own
    * checksum behavior (separate FS usage). */
  private def fs(p: Path): FileSystem = p.getFileSystem(resolvedConf()) match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  override def exists(p: String): Boolean = {
    val hp = new Path(p); fs(hp).exists(hp)
  }
  override def isDirectory(p: String): Boolean = {
    val hp = new Path(p)
    val f = fs(hp)
    f.exists(hp) && f.getFileStatus(hp).isDirectory
  }
  override def mkdirs(p: String): Unit = {
    val hp = new Path(p); fs(hp).mkdirs(hp); ()
  }
  override def delete(p: String): Boolean = {
    val hp = new Path(p); fs(hp).delete(hp, false)
  }
  override def deleteRecursive(p: String): Boolean = {
    val hp = new Path(p); fs(hp).delete(hp, true)
  }
  override def rename(src: String, dst: String): Boolean = {
    val s = new Path(src); fs(s).rename(s, new Path(dst))
  }
  override def createExclusive(p: String, content: String): Boolean = {
    val hp = new Path(p)
    fs(hp) match {
      case _: org.apache.hadoop.fs.RawLocalFileSystem =>
        // the Hadoop local create(overwrite=false) is exists-check-then-
        // create, NOT O_EXCL — two local processes could both "win"; go
        // through NIO's atomic createFile for a real exclusive create
        try {
          val nio = java.nio.file.Paths.get(hp.toUri.getPath)
          if (nio.getParent != null) java.nio.file.Files.createDirectories(nio.getParent)
          java.nio.file.Files.write(nio, content.getBytes(StandardCharsets.UTF_8),
            java.nio.file.StandardOpenOption.CREATE_NEW,
            java.nio.file.StandardOpenOption.WRITE)
          true
        } catch { case _: java.io.IOException => false }
      case f =>
        try {
          Using.resource(f.create(hp, /*overwrite=*/ false)) { out =>
            out.write(content.getBytes(StandardCharsets.UTF_8))
          }
          true
        } catch { case _: java.io.IOException => false }
    }
  }
  override def listDirNames(p: String): Seq[String] = {
    val hp = new Path(p)
    val f = fs(hp)
    if (!f.exists(hp) || f.getFileStatus(hp).isFile) Seq.empty
    else f.listStatus(hp).toSeq.filter(_.isDirectory).map(_.getPath.getName)
  }
  override def listFilePaths(p: String): Seq[String] = {
    val hp = new Path(p)
    val f = fs(hp)
    if (!f.exists(hp) || f.getFileStatus(hp).isFile) Seq.empty
    else f.listStatus(hp).toSeq.filter(_.isFile).map(_.getPath.toString)
  }
  override def tree(p: String): Option[FileTree] = {
    val hp = new Path(p)
    val f = fs(hp)
    val root =
      try f.getFileStatus(hp) catch { case _: java.io.FileNotFoundException => null }
    if (root == null || root.isFile) None
    else {
      // plain listStatus recursion, NOT listFiles(recursive): the latter
      // materializes LocatedFileStatus, whose eager permission load breaks
      // on custom local-backed schemes and buys nothing for metadata walks
      val base = root.getPath.toUri.getPath // normalized
      val files = Seq.newBuilder[FileMeta]
      val dirs = Seq.newBuilder[String]
      def rec(dir: Path): Unit = f.listStatus(dir).foreach { st =>
        val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
        if (st.isDirectory) { dirs += rel; rec(st.getPath) }
        else files += FileMeta(rel, st.getLen, st.getModificationTime)
      }
      rec(hp)
      Some(FileTree(files.result(), dirs.result()))
    }
  }
  override def fileMeta(p: String): Option[FileMeta] = {
    val hp = new Path(p)
    val f = fs(hp)
    if (!f.exists(hp)) None
    else {
      val st = f.getFileStatus(hp)
      if (st.isDirectory) None
      else Some(FileMeta(st.getPath.getName, st.getLen, st.getModificationTime))
    }
  }
  override def readString(p: String): String = {
    val hp = new Path(p)
    Using.resource(fs(hp).open(hp)) { in =>
      new String(in.readAllBytes(), StandardCharsets.UTF_8)
    }
  }
  override def copyFile(src: String, dst: String): Long = {
    val s = new Path(src); val d = new Path(dst)
    val sf = fs(s); val df = fs(d)
    // Fast path: both endpoints resolve to the SAME FileSystem instance
    // (Hadoop caches per scheme+authority, so same store) and it can copy
    // server-side — no bytes through this JVM, the remap the snapshot
    // cost model promises for object stores.
    (sf, df) match {
      case (a, ssc: ServerSideCopy) if a eq df =>
        df.delete(d, false)
        return ssc.copyInStore(s, d)
      case _ => ()
    }
    // Stream path: write to a dot-prefixed sibling and publish by ONE
    // rename, so the final name never exposes a growing half-written file
    // (the contract [[Storage.copyFile]] documents; fs.create(dst) alone
    // would violate it on local/HDFS). Dot-prefixed leftovers from a
    // crashed copy are invisible to every walk/signature/scan path, which
    // all skip '.'-prefixed names.
    val tmp = new Path(d.getParent,
      s"._copy-${d.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
    val total =
      try {
        Using.resource(sf.open(s)) { in =>
          Using.resource(df.create(tmp, /*overwrite=*/ true)) { out =>
            val buf = new Array[Byte](1 << 16)
            var n = in.read(buf)
            var t = 0L
            while (n >= 0) {
              if (n > 0) { out.write(buf, 0, n); t += n }
              n = in.read(buf)
            }
            t
          }
        }
      } catch {
        case e: Throwable => df.delete(tmp, false); throw e
      }
    df.delete(d, false)
    if (!df.rename(tmp, d)) {
      df.delete(tmp, false)
      throw new java.io.IOException(s"copy publish failed: $tmp -> $d")
    }
    total
  }
  override def writeString(p: String, s: String): Unit = {
    val hp = new Path(p)
    Using.resource(fs(hp).create(hp, /*overwrite=*/ true)) { out =>
      out.write(s.getBytes(StandardCharsets.UTF_8))
    }
  }

  override def supportsAtomicRename(p: String): Boolean =
    !HadoopStorage.isObjectStoreScheme(schemeOf(p))
  override def supportsExclusiveCreate(p: String): Boolean =
    !HadoopStorage.isObjectStoreScheme(schemeOf(p))

  override def contentToken(p: String): String = {
    val hp = new Path(p)
    val f = fs(hp)
    val len = f.getFileStatus(hp).getLen
    val k = 4096L
    val crc = new java.util.zip.CRC32C()
    // length first, so a head/tail-preserving mid-file resize still changes
    // the token
    crc.update(java.nio.ByteBuffer.allocate(8).putLong(len).array())
    Using.resource(f.open(hp)) { in =>
      def feed(off: Long, n: Int): Unit = {
        val buf = new Array[Byte](n)
        in.seek(off)
        var read = 0
        while (read < n) {
          val r = in.read(buf, read, n - read)
          if (r < 0) throw new java.io.EOFException(p)
          read += r
        }
        crc.update(buf, 0, n)
      }
      val head = math.min(len, k).toInt
      if (head > 0) feed(0L, head)
      if (len > k) feed(len - k, k.toInt) // may overlap the head: deterministic
    }
    f"t${crc.getValue}%08x"
  }

  /** Scheme from the URI (default-FS scheme when absent), WITHOUT
    * instantiating the FileSystem: the probe must answer even when the
    * connector jar for a denied scheme isn't on the classpath. */
  private def schemeOf(p: String): String = {
    val uri = new Path(p).toUri
    Option(uri.getScheme)
      .orElse(Option(FileSystem.getDefaultUri(resolvedConf()).getScheme))
      .getOrElse("file").toLowerCase
  }
}

object HadoopStorage {
  /** Schemes whose Hadoop connector gives NEITHER atomic rename NOR
    * create-exclusive: rename is a client-side copy+delete and create is a
    * last-writer-wins PUT. HDFS, local/POSIX, viewfs, and ABFS (ADLS Gen2
    * has real directory renames) are NOT listed; custom schemes default to
    * capable — a deployment wiring its own `fs.<scheme>.impl` that lacks
    * these primitives can extend the list via
    * `-Dgraft.storage.nonAtomicSchemes=scheme1,scheme2`. */
  private val BuiltinNonAtomic =
    Set("s3", "s3a", "s3n", "gs", "oss", "swift", "cos", "obs", "wasb", "wasbs")

  def isObjectStoreScheme(scheme: String): Boolean =
    BuiltinNonAtomic.contains(scheme) ||
      sys.props.get("graft.storage.nonAtomicSchemes").toSeq
        .flatMap(_.split(",")).map(_.trim.toLowerCase).contains(scheme)
}
