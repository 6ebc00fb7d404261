package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.IndexRetention

/** The durable-artifact protocol every corpus-fingerprint-keyed index family
  * shares ([[graft.operators.Similarity.IvfIndex]], [[graft.operators
  * .DupClusters]], [[graft.operators.LexIndex]], [[graft.operators.MmIvf]]):
  *
  *   - corpus identity: a driver-metadata fingerprint of the family's corpus
  *     file names the published dir `v<ver>-<fp><suffix>` under the family's
  *     root, so a changed corpus can never be served a stale index; the
  *     `corpus_files.tsv` listing and [[Family.appendGuard]] keep delta
  *     appends from landing on an out-of-band-edited base;
  *   - the mutation lock ([[withIndexLock]]) every build and append holds;
  *   - [[publishOnce]]: stage into `<path>.tmp-*`, marker file last, one
  *     atomic rename — the marker's existence IS the published predicate;
  *   - persist-and-count loading ([[persistCounted]]) and a session-scoped
  *     handle cache whose release step is the handle's own persisted frames
  *     ([[Handle]]);
  *   - retention ([[Family.expireStale]], the `expire_indexes` sweep).
  *
  * The families keep their recipes, layouts and format versions; how an
  * artifact becomes visible is decided only here. */
object Artifact {

  private lazy val store: Storage = Storage.hadoop

  private[graft] def sub(base: String, child: String): String =
    new Path(base, child).toString

  // ------------------------------------------------------- corpus identity

  /** Driver-metadata fingerprint of one file/dir tree (relative names,
    * sizes, mtimes) — the key every family's published dir embeds. */
  def fileFingerprint(p: String): String = {
    val walked = store.walk(p)
    val parts =
      if (walked.nonEmpty) walked.map(f => s"${f.relPath}:${f.size}:${f.mtimeMs}").sorted
      else store.fileMeta(p).map(f => s"${f.size}:${f.mtimeMs}").toSeq
    java.security.MessageDigest.getInstance("MD5")
      .digest(parts.mkString(";").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The corpus file listing serialized for `corpus_files.tsv` — one
    * `relPath:size:mtimeMs:t<crc>` line per DATA file, sorted. The trailing
    * token is [[Storage.contentToken]] (CRC32C of length + first/last
    * 4 KiB — ADVICE r11: size+mtime alone misses a same-size
    * preserved-mtime in-place rewrite). Hidden/metadata files (basename
    * starting `_` or `.` — `_SUCCESS`, checksum sidecars) are excluded:
    * readers ignore them by the Hadoop convention, and an append
    * legitimately rewrites `_SUCCESS`. [[Family.appendGuard]] compares
    * these entries exactly. */
  def corpusEntries(p: String): Seq[String] = {
    val walked = store.walk(p).filterNot(f => Storage.hidden(f.relPath))
    val parts =
      if (walked.nonEmpty) walked.map { f =>
        val tok = store.contentToken(sub(p, f.relPath))
        s"${f.relPath}:${f.size}:${f.mtimeMs}:$tok"
      }
      else store.fileMeta(p)
        .map(f => s":${f.size}:${f.mtimeMs}:${store.contentToken(p)}").toSeq
    parts.sorted
  }

  /** Classify one listing entry by FIELD COUNT from the right (ADVICE
    * r12): a v2 entry is `relPath:size:mtimeMs:t<crc>` — size/mtime are
    * digit-only and the token starts `t`, so the three trailing `:`-fields
    * identify the version unambiguously even when relPath itself contains
    * `:` (or ends in `:t<hex>`, which the pre-r13 suffix regex could
    * mis-strip). A v1 entry's last field is the digit-only mtime, so it
    * can never be misread as v2. Returns (v1 form, hadToken). */
  private def splitEntry(e: String): (String, Boolean) = {
    val parts = e.split(":", -1)
    def digits(x: String) = x.nonEmpty && x.forall(_.isDigit)
    def tok(x: String) = x.length > 1 && x.head == 't' &&
      x.drop(1).forall(c => c.isDigit || (c >= 'a' && c <= 'f'))
    if (parts.length >= 4 && tok(parts.last) &&
        digits(parts(parts.length - 2)) && digits(parts(parts.length - 3)))
      (e.substring(0, e.lastIndexOf(':')), true)
    else (e, false)
  }

  /** Out-of-band-change guard (ADVICE r10/r11): every file recorded at the
    * prior build must still exist UNCHANGED — same size, mtime, AND content
    * token — in the current corpus; a delta append only ADDS files. A
    * prior listing written before the token existed (v1: no `:t<crc>`
    * suffix) is compared on its own fields — the one-time migration: the
    * successor index an append publishes records v2 entries, so every
    * LATER append verifies content too. Returns the changed/missing prior
    * entries (empty = safe to append). */
  def changedPriorFiles(prior: Seq[String], current: Seq[String]): Seq[String] = {
    val cur = current.toSet
    val curV1 = current.map(e => splitEntry(e)._1).toSet
    prior.filterNot { e =>
      val (v1, hadToken) = splitEntry(e)
      if (hadToken) cur.contains(e) else curV1.contains(v1)
    }
  }

  /** The corpus listing sidecar every appendable artifact stages. */
  def writeCorpusEntries(staging: String, entries: Seq[String]): Unit =
    store.writeString(sub(staging, "corpus_files.tsv"),
      entries.mkString("", "\n", "\n"))

  /** An append must target a NEW fingerprint: an unchanged one means the
    * delta has not landed in the corpus yet. */
  def requireAdvanced(what: String, priorPath: String, nextPath: String): Unit =
    require(nextPath != priorPath,
      s"$what: corpus fingerprint unchanged — the delta is not in the " +
        "corpus yet (append AFTER the new files land)")

  // ------------------------------------------------------------- markers

  /** `meta.tsv`: one `key\tvalue` line per entry — the marker of the
    * families whose published predicate carries scalar totals. */
  def writeMeta(dir: String, kv: (String, Any)*): Unit =
    store.writeString(sub(dir, "meta.tsv"),
      kv.map { case (k, v) => s"$k\t$v\n" }.mkString)

  def readMeta(dir: String): Map[String, String] =
    store.readString(sub(dir, "meta.tsv"))
      .linesIterator.map(_.split("\t")).collect { case Array(k, v) => k -> v }
      .toMap

  /** `centroids.tsv`: one `cid\tv,v,...` line per centroid — the marker of
    * the IVF families. Double.toString round-trips exactly, so a reloaded
    * quantizer is bit-identical to the one that built the assignment. */
  def writeCentroids(dir: String, ids: Array[Long],
                     cents: Array[Array[Double]]): Unit =
    store.writeString(sub(dir, "centroids.tsv"),
      ids.zip(cents).map { case (cid, c) => s"$cid\t${c.mkString(",")}" }
        .mkString("", "\n", "\n"))

  def readCentroids(dir: String): (Array[Long], Array[Array[Double]]) = {
    val rows = store.readString(sub(dir, "centroids.tsv"))
      .split("\n").filter(_.nonEmpty).map { line =>
        val Array(cid, vs) = line.split("\t", 2)
        (cid.toLong, vs.split(",").map(_.toDouble))
      }
    (rows.map(_._1), rows.map(_._2))
  }

  def isPublished(path: String, marker: String): Boolean =
    store.exists(sub(path, marker))

  // ---------------------------------------------------------------- lock

  /** Staleness bound of [[withIndexLock]] (default 30 min). The
    * `graft.ivf.*` lock properties keep their historical names but govern
    * EVERY family's artifacts, not only the IVF index. */
  private def lockStaleMs: Long =
    sys.props.get("graft.ivf.lockStaleMs").map(_.toLong).getOrElse(30 * 60 * 1000L)

  /** ENFORCED coordination contract (not just documented): every artifact
    * mutation acquires the lock through [[withIndexLock]], and the lock +
    * the atomic-rename publish are only sound on a store that actually has
    * create-exclusive and atomic rename. On one that doesn't (s3a & co),
    * refuse with a clear error unless the caller explicitly accepts
    * single-writer-by-convention via `-Dgraft.ivf.singleWriter=true` —
    * which, like `graft.ivf.lockStaleMs`, governs every family. */
  def requireCoordinationCapable(path: String, fs: Storage = store): Unit =
    if (!sys.props.get("graft.ivf.singleWriter").contains("true"))
      require(fs.supportsAtomicRename(path) && fs.supportsExclusiveCreate(path),
        s"IVF index root '$path' is on a filesystem without atomic rename / " +
          "exclusive create (object stores like s3a give neither), so " +
          "concurrent index builds/appends cannot be coordinated there. " +
          "Point graft.ivf.root at a rename-capable store (HDFS, local, " +
          "abfs) or accept single-writer mode with " +
          "-Dgraft.ivf.singleWriter=true (YOU then guarantee at most one " +
          "writing process).")

  /** One mutation lock per artifact (`<path>.lock`, exclusive create):
    * builds and appends of EVERY family take it, so a build can never
    * rename onto a half-appended directory and two appends can never
    * interleave partition files. Its properties (`graft.ivf.lockStaleMs`,
    * `graft.ivf.singleWriter`) keep their historical IVF names and govern
    * all four families.
    *
    * Crash recovery: a holder that died without releasing is TAKEN OVER
    * once the lock is older than the staleness bound (default 30 min,
    * `graft.ivf.lockStaleMs` overrides it — set it ABOVE the longest
    * expected build/append, there is no heartbeat renewal). Takeover is
    * single-winner: the taker RENAMES the stale lock to a unique reap
    * name (only one rename of a given file succeeds), then verifies the
    * reaped content is the stale token it observed — if a fresh lock
    * slipped in between, it is restored untouched. Release deletes the
    * lock only when it still carries this holder's own token, so a
    * usurped holder can never delete its successor's lock. These are
    * crash-recovery semantics, not a distributed lock service: with the
    * staleness bound set honestly, two LIVE holders are excluded. */
  def withIndexLock[T](lock: String, fs: Storage = store)(body: => T): T = {
    requireCoordinationCapable(lock, fs)
    val token = s"${java.util.UUID.randomUUID()}@${System.currentTimeMillis()}"
    def tsOf(content: String): Long =
      content.trim.split("@").last.toLong
    // A waiter must outwait any LEGITIMATE holder: a corpus-sized build can
    // hold the lock for minutes, and a holder older than lockStaleMs is
    // reaped rather than waited on — so the give-up bound is the staleness
    // bound plus a margin, never a fixed short spin. It also bounds the
    // reap path itself (a store whose rename always fails must not loop
    // forever).
    val waitStart = System.currentTimeMillis()
    val giveUpMs = lockStaleMs + 60 * 1000L
    while (!fs.createExclusive(lock, token)) {
      require(System.currentTimeMillis() - waitStart < giveUpMs,
        s"IVF lock $lock not acquired within ${giveUpMs}ms " +
          s"(staleness bound ${lockStaleMs}ms + 60s margin)")
      val observed =
        try Some(fs.readString(lock))
        catch { case scala.util.control.NonFatal(_) => None }
      val stale = observed.exists(c =>
        try System.currentTimeMillis() - tsOf(c) > lockStaleMs
        catch { case scala.util.control.NonFatal(_) => true })
      if (stale) {
        val reap = lock + ".reap-" + java.util.UUID.randomUUID().toString.take(8)
        if (fs.rename(lock, reap)) {
          val reaped = try Some(fs.readString(reap))
                       catch { case scala.util.control.NonFatal(_) => None }
          if (reaped == observed) fs.delete(reap) // confirmed stale: reaped
          else if (!fs.rename(reap, lock)) {
            // a fresh lock appeared mid-reap and restore lost a further
            // race — put the token back as a deletable file so the live
            // holder's verified release still works. If even that fails
            // (a third process created the lock), the reap file is the
            // ONLY copy of the live holder's token: leave it in place —
            // deleting it would hand two live holders the lock at once.
            if (fs.createExclusive(lock, reaped.getOrElse("")))
              fs.delete(reap)
            else
              System.err.println(
                s"[graft] IVF lock $lock: restore after reap race failed; " +
                  s"usurped holder's token preserved at $reap")
          }
        }
      } else {
        Thread.sleep(50)
      }
    }
    try body finally {
      // verified release: only the token we wrote may be deleted — a
      // holder that was (wrongly or rightly) usurped must not delete its
      // successor's lock
      val mine = try fs.readString(lock) == token
                 catch { case scala.util.control.NonFatal(_) => false }
      if (mine) fs.delete(lock)
    }
  }

  // ------------------------------------------------------------- publish

  /** Publish the artifact at `path` exactly once. `marker` is the child
    * file written LAST by `stage` — its existence is the published
    * predicate, so a published artifact returns at once without locking.
    * On a miss, under `<path>.lock`: re-check the marker (a racing JVM's
    * publish makes this caller a pure loader), clear crashed leftovers — a
    * marker-less dir at `path` and every `<path>.tmp-*` sibling (each
    * staging dir is created under this lock, so none can be live) — run
    * `stage` on a fresh `<path>.tmp-*` dir, and publish it by ONE atomic
    * rename, verified by the marker. The lock matters beyond racing
    * builds: Hadoop rename onto an existing dir NESTS the source instead of
    * failing, and the leftover delete could otherwise destroy an artifact
    * another process published between the check and the delete. If
    * `stage` throws or the publish fails, the staging tree is deleted
    * before the error propagates — a corpus-sized leftover never waits for
    * a retention sweep. `fs` is the storage boundary (a spec substitutes a
    * failing store). */
  def publishOnce(path: String, marker: String, fs: Storage = store)(
      stage: String => Unit): Unit =
    if (!fs.exists(sub(path, marker))) {
      val target = new Path(path)
      val parent = target.getParent.toString
      fs.mkdirs(parent)
      withIndexLock(path + ".lock", fs) {
        if (!fs.exists(sub(path, marker))) {
          if (fs.exists(path)) fs.deleteRecursive(path)
          fs.listDirNames(parent)
            .filter(_.startsWith(target.getName + ".tmp-"))
            .foreach(n => fs.deleteRecursive(sub(parent, n)))
          val staging = path + ".tmp-" + java.util.UUID.randomUUID().toString.take(8)
          try {
            stage(staging)
            if (!(fs.rename(staging, path) && fs.exists(sub(path, marker))))
              throw new IllegalStateException(
                s"publishing $staging -> $path failed")
          } catch {
            case e: Throwable =>
              try fs.deleteRecursive(staging)
              catch { case scala.util.control.NonFatal(c) => e.addSuppressed(c) }
              throw e
          }
        }
      }
    }

  // ---------------------------------------------------------------- load

  /** Persist (MEMORY_AND_DISK) and materialize a loaded frame once, so
    * consumers never re-read the artifact files per branch. */
  def persistCounted(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** A loaded artifact. `persistedFrames` are the frames the load persisted
    * — exactly what leaves the shared CacheManager when the handle is
    * evicted or superseded by an append. */
  trait Handle {
    def persistedFrames: Seq[DataFrame]
    /** Idempotent ([[SessionCache]]'s release contract): unpersist is. */
    final def release(): Unit = persistedFrames.foreach(_.unpersist())
  }

  // ------------------------------------------------------------ families

  /** One index family: its retention `kind`, its root (system property
    * `rootProp`, default `defaultRoot`), the corpus file under a corpus
    * dir whose fingerprint keys its artifacts, and — for a family whose
    * superseded generations a live gate can still reference — `pins`, the
    * exact dir names the listed gate store dirs protect from retention.
    * Also owns the family's session handle cache; keys are published
    * paths, and each family serves one handle type. */
  final class Family(val kind: String, rootProp: String, defaultRoot: String,
                     corpusName: String,
                     pins: Seq[String] => Set[String] = _ => Set.empty) {

    def root: String = sys.props.getOrElse(rootProp, defaultRoot)

    def corpusFile(dir: String): String = sub(dir, corpusName)

    /** `<root>/v<version>-<corpus fingerprint><suffix>`. */
    def dirFor(dir: String, version: Int, suffix: String): String =
      sub(root, s"v$version-${fileFingerprint(corpusFile(dir))}$suffix")

    /** The delta-append guard (all three must pass, else rebuild): the
      * corpus fingerprint advanced past `priorPath`; every corpus file
      * the prior recorded in `corpus_files.tsv` is unchanged
      * ([[changedPriorFiles]]); and `priorDocs + delta = corpus`. Returns
      * the current listing, which the successor records, and the corpus
      * doc count. */
    def appendGuard(what: String, priorPath: String, nextPath: String,
                    dir: String, priorDocs: Long, corpusDocs: => Long,
                    deltaDocs: => Long): (Seq[String], Long) = {
      requireAdvanced(what, priorPath, nextPath)
      val priorEntries = store.readString(sub(priorPath, "corpus_files.tsv"))
        .linesIterator.filter(_.nonEmpty).toSeq
      val nowEntries = corpusEntries(corpusFile(dir))
      val changed = changedPriorFiles(priorEntries, nowEntries)
      require(changed.isEmpty,
        s"$what: ${changed.size} pre-existing corpus file(s) " +
          s"changed out-of-band (${changed.take(3).mkString(", ")}) — " +
          "rebuild instead of appending onto a stale base")
      val now = corpusDocs
      val nNew = deltaDocs
      require(priorDocs + nNew == now,
        s"$what: prior $priorDocs docs + delta $nNew != " +
          s"corpus $now — out-of-band change detected, rebuild instead")
      (nowEntries, now)
    }

    private val handles = new SessionCache[Handle](_.release())

    def cached[V <: Handle](s: SparkSession, path: String)(load: => V): V =
      handles.getOrCompute(s, path)(load).asInstanceOf[V]

    /** Swap an append's superseded handle for its successor: the prior's
      * persisted frames must not pin the CacheManager under a long-running
      * gate that appends every micro-batch. */
    def supersede[V <: Handle](s: SparkSession, prior: Handle, path: String)(
        load: => V): V = {
      prior.release()
      cached(s, path)(load)
    }

    def put(s: SparkSession, path: String, v: Handle): Unit =
      handles.put(s, path, v)

    /** Drop this session's handles (releasing their frames) so the next
      * build exercises the durable load path. */
    def evictSession(s: SparkSession): Unit = handles.evictSession(s)

    /** Retention sweep over this family's root: drop superseded
      * fingerprint dirs (never a listed corpus's live fingerprint, never a
      * lock-held build, never a `pins` name) outside the newest
      * `keepLastN` and older than `olderThanMs`. `dirs` must list EVERY
      * corpus served from this root — an unlisted corpus's live index is
      * indistinguishable from a superseded one. See [[IndexRetention]]
      * and `CALL graft.system.expire_indexes`. */
    def expireStale(dirs: Seq[String], keepLastN: Option[Int],
                    olderThanMs: Option[Long],
                    gateStoreDirs: Seq[String] = Nil): Seq[IndexRetention.Swept] =
      IndexRetention.sweep(store, root, kind,
        dirs.flatMap(d => IndexRetention.liveCorpusFile(store, d, corpusFile(d))
          .map(fileFingerprint)).toSet,
        keepLastN, olderThanMs, protectedNames = pins(gateStoreDirs))
  }

  val Ivf = new Family("ivf", "graft.ivf.root", "target/ivf-index",
    "embeddings.parquet")
  val Dup = new Family("dup", "graft.dupindex.root", "target/dup-index",
    "documents.parquet")
  val Lex = new Family("lex", "graft.lexindex.root", "target/lex-index",
    "documents.parquet")
  val Mm = new Family("mm", "graft.mmivf.root", "target/mm-index",
    "documents.parquet", gs => graft.operators.MmIvf.extPriorPins(gs))

  /** The kind → family table: `expire_indexes`, the streaming gate's
    * upkeep and the bench's evictions all iterate it. */
  val kinds: Seq[Family] = Seq(Ivf, Dup, Lex, Mm)
}
