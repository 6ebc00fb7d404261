package graft.operators

/** Retention sweep for the durable index artifacts ([[Similarity.IvfIndex]],
  * [[DupClusters]], [[LexIndex]], [[MmIvf]]), run per family by
  * [[graft.core.Artifact.Family.expireStale]]. Each of those publishes a NEW
  * corpus-fingerprint-keyed directory whenever the corpus changes and never
  * deletes superseded ones — correct (fingerprint keying is exactly what
  * makes stale serving impossible) but unbounded storage under daily corpus
  * drops at 100 TB. This is the `expire_snapshots` pattern applied to index
  * roots: drop superseded fingerprint dirs outside the newest `keep_last_n`
  * AND older than `older_than_ms` (each bound alone only retains more; at
  * least one must be set), while
  *
  *  - the LIVE fingerprints — whatever the CURRENT files of every corpus
  *    served from this root hash to — are never dropped, at any format
  *    version or parameterization. A root shared by several corpora must
  *    have ALL of them passed to the sweep (the `expire_indexes` procedure
  *    takes a comma-separated list): the sweeper cannot enumerate corpora
  *    on its own, and an unlisted corpus's live index looks exactly like a
  *    superseded one;
  *  - a dir whose build lock is held (in-flight build, or a racing JVM's
  *    staging `<path>.tmp-*`) is never touched;
  *  - abandoned unlocked `.tmp-*` STAGING dirs (a build that crashed after
  *    its lock was reaped) are swept like any candidate but never consume
  *    `keep_last_n` slots — retention slots are for servable indexes, not
  *    staging garbage that would otherwise shadow the newest real one;
  *  - sweeping is per-dir and idempotent — a crash mid-sweep just leaves
  *    fewer dirs for the next call.
  *
  * Reader coordination contract (same as `expire_snapshots`): a session
  * still holding persisted frames loaded from a SUPERSEDED fingerprint can
  * lose spilled blocks' backing files — pick retention longer than the
  * longest consumer session, or run the sweep at a quiet moment.
  *
  * `keep_last_n` counts GENERATIONS, not dirs (ADVICE r15): dirs sharing
  * one embedded `v<ver>-<fingerprint>` prefix — the multimodal index's
  * img/aud/ext LANES of one corpus state — are one retention unit, ranked
  * by the group's newest publish time and kept or dropped together, so
  * keep_last_n = 1 retains a USABLE whole generation instead of whichever
  * single lane dir is newest. Across corpora the budget stays ROOT-GLOBAL
  * (ADVICE r11): a superseded fingerprint is the hash of a corpus state
  * that no longer exists and cannot be attributed back to its corpus, so
  * one actively-churning corpus's generations can consume all N slots.
  * Live fingerprints stay protected regardless, so only retention DEPTH
  * is root-global, never safety; give each corpus its own index root when
  * per-corpus retention depth matters.
  *
  * SQL surface: `CALL graft.system.expire_indexes(kind, corpus_dirs[,
  * keep_last_n][, older_than_ms])` ([[graft.core.GraftCatalog]]). */
private[graft] object IndexRetention {

  /** One swept index dir: `created_ms` is the newest file mtime inside it
    * (= publish time for rename-committed artifacts). */
  final case class Swept(kind: String, name: String, createdMs: Long,
                        files: Long, bytes: Long)

  /** A corpus DIR handed to the sweep must exist — fingerprinting a
    * mistyped path silently yields the constant empty-listing hash,
    * protecting nothing, and the sweep would then delete that corpus's
    * LIVE index. A dir that exists but lacks THIS KIND's corpus file
    * (e.g. a text-only corpus with no `embeddings.parquet` under an
    * `all` sweep) is skipped (None): no index of this kind can exist for
    * it, so there is nothing to protect. */
  def liveCorpusFile(store: graft.core.Storage, dir: String,
                     corpusFile: String): Option[String] = {
    require(store.exists(dir),
      s"expire_indexes: corpus not found: $dir — a missing path would " +
        "fingerprint as empty and protect nothing; fix the corpus_dirs list")
    Some(corpusFile).filter(store.exists)
  }

  /** Sweep one index root. `liveFingerprints` are substrings that mark a
    * dir as live (the current corpus fingerprints — dir names embed them
    * between the version prefix and the parameter suffix). */
  /** `protectedNames` (ADVICE r17): exact dir NAMES that must survive this
    * sweep regardless of age or keep_last_n — the mm sweep passes the
    * generations still referenced by a live gate's staged
    * `_commits/<id>.delta/_extprior` pointer, whose crash replay needs that
    * exact published dir back ([[MmIvf.loadAt]]). Unlike live
    * fingerprints these are superseded dirs, so the substring filter
    * cannot express them. */
  def sweep(store: graft.core.Storage, root: String, kind: String,
            liveFingerprints: Set[String], keepLastN: Option[Int],
            olderThanMs: Option[Long],
            protectedNames: Set[String] = Set.empty): Seq[Swept] = {
    require(keepLastN.nonEmpty || olderThanMs.nonEmpty,
      "expire_indexes: set keep_last_n and/or older_than_ms")
    require(keepLastN.forall(_ >= 0) && olderThanMs.forall(_ >= 0),
      "expire_indexes: retention bounds must be non-negative")
    require(liveFingerprints.forall(_.nonEmpty),
      "expire_indexes: empty live fingerprint would protect nothing")
    if (!store.exists(root) || store.listDirNames(root).isEmpty)
      return Seq.empty // nothing to sweep, nothing at risk
    // a NON-empty root with zero protections means no listed corpus has
    // this kind's data — every index here belongs to an UNLISTED corpus,
    // and sweeping with nothing protected would take live indexes
    require(liveFingerprints.nonEmpty,
      s"expire_indexes: no listed corpus has $kind data, but the $kind " +
        s"root $root is not empty — its indexes belong to corpora missing " +
        "from corpus_dirs; list them or sweep another kind")
    def path(n: String) = new org.apache.hadoop.fs.Path(root, n).toString
    def lockHeld(n: String): Boolean = {
      // a staging dir `<base>.tmp-xxxx` is guarded by its BASE's lock
      val base = n.split("\\.tmp-")(0)
      store.exists(path(base) + ".lock")
    }
    // live protection applies to REAL dirs only: an UNLOCKED `.tmp-`
    // staging dir is dead even when its name embeds the live fingerprint
    // (publish is a rename — a completed build never leaves its staging
    // name behind), so a crashed live-corpus build's leftovers are
    // sweepable instead of accumulating behind the live filter
    val names = store.listDirNames(root).filterNot(lockHeld)
    val (stagingNames, realNames) = names.partition(_.contains(".tmp-"))
    val cands = (realNames.filterNot(n =>
        liveFingerprints.exists(n.contains) || protectedNames.contains(n))
        ++ stagingNames)
      .map { n =>
        val p = path(n)
        val files = store.walk(p)
        val created =
          if (files.nonEmpty) files.map(_.mtimeMs).max
          else store.fileMeta(p).map(_.mtimeMs).getOrElse(0L)
        Swept(kind, n, created, files.size.toLong, files.map(_.size).sum)
      }
      .sortBy(-_.createdMs)
    // staging garbage never occupies a keep slot: keep_last_n retains the
    // newest N REAL superseded GENERATIONS (dirs sharing one embedded
    // v<ver>-<fingerprint> prefix — e.g. the mm index's img/aud/ext lanes
    // of one corpus state — are one unit, ADVICE r15); unlocked .tmp-
    // dirs qualify on the age bound alone (with only keep_last_n set they
    // are always swept)
    val (staging, real) = cands.partition(_.name.contains(".tmp-"))
    // Generation key (ADVICE r16): one corpus state's LANE dirs — the mm
    // index's trailing ALL-ALPHABETIC suffix (`-aud`/`-ext`; the bare
    // name is the img lane) — are one keep_last_n unit, but QUANTIZER-
    // VARIANT suffixes (`-i0`, `-k16`, `-p3` — letter+digits) stay
    // DISTINCT generations: collapsing different quantizer configs of
    // one fingerprint into a single keep slot would silently deepen the
    // sweep beyond the lane grouping this key exists for. The strip is
    // ANCHORED to the published `v<ver>-<32-hex>` shape so an
    // unrecognized dir name still forms its own group (a bare
    // `-[a-z]+$` strip would merge e.g. an all-letter fingerprint's
    // tail into another unit).
    val Known = "^(v\\d+-[0-9a-f]{32}.*?)(-[a-z]+)?$".r
    def genOf(n: String): String = n match {
      case Known(stem, _) => stem
      case _              => n // unrecognized shape: own group
    }
    val keptGens = keepLastN.map { n =>
      real.groupBy(s => genOf(s.name)).toSeq
        .sortBy { case (_, ds) => -ds.map(_.createdMs).max }
        .take(n).map(_._1).toSet
    }.getOrElse(Set.empty[String])
    val outsideN = keepLastN
      .map(_ => real.filterNot(s => keptGens.contains(genOf(s.name))))
      .getOrElse(real) ++ staging
    val toDrop = olderThanMs.map(t => outsideN.filter(_.createdMs < t))
      .getOrElse(outsideN)
    toDrop.filter(s => store.deleteRecursive(path(s.name)))
  }
}
