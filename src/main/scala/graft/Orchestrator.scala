package graft



import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{ContainerMerge, FileAccount}

/** Account-level migration orchestration — the reference's `main.py` loop
  * (A26: account → database → container, with `--database`/`--container`
  * narrowing) re-expressed as driver-side Scala over [[FileAccount]]s, with
  * the per-container merge planned by [[ContainerMerge.plan]], the one
  * merge pipeline SQL INSERT and the streaming sync also run.
  *
  * Per container (reference E3, SURVEY.md §3): read source RAW (schemaless —
  * unknown fields round-trip byte-exactly, no inference), classify against
  * the target, optionally mask PII on the written rows, rewrite ONLY the
  * buckets holding inserts/updates through the bucketed upsert sink
  * ([[FileAccount.upsertRaw]], fed from the classified frame — the skip
  * branch costs zero writes, like the reference's RU-saving skip,
  * migration.py:124-130), then verify. The classified frame is clustered
  * by bucket, so each rewritten bucket lands as ONE file, or one per
  * slice when the container has fewer buckets than the session has cores
  * or a bucket reads over 128 MB (the reference writes one document per
  * call; a file create is this sink's unit of cost, as a PUT is on an
  * object store). Counters, the expected state and the rewrite set come
  * from one aggregation over the classified frame (the reference
  * increments Python ints per document, migration.py:130-146), which
  * reuses the bucket clustering and shuffles nothing. Corrupt or invalid
  * documents land in the error counter and the per-container
  * dead-letter channel `_errors` (A13) — never a task failure; `maxErrors`
  * bounds how many before the container aborts. Like the reference's
  * per-document error write, the dead-letter costs no Spark job: the tally
  * collect carries the error lines up to a declared bound (256 lines of at
  * most 16 KiB each) and the driver writes them as one file, replacing
  * the channel's earlier files; past the bound one text write job lands
  * them. Verification fixes the reference's B5 wart: count parity AND an
  * order-independent content hash, not counts alone.
  *
  * Duplicate keys: Cosmos holds one document per `(id, pk)`, so of several
  * source lines for one merge key ONE is merged — the line from the
  * lexicographically last source file, then the highest content hash. A
  * target holding one key twice (an external writer's corruption) keeps
  * one copy when its bucket is rewritten, and that run reports
  * `verified = false`; the rerun verifies.
  */
object Orchestrator {

  /** A28: the reference's CLI/env config surface (main.py:10-28), minus
    * Cosmos connection secrets. `sanitize` is a real boolean (B3 fix);
    * `maxErrors` is the dead-letter bound (A13 — the reference's per-doc
    * retry loop handles transient faults, which Spark task retries cover;
    * persistent bad documents are counted, dead-lettered, and bounded). */
  /** `parallelism`: containers migrated concurrently. The reference loops
    * serially (main.py:71-76); on a cluster with many small containers,
    * serial per-container job submission leaves executors idle between
    * stages — concurrent submission lets the scheduler interleave them.
    * Results are independent per container, so this only changes timing. */
  /** `incremental`: prune the target read (and verification) to the bucket
    * directories the source keys hash to — the point-read analogue, right
    * when the source delta is small against a large target. `None` = auto:
    * incremental when source bytes × 4 ≤ target bytes (driver-side file
    * metadata). Full and incremental modes land identical states; they
    * differ only in how much of the target they read. */
  case class Config(
    scopeDatabase: Option[String] = None,
    scopeContainer: Option[String] = None,
    sanitize: Boolean = false,
    maxErrors: Long = Long.MaxValue,
    parallelism: Int = 1,
    incremental: Option[Boolean] = None)

  /** `inserted`/`updated`/`skipped` count merged keys and `errors` invalid
    * lines; `sourceCount` counts every line read, duplicates included.
    *
    * `verifyMode` documents what `verified` actually covered:
    *  - `"full"`: count + order-independent content hash over the ENTIRE
    *    post-merge target vs the expected merged state.
    *  - `"incremental"`: count + content hash over the AFFECTED buckets only,
    *    plus a driver-metadata listing check (file names/sizes/mtimes) that
    *    every unaffected bucket was left byte-for-byte untouched. Reduced
    *    coverage by design: content corruption in an unaffected bucket that
    *    preserves its file listing is NOT detected (it was also outside the
    *    run's write set); the global count invariant post = pre + inserts is
    *    implied by the two checks together without any full scan. */
  case class ContainerResult(
    database: String, container: String,
    inserted: Long, updated: Long, skipped: Long, errors: Long,
    sourceCount: Long, targetCount: Long, verified: Boolean,
    verifyMode: String = "full", phases: PhaseMs = PhaseMs())

  /** Driver wall milliseconds of one container run's phases, read off
    * `System.nanoTime` (no Spark job): `key` — everything before the
    * tally: the container set-up, the target listing, keying the source
    * and planning the merge, the pruned read's bucket collect included;
    * `classifyTally` — the tally collect over the classified frame;
    * `deadletter`; `sink`; `verify` — the post-commit listing and the
    * checks. */
  case class PhaseMs(key: Double = 0, classifyTally: Double = 0,
                     deadletter: Double = 0, sink: Double = 0, verify: Double = 0)

  case class Summary(results: Seq[ContainerResult], durationSec: Double) {
    def ok: Boolean = results.forall(_.verified)
    /** A24: the reference's written-docs/sec rate (migration.py:156-157). */
    def ratePerSec: Double =
      if (durationSec <= 0) 0.0
      else results.map(r => r.inserted + r.updated).sum / durationSec
  }

  /** A16: abort when source and target pk paths disagree
    * (migration.py:47-58). */
  def assertPkAligned(src: Seq[String], tgt: Seq[String],
                      db: String, container: String): Unit =
    require(src == tgt,
      s"partition key mismatch for $db/$container: source=$src target=$tgt")

  def migrateContainer(spark: SparkSession, source: FileAccount,
                       target: FileAccount, db: String, container: String,
                       cfg: Config): ContainerResult = {
    // phase timer: milliseconds since the previous lap
    var mark = System.nanoTime()
    def lap(): Double = {
      val now = System.nanoTime()
      val ms = (now - mark) / 1e6
      mark = now
      ms
    }
    val props = source.containerProperties(db, container)
    target.createDatabaseIfAbsent(db)
    target.createContainerIfAbsent(db, container, props)
    // the target's `_meta.json` is read once: the plan and its pruned read
    // take these
    val tprops = target.containerProperties(db, container)
    assertPkAligned(props.pkPaths, tprops.pkPaths, db, container)
    val pkPaths = props.pkPaths

    // one walk of the target tree before the sink: the mode rule's bytes,
    // the pre-merge bucket signatures and the pruned read's dirs and strays
    val pre = target.listData(db, container)
    // Incremental mode (the point-read analogue): when the source delta is
    // small against a large target, read — and canonical-hash, and verify —
    // only the bucket directories the source keys hash to. Classification is
    // unaffected: a matching target row always lives in its key's bucket.
    val incremental = pre.exists && cfg.incremental.getOrElse(
      source.dataBytes(db, container) * 4 <= pre.bytes)
    // ONE full-outer src⋈tgt join for the whole container run: counters,
    // dead-letter, the expected post-merge state AND the sink input all
    // derive from this cached frame — it holds every target row of the
    // buckets it read, so the sink rewrites them without reading them again.
    // The source file name feeds the merge's duplicate-key rule.
    val keyed = ContainerMerge.key(spark, source.readRaw(spark, db, container)
      .withColumn("__f", input_file_name()), pkPaths, Some("__f"))
    val plan = ContainerMerge.plan(spark, target, db, container, keyed,
      tprops, Some("__f"), prune = incremental, sanitize = cfg.sanitize,
      listing = Some(pre))
    val keyMs = lap()
    plan.classified.cache()
    // one collect: counters, source count, expected state, rewrite set, its
    // sidecar counts and the dead-letter lines; the frame is released
    // however the span ends
    var tallyMs, deadMs, sinkMs = 0.0
    val (tally, sunk) = try {
      val t = ContainerMerge.Tally.of(plan.tally.collect())
      tallyMs = lap()
      val errors = t.actions("error")

      // A13 dead-letter: corrupt/invalid documents land next to the data,
      // and the run aborts only past the configured bound
      ContainerMerge.deadLetter(target, db, container, errors, t.dead,
        plan.errors, overwrite = true)
      deadMs = lap()
      require(errors <= cfg.maxErrors,
        s"$db/$container: $errors error documents exceed maxErrors=${cfg.maxErrors}")

      // A11/A12: only buckets with an insert, an update, a stray or a
      // duplicate key are rewritten (write elision for skips)
      val sunk = target.upsertRaw(spark, db, container, plan.rows(t), t.rewrite,
        plan.strays, listAfter = true)
      sinkMs = lap()
      (t, sunk)
    } finally { plan.classified.unpersist(); () }
    val counts = tally.actions

    // A15 + B5 fix: count parity and content-hash parity of what landed vs
    // the intended merged state (byte-level: the raw lines themselves). The
    // expected side came with the tally, BEFORE the sink mutated the
    // target; the landed side is one pass over a container re-read
    val (verified, targetCount, verifyMode) = plan.pruned match {
      case Some(buckets) =>
        // incremental verify, O(delta + affected buckets) — no full scan:
        //  (1) count + content-hash parity of the affected buckets vs the
        //      expected merged state (everything the run could write);
        //  (2) listing-signature parity of every UNAFFECTED bucket vs the
        //      pre-merge capture (the sink's dynamic partition overwrite
        //      never lists them; this proves it) and no bucket dirs appeared
        //      outside the affected set.
        // Together these imply the old global invariant post = pre + inserts
        // without re-reading the container. The reported targetCount is the
        // sidecar sum (upsertRaw maintains per-bucket counts) — metadata,
        // not a scan. One walk after the commit (the sink's, or one here
        // when it wrote nothing) feeds the read, the signatures and the
        // sidecar vouching.
        val post = sunk.getOrElse(target.listData(db, container))
        val back = target.readRawBuckets(spark, db, container, buckets, Some(post))
        val (preSigs, postSigs) = (pre.signatures, post.signatures)
        val untouched =
          (postSigs.keySet -- buckets) == (preSigs.keySet -- buckets) &&
            (postSigs.keySet -- buckets).forall(b => postSigs(b) == preSigs(b))
        val (backCount, backHash) = stateStats(back)
        val ok = backCount == tally.expectedCount &&
          backHash == tally.expectedHash && untouched
        (ok, target.countRows(spark, db, container, post), "incremental")
      case None =>
        val (writtenCount, writtenHash) = stateStats(
          target.readRaw(spark, db, container))
        val ok = writtenCount == tally.expectedCount &&
          writtenHash == tally.expectedHash
        (ok, writtenCount, "full")
    }

    // every source line stands behind exactly one first-ranked classified
    // row (`__n`), so the source count is free — no extra scan
    ContainerResult(db, container,
      counts("insert"), counts("update"), counts("skip"), counts("error"),
      tally.sourceCount, targetCount, verified, verifyMode,
      PhaseMs(keyMs, tallyMs, deadMs, sinkMs, lap()))
  }

  /** Row count and `bit_xor(xxhash64(raw))` of a raw-lines frame in ONE
    * job with no exchange: each partition folds its rows to one
    * (count, xor) pair and the driver folds the pairs (a collect of one
    * pair per partition). XOR, not a sum: order-independent and free of
    * 64-bit overflow. */
  private def stateStats(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import df.sparkSession.implicits._
    df.select(xxhash64(col("raw"))).as[Long].mapPartitions { hs =>
      var n = 0L
      var x = 0L
      hs.foreach { h => n += 1; x ^= h }
      Iterator((n, x))
    }.collect().foldLeft((0L, 0L)) { case ((n, x), (pn, px)) => (n + pn, x ^ px) }
  }

  /** A26 top loop with scoping; `--container` requires `--database`
    * (main.py:109-110). */
  def migrate(spark: SparkSession, source: FileAccount, target: FileAccount,
              cfg: Config = Config()): Summary = {
    require(cfg.scopeContainer.isEmpty || cfg.scopeDatabase.nonEmpty,
      "--container requires --database")
    require(source.testConnection(), s"source account unreachable: ${source.root}")
    require(target.testConnection(), s"target account unreachable: ${target.root}")

    val t0 = System.nanoTime()
    val dbs = cfg.scopeDatabase.map(Seq(_)).getOrElse(source.listDatabases())
    val pairs = for {
      db <- dbs
      c <- cfg.scopeContainer.map(Seq(_)).getOrElse(source.listContainers(db))
    } yield (db, c)
    val results =
      if (cfg.parallelism <= 1 || pairs.size <= 1)
        pairs.map { case (db, c) => migrateContainer(spark, source, target, db, c, cfg) }
      else {
        // Spark supports concurrent job submission from multiple driver
        // threads; each container's plan is independent
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(cfg.parallelism)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try Await.result(
          Future.sequence(pairs.map { case (db, c) =>
            Future(migrateContainer(spark, source, target, db, c, cfg))
          }), Duration.Inf)
        finally pool.shutdown()
      }
    Summary(results, (System.nanoTime() - t0) / 1e9)
  }

  private val Usage =
    "usage: graft.Orchestrator <sourceDir> <targetDir> [--database D] " +
      "[--container C] [--sanitize] [--max-errors N] [--parallelism N] " +
      "[--summary path]"

  /** CLI surface (A28, main.py:10-28 minus Cosmos secrets), see [[Usage]].
    * `--sanitize` is a plain flag (B3 fix: the reference's `type=bool` parses
    * any non-empty string, including "false", as true). Returns the process
    * exit code (0 = all containers verified, 1 = failure, or bad arguments
    * with the usage line on stderr; main.py:163-167). */
  def run(args: Array[String]): Int = {
    var pos = Vector.empty[String]
    var cfg = Config()
    var summaryPath: Option[String] = None
    var i = 0
    try {
      while (i < args.length) {
        args(i) match {
          case "--database"  => cfg = cfg.copy(scopeDatabase = Some(args(i + 1))); i += 2
          case "--container" => cfg = cfg.copy(scopeContainer = Some(args(i + 1))); i += 2
          case "--sanitize"  => cfg = cfg.copy(sanitize = true); i += 1
          case "--max-errors" => cfg = cfg.copy(maxErrors = args(i + 1).toLong); i += 2
          case "--parallelism" => cfg = cfg.copy(parallelism = args(i + 1).toInt); i += 2
          case "--summary"   => summaryPath = Some(args(i + 1)); i += 2
          case p             => pos = pos :+ p; i += 1
        }
      }
      require(pos.length == 2, s"expected <sourceDir> <targetDir>, got $pos")
    } catch {
      // a NumberFormatException is an IllegalArgumentException
      case e @ (_: IllegalArgumentException | _: IndexOutOfBoundsException) =>
        System.err.println(s"bad arguments (${e.getMessage})\n$Usage")
        return 1
    }
    val spark = graft.core.Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-migrate")
    try {
      val summary = migrate(spark, FileAccount(pos(0)), FileAccount(pos(1)), cfg)
      summaryPath.foreach(writeSummary(summary, _))
      summary.results.foreach { r =>
        println(s"${r.database}/${r.container}: inserted=${r.inserted} " +
          s"updated=${r.updated} skipped=${r.skipped} errors=${r.errors} " +
          s"verified=${r.verified}")
      }
      if (summary.ok) 0 else 1
    } catch {
      case e: Exception => System.err.println(s"migration failed: ${e.getMessage}"); 1
    }
  }

  def main(args: Array[String]): Unit = sys.exit(run(args))

  private def jsonString(v: String): String = "\"" + new String(
    com.fasterxml.jackson.core.io.JsonStringEncoder.getInstance.quoteAsString(v)) + "\""

  /** A25: nested JSON run report (main.py:154-160); names are escaped.
    * Each container also reports its [[PhaseMs]] as `phase_ms`. */
  def writeSummary(s: Summary, path: String): Unit = {
    val rows = s.results.map { r =>
      s"""    {"database": ${jsonString(r.database)}, "container": ${jsonString(r.container)},
         |     "inserted": ${r.inserted}, "updated": ${r.updated},
         |     "skipped": ${r.skipped}, "errors": ${r.errors},
         |     "source_count": ${r.sourceCount}, "target_count": ${r.targetCount},
         |     "verified": ${r.verified}, "verify_mode": "${r.verifyMode}",
         |     "phase_ms": {"key": ${r.phases.key}, "classify_tally": ${r.phases.classifyTally},
         |       "deadletter": ${r.phases.deadletter}, "sink": ${r.phases.sink},
         |       "verify": ${r.phases.verify}}}""".stripMargin
    }.mkString(",\n")
    graft.core.Storage.hadoop.writeString(path,
      s"""{\n  "duration_sec": ${s.durationSec},\n  "rate_docs_per_sec": ${s.ratePerSec},\n  "ok": ${s.ok},\n  "containers": [\n$rows\n  ]\n}\n""")
  }
}
