package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import Main.{Args, OpRun}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it:
    * (value, percentile, samples), or None below eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    if (s.size < 11) None
    else Some((s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size))
  }
}

/** Per-layer measurements that time a kernel directly, outside any
  * operation. */
object Layers {
  /** Rows per second of `json_doc_keys` and `mask_json` over the workload's
    * source documents (repeated 20 times and cached first, so a pass is long
    * enough to time), each into a `noop` sink; median of three passes. Zero
    * for workloads without source documents. */
  def kernelRates(spark: SparkSession, w: Workload): Map[String, Double] = w match {
    case m: Migration =>
      val docs = m.sourceDocs().map { case (s, df) => (s, Seq.fill(20)(df).reduce(_ union _).cache()) }
      val rows = docs.map(_._2.count()).sum.toDouble
      def rate(kernel: Generator.Spec => String): Double = {
        val secs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          docs.foreach { case (s, df) =>
            df.selectExpr(kernel(s)).write.format("noop").mode("overwrite").save()
          }
          (System.nanoTime() - t0) / 1e9
        }
        rows / Stats.median(secs)
      }
      val out = Map(
        "jsondocs.rows_per_s" -> rate(s =>
          s"json_doc_keys(raw, '${s.pk.map(_.stripPrefix("/")).mkString(",")}', 'true') AS k"),
        "masking.rows_per_s" -> rate(_ => "mask_json(raw) AS m"))
      docs.foreach(_._2.unpersist())
      out
    case _ => Map.empty
  }
}

/** Turns the measured operations into the end-to-end and per-layer
  * metrics, the detail line and the span dump. */
final case class Report(a: Args, setups: Seq[Double], warmupS: Double,
                        warmErrors: Seq[String], runs: Seq[OpRun], kernels: Map[String, Double], peakRss: Double) {
  import Report._

  private val plain = runs.filterNot(_.traced)
  private val traced = runs.filter(_.traced)
  private def v(r: OpRun, k: String) = r.outcome.values.getOrElse(k, 0.0)
  private def perOp(f: OpRun => Double) = Stats.median(plain.map(f))
  private val isQuery = runs.exists(_.outcome.parts.nonEmpty)
  private val latencies = plain.flatMap(_.outcome.parts.map(_.seconds))

  /** Timed operations (queries, for the mix); a warm-up operation that
    * fails its check counts as one more failed attempt. */
  val attempted: Int =
    runs.map(r => if (isQuery) r.outcome.parts.size else 1).sum + warmErrors.size
  val failed: Int = warmErrors.size +
    (if (isQuery) runs.map(r => r.outcome.errors.size).sum
     else runs.count(_.outcome.errors.nonEmpty))

  /** Numbers a user of the system sees, from the untraced operations. */
  val workloadLevel: Map[String, Double] = Map(
    "docs_per_s" -> perOp(r => v(r, "docs") / r.seconds),
    "written_docs_per_s" -> perOp(r => v(r, "written_docs") / r.seconds),
    "write_amp" -> perOp(r => if (v(r, "changed_bytes") > 0) v(r, "written_bytes") / v(r, "changed_bytes") else 0.0),
    "space_amp" -> perOp(r => if (v(r, "live_bytes") > 0) v(r, "data_bytes") / v(r, "live_bytes") else 0.0),
    "query_p50_s" -> Stats.median(latencies),
    "query_tail_s" -> Stats.tail(latencies).map(_._1).getOrElse(0.0),
    "queries_per_s" -> (if (isQuery) latencies.size / plain.map(_.seconds).sum else 0.0),
    "fail_ratio" -> failed.toDouble / math.max(attempted, 1))

  val endToEnd: Map[String, Double] = Map(
    "setup_s" -> Stats.median(setups),
    "run_s" -> perOp(_.seconds),
    "live_mb" -> runs.map(_.liveMb).max)

  /** Per-layer metrics: medians over the traced operations. */
  lazy val perLayer: Map[String, Double] = {
    val each = traced.map(r => if (isQuery) moduleLayers(r) else phaseLayers(r))
    val keys = each.flatMap(_.keys).distinct
    val med = keys.map(k => k -> Stats.median(each.map(_.getOrElse(k, 0.0)))).toMap
    LayerMetrics.map(_._1).map(k => k -> 0.0).toMap ++ med ++ workloadLevel ++ kernels ++ Map(
      "trace.overhead_s" -> (Stats.median(traced.map(_.seconds)) - Stats.median(plain.map(_.seconds))))
  }

  def resultLine: String = {
    val metrics = if (a.trace) LayerMetrics.map { case (k, u) => k -> (perLayer(k), u) }
                  else EndToEnd.map { case (k, u) => k -> (endToEnd(k), u) }
    Json.obj(Seq(
      "correct" -> (failed == 0).toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (x, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(x), "unit" -> Json.str(u))) })))
  }

  def detailLine: String = {
    val tail = Stats.tail(latencies)
    Json.obj(Seq("detail" -> Json.obj(
      Seq("workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
        "ops" -> runs.size.toString, "traced_ops" -> traced.size.toString,
        "setup_runs_s" -> setups.map(Json.num).mkString("[", ", ", "]"),
        "warmup_s" -> Json.num(warmupS), "peak_rss_mb" -> Json.num(peakRss),
        "op_s" -> plain.map(r => Json.num(r.seconds)).mkString("[", ", ", "]"),
        "op_cpu_s" -> plain.map(r => Json.num(r.cpuSeconds)).mkString("[", ", ", "]"),
        "incremental_containers" -> Json.num(perOp(v(_, "incremental"))),
        "query_tail_percentile" -> Json.num(tail.map(_._2).getOrElse(0.0)),
        "query_samples" -> latencies.size.toString,
        "query_median_s" -> Json.obj(plain.flatMap(_.outcome.parts).groupBy(_.name).toSeq.sortBy(_._1)
          .map { case (q, ps) => q -> Json.num(Stats.median(ps.map(_.seconds))) })) ++
        workloadLevel.toSeq.sortBy(_._1).map { case (k, x) => k -> Json.num(x) })))
  }

  private def job(j: JobRec, key: String): Double = key match {
    case "busy_s" => (j.endMs - j.startMs) / 1e3
    case "cpu_s" => j.cpuNs / 1e9
    case "jobs" => 1.0
    case "tasks" => j.tasks.toDouble
    case "read_bytes" => j.readBytes.toDouble
    case "shuffle_bytes" => j.shuffleBytes.toDouble
    case "written_bytes" => j.writtenBytes.toDouble
    case "gc_s" => j.gcMs / 1e3
  }

  private def busy(js: Seq[JobRec], r: OpRun): Double =
    Intervals.covered(js.map(j => (j.startMs, j.endMs)), r.startMs, r.endMs) / 1e3

  private def common(r: OpRun): Map[String, Double] = Map(
    "spark.spill_bytes" -> r.jobs.map(_.spillBytes).sum.toDouble,
    "spark.task_failures" -> r.jobs.map(_.taskFailures).sum.toDouble)

  /** One migrate call split by phase. */
  private def phaseLayers(r: OpRun): Map[String, Double] = {
    val byPhase = r.jobs.zip(Attribution.phases(r.jobs.map(_.callSite)))
    def of(p: String) = byPhase.collect { case (j, q) if q == p => j }
    val phaseVals = for {
      p <- Attribution.Phases
      (f, _) <- PhaseFields
    } yield s"$p.$f" -> (if (f == "busy_s") busy(of(p), r) else of(p).map(job(_, f)).sum)
    val allBusy = busy(r.jobs, r)
    val sinkRows = of("sink").map(_.rowsWritten).sum.toDouble
    common(r) ++ phaseVals ++ Map(
      "other.busy_s" -> busy(of("other"), r),
      "trace.attributed_share" ->
        (if (allBusy > 0) 1.0 - busy(of("other"), r) / allBusy else 0.0),
      "orchestrator.driver_s" -> ((r.endMs - r.startMs) / 1e3 - allBusy),
      "orchestrator.jobs" -> r.jobs.size.toDouble,
      "sink.rows_written" -> sinkRows,
      "sink.useful_ratio" -> (if (sinkRows > 0) v(r, "written_docs") / sinkRows else 0.0),
      "accounts.fs_metadata_ops" -> r.fsMeta.toDouble,
      "accounts.fs_write_ops" -> r.fsWrite.toDouble,
      "accounts.data_files" -> v(r, "data_files"))
  }

  /** One mix pass split by operator module. */
  private def moduleLayers(r: OpRun): Map[String, Double] = {
    val parts = r.outcome.parts
    def partOf(t: Long) = parts.find(p => t >= p.startMs && t <= p.endMs)
    val jobsOf = r.jobs.groupBy(j => partOf(j.startMs).map(_.name).getOrElse(""))
    val planOf = r.planningMs.groupBy(x => partOf(x._1).map(_.name).getOrElse(""))
    val perPart = parts.map { p =>
      val js = jobsOf.getOrElse(p.name, Nil)
      val covered = Intervals.covered(js.map(j => (j.startMs, j.endMs)), p.startMs, p.endMs) / 1e3
      p.module -> Map(
        "planning_s" -> planOf.getOrElse(p.name, Nil).map(_._2).sum,
        "driver_s" -> ((p.endMs - p.startMs) / 1e3 - covered),
        "eager_jobs" -> js.count(_.startMs < p.fnEndMs).toDouble,
        "jobs" -> js.size.toDouble,
        "tasks" -> js.map(_.tasks).sum.toDouble,
        "cpu_s" -> js.map(_.cpuNs).sum / 1e9,
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
        "gc_s" -> js.map(_.gcMs).sum / 1e3)
    }
    common(r) ++ perPart.groupBy(_._1).toSeq.flatMap { case (m, ms) =>
      ms.flatMap(_._2.toSeq).groupBy(_._1).map { case (k, xs) => s"$m.$k" -> xs.map(_._2).sum }
    }
  }
}

object Report {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "live_mb" -> "MB")

  val PhaseFields: Seq[(String, String)] = Seq("busy_s" -> "s", "cpu_s" -> "s",
    "jobs" -> "count", "tasks" -> "count", "read_bytes" -> "B",
    "shuffle_bytes" -> "B", "written_bytes" -> "B", "gc_s" -> "s")
  val ModuleFields: Seq[(String, String)] = Seq("planning_s" -> "s", "driver_s" -> "s",
    "eager_jobs" -> "count", "jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s",
    "shuffle_bytes" -> "B", "gc_s" -> "s")

  val LayerMetrics: Seq[(String, String)] =
    (for (p <- Attribution.Phases; (f, u) <- PhaseFields) yield s"$p.$f" -> u) ++ Seq(
      "other.busy_s" -> "s", "trace.attributed_share" -> "ratio",
      "sink.rows_written" -> "count", "sink.useful_ratio" -> "ratio",
      "orchestrator.driver_s" -> "s", "orchestrator.jobs" -> "count",
      "accounts.fs_metadata_ops" -> "count", "accounts.fs_write_ops" -> "count",
      "accounts.data_files" -> "count",
      "jsondocs.rows_per_s" -> "rows/s", "masking.rows_per_s" -> "rows/s") ++
      (for (m <- QueryMix.Modules; (f, u) <- ModuleFields) yield s"$m.$f" -> u) ++ Seq(
      "spark.spill_bytes" -> "B", "spark.task_failures" -> "count",
      "trace.overhead_s" -> "s",
      "docs_per_s" -> "docs/s", "written_docs_per_s" -> "docs/s",
      "write_amp" -> "ratio", "space_amp" -> "ratio",
      "query_p50_s" -> "s", "query_tail_s" -> "s", "queries_per_s" -> "1/s",
      "fail_ratio" -> "ratio")

  /** Writes one span per traced operation and one child span per Spark job,
    * each with its self time (duration minus the time its children cover). */
  def writeSpans(path: String, a: Args, runs: Seq[OpRun]): Unit = {
    val lines = runs.filter(_.traced).flatMap { r =>
      val id = s"${a.workload}-${a.seed}-op${r.i}"
      val names =
        if (r.outcome.parts.nonEmpty) r.jobs.map(j =>
          r.outcome.parts.find(p => j.startMs >= p.startMs && j.startMs <= p.endMs)
            .map(p => s"${p.module}:${p.name}").getOrElse("other"))
        else Attribution.phases(r.jobs.map(_.callSite))
      val childCover = Intervals.covered(r.jobs.map(j => (j.startMs, j.endMs)), r.startMs, r.endMs)
      val op = Json.obj(Seq("id" -> Json.str(id), "name" -> Json.str(a.workload),
        "parent" -> "null", "start_ms" -> r.startMs.toString, "end_ms" -> r.endMs.toString,
        "self_ms" -> (r.endMs - r.startMs - childCover).toString))
      op +: r.jobs.zip(names).map { case (j, n) =>
        Json.obj(Seq("id" -> Json.str(id), "name" -> Json.str(s"job${j.id}:$n"),
          "parent" -> Json.str(a.workload), "start_ms" -> j.startMs.toString,
          "end_ms" -> j.endMs.toString, "self_ms" -> (j.endMs - j.startMs).toString,
          "tasks" -> j.tasks.toString, "cpu_s" -> Json.num(j.cpuNs / 1e9)))
      }
    }
    Files.writeString(new File(path).toPath, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}
