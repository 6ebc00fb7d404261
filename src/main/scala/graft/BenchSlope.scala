package graft

import org.apache.spark.sql.SparkSession

/** Scaling-slope evidence for the WHOLE query registry: times every
  * registered query at TWO scale factors (default sf0.01 → sf0.1, a 10×
  * data step — the largest step the sandbox's generated data supports) and
  * records the wall-time ratio. The 100 TB arguments elsewhere are
  * plan-shape arguments; this is the measured counterpart: a query whose
  * time grows SUPER-LINEARLY in SF (ratio > data ratio × margin) gets
  * flagged — at bench sizes fixed per-query overhead dominates, so an
  * honest distributed plan lands well UNDER the data ratio.
  *
  * ARTIFACT-SERVED queries ([[ArtifactConsumers]] — the lanes reading the
  * durable [[graft.operators.DupClusters]] / IVF
  * ([[graft.operators.Similarity.IvfIndex]]) / inverted
  * ([[graft.operators.LexIndex]]) indexes) get BUILD and WARM measured
  * separately, because their scale claims differ: the build is the one
  * corpus pass (should stay ~linear in SF), while warm serving reads
  * index-sized parquet with zero corpus passes (should stay ~FLAT — the
  * whole point of publishing the artifact). A single blended number would
  * let a corpus-sized warm path hide inside a fast build or vice versa.
  * Protocol per consumer query and SF: the index root is redirected to a
  * fresh per-query directory and the session memo evicted, so run 1 is a
  * true cold build+serve (`t_build`); the next 3 runs evict the memo only
  * — each re-enters through the durable-load path — and their min is the
  * warm serving time. `slope`/`super_linear` grade the WARM path (what a
  * consumer pays per query at 100 TB); `build_slope` is recorded alongside.
  *
  * Usage: `runMain graft.BenchSlope` (env `SPARK_GRAFT_SF_SMALL` /
  * `SPARK_GRAFT_SF_LARGE` / `SPARK_GRAFT_SLOPE_OUT` override defaults;
  * `SPARK_GRAFT_SLOPE_ONLY=q_a1,q_g4` restricts the sweep for bisection).
  * Emits one JSON line and writes it to SCALING_SLOPE.json. */
object BenchSlope {

  /** Queries served from a durable index artifact → the root properties
    * they consume (redirected to a fresh dir for the cold-build run). Kept
    * in lockstep with the `DupClusters.build` / `IvfIndex.build` /
    * `LexIndex.*TopDocs` call sites in operators/. */
  val ArtifactConsumers: Map[String, Seq[String]] = {
    val dup = Seq("graft.dupindex.root")
    val ivf = Seq("graft.ivf.root")
    val lex = Seq("graft.lexindex.root")
    Map(
      "q_d9_dup_components"  -> dup,
      "q_d11_edit_verified"  -> dup,
      "q_g1_degree_hist"     -> dup,
      "q_g2_triangles"       -> dup,
      "q_g3_component_sizes" -> dup,
      "q_g4_pagerank"        -> dup,
      "q_g5_clustering_coeff" -> dup,
      "q_g6_label_prop"      -> dup,
      "q_g7_kcore"           -> dup,
      "q_g8_kcore3"          -> dup,
      "q_g9_ktruss"          -> dup,
      "q_g10_cohesion"       -> dup,
      "q_t18_cluster_split"  -> dup,
      "q_t19_keep_canonical" -> dup,
      "q_t26_dedup_mix"      -> dup,
      "q_d15_semantic_dedup" -> ivf,
      "q_sim3_ivf_ann"       -> ivf,
      "q_sim4_ivf_kmeans"    -> ivf,
      "q_sim11_ivf_int8"     -> ivf,
      "q_sim14_ivfpq"        -> ivf,
      "q_sim16_pq_rerank"    -> ivf,
      "q_sim18_mmr_diverse"  -> ivf,
      "q_sim19_cell_balance" -> ivf,
      "q_sim20_topic_mix"    -> ivf,
      "q_t21_bm25"           -> lex,
      "q_t36_decontam_served" -> ivf,
      "q_sim15_hybrid_rrf"   -> lex,
      "q_sim17_hybrid_served" -> (ivf ++ lex),
      "q_t39_safe_keep"      -> dup,
      "q_t41_bm25_query"     -> lex,
      "q_sim21_hybrid_query" -> (ivf ++ lex),
      "q_mm19_img_ivf"       -> Seq("graft.mmivf.root"),
      "q_mm20_modal_consistency" -> Seq("graft.mmivf.root", "graft.dupindex.root"),
      "q_d21_proto_prune"    -> ivf,
      "q_g11_weak_links"     -> dup,
      "q_sim22_nprobe_sweep" -> ivf,
      "q_d22_d4_verdict"     -> ivf,
      "q_mm21_audio_ivf"     -> Seq("graft.mmivf.root"),
      "q_g12_severed_components" -> dup,
      "q_g13_family_depth"   -> dup,
      "q_mm22_ext_ivf"       -> Seq("graft.mmivf.root"))
  }

  /** Linear-scaling margin: data grows 10×, so a ratio beyond 10 × 1.3
    * means super-linear growth even granting 30% measurement noise. */
  val Margin = 1.3

  private def fmt(d: Double): String = f"$d%.4f"

  /** The merge-refusal gate, factored for spec-pinning (ADVICE r14): a
    * prior artifact may only be merged into when every configuration
    * field (scale pair, data ratio, margin) matches the current run —
    * a MISSING field is a legacy-format artifact whose measurement
    * conditions are unknowable and refuses exactly like a differing one.
    * Returns the human-readable mismatch list (empty = mergeable). */
  private[graft] def mergeConfigMismatches(priorText: String, small: String,
                                           large: String,
                                           dataRatio: Double): Seq[String] = {
    def field(k: String): Option[String] =
      (s""""$k":"?([^",}]+)"?""").r.findFirstMatchIn(priorText).map(_.group(1))
    Seq(
      "sf_small" -> small, "sf_large" -> large,
      "data_ratio" -> dataRatio.toString, "margin" -> Margin.toString
    ).flatMap { case (k, cur) =>
      field(k) match {
        case None => Some(s"$k: artifact=<absent> run=$cur")
        case Some(prev)
          if prev != cur &&
            // numeric fields: compare as doubles ("10.0" == "10")
            scala.util.Try(prev.toDouble != cur.toDouble).getOrElse(true) =>
          Some(s"$k: artifact=$prev run=$cur")
        case _ => None
      }
    }
  }

  private def evictAll(s: SparkSession): Unit =
    graft.core.Artifact.kinds.foreach(_.evictSession(s))

  def main(args: Array[String]): Unit = {
    val small = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val large = sys.env.getOrElse("SPARK_GRAFT_SF_LARGE", "/root/testdata/sf0.1")
    val dataRatio = sys.env.getOrElse("SPARK_GRAFT_SF_RATIO", "10.0").toDouble
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Seq(small, large).foreach { dir =>
      graft.core.Tables.names.foreach { t =>
        try graft.core.Tables.load(spark, dir, t)
          .selectExpr("count(md5(CAST(1 AS STRING)))").collect()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"bench-slope: warmup failed for table '$t': $e") }
      }
    }

    def timeOnce(name: String, dir: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try { fn(spark, dir).count() } catch { case _: Throwable => -1L }
      (System.nanoTime() - t0) / 1e9
    }

    def best3(name: String, dir: String): Double =
      (1 to 3).map(_ => timeOnce(name, dir)).min

    /** (t_build, t_warm) for an artifact consumer against a FRESH index
      * root — see object scaladoc for the protocol. */
    def buildAndWarm(name: String, dir: String, roots: Seq[String],
                     tag: String): (Double, Double) = {
      val prev = roots.map(r => r -> sys.props.get(r)).toMap
      val tempDirs = roots.map { r =>
        val d = java.nio.file.Files.createTempDirectory(s"slope-$tag-")
        sys.props(r) = d.toString
        d
      }
      try {
        evictAll(spark)
        val tBuild = timeOnce(name, dir)
        val tWarm = (1 to 3).map { _ =>
          evictAll(spark) // re-enter through the durable-load path
          timeOnce(name, dir)
        }.min
        (tBuild, tWarm)
      } finally {
        roots.foreach { r =>
          prev(r) match {
            case Some(v) => sys.props(r) = v
            case None    => sys.props.remove(r); ()
          }
        }
        // handles bound to the temp roots must not leak (evictSession also
        // unpersists their frames via the caches' release callbacks), and
        // the per-query throwaway indexes must not accumulate on disk
        evictAll(spark)
        tempDirs.foreach { d =>
          try graft.core.Storage.hadoop.deleteRecursive(d.toString)
          catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    }

    val only = sys.env.get("SPARK_GRAFT_SLOPE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(o => o.contains(n) ||
        o.exists(p => n.startsWith(p + "_"))))

    final case class Row(name: String, ts: Double, tl: Double,
                         slope: Double, flagged: Boolean,
                         build: Option[(Double, Double, Double)])
    val rows = names.map { name =>
      ArtifactConsumers.get(name) match {
        case Some(roots) =>
          val (bS, wS) = buildAndWarm(name, small, roots, s"$name-s")
          val (bL, wL) = buildAndWarm(name, large, roots, s"$name-l")
          val slope = if (wS > 0) wL / wS else Double.NaN
          val bSlope = if (bS > 0) bL / bS else Double.NaN
          Row(name, wS, wL, slope, slope > dataRatio * Margin,
            Some((bS, bL, bSlope)))
        case None =>
          val ts = best3(name, small)
          val tl = best3(name, large)
          val slope = if (ts > 0) tl / ts else Double.NaN
          Row(name, ts, tl, slope, slope > dataRatio * Margin, None)
      }
    }
    val newBodies: Seq[(String, String)] = rows.map { r =>
      val base = s""""t_small":${fmt(r.ts)},""" +
        s""""t_large":${fmt(r.tl)},"slope":${fmt(r.slope)},""" +
        s""""super_linear":${r.flagged}"""
      r.name -> (r.build match {
        case Some((bS, bL, bSl)) => base +
          s""","t_build_small":${fmt(bS)},"t_build_large":${fmt(bL)},""" +
          s""""build_slope":${fmt(bSl)}"""
        case None => base
      })
    }
    val out = sys.env.getOrElse("SPARK_GRAFT_SLOPE_OUT", "SCALING_SLOPE.json")
    // SPARK_GRAFT_SLOPE_MERGE=true: fold this run's rows into the existing
    // artifact instead of replacing it — the incremental path for NEW
    // registry entries (run with SPARK_GRAFT_SLOPE_ONLY=<new queries>), so
    // the slope-gate invariant (BenchSpec: slope rows == registry, the
    // round-12 164 != 172 drift) stays green without a full re-sweep.
    // Rows for queries measured in THIS run always win; rows whose query
    // left the registry are dropped by the same gate at test time.
    val merge = sys.env.get("SPARK_GRAFT_SLOPE_MERGE").exists(_.toBoolean)
    val priorBodies: Seq[(String, String)] =
      if (!merge) Seq.empty
      else {
        val f = java.nio.file.Paths.get(out)
        if (!java.nio.file.Files.exists(f)) Seq.empty
        else {
          val txt = java.nio.file.Files.readString(f)
          // retained rows were measured under the prior artifact's scale
          // pair, and their super_linear flags were judged against its
          // dataRatio*Margin threshold — merging across a DIFFERENT
          // configuration silently mixes incomparable measurements.
          // Refuse: the caller either re-sweeps fully or points
          // SPARK_GRAFT_SLOPE_OUT elsewhere.
          val mismatches =
            mergeConfigMismatches(txt, small, large, dataRatio)
          if (mismatches.nonEmpty)
            throw new IllegalStateException(
              "bench-slope: SPARK_GRAFT_SLOPE_MERGE refused — existing " +
                s"artifact $out was measured under a different " +
                s"configuration (${mismatches.mkString("; ")}); re-sweep " +
                "fully or write to a fresh SPARK_GRAFT_SLOPE_OUT")
          """"(q_\w+)":\{([^}]*)\}""".r
            .findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2)).toSeq
        }
      }
    val newNames = newBodies.map(_._1).toSet
    val merged = (priorBodies.filterNot(p => newNames.contains(p._1)) ++
      newBodies).sortBy(_._1)
    val qs = merged.map { case (n, b) => s""""$n":{$b}""" }
      .mkString("{", ",", "}")
    val flaggedNames = merged
      .filter(_._2.contains(""""super_linear":true"""))
      .map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"scaling_slope","data_ratio":$dataRatio,""" +
      s""""margin":$Margin,"n_queries":${merged.length},"queries":$qs,""" +
      s""""flagged":$flaggedNames,""" +
      s""""sf_small":"$small","sf_large":"$large"}"""
    println(json)
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench-slope: failed to write $out: $e") }
    spark.stop()
  }
}
