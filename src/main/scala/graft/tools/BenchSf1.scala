package graft.tools

import graft.SparkEntry

/** Full-suite sf1 scale rehearsal: every registered query timed at sf0.1
  * AND on the deterministic 10× corpus ([[ScaleData]]), with the per-query
  * scaling exponent `log10(t_sf1 / t_sf0.1)` — 0 ≈ overhead-bound, 1 =
  * linear, > 1 superlinear. Extends the driver bench's top-10 lane
  * (BENCH_SF1.json) to all queries so a superlinear query OUTSIDE the
  * expensive tail can't hide; writes BENCH_SF1_FULL.json and EXITS
  * NONZERO when any query outside the justified allowlist shows
  * `scale_exp > 0.9` with a non-trivial absolute sf1 time (> 1 s — a
  * sub-second query's exponent is timer noise, not a scale smell).
  *
  * Usage: `sbt "runMain graft.tools.BenchSf1 [sf01Dir] [outJson]"`.
  */
object BenchSf1 {

  /** Queries where ~linear growth is the honest cost of the semantics,
    * with the reason recorded — anything here still appears in the
    * artifact, it just doesn't fail the gate.
    */
  /** The embed-pair family's story since r14 (the recall dial, turned):
    * planes stay corpus-derived
    * ([[graft.operators.VectorOps.nearDupPlanesFor]] — max(5,
    * ceil(log2(n/32)))) and the TABLE count now grows with them per the
    * amplification bound ([[graft.operators.VectorOps.nearDupTablesFor]],
    * hamming-1 probing included), holding recall@0.45 ≥ the derivation
    * target — r13's fixed L = 6 measured recall collapsing 0.50 → 0.43 →
    * 0.072 as planes grew 5 → 6 → 10, a quality failure the cost gates
    * green-lit. The honest cost of held recall is the data-independent
    * LSH frontier, candidate volume ∝ n^0.62·log n — so the gate for this
    * family watches BOTH dials it can watch honestly: (1) q251's measured
    * recall@0.45 at sf1 against [[graft.operators.VectorOps.NearDupRecallFloor]]
    * (`recall_violations`), and (2) the measured candidate volume against
    * the amplification MODEL's own predicted growth
    * ([[graft.operators.VectorOps.candidateModelPerDoc]], ratio ≤
    * [[PairDensityGate]]). The SURFACED pair table is the data's answer,
    * not a cost: on this 64-dim synthetic corpus the ≥0.35 background is
    * genuinely quadratic (brute-force truth: 271 pairs at 500 vecs, 4137
    * at 2000 — the engine's 249/3706 is ~0.9 recall of each), so gating
    * surfaced output would just re-demand the recall collapse; it is
    * REPORTED (`pairs_sf01`/`pairs_sf1`) with this explanation instead.
    * Over-cap buckets still deterministically SAMPLE to
    * [[graft.operators.TextOps.MaxBucket]] members instead of dropping.
    */
  private val EmbedLshWhy =
    "embed-LSH pair family at corpus-derived planes AND tables (r14: L(p) from the " +
      "amplification bound + hamming-1 probing, recall@0.45 held >= 0.9 by derivation and " +
      "gated at sf1 via q251): candidate volume follows the n^0.62*log n LSH frontier — " +
      "measured against the model's own predicted growth below; surfaced pairs mirror the " +
      "corpus's true (quadratic-background) structure at ~0.9 recall and are reported, " +
      "not gated; over-cap buckets sample to the cap (content-stable xxhash64 order)"

  val LinearAllowlist: Map[String, String] = Map(
    "q94_gap_fill" -> ("resampling emits the full (user, hour) grid — output itself grows " +
      "linearly with the key space; everything stays keyed and partitioned"),
    "q96_edit_verify" -> ("exact levenshtein verification of every LSH candidate pair: " +
      "pairs grow linearly with the corpus (dup structure is linear by construction — " +
      "measured density ratio 1.0 at r12), per-pair cost is constant — candidate-bounded, " +
      "never corpus^2"),
    "q30_embed_neardup"        -> EmbedLshWhy,
    "q65_semdedup"             -> (EmbedLshWhy + "; SemDeDup keeper rule on the same pairs"),
    "q212_semantic_decontam"   -> (EmbedLshWhy + "; plus pair-keyed split joins"),
    "q213_knn_label_agreement" -> (EmbedLshWhy + "; both pair orientations through the top-k heap"),
    "q227_knn_hubness"         -> (EmbedLshWhy + "; in-degree fold over the q213 edge list"),
    "q228_fleiss_kappa"        -> (EmbedLshWhy + "; per-item vote table over the q213 kNN panel"),
    "q251_embed_recall"        -> (EmbedLshWhy + "; plus a probe-bounded exact truth scan")
  )

  val ExpGate    = 0.9
  val MinSf1Secs = 1.0

  /** The measured quantity each allowlist entry's justification rests on —
    * "pair-linear" is CHECKED, not asserted (r11's q96 measured exp 1.1
    * against a pair-linear justification the replica corpus could have
    * violated): the gate records the metric at both SFs and FAILS an entry
    * whose per-doc density grows more than [[PairDensityGate]]×.
    */
  val AllowlistMetric: Map[String, String] = Map(
    "q96_edit_verify"         -> "text_candidate_pairs",
    "q30_embed_neardup"       -> "embed_candidate_volume",
    "q65_semdedup"            -> "embed_candidate_volume",
    "q212_semantic_decontam"  -> "embed_candidate_volume",
    "q213_knn_label_agreement" -> "embed_candidate_volume",
    "q227_knn_hubness"        -> "embed_candidate_volume",
    "q228_fleiss_kappa"       -> "embed_candidate_volume",
    "q251_embed_recall"       -> "embed_candidate_volume",
    "q94_gap_fill"            -> "output_rows"
  )
  val PairDensityGate = 2.0

  /** The recall floor the sf1 lane fails under — q251's measured
    * recall@0.45, the r13 lesson's missing gate.
    */
  val RecallFloor: Double = graft.operators.VectorOps.NearDupRecallFloor

  /** Bound on the TEXT LSH families' cap loss — q25/q26/q64 ride the
    * fixed [[graft.operators.TextOps.MaxBucket]] cap, and q183 measures
    * the candidate-pair share the cap actually DROPS (its band = −1
    * overall row). The r14 rule: that share is GATED at both SFs instead
    * of asserted away — a corpus whose hot buckets outgrow the cap
    * surfaces here (as the embed side's occupancy does via q251/q252)
    * before it silently costs text-dedup recall. Missing measurement =
    * violation (the failure-marker rule).
    */
  val TextDropShareGate = 0.02

  def main(args: Array[String]): Unit = {
    val sf01Dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1).getOrElse("/root/repo/BENCH_SF1_FULL.json")
    val spark = graft.core.GraftSession.build()

    val sf1Dir = ScaleData.ensure(spark, sf01Dir, "/tmp/graft_sf1")

    def timeOne(name: String, dir: String): Double = {
      val times = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench-sf1-full] $name@$dir failed: ${e.getMessage}")
            None
        } finally graft.core.CacheScope.drain(spark)
      }
      // untimed GC between queries (graft.Bench's attribution rule): a
      // heap-churning query must not tax its successors' timings
      System.gc()
      if (times.nonEmpty) times.min else -1.0
    }

    // warmup the common physical shapes (same rationale as graft.Bench)
    try {
      timeOne(SparkEntry.queries.keys.min, sf01Dir)
      ()
    } catch { case _: Throwable => () }

    // shared-stage prewarm per dir (same attribution rule as graft.Bench:
    // one-time builds must not land on the first consumer's timing line)
    val shared = Seq(sf01Dir, sf1Dir).map { dir =>
      dir -> graft.operators.SharedStages.prewarm(spark, dir).map { case (n, build) =>
        val t0 = System.nanoTime()
        try { build(); n -> (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench-sf1-full] shared:$n@$dir failed: ${e.getMessage}")
            n -> -1.0
        }
      }
    }

    // the allowlist's own evidence: per-doc pair densities at both SFs.
    // A FAILED measurement is not a free pass: missing stats for a gated
    // entry are treated as a gate violation below (the r12 advisory —
    // an empty map must not make every density check vacuously hold).
    def pairStats(dir: String): Map[String, Long] =
      try {
        val vo     = graft.operators.VectorOps
        val nDocs  = spark.read.parquet(s"$dir/documents.parquet").count()
        val planes = vo.nearDupPlanesFor(spark, dir)
        val textPairs = graft.operators.SharedStages.minhashEdges(spark, dir).count()
        val embPairs  = graft.operators.SharedStages.nearDupPairs(spark, dir).count()
        val candVol   = vo.candidateVolume(spark, dir)
        val gapRows   = SparkEntry.queries("q94_gap_fill")(spark, dir).count()
        graft.core.CacheScope.drain(spark)
        Map(
          "docs"                   -> nDocs,
          "n_embs"                 -> spark.read.parquet(s"$dir/embeddings.parquet").count(),
          "planes"                 -> planes.toLong,
          "tables"                 -> vo.nearDupTablesFor(planes).toLong,
          "text_candidate_pairs"   -> textPairs,
          "embed_neardup_pairs"    -> embPairs,
          "embed_candidate_volume" -> candVol,
          "output_rows"            -> gapRows)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench-sf1-full] pairStats@$dir failed: ${e.getMessage}")
          Map.empty
      }
    val stats01 = pairStats(sf01Dir)
    val stats1  = pairStats(sf1Dir)

    // q251's measured recall@0.45 per dir — the sf1 value is the gate the
    // r13 round was missing (cost gates alone green-lit recall collapse).
    // A missing or NULL measurement is a VIOLATION, not a pass (the
    // failure-marker rule).
    def recallAt045(dir: String): Option[Double] =
      try {
        SparkEntry.queries("q251_embed_recall")(spark, dir).collect()
          .find(r => math.abs(r.getAs[Double]("threshold") - 0.45) < 1e-9)
          .flatMap { r =>
            val i = r.fieldIndex("recall")
            if (r.isNullAt(i)) None else Some(r.getDouble(i))
          }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench-sf1-full] recall@$dir failed: ${e.getMessage}")
          None
      } finally graft.core.CacheScope.drain(spark)
    val recall01 = recallAt045(sf01Dir)
    val recall1  = recallAt045(sf1Dir)
    val recallViolations: Seq[(String, Option[Double])] =
      Seq("sf01" -> recall01, "sf1" -> recall1).filter { case (_, r) =>
        r.forall(_ < RecallFloor) // forall: missing measurement ⇒ violation
      }

    // q183's overall (band = -1) cap-dropped candidate-pair share per dir
    // — the text LSH families' counterpart of the recall gate
    def dropShareAt(dir: String): Option[Double] =
      try {
        SparkEntry.queries("q183_bucket_balance")(spark, dir).collect()
          .find(_.getAs[Long]("band") == -1L)
          .map { r =>
            val i = r.fieldIndex("drop_share")
            if (r.isNullAt(i)) 0.0 else r.getDouble(i) // no pairs at all ⇒ nothing dropped
          }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench-sf1-full] drop_share@$dir failed: ${e.getMessage}")
          None
      } finally graft.core.CacheScope.drain(spark)
    val drop01 = dropShareAt(sf01Dir)
    val drop1  = dropShareAt(sf1Dir)
    val dropShareViolations: Seq[(String, Option[Double])] =
      Seq("sf01" -> drop01, "sf1" -> drop1).filter { case (_, d) =>
        d.forall(_ > TextDropShareGate) // forall: missing measurement ⇒ violation
      }

    val names = SparkEntry.queries.keys.toSeq.sorted
    val rows = names.map { name =>
      val t01 = timeOne(name, sf01Dir)
      val t1  = timeOne(name, sf1Dir)
      val exp = if (t01 > 0 && t1 > 0) Some(math.log10(t1 / t01)) else None
      (name, t01, t1, exp)
    }
    graft.operators.SharedStages.release(spark)

    // an allowlisted query whose measured per-doc density grew past the
    // gate loses its exemption: its justification is measured false. A
    // query whose measurement is MISSING (pairStats threw) also loses it —
    // an empty stats map must not make the check vacuously pass.
    // Per-doc growth ratio for text/output metrics; for the embed family
    // the measured CANDIDATE volume is normalized by the amplification
    // model's own predicted per-vec volume at each SF's derived geometry
    // (recall-held LSH cost grows ∝ n^0.62·log n BY DESIGN — the gate
    // checks the measurement tracks the design, not that cost is flat).
    val densityRatio: Map[String, Double] = AllowlistMetric.flatMap { case (q, metric) =>
      if (metric == "embed_candidate_volume")
        for {
          n01 <- stats01.get("n_embs"); n1 <- stats1.get("n_embs")
          pl01 <- stats01.get("planes"); pl1 <- stats1.get("planes")
          v01 <- stats01.get(metric); v1 <- stats1.get(metric)
          if n01 > 0 && n1 > 0 && v01 > 0
          m01 = graft.operators.VectorOps.candidateModelPerDoc(n01, pl01.toInt)
          m1  = graft.operators.VectorOps.candidateModelPerDoc(n1, pl1.toInt)
          if m01 > 0 && m1 > 0
        } yield q -> ((v1.toDouble / n1) / m1) / ((v01.toDouble / n01) / m01)
      else
        for {
          d01 <- stats01.get("docs"); d1 <- stats1.get("docs")
          p01 <- stats01.get(metric); p1 <- stats1.get(metric)
          if d01 > 0 && d1 > 0 && p01 > 0
        } yield q -> (p1.toDouble / d1) / (p01.toDouble / d01)
    }
    val brokenJustification = AllowlistMetric.keySet.filter { q =>
      densityRatio.get(q).forall(_ > PairDensityGate) // forall: missing measurement ⇒ broken
    }

    val violations = rows.collect {
      case (name, _, t1, Some(exp))
          if exp > ExpGate && t1 > MinSf1Secs &&
            (!LinearAllowlist.contains(name) || brokenJustification.contains(name)) =>
        (name, t1, exp)
    }
    val lines = rows.map { case (name, t01, t1, exp) =>
      val e  = exp.map(v => f"$v%.2f").getOrElse("null")
      val al = if (LinearAllowlist.contains(name)) ", \"allowlisted\": true" else ""
      f"""  "$name": {"sf01_s": $t01%.2f, "sf1_s": $t1%.2f, "scale_exp": $e$al}"""
    }
    val vio = violations
      .map { case (n, t1, e) => f"""{"query": "$n", "sf1_s": $t1%.2f, "scale_exp": $e%.2f}""" }
      .mkString("[", ", ", "]")
    val allowJson = LinearAllowlist.toSeq.sorted.map { case (k, why) =>
      val measured = AllowlistMetric.get(k).map { m =>
        val p01   = stats01.getOrElse(m, -1L)
        val p1    = stats1.getOrElse(m, -1L)
        val ratio = densityRatio.get(k).map(r => f"$r%.3f").getOrElse("null")
        // null ratio = measurement failed; justification_holds is then
        // null in the artifact AND the entry counts as a gate violation
        val holds =
          if (densityRatio.contains(k)) (!brokenJustification.contains(k)).toString else "null"
        // the embed family additionally reports its SURFACED pair table
        // (the data's answer — explained in the why, measured, not gated)
        val surfaced =
          if (m == "embed_candidate_volume")
            s""" "surfaced_pairs_sf01": ${stats01.getOrElse("embed_neardup_pairs", -1L)},""" +
              s""" "surfaced_pairs_sf1": ${stats1.getOrElse("embed_neardup_pairs", -1L)},"""
          else ""
        s""", "metric": "$m", "pairs_sf01": $p01, "pairs_sf1": $p1,$surfaced""" +
          s""" "per_doc_density_ratio": $ratio,""" +
          s""" "justification_holds": $holds"""
      }.getOrElse("")
      s"""  "$k": {"why": "$why"$measured}"""
    }
    val sharedJson = shared.map { case (dir, ss) =>
      val nm = if (dir == sf1Dir) "sf1" else "sf01"
      s""""$nm": {${ss.map { case (n, t) => f""""$n": $t%.2f""" }.mkString(", ")}}"""
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath),
      s"""{"replicas": ${ScaleData.Replicas},
         |"note": "ALL registered queries re-timed on the deterministic 10x corpus; scale_exp = log10(t_sf1/t_sf0.1): 0=overhead-bound, 1=linear; gate: exp > $ExpGate AND sf1_s > $MinSf1Secs s outside the allowlist fails; allowlist entries carry their MEASURED densities (embed family: candidate volume vs the amplification model) and lose the exemption past ${PairDensityGate}x; q251 recall@0.45 below $RecallFloor at either SF fails (recall_violations)",
         |"docs": {"sf01": ${stats01.getOrElse("docs", -1L)}, "sf1": ${stats1.getOrElse("docs", -1L)}},
         |"neardup_planes": {"sf01": ${stats01.getOrElse("planes", -1L)}, "sf1": ${stats1.getOrElse("planes", -1L)}},
         |"neardup_tables": {"sf01": ${stats01.getOrElse("tables", -1L)}, "sf1": ${stats1.getOrElse("tables", -1L)}},
         |"recall_at_045": {"sf01": ${recall01.map(r => f"$r%.4f").getOrElse("null")}, "sf1": ${recall1.map(r => f"$r%.4f").getOrElse("null")}, "floor": $RecallFloor},
         |"recall_violations": [${recallViolations.map { case (d, r) =>
        s"""{"sf": "$d", "recall": ${r.map(v => f"$v%.4f").getOrElse("null")}}"""
      }.mkString(", ")}],
         |"text_drop_share": {"sf01": ${drop01.map(v => f"$v%.6f").getOrElse("null")}, "sf1": ${drop1.map(v => f"$v%.6f").getOrElse("null")}, "bound": $TextDropShareGate},
         |"drop_share_violations": [${dropShareViolations.map { case (d, v) =>
        s"""{"sf": "$d", "drop_share": ${v.map(x => f"$x%.6f").getOrElse("null")}}"""
      }.mkString(", ")}],
         |"shared_prewarm_s": {${sharedJson.mkString(", ")}},
         |"gate_violations": $vio,
         |"allowlist": {
         |${allowJson.mkString(",\n")}
         |},
         |"queries": {
         |${lines.mkString(",\n")}
         |}}
         |""".stripMargin)
    println(s"[bench-sf1-full] wrote $outPath; ${rows.size} queries, " +
      s"${violations.size} gate violations, ${recallViolations.size} recall violations, " +
      s"${dropShareViolations.size} drop-share violations")
    violations.foreach { case (n, t1, e) =>
      System.err.println(f"[bench-sf1-full] GATE: $n sf1=$t1%.2fs exp=$e%.2f")
    }
    recallViolations.foreach { case (d, r) =>
      System.err.println(s"[bench-sf1-full] RECALL GATE: $d recall@0.45=" +
        s"${r.map(v => f"$v%.4f").getOrElse("UNMEASURED")} < $RecallFloor")
    }
    dropShareViolations.foreach { case (d, v) =>
      System.err.println(s"[bench-sf1-full] DROP-SHARE GATE: $d drop_share=" +
        s"${v.map(x => f"$x%.6f").getOrElse("UNMEASURED")} > $TextDropShareGate")
    }
    spark.stop()
    if (violations.nonEmpty || recallViolations.nonEmpty || dropShareViolations.nonEmpty)
      sys.exit(4)
  }
}
