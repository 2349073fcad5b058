package graft

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, fully evaluated via a noop-format write (count()
  * would let Spark prune projections; noop forces every column and
  * operator to execute). Prints ONE JSON line per the driver contract.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.build()

    // Warmup: JVM/codegen/file-listing, not counted against any query.
    // A bare count() leaves the whole-stage-codegen compiler, shuffle
    // writer, sorter, window and noop sink cold — the first timed queries
    // then eat seconds of JIT (r3 saw q01 2.1× slower purely from running
    // first). Run the common physical shapes twice, untimed.
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      for (_ <- 1 to 2) {
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(sum(col("l_quantity")).as("s"), avg(col("l_extendedprice")).as("a"),
            count(lit(1)).as("c"))
          .write.format("noop").mode("overwrite").save()
        li.orderBy(col("l_extendedprice").desc).limit(100)
          .write.format("noop").mode("overwrite").save()
        li.select(col("l_orderkey"), col("l_shipdate"),
            row_number().over(
              Window.partitionBy(col("l_orderkey")).orderBy(col("l_shipdate"))).as("rn"))
          .filter(col("rn") <= 2)
          .write.format("noop").mode("overwrite").save()
      }
    } catch { case _: Throwable => () }

    // Session-shared stages (the LSH/verify pipeline, component labels,
    // NB/BPE models) build ONCE per session — timed loops must not charge
    // that one-time cost to whichever query alphabetically touches the
    // stage first (r11's bench showed q129 at 9 s in-suite vs 0.8 s
    // isolated purely from this attribution). Materialize them up front,
    // each on its own labeled line; the query loop below then measures
    // every query's own marginal plan.
    val shared: Seq[(String, Double)] =
      graft.operators.SharedStages.prewarm(spark, sfDir).map { case (name, build) =>
        val t0 = System.nanoTime()
        try { build(); name -> (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] shared:$name failed: ${e.getMessage}")
            name -> -1.0
        }
      }
    val sharedTotal = shared.map(_._2).filter(_ >= 0).sum

    // Three runs per query, MEDIAN reported: the host has measured ±20%
    // RUN-LEVEL neighbor noise (r12 post-mortem: three identical suite
    // runs at 217.5/264.4/240.3 s), so a single run — or a best-of-2 —
    // makes round-over-round comparison need out-of-band context. The
    // median of 3 is noise-robust in the artifact itself; the per-run
    // totals land on the BENCH_FULL total line as the measured spread.
    // Failed runs must not contribute a (fast) bogus time — a query with
    // no successful run reports -1 and is excluded from the total.
    val BenchRuns = 3
    val raw = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to BenchRuns).map { _ =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            -1.0
        } finally {
          // Per-query cache lifecycle: free this query's persisted stages
          // after every run (each timed run pays its own cache builds);
          // pinned session-shared stages (SharedStages) survive.
          graft.core.CacheScope.drain(spark)
        }
      }
      // Untimed GC between queries: a heap-churning query otherwise taxes
      // the NEXT several queries' timings with its garbage (r11 showed a
      // decaying 3-10× slowdown over the ~10 queries after the widest
      // shuffles) — collection here keeps each timing attributable to its
      // own query.
      System.gc()
      name -> times
    }
    def medianOf(ts: Seq[Double]): Double = {
      val ok = ts.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0
      else if (ok.size >= 3) ok(ok.size / 2)
      else ok.min // degraded runs: conservative, the old best-of-N rule
    }
    val results = raw.map { case (name, ts) => name -> medianOf(ts) }
    // run-level totals (run k = sum of every query's k-th time) over the
    // queries that succeeded in ALL runs — a query failing in only some
    // runs must not make the runs sum different subsets (that would read
    // as host noise); the subset size is recorded beside the totals
    val allOk     = raw.filter(_._2.forall(_ >= 0))
    val runTotals = (0 until BenchRuns).map(k => allOk.map(_._2(k)).sum)

    // --- sf1 scale rehearsal -------------------------------------------------
    // Validate the "fixed overhead dominates at test scale" extrapolation
    // with data: build a deterministic 10× corpus (ScaleData — key-shifted
    // replicas with vocabulary-substituted text / rotated embeddings so
    // dup structure grows linearly like a real corpus) and time the
    // TOP-10 most expensive queries of the main loop once each, recording
    // the per-query scaling exponent log10(t_sf1/t_sf0.1) — ~0 means
    // overhead-bound, 1 linear, >1 superlinear (a scale smell). The
    // result is written to BENCH_SF1.json (the driver's 2000-char stdout
    // tail can't carry it; the JSON line carries only the pointer).
    // Skipped off the sf0.1 grain, when disabled, or when the main loop
    // itself ran slow (shared box — don't compound a timeout).
    val queriesTotal = results.map(_._2).filter(_ >= 0).sum
    // headline total stays the whole suite cost (shared-stage builds
    // included) so round-over-round totals remain comparable — only the
    // ATTRIBUTION moved to the labeled shared lines
    val total = queriesTotal + sharedTotal
    val sf1Note: String =
      if (sys.env.getOrElse("SPARK_GRAFT_SF1", "1") == "0" ||
        new java.io.File(sfDir).getName != "sf0.1" || total > 300.0) ""
      else
        try {
          val sf1Dir = tools.ScaleData.ensure(spark, sfDir, "/tmp/graft_sf1")
          // Prewarm the sf1 shared stages BEFORE the rehearsal loop — the
          // same attribution rule as the main loop: without this, each
          // one-time stage build lands on whichever rehearsal query touches
          // it first, and the cold lane reports superlinear exponents the
          // prewarmed FULL lane (tools.BenchSf1) contradicts (the r13 judge
          // measured q82 at exp 1.18 cold vs 0.13 warmed — same plan).
          val sharedSf1: Seq[(String, Double)] =
            graft.operators.SharedStages.prewarm(spark, sf1Dir).map { case (name, build) =>
              val t0 = System.nanoTime()
              try { build(); name -> (System.nanoTime() - t0) / 1e9 }
              catch {
                case e: Throwable =>
                  System.err.println(s"[bench-sf1] shared:$name failed: ${e.getMessage}")
                  name -> -1.0
              }
            }
          val top = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
          val lines = top.map { case (name, t01) =>
            val t0 = System.nanoTime()
            val t1 =
              try {
                SparkEntry.queries(name)(spark, sf1Dir)
                  .write.format("noop").mode("overwrite").save()
                (System.nanoTime() - t0) / 1e9
              } catch {
                case e: Throwable =>
                  System.err.println(s"[bench-sf1] $name failed: ${e.getMessage}")
                  -1.0
              } finally graft.core.CacheScope.drain(spark)
            val exp =
              if (t01 > 0 && t1 > 0) f"${math.log10(t1 / t01)}%.2f" else "null"
            f"""  "$name": {"sf01_s": $t01%.2f, "sf1_s": $t1%.2f, "scale_exp": $exp}"""
          }
          val sharedSf1Json = sharedSf1
            .map { case (k, v) => f""""$k": $v%.2f""" }
            .mkString("{", ", ", "}")
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get("/root/repo/BENCH_SF1.json"),
            s"""{"replicas": ${tools.ScaleData.Replicas},
               |"note": "top-10 queries of this bench re-timed on a deterministic 10x corpus AFTER a labeled shared-stage prewarm (attribution matches tools.BenchSf1's FULL lane); scale_exp = log10(t_sf1/t_sf0.1): 0=overhead-bound, 1=linear; all-query coverage lives in BENCH_SF1_FULL.json",
               |"shared_prewarm_sf1_s": $sharedSf1Json,
               |"queries": {
               |${lines.mkString(",\n")}
               |}}
               |""".stripMargin)
          ""","sf1":"BENCH_SF1.json""""
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench-sf1] lane failed: ${e.getMessage}"); ""
        }
    graft.operators.SharedStages.release(spark)
    // The driver stores only the LAST 2000 chars of stdout (and sbt's own
    // `[success]` epilogue eats ~90 of them), so the whole JSON line must
    // fit in ~1900 chars or the per-query map gets front-truncated and the
    // driver's parse fails (r3/r4 both shipped `parsed: null`). Shorten
    // per-query keys to their unique `qNN` prefix (full names live in
    // CORRECTNESS_r*.json) and print the full-name map to stderr for
    // local runs.
    def fmt(v: Double): String = f"$v%.2f"
    System.err.println(
      results.map { case (k, v) => s"$k=${fmt(v)}" }.mkString("[bench-full] ", " ", ""))
    val sfName = new java.io.File(sfDir).getName
    // The COMPLETE per-query map (full names, 2 dp) goes to a repo artifact
    // every run — the stdout line cannot carry 190+ entries (see below), and
    // round-over-round comparisons need every query, not just the visible
    // tail. Best-effort: a read-only working dir must not fail the bench.
    try {
      val full = results
        .map { case (k, v) => s"""  "$k": ${fmt(v)}""" }
        .mkString(",\n")
      val sharedFull = shared
        .map { case (k, v) => s"""  "$k": ${fmt(v)}""" }
        .mkString(",\n")
      val spreadPct =
        if (runTotals.nonEmpty && runTotals.min > 0)
          (runTotals.max - runTotals.min) / medianOf(runTotals) * 100.0
        else -1.0
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("/root/repo/BENCH_FULL.json"),
        f"""{"sf": "$sfName", "total_s": $total%.2f, "queries_s": $queriesTotal%.2f, "shared_s": $sharedTotal%.2f,
           |"runs": $BenchRuns, "per_query": "median of $BenchRuns successful runs (min when < 3 succeed)",
           |"run_totals_s": [${runTotals.map(t => f"$t%.2f").mkString(", ")}], "run_totals_queries": ${allOk.size}, "run_spread_pct": $spreadPct%.1f,
           |"shared": {
           |$sharedFull
           |},
           |"queries": {
           |$full
           |}}
           |""".stripMargin)
    } catch { case e: Throwable => System.err.println(s"[bench] BENCH_FULL write failed: $e") }
    // The driver stores only the LAST 2000 chars of stdout, and sbt's
    // `[info] ` prefix + `[success]` epilogue eat ~90 of them — a JSON line
    // over ~1900 chars gets front-truncated (r3/r4 shipped exactly that).
    // Keys shrink to the numeric id ("01".."191"), values to 1 dp with
    // "x.0"→"x", and the map is fitted to an explicit budget: slowest
    // queries first (they are what a reader compares across rounds), plus
    // every failure (-1), until the budget is spent; the rest are counted
    // in "omitted" and live in BENCH_FULL.json / the stderr line above.
    val budget = 1750
    val entries = results
      .map { case (k, v) =>
        (k.takeWhile(_ != '_').drop(1), v, "\"" + k.takeWhile(_ != '_').drop(1) + "\":" +
          f"$v%.1f".stripSuffix(".0"))
      }
      .sortBy { case (_, v, _) => if (v < 0) Double.MinValue else -v }
    // r15 (additive): the host has measured 30-75 % run-level spread at 32
    // cores (one neighbor-noise run inflates the median-of-medians total),
    // so the line also carries the MINIMUM single-run total (best full
    // pass + the shared block) — the contention-robust round-over-round
    // number. The medians, the timing loop and the `value` metric are
    // untouched.
    val minRunTotal =
      if (runTotals.nonEmpty) runTotals.min + sharedTotal else total
    def assembleLine(qs: Seq[(String, Double, String)], omitted: Int): String = {
      val m = qs.sortBy(_._1).map(_._3).mkString("{", ",", "}")
      val om = if (omitted > 0) s""","omitted":$omitted,"full":"BENCH_FULL.json"""" else ""
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","min_run_total":$minRunTotal%.2f,"shared_s":$sharedTotal%.2f,"queries":$m$om,"sf":"$sfName"$sf1Note}"""
    }
    var keep = entries
    while (assembleLine(keep, entries.size - keep.size).length > budget && keep.nonEmpty)
      keep = keep.dropRight(1)
    println(assembleLine(keep, entries.size - keep.size))
    spark.stop()
  }
}
