package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Dumps `.explain("formatted")` for every SparkEntry query to PLANS.md —
  * the plan-review artifact for the scale audit (pushdown, broadcast,
  * exchange reuse, codegen spans).
  *
  *   runMain graft.tools.PlanDump [sfDir] [outFile] [onlySubstr]
  *
  * The optional third arg restricts the dump to queries whose name
  * contains the substring — the per-query before/after plan files under
  * plans/r14/ are produced this way.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out   = args.lift(1).getOrElse("/root/repo/PLANS.md")
    val only  = args.lift(2).getOrElse("")
    val spark = graft.core.GraftSession.build()

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans per query (explain formatted)\n\n")
    sb.append(s"Generated against `$sfDir`. Things to check per SURVEY §5:\n")
    sb.append("pushed filters + pruned ReadSchema on scans, BroadcastHashJoin on\n")
    sb.append("dims, ReusedExchange on self-joins, WholeStageCodegen coverage.\n")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || name.contains(only) }
      .foreach { case (name, fn) =>
        val plan =
          try fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
        sb.append(s"\n## $name\n\n```\n$plan```\n")
      }
    // SharedStages consumers plan as `Scan ExistingRDD` (checkpointed
    // stage) — the heavy pipelines live in the stage BUILD plans, dumped
    // here so the scale audit still sees them (r14: the embed-LSH pair
    // pipeline moved into a stage).
    val vo = graft.operators.VectorOps
    val sharedPlans: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "shared:nearDupPairs" ->
        (() => vo.nearDupPairsRaw(spark, vo.emb(spark, sfDir), vo.nearDupPlanesFor(spark, sfDir))),
      "shared:dfCapGrams" ->
        (() => graft.operators.TrainingOps.dfCapGramsPlan(spark, sfDir)),
      // r14 stages: retrieval-eval ground truth + index probes, per-doc
      // quality/NB score tables (consumers plan as Scan ExistingRDD)
      "shared:exactTopK"  -> (() => vo.cosineTopKPlan(spark, sfDir)),
      "shared:annLshTopK" -> (() => vo.annLshPlan(spark, sfDir)),
      "shared:annIvfTopK" -> (() => vo.annIvfPlan(spark, sfDir)),
      "shared:annPqTopK"  -> (() => vo.annPqPlan(spark, sfDir)),
      "shared:qualityScores" ->
        (() => graft.operators.TextOps.qualityScorePlan(spark, sfDir)),
      "shared:nbScores" ->
        (() => graft.operators.CurationOps.nbScoredPlan(spark, sfDir)))
    sharedPlans.filter { case (name, _) => only.isEmpty || name.contains(only) }
      .foreach { case (name, mk) =>
      val plan =
        try mk().queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
