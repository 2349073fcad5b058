package graft.tools

/** SQL-surface walkthrough: a session built with graft's extensions, driving
  * the registered functions from plain SQL.
  *
  *   runMain graft.tools.SqlDemo
  */
object SqlDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.build()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // show the bucketed SMJ path

    spark
      .sql("""SELECT v, hk_infer_type(v) AS ty FROM VALUES
             | ('42'), ('2.95276'), ('2022-12-15'),
             | ('2022-12-15 17:48:29 -0800'), ('mi/hr') AS t(v)""".stripMargin)
      .show(false)
    spark
      .sql("""SELECT graft_fingerprint(split('the quick brown fox', ' ')) AS fp,
             | graft_simhash64(transform(split('a b c', ' '), t -> xxhash64(t))) AS sh""".stripMargin)
      .show(false)
    // SQLite-compat json_extract (the reference README's function name)
    spark
      .sql("""SELECT json_extract('{"a": {"sum": 1.5}}', "$.a.sum") AS v""")
      .show(false)
    // bucketed co-located join: pay the shuffle at write time, join free
    val rev = graft.operators.Bucketing
      .cobucketedRevenue(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    rev.show(false)
    val plan = rev.queryExecution.executedPlan.toString
    println("join strategy: " +
      (if (plan.contains("SortMergeJoin")) "SortMergeJoin" else "other") +
      ", exchanges under join inputs: " +
      (plan.split("Join").drop(1).mkString.contains("Exchange hashpartitioning(l_orderkey")))
    args.headOption.foreach { _ => // probe mode: intentionally bad arity
      spark.sql("SELECT hk_infer_type()").show()
    }
    spark.stop()
  }
}
