package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-lane timing harness (r15, VERDICT r14 #8): the E-operator
  * suite had no per-op timing lane, so optimization rounds could not rank
  * the streaming operators. This runs each representative streaming
  * operator over the REAL corpus through the `readStream` file source
  * (one AvailableNow pass, noop sink — the batch bench's methodology
  * transposed to micro-batches) and writes per-op seconds to
  * `BENCH_STREAMING.json` in the working directory. An operator that
  * throws is listed under `"failed"`, left out of `streaming_total`, and
  * makes the run exit non-zero.
  *
  * Coverage: the event-side stateful family (windowed agg, dedup,
  * sessionization, OHLC, top-k, transitions, EWMA, gap fill) and the
  * doc-side gate/chunker family (ingest gate, chunkers, normalize,
  * router, reservoir, budget and contamination gates) — the operators
  * whose arguments derive from the corpus alone. Model-driven gates
  * (LM/DSIR/BPE) ride the same scoring kernels the batch lane already
  * times (q68/q57/q91).
  *
  * NOT part of the driver contract: the driver's bench is `graft.Bench`;
  * this artifact exists so a future round can rank streaming operators
  * without building the harness first.
  */
object BenchStreaming {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.build()
    import spark.implicits._

    // file source wants a directory; stage each table's single parquet file
    def stage(name: String): String = {
      val d = java.nio.file.Files.createTempDirectory(s"graft_sbench_$name")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfDir/$name.parquet"), d.resolve(s"$name.parquet"))
      d.toString
    }
    val evDir  = stage("events")
    val docDir = stage("documents")
    // ts arrives as long nanos (old testdata) or TIMESTAMP_NTZ (new) —
    // normalize exactly as Tables.events does for the batch side.
    val evSchema = spark.read.parquet(evDir).schema
    def eventsStream: DataFrame = {
      val raw = spark.readStream.schema(evSchema).parquet(evDir)
      evSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    }
    def evTyped = eventsStream
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value").cast("double").as("value"))
      .as[graft.streaming.EventStreams.Ev]
    val docSchema = spark.read.parquet(docDir).schema
    def docsStream: DataFrame = spark.readStream.schema(docSchema).parquet(docDir)

    // corpus-derived gate arguments (bounded driver-side models — the
    // same derivations the specs use)
    val budgetThr  = graft.streaming.DocStreams.budgetThreshold(spark, sfDir)
    val benchGrams = graft.streaming.DocStreams.benchGramSet(spark, sfDir)

    import graft.streaming.{DocStreams, EventStreams}
    val ops: Seq[(String, String, () => DataFrame)] = Seq(
      ("E1_window_agg", "complete", () => EventStreams.windowedCounts(eventsStream)),
      ("E3_dedup", "append", () => EventStreams.dedup(eventsStream)),
      ("E2_sessionize", "update", () => EventStreams.sessionize(evTyped, 1800L).toDF()),
      ("E13_ohlc", "append", () => EventStreams.ohlcStream(eventsStream)),
      ("E_window_topk", "append", () => EventStreams.windowTopK(eventsStream)),
      ("E_transitions", "append", () => EventStreams.transitionStream(evTyped).toDF()),
      ("E_ewma", "append", () => EventStreams.ewmaStream(evTyped).toDF()),
      ("E_gap_fill", "update", () => EventStreams.gapFillStream(evTyped).toDF()),
      ("E_manifest", "append", () => EventStreams.manifestStream(eventsStream)),
      ("E_benford", "append", () => EventStreams.benfordStream(eventsStream)),
      ("E9_ingest_gate", "append", () => DocStreams.ingestGate(docsStream)),
      ("E_chunker", "append", () => DocStreams.streamChunker(docsStream)),
      ("E_cdc_chunker", "append", () => DocStreams.cdcChunkStream(docsStream)),
      ("E_normalize_gate", "append", () => DocStreams.normalizeGate(docsStream)),
      ("E_shard_router", "append", () => DocStreams.shardRouter(docsStream)),
      ("E_reservoir", "append", () => DocStreams.reservoirStream(docsStream)),
      ("E_budget_gate", "append", () => DocStreams.budgetGate(docsStream, budgetThr)),
      ("E_contamination_gate", "append",
        () => DocStreams.contaminationGate(docsStream, benchGrams))
    )

    val results = ops.map { case (name, mode, build) =>
      val ckpt = java.nio.file.Files.createTempDirectory(s"graft_sbench_ck_$name").toString
      val t0 = System.nanoTime()
      val t =
        try {
          val q = build()
            .writeStream
            .format("noop")
            .outputMode(mode)
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val s = (System.nanoTime() - t0) / 1e9
          System.err.println(f"[bench-streaming] $name: $s%.2f s")
          Some(s)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench-streaming] $name failed: ${e.getMessage}")
            None
        } finally graft.core.CacheScope.drain(spark)
      name -> t
    }
    val timed  = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }
    val json =
      timed.map { case (k, v) => f""""$k": $v%.2f""" }.mkString(
        f"""{"metric":"streaming_total","value":${timed.map(_._2).sum}%.2f,"unit":"sec","sf":"${new java.io.File(
            sfDir).getName}","ops":{""",
        ", ",
        "}") +
        failed.map("\"" + _ + "\"").mkString(""","failed":[""", ", ", "]}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_STREAMING.json"), json + "\n")
    println(json)
    spark.stop()
    // a failed operator is a failed run, not a fast one
    if (failed.nonEmpty) sys.exit(1)
  }
}
