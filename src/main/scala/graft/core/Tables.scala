package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated testdata star schema.
  *
  * Scans stay declarative (`spark.read.parquet`) so Catalyst pushes filters
  * and prunes columns at the source — at 100 TB the scan is the dominant
  * cost and pushdown/pruning is what keeps it bounded.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  /** events.ts has shipped in two parquet shapes: TIMESTAMP(NANOS), which
    * Spark 4 rejects by default, and TIMESTAMP_MICROS(isAdjustedToUTC=0),
    * which Spark 4 reads as TIMESTAMP_NTZ. Normalize both to a plain µs
    * TimestampType: nanos are read as long and rebuilt with exact integer
    * arithmetic (`DIV 1000` floors, exactly DuckDB's ns→µs truncation);
    * NTZ is cast — the session tz is pinned to UTC, so the cast is a pure
    * reinterpretation of the same µs value. Either way the oracle stays
    * bit-identical.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}

/** The one way graft builds a session: the config `graft.Bench` times,
  * shared by every main, tool and spec so the oracle gate and the tests
  * vouch for the plans the benchmarks run.
  */
object GraftSession {

  /** Optimizer rules every graft session EXCLUDES (r15).
    *
    * `InferFiltersFromGenerate` synthesizes `size(e) > 0 AND isnotnull(e)`
    * below every explode/posexplode, and predicate pushdown then inlines
    * the generator's WHOLE child expression into that filter at the scan —
    * so an un-materialized gram/shingle/window-hash array is evaluated
    * three times per row (twice in the filter, once in the generator), and
    * lambdas that INDEX an inlined alias (`toks[i]` after `toks` →
    * `split(text)` substitution) re-run the tokenizer PER ELEMENT:
    * O(len²) splits per document. Measured at sf0.1: the bare bigram
    * explode 12.8 s with the rule vs 0.7 s without; the 3-gram shingle
    * kernel (the dedup family's root stage) 0.8 s without. The rule is a
    * pure pruning optimization — explode(outer=false) drops empty/null
    * arrays identically — so excluding it changes no query's rows, only
    * removes the duplicated evaluation. Set by [[build]], so on every
    * graft session.
    */
  val OptimizerExclusions: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** `local[cpus]` with one shuffle partition per cpu, UTC, the 64 MB
    * broadcast threshold, [[OptimizerExclusions]], no UI, graft's
    * extensions, log level WARN. `cpus` defaults to `SPARK_GRAFT_CPUS`
    * (else 4).
    */
  def build(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.sql.optimizer.excludedRules", OptimizerExclusions)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
