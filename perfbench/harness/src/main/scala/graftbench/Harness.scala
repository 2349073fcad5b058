package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.core.{CacheScope, GraftSession}
import graft.operators.SharedStages
import graft.sinks.Sinks
import graft.sources.HealthKitXml
import graft.tools.HkToJdbc

/** One workload run of the benchmark, driven through graft's public
  * functions from outside: set-up, a cold first pass in a fresh session,
  * warm passes for the given number of seconds, then an untimed output
  * check. Writes `result.json` (and `spans.json` when traced) to `--out`;
  * `perfbench/run.py` turns them into the benchmark's metrics.
  *
  *   Harness --workload hk_etl|olap_star|dedup_curation --input <dir|zip>
  *     --out <dir> --seconds <s> --trace 0|1 --seed <n> --cpus <n>
  *     --min-warm <passes> [--queries q01,q02,...]
  */
object Harness {

  /** The session config `graft.Bench` runs with; asserted after every
    * session build.
    */
  val BroadcastThreshold: Long = 64L * 1024 * 1024

  def session(cpus: Int, workDir: String): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", BroadcastThreshold.toString)
      .config("spark.sql.optimizer.excludedRules", GraftSession.OptimizerExclusions)
      .config("spark.ui.enabled", "false")
      // placement only: keeps shuffle files and the warehouse inside the
      // benchmark's own directory
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def assertParity(s: SparkSession, cpus: Int): Unit = {
    def check(what: String, ok: Boolean): Unit =
      if (!ok) throw new IllegalStateException(s"session config differs from graft.Bench: $what")
    check("master", s.sparkContext.master == s"local[$cpus]")
    check("shuffle partitions", s.conf.get("spark.sql.shuffle.partitions") == cpus.toString)
    check("broadcast threshold", s.sessionState.conf.autoBroadcastJoinThreshold == BroadcastThreshold)
    check("optimizer exclusions",
      s.conf.get("spark.sql.optimizer.excludedRules") == GraftSession.OptimizerExclusions)
    check("extensions",
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier("hk_infer_type")))
    check("time zone", s.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  final case class Op(name: String, seconds: Double, ok: Boolean)

  final class Pass(val index: Int, val kind: String) {
    val ops      = mutable.ArrayBuffer.empty[Op]
    val counters = new Counters
    val writes   = mutable.ArrayBuffer.empty[Double]
    var wallNs   = 0L
  }

  def main(args: Array[String]): Unit = {
    val opt      = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val input    = opt("input")
    val out      = opt("out")
    val seconds  = opt("seconds").toDouble
    val traced   = opt("trace") == "1"
    val seed     = opt("seed").toLong
    val cpus     = opt("cpus").toInt
    val ids      = opt.get("queries").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val minWarm  = opt("min-warm").toInt
    Files.createDirectories(Paths.get(out))
    val workDir = Paths.get(out).toAbsolutePath.toString
    val spans   = new Spans
    val errors  = mutable.ArrayBuffer.empty[String]

    // ---- set-up, once per JVM: a session built in a warm JVM would hide
    // the cold costs (class loading, extension injection, the first
    // parquet footer reads). The runner times it from the process start
    // to `ready_ms`, the wall clock when the session is ready and the
    // inputs are staged.
    val spark = spans("setup") {
      val s = session(cpus, workDir)
      assertParity(s, cpus)
      stageInputs(s, workload, input)
      s
    }
    val readyMs = System.currentTimeMillis()
    val sc      = spark.sparkContext

    val engine = new EngineListener
    val plan   = new PlanListener
    val timer  = new StatementTimer
    spark.listenerManager.register(timer)
    var tracing = false
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      tracing = on
      if (on) { sc.addSparkListener(engine); spark.listenerManager.register(plan) }
      else { BenchBus.drain(sc); sc.removeSparkListener(engine); spark.listenerManager.unregister(plan) }
    }

    /** Times `body` as one operation of `pass`. When tracing, the listener
      * bus is drained after the operation (untimed) so its events are all
      * counted here.
      */
    def op(pass: Pass, name: String)(body: => Unit): Unit = {
      val c = new Counters
      engine.current = c
      plan.current = c
      val cum0 = Cumulative.now()
      val t0   = System.nanoTime()
      val ok =
        try { spans(s"${pass.kind}/$name")(body); true }
        catch {
          case e: Throwable =>
            errors += s"${pass.kind}/$name: ${e.getClass.getName}: ${e.getMessage}".take(500)
            false
        }
      val dt = System.nanoTime() - t0
      cum0.delta(Cumulative.now(), c)
      c.wallNs = dt
      pass.wallNs += dt
      if (tracing) BenchBus.drain(sc)
      pass.counters.add(c)
      pass.ops += Op(name, dt / 1e9, ok)
    }

    val passes = mutable.ArrayBuffer.empty[Pass]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    var check  = ""

    workload match {
      case "hk_etl" =>
        val written = mutable.ArrayBuffer.empty[Seq[(String, Long)]]
        var kept    = Seq.empty[Int]
        def conversion(pass: Pass): Unit = {
          val i = written.size
          op(pass, s"convert$i") {
            written += HkToJdbc.run(spark, input, s"jdbc:derby:memory:hk$i;create=true", quiet = true)
          }
          if (written.size == i) written += Nil
          BenchBus.drain(sc)
          timer.writes.asScala.foreach(w => pass.writes += w.doubleValue)
          timer.writes.clear()
          // the conversion caches its parsed elements and never releases
          // them; free them between conversions, untimed
          spark.catalog.clearCache()
          // keep the first and the latest database for the read-back check
          kept.filter(k => k != 0).foreach(dropDerby)
          kept = (kept :+ i).filter(k => k == 0 || k == i)
        }
        runPasses(passes, seconds, minWarm, traced, setTracing, conversion)
        setTracing(false)
        check = hkCheck(written.toSeq, kept)
        kept.foreach(dropDerby)
        if (traced) hkLayers(spark, input, layers, spans)

      case _ =>
        val all   = graft.SparkEntry.queries
        val names = ids.map(id => all.keys.find(_.startsWith(id + "_")).getOrElse(
          throw new IllegalArgumentException(s"no query $id")))
        // The first pass runs in one fixed order: its cold costs depend on
        // the order (the first query to need a shared stage builds it), so
        // a fixed order keeps first passes comparable. Warm passes run in
        // an order drawn from the seed.
        val rng = new scala.util.Random(seed)
        def queryPass(pass: Pass): Unit =
          (if (pass.kind == "first") names.sorted else rng.shuffle(names)).foreach { n =>
            op(pass, n) {
              try all(n)(spark, input).write.format(classOf[CaptureSource].getName)
                .option("key", s"${pass.index}|$n").mode("overwrite").save()
              finally CacheScope.drain(spark)
            }
          }
        runPasses(passes, seconds, minWarm, traced, setTracing, queryPass)
        setTracing(false)
        BenchBus.drain(sc)
        layers("core.pinned_mb") =
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1024.0 / 1024.0
        val touched = SharedStages.prewarm(spark, input).map(_._1)
          .filter(SharedStages.buildCount(input, _) > 0)
        check = queryCheck(spark, names, passes.size, s"$out/check")
        SharedStages.release(spark)
        if (traced) {
          sharedLayers(spark, input, touched, layers, spans)
          SharedStages.release(spark)
        }
    }

    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)
    val maxHeap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getMax

    val passJson = passes.map { p =>
      Json.obj(Seq(
        "kind"     -> Json.str(p.kind),
        "wall_s"   -> Json.num(p.wallNs / 1e9),
        "ops"      -> Json.arr(p.ops.map(o =>
          Json.obj(Seq("name" -> Json.str(o.name), "s" -> Json.num(o.seconds), "ok" -> o.ok.toString)))),
        "writes_s" -> Json.arr(p.writes.map(Json.num)),
        "counters" -> Json.obj(p.counters.metrics(cpus).map { case (k, v) => k -> Json.num(v) })))
    }
    val result = Json.obj(Seq(
      "workload"    -> Json.str(workload),
      "src_sha"     -> Json.str(graft.core.SrcSha.compute(".")),
      "cpus"        -> cpus.toString,
      "max_heap_mb" -> Json.num(maxHeap / 1024.0 / 1024.0),
      "ready_ms"    -> readyMs.toString,
      "passes"      -> Json.arr(passJson),
      "layers"      -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "check"       -> (if (check.isEmpty) "null" else check),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "errors"      -> Json.arr(errors.map(Json.str))))
    Files.writeString(Paths.get(out, "result.json"), result)
    if (traced) Files.writeString(Paths.get(out, "spans.json"), spans.toJson(s"$workload-$seed"))
    spark.stop()
  }

  /** Inputs staged: the parquet footers of every table are read, or the
    * archive is opened, so set-up fails here rather than mid-pass.
    */
  private def stageInputs(spark: SparkSession, workload: String, input: String): Unit =
    if (workload == "hk_etl") {
      val z = new java.util.zip.ZipFile(input)
      try require(z.getEntry("apple_health_export/export.xml") != null, "no export.xml")
      finally z.close()
    } else
      Files.list(Paths.get(input)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(p => spark.read.parquet(p.toString).schema)

  /** The first pass, then warm passes until `seconds` have passed (at
    * least `minWarm`). A traced run alternates untraced and traced warm
    * passes (at least `minWarm` of each), so the JIT's continuing warm-up
    * lands on both alike; the difference of the two is the tracing
    * overhead.
    */
  private def runPasses(
      passes: mutable.ArrayBuffer[Pass],
      seconds: Double,
      minWarm: Int,
      traced: Boolean,
      setTracing: Boolean => Unit,
      body: Pass => Unit): Unit = {
    // the JVM collects garbage between passes, untimed, so one pass's heap
    // churn does not tax the next
    def pass(kind: String): Unit = {
      setTracing(kind != "warm" && traced)
      val p = new Pass(passes.size, kind)
      body(p)
      passes += p
      System.gc()
    }
    pass("first")
    val kinds = if (traced) Seq("warm", "traced") else Seq("warm")
    val t0    = System.nanoTime()
    var n     = 0
    while (n < minWarm * kinds.size || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass(kinds(n % kinds.size))
      n += 1
    }
  }

  private def dropDerby(i: Int): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:hk$i;drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby signals a drop with an exception

  // ------------------------------------------------------------ hk_etl check

  /** Canonical text of one value, the same rule `perfbench/hkgen.py`
    * applies to the values it generated.
    */
  private def canon(rs: java.sql.ResultSet, i: Int, typeName: String, column: String): String =
    if (JsonColumns(column)) {
      val s = rs.getString(i)
      if (s == null) "\\N" else "#" + JsonColumns.count(column, s)
    } else typeName match {
      case "INTEGER" =>
        val v = rs.getLong(i); if (rs.wasNull()) "\\N" else v.toString
      case "DOUBLE" =>
        val v = rs.getDouble(i)
        if (rs.wasNull()) "\\N"
        else new java.math.BigDecimal(v).setScale(6, java.math.RoundingMode.HALF_EVEN).toPlainString
      case "TIMESTAMP" =>
        val v = rs.getTimestamp(i)
        if (v == null) "\\N" else Math.floorDiv(v.getTime, 1000L).toString
      case _ =>
        val v = rs.getString(i); if (v == null) "\\N" else v
    }

  object JsonColumns {
    private val names = Set("workoutEvents", "workoutStatistics", "geometry")
    def apply(c: String): Boolean = names(c)
    /** Objects in an event list, statistics entries, or route coordinates. */
    def count(c: String, s: String): Int = c match {
      case "workoutEvents"     => s.count(_ == '{')
      case "workoutStatistics" => s.count(_ == '{') - 1
      case _                   => math.max(0, s.count(_ == '[') - 1)
    }
  }

  /** Row hash: the first 8 bytes of SHA-256 over the canonical values of
    * the row, in column-name order, joined by \u0001. A table's checksum is
    * the sum of its row hashes mod 2^64, so row order does not matter.
    */
  private def rowHash(values: Seq[String]): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(values.mkString("\u0001").getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  private def readBack(db: Int): String = {
    val c = DriverManager.getConnection(s"jdbc:derby:memory:hk$db")
    try {
      val rs     = c.getMetaData.getTables(null, "APP", "%", Array("TABLE"))
      val tables = mutable.ArrayBuffer.empty[String]
      while (rs.next()) tables += rs.getString("TABLE_NAME")
      rs.close()
      Json.obj(tables.sorted.map { t =>
        val cr   = c.getMetaData.getColumns(null, "APP", t, "%")
        val cols = mutable.ArrayBuffer.empty[(String, String)]
        while (cr.next()) cols += cr.getString("COLUMN_NAME") -> cr.getString("TYPE_NAME")
        cr.close()
        val sorted = cols.sortBy(_._1)
        val st     = c.createStatement()
        val q = sorted.map(x => "\"" + x._1.replace("\"", "\"\"") + "\"").mkString(", ")
        val r = st.executeQuery(s"""SELECT $q FROM "$t"""")
        var rows   = 0L
        var sum    = 0L
        val routes = mutable.ArrayBuffer.empty[Int]
        while (r.next()) {
          rows += 1
          val vals = sorted.indices.map(i => canon(r, i + 1, sorted(i)._2, sorted(i)._1))
          sum += rowHash(vals)
          val g = sorted.indexWhere(_._1 == "geometry")
          if (g >= 0) routes += vals(g).stripPrefix("#").toIntOption.getOrElse(0)
        }
        r.close(); st.close()
        t -> Json.obj(Seq(
          "rows"     -> rows.toString,
          "types"    -> Json.obj(sorted.map { case (k, v) => k -> Json.str(v) }),
          "checksum" -> Json.str(java.lang.Long.toUnsignedString(sum, 16)),
          "routes"   -> Json.arr(routes.sorted.map(_.toString))))
      })
    } finally c.close()
  }

  private def hkCheck(written: Seq[Seq[(String, Long)]], kept: Seq[Int]): String =
    Json.obj(Seq(
      "written" -> Json.arr(written.map(w =>
        Json.obj(w.map { case (t, n) => t -> n.toString })))) ++
      kept.map(k => s"db$k" -> readBack(k)))

  // ---------------------------------------------------------- query check

  /** The rows every pass of each query wrote, one parquet per query with
    * the pass number in column `pass__`, for the runner's comparison,
    * together with the oracle SQL. A pass whose query failed wrote nothing
    * and is counted as failed by its operation.
    */
  private def queryCheck(spark: SparkSession, names: Seq[String], passes: Int, dir: String): String = {
    names.foreach { n =>
      val keys = (0 until passes).map(i => s"$i|$n" -> i).filter(k => Capture.get(k._1).isDefined)
      if (keys.nonEmpty) Capture.writeParquet(spark, keys, "pass__", s"$dir/$n")
    }
    val oracle = graft.SparkEntry.oracleSql
    Json.obj(Seq(
      "dir"    -> Json.str(dir),
      "oracle" -> Json.obj(names.flatMap(n => oracle.get(n).map(s => n -> Json.str(s))))))
  }

  // ------------------------------------------------------- traced layers

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The conversion's layers one at a time on the generated archive: the
    * serial archive parse, the element scan, schema inference, table
    * extraction, and the JDBC sink over pre-materialized tables.
    */
  private def hkLayers(
      spark: SparkSession, zip: String, layers: mutable.Map[String, Double], spans: Spans): Unit = {
    var t0 = System.nanoTime()
    val parsed = spans("sources.parse") {
      var n = 0L
      val it = HealthKitXml.parseArchive(zip)
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    layers("sources.parse_s") = secs(t0)
    t0 = System.nanoTime()
    val elems = HealthKitXml.elements(spark, Seq(zip)).persist()
    layers("sources.elements") = spans("sources.elements")(elems.count()).toDouble
    layers("sources.elements_s") = secs(t0)
    require(layers("sources.elements") == parsed, "element scan and archive parse disagree")
    t0 = System.nanoTime()
    val schemas = spans("sources.infer")(HealthKitXml.inferSchemas(elems))
    layers("sources.infer_s") = secs(t0)
    layers("sources.tables") = schemas.size.toDouble
    layers("sources.columns") = schemas.values.map(_.size).sum.toDouble
    t0 = System.nanoTime()
    spans("sources.extract") {
      schemas.foreach { case (n, s) =>
        HealthKitXml.table(elems, n, s).write.format("noop").mode("overwrite").save()
      }
    }
    layers("sources.extract_s") = secs(t0)
    val mats = schemas.toSeq.sortBy(_._1).map { case (n, s) =>
      val df = HealthKitXml.table(elems, n, s).persist()
      (n, df, df.count())
    }
    t0 = System.nanoTime()
    spans("sinks.jdbc") {
      mats.foreach { case (n, df, _) => Sinks.writeJdbc(df, "jdbc:derby:memory:hklayers;create=true", n) }
    }
    layers("sinks.jdbc_write_s") = secs(t0)
    layers("sinks.jdbc_rows") = mats.map(_._3).sum.toDouble
    mats.foreach(_._2.unpersist())
    elems.unpersist()
    try DriverManager.getConnection("jdbc:derby:memory:hklayers;drop=true").close()
    catch { case _: java.sql.SQLException => () }
  }

  /** Rows of the shared stages that are tables (the others are models). */
  private def stageRows(spark: SparkSession, dir: String): Map[String, () => Long] = Map(
    "shingles"      -> (() => SharedStages.shingles(spark, dir).count()),
    "qualityScores" -> (() => SharedStages.qualityScores(spark, dir).count()),
    "minhashEdges"  -> (() => SharedStages.minhashEdges(spark, dir).count()),
    "jaccardPairs"  -> (() => SharedStages.jaccardPairs(spark, dir).count()),
    "exactPairs"    -> (() => SharedStages.exactPairs(spark, dir).count()),
    "nearDupPairs"  -> (() => SharedStages.nearDupPairs(spark, dir).count()),
    "exactTopK"     -> (() => SharedStages.exactTopK(spark, dir).count()),
    "annLshTopK"    -> (() => SharedStages.annLshTopK(spark, dir).count()),
    "annIvfTopK"    -> (() => SharedStages.annIvfTopK(spark, dir).count()),
    "annPqTopK"     -> (() => SharedStages.annPqTopK(spark, dir).count()),
    "dfCapGrams"    -> (() => SharedStages.dfCapGrams(spark, dir).count()),
    "dupLabels"     -> (() => SharedStages.dupLabels(spark, dir).count()),
    "fuzzyLabels"   -> (() => SharedStages.fuzzyLabels(spark, dir).count()),
    "nbScores"      -> (() => SharedStages.nbScores(spark, dir).count()))

  /** Each shared stage the first pass built, rebuilt alone in
    * `SharedStages.prewarm` order (later stages reuse earlier ones, so
    * each time is the stage's own increment), then its rows counted.
    */
  private def sharedLayers(
      spark: SparkSession,
      dir: String,
      touched: Seq[String],
      layers: mutable.Map[String, Double],
      spans: Spans): Unit = {
    val rows = stageRows(spark, dir)
    SharedStages.prewarm(spark, dir).filter(s => touched.contains(s._1)).foreach { case (name, build) =>
      val t0 = System.nanoTime()
      spans(s"shared.$name")(build())
      layers(s"shared.${name}_s") = secs(t0)
      rows.get(name).foreach(r => layers(s"shared.${name}_rows") = r().toDouble)
    }
  }
}
