package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Append one invocation-trace line to VERIFY_TRACE.txt (best-effort):
    * the round-7/8 incidents shipped EMPTY driver-side CORRECTNESS
    * artifacts with no way to tell whether the driver ever invoked this
    * main — this records argv, cwd, git HEAD, exit intent, and the
    * output-dir listing size so the next round can see exactly how far
    * each Verify invocation got.
    */
  // Resolved once per JVM, with a hard 2 s bound and merged stderr: a
  // wedged git (index.lock contention during a concurrent commit) must
  // not hang the gate main before any dump runs — that would recreate
  // the empty-artifact failure mode this trace exists to diagnose.
  private lazy val gitHead: String =
    try {
      // stdout only — a merged stderr would put git warnings (dubious
      // ownership etc.) in front of the hash; stderr is discarded so a
      // chatty git can neither pollute the value nor fill a pipe
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .directory(new java.io.File("."))
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      if (!p.waitFor(2, java.util.concurrent.TimeUnit.SECONDS)) {
        p.destroyForcibly(); "?"
      } else new String(p.getInputStream.readAllBytes()).trim.takeWhile(_ != '\n')
    } catch { case _: Throwable => "?" }

  private def trace(msg: String): Unit =
    try {
      val head = gitHead
      val line = s"${java.time.Instant.now()} pid=${ProcessHandle.current().pid()} " +
        s"head=$head cwd=${System.getProperty("user.dir")} $msg\n"
      Files.writeString(
        Paths.get("VERIFY_TRACE.txt"), line,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    } catch { case _: Throwable => () }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    trace(s"START argv=[${args.mkString(", ")}]")
    // Optional third arg: substring filter for fast single-query dev runs.
    // The driver always passes exactly two args → full dump, contract intact.
    val only = args.lift(2)
    def keep(name: String): Boolean = only.forall(name.contains)
    val spark = graft.core.GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // Stale-bytecode tripwire: the tree hash below vouches for SOURCES,
    // but this JVM executes CLASSES — an edit-without-recompile run would
    // stamp the new tree while running old operator bytecode, and the
    // gate would vouch for code that never ran. Refuse to dump when any
    // surface source is newer than the newest compiled classfile. (A run
    // launched via `sbt runMain` recompiles first and always passes; this
    // guards direct `java -cp` invocations against stale target/ state.)
    val classesDir = Paths.get("target/scala-2.13/classes/graft")
    if (Files.isDirectory(classesDir)) {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(classesDir)
      val newestClass =
        try s.iterator().asScala
          .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".class"))
          .map(Files.getLastModifiedTime(_).toMillis).foldLeft(0L)(math.max)
        finally s.close()
      val staleSrcs = graft.core.SrcSha.surfaceFiles().filter { p =>
        Files.getLastModifiedTime(Paths.get(p)).toMillis > newestClass
      }
      if (staleSrcs.nonEmpty) {
        System.err.println(
          s"[verify] TRIPWIRE: ${staleSrcs.size} surface source(s) newer than " +
            s"the compiled classes (e.g. ${staleSrcs.head}) — recompile before " +
            "dumping, or the gate would vouch for code that never ran")
        trace(s"EXIT=4 stale_sources=${staleSrcs.size} first=${staleSrcs.head}")
        sys.exit(4)
      }
    }
    // Stamp the oracle-result-surface hash at DUMP time: the checker
    // (tools/oracle_check.py) re-derives it over the tree it sees and
    // refuses to publish a gate on mismatch — so a gate can never vouch
    // for operator code that was edited after this dump ran.
    try Files.writeString(Paths.get(outDir, "src_sha.txt"), graft.core.SrcSha.compute())
    catch { case e: Throwable => System.err.println(s"[verify] src_sha stamp failed: $e") }
    var failed = List.empty[String]
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally graft.core.CacheScope.drain(spark)
    }
    graft.operators.SharedStages.release(spark)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles = SparkEntry.oracleSql.filter(kv => keep(kv._1))
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Tripwire (round-7 incident: the round's CORRECTNESS artifact landed
    // as `{}` and only a judge rerun saved the round). A Verify run must be
    // self-evidencing: every registered query has a readable parquet dump
    // with a _SUCCESS marker, and the written oracle JSON is non-empty.
    // Anything less exits nonzero so no downstream consumer can mistake a
    // partial dump for a green gate.
    val expected = SparkEntry.queries.keySet.filter(keep)
    val dumped = expected.filter(n =>
      Files.exists(Paths.get(s"$outDir/$n/_SUCCESS")))
    val missing = (expected -- dumped).toSeq.sorted
    if (json.length <= 2 && expected.nonEmpty) {
      System.err.println("[verify] TRIPWIRE: oracle_sql.json is empty")
      trace("EXIT=3 empty oracle_sql.json")
      sys.exit(3)
    }
    if (failed.nonEmpty || missing.nonEmpty) {
      System.err.println(
        s"[verify] TRIPWIRE: ${dumped.size}/${expected.size} dumps present; " +
          s"failed=${failed.sorted.mkString(",")} missing=${missing.mkString(",")}")
      trace(s"EXIT=2 dumped=${dumped.size}/${expected.size} " +
        s"failed=${failed.sorted.mkString(",")} missing=${missing.mkString(",")}")
      sys.exit(2)
    }
    println(s"[verify] DUMPED ${dumped.size}/${expected.size} queries, " +
      s"${oracles.size} oracle entries — gate artifact complete")
    trace(s"EXIT=0 dumped=${dumped.size}/${expected.size} oracles=${oracles.size} out=$outDir")
  }
}
