package graft.tools

import org.apache.spark.sql.SparkSession

import graft.sinks.Sinks
import graft.sources.HealthKitXml

/** One-command CLI parity with the reference
  * (`healthkit-to-sqlite export.zip sqlite://healthkit.db`, main.rs:14-29):
  *
  *   runMain graft.tools.HkToJdbc <export.zip> [<jdbcUrl>]
  *     [--drop|-d] [--yes|-y] [--quiet|-q] [--lenient] [--first-seen]
  *
  * Composes the whole A1→A7 pipeline: archive parse → schema inference →
  * per-type tables → JDBC sink, with per-table progress output.
  *
  * Reference flag parity (main.rs:19-29, 40-62):
  *  - the db URL falls back to the `DATABASE_URL` env var when omitted
  *    (clap `env = "DATABASE_URL"`);
  *  - if the target database already exists, the tool refuses and exits
  *    cleanly unless `--drop` is given AND the user confirms (or `--yes`
  *    answers every prompt); `--drop --yes` drops and reloads;
  *  - `--quiet` minimizes stdout (progress lines suppressed, the
  *    refuse/confirm messages still print, as in the reference).
  * "Database exists" / "drop database" are expressed portably over JDBC:
  * exists = a connection without `create=true` succeeds AND the target
  * holds at least one user table; drop = `DROP TABLE` sweep of the user
  * tables (SQLite/Derby have no DROP DATABASE over JDBC).
  *
  * `--lenient` turns corrupt archives into counted skips instead of job
  * failures. `--first-seen` selects the migration-compat typing mode (a
  * column is typed by its FIRST value in document order, core.rs:219-230)
  * instead of the whole-column type lattice. Given a SQLite JDBC driver
  * jar the same code targets sqlite: URLs; in this environment it is
  * proven against embedded Derby.
  */
object HkToJdbc {

  /** Parse `zipPath` and write every inferred table to `jdbcUrl`.
    * Returns (table, rows written), sorted by table name.
    */
  def run(
      spark: SparkSession,
      zipPath: String,
      jdbcUrl: String,
      lenient: Boolean = false,
      firstSeen: Boolean = false,
      quiet: Boolean = false
  ): Seq[(String, Long)] = {
    val tables = HealthKitXml
      .tables(spark, Seq(zipPath), persist = true, lenient = lenient, firstSeenTypes = firstSeen)
    tables.toSeq.sortBy(_._1).map { case (name, df) =>
      // persist around write+count so the table projection runs once, not
      // once per action (the parsed elements are cached, but each table's
      // filter+cast would still re-execute)
      val cached = df.persist()
      try {
        Sinks.writeJdbc(cached, jdbcUrl, name)
        val n = cached.count()
        if (!quiet) println(s"[hk-to-jdbc] $name: $n rows")
        name -> n
      } finally cached.unpersist()
    }
  }

  private def stripCreate(url: String): String =
    url.replaceAll("(?i);create=true", "")

  /** Reference `database_exists` (main.rs:41) over JDBC: the target is
    * reachable without `create=true` and holds at least one user table.
    * (A Derby db that was created but never written counts as absent —
    * there is nothing a drop would delete.)
    */
  def databaseExists(jdbcUrl: String): Boolean =
    try {
      val c = java.sql.DriverManager.getConnection(stripCreate(jdbcUrl))
      try userTables(c).nonEmpty
      finally c.close()
    } catch { case _: java.sql.SQLException => false }

  private def userTables(c: java.sql.Connection): Seq[(String, String)] = {
    val rs  = c.getMetaData.getTables(null, null, "%", Array("TABLE"))
    val buf = scala.collection.mutable.ListBuffer[(String, String)]()
    while (rs.next()) buf += ((rs.getString("TABLE_SCHEM"), rs.getString("TABLE_NAME")))
    rs.close()
    buf.toList
  }

  /** Reference `drop_database` (main.rs:54) over JDBC: DROP every user
    * table in the target (SQLite/Derby expose no DROP DATABASE through
    * JDBC; an empty database IS the dropped state for a loader whose
    * whole output is its tables).
    */
  def dropDatabase(jdbcUrl: String): Unit = {
    val c = java.sql.DriverManager.getConnection(stripCreate(jdbcUrl))
    try {
      val st = c.createStatement()
      userTables(c).foreach { case (schema, table) =>
        st.executeUpdate(s"""DROP TABLE "$schema"."$table"""")
      }
      st.close()
    } finally c.close()
  }

  /** The drop-confirm flow of main.rs:40-62. Returns true when the load
    * should proceed. `confirm` is injectable so specs can drive the
    * interactive branch without a TTY.
    */
  def preflight(
      jdbcUrl: String,
      drop: Boolean,
      yes: Boolean,
      quiet: Boolean,
      confirm: String => Boolean = promptConfirm
  ): Boolean = {
    if (!databaseExists(jdbcUrl)) true
    else {
      val dropPrompt =
        s"""The database at "$jdbcUrl" already exists. Do you want to drop it? This will delete all data in the database."""
      if (drop && (yes || confirm(dropPrompt))) {
        if (!quiet) println(s"""Dropping database at "$jdbcUrl"...""")
        dropDatabase(jdbcUrl)
        true
      } else {
        println(
          s"""The database at "$jdbcUrl" already exists. Please delete it or specify a different database URL.""")
        false
      }
    }
  }

  private def promptConfirm(prompt: String): Boolean = {
    print(s"$prompt [y/N] ")
    Option(scala.io.StdIn.readLine()).exists(l => l.trim.equalsIgnoreCase("y"))
  }

  def main(args: Array[String]): Unit = {
    val flags      = args.filter(_.startsWith("-")).toSet
    val positional = args.filterNot(_.startsWith("-"))
    val usage =
      "usage: HkToJdbc <export.zip> [<jdbcUrl>] [--drop|-d] [--yes|-y] [--quiet|-q] [--lenient] [--first-seen]  (jdbcUrl falls back to $DATABASE_URL)"
    val (zipPath, jdbcUrl) = positional match {
      case Array(z, u) => (z, u)
      case Array(z) =>
        (z, sys.env.getOrElse("DATABASE_URL", sys.error(usage)))
      case _ => sys.error(usage)
    }
    val drop      = flags("--drop") || flags("-d")
    val yes       = flags("--yes") || flags("-y")
    val quiet     = flags("--quiet") || flags("-q")
    val lenient   = flags("--lenient")
    val firstSeen = flags("--first-seen")

    if (!preflight(jdbcUrl, drop, yes, quiet)) return

    val spark = graft.core.GraftSession.build()
    try {
      val written = run(spark, zipPath, jdbcUrl, lenient, firstSeen, quiet)
      if (!quiet)
        println(s"[hk-to-jdbc] done: ${written.length} tables, ${written.map(_._2).sum} rows total")
    } finally spark.stop()
  }
}
