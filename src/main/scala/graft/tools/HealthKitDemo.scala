package graft.tools

import graft.sinks.Sinks
import graft.sources.HealthKitXml

/** End-to-end demo of the HealthKit surface — the Spark-native equivalent of
  * the reference CLI (`healthkit-to-sqlite export.zip sqlite://db`):
  *
  *   runMain graft.tools.HealthKitDemo <export.zip> [jdbcUrl]
  *
  * Parses the archive, prints every inferred table (schema + row count),
  * and writes each table through the JDBC sink (default: embedded Derby).
  */
object HealthKitDemo {
  def main(args: Array[String]): Unit = {
    val zipPath = args.headOption.getOrElse(
      sys.error("usage: HealthKitDemo <export.zip> [jdbcUrl]"))
    val jdbcUrl = args.lift(1).getOrElse("jdbc:derby:memory:hkdemo;create=true")

    val spark = graft.core.GraftSession.build()

    val tables = HealthKitXml.tables(spark, Seq(zipPath))
    tables.toSeq.sortBy(_._1).foreach { case (name, df) =>
      val cols = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      println(s"TABLE $name rows=${df.count()}")
      println(s"  cols: ${cols.mkString(", ")}")
      Sinks.writeJdbc(df, jdbcUrl, name)
      val back = spark.read.jdbc(jdbcUrl, "\"" + name + "\"", new java.util.Properties())
      println(s"  jdbc roundtrip rows=${back.count()}")
    }
    spark.stop()
  }
}
