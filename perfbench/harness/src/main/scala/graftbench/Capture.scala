package graftbench

import java.util

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write sink that works like Spark's `noop` format — every column and
  * operator of the plan executes, through the same DataSourceV2 write
  * path — but keeps the written rows on the driver under the `key`
  * option, so a timed pass's own outputs can be checked afterwards
  * without running the query again.
  *
  *   df.write.format(classOf[CaptureSource].getName).option("key", k).mode("overwrite").save()
  */
class CaptureSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = CaptureTable
}

object CaptureTable extends Table with SupportsWrite {
  override def name(): String = "capture"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new CaptureBatch(info.options.get("key"), info.schema)
      }
    }
}

final case class Captured(rows: Array[InternalRow]) extends WriterCommitMessage

final class CaptureBatch(key: String, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    CaptureWriterFactory
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    Capture.put(key, schema, messages.flatMap { case Captured(rows) => rows })
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

object CaptureWriterFactory extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val rows = mutable.ArrayBuffer.empty[InternalRow]
      override def write(record: InternalRow): Unit = rows += record.copy()
      override def commit(): WriterCommitMessage = Captured(rows.toArray)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

/** The captured rows of every key; the harness keys them by pass and
  * query (`<pass>|<query>`), so every pass's output is kept for the check.
  */
object Capture {
  private val captured = new java.util.concurrent.ConcurrentHashMap[String, (StructType, Array[InternalRow])]()

  def put(key: String, schema: StructType, rows: Array[InternalRow]): Unit =
    captured.put(key, (schema, rows))

  def get(key: String): Option[(StructType, Array[InternalRow])] = Option(captured.get(key))

  /** Writes the captured rows of `keys` as one parquet file under `path`,
    * each row tagged with its key's `tag` in an extra integer column
    * `column`. All keys must hold rows of the same schema.
    */
  def writeParquet(spark: SparkSession, keys: Seq[(String, Int)], column: String, path: String): Unit = {
    val schema   = captured.get(keys.head._1)._1
    val toRow    = CatalystTypeConverters.createToScalaConverter(schema)
    val external = new util.ArrayList[Row]()
    keys.foreach { case (key, tag) =>
      captured.get(key)._2.foreach(r => external.add(Row.fromSeq(toRow(r).asInstanceOf[Row].toSeq :+ tag)))
    }
    spark.createDataFrame(external, schema.add(column, "int", nullable = false))
      .coalesce(1).write.mode("overwrite").parquet(path)
  }
}
