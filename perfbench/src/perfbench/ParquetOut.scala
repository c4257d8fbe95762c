package perfbench

import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Writes generated rows as ONE parquet file without running a Spark job,
  * so input generation stays cheap next to the operations it feeds.
  * Timestamps are stored as TIMESTAMP(MICROS, UTC), which Spark reads as
  * `TimestampType`. */
object ParquetOut {

  private def parquetType(f: StructField): String = {
    val rep = if (f.nullable) "optional" else "required"
    val t = f.dataType match {
      case IntegerType => "int32"
      case LongType => "int64"
      case DoubleType => "double"
      case StringType => "binary"
      case TimestampType => "int64"
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }
    val ann = f.dataType match {
      case StringType => " (STRING)"
      case TimestampType => " (TIMESTAMP(MICROS,true))"
      case _ => ""
    }
    s"$rep $t ${f.name}$ann;"
  }

  def messageType(schema: StructType): MessageType =
    MessageTypeParser.parseMessageType(
      schema.fields.map(parquetType).mkString("message spark_schema { ", " ", " }"))

  def write(file: Path, schema: StructType, rows: Seq[Row]): Unit = {
    Files.createDirectories(file.getParent)
    Files.deleteIfExists(file)
    val mt = messageType(schema)
    val conf = new Configuration(false)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toUri))
      .withType(mt).withConf(conf).build()
    val groups = new SimpleGroupFactory(mt)
    try rows.foreach { r =>
      val g = groups.newGroup()
      schema.fields.indices.foreach { i =>
        if (!r.isNullAt(i)) {
          val n = schema.fields(i).name
          r.get(i) match {
            case v: Int => g.add(n, v)
            case v: Long => g.add(n, v)
            case v: Double => g.add(n, v)
            case v: String => g.add(n, v)
            case v: java.sql.Timestamp =>
              g.add(n, Math.floorDiv(v.getTime, 1000L) * 1000000L + v.getNanos / 1000)
            case v => throw new IllegalArgumentException(s"unsupported value $v")
          }
        }
      }
      w.write(g)
    } finally w.close()
    // The local filesystem leaves a checksum file beside the data.
    Files.deleteIfExists(file.resolveSibling(s".${file.getFileName}.crc"))
  }
}
