package graftbench

import java.nio.file.{Files, Path}

import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Writes generated rows to a parquet file from the driver, without a
  * Spark job, so staging the inputs stays cheap next to the measured work.
  * Covers the column types the generators produce. */
object Staging {
  private def field(f: StructField): Type = f.dataType match {
    case LongType    => Types.optional(INT64).named(f.name)
    case IntegerType => Types.optional(INT32).named(f.name)
    case BooleanType => Types.optional(BOOLEAN).named(f.name)
    case StringType  => Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(f.name)
    case DateType    => Types.optional(INT32).as(LogicalTypeAnnotation.dateType()).named(f.name)
    case d: DecimalType if d.precision <= 18 =>
      Types.optional(INT64).as(LogicalTypeAnnotation.decimalType(d.scale, d.precision)).named(f.name)
    case s: StructType =>
      s.fields.foldLeft(Types.optionalGroup())((b, c) => b.addField(field(c))).named(f.name)
    case other => throw new IllegalArgumentException(s"unsupported staging type $other")
  }

  private def fill(g: Group, schema: StructType, r: Row): Unit =
    schema.fields.zipWithIndex.foreach { case (f, i) =>
      if (!r.isNullAt(i)) (f.dataType, r.get(i)) match {
        case (LongType, v: Long)            => g.append(f.name, v)
        case (IntegerType, v: Int)          => g.append(f.name, v)
        case (BooleanType, v: Boolean)      => g.append(f.name, v)
        case (StringType, v: String)        => g.append(f.name, v)
        case (DateType, v: java.sql.Date)   => g.append(f.name, v.toLocalDate.toEpochDay.toInt)
        case (_: DecimalType, v: java.math.BigDecimal) => g.append(f.name, v.unscaledValue.longValueExact)
        case (s: StructType, v: Row)        => fill(g.addGroup(f.name), s, v)
        case (t, v) => throw new IllegalArgumentException(s"value $v does not fit $t")
      }
    }

  def write(path: Path, schema: StructType, rows: Seq[Row]): Unit = {
    Files.createDirectories(path.getParent)
    val mt = new MessageType("row", schema.fields.map(field).toSeq: _*)
    val factory = new SimpleGroupFactory(mt)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path)).withType(mt).build()
    try rows.foreach { r => val g = factory.newGroup(); fill(g, schema, r); w.write(g) }
    finally w.close()
  }
}
