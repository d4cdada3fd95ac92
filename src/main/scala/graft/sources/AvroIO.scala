package graft.sources

import java.io.File

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Minimal Avro container-file sink/source (reference A8: Avro is the
  * alternate data-file format, Writer.java:92-96, Constants.java:16).
  *
  * The spark-avro datasource module is not on this image's classpath, so
  * this writes/reads Avro object-container files directly with the core
  * avro-1.12 API, distributed via mapPartitions — one file per partition on
  * executors, so the path scales with parallelism like any file sink.
  * Supports flat schemas of long/int/double/float/string/boolean/binary
  * (the reference schema's shape).
  */
object AvroIO {

  private def avroSchema(schema: StructType): Schema = {
    var fields = SchemaBuilder.record("row").namespace("graft").fields()
    schema.fields.foreach { f =>
      val base = f.dataType match {
        case LongType => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType => Schema.create(Schema.Type.DOUBLE)
        case FloatType => Schema.create(Schema.Type.FLOAT)
        case StringType => Schema.create(Schema.Type.STRING)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case BinaryType => Schema.create(Schema.Type.BYTES)
        case TimestampType => Schema.create(Schema.Type.LONG) // epoch µs
        case other => throw new IllegalArgumentException(s"unsupported avro type $other")
      }
      val nullable = Schema.createUnion(Schema.create(Schema.Type.NULL), base)
      fields = fields.name(f.name).`type`(if (f.nullable) nullable else base).noDefault()
    }
    fields.endRecord()
  }

  /** Write a DataFrame as Avro container files under `dir`. */
  def write(df: DataFrame, dir: String): Unit = {
    val schema = df.schema
    val schemaJson = avroSchema(schema).toString
    new File(dir).mkdirs()
    df.queryExecution.toRdd // force analysis before closure capture
    df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      val avSchema = new Schema.Parser().parse(schemaJson)
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](avSchema))
      val out = new File(dir, f"part-$pid%05d.avro")
      writer.create(avSchema, out)
      rows.foreach { row =>
        val rec = new GenericData.Record(avSchema)
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          val v: AnyRef =
            if (row.isNullAt(i)) null
            else f.dataType match {
              case TimestampType =>
                val inst = row.getAs[java.sql.Timestamp](i).toInstant
                // full µs precision — toEpochMilli would truncate sub-ms
                java.lang.Long.valueOf(
                  inst.getEpochSecond * 1000000L + inst.getNano / 1000L)
              case BinaryType => java.nio.ByteBuffer.wrap(row.getAs[Array[Byte]](i))
              case _ => row.get(i).asInstanceOf[AnyRef]
            }
          rec.put(f.name, v)
        }
        writer.append(rec)
      }
      writer.close()
      Iterator.single(out.getPath)
    }.collect()
    ()
  }

  /** Read Avro container files under `dir` back into a DataFrame. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val paths = new File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).map(_.getPath).sorted.toSeq
    val rows = spark.sparkContext
      .parallelize(paths, math.max(1, paths.size))
      .flatMap { p =>
        val reader = new DataFileReader[GenericRecord](
          new File(p), new GenericDatumReader[GenericRecord]())
        val out = scala.collection.mutable.ArrayBuffer.empty[Row]
        while (reader.hasNext) {
          val rec = reader.next()
          out += Row.fromSeq(schema.fields.toSeq.map { f =>
            val v = rec.get(f.name)
            if (v == null) null
            else f.dataType match {
              case StringType => v.toString
              case TimestampType =>
                java.sql.Timestamp.from(
                  java.time.Instant.EPOCH.plus(
                    v.asInstanceOf[Long], java.time.temporal.ChronoUnit.MICROS))
              case BinaryType =>
                val bb = v.asInstanceOf[java.nio.ByteBuffer]
                val arr = new Array[Byte](bb.remaining()); bb.get(arr); arr
              case _ => v
            }
          })
        }
        reader.close()
        out
      }
    spark.createDataFrame(rows, schema)
  }
}
