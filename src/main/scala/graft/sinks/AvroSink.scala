package graft.sinks

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Avro file sink (reference §2.2 `sink_avro_hdfs`,
  * /root/reference/spark/streaming-shorttime.py:73-78).
  *
  * This distribution ships avro-core but not the spark-avro DataSource
  * module, so the sink is built directly on Avro's container-file
  * writer: each task serializes ITS OWN partition to one
  * `part-<attempt>-<pid>.avro` — the same executor-parallel,
  * no-driver-funnel shape as a DataSource sink. Flat primitive schemas only (the kline
  * record is exactly that); nested types belong in parquet.
  *
  * Unlike the reference, which creates a fresh directory per
  * micro-batch (`coin_shorttime_batch_{id}` — unbounded small-dir
  * growth), callers append task files into one directory per stream.
  */
object AvroSink {

  /** Spark → Avro schema for a flat row of primitives (nullable unions). */
  def avroSchema(schema: StructType, name: String = "record"): Schema = {
    val fields = SchemaBuilder.record(name).namespace("graft").fields()
    schema.fields.foldLeft(fields) { (fs, f) =>
      val base = f.dataType match {
        case StringType  => Schema.create(Schema.Type.STRING)
        case LongType    => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case FloatType   => Schema.create(Schema.Type.FLOAT)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case TimestampType | TimestampNTZType =>
          Schema.create(Schema.Type.LONG) // epoch micros
        case other => throw new IllegalArgumentException(
          s"AvroSink supports flat primitive schemas; got $other for ${f.name}")
      }
      if (f.nullable) {
        val union = Schema.createUnion(
          java.util.List.of(Schema.create(Schema.Type.NULL), base))
        fs.name(f.name).`type`(union).withDefault(null)
      } else fs.name(f.name).`type`(base).noDefault()
    }.endRecord()
  }

  /** Write `df` as Avro container files under `dir`, one file per
    * partition, executor-parallel.
    *
    * File names carry the task attempt id, so (a) successive calls
    * into the same directory APPEND new files instead of truncating
    * the previous batch's `part-<pid>`, and (b) a speculative or
    * retried attempt writes its own file rather than interleaving with
    * the original (duplicate files from both attempts finishing are
    * the at-least-once cost; exactly-once file sinks need a commit
    * protocol — that path here is the checkpointed parquet sink).
    * Each file commits through [[graft.io.Commit.writeFile]]: it is
    * written under a hidden stage name and renamed to the final name
    * only after the Avro container is closed, so a FAILED attempt
    * never leaves a truncated (unparseable) visible file.
    * I/O goes through the Hadoop FileSystem API with the driver's
    * configuration, so shared storage works from executors (local
    * `java.io.File` would write each executor's own disk).
    */
  def write(df: DataFrame, dir: String): Unit = {
    val schemaJson = avroSchema(df.schema).toString
    val names = df.schema.fieldNames
    val types = df.schema.fields.map(_.dataType)
    val conf = org.apache.spark.util.GraftConfBridge.broadcastConf(
      df.sparkSession.sparkContext)
    // create the directory up front so an empty DataFrame still leaves
    // a readable (empty) sink directory rather than nothing
    org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI(dir), df.sparkSession.sparkContext.hadoopConfiguration)
      .mkdirs(new org.apache.hadoop.fs.Path(dir))
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val schema = new Schema.Parser().parse(schemaJson)
        val tc = org.apache.spark.TaskContext.get()
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(dir), org.apache.spark.util.GraftConfBridge.value(conf))
        val name = s"part-${tc.taskAttemptId()}-${tc.partitionId()}.avro"
        val finalPath = new org.apache.hadoop.fs.Path(s"$dir/$name")
        graft.io.Commit.writeFile(fs, finalPath, "AvroSink") { out =>
          val w = new DataFileWriter[GenericRecord](
            new GenericDatumWriter[GenericRecord](schema))
          w.create(schema, out)
          rows.foreach { row =>
            val rec = new GenericData.Record(schema)
            var i = 0
            while (i < names.length) {
              val v = if (row.isNullAt(i)) null else types(i) match {
                case TimestampType => // true epoch micros: millis + sub-ms nanos
                  val t = row.getTimestamp(i)
                  java.lang.Long.valueOf(
                    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
                case TimestampNTZType =>
                  val ldt = row.getAs[java.time.LocalDateTime](i)
                  java.lang.Long.valueOf(
                    ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
                      ldt.getNano / 1000L)
                case StringType => row.getString(i)
                case _ => row.get(i).asInstanceOf[AnyRef]
              }
              rec.put(names(i), v)
              i += 1
            }
            w.append(rec)
          }
          w.close()                    // flush + container footer
        }
      }
    }
  }
}
