package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.schema.{MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation.stringType

import scala.jdk.CollectionConverters._

/** DRIVER-SIDE parquet IO for METADATA-SIZED files — the lakehouse
  * sidecars ([[Versioned]]'s stats/bloom families, deletion vectors).
  *
  * Motivation (OPTIMIZATION_r17, guide §1/§5): resolving a sidecar
  * through `spark.read.parquet` costs 2–5 Spark jobs (LIMIT-1 marker
  * probe, scan, semi-join, coverage aggregate) of ~30–80 ms fixed
  * overhead each — for files that are a few KB. Delta reads its
  * transaction log and per-file stats on the DRIVER for exactly this
  * reason. Every caller here is already driver-bounded by O(live
  * files × tracked cols) — the distributed paths COLLECT the same
  * rows — so a driver-side read changes where the bytes are parsed,
  * never the memory class. Callers own the byte-budget check
  * ([[Versioned]] falls back to the distributed read above it).
  *
  * Loose typing (`Map[col -> Any]`) is deliberate: sidecars evolved
  * columns over rounds (`nulls`, `bytes` arrived later), and the
  * distributed reader models that with `mergeSchema` — absent fields
  * simply have no key here.
  */
private[graft] object LocalParquet {

  /** The `.parquet` part files under `p` (Spark writes a directory;
    * the driver-side writer below writes a plain file), with sizes.
    * Hidden/underscore entries (`_SUCCESS`) are skipped like Spark's
    * own listing does. */
  def dataFiles(fs: FileSystem, p: Path): Seq[(Path, Long)] = {
    val st = fs.getFileStatus(p)
    if (st.isFile) Seq((p, st.getLen))
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(s => (s.getPath, s.getLen))
  }

  /** Footer-only record count over part files — the driver-side twin
    * of a `LIMIT 1` emptiness probe, without a job OR data pages. */
  def recordCount(conf: Configuration, parts: Seq[Path]): Long =
    parts.map { p =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try r.getRecordCount finally r.close()
    }.sum

  /** Every row of `parts` as (column -> value) maps. Values: INT64 →
    * Long, INT32 → Int, DOUBLE → Double, FLOAT → Float, BOOLEAN →
    * Boolean, BINARY+string → String, other BINARY → Array[Byte].
    * An optional field that is null/absent in a row has NO key (the
    * mergeSchema contract). `projection`: read only these columns
    * where present (bloom params without the megabyte bloom bytes);
    * Nil = all. */
  def readRows(conf: Configuration, parts: Seq[Path],
      projection: Seq[String] = Nil): Seq[Map[String, Any]] = {
    val out = Seq.newBuilder[Map[String, Any]]
    parts.foreach { p =>
      val c = new Configuration(conf)
      var skip = false
      if (projection.nonEmpty) {
        // projection must name only fields THIS file has (files differ
        // across sidecar generations): intersect with the footer schema
        val fr = ParquetFileReader.open(HadoopInputFile.fromPath(p, c))
        val fileSchema =
          try fr.getFooter.getFileMetaData.getSchema finally fr.close()
        val keep = fileSchema.getFields.asScala
          .filter(f => projection.contains(f.getName))
        if (keep.isEmpty) skip = true // this part has none of the fields
        else c.set(
          org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
          new MessageType(fileSchema.getName, keep.toList.asJava).toString)
      }
      if (!skip) {
      val reader = ParquetReader
        .builder[Group](new GroupReadSupport(), p).withConf(c).build()
      try {
        var g = reader.read()
        while (g != null) {
          val t = g.getType
          var m = Map.empty[String, Any]
          (0 until t.getFieldCount).foreach { i =>
            if (g.getFieldRepetitionCount(i) > 0) {
              val f = t.getType(i).asPrimitiveType()
              val name = f.getName
              val v: Any = f.getPrimitiveTypeName match {
                case PrimitiveTypeName.INT64 => g.getLong(i, 0)
                case PrimitiveTypeName.INT32 => g.getInteger(i, 0)
                case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
                case PrimitiveTypeName.FLOAT => g.getFloat(i, 0)
                case PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0)
                case PrimitiveTypeName.BINARY
                    if f.getLogicalTypeAnnotation == stringType() =>
                  g.getString(i, 0)
                case PrimitiveTypeName.BINARY =>
                  g.getBinary(i, 0).getBytes
                case other => throw new IllegalArgumentException(
                  s"LocalParquet: unsupported sidecar type $other in $p")
              }
              m += name -> v
            }
          }
          out += m
          g = reader.read()
        }
      } finally reader.close()
      }
    }
    out.result()
  }

  /** The stats-sidecar schema [[writeStatsRows]] emits — field-for-
    * field what Spark writes for `writeStatsSidecar`'s frame (all
    * fields optional/nullable, INT64/DOUBLE/UTF8), so driver-written
    * and Spark-written sidecars interleave transparently under both
    * readers. */
  private val statsSchema: MessageType = Types.buildMessage()
    .addField(Types.optional(PrimitiveTypeName.BINARY).as(stringType())
      .named("file"))
    .addField(Types.optional(PrimitiveTypeName.BINARY).as(stringType())
      .named("col"))
    .addField(Types.optional(PrimitiveTypeName.DOUBLE).named("lo"))
    .addField(Types.optional(PrimitiveTypeName.DOUBLE).named("hi"))
    .addField(Types.optional(PrimitiveTypeName.INT64).named("rows"))
    .addField(Types.optional(PrimitiveTypeName.INT64).named("nulls"))
    .addField(Types.optional(PrimitiveTypeName.INT64).named("bytes"))
    .named("spark_schema")

  /** Write a stats sidecar as ONE plain parquet file at `dst` (the
    * Spark path writes a one-part directory; readers accept both),
    * snappy like Spark's default codec. Overwrites. */
  def writeStatsRows(conf: Configuration, fs: FileSystem, dst: Path,
      rows: Seq[(String, String, Double, Double, Long, Long, Long)]): Unit = {
    fs.delete(dst, true)
    val c = new Configuration(conf)
    GroupWriteSupport.setSchema(statsSchema, c)
    val w = ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(dst, c))
      .withConf(c).withType(statsSchema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val gf = new SimpleGroupFactory(statsSchema)
    try rows.foreach { case (file, col, lo, hi, nRows, nulls, bytes) =>
      val g = gf.newGroup()
      g.add("file", file); g.add("col", col)
      g.add("lo", lo); g.add("hi", hi)
      g.add("rows", nRows); g.add("nulls", nulls); g.add("bytes", bytes)
      w.write(g)
    } finally w.close()
  }
}
