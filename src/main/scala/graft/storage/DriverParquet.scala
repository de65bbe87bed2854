package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterPredicate
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader, ParquetWriter}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.api.{Binary, RecordConsumer, RecordMaterializer}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType, StringType, StructType}

import scala.jdk.CollectionConverters._

/** Parquet files whose rows the driver already holds — checkpoint parts
  * and bloom sidecars — written and read on the driver with parquet-mr,
  * without a Spark job. The rows leave the driver once, as file bytes,
  * never inside task binaries.
  *
  * A written part is the file Spark's own writer produces for the same
  * schema at default settings: Spark's parquet schema conversion (the
  * standard three-level LIST layout), snappy pages and Spark's row
  * metadata in the footer, so `spark.read.schema(schema).parquet(dir)`
  * reads it back and this reader reads parts Spark wrote. Columns are
  * `LongType`, `StringType`, `BinaryType`, or arrays of longs or strings.
  */
object DriverParquet {

  /** Write `rows` under `dir` as parts of at most `rowsPerPart` rows,
    * replacing whatever `dir` held. Part names carry one UUID per write,
    * as Spark's do, so a rewrite changes every name. An empty `rows`
    * still writes one schema-only part. */
  def write(spark: SparkSession, dir: String, schema: StructType,
            rows: Iterator[Row], rowsPerPart: Int): Unit = {
    schema.fields.foreach(f => require(writable(f.dataType),
      s"cannot write column ${f.name} of type ${f.dataType}"))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    if (fs.exists(root)) fs.delete(root, true)
    fs.mkdirs(root)
    val uuid = java.util.UUID.randomUUID()
    val parts = if (rows.hasNext) rows.grouped(rowsPerPart) else Iterator(Seq.empty)
    parts.zipWithIndex.foreach { case (part, i) =>
      val file = new Path(root, f"part-$i%05d-$uuid.snappy.parquet")
      val w = new RowWriter(HadoopOutputFile.fromPath(file, conf), schema)
        .withConf(conf)
        .withWriteMode(ParquetFileWriter.Mode.CREATE)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .build()
      try part.foreach(w.write) finally w.close()
    }
  }

  /** The part files of `dir` in name order: every visible file, as
    * Spark's listing sees them (names starting `_` or `.` are not data). */
  def parts(spark: SparkSession, dir: String): Seq[String] = {
    val root = new Path(dir)
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(root)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted.toSeq
  }

  /** Stream the rows of `files`, in file order, to `body` as rows of
    * `schema`: a column of `schema` the file lacks reads as null, a file
    * column `schema` does not name is not decoded. `filter` skips row
    * groups and pages by their statistics and drops the rows it rejects.
    * One file is open at a time; it closes when `body` returns or
    * throws, however far it read. */
  def scan[A](spark: SparkSession, files: Seq[String], schema: StructType,
              filter: Option[FilterPredicate] = None)(body: Iterator[Row] => A): A = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val conf = new HadoopParquetConfiguration(hadoopConf)
    var open = Option.empty[ParquetReader[Group]]
    val rows = files.iterator.flatMap { f =>
      open.foreach(_.close())
      open = None
      val builder: ParquetReader.Builder[Group] =
        new GroupReader(HadoopInputFile.fromPath(new Path(f), hadoopConf), conf, schema)
      val reader = filter.fold(builder)(p => builder.withFilter(FilterCompat.get(p))).build()
      open = Some(reader)
      // one file's records share the projection it requested
      var fields: Array[Int] = null
      Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
        if (fields == null) fields = schema.fieldNames.map { n =>
          val t = g.getType
          if (t.containsField(n)) t.getFieldIndex(n) else -1
        }
        toRow(schema, fields, g)
      }
    }
    try body(rows) finally open.foreach(_.close())
  }

  private def writable(t: DataType): Boolean = t match {
    case LongType | StringType | BinaryType => true
    case ArrayType(e, _) => e == LongType || e == StringType
    case _ => false
  }

  /** one record as a row of `schema`; `fields` holds each column's index
    * in the record, -1 for a column the file lacks */
  private def toRow(schema: StructType, fields: Array[Int], g: Group): Row =
    Row.fromSeq(schema.fields.indices.map { c =>
      val i = fields(c)
      if (i < 0 || g.getFieldRepetitionCount(i) == 0) null
      else schema(c).dataType match {
        case ArrayType(e, _) =>
          // LIST → one repeated group → one element field
          val list = g.getGroup(i, 0)
          (0 until list.getFieldRepetitionCount(0)).map { j =>
            val el = list.getGroup(0, j)
            if (el.getFieldRepetitionCount(0) == 0) null else value(e, el, 0)
          }
        case other => value(other, g, i)
      }
    })

  private def value(t: DataType, g: Group, i: Int): Any = t match {
    case LongType => g.getLong(i, 0)
    case StringType => g.getString(i, 0)
    case BinaryType => g.getBinary(i, 0).getBytes
    case other => throw new IllegalArgumentException(s"cannot read $other")
  }

  private final class RowWriter(file: org.apache.parquet.io.OutputFile,
                                schema: StructType)
      extends ParquetWriter.Builder[Row, RowWriter](file) {
    override protected def self(): RowWriter = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[Row] =
      new RowWriteSupport(schema)
  }

  /** Spark's encoding of a row: the null columns of a record are absent
    * and an array is `LIST { repeated group list { element } }`. */
  private final class RowWriteSupport(schema: StructType) extends WriteSupport[Row] {
    private var rc: RecordConsumer = _

    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(new SparkToParquetSchemaConverter().convert(schema),
        Map(ParquetReadSupport.SPARK_METADATA_KEY -> schema.json).asJava)

    override def prepareForWrite(consumer: RecordConsumer): Unit = rc = consumer

    override def write(r: Row): Unit = {
      rc.startMessage()
      schema.fields.indices.foreach { i =>
        if (!r.isNullAt(i)) {
          val f = schema(i)
          rc.startField(f.name, i)
          f.dataType match {
            case ArrayType(e, _) =>
              val xs = r.getSeq[Any](i)
              rc.startGroup()
              if (xs.nonEmpty) {
                rc.startField("list", 0)
                xs.foreach { x =>
                  rc.startGroup()
                  if (x != null) {
                    rc.startField("element", 0); value(e, x); rc.endField("element", 0)
                  }
                  rc.endGroup()
                }
                rc.endField("list", 0)
              }
              rc.endGroup()
            case other => value(other, r.get(i))
          }
          rc.endField(f.name, i)
        }
      }
      rc.endMessage()
    }

    private def value(t: DataType, v: Any): Unit = t match {
      case LongType => rc.addLong(v.asInstanceOf[Long])
      case StringType => rc.addBinary(Binary.fromString(v.asInstanceOf[String]))
      case _ => rc.addBinary(Binary.fromConstantByteArray(v.asInstanceOf[Array[Byte]]))
    }
  }

  /** Reads the columns of `schema` that the file holds, as example
    * `Group` records. */
  private final class GroupReader(file: org.apache.parquet.io.InputFile,
                                  conf: HadoopParquetConfiguration,
                                  schema: StructType)
      extends ParquetReader.Builder[Group](file, conf) {
    override protected def getReadSupport(): ReadSupport[Group] = new ReadSupport[Group] {
      override def init(ctx: InitContext): ReadSupport.ReadContext = {
        val fileSchema = ctx.getFileSchema
        val kept: Seq[org.apache.parquet.schema.Type] = schema.fieldNames.toSeq
          .filter(fileSchema.containsField)
          .map(n => fileSchema.getType(fileSchema.getFieldIndex(n)))
        new ReadSupport.ReadContext(new MessageType(fileSchema.getName, kept.asJava))
      }
      override def prepareForRead(c: Configuration, meta: java.util.Map[String, String],
                                  fileSchema: MessageType,
                                  ctx: ReadSupport.ReadContext): RecordMaterializer[Group] =
        new GroupRecordConverter(ctx.getRequestedSchema)
    }
  }
}
