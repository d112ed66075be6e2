package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport, WriteSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetReader, ParquetWriter}
import org.apache.parquet.io.api.RecordConsumer
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet plumbing shared by the `graft_cow` catalog and the replay
  * source: the one Hadoop conf every file is opened from, the row writer
  * and the Group reader.
  */
private[sources] object CowParquet {

  /** Hadoop's defaults, parsed once per JVM. Each fresh `Configuration`
    * re-reads the default XML resources (~4 ms and ~380 KiB), which per
    * written or scanned file was a fixed cost of every COW task.
    * Never mutated: a reader that needs extra keys takes a copy.
    */
  lazy val conf: Configuration = new Configuration()

  /** A writer of flat `schema` records, one per `InternalRow`: `fill`
    * sends the row's non-null fields straight to parquet's
    * `RecordConsumer` (between `startMessage`/`endMessage`), so no
    * intermediate record object is built per row. Writer settings are
    * parquet-mr's builder defaults.
    */
  def writer(file: String, schema: MessageType)
            (fill: (InternalRow, RecordConsumer) => Unit): ParquetWriter[InternalRow] =
    new RowWriterBuilder(new Path(file), new RowWriteSupport(schema, fill))
      .withConf(conf).build()

  /** A Group reader over `file`, decoding only the columns of the
    * parquet `projection` message.
    */
  def groupReader(file: String, projection: String): ParquetReader[Group] = {
    val support = new GroupReadSupport {
      override def init(ctx: InitContext): ReadSupport.ReadContext =
        new ReadSupport.ReadContext(
          ReadSupport.getSchemaForRead(ctx.getFileSchema, projection))
    }
    new GroupReaderBuilder(HadoopInputFile.fromPath(new Path(file), conf), support)
      .build()
  }

  /** The conf for `VectorizedParquetRecordReader.initialize(split, ctx)`:
    * a copy of [[conf]] with the five flags its path overload sets, plus
    * Spark's read support and the requested schema (`requested` names
    * the file's physical columns, in the order the batch serves them).
    */
  def vectorizedConf(requested: StructType): Configuration = {
    val c = new Configuration(conf)
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, false)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, false)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    c.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    c
  }

  private final class RowWriteSupport(schema: MessageType,
                                      fill: (InternalRow, RecordConsumer) => Unit)
      extends WriteSupport[InternalRow] {
    private var rc: RecordConsumer = _
    override def init(c: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(schema, java.util.Collections.emptyMap[String, String]())
    override def getName: String = "graft"
    override def prepareForWrite(consumer: RecordConsumer): Unit = rc = consumer
    override def write(row: InternalRow): Unit = {
      rc.startMessage()
      fill(row, rc)
      rc.endMessage()
    }
  }

  private final class RowWriterBuilder(path: Path, support: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(c: Configuration): WriteSupport[InternalRow] = support
  }

  // The (ReadSupport, Path) builder builds a fresh conf of its own; the
  // InputFile one takes ours.
  private final class GroupReaderBuilder(in: HadoopInputFile, support: ReadSupport[Group])
      extends ParquetReader.Builder[Group](in, new HadoopParquetConfiguration(conf)) {
    override def getReadSupport(): ReadSupport[Group] = support
  }
}
