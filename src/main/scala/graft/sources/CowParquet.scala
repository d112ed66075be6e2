package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.{ParquetInputFormat, ParquetWriter}
import org.apache.parquet.io.api.RecordConsumer
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet plumbing shared by the `graft_cow` catalog and the replay
  * source: the one Hadoop conf every file is opened from, the row writer
  * and the one reader, Spark's `VectorizedParquetRecordReader`.
  */
private[sources] object CowParquet {

  /** Hadoop's defaults, parsed once per JVM. Each fresh `Configuration`
    * re-reads the default XML resources (~4 ms and ~380 KiB), which per
    * written or scanned file was a fixed cost of every COW task.
    * Never mutated: a reader that needs extra keys takes a copy.
    */
  lazy val conf: Configuration = new Configuration()

  /** Rows per `ColumnarBatch` the reader serves. */
  val BatchRows = 4096

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

  /** The batch reader over all of `file`, decoding only the `requested`
    * columns: each field names a physical column of the file, typed as it
    * was written, and the batch serves them in this order (a requested
    * column the file lacks reads NULL). An empty `requested` decodes no
    * column and only counts rows. Timestamps are read as written
    * (CORRECTED rebase, no time-zone shift): every writer here emits
    * adjusted-to-UTC epoch micros. The reader is split-initialised from a
    * copy of [[conf]] carrying the five flags its path overload would
    * set, so no file parses a conf of its own.
    */
  def vectorizedReader(file: String, requested: StructType): VectorizedParquetRecordReader = {
    val rr = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, BatchRows)
    val c = new Configuration(conf)
    c.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, false)
    c.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, false)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, false)
    c.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, false)
    c.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, false)
    c.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    val path = new Path(file)
    val len = path.getFileSystem(c).getFileStatus(path).getLen
    try {
      rr.initialize(
        new org.apache.hadoop.mapred.FileSplit(path, 0L, len, Array.empty[String]),
        new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          c, new org.apache.hadoop.mapreduce.TaskAttemptID()))
      rr.initBatch(new StructType(), new GenericInternalRow(0))
    } catch { case e: Throwable => rr.close(); throw e }
    rr
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
}
