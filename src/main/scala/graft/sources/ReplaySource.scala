package graft.sources

import graft.streaming.StreamOps
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import java.util.{Collections => JCollections}

/** DataSource V2 micro-batch source over a staged replay directory
  * (`graft-replay`) — the engine-native form of the reference's polling
  * Extract loop (/root/reference/app.py:40-52, `fetch()` at app.py:67-81):
  * the HTTP poll's "what arrived since the last tick" contract becomes a
  * real `MicroBatchStream` whose OFFSET is an index into the directory's
  * name-ordered parquet file list. Each tick's batch is the files in
  * `(startOffset, endOffset]`, so the interface — monotone offsets,
  * replayable ranges, commit-and-advance — is exactly what a production
  * deployment would implement against the live feed, proven here without
  * egress.
  *
  * Contract with [[StreamOps.stageReplayDir]]: files are immutable once
  * staged and their NAME order is the replay order (tick1-*, tick2-*).
  * New files may only be appended (later names); offsets index that
  * sorted list, so a committed range never changes meaning — the same
  * guarantee FileStreamSource derives from its seen-files log, held here
  * structurally.
  *
  * Scale design: one `InputPartition` per file — each executor opens its
  * own file via the parquet-hadoop reader, nothing flows through the
  * driver (the driver only LISTS the directory). Admission control
  * (`maxFilesPerTrigger`) and `Trigger.AvailableNow` are first-class:
  * the batch size is bounded per tick, and AvailableNow drains exactly
  * the files present when the query started.
  *
  * Column pruning — two cooperating paths, both ending at the parquet
  * reader's requested projection (`parquet.read.schema`), so unrequested
  * columns' pages are never decoded (and at 100 TB, with columnar
  * storage, mostly never read):
  *
  *  1. [[SupportsPushDownRequiredColumns]] on the scan builder — the
  *     DSv2 pushdown contract. Spark 4.1's BATCH planner drives it via
  *     `V2ScanRelationPushDown`; its MICRO-BATCH planner does NOT (the
  *     stream's scan is built by `MicroBatchExecution` straight from
  *     `newScanBuilder().build()`, bypassing the pushdown rule —
  *     verified against the shipped 4.1.2 bytecode), so for streams the
  *     interface is exercised by tests and future engine versions.
  *  2. An explicit `columns` option ("ts,event_type") — the projection a
  *     STREAMING caller states up front. It narrows the TABLE schema
  *     itself (projected in fixture-schema field order), which every
  *     layer downstream — scan, reader, query plan — then agrees on.
  *     This is how a production source config pins its read set today.
  */
class ReplaySourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-replay"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ReplaySource.projectedSchema(options.get("columns"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // Options arrive case-preserved here; look the key up the way Spark
    // options semantics demand (case-insensitively), matching inferSchema.
    val expected = ReplaySource.projectedSchema(
      new CaseInsensitiveStringMap(properties).get("columns"))
    // Fixed-schema source: a user-specified schema that differs from the
    // replay contract (narrowed by `columns` if present) must fail loudly
    // (DSv2 convention), not be silently replaced.
    if (schema != null && schema != expected)
      throw new UnsupportedOperationException(
        s"graft-replay has a fixed schema ${expected.simpleString}; " +
          s"user-specified schema ${schema.simpleString} is not supported")
    new ReplayTable(properties.get("path"), expected,
      RequestOptions.from(new CaseInsensitiveStringMap(properties)))
  }
}

/** Per-source request options — the engine's seam for the configuration a
  * production deployment injects per source (the reference attaches an
  * API key and request headers per endpoint, /root/reference/app.py:71-72;
  * a Spark deployment attaches auth/schema/rate config per registered
  * source the same way): every reader option prefixed `req.` is collected
  * into this map, validated at table resolution (NOT at first batch — a
  * typo'd registry entry must fail when the source is wired, not at
  * 2 a.m. when the stream restarts), and surfaced in the scan description
  * with secret-looking values redacted.
  *
  * One key is interpreted by the engine itself: `req.rate-limit` (files
  * admitted per micro-batch — the replay analog of a per-source request
  * budget) composes with `maxFilesPerTrigger` as the MINIMUM of the two,
  * so the per-source registry bound and the per-query tuning bound are
  * both honored. Everything else is carried opaquely for the deployment's
  * fetch layer.
  */
private[graft] case class RequestOptions(opts: Map[String, String]) {
  def rateLimit: Option[Int] = opts.get("rate-limit").map(_.toInt)

  /** Human-readable form for plan/`describe()` surfaces; values of keys
    * that look credential-bearing are redacted (they still flow to the
    * fetch layer — only the DISPLAY is scrubbed).
    */
  def describe: String =
    opts.toSeq.sortBy(_._1).map { case (k, v) =>
      val secret = RequestOptions.SecretMarkers.exists(k.toLowerCase.contains)
      s"$k=${if (secret) "***" else v}"
    }.mkString(", ")
}

private[graft] object RequestOptions {
  val Prefix = "req."
  private val SecretMarkers = Seq("auth", "token", "secret", "password", "key")

  def from(options: CaseInsensitiveStringMap): RequestOptions = {
    import scala.jdk.CollectionConverters._
    val opts = options.asScala.collect {
      case (k, v) if k.startsWith(Prefix) => k.stripPrefix(Prefix) -> v
    }.toMap
    opts.foreach { case (k, v) =>
      require(k.nonEmpty && v != null && v.trim.nonEmpty,
        s"graft-replay: request option '$Prefix$k' must have a non-empty value")
    }
    opts.get("rate-limit").foreach { v =>
      require(scala.util.Try(v.toInt).toOption.exists(_ > 0),
        s"graft-replay: req.rate-limit must be a positive integer, got '$v'")
    }
    RequestOptions(opts)
  }
}

private[graft] object ReplaySource {
  /** The table schema for a `columns` option value: the full replay
    * schema when absent, else the named subset IN FIXTURE-SCHEMA ORDER.
    * Unknown names fail loudly — a typo'd projection must not silently
    * widen to a full-schema read.
    */
  def projectedSchema(columns: String): StructType = {
    val full = StreamOps.eventsRawSchema
    if (columns == null || columns.trim.isEmpty) full
    else {
      val names = columns.split(",").map(_.trim).toSet
      val unknown = names.diff(full.fieldNames.toSet)
      require(unknown.isEmpty,
        s"graft-replay: unknown columns ${unknown.toSeq.sorted.mkString(",")} " +
          s"(table schema: ${full.fieldNames.mkString(",")})")
      StructType(full.fields.filter(f => names(f.name)))
    }
  }

  /** The subset of the table schema named by `required`, in table order —
    * shared by the `columns` option and the pruneColumns push. */
  def prune(table: StructType, required: StructType): StructType =
    StructType(table.fields.filter(f => required.fieldNames.contains(f.name)))
}

/** The replay directory as a DSv2 table: micro-batch read capability only
  * (batch reads of the same directory go through the plain parquet
  * source).
  */
class ReplayTable(path: String, tableSchema: StructType,
                  reqOptions: RequestOptions = RequestOptions(Map.empty))
    extends Table with SupportsRead {
  require(path != null, "graft-replay requires a path (the staged replay directory)")

  override def name(): String = s"graft-replay:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    JCollections.singleton(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      // Reader options also carry req.* (Spark hands the same option map
      // to the table and the scan builder); re-resolving here keeps the
      // seam working for callers that construct the table directly.
      private val req =
        if (reqOptions.opts.nonEmpty) reqOptions else RequestOptions.from(options)

      override def pruneColumns(requiredSchema: StructType): Unit =
        required = ReplaySource.prune(tableSchema, requiredSchema)

      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def description(): String = {
          val reqPart = if (req.opts.isEmpty) "" else s" req{${req.describe}}"
          s"graft-replay scan of $path [${required.fieldNames.mkString(",")}]$reqPart"
        }
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
          // Per-source rate limit composes with per-query tuning: the
          // effective admission bound is the stricter of the two.
          val perQuery = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
          val limit = (perQuery.toSeq ++ req.rateLimit.toSeq)
            .reduceOption(math.min)
          new ReplayMicroBatchStream(path, limit, required)
        }
      }
    }
}

/** Offset = how many files of the name-sorted listing have been consumed. */
case class FileIndexOffset(idx: Int) extends Offset {
  override def json(): String = idx.toString
}

/** One staged parquet file per partition. */
case class ReplayFilePartition(file: String) extends InputPartition

class ReplayMicroBatchStream(path: String, maxFilesPerTrigger: Option[Int],
                             readSchema: StructType)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Name-sorted immutable listing — the offset space. Re-listed on each
    * call so files appended between ticks are picked up; the sort keeps
    * already-committed index ranges stable because staged names are
    * strictly increasing.
    */
  private def files(): Array[String] = {
    val listed = new java.io.File(path).listFiles()
    if (listed == null)
      throw new IllegalStateException(
        s"graft-replay: replay directory missing or unreadable: $path")
    listed.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted
  }

  /** Listing frozen by `prepareForTriggerAvailableNow`, so AvailableNow
    * drains exactly the files present at query start even if the
    * directory keeps growing.
    */
  @volatile private var frozenCount: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozenCount = Some(files().length)

  private def availableCount: Int =
    frozenCount.getOrElse(files().length)

  override def initialOffset(): Offset = FileIndexOffset(0)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[FileIndexOffset].idx
    val avail = availableCount
    // Committed offsets index an immutable prefix of the listing; the
    // listing shrinking below an already-committed offset means a staged
    // file was deleted or renamed. That is data LOSS, not "no new data" —
    // fail with the position, never silently resume from a shifted list.
    if (avail < from)
      throw new IllegalStateException(
        s"graft-replay: committed offset $from but only $avail staged files " +
          s"remain under $path — a staged file was deleted or renamed; " +
          "replay files are immutable once committed")
    limit match {
      case mf: ReadMaxFiles => FileIndexOffset(math.min(from + mf.maxFiles(), avail))
      case _                => FileIndexOffset(avail)
    }
  }

  override def reportLatestOffset(): Offset = FileIndexOffset(availableCount)

  override def deserializeOffset(json: String): Offset =
    FileIndexOffset(json.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[FileIndexOffset].idx,
                  end.asInstanceOf[FileIndexOffset].idx)
    val listed = files()
    // A replanned (possibly retried) range must resolve to exactly the
    // files it named when the offsets were written; a shorter listing
    // would make slice() silently DROP the tail of the batch.
    if (listed.length < e)
      throw new IllegalStateException(
        s"graft-replay: offset range [$s, $e) needs $e staged files but only " +
          s"${listed.length} remain under $path — a staged file was deleted " +
          "or renamed; replay files are immutable once committed")
    listed.slice(s, e).map(ReplayFilePartition(_): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    ReplayReaderFactory(readSchema)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Executor-side reader: parquet-hadoop's example Group API over the one
  * file of the partition, converted field-by-field into `InternalRow`s of
  * the (possibly pruned) read schema (ts stays raw int64 nanos —
  * conversion to a timestamp happens in the query plan, same as the
  * file-source path).
  *
  * The pruned schema is handed to parquet-mr's read support as its
  * requested projection, so the reader decodes ONLY the requested
  * columns' chunks — pruning at the I/O layer, not a post-read
  * projection. Every micro-batch file opens from the shared per-JVM
  * Hadoop conf ([[CowParquet.groupReader]]).
  */
case class ReplayReaderFactory(schema: StructType) extends PartitionReaderFactory {

  /** Columns physically read: a column-less required schema (Spark pushes
    * StructType(Nil) for count(*)-style scans) still needs ONE parquet
    * column to drive row iteration — parquet rejects an empty group — so
    * fall back to the narrowest fixed column and emit empty rows.
    */
  private def physicalFields =
    if (schema.fields.isEmpty) StreamOps.eventsRawSchema.fields.take(1)
    else schema.fields

  /** The read schema as a parquet projection message. Primitive names and
    * repetition must match the staged files (Spark writes every column
    * `optional`); logical annotations are not compared by parquet's
    * projection check, so `binary` suffices for strings.
    */
  private def parquetProjection: String =
    physicalFields.map { f =>
      val t = f.dataType match {
        case LongType   => "int64"
        case DoubleType => "double"
        case StringType => "binary"
        case other => throw new IllegalArgumentException(
          s"graft-replay: unsupported column type ${other.simpleString} for ${f.name}")
      }
      s"  optional $t ${f.name};"
    }.mkString("message graft_replay_projection {\n", "\n", "\n}")

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[ReplayFilePartition].file
    new PartitionReader[InternalRow] {
      private val reader: ParquetReader[Group] =
        CowParquet.groupReader(file, parquetProjection)
      private var current: Group = _

      override def next(): Boolean = {
        current = reader.read()
        current != null
      }

      override def get(): InternalRow = {
        val g = current
        def has(name: String): Boolean = {
          val i = g.getType.getFieldIndex(name)
          g.getFieldRepetitionCount(i) > 0
        }
        new GenericInternalRow(schema.fields.map[Any] { f =>
          if (!has(f.name)) null
          else f.dataType match {
            case LongType   => g.getLong(g.getType.getFieldIndex(f.name), 0)
            case DoubleType => g.getDouble(g.getType.getFieldIndex(f.name), 0)
            case StringType =>
              UTF8String.fromString(g.getString(g.getType.getFieldIndex(f.name), 0))
          }
        })
      }

      override def close(): Unit = reader.close()
    }
  }
}
