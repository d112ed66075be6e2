package graft.sources

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.streaming.StreamOps
import org.apache.spark.sql.types._

/** The replay source's executor-side decoder — the one `stream_live`
  * reads every micro-batch through — against `spark.read.parquet` on the
  * same staged files.
  */
class ReplayReaderSpec extends SparkSpec {

  /** Every row [[ReplayReaderFactory]] serves for `file` under `schema`,
    * each value as an optional string (`count` alone for an empty schema).
    */
  private def served(schema: StructType, file: String): (Seq[Seq[Option[String]]], Long) = {
    val r = ReplayReaderFactory(schema).createColumnarReader(ReplayFilePartition(file))
    val rows = Seq.newBuilder[Seq[Option[String]]]
    var count = 0L
    try while (r.next()) {
      val batch = r.get()
      assert(batch.numCols == schema.length)
      count += batch.numRows
      batch.rowIterator().asScala.foreach { row =>
        rows += schema.fields.indices.map { i =>
          if (row.isNullAt(i)) None
          else Some(schema(i).dataType match {
            case LongType   => row.getLong(i).toString
            case DoubleType => row.getDouble(i).toString
            case StringType => row.getUTF8String(i).toString
            case other      => fail(s"unexpected replay type $other")
          })
        }
      }
    } finally r.close()
    (rows.result(), count)
  }

  test("replay reader == spark.read.parquet per file: full, pruned, empty schema") {
    val full = StreamOps.eventsRawSchema
    val replay = StreamOps.stageReplayDir(spark, sfDir)
    val files = new java.io.File(replay).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).sorted
    assert(files.length >= 2, s"staged replay has ${files.length} files")
    val pruned = StructType(Seq(full("ts"), full("event_type")))
    files.foreach { file =>
      val ref = spark.read.schema(full).parquet(file)
      Seq(full, pruned).foreach { schema =>
        val want = ref.select(schema.fieldNames.map(ref.col): _*).collect().toSeq
          .map(r => r.toSeq.map(v => Option(v).map(_.toString)))
        val (got, n) = served(schema, file)
        assert(want.nonEmpty && n == want.length)
        assert(got == want, s"$file under ${schema.simpleString}")
      }
      val (none, n) = served(new StructType(), file)
      assert(none.forall(_.isEmpty) && n == ref.count(),
        s"$file: the empty schema must count every row")
    }
  }
}
