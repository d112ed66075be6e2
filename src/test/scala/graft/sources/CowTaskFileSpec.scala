package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The COW task file writer against a reference the test computes on its
  * own: footer schema, write-time `FileStats` (ranges with their NaN and
  * non-ASCII guards, null counts, KMV sketches from `CowStore.mix64` /
  * `CowStore.ndvHash` kept in a `TreeSet`) and the rows themselves; plus
  * the vectorized reader against `spark.read.parquet` on the same files.
  */
class CowTaskFileSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("x", DoubleType), StructField("s", StringType)))

  private val footerSchema = MessageTypeParser.parseMessageType(
    """message graft_cow_write {
      |  optional int64 id;
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional double x;
      |  optional binary s;
      |}""".stripMargin)

  /** 100 rows, more than 32 distinct values in every column, a null in
    * every column; `nan` / `nonAscii` put a NaN / a non-ASCII string in.
    */
  private def rowsOf(nan: Boolean, nonAscii: Boolean): Seq[Seq[Any]] =
    (0 until 100).map { i =>
      Seq[Any](
        if (i == 7) null else (i * 37L) % 101 - 50,
        if (i == 8) null else 1700000000000000L + i * 1000003L,
        if (i == 9) null else if (nan && i == 40) Double.NaN else (i % 61) * 0.5 - 3.25,
        if (i == 10) null else if (nonAscii && i == 50) "zürich" else s"k${i % 53}")
    }

  private def internal(r: Seq[Any]): InternalRow = new GenericInternalRow(r.map {
    case s: String => UTF8String.fromString(s)
    case v => v
  }.toArray)

  /** The reference stats of `rows` under `schema`. */
  private def reference(rows: Seq[Seq[Any]]): CowStore.FileStats = {
    val cols = schema.fields.indices.map(t => rows.map(_(t)).filter(_ != null))
    def kmv(vs: Seq[Any]): Vector[Long] = {
      val set = new java.util.TreeSet[java.lang.Long](
        (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.compareUnsigned(a, b))
      vs.foreach(v => set.add(CowStore.ndvHash(v)))
      set.iterator.asScala.take(CowStore.NdvK).map(_.longValue()).toVector
    }
    val longs = Seq(0, 1).collect { case t if cols(t).nonEmpty =>
      val v = cols(t).map(_.asInstanceOf[Long])
      schema(t).name -> CowStore.ColRange(v.min, v.max)
    }.toMap
    val x = cols(2).map(_.asInstanceOf[Double])
    val s = cols(3).map(_.asInstanceOf[String])
    CowStore.FileStats(rows.size.toLong, 0L, longs, schema.fieldNames.toVector,
      strRanges =
        if (s.isEmpty || s.exists(_.exists(_ >= 128))) Map.empty
        else Map("s" -> (s.min, s.max)),
      nullCounts = cols.map(c => (rows.size - c.size).toLong).toVector,
      ndv = cols.map(kmv).toVector,
      dblRanges =
        if (x.isEmpty || x.exists(_.isNaN)) Map.empty else Map("x" -> (x.min, x.max)))
  }

  private def newDir(): String = Files.createTempDirectory("cowtaskfile").toString
  private def dataFiles(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.endsWith(".parquet"))

  private def footerOf(file: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), CowParquet.conf))
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  /** Rows of a written file as (id, ts micros, x, s) through Spark's own
    * parquet source.
    */
  private def sparkRows(file: String): Seq[Seq[Any]] =
    spark.read.parquet(file)
      .selectExpr("id", "unix_micros(ts)", "x", "CAST(s AS STRING)")
      .collect().toSeq.map(_.toSeq)

  private def sameRows(a: Seq[Seq[Any]], b: Seq[Seq[Any]]): Boolean = {
    // NaN != NaN under ==; compare doubles by bits.
    def norm(r: Seq[Any]) = r.map {
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case v => v
    }
    a.map(norm) == b.map(norm)
  }

  for ((nan, nonAscii) <- Seq((false, false), (true, true))) {
    test(s"task file stats and footer match a reference (NaN=$nan, non-ASCII=$nonAscii)") {
      val dir = newDir()
      val rows = rowsOf(nan, nonAscii)
      val out = new CowTaskFile(dir, schema, schema, Vector("p=1"), specId = 3)
      rows.foreach(r => out.write(internal(r), 0))
      val (file, st) = out.finish().get
      val want = reference(rows)
      assert(footerOf(file) == footerSchema)
      assert(st.copy(bytes = 0L) == want.copy(partVals = Vector("p=1"), specId = 3))
      assert(st.bytes == new java.io.File(file).length())
      assert(st.ndv.forall(_.size == CowStore.NdvK), "every column exceeds k distinct values")
      assert(st.strRanges.isEmpty == nonAscii && st.dblRanges.isEmpty == nan)
      assert(sameRows(sparkRows(file), rows))
    }
  }

  test("ReplaceData lead-offset rows in write-schema order land in table-schema shape") {
    val dir = newDir()
    val rows = rowsOf(nan = false, nonAscii = true)
    // The rewrite's rows: an `__row_operation` int ahead of the declared
    // write columns, which come in an order other than the table's.
    val writeSchema = StructType(Seq(schema(3), schema(1), schema(0), schema(2)))
    val unsafe = UnsafeProjection.create(
      StructType(StructField("__row_operation", IntegerType) +: writeSchema.fields))
    val out = new CowTaskFile(dir, writeSchema, schema)
    rows.foreach { r =>
      out.write(unsafe(internal(Seq[Any](1, r(3), r(1), r(0), r(2)))), 1)
    }
    val (file, st) = out.finish().get
    assert(footerOf(file) == footerSchema)
    assert(st.copy(bytes = 0L) == reference(rows))
    assert(sameRows(sparkRows(file), rows))
  }

  test("a zero-row task leaves no file; abort deletes the written file") {
    val dir = newDir()
    assert(new CowTaskFile(dir, schema, schema).finish().isEmpty)
    assert(dataFiles(dir).isEmpty)
    val out = new CowTaskFile(dir, schema, schema)
    rowsOf(nan = false, nonAscii = false).foreach(r => out.write(internal(r), 0))
    assert(dataFiles(dir).size == 1)
    out.abort()
    assert(dataFiles(dir).isEmpty)
  }

  /** Every row the vectorized reader serves for `part`, as
    * (id, ts micros, x, s, extra...) values.
    */
  private def columnarRows(rf: CowReaderFactory, part: CowFilePartition): Seq[Seq[Any]] = {
    val r = rf.columnarReader(part, keepOnly = null, consts = Map.empty, metrics = false)
    val out = Seq.newBuilder[Seq[Any]]
    try while (r.next()) {
      r.get().rowIterator().asScala.foreach { row =>
        out += rf.schema.fields.indices.map { i =>
          if (row.isNullAt(i)) null
          else rf.schema(i).dataType match {
            case DoubleType => row.getDouble(i)
            case StringType => row.getUTF8String(i).toString
            case _          => row.getLong(i)
          }
        }
      }
    } finally r.close()
    out.result()
  }

  test("split-initialised columnar reader == spark.read.parquet (pre-ADD COLUMN file, delete vector)") {
    val dir = newDir()
    val rows = rowsOf(nan = true, nonAscii = true)
    val out = new CowTaskFile(dir, schema, schema)
    rows.foreach(r => out.write(internal(r), 0))
    val (file, _) = out.finish().get
    val base = sparkRows(file)
    val cols = schema.fieldNames.toVector
    // The table gained a column after the file was written: it reads NULL.
    val added = schema.add(StructField("extra", LongType))
    val afterAdd = CowReaderFactory(added, added)
    assert(sameRows(columnarRows(afterAdd, CowFilePartition(file, cols, Array.empty)),
      base.map(_ :+ null)))
    // A projection in another order than the file's.
    val proj = StructType(Seq(schema(3), schema(0)))
    assert(sameRows(
      columnarRows(CowReaderFactory(proj, schema),
        CowFilePartition(file, cols, Array.empty)),
      base.map(r => Seq(r(3), r(0)))))
    // A delete vector drops exactly its positions.
    val dv = Array(0L, 7L, 40L, 99L)
    assert(sameRows(
      columnarRows(CowReaderFactory(schema, schema),
        CowFilePartition(file, cols, dv)),
      base.zipWithIndex.collect { case (r, i) if !dv.contains(i.toLong) => r }))
  }
}
