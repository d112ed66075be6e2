package graft

import java.util.UUID

import graft.sources.{CowCatalog, CowStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The copy-on-write catalog + SQL row-level operations (MERGE INTO /
  * UPDATE / DELETE through `SupportsRowLevelOperations`): semantics pinned
  * against relational rebuilds, plan shape pinned against the group-based
  * rewrite (`MergeRows` / `ReplaceData`), and the commit contract
  * (superseded files retained, truncate overwrite, merge cardinality
  * violation) exercised directly.
  */
class CowCatalogSpec extends SparkSpec {

  private val cat = "graft_cow"

  private def ensureCatalog(): Unit =
    if (spark.conf.getOption(s"spark.sql.catalog.$cat").isEmpty)
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[CowCatalog].getName)

  private def fresh(tag: String): String = {
    ensureCatalog()
    s"$cat.spec.${tag}_${UUID.randomUUID().toString.replace("-", "")}"
  }

  /** A small deterministic base: ids 0..19 with string + long payloads. */
  private def mkBase(tbl: String): Unit = {
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, concat('t', CAST(id % 3 AS STRING)), id * 10
         |FROM range(0, 20)""".stripMargin)
  }

  test("MERGE INTO == relational rebuild (update + delete + insert branches all fire)") {
    val tbl = fresh("merge")
    mkBase(tbl)
    // Source: ids 10..29 → matched 10..19, unmatched 20..29; matched ids
    // divisible by 4 are deleted, the rest updated.
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT id, concat('s', CAST(id AS STRING)) AS tag, id * 100 AS nv
         |       FROM range(10, 30)) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.id % 4 = 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.nv, tag = s.tag
         |WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (s.id, s.tag, s.nv)
         |""".stripMargin)
    val got = spark.table(tbl).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // Rebuild declaratively: 0..9 carried; 10..19 deleted when %4==0 else
    // updated; 20..29 inserted.
    val want =
      (0L until 10L).map(i => (i, s"t${i % 3}", i * 10)) ++
      (10L until 20L).filter(_ % 4 != 0).map(i => (i, s"s$i", i * 100)) ++
      (20L until 30L).map(i => (i, s"s$i", i * 100))
    assert(got == want.sortBy(_._1), s"merge state diverged: $got")
    // All three branches provably fired.
    assert(got.count(_._2.startsWith("t")) == 10)      // carried
    assert(!got.exists(r => r._1 >= 10 && r._1 < 20 && r._1 % 4 == 0)) // deleted
    assert(got.count(r => r._1 >= 20) == 10)           // inserted
  }

  test("MERGE matched clauses apply first-match-wins (DELETE shadows UPDATE)") {
    val tbl = fresh("order")
    mkBase(tbl)
    // Rows 0..2 satisfy BOTH clauses' conditions; the FIRST (DELETE) must
    // win — SQL merge clause-order semantics. Rows 3..4 only match the
    // trailing unconditional UPDATE. (The parser itself enforces that only
    // the last MATCHED clause may omit its condition.)
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT id FROM range(0, 5)) s
         |ON t.id = s.id
         |WHEN MATCHED AND s.id < 3 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = -1
         |""".stripMargin)
    val left = spark.table(tbl).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(left.map(_._1).toSeq == (3L until 20L),
      s"delete-first semantics broken: ${left.toSeq}")
    assert(left.filter(_._1 < 5).forall(_._2 == -1L),
      "rows past the delete condition must take the update branch")
  }

  test("MERGE raises the cardinality violation when one target row matches two source rows") {
    val tbl = fresh("card")
    mkBase(tbl)
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $tbl t
           |USING (SELECT CAST(id / 2 AS BIGINT) AS id FROM range(0, 4)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = 0
           |""".stripMargin)
    }
    val msg = e.toString + Option(e.getCause).map(_.toString).getOrElse("")
    assert(msg.contains("MERGE_CARDINALITY_VIOLATION") ||
      msg.toLowerCase.contains("cardinality"),
      s"expected the standard merge cardinality error, got: $msg")
  }

  test("UPDATE and DELETE rewrite through ReplaceData and match the predicate rebuild") {
    val tbl = fresh("ud")
    mkBase(tbl)
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id % 3 = 0")
    spark.sql(s"DELETE FROM $tbl WHERE id >= 15")
    val got = spark.table(tbl).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val want = (0L until 15L).map(i => (i, if (i % 3 == 0) i * 10 + 1 else i * 10))
    assert(got == want)
  }

  test("the MERGE plan is the group-based rewrite: MergeRows over the COW scan, ReplaceData write") {
    val tbl = fresh("plan")
    mkBase(tbl)
    val p = spark.sql(
      s"""EXPLAIN FORMATTED MERGE INTO $tbl t
         |USING (SELECT id, id * 2 AS nv FROM range(0, 5)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (s.id, 'x', s.nv)
         |""".stripMargin).collect().map(_.getString(0)).mkString("\n")
    assert(p.contains("ReplaceData"), s"expected group-based ReplaceData:\n$p")
    assert(p.contains("MergeRows"), s"expected MergeRows merge semantics:\n$p")
    assert(p.contains("graft-cow scan"), s"target must read through the COW scan:\n$p")
  }

  test("column pruning reaches the COW scan (readSchema in the scan description)") {
    val tbl = fresh("prune")
    mkBase(tbl)
    val df = spark.table(tbl).select("id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("[id]") && !plan.contains("[id,tag,v]"),
      s"projection must prune to [id] at the scan:\n$plan")
    assert(df.count() == 20)
  }

  test("commits retain superseded files (reader snapshots stay valid); truncate overwrites") {
    val tbl = fresh("snap")
    mkBase(tbl)
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("spec"), tbl.split("\\.").last)
    val before = CowStore.get(cat, ident).get
    assert(before.files.nonEmpty && before.version == 1L)
    spark.sql(s"DELETE FROM $tbl WHERE id < 10")
    val after = CowStore.get(cat, ident).get
    assert(after.version == 2L)
    // File-group COW: the files whose rows matched were swapped for
    // rewritten ones; files without matches survive IDENTICALLY (the
    // runtime group filter's point — see the dedicated test below).
    val replaced = before.files.toSet -- after.files.toSet
    assert(replaced.nonEmpty, "a matching group must have been rewritten")
    // Old version's files still on disk — an in-flight scan planned
    // against v1 keeps reading them.
    assert(before.files.forall(f => new java.io.File(f).exists()),
      "superseded files must be retained for reader snapshots")
    // INSERT OVERWRITE goes through the truncate path.
    spark.sql(s"INSERT OVERWRITE $tbl SELECT id, 'o', id FROM range(0, 3)")
    val rows = spark.table(tbl).collect()
    assert(rows.length == 3 && rows.forall(_.getString(1) == "o"))
  }

  test("runtime group filtering narrows the rewrite to files containing matches") {
    // Four single-file inserts with disjoint key ranges → four groups
    // whose membership is known exactly. A MERGE touching only range
    // [0, 5) must rewrite ONLY that file: the other three survive in the
    // committed state byte-identically (same paths), and total I/O is
    // O(affected groups) — the property that makes copy-on-write usable
    // at 100 TB (Catalyst's RowLevelOperationRuntimeGroupFiltering
    // injects `_file IN (matching groups)`, served by the scan's
    // SupportsRuntimeV2Filtering).
    val tbl = fresh("groups")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)")
    for (lo <- Seq(0, 5, 10, 15))
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT id, concat('t', CAST(id AS STRING)), id * 10
           |FROM range($lo, ${lo + 5}, 1, 1)""".stripMargin)
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("spec"), tbl.split("\\.").last)
    val before = CowStore.get(cat, ident).get
    assert(before.files.length == 4, s"expected 4 groups: ${before.files}")
    // Store order == insert order (commits append): file 0 is range(0,5).
    val loFile = before.files.head
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT id, id * 100 AS nv FROM range(0, 5)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.nv
         |""".stripMargin)
    val after = CowStore.get(cat, ident).get
    val survivors = after.files.toSet.intersect(before.files.toSet)
    assert(survivors == before.files.toSet - loFile,
      s"only the matching group may be rewritten — before=${before.files} " +
        s"after=${after.files}")
    assert(!after.files.contains(loFile), "the matched group must be swapped")
    // And the table content is the full correct state.
    val got = spark.table(tbl).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val want = (0L until 20L).map(i => (i, if (i < 5) i * 100 else i * 10))
    assert(got == want)
  }

  test("VERSION AS OF reads pinned commits; pinned relations are read-only") {
    val tbl = fresh("tt")
    mkBase(tbl) // create = v0 (empty), insert = v1
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id < 5") // v2
    spark.sql(s"DELETE FROM $tbl WHERE id >= 15") // v3
    def rows(q: String) = spark.sql(q).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val v1 = rows(s"SELECT id, v FROM $tbl VERSION AS OF 1")
    assert(v1 == (0L until 20L).map(i => (i, i * 10)),
      "version 1 must be the pristine insert state")
    val v2 = rows(s"SELECT id, v FROM $tbl VERSION AS OF 2")
    assert(v2 == (0L until 20L).map(i => (i, if (i < 5) i * 10 + 1 else i * 10)))
    val now = rows(s"SELECT id, v FROM $tbl")
    assert(now == (0L until 15L).map(i => (i, if (i < 5) i * 10 + 1 else i * 10)))
    // v0 is the empty pre-insert table; a never-committed version fails
    // loudly at resolution.
    assert(rows(s"SELECT id, v FROM $tbl VERSION AS OF 0").isEmpty)
    val e = intercept[Exception] {
      spark.sql(s"SELECT id FROM $tbl VERSION AS OF 99").collect()
    }
    assert(e.toString.contains("no such version") ||
      Option(e.getCause).exists(_.toString.contains("no such version")))
    // Pinned loads are read-only at the connector level.
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("spec"), tbl.split("\\.").last)
    val cowCat = new CowCatalog()
    cowCat.initialize(cat,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
    val pinned = cowCat.loadTable(ident, "1")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
    val err = intercept[IllegalArgumentException] {
      pinned.newWriteBuilder(null)
    }
    assert(err.getMessage.contains("read-only"))
  }

  test("q_stream_merge: streaming upsert final state == batch argmax") {
    import graft.streaming.StreamOps
    val got = StreamOps.queries("q_stream_merge")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val want = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("us"), col("event_id"), col("event_type"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == want && got.nonEmpty,
      "streaming MERGE upsert must land on the per-user argmax")
  }

  test("q_cow_compact: self-INSERT OVERWRITE collapses fragments to one file, content unchanged") {
    import graft.operators.RowLevelOps
    val before = CowStore.list(cat, Array("ops")).length
    val df = RowLevelOps.qCowCompact(spark, sfDir)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // Content == base relation (compaction moves bytes, never rows).
    val want = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == want.toSeq && rows.nonEmpty)
    // Every compact_* table ends at version 5 (create=0, four fragment
    // inserts=1-4, the overwrite=5) with ONE file; its pre-compaction
    // snapshot (v4) keeps the four fragments readable.
    assert(CowStore.list(cat, Array("ops")).length > before)
    val states = CowStore.list(cat, Array("ops"))
      .filter(_.name.startsWith("compact_"))
      .map(i => CowStore.get(cat, i).get)
    assert(states.nonEmpty && states.forall(_.version == 5L),
      s"unexpected compact-table versions: ${states.map(_.version).toSeq}")
    states.foreach { st =>
      assert(st.files.length == 1,
        s"compaction must leave one file, got ${st.files.length}")
      assert(st.filesAt(4L).length == 4,
        "the pre-compaction snapshot keeps its four fragments readable")
    }
  }

  test("write-time stats: range predicates skip files at plan time; the sized table broadcasts") {
    val tbl = fresh("stats")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)")
    for (lo <- Seq(0, 5, 10, 15))
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT id, concat('t', CAST(id AS STRING)), id * 10
           |FROM range($lo, ${lo + 5}, 1, 1)""".stripMargin)
    // Predicate inside ONE fragment's [min, max]: three files pruned
    // before any I/O, and the rows still come back exactly (skipping is
    // pruning-only — every filter stays residual).
    val df = spark.table(tbl).filter(col("id") >= 16)
    val got = df.collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (16L until 20L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("1 of 4 files, 3 skipped"),
      s"stats must prune the three out-of-range fragments:\n$plan")
    // A contradiction prunes everything (0 files) and still answers.
    val none = spark.table(tbl).filter(col("id") > 100)
    assert(none.count() == 0)
    assert(none.queryExecution.executedPlan.toString
      .contains("0 of 4 files, 4 skipped"))
    // Reported statistics make the table a SIZED relation: the 20-row
    // side broadcasts in a join (an unsized DSv2 relation defaults to
    // spark.sql.defaultSizeInBytes = Long.Max and never would).
    val stats = spark.table(tbl).queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes < 1000000,
      s"write-time bytes must reach the planner: ${stats.sizeInBytes}")
    assert(stats.rowCount.exists(_.toLong == 20L),
      s"write-time row count must reach the planner: ${stats.rowCount}")
    import spark.implicits._
    val big = spark.range(0, 50000).select(($"id" % 20).as("id"), $"id".as("x"))
    val joined = big.join(spark.table(tbl), "id")
    val jp = joined.queryExecution.executedPlan.toString
    assert(jp.contains("BroadcastHashJoin") || jp.contains("BroadcastExchange"),
      s"the sized 20-row COW table must broadcast:\n$jp")
    assert(joined.count() == 50000)
  }

  test("clustered compaction turns useless stats into selective ones (0 skipped -> 3 skipped)") {
    val tbl = fresh("clust")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)")
    // Hash fragments: every file spans ~the full key range.
    for (m <- 0 until 4)
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT id, concat('t', CAST(id AS STRING)), id * 10
           |FROM range(0, 20, 1, 1) WHERE id % 4 = $m""".stripMargin)
    def planOf() = spark.table(tbl).filter(col("id") >= 16)
      .queryExecution.executedPlan.toString
    assert(planOf().contains("4 of 4 files, 0 skipped"),
      s"hash-fragmented stats must prune nothing:\n${planOf()}")
    // Cluster: same rows, range-disjoint files.
    spark.sql(
      s"""INSERT OVERWRITE $tbl
         |SELECT /*+ REPARTITION_BY_RANGE(4, id) */ id, tag, v FROM $tbl""".stripMargin)
    val after = planOf()
    assert(after.contains("of 4 files, 3 skipped") ||
      after.contains("of 4 files, 2 skipped"), // range splits may straddle
      s"clustered stats must prune the out-of-range files:\n$after")
    val got = spark.table(tbl).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == (0L until 20L).map(i => (i, i * 10)),
      "clustering moves bytes, never rows")
  }

  test("q_cow_history: the commit lineage reads back version-exact row counts") {
    import graft.operators.RowLevelOps
    val got = RowLevelOps.qCowHistory(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nBase = base.length.toLong
    val nAfterDelete = base.count { case (id, ch) =>
      val upd = if (id % 7 == 0) ch * 2 + 1 else ch
      !(upd % 4 < 2)
    }.toLong
    assert(got == Seq((0L, 0L), (1L, nBase), (2L, nBase), (3L, nAfterDelete)),
      s"commit lineage must read back exactly: $got")
    assert(nAfterDelete > 0 && nAfterDelete < nBase,
      "the delete must have shrunk the table non-trivially")
  }

  private def identOf(tbl: String) =
    org.apache.spark.sql.connector.catalog.Identifier.of(
      Array("spec"), tbl.split("\\.").last)

  private def mkMorBase(tbl: String): Unit = {
    // Single file (range numSlices = 1) so physical positions == ids —
    // the delete-vector assertions can name exact positions.
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, concat('t', CAST(id % 3 AS STRING)), id * 10
         |FROM range(0, 20, 1, 1)""".stripMargin)
  }

  test("merge-on-read: a 1-row DELETE writes O(1) delete entries while COW rewrites the file") {
    val cow = fresh("wamp_cow")
    spark.sql(s"CREATE TABLE $cow (id BIGINT, tag STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $cow SELECT id, 't', id * 10 FROM range(0, 20, 1, 1)")
    val mor = fresh("wamp_mor")
    mkMorBase(mor)
    val cowBefore = CowStore.get(cat, identOf(cow)).get
    val morBefore = CowStore.get(cat, identOf(mor)).get
    spark.sql(s"DELETE FROM $cow WHERE id = 7")
    spark.sql(s"DELETE FROM $mor WHERE id = 7")
    val cowAfter = CowStore.get(cat, identOf(cow)).get
    val morAfter = CowStore.get(cat, identOf(mor)).get
    // COW: the matched group was REPLACED — a whole new file was written
    // for a 1-row delete (the write amplification MOR exists to fix).
    assert(cowAfter.files.toSet != cowBefore.files.toSet &&
      cowAfter.files.length == 1,
      s"COW must rewrite the touched file: ${cowBefore.files} -> ${cowAfter.files}")
    // MOR: file list IDENTICAL (zero data bytes written); the commit is
    // one positional delete entry — position 7 of the single base file.
    assert(morAfter.files == morBefore.files,
      s"MOR must not rewrite any file: ${morBefore.files} -> ${morAfter.files}")
    assert(morAfter.deletes == Map(morBefore.files.head -> Vector(7L)),
      s"expected one positional delete entry, got ${morAfter.deletes}")
    // Both read the same 19 survivors.
    for (t <- Seq(cow, mor)) {
      val ids = spark.table(t).collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == (0L until 20L).filterNot(_ == 7L), s"$t: $ids")
    }
    // The planner's row estimate is net of delete vectors.
    val stats = spark.table(mor).queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_.toLong == 19L),
      s"MOR row estimate must subtract delete vectors: ${stats.rowCount}")
  }

  test("merge-on-read MERGE: updates land as delete+insert; base file untouched; DVs are versioned (time travel)") {
    val tbl = fresh("mor_merge")
    mkMorBase(tbl) // v1: one file, positions == ids 0..19
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT id FROM range(0, 25)) s ON t.id = s.id
         |WHEN MATCHED AND t.id < 5 THEN UPDATE SET v = t.v + 1
         |WHEN MATCHED AND t.id >= 15 THEN DELETE
         |WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (s.id, 'new', s.id)
         |""".stripMargin)
    val st = CowStore.get(cat, identOf(tbl)).get
    val base = st.filesAt(1L).head
    // The base file is still in the current snapshot (nothing rewritten);
    // inserts (20..24 plus the 5 updated rows) arrived as NEW files.
    assert(st.files.contains(base), "delta writes must keep the base file")
    assert(st.files.length > 1, "inserted/updated rows must be in new files")
    // Updates (ids 0..4) + deletes (ids 15..19) = positions 0..4 and
    // 15..19 of the base file, exactly.
    assert(st.deletes(base) == ((0L to 4L) ++ (15L to 19L)).toVector,
      s"unexpected delete vector: ${st.deletes}")
    val got = spark.table(tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    val want = (0L until 5L).map(i => (i, i * 10 + 1)) ++
      (5L until 15L).map(i => (i, i * 10)) ++
      (20L until 25L).map(i => (i, i))
    assert(got == want, s"MOR MERGE final state wrong: $got")
    // Delete vectors are part of the SNAPSHOT: v1 still reads all 20
    // pristine rows (time travel must un-delete).
    val v1 = spark.sql(s"SELECT id, v FROM $tbl VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(v1 == (0L until 20L).map(i => (i, i * 10)),
      "the pre-merge snapshot must read rows its successors deleted")
  }

  test("merge-on-read compaction folds delete vectors (self-overwrite leaves none)") {
    val tbl = fresh("mor_compact")
    mkMorBase(tbl)
    spark.sql(s"DELETE FROM $tbl WHERE id % 3 = 0")
    val mid = CowStore.get(cat, identOf(tbl)).get
    assert(mid.deletes.nonEmpty)
    spark.sql(s"INSERT OVERWRITE $tbl SELECT /*+ COALESCE(1) */ * FROM $tbl")
    val st = CowStore.get(cat, identOf(tbl)).get
    assert(st.deletes.isEmpty,
      "compaction must fold delete vectors into the rewrite")
    assert(st.files.length == 1)
    val ids = spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 20L).filter(_ % 3 != 0))
  }

  test("write-write conflicts throw instead of corrupting (group replace + delta deletes)") {
    // Group path: replacing a file a concurrent commit already replaced.
    val tbl = fresh("conflict")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $tbl SELECT id, 't', id FROM range(0, 5, 1, 1)")
    val ident = identOf(tbl)
    val f = CowStore.get(cat, ident).get.files.head
    CowStore.commit(cat, ident, Seq.empty, Some(Set(f))) // first wins
    val e1 = intercept[java.util.ConcurrentModificationException] {
      CowStore.commit(cat, ident, Seq.empty, Some(Set(f))) // stale rewrite
    }
    assert(e1.getMessage.contains("write-write conflict"))
    // Delta path: double-delete of one position, and deletes against a
    // file no concurrent snapshot holds.
    val mor = fresh("conflict_mor")
    mkMorBase(mor)
    val mident = identOf(mor)
    val mf = CowStore.get(cat, mident).get.files.head
    CowStore.commitDelta(cat, mident, Seq.empty, Map.empty,
      Map(mf -> Vector(3L)))
    val e2 = intercept[java.util.ConcurrentModificationException] {
      CowStore.commitDelta(cat, mident, Seq.empty, Map.empty,
        Map(mf -> Vector(3L)))
    }
    assert(e2.getMessage.contains("already deleted"))
    val e3 = intercept[java.util.ConcurrentModificationException] {
      CowStore.commitDelta(cat, mident, Seq.empty, Map.empty,
        Map("/no/such/file.parquet" -> Vector(0L)))
    }
    assert(e3.getMessage.contains("concurrent commit replaced"))
  }

  test("streaming ANN maintenance: epochs are atomic, a mid-stream probe sees complete cells only, re-embeds supersede") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val d = sfDir
    val src = fresh("annsrc")
    val idx = fresh("annidx")
    spark.sql(s"CREATE TABLE $src (vec_id BIGINT, emb_csv STRING) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"CREATE TABLE $idx (vec_id BIGINT NOT NULL, cid BIGINT, " +
      "code BIGINT) PARTITIONED BY (cid) " +
      "TBLPROPERTIES ('graft.mode' = 'mor', 'graft.delete-key' = 'vec_id')")
    val e = graft.Tables.embeddings(spark, d).filter(col("vec_id") =!= 0)
    val csv = e.select(col("vec_id"),
      expr("array_join(transform(embedding, x -> CAST(x AS STRING)), ',')")
        .as("emb_csv"))
    val staleCsv = e.select(col("vec_id"),
      expr("array_join(transform(reverse(embedding), x -> CAST(x AS STRING)), ',')")
        .as("emb_csv"))
    // Batch-side reference encoder: the SAME per-row expressions over any
    // (vec_id, emb_csv) relation — what the index must equal at any epoch.
    def encodeRef(rows: org.apache.spark.sql.DataFrame) = rows
      .select(col("vec_id"),
        expr("transform(split(emb_csv, ','), x -> CAST(x AS FLOAT))")
          .as("embedding"))
      .crossJoin(Similarity.annQuantizers(spark, d))
      .select(col("vec_id"), Similarity.encodeCid.as("cid"),
        Similarity.encodeCode.as("code"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    def idxState() = spark.sql(
      s"SELECT vec_id, cid, code FROM $idx ORDER BY vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ck = java.nio.file.Files.createTempDirectory("annspec_ck_").toString
    val ident = identOf(idx)
    // Epoch 1: first wave, every 7th vector stale (reversed dims).
    val wave1 = csv.filter(col("vec_id") % 7 =!= 3)
      .unionAll(staleCsv.filter(col("vec_id") % 7 === 3))
    wave1.writeTo(src).append()
    val v0 = CowStore.get(cat, ident).get.version
    Similarity.annStreamDrain(spark, d, src, idx, ck)
    val v1 = CowStore.get(cat, ident).get.version
    assert(v1 == v0 + 1,
      "one pending commit must drain as exactly ONE atomic epoch commit")
    assert(idxState() == encodeRef(wave1),
      "the mid-stream index must equal the batch encode of epoch 1 — " +
        "complete cells, stale values included")
    // Epoch 2: the re-embeds — corrected values supersede BY KEY.
    csv.filter(col("vec_id") % 7 === 3).writeTo(src).append()
    Similarity.annStreamDrain(spark, d, src, idx, ck)
    val v2 = CowStore.get(cat, ident).get.version
    assert(v2 == v1 + 1)
    assert(idxState() == encodeRef(csv),
      "re-embedded vectors must supersede their stale codes, one row per key")
    // A probe pinned mid-stream stays on its complete epoch (snapshot
    // isolation is what makes 'never sees a half-written cell' true for
    // a reader concurrent with the sink's commits).
    val pinned = spark.sql(
      s"SELECT vec_id, cid, code FROM $idx VERSION AS OF $v1 ORDER BY vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pinned == encodeRef(wave1),
      "a reader pinned at epoch 1 must keep seeing exactly epoch 1")
    // The stream-maintained index equals the from-scratch batch build.
    assert(idxState() ==
      Similarity.annCodesPacked(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq,
      "the maintained index must bit-match the batch rebuild")
  }

  test("ANN delete propagation: erased vectors leave the index; re-embeds stay single-row; idempotent keyed retire") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val d = sfDir
    val src = fresh("anngcsrc")
    val idx = fresh("anngcidx")
    spark.sql(s"CREATE TABLE $src (vec_id BIGINT, emb_csv STRING) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"CREATE TABLE $idx (vec_id BIGINT NOT NULL, cid BIGINT, " +
      "code BIGINT) PARTITIONED BY (cid) " +
      "TBLPROPERTIES ('graft.mode' = 'mor', 'graft.delete-key' = 'vec_id')")
    val e = graft.Tables.embeddings(spark, d).filter(col("vec_id") =!= 0)
    e.select(col("vec_id"),
      expr("array_join(transform(embedding, x -> CAST(x AS STRING)), ',')")
        .as("emb_csv")).writeTo(src).append()
    val ck = java.nio.file.Files.createTempDirectory("anngcspec_ck_").toString
    Similarity.annGcDrain(spark, d, src, idx, ck)
    def idxKeys() = spark.sql(s"SELECT vec_id FROM $idx ORDER BY vec_id")
      .collect().map(_.getLong(0)).toSeq
    val all = e.select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(idxKeys() == all, "the seed drain must index the whole corpus")
    // Erasure upstream → keys leave the index, survivors untouched.
    spark.sql(s"DELETE FROM $src WHERE vec_id % 11 = 5")
    Similarity.annGcDrain(spark, d, src, idx, ck)
    assert(idxKeys() == all.filterNot(_ % 11 == 5),
      "erased vectors must leave the index, survivors must stay")
    // A re-embed arrives as a fresh insert for an existing key: the net
    // action retires the stale code first — exactly one row per key.
    val k = all.filterNot(_ % 11 == 5).head
    spark.sql(s"INSERT INTO $src SELECT vec_id, " +
      "array_join(reverse(split(emb_csv, ',')), ',') " +
      s"FROM $src WHERE vec_id = $k")
    Similarity.annGcDrain(spark, d, src, idx, ck)
    val rows = spark.sql(s"SELECT vec_id FROM $idx WHERE vec_id = $k")
      .collect()
    assert(rows.length == 1, s"a re-embedded key must stay single-row")
    assert(idxKeys() == all.filterNot(_ % 11 == 5))
  }

  test("merge with schema evolution: one atomic commit; parent keeps the pre-merge shape; durable; loud guards") {
    import org.apache.spark.sql.functions.{col, lit}
    val tbl = fresh("mevolve")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id * 10 FROM range(0, 10, 1, 1)")
    val ident = identOf(tbl)
    val v1 = CowStore.get(cat, ident).get.version
    // Source covers the target AND carries a new column; keys 5..14
    // overlap 5..9 (replaced wholesale) and add 10..14.
    val src = spark.range(5, 15).select(col("id"),
      (col("id") * 100).as("v"), (col("id") + 1000).as("w"))
    CowStore.mergeEvolve(cat, ident, src)
    val st = CowStore.get(cat, ident).get
    assert(st.version == v1 + 1,
      "schema evolution + data + deletes must land in ONE commit")
    val got = spark.sql(s"SELECT id, v, w FROM $tbl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == (0L until 5L).map(i => (i, i * 10, -1L)) ++
      (5L until 15L).map(i => (i, i * 100, i + 1000)),
      s"pre-merge files must read NULL for the evolved column: $got")
    // Zero target files read/removed: the pre-merge file survives.
    assert(st.snapshot.eqDeletes.nonEmpty && st.deletes.isEmpty)
    // Time travel to the parent: pre-merge shape, pre-merge rows.
    val parent = spark.sql(s"SELECT * FROM $tbl VERSION AS OF $v1")
    assert(parent.schema.fieldNames.toSeq == Seq("id", "v"),
      "the parent snapshot must keep the pre-merge schema")
    assert(parent.count() == 10)
    // Fresh field id: renaming the evolved column later is safe.
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN w TO w2")
    assert(spark.sql(s"SELECT sum(w2) FROM $tbl").head.getLong(0) ==
      (5L until 15L).map(_ + 1000).sum)
    // Durability: evict + recover from manifests alone.
    val before = CowStore.get(cat, ident).get
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, before.dir)
    assert(rec.schema.fieldNames.toSeq == Seq("id", "v", "w2") &&
      rec.snapshot.fieldIds == before.snapshot.fieldIds)
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 15L)
    // Guards: non-keyed tables refuse; a source missing a target column
    // refuses; a tombstoned name refuses.
    val plain = fresh("mevolve_plain")
    spark.sql(s"CREATE TABLE $plain (id BIGINT, v BIGINT)")
    assert(intercept[Exception](CowStore.mergeEvolve(cat, identOf(plain),
      src)).toString.contains("delete-key"))
    assert(intercept[Exception](CowStore.mergeEvolve(cat, ident,
      src.select(col("id"), col("w").as("w3"))))
      .toString.contains("lacks target column"))
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN w2")
    assert(intercept[Exception](CowStore.mergeEvolve(cat, ident,
      spark.range(0, 1).select(col("id"), lit(1L).as("v"),
        lit(2L).as("w2")))).toString.contains("DROPPED"))
    // Duplicate keys break the replaced-wholesale promise — refuse.
    assert(intercept[Exception](CowStore.mergeEvolve(cat, ident,
      spark.range(0, 2).select(lit(77L).as("id"), col("id").as("v"),
        (col("id") + 9000L).as("w9"))))
      .toString.contains("duplicate key"))
    assert(!CowStore.get(cat, ident).get.schema.fieldNames.contains("w9"),
      "a refused evolving merge must not evolve the schema")
  }

  test("resurrection guard: a group rewrite refuses when concurrent deletes landed on its groups") {
    // Positional path: a rewrite planned BEFORE a MOR DELETE must not
    // commit — blindly folding the new delete vector away with the
    // replaced file would re-materialize the deleted rows.
    val tbl = fresh("resurrect")
    mkMorBase(tbl)
    val ident = identOf(tbl)
    val st0 = CowStore.get(cat, ident).get
    val f = st0.files.head
    val readDvs0 = Map(f -> st0.deletes.getOrElse(f, Vector.empty).length)
    val readEq0 = st0.snapshot.eqDeletes.map(_.version).toSet
    spark.sql(s"DELETE FROM $tbl WHERE id = 3") // concurrent: DV grows
    val e = intercept[java.util.ConcurrentModificationException] {
      CowStore.commit(cat, ident, Seq.empty, Some(Set(f)), Map.empty, None,
        readDvs = Some(readDvs0), readEqVersions = Some(readEq0))
    }
    assert(e.getMessage.contains("resurrect"), s"$e")
    // Reading the CURRENT delete state commits fine (the compaction flow).
    val st1 = CowStore.get(cat, ident).get
    CowStore.commit(cat, ident, Seq.empty, Some(Set(f)), Map.empty, None,
      readDvs = Some(Map(f -> st1.deletes(f).length)),
      readEqVersions = Some(st1.snapshot.eqDeletes.map(_.version).toSet))
    // Equality path: an entry landing after the read refuses too (the
    // rewrite's re-sequenced rows would escape it).
    val eqt = fresh("resurrect_eq")
    spark.sql(s"CREATE TABLE $eqt (id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    spark.sql(s"INSERT INTO $eqt SELECT id, id FROM range(0, 10, 1, 1)")
    val ident2 = identOf(eqt)
    val st2 = CowStore.get(cat, ident2).get
    val f2 = st2.files.head
    val readEq2 = st2.snapshot.eqDeletes.map(_.version).toSet
    spark.sql(s"DELETE FROM $eqt WHERE id IN (2, 4)") // new eq entry
    val e2 = intercept[java.util.ConcurrentModificationException] {
      CowStore.commit(cat, ident2, Seq.empty, Some(Set(f2)), Map.empty, None,
        readDvs = Some(Map(f2 -> 0)), readEqVersions = Some(readEq2))
    }
    assert(e2.getMessage.contains("equality-delete"), s"$e2")
    // The guarded flows still work end to end: compaction after churn.
    val name = eqt.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.optimize('$name', ${64L * 1024 * 1024}L)")
    assert(spark.table(eqt).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 10L).filterNot(Set(2L, 4L)))
  }

  test("automatic commit retry: conflicts re-run against the new head; non-conflicts and exhaustion stay loud") {
    import graft.operators.RowLevelOps
    // Loop mechanics, deterministically: a wrapped conflict on attempts
    // 1-2, success at 3 — retried exactly twice.
    var calls = 0
    val (v, used) = RowLevelOps.retryOnConflict(3) { a =>
      calls += 1
      if (a < 3) throw new RuntimeException("spark wrapper",
        new CowStore.CommitConflictException("graft-cow: staged"))
      "ok"
    }
    assert(v == "ok" && used == 3 && calls == 3)
    // Exhaustion: persistent contention surfaces the conflict.
    intercept[java.util.ConcurrentModificationException] {
      RowLevelOps.retryOnConflict(2)(_ =>
        throw new CowStore.CommitConflictException("persistent"))
    }
    // Non-conflict failures never retry — a broken statement is not a race.
    var n = 0
    intercept[IllegalArgumentException] {
      RowLevelOps.retryOnConflict(3) { _ =>
        n += 1; throw new IllegalArgumentException("broken")
      }
    }
    assert(n == 1)
    // A BARE JDK ConcurrentModificationException (a collection mutated
    // inside user code, NOT a commit conflict) must never re-run the
    // statement — only the store's dedicated type retries (r17 ADVICE).
    var m = 0
    intercept[java.util.ConcurrentModificationException] {
      RowLevelOps.retryOnConflict(3) { _ =>
        m += 1; throw new java.util.ConcurrentModificationException("user bug")
      }
    }
    assert(m == 1, "a bare CME must not be treated as a commit conflict")
    // Integration: two barrier-aligned writers, SAME single-file table,
    // row-disjoint COW DELETEs through retrySql — both land, neither
    // errors, the final state is the serial application. Interleaving is
    // scheduler-dependent, so rounds repeat until a retry is OBSERVED
    // (every round asserts correctness regardless).
    var sawRetry = false
    var round = 0
    while (!sawRetry && round < 8) {
      round += 1
      val tbl = fresh(s"retry$round")
      spark.sql(s"CREATE TABLE $tbl (id BIGINT, v BIGINT)")
      spark.sql(
        s"INSERT INTO $tbl SELECT id, id FROM range(0, 40, 1, 1)")
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val attempts =
        try {
          val fs = Seq("id % 2 = 0", "id % 2 = 1 AND id % 5 = 0").map { pred =>
            pool.submit(new java.util.concurrent.Callable[Int] {
              override def call(): Int = {
                barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
                RowLevelOps.retrySql(spark, s"DELETE FROM $tbl WHERE $pred")._2
              }
            })
          }
          fs.map(_.get())
        } finally pool.shutdown()
      if (attempts.exists(_ > 1)) sawRetry = true
      val got = spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == (0L until 40L).filter(i => i % 2 == 1 && i % 5 != 0),
        s"round $round: racing writers corrupted the table")
    }
    assert(sawRetry,
      "8 rounds of barrier-aligned single-file writers never conflicted — " +
        "the retry path went unexercised")
  }

  test("commit log: a fresh session recovers history, stats, schema and delete vectors from manifests") {
    val tbl = fresh("recover")
    mkMorBase(tbl) // v1
    spark.sql(s"DELETE FROM $tbl WHERE id < 3") // v2: delete vector
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN w BIGINT") // v3: schema commit
    val before = CowStore.get(cat, identOf(tbl)).get
    val rowsBefore = spark.table(tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    // Simulate a fresh session: forget the in-memory state, then rebuild
    // it from the on-disk commit log alone.
    CowStore.evict(cat, identOf(tbl))
    assert(CowStore.get(cat, identOf(tbl)).isEmpty)
    val rec = CowStore.recover(cat, identOf(tbl), before.dir)
    assert(rec.version == before.version && rec.mor == before.mor)
    assert(rec.history == before.history,
      "recovered version history (files, DVs, schemas) must be exact")
    assert(rec.stats == before.stats,
      "recovered write-time file stats must be exact")
    val rowsAfter = spark.table(tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(rowsAfter == rowsBefore,
      "the recovered table must read identically")
    assert(spark.table(tbl).columns.contains("w"),
      "the recovered schema must include the evolved column")
    // Time travel works across the restart (history recovered).
    val v1 = spark.sql(s"SELECT id FROM $tbl VERSION AS OF 1").count()
    assert(v1 == 20L, "pre-delete snapshot must read all rows post-restart")
  }

  test("VACUUM deletes horizon-only files, keeps the current version intact, and fails loud time travel") {
    val tbl = fresh("vac")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)") // v0
    spark.sql(s"INSERT INTO $tbl SELECT id, 't', id FROM range(0, 20, 1, 1)") // v1
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id >= 0") // v2: rewrite
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id >= 0") // v3: rewrite
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    val f1 = st.snapshotAt(1L).files.head
    val name = tbl.split("\\.").last
    val report = spark.sql(s"CALL $cat.vacuum('spec.$name', 2)").collect()
    assert(report.length == 1)
    assert(report.head.getLong(0) == 1L, // removed_files: v1's original
      s"expected 1 removed file, got ${report.head}")
    assert(report.head.getLong(1) == 2L, // removed_versions: v0, v1
      s"expected 2 removed versions, got ${report.head}")
    assert(report.head.getLong(2) == 2L) // retained_from
    assert(!new java.io.File(f1).exists(),
      "the horizon-only file must be deleted from disk")
    val after = CowStore.get(cat, ident).get
    assert(after.history.keySet == Set(2L, 3L))
    assert(after.files.forall(f => new java.io.File(f).exists()))
    // Current version untouched.
    val got = spark.table(tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got == (0L until 20L).map(i => (i, i + 2)))
    // Time travel past the horizon fails loudly at resolution.
    val e = intercept[Exception] {
      spark.sql(s"SELECT id FROM $tbl VERSION AS OF 1").collect()
    }
    assert(e.toString.contains("no such version") ||
      Option(e.getCause).exists(_.toString.contains("no such version")))
    // The pruned commit log stays recoverable.
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, after.dir)
    assert(rec.history.keySet == Set(2L, 3L) && rec.version == 3L)
  }

  test("ADD COLUMN: pre-evolution files read NULL; VERSION AS OF reads the old schema; bad ALTERs fail loudly") {
    val tbl = fresh("evolve")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $tbl SELECT id, 't', id FROM range(0, 5, 1, 1)") // v1
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN w BIGINT") // v2
    spark.sql(s"INSERT INTO $tbl SELECT id, 'u', id, id * 7 FROM range(5, 10, 1, 1)") // v3
    val got = spark.table(tbl).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(got == (0L until 5L).map(i => (i, -1L)) ++
      (5L until 10L).map(i => (i, i * 7)),
      s"pre-evolution rows must read NULL for the added column: $got")
    // Snapshots pin SCHEMA, not just files: the pre-evolution version
    // reads the 3-column shape.
    val v1 = spark.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("id", "tag", "v"),
      s"pre-evolution snapshot must read the old schema: ${v1.columns.toSeq}")
    assert(v1.count() == 5L)
    // Unsupported ALTERs are rejected loudly, state unchanged.
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $tbl ADD COLUMN bad INT") // unsupported type
    }
    intercept[Exception] {
      // type changes stay unsupported (RENAME COLUMN is supported since
      // field ids landed — its own spec covers it)
      spark.sql(s"ALTER TABLE $tbl ALTER COLUMN v TYPE DOUBLE")
    }
    assert(CowStore.get(cat, identOf(tbl)).get.schema.fieldNames.toSeq ==
      Seq("id", "tag", "v", "w"))
  }

  test("the MOR MERGE plans WriteDelta (no group rewrite); the COW MERGE plans ReplaceData (no delta)") {
    // Strategy tripwire: if CowMorOperation ever stopped implementing
    // SupportsDelta (or the COW op started), results would stay correct
    // but the write-amplification contract would silently invert — pin
    // the PLANNED write node per mode.
    def mergePlan(tbl: String): String = {
      spark.sql(
        s"""MERGE INTO $tbl t USING (SELECT id, id * 5 AS nv FROM range(0, 9)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.nv
           |WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (s.id, 'x', s.nv)
           |""".stripMargin)
      // The command already ran; re-plan it via EXPLAIN for the text.
      spark.sql(
        s"""EXPLAIN EXTENDED MERGE INTO $tbl t
           |USING (SELECT id, id * 5 AS nv FROM range(0, 9)) s
           |ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET v = s.nv
           |WHEN NOT MATCHED THEN INSERT (id, tag, v) VALUES (s.id, 'x', s.nv)
           |""".stripMargin).collect().map(_.getString(0)).mkString("\n")
    }
    val mor = fresh("plan_mor")
    mkMorBase(mor)
    val morPlan = mergePlan(mor)
    assert(morPlan.contains("WriteDelta") && !morPlan.contains("ReplaceData"),
      s"MOR MERGE must plan a delta write:\n$morPlan")
    val cow = fresh("plan_cow")
    mkBase(cow)
    val cowPlan = mergePlan(cow)
    assert(cowPlan.contains("ReplaceData") && !cowPlan.contains("WriteDelta"),
      s"COW MERGE must plan the group rewrite:\n$cowPlan")
  }

  test("VACUUM on a MOR table deletes only horizon files and keeps current delete vectors") {
    val tbl = fresh("vac_mor")
    mkMorBase(tbl) // v1: one file
    spark.sql(s"DELETE FROM $tbl WHERE id < 3") // v2: DV on the base file
    spark.sql(s"INSERT OVERWRITE $tbl SELECT /*+ COALESCE(1) */ * FROM $tbl") // v3: compaction
    spark.sql(s"DELETE FROM $tbl WHERE id = 10") // v4: DV on the compacted file
    val ident = identOf(tbl)
    val before = CowStore.get(cat, ident).get
    val baseFile = before.snapshotAt(1L).files.head
    val name = tbl.split("\\.").last
    spark.sql(s"CALL $cat.vacuum('spec.$name', 2)").collect() // keep v3, v4
    val after = CowStore.get(cat, ident).get
    assert(!new java.io.File(baseFile).exists(),
      "the pre-compaction file (horizon-only) must be deleted")
    assert(after.deletes.values.map(_.length).sum == 1,
      s"the CURRENT delete vector must survive vacuum: ${after.deletes}")
    val ids = spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 20L).filter(i => i >= 3 && i != 10L),
      s"post-vacuum MOR read must apply the surviving DV: $ids")
  }

  test("q_stream_merge_mor: streaming upsert through delta commits == batch argmax") {
    import graft.streaming.StreamOps
    val got = StreamOps.queries("q_stream_merge_mor")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val want = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("event_type"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
          .orderBy(col("us").desc, col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("us"), col("event_id"), col("event_type"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == want && got.nonEmpty,
      "the merge-on-read streaming upsert must land on the per-user argmax")
  }

  test("CTAS/RTAS are atomic: a failing CTAS leaves no table, a failing RTAS leaves the old state; RTAS keeps history") {
    val tbl = fresh("ctas")
    val ident = identOf(tbl)
    // Failing CTAS: the SELECT throws mid-write -> no table registered.
    intercept[Exception] {
      spark.sql(
        s"""CREATE TABLE $tbl AS
           |SELECT id, assert_true(id < 3) AS bad FROM range(0, 100, 1, 1)""".stripMargin)
    }
    assert(CowStore.get(cat, ident).isEmpty,
      "a failed CTAS must not leave a half-created table")
    // Successful CTAS: v0 (empty) + v1 (files) lineage, like CREATE+INSERT.
    spark.sql(s"CREATE TABLE $tbl AS SELECT id, id * 10 AS v FROM range(0, 10, 1, 1)")
    assert(CowStore.get(cat, ident).get.version == 1L)
    assert(spark.table(tbl).count() == 10L)
    // Failing RTAS: old content intact, version unchanged.
    intercept[Exception] {
      spark.sql(
        s"""REPLACE TABLE $tbl AS
           |SELECT id, assert_true(id < 3) AS bad FROM range(0, 100, 1, 1)""".stripMargin)
    }
    assert(CowStore.get(cat, ident).get.version == 1L &&
      spark.table(tbl).count() == 10L,
      "a failed RTAS must leave the table untouched")
    // Successful RTAS: one new version on the SAME history — the
    // pre-replace snapshot stays time-travelable, schema swaps wholesale.
    spark.sql(s"REPLACE TABLE $tbl AS SELECT id, concat('t', CAST(id AS STRING)) AS tag FROM range(0, 5, 1, 1)")
    val st = CowStore.get(cat, ident).get
    assert(st.version == 2L && st.schema.fieldNames.toSeq == Seq("id", "tag"))
    assert(spark.table(tbl).count() == 5L)
    val v1 = spark.sql(s"SELECT id, v FROM $tbl VERSION AS OF 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(v1 == (0L until 10L).map(i => (i, i * 10)),
      "the pre-replace snapshot must stay readable with its OLD schema")
    // CTAS honors table properties: a merge-on-read CTAS deletes via DVs.
    val morT = fresh("ctas_mor")
    spark.sql(s"CREATE TABLE $morT TBLPROPERTIES ('graft.mode' = 'mor') AS " +
      "SELECT id, id * 2 AS v FROM range(0, 10, 1, 1)")
    spark.sql(s"DELETE FROM $morT WHERE id = 4")
    val morSt = CowStore.get(cat, identOf(morT)).get
    assert(morSt.mor && morSt.deletes.values.map(_.length).sum == 1,
      s"a mor CTAS table must delete via delete vectors: ${morSt.deletes}")
  }

  test("metadata relations: <table>.files serves write-time stats + DV sizes, <table>.history the version lineage") {
    val tbl = fresh("meta")
    mkMorBase(tbl) // v1: one file, ids 0..19
    spark.sql(s"DELETE FROM $tbl WHERE id < 3") // v2: 3-entry DV
    val files = spark.sql(
      s"SELECT file, n_rows, n_deletes, min_id, max_id FROM $tbl.files").collect()
    assert(files.length == 1)
    assert(files.head.getLong(1) == 20L && files.head.getLong(2) == 3L,
      s"files relation must carry raw rows + DV size: ${files.toSeq}")
    assert(files.head.getLong(3) == 0L && files.head.getLong(4) == 19L,
      "files relation must carry the write-time [min, max] ranges")
    val hist = spark.sql(
      s"SELECT version, n_files, n_rows, n_deletes FROM $tbl.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(hist == Seq((0L, 0L, 0L, 0L), (1L, 1L, 20L, 0L), (2L, 1L, 17L, 3L)),
      s"history relation must read back the exact lineage: $hist")
    // A non-metadata suffix still fails loudly.
    intercept[Exception] { spark.sql(s"SELECT * FROM $tbl.nope").collect() }
  }

  test("streaming table read: checkpointed resume serves only new commits; non-append and DV commits fail loudly") {
    import org.apache.spark.sql.streaming.Trigger
    val tbl = fresh("tail")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $tbl SELECT id, 'a', id FROM range(0, 10, 1, 1)")
    val outDir = java.nio.file.Files.createTempDirectory("cow_tail_out_").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("cow_tail_ck_").toString
    def drain(): Unit =
      spark.readStream.table(tbl)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    drain()
    def served(): Seq[Long] =
      spark.read.parquet(outDir).collect().map(_.getLong(0)).sorted.toSeq
    assert(served() == (0L until 10L), "first drain must serve the full table")
    // Two more commits; the SAME checkpoint resumes and serves ONLY them —
    // exactly once, no re-serving of the first batch's files.
    spark.sql(s"INSERT INTO $tbl SELECT id, 'b', id FROM range(10, 15, 1, 1)")
    spark.sql(s"INSERT INTO $tbl SELECT id, 'c', id FROM range(15, 20, 1, 1)")
    drain()
    assert(served() == (0L until 20L),
      "resume must serve exactly the newly-committed rows")
    // A row-level rewrite invalidates already-served files: loud failure.
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id < 3")
    val e = intercept[Exception] { drain() }
    assert(e.toString.contains("NON-APPEND") ||
      Option(e.getCause).exists(_.toString.contains("NON-APPEND")),
      s"a replaced-file commit must fail the stream loudly: $e")
    // MOR twin: a delete-vector commit on a served file also fails.
    val mor = fresh("tail_mor")
    mkMorBase(mor)
    val ck2 = java.nio.file.Files.createTempDirectory("cow_tail_ck2_").toString
    val out2 = java.nio.file.Files.createTempDirectory("cow_tail_out2_").toString
    def drain2(): Unit =
      spark.readStream.table(mor)
        .writeStream.format("parquet")
        .option("path", out2).option("checkpointLocation", ck2)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    drain2()
    spark.sql(s"DELETE FROM $mor WHERE id = 5")
    val e2 = intercept[Exception] { drain2() }
    assert(e2.toString.contains("DELETE-VECTOR") ||
      Option(e2.getCause).exists(_.toString.contains("DELETE-VECTOR")),
      s"a DV commit on served files must fail the stream loudly: $e2")
  }

  test("tags: VERSION AS OF '<name>' resolves, survives recovery, and protects its version from VACUUM") {
    val tbl = fresh("tags")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)") // v0
    spark.sql(s"INSERT INTO $tbl SELECT id, 't', id FROM range(0, 10, 1, 1)") // v1
    val name = tbl.split("\\.").last
    spark.sql(s"CALL $cat.tag('spec.$name', 'baseline', 1)")
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id >= 0") // v2
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id >= 0") // v3
    def tagRows() = spark.sql(s"SELECT id, v FROM $tbl VERSION AS OF 'baseline'")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(tagRows() == (0L until 10L).map(i => (i, i)),
      "the tag must read the pristine pinned snapshot")
    // VACUUM retain 2 would drop v0+v1 — but v1 is TAGGED, so it (and its
    // file) survives; only v0 (empty) is dropped.
    spark.sql(s"CALL $cat.vacuum('spec.$name', 2)")
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    assert(st.history.keySet == Set(1L, 2L, 3L),
      s"the tagged version must survive vacuum: ${st.history.keySet}")
    assert(tagRows() == (0L until 10L).map(i => (i, i)),
      "the tagged snapshot must stay readable after vacuum")
    // Tags are durable: a fresh session recovers them from _log/tags.tsv.
    CowStore.evict(cat, ident)
    CowStore.recover(cat, ident, st.dir)
    assert(tagRows() == (0L until 10L).map(i => (i, i)),
      "tags must survive a session restart")
    // Unknown tag and untagged-vacuumed version both fail loudly.
    val e = intercept[Exception] {
      spark.sql(s"SELECT id FROM $tbl VERSION AS OF 'nope'").collect()
    }
    assert(e.toString.contains("neither a commit number") ||
      Option(e.getCause).exists(_.toString.contains("neither a commit number")))
    intercept[Exception] { CowStore.setTag(cat, ident, "late", 0L) } // vacuumed
  }

  test("streaming sink: epoch commits are idempotent and durably so; sink + source compose into a streaming hop") {
    import graft.sources.{CowCommitMessage, CowTable}
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val tbl = fresh("sink")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)")
    val ident = identOf(tbl)
    val writeSchema = StructType(Seq(StructField("id", LongType),
      StructField("tag", StringType), StructField("v", LongType)))
    val info = new LogicalWriteInfo {
      override def options() = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())
      override def queryId(): String = "spec-stream-query"
      override def schema(): StructType = writeSchema
    }
    def streamingWrite() =
      new CowTable(cat, ident).newWriteBuilder(info).build().toStreaming
    def writeEpoch(sw: org.apache.spark.sql.connector.write.streaming.StreamingWrite,
                   epoch: Long, ids: Range): org.apache.spark.sql.connector.write.WriterCommitMessage = {
      val w = sw.createStreamingWriterFactory(null).createWriter(0, 0, epoch)
      ids.foreach(i => w.write(new GenericInternalRow(
        Array[Any](i.toLong, UTF8String.fromString("t"), i.toLong * 2))))
      w.commit()
    }
    val sw = streamingWrite()
    sw.commit(0L, Array(writeEpoch(sw, 0L, 0 until 5)))
    def count() = spark.table(tbl).count()
    assert(count() == 5L)
    // A checkpoint-replayed epoch (same query, same epoch id) must be a
    // NO-OP: the retry's files are dropped, not appended twice.
    val retry = writeEpoch(sw, 0L, 0 until 5)
    sw.commit(0L, Array(retry))
    assert(count() == 5L, "a replayed epoch must not duplicate rows")
    val retryFile = retry.asInstanceOf[CowCommitMessage].files.head._1
    assert(!new java.io.File(retryFile).exists(),
      "the replayed epoch's files must be cleaned up")
    sw.commit(1L, Array(writeEpoch(sw, 1L, 5 until 8)))
    assert(count() == 8L)
    // The epoch watermark is DURABLE: after a simulated restart the
    // replay of an already-committed epoch is still a no-op.
    val dir = CowStore.get(cat, ident).get.dir
    CowStore.evict(cat, ident)
    CowStore.recover(cat, ident, dir)
    val sw2 = streamingWrite()
    sw2.commit(1L, Array(writeEpoch(sw2, 1L, 5 until 8)))
    assert(count() == 8L,
      "epoch idempotence must survive a session restart")
    // Compose the hop: the sink table is ALSO a streaming source — a
    // downstream consumer drains exactly the appended epochs.
    import org.apache.spark.sql.streaming.Trigger
    val outDir = java.nio.file.Files.createTempDirectory("cow_hop_").toString
    spark.readStream.table(tbl)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("cow_hop_ck_").toString)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val drained = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted.toSeq
    assert(drained == (0L until 8L).map(i => (i, i * 2)),
      s"the streaming hop must deliver every appended row exactly once: $drained")
  }

  test("streaming read fails loudly when VACUUM removed the checkpointed version") {
    import org.apache.spark.sql.streaming.Trigger
    val tbl = fresh("tail_vac")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $tbl SELECT id, 'a', id FROM range(0, 5, 1, 1)") // v1
    val outDir = java.nio.file.Files.createTempDirectory("cow_tv_out_").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("cow_tv_ck_").toString
    def drain(): Unit =
      spark.readStream.table(tbl)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    drain() // consumer checkpoint now at v1
    spark.sql(s"INSERT INTO $tbl SELECT id, 'b', id FROM range(5, 10, 1, 1)") // v2
    spark.sql(s"INSERT INTO $tbl SELECT id, 'c', id FROM range(10, 15, 1, 1)") // v3
    val name = tbl.split("\\.").last
    spark.sql(s"CALL $cat.vacuum('spec.$name', 2)") // drops v0 AND v1
    // The consumer's committed offset (v1) is past the retention horizon:
    // resuming must fail loudly, never silently re-serve or skip rows.
    val e = intercept[Exception] { drain() }
    assert(e.toString.contains("VACUUM removed") ||
      Option(e.getCause).exists(_.toString.contains("VACUUM removed")),
      s"a vacuumed checkpoint version must fail the stream loudly: $e")
  }

  test("TIMESTAMP AS OF resolves at-or-before, stamps are strictly increasing and recoverable, pre-create fails") {
    val tbl = fresh("ttts")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT)") // v0
    spark.sql(s"INSERT INTO $tbl SELECT id, 't', id * 10 FROM range(0, 10, 1, 1)") // v1
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id >= 0") // v2
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    val (ts0, ts1, ts2) = (st.commitTsUs(0L), st.commitTsUs(1L), st.commitTsUs(2L))
    assert(ts0 < ts1 && ts1 < ts2,
      s"commit stamps must be strictly increasing: $ts0 $ts1 $ts2")
    def vAt(us: Long): Seq[Long] =
      spark.sql(s"SELECT v FROM $tbl TIMESTAMP AS OF timestamp_micros(${us}L)")
        .collect().map(_.getLong(0)).sorted.toSeq
    // Exact stamp → that version; between stamps → rounds DOWN.
    assert(vAt(ts1) == (0L until 10L).map(_ * 10))
    assert(vAt(ts2 - 1) == (0L until 10L).map(_ * 10),
      "a timestamp between commits must resolve to the older one")
    assert(vAt(ts2) == (0L until 10L).map(_ * 10 + 1))
    // Before the table existed: loud error.
    val e = intercept[Exception] { vAt(ts0 - 1) }
    assert(e.toString.contains("no retained commit") ||
      Option(e.getCause).exists(_.toString.contains("no retained commit")))
    // Stamps ride the manifests: a recovered session time-travels the same.
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    assert(rec.commitTsUs == st.commitTsUs,
      "commit timestamps must recover from the log exactly")
    assert(vAt(ts2 - 1) == (0L until 10L).map(_ * 10))
  }

  // -----------------------------------------------------------------
  // Partitioned tables (identity / bucket / truncate transforms)
  // -----------------------------------------------------------------

  /** A partitioned base: 3 identity partitions on tag (t0/t1/t2). */
  private def mkPartitioned(tbl: String): Unit = {
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT) " +
      "PARTITIONED BY (tag)")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, concat('t', CAST(id % 3 AS STRING)), id * 10
         |FROM range(0, 30)""".stripMargin)
  }

  test("identity partition predicate prunes partitions at plan time (N of M in the scan)") {
    val tbl = fresh("partid")
    mkPartitioned(tbl)
    val df = spark.sql(s"SELECT id, v FROM $tbl WHERE tag = 't1'")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("1 of 3 partitions"),
      s"partition predicate must prune at plan time, got: $plan")
    // Pruning must be invisible to results.
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 30L).filter(_ % 3 == 1))
    // IN-set prunes to two partitions.
    val in2 = spark.sql(s"SELECT id FROM $tbl WHERE tag IN ('t0', 't2')")
    assert(in2.queryExecution.executedPlan.toString
      .contains("2 of 3 partitions"))
    assert(in2.count() == 20)
    // A non-partition predicate prunes nothing.
    assert(spark.sql(s"SELECT id FROM $tbl WHERE v > 100")
      .queryExecution.executedPlan.toString.contains("3 of 3 partitions"))
  }

  test("every data file belongs to exactly one partition; .files carries the tuple") {
    val tbl = fresh("partfiles")
    mkPartitioned(tbl)
    val st = CowStore.get(cat, identOf(tbl)).get
    assert(st.spec.map(_.describe) == Vector("tag"))
    // Each file's manifest entry records exactly one partition value and
    // the file's rows all share it.
    st.files.foreach { f =>
      val pv = st.stats(f).partVals
      assert(pv.length == 1, s"file $f has partition tuple $pv")
    }
    val parts = spark.sql(s"SELECT DISTINCT partition FROM $tbl.files")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(parts == Seq("t0", "t1", "t2"),
      s".files must surface encoded partition tuples, got $parts")
    // The clustered write distribution bounds file count at O(partitions):
    // 30 rows over 3 partitions must not fan out to one file per task.
    assert(st.files.size <= 6, s"expected O(partitions) files, got ${st.files.size}")
  }

  test("an UPDATE touching one partition leaves other partitions' files byte-identical") {
    val tbl = fresh("partupd")
    mkPartitioned(tbl)
    val ident = identOf(tbl)
    val before = CowStore.get(cat, ident).get
    def bytesOf(fs: Vector[String]): Map[String, Long] =
      fs.map(f => f -> new java.io.File(f).length()).toMap
    val beforeBytes = bytesOf(before.files)
    val otherPartFiles = before.files.filter(f =>
      before.stats(f).partVals.headOption.exists(_ != "t1")).toSet
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE tag = 't1'")
    val after = CowStore.get(cat, ident).get
    // Every non-t1 file SURVIVES the commit (not rewritten, not removed)
    // and its bytes are untouched.
    otherPartFiles.foreach { f =>
      assert(after.files.contains(f),
        s"partition-disjoint file $f must survive a one-partition UPDATE")
      assert(new java.io.File(f).length() == beforeBytes(f),
        s"partition-disjoint file $f was rewritten")
    }
    // t1's old files were replaced.
    assert(before.files.toSet -- after.files.toSet ==
      before.files.toSet -- otherPartFiles)
    // And the rewrite's new files stay in the t1 partition.
    (after.files.toSet -- before.files.toSet).foreach { f =>
      assert(after.stats(f).partVals == Vector("t1"))
    }
    assert(spark.table(tbl).filter(col("tag") === "t1")
      .collect().forall(r => r.getLong(2) == r.getLong(0) * 10 + 1))
  }

  test("bucket and truncate transforms route, prune, and recover") {
    val tbl = fresh("partbt")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT) " +
      "PARTITIONED BY (bucket(4, id), truncate(100, v))")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, concat('t', CAST(id % 3 AS STRING)), id * 10
         |FROM range(0, 40)""".stripMargin)
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    assert(st.spec.map(_.describe) ==
      Vector("bucket(4, id)", "truncate(100, v)"))
    // Every file's tuple is (bucketOf(id), floor(v/100)*100) — verify by
    // re-reading each file through the table filtered to that tuple.
    st.files.foreach { f =>
      val Vector(b, t) = st.stats(f).partVals
      assert(b.toLong >= 0 && b.toLong < 4)
      assert(t.toLong % 100 == 0)
    }
    // Equality on the bucket source column prunes to ONE bucket (the
    // pruning runs the literal through the same hash as the writer).
    val one = spark.sql(s"SELECT v FROM $tbl WHERE id = 17")
    val planB = one.queryExecution.executedPlan.toString
    assert(planB.contains("partitions [bucket(4, id),truncate(100, v)]"),
      s"scan must describe its partition spec: $planB")
    val partsRe = """(\d+) of (\d+) partitions""".r
    val m = partsRe.findFirstMatchIn(planB).get
    assert(m.group(1).toInt < m.group(2).toInt,
      s"bucket equality must prune partitions: $planB")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(170L))
    // Range on the truncate source column prunes bins outside the range.
    val rng = spark.sql(s"SELECT id FROM $tbl WHERE v >= 300")
    val m2 = partsRe.findFirstMatchIn(
      rng.queryExecution.executedPlan.toString).get
    assert(m2.group(1).toInt < m2.group(2).toInt,
      "truncate range must prune bins")
    assert(rng.collect().map(_.getLong(0)).sorted.toSeq == (30L until 40L))
    // The spec is durable: recovery from the manifest log restores it and
    // pruning still works in the recovered session.
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    assert(rec.spec == st.spec, "partition spec must recover from the log")
    assert(rec.stats.view.mapValues(_.partVals).toMap ==
      st.stats.view.mapValues(_.partVals).toMap)
  }

  test("days/hours transforms: timestamps round-trip, raw-ts ranges prune bins at plan time, spec recovers") {
    val tbl = fresh("partdays")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    // 8 UTC epoch days (1970-01-01..08) × 3 rows, each a few seconds into
    // its day — the writer must route every row to its day bin.
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, timestamp_micros(CAST(id % 8 AS BIGINT) * 86400000000
         |                            + id * 1000000), id * 10
         |FROM range(0, 24)""".stripMargin)
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    assert(st.spec.map(_.describe) == Vector("days(ts)"))
    st.files.foreach { f =>
      val Vector(d) = st.stats(f).partVals
      assert(d.toLong >= 0 && d.toLong < 8, s"file $f routed to day $d")
    }
    // Timestamps round-trip exactly through the annotated int64 file.
    val back = spark.sql(s"SELECT id, unix_micros(ts) FROM $tbl")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 24L).forall(i =>
      back(i) == (i % 8) * 86400000000L + i * 1000000L),
      "timestamp column must round-trip micros-exact")
    // A RANGE predicate on the RAW timestamp prunes to the covered day
    // bins at plan time — no derived partition column in the query.
    val q = spark.sql(
      s"""SELECT id FROM $tbl
         |WHERE ts >= TIMESTAMP '1970-01-03 00:00:00'
         |  AND ts <  TIMESTAMP '1970-01-05 00:00:00'""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("2 of 8 partitions"),
      s"raw-ts range must prune day bins at plan time: $plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 24L).filter(i => i % 8 == 2 || i % 8 == 3))
    // Equality on the raw timestamp prunes to ONE day.
    val one = spark.sql(
      s"SELECT id FROM $tbl WHERE ts = TIMESTAMP '1970-01-02 00:00:09'")
    assert(one.queryExecution.executedPlan.toString
      .contains("1 of 8 partitions"))
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(9L))
    // The spec survives recovery from the manifest log.
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    assert(rec.spec == st.spec, "days spec must recover from the log")
    // hours twin: same discipline at hour grain.
    val htbl = fresh("parthours")
    spark.sql(s"CREATE TABLE $htbl (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (hours(ts))")
    spark.sql(
      s"""INSERT INTO $htbl
         |SELECT id, timestamp_micros(CAST(id % 6 AS BIGINT) * 3600000000
         |                            + id * 1000000)
         |FROM range(0, 18)""".stripMargin)
    val hq = spark.sql(
      s"""SELECT id FROM $htbl
         |WHERE ts >= TIMESTAMP '1970-01-01 04:00:00'""".stripMargin)
    assert(hq.queryExecution.executedPlan.toString
      .contains("2 of 6 partitions"),
      "raw-ts range must prune hour bins at plan time")
    assert(hq.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 18L).filter(i => i % 6 >= 4))
    // months/years twins: CALENDAR bins (unequal widths — Feb is shorter
    // than Jan), range-pruned through LocalDate bin bounds, not a fixed
    // divisor. 4 months × 2 rows starting 1970-01-15.
    val mtbl = fresh("partmonths")
    spark.sql(s"CREATE TABLE $mtbl (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (months(ts))")
    spark.sql(
      s"""INSERT INTO $mtbl
         |SELECT id, timestamp'1970-01-15 00:00:00'
         |          + make_interval(0, CAST(id % 4 AS INT))
         |FROM range(0, 8)""".stripMargin)
    val mq = spark.sql(
      s"""SELECT id FROM $mtbl
         |WHERE ts >= TIMESTAMP '1970-03-01 00:00:00'""".stripMargin)
    assert(mq.queryExecution.executedPlan.toString
      .contains("2 of 4 partitions"),
      "raw-ts range must prune month bins at plan time")
    assert(mq.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 8L).filter(_ % 4 >= 2))
    // Equality inside February prunes to the (short) February bin only.
    val feb = spark.sql(
      s"SELECT id FROM $mtbl WHERE ts = TIMESTAMP '1970-02-15 00:00:00'")
    assert(feb.queryExecution.executedPlan.toString
      .contains("1 of 4 partitions"))
    assert(feb.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 5L))
    val ytbl = fresh("partyears")
    spark.sql(s"CREATE TABLE $ytbl (id BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (years(ts))")
    spark.sql(
      s"""INSERT INTO $ytbl
         |SELECT id, timestamp'1970-06-01 00:00:00'
         |          + make_interval(CAST(id % 3 AS INT))
         |FROM range(0, 9)""".stripMargin)
    val yq = spark.sql(
      s"SELECT id FROM $ytbl WHERE ts < TIMESTAMP '1971-01-01 00:00:00'")
    assert(yq.queryExecution.executedPlan.toString
      .contains("1 of 3 partitions"),
      "raw-ts range must prune year bins at plan time")
    assert(yq.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 9L).filter(_ % 3 == 0))
  }

  test("spec evolution: files prune under the spec that wrote them; history recovers; guards fall back") {
    val tbl = fresh("specevo")
    mkPartitioned(tbl) // identity(tag), ids 0..29
    val ident = identOf(tbl)
    val name = tbl.split("\\.").drop(1).mkString(".")
    val v0files = CowStore.get(cat, ident).get.files.toSet
    // Evolve to bucket(4, id): metadata-only commit, new writes route
    // under the new spec, old files keep their layout + spec id.
    val rep = spark.sql(s"CALL $cat.set_spec('$name', 'bucket(4, id)')")
      .collect().head
    assert(rep.getLong(0) == 1L && rep.getString(1) == "bucket(4, id)")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, concat('t', CAST(id % 3 AS STRING)), id * 10
         |FROM range(30, 60)""".stripMargin)
    val st = CowStore.get(cat, ident).get
    assert(st.specId == 1 && st.oldSpecs(0).map(_.describe) == Vector("tag"))
    v0files.foreach(f => assert(st.stats(f).specId == 0,
      s"pre-evolution file $f must keep spec id 0"))
    (st.files.toSet -- v0files).foreach(f => assert(st.stats(f).specId == 1,
      s"post-evolution file $f must carry the new spec id"))
    val partsRe = """(\d+) of (\d+) partitions""".r
    // A tag predicate prunes the OLD files under the OLD spec (new files
    // are unprunable by tag and kept — the residual filter decides).
    val q = spark.sql(s"SELECT id FROM $tbl WHERE tag = 't1'")
    val m = partsRe.findFirstMatchIn(q.queryExecution.executedPlan.toString).get
    assert(m.group(1).toInt < m.group(2).toInt,
      s"old-spec partitions must prune after evolution: ${m.matched}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 60L).filter(_ % 3 == 1))
    // An id equality prunes the NEW files via the bucket transform.
    val one = spark.sql(s"SELECT v FROM $tbl WHERE id = 42")
    val m2 = partsRe.findFirstMatchIn(one.queryExecution.executedPlan.toString).get
    assert(m2.group(1).toInt < m2.group(2).toInt,
      s"new-spec bucket must prune after evolution: ${m2.matched}")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(420L))
    // The full spec history (current id + superseded specs + per-file
    // ids) survives recovery from the manifest log.
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    assert(rec.specId == 1 && rec.spec == st.spec && rec.oldSpecs == st.oldSpecs)
    assert(st.stats.forall { case (f, fs) => rec.stats(f).specId == fs.specId })
    // Mixed-spec guards: identity-partition aggregate pushdown and
    // key-grouped execution refuse — the group-by reads data and is
    // still exact.
    val gb = spark.sql(
      s"SELECT tag, count(*) AS n FROM $tbl GROUP BY tag ORDER BY tag")
    assert(gb.queryExecution.executedPlan.toString.contains("graft-cow scan"),
      "mixed-spec group-by must fall back to the data")
    assert(gb.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("t0", 20L), ("t1", 20L), ("t2", 20L)))
  }

  test("spec evolution: a same-length spec change never misprunes (per-file spec resolution)") {
    val tbl = fresh("specswap")
    spark.sql(s"CREATE TABLE $tbl (a STRING, b STRING, v BIGINT) " +
      "PARTITIONED BY (a)")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT concat('a', CAST(id % 2 AS STRING)),
         |       concat('b', CAST(id % 3 AS STRING)), id
         |FROM range(0, 12)""".stripMargin)
    val name = tbl.split("\\.").drop(1).mkString(".")
    // SAME length, DIFFERENT column: under a naive "current spec only"
    // pruner the old files' `a` tuples would be read as `b` values and
    // silently misprune — the motivating bug for per-file spec ids.
    spark.sql(s"CALL $cat.set_spec('$name', 'b')")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT concat('a', CAST(id % 2 AS STRING)),
         |       concat('b', CAST(id % 3 AS STRING)), id
         |FROM range(12, 24)""".stripMargin)
    val byB = spark.sql(s"SELECT v FROM $tbl WHERE b = 'b1'")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(byB == (0L until 24L).filter(_ % 3 == 1),
      s"b-predicate must see OLD files (their tuples are a-values): $byB")
    val byA = spark.sql(s"SELECT v FROM $tbl WHERE a = 'a0'")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(byA == (0L until 24L).filter(_ % 2 == 0),
      s"a-predicate must see NEW files (unprunable under spec b): $byA")
  }

  test("spec evolution: optimize migrates pre-evolution files to the current spec") {
    val tbl = fresh("specopt")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT) " +
      "PARTITIONED BY (tag)")
    for (h <- 0 until 2)
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT /*+ COALESCE(1) */ id, concat('t', CAST(id % 3 AS STRING)),
           |       id * 10
           |FROM range(${h * 15}, ${h * 15 + 15})""".stripMargin)
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.set_spec('$name', 'bucket(2, id)')")
    spark.sql(s"CALL $cat.optimize('$name', ${64L * 1024 * 1024}L)")
    val st = CowStore.get(cat, identOf(tbl)).get
    // Every current file was rewritten under the CURRENT spec: bucket
    // tuples, current spec id — compaction is the migration path.
    st.files.foreach { f =>
      val fs = st.stats(f)
      assert(fs.specId == st.specId,
        s"optimize must migrate $f to the current spec id")
      assert(fs.partVals.length == 1 && fs.partVals.head.toInt < 2,
        s"migrated tuple must be a bucket value: ${fs.partVals}")
    }
    // ... invisibly to results,
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(2)))
      .sortBy(_._1).toSeq == (0L until 30L).map(i => (i, i * 10)))
    // ... and the migrated layout prunes on the new key.
    val one = spark.sql(s"SELECT v FROM $tbl WHERE id = 7")
    val partsRe = """(\d+) of (\d+) partitions""".r
    val m = partsRe.findFirstMatchIn(one.queryExecution.executedPlan.toString).get
    assert(m.group(1).toInt < m.group(2).toInt,
      s"migrated bucket layout must prune: ${m.matched}")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(70L))
  }

  test("declarative write order: ordered writes produce disjoint file ranges that range predicates skip") {
    val tbl = fresh("worder")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v BIGINT)")
    val name = tbl.split("\\.").drop(1).mkString(".")
    val rep = spark.sql(s"CALL $cat.set_write_order('$name', 'v')")
      .collect().head.getString(0)
    assert(rep == "v asc")
    // One multi-task insert of value-shuffled rows: the ordered
    // distribution range-partitions by v, so tasks own disjoint ranges.
    // (AQE would coalesce this test-sized shuffle into one task and
    // leave nothing to prove disjoint — hold it open for the insert;
    // at real scale the coalesced partitions are still many.)
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, (id * 7919) % 10000 FROM range(0, 10000)""".stripMargin)
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None    => spark.conf.unset(k)
    }
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    assert(st.files.size > 1, "need multiple files to prove disjointness")
    // Every file's [min,max] on v is disjoint from every other's.
    val ranges = st.files.map(f => st.stats(f).longRanges("v"))
      .sortBy(_.min)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a.max < b.min,
        s"ordered write must produce disjoint ranges: $a vs $b")
      case _ =>
    }
    // A range predicate skips every non-covering file at plan time.
    val q = spark.sql(s"SELECT id FROM $tbl WHERE v >= 9000")
    val skipRe = """(\d+) of (\d+) files, (\d+) skipped""".r
    val m = skipRe.findFirstMatchIn(q.queryExecution.executedPlan.toString).get
    assert(m.group(3).toInt > 0,
      s"range predicate must skip non-covering files: ${m.matched}")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 10000L).filter(i => (i * 7919) % 10000 >= 9000).sorted)
    // The order is durable (recovery) and visible as a table property.
    assert(spark.sql(s"SHOW TBLPROPERTIES $tbl")
      .collect().exists(r => r.getString(0) == "graft.write-order" &&
        r.getString(1) == "v asc"))
    CowStore.evict(cat, ident)
    assert(CowStore.recover(cat, ident, st.dir).writeOrder ==
      Vector(("v", false)))
    // Clearing restores unspecified distribution (no failure, no order).
    spark.sql(s"CALL $cat.set_write_order('$name', '')")
    assert(CowStore.get(cat, ident).get.writeOrder.isEmpty)
    // CONTROL: the same insert without a write order interleaves values
    // across tasks — ranges overlap, nothing skips.
    val ctl = fresh("worderctl")
    spark.sql(s"CREATE TABLE $ctl (id BIGINT, v BIGINT)")
    spark.sql(
      s"""INSERT INTO $ctl
         |SELECT /*+ REPARTITION(4) */ id, (id * 7919) % 10000
         |FROM range(0, 10000)""".stripMargin)
    val mc = skipRe.findFirstMatchIn(
      spark.sql(s"SELECT id FROM $ctl WHERE v >= 9000")
        .queryExecution.executedPlan.toString).get
    assert(mc.group(3).toInt == 0,
      s"control without write order must not skip: ${mc.matched}")
  }

  test("<table>.partitions: per-partition manifest rollup, DV-net rows, spec-id rows after evolution") {
    val tbl = fresh("partsmeta")
    mkPartitioned(tbl) // identity(tag), ids 0..29, 10 per tag
    val rows = spark.sql(
      s"SELECT partition, spec_id, n_files, n_rows FROM $tbl.partitions ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    assert(rows == Seq(("t0", 0L, 10L), ("t1", 0L, 10L), ("t2", 0L, 10L)),
      s"partition rollup diverged: $rows")
    // Rollup is metadata-only: no data scan in the plan.
    assert(!spark.sql(s"SELECT * FROM $tbl.partitions")
      .queryExecution.executedPlan.toString.contains("graft-cow scan"))
    // After spec evolution the old and new layouts report under their
    // own spec ids.
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.set_spec('$name', 'bucket(2, id)')")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, concat('t', CAST(id % 3 AS STRING)), id * 10
         |FROM range(30, 40)""".stripMargin)
    val bySpec = spark.sql(
      s"SELECT spec_id, sum(n_rows) FROM $tbl.partitions GROUP BY 1 ORDER BY 1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(bySpec == Seq((0L, 30L), (1L, 10L)), s"per-spec rollup: $bySpec")
    // A MOR delete nets out of n_rows and shows in n_deletes.
    val mor = fresh("partsmetamor")
    spark.sql(s"CREATE TABLE $mor (id BIGINT, tag STRING) " +
      "PARTITIONED BY (tag) TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $mor SELECT id, concat('t', CAST(id % 2 AS STRING)) " +
      "FROM range(0, 20)")
    spark.sql(s"DELETE FROM $mor WHERE id < 4") // 2 per tag
    val morRows = spark.sql(
      s"SELECT partition, n_rows, n_deletes FROM $mor.partitions ORDER BY partition")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(morRows == Seq(("t0", 8L, 2L), ("t1", 8L, 2L)), s"MOR rollup: $morRows")
    // Unpartitioned: one whole-table row, NULL partition.
    val flat = fresh("partsmetaflat")
    spark.sql(s"CREATE TABLE $flat (id BIGINT)")
    spark.sql(s"INSERT INTO $flat SELECT id FROM range(0, 7)")
    val f = spark.sql(s"SELECT partition, n_rows FROM $flat.partitions")
      .collect().toSeq
    assert(f.length == 1 && f.head.isNullAt(0) && f.head.getLong(1) == 7L)
  }

  test("remove_orphan_files deletes unreferenced residue, never referenced or superseded files") {
    val tbl = fresh("orphans")
    mkBase(tbl)
    val ident = identOf(tbl)
    val st0 = CowStore.get(cat, ident).get
    // An UPDATE supersedes the original file — superseded is still
    // REFERENCED (by history) and must survive an orphan scan.
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id >= 0")
    val st = CowStore.get(cat, ident).get
    val superseded = st0.files.filterNot(st.files.contains)
    assert(superseded.nonEmpty)
    // Plant residue a crashed writer would leave: an uncommitted data
    // file in the table directory.
    val orphan = new java.io.File(st.dir,
      s"data-${java.util.UUID.randomUUID()}.parquet")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(st.files.head), orphan.toPath)
    val name = tbl.split("\\.").drop(1).mkString(".")
    // A fresh file inside the safety horizon is KEPT (presumed
    // in-flight)...
    val kept = spark.sql(
      s"CALL $cat.remove_orphan_files('$name', ${3600L * 1000}L)")
      .collect().head.getLong(0)
    assert(kept == 0L && orphan.exists(), "young files must be presumed in-flight")
    // A sub-hour horizon is REFUSED without the explicit force flag: at
    // horizon 0 an in-flight write's staged task files are
    // indistinguishable from orphans and deleting them would break the
    // upcoming commit.
    val guard = intercept[Exception] {
      spark.sql(s"CALL $cat.remove_orphan_files('$name', 0L)").collect()
    }
    assert(guard.getMessage.contains("safety minimum"), guard.getMessage)
    assert(orphan.exists(), "a refused scan must delete nothing")
    // ... and removed once past it (force => the deterministic-test
    // escape hatch for the freshly planted file).
    val removed =
      spark.sql(s"CALL $cat.remove_orphan_files('$name', 0L, true)")
      .collect().head.getLong(0)
    assert(removed == 1L && !orphan.exists(), "the orphan must be deleted")
    // Referenced files — current AND superseded — are untouched; the
    // table still reads and time-travels.
    st.files.foreach(f => assert(new java.io.File(f).exists()))
    superseded.foreach(f => assert(new java.io.File(f).exists(),
      "history-referenced files are vacuum's business, not the orphan scan's"))
    assert(spark.table(tbl).count() == 20)
    assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 1")
      .head.getLong(0) == 20)
  }

  test("manifest aggregate pushdown: COUNT/MIN/MAX/GROUP BY answered with zero data files; honest fallbacks") {
    val tbl = fresh("aggp")
    mkPartitioned(tbl) // ids 0..29, tag = t(id%3), v = id*10, identity(tag)
    def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
    // Global COUNT/MIN/MAX: answered from the manifest — the plan is a
    // LocalTableScan, no graft-cow data scan anywhere.
    val g = spark.sql(s"SELECT count(*), min(id), max(v) FROM $tbl")
    assert(planOf(g).contains("LocalTableScan") &&
      !planOf(g).contains("graft-cow scan"),
      s"global aggregate must be manifest-only: ${planOf(g)}")
    assert(g.collect().head.toSeq == Seq(30L, 0L, 290L))
    // GROUP BY the identity partition column: one manifest row per
    // partition, still zero data files.
    val p = spark.sql(
      s"SELECT tag, count(*) AS n, max(v) AS mv FROM $tbl GROUP BY tag ORDER BY tag")
    assert(!planOf(p).contains("graft-cow scan"),
      s"partition group-by must be manifest-only: ${planOf(p)}")
    assert(p.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("t0", 10L, 270L), ("t1", 10L, 280L), ("t2", 10L, 290L)))
    // SELECT DISTINCT partition column = empty aggregate list, same path.
    val dts = spark.sql(s"SELECT DISTINCT tag FROM $tbl")
    assert(!planOf(dts).contains("graft-cow scan"))
    assert(dts.collect().map(_.getString(0)).sorted.toSeq == Seq("t0", "t1", "t2"))
    // Honest fallbacks — each of these MUST read data:
    // a WHERE stays residual, so the aggregate is not pushed;
    val w = spark.sql(s"SELECT count(*) FROM $tbl WHERE v > 100")
    assert(planOf(w).contains("graft-cow scan"), s"WHERE must fall back: ${planOf(w)}")
    assert(w.collect().head.getLong(0) == 19)
    // an aggregate the stats can't answer (avg) is not pushed;
    assert(planOf(spark.sql(s"SELECT avg(v) FROM $tbl")).contains("graft-cow scan"))
    // a group-by on a NON-partition column is not pushed.
    assert(planOf(spark.sql(s"SELECT v, count(*) FROM $tbl GROUP BY v"))
      .contains("graft-cow scan"))
    // Delete vectors: COUNT(*) stays manifest-exact (rows net of DVs),
    // MIN/MAX fall back (the extremum might be deleted).
    val mor = fresh("aggpmor")
    spark.sql(s"CREATE TABLE $mor (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $mor SELECT id, id * 10 FROM range(0, 20)")
    spark.sql(s"DELETE FROM $mor WHERE id = 19") // the max row, as a DV
    val c = spark.sql(s"SELECT count(*) FROM $mor")
    assert(!planOf(c).contains("graft-cow scan"),
      s"COUNT(*) under DVs is still exact from the manifest: ${planOf(c)}")
    assert(c.collect().head.getLong(0) == 19)
    val mm = spark.sql(s"SELECT max(id) FROM $mor")
    assert(planOf(mm).contains("graft-cow scan"),
      s"MAX under DVs must fall back to the data: ${planOf(mm)}")
    assert(mm.collect().head.getLong(0) == 18)
  }

  test("scan task metrics: delete-vector drops and rows served surface as SQL metrics") {
    val tbl = fresh("dvmetrics")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 20)")
    spark.sql(s"DELETE FROM $tbl WHERE id % 5 = 0") // 4 DV entries
    val df = spark.table(tbl)
    assert(df.count() == 16)
    df.collect()
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): org.apache.spark.sql.execution.SparkPlan =
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          unwrap(a.executedPlan)
        case other => other
      }
    val scans = unwrap(df.queryExecution.executedPlan).collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1, s"expected one catalog scan, got ${scans.size}")
    val m = scans.head.metrics
    assert(m.contains("dvSkippedRows") && m("dvSkippedRows").value == 4L,
      s"the reader's DV drops must surface as a SQL metric: ${m.keys}")
    assert(m.contains("rowsServed") && m("rowsServed").value == 16L,
      s"served rows must surface as a SQL metric: ${m.keys}")
  }

  test("streaming admission control: maxVersionsPerBatch drains a backlog in bounded batches") {
    import org.apache.spark.sql.streaming.Trigger
    val tbl = fresh("admctl")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v BIGINT)")
    for (h <- 0 until 5) // v1..v5, 4 rows each
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT id, id FROM range(${h * 4}, ${h * 4 + 4}, 1, 1)""".stripMargin)
    val ck = java.nio.file.Files.createTempDirectory("cow_adm_ck_").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    spark.readStream
      .option("maxVersionsPerBatch", "2")
      .table(tbl)
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count() }: Unit
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // 5 pending commits at <=2 per batch: 3 batches of 8/8/4 rows —
    // bounded catch-up instead of one 20-row batch.
    assert(batches.toSeq == Seq(8L, 8L, 4L),
      s"a 5-commit backlog at maxVersionsPerBatch=2 must drain 8/8/4: $batches")
    // Without the option the whole backlog is one batch (the default).
    val tbl2 = fresh("admctl2")
    spark.sql(s"CREATE TABLE $tbl2 (id BIGINT)")
    for (h <- 0 until 3)
      spark.sql(s"INSERT INTO $tbl2 SELECT id FROM range(${h * 2}, ${h * 2 + 2}, 1, 1)")
    val ck2 = java.nio.file.Files.createTempDirectory("cow_adm_ck2_").toString
    val batches2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    spark.readStream.table(tbl2)
      .writeStream.option("checkpointLocation", ck2)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches2.synchronized { batches2 += df.count() }: Unit
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(batches2.toSeq == Seq(6L), s"default drains in one batch: $batches2")
  }

  test("RENAME COLUMN: metadata-only, field-id resolution across files, old snapshots keep the old name, no resurrection, durable") {
    val tbl = fresh("rencol")
    mkBase(tbl) // v1: (id, s, v) 20 rows, v = id*10
    val ident = identOf(tbl)
    val filesBefore = CowStore.get(cat, ident).get.files
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN v TO score")
    val st = CowStore.get(cat, ident).get
    // Metadata-only: same files, new schema, same ids.
    assert(st.files == filesBefore, "rename must rewrite nothing")
    assert(st.schema.fieldNames.toSeq == Seq("id", "tag", "score"))
    // Old files serve the renamed column losslessly (row + columnar
    // paths both resolve by id), and new writes land under the new name.
    spark.sql(s"INSERT INTO $tbl VALUES (100L, 'x', 777L)")
    val got = spark.sql(s"SELECT id, score FROM $tbl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == (0L until 20L).map(i => (i, i * 10)) :+ (100L, 777L))
    // Filter THROUGH the rename exercises per-file stats resolution
    // (write-time ranges are keyed by the old physical name).
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE score >= 150")
      .head.getLong(0) == 6L) // 150..190 + 777
    // Manifest agg pushdown resolves too.
    assert(spark.sql(s"SELECT max(score) FROM $tbl").head.getLong(0) == 777L)
    // Old snapshots keep their contemporary name.
    assert(spark.sql(s"SELECT sum(v) FROM $tbl VERSION AS OF 1")
      .head.getLong(0) == (0L until 20L).map(_ * 10).sum)
    assert(intercept[Exception](
      spark.sql(s"SELECT score FROM $tbl VERSION AS OF 1").collect())
      .toString.contains("score"))
    // rename→re-add: the vacated name returns as a FRESH identity — the
    // old files' physical `v` must never resurface under it.
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN v BIGINT")
    val re = spark.sql(s"SELECT id, score, v FROM $tbl WHERE id = 3").head
    assert(re.getLong(1) == 30L && re.isNullAt(2),
      "re-added name must read NULL from pre-rename files")
    spark.sql(s"INSERT INTO $tbl VALUES (200L, 'y', 5L, 6L)")
    val re2 = spark.sql(s"SELECT score, v FROM $tbl WHERE id = 200").head
    assert(re2.getLong(0) == 5L && re2.getLong(1) == 6L)
    // Durability: ids + rename recover from the manifest log alone.
    val st2 = CowStore.get(cat, ident).get
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st2.dir)
    assert(rec.snapshot.fieldIds == st2.snapshot.fieldIds &&
      rec.schema.fieldNames.toSeq == Seq("id", "tag", "score", "v"))
    val got2 = spark.sql(s"SELECT id, score FROM $tbl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == got :+ (200L, 5L), "recovered reads must be identical")
    // Guards: occupied/tombstoned names, spec/write-order columns.
    assert(intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN tag TO score"))
      .toString.contains("already exists"))
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN v")
    assert(intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN score TO v"))
      .toString.contains("DROPPED"))
    // MOR: renames compose with delete vectors (row-path reader).
    val mor = fresh("rencol_mor")
    spark.sql(s"CREATE TABLE $mor (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $mor SELECT id, id * 2 FROM range(0, 10, 1, 1)")
    spark.sql(s"DELETE FROM $mor WHERE id % 2 = 1")
    spark.sql(s"ALTER TABLE $mor RENAME COLUMN v TO w")
    assert(spark.sql(s"SELECT sum(w) FROM $mor").head.getLong(0) ==
      (0L until 10L by 2).map(_ * 2).sum)
  }

  test("rename then re-add under a different type: the re-added name reads NULL from old files on both read paths") {
    val tbl = fresh("renretype")
    spark.sql(s"CREATE TABLE $tbl (a BIGINT) TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $tbl SELECT id FROM range(0, 10, 1, 1)")
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN a TO b")
    // The old files hold a physical int64 `a` that is NOT this identity.
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN a STRING")
    def check(rows: Long, sumB: Long): Unit = {
      val as = spark.sql(s"SELECT a FROM $tbl").collect()
      assert(as.length == rows && as.forall(_.isNullAt(0)),
        "the re-added STRING `a` must read NULL, never the old int64 `a`")
      assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == rows)
      assert(spark.sql(s"SELECT _file FROM $tbl").collect().length == rows)
      assert(spark.sql(s"SELECT sum(b) FROM $tbl WHERE a IS NULL")
        .head.getLong(0) == sumB)
    }
    def bothPaths(rows: Long, sumB: Long): Unit = {
      check(rows, sumB)
      sys.props("graft.cow.columnar") = "false"
      try check(rows, sumB) finally sys.props.remove("graft.cow.columnar")
    }
    bothPaths(10L, 45L)
    // A delete vector sends the columnar scan through the filtered
    // (selection-vector) assembly with no decoded column.
    spark.sql(s"DELETE FROM $tbl WHERE b = 4")
    bothPaths(9L, 41L)
  }

  test("vectorized reads: DV-free scans plan columnar batches; a delete vector drops the scan to the row walk; results identical") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
      df.collect() // materialize so AQE finalizes the plan
      // Descend through AQE wrappers AND materialized query stages —
      // a stage exec is a LEAF from collectLeaves' point of view.
      def find(p: org.apache.spark.sql.execution.SparkPlan): Option[BatchScanExec] =
        p match {
          case a: AdaptiveSparkPlanExec => find(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            find(s.plan)
          case b: BatchScanExec => Some(b)
          case other => other.children.view.flatMap(find(_)).headOption
        }
      find(df.queryExecution.executedPlan).get
    }
    val tbl = fresh("vec")
    mkBase(tbl)
    // Clean table: columnar (the supportsColumnar flag on the scan exec
    // is the whole-stage contract — vectors flow into codegen).
    assert(scanOf(spark.sql(s"SELECT id, tag, v FROM $tbl")).supportsColumnar,
      "a DV-free catalog scan must serve ColumnarBatches")
    // Metadata columns + added-column NULLs ride the columnar path too.
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN w BIGINT")
    val withMeta = spark.sql(
      s"SELECT id, w, _pos, _file FROM $tbl ORDER BY _file, _pos")
    assert(scanOf(withMeta).supportsColumnar)
    val rows = withMeta.collect()
    assert(rows.length == 20 && rows.forall(_.isNullAt(1)))
    assert(rows.take(2).map(_.getLong(2)).toSeq == Seq(0L, 1L),
      "_pos must count physical rows per file")
    // A MOR delete vector STAYS columnar (round 17): survivors compact
    // through the selection vector instead of demoting the whole scan
    // to the row walk — same results, batch plan.
    val mor = fresh("vec_mor")
    spark.sql(s"CREATE TABLE $mor (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $mor SELECT id, id FROM range(0, 10, 1, 1)")
    assert(scanOf(spark.table(mor)).supportsColumnar,
      "a MOR table without DVs still reads columnar")
    spark.sql(s"DELETE FROM $mor WHERE id = 3")
    val afterDv = spark.sql(s"SELECT sum(v) FROM $mor")
    assert(scanOf(afterDv).supportsColumnar,
      "a delete vector must no longer demote the scan off the batch path")
    assert(afterDv.collect().head.getLong(0) == 45L - 3L)
    // The DV'd columnar read serves the same rows, positions and
    // metadata columns as the row walk over the same snapshot.
    def dvRows() = spark.sql(
      s"SELECT id, v, _pos, _file FROM $mor ORDER BY _pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    val colRows = dvRows()
    assert(colRows.map(_._3).contains(4L) && !colRows.map(_._1).contains(3L),
      "_pos stays the PHYSICAL position: deleting id=3 keeps pos 4..9")
    sys.props("graft.cow.columnar") = "false"
    try assert(dvRows() == colRows,
      "columnar and row-walk reads of a DV'd file must be identical")
    finally sys.props.remove("graft.cow.columnar")
    // Bare count on a DV'd table: the filtered columnar batch with ZERO
    // output columns (no column decoded; rows are only counted).
    assert(spark.table(mor).count() == 9L,
      "a zero-column filtered columnar scan must count survivors")
    // optimize folds the DVs — still columnar, now unfiltered.
    val name = mor.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.optimize('$name', ${64L * 1024 * 1024}L)")
    val folded = spark.sql(s"SELECT sum(v) FROM $mor")
    assert(scanOf(folded).supportsColumnar,
      "folding DVs keeps the columnar path")
    assert(folded.collect().head.getLong(0) == 42L)
  }

  test("equality deletes: zero-scan keyed DELETE, sequenced upsert, optimize folds, durable; loud refusals") {
    val tbl = fresh("eqdel")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id * 2 FROM range(0, 10, 1, 1)")
    val ident = identOf(tbl)
    val st1 = CowStore.get(cat, ident).get
    assert(st1.stats(st1.files.head).seq == 1L,
      "files must be sequenced at their commit version")
    // Keyed DELETE: metadata-only — no scan in the plan, no files
    // touched, one O(keys) entry.
    val del = spark.sql(s"DELETE FROM $tbl WHERE id IN (2, 4)")
    val delPlan = del.queryExecution.executedPlan.toString
    assert(delPlan.contains("DeleteFromTable") && !delPlan.contains("BatchScan"),
      s"keyed DELETE must plan as a metadata delete, got:\n$delPlan")
    val st2 = CowStore.get(cat, ident).get
    assert(st2.files == st1.files && st2.deletes.isEmpty,
      "equality delete must rewrite nothing and record no positions")
    // The entry is an O(1) REFERENCE (version, delete-file path, count);
    // the keys live in the referenced parquet delete file.
    val eqEntry = st2.snapshot.eqDeletes match {
      case Vector(e) => e
      case other => fail(s"expected one eq-delete entry, got $other")
    }
    assert(eqEntry.version == 2L && eqEntry.count == 2L)
    assert(graft.sources.CowEqDeleteFiles.keys(eqEntry.file).toSeq ==
      Seq("2", "4"))
    assert(spark.sql(s"SELECT sum(v), count(*) FROM $tbl").head.toSeq ==
      Seq((0 until 10).filterNot(Set(2, 4)).map(_ * 2).sum.toLong, 8L))
    // The eq-filtered scan stays COLUMNAR (round 17): the selection
    // vector probes the key column's set, even when the projection
    // doesn't request the key.
    assert(spark.sql(s"SELECT v FROM $tbl").queryExecution.executedPlan
      .toString.contains("ColumnarToRow"),
      "an equality-delete scan must stay on the batch path")
    assert(spark.sql(s"SELECT v FROM $tbl").collect().length == 8)
    // Keyed UPSERT (MERGE): matched rows die by KEY in older files; the
    // merge's own inserts are sequenced AT the commit and survive its
    // delete entry.
    spark.sql(
      s"""MERGE INTO $tbl t
         |USING (SELECT id, id * 100 AS v FROM range(3, 6, 1, 1)) s
         |ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    val st3 = CowStore.get(cat, ident).get
    assert(st3.deletes.isEmpty, "upsert must record NO positional deletes")
    assert(st3.snapshot.eqDeletes.length == 2)
    val got = spark.sql(s"SELECT id, v FROM $tbl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expect = Seq(0L -> 0L, 1L -> 2L, 3L -> 300L, 4L -> 400L,
      5L -> 500L, 6L -> 12L, 7L -> 14L, 8L -> 16L, 9L -> 18L)
    assert(got == expect, s"upsert result wrong: $got")
    // Durability: key, entries and sequencing recover from the log.
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st3.dir)
    assert(rec.eqKey.contains("id") &&
      rec.snapshot.eqDeletes == st3.snapshot.eqDeletes &&
      rec.stats(rec.files.head).seq == st3.stats(st3.files.head).seq)
    assert(spark.sql(s"SELECT id, v FROM $tbl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == expect)
    // The streaming source and the change feed refuse eq commits loudly.
    val ck = java.nio.file.Files.createTempDirectory("cow_eq_ck_").toString
    val se = intercept[Exception] {
      spark.readStream.table(tbl).writeStream
        .option("checkpointLocation", ck)
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(se.toString.contains("EQUALITY-DELETE") ||
      Option(se.getCause).exists(_.toString.contains("EQUALITY-DELETE")), s"$se")
    val ce = intercept[Exception] {
      spark.read.option("startVersion", "1").option("endVersion", "3")
        .table(s"$tbl.changes").collect()
    }
    assert(ce.toString.contains("EQUALITY-DELETE") ||
      Option(ce.getCause).exists(_.toString.contains("EQUALITY-DELETE")), s"$ce")
    // Manifest agg pushdown refuses under live entries (counts are
    // value-dependent): the count above came from a real scan — now
    // OPTIMIZE folds the entries, restoring pushdown AND columnar reads.
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.optimize('$name', ${64L * 1024 * 1024}L)")
    val st4 = CowStore.get(cat, ident).get
    assert(st4.snapshot.eqDeletes.isEmpty,
      "optimize must retire entries nothing predates")
    assert(spark.sql(s"SELECT id, v FROM $tbl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == expect,
      "folding must not change results")
    // Guards: nullable key, missing mor, non-key renames/drops.
    val bad = fresh("eqbad")
    assert(intercept[Exception](spark.sql(
      s"CREATE TABLE $bad (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')"))
      .toString.contains("NOT NULL"))
    assert(intercept[Exception](spark.sql(
      s"CREATE TABLE $bad (id BIGINT NOT NULL, v BIGINT) " +
        "TBLPROPERTIES ('graft.delete-key'='id')"))
      .toString.contains("mor"))
    assert(intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN id TO key"))
      .toString.contains("delete-key"))
    assert(intercept[Exception](
      spark.sql(s"ALTER TABLE $tbl DROP COLUMN id"))
      .toString.contains("delete-key"))
    // A NON-key DELETE on an eq table still commits BY KEY: the rewrite
    // scan locates the matching rows, but what lands is their keys —
    // O(matched keys), never positions, one representation per table.
    spark.sql(s"DELETE FROM $tbl WHERE v = 300")
    val st5 = CowStore.get(cat, ident).get
    assert(st5.deletes.isEmpty,
      "eq tables must never record positional deletes")
    assert(st5.snapshot.eqDeletes.map(e =>
      graft.sources.CowEqDeleteFiles.keys(e.file).toSeq) ==
        Vector(Seq("3")),
      s"the matched row's KEY must land: ${st5.snapshot.eqDeletes}")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 8L)
  }

  test("equality-delete FILES: manifest bytes stay O(1) per commit regardless of key count (r17 weak mark)") {
    val tbl = fresh("eqflat")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 100000, 1, 1)")
    val ident = identOf(tbl)
    val dir = CowStore.get(cat, ident).get.dir
    def manifestBytes(v: Long): Long = java.nio.file.Files.size(
      java.nio.file.Paths.get(dir, "_log", s"v$v.manifest"))
    // A 10-key delete vs a 50,000-key delete: the manifests differ by
    // O(1) (one `eqdelf` reference line each), never O(keys) — the
    // streaming upsert's metadata stays flat between optimize runs.
    CowStore.commitDeltaEq(cat, ident, Seq.empty, Map.empty,
      (0L until 10L).map(_.toString).toVector)
    val small = manifestBytes(CowStore.get(cat, ident).get.version)
    CowStore.commitDeltaEq(cat, ident, Seq.empty, Map.empty,
      (10L until 50010L).map(_.toString).toVector)
    val st3 = CowStore.get(cat, ident).get
    val big = manifestBytes(st3.version)
    assert(big - small < 256,
      s"manifest must stay flat under key churn: $small -> $big bytes")
    assert(st3.snapshot.eqDeletes.map(_.count) == Vector(10L, 50000L))
    // The keys decode executor-side from the referenced parquet files
    // and both entries apply to the scan.
    assert(spark.sql(s"SELECT count(*), min(id) FROM $tbl").head.toSeq ==
      Seq(49990L, 50010L))
    // Durability: the O(1) references recover from the log and the
    // delete files still read.
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st3.dir)
    assert(rec.snapshot.eqDeletes == st3.snapshot.eqDeletes)
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 49990L)
    // Retention reclaims the key bytes: optimize retires the entries
    // (rewrites fold the doomed rows), vacuum drops the snapshots that
    // referenced them, and the eqdel parquet files go with them.
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.optimize('$name', ${256L * 1024 * 1024}L)")
    spark.sql(s"CALL $cat.vacuum('$name', 1)")
    val leftover = Option(new java.io.File(dir).listFiles()).get
      .count(_.getName.startsWith("eqdel-"))
    assert(leftover == 0,
      s"retired + vacuumed delete files must be reclaimed, $leftover left")
    assert(spark.sql(s"SELECT count(*) FROM $tbl").head.getLong(0) == 49990L)
  }

  test("MERGE WITH SCHEMA EVOLUTION SQL surface: parses to the one-commit command on cow targets; guards stay loud") {
    val tbl = fresh("mesql")
    spark.sql(s"CREATE TABLE $tbl (doc_id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='doc_id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 3, 1, 1)")
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def parse(text: String) = cs.sessionState.sqlParser.parsePlan(text)
    // The evolving merge over a cow target parses straight to the
    // one-commit command (GraftSqlParser intercept).
    val evolving = parse(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t
         |USING (SELECT CAST(1 AS BIGINT) AS doc_id, CAST(2 AS BIGINT) AS v,
         |              CAST(3 AS BIGINT) AS w) s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(evolving.isInstanceOf[graft.plans.MergeEvolveCommand],
      s"expected the one-commit command, got:\n$evolving")
    // WITHOUT the evolution clause: Spark's native MergeIntoTable.
    val plain = parse(
      s"""MERGE INTO $tbl t
         |USING (SELECT CAST(1 AS BIGINT) AS doc_id, CAST(2 AS BIGINT) AS v) s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(plain.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable])
    // A non-cow target keeps Spark's native evolving path untouched.
    val native = parse(
      """MERGE WITH SCHEMA EVOLUTION INTO some_cat.db.tbl t
        |USING src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(native.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.MergeIntoTable])
    // Non-blind clause shapes refuse at parse with the required form.
    val e = intercept[UnsupportedOperationException](parse(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t
         |USING (SELECT CAST(1 AS BIGINT) AS doc_id) s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN DELETE""".stripMargin))
    assert(e.getMessage.contains("blind keyed upsert"))
    // A non-key ON clause refuses at run, naming the delete-key.
    val e2 = intercept[UnsupportedOperationException](spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t
         |USING (SELECT CAST(9 AS BIGINT) AS doc_id, CAST(1 AS BIGINT) AS v,
         |              CAST(5 AS BIGINT) AS w) s
         |ON t.v = s.v
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(e2.getMessage.contains("delete-key"), s"$e2")
    // End-to-end through SQL text: schema + rows + deletes in ONE commit.
    val ident = identOf(tbl)
    val v0 = CowStore.get(cat, ident).get.version
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t
         |USING (SELECT CAST(1 AS BIGINT) AS doc_id, CAST(100 AS BIGINT) AS v,
         |              CAST(7 AS BIGINT) AS w) s
         |ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val st = CowStore.get(cat, ident).get
    assert(st.version == v0 + 1, "SQL evolving merge must be ONE commit")
    val got = spark.sql(s"SELECT doc_id, v, w FROM $tbl ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(got == Seq((0L, 0L, -1L), (1L, 100L, 7L), (2L, 2L, -1L)), s"$got")
  }

  test("equality-delete key-range pruning: entries skip files they provably miss; durable; results unchanged") {
    val tbl = fresh("eqrange")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 100, 1, 1)")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(1000, 1100, 1, 1)")
    spark.sql(s"DELETE FROM $tbl WHERE id IN (1005, 1050)")
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    val entry = st.snapshot.eqDeletes match {
      case Vector(e) => e
      case other => fail(s"expected one entry, got $other")
    }
    assert(entry.keyMin.contains(1005L) && entry.keyMax.contains(1050L),
      s"the entry must carry its key range: $entry")
    val sorted = st.files.sortBy(f => st.stats(f).longRanges("id").min)
    val (a, b) = (sorted.head, sorted.last)
    // The cold file [0,99] provably misses [1005,1050]: no delete file
    // applies — its scan partition stays on the UNFILTERED columnar
    // path; the hot file [1000,1099] still pays the probe.
    assert(CowStore.applicableEqFiles(st, st.snapshot, a).isEmpty,
      "an entry must not apply to a file its key range cannot touch")
    assert(CowStore.applicableEqFiles(st, st.snapshot, b).length == 1)
    // The range survives the manifest round-trip.
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    assert(rec.snapshot.eqDeletes == st.snapshot.eqDeletes)
    assert(CowStore.applicableEqFiles(rec, rec.snapshot, a).isEmpty)
    // Pruning must be invisible to results.
    assert(spark.sql(s"SELECT count(*), sum(v) FROM $tbl").head.toSeq ==
      Seq(198L, (0 until 100).map(_.toLong).sum +
        (1000 until 1100).map(_.toLong).sum - 1005L - 1050L))
  }

  test(".eqdeletes metadata relation tracks live entries: appear at commit, ranges exposed, leave on retirement") {
    val tbl = fresh("eqmeta")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 20, 1, 1)")
    assert(spark.sql(s"SELECT count(*) FROM $tbl.eqdeletes").head.getLong(0) == 0L,
      "no entries before any keyed delete")
    spark.sql(s"DELETE FROM $tbl WHERE id IN (2, 4, 9)")   // v2
    spark.sql(s"DELETE FROM $tbl WHERE id IN (15)")        // v3
    val rows = spark.sql(
      s"SELECT version, key_count, key_min, key_max FROM $tbl.eqdeletes " +
        "ORDER BY version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(rows == Seq((2L, 3L, 2L, 9L), (3L, 1L, 15L, 15L)), s"$rows")
    // The file column names a readable delete file with exactly the keys.
    val paths = spark.sql(s"SELECT file FROM $tbl.eqdeletes ORDER BY version")
      .collect().map(_.getString(0))
    assert(graft.sources.CowEqDeleteFiles.keys(paths.head).toSeq ==
      Seq("2", "4", "9"))
    // Retirement empties the relation (optimize folds, publish prunes).
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.optimize('$name', ${64L * 1024 * 1024}L)")
    assert(spark.sql(s"SELECT count(*) FROM $tbl.eqdeletes").head.getLong(0) == 0L,
      "retired entries must leave the relation")
  }

  test("resurrection-guard precision: eq entries only conflict with rewrites of files they actually cover") {
    val tbl = fresh("eqprecise")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 10, 1, 1)")
    val ident = identOf(tbl)
    val oldFiles = CowStore.get(cat, ident).get.files.toSet
    spark.sql(s"DELETE FROM $tbl WHERE id IN (2, 4)") // v2: eq entry
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(10, 20, 1, 1)")
    val st = CowStore.get(cat, ident).get
    val newFile = (st.files.toSet -- oldFiles).head
    // A rewrite replacing only the POST-entry file: the entry cannot
    // cover it (the file's seq exceeds the entry version), so even a
    // rewrite that never read the entry commits — no spurious refusal
    // when compaction races keyed deletes (r17 ADVICE).
    CowStore.commit(cat, ident, Seq.empty, Some(Set(newFile)), Map.empty,
      None, readDvs = Some(Map(newFile -> 0)),
      readEqVersions = Some(Set.empty))
    assert(!CowStore.get(cat, ident).get.files.contains(newFile))
    // A rewrite of the PRE-entry file stays a loud conflict: the entry
    // covers it, and re-sequencing would resurrect ids 2 and 4.
    val e = intercept[java.util.ConcurrentModificationException] {
      CowStore.commit(cat, ident, Seq.empty, Some(oldFiles), Map.empty,
        None, readDvs = Some(oldFiles.map(_ -> 0).toMap),
        readEqVersions = Some(Set.empty))
    }
    assert(e.isInstanceOf[CowStore.CommitConflictException] &&
      e.getMessage.contains("equality-delete"), s"$e")
  }

  test("streaming change feed: exactly-once delivery, checkpointed mid-history resume serves only new diffs, loud COW refusal") {
    import org.apache.spark.sql.streaming.Trigger
    val tbl = fresh("cdfstream")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 4, 1, 1)")   // v1
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(10, 12, 1, 1)") // v2
    val ck = java.nio.file.Files.createTempDirectory("cow_cdf_ck_").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Long, Long)]]
    def drain(): Unit = {
      spark.readStream
        .option("maxVersionsPerBatch", "1")
        .table(s"$tbl.changes")
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getString(2), r.getLong(3),
            r.getLong(0))).sortBy(x => (x._2, x._1, x._3)).toSeq
          batches.synchronized { batches += rows }: Unit
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    drain()
    assert(batches.toSeq == Seq(
      (0L until 4L).map(i => ("insert", 1L, i)),
      Seq(("insert", 2L, 10L), ("insert", 2L, 11L))),
      s"each commit's inserts must arrive in its own micro-batch: $batches")
    // Row-level rewrites happen AFTER the checkpoint: the resume serves
    // ONLY the new diffs — the delete, and the update's delete+insert
    // pair — never re-serving v1/v2.
    spark.sql(s"DELETE FROM $tbl WHERE id = 2")      // v3: one DV entry
    spark.sql(s"UPDATE $tbl SET v = 100 WHERE id = 3") // v4: delete+insert
    batches.clear()
    drain()
    assert(batches.toSeq == Seq(
      Seq(("delete", 3L, 2L)),
      Seq(("delete", 4L, 3L), ("insert", 4L, 3L))),
      s"mid-history resume must serve exactly the new change rows: $batches")
    // (The same rewrites make a CHECKPOINTED plain table source fail
    // loudly — pinned in the "streaming table read" test; the change
    // feed is the designed escape hatch.)
    // COW group rewrites refuse through the STREAM exactly like the
    // batch feed: rewritten files don't record row-level changes.
    val cow = fresh("cdfstream_cow")
    spark.sql(s"CREATE TABLE $cow (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cow SELECT id, id FROM range(0, 4, 1, 1)")
    spark.sql(s"UPDATE $cow SET v = -1 WHERE id = 1")
    val ck3 = java.nio.file.Files.createTempDirectory("cow_cdf_ck3_").toString
    val ce = intercept[Exception] {
      spark.readStream.table(s"$cow.changes").writeStream
        .option("checkpointLocation", ck3)
        .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => ())
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    assert(ce.toString.contains("GROUP-REWRITE") ||
      Option(ce.getCause).exists(_.toString.contains("GROUP-REWRITE")), s"$ce")
  }

  test("column statistics to the CBO: NDV/null/min-max from manifests; a selective filter flips the join to broadcast") {
    val tbl = fresh("colstats")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, grp BIGINT, pad STRING)")
    // ~1 MB of pad so the UNFILTERED relation is far above the test's
    // broadcast threshold; grp has EXACTLY 10 distinct values.
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, id % 10,
         |       concat(CAST(id AS STRING), repeat('x', 50))
         |FROM range(0, 20000, 1, 4)""".stripMargin)
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    // Write-time sketches: exact small-domain NDV, exact null counts,
    // and a large-domain estimate inside KMV's error envelope.
    val scan = new graft.sources.CowScanBuilder(tbl, st, op = None)
      .build().asInstanceOf[graft.sources.CowScan]
    val cs = scan.estimateStatistics().columnStats()
    def statOf(c: String) = {
      import scala.jdk.CollectionConverters._
      cs.asScala.collectFirst {
        case (k, v) if k.fieldNames().sameElements(Array(c)) => v
      }.get
    }
    assert(statOf("grp").distinctCount().getAsLong == 10L,
      "a sub-k domain must report EXACT distinct counts")
    assert(statOf("grp").nullCount().getAsLong == 0L)
    assert(statOf("grp").min().get() == Long.box(0L) &&
      statOf("grp").max().get() == Long.box(9L))
    val idNdv = statOf("id").distinctCount().getAsLong
    assert(idNdv > 10000 && idNdv < 40000,
      s"20k-distinct KMV estimate out of envelope: $idNdv")
    // Durability: sketches recover from the manifest log.
    CowStore.evict(cat, ident)
    CowStore.recover(cat, ident, st.dir)
    val rec = CowStore.get(cat, ident).get
    assert(rec.stats(rec.files.head).ndv ==
      st.stats(st.files.head).ndv &&
      rec.stats(rec.files.head).nullCounts ==
        st.stats(st.files.head).nullCounts)
    // THE FLIP: under CBO, `grp = 5` estimates 1/NDV of the relation —
    // small enough to broadcast; with column stats suppressed the
    // filter can't shrink the estimate and the join stays sort-merge.
    val other = fresh("colstats_other")
    spark.sql(s"CREATE TABLE $other (grp BIGINT, label STRING)")
    spark.sql(
      s"""INSERT INTO $other
         |SELECT id % 10, concat('label_', CAST(id AS STRING), repeat('y', 60))
         |FROM range(0, 20000, 1, 4)""".stripMargin)
    def joinPlan(): String = {
      val df = spark.sql(
        s"""SELECT f.id, o.label FROM $tbl f
           |JOIN $other o ON f.grp = o.grp WHERE f.grp = 5""".stripMargin)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    val saved = Seq("spark.sql.cbo.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (300 * 1024).toString)
      // AQE off: its runtime SMJ→BHJ conversion happens AFTER the
      // shuffle materialized — the stats lever under test is the STATIC
      // plan that avoids the shuffle in the first place.
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val withStats = joinPlan()
      assert(withStats.contains("BroadcastHashJoin"),
        s"real NDV stats must shrink the filtered side below the " +
          s"broadcast threshold:\n$withStats")
      sys.props("graft.cow.colstats") = "false"
      try {
        val withoutStats = joinPlan()
        assert(!withoutStats.contains("BroadcastHashJoin") &&
          withoutStats.contains("SortMergeJoin"),
          s"without column stats the same join must stay sort-merge:\n$withoutStats")
      } finally sys.props.remove("graft.cow.colstats")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("streaming upsert sink: last-writer-wins per key across epochs, zero target reads, idempotent epochs; guards") {
    import org.apache.spark.sql.streaming.Trigger
    val tbl = fresh("upsink")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    val ident = identOf(tbl)
    // Drive the sink through a rate-like replay: two MEMORY-fed batches
    // via the epoch-commit API's public surface — a real update-mode
    // stream writes through the same path (q_stream_upsert covers it);
    // here each drain is one epoch of upserted keys.
    val src = java.nio.file.Files.createTempDirectory("upsink_src_").toString
    spark.range(0, 4).selectExpr("id", "id * 10 AS v")
      .coalesce(1).write.parquet(s"$src/b0")
    spark.range(2, 6).selectExpr("id", "id * 100 AS v")
      .coalesce(1).write.parquet(s"$src/b1")
    val ck = java.nio.file.Files.createTempDirectory("upsink_ck_").toString
    def drainOne(dir: String): Unit = {
      val q = spark.readStream
        .schema("id BIGINT, v BIGINT")
        .option("maxFilesPerTrigger", "1") // one file = one epoch
        .parquet(s"$dir/*")
        .writeStream
        .option("checkpointLocation", ck)
        .option("upsert", "true")
        .trigger(Trigger.AvailableNow())
        .toTable(tbl)
      q.awaitTermination()
    }
    drainOne(src) // serves b0 + b1 in order (two files, one source)
    val got = spark.sql(s"SELECT id, v FROM $tbl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // keys 2..5 rewritten by the later batch; 0..1 keep the first write.
    assert(got == Seq(0L -> 0L, 1L -> 10L, 2L -> 200L, 3L -> 300L,
      4L -> 400L, 5L -> 500L), s"upsert final state wrong: $got")
    val st = CowStore.get(cat, ident).get
    assert(st.deletes.isEmpty, "the upsert sink never records positions")
    assert(st.snapshot.eqDeletes.nonEmpty,
      "later epochs must claim their keys via equality entries")
    // Epoch idempotency through the public API: replaying a committed
    // epoch is a durable no-op.
    val applied = CowStore.commitStreamEpochEq(cat, ident,
      st.epochs.keys.head, st.epochs.values.head, Seq.empty, Vector("99"))
    assert(!applied, "a replayed epoch must not commit")
    assert(CowStore.get(cat, ident).get.version == st.version)
    // optimize folds the upsert's entries like any other.
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.optimize('$name', ${64L * 1024 * 1024}L)")
    assert(CowStore.get(cat, ident).get.snapshot.eqDeletes.isEmpty)
    assert(spark.sql(s"SELECT id, v FROM $tbl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == got)
    // Guards: upsert without a delete-key refuses; plain (non-upsert)
    // update-mode streaming writes refuse (no blind-append corruption).
    val plain = fresh("upsink_plain")
    spark.sql(s"CREATE TABLE $plain (id BIGINT, v BIGINT)")
    val ck2 = java.nio.file.Files.createTempDirectory("upsink_ck2_").toString
    val e = intercept[Exception] {
      spark.readStream.schema("id BIGINT, v BIGINT").parquet(s"$src/*")
        .writeStream.option("checkpointLocation", ck2)
        .option("upsert", "true")
        .trigger(Trigger.AvailableNow()).toTable(plain).awaitTermination()
    }
    assert(e.toString.contains("delete-key") ||
      Option(e.getCause).exists(_.toString.contains("delete-key")), s"$e")
  }

  test("CDC replication: the replica tracks the source across checkpointed resumes, each round applying only new diffs") {
    import org.apache.spark.sql.streaming.Trigger
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val src = fresh("cdcrep_src")
    val dst = fresh("cdcrep_dst")
    spark.sql(s"CREATE TABLE $src (doc_id BIGINT, source STRING, " +
      "score BIGINT) TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"CREATE TABLE $dst (doc_id BIGINT, source STRING, score BIGINT)")
    val ck = java.nio.file.Files.createTempDirectory("cdcrep_ck_").toString
    def drain(): Unit = {
      spark.readStream
        .option("maxVersionsPerBatch", "1")
        .table(s"$src.changes")
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch(graft.streaming.StreamOps.applyCdcBatch(dst, sfx) _)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def both(t: String) = spark.sql(
      s"SELECT doc_id, source, score FROM $t ORDER BY doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // Round 1: base + an update pair.
    spark.sql(s"INSERT INTO $src VALUES (1, 'a', 10), (2, 'b', 20), (3, 'c', 30)")
    spark.sql(s"UPDATE $src SET score = 99 WHERE doc_id = 2")
    drain()
    assert(both(dst) == both(src), "replica must equal source after round 1")
    // Round 2 (post-checkpoint churn): a delete and a fresh insert —
    // the resume must apply ONLY these (version counting pins it).
    val dstV1 = CowStore.get(cat, identOf(dst)).get.version
    spark.sql(s"DELETE FROM $src WHERE doc_id = 1")
    spark.sql(s"INSERT INTO $src VALUES (4, 'd', 40)")
    drain()
    assert(both(dst) == both(src), "replica must track source after resume")
    assert(both(dst) == Seq((2L, "b", 99L), (3L, "c", 30L), (4L, "d", 40L)))
    val dstV2 = CowStore.get(cat, identOf(dst)).get.version
    assert(dstV2 - dstV1 == 2,
      s"the resume must apply exactly the two new commits: +${dstV2 - dstV1}")
    // Round 3: a MULTI-COMMIT batch (no maxVersionsPerBatch: one
    // AvailableNow batch spans all three new commits) holding an insert
    // THEN a delete of the same key across versions must net to the
    // delete — the round-16 ADVICE hazard was the alphabetic
    // 'insert' > 'delete' reduction resurrecting the key; the ordering
    // is (_commit_version, insert-over-delete) now.
    spark.sql(s"INSERT INTO $src VALUES (5, 'e', 50)")
    spark.sql(s"DELETE FROM $src WHERE doc_id = 5")
    spark.sql(s"UPDATE $src SET score = 41 WHERE doc_id = 4")
    spark.readStream
      .table(s"$src.changes")
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch(graft.streaming.StreamOps.applyCdcBatch(dst, sfx) _)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    assert(!both(dst).exists(_._1 == 5L),
      "insert-then-delete across commits in ONE batch must not resurrect")
    assert(both(dst) == both(src),
      "replica must equal source after a multi-commit batch")
  }

  test("incremental MV: deltas track churn across resumes, replay is gated, an emptied group leaves the view") {
    import org.apache.spark.sql.streaming.Trigger
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val src = fresh("mvsrc")
    val mv = fresh("mv")
    spark.sql(s"CREATE TABLE $src (doc_id BIGINT, source STRING, score BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"CREATE TABLE $mv (source STRING, n BIGINT, sum_score BIGINT, " +
      "mv_version BIGINT)")
    val ck = java.nio.file.Files.createTempDirectory("mvspec_ck_").toString
    def drain(): Unit = {
      spark.readStream.option("maxVersionsPerBatch", "1").table(s"$src.changes")
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch(graft.streaming.StreamOps.applyMvBatch(mv, sfx) _)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def view() = spark.sql(
      s"SELECT source, n, sum_score FROM $mv ORDER BY source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def expect() = spark.sql(
      s"SELECT source, count(*), sum(score) FROM $src GROUP BY source " +
        "ORDER BY source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // Round 1: base + an update pair; the MV equals the batch aggregate.
    spark.sql(s"INSERT INTO $src VALUES (1, 'a', 10), (2, 'a', 20), " +
      "(3, 'b', 30), (4, 'b', 40), (5, 'c', 50)")
    spark.sql(s"UPDATE $src SET score = 25 WHERE doc_id = 2")
    drain()
    assert(view() == expect(), "MV must equal the batch aggregate")
    assert(view() == Seq(("a", 2L, 35L), ("b", 2L, 70L), ("c", 1L, 50L)))
    // Replay gate: re-applying an already-applied batch is a no-op — the
    // per-group mv_version guard makes the increments exactly-once.
    val replay = spark.read.option("startVersion", "0")
      .option("endVersion", "1").table(s"$src.changes")
    graft.streaming.StreamOps.applyMvBatch(mv, sfx + "r")(replay, 999L)
    assert(view() == Seq(("a", 2L, 35L), ("b", 2L, 70L), ("c", 1L, 50L)),
      "a replayed batch must not double-apply its deltas")
    // Round 2 (post-checkpoint): a purge that EMPTIES group c — its row
    // must leave the view, exactly like the batch aggregate.
    spark.sql(s"DELETE FROM $src WHERE doc_id IN (5)")
    spark.sql(s"INSERT INTO $src VALUES (6, 'a', 100)")
    drain()
    assert(view() == expect(), "MV must track the source across resumes")
    assert(!view().exists(_._1 == "c"), "an emptied group must leave the view")
    assert(view() == Seq(("a", 3L, 135L), ("b", 2L, 70L)))
  }

  test("change-feed COUNT(*): insert-only ranges answer from manifests; churned ranges decode honestly") {
    val tbl = fresh("cdfcnt")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 10, 1, 1)")   // v1
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(10, 15, 1, 1)")  // v2
    def cdf(s: Long, e: Long) = spark.read
      .option("startVersion", s.toString).option("endVersion", e.toString)
      .table(s"$tbl.changes")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // Insert-only range: the count is a manifest sum — zero change rows
    // decoded (plan pins the LocalTableScan, no batch scan).
    val cnt = cdf(0, 2).groupBy().count()
    assert(planOf(cnt).contains("LocalTableScan") &&
      !planOf(cnt).contains("BatchScan"),
      s"insert-only CDF count must ride manifests:\n${planOf(cnt)}")
    assert(cnt.head.getLong(0) == 15L)
    // Partial range sums only its versions.
    val part = cdf(1, 2).groupBy().count()
    assert(planOf(part).contains("LocalTableScan"))
    assert(part.head.getLong(0) == 5L)
    // A DV delta in range emits delete RECORDS — the count must fall
    // back to the real decode and include them.
    spark.sql(s"DELETE FROM $tbl WHERE id = 3")                            // v3
    val churned = cdf(0, 3).groupBy().count()
    assert(!planOf(churned).contains("LocalTableScan"),
      s"a churned range must decode honestly:\n${planOf(churned)}")
    assert(churned.head.getLong(0) == 16L,
      "15 inserts + 1 delete record")
    // A filtered count can't ride the manifest sum either.
    val filtered = cdf(0, 2).where("_change_type = 'insert'").groupBy().count()
    assert(!planOf(filtered).contains("LocalTableScan"))
    assert(filtered.head.getLong(0) == 15L)
  }

  test("MV rewrite: fresh MVs answer the direct aggregate from the gold scan; stale MVs fall back; re-drain re-enables") {
    import org.apache.spark.sql.streaming.Trigger
    graft.GraftExtensions.register(spark)
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val src = fresh("mvrw_src")
    val mv = fresh("mvrw")
    spark.sql(s"CREATE TABLE $src (doc_id BIGINT, source STRING, score BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"CREATE TABLE $mv (source STRING, n BIGINT, sum_score BIGINT, " +
      "mv_version BIGINT)")
    val ck = java.nio.file.Files.createTempDirectory("mvrw_ck_").toString
    def drain(): Unit = {
      spark.readStream.option("maxVersionsPerBatch", "1").table(s"$src.changes")
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch(graft.streaming.StreamOps.applyMvBatch(mv, sfx) _)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    spark.sql(s"INSERT INTO $src VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)")
    drain()
    val srcIdent = identOf(src)
    graft.plans.MvRegistry.register(graft.plans.MvRegistry.Entry(
      cat, srcIdent, cat, identOf(mv),
      groupCols = Vector("source"), mvGroupCols = Vector("source"),
      countCol = "n",
      sumSrcCol = "score", sumMvCol = "sum_score",
      appliedVersion = CowStore.get(cat, srcIdent).get.version,
      srcDir = CowStore.get(cat, srcIdent).get.dir,
      mvDir = CowStore.get(cat, identOf(mv)).get.dir))
    try {
      def agg() = spark.sql(
        s"""SELECT source, count(*) AS n, sum(score) AS sum_score
           |FROM $src GROUP BY source ORDER BY source""".stripMargin)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      // FRESH: the optimizer substitutes the gold scan — no Aggregate,
      // the MV table in the plan — with bit-identical results.
      val fresh1 = agg()
      val p1 = fresh1.queryExecution.optimizedPlan.toString
      assert(p1.contains(mv.split("\\.").last) && !p1.contains("Aggregate"),
        s"a fresh MV must substitute the gold scan:\n$p1")
      assert(rows(fresh1) == Seq(("a", 2L, 30L), ("b", 1L, 30L)))
      // A shape the MV does not maintain falls through untouched
      // (min is not decomposable from the count/sum gold columns;
      // avg IS maintained since round 19 — sum/count — so the probe
      // uses min).
      val other = spark.sql(
        s"SELECT source, min(score) AS a FROM $src GROUP BY source")
      assert(other.queryExecution.optimizedPlan.toString.contains("Aggregate"),
        "an unmaintained aggregate shape must not be rewritten")
      // STALE: new churn on the source — the rewrite must NOT fire, and
      // the direct aggregate serves the CURRENT numbers.
      spark.sql(s"DELETE FROM $src WHERE doc_id = 3")
      val stale = agg()
      assert(stale.queryExecution.optimizedPlan.toString.contains("Aggregate"),
        "a stale MV must fall back to the direct aggregate")
      assert(rows(stale) == Seq(("a", 2L, 30L)),
        "the stale fallback must serve the source's current state")
      // Re-drain folds the purge; applyMvBatch advances the freshness
      // watermark, so the rewrite fires again — same numbers either way.
      drain()
      val fresh2 = agg()
      assert(!fresh2.queryExecution.optimizedPlan.toString.contains("Aggregate"),
        "a re-drained MV must substitute again")
      assert(rows(fresh2) == Seq(("a", 2L, 30L)))
      // A DROP + re-CREATE under the same name restarts the version
      // clock — its low versions must never read as fresh against the
      // OLD entry (the table-instance dir guard).
      spark.sql(s"DROP TABLE $src")
      spark.sql(s"CREATE TABLE $src (doc_id BIGINT, source STRING, " +
        "score BIGINT) TBLPROPERTIES ('graft.mode' = 'mor')")
      spark.sql(s"INSERT INTO $src VALUES (9, 'z', 999)")
      val recreated = agg()
      assert(recreated.queryExecution.optimizedPlan.toString.contains("Aggregate"),
        "a re-created source must never be served from the old MV")
      assert(rows(recreated) == Seq(("z", 1L, 999L)))
    } finally graft.plans.MvRegistry.deregister(cat, srcIdent)
  }

  test("MV rewrite generalization: avg / group-col WHERE / rollup rewrite when fresh, fall back when stale; exact type gate refuses") {
    graft.GraftExtensions.register(spark)
    val src = fresh("mvg_src")
    val mv = fresh("mvgold")
    spark.sql(s"CREATE TABLE $src (doc_id BIGINT, source STRING, " +
      "lang STRING, score BIGINT) TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $src VALUES (1, 'a', 'en', 10), " +
      "(2, 'a', 'fr', 20), (3, 'b', 'en', 31), (4, 'b', 'en', 9)")
    spark.sql(s"CREATE TABLE $mv (source STRING, lang STRING, n BIGINT, " +
      "sum_score BIGINT)")
    spark.sql(s"INSERT INTO $mv SELECT source, lang, count(*), sum(score) " +
      s"FROM $src GROUP BY source, lang")
    spark.sql(s"CALL $cat.register_mv('${src.stripPrefix(s"$cat.")}', " +
      s"'${mv.stripPrefix(s"$cat.")}', 'source,lang', 'n', 'score', " +
      "'sum_score')")
    val (mvName, srcName) = (mv.split("\\.").last, src.split("\\.").last)
    def plan(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.optimizedPlan.toString
    def exact() = spark.sql(
      s"""SELECT source, lang, count(*) AS n, sum(score) AS s, avg(score) AS a
         |FROM $src GROUP BY source, lang ORDER BY source, lang""".stripMargin)
    def rollup() = spark.sql(
      s"""SELECT source, count(*) AS n, avg(score) AS a
         |FROM $src GROUP BY source ORDER BY source""".stripMargin)
    def where() = spark.sql(
      s"""SELECT source, count(*) AS n
         |FROM $src WHERE lang = 'en' GROUP BY source ORDER BY source""".stripMargin)
    try {
      // EXACT GRAIN with avg: pure projection of the gold row —
      // avg = sum/count, no Aggregate anywhere in the plan.
      val e1 = exact()
      assert(plan(e1).contains(mvName) && !plan(e1).contains("Aggregate"),
        s"exact grain must project gold rows:\n${plan(e1)}")
      assert(e1.collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq ==
        Seq(("a", "en", 1L, 10L, 10.0), ("a", "fr", 1L, 20L, 20.0),
          ("b", "en", 2L, 40L, 20.0)))
      // ROLLUP: GROUP BY a subset re-aggregates the gold scan — the
      // source table leaves the plan entirely.
      val r1 = rollup()
      assert(plan(r1).contains(mvName) && !plan(r1).contains(srcName),
        s"rollup grain must re-aggregate the gold scan:\n${plan(r1)}")
      assert(r1.collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2))).toSeq == Seq(("a", 2L, 15.0), ("b", 2L, 20.0)))
      // WHERE on a group column commutes with the aggregation and is
      // re-applied on the gold scan.
      val w1 = where()
      assert(plan(w1).contains(mvName) && !plan(w1).contains(srcName),
        s"group-col WHERE must ride the gold scan:\n${plan(w1)}")
      assert(w1.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 1L), ("b", 2L)))
      // WHERE on a NON-group column must fall through (the predicate
      // selects rows inside groups — gold rows cannot answer it).
      val nw = spark.sql(s"SELECT source, count(*) AS n FROM $src " +
        "WHERE score > 15 GROUP BY source")
      assert(plan(nw).contains(srcName),
        s"a non-group-col WHERE must not rewrite:\n${plan(nw)}")
      // STALE: churn the source — every shape falls back to the direct
      // aggregate and serves the CURRENT numbers.
      spark.sql(s"INSERT INTO $src VALUES (5, 'c', 'en', 7)")
      val (e2, r2, w2) = (exact(), rollup(), where())
      assert(plan(e2).contains(srcName) && plan(r2).contains(srcName) &&
        plan(w2).contains(srcName),
        "a stale MV must fall back for every rewrite shape")
      assert(e2.collect().length == 4 && r2.collect().length == 3)
      assert(w2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 1L), ("b", 2L), ("c", 1L)))
      // TYPE GATE (round-18 ADVICE): an MV whose sum column is DOUBLE
      // while sum(BIGINT) is BIGINT would verify clean through
      // exceptAll's set-op widening and then graft an ill-typed
      // attribute under the original exprId — registration must refuse
      // BEFORE comparing. (INT count columns can't even be created:
      // the store supports long/double/string/timestamp only.)
      val bad = fresh("mvbad")
      spark.sql(s"CREATE TABLE $bad (source STRING, lang STRING, " +
        "n BIGINT, sum_score DOUBLE)")
      spark.sql(s"INSERT INTO $bad SELECT source, lang, count(*), " +
        s"CAST(sum(score) AS DOUBLE) FROM $src GROUP BY source, lang")
      val err = intercept[Exception] {
        spark.sql(s"CALL $cat.register_mv('${src.stripPrefix(s"$cat.")}', " +
          s"'${bad.stripPrefix(s"$cat.")}', 'source,lang', 'n', 'score', " +
          "'sum_score')")
      }
      assert(err.getMessage.contains("types must match EXACTLY"),
        s"a DOUBLE sum column against sum(BIGINT) must refuse with the " +
          s"type message, got: ${err.getMessage}")
    } finally graft.plans.MvRegistry.deregister(cat, identOf(src))
  }

  test("transact: multi-table commits are atomically visible to racing readers; refusal publishes nothing; props land with the batch") {
    val a = fresh("txn_a")
    val b = fresh("txn_b")
    spark.sql(s"CREATE TABLE $a (id BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $b (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $a VALUES (1, 1)")
    spark.sql(s"INSERT INTO $b VALUES (1, 1)")
    val (ia, ib) = (identOf(a), identOf(b))
    val (a0, b0) = (CowStore.get(cat, ia).get.version,
      CowStore.get(cat, ib).get.version)
    // RACING READER: every sampled (vA, vB) pair must show the SAME
    // transact offset — observing A's commit without B's breaks the
    // atomic-visibility contract ([[CowStore.get]] resolves through
    // the store lock). Metadata-only commits keep the loop tight
    // enough to land samples inside the publication window.
    val rounds = 200
    val violations = new java.util.concurrent.atomic.AtomicLong(0)
    val samples = new java.util.concurrent.atomic.AtomicLong(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val poller = new Thread(() => {
      while (!stop.get()) {
        val va = CowStore.get(cat, ia).get.version - a0
        val vb = CowStore.get(cat, ib).get.version - b0
        samples.incrementAndGet(): Unit
        // B reads AFTER A: with per-table commits B could lag; under
        // transact both must move together. (vb sampled later can be
        // NEWER than va's moment — never older.)
        if (vb < va) violations.incrementAndGet(): Unit
      }
    })
    poller.start()
    try {
      for (_ <- 1 to rounds)
        CowStore.transact(Seq(CowStore.TxCommit(cat, ia),
          CowStore.TxCommit(cat, ib)))
    } finally { stop.set(true); poller.join() }
    assert(samples.get() > 20, s"poller must actually race (got ${samples.get()})")
    assert(violations.get() == 0,
      s"${violations.get()} sample(s) observed A's commit without B's")
    assert(CowStore.get(cat, ia).get.version == a0 + rounds &&
      CowStore.get(cat, ib).get.version == b0 + rounds)
    // REFUSAL publishes nothing — phase-1 validation covers every
    // commit before any publish.
    intercept[CowStore.CommitConflictException] {
      CowStore.transact(Seq(CowStore.TxCommit(cat, ia),
        CowStore.TxCommit(cat, ib, remove = Some(Set("nope.parquet")))))
    }
    assert(CowStore.get(cat, ia).get.version == a0 + rounds,
      "a refused transact must leave every table untouched")
    // One commit per table per transact, loudly.
    intercept[IllegalArgumentException] {
      CowStore.transact(Seq(CowStore.TxCommit(cat, ia),
        CowStore.TxCommit(cat, ia)))
    }
    // Props land with the batch.
    CowStore.transact(Seq(CowStore.TxCommit(cat, ia),
      CowStore.TxProps(cat, ib, Map("spec.probe" -> "on"))))
    assert(CowStore.get(cat, ib).get.props.get("spec.probe").contains("on"))
    assert(spark.table(a).count() == 1L && spark.table(b).count() == 1L,
      "metadata-only transacts must not disturb data")
  }

  test("ADD COLUMN DEFAULT: initial defaults serve pre-ADD files only; time travel, rename, change feed, compaction and recovery compose") {
    val tbl = fresh("defcol")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor')")
    spark.sql(s"INSERT INTO $tbl VALUES (1, 10), (2, 20)")          // v1: pre-ADD
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN tier BIGINT DEFAULT 7") // v2
    // Post-ADD: a written value AND an EXPLICIT NULL — the default
    // must never overwrite a genuine NULL in a file that HAS the
    // column.
    spark.sql(s"INSERT INTO $tbl VALUES (3, 30, 5), (4, 40, NULL)") // v3
    def rows() = spark.sql(s"SELECT id, tier FROM $tbl ORDER BY id")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSeq
    val expect = Seq(1L -> Some(7L), 2L -> Some(7L), 3L -> Some(5L),
      4L -> None)
    assert(rows() == expect, "pre-ADD files serve the default; " +
      "present-but-NULL stays NULL")
    // Time travel: the pre-ADD snapshot has NO tier column at all.
    assert(!spark.sql(s"SELECT * FROM $tbl VERSION AS OF 1")
      .schema.fieldNames.contains("tier"))
    // A post-ADD pinned version serves the same defaults.
    assert(spark.sql(s"SELECT id, tier FROM $tbl VERSION AS OF 2 " +
      "ORDER BY id").collect().map(_.getLong(1)).toSeq == Seq(7L, 7L))
    // The change feed serves the feed-schema defaults for pre-ADD
    // insert records: a replica rebuilt from changes equals the batch
    // read.
    val feed = spark.read.option("startVersion", "0")
      .option("endVersion", "3").table(s"$tbl.changes")
      .where("_change_type = 'insert'")
      .select("id", "tier").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq.sortBy(_._1)
    assert(feed == expect,
      s"change-feed insert records must serve the default, got $feed")
    // RENAME keeps the default (it is keyed by FIELD ID, not name).
    spark.sql(s"ALTER TABLE $tbl RENAME COLUMN tier TO rank")
    assert(spark.sql(s"SELECT rank FROM $tbl WHERE id = 1").head.getLong(0) == 7L)
    // Compaction MATERIALIZES the default into rewritten files and the
    // numbers are invariant.
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.optimize('$name', ${1L << 30})")
    val st = CowStore.get(cat, identOf(tbl)).get
    assert(spark.sql(s"SELECT id, rank FROM $tbl ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSeq == expect.map { case (i, t) => (i, t) })
    // Every compacted file now CARRIES the column physically.
    assert(st.files.forall(f => st.stats(f).cols.contains("rank")))
    // Defaults ride the manifest: recovery serves them identically.
    CowStore.evict(cat, identOf(tbl))
    CowStore.recover(cat, identOf(tbl), st.dir): Unit
    assert(spark.sql(s"SELECT rank FROM $tbl WHERE id = 2").head.getLong(0) == 7L)
    // TIMESTAMP defaults ride the micros-long canonical encoding.
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN seen TIMESTAMP DEFAULT " +
      "TIMESTAMP'2024-01-02 03:04:05'")
    assert(spark.sql(s"SELECT CAST(seen AS STRING) FROM $tbl WHERE id = 1")
      .head.getString(0) == "2024-01-02 03:04:05",
      "a timestamp default must serve pre-ADD rows")
    // NON-CONSTANT defaults refuse loudly (Spark's own analyzer guard;
    // our store additionally requires a folded literal).
    val err = intercept[Exception] {
      spark.sql(s"ALTER TABLE $tbl ADD COLUMN r DOUBLE DEFAULT rand()")
    }
    assert(err.getMessage.toLowerCase.contains("default"))
  }

  test("equality-delete STRING-key range pruning: cold files skip delete loading; ranges recover; non-ASCII keys stay conservative") {
    val tbl = fresh("eqstr")
    spark.sql(s"CREATE TABLE $tbl (id STRING NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    // Two files with DISJOINT ASCII key ranges: a000..a099 / z000..z099.
    spark.sql(s"INSERT INTO $tbl SELECT concat('a', lpad(CAST(id AS STRING)," +
      " 3, '0')), id FROM range(0, 100, 1, 1)")
    spark.sql(s"INSERT INTO $tbl SELECT concat('z', lpad(CAST(id AS STRING)," +
      " 3, '0')), id FROM range(0, 100, 1, 1)")
    val ident = identOf(tbl)
    // Keyed churn INSIDE the z range only.
    CowStore.commitDeltaEq(cat, ident, Seq.empty, Map.empty,
      (50 to 59).map(i => s"z0$i").toVector)
    val st = CowStore.get(cat, ident).get
    val entry = st.snapshot.eqDeletes.head
    assert(entry.strMin.contains("z050") && entry.strMax.contains("z059"),
      s"ASCII string keys must stamp the entry's range, got $entry")
    def fileOfPrefix(s: CowStore.State, p: String): String =
      s.files.find(f => s.stats(f).strRanges.get("id")
        .exists(_._1.startsWith(p))).get
    val (aFile, zFile) = (fileOfPrefix(st, "a"), fileOfPrefix(st, "z"))
    // The cold file provably misses the churn range: NO delete file to
    // load — it stays on the unfiltered columnar path. The hot file
    // pays exactly one.
    assert(CowStore.applicableEqFiles(st, st.snapshot, aFile).isEmpty,
      "the cold string-range file must skip the delete entry")
    assert(CowStore.applicableEqFiles(st, st.snapshot, zFile).length == 1,
      "the hot file must load the delete file")
    assert(spark.table(tbl).count() == 190L)
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE id >= 'z050' AND " +
      "id <= 'z059'").head.getLong(0) == 0L)
    // The range rides the manifest: a recovered state prunes the same.
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    val recEntry = rec.snapshot.eqDeletes.head
    assert(recEntry.strMin.contains("z050") && recEntry.strMax.contains("z059"),
      s"the string range must survive manifest recovery, got $recEntry")
    assert(CowStore.applicableEqFiles(rec, rec.snapshot,
      fileOfPrefix(rec, "a")).isEmpty)
    assert(spark.table(tbl).count() == 190L)
    // A non-ASCII key disables the entry's range (Java order vs UTF-8
    // byte order diverge past ASCII — never risk a misprune): every
    // file conservatively loads it.
    CowStore.commitDeltaEq(cat, ident, Seq.empty, Map.empty,
      Vector("café"))
    val st2 = CowStore.get(cat, ident).get
    val nonAscii = st2.snapshot.eqDeletes.maxBy(_.version)
    assert(nonAscii.strMin.isEmpty && nonAscii.strMax.isEmpty)
    assert(CowStore.applicableEqFiles(st2, st2.snapshot,
      fileOfPrefix(st2, "a")).length == 1,
      "an unranged entry must stay conservatively applicable")
    assert(spark.table(tbl).count() == 190L)
  }

  test("MV registration persists in table properties: a fresh session/JVM hydrates the registry and rewrites without re-registering") {
    import org.apache.spark.sql.streaming.Trigger
    graft.GraftExtensions.register(spark)
    val sfx = UUID.randomUUID().toString.replace("-", "")
    val src = fresh("mvp_src")
    val mv = fresh("mvp_gold")
    spark.sql(s"CREATE TABLE $src (doc_id BIGINT, source STRING, " +
      "score BIGINT) TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"CREATE TABLE $mv (source STRING, n BIGINT, " +
      "sum_score BIGINT, mv_version BIGINT)")
    val ck = java.nio.file.Files.createTempDirectory("mvp_ck_").toString
    def drain(): Unit = {
      spark.readStream.option("maxVersionsPerBatch", "1").table(s"$src.changes")
        .writeStream.option("checkpointLocation", ck)
        .foreachBatch(graft.streaming.StreamOps.applyMvBatch(mv, sfx) _)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    spark.sql(s"INSERT INTO $src VALUES (1, 'a', 10), (2, 'b', 20)")
    drain()
    spark.sql(s"CALL $cat.register_mv('${src.stripPrefix(s"$cat.")}', " +
      s"'${mv.stripPrefix(s"$cat.")}', 'source', 'n', 'score', 'sum_score')")
    val (srcIdent, mvIdent) = (identOf(src), identOf(mv))
    try {
      val (srcDir, mvDir) = (CowStore.get(cat, srcIdent).get.dir,
        CowStore.get(cat, mvIdent).get.dir)
      // Churn + re-drain: applyMvBatch must persist the ADVANCED
      // watermark, not the registration-time one.
      spark.sql(s"INSERT INTO $src VALUES (3, 'a', 5)")
      drain()
      val headV = CowStore.get(cat, srcIdent).get.version
      // FRESH JVM SIMULATION: the registry forgets, the store evicts;
      // recovery rebuilds state from the commit log + props.tsv.
      graft.plans.MvRegistry.deregister(cat, srcIdent)
      CowStore.evict(cat, srcIdent); CowStore.evict(cat, mvIdent)
      CowStore.recover(cat, srcIdent, srcDir): Unit
      CowStore.recover(cat, mvIdent, mvDir): Unit
      assert(graft.plans.MvRegistry.lookup(cat, srcIdent).isEmpty,
        "hydration happens when the CATALOG binds the table, not at recover")
      assert(CowStore.get(cat, srcIdent).get.props
        .contains(graft.plans.MvRegistry.PropKey),
        "the registration must survive recovery as a durable property")
      // First query in the 'fresh' session: loadTable hydrates the
      // registry from the persisted property and the rewrite fires.
      val out = spark.sql(
        s"""SELECT source, count(*) AS n, sum(score) AS sum_score
           |FROM $src GROUP BY source ORDER BY source""".stripMargin)
      val p = out.queryExecution.optimizedPlan.toString
      assert(p.contains(mv.split("\\.").last) && !p.contains("Aggregate"),
        s"a hydrated registration must rewrite without re-registering:\n$p")
      assert(out.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).toSeq == Seq(("a", 2L, 15L), ("b", 1L, 20L)))
      val hydrated = graft.plans.MvRegistry.lookup(cat, srcIdent)
      assert(hydrated.exists(_.appliedVersion == headV),
        s"the hydrated watermark must be the ADVANCED one ($headV), " +
          s"got ${hydrated.map(_.appliedVersion)}")
      // A DROP + re-CREATE leaves a dead property behind (different
      // dir): hydration must refuse it and the query must aggregate
      // the source directly.
      spark.sql(s"DROP TABLE $src")
      graft.plans.MvRegistry.deregister(cat, srcIdent)
      spark.sql(s"CREATE TABLE $src (doc_id BIGINT, source STRING, " +
        "score BIGINT) TBLPROPERTIES ('graft.mode' = 'mor')")
      spark.sql(s"INSERT INTO $src VALUES (7, 'z', 1)")
      val re = spark.sql(s"SELECT source, count(*) AS n FROM $src " +
        "GROUP BY source")
      assert(re.queryExecution.optimizedPlan.toString.contains("Aggregate"),
        "a re-created source must never hydrate the old registration")
      assert(re.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("z", 1L)))
    } finally graft.plans.MvRegistry.deregister(cat, srcIdent)
  }

  test("expire_snapshots + refs: time-based retention honors tag/current protection; refs list every pointer; both recover") {
    val tbl = fresh("expire")
    mkBase(tbl) // v1
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.tag('$name', 'blessed', 1L)")
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id >= 0")  // v2
    spark.sql(s"UPDATE $tbl SET v = v * 2 WHERE id < 5")   // v3
    // .refs: every pointer with its version.
    val refs = spark.sql(s"SELECT name, type, version FROM $tbl.refs " +
      "ORDER BY type, name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(refs == Seq(("main", "branch", 3L), ("blessed", "tag", 1L)), s"$refs")
    // Far-future cutoff: only the UNPROTECTED versions die (v0, v2);
    // the tagged v1 and current v3 survive any cutoff.
    val cutoff = System.currentTimeMillis() * 1000L + 3600L * 1000000L
    val rep = spark.sql(
      s"CALL $cat.expire_snapshots('$name', ${cutoff}L)").collect().head
    assert(rep.getLong(1) == 2L, s"expected v0+v2 expired: $rep")
    val st = CowStore.get(cat, identOf(tbl)).get
    assert(st.history.keySet == Set(1L, 3L))
    // Current reads and tag travel unaffected; the horizon is loud.
    assert(spark.table(tbl).count() == 20)
    assert(spark.sql(s"SELECT sum(v) FROM $tbl VERSION AS OF 'blessed'")
      .head.getLong(0) == (0L until 20L).map(_ * 10).sum)
    assert(intercept[Exception](
      spark.sql(s"SELECT * FROM $tbl VERSION AS OF 2").collect())
      .toString.contains("no such version"))
    // Recovery from the pruned log: same retained set, same answers.
    CowStore.evict(cat, identOf(tbl))
    val rec = CowStore.recover(cat, identOf(tbl), st.dir)
    assert(rec.history.keySet == Set(1L, 3L) && rec.tags == st.tags)
    assert(spark.table(tbl).count() == 20)
  }

  test("double min/max skipping: ordered writes prune files at plan time; NaN disables the column's range; durable") {
    val tbl = fresh("dblskip")
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, x DOUBLE)")
    spark.sql(s"CALL $cat.set_write_order('$name', 'x')")
    // AQE coalesces a small ordered-distribution shuffle to 1 partition
    // (the round-15 trap) — hold it off so several files land.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, CAST(id AS DOUBLE) FROM range(0, 4000, 1, 8)""".stripMargin)
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val st = CowStore.get(cat, identOf(tbl)).get
    assert(st.files.size > 1, "need several files to demonstrate skipping")
    assert(st.stats.values.forall(_.dblRanges.contains("x")),
      "every NaN-free file must carry a double range")
    // A selective range predicate plans only the covering file(s).
    val q = spark.sql(s"SELECT sum(id) FROM $tbl WHERE x >= 3900.0")
    assert(q.head.getLong(0) == (3900L until 4000L).sum)
    val desc = q.queryExecution.executedPlan.toString
    val m = """(\d+) of (\d+) files, (\d+) skipped""".r
      .findFirstMatchIn(desc).get
    assert(m.group(3).toInt > 0 && m.group(1).toInt < m.group(2).toInt,
      s"a clustered double predicate must skip files: $desc")
    // Skipping is invisible: the same filter without stats help.
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE x < 100.0")
      .head.getLong(0) == 100L)
    // Ranges recover from the manifests.
    CowStore.evict(cat, identOf(tbl))
    val rec = CowStore.recover(cat, identOf(tbl), st.dir)
    assert(rec.stats.view.mapValues(_.dblRanges).toMap ==
      st.stats.view.mapValues(_.dblRanges).toMap)
    // NaN guard: one NaN disables the file's range for that column —
    // and the NaN row itself is never skinnable away (kept + served).
    val nan = fresh("dblskip_nan")
    spark.sql(s"CREATE TABLE $nan (id BIGINT, x DOUBLE)")
    spark.sql(s"INSERT INTO $nan SELECT /*+ COALESCE(1) */ id, " +
      "CASE WHEN id = 5 THEN CAST('NaN' AS DOUBLE) ELSE CAST(id AS DOUBLE) " +
      "END FROM range(0, 10)")
    val stN = CowStore.get(cat, identOf(nan)).get
    assert(stN.stats.values.forall(!_.dblRanges.contains("x")),
      "a NaN in the file must disable the column's range")
    // Spark orders NaN ABOVE every double: x >= 8.0 matches 8, 9 AND
    // the NaN row — exactly why a NaN'd file's [min, max] must not
    // prune (its recorded max says nothing about its NaN rows).
    assert(spark.sql(s"SELECT count(*) FROM $nan WHERE x >= 8.0")
      .head.getLong(0) == 3L)
    assert(spark.sql(s"SELECT count(*) FROM $nan WHERE isnan(x)")
      .head.getLong(0) == 1L)
  }

  test("TRUNCATE TABLE: metadata wipe, snapshot-safe, folds DVs and equality entries; pinned versions refuse") {
    val tbl = fresh("trunc")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 10, 1, 2)") // v1
    spark.sql(s"DELETE FROM $tbl WHERE id IN (1, 2)")                    // v2: eq entry
    val ident = identOf(tbl)
    val before = CowStore.get(cat, ident).get
    assert(before.snapshot.eqDeletes.nonEmpty)
    spark.sql(s"TRUNCATE TABLE $tbl")                                    // v3
    val st = CowStore.get(cat, ident).get
    assert(st.version == before.version + 1 && st.files.isEmpty &&
      st.deletes.isEmpty && st.snapshot.eqDeletes.isEmpty,
      "truncate is one commit that empties the snapshot and folds entries")
    assert(spark.table(tbl).count() == 0L)
    // Old snapshots survive until retention; the slate reload is clean.
    assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 2")
      .head.getLong(0) == 8L)
    spark.sql(s"INSERT INTO $tbl VALUES (1L, 777L)")
    val re = spark.sql(s"SELECT id, v FROM $tbl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(re == Seq(1L -> 777L),
      s"pre-truncate deletes must not reach a reloaded key: $re")
    // Version-pinned relations stay read-only.
    assert(intercept[Exception](
      spark.sql(s"TRUNCATE TABLE $tbl VERSION AS OF 1"))
      .toString.nonEmpty)
  }

  test("metadata-only partition DELETE: whole-partition predicates drop files scanlessly; inexact predicates rewrite") {
    val tbl = fresh("pdelete")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, grp BIGINT, v BIGINT) " +
      "PARTITIONED BY (grp)")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, id % 4, id * 10 FROM range(0, 40, 1, 4)""".stripMargin)
    val ident = identOf(tbl)
    val st1 = CowStore.get(cat, ident).get
    val filesBefore = st1.files.size
    // Identity-partition IN: one commit, files dropped, no scan.
    val del = spark.sql(s"DELETE FROM $tbl WHERE grp IN (1, 3)")
    val plan = del.queryExecution.executedPlan.toString
    assert(plan.contains("DeleteFromTable") && !plan.contains("BatchScan"),
      s"a whole-partition delete must plan scanlessly:\n$plan")
    val st2 = CowStore.get(cat, ident).get
    assert(st2.version == st1.version + 1, "one commit")
    assert(st2.files.size < filesBefore && st2.files.forall(f =>
      Set("0", "2").contains(st2.stats(f).partVals.head)),
      "exactly the matching partitions' files must drop")
    assert(spark.sql(s"SELECT count(*), sum(v) FROM $tbl").head.toSeq ==
      Seq(20L, (0L until 40L).filter(i => i % 4 == 0 || i % 4 == 2)
        .map(_ * 10).sum))
    // Inexact predicates fall back to the rewrite path (still correct).
    spark.sql(s"DELETE FROM $tbl WHERE grp = 0 AND v > 100")
    assert(spark.sql(s"SELECT count(*) FROM $tbl WHERE grp = 0")
      .head.getLong(0) ==
      (0L until 40L).count(i => i % 4 == 0 && i * 10 <= 100).toLong)
    // A conjunction over MULTIPLE identity columns still drops whole
    // partitions only when every predicate is partition-exact — a mixed
    // predicate (above) went through the rewrite: version advanced and
    // the surviving partition-0 files were REWRITTEN, not dropped.
    val st3 = CowStore.get(cat, ident).get
    assert(st3.version > st2.version)
  }

  test("change-feed hardening: pruned equality-delete versions still refuse; batch feed walks only the end's lineage") {
    // (1) Retention pruning the eq commit's own version must NOT turn
    // the loud refusal into silently dropped deletions: the live entry
    // rides later snapshots and the range check catches it.
    val tbl = fresh("cdfhard")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT NOT NULL, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode'='mor', 'graft.delete-key'='id')")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 4, 1, 1)") // v1
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.tag('$name', 'base', 1L)")
    spark.sql(s"DELETE FROM $tbl WHERE id IN (1, 2)")                   // v2: eq
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(10, 12, 1, 1)") // v3
    val ident = identOf(tbl)
    val ts2 = CowStore.get(cat, ident).get.commitTsUs(2L)
    spark.sql(s"CALL $cat.expire_snapshots('$name', ${ts2}L)")
    assert(CowStore.get(cat, ident).get.history.keySet == Set(1L, 3L),
      "the eq commit's version must be pruned for this pin")
    val e = intercept[Exception] {
      spark.read.option("startVersion", "1").option("endVersion", "3")
        .table(s"$tbl.changes").collect()
    }
    assert(e.toString.contains("EQUALITY-DELETE") ||
      Option(e.getCause).exists(_.toString.contains("EQUALITY-DELETE")),
      s"a pruned eq version must still refuse, not drop deletions: $e")
    // (2) The BATCH feed walks only the end version's lineage: an
    // unpublished branch commit below main's head is another ref's
    // work, not a main insert (and not a phantom group rewrite).
    val wap = fresh("cdfhard_wap")
    spark.sql(s"CREATE TABLE $wap (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $wap SELECT id, id FROM range(0, 3, 1, 1)")   // v1
    val wapName = wap.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.branch('$wapName', 'wip')")
    spark.sql(s"INSERT INTO $wap.branch_wip VALUES (100L, 1L)")          // v2 (branch)
    spark.sql(s"INSERT INTO $wap SELECT id, id FROM range(10, 12, 1, 1)") // v3 (main)
    val got = spark.read.table(s"$wap.changes").collect()
      .map(r => (r.getLong(3), r.getLong(0))).sorted.toSeq
    assert(got == Seq((1L, 0L), (1L, 1L), (1L, 2L), (3L, 10L), (3L, 11L)),
      s"the batch feed must serve main's lineage only: $got")
  }

  test("drop vs commit: a commit landing after drop fails loudly and never re-registers a phantom table") {
    val tbl = fresh("dropcommit")
    mkBase(tbl)
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    assert(CowStore.drop(cat, ident))
    // The committer lost the race: every commit flavor must throw (the
    // table's directory is gone) and — the round-14 phantom-table defect
    // — must NOT put the stale state back into the store.
    val e = intercept[IllegalStateException] {
      CowStore.commit(cat, ident, Seq("/nonexistent/data-x.parquet"), None)
    }
    assert(e.getMessage.contains("dropped table"), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      CowStore.commitDelta(cat, ident, Seq.empty, Map.empty,
        Map(st.files.head -> Vector(0L)))
    }
    assert(e2.getMessage.contains("dropped table"), e2.getMessage)
    assert(CowStore.get(cat, ident).isEmpty,
      "a failed post-drop commit must not resurrect the table")
    assert(!new java.io.File(st.dir).exists(), "drop removes the table dir")
    // Hammer the interleaving for real: repeated create → concurrent
    // commit+drop from two threads → the survivor set must be consistent
    // (either the drop won and the table is gone, or the commit won a
    // version and the table was then dropped — never a registered table
    // with a deleted directory).
    for (_ <- 0 until 20) {
      val t = fresh("dropcommit_race")
      spark.sql(s"CREATE TABLE $t (id BIGINT)")
      val id2 = identOf(t)
      val latch = new java.util.concurrent.CountDownLatch(1)
      val committer = new Thread(() => {
        latch.await()
        try CowStore.commit(cat, id2, Seq.empty, None)
        catch { case _: IllegalStateException => () }
      })
      val dropper = new Thread(() => { latch.await(); CowStore.drop(cat, id2): Unit })
      committer.start(); dropper.start(); latch.countDown()
      committer.join(); dropper.join()
      CowStore.get(cat, id2).foreach { s =>
        assert(new java.io.File(s.dir).exists(),
          "registered table must have a live directory (no phantom)")
        CowStore.drop(cat, id2)
      }
    }
  }

  test("streaming WAP invariant: a main readStream never serves branch commits; publish makes them stream") {
    import org.apache.spark.sql.streaming.Trigger
    val tbl = fresh("wapstream")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $tbl SELECT id, id FROM range(0, 4, 1, 1)") // v1 main
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.branch('$name', 'wip')")
    // Unpublished branch work INTERLEAVED into the global version space
    // (v2, v3) while main's head stays at v1.
    spark.sql(s"INSERT INTO $tbl.branch_wip SELECT id, -id FROM range(100, 104, 1, 1)")
    spark.sql(s"INSERT INTO $tbl.branch_wip SELECT id, -id FROM range(200, 204, 1, 1)")
    val ck = java.nio.file.Files.createTempDirectory("cow_wap_ck_").toString
    val batches = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    def drain(): Unit = {
      spark.readStream
        .option("maxVersionsPerBatch", "1")
        .table(tbl)
        .writeStream
        .option("checkpointLocation", ck)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = df.collect().map(_.getLong(0)).sorted.toSeq
          batches.synchronized { batches += ids }: Unit
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    // Before publish: exactly ONE batch — v1's rows. The branch versions
    // are neither served nor allowed to eat the 1-version-per-batch
    // admission budget (the round-15 defect served branch files here and
    // advanced the offset past main's head).
    drain()
    assert(batches.toSeq == Seq(Seq(0L, 1L, 2L, 3L)),
      s"main reader must see exactly main's commit before publish: $batches")
    // After publish the branch commits join main's ancestry and the SAME
    // checkpoint resumes into them, bounded to 1 version per batch.
    spark.sql(s"CALL $cat.publish('$name', 'wip')")
    batches.clear()
    drain()
    assert(batches.toSeq ==
      Seq(Seq(100L, 101L, 102L, 103L), Seq(200L, 201L, 202L, 203L)),
      s"published branch commits must stream in order from the same checkpoint: $batches")
  }

  test("rollback: main moves forward to an old snapshot's content; history stays append-only") {
    val tbl = fresh("rollbk")
    mkBase(tbl) // v1: ids 0..19, v = id*10
    spark.sql(s"UPDATE $tbl SET v = -1 WHERE id >= 0") // v2: the bad write
    val name = tbl.split("\\.").drop(1).mkString(".")
    val rep = spark.sql(s"CALL $cat.rollback('$name', 1L)").collect().head
    assert(rep.getLong(0) == 3L && rep.getLong(1) == 1L)
    // Content is v1's verbatim; the bad v2 stays time-travelable.
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(2)))
      .sortBy(_._1).toSeq == (0L until 20L).map(i => (i, i * 10)))
    assert(spark.sql(s"SELECT sum(v) FROM $tbl VERSION AS OF 2")
      .head.getLong(0) == -20L)
    // The rollback is an ordinary commit: lineage recovers, and rolling
    // back to a vacuumed/unknown version fails loudly.
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    assert(st.parent(3L) == 2L, "rollback commit records its parent")
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    assert(rec.version == 3L && rec.files == st.files)
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.rollback('$name', 99L)")
    }
    assert(e.toString.contains("no such version") ||
      Option(e.getCause).exists(_.toString.contains("no such version")), s"$e")
    // A branch head is not a main ancestor — refuse.
    spark.sql(s"CALL $cat.branch('$name', 'wip')")
    spark.sql(s"INSERT INTO $tbl.branch_wip VALUES (100L, 'x', 1L)") // v4 on wip
    val e2 = intercept[Exception] {
      spark.sql(s"CALL $cat.rollback('$name', 4L)")
    }
    assert(e2.toString.contains("main's lineage") ||
      Option(e2.getCause).exists(_.toString.contains("main's lineage")), s"$e2")
  }

  test("DROP COLUMN narrows the schema without rewrites; the name is tombstoned against resurrection") {
    val tbl = fresh("dropcol")
    mkBase(tbl) // (id, tag, v), ids 0..19
    val ident = identOf(tbl)
    val filesBefore = CowStore.get(cat, ident).get.files
    spark.sql(s"ALTER TABLE $tbl DROP COLUMN v")
    val st = CowStore.get(cat, ident).get
    assert(st.files == filesBefore, "DROP COLUMN must not rewrite data")
    assert(st.schema.fieldNames.toSeq == Seq("id", "tag"))
    // Reads project the narrowed schema; old versions keep theirs.
    assert(spark.table(tbl).columns.toSeq == Seq("id", "tag"))
    assert(spark.sql(s"SELECT v FROM $tbl VERSION AS OF 1").count() == 20)
    // New writes and the narrowed reads agree.
    spark.sql(s"INSERT INTO $tbl VALUES (100L, 'z')")
    assert(spark.table(tbl).count() == 21)
    // Re-adding the dropped name is refused (stale-value resurrection).
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $tbl ADD COLUMN v BIGINT")
    }
    assert(e.toString.contains("previously DROPPED") ||
      Option(e.getCause).exists(_.toString.contains("previously DROPPED")), s"$e")
    // ... durably: the tombstone survives recovery.
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    assert(rec.droppedCols == Set("v"))
    // A fresh name works; partition-source columns refuse to drop.
    spark.sql(s"ALTER TABLE $tbl ADD COLUMN w BIGINT")
    assert(spark.table(tbl).columns.toSeq == Seq("id", "tag", "w"))
    val part = fresh("dropcolpart")
    mkPartitioned(part)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $part DROP COLUMN tag")
    }
    assert(e2.toString.contains("partition source column") ||
      Option(e2.getCause).exists(_.toString.contains("partition source column")),
      s"$e2")
  }

  test("drop_tag / drop_branch: refs stop resolving, lose VACUUM protection, and recover dropped") {
    val tbl = fresh("droprefs")
    mkBase(tbl)                                         // v1
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.tag('$name', 'release', 1L)")
    spark.sql(s"CALL $cat.branch('$name', 'audit')")
    spark.sql(s"INSERT INTO $tbl.branch_audit VALUES (100L, 'x', 1L)") // v2 on audit
    spark.sql(s"UPDATE $tbl SET v = v + 1 WHERE id < 5")              // v3 on main
    // Drop both refs: resolution fails loudly afterwards.
    spark.sql(s"CALL $cat.drop_tag('$name', 'release')")
    spark.sql(s"CALL $cat.drop_branch('$name', 'audit')")
    val e1 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $tbl VERSION AS OF 'release'").collect()
    }
    assert(e1.toString.contains("neither a commit number") ||
      Option(e1.getCause).exists(_.toString.contains("neither a commit number")))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $tbl.branch_audit").collect()
    }
    assert(e2.toString.contains("no such branch") ||
      Option(e2.getCause).exists(_.toString.contains("no such branch")))
    // Unknown refs fail loudly; the drops survive recovery.
    intercept[Exception] { spark.sql(s"CALL $cat.drop_tag('$name', 'nope')") }
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    assert(st.tags.isEmpty && st.branches.isEmpty)
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    assert(rec.tags.isEmpty && rec.branches.isEmpty,
      "dropped refs must stay dropped through recovery")
    // Without ref protection, VACUUM may now collect the old versions —
    // the current main survives and reads exactly.
    spark.sql(s"CALL $cat.vacuum('$name', 1)")
    assert(spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(2)))
      .sortBy(_._1).toSeq ==
      (0L until 20L).map(i => (i, if (i < 5) i * 10 + 1 else i * 10)))
  }

  test("temporal partition-scoped rewrites: a one-day DELETE leaves other days' files byte-identical") {
    val tbl = fresh("tempdel")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (days(ts))")
    spark.sql(
      s"""INSERT INTO $tbl
         |SELECT id, timestamp_micros(CAST(id % 4 AS BIGINT) * 86400000000
         |                            + id), id * 10
         |FROM range(0, 40)""".stripMargin)
    val ident = identOf(tbl)
    val before = CowStore.get(cat, ident).get
    def bytesOf(fs: Vector[String]): Map[String, Long] =
      fs.map(f => f -> new java.io.File(f).length()).toMap
    val beforeBytes = bytesOf(before.files)
    val otherDays = before.files.filter(f =>
      before.stats(f).partVals.headOption.exists(_ != "1")).toSet
    // DELETE one day by RAW timestamp range: the rewrite's scan prunes
    // to day 1's files — every other day's file survives byte-identical.
    spark.sql(
      s"""DELETE FROM $tbl
         |WHERE ts >= TIMESTAMP '1970-01-02 00:00:00'
         |  AND ts <  TIMESTAMP '1970-01-03 00:00:00'""".stripMargin)
    val after = CowStore.get(cat, ident).get
    otherDays.foreach { f =>
      assert(after.files.contains(f),
        s"day-disjoint file $f must survive a one-day DELETE")
      assert(new java.io.File(f).length() == beforeBytes(f),
        s"day-disjoint file $f was rewritten")
    }
    assert(spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 40L).filter(_ % 4 != 1))
  }

  test("aggregate pushdown works on time-traveled snapshots (pinned manifest, not current)") {
    val tbl = fresh("aggtravel")
    mkBase(tbl) // v1: 20 rows
    spark.sql(s"DELETE FROM $tbl WHERE id >= 10") // v2: 10 rows (COW)
    val cur = spark.sql(s"SELECT count(*), max(id) FROM $tbl")
    assert(!cur.queryExecution.executedPlan.toString.contains("graft-cow scan"))
    assert(cur.collect().head.toSeq == Seq(10L, 9L))
    val old = spark.sql(s"SELECT count(*), max(id) FROM $tbl VERSION AS OF 1")
    assert(!old.queryExecution.executedPlan.toString.contains("graft-cow scan"),
      "the pinned snapshot's manifest answers the aggregate too")
    assert(old.collect().head.toSeq == Seq(20L, 19L),
      "the pinned answer is the OLD version's, not the current one")
  }

  test("partition overwrite: static replaces named partitions, dynamic replaces touched ones, misaligned fails loudly") {
    val tbl = fresh("ovw")
    mkPartitioned(tbl) // identity(tag), ids 0..29, v = id*10
    val ident = identOf(tbl)
    val before = CowStore.get(cat, ident).get
    val otherFiles = before.files.filter(f =>
      before.stats(f).partVals.headOption.exists(_ != "t1")).toSet
    // STATIC: only t1's files are replaced; other partitions' files stay
    // the very same file objects.
    spark.sql(
      s"""INSERT OVERWRITE $tbl PARTITION (tag = 't1')
         |SELECT id, id * 1000 FROM range(100, 103)""".stripMargin)
    val afterS = CowStore.get(cat, ident).get
    otherFiles.foreach(f => assert(afterS.files.contains(f),
      s"static overwrite of t1 must not touch $f"))
    val got = spark.table(tbl).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    val want = ((0L until 30L).filter(_ % 3 != 1).map(i => (i, s"t${i % 3}", i * 10))
      ++ (100L until 103L).map(i => (i, "t1", i * 1000))).sortBy(_._1)
    assert(got == want, s"static overwrite state diverged: $got")
    // DYNAMIC: only partitions present in the data are replaced.
    val k = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "dynamic")
    try spark.sql(
      s"""INSERT OVERWRITE $tbl
         |SELECT id, concat('t', CAST(id % 2 AS STRING)), id
         |FROM range(200, 204)""".stripMargin)
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None    => spark.conf.unset(k)
    }
    val got2 = spark.table(tbl).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    // t0/t1 replaced by the 200..203 rows; t2 untouched.
    val want2 = ((0L until 30L).filter(_ % 3 == 2).map(i => (i, "t2", i * 10))
      ++ (200L until 204L).map(i => (i, s"t${i % 2}", i))).sortBy(_._1)
    assert(got2 == want2, s"dynamic overwrite state diverged: $got2")
    // Misaligned static overwrite fails loudly at plan time: a bucket
    // source column's equality does not align with partition boundaries.
    val bkt = fresh("ovwbkt")
    spark.sql(s"CREATE TABLE $bkt (id BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, id))")
    spark.sql(s"INSERT INTO $bkt SELECT id, id FROM range(0, 10)")
    // The SQL PARTITION clause is already analyzer-rejected (bucket's
    // source is not a partition column there)...
    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE $bkt PARTITION (id = 3) SELECT 99L")
    }
    assert(e.toString.contains("NON_PARTITION_COLUMN"), s"analyzer gate: $e")
    // ... and the builder's own gate catches the DataFrame overwrite API,
    // where arbitrary filters can reach the connector.
    import spark.implicits._
    val e2 = intercept[Exception] {
      Seq((3L, 99L)).toDF("id", "v").writeTo(bkt).overwrite(col("id") === 3L)
    }
    assert(e2.toString.contains("IDENTITY partition columns") ||
      Option(e2.getCause).exists(_.toString.contains("IDENTITY partition columns")),
      s"bucket-source overwrite must fail loudly in the builder: $e2")
    // Full-table INSERT OVERWRITE (AlwaysTrue) is the plain truncate path.
    spark.sql(s"INSERT OVERWRITE $bkt SELECT id, id * 2 FROM range(0, 5)")
    assert(spark.table(bkt).collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1).toSeq == (0L until 5L).map(i => (i, i * 2)))
  }

  test("string min/max stats skip files; non-ASCII disables the range instead of mispruning") {
    val tbl = fresh("strskip")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING)")
    // 3 single-file inserts with disjoint lexicographic tag ranges.
    for ((p, h) <- Seq("a" -> 0, "b" -> 1, "c" -> 2))
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT /*+ COALESCE(1) */ id, concat('$p', CAST(id AS STRING))
           |FROM range(${h * 10}, ${h * 10 + 10})""".stripMargin)
    val skipRe = """(\d+) of (\d+) files, (\d+) skipped""".r
    def skipped(sql: String): (Int, Long) = {
      val df = spark.sql(sql)
      val m = skipRe.findFirstMatchIn(df.queryExecution.executedPlan.toString).get
      (m.group(3).toInt, df.count())
    }
    // Equality inside one file's range skips the other two.
    assert(skipped(s"SELECT id FROM $tbl WHERE tag = 'b15'") == (2, 1L))
    // Range predicates prune lexicographically.
    assert(skipped(s"SELECT id FROM $tbl WHERE tag >= 'c'") == (2, 10L))
    assert(skipped(s"SELECT id FROM $tbl WHERE tag < 'b'") == (2, 10L))
    // A value outside every range skips everything but stays correct.
    assert(skipped(s"SELECT id FROM $tbl WHERE tag = 'zzz'") == (3, 0L))
    // Non-ASCII literal: unprunable, everything kept, still correct.
    assert(skipped(s"SELECT id FROM $tbl WHERE tag = 'ü'") == (0, 0L))
    // A file containing ANY non-ASCII value records no range for the
    // column (collation orders diverge outside ASCII) and never skips.
    val nb = fresh("strskipnb")
    spark.sql(s"CREATE TABLE $nb (id BIGINT, tag STRING)")
    spark.sql(s"INSERT INTO $nb SELECT /*+ COALESCE(1) */ id, " +
      s"CASE WHEN id = 0 THEN 'über' ELSE concat('m', CAST(id AS STRING)) END " +
      s"FROM range(0, 10)")
    val stNb = CowStore.get(cat, identOf(nb)).get
    assert(stNb.stats(stNb.files.head).strRanges.isEmpty,
      "a non-ASCII value must disable the file's string range")
    assert(skipped(s"SELECT id FROM $nb WHERE tag = 'zzz'") == (0, 0L))
    // The bounds survive the manifest round-trip (recovery).
    val ident = identOf(tbl)
    val st = CowStore.get(cat, ident).get
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    assert(rec.stats.forall { case (f, fs) =>
      fs.strRanges == st.stats(f).strRanges })
    // Synergy with the declared write order: range-distributing on the
    // string column makes every write's bounds disjoint by construction.
    val wo = fresh("strskipwo")
    spark.sql(s"CREATE TABLE $wo (id BIGINT, tag STRING)")
    spark.sql(s"CALL $cat.set_write_order('${wo.split("\\.").drop(1).mkString(".")}', 'tag')")
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try spark.sql(
      s"""INSERT INTO $wo
         |SELECT id, concat(CHAR(97 + CAST(id % 26 AS INT)), CAST(id AS STRING))
         |FROM range(0, 2600)""".stripMargin)
    finally prev match {
      case Some(v) => spark.conf.set(k, v)
      case None    => spark.conf.unset(k)
    }
    val (sk, n) = skipped(s"SELECT id FROM $wo WHERE tag >= 'y'")
    assert(sk > 0, "ordered string writes must produce skippable bounds")
    assert(n == (0 until 2600).count(i => 97 + i % 26 >= 'y'.toInt))
  }

  test("IN lists skip files on long, string and double stats; a null literal keeps every file") {
    val tbl = fresh("inskip")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, x DOUBLE)")
    // 3 single-file inserts with disjoint id, tag and x ranges.
    for ((p, h) <- Seq("a" -> 0, "b" -> 1, "c" -> 2))
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT /*+ COALESCE(1) */ id, concat('$p', CAST(id AS STRING)), id * 0.5D
           |FROM range(${h * 10}, ${h * 10 + 10})""".stripMargin)
    val skipRe = """(\d+) of (\d+) files, (\d+) skipped""".r
    def skipped(where: String): (Int, Seq[Long]) = {
      val df = spark.sql(s"SELECT id FROM $tbl WHERE $where")
      val m = skipRe.findFirstMatchIn(df.queryExecution.executedPlan.toString).get
      (m.group(3).toInt, df.collect().map(_.getLong(0)).sorted.toSeq)
    }
    assert(skipped("id IN (3, 5)") == (2, Seq(3L, 5L)))
    assert(skipped("id IN (3, 25)") == (1, Seq(3L, 25L)))
    assert(skipped("id IN (100, 200)") == (3, Seq.empty))
    assert(skipped("tag IN ('b15', 'b16')") == (2, Seq(15L, 16L)))
    assert(skipped("x IN (1.5D, 14.5D)") == (1, Seq(3L, 29L)))
    // A null literal could match no row, yet it keeps every file.
    assert(skipped("id IN (3, NULL)") == (0, Seq(3L)))
    // DELETE with an IN list: same rows gone as the relational answer.
    spark.sql(s"DELETE FROM $tbl WHERE id IN (4, 6, 27)")
    assert(spark.table(tbl).collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 30L).filterNot(Set(4L, 6L, 27L)))
    assert(skipped("id IN (4, 5, 6)") == (2, Seq(5L)))
  }

  test("limit pushdown: a bare LIMIT plans only enough files to cover it") {
    val tbl = fresh("limpush")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, v BIGINT)")
    for (h <- 0 until 4)
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT /*+ COALESCE(1) */ id, id * 10
           |FROM range(${h * 10}, ${h * 10 + 10})""".stripMargin)
    // LIMIT 5 needs one 10-row file; the plan says so and Spark's own
    // Limit still rules the row count.
    val q = spark.sql(s"SELECT * FROM $tbl LIMIT 5")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("limit=5 (1 planned)"),
      s"a bare LIMIT must truncate the planned file set: $plan")
    assert(q.collect().length == 5)
    // A limit crossing a file boundary plans exactly the covering set.
    assert(spark.sql(s"SELECT * FROM $tbl LIMIT 15")
      .queryExecution.executedPlan.toString.contains("limit=15 (2 planned)"))
    // Larger than the table: everything planned, full count returned.
    val all = spark.sql(s"SELECT * FROM $tbl LIMIT 999")
    assert(all.collect().length == 40)
    // A residual WHERE blocks the pushdown (this builder never fully
    // pushes filters) — all files planned, result exact.
    val w = spark.sql(s"SELECT * FROM $tbl WHERE v >= 250 LIMIT 3")
    assert(!w.queryExecution.executedPlan.toString.contains("limit="),
      "LIMIT under a residual filter must not truncate the scan")
    assert(w.collect().length == 3)
    // MOR delete vectors count net: deleting 6 rows from the first file
    // leaves 4 ⇒ LIMIT 5 now needs two files.
    val mor = fresh("limpushmor")
    spark.sql(s"CREATE TABLE $mor (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    for (h <- 0 until 2)
      spark.sql(
        s"""INSERT INTO $mor
           |SELECT /*+ COALESCE(1) */ id, id FROM range(${h * 10}, ${h * 10 + 10})""".stripMargin)
    spark.sql(s"DELETE FROM $mor WHERE id < 6")
    val m = spark.sql(s"SELECT * FROM $mor LIMIT 5")
    assert(m.queryExecution.executedPlan.toString.contains("limit=5 (2 planned)"),
      "limit coverage must net out delete vectors")
    assert(m.collect().length == 5)
  }

  test("dynamic partition pruning: a dim-filtered join prunes fact partitions at runtime") {
    val fact = fresh("dppfact")
    mkPartitioned(fact) // identity(tag), ids 0..29, 10 per tag
    val dim = fresh("dppdim")
    spark.sql(s"CREATE TABLE $dim (tag STRING, label STRING)")
    spark.sql(s"INSERT INTO $dim VALUES ('t0', 'keep'), ('t1', 'drop'), ('t2', 'drop')")
    // The fact scan reports its partition source column as runtime-
    // filterable, so the dim's filtered key set injects as a
    // dynamicpruning filter on the fact side.
    val q = spark.sql(
      s"""SELECT f.id FROM $fact f JOIN $dim d ON f.tag = d.tag
         |WHERE d.label = 'keep'""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"the fact scan must accept a dynamic pruning filter: $plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 30L).filter(_ % 3 == 0),
      "pruning must be invisible to results")
    // Unit-level: the runtime IN set narrows the planned partitions
    // through the writer's own encode, per file spec.
    val st = CowStore.get(cat, identOf(fact)).get
    val scan = new graft.sources.CowScanBuilder(fact, st, op = None)
      .build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]
    import org.apache.spark.sql.connector.expressions.{Expressions => E}
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    val before = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
    scan.filter(Array(new Predicate("IN",
      Array(E.column("tag"), E.literal("t0")))))
    val after = scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length
    assert(after < before,
      s"runtime IN on the partition column must drop partitions ($before -> $after)")
    // A value set covering nothing leaves zero partitions...
    scan.filter(Array(new Predicate("IN",
      Array(E.column("tag"), E.literal("nope")))))
    assert(scan.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().isEmpty)
    // ... and a predicate on a NON-partition column is ignored (kept).
    val scan2 = new graft.sources.CowScanBuilder(fact, st, op = None)
      .build().asInstanceOf[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]
    scan2.filter(Array(new Predicate("IN",
      Array(E.column("v"), E.literal(999L)))))
    assert(scan2.asInstanceOf[org.apache.spark.sql.connector.read.Batch]
      .planInputPartitions().length == before)
  }

  test("temporal SPJ: two days-partitioned tables join on ts with no exchange") {
    val a = fresh("spjdaysA")
    val b = fresh("spjdaysB")
    for ((tbl, mul) <- Seq(a -> 1, b -> 2)) {
      spark.sql(s"CREATE TABLE $tbl (id BIGINT, ts TIMESTAMP, v BIGINT) " +
        "PARTITIONED BY (days(ts))")
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT id, timestamp_micros(CAST(id % 5 AS BIGINT) * 86400000000
           |                            + id), id * $mul
           |FROM range(0, 50)""".stripMargin)
    }
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // Equal ts ⇒ equal day ⇒ same partition: Catalyst resolves the
      // reported days transform through the catalog's FunctionCatalog
      // and proves co-partitioning — per-day zip, zero network. (The
      // join key set must be covered by the partition transforms' source
      // columns — Spark's default SPJ contract — so this is the ts-only
      // join; compound keys fall back to a normal shuffle.)
      val j = spark.sql(
        s"SELECT x.id, y.v FROM $a x JOIN $b y ON x.ts = y.ts")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"days-partitioned tables must storage-partition join: $plan")
      assert(j.count() == 50)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("write-time stats skip files on raw-timestamp ranges (unpartitioned)") {
    val tbl = fresh("tsskip")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, ts TIMESTAMP)")
    // 3 single-file inserts with disjoint day ranges — micros ranges in
    // the manifest must prune files on a timestamp predicate exactly as
    // long ranges do.
    for (d <- 0 until 3)
      spark.sql(
        s"""INSERT INTO $tbl
           |SELECT /*+ COALESCE(1) */ id,
           |       timestamp_micros(CAST($d AS BIGINT) * 86400000000 + id)
           |FROM range(0, 10)""".stripMargin)
    val q = spark.sql(
      s"SELECT id FROM $tbl WHERE ts >= TIMESTAMP '1970-01-03 00:00:00'")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("1 of 3 files"),
      s"timestamp range must skip files from write-time micros stats: $plan")
    assert(q.count() == 10)
  }

  test("partition spec validation fails loudly") {
    val bad = Seq(
      // The analyzer itself rejects unknown partition columns before the
      // catalog sees the transform.
      s"CREATE TABLE %s (id BIGINT, v DOUBLE) PARTITIONED BY (nope)" ->
        "couldn't find column nope",
      s"CREATE TABLE %s (id BIGINT, v DOUBLE) PARTITIONED BY (v)" ->
        "identity partitions need a long/string",
      s"CREATE TABLE %s (id BIGINT, v DOUBLE) PARTITIONED BY (truncate(10, v))" ->
        "truncate partitions need a long",
      s"CREATE TABLE %s (id BIGINT, v DOUBLE) PARTITIONED BY (bucket(0, id))" ->
        "bucket count",
      s"CREATE TABLE %s (id BIGINT, v DOUBLE) PARTITIONED BY (id, bucket(4, id))" ->
        "once in PARTITIONED BY",
      s"CREATE TABLE %s (id BIGINT, ts STRING) PARTITIONED BY (days(ts))" ->
        "days partitions need a timestamp",
      s"CREATE TABLE %s (id BIGINT, ts TIMESTAMP) PARTITIONED BY (shard(ts))" ->
        "unsupported partition transform")
    bad.foreach { case (ddl, msg) =>
      val e = intercept[Exception] { spark.sql(ddl.format(fresh("partbad"))) }
      assert(e.toString.toLowerCase.contains(msg.toLowerCase) ||
        Option(e.getCause).exists(_.toString.toLowerCase.contains(msg.toLowerCase)),
        s"DDL `$ddl` must fail with '$msg', got: $e")
    }
  }

  test("CTAS carries PARTITIONED BY through the staging surface") {
    val tbl = fresh("partctas")
    spark.sql(
      s"""CREATE TABLE $tbl PARTITIONED BY (tag) AS
         |SELECT id, concat('t', CAST(id % 3 AS STRING)) AS tag, id * 10 AS v
         |FROM range(0, 30)""".stripMargin)
    val st = CowStore.get(cat, identOf(tbl)).get
    assert(st.spec.map(_.describe) == Vector("tag"))
    assert(spark.sql(s"SELECT id FROM $tbl WHERE tag = 't2'")
      .queryExecution.executedPlan.toString.contains("1 of 3 partitions"))
    // REPLACE with a different spec re-partitions.
    spark.sql(
      s"""REPLACE TABLE $tbl PARTITIONED BY (bucket(2, id)) AS
         |SELECT id, concat('t', CAST(id % 3 AS STRING)) AS tag, id AS v
         |FROM range(0, 10)""".stripMargin)
    val st2 = CowStore.get(cat, identOf(tbl)).get
    assert(st2.spec.map(_.describe) == Vector("bucket(2, id)"))
    assert(spark.table(tbl).count() == 10)
  }

  /** Run `body` under SQL confs, restoring the previous values after. */
  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("storage-partitioned join: bucketed tables join with NO exchange") {
    val t1 = fresh("spja")
    val t2 = fresh("spjb")
    Seq(t1 -> 0, t2 -> 20).foreach { case (t, lo) =>
      spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, id))")
      spark.sql(s"INSERT INTO $t SELECT id, id * ${lo + 1} FROM range($lo, ${lo + 40})")
    }
    withConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      // Both tables report exact sizes and would broadcast; SPJ is the
      // point here, so force the sort-merge path.
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val j = spark.sql(
        s"SELECT a.id, a.v, b.v AS w FROM $t1 a JOIN $t2 b ON a.id = b.id")
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must plan with NO exchange:\n$plan")
      // Correctness first: overlap is ids 20..39.
      val got = j.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(got == (20L until 40L).map(i => (i, i, i * 21)))
      // Control: with SPJ disabled the same join shuffles both sides.
      val off = withConf("spark.sql.sources.v2.bucketing.enabled" -> "false") {
        spark.sql(
          s"SELECT a.id FROM $t1 a JOIN $t2 b ON a.id = b.id")
          .queryExecution.executedPlan.toString
      }
      assert(off.contains("Exchange"), "control join must shuffle")
    }
  }

  test("storage-partitioned aggregation: groupBy on the identity partition column skips the shuffle") {
    val tbl = fresh("spjagg")
    mkPartitioned(tbl)
    withConf("spark.sql.sources.v2.bucketing.enabled" -> "true") {
      val agg = spark.sql(
        s"SELECT tag, count(*) AS n, sum(v) AS sv FROM $tbl GROUP BY tag")
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"partition-grouped aggregation must not shuffle:\n$plan")
      val got = agg.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      val want = (0L until 30L).groupBy(i => s"t${i % 3}").toSeq
        .map { case (t, is) => (t, is.size.toLong, is.map(_ * 10).sum) }
        .sortBy(_._1)
      assert(got == want)
    }
  }

  test("change feed: MOR UPDATE surfaces as a pre/post pair; range is (start, end]") {
    val tbl = fresh("cdf")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $tbl SELECT id, concat('t', CAST(id % 3 AS STRING)), " +
      "id * 10 FROM range(0, 20)")                       // v1
    spark.sql(s"UPDATE $tbl SET v = -1 WHERE id = 7")    // v2: delete+insert
    spark.sql(s"DELETE FROM $tbl WHERE id IN (3, 4)")    // v3
    def changes(s: Long, e: Long) =
      spark.read.option("startVersion", s.toString)
        .option("endVersion", e.toString).table(s"$tbl.changes")
        .select("id", "v", "_change_type", "_commit_version")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getLong(3))).sortBy(t => (t._4, t._3, t._1)).toSeq
    // (1, 3]: the UPDATE's pre/post pair in v2, the two deletes in v3.
    assert(changes(1, 3) == Seq(
      (7L, 70L, "delete", 2L), (7L, -1L, "insert", 2L),
      (3L, 30L, "delete", 3L), (4L, 40L, "delete", 3L)))
    // (0, 1]: the initial insert only — 20 insert records.
    val v1 = changes(0, 1)
    assert(v1.size == 20 && v1.forall(c => c._3 == "insert" && c._4 == 1L))
    // (2, 3]: start is EXCLUSIVE — the v2 pair is not served again.
    assert(changes(2, 3).forall(_._4 == 3L))
  }

  test("change feed + streaming source read columnar; row-walk A/B identical") {
    // The round-17 close of the verdict brief's item 6: the CDF batch
    // relation and the table's streaming source ride the shared
    // vectorized reader (insert records pass vectors through, delete
    // records compact the keep-list through the selection vector,
    // _change_type/_commit_version ride as constant vectors).
    val tbl = fresh("cdfvec")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'mor')")
    spark.sql(s"INSERT INTO $tbl SELECT id, concat('t', CAST(id % 3 AS STRING)), " +
      "id * 10 FROM range(0, 20)")                      // v1
    spark.sql(s"DELETE FROM $tbl WHERE id IN (3, 11)")  // v2: delete records
    def feed() = spark.read.option("startVersion", "0").table(s"$tbl.changes")
    assert(feed().queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "the batch change feed must plan on the columnar path")
    def rows() = feed().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3),
        r.getLong(4))).sortBy(t => (t._5, t._4, t._1)).toSeq
    val colRows = rows()
    assert(colRows.count(_._4 == "insert") == 20 &&
      colRows.count(_._4 == "delete") == 2)
    sys.props("graft.cow.columnar") = "false"
    try {
      assert(!feed().queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(rows() == colRows,
        "columnar and row-walk change feeds must serve identical records")
    } finally sys.props.remove("graft.cow.columnar")
    // Streaming table source: one AvailableNow drain, columnar decode.
    val app = fresh("streamvec")
    mkBase(app)
    val outDir = java.nio.file.Files.createTempDirectory("cdfvec").toString
    val q = spark.readStream.table(app).writeStream
      .format("parquet").option("path", s"$outDir/data")
      .option("checkpointLocation", s"$outDir/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000); q.stop()
    assert(spark.read.parquet(s"$outDir/data").count() == 20L,
      "the streaming source must serve every row through the columnar path")
  }

  test("change feed: COW group rewrites fail loudly; append-only COW feeds work") {
    val tbl = fresh("cdfcow")
    mkBase(tbl)                                           // v1 (COW)
    spark.sql(s"INSERT INTO $tbl VALUES (100, 'x', 1)")   // v2 append
    // Appends feed fine on a COW table.
    val ins = spark.read.option("startVersion", "1").table(s"$tbl.changes")
      .collect()
    assert(ins.length == 1 && ins.head.getString(3) == "insert")
    spark.sql(s"UPDATE $tbl SET v = 0 WHERE id = 1")      // v3: group rewrite
    val e = intercept[Exception] {
      spark.read.option("startVersion", "1").table(s"$tbl.changes").collect()
    }
    assert(e.toString.contains("GROUP-REWRITE") &&
      e.toString.contains("graft.mode"),
      s"COW rewrite must fail the feed with the MOR remedy, got $e")
    // A vacuumed diff base fails loudly too.
    val tbl2 = fresh("cdfvac")
    mkBase(tbl2)
    spark.sql(s"INSERT INTO $tbl2 VALUES (200, 'y', 2)")
    spark.sql(s"INSERT INTO $tbl2 VALUES (201, 'z', 3)")
    val name2 = tbl2.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.vacuum('$name2', 1)")
    val e2 = intercept[Exception] {
      spark.read.option("startVersion", "1").option("endVersion", "3")
        .table(s"$tbl2.changes").collect()
    }
    assert(e2.toString.contains("VACUUM removed"), s"got $e2")
  }

  test("branches: main is isolated from branch commits; publish fast-forwards; refs recover") {
    val tbl = fresh("wap")
    mkBase(tbl)                                          // v1, 20 rows
    val name = tbl.split("\\.").drop(1).mkString(".")
    val ident = identOf(tbl)
    spark.sql(s"CALL $cat.branch('$name', 'audit')")
    spark.sql(s"INSERT INTO $tbl.branch_audit SELECT id, 'b', id FROM range(100, 110)")
    spark.sql(s"UPDATE $tbl.branch_audit SET v = 0 WHERE id = 100")
    // ISOLATION: main still serves exactly the base; the branch serves
    // base + branch writes. VERSION AS OF the branch name reads its head.
    assert(spark.table(tbl).count() == 20, "main must not see branch commits")
    assert(spark.table(s"$tbl.branch_audit").count() == 30)
    assert(spark.sql(s"SELECT count(*) FROM $tbl VERSION AS OF 'audit'")
      .head.getLong(0) == 30)
    // Timestamp travel follows MAIN lineage: "now" resolves to v1's
    // state even though branch commits are newer.
    val nowUs = System.currentTimeMillis() * 1000L + 1000000L
    assert(spark.sql(
      s"SELECT count(*) FROM $tbl TIMESTAMP AS OF timestamp_micros(${nowUs}L)")
      .head.getLong(0) == 20)
    // Branch refs and the main pointer are durable.
    val st = CowStore.get(cat, ident).get
    CowStore.evict(cat, ident)
    val rec = CowStore.recover(cat, ident, st.dir)
    assert(rec.version == st.version && rec.branches == st.branches &&
      rec.parent == st.parent, "branch refs + main pointer must recover")
    // PUBLISH fast-forwards main atomically to the branch head.
    val pub = spark.sql(s"CALL $cat.publish('$name', 'audit')").head.getLong(0)
    assert(pub == CowStore.get(cat, ident).get.version)
    val got = spark.table(tbl).collect().map(r => (r.getLong(0), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got.size == 30 && got.contains((100L, 0L)),
      "published main must carry the branch's insert + update")
  }

  test("branches: publish auto-rebases disjoint interim commits; overlapping rewrites refuse; branch heads survive VACUUM") {
    val tbl = fresh("wapff")
    mkBase(tbl)
    val name = tbl.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.branch('$name', 'audit')")
    spark.sql(s"INSERT INTO $tbl.branch_audit SELECT id, 'b', id FROM range(100, 105)")
    // Main moves AFTER the fork with a DISJOINT interim commit (an
    // append): the publish is no longer a fast-forward, but the
    // branch's cumulative file diff composes — it AUTO-REBASES onto
    // main's head in ONE commit, losing neither side (r17 brief #2).
    spark.sql(s"INSERT INTO $tbl SELECT id, 'm', id FROM range(200, 203)")
    val v0 = CowStore.get(cat, identOf(tbl)).get.version
    // STRICT WAP mode (round-18 ADVICE): allow_rebase => false keeps
    // the pure fast-forward contract — this very publish refuses.
    val eStrict = intercept[Exception] {
      spark.sql(s"CALL $cat.publish('$name', 'audit', allow_rebase => false)")
    }
    assert(eStrict.toString.contains("allow_rebase is false"), s"got $eStrict")
    assert(CowStore.get(cat, identOf(tbl)).get.version == v0)
    spark.sql(s"CALL $cat.publish('$name', 'audit')")
    val stPub = CowStore.get(cat, identOf(tbl)).get
    assert(stPub.version == v0 + 1 &&
      stPub.parent(stPub.version) == v0,
      "the rebased publish must be ONE commit whose parent is main's head")
    assert(spark.table(tbl).count() == 28,
      "auto-rebase must land main's interim append AND the branch work")
    assert(spark.table(tbl).where("tag = 'b'").count() == 5 &&
      spark.table(tbl).where("tag = 'm'").count() == 3)
    // VACUUM protects the branch head (unpublished lineage) and main.
    spark.sql(s"CALL $cat.vacuum('$name', 1)")
    assert(spark.table(s"$tbl.branch_audit").count() == 25,
      "the branch head must survive VACUUM")
    assert(spark.table(tbl).count() == 28)
    // Unknown branch identifiers fail loudly.
    val e2 = intercept[Exception] { spark.table(s"$tbl.branch_nope").collect() }
    assert(e2.toString.contains("no such branch"), s"got $e2")
    // OVERLAP still refuses loudly: a branch UPDATE and a main DELETE
    // both rewrite the same base file — replaying either side would
    // silently drop the other's row-level work.
    val tbl2 = fresh("wapovl")
    mkBase(tbl2)
    val name2 = tbl2.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.branch('$name2', 'audit')")
    spark.sql(s"UPDATE $tbl2.branch_audit SET v = v + 1 WHERE id = 1")
    spark.sql(s"DELETE FROM $tbl2 WHERE id = 2")
    val e3 = intercept[Exception] {
      spark.sql(s"CALL $cat.publish('$name2', 'audit')")
    }
    assert(e3.toString.contains("cannot auto-rebase") &&
      e3.toString.contains("common file"), s"got $e3")
    assert(spark.table(tbl2).count() == 19,
      "a refused publish must leave main on its own lineage")
    // Metadata divergence refuses too: schema evolution on main since
    // the fork cannot compose with branch files laid out pre-evolution.
    val tbl3 = fresh("wapevo")
    mkBase(tbl3)
    val name3 = tbl3.split("\\.").drop(1).mkString(".")
    spark.sql(s"CALL $cat.branch('$name3', 'audit')")
    spark.sql(s"INSERT INTO $tbl3.branch_audit SELECT id, 'b', id FROM range(100, 105)")
    spark.sql(s"ALTER TABLE $tbl3 ADD COLUMN w BIGINT")
    val e4 = intercept[Exception] {
      spark.sql(s"CALL $cat.publish('$name3', 'audit')")
    }
    assert(e4.toString.contains("schema evolved"), s"got $e4")
  }

  test("optimize: only sub-target files are rewritten, bins respect partitions, DVs fold, stats refresh") {
    val tbl = fresh("opt")
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, tag STRING, v BIGINT) " +
      "PARTITIONED BY (tag) TBLPROPERTIES ('graft.mode' = 'mor')")
    // 2 partitions × 3 small files each (6 single-partition inserts)…
    for (m <- 0 until 3; t <- Seq("a", "b"))
      spark.sql(s"INSERT INTO $tbl SELECT id, '$t', id FROM " +
        s"range(${m * 10}, ${m * 10 + 10})")
    // …plus one BIG file per partition that must stay untouched.
    for (t <- Seq("a", "b"))
      spark.sql(s"INSERT INTO $tbl SELECT id, '$t', id FROM range(1000, 3000)")
    spark.sql(s"DELETE FROM $tbl WHERE id IN (5, 15)") // DVs on small files
    val ident = identOf(tbl)
    val before = CowStore.get(cat, ident).get
    val big = before.files.filter(f => before.stats(f).bytes >= 4096).toSet
    assert(big.size == 2, s"fixture needs 2 big files, got ${big.size}")
    assert(before.deletes.nonEmpty)
    val name = tbl.split("\\.").drop(1).mkString(".")
    val rep = spark.sql(s"CALL $cat.optimize('$name', 4096)").head
    val after = CowStore.get(cat, ident).get
    // Big files untouched byte-for-byte; small files gone; one output per
    // (partition) bin; folded DVs reported and absent from the snapshot.
    big.foreach(f => assert(after.files.contains(f), s"big file $f rewritten"))
    assert(rep.getLong(0) == before.files.size - 2, "all 6 small files rewritten")
    assert(rep.getLong(2) == 4, "two 2-position DVs folded")
    assert(after.deletes.isEmpty, "DVs must fold away with the rewrite")
    val newFiles = after.files.toSet -- before.files.toSet
    assert(newFiles.size == 2, s"one output per partition bin, got $newFiles")
    newFiles.foreach { f =>
      val fs = after.stats(f)
      assert(fs.partVals.length == 1 && Seq("a", "b").contains(fs.partVals.head),
        "bins must not mix partitions")
      assert(fs.rows == 28, "refreshed stats must count DV-folded rows")
    }
    // Content invisible: the surviving relation (ids 5 and 15 existed in
    // BOTH partitions — 4 rows deleted).
    assert(spark.table(tbl).count() == 2 * (30 - 2) + 2 * 2000)
    // A second optimize is a no-op below the threshold that bins solo
    // DV-less files.
    val rep2 = spark.sql(s"CALL $cat.optimize('$name', 4096)").head
    assert(rep2.getLong(0) == 0 && rep2.getLong(1) == 0)
  }

  test("registered row-level queries return the documented shapes on the fixture") {
    import graft.operators.RowLevelOps
    val m = RowLevelOps.qMergeInto(spark, sfDir)
    assert(m.columns.toSeq == Seq("doc_id", "source", "score"))
    assert(m.count() > 0)
    val docIds = m.select("doc_id").collect().map(_.getLong(0))
    assert(docIds.exists(_ % 6 == 0), "NOT MATCHED inserts (doc_id%6==0) must appear")
    val d = RowLevelOps.qDeleteWhere(spark, sfDir)
    // Survivors all violate the delete predicate.
    assert(d.collect().forall(r => r.getLong(2) % 4 >= 2))
    val u = RowLevelOps.qUpdateWhere(spark, sfDir)
    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(u.collect().forall { r =>
      val (id, score) = (r.getLong(0), r.getLong(2))
      score == (if (id % 7 == 0) base(id) * 2 + 1 else base(id))
    })
  }

  test("incremental dedup: every emitted pair touches a CDF-named new doc; scores match the batch plan") {
    import graft.operators.{RowLevelOps, TextOps}
    val inc = RowLevelOps.qDedupIncremental(spark, sfDir).collect()
    assert(inc.nonEmpty, "the fixture has near-dups crossing the new third")
    // The incremental restriction: no existing×existing pair ever appears
    // (new = doc_id % 3 == 0, the second insert).
    inc.foreach { r =>
      assert(r.getLong(0) % 3 == 0 || r.getLong(1) % 3 == 0,
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) touches no new doc")
    }
    // Scores equal the BATCH capped Jaccard restricted the same way — the
    // incremental plan finds exactly what the full join would.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val sh0 = TextOps.shingledOf(docs)
    val kept = sh0.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= TextOps.DfCap).select(col("s"))
    val sh = sh0.join(kept, "s").select(col("doc_id"), col("s"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val batch = sh.select(col("doc_id").as("doc_a"), col("s"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s").as("s2")),
        col("s") === col("s2") && col("doc_a") < col("doc_b"))
      .filter(col("doc_a") % 3 === 0 || col("doc_b") % 3 === 0)
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id"), col("n_sh").as("na")),
        col("doc_a") === col("doc_id")).drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_sh").as("nb")),
        col("doc_b") === col("doc_id"))
      .select(col("doc_a"), col("doc_b"), col("inter"))
      .orderBy((col("inter").cast("double") /
        (col("na") + col("nb") - col("inter"))).desc, col("doc_a"), col("doc_b"))
      .limit(20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(inc.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq == batch,
      "incremental == batch on the restricted pair set")
  }
}
