package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeStore}

/** Round-9 second wave: RESTORE to version (p40), metadata tables
  * (p41), CHECK constraints (p42) — each pinned at the level the query
  * hash cannot see: file identity, disk contents, log versions, and
  * the SQL null-semantics edge. */
class Round9bOpsSpec extends SparkTestBase {

  private def dataFiles(key: String): Set[String] = {
    val dir = new Path(LakeStore.dataDir(key))
    val fs = dir.getFileSystem(new Configuration())
    fs.listStatus(dir).map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
  }

  // ------------------------------------------------------------- p40

  test("p40/RESTORE is a manifest move: v1's exact files re-pointed, zero new data files, history append-only") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.rst")
    spark.sql("CREATE TABLE graft_lake.rst (id BIGINT, grp BIGINT) PARTITIONED BY (grp)")
    import spark.implicits._
    (0L until 40L).map(i => (i, i % 4)).toDF("id", "grp")
      .repartition(col("grp")).writeTo("graft_lake.rst").append() // v1
    val v1Files = LakeStore.get("graft_lake.rst").get.current.map(_.path).toSet
    spark.sql("DELETE FROM graft_lake.rst WHERE grp = 2") // v2
    spark.sql("UPDATE graft_lake.rst SET id = id + 100 WHERE grp = 1") // v3
    val diskBefore = dataFiles("graft_lake.rst")
    GraftLake.restore("graft_lake.rst", 1) // v4
    val st = LakeStore.get("graft_lake.rst").get
    // the live manifest IS v1's manifest again, file-identically
    assert(st.current.map(_.path).toSet === v1Files)
    // metadata-only: not a single new data file appeared on disk
    assert(dataFiles("graft_lake.rst") === diskBefore)
    // history is append-only: the bad versions remain time-travelable
    assert(st.latestVersion === 4)
    assert(spark.sql("SELECT count(*) FROM graft_lake.rst VERSION AS OF 2")
      .collect().head.getLong(0) === 30L)
    assert(spark.table("graft_lake.rst").count() === 40L)
    // roll FORWARD works too: restore to v3 reinstates the damaged state
    GraftLake.restore("graft_lake.rst", 3)
    assert(spark.table("graft_lake.rst").count() === 30L)
    assert(spark.table("graft_lake.rst").filter(col("grp") === 1 && col("id") >= 100).count() === 10L)
  }

  test("p40/RESTORE refuses a vacuumed version and restores pre-ALTER schema") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.rstv")
    spark.sql("CREATE TABLE graft_lake.rstv (id BIGINT)")
    import spark.implicits._
    Seq(1L, 2L).toDF("id").writeTo("graft_lake.rstv").append() // v1
    spark.sql("ALTER TABLE graft_lake.rstv ADD COLUMN extra BIGINT") // v2
    Seq((3L, 30L)).toDF("id", "extra").writeTo("graft_lake.rstv").append() // v3
    // restore to v1: data AND schema roll back (3-col table narrows to 1)
    GraftLake.restore("graft_lake.rstv", 1) // v4
    assert(spark.table("graft_lake.rstv").schema.fieldNames.toSeq === Seq("id"))
    assert(spark.table("graft_lake.rstv").count() === 2L)
    // vacuum away everything before the tip, then RESTORE must refuse
    spark.sql("DELETE FROM graft_lake.rstv WHERE id = 1") // v5
    GraftLake.vacuum("graft_lake.rstv", retainLast = 1)
    val e = intercept[IllegalArgumentException] { GraftLake.restore("graft_lake.rstv", 1) }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("p40 query: restore CDC classifies the undo row-by-row") {
    val row = operators.PipelineQueries.p40RestoreVersion(spark, Sf0001).collect().head
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
    assert(row.getAs[Long]("n_rows") === docs.length.toLong)
    assert(row.getAs[Long]("n_back_ins") ===
      docs.count(r => r.getString(1) == "src2" && r.getLong(2) < 300).toLong)
    assert(row.getAs[Long]("n_back_upd") === docs.count(_.getString(1) == "src5").toLong)
    assert(row.getAs[Long]("n_back_del") === 0L)
    assert(row.getAs[Long]("match_v1") === 1L)
    assert(row.getAs[Long]("groups_touched") === 2L)
  }

  // ------------------------------------------------------------- p41

  test("p41/metadata tables answer from the manifest: history spans every commit, files equals the live set") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.meta1")
    spark.sql("CREATE TABLE graft_lake.meta1 (id BIGINT, grp BIGINT) PARTITIONED BY (grp)")
    import spark.implicits._
    (0L until 30L).map(i => (i, i % 3)).toDF("id", "grp")
      .repartition(col("grp")).writeTo("graft_lake.meta1").append() // v1: 3 files
    spark.sql("DELETE FROM graft_lake.meta1 WHERE grp = 0") // v2
    val hist = spark.sql(
      "SELECT * FROM graft_lake.meta1.history ORDER BY version").collect()
    // the partition-aligned DELETE lands as p74's METADATA-ONLY commit
    // (action "delete") — before round 13 it was a row-level "replace"
    assert(hist.map(_.getAs[String]("action")).toSeq === Seq("create", "append", "delete"))
    assert(hist.map(_.getAs[Long]("version")).toSeq === Seq(0L, 1L, 2L))
    assert(hist(1).getAs[Long]("files_added") === 3L)
    assert(hist(1).getAs[Long]("rows_added") === 30L)
    assert(hist(2).getAs[Long]("files_removed") === 1L)
    assert(hist(2).getAs[Long]("rows_removed") === 10L)
    assert(hist(2).getAs[Boolean]("data_change") === true)
    val files = spark.sql("SELECT * FROM graft_lake.meta1.files").collect()
    val st = LakeStore.get("graft_lake.meta1").get
    assert(files.map(_.getAs[String]("path")).toSet === st.current.map(_.path).toSet)
    assert(files.map(_.getAs[Long]("rows")).sum === 20L)
    assert(files.map(_.getAs[String]("partition")).toSet === Set("grp=1", "grp=2"))
  }

  test("p41: a REAL table shadows the metadata suffix; unknown parents still error") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.shadow.history")
    spark.sql("CREATE TABLE graft_lake.shadow.history (note STRING)")
    import spark.implicits._
    Seq("real table").toDF("note").writeTo("graft_lake.shadow.history").append()
    // the user's table wins over the metadata resolution
    assert(spark.sql("SELECT note FROM graft_lake.shadow.history")
      .collect().head.getString(0) === "real table")
    intercept[Exception] { // no such parent table -> loud, not empty
      spark.sql("SELECT * FROM graft_lake.no_such_table.history").collect()
    }
    spark.sql("DROP TABLE graft_lake.shadow.history")
  }

  // ------------------------------------------------------------- p42

  test("p42/CHECK constraints: SQL null-semantics pass, UNSET disarms, props survive cold replay") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.chk")
    spark.sql("CREATE TABLE graft_lake.chk (id BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE graft_lake.chk SET TBLPROPERTIES ('graft.constraints.v_pos' = 'v > 0')")
    import spark.implicits._
    // NULL passes: SQL CHECK violates only on definite FALSE
    Seq((1L, java.lang.Long.valueOf(5L)), (2L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "v").writeTo("graft_lake.chk").append()
    assert(spark.table("graft_lake.chk").count() === 2L)
    // definite FALSE is blocked, and the failed write leaves no orphan commit
    val vBefore = GraftLake.latestVersion("graft_lake.chk")
    intercept[Exception] {
      Seq((3L, java.lang.Long.valueOf(-1L))).toDF("id", "v")
        .writeTo("graft_lake.chk").append()
    }
    assert(GraftLake.latestVersion("graft_lake.chk") === vBefore)
    assert(spark.table("graft_lake.chk").count() === 2L)
    // constraints are commit-log state: cold replay keeps enforcing
    LakeStore.invalidateCache("graft_lake.chk")
    assert(LakeStore.get("graft_lake.chk").get.props
      .contains("graft.constraints.v_pos"))
    intercept[Exception] {
      Seq((4L, java.lang.Long.valueOf(-2L))).toDF("id", "v")
        .writeTo("graft_lake.chk").append()
    }
    // UNSET drops the constraint; the same write now lands
    spark.sql("ALTER TABLE graft_lake.chk UNSET TBLPROPERTIES ('graft.constraints.v_pos')")
    Seq((5L, java.lang.Long.valueOf(-3L))).toDF("id", "v")
      .writeTo("graft_lake.chk").append()
    assert(spark.table("graft_lake.chk").count() === 3L)
  }

  test("p42: MERGE is constrained through the same writer; add-time validation scans existing rows") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.chkm")
    spark.sql("CREATE TABLE graft_lake.chkm (id BIGINT, v BIGINT)")
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").writeTo("graft_lake.chkm").append()
    spark.sql("ALTER TABLE graft_lake.chkm SET TBLPROPERTIES ('graft.constraints.v_cap' = 'v <= 100')")
    // a MERGE whose UPDATE branch would violate must abort whole
    Seq((1L, 500L)).toDF("id", "v").createOrReplaceTempView("chkm_src")
    intercept[Exception] {
      spark.sql("""MERGE INTO graft_lake.chkm t USING chkm_src s ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
    assert(spark.table("graft_lake.chkm").filter(col("id") === 1L)
      .collect().head.getLong(1) === 10L)
    // adding a constraint the table already violates is rejected uncommitted
    val vBefore = GraftLake.latestVersion("graft_lake.chkm")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.chkm SET TBLPROPERTIES ('graft.constraints.tiny' = 'v < 15')")
    }
    assert(e.getMessage.contains("violate"))
    assert(GraftLake.latestVersion("graft_lake.chkm") === vBefore)
    // garbage expressions and unknown columns fail analysis loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.chkm SET TBLPROPERTIES ('graft.constraints.bad' = 'no_such_col > 0')")
    }
    // SHOW TBLPROPERTIES surfaces the live constraint
    val props = spark.sql("SHOW TBLPROPERTIES graft_lake.chkm").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.constraints.v_cap").contains("v <= 100"))
  }

  // ------------------------------------------------------------- p43

  test("p43/shallow clone: zero-copy fork, independent divergence, own-dir rewrites") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.cl_dst")
    spark.sql("DROP TABLE IF EXISTS graft_lake.cl_src")
    spark.sql("CREATE TABLE graft_lake.cl_src (id BIGINT, grp BIGINT) PARTITIONED BY (grp)")
    import spark.implicits._
    (0L until 40L).map(i => (i, i % 4)).toDF("id", "grp")
      .repartition(col("grp")).writeTo("graft_lake.cl_src").append()
    val srcFiles = LakeStore.get("graft_lake.cl_src").get.current.map(_.path).toSet
    GraftLake.shallowClone("graft_lake.cl_src", "graft_lake.cl_dst")
    // the clone's manifest references the SOURCE's files absolutely
    val cloneRefs = LakeStore.get("graft_lake.cl_dst").get.current
    assert(cloneRefs.forall(_.path.startsWith("/")))
    assert(cloneRefs.map(f => new Path(f.path).getName).toSet === srcFiles)
    assert(dataFiles("graft_lake.cl_dst").isEmpty) // zero bytes copied
    assert(spark.table("graft_lake.cl_dst").count() === 40L)
    // zone stats carried over: a pruned probe skips shared files too
    spark.table("graft_lake.cl_dst").filter(col("id") < 0).count()
    val sc = LakeStore.lastScanStats("graft_lake.cl_dst")
    assert(sc.filesScanned === 0 && sc.filesTotal === 4)
    // source rewrite does not disturb the clone (file stays for the ref)
    spark.sql("DELETE FROM graft_lake.cl_src WHERE grp = 0")
    assert(spark.table("graft_lake.cl_src").count() === 30L)
    assert(spark.table("graft_lake.cl_dst").count() === 40L)
    // clone rewrite lands in the clone's OWN dir; source is untouched
    spark.sql("UPDATE graft_lake.cl_dst SET id = id + 1000 WHERE grp = 1")
    assert(spark.table("graft_lake.cl_src")
      .filter(col("id") >= 1000).count() === 0L)
    assert(spark.table("graft_lake.cl_dst")
      .filter(col("id") >= 1000).count() === 10L)
    assert(dataFiles("graft_lake.cl_dst").nonEmpty)
    // the clone's untouched groups still reference source files
    assert(LakeStore.get("graft_lake.cl_dst").get.current
      .count(_.path.startsWith("/")) === 3)
    // a clone's own VACUUM never deletes the source's files
    GraftLake.vacuum("graft_lake.cl_dst", retainLast = 1)
    assert(spark.table("graft_lake.cl_dst").count() === 40L)
    assert(spark.sql("SELECT count(*) FROM graft_lake.cl_src VERSION AS OF 1")
      .collect().head.getLong(0) === 40L)
    // cold replay keeps the absolute references working
    LakeStore.invalidateCache("graft_lake.cl_dst")
    assert(spark.table("graft_lake.cl_dst").count() === 40L)
    // cloning onto an existing table is refused
    intercept[Exception] {
      GraftLake.shallowClone("graft_lake.cl_src", "graft_lake.cl_dst")
    }
  }

  // ------------------------------------------------------------- p44

  test("p44/merge-on-read: DELETE/UPDATE write position-deletes, data files never move") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.mor1")
    spark.sql("""CREATE TABLE graft_lake.mor1 (id BIGINT, grp BIGINT)
                |PARTITIONED BY (grp)
                |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    import spark.implicits._
    (0L until 40L).map(i => (i, i % 4)).toDF("id", "grp")
      .repartition(col("grp")).writeTo("graft_lake.mor1").append() // v1: 4 files
    val v1Files = LakeStore.get("graft_lake.mor1").get.current.map(_.path).toSet
    // MoR DELETE: no data file moves; a DV appears
    spark.sql("DELETE FROM graft_lake.mor1 WHERE id % 10 = 3") // 4 rows, all groups
    val st2 = LakeStore.get("graft_lake.mor1").get
    assert(st2.current.map(_.path).toSet === v1Files) // untouched files
    assert(st2.deletes.map(_.rows).sum === 4L)
    assert(st2.snapshots.last.action === "delta")
    assert(spark.table("graft_lake.mor1").count() === 36L) // metadata path subtracts DVs
    assert(spark.table("graft_lake.mor1").filter(col("id") % 10 === 3).count() === 0L)
    // MoR UPDATE: old positions hidden, new rows in NEW files only
    spark.sql("UPDATE graft_lake.mor1 SET id = id + 100 WHERE grp = 2")
    val st3 = LakeStore.get("graft_lake.mor1").get
    assert(v1Files.subsetOf(st3.current.map(_.path).toSet)) // originals still live
    assert(spark.table("graft_lake.mor1").count() === 36L)
    // grp 2 holds ids 2,6,...,38 — none deleted (deleted ids are 3,13,23,33)
    assert(spark.table("graft_lake.mor1").filter(col("grp") === 2 && col("id") >= 100)
      .count() === 10L)
    // a deleted row cannot match again (DV applies to the row-level scan)
    spark.sql("DELETE FROM graft_lake.mor1 WHERE id % 10 = 3")
    assert(spark.table("graft_lake.mor1").count() === 36L)
    // time travel pre-delete sees everything
    assert(spark.sql("SELECT count(*) FROM graft_lake.mor1 VERSION AS OF 1")
      .collect().head.getLong(0) === 40L)
    // cold replay reconstructs the DV state exactly
    LakeStore.invalidateCache("graft_lake.mor1")
    assert(spark.table("graft_lake.mor1").count() === 36L)
    // OPTIMIZE compacts through the DVs and purges them
    GraftLake.optimize(spark, "graft_lake.mor1", "id", nFiles = 2)
    val st4 = LakeStore.get("graft_lake.mor1").get
    assert(st4.deletes.isEmpty)
    assert(spark.table("graft_lake.mor1").count() === 36L)
  }

  test("p44/merge-on-read MERGE: all three clauses as one delta commit; CDC classifies it; VACUUM keeps live DVs") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.mor2")
    spark.sql("""CREATE TABLE graft_lake.mor2 (id BIGINT, grp BIGINT, v BIGINT)
                |PARTITIONED BY (grp)
                |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    import spark.implicits._
    (0L until 30L).map(i => (i, i % 3, i * 10)).toDF("id", "grp", "v")
      .repartition(col("grp")).writeTo("graft_lake.mor2").append() // v1
    val v1Files = LakeStore.get("graft_lake.mor2").get.current.map(_.path).toSet
    Seq((1L, 1L % 3, 999L, "U"), (2L, 2L % 3, 0L, "D"), (100L, 100L % 3, 777L, "I"))
      .toDF("id", "grp", "v", "op").createOrReplaceTempView("mor2_src")
    spark.sql("""MERGE INTO graft_lake.mor2 t USING mor2_src s ON t.id = s.id
                |WHEN MATCHED AND s.op = 'D' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (s.id, s.grp, s.v)""".stripMargin) // v2
    val st = LakeStore.get("graft_lake.mor2").get
    assert(st.snapshots.last.action === "delta")
    assert(v1Files.subsetOf(st.current.map(_.path).toSet)) // nothing rewritten
    assert(st.deletes.map(_.rows).sum === 2L) // the deleted + the updated old row
    assert(spark.table("graft_lake.mor2").count() === 30L) // -1 +1
    assert(spark.table("graft_lake.mor2").filter(col("id") === 1L)
      .collect().head.getLong(2) === 999L)
    assert(spark.table("graft_lake.mor2").filter(col("id") === 2L).count() === 0L)
    // CDC reads the delta commit as row-level changes
    val cdc = GraftLake.changes(spark, "graft_lake.mor2", 1, 2, "id")
      .collect().map(r => r.getLong(0) -> r.getString(r.length - 1)).toMap
    assert(cdc === Map(1L -> "U", 2L -> "D", 100L -> "I"))
    // VACUUM must keep the LIVE deletion vectors (they back the live read)
    GraftLake.vacuum("graft_lake.mor2", retainLast = 1)
    assert(spark.table("graft_lake.mor2").count() === 30L)
    assert(spark.table("graft_lake.mor2").filter(col("id") === 2L).count() === 0L)
  }

  // ------------------------------------------------------------- st15

  test("st15/lake streaming source: non-append history poisons the stream loudly") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.stx")
    spark.sql("CREATE TABLE graft_lake.stx (id BIGINT)")
    import spark.implicits._
    val ck = java.nio.file.Files.createTempDirectory("graft-st15-gate-").toString
    def drain(): Unit = {
      val q = spark.readStream.table("graft_lake.stx")
        .writeStream.format("noop")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    Seq(1L, 2L, 3L).toDF("id").writeTo("graft_lake.stx").append() // v1
    drain() // fine: append-only so far
    spark.sql("DELETE FROM graft_lake.stx WHERE id = 2") // v2: rewrite
    val e = intercept[Exception] { drain() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).flatMap(c => Option(c.getMessage)).mkString
        .contains("append-only"))
  }

  // --------------------------------------------- scan maturity (stats/limit)

  test("manifest statistics let Catalyst auto-broadcast a small lake table (no hint)") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.dim")
    spark.sql("CREATE TABLE graft_lake.dim (id BIGINT, name STRING)")
    import spark.implicits._
    (0L until 50L).map(i => (i, s"n$i")).toDF("id", "name")
      .writeTo("graft_lake.dim").append()
    val fact = spark.range(0, 10000).select((col("id") % 50).as("id"),
      (col("id") * 3).as("v"))
    val joined = fact.join(spark.table("graft_lake.dim"), "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected an auto-chosen broadcast join, got:\n$plan")
    assert(joined.count() === 10000L)
  }

  test("pushed LIMIT plans O(needed) files from the manifest") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.lim")
    spark.sql("CREATE TABLE graft_lake.lim (id BIGINT, grp BIGINT) PARTITIONED BY (grp)")
    import spark.implicits._
    (0L until 200L).map(i => (i, i % 20)).toDF("id", "grp")
      .repartition(col("grp")).writeTo("graft_lake.lim").append() // 20 files x 10 rows
    assert(spark.table("graft_lake.lim").limit(5).collect().length === 5)
    val sc = LakeStore.lastScanStats("graft_lake.lim")
    assert(sc.filesTotal === 20)
    assert(sc.filesScanned === 1, s"LIMIT 5 should plan one 10-row file, got $sc")
    // with a residual filter in play the limit is NOT applied at the scan
    assert(spark.table("graft_lake.lim").filter(col("id") % 2 === 0)
      .limit(5).collect().length === 5)
    assert(LakeStore.lastScanStats("graft_lake.lim").filesScanned === 20)
  }
}
