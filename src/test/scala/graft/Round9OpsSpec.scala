package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeStore}

/** Round-9 operators: schema evolution (p37), OPTIMIZE layout rewrite
  * (p38), streaming change-data feed (st14) — each replayed against an
  * independent construction, plus the loud-failure edges of ALTER. */
class Round9OpsSpec extends SparkTestBase {

  test("p37: pre-ALTER snapshots keep the 3-column schema; nulls pad exactly the never-rescored rows") {
    val got = operators.PipelineQueries.p37SchemaEvolution(spark, Sf0001).collect()
    // v1 time travel surfaces the pre-evolution schema
    assert(spark.sql("SELECT * FROM graft_lake.evo VERSION AS OF 1").schema.fieldNames.toSeq
      === Seq("doc_id", "source", "n_chars"))
    assert(spark.table("graft_lake.evo").schema.fieldNames.toSeq
      === Seq("doc_id", "source", "n_chars", "quality_milli"))
    // independent replay off the raw documents
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
    val bySource = docs.groupBy(_.getString(1))
    got.filter(_.getString(0) != "src_new").foreach { r =>
      val src = bySource(r.getString(0))
      assert(r.getLong(1) === src.length.toLong, s"n_rows ${r.getString(0)}")
      assert(r.getLong(2) === src.count(_.getLong(0) % 5 != 0).toLong,
        s"null quality must be exactly the non-rescored rows in ${r.getString(0)}")
      assert(r.getLong(3) ===
        src.filter(_.getLong(0) % 5 == 0).map(_.getLong(2) * 3).sum)
    }
    val inserted = got.find(_.getString(0) == "src_new").get
    assert(inserted.getLong(1) === docs.count(_.getLong(0) % 97 == 0).toLong)
    assert(inserted.getLong(2) === 0L) // every inserted row carries quality
  }

  test("ALTER TABLE rejects what the lake cannot evolve") {
    // DROP/RENAME COLUMN and lossless retypes became metadata-only in
    // round 10 (column mapping + type widening) — what remains refused
    // is what no metadata move can make sound
    spark.sql("DROP TABLE IF EXISTS graft_lake.alt")
    spark.sql("CREATE TABLE graft_lake.alt (id BIGINT, v BIGINT)")
    intercept[Exception] { // NOT NULL column cannot pad existing files
      spark.sql("ALTER TABLE graft_lake.alt ADD COLUMN q BIGINT NOT NULL")
    }
    val e = intercept[Exception] { // dropping every column is refused atomically
      spark.sql("ALTER TABLE graft_lake.alt DROP COLUMNS (id, v)")
    }
    assert(e.getMessage.contains("only column"))
    intercept[Exception] { // RENAME TABLE has no metadata-safe story here
      spark.sql("ALTER TABLE graft_lake.alt RENAME TO graft_lake.alt2")
    }
    // the failed ALTERs must not have committed anything
    assert(LakeStore.get("graft_lake.alt").get.latestVersion === 0)
    assert(spark.table("graft_lake.alt").schema.length === 2)
  }

  test("p38/OPTIMIZE on handcrafted files: exact before/after skip counts, CDC-invisible, history intact") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.optx")
    spark.sql("CREATE TABLE graft_lake.optx (id BIGINT, v BIGINT)")
    import spark.implicits._
    // 4 single-file ingest commits, EACH spanning the full v range
    // (worst layout: every box predicate must open every file)
    (0 until 4).foreach { c =>
      (0 until 25).map(i => (c * 100L + i, (i * 4 + c).toLong)).toDF("id", "v")
        .coalesce(1).writeTo("graft_lake.optx").append()
    }
    def box() = spark.table("graft_lake.optx")
      .filter(col("v") >= 10L && col("v") <= 30L)
      .agg(count(lit(1)), sum(col("id"))).collect()(0)
    val before = box()
    val sBefore = LakeStore.lastScanStats("graft_lake.optx")
    assert(sBefore.filesTotal === 4 && sBefore.filesScanned === 4)

    val vPre = GraftLake.latestVersion("graft_lake.optx")
    GraftLake.optimize(spark, "graft_lake.optx", "v", nFiles = 4)
    val vPost = GraftLake.latestVersion("graft_lake.optx")
    assert(vPost === vPre + 1)

    val after = box()
    assert(after === before) // OPTIMIZE changed no data
    val sAfter = LakeStore.lastScanStats("graft_lake.optx")
    assert(sAfter.filesTotal === 4)
    assert(sAfter.filesScanned < sBefore.filesScanned,
      s"range clustering must skip files: scanned ${sAfter.filesScanned} of 4")
    // layout-only commit: invisible to the incremental reader...
    assert(GraftLake.changedPartitions("graft_lake.optx", vPre, vPost) === Some(Set.empty))
    assert(GraftLake.changes(spark, "graft_lake.optx", vPre, vPost, "id").count() === 0L)
    // ...but a real data commit in the same range still surfaces
    spark.sql("DELETE FROM graft_lake.optx WHERE id = 0")
    assert(GraftLake.changes(spark, "graft_lake.optx", vPre,
      GraftLake.latestVersion("graft_lake.optx"), "id").collect().toSeq
      === Seq(Row(0L, "D")))
    // pre-optimize history reads intact
    assert(spark.sql("SELECT count(*) FROM graft_lake.optx VERSION AS OF 2")
      .collect().head.getLong(0) === 50L)
  }

  test("VACUUM deletes exactly the unreferenced files + orphans, keeps retained history readable") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.vacx")
    spark.sql("CREATE TABLE graft_lake.vacx (id BIGINT, v BIGINT)")
    import spark.implicits._
    (0 until 3).foreach { c => // v1..v3: one file each
      (0 until 10).map(i => (c * 100L + i, i.toLong)).toDF("id", "v")
        .coalesce(1).writeTo("graft_lake.vacx").append()
    }
    spark.sql("DELETE FROM graft_lake.vacx WHERE v < 5") // v4: COW rewrite
    val st = LakeStore.get("graft_lake.vacx").get
    val ingestFiles = st.filesAt(3).map(_.path).toSet
    val liveFiles = st.current.map(_.path).toSet
    assert((ingestFiles intersect liveFiles).isEmpty) // fully rewritten

    // plant an orphan (an aborted task's leftover): a FRESH orphan is
    // indistinguishable from an in-flight write's output, so the default
    // grace window must protect it; an aged one must be swept
    val dataDir = new org.apache.hadoop.fs.Path(LakeStore.dataDir("graft_lake.vacx"))
    val fs = dataDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val orphan = new org.apache.hadoop.fs.Path(dataDir, "orphan-task-leftover.parquet")
    fs.create(orphan, true).close()

    // retain the last TWO versions (v3+v4): v3 references ALL THREE
    // ingest files (append snapshots are cumulative), so only the
    // planted orphan is unreferenced by the keep set
    val (d0, h0) = GraftLake.vacuum("graft_lake.vacx", retainLast = 2)
    assert(h0 === 3)
    assert(d0 === 0 && fs.exists(orphan)) // fresh orphan: inside the grace window
    val (d1, h1) = GraftLake.vacuum("graft_lake.vacx", retainLast = 2, graceMs = 0L)
    assert(h1 === 3)
    assert(d1 === 1 && !fs.exists(orphan)) // past the grace window: swept
    assert(spark.sql("SELECT count(*) FROM graft_lake.vacx VERSION AS OF 3")
      .collect().head.getLong(0) === 30L) // retained history still whole
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_lake.vacx VERSION AS OF 2").collect()
    }
    intercept[Exception] { GraftLake.changes(spark, "graft_lake.vacx", 1, 4, "id") }

    // tighten retention to the live version only: the ingest files go
    val (d2, h2) = GraftLake.vacuum("graft_lake.vacx", retainLast = 1)
    assert(h2 === 4)
    assert(d2 === 3) // the three now-unreferenced ingest files
    val onDisk = fs.listStatus(dataDir).map(_.getPath.getName)
      .filter(_.endsWith(".parquet")).toSet
    assert(onDisk === liveFiles)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_lake.vacx VERSION AS OF 3").collect()
    }
    // the horizon survives a cold log replay
    LakeStore.invalidateCache("graft_lake.vacx")
    assert(LakeStore.get("graft_lake.vacx").get.earliest === 4)
    assert(spark.table("graft_lake.vacx").count() === 15L) // live untouched
  }

  test("st14 equals the batch restatement of the same three commits") {
    val got = operators.StreamingQueries.st14ChangeFeed(spark, Sf0001).collect().toSeq
    // independent batch-side replay: same per-commit diffs via the
    // library call (not the stream), off the finished table history
    val batch = (1 to 4).flatMap { v =>
      GraftLake.changes(spark, "graft_lake.change_feed", v - 1, v, "doc_id")
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("s"))
        .collect()
        .map(r => Row(v.toLong, r.getString(0), r.getLong(1), r.getLong(2)))
    }.sortBy(r => (r.getLong(0), r.getString(1)))
    assert(got === batch)
    // the stream saw exactly the data commits: v1 load, v2 delete,
    // v3 update, v4 append — each in its own micro-batch
    assert(got.map(_.getLong(0)).distinct === Seq(1L, 2L, 3L, 4L))
  }
}
