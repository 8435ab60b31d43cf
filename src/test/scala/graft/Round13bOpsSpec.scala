package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeNdv, LakeStore}

/** Round-13 feature pins: manifest NDV sketches (p72) and
  * position-delete sidecar compaction (p73).
  *
  *  - the KMV sketch is EXACT below saturation, merges exactly while
  *    every input is exact (even above K), and estimates within its
  *    error contract once saturated;
  *  - sketches survive the manifest log AND a cold checkpoint replay;
  *  - `LakeScan.estimateStatistics` hands Catalyst the merged NDV as
  *    `ColumnStatistics.distinctCount`, shrunk by pushed filters;
  *  - `rewrite_deletes` folds a file's sidecars into one, preserves
  *    visible rows, single-sidecar and untouched files, time travel,
  *    and CDC invisibility, and composes with later MoR deletes.
  *
  * MUTATION-CHECKED (round 13): three reverts each fail exactly their
  * pinning tests — (M1) `metadataDeleteMatcher` forced to None fails
  * the two metadata-DELETE-lands tests (and ONLY those; the refusal
  * test stays green), (M2) dropping the COPY INTO ledger fold from
  * `LakeStore.append` fails the ledger-atomicity test (the rerun
  * re-loads), (M3) trimming the exact-sketch union to K in
  * `LakeNdv.mergedNdv` fails the exact-merge-above-K contract. */
class Round13bOpsSpec extends SparkTestBase {

  // ----------------- KMV sketch unit contracts

  test("KMV: exact below K, exact merge above K, saturated estimate in contract") {
    // exact below K: the sketch IS the distinct set
    val s1 = new LakeNdv.Sketch
    (0 until 500).foreach(i => s1.add(s"v$i"))
    (0 until 500).foreach(i => s1.add(s"v$i")) // idempotent re-adds
    val (h1, sat1) = LakeNdv.decode(s1.encode)
    assert(!sat1 && h1.length === 500)
    assert(LakeNdv.mergedNdv(Seq(s1.encode)) === ((500L, true)))

    // two exact sketches with 800 distinct each, 300 shared: the merge
    // is a set union — exact at 1300 even though 1300 > K = 1024
    val a = new LakeNdv.Sketch
    val b = new LakeNdv.Sketch
    (0 until 800).foreach(i => a.add(s"k$i"))
    (500 until 1300).foreach(i => b.add(s"k$i"))
    assert(LakeNdv.mergedNdv(Seq(a.encode, b.encode)) === ((1300L, true)))

    // saturated: 50_000 distinct through one sketch — the bottom-k
    // estimator must land within 10% (3.2 sigma at K=1024); the flag
    // and the cardinality both say "estimate"
    val big = new LakeNdv.Sketch
    (0 until 50000).foreach(i => big.add(s"u$i"))
    val (hb, satb) = LakeNdv.decode(big.encode)
    assert(satb && hb.length === LakeNdv.K)
    val (est, exact) = LakeNdv.mergedNdv(Seq(big.encode))
    assert(!exact)
    assert(math.abs(est / 50000.0 - 1.0) <= 0.10,
      s"saturated KMV estimate $est is outside 10% of 50000")

    // hashes are stored in UNSIGNED order (the estimator's kth-smallest
    // depends on it): every adjacent pair must compare unsigned-ascending
    assert(hb.sliding(2).forall(p =>
      java.lang.Long.compareUnsigned(p(0), p(1)) < 0))
  }

  test("KMV: canonical hashing agrees across integral widths") {
    // INT 7 and BIGINT 7 must be ONE distinct value, like the bloom
    val s = new LakeNdv.Sketch
    s.add(java.lang.Integer.valueOf(7))
    s.add(java.lang.Long.valueOf(7L))
    assert(LakeNdv.mergedNdv(Seq(s.encode)) === ((1L, true)))
  }

  // ----------------- manifest + checkpoint round-trip

  test("ndv sketches survive the log, a cold replay, and checkpoint cadence") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.ndvrt")
    spark.sql("""CREATE TABLE graft_lake.ndvrt (id BIGINT, cat STRING)
                |TBLPROPERTIES ('graft.ndv.columns' = 'id,cat')""".stripMargin)
    import spark.implicits._
    // 12 commits crosses the checkpoint cadence (10), so the cold
    // replay below reads checkpoint + tail — sketches must survive BOTH
    // serde paths
    (0 until 12).foreach { c =>
      (0L until 50L).map(i => (c * 50L + i, s"cat${i % 7}")).toDF("id", "cat")
        .coalesce(1).writeTo("graft_lake.ndvrt").append()
    }
    def statsRows(): Map[String, (Long, Boolean, Long, Long)] =
      spark.table("graft_lake.ndvrt.stats").collect().map(r =>
        r.getString(0) -> ((r.getLong(1), r.getBoolean(2), r.getLong(3),
          r.getLong(4)))).toMap
    val warm = statsRows()
    assert(warm("id") === ((600L, true, 12L, 12L))) // 12 x 50 disjoint ids
    assert(warm("cat") === ((7L, true, 12L, 12L)))
    LakeStore.invalidateCache("graft_lake.ndvrt")
    assert(statsRows() === warm, "cold checkpoint+tail replay changed the stats")
  }

  // ----------------- estimateStatistics exposes distinctCount

  test("scan statistics report merged NDV, shrunk by pushed filters") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.ndvcbo")
    spark.sql("""CREATE TABLE graft_lake.ndvcbo (id BIGINT, grp BIGINT)
                |TBLPROPERTIES ('graft.ndv.columns' = 'id,grp')""".stripMargin)
    import spark.implicits._
    // two files with DISJOINT grp ranges: a zone-pruned scan must fold
    // only the surviving file's sketch
    (0L until 100L).map(i => (i, i % 4)).toDF("id", "grp")
      .coalesce(1).writeTo("graft_lake.ndvcbo").append()
    (100L until 200L).map(i => (i, 10L + i % 4)).toDF("id", "grp")
      .coalesce(1).writeTo("graft_lake.ndvcbo").append()
    def ndvOf(df: org.apache.spark.sql.DataFrame, col: String): Option[Long] = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      val scans = df.queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.scan }
      assert(scans.length === 1)
      val st = scans.head.asInstanceOf[
        org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
      import scala.jdk.CollectionConverters._
      st.columnStats().asScala.collectFirst {
        case (ref, cs) if ref.fieldNames().sameElements(Array(col)) &&
            cs.distinctCount().isPresent => cs.distinctCount().getAsLong
      }
    }
    val full = spark.table("graft_lake.ndvcbo")
    assert(ndvOf(full, "id") === Some(200L))
    assert(ndvOf(full, "grp") === Some(8L))
    // zone pruning drops file 2 (grp >= 10): the reported NDV is the
    // SURVIVING file's — what a join-size estimate should see
    val pruned = spark.table("graft_lake.ndvcbo").filter(col("grp") < 4)
    assert(ndvOf(pruned, "id") === Some(100L))
    assert(ndvOf(pruned, "grp") === Some(4L))
  }

  // ----------------- rewrite_deletes semantics

  private def morTable(name: String): String = {
    val key = s"graft_lake.$name"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"""CREATE TABLE $key (id BIGINT, grp STRING, v BIGINT)
                 |PARTITIONED BY (grp)
                 |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    import spark.implicits._
    (0L until 40L).map(i => (i, s"g${i % 2}", i)).toDF("id", "grp", "v")
      .repartition(1).writeTo(key).append() // one file per group
    key
  }

  test("rewrite_deletes folds sidecars, preserves rows, stays CDC-invisible") {
    val key = morTable("rwd1")
    // three MoR deletes: g0's file collects 3 sidecars, g1's collects 2
    spark.sql(s"DELETE FROM $key WHERE id IN (0, 1)")   // g0 + g1
    spark.sql(s"DELETE FROM $key WHERE id IN (2, 3)")   // g0 + g1
    spark.sql(s"DELETE FROM $key WHERE id = 4")         // g0 only
    val st0 = LakeStore.get(key).get
    assert(st0.deletes.length === 5)
    val preVersion = st0.latestVersion
    val visBefore = spark.table(key).agg(sum("v"), count(lit(1))).collect()(0)

    val r = spark.sql(
      s"CALL graft_lake.system.rewrite_deletes('rwd1', 2)").collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((2L, 3L, 2L)))

    val st1 = LakeStore.get(key).get
    assert(st1.deletes.length === 2)
    assert(st1.deletes.map(_.rows).sum === 5L) // merged positions, no loss
    assert(st1.current.map(_.path) === st0.current.map(_.path)) // no data moved
    assert(!st1.snapshots(st1.latestVersion).dataChange)

    // visible rows bit-identical; time travel still reads old sidecars
    assert(spark.table(key).agg(sum("v"), count(lit(1))).collect()(0)
      === visBefore)
    assert(spark.sql(s"SELECT * FROM $key VERSION AS OF $preVersion")
      .agg(sum("v"), count(lit(1))).collect()(0) === visBefore)

    // the change feed across the rewrite is EMPTY (layout-only)
    assert(GraftLake.changes(spark, key, preVersion,
      st1.latestVersion, "id").count() === 0L)

    // later MoR deletes compose on top of the merged sidecar
    spark.sql(s"DELETE FROM $key WHERE id = 6")
    assert(spark.table(key).count() === 34L)
    assert(LakeStore.get(key).get.deletes.length === 3)
  }

  test("ndv columns refuse rename (like blooms); widening keeps one hash space") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.ndvren")
    spark.sql("""CREATE TABLE graft_lake.ndvren (id INT, cat STRING, free STRING)
                |TBLPROPERTIES ('graft.ndv.columns' = 'id,cat')""".stripMargin)
    import spark.implicits._
    (0 until 50).map(i => (i, s"c${i % 5}", s"f$i")).toDF("id", "cat", "free")
      .coalesce(1).writeTo("graft_lake.ndvren").append()
    // renaming a sketched column would orphan the ndv.columns property
    // (new writes would silently stop sketching) — refused loudly,
    // exactly like bloom-indexed columns
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.ndvren RENAME COLUMN cat TO category")
    }
    assert(e.getMessage.contains("ndv"))
    // an unsketched column renames freely
    spark.sql("ALTER TABLE graft_lake.ndvren RENAME COLUMN free TO free2")
    // widening INT -> BIGINT must not split old and new value hashes:
    // the canonical byte form collapses integral widths
    spark.sql("ALTER TABLE graft_lake.ndvren ALTER COLUMN id TYPE BIGINT")
    (0L until 50L).map(i => (i, s"c${i % 5}", s"f$i")).toDF("id", "cat", "free2")
      .coalesce(1).writeTo("graft_lake.ndvren").append() // same ids as longs
    val widened = spark.table("graft_lake.ndvren.stats").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toList.sortBy(_._1)
    assert(widened === List(("cat", 5L, true), ("id", 50L, true)),
      "re-appended ids as BIGINT must hash onto the same 50 distinct values")
  }

  // ----------------- metadata-only DELETE gate (p74)

  test("partition-aligned DELETE is metadata-only; others fall back") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.md1")
    spark.sql("""CREATE TABLE graft_lake.md1 (id BIGINT, grp STRING, v BIGINT)
                |PARTITIONED BY (grp)""".stripMargin)
    import spark.implicits._
    (0L until 30L).map(i => (i, s"g${i % 3}", i)).toDF("id", "grp", "v")
      .repartition(col("grp")).writeTo("graft_lake.md1").append()
    val paths0 = LakeStore.get("graft_lake.md1").get.current.map(_.path).toSet

    // aligned: IN on the identity partition column -> manifest-only
    spark.sql("DELETE FROM graft_lake.md1 WHERE grp IN ('g0', 'g2')")
    val st1 = LakeStore.get("graft_lake.md1").get
    assert(st1.snapshots(st1.latestVersion).action === "delete")
    assert(st1.current.map(_.path).forall(paths0.contains), "no rewrite output")
    assert(spark.table("graft_lake.md1").select(collect_set("grp"))
      .collect()(0).getSeq[String](0) === Seq("g1"))

    // the change feed sees the full row-level delete
    assert(GraftLake.changes(spark, "graft_lake.md1", 1, 2, "id")
      .filter(col("change") === "D").count() === 20L)

    // non-aligned predicate: the planned copy-on-write path runs
    spark.sql("DELETE FROM graft_lake.md1 WHERE v % 2 = 0")
    val st2 = LakeStore.get("graft_lake.md1").get
    assert(st2.snapshots(st2.latestVersion).action === "replace")
    assert(spark.table("graft_lake.md1").count() === 5L)
  }

  test("metadata DELETE works on merge-on-read tables and keeps DVs consistent") {
    val key = morTable("md2") // 40 rows, g0/g1, MoR, one file per group
    spark.sql(s"DELETE FROM $key WHERE id IN (0, 1)") // MoR: sidecars on both files
    assert(LakeStore.get(key).get.deletes.length === 2)
    // aligned delete drops g0's file — its deletion vector must go too
    spark.sql(s"DELETE FROM $key WHERE grp = 'g0'")
    val st = LakeStore.get(key).get
    assert(st.snapshots(st.latestVersion).action === "delete")
    assert(st.current.length === 1)
    assert(st.deletes.length === 1, "removed file's DV must prune")
    assert(spark.table(key).count() === 19L) // g1 minus id=1
  }

  test("metadata DELETE gate refuses transforms, old eras, and null literals") {
    // days() transform: a source-column equality is NOT group-decidable
    spark.sql("DROP TABLE IF EXISTS graft_lake.md3")
    spark.sql("""CREATE TABLE graft_lake.md3 (id BIGINT, s STRING)
                |PARTITIONED BY (bucket(4, s))""".stripMargin)
    import spark.implicits._
    (0L until 20L).map(i => (i, s"s${i % 5}")).toDF("id", "s")
      .writeTo("graft_lake.md3").append()
    spark.sql("DELETE FROM graft_lake.md3 WHERE s = 's1'")
    val st3 = LakeStore.get("graft_lake.md3").get
    assert(st3.snapshots(st3.latestVersion).action === "replace",
      "bucket spec must take the row-level path")
    assert(spark.table("graft_lake.md3").count() === 16L)

    // pre-evolution files: group keys of the OLD spec cannot decide a
    // predicate on the NEW spec's column — must fall back
    spark.sql("DROP TABLE IF EXISTS graft_lake.md4")
    spark.sql("""CREATE TABLE graft_lake.md4 (id BIGINT, a STRING, b STRING)
                |PARTITIONED BY (a)""".stripMargin)
    (0L until 12L).map(i => (i, s"a${i % 2}", s"b${i % 3}")).toDF("id", "a", "b")
      .writeTo("graft_lake.md4").append() // era-0 files
    GraftLake.setPartitionSpec("graft_lake.md4", Seq("b")) // era 1
    spark.sql("DELETE FROM graft_lake.md4 WHERE b = 'b1'")
    val st4 = LakeStore.get("graft_lake.md4").get
    assert(st4.snapshots(st4.latestVersion).action === "replace",
      "mixed-era live set must take the row-level path")
    assert(spark.table("graft_lake.md4").count() === 8L)
  }

  // ----------------- COPY INTO ledger atomicity (p77)

  test("copy_into: a failed ingest records nothing; the retry loads it all") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.cpin")
    spark.sql("""CREATE TABLE graft_lake.cpin (id BIGINT, v BIGINT)
                |TBLPROPERTIES ('graft.constraints.nonneg' = 'v >= 0')""".stripMargin)
    import spark.implicits._
    val src = "/tmp/graft_cpin_spec"
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    def stage(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$src/_t_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$src/$name.parquet"))
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    stage("bad", (0L until 5L).map(i => (i, -1L)).toDF("id", "v")) // violates CHECK
    // the ingest job FAILS on the constraint — and the ledger must not
    // have recorded the file (ledger and rows are one commit)
    intercept[Exception] {
      GraftLake.copyInto(spark, "graft_lake.cpin", src)
    }
    val st0 = LakeStore.get("graft_lake.cpin").get
    assert(!st0.props.contains(LakeStore.CopyLedgerProp),
      "aborted ingest must not mark its files loaded")
    assert(spark.table("graft_lake.cpin").count() === 0L)
    // replace the bad file (new name — file identity is name@size) and
    // retry: everything loads exactly once
    fs.delete(new org.apache.hadoop.fs.Path(s"$src/bad.parquet"), false)
    stage("good", (0L until 5L).map(i => (i, i)).toDF("id", "v"))
    assert(GraftLake.copyInto(spark, "graft_lake.cpin", src) === ((1, 5L)))
    assert(GraftLake.copyInto(spark, "graft_lake.cpin", src) === ((0, 0L)))
    assert(spark.table("graft_lake.cpin").count() === 5L)
    // the ledger survives unrelated commits (props carry forward)
    (5L until 8L).map(i => (i, i)).toDF("id", "v")
      .writeTo("graft_lake.cpin").append()
    assert(GraftLake.copyInto(spark, "graft_lake.cpin", src) === ((0, 0L)))
    assert(spark.table("graft_lake.cpin").count() === 8L)
  }

  // ----------------- streaming startingTimestamp

  test("startingTimestamp starts at the earliest commit at or after the instant") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.stts")
    spark.sql("CREATE TABLE graft_lake.stts (id BIGINT)")
    import spark.implicits._
    def append(lo: Long, hi: Long): Unit =
      (lo until hi).toDF("id").coalesce(1).writeTo("graft_lake.stts").append()
    append(0, 10) // v1
    Thread.sleep(30)
    val cut = System.currentTimeMillis()
    Thread.sleep(30)
    append(10, 20) // v2
    append(20, 30) // v3
    def drain(opts: Map[String, String], name: String): Seq[Long] = {
      val root = s"/tmp/graft_stts_$name"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val reader = opts.foldLeft(spark.readStream) { case (r, (k, v)) => r.option(k, v) }
      val q = reader.table("graft_lake.stts")
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"$root/_cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.table(name).collect().map(_.getLong(0)).sorted.toSeq
    }
    // from the cut: v1 predates it, v2+v3 deliver
    assert(drain(Map("startingTimestamp" -> cut.toString), "stts_cut")
      === (10L until 30L))
    // a timestamp after the latest commit is refused loudly (a silent
    // empty-forever stream would look identical to a broken one)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(Map("startingTimestamp" ->
        (System.currentTimeMillis() + 60000).toString), "stts_late")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("at or after timestamp")))
    // mutually exclusive with startingVersion
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(Map("startingTimestamp" -> cut.toString,
        "startingVersion" -> "latest"), "stts_both")
    }
    assert(causes(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("mutually exclusive")))
  }

  test("rewrite_deletes is a no-op below min_sidecars and on clean tables") {
    val key = morTable("rwd2")
    assert(LakeStore.rewriteDeletes(key) === ((0, 0))) // no deletes at all
    spark.sql(s"DELETE FROM $key WHERE id IN (0, 1)") // 1 sidecar per file
    val before = LakeStore.get(key).get
    assert(LakeStore.rewriteDeletes(key, 2) === ((0, 0)))
    val after = LakeStore.get(key).get
    assert(after.latestVersion === before.latestVersion, "no-op must not commit")
    // min_sidecars is a real threshold: 2 sidecars on one file, min 3
    spark.sql(s"DELETE FROM $key WHERE id IN (2, 3)")
    assert(LakeStore.rewriteDeletes(key, 3) === ((0, 0)))
    assert(LakeStore.rewriteDeletes(key, 2)._1 === 2)
  }
}
