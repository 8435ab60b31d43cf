package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeStore}

/** Round-15 lake contracts: delta-encoded snapshot state (per-commit
  * add/remove deltas, one materialized live list per ref, below-window
  * deltas paged to the log), O(commit-size) streaming delivery, the
  * schema guard on schema-changing REPLACE commits, and the widened
  * OCC stress (COPY INTO ledger + streaming-epoch sink exactly-once
  * under racing writers). */
class Round15OpsSpec extends SparkTestBase {

  private def withWindow[T](w: Int)(body: => T): T = {
    val saved = sys.props.get("graft.lake.snapshot.window")
    sys.props.update("graft.lake.snapshot.window", w.toString)
    try body
    finally saved match {
      case Some(v) => sys.props.update("graft.lake.snapshot.window", v)
      case None => sys.props.remove("graft.lake.snapshot.window")
    }
  }

  test("snapshot state is delta-encoded: one live list per ref, history paged, filesAt exact") {
    withWindow(4) {
      import spark.implicits._
      val key = "graft_lake.deltas"
      spark.sql(s"DROP TABLE IF EXISTS $key")
      spark.sql(s"CREATE TABLE $key (id BIGINT, v BIGINT)")
      // 10 data commits, plus a row-level rewrite and a layout rewrite —
      // enough history that the below-window prefix pages out
      (0 until 10).foreach { i =>
        Seq((i.toLong, i.toLong)).toDF("id", "v")
          .coalesce(1).writeTo(key).append()
      }
      spark.sql(s"DELETE FROM $key WHERE id = 3") // v11: COW rewrite
      GraftLake.optimize(spark, key, "id", 2) // v12: layout-only
      val st = LakeStore.get(key).get
      val latest = st.latestVersion
      // exactly the ref heads hold a materialized list (one ref: main)
      val withLive = st.snapshots.indices.filter(st.snapshots(_).live.isDefined)
      assert(withLive === Seq(latest), s"materialized: $withLive")
      // deltas below latest-4 are paged out of memory
      st.snapshots.indices.foreach { v =>
        val s = st.snapshots(v)
        if (v <= latest - 4 && v > 0)
          assert(s.paged && s.added.isEmpty && s.removedPaths.isEmpty,
            s"v$v should be paged")
        else assert(!s.paged, s"v$v inside the window should not be paged")
      }
      // a paged version's delta reloads from its own log entry
      val reloadsBefore = LakeStore.deltaReloads.get()
      val add2 = st.addedAt(2)
      assert(add2.length === 1 && add2.head.rows === 1L)
      assert(LakeStore.deltaReloads.get() > reloadsBefore)
      // time travel reconstructs exact live sets through the paged chain
      assert(st.filesAt(5).map(_.rows).sum === 5L)
      assert(spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 7")
        .collect()(0).getLong(0) === 7L)
      assert(spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 11")
        .collect()(0).getLong(0) === 9L) // post-DELETE
      assert(spark.table(key).count() === 9L)
      // the current head never reconstructs: reads are O(1) metadata
      val reconsBefore = LakeStore.liveReconstructions.get()
      assert(st.current.map(_.rows).sum === 9L)
      assert(LakeStore.liveReconstructions.get() === reconsBefore)
    }
  }

  test("cold replay rebuilds the same materialization + paging shape across a checkpoint") {
    withWindow(4) {
      import spark.implicits._
      val key = "graft_lake.deltacold"
      spark.sql(s"DROP TABLE IF EXISTS $key")
      spark.sql(s"CREATE TABLE $key (id BIGINT) PARTITIONED BY (id)")
      (0 until 12).foreach { i => // crosses the default checkpoint at v10
        Seq(i.toLong).toDF("id").coalesce(1).writeTo(key).append()
      }
      spark.sql(s"ALTER TABLE $key ADD COLUMN note STRING") // metadata commit
      val warm = LakeStore.get(key).get
      LakeStore.invalidateCache(key)
      // the checkpoint carries the head's MATERIALIZED live list, so a
      // cold load applies only the post-checkpoint tail deltas — zero
      // paged-entry reloads, zero full-chain reconstructions, whatever
      // the history length (the object-store economics checkpoints buy)
      val reloads0 = LakeStore.deltaReloads.get()
      val recons0 = LakeStore.liveReconstructions.get()
      val cold = LakeStore.get(key).get
      assert(LakeStore.deltaReloads.get() === reloads0,
        "cold load must not re-open paged log entries")
      assert(LakeStore.liveReconstructions.get() <= recons0 + 1,
        "cold load rebuilds the moved head from the checkpoint head only")
      assert(cold.snapshots.length === warm.snapshots.length)
      cold.snapshots.zip(warm.snapshots).zipWithIndex.foreach { case ((c, w), v) =>
        assert(c.live.isDefined === w.live.isDefined, s"materialization at v$v")
        assert(c.paged === w.paged, s"paging at v$v")
        assert(c.added.map(_.path) === w.added.map(_.path), s"delta at v$v")
        assert(c.removedPaths === w.removedPaths, s"removals at v$v")
        assert(cold.filesAt(v).map(f => (f.path, f.rows)).sortBy(_._1) ===
          warm.filesAt(v).map(f => (f.path, f.rows)).sortBy(_._1), s"live at v$v")
      }
      // the replay started from the checkpoint, not the full log
      val rs = LakeStore.lastReplayStats(key)
      assert(rs.checkpoint.contains(10), s"replay stats: $rs")
      assert(spark.table(key).count() === 12L)
      assert(spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 6")
        .collect()(0).getLong(0) === 6L)
    }
  }

  test("a branch head demoted below the window pages at demotion, matching cold replay") {
    withWindow(4) {
      import spark.implicits._
      val key = "graft_lake.demopage"
      spark.sql(s"DROP TABLE IF EXISTS $key")
      spark.sql(s"CREATE TABLE $key (id BIGINT)")
      Seq(1L, 2L).toDF("id").coalesce(1).writeTo(key).append() // v1
      LakeStore.createRef(key, "dev", "branch") // v2: dev head
      def onBranch[T](body: => T): T =
        GraftSession.withConf(spark)("graft.lake.branch" -> "dev")(body)
      onBranch { Seq(10L).toDF("id").coalesce(1).writeTo(key).append() } // v3: dev head WITH payload
      (0 until 8).foreach { i => // v4..v11: dev's head falls far below the window
        Seq(100L + i).toDF("id").coalesce(1).writeTo(key).append()
      }
      val before = LakeStore.get(key).get
      // the old branch head is below the cut but stays whole: heads
      // never page, however deep they sink
      assert(before.snapshots(3).live.isDefined && !before.snapshots(3).paged)
      // a new branch commit demotes it — and because it already sits
      // below the window, it pages AT demotion (the one crossing the
      // O(1)-per-commit rule would otherwise miss)
      onBranch { Seq(11L).toDF("id").coalesce(1).writeTo(key).append() } // v12
      val st = LakeStore.get(key).get
      assert(st.snapshots(3).live.isEmpty && st.snapshots(3).paged,
        "the demoted deep head must page immediately")
      assert(st.snapshots(12).live.isDefined, "the new branch head is whole")
      // the warm shape IS the cold shape — any interleaving
      LakeStore.invalidateCache(key)
      val cold = LakeStore.get(key).get
      cold.snapshots.zip(st.snapshots).zipWithIndex.foreach { case ((c, w), v) =>
        assert(c.live.isDefined === w.live.isDefined, s"materialization at v$v")
        assert(c.paged === w.paged, s"paging at v$v")
      }
      // both lineages read exactly their own rows
      assert(spark.table(key).count() === 10L) // main: 2 + 8
      assert(onBranch(spark.table(key).count()) === 4L) // dev: 2 + 1 + 1
    }
  }

  test("merge-on-read delete state pages with the window and reloads exactly") {
    withWindow(4) {
      import spark.implicits._
      val key = "graft_lake.delpage"
      spark.sql(s"DROP TABLE IF EXISTS $key")
      spark.sql(s"""CREATE TABLE $key (id BIGINT, v BIGINT)
                   |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
      (0L until 40L).map(i => (i, i)).toDF("id", "v")
        .coalesce(1).writeTo(key).append() // v1
      spark.sql(s"DELETE FROM $key WHERE id = 1") // v2: DV sidecar
      (0 until 8).foreach { i => // v3..v10 — v2 falls below the window
        Seq((100L + i, 0L)).toDF("id", "v").coalesce(1).writeTo(key).append()
      }
      val st = LakeStore.get(key).get
      val s2 = st.snapshots(2)
      // the DV-bearing version paged: inline delete state left memory
      assert(s2.paged && s2.deletes.isEmpty, "v2 should be paged")
      assert(st.deletesAt(2).nonEmpty, "paged delete state reloads from the log")
      // time travel through the paged version still subtracts the DV
      assert(spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 2")
        .collect()(0).getLong(0) === 39L)
      // the CDC diff of the paged commit still delivers its D row
      val d = graft.sources.GraftLake.changes(spark, key, 1, 2, "id").collect()
      assert(d.length === 1 && d(0).getAs[String]("change") === "D")
      // the HEAD keeps its full inline state however old its DV is
      assert(st.snapshots(st.latestVersion).deletes.nonEmpty)
      assert(spark.table(key).count() === 47L) // 39 + 8
    }
  }

  test("streaming delivery plans from per-commit add-lists: zero live-set reconstructions") {
    import spark.implicits._
    val key = "graft_lake.stdelta"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    (0 until 6).foreach { i =>
      Seq(i.toLong, i + 100L).toDF("id").coalesce(1).writeTo(key).append()
    }
    val root = "/tmp/graft_r15_stdelta"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val recons0 = LakeStore.liveReconstructions.get()
    val reloads0 = LakeStore.deltaReloads.get()
    val got = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream
      .option("maxFilesPerTrigger", "2") // several batches, rate-limited
      .table(key)
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => { got.addAndGet(b.count()); () })
      .option("checkpointLocation", s"$root/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(got.get() === 12L)
    // the whole drain — initial load, rate-limit admission, partition
    // planning — touched only the delivered commits' own add-lists:
    // no full-file-list rebuild, no paged-delta reload, on any path
    assert(LakeStore.liveReconstructions.get() === recons0,
      "streaming delivery must not reconstruct live file sets")
    assert(LakeStore.deltaReloads.get() === reloads0,
      "in-window commits must deliver from memory")
  }

  test("a schema-changing REPLACE fails a running stream loudly; mergeSchema opts out") {
    import spark.implicits._
    val key = "graft_lake.strepl"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    Seq(1L, 2L).toDF("id").writeTo(key).append()
    val root = "/tmp/graft_r15_strepl"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    def startStream(cp: String, mergeSchema: Boolean,
        got: java.util.concurrent.atomic.AtomicLong) =
      spark.readStream
        .option("skipChangeCommits", "true")
        .option("mergeSchema", mergeSchema.toString)
        .table(key)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) => { got.addAndGet(b.count()); () })
        .option("checkpointLocation", s"$root/$cp")
        .start()
    val got = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = startStream("cp", mergeSchema = false, got)
    q.processAllAvailable()
    assert(got.get() === 2L)
    // a staged REPLACE retypes the table while the stream RUNS (adds a
    // column) — NOT an ALTER: the guard must key on the schema change
    // itself, or skipChangeCommits would cross it silently and every
    // later append would deliver under the stale schema
    spark.sql(s"CREATE OR REPLACE TABLE $key (id BIGINT, extra STRING)")
    Seq((3L, "x")).toDF("id", "extra").writeTo(key).append()
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    val failMsg =
      try { q.processAllAvailable(); "" }
      catch { case e: Throwable =>
        causes(e).map(c => Option(c.getMessage).getOrElse(""))
          .find(m => m.contains("evolved at commit")).getOrElse("")
      } finally if (q.isActive) q.stop()
    assert(failMsg.contains("evolved at commit 2"),
      s"expected the loud schema failure at the replace commit, got '$failMsg'")
    // mergeSchema=true is the documented opt-out: a twin stream crosses
    // the same replace live, under its own schema
    spark.sql(s"DROP TABLE IF EXISTS ${key}_m")
    spark.sql(s"CREATE TABLE ${key}_m (id BIGINT)")
    Seq(1L, 2L).toDF("id").writeTo(s"${key}_m").append()
    val gotM = new java.util.concurrent.atomic.AtomicLong(0L)
    val keyOrig = key
    val qm = spark.readStream
      .option("skipChangeCommits", "true")
      .option("mergeSchema", "true")
      .table(s"${keyOrig}_m")
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => { gotM.addAndGet(b.count()); () })
      .option("checkpointLocation", s"$root/cpm")
      .start()
    qm.processAllAvailable()
    spark.sql(s"CREATE OR REPLACE TABLE ${keyOrig}_m (id BIGINT, extra STRING)")
    Seq((3L, "x")).toDF("id", "extra").writeTo(s"${keyOrig}_m").append()
    val merged = try { qm.processAllAvailable(); true }
      catch { case _: Throwable => false }
      finally if (qm.isActive) qm.stop()
    assert(merged, "mergeSchema=true must cross the replace live")
    assert(gotM.get() === 3L) // 2 pre-replace + the post-replace append
  }

  test("ANALYZE lands sketches in executor-written sidecars: pointers in the manifest, O(names) on the driver") {
    import spark.implicits._
    val key = "graft_lake.anzside"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, cat STRING)")
    (0L until 600L).map(i => (i, s"c${i % 5}")).toDF("id", "cat")
      .repartition(4).writeTo(key).append()
    assert(GraftLake.analyzeTable(spark, key, Seq("id", "cat"),
      withBlooms = true) === ((4, 2)))
    val st = LakeStore.get(key).get
    // the manifest holds POINTERS (~60 B), never the 8 KB blobs
    val encs = st.current.flatMap(f => f.ndv.values ++ f.blooms.values)
    assert(encs.nonEmpty && encs.forall(e =>
      graft.sources.LakeStatsSidecar.isPointer(e)),
      s"expected stats pointers, got ${encs.headOption}")
    assert(encs.forall(_.length < 200),
      s"pointer should be ~60 B, got ${encs.map(_.length).max}")
    // the driver collected pointer-assembly bytes only — bounded by
    // file NAMES, not files x columns x sketch size (4 files x 2 cols
    // x (8 KB sketch + bloom bits) would be >64 KB inline)
    val a = LakeStore.lastAnalyzeStats(key)
    assert(a.filesAnalyzed === 4 && a.sidecarsWritten >= 1)
    assert(a.driverBytesCollected < 4 * 200,
      s"driver collected ${a.driverBytesCollected} B — not O(names)")
    // resolution: exact NDV through the stats table, bloom skipping on
    // an equality probe, both straight through the pointers
    val stats = spark.table(s"$key.stats").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(stats("cat") === ((5L, true)) && stats("id") === ((600L, true)))
    // CBO consumes the pointed-at sketches: the scan reports distinctCount
    val rel = spark.table(key).queryExecution.optimizedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation]
    val ndvReported = rel.scan
      .asInstanceOf[org.apache.spark.sql.connector.read.SupportsReportStatistics]
      .estimateStatistics().columnStats()
    assert(!ndvReported.isEmpty, "pointer-backed NDV must reach CBO stats")
    // a CLONE COPIES referenced sidecars into its own data dir and
    // re-points relative (round 17 — the source's VACUUM sweeps orphan
    // sidecars by its own keep-set and cannot know about clones, so an
    // absolutized pointer was one superseded ANALYZE away from
    // bricking the clone's scans)
    spark.sql(s"DROP TABLE IF EXISTS ${key}_cl")
    LakeStore.cloneTable(key, s"${key}_cl")
    val cl = LakeStore.get(s"${key}_cl").get
    val clStats = spark.table(s"${key}_cl.stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(clStats === Map("id" -> 600L, "cat" -> 5L),
      "clone must resolve its own sidecar copies")
    assert(cl.current.flatMap(_.ndv.values)
      .filter(graft.sources.LakeStatsSidecar.isPointer)
      .forall(!_.contains(s"/$key/")),
      "clone pointers must not reach into the source's data dir")
    // cold replay carries the pointers (strings in the log) exactly
    LakeStore.invalidateCache(key)
    val stats2 = spark.table(s"$key.stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats2 === Map("id" -> 600L, "cat" -> 5L))
  }

  test("VACUUM plans its keep-set through paged history exactly") {
    withWindow(4) {
      import spark.implicits._
      val key = "graft_lake.vacpage"
      spark.sql(s"DROP TABLE IF EXISTS $key")
      spark.sql(s"CREATE TABLE $key (id BIGINT)")
      (0 until 12).foreach { i => // v1..v12; v1..v7 page out
        Seq(i.toLong).toDF("id").coalesce(1).writeTo(key).append()
      }
      // a tag pinned DEEP below the window: its head files must survive
      // every VACUUM even though its version's surroundings are paged
      LakeStore.createRef(key, "keepme", "tag", at = Some(3))
      spark.sql(s"DELETE FROM $key WHERE id < 6") // v14: COW rewrite
      val st0 = LakeStore.get(key).get
      assert(st0.snapshots.count(_.paged) >= 5, "history must be paged")
      val (deleted, horizon) = LakeStore.vacuum(key, retainLast = 2, graceMs = 0L)
      // the whole-table COW rewrite replaced all 12 ingest files; the
      // deep tag still reaches v1..v3's three, so exactly 9 sweep —
      // both the keep-set walk and the ever-referenced union ran
      // THROUGH paged history to get this number
      assert(deleted === 9, s"swept $deleted files (expected the 9 " +
        "rewritten-away files the v3 tag does not reach)")
      assert(horizon === LakeStore.get(key).get.latestVersion - 1)
      // the tag still reads exactly its pinned state — through paged
      // reconstruction AND surviving data files
      assert(spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 'keepme'")
        .collect()(0).getLong(0) === 3L)
      // current state intact
      assert(spark.table(key).count() === 6L)
      // vacuumed versions are gated loudly
      val e = intercept[Exception] {
        spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 5").collect()
      }
      assert(e.getMessage.contains("vacuum"), s"got: ${e.getMessage}")
    }
  }

  test("OCC stress: COPY INTO ledger and epoch sink stay exactly-once under racing writers") {
    import spark.implicits._
    val key = "graft_lake.occwide"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    def idsJson(ids: Seq[String]): String = LakeStore.encodeCopyIds(ids)
    // a SHARED source-file pool both ingest threads list — the
    // contended exactly-once case: every pool file must land exactly
    // once however the threads interleave
    val pool = (0 until 10).map(i => s"shared$i.parquet@$i")
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def isConflict(t: Throwable): Boolean = {
      var c = t
      while (c != null) {
        if (c.isInstanceOf[LakeStore.CommitConflictException]) return true
        c = c.getCause
      }
      false
    }
    val copyThreads = (0 until 2).map { t =>
      new Thread(() => {
        try pool.foreach { fid =>
          // the real COPY INTO loop shape: list, skip loaded, ingest,
          // and on a ConcurrentCopyInto conflict re-check the ledger
          var done = false
          var tries = 0
          while (!done && tries < 50) {
            if (LakeStore.get(key).get.copyLedger.contains(fid)) done = true
            else try {
              Seq(fid.length.toLong).toDF("id").writeTo(key)
                .option(LakeStore.CopyIdsOption, idsJson(Seq(fid))).append()
              done = true
            } catch { case e: Throwable if isConflict(e) => tries += 1 }
          }
          assert(done, s"thread $t never settled on $fid")
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    // two "engine retry" threads replay the SAME epochs of one stream
    // query — the sink's idempotence high-water must admit each epoch
    // exactly once across both
    val epochWins = new java.util.concurrent.atomic.AtomicLong(0L)
    val epochThreads = (0 until 2).map { _ =>
      new Thread(() => {
        try (0L until 8L).foreach { ep =>
          if (LakeStore.appendEpoch(key, Nil, "r15query", ep))
            epochWins.incrementAndGet()
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    val all = copyThreads ++ epochThreads
    all.foreach(_.start())
    all.foreach(_.join(300000))
    assert(failures.isEmpty, s"writer thread died: ${failures.peek()}")
    val st = LakeStore.get(key).get
    // ledger exactly-once: the pool, each id in exactly ONE commit
    assert(st.copyLedger === pool.toSet)
    pool.foreach { fid =>
      val owners = st.snapshots.count(_.copyIds.contains(fid))
      assert(owners === 1, s"$fid ingested by $owners commits")
    }
    // rows exactly-once: one row per pool file despite 2x attempts
    assert(spark.table(key).count() === pool.length.toLong)
    // epoch exactly-once: 8 epochs, 16 replays, 8 admissions, and the
    // recorded high-water is the last epoch
    assert(epochWins.get() === 8L)
    assert(st.props.get("graft.stream.epoch.r15query").contains("7"))
  }
}
