package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeCdf, LakeStore}

/** Round-16 lake contracts: O(commit-delta) change-feed planning (the
  * last O(live files)-per-commit driver loop), structural sharing of
  * snapshot shells (StructType/props instances O(distinct values), not
  * O(versions)), the per-table paging window property, VACUUM's orphan
  * stats-sidecar sweep, cache invalidation purging per-table sidecar
  * caches, cross-PROCESS commit atomicity (link(2) claim), and a stream
  * restart racing a concurrent writer. */
class Round16OpsSpec extends SparkTestBase {

  private def withWindow[T](w: Int)(body: => T): T = {
    val saved = sys.props.get("graft.lake.snapshot.window")
    sys.props.update("graft.lake.snapshot.window", w.toString)
    try body
    finally saved match {
      case Some(v) => sys.props.update("graft.lake.snapshot.window", v)
      case None => sys.props.remove("graft.lake.snapshot.window")
    }
  }

  private def identityCount[T <: AnyRef](xs: Iterator[T]): Int = {
    val m = new java.util.IdentityHashMap[T, java.lang.Boolean]()
    xs.foreach(m.put(_, java.lang.Boolean.TRUE))
    m.size()
  }

  // ------------------------------------------------------------ task 1

  test("change-feed planning is O(commit delta): one range seed, no per-commit full-list builds") {
    withWindow(2) { // most of the range's deltas live PAGED in the log
      import spark.implicits._
      val key = "graft_lake.cdfdelta"
      spark.sql(s"DROP TABLE IF EXISTS $key")
      spark.sql(s"""CREATE TABLE $key (id BIGINT, v BIGINT)
                   |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
      (0 until 10).foreach { i =>
        Seq((i.toLong, i.toLong)).toDF("id", "v").coalesce(1).writeTo(key).append()
      } // v1..v10: appends
      GraftLake.optimize(spark, key, "id", 2) // v11: layout-only (no chunks, but moves files)
      spark.sql(s"DELETE FROM $key WHERE id = 3") // v12: merge-on-read DV
      GraftLake.upsert(Seq((4L, 400L)).toDF("id", "v").coalesce(1),
        key, Seq("id")) // v13: equality-delete upsert
      val st = LakeStore.get(key).get

      // counter pin on the planner itself (the Spark scan may be
      // instantiated more than once during physical planning, so the
      // per-READ counter is pinned on a direct planning call): ONE seed
      // for the whole range (its entry point), at most one live-list
      // reconstruction (the seed's filesAt of a non-head version), and
      // every delivered commit planned from its own delta — the
      // OPTIMIZE in the middle must NOT force a re-seed
      val seeds0 = LakeCdf.rangeSeeds.get()
      val recons0 = LakeStore.liveReconstructions.get()
      val planned = LakeCdf.chunksForRange(key, st, 1, st.latestVersion)
      val seeds = LakeCdf.rangeSeeds.get() - seeds0
      val recons = LakeStore.liveReconstructions.get() - recons0
      assert(seeds === 1L, s"range seeds: $seeds")
      assert(recons <= 1L, s"live reconstructions during CDF planning: $recons")
      assert(planned.nonEmpty)
      val feed = spark.table(s"$key.changes").collect()

      // semantics unchanged: 10 append I-rows, the MoR delete's D-row,
      // the upsert's I-row and its implicit D of the old id=4 row
      val byChange = feed.groupBy(_.getAs[String]("_change"))
        .view.mapValues(_.length).toMap
      assert(byChange("I") === 11, s"I rows: $byChange") // 10 appends + upsert
      assert(byChange("D") === 2, s"D rows: $byChange") // DV delete + upsert's implicit delete
      val del = feed.filter(r => r.getAs[String]("_change") == "D")
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("_commit_version"))).sorted
      assert(del === Seq((3L, 12L), (4L, 13L)), s"deletes: ${del.toSeq}")
      val upserted = feed.filter(r => r.getAs[String]("_change") == "I" &&
        r.getAs[Long]("_commit_version") == 13L).map(_.getAs[Long]("v"))
      assert(upserted.toSeq === Seq(400L))
    }
  }

  // ------------------------------------------------------------ task 2

  test("snapshot shells share schema instances: O(distinct schemas) after cold replay") {
    import spark.implicits._
    val key = "graft_lake.shellshare"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    (0 until 30).foreach { i =>
      if (i == 15) spark.sql(s"ALTER TABLE $key ADD COLUMN extra INT")
      val df = if (i >= 15) Seq((i.toLong, i)).toDF("id", "extra")
        else Seq(i.toLong).toDF("id")
      df.coalesce(1).writeTo(key).append()
    }
    // warm path (commit threads `schema = st.schema` through): 2 schemas
    val warm = LakeStore.get(key).get
    assert(identityCount(warm.snapshots.iterator.map(_.schema)) === 2,
      "warm state should hold exactly the 2 distinct StructType instances")
    // cold replay (checkpoint + tail) must structurally share too — the
    // pre-round-16 replay parsed a fresh StructType PER LOG ENTRY
    LakeStore.invalidateCache(key)
    val cold = LakeStore.get(key).get
    assert(cold.snapshots.length === warm.snapshots.length)
    assert(identityCount(cold.snapshots.iterator.map(_.schema)) === 2,
      "cold replay should share StructType instances across versions")
    // props never changed: ONE retained map instance, not 32
    assert(identityCount(cold.snapshots.iterator.map(_.props)) <= 2,
      "cold replay should share props map instances")
    assert(spark.table(key).count() === 30L)
  }

  test("commitGroups page with the window and reload exactly for CHANGES planning and history") {
    withWindow(2) {
      import spark.implicits._
      val key = "graft_lake.groupspage"
      spark.sql(s"DROP TABLE IF EXISTS $key")
      spark.sql(s"CREATE TABLE $key (id BIGINT, src STRING) PARTITIONED BY (src)")
      (0 until 8).foreach { i =>
        Seq((i.toLong, s"s${i % 3}")).toDF("id", "src")
          .coalesce(1).writeTo(key).append()
      }
      val st = LakeStore.get(key).get
      // below-window snapshots hold only the placeholder in memory...
      (1 to st.latestVersion - 2).foreach { v =>
        assert(st.snapshots(v).paged)
        assert(st.snapshots(v).commitGroups === Some(Set.empty))
        // ...but the accessor restores the commit's real touched group
        assert(st.commitGroupsAt(v) === Some(Set(List(s"s${(v - 1) % 3}"))),
          s"v$v groups")
      }
      // incremental-CHANGES planning over the paged range sees every
      // touched partition, so the diff stays partition-scoped
      assert(LakeStore.changedGroups(key, 0, 3) ===
        Some(Set(List("s0"), List("s1"), List("s2"))))
      assert(LakeStore.changedGroups(key, 0, 2) ===
        Some(Set(List("s0"), List("s1"))))
      // DESCRIBE HISTORY's group counts come from the reload, not the
      // placeholder (1 touched group per append, at every version)
      val hist = spark.table(s"$key.history")
        .select(col("version"), col("groups_touched")).collect()
        .map(r => r.getLong(0) -> r.get(1)).toMap
      (1 to st.latestVersion).foreach(v =>
        assert(hist(v.toLong) === 1L, s"history groups at v$v"))
    }
  }

  // ------------------------------------------------------------ task 8

  test("paging window is table-tunable via graft.lake.snapshot.window property") {
    import spark.implicits._
    // tight window: pages aggressively despite the global default of 24
    val tight = "graft_lake.wintight"
    spark.sql(s"DROP TABLE IF EXISTS $tight")
    spark.sql(s"CREATE TABLE $tight (id BIGINT) " +
      s"TBLPROPERTIES ('${LakeStore.SnapshotWindowProp}' = '2')")
    (0 until 10).foreach(i =>
      Seq(i.toLong).toDF("id").coalesce(1).writeTo(tight).append())
    val stT = LakeStore.get(tight).get
    val latest = stT.latestVersion
    (1 to latest - 3).foreach(v =>
      assert(stT.snapshots(v).paged, s"v$v of $tight should be paged (window=2)"))
    assert(!stT.snapshots(latest).paged)
    // wide window: nothing pages however deep the history
    val wide = "graft_lake.winwide"
    spark.sql(s"DROP TABLE IF EXISTS $wide")
    spark.sql(s"CREATE TABLE $wide (id BIGINT) " +
      s"TBLPROPERTIES ('${LakeStore.SnapshotWindowProp}' = '1000')")
    (0 until 30).foreach(i =>
      Seq(i.toLong).toDF("id").coalesce(1).writeTo(wide).append())
    assert(LakeStore.get(wide).get.snapshots.forall(!_.paged))
    // cold replay honors the table property (same shape rebuilt)
    LakeStore.invalidateCache(tight)
    val coldT = LakeStore.get(tight).get
    (1 to latest - 3).foreach(v =>
      assert(coldT.snapshots(v).paged, s"cold v$v of $tight should be paged"))
    LakeStore.invalidateCache(wide)
    assert(LakeStore.get(wide).get.snapshots.forall(!_.paged))
    // reads stay exact through the paged history at window=2
    assert(spark.sql(s"SELECT count(*) FROM $tight VERSION AS OF 4")
      .collect()(0).getLong(0) === 4L)
    assert(spark.table(tight).count() === 10L)
    assert(spark.table(wide).count() === 30L)
    // SHRINKING the window via SET TBLPROPERTIES pages the backlog at
    // the very next commit (the setprops commit's own sweep) — the
    // memory reclaim the operator asked for, not just new entries
    spark.sql(s"ALTER TABLE $wide SET TBLPROPERTIES " +
      s"('${LakeStore.SnapshotWindowProp}' = '2')")
    val shrunk = LakeStore.get(wide).get
    val cut = shrunk.latestVersion - 2
    (1 to cut).foreach(v =>
      assert(shrunk.snapshots(v).paged, s"backlog v$v unpaged after shrink"))
    assert(spark.table(wide).count() === 30L)
    assert(spark.sql(s"SELECT count(*) FROM $wide VERSION AS OF 7")
      .collect()(0).getLong(0) === 7L)
    // an unparseable or non-positive window is refused at SET time —
    // never evaluated after a durable commit (which would brick replay)
    Seq("'4x'", "'-1'", "'0'").foreach { bad =>
      val e = intercept[Throwable] {
        spark.sql(s"ALTER TABLE $wide SET TBLPROPERTIES " +
          s"('${LakeStore.SnapshotWindowProp}' = $bad)")
      }
      def msg(t: Throwable): String = {
        var c = t; val sb = new StringBuilder
        while (c != null) { sb.append(c.getMessage).append(' '); c = c.getCause }
        sb.toString
      }
      assert(msg(e).contains("positive integer"), s"bad window $bad: $e")
    }
  }

  test("COPY INTO ledger folds incrementally: O(new commits) per ingest, not O(versions)") {
    import spark.implicits._
    val key = "graft_lake.ledgerinc"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    val src = java.nio.file.Files.createTempDirectory("graft_ledger_inc_").toString
    val fs = new Path(src).getFileSystem(new Configuration())
    def stage(name: String, ids: Seq[Long]): Unit = {
      val tmp = s"$src/_st_$name"
      ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
      fs.rename(part, new Path(s"$src/$name.parquet"))
      fs.delete(new Path(tmp), true)
    }
    stage("a", 0L until 5L)
    assert(GraftLake.copyInto(spark, key, src)._1 === 1)
    // history grows: 20 unrelated appends after the first ingest
    (0 until 20).foreach(i =>
      Seq(100L + i).toDF("id").coalesce(1).writeTo(key).append())
    stage("b", 10L until 15L)
    assert(GraftLake.copyInto(spark, key, src)._1 === 1) // folds the 20 appends once
    // the third ingest follows immediately: only the second ingest's own
    // commit landed since the last fold, so the ledger walk must be a
    // handful of versions — a full rewalk would be ~24 per copyLedger
    // touch (copyInto plans one, the commit's dup-check pays another)
    stage("c", 20L until 25L)
    val before = LakeStore.copyLedgerFoldedVersions.get()
    assert(GraftLake.copyInto(spark, key, src)._1 === 1)
    val walked = LakeStore.copyLedgerFoldedVersions.get() - before
    assert(walked <= 4, s"ledger fold walked $walked versions; want O(new commits)")
    // re-run ingests nothing, and a cold replay refolds the full ledger
    // to the same skip decision
    assert(GraftLake.copyInto(spark, key, src)._1 === 0)
    LakeStore.invalidateCache(key)
    assert(GraftLake.copyInto(spark, key, src)._1 === 0)
    assert(spark.table(key).count() === 35L) // 5 + 20 + 5 + 5
  }

  // ---------------------------------------------------- ADVICE medium

  test("invalidateCache purges paged-delta cache: external drop/recreate cannot serve stale deltas") {
    withWindow(2) {
      import spark.implicits._
      val a = "graft_lake.cachea"
      val b = "graft_lake.cacheb"
      Seq(a, b).foreach { k =>
        spark.sql(s"DROP TABLE IF EXISTS $k")
        spark.sql(s"CREATE TABLE $k (id BIGINT)")
        (0 until 8).foreach(i =>
          Seq(i.toLong).toDF("id").coalesce(1).writeTo(k).append())
      }
      // populate a's paged-delta cache: v2 is below the window
      val stA = LakeStore.get(a).get
      val addA2 = stA.addedAt(2)
      assert(addA2.length === 1)
      // simulate a SECOND PROCESS dropping and re-creating table `a`
      // (different file uuids at the same versions): swap in b's log
      val conf = new Configuration()
      val aDir = new Path(LakeStore.tableDir(a))
      val fs = aDir.getFileSystem(conf)
      fs.delete(aDir, true)
      FileUtil.copy(fs, new Path(LakeStore.tableDir(b)), fs, aDir,
        false, conf)
      // this JVM learns of the external change the documented way:
      LakeStore.invalidateCache(a)
      val fresh = LakeStore.get(a).get
      val addFresh2 = fresh.addedAt(2)
      // without the purge, the (a, 2) delta-cache entry would serve the
      // DEAD table's file — silently wrong live sets for time travel
      assert(addFresh2.map(_.path) !== addA2.map(_.path),
        "stale paged delta served after external drop/recreate")
      val stB = LakeStore.get(b).get
      assert(addFresh2.map(_.path) === stB.addedAt(2).map(_.path))
    }
  }

  // ------------------------------------------------------ ADVICE low 2

  test("VACUUM sweeps orphan stats sidecars but keeps referenced ones") {
    import spark.implicits._
    val key = "graft_lake.sidecargc"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    spark.range(0, 100).select(col("id")).repartition(4).writeTo(key).append()
    GraftLake.analyzeTable(spark, key, Seq("id")) // sidecars #1
    val dataDir = new Path(LakeStore.dataDir(key))
    val fs = dataDir.getFileSystem(new Configuration())
    def sidecars(): Set[String] = fs.listStatus(dataDir)
      .map(_.getPath.getName).filter(_.endsWith(".stats.json")).toSet
    val gen1 = sidecars()
    assert(gen1.nonEmpty, "ANALYZE should write stats sidecars")
    // rewrite the table (old analyzed files leave the live set), then
    // re-ANALYZE: generation-1 sidecars are now referenced only by
    // expired-history manifests
    GraftLake.optimize(spark, key, "id", 4)
    GraftLake.analyzeTable(spark, key, Seq("id")) // sidecars #2
    val gen2 = sidecars() -- gen1
    assert(gen2.nonEmpty)
    // a never-referenced junk sidecar (failed/speculative task debris)
    val junk = new Path(dataDir, "deadbeef-junk.stats.json")
    val out = fs.create(junk, false)
    out.write("""{"files":{}}""".getBytes("UTF-8")); out.close()
    // retain only the latest version; grace 0 = everything sweeps now
    LakeStore.vacuum(key, retainLast = 1, graceMs = 0L)
    val after = sidecars()
    assert((after & gen1).isEmpty, s"expired-generation sidecars survived: ${after & gen1}")
    assert(!after.contains(junk.getName), "junk orphan sidecar survived")
    assert(gen2.subsetOf(after), s"live-referenced sidecars were swept: ${gen2 -- after}")
    val (_, swept) = LakeStore.lastVacuumStats(key)
    assert(swept === gen1.size + 1, s"sidecars swept: $swept")
    // the kept pointers still resolve (NDV usable after the sweep)
    val st = LakeStore.get(key).get
    st.current.foreach(f => f.ndv.valuesIterator.foreach(enc =>
      graft.sources.LakeStatsSidecar.resolve(key, enc)))
    // grace window protects fresh orphans: a new junk file survives a
    // vacuum with the default 10-minute grace
    val junk2 = new Path(dataDir, "cafebabe-junk.stats.json")
    val out2 = fs.create(junk2, false)
    out2.write("""{"files":{}}""".getBytes("UTF-8")); out2.close()
    LakeStore.vacuum(key, retainLast = 1)
    assert(sidecars().contains(junk2.getName), "grace-window orphan was swept early")
    fs.delete(junk2, false)
  }

  // ------------------------------------------------------------ task 4

  test("cross-process commit atomicity: two JVMs racing appends lose no commit") {
    val key = "graft_lake.procrace"
    val n = 30
    LakeStore.drop(key)
    LakeStore.create(key, CommitRaceChild.schema, Nil)
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(javaBin, "-cp", cp,
      s"-Dgraft.lake.root=${LakeStore.root}",
      "graft.CommitRaceChild", key, n.toString, "child")
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
    val child = pb.start()
    var parentRetries = 0
    (0 until n).foreach { i =>
      parentRetries += CommitRaceChild.appendWithRetry(key, s"parent-$i.parquet")
    }
    assert(child.waitFor() === 0, "child writer process failed")
    // replay the log cold: exactly create + 2n commits, every path
    // present exactly once (a silently-replaced entry loses one), and
    // a LINEAR main chain
    LakeStore.invalidateCache(key)
    val st = LakeStore.get(key).get
    assert(st.latestVersion === 2 * n,
      s"expected ${2 * n} commits, got ${st.latestVersion}")
    val paths = st.current.map(_.path)
    assert(paths.length === 2 * n && paths.distinct.length === 2 * n)
    val expected = ((0 until n).map(i => s"parent-$i.parquet") ++
      (0 until n).map(i => s"child-$i.parquet")).toSet
    assert(paths.toSet === expected,
      s"lost commits: ${expected -- paths.toSet}")
    (1 to st.latestVersion).foreach(v =>
      assert(st.snapshots(v).parent === v - 1, s"non-linear chain at v$v"))
    info(s"parent retries after lost races: $parentRetries")
  }

  test("OPTIMIZE racing a row-level UPDATE aborts instead of losing the update") {
    import spark.implicits._
    val key = "graft_lake.optrace"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, src STRING, v BIGINT) PARTITIONED BY (src)")
    Seq((1L, "s0", 1L), (2L, "s0", 2L), (3L, "s0", 3L), (4L, "s0", 4L))
      .toDF("id", "src", "v").coalesce(1).writeTo(key).append()
    // inject an UPDATE into OPTIMIZE's plan-to-commit window (the
    // deterministic-interleave hook fires inside the store lock right
    // before OPTIMIZE's own replace commit). The old table-keyed
    // "next replace is layout-only" flag was STOLEN by exactly this
    // interleaving: the UPDATE committed dataChange=false, OPTIMIZE's
    // WholeTable conflict check could not see it, and OPTIMIZE then
    // committed its stale pre-update content — a silent lost update.
    LakeStore.onNextCommit.update(key, () =>
      spark.sql(s"UPDATE $key SET v = v + 100 WHERE id = 2"))
    def isConflict(t: Throwable): Boolean = {
      var c = t
      while (c != null) {
        if (c.isInstanceOf[LakeStore.CommitConflictException]) return true
        c = c.getCause
      }
      false
    }
    val e = intercept[Throwable] { GraftLake.optimize(spark, key, "id", 2) }
    assert(isConflict(e), s"optimize should abort with a retryable conflict, got $e")
    // the interleaved UPDATE survived, correctly labeled a DATA change
    assert(spark.table(key).filter(col("id") === 2)
      .select("v").collect()(0).getLong(0) === 102L)
    val st = LakeStore.get(key).get
    assert(st.snapshots(st.latestVersion).dataChange,
      "the interleaved UPDATE must be a data change, not a stolen layout-only label")
    // the retried OPTIMIZE (no interloper) commits layout-only and
    // preserves the updated content
    GraftLake.optimize(spark, key, "id", 2)
    val st2 = LakeStore.get(key).get
    assert(st2.snapshots(st2.latestVersion).action === "optimize")
    assert(!st2.snapshots(st2.latestVersion).dataChange)
    assert(spark.table(key).filter(col("id") === 2)
      .select("v").collect()(0).getLong(0) === 102L)
  }

  // ------------------------------------------------------------ task 7

  test("stream restart racing a concurrent writer delivers every committed row exactly once") {
    import spark.implicits._
    val key = "graft_lake.restartrace"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    def appendBatch(b: Int): Unit =
      spark.range(b * 10L, b * 10L + 10).select(col("id"))
        .coalesce(1).writeTo(key).append()
    (0 until 5).foreach(appendBatch)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_restart_race_").toString
    val received = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = spark.readStream.table(key).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => b.collect().foreach(r => received.add(r.getLong(0))))
      .start()
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()
    q1.awaitTermination()
    assert(received.size() === 50)
    // a writer keeps committing WHILE the stream restarts from its
    // checkpoint — the restart's offset recovery crosses these commits
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() =>
      try (5 until 15).foreach(appendBatch)
      catch { case t: Throwable => failure.set(t) })
    writer.start()
    val q2 = start()
    writer.join()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()
    assert(failure.get() === null, s"writer failed: ${failure.get()}")
    val got = received.iterator()
    val all = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (got.hasNext) all += got.next()
    assert(all.length === 150, s"delivered ${all.length} rows, want 150 exactly-once")
    assert(all.sorted === (0L until 150L).toSeq,
      "delivered multiset must be every committed row exactly once")
  }
}
