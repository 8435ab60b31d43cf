package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.{GraftLake, LakeCdf, LakeStore}

/** Round-17 lake contracts: the upsert-CDF fan-out bounded by per-file
  * key statistics (blooms / zones / null counts — chunk count tracks
  * files-that-can-contain-the-keys, not O(live files)), null-safe
  * pruning, the exists+rename fallback when link(2) is unavailable,
  * cross-process group-scoped OCC (read-modify-write serializes across
  * JVMs), and change-feed semantics across a RESTORE inside a range
  * (one seed, rollback deltas exact — including resurrection of
  * positions a rolled-back merge-on-read DELETE had hidden). */
class Round17OpsSpec extends SparkTestBase {

  /** (emitted, pruned) fan-out counter deltas across `body`. */
  private def fanoutDelta[T](body: => T): (T, Long, Long) = {
    val e0 = LakeCdf.upsertFanoutEmitted.get()
    val p0 = LakeCdf.upsertFanoutPruned.get()
    val r = body
    (r, LakeCdf.upsertFanoutEmitted.get() - e0,
      LakeCdf.upsertFanoutPruned.get() - p0)
  }

  // ------------------------------------------------- task 1: bloom prune

  test("upsert-CDF fan-out is bounded by blooms: chunks track files admitting the keys") {
    import spark.implicits._
    val key = "graft_lake.cdfbloom"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"""CREATE TABLE $key (id BIGINT, v BIGINT)
                 |TBLPROPERTIES ('graft.bloom.columns' = 'id')""".stripMargin)
    // 20 single-file appends whose id ZONES all overlap (file i holds
    // {i, 139-i}, every range contains [19, 120]) — min/max can never
    // prune here; only the write-time bloom filters can
    (0 until 20).foreach { i =>
      Seq((i.toLong, i.toLong), ((139 - i).toLong, i.toLong))
        .toDF("id", "v").coalesce(1).writeTo(key).append()
    }
    GraftLake.upsert(Seq((5L, 500L)).toDF("id", "v").coalesce(1),
      key, Seq("id"))
    val st = LakeStore.get(key).get
    val vU = st.latestVersion
    val (chunks, emitted, pruned) =
      fanoutDelta(LakeCdf.chunksForRange(key, st, vU, vU))
    // id=5 lives in file 5 only: ONE delete-side fan-out chunk, the
    // other 19 carried files prove bloom-disjointness and are skipped
    assert(emitted === 1L, s"fan-out chunks emitted: $emitted")
    assert(pruned === 19L, s"fan-out chunks pruned: $pruned")
    assert(chunks.count(c => c.change == "D" && c.eqIncl.nonEmpty) === 1)
    // semantics unchanged: the feed nets the upsert exactly
    val feed = spark.read.option("startingVersion", vU.toString)
      .table(s"$key.changes")
      .select("id", "v", "_change").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(feed.toSeq === Seq((5L, 5L, "D"), (5L, 500L, "I")))
    assert(spark.table(key).filter(col("id") === 5L)
      .select("v").collect()(0).getLong(0) === 500L)
  }

  // -------------------------------------------------- task 1: zone prune

  test("upsert-CDF fan-out prunes via zone disjointness without blooms") {
    import spark.implicits._
    val key = "graft_lake.cdfzone"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, v BIGINT)")
    // clustered ids: file i holds [10i, 10i+9] — disjoint zones, the
    // statistics every parquet manifest has even without bloom config
    (0 until 20).foreach { i =>
      Seq((10L * i, i.toLong), (10L * i + 9, i.toLong))
        .toDF("id", "v").coalesce(1).writeTo(key).append()
    }
    GraftLake.upsert(Seq((50L, 5500L)).toDF("id", "v").coalesce(1),
      key, Seq("id"))
    val st = LakeStore.get(key).get
    val vU = st.latestVersion
    val (_, emitted, pruned) =
      fanoutDelta(LakeCdf.chunksForRange(key, st, vU, vU))
    assert(emitted === 1L, s"fan-out chunks emitted: $emitted")
    assert(pruned === 19L, s"fan-out chunks pruned: $pruned")
    val feed = spark.read.option("startingVersion", vU.toString)
      .table(s"$key.changes")
      .select("id", "v", "_change").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(feed.toSeq === Seq((50L, 5L, "D"), (50L, 5500L, "I")))
  }

  // -------------------------------------------------- task 1: null keys

  test("upsert-CDF pruning is null-safe: a NULL key only prunes provably null-free files") {
    import spark.implicits._
    val key = "graft_lake.cdfnull"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"""CREATE TABLE $key (id BIGINT, v BIGINT)
                 |TBLPROPERTIES ('graft.bloom.columns' = 'id')""".stripMargin)
    // file A holds a NULL-keyed row; file B is provably null-free
    Seq((Option(1L), 10L), (Option.empty[Long], 11L))
      .toDF("id", "v").coalesce(1).writeTo(key).append()
    Seq((2L, 20L)).toDF("id", "v").coalesce(1).writeTo(key).append()
    // the upsert's key IS null: the reader's probe is stored-tuple
    // membership, so it kills exactly the NULL-keyed old row — pruning
    // must keep file A (may hold null) and may drop file B (null-free,
    // and the delete has no non-null key values at all)
    GraftLake.upsert(
      Seq((Option.empty[Long], 999L)).toDF("id", "v").coalesce(1),
      key, Seq("id"))
    val st = LakeStore.get(key).get
    val vU = st.latestVersion
    val (_, emitted, pruned) =
      fanoutDelta(LakeCdf.chunksForRange(key, st, vU, vU))
    assert(emitted === 1L, s"fan-out chunks emitted: $emitted")
    assert(pruned === 1L, s"fan-out chunks pruned: $pruned")
    val feed = spark.read.option("startingVersion", vU.toString)
      .table(s"$key.changes")
      .select("v", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(feed.toSeq === Seq((11L, "D"), (999L, "I")),
      "the NULL-keyed old row must die (and be delivered) exactly once")
    val left = spark.table(key).select("v").collect().map(_.getLong(0)).sorted
    assert(left.toSeq === Seq(10L, 20L, 999L))
  }

  // ----------------------------------------- task 2: link(2) fallback

  test("commit claims degrade to exists+rename when hard links are unavailable") {
    import spark.implicits._
    val saved = sys.props.get(LakeStore.NoHardLinksProp)
    sys.props.update(LakeStore.NoHardLinksProp, "true")
    try {
      val key = "graft_lake.nolink"
      spark.sql(s"DROP TABLE IF EXISTS $key")
      spark.sql(s"CREATE TABLE $key (id BIGINT)")
      (0 until 5).foreach(i =>
        Seq(i.toLong).toDF("id").coalesce(1).writeTo(key).append())
      assert(spark.table(key).count() === 5L)
      // cold replay sees every rename-claimed entry, linear chain
      LakeStore.invalidateCache(key)
      val st = LakeStore.get(key).get
      assert(st.latestVersion === 5)
      (1 to 5).foreach(v => assert(st.snapshots(v).parent === v - 1))
      assert(spark.table(key).agg(sum("id")).collect()(0).getLong(0) === 10L)
    } finally saved match {
      case Some(v) => sys.props.update(LakeStore.NoHardLinksProp, v)
      case None => sys.props.remove(LakeStore.NoHardLinksProp)
    }
  }

  // --------------------------------- task 3: cross-process row-level OCC

  test("cross-process OCC: group-scoped read-modify-write serializes across JVMs") {
    val key = "graft_lake.rmwrace"
    val n = 20
    LakeStore.drop(key)
    LakeStore.create(key,
      StructType(Seq(StructField("id", LongType), StructField("g", StringType))),
      Seq("g"))
    // seed both group counters at 0 (the counter is the group file's
    // manifest row count — pure commit-protocol state, no Spark needed
    // in the child process)
    LakeStore.append(key, Seq(
      LakeStore.FileEntry("seed-g0.parquet", List("g0"), rows = 0L,
        cols = Seq("id"), zones = Map.empty),
      LakeStore.FileEntry("seed-g1.parquet", List("g1"), rows = 0L,
        cols = Seq("id"), zones = Map.empty)))
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(javaBin, "-cp", cp,
      s"-Dgraft.lake.root=${LakeStore.root}",
      "graft.CommitRaceChild", key, n.toString, "child", "rmw")
    pb.redirectErrorStream(true)
    pb.redirectOutput(ProcessBuilder.Redirect.INHERIT)
    val child = pb.start()
    // actually RACE: wait for the child JVM's first landed increment
    // before the parent starts, so both processes spend the stress
    // inside their read-modify-write loops (without this, child JVM
    // startup loses the whole overlap and the test degenerates to two
    // serial phases)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (LakeStore.get(key).get.latestVersion <= 1 &&
        System.nanoTime() < deadline) {
      Thread.sleep(20)
      LakeStore.invalidateCache(key)
    }
    var parentRetries = 0
    (0 until n).foreach { i =>
      parentRetries += CommitRaceChild.incrementWithRetry(key, "g0", "parent", i)
      parentRetries += CommitRaceChild.incrementWithRetry(key, "g1", "parent", i)
    }
    assert(child.waitFor() === 0, "child writer process failed")
    // serial-schedule equivalence: each process landed exactly n
    // increments per group, so each counter must read exactly 2n — a
    // lost update (mis-classified conflict, stale-replay hole) reads
    // lower, a doubled commit higher. Cold replay is the arbiter.
    LakeStore.invalidateCache(key)
    val st = LakeStore.get(key).get
    Seq("g0", "g1").foreach { g =>
      val f = st.current.find(_.group == List(g)).get
      assert(f.rows === 2L * n, s"group $g counter: ${f.rows}, want ${2 * n}")
    }
    // every landed commit after the seed is a group-scoped replace on a
    // linear main chain; total commits = create + seed + 4n increments
    assert(st.latestVersion === 1 + 4 * n,
      s"expected ${1 + 4 * n} commits, got ${st.latestVersion}")
    (1 to st.latestVersion).foreach(v =>
      assert(st.snapshots(v).parent === v - 1, s"non-linear chain at v$v"))
    info(s"parent retries after conflicts/lost claims: $parentRetries")
  }

  // ----------------------------- advice: layout-only marker is internal

  test("layout-only marker is internal: an ordinary write cannot self-label dataChange=false") {
    import spark.implicits._
    val key = "graft_lake.layoutnonce"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    Seq(1L, 2L).toDF("id").coalesce(1).writeTo(key).append()
    // a user-settable "true" would hide this overwrite from CDF readers
    // and from other writers' conflict checks — the builder must refuse
    // anything but a minted one-shot nonce
    val e = intercept[Exception] {
      Seq(9L).toDF("id").coalesce(1).writeTo(key)
        .option(LakeStore.LayoutOnlyOption, "true").overwrite(lit(true))
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("internal maintenance marker"))), s"wrong refusal: $e")
    assert(spark.table(key).count() === 2L, "the refused write must not land")
    // the real maintenance path still mints, claims, and commits
    // dataChange=false exactly once
    graft.sources.GraftLake.optimize(spark, key, "id", 1)
    val st = LakeStore.get(key).get
    assert(st.snapshots(st.latestVersion).action === "optimize")
    assert(!st.snapshots(st.latestVersion).dataChange)
    assert(spark.table(key).count() === 2L)
  }

  // ------------------------- advice: clone copies its ANALYZE sidecars

  test("shallow clone copies ANALYZE sidecars: source VACUUM cannot strand the clone's stats") {
    import spark.implicits._
    val src = "graft_lake.clstat_src"
    val dst = "graft_lake.clstat_dst"
    spark.sql(s"DROP TABLE IF EXISTS $dst")
    spark.sql(s"DROP TABLE IF EXISTS $src")
    spark.sql(s"CREATE TABLE $src (id BIGINT)")
    Seq(1L, 2L).toDF("id").coalesce(1).writeTo(src).append()
    Seq(3L, 4L).toDF("id").coalesce(1).writeTo(src).append()
    GraftLake.analyzeTable(spark, src, Seq("id"), withBlooms = true)
    val srcSidecars = new java.io.File(s"${LakeStore.root}/$src/data")
      .listFiles().filter(_.getName.endsWith(".stats.json")).map(_.getName).toSet
    assert(srcSidecars.nonEmpty, "ANALYZE should have written pointer sidecars")
    GraftLake.shallowClone(src, dst)
    // the clone's pointers are CLONE-relative, into its own copies
    val cloneEntries = LakeStore.get(dst).get.current
    val clonePtrs = cloneEntries.flatMap(f => f.ndv.values ++ f.blooms.values)
      .filter(graft.sources.LakeStatsSidecar.isPointer)
    assert(clonePtrs.nonEmpty)
    assert(clonePtrs.forall(!_.contains(s"/$src/")),
      "clone stats must not point into the source's data dir")
    val dstSidecars = new java.io.File(s"${LakeStore.root}/$dst/data")
      .listFiles().filter(_.getName.endsWith(".stats.json")).map(_.getName).toSet
    assert(dstSidecars === srcSidecars, "referenced sidecars must be copied")
    // supersede the source's ANALYZE and sweep: the source's VACUUM
    // keep-set knows nothing about clones — pre-copy, this deleted the
    // exact sidecar the clone still referenced
    GraftLake.analyzeTable(spark, src, Seq("id"), withBlooms = true)
    Seq(5L).toDF("id").coalesce(1).writeTo(src).append()
    GraftLake.vacuum(src, retainLast = 1, graceMs = 0L)
    val srcAfter = new java.io.File(s"${LakeStore.root}/$src/data")
      .listFiles().filter(_.getName.endsWith(".stats.json")).map(_.getName).toSet
    assert((srcSidecars -- srcAfter).nonEmpty,
      "the superseded sidecar should have been swept at the source")
    // every clone pointer still resolves, and a stats-consuming scan runs
    clonePtrs.foreach(p => graft.sources.LakeStatsSidecar.resolve(dst, p))
    assert(spark.table(dst).filter(col("id") === 3L).count() === 1L)
  }

  // ------------------------------- task 5: checkpoint schema dedup disk

  test("checkpoint schema table: O(distinct schemas) bytes on disk, reader loads formats 2 and 3") {
    import spark.implicits._
    val key = "graft_lake.ckptschema"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    (0 until 40).foreach { i =>
      if (i == 20) spark.sql(s"ALTER TABLE $key ADD COLUMN extra INT")
      val df = if (i >= 20) Seq((i.toLong, i)).toDF("id", "extra")
        else Seq(i.toLong).toDF("id")
      df.coalesce(1).writeTo(key).append()
    }
    val logDir = new java.io.File(s"${LakeStore.root}/$key/_log")
    val cps = logDir.listFiles().filter(_.getName.endsWith(".checkpoint.json"))
    assert(cps.nonEmpty, "default 10-commit cadence should have checkpointed")
    val cp = cps.maxBy(_.getName)
    val txt = java.nio.file.Files.readString(cp.toPath)
    // byte-level: the 41 serialized snapshots carry exactly TWO schema
    // documents (the word "struct" appears once per schema table entry
    // and nowhere else in this table's checkpoint) — not one inline
    // copy per version
    assert("struct".r.findAllIn(txt).length === 2,
      "schema JSON must serialize once per DISTINCT schema")
    // cold replay from the format-3 checkpoint
    LakeStore.invalidateCache(key)
    val st3 = LakeStore.get(key).get
    assert(LakeStore.lastReplayStats(key).checkpoint.isDefined,
      "format-3 checkpoint must be used, not full replay")
    assert(spark.table(key).count() === 40L)
    // rewrite the SAME checkpoint to format 2 (inline schema per
    // snapshot) and reload: upgraded readers must keep loading the
    // older format — rolling upgrades replay no extra log
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val parsed = JsonMethods.parse(txt).asInstanceOf[JObject].obj.toMap
    val schemas = parsed("schemas").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JString].s)
    assert(schemas.length === 2, s"schema table size: ${schemas.length}")
    val snapArr = parsed("snapshots").asInstanceOf[JArray].arr
    assert(snapArr.forall(sj =>
      !sj.asInstanceOf[JObject].obj.exists(_._1 == "schema")),
      "format-3 snapshots must reference the schema table, never inline")
    val snaps2 = snapArr.map { sj =>
      JObject(sj.asInstanceOf[JObject].obj.map {
        case ("schemaId", JInt(i)) => "schema" -> (JString(schemas(i.toInt)): JValue)
        case kv => kv
      })
    }
    val fmt2 = JObject("version" -> parsed("version"),
      "format" -> JInt(2), "snapshots" -> JArray(snaps2))
    java.nio.file.Files.writeString(cp.toPath,
      JsonMethods.compact(JsonMethods.render(fmt2)))
    // the raw rewrite bypassed Hadoop's ChecksumFileSystem — drop the
    // stale CRC sidecar so the store's read sees the new bytes
    new java.io.File(logDir, s".${cp.getName}.crc").delete()
    LakeStore.invalidateCache(key)
    val st2 = LakeStore.get(key).get
    assert(st2.latestVersion === st3.latestVersion)
    assert(LakeStore.lastReplayStats(key).checkpoint.isDefined,
      "format-2 checkpoint must still load after the format bump")
    assert(spark.table(key).agg(sum("id")).collect()(0).getLong(0) ===
      (0L until 40L).sum)
    assert(st2.snapshots(st2.latestVersion).schema ===
      st3.snapshots(st3.latestVersion).schema)
  }

  // --------------------------------------- task 4: CDF across a RESTORE

  test("CDF range across a RESTORE: one seed, exact rollback deltas incl. DV resurrection") {
    import spark.implicits._
    val key = "graft_lake.cdfrestore"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"""CREATE TABLE $key (id BIGINT, v BIGINT)
                 |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    Seq((0L, 0L), (1L, 10L), (2L, 20L)).toDF("id", "v")
      .coalesce(1).writeTo(key).append() // v1: file A
    Seq((3L, 30L), (4L, 40L)).toDF("id", "v")
      .coalesce(1).writeTo(key).append() // v2: file B
    spark.sql(s"DELETE FROM $key WHERE id = 4") // v3: MoR DV on file B
    GraftLake.upsert(Seq((1L, 111L)).toDF("id", "v").coalesce(1),
      key, Seq("id")) // v4: equality-delete upsert
    GraftLake.restore(key, 2) // v5: roll back BOTH row-level deletes
    val st = LakeStore.get(key).get
    assert(st.latestVersion === 5)
    // the range planner needs exactly ONE seed even though its interior
    // crosses the RESTORE: main lineage is contiguous (the restore's
    // parent is the prior head — it re-ADDS old content rather than
    // re-pointing history), so the path-keyed live map folds straight
    // through on commit deltas
    val s0 = LakeCdf.rangeSeeds.get()
    val planned = LakeCdf.chunksForRange(key, st, 1, 5)
    assert(LakeCdf.rangeSeeds.get() - s0 === 1L,
      s"range seeds across the RESTORE: ${LakeCdf.rangeSeeds.get() - s0}")
    assert(planned.nonEmpty)
    // the restore commit's own deltas: the upsert file's row dies (D),
    // the hidden old id=1 version resurrects (I, vanished eq probe),
    // and the DV-hidden id=4 position resurrects (I, include-mode on
    // the rolled-back vector)
    val atRestore = spark.read
      .option("startingVersion", "5").option("endingVersion", "5")
      .table(s"$key.changes")
      .select("id", "v", "_change").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(atRestore.toSeq === Seq((1L, 10L, "I"), (1L, 111L, "D"), (4L, 40L, "I")),
      s"restore deltas: ${atRestore.toSeq}")
    // whole-range net: appends' 5 I rows, the delete/upsert pair, and
    // the rollback — consumer-side keyed netting lands on the v2 state
    val all = spark.read.option("startingVersion", "1")
      .table(s"$key.changes").collect()
    val byChange = all.groupBy(_.getAs[String]("_change"))
      .view.mapValues(_.length).toMap
    assert(byChange("I") === 8, s"I rows: $byChange") // 5 appends + upsert + 2 resurrections
    assert(byChange("D") === 3, s"D rows: $byChange") // DV delete + upsert's implicit D + restore's D
    assert(spark.table(key).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ===
      Seq((0L, 0L), (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
  }
}
