package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeStore}

/** Round-13 pins for the round-12 ADVICE findings — each of these
  * FAILS when its fix is reverted:
  *
  *  1. a merge-on-read delta commit re-validates that every deletion
  *     vector's target file is still live (an interleaved layout-only
  *     OPTIMIZE is dataChange=false and so exempt from the group-scope
  *     conflict check, but it removes the very file the DV binds to —
  *     committing anyway silently loses the delete);
  *  2. the change feed delivers equality-delete effects whenever the
  *     delete set changes RELATIVE TO THE PARENT — a PUBLISH carrying
  *     branch upserts and a RESTORE rolling one back, not just the
  *     same-commit upsert case;
  *  3. manifest MIN/MAX pushdown coerces the winning zone value to the
  *     CURRENT schema's primitive (pre-widening files replay Integer
  *     zones under a now-BIGINT column);
  *  4. all-digit ref names are refused at creation (VERSION AS OF
  *     resolves numerics as snapshot indexes first — the ref would be
  *     unreadable by name and silently read the wrong data);
  *  5. DESCRIBE DETAIL reports rows = -1 (unknown) while equality
  *     deletes are live (Round12OpsSpec pins the detail side; the refs
  *     side is pinned here).
  *
  * MUTATION-CHECKED (round 13): reverting the three code fixes —
  * `if (false && dead.nonEmpty)` in LakeStore.applyDelta,
  * `newEq = snap.eqDeletes.filter(_.seq == v)` in LakeCdf.chunksFor,
  * and dropping `coerce(...)` from the MIN pushdown answer — fails
  * exactly the MoR-conflict, publish-CDF, and min/max-widening tests
  * here (7 succeeded, 3 failed), so each test pins its own fix. */
class Round13OpsSpec extends SparkTestBase {

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  private def isConflict(e: Throwable): Boolean =
    causes(e).exists(_.isInstanceOf[LakeStore.CommitConflictException])

  private def freshTable(name: String, props: String = ""): String = {
    val key = s"graft_lake.$name"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, grp STRING, v BIGINT)" +
      " PARTITIONED BY (grp)" + props)
    import spark.implicits._
    (0L until 12L).map(i => (i, s"g${i % 3}", i)).toDF("id", "grp", "v")
      .writeTo(key).append()
    key
  }

  // ----------------- ADVICE 1: DV commit vs interleaved OPTIMIZE

  test("MoR delete aborts when a layout-only OPTIMIZE removed its DV's target file") {
    val key = freshTable("dvopt",
      props = " TBLPROPERTIES ('graft.merge-on-read' = 'true')")
    // the OPTIMIZE interleaves between the DELETE's plan (which bound
    // deletion vectors to specific files) and its commit; it is
    // dataChange=false, so the group-scope exemption would wave it
    // through — the liveness re-validation must catch it instead
    LakeStore.onNextCommit.put(key, () =>
      GraftLake.optimize(spark, key, "id", 1))
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $key WHERE id = 3")
    }
    assert(isConflict(e), s"expected a commit conflict, got $e")
    assert(e.getMessage != null || causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("ConcurrentDeleteDelete"))))
    // nothing was lost: the table is intact, and the retry lands
    assert(spark.table(key).count() === 12L)
    spark.sql(s"DELETE FROM $key WHERE id = 3")
    assert(spark.table(key).count() === 11L)
    assert(spark.table(key).filter(col("id") === 3L).count() === 0L)
  }

  // ----------------- ADVICE 2: CDF equality-delete effects at PUBLISH

  private def onBranch[T](name: String)(body: => T): T =
    GraftSession.withConf(spark)("graft.lake.branch" -> name)(body)

  test("publish delivers branch upserts as exact row-level I and D") {
    val key = freshTable("wapup")
    import spark.implicits._
    spark.sql(s"CALL graft_lake.system.create_branch(tbl => 'wapup', name => 'b1')")
    onBranch("b1") {
      GraftLake.upsert(
        Seq((1L, "g1", 111L), (200L, "g0", 2000L)).toDF("id", "grp", "v"),
        key, Seq("id"))
    }
    // nothing on main's feed yet (write-audit-publish)
    val mainHead = LakeStore.get(key).get.mainHead
    assert(spark.read.option("startingVersion", (mainHead + 1).toString)
      .table(s"$key.changes").count() === 0L)
    val pub = spark.sql(
      s"CALL graft_lake.system.publish(tbl => 'wapup', branch => 'b1')").collect()(0)
    val pubV = pub.getLong(1)
    // the publish commit's feed IS the upsert's row-level delta: the
    // new row versions as I, the key-dead OLD row as D — the implicit
    // deletion must not vanish just because its seq is a branch version
    val feed = spark.read.option("startingVersion", pubV.toString)
      .table(s"$key.changes")
      .select("id", "v", "_change").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    assert(feed.toSeq === Seq((1L, 1L, "D"), (1L, 111L, "I"), (200L, 2000L, "I")))
    // and the read side agrees with the feed's net effect
    assert(spark.table(key).filter(col("id") === 1L)
      .select("v").collect()(0).getLong(0) === 111L)
    assert(spark.table(key).count() === 13L)
  }

  // ----------------- ADVICE 2: CDF equality-delete effects at RESTORE

  test("restore across an upsert emits the undo as row-level I and D") {
    val key = freshTable("resup")
    import spark.implicits._
    GraftLake.upsert(
      Seq((1L, "g1", 111L), (200L, "g0", 2000L)).toDF("id", "grp", "v"),
      key, Seq("id")) // v2: +new file, +equality delete on id
    GraftLake.restore(key, 1) // v3: undo the upsert
    val feed = spark.read
      .option("startingVersion", "3").option("endingVersion", "3")
      .table(s"$key.changes")
      .select("id", "v", "_change").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    // the upsert batch dies as D; the RESURRECTED old row version of
    // id 1 (hidden by the now-rolled-back equality delete) returns as I
    assert(feed.toSeq === Seq((1L, 1L, "I"), (1L, 111L, "D"), (200L, 2000L, "D")))
    // keyed netting over the same range: id 1 is an update back to its
    // old payload, id 200 a delete
    val ch = GraftLake.changes(spark, key, 2, 3, "id")
      .select(col("id"), col("change")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(ch.toSeq === Seq((1L, "U"), (200L, "D")))
    assert(spark.table(key).count() === 12L)
    assert(spark.table(key).filter(col("id") === 1L)
      .select("v").collect()(0).getLong(0) === 1L)
  }

  // ----------------- ADVICE 3: MIN/MAX pushdown across type widening

  test("manifest MIN/MAX coerces pre-widening Integer zones to the current type") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS graft_lake.widagg")
    spark.sql("CREATE TABLE graft_lake.widagg (n INT)")
    Seq(3, 7, 5).toDF("n").writeTo("graft_lake.widagg").append()
    spark.sql("ALTER TABLE graft_lake.widagg ALTER COLUMN n TYPE BIGINT")
    Seq(6L, 9L).toDF("n").writeTo("graft_lake.widagg").append()
    val q = spark.table("graft_lake.widagg")
      .agg(min("n").as("mn"), max("n").as("mx"), count(lit(1)).as("c"))
    // still answered from the manifest (one LakeAggScan, no data read)...
    val aggScans = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[graft.sources.LakeAggScan] => b
    }.length
    assert(aggScans === 1, "widened MIN/MAX no longer pushes down")
    // ...and the winning value from a PRE-widening file arrives as the
    // CURRENT type's primitive — getLong on it must not ClassCast
    val r = q.collect()(0)
    assert(r.getLong(0) === 3L && r.getLong(1) === 9L && r.getLong(2) === 5L)
  }

  // ----------------- ADVICE 4: all-digit ref names

  test("all-digit ref names are refused at creation") {
    val key = freshTable("refd")
    val e = intercept[Exception] {
      GraftLake.createBranch(key, "123")
    }
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("all digits"))), s"wrong refusal: $e")
    // a digits-plus-letter name is fine, and resolves BY NAME (not as
    // the snapshot-index the all-digit form would have collided with)
    GraftLake.createBranch(key, "v123")
    assert(spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 'v123'")
      .collect()(0).getLong(0) === 12L)
  }

  // ----------------- VACUUM never collects a live ref head (p70)

  test("vacuum keeps files reachable from branch/tag heads; expired untagged files go") {
    val key = freshTable("gcref") // v0 create, v1 append
    import spark.implicits._
    GraftLake.createTag(key, "pin")         // v2: tag at v1's files
    GraftLake.createBranch(key, "side")     // v3
    onBranch("side") {                      // v4: branch-only file
      Seq((500L, "g0", 5000L)).toDF("id", "grp", "v").writeTo(key).append()
    }
    // three whole-table rewrites: v1's files leave main's live set and
    // (without ref protection) every retention window soon excludes them
    (1 to 3).foreach(_ => spark.sql(s"UPDATE $key SET v = v + 100"))
    val before = spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 'pin'")
      .collect()(0).getLong(0)
    val (deleted, horizon) = GraftLake.vacuum(key, 2)
    assert(deleted > 0, "expected the untagged expired rewrite output to be swept")
    assert(horizon > 1 && horizon > LakeStore.get(key).get.headOf("pin"))
    // the tag still reads its full pre-rewrite state — file-for-file
    assert(spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 'pin'")
      .collect()(0).getLong(0) === before)
    assert(spark.sql(s"SELECT sum(v) FROM $key VERSION AS OF 'pin'")
      .collect()(0).getLong(0) === (0L until 12L).sum)
    // the branch head below the horizon stays readable AND writable
    assert(spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 'side'")
      .collect()(0).getLong(0) === 13L)
    onBranch("side") {
      Seq((501L, "g0", 5001L)).toDF("id", "grp", "v").writeTo(key).append()
    }
    assert(spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 'side'")
      .collect()(0).getLong(0) === 14L)
    // numeric travel to an expired, un-reffed version is still refused
    val e = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $key VERSION AS OF 5").collect()
    }
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("vacuumed"))), s"wrong gate: $e")
  }

  // ----------------- runtime filtering composes with merge-on-read

  test("DPP prunes fact groups on a MoR table with live DVs and equality deletes") {
    val key = "graft_lake.dppmor"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"""CREATE TABLE $key (id BIGINT, grp STRING, v BIGINT)
                 |PARTITIONED BY (grp)
                 |TBLPROPERTIES ('graft.write.distribution-mode' = 'hash',
                 |               'graft.merge-on-read' = 'true')""".stripMargin)
    import spark.implicits._
    (0L until 100L).map(i => (i, s"g${i % 10}", i)).toDF("id", "grp", "v")
      .writeTo(key).append() // 10 groups, one file each
    // live row-level delete debt of BOTH kinds: a positional DV in a
    // group the join keeps (g1) and an equality delete upserting a key
    // in another kept group (g3) — the read-time resolution paths that
    // p68's aggregate pushdown and the LIMIT fast path must disarm on,
    // but runtime PARTITION pruning composes with (group envelopes
    // don't count rows, they bound values)
    spark.sql(s"DELETE FROM $key WHERE id = 11") // DV in g1
    GraftLake.upsert(Seq((13L, "g3", 1313L)).toDF("id", "grp", "v"),
      key, Seq("id")) // equality delete on id=13 in g3
    spark.sql("DROP TABLE IF EXISTS graft_lake.dppmordim")
    spark.sql("CREATE TABLE graft_lake.dppmordim (dgrp STRING, w BIGINT)")
    Seq(("g1", 10L), ("g3", 30L), ("g7", 70L), ("g9", 0L))
      .toDF("dgrp", "w").writeTo("graft_lake.dppmordim").append()
    val dim = spark.table("graft_lake.dppmordim").where(col("w") > 0L)
    val j = spark.table(key)
      .join(dim.hint("broadcast"), col("grp") === col("dgrp"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    // expected: groups 1,3,7 (30 rows), minus the DV'd id=11, minus the
    // key-dead old id=13, plus its upserted replacement — 29 rows
    val base = (0L until 100L).filter(i => Set(1L, 3L, 7L).contains(i % 10))
    val expectedSum = base.sum - 11L - 13L + 1313L
    assert(j.collect()(0).toSeq === Seq(expectedSum, 29L))
    val stats = LakeStore.lastScanStats(key)
    assert(stats.groupsScanned < stats.groupsTotal,
      s"runtime filtering disarmed on a MoR table: $stats")
    assert(stats.groupsTotal === 10 && stats.groupsScanned === 3, s"$stats")
    assert(j.queryExecution.executedPlan.toString.contains("dynamicpruningexpression"),
      "no runtime filter reached the MoR lake scan")
  }

  // ----------------- size-aware incremental compaction (p71)

  test("compact rewrites only groups with enough under-threshold files") {
    val key = "graft_lake.cmp"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"""CREATE TABLE $key (id BIGINT, grp STRING, v BIGINT)
                 |PARTITIONED BY (grp)""".stripMargin)
    import spark.implicits._
    // g0: one BIG file; then two small (g0,g1) appends; g2: one small
    (0L until 5000L).map(i => (i, "g0", i)).toDF("id", "grp", "v")
      .repartition(1).writeTo(key).append()
    (1 to 2).foreach { a =>
      Seq((10000L + a, "g0", 1L), (20000L + a, "g1", 1L))
        .toDF("id", "grp", "v").repartition(1).writeTo(key).append()
    }
    Seq((30000L, "g2", 1L)).toDF("id", "grp", "v").writeTo(key).append()
    def st() = LakeStore.get(key).get
    val bigBytes = st().current.filter(_.rows >= 5000L).map(_.bytes).min
    val smallMax = st().current.filter(_.rows < 5000L).map(_.bytes).max
    assert(smallMax < bigBytes, s"fixture: small $smallMax !< big $bigBytes")
    val threshold = (smallMax + bigBytes) / 2
    val g2Path = st().current.filter(_.group == List("g2")).map(_.path)
    val rowsBefore = spark.table(key).count()
    val sumBefore = spark.table(key).agg(sum("v")).collect()(0).getLong(0)
    // g0 has 2 small files (the big one is over threshold but the group
    // qualifies on its small count); g1 has 2 small; g2 only 1 -> skip
    val (groups, removed) = GraftLake.compact(spark, key, threshold, minInputFiles = 2)
    assert(groups === 2 && removed === 5, s"($groups, $removed)") // g0: 3 files, g1: 2
    val after = st().current.groupBy(_.group).map { case (g, fs) => g -> fs.length }
    assert(after(List("g0")) === 1 && after(List("g1")) === 1)
    // the untouched group kept its exact file (not moved, not re-stamped)
    assert(st().current.filter(_.group == List("g2")).map(_.path) === g2Path)
    // layout-only: content identical, change feed silent, idempotent
    assert(spark.table(key).count() === rowsBefore)
    assert(spark.table(key).agg(sum("v")).collect()(0).getLong(0) === sumBefore)
    val v = st().latestVersion
    assert(!st().snapshots(v).dataChange)
    assert(GraftLake.compact(spark, key, threshold, minInputFiles = 2) === ((0, 0)))
    // non-identity layouts are refused toward the full optimize
    spark.sql("DROP TABLE IF EXISTS graft_lake.cmpb")
    spark.sql("""CREATE TABLE graft_lake.cmpb (id BIGINT, v BIGINT)
                |PARTITIONED BY (bucket(4, id))""".stripMargin)
    Seq((1L, 1L)).toDF("id", "v").writeTo("graft_lake.cmpb").append()
    val e = intercept[Exception] {
      GraftLake.compact(spark, "graft_lake.cmpb", Long.MaxValue)
    }
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("identity"))), s"wrong guard: $e")
  }

  // ----------------- streaming rate limiting (st19)

  test("maxFilesPerTrigger batches per-commit; an oversized commit still admits") {
    val key = "graft_lake.rl"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, v BIGINT)")
    import spark.implicits._
    // v1..v3: one file each; v4: FOUR files in one commit (over any cap)
    (1 to 3).foreach { c =>
      (0L until 10L).map(i => (c * 100L + i, i)).toDF("id", "v")
        .coalesce(1).writeTo(key).append()
    }
    (0L until 40L).map(i => (1000L + i, i)).toDF("id", "v")
      .repartition(4).writeTo(key).append()
    val root = s"/tmp/graft_rl_spec_${System.nanoTime()}"
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream
      .option("maxFilesPerTrigger", "2")
      .table(key)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        val n = b.count(); if (n > 0) batches.add(n); ()
      }
      .option("checkpointLocation", s"$root/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    // cap=2: batch1 admits v1+v2 (2 files), batch2 admits v3 alone (v4's
    // 4 files would blow the cap), batch3 admits v4 whole — the progress
    // guarantee (a commit never splits, so an oversized one rides alone)
    assert(batches.iterator().asScala.toSeq === Seq(20L, 10L, 40L))
  }

  // ----------------- startingVersion + maxBytesPerTrigger (st19 kin)

  private def drainLake(key: String, cp: String,
      opts: Map[String, String]): Seq[Long] = {
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val r = opts.foldLeft(spark.readStream) { case (b, (k2, v2)) => b.option(k2, v2) }
    val q = r.table(key)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        val n = b.count(); if (n > 0) batches.add(n); ()
      }
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    batches.iterator().asScala.toSeq
  }

  test("startingVersion=latest tails instead of replaying; numeric starts mid-log") {
    val key = "graft_lake.rlsv"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, v BIGINT)")
    import spark.implicits._
    (1 to 3).foreach { c =>
      (0L until 10L).map(i => (c * 100L + i, i)).toDF("id", "v")
        .coalesce(1).writeTo(key).append() // v1..v3
    }
    val root = s"/tmp/graft_sv_spec_${System.nanoTime()}"
    // latest: the initial drain delivers NOTHING (no history replay)...
    assert(drainLake(key, s"$root/cp1", Map("startingVersion" -> "latest")) === Nil)
    // ...and the same checkpoint then tails only what lands after
    (0L until 5L).map(i => (400L + i, i)).toDF("id", "v")
      .coalesce(1).writeTo(key).append() // v4
    assert(drainLake(key, s"$root/cp1", Map("startingVersion" -> "latest")) === Seq(5L))
    // a numeric start delivers from that commit inclusive (fresh
    // checkpoint; on restart the option is ignored — the checkpoint
    // owns the position)
    assert(drainLake(key, s"$root/cp2", Map("startingVersion" -> "3"))
      === Seq(15L)) // v3's 10 rows + v4's 5 in one catch-up batch
  }

  test("maxBytesPerTrigger caps batches by manifest bytes") {
    val key = "graft_lake.rlmb"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, v BIGINT)")
    import spark.implicits._
    (1 to 3).foreach { c =>
      (0L until 10L).map(i => (c * 100L + i, i)).toDF("id", "v")
        .coalesce(1).writeTo(key).append()
    }
    val root = s"/tmp/graft_mb_spec_${System.nanoTime()}"
    // a 1-byte cap forces one commit per batch (progress guarantee:
    // every real commit exceeds it, so each rides alone)
    assert(drainLake(key, s"$root/cp", Map("maxBytesPerTrigger" -> "1"))
      === Seq(10L, 10L, 10L))
    // a generous cap drains everything in one batch
    assert(drainLake(key, s"$root/cp2", Map("maxBytesPerTrigger" -> "1000000000"))
      === Seq(30L))
  }

  // ----------------- ADVICE 5: refs row counts under equality deletes

  test("refs table reports rows = -1 while a ref head has live equality deletes") {
    val key = freshTable("refeq")
    import spark.implicits._
    GraftLake.upsert(Seq((1L, "g1", 111L)).toDF("id", "grp", "v"), key, Seq("id"))
    val rows = spark.table(s"$key.refs").select("name", "rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 13 manifest rows, 12 visible — the manifest cannot count the
    // key-resolved hide, so it must say UNKNOWN, never an upper bound
    assert(rows("main") === -1L)
    assert(spark.table(key).count() === 12L)
    // OPTIMIZE materializes the delete; the count becomes exact again
    GraftLake.optimize(spark, key, "id", 1)
    val after = spark.table(s"$key.refs").select("name", "rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("main") === 12L)
  }
}
