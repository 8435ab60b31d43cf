package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeStore}

/** Round-12 regression pins. First, the three round-11 fixes that
  * shipped without tests (each of these FAILS if its fix is reverted):
  * identity high-water read by physical zone key after RENAME COLUMN,
  * multi-column ZORDER zone lookup after RENAME COLUMN, and `<=>`
  * against a NULL literal never consulting zones/blooms. Then the two
  * round-11 ADVICE wrong-results edges closed this round: the
  * storage-partitioned-join SPEC-ERA gate (same-arity partition
  * evolution must disable SPJ — arity alone cannot tell an old key
  * from a current one) and replaceWhere DATA VALIDATION (written rows
  * outside the overwrite filter abort the commit, the Delta contract). */
class Round12OpsSpec extends SparkTestBase {

  private def causes(t: Throwable): Seq[Throwable] =
    if (t == null) Nil else t +: causes(t.getCause)

  // ----------------- r11 fix #1: identity high-water across a RENAME

  test("identity high-water mark survives RENAME COLUMN (no duplicate ids)") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.idren")
    spark.sql("""CREATE TABLE graft_lake.idren (
                |  row_id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1 INCREMENT BY 1),
                |  payload BIGINT
                |)""".stripMargin)
    import spark.implicits._
    (0L until 40L).toDF("payload").writeTo("graft_lake.idren").append()
    // the rename moves only the LOGICAL name; zones stay keyed by the
    // physical birth name — a logical-name lookup would find no zones
    // and silently reset the sequencer to START WITH
    spark.sql("ALTER TABLE graft_lake.idren RENAME COLUMN row_id TO seq_id")
    (40L until 70L).toDF("payload").writeTo("graft_lake.idren").append()
    // and once more across a cold replay (a restarted writer must
    // recover the high-water from the replayed manifest, not the cache)
    LakeStore.invalidateCache("graft_lake.idren")
    (70L until 90L).toDF("payload").writeTo("graft_lake.idren").append()
    val ids = spark.table("graft_lake.idren").select("seq_id")
      .collect().map(_.getLong(0))
    assert(ids.length === 90 && ids.distinct.length === 90,
      s"duplicate identity values after RENAME: ${ids.length} rows, " +
        s"${ids.distinct.length} distinct")
  }

  // ----------------- r11 fix #2: multi-column ZORDER after a RENAME

  test("OPTIMIZE ZORDER BY renamed columns succeeds and still prunes") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.zren")
    spark.sql("CREATE TABLE graft_lake.zren (x BIGINT, y BIGINT)")
    import spark.implicits._
    spark.range(0L, 16384L)
      .select((col("id") % 128L).as("x"), (col("id") / 128L).as("y"))
      .writeTo("graft_lake.zren").append()
    spark.sql("ALTER TABLE graft_lake.zren RENAME COLUMN x TO xx")
    spark.sql("ALTER TABLE graft_lake.zren RENAME COLUMN y TO yy")
    // the multi-column path normalizes each rank against the MANIFEST
    // zones, which are keyed by physical name — a logical-name lookup
    // finds none and aborts with "no numeric zones"
    GraftLake.optimize(spark, "graft_lake.zren", Seq("xx", "yy"), 16)
    val cnt = spark.table("graft_lake.zren")
      .filter(col("xx") >= 32L && col("xx") <= 63L &&
        col("yy") >= 32L && col("yy") <= 63L).count()
    assert(cnt === 1024L)
    val stats = LakeStore.lastScanStats("graft_lake.zren")
    assert(stats.filesTotal === 16 && stats.filesScanned < stats.filesTotal,
      s"z-order tiles did not prune: ${stats.filesScanned}/${stats.filesTotal}")
  }

  // ----------------- r11 fix #3: null-safe equality vs a NULL literal

  test("col <=> NULL on a bloom-indexed column keeps every file and returns the null rows") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.nseq")
    spark.sql("""CREATE TABLE graft_lake.nseq (id BIGINT, tag STRING)
                |TBLPROPERTIES ('graft.bloom.columns' = 'tag')""".stripMargin)
    import spark.implicits._
    // file A: every tag NULL (no zone, empty bloom); file B: all present
    (1L to 5L).map(i => (i, null: String)).toDF("id", "tag")
      .coalesce(1).writeTo("graft_lake.nseq").append()
    (6L to 10L).map(i => (i, s"t$i")).toDF("id", "tag")
      .coalesce(1).writeTo("graft_lake.nseq").append()
    // `<=>` against NULL is an IS-NULL seek: zones and blooms describe
    // only NON-null values, so no file may be skipped on it (the all-null
    // file is exactly the one that must survive)
    val rows = spark.table("graft_lake.nseq")
      .filter(col("tag") <=> lit(null).cast("string"))
      .select("id").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq === (1L to 5L))
    val stats = LakeStore.lastScanStats("graft_lake.nseq")
    assert(stats.filesScanned === stats.filesTotal,
      s"IS-NULL seek skipped files: ${stats.filesScanned}/${stats.filesTotal}")
    // and null-safe equality against a PRESENT value still blooms down to 1 file
    assert(spark.table("graft_lake.nseq")
      .filter(col("tag") <=> lit("t7")).count() === 1L)
    assert(LakeStore.lastScanStats("graft_lake.nseq").filesScanned === 1)
  }

  // ----------------- SPJ spec-era gate (same-arity partition evolution)

  test("SPJ refuses same-arity pre-evolution files: conf ON equals conf OFF") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.eraa")
    spark.sql("DROP TABLE IF EXISTS graft_lake.erab")
    spark.sql("""CREATE TABLE graft_lake.eraa (id BIGINT, src STRING, lang STRING, v BIGINT)
                |PARTITIONED BY (src)""".stripMargin)
    spark.sql("""CREATE TABLE graft_lake.erab (lang STRING, w BIGINT)
                |PARTITIONED BY (lang)""".stripMargin)
    import spark.implicits._
    // eraa's files are keyed by SRC ('a'/'b'); every row's lang is 'x'
    (0L until 20L).map(i => (i, if (i % 2 == 0) "a" else "b", "x", i))
      .toDF("id", "src", "lang", "v").writeTo("graft_lake.eraa").append()
    (Seq(("x", 100L), ("y", 200L))).toDF("lang", "w")
      .writeTo("graft_lake.erab").append()
    // SAME-ARITY evolution: identity(src) -> identity(lang). Old files
    // keep src-keys of identical shape — treating them as lang keys
    // would align group 'a' against group 'x' and lose every match.
    GraftLake.setPartitionSpec("graft_lake.eraa", Seq("lang"))
    val st = LakeStore.get("graft_lake.eraa").get
    assert(st.specEra === 1 && st.current.forall(_.era === 0))
    GraftSession.withConf(spark)(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def run(): Seq[(Long, Long)] =
        spark.table("graft_lake.eraa").select("id", "lang")
          .join(spark.table("graft_lake.erab"), "lang")
          .select("id", "w").collect().map(r => (r.getLong(0), r.getLong(1)))
          .sorted.toSeq
      val off = GraftSession.withConf(spark)(
        "spark.sql.sources.v2.bucketing.enabled" -> "false")(run())
      GraftSession.withConf(spark)(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.graft.preserve-data-grouping" -> "true") {
        val on = run()
        assert(off === (0L until 20L).map(i => (i, 100L)))
        assert(on === off, "SPJ across a same-arity partition evolution " +
          "returned different results than the shuffled plan")
        // post-evolution appends migrate nothing: the gate stays shut
        // until every live file is current-era — then SPJ re-arms
        spark.sql("DELETE FROM graft_lake.eraa WHERE id >= 0") // migrates: COW rewrite
        (0L until 20L).map(i => (i, "s", "x", i))
          .toDF("id", "src", "lang", "v").writeTo("graft_lake.eraa").append()
        val st2 = LakeStore.get("graft_lake.eraa").get
        assert(st2.current.forall(_.era === 1))
        val on2 = run()
        assert(on2 === (0L until 20L).map(i => (i, 100L)))
      }
    }
  }

  // ----------------- replaceWhere data validation

  test("replaceWhere refuses written rows outside the overwrite filter") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.rwval")
    spark.sql("""CREATE TABLE graft_lake.rwval (id BIGINT, grp STRING, v BIGINT)
                |PARTITIONED BY (grp)""".stripMargin)
    import spark.implicits._
    (0L until 12L).map(i => (i, s"g${i % 2}", i)).toDF("id", "grp", "v")
      .writeTo("graft_lake.rwval").append()
    // data containing g1 rows under an overwrite filtered to g0: the g1
    // rows would land BESIDE g1's untouched files — refuse the commit
    val e = intercept[Exception] {
      Seq((100L, "g0", 0L), (101L, "g1", 0L)).toDF("id", "grp", "v")
        .writeTo("graft_lake.rwval").overwrite(col("grp") === "g0")
    }
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("replaceWhere data validation")))
    // nothing committed: both partitions exactly as before
    val after = spark.table("graft_lake.rwval").groupBy("grp").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(after.toSeq === Seq(("g0", 6L), ("g1", 6L)))
    // and the aborted write's staged files were swept, not orphaned
    val st = LakeStore.get("graft_lake.rwval").get
    val fs = new org.apache.hadoop.fs.Path(LakeStore.dataDir("graft_lake.rwval"))
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val onDisk = fs.listStatus(fs.makeQualified(
      new org.apache.hadoop.fs.Path(LakeStore.dataDir("graft_lake.rwval"))))
      .map(_.getPath.getName).count(_.endsWith(".parquet"))
    assert(onDisk === st.current.length)
    // a filter naming a partition with NO live files yet is legal when
    // the data satisfies it (Delta: replaceWhere can seed new partitions)
    Seq((200L, "g7", 7L)).toDF("id", "grp", "v")
      .writeTo("graft_lake.rwval").overwrite(col("grp") === "g7")
    val seeded = spark.table("graft_lake.rwval").groupBy("grp").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(seeded.toSeq === Seq(("g0", 6L), ("g1", 6L), ("g7", 1L)))
  }

  // ----------------- spec-era bookkeeping survives replay

  test("file spec eras and the era counter survive cold replay and RESTORE") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.eras")
    spark.sql("""CREATE TABLE graft_lake.eras (id BIGINT, a STRING, b STRING)
                |PARTITIONED BY (a)""".stripMargin)
    import spark.implicits._
    (0L until 6L).map(i => (i, s"a${i % 2}", s"b${i % 3}")).toDF("id", "a", "b")
      .writeTo("graft_lake.eras").append() // v1: era-0 files
    GraftLake.setPartitionSpec("graft_lake.eras", Seq("b")) // v2: era 1
    (6L until 12L).map(i => (i, s"a${i % 2}", s"b${i % 3}")).toDF("id", "a", "b")
      .writeTo("graft_lake.eras").append() // v3: era-1 files
    def erasOf(st: LakeStore.TableState): Set[Int] = st.current.map(_.era).toSet
    val warm = LakeStore.get("graft_lake.eras").get
    assert(warm.specEra === 1 && erasOf(warm) === Set(0, 1))
    LakeStore.invalidateCache("graft_lake.eras")
    val cold = LakeStore.get("graft_lake.eras").get
    assert(cold.specEra === 1 && erasOf(cold) === Set(0, 1))
    // RESTORE to the pre-evolution snapshot: old-era files come back
    // under the CURRENT spec — they must return with their BIRTH eras,
    // keeping the SPJ and overwrite gates shut
    GraftLake.restore("graft_lake.eras", 1)
    val restored = LakeStore.get("graft_lake.eras").get
    assert(restored.specEra === 1 && erasOf(restored) === Set(0))
  }

  // ----------------- hidden-partitioning transform roster (p57 extension)

  test("hours/months/years/truncate transforms derive keys, prune on source columns, and guard") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.hp2")
    spark.sql("""CREATE TABLE graft_lake.hp2 (ev BIGINT, name STRING, ts TIMESTAMP)
                |PARTITIONED BY (months(ts), truncate(4, name))""".stripMargin)
    spark.sql("""INSERT INTO graft_lake.hp2 VALUES
                |(1, 'alpha-one', TIMESTAMP'2024-01-05 01:00:00'),
                |(2, 'alpha-two', TIMESTAMP'2024-01-20 23:00:00'),
                |(3, 'beta-one',  TIMESTAMP'2024-02-02 12:00:00'),
                |(4, 'beta-two',  TIMESTAMP'2023-12-31 05:00:00')""".stripMargin)
    val st = LakeStore.get("graft_lake.hp2").get
    val groups = st.current.map(_.group)
    // months since 1970-01: 2023-12 = 647, 2024-01 = 648, 2024-02 = 649;
    // truncate(4) keeps the 4-char prefix with the SOURCE type
    assert(groups.map(g => (g(0), g(1))).toSet ===
      Set((648, "alph"), (649, "beta"), (647, "beta")))
    // pruning stays on SOURCE columns: one month's ts range opens only
    // that month's files; a name-prefix range lands on one prefix group
    assert(spark.table("graft_lake.hp2")
      .filter(col("ts") >= lit("2024-02-01").cast("timestamp")).count() === 1L)
    val s1 = LakeStore.lastScanStats("graft_lake.hp2")
    assert(s1.filesScanned < s1.filesTotal)
    assert(spark.table("graft_lake.hp2")
      .filter(col("name") >= "beta" && col("name") < "betb").count() === 2L)
    val s2 = LakeStore.lastScanStats("graft_lake.hp2")
    assert(s2.filesScanned < s2.filesTotal)
    // hours(ts) derives epoch-hour keys; hours(DATE) is refused
    spark.sql("DROP TABLE IF EXISTS graft_lake.hp3")
    spark.sql("""CREATE TABLE graft_lake.hp3 (ev BIGINT, ts TIMESTAMP)
                |PARTITIONED BY (hours(ts))""".stripMargin)
    spark.sql("""INSERT INTO graft_lake.hp3 VALUES
                |(1, TIMESTAMP'2024-01-01 00:30:00'), (2, TIMESTAMP'2024-01-01 02:30:00')""".stripMargin)
    val hKeys = LakeStore.get("graft_lake.hp3").get.current.map(_.group.head)
    assert(hKeys.toSet === Set(473352, 473354)) // epoch hours
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE graft_lake.hp4 (ev BIGINT, d DATE)
                  |PARTITIONED BY (hours(d))""".stripMargin)
    }
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("needs a timestamp")))
    // negative integral truncate floors toward -infinity (order-preserving)
    spark.sql("DROP TABLE IF EXISTS graft_lake.hp5")
    spark.sql("""CREATE TABLE graft_lake.hp5 (v BIGINT)
                |PARTITIONED BY (truncate(10, v))""".stripMargin)
    spark.sql("INSERT INTO graft_lake.hp5 VALUES (-7), (-13), (23)")
    assert(LakeStore.get("graft_lake.hp5").get.current.map(_.group.head).toSet
      === Set(-10L, -20L, 20L))
  }

  // ----------------- p62 equality deletes (keyed upsert)

  test("p62/keyed upsert: append-only commit, old keys die at read time, nothing rewritten") {
    val key = occTable("equ1") // (id, grp, v) partitioned by grp, 12 rows
    import spark.implicits._
    val pathsBefore = LakeStore.get(key).get.current.map(_.path).toSet
    GraftLake.upsert(
      Seq((3L, "g0", 333L), (100L, "g1", 1000L)).toDF("id", "grp", "v"), key, Seq("id"))
    // content: id 3 re-versioned, id 100 new, everything else untouched
    assert(spark.table(key).count() === 13L) // count(*) is eq-aware
    val rows = spark.table(key).select("id", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(3L) === 333L && rows(100L) === 1000L && rows(5L) === 5L)
    // write-without-read: every pre-upsert file is STILL LIVE by path
    val st = LakeStore.get(key).get
    assert(pathsBefore.subsetOf(st.current.map(_.path).toSet))
    assert(st.eqDeletes.length === 1 && st.snapshots.last.action === "upsert")
    // a PRUNED read that drops the key column still applies the delete
    assert(spark.table(key).groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("g0" -> 4L, "g1" -> 5L, "g2" -> 4L))
    // the sequence gate: an append AFTER the upsert re-inserts a deleted
    // key — the new row post-dates the delete and survives
    Seq((3L, "g2", 3333L)).toDF("id", "grp", "v").writeTo(key).append()
    assert(spark.table(key).filter(col("id") === 3L)
      .select("v").collect().map(_.getLong(0)).sorted.toSeq === Seq(333L, 3333L))
    // cold replay keeps the delete exact
    LakeStore.invalidateCache(key)
    assert(spark.table(key).count() === 14L)
    assert(LakeStore.get(key).get.eqDeletes.length === 1)
    // time travel BELOW the upsert reads the original value
    assert(spark.sql(s"SELECT v FROM $key VERSION AS OF 1 WHERE id = 3")
      .collect()(0).getLong(0) === 3L)
  }

  test("p62/OPTIMIZE materializes equality deletes and prunes the entry; CLONE guards") {
    val key = occTable("equ2")
    import spark.implicits._
    GraftLake.upsert(Seq((0L, "g0", 900L)).toDF("id", "grp", "v"), key, Seq("id"))
    assert(LakeStore.get(key).get.eqDeletes.nonEmpty)
    // a clone cannot carry the sequence-gated delete: refused loudly
    val e = intercept[Exception] { GraftLake.shallowClone(key, "graft_lake.equ2c") }
    assert(e.getMessage.contains("equality deletes"))
    // compaction rewrites every file with a newer seq -> the delete is
    // dead and PRUNED from the snapshot; content identical
    GraftLake.optimize(spark, key, "id", 2)
    val st = LakeStore.get(key).get
    assert(st.eqDeletes.isEmpty)
    assert(spark.table(key).count() === 12L)
    assert(spark.table(key).filter(col("id") === 0L)
      .select("v").collect()(0).getLong(0) === 900L)
    // and now the clone works
    GraftLake.shallowClone(key, "graft_lake.equ2c")
    assert(spark.table("graft_lake.equ2c").count() === 12L)
    spark.sql("DROP TABLE IF EXISTS graft_lake.equ2c")
  }

  test("p62/the change feed delivers an upsert as exact I and D rows") {
    val key = occTable("equ3")
    import spark.implicits._
    GraftLake.upsert(
      Seq((1L, "g1", 111L), (200L, "g0", 2000L)).toDF("id", "grp", "v"), key, Seq("id"))
    val feed = spark.read.option("startingVersion", "2")
      .table(s"$key.changes")
      .select("id", "v", "_change").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    // I: the upsert batch; D: exactly the OLD row version of id 1
    assert(feed.toSeq === Seq((1L, 1L, "D"), (1L, 111L, "I"), (200L, 2000L, "I")))
    // the keyed batch diff nets the same: one U, one I
    val ch = GraftLake.changes(spark, key, 1, 2, "id")
      .select(col("id"), col("change")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted
    assert(ch.toSeq === Seq((1L, "U"), (200L, "I")))
  }

  // ----------------- p58 optimistic concurrency, per conflict class

  private def occTable(name: String, partitioned: Boolean = true,
      props: String = ""): String = {
    val key = s"graft_lake.$name"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, grp STRING, v BIGINT)" +
      (if (partitioned) " PARTITIONED BY (grp)" else "") + props)
    import spark.implicits._
    (0L until 12L).map(i => (i, s"g${i % 3}", i)).toDF("id", "grp", "v")
      .writeTo(key).append()
    key
  }

  private def isConflict(e: Throwable): Boolean =
    causes(e).exists(_.isInstanceOf[LakeStore.CommitConflictException])

  test("p58/disjoint row-level writers both land (rebase)") {
    val key = occTable("occ_disj")
    LakeStore.onNextCommit.put(key, () =>
      spark.sql(s"UPDATE $key SET v = v + 1000 WHERE grp = 'g1'"))
    spark.sql(s"UPDATE $key SET v = v + 100 WHERE grp = 'g0'")
    val sums = spark.table(key).groupBy("grp").agg(sum("v").as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val base = (g: Int) => (0L until 12L).filter(_ % 3 == g).sum
    assert(sums === Map("g0" -> (base(0) + 400L), "g1" -> (base(1) + 4000L),
      "g2" -> base(2)))
  }

  test("p58/overlapping row-level writers: the optimistic one aborts, the other's write survives") {
    val key = occTable("occ_over")
    LakeStore.onNextCommit.put(key, () =>
      spark.sql(s"UPDATE $key SET v = v + 7 WHERE grp = 'g0'"))
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $key SET v = v + 5 WHERE grp = 'g0'")
    }
    assert(isConflict(e), s"expected CommitConflictException, got $e")
    val g0 = spark.table(key).filter(col("grp") === "g0")
      .agg(sum("v")).collect()(0).getLong(0)
    assert(g0 === (0L until 12L).filter(_ % 3 == 0).sum + 4 * 7L)
  }

  test("p58/blind append rebases over anything; metadata change aborts it") {
    val key = occTable("occ_app")
    import spark.implicits._
    LakeStore.onNextCommit.put(key, () =>
      spark.sql(s"UPDATE $key SET v = v + 1 WHERE grp = 'g2'"))
    Seq((100L, "g0", 50L)).toDF("id", "grp", "v").writeTo(key).append()
    assert(spark.table(key).count() === 13L) // both landed
    // a concurrent CHECK constraint invalidates the planned append
    LakeStore.onNextCommit.put(key, () =>
      spark.sql(s"ALTER TABLE $key SET TBLPROPERTIES ('graft.constraints.p' = 'v >= 0')"))
    val e = intercept[Exception] {
      Seq((101L, "g0", 51L)).toDF("id", "grp", "v").writeTo(key).append()
    }
    assert(isConflict(e))
    assert(spark.table(key).count() === 13L) // the aborted append left nothing
  }

  test("p58/layout-only OPTIMIZE never conflicts with a row-level writer") {
    val key = occTable("occ_opt")
    LakeStore.onNextCommit.put(key, () =>
      GraftLake.optimize(spark, key, "id", 2)) // dataChange=false rewrite
    spark.sql(s"UPDATE $key SET v = v + 9 WHERE grp = 'g1'")
    val total = spark.table(key).agg(sum("v")).collect()(0).getLong(0)
    assert(total === (0L until 12L).sum + 4 * 9L)
  }

  test("p58/an unpartitioned (whole-table) statement aborts on any concurrent data commit") {
    val key = occTable("occ_whole", partitioned = false)
    import spark.implicits._
    LakeStore.onNextCommit.put(key, () =>
      Seq((200L, "gx", 1L)).toDF("id", "grp", "v").writeTo(key).append())
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $key SET v = v + 5 WHERE id < 6")
    }
    assert(isConflict(e))
    // the interleaved append survived; the aborted update changed nothing
    assert(spark.table(key).count() === 13L)
    assert(spark.table(key).agg(sum("v")).collect()(0).getLong(0)
      === (0L until 12L).sum + 1L)
  }

  // ----------------- p59 branches / tags / write-audit-publish

  private def onBranch[T](name: String)(body: => T): T =
    GraftSession.withConf(spark)("graft.lake.branch" -> name)(body)

  test("p59/branch writes are invisible to main until fast-forward publish") {
    val key = occTable("wap_iso")
    spark.sql(s"CALL graft_lake.system.create_branch(tbl => 'wap_iso', name => 'b1')")
    import spark.implicits._
    onBranch("b1") {
      Seq((100L, "g0", 77L)).toDF("id", "grp", "v").writeTo(key).append()
      spark.sql(s"UPDATE $key SET v = v + 1000 WHERE grp = 'g1'")
    }
    // main: untouched; branch: both writes visible via named-ref travel
    assert(spark.table(key).count() === 12L)
    assert(spark.table(key).agg(sum("v")).collect()(0).getLong(0)
      === (0L until 12L).sum)
    val b = spark.sql(s"SELECT count(*) AS c, sum(v) AS s FROM $key VERSION AS OF 'b1'")
      .collect()(0)
    assert(b.getLong(0) === 13L)
    assert(b.getLong(1) === (0L until 12L).sum + 77L + 4 * 1000L)
    // the change feed carries NOTHING for the branch commits yet
    val preFeed = spark.read.option("startingVersion", "2")
      .table(s"$key.changes").count()
    assert(preFeed === 0L)
    // publish: one main commit moves main to the branch head
    val pub = spark.sql(
      s"CALL graft_lake.system.publish(tbl => 'wap_iso', branch => 'b1')").collect()(0)
    assert(spark.table(key).count() === 13L)
    assert(spark.table(key).agg(sum("v")).collect()(0).getLong(0)
      === (0L until 12L).sum + 77L + 4 * 1000L)
    // and the feed delivers the whole audited delta AT the publish commit
    val feed = spark.read.option("startingVersion", pub.getLong(1).toString)
      .table(s"$key.changes").groupBy("_change").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(feed("I") === 5L && feed("D") === 4L) // 4 g1 rewrites + 1 append
  }

  test("p59/tags are immutable, DDL is main-only, publish refuses non-fast-forward") {
    val key = occTable("wap_guards")
    spark.sql(s"CALL graft_lake.system.create_tag(tbl => 'wap_guards', name => 't1')")
    import spark.implicits._
    // write under the tag ref: refused
    val e1 = intercept[Exception] { onBranch("t1") {
      Seq((300L, "g0", 1L)).toDF("id", "grp", "v").writeTo(key).append() } }
    assert(causes(e1).exists(c => c.getMessage != null &&
      c.getMessage.contains("TAG")))
    // DDL under a branch ref: refused
    spark.sql(s"CALL graft_lake.system.create_branch(tbl => 'wap_guards', name => 'b2')")
    val e2 = intercept[Exception] { onBranch("b2") {
      spark.sql(s"ALTER TABLE $key ADD COLUMN extra BIGINT") } }
    assert(causes(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("TABLE-LEVEL")))
    // main advances past the fork base -> publish is not a fast-forward
    Seq((301L, "g0", 1L)).toDF("id", "grp", "v").writeTo(key).append()
    val e3 = intercept[Exception] {
      spark.sql(s"CALL graft_lake.system.publish(tbl => 'wap_guards', branch => 'b2')")
        .collect()
    }
    assert(causes(e3).exists(c => c.getMessage != null &&
      c.getMessage.contains("not a fast-forward")))
    // reads of an unknown ref fail loudly, not silently as main
    val e4 = intercept[Exception] { onBranch("nope") { spark.table(key).count() } }
    assert(causes(e4).exists(c => c.getMessage != null &&
      c.getMessage.contains("does not exist")))
  }

  test("p59/refs survive cold replay; branch and main writers never conflict") {
    val key = occTable("wap_replay")
    spark.sql(s"CALL graft_lake.system.create_branch(tbl => 'wap_replay', name => 'dev')")
    import spark.implicits._
    onBranch("dev") {
      Seq((500L, "g2", 5L)).toDF("id", "grp", "v").writeTo(key).append()
    }
    // cross-ref interleave on the SAME group: no conflict (independent
    // lineages) — main's update rebases over the branch commit
    LakeStore.onNextCommit.put(key, () => onBranch("dev") {
      spark.sql(s"UPDATE $key SET v = v + 50 WHERE grp = 'g0'")
    })
    spark.sql(s"UPDATE $key SET v = v + 7 WHERE grp = 'g0'") // main, same group
    assert(spark.table(key).agg(sum("v")).collect()(0).getLong(0)
      === (0L until 12L).sum + 4 * 7L)
    // cold replay rebuilds both lineages and the refs table
    LakeStore.invalidateCache(key)
    val st = LakeStore.get(key).get
    assert(st.headOf("dev") >= 0 && !st.isTag("dev"))
    val devSum = onBranch("dev") {
      spark.table(key).agg(sum("v")).collect()(0).getLong(0) }
    assert(devSum === (0L until 12L).sum + 5L + 4 * 50L)
    val refs = spark.sql(s"SELECT name, kind FROM $key.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs === Seq(("dev", "branch"), ("main", "branch")))
    // drop_ref tombstones the name (reads refuse, refs table forgets)
    // and frees it for re-creation under a different kind
    spark.sql(s"CALL graft_lake.system.drop_ref(tbl => 'wap_replay', name => 'dev')")
    val eGone = intercept[Exception] { onBranch("dev") { spark.table(key).count() } }
    assert(causes(eGone).exists(c => c.getMessage != null &&
      c.getMessage.contains("does not exist")))
    spark.sql(s"CALL graft_lake.system.create_tag(tbl => 'wap_replay', name => 'dev')")
    assert(LakeStore.get(key).get.isTag("dev"))
    val refs2 = spark.sql(s"SELECT name, kind FROM $key.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs2 === Seq(("dev", "tag"), ("main", "branch")))
  }

  // ----------------- p60 MERGE WITH SCHEMA EVOLUTION

  test("p60/MERGE WITH SCHEMA EVOLUTION auto-adds source-only columns; old rows read null") {
    val key = occTable("mse1")
    import spark.implicits._
    Seq((1L, "g1", 100L, "fresh"), (50L, "g0", 500L, "new"))
      .toDF("id", "grp", "v", "note").createOrReplaceTempView("mse1_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $key t
         |USING mse1_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val st = LakeStore.get(key).get
    assert(st.schema.fieldNames.toSeq === Seq("id", "grp", "v", "note"))
    val rows = spark.table(key).select("id", "v", "note").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).sortBy(_._1)
    assert(rows.toSeq === Seq((0L, 0L, null), (1L, 100L, "fresh"), (2L, 2L, null),
      (3L, 3L, null), (4L, 4L, null), (5L, 5L, null), (6L, 6L, null),
      (7L, 7L, null), (8L, 8L, null), (9L, 9L, null), (10L, 10L, null),
      (11L, 11L, null), (50L, 500L, "new")))
    // the evolution is its own metadata commit: time travel below it
    // reads the NARROW schema
    assert(spark.sql(s"SELECT * FROM $key VERSION AS OF 1 LIMIT 0")
      .columns.toSeq === Seq("id", "grp", "v"))
  }

  test("p60/rename-then-evolve never collides physical names or resurrects stale bytes") {
    val key = occTable("mse2")
    import spark.implicits._
    // rename v away; its files still physically store column "v"
    spark.sql(s"ALTER TABLE $key RENAME COLUMN v TO w")
    // the merge source RE-INTRODUCES the name "v": auto-ADD must bind a
    // fresh physical name — reading the old files' stale "v" bytes
    // through the new logical "v" would corrupt every pre-merge row
    Seq((60L, "g0", 7L, 999L)).toDF("id", "grp", "w", "v")
      .createOrReplaceTempView("mse2_src")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO $key t
         |USING mse2_src s ON t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val st = LakeStore.get(key).get
    val reAdded = st.schema("v")
    assert(LakeStore.physicalName(reAdded) !== "v",
      s"re-added 'v' bound the renamed column's birth physical name")
    // pre-merge rows: w reads the original values, the NEW v reads null
    assert(spark.table(key).filter(col("id") < 12L)
      .filter(col("v").isNotNull).count() === 0L)
    assert(spark.table(key).filter(col("id") < 12L)
      .agg(sum("w")).collect()(0).getLong(0) === (0L until 12L).sum)
    assert(spark.table(key).filter(col("id") === 60L)
      .select("w", "v").collect()(0).toSeq === Seq(7L, 999L))
  }

  // ----------------- p61 row lineage

  test("p61/OPTIMIZE carries identity row ids instead of refusing them") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.rowids")
    spark.sql("""CREATE TABLE graft_lake.rowids (
                |  row_id BIGINT GENERATED ALWAYS AS IDENTITY,
                |  payload BIGINT)""".stripMargin)
    import spark.implicits._
    (0L until 64L).toDF("payload").writeTo("graft_lake.rowids").append()
    val before = spark.table("graft_lake.rowids").select("payload", "row_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // pre-fix this ABORTED: the layout rewrite's writer treated carried
    // identity values as forbidden explicit inserts
    GraftLake.optimize(spark, "graft_lake.rowids", "payload", 2)
    val after = spark.table("graft_lake.rowids").select("payload", "row_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after === before, "row ids changed across a layout-only OPTIMIZE")
    // and the layout rewrite stayed invisible to CDC
    val st = LakeStore.get("graft_lake.rowids").get
    assert(!st.snapshots.last.dataChange)
    // a plain INSERT still refuses explicit ids (the carry is scoped to
    // row-level and layout rewrites, not user writes)
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft_lake.rowids (row_id, payload) VALUES (1, 99)")
    }
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.toLowerCase.contains("identity")))
  }

  // ----------------- p63/p64 function catalog + SPJ over transforms

  test("p63/partition-transform functions are SQL-callable and agree with the writer's routing") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.fnaudit")
    spark.sql("""CREATE TABLE graft_lake.fnaudit (id BIGINT, name STRING, ts TIMESTAMP)
                |PARTITIONED BY (bucket(4, name), days(ts))""".stripMargin)
    spark.sql("""INSERT INTO graft_lake.fnaudit VALUES
                |(1, 'alpha', TIMESTAMP'2024-01-05 01:00:00'),
                |(2, 'beta',  TIMESTAMP'2024-01-05 23:00:00'),
                |(3, 'gamma', TIMESTAMP'2024-02-02 12:00:00'),
                |(4, NULL,    TIMESTAMP'2024-02-02 13:00:00')""".stripMargin)
    // reader-side functions reproduce the writer's routing row-for-row
    // (and the pruned _file metadata ties each row to its manifest group)
    val got = spark.sql(
      """SELECT _file, graft_lake.bucket(4, name) AS b, graft_lake.days(ts) AS d
        |FROM graft_lake.fnaudit WHERE name IS NOT NULL""".stripMargin)
      .distinct().collect().map(r => r.getString(0) -> List(r.getInt(1), r.getInt(2)))
    val want = LakeStore.get("graft_lake.fnaudit").get.current
      .map(f => LakeStore.resolvePath("graft_lake.fnaudit", f) -> f.group).toMap
    assert(got.nonEmpty)
    got.foreach { case (p, g) => assert(want(p) === g, s"fn != manifest for $p") }
    // nulls route to the null group and the fn agrees
    assert(want.values.exists(_.head == null))
    assert(spark.sql("SELECT graft_lake.bucket(4, CAST(NULL AS STRING))")
      .collect()(0).isNullAt(0))
    // spot values for the whole roster (epoch ordinals per LakeStore.partKey)
    val spot = spark.sql(
      """SELECT graft_lake.months(TIMESTAMP'2024-02-02 12:00:00'),
        |       graft_lake.years(TIMESTAMP'2024-02-02 12:00:00'),
        |       graft_lake.hours(TIMESTAMP'2024-01-01 02:30:00'),
        |       graft_lake.truncate(4, 'alpha-one'),
        |       graft_lake.truncate(10, CAST(-13 AS BIGINT))""".stripMargin).collect()(0)
    assert(spot.getInt(0) === 649 && spot.getInt(1) === 54 &&
      spot.getInt(2) === 473354 && spot.getString(3) === "alph" &&
      spot.getLong(4) === -20L)
    // unsupported source types refuse to bind, loudly
    val e = intercept[Exception] {
      spark.sql("SELECT graft_lake.bucket(4, CAST(1.5 AS DOUBLE))").collect()
    }
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("unsupported")))
  }

  test("p63/SPJ over a bucket transform joins exchange-free; same-arity bucket evolution disarms it") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.bspja")
    spark.sql("DROP TABLE IF EXISTS graft_lake.bspjb")
    spark.sql("""CREATE TABLE graft_lake.bspja (id BIGINT, v BIGINT)
                |PARTITIONED BY (bucket(4, id))""".stripMargin)
    spark.sql("""CREATE TABLE graft_lake.bspjb (id BIGINT, w BIGINT)
                |PARTITIONED BY (bucket(4, id))""".stripMargin)
    import spark.implicits._
    (0L until 64L).map(i => (i, i)).toDF("id", "v").writeTo("graft_lake.bspja").append()
    (0L until 64L).map(i => (i, i * 10)).toDF("id", "w").writeTo("graft_lake.bspjb").append()
    GraftSession.withConf(spark)(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def plan() = spark.table("graft_lake.bspja")
        .join(spark.table("graft_lake.bspjb"), "id")
      def exchanges() = plan().queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.length
      def sums() = plan().agg(sum("v"), sum("w")).collect()(0)
      val off = GraftSession.withConf(spark)(
          "spark.sql.sources.v2.bucketing.enabled" -> "false") {
        val s = sums(); assert(exchanges() > 0); s
      }
      GraftSession.withConf(spark)(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.graft.preserve-data-grouping" -> "true") {
        assert(exchanges() === 0,
          "bucket-transform SPJ left a shuffle in the join")
        assert(sums() === off)
        // SAME-ARITY transform evolution bucket(4) -> bucket(8): old files'
        // keys are 0..3-valued and SHAPE-compatible with the new spec, but
        // mean different buckets — the era gate must disarm SPJ
        GraftLake.setPartitionSpec("graft_lake.bspja", Seq("bucket(8, id)"))
        assert(exchanges() > 0,
          "SPJ stayed armed across a same-arity bucket evolution")
        assert(sums() === off)
      }
    }
  }

  // ----------------- p67 manifest file sizes + DESCRIBE DETAIL

  test("p67/manifest bytes equal filesystem truth, survive cold replay, refresh on rewrite") {
    val key = occTable("detail1")
    import spark.implicits._
    val dir = LakeStore.dataDir(key)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    def fsLen(rel: String): Long =
      fs.getFileStatus(new org.apache.hadoop.fs.Path(dir, rel)).getLen
    def st() = LakeStore.get(key).get
    assert(st().current.nonEmpty)
    st().current.foreach(f => assert(f.bytes === fsLen(f.path) && f.bytes > 0L))
    // cold replay (log) and checkpoint replay both round-trip bytes
    LakeStore.invalidateCache(key)
    st().current.foreach(f => assert(f.bytes === fsLen(f.path)))
    (0 until 12).foreach { i => // push past the 10-commit checkpoint
      Seq((100L + i, "g0", 1L)).toDF("id", "grp", "v").writeTo(key).append()
    }
    LakeStore.invalidateCache(key)
    // replay is LAZY: st() below is the cold read that triggers it —
    // only then do the replay stats describe the checkpointed open
    st().current.foreach(f => assert(f.bytes === fsLen(f.path) && f.bytes > 0L))
    assert(LakeStore.lastReplayStats(key).checkpoint === Some(10))
    // checkpoint + tail economics: v11..v13 are the only entries parsed
    assert(LakeStore.lastReplayStats(key).entriesParsed === 3)
    // a rewrite's files carry their own fresh sizes
    GraftLake.optimize(spark, key, "id", 2)
    st().current.foreach(f => assert(f.bytes === fsLen(f.path) && f.bytes > 0L))
    // .files agrees with the manifest; .detail aggregates it
    val filesBytes = spark.sql(s"SELECT path, bytes FROM $key.files").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(filesBytes === st().current.map(f => f.path -> f.bytes).toMap)
    val d = spark.table(s"$key.detail").collect()(0)
    assert(d.getAs[String]("name") === key)
    assert(d.getAs[Long]("num_files") === st().current.length.toLong)
    assert(d.getAs[Long]("size_bytes") === st().current.map(_.bytes).sum)
    assert(d.getAs[Long]("rows") === 24L)
    assert(d.getAs[String]("partition_columns") === "grp")
    assert(d.getAs[Long]("num_commits") === st().latestVersion + 1L)
  }

  test("p67/detail counts delete debt: live DVs and equality deletes") {
    val key = occTable("detail2",
      props = " TBLPROPERTIES ('graft.merge-on-read' = 'true')")
    spark.sql(s"DELETE FROM $key WHERE id = 1")
    import spark.implicits._
    GraftLake.upsert(Seq((2L, "g2", 22L)).toDF("id", "grp", "v"), key, Seq("id"))
    val d = spark.table(s"$key.detail").collect()(0)
    assert(d.getAs[Long]("num_live_dvs") === 1L)
    assert(d.getAs[Long]("num_eq_deletes") === 1L)
    assert(d.getAs[Long]("num_properties") === 1L)
    // live equality deletes hide rows only a keyed read can count: the
    // manifest answer would OVERCOUNT, so detail reports -1 (unknown)
    // instead of an upper bound masquerading as a count
    assert(d.getAs[Long]("rows") === -1L)
  }

  // ----------------- p69 runtime partition filtering (DPP on plain reads)

  test("p69/dynamic partition pruning: dim-side filter prunes fact groups at runtime") {
    val key = "graft_lake.dppf"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"""CREATE TABLE $key (id BIGINT, grp STRING, v BIGINT)
                 |PARTITIONED BY (grp)
                 |TBLPROPERTIES ('graft.write.distribution-mode' = 'hash')""".stripMargin)
    import spark.implicits._
    (0L until 100L).map(i => (i, s"g${i % 10}", i)).toDF("id", "grp", "v")
      .writeTo(key).append() // 10 groups, one file each under hash mode
    // Spark only plans the DPP subquery when the dim side carries a
    // SELECTIVE predicate on a REAL source (a LocalRelation filter
    // constant-folds away), and the filter must be on a NON-join column
    // or constraint propagation would statically push an IN onto the
    // fact side and mask the runtime pruning being proven here
    spark.sql("DROP TABLE IF EXISTS graft_lake.dppdim")
    spark.sql("CREATE TABLE graft_lake.dppdim (dgrp STRING, w BIGINT)")
    Seq(("g1", 10L), ("g3", 30L), ("g7", 70L), ("g9", 0L))
      .toDF("dgrp", "w").writeTo("graft_lake.dppdim").append()
    val dim = spark.table("graft_lake.dppdim").where(col("w") > 0L)
    val j = spark.table(key)
      .join(dim.hint("broadcast"), col("grp") === col("dgrp"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    val expectedSum = (0L until 100L).filter(i => Set(1L, 3L, 7L).contains(i % 10)).sum
    assert(j.collect()(0).toSeq === Seq(expectedSum, 30L))
    // planning opened ONLY the three matching groups' files...
    val stats = LakeStore.lastScanStats(key)
    assert(stats.groupsTotal === 10 && stats.groupsScanned === 3 &&
      stats.filesScanned === 3,
      s"expected 3/10 groups planned, got $stats " +
      s"rt=${LakeStore.lastRuntimeFilter.get(key)} " +
      s"dppInPlan=${j.queryExecution.executedPlan.toString.contains("dynamicpruningexpression")}")
    // ...delivered by a dynamic-pruning runtime filter on the scan (the
    // plan string includes AQE query-stage bodies a collect() may not)
    assert(j.queryExecution.executedPlan.toString.contains("dynamicpruningexpression"),
      "no runtime filter reached the lake scan")
    // hidden partitioning prunes through the transform's envelope too:
    // the runtime IN values are SOURCE-column values, and the group
    // envelope bounds the source column even though the key is bucketed
    val bkey = "graft_lake.dppb"
    spark.sql(s"DROP TABLE IF EXISTS $bkey")
    spark.sql(s"""CREATE TABLE $bkey (id BIGINT, grp STRING, v BIGINT)
                 |PARTITIONED BY (bucket(4, grp))""".stripMargin)
    (0L until 100L).map(i => (i, s"g${i % 10}", i)).toDF("id", "grp", "v")
      .writeTo(bkey).append()
    val jb = spark.table(bkey)
      .join(dim.hint("broadcast"), col("grp") === col("dgrp"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    assert(jb.collect()(0).toSeq === Seq(expectedSum, 30L))
    val sb = LakeStore.lastScanStats(bkey)
    assert(sb.groupsScanned <= sb.groupsTotal,
      s"bucket-transform runtime pruning regressed: $sb")
    // SPJ mode (preserve-data-grouping) COMPOSES with runtime
    // filtering: Spark verifies the promised group ROSTER is unchanged
    // after filter(), so pruned groups keep their keyed partitions but
    // carry zero files — same answer, 3/10 groups' files opened
    GraftSession.withConf(spark)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.graft.preserve-data-grouping" -> "true") {
      val js = spark.table(key)
        .join(dim.hint("broadcast"), col("grp") === col("dgrp"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      assert(js.collect()(0).toSeq === Seq(expectedSum, 30L))
      val ss = LakeStore.lastScanStats(key)
      assert(ss.groupsTotal === 10 && ss.groupsScanned === 3 &&
        ss.filesScanned === 3, s"SPJ+DPP compose: $ss")
    }
  }

  // ----------------- p68 aggregate pushdown (manifest-only COUNT/MIN/MAX)

  private def aggScans(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[graft.sources.LakeAggScan] => b
    }.length

  test("p68/aggregates answered from the manifest: counts, null counts, rename, evolution") {
    val key = occTable("agg1") // 12 rows: id 0..11, v 0..11, grp g0/g1/g2
    import spark.implicits._
    Seq((100L, "g0", Option.empty[Long]), (101L, "g1", Option(50L)))
      .toDF("id", "grp", "v").writeTo(key).append()
    val q = spark.table(key).agg(
      count(lit(1)).as("n"), count(col("v")).as("nv"),
      min(col("id")).as("mni"), max(col("id")).as("mxi"),
      min(col("v")).as("mnv"), max(col("v")).as("mxv"))
    assert(aggScans(q) === 1, "aggregate was not answered from the manifest")
    assert(q.collect()(0).toSeq === Seq(14L, 13L, 0L, 101L, 0L, 50L))
    // RENAME: zones/null counts stay under the birth name; the logical
    // name must still resolve through the physical map
    spark.sql(s"ALTER TABLE $key RENAME COLUMN v TO vv")
    val qr = spark.table(key).agg(count(col("vv")).as("nv"),
      min(col("vv")).as("mn"), max(col("vv")).as("mx"))
    assert(aggScans(qr) === 1)
    assert(qr.collect()(0).toSeq === Seq(13L, 0L, 50L))
    // ADD COLUMN: files that predate the column count as all-null for
    // it — COUNT 0 / MIN NULL without opening anything
    spark.sql(s"ALTER TABLE $key ADD COLUMN w BIGINT")
    val q0 = spark.table(key).agg(count(col("w")).as("nw"), min(col("w")).as("mw"))
    assert(aggScans(q0) === 1)
    assert(q0.collect()(0).toSeq === Seq(0L, null))
    Seq((200L, "g2", Option(7L), Option(99L))).toDF("id", "grp", "vv", "w")
      .writeTo(key).append()
    val q1 = spark.table(key).agg(count(col("w")).as("nw"), max(col("w")).as("mw"))
    assert(aggScans(q1) === 1)
    assert(q1.collect()(0).toSeq === Seq(1L, 99L))
    // SQL COUNT(*) takes the same path
    val sqlCnt = spark.sql(s"SELECT count(*) AS n FROM $key")
    assert(aggScans(sqlCnt) === 1 && sqlCnt.collect()(0).getLong(0) === 15L)
  }

  test("p68/refusal gates: WHERE, GROUP BY, AVG/SUM, strings, doubles, DVs, eq-deletes") {
    val key = occTable("agg2")
    import spark.implicits._
    // a residual WHERE keeps a Filter above the scan — Spark never
    // offers the aggregate, and the filtered answer comes from data
    val w = spark.table(key).where(col("grp") === "g0").agg(count(lit(1)).as("n"))
    assert(aggScans(w) === 0 && w.collect()(0).getLong(0) === 4L)
    // GROUP BY is refused (pre-evolution group keys are era-scoped)
    val g = spark.table(key).groupBy(col("grp")).agg(count(lit(1)).as("n"))
    assert(aggScans(g) === 0 && g.collect().map(_.getLong(1)).sum === 12L)
    // AVG/SUM are not derivable from (rows, nulls, min, max)
    assert(aggScans(spark.table(key).agg(avg(col("v")))) === 0)
    assert(aggScans(spark.table(key).agg(sum(col("v")))) === 0)
    assert(aggScans(spark.table(key).agg(count_distinct(col("v")))) === 0)
    // one refused function refuses the WHOLE pushdown (all-or-nothing)
    assert(aggScans(spark.table(key).agg(count(lit(1)), avg(col("v")))) === 0)
    // string MIN orders differently in the manifest (UTF-16) than in
    // Catalyst (UTF-8 bytes) — refused even though zones exist
    val s = spark.table(key).agg(min(col("grp")).as("m"))
    assert(aggScans(s) === 0 && s.collect()(0).getString(0) === "g0")
    // doubles: NaN never enters a zone — refused
    val dkey = "graft_lake.aggd"
    spark.sql(s"DROP TABLE IF EXISTS $dkey")
    spark.sql(s"CREATE TABLE $dkey (id BIGINT, x DOUBLE)")
    Seq((1L, 1.5), (2L, Double.NaN)).toDF("id", "x").writeTo(dkey).append()
    val dq = spark.table(dkey).agg(max(col("x")).as("m"))
    assert(aggScans(dq) === 0 && dq.collect()(0).getDouble(0).isNaN)
    // live deletion vectors hide rows the manifest still counts
    val mkey = occTable("agg3",
      props = " TBLPROPERTIES ('graft.merge-on-read' = 'true')")
    spark.sql(s"DELETE FROM $mkey WHERE id = 1")
    val mq = spark.table(mkey).agg(count(lit(1)).as("n"))
    assert(aggScans(mq) === 0 && mq.collect()(0).getLong(0) === 11L)
    // equality deletes likewise
    GraftLake.upsert(Seq((2L, "g2", 22L)).toDF("id", "grp", "v"), mkey, Seq("id"))
    val eq = spark.table(mkey).agg(count(lit(1)).as("n"))
    assert(aggScans(eq) === 0 && eq.collect()(0).getLong(0) === 11L)
  }

  test("p68/all-null files prove themselves via null counts; time travel pins the snapshot") {
    val key = "graft_lake.agg4"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, v BIGINT)")
    import spark.implicits._
    // v1: a file whose v is ALL NULL — no zone, but nulls==rows proves
    // it contributes nothing to MIN/MAX
    Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("id", "v").writeTo(key).append()
    val e = spark.table(key).agg(count(col("v")).as("n"), min(col("v")).as("m"))
    assert(aggScans(e) === 1)
    assert(e.collect()(0).toSeq === Seq(0L, null))
    Seq((3L, Option(30L))).toDF("id", "v").writeTo(key).append()
    val f = spark.table(key).agg(count(col("v")).as("n"),
      min(col("v")).as("mn"), max(col("v")).as("mx"))
    assert(aggScans(f) === 1)
    assert(f.collect()(0).toSeq === Seq(1L, 30L, 30L))
    // time travel: the pinned snapshot's manifest answers, not HEAD
    val t = spark.sql(s"SELECT count(*) AS n, count(v) AS nv FROM $key VERSION AS OF 1")
    assert(aggScans(t) === 1)
    assert(t.collect()(0).toSeq === Seq(2L, 0L))
    // and the pushed answer survives a cold manifest replay
    LakeStore.invalidateCache(key)
    val c = spark.table(key).agg(count(col("v")).as("n"), max(col("v")).as("m"))
    assert(aggScans(c) === 1 && c.collect()(0).toSeq === Seq(1L, 30L))
  }

  // ----------------- p66 compatible bucket counts + one-side shuffle

  test("p66/bucket(16) joins bucket(8) exchange-free; non-divisible counts fall back; one-side shuffle") {
    Seq("cba" -> 16, "cbb" -> 8, "cbc" -> 6).foreach { case (t, n) =>
      spark.sql(s"DROP TABLE IF EXISTS graft_lake.$t")
      spark.sql(s"""CREATE TABLE graft_lake.$t (id BIGINT, v BIGINT)
                   |PARTITIONED BY (bucket($n, id))""".stripMargin)
      import spark.implicits._
      (0L until 128L).map(i => (i, i * 10)).toDF("id", "v")
        .writeTo(s"graft_lake.$t").append()
    }
    import spark.implicits._
    (0L until 128L).map(i => (i, i)).toDF("id", "w")
      .createOrReplaceTempView("p66t_plain")
    GraftSession.withConf(spark)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.graft.preserve-data-grouping" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def exchanges(j: org.apache.spark.sql.DataFrame): Int =
        j.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
        }.length
      def check(j: org.apache.spark.sql.DataFrame, wSum: Long): Unit =
        assert(j.agg(sum("v"), sum("w"), count(lit(1))).collect()(0).toSeq
          === Seq((0L until 128L).map(_ * 10).sum, wSum, 128L))
      // m | n: the 16-side reduces mod 8, zero exchanges
      val compat = spark.table("graft_lake.cba")
        .join(spark.table("graft_lake.cbb").withColumnRenamed("v", "w"), "id")
      assert(exchanges(compat) === 0,
        "compatible bucket counts (16 vs 8) still shuffled")
      check(compat, (0L until 128L).map(_ * 10).sum)
      // 16 vs 6: no reducer exists — falls back to shuffling, same rows
      val incompat = spark.table("graft_lake.cba")
        .join(spark.table("graft_lake.cbc").withColumnRenamed("v", "w"), "id")
      assert(exchanges(incompat) > 0)
      check(incompat, (0L until 128L).map(_ * 10).sum)
      // storage side vs plain view: ONE exchange (the plain side only),
      // its partitioner evaluating the catalog's own bucket function
      val oneSide = spark.table("graft_lake.cba")
        .join(spark.table("p66t_plain"), "id")
      assert(exchanges(oneSide) === 1,
        s"one-side shuffle expected exactly 1 exchange, got ${exchanges(oneSide)}")
      check(oneSide, (0L until 128L).sum)
    }
  }

  // ----------------- p65 write distribution & ordering

  test("p65/write distribution: hash clusters by partition key, range sorts, none stays put") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.wdm")
    spark.sql("""CREATE TABLE graft_lake.wdm (id BIGINT, grp STRING, v BIGINT)
                |PARTITIONED BY (grp)""".stripMargin)
    import spark.implicits._
    def batch() = (0L until 96L).map(i => (i, s"g${i % 3}", i))
      .toDF("id", "grp", "v").repartition(8)
    def addedFiles(): Int = {
      val st = LakeStore.get("graft_lake.wdm").get
      val v = st.latestVersion
      st.addedAt(v).length
    }
    batch().writeTo("graft_lake.wdm").append()
    assert(addedFiles() > 3, "mode=none should write on the query layout")
    spark.sql("ALTER TABLE graft_lake.wdm SET TBLPROPERTIES " +
      "('graft.write.distribution-mode' = 'hash')")
    batch().writeTo("graft_lake.wdm").append()
    assert(addedFiles() === 3, "mode=hash must write one file per group")
    spark.sql("ALTER TABLE graft_lake.wdm SET TBLPROPERTIES " +
      "('graft.write.distribution-mode' = 'range')")
    batch().writeTo("graft_lake.wdm").append()
    assert(addedFiles() === 3, "mode=range must also co-locate groups")
    // all three layouts carry the same rows
    assert(spark.table("graft_lake.wdm").groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("g0" -> 96L, "g1" -> 96L, "g2" -> 96L))
    // row-level ops flow through the same distributed write path
    spark.sql("UPDATE graft_lake.wdm SET v = v + 1 WHERE grp = 'g1'")
    assert(spark.table("graft_lake.wdm").filter(col("grp") === "g1")
      .agg(sum("v")).collect()(0).getLong(0)
      === 3 * (0L until 96L).filter(_ % 3 == 1).sum + 96L)
    // unknown modes refuse loudly; unpartitioned tables are a no-op
    spark.sql("ALTER TABLE graft_lake.wdm SET TBLPROPERTIES " +
      "('graft.write.distribution-mode' = 'zorder')")
    val e = intercept[Exception] {
      batch().writeTo("graft_lake.wdm").append()
    }
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("distribution-mode")))
    spark.sql("DROP TABLE IF EXISTS graft_lake.wdm2")
    spark.sql("CREATE TABLE graft_lake.wdm2 (id BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.write.distribution-mode' = 'hash')")
    (0L until 8L).map(i => (i, i)).toDF("id", "v")
      .writeTo("graft_lake.wdm2").append()
    assert(spark.table("graft_lake.wdm2").count() === 8L)
  }

  test("p58/merge-on-read writers conflict-check their deletion vectors too") {
    val key = occTable("occ_mor",
      props = " TBLPROPERTIES ('graft.merge-on-read' = 'true')")
    LakeStore.onNextCommit.put(key, () =>
      spark.sql(s"DELETE FROM $key WHERE grp = 'g0' AND id = 0"))
    val e = intercept[Exception] {
      spark.sql(s"DELETE FROM $key WHERE grp = 'g0' AND id = 3")
    }
    assert(isConflict(e))
    // the interleaved delete landed; the aborted one did not
    assert(spark.table(key).filter(col("grp") === "g0").count() === 3L)
    assert(spark.table(key).filter(col("id") === 3L).count() === 1L)
  }
}
