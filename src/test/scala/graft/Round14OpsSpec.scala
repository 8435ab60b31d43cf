package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeStore}

/** Round-14 feature pins: the rebuilt COPY INTO ledger (per-commit
  * `copyIds` log sections instead of a props-carried string — commit
  * size O(files-in-commit), not O(ingest history)), main-ref
  * `startingTimestamp` resolution, CBO statistics completeness
  * (nullCount beside distinctCount — what Catalyst's join estimator
  * gates on), and a true multi-thread OCC stress over the commit path
  * (real racing writers, no onNextCommit choreography).
  *
  * MUTATION-CHECKED (round 14): four targeted reverts each fail
  * exactly their pinning check — (M1) nullCount() forced empty flips
  * p78's ndv_reordered_selective_first to 0 (the oracle row goes red:
  * Catalyst refuses NDV without null counts), (M2) dropping the
  * copyIds section from the ingest commit fails the ledger-scale test
  * (per-commit sections vanish), (M3) removing versionAtOrAfter's
  * main-ref filter fails its test here (the branch commit satisfies
  * the cut), (M4) no-op'ing requireSchemaCompatible flips st21's
  * failed_at_alter/failed_at_commit3 to 0 (the stream sails past the
  * evolution silently). */
class Round14OpsSpec extends SparkTestBase {

  private def stageOne(src: String, name: String,
      df: org.apache.spark.sql.DataFrame): Unit = {
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    val tmp = s"$src/_t_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$src/$name.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  // ----------------- COPY INTO ledger scale contract (p77 rebuild)

  test("copy_into: commit-log entry size is O(files-in-commit), not O(ingest history)") {
    import spark.implicits._
    val key = "graft_lake.cpscale"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, v BIGINT)")
    val src = "/tmp/graft_cpscale_spec"
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    // 12 ingests of one new file each — under the old props-carried
    // ledger the 12th commit would re-serialize all 12 ids (and every
    // LATER commit would carry them forever); under the per-commit
    // ledger each entry carries exactly its own
    val entrySizes = (0 until 12).map { i =>
      stageOne(src, s"f$i", Seq((i.toLong, i.toLong)).toDF("id", "v"))
      assert(GraftLake.copyInto(spark, key, src) === ((1, 1L)),
        s"ingest $i must load exactly its one new file")
      val st = LakeStore.get(key).get
      val v = st.latestVersion
      assert(st.snapshots(v).action === "copyinto")
      assert(st.snapshots(v).copyIds.length === 1,
        "a commit's ledger section carries only ITS OWN ingested files")
      val log = new org.apache.hadoop.fs.Path(
        s"${LakeStore.tableDir(key)}/_log/" + f"$v%020d.json")
      log.getFileSystem(new org.apache.hadoop.conf.Configuration())
        .getFileStatus(log).getLen
    }
    // flat, not linear: the 12th entry within 30% of the 3rd (file
    // names grow a digit; zones vary a few bytes — nothing O(history))
    assert(entrySizes.last <= (entrySizes(2) * 1.3).toLong,
      s"log entries must not grow with ingest history: $entrySizes")
    // the ledger never rides table properties (no O(n) props carry)
    val st = LakeStore.get(key).get
    assert(!st.props.contains(LakeStore.CopyLedgerProp))
    // an UNRELATED append carries no ledger section at all
    Seq((100L, 100L)).toDF("id", "v").writeTo(key).append()
    val st2 = LakeStore.get(key).get
    assert(st2.snapshots(st2.latestVersion).action === "append")
    assert(st2.snapshots(st2.latestVersion).copyIds.isEmpty)
    // exactly-once survives the full history: a re-run loads nothing
    assert(GraftLake.copyInto(spark, key, src) === ((0, 0L)))
    // ... and survives a COLD replay (checkpoint at v10 + log tail):
    // the ledger is rebuilt from the per-commit sections, not the cache
    LakeStore.invalidateCache(key)
    assert(GraftLake.copyInto(spark, key, src) === ((0, 0L)))
    assert(spark.table(key).count() === 13L)
  }

  test("copy_into: legacy props-carried ledger migrates and retires") {
    import spark.implicits._
    val key = "graft_lake.cplegacy"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, v BIGINT)")
    val src = "/tmp/graft_cplegacy_spec"
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(src), true)
    stageOne(src, "old", Seq((1L, 1L)).toDF("id", "v"))
    val oldLen = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$src/old.parquet")).getLen
    // simulate a pre-round-14 table: the ledger lives in the props
    spark.sql(s"ALTER TABLE $key SET TBLPROPERTIES " +
      s"('${LakeStore.CopyLedgerProp}' = 'old.parquet@$oldLen')")
    // the legacy id is honored (not re-ingested) ...
    assert(GraftLake.copyInto(spark, key, src) === ((0, 0L)))
    // ... and the next REAL ingest retires the props carry
    stageOne(src, "new", Seq((2L, 2L)).toDF("id", "v"))
    assert(GraftLake.copyInto(spark, key, src) === ((1, 1L)))
    val st = LakeStore.get(key).get
    assert(!st.props.contains(LakeStore.CopyLedgerProp),
      "an ingest commit retires the legacy props ledger")
    // both eras of the ledger still dedup after retirement
    assert(GraftLake.copyInto(spark, key, src) === ((0, 0L)))
  }

  // ----------------- startingTimestamp resolves against MAIN only

  test("versionAtOrAfter ignores branch commits (no silent empty-forever stream)") {
    import spark.implicits._
    val key = "graft_lake.tsmain"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    Seq(1L, 2L).toDF("id").writeTo(key).append() // v1 (main)
    Thread.sleep(30)
    val cut = System.currentTimeMillis()
    Thread.sleep(30)
    // after the cut: ONLY branch commits land
    LakeStore.createRef(key, "audit", "branch") // v2 (ref=audit)
    GraftSession.withConf(spark)("graft.lake.branch" -> "audit") {
      Seq(3L).toDF("id").writeTo(key).append() // v3 (ref=audit)
    }
    val st = LakeStore.get(key).get
    assert(st.snapshots(st.latestVersion).ref === "audit")
    // versionAt (at-or-before) already filtered to main; the dual must
    // too — a branch commit after the cut is NOT main's lineage, so the
    // lookup refuses loudly instead of pinning the stream past main
    val e = intercept[IllegalArgumentException] {
      LakeStore.versionAtOrAfter(key, cut)
    }
    assert(e.getMessage.contains("no main commit"))
    // a later MAIN commit satisfies the same cut
    Seq(4L).toDF("id").writeTo(key).append() // v4 (main)
    val got = LakeStore.versionAtOrAfter(key, cut)
    assert(st.snapshots.length === 4) // sanity: v4 appended after snapshot
    assert(got === 4, s"earliest main commit at/after cut is v4, got $got")
  }

  // ----------------- distributed-merge unit contracts (ANALYZE reduce)
  // At test scale a file never splits across input partitions, so the
  // reduceByKey merge path of the back-fill runs only at 100 TB file
  // sizes — these pin it directly against the streaming writer's folds.

  test("mergeFileSketches matches a single streaming sketch over the union") {
    import graft.sources.LakeNdv
    def sk(vals: Range): String = {
      val s = new LakeNdv.Sketch; vals.foreach(v => s.add(s"v$v")); s.encode
    }
    // exact + exact, union under K: stays exact, NDV = true union size
    val m1 = LakeNdv.mergeFileSketches(sk(0 until 300), sk(200 until 500))
    assert(LakeNdv.mergedNdv(Seq(m1)) === ((500L, true)))
    // exact + exact, union over K: saturated, equals the one-pass sketch
    val big = new LakeNdv.Sketch
    (0 until 800).foreach(v => big.add(s"v$v"))
    (600 until 1400).foreach(v => big.add(s"v$v"))
    val m2 = LakeNdv.mergeFileSketches(sk(0 until 800), sk(600 until 1400))
    assert(m2 === big.encode,
      "split-scan merge must equal the writer's streaming fold bit-for-bit")
    // exact + saturated: saturated, bottom-K preserved
    val m3 = LakeNdv.mergeFileSketches(sk(0 until 10), m2)
    val (ndv3, exact3) = LakeNdv.mergedNdv(Seq(m3))
    assert(!exact3 && math.abs(ndv3 - 1410.0) / 1410.0 <= 0.10)
  }

  test("LakeBloom.merge is the writer's bit-OR fold") {
    import graft.sources.LakeBloom
    val bits = 1 << 10
    val (a, b, one) =
      (LakeBloom.newBits(bits), LakeBloom.newBits(bits), LakeBloom.newBits(bits))
    (0 until 50).foreach(i => { LakeBloom.add(a, s"a$i"); LakeBloom.add(one, s"a$i") })
    (0 until 50).foreach(i => { LakeBloom.add(b, s"b$i"); LakeBloom.add(one, s"b$i") })
    val merged = LakeBloom.merge(LakeBloom.encode(a), LakeBloom.encode(b))
    assert(merged === LakeBloom.encode(one),
      "split-scan merge must equal the one-pass bloom bit-for-bit")
    val dec = LakeBloom.decode(merged)
    (0 until 50).foreach { i =>
      assert(LakeBloom.maybeContains(dec, s"a$i") &&
        LakeBloom.maybeContains(dec, s"b$i"))
    }
    intercept[IllegalArgumentException] {
      LakeBloom.merge(LakeBloom.encode(a),
        LakeBloom.encode(LakeBloom.newBits(bits * 2)))
    }
  }

  // ----------------- ANALYZE back-fill (p79)

  test("analyze: back-fills exact NDV, survives cold replay, stays CDC-silent") {
    import spark.implicits._
    val key = "graft_lake.anz1"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, cat STRING)") // no ndv props
    (0L until 300L).map(i => (i, s"c${i % 7}")).toDF("id", "cat")
      .repartition(3).writeTo(key).append()
    val vPre = LakeStore.get(key).get.latestVersion
    assert(GraftLake.analyzeTable(spark, key, Seq("id", "cat")) === ((3, 2)))
    // exact NDV through the stats metadata table (sketches cover all files)
    val stats = spark.table(s"$key.stats").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(stats("cat") === ((7L, true)), "7 categories, exact")
    assert(stats("id") === ((300L, true)), "300 ids, exact (union of exacts)")
    // the roster is now set: FUTURE appends sketch at write time
    assert(graft.sources.LakeNdv.columnsOf(LakeStore.get(key).get.props)
      .toSet === Set("id", "cat"))
    (300L until 400L).map(i => (i, s"c${i % 7}")).toDF("id", "cat")
      .repartition(1).writeTo(key).append()
    val stats2 = spark.table(s"$key.stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats2("id") === 400L, "write-time sketches continue coverage")
    // the analyze commit is metadata-only: CDC sees nothing from it
    val st = LakeStore.get(key).get
    val anzV = st.snapshots.indexWhere(_.action === "analyze")
    assert(anzV === vPre + 1)
    assert(!st.snapshots(anzV).dataChange)
    assert(GraftLake.changes(spark, key, vPre, anzV, "id").count() === 0L)
    // cold replay (tagged add entries) preserves the sketches exactly
    LakeStore.invalidateCache(key)
    val stats3 = spark.table(s"$key.stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats3 === stats2, "sketches survive log replay")
  }

  test("analyze: mixed-era group keys round-trip; refusals are loud") {
    import spark.implicits._
    val key = "graft_lake.anz2"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"""CREATE TABLE $key (id BIGINT, a STRING, ts TIMESTAMP)
                 |PARTITIONED BY (a)""".stripMargin)
    (0L until 40L).map(i => (i, s"a${i % 2}"))
      .toDF("id", "a").withColumn("ts", current_timestamp())
      .writeTo(key).append() // era-0 files, string group keys
    GraftLake.setPartitionSpec(key, Seq("bucket(4, id)")) // era 1
    (40L until 80L).map(i => (i, s"a${i % 2}"))
      .toDF("id", "a").withColumn("ts", current_timestamp())
      .writeTo(key).append() // era-1 files, int group keys
    assert(GraftLake.analyzeTable(spark, key, Seq("id"))._2 === 1)
    // the analyze RE-ADDED pre-evolution files: their old-spec string
    // keys must decode back through the tagged entries on cold replay
    LakeStore.invalidateCache(key)
    assert(spark.table(key).count() === 80L)
    assert(spark.sql(s"SELECT count(*) FROM $key WHERE a = 'a1'")
      .collect()(0).getLong(0) === 40L, "era-0 group pruning still exact")
    val stats = spark.table(s"$key.stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats("id") === 80L)
    // refusals: unknown column, unsupported type
    intercept[IllegalArgumentException] {
      GraftLake.analyzeTable(spark, key, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      GraftLake.analyzeTable(spark, key, Seq("ts"))
    }
  }

  test("analyze: sequential analyzes UNION the roster (no clobber)") {
    import spark.implicits._
    val key = "graft_lake.anz3"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, cat STRING)")
    (0L until 50L).map(i => (i, s"c${i % 3}")).toDF("id", "cat")
      .writeTo(key).append()
    GraftLake.analyzeTable(spark, key, Seq("id"))
    GraftLake.analyzeTable(spark, key, Seq("cat"))
    assert(graft.sources.LakeNdv.columnsOf(LakeStore.get(key).get.props)
      .toSet === Set("id", "cat"),
      "the second analyze merges into the roster, never clobbers it")
    val stats = spark.table(s"$key.stats").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats === Map("id" -> 50L, "cat" -> 3L))
  }

  test("analyze with_blooms: back-filled blooms skip files on equality probes") {
    import spark.implicits._
    val key = "graft_lake.anzbloom"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT, v BIGINT)") // no index props
    // four files with DISJOINT id ranges but identical zones on v — only
    // a bloom can skip an id equality probe here... except zones on id
    // also skip; so give every file the FULL id zone span by planting
    // min/max sentinels, making blooms the only discriminator
    (0 to 3).foreach { b =>
      val ids = Seq(0L, 999999L) ++ (1000L * b + 1 until 1000L * b + 50)
      ids.map(i => (i, i % 7)).toDF("id", "v").coalesce(1)
        .writeTo(key).append()
    }
    // pre-analyze: an equality probe opens every file (zones all span)
    spark.table(key).filter(col("id") === 2025L).count()
    val pre = LakeStore.lastScanStats(key)
    assert(pre.filesScanned === pre.filesTotal, "no bloom yet: no skipping")
    assert(spark.sql(
      s"CALL graft_lake.system.analyze('anzbloom', 'id', with_blooms => true)")
      .collect()(0).getLong(0) === 4L)
    // post-analyze: the back-filled bloom skips the three foreign files
    assert(spark.table(key).filter(col("id") === 2025L).count() === 1L)
    val post = LakeStore.lastScanStats(key)
    assert(post.filesScanned === 1 && post.filesTotal === 4,
      s"bloom must skip 3 of 4 files, scanned ${post.filesScanned}")
    // the roster is set: FUTURE appends build write-time blooms too
    Seq((5000L, 0L)).toDF("id", "v").coalesce(1).writeTo(key).append()
    assert(spark.table(key).filter(col("id") === 2025L).count() === 1L)
    val post2 = LakeStore.lastScanStats(key)
    assert(post2.filesScanned === 1 && post2.filesTotal === 5,
      "write-time bloom on the new file keeps skipping")
    // cold replay keeps the back-filled blooms
    LakeStore.invalidateCache(key)
    assert(spark.table(key).filter(col("id") === 2025L).count() === 1L)
    assert(LakeStore.lastScanStats(key).filesScanned === 1)
  }

  // ----------------- statistics honesty under row-level deletes

  test("nullCount reports with distinctCount, and both suppress under live DVs") {
    import spark.implicits._
    val key = "graft_lake.nstats"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"""CREATE TABLE $key (id BIGINT, opt BIGINT)
                 |TBLPROPERTIES ('graft.ndv.columns' = 'id,opt',
                 |  'graft.merge-on-read' = 'true')""".stripMargin)
    (0L until 100L).map(i => (i, if (i % 5 == 0) null else i: java.lang.Long))
      .toDF("id", "opt").coalesce(1).writeTo(key).append()
    def colStat(col: String): (Option[Long], Option[Long]) = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      val scans = spark.table(key).queryExecution.executedPlan.collect {
        case b: BatchScanExec => b.scan }
      val st = scans.head.asInstanceOf[
        org.apache.spark.sql.connector.read.SupportsReportStatistics]
        .estimateStatistics()
      import scala.jdk.CollectionConverters._
      st.columnStats().asScala.collectFirst {
        case (ref, cs) if ref.fieldNames().sameElements(Array(col)) =>
          (if (cs.distinctCount().isPresent) Some(cs.distinctCount().getAsLong) else None,
            if (cs.nullCount().isPresent) Some(cs.nullCount().getAsLong) else None)
      }.getOrElse((None, None))
    }
    // clean table: both halves of the estimator gate are present
    assert(colStat("opt")._2 === Some(20L))
    assert(colStat("id") === ((Some(100L), Some(0L))))
    // a MoR DELETE hides rows via deletion vectors: numRows subtracts
    // them, so raw per-file null counts could EXCEED it — nullCount
    // must suppress (a ColumnStat with nullCount > rowCount drives the
    // estimator's non-null fraction negative)
    spark.sql(s"DELETE FROM $key WHERE id >= 10")
    assert(LakeStore.get(key).get.deletes.nonEmpty, "DV-bearing table")
    assert(colStat("opt")._2 === None, "nullCount suppressed under DVs")
    assert(colStat("id")._2 === None)
  }

  // ----------------- stream schema guard: dropped columns do not poison

  test("full-history stream replays an ADD-then-DROP column without failing") {
    import spark.implicits._
    val key = "graft_lake.sevdrop"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    Seq(1L, 2L).toDF("id").writeTo(key).append() // v1
    spark.sql(s"ALTER TABLE $key ADD COLUMN x STRING") // v2
    Seq(3L).toDF("id").withColumn("x", lit("gone"))
      .writeTo(key).append() // v3
    spark.sql(s"ALTER TABLE $key DROP COLUMN x") // v4
    Seq(4L).toDF("id").writeTo(key).append() // v5
    // the v2 alter's schema carries x, which the CURRENT schema (and
    // therefore this fresh stream) lacks — but x was since dropped, so
    // nothing the table's own head can see is being withheld: the
    // replay must pass (failing here would prescribe a restart that
    // can never succeed)
    val root = "/tmp/graft_sevdrop_spec"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val buf = new java.util.concurrent.atomic.AtomicLong(0L)
    val q = spark.readStream.table(key)
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) => { buf.addAndGet(b.count()); () })
      .option("checkpointLocation", s"$root/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(buf.get() === 4L, "all four rows replay across the dead column")
  }

  // ----------------- true concurrent-writer OCC stress (no choreography)

  test("OCC stress: racing writer threads never lose a committed row") {
    val key = "graft_lake.occstress"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"""CREATE TABLE $key (id BIGINT, src STRING, v BIGINT)
                 |PARTITIONED BY (src)""".stripMargin)
    val nThreads = 4
    val opsPerThread = 6
    // per-thread journal of SUCCESSFULLY committed state: id -> v for
    // the thread's own partition (threads own disjoint src partitions
    // for row-level ops; appends are blind and race everyone)
    val journals = Array.fill(nThreads)(
      scala.collection.mutable.Map.empty[Long, Long])
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def isConflict(t: Throwable): Boolean = {
      var c = t
      while (c != null) {
        if (c.isInstanceOf[LakeStore.CommitConflictException]) return true
        c = c.getCause
      }
      false
    }
    def retrying(maxTries: Int)(body: => Unit): Unit = {
      var tries = 0
      var done = false
      while (!done) {
        try { body; done = true } catch {
          case e: Throwable if tries < maxTries && isConflict(e) =>
            tries += 1
        }
      }
    }
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        try {
          val rng = new scala.util.Random(1000 + t)
          (0 until opsPerThread).foreach { op =>
            val base = t * 1000L + op * 10L
            // blind append: 4 rows into the thread's own partition
            retrying(50) {
              spark.range(base, base + 4)
                .select(col("id"), lit(s"s$t").as("src"), col("id").as("v"))
                .writeTo(key).append()
            }
            (base until base + 4).foreach(id => journals(t)(id) = id)
            // row-level op on the thread's OWN partition (group-scoped:
            // disjoint from other threads' claims, so rebases compose;
            // whole-table OPTIMIZE still interleaves underneath)
            if (rng.nextBoolean()) {
              val victim = base + rng.nextInt(4)
              retrying(50) {
                spark.sql(s"DELETE FROM $key WHERE src = 's$t' AND id = $victim")
              }
              journals(t).remove(victim)
            } else {
              val bump = base + rng.nextInt(4)
              retrying(50) {
                spark.sql(
                  s"UPDATE $key SET v = v + 100000 WHERE src = 's$t' AND id = $bump")
              }
              if (journals(t).contains(bump))
                journals(t)(bump) = bump + 100000L
            }
            // thread 0 also races whole-table layout rewrites
            if (t == 0 && op % 2 == 1)
              retrying(50) { GraftLake.optimize(spark, key, "id", 2) }
          }
        } catch { case e: Throwable => failures.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(failures.isEmpty, s"writer thread died: ${failures.peek()}")
    // every thread's journal is exactly the table's view of its partition
    val got = spark.table(key).select("src", "id", "v").collect()
      .groupBy(_.getString(0))
      .map { case (s0, rows) =>
        s0 -> rows.map(r => r.getLong(1) -> r.getLong(2)).toMap }
    (0 until nThreads).foreach { t =>
      assert(got.getOrElse(s"s$t", Map.empty) === journals(t).toMap,
        s"thread $t: committed state diverged")
    }
    // the surviving history is SERIALIZABLE: main's snapshots form one
    // linear parent chain (every commit built on the then-current head)
    val st = LakeStore.get(key).get
    val mains = st.snapshots.zipWithIndex.filter(_._1.ref == "main")
    mains.sliding(2).foreach {
      case Seq((_, prev), (snap, _)) =>
        assert(snap.parent === prev,
          s"non-linear main history: parent ${snap.parent} != $prev")
      case _ => ()
    }
  }
}
