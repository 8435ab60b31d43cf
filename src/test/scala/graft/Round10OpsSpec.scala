package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeStore}

/** Round-10 first wave: the round-9 ADVICE hardening, each pinned at
  * the level a query hash cannot see — on-disk survival of CREATE
  * collisions, manifest serde of datetime/decimal zones across a cold
  * replay, change feeds spanning a schema-evolution boundary, and the
  * streaming retention gate. */
class Round10OpsSpec extends SparkTestBase {

  // --------------------------------------------- CREATE vs cold tables

  test("CREATE TABLE refuses to clobber a table that exists only on disk (cold log)") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.coldc")
    spark.sql("CREATE TABLE graft_lake.coldc (id BIGINT)")
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("id").writeTo("graft_lake.coldc").append()
    // simulate a JVM restart over a persistent root: warm cache gone,
    // the on-disk commit log is all that remains
    LakeStore.invalidateCache("graft_lake.coldc")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft_lake.coldc (other STRING)")
    }
    assert(e.getMessage.toLowerCase.contains("already exists"))
    // and the original data survived the attempt
    assert(spark.table("graft_lake.coldc").count() === 3L)
  }

  // ------------------------------------- datetime + decimal manifests

  test("DATE/TIMESTAMP zones round-trip a cold log replay and still skip files") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.dtz")
    spark.sql("CREATE TABLE graft_lake.dtz (id BIGINT, d DATE, ts TIMESTAMP)")
    spark.sql("""INSERT INTO graft_lake.dtz
                |SELECT 1L, DATE'2024-01-01', TIMESTAMP'2024-01-01 00:00:00'""".stripMargin)
    spark.sql("""INSERT INTO graft_lake.dtz
                |SELECT 2L, DATE'2025-06-01', TIMESTAMP'2025-06-01 12:00:00'""".stripMargin)
    // cold replay must decode the datetime zones, not throw or vanish
    LakeStore.invalidateCache("graft_lake.dtz")
    val st = LakeStore.get("graft_lake.dtz").get
    assert(st.current.forall(f => f.zones.contains("d") && f.zones.contains("ts")))
    // and the replayed zones still prune: a 2025 probe opens one file
    assert(spark.table("graft_lake.dtz")
      .filter(col("d") >= lit("2025-01-01").cast("date")).count() === 1L)
    val stats = LakeStore.lastScanStats("graft_lake.dtz")
    assert(stats.filesTotal === 2 && stats.filesScanned === 1)
  }

  test("DECIMAL columns commit without zones (superset-safe) and survive cold replay") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.decz")
    spark.sql("CREATE TABLE graft_lake.decz (id BIGINT, amt DECIMAL(10,2))")
    spark.sql("INSERT INTO graft_lake.decz SELECT 1L, CAST(12.34 AS DECIMAL(10,2))")
    spark.sql("INSERT INTO graft_lake.decz SELECT 2L, CAST(99.99 AS DECIMAL(10,2))")
    LakeStore.invalidateCache("graft_lake.decz")
    val st = LakeStore.get("graft_lake.decz").get
    // no decimal zone recorded — and id zones still present
    assert(st.current.forall(f => !f.zones.contains("amt") && f.zones.contains("id")))
    // an equality probe on the un-zoned column must NOT skip files
    assert(spark.table("graft_lake.decz")
      .filter(col("amt") === lit(BigDecimal("99.99"))).count() === 1L)
    val stats = LakeStore.lastScanStats("graft_lake.decz")
    assert(stats.filesScanned === 2) // superset-safe: nothing pruned on amt
  }

  // ------------------------------------ change feed across an ALTER

  test("changes() spans an ALTER TABLE ADD COLUMN boundary") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.evch")
    spark.sql("CREATE TABLE graft_lake.evch (id BIGINT, v BIGINT)")
    import spark.implicits._
    (0L until 10L).map(i => (i, i)).toDF("id", "v")
      .writeTo("graft_lake.evch").append() // v1
    spark.sql("ALTER TABLE graft_lake.evch ADD COLUMN tag STRING") // v2
    spark.sql("UPDATE graft_lake.evch SET tag = 'hot', v = v + 100 WHERE id < 3") // v3
    // diff v1 -> v3 crosses the schema boundary: pre-ALTER snapshot has
    // no `tag`, post-ALTER rows carry it — must analyze and classify
    val ch = GraftLake.changes(spark, "graft_lake.evch", 1, 3, "id")
      .collect().map(r => r.getLong(0) -> r.getString(r.length - 1)).toMap
    assert(ch === Map(0L -> "U", 1L -> "U", 2L -> "U"))
    // untouched rows with a padded-null new column are NOT spurious U's
    assert(!ch.contains(5L))
  }

  // ------------------------------- p45 defaults / generated / identity

  test("p45/column DEFAULTs fill omitted columns on INSERT; generated columns compute and validate") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.gen1")
    spark.sql("""CREATE TABLE graft_lake.gen1 (
                |  id BIGINT,
                |  src STRING DEFAULT 'unknown',
                |  n BIGINT,
                |  n2 BIGINT GENERATED ALWAYS AS (n * 2)
                |)""".stripMargin)
    spark.sql("INSERT INTO graft_lake.gen1 (id, n) VALUES (1, 10), (2, 20)")
    spark.sql("INSERT INTO graft_lake.gen1 (id, src, n) VALUES (3, 'crawl', 30)")
    val rows = spark.table("graft_lake.gen1").orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq === Seq((1L, "unknown", 10L, 20L), (2L, "unknown", 20L, 40L),
      (3L, "crawl", 30L, 60L)))
    // an explicit CORRECT generated value passes; a wrong one aborts
    spark.sql("INSERT INTO graft_lake.gen1 (id, n, n2) VALUES (4, 40, 80)")
    assert(spark.table("graft_lake.gen1").count() === 4L)
    val vBefore = GraftLake.latestVersion("graft_lake.gen1")
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft_lake.gen1 (id, n, n2) VALUES (5, 50, 999)")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("GENERATED ALWAYS AS")))
    assert(GraftLake.latestVersion("graft_lake.gen1") === vBefore) // nothing committed
    // the metadata (and so the derived specs) survive a cold replay
    LakeStore.invalidateCache("graft_lake.gen1")
    spark.sql("INSERT INTO graft_lake.gen1 (id, n) VALUES (6, 60)")
    assert(spark.table("graft_lake.gen1").filter(col("id") === 6L)
      .collect().head.getLong(3) === 120L)
  }

  test("p45/identity columns assign unique stepped values and reject explicit inserts") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.idt")
    spark.sql("""CREATE TABLE graft_lake.idt (
                |  row_id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1000 INCREMENT BY 2),
                |  payload BIGINT
                |)""".stripMargin)
    import spark.implicits._
    (0L until 50L).toDF("payload").writeTo("graft_lake.idt").append()
    (50L until 80L).toDF("payload").writeTo("graft_lake.idt").append()
    val ids = spark.table("graft_lake.idt").select("row_id")
      .collect().map(_.getLong(0))
    assert(ids.length === 80 && ids.distinct.length === 80) // unique
    assert(ids.forall(v => v >= 1000L && (v - 1000L) % 2 === 0L)) // start+step respected
    // second append's values sit above the first commit's high-water mark
    val st = LakeStore.get("graft_lake.idt").get
    val v1Max = st.filesAt(1).flatMap(_.zones.get("row_id"))
      .map(_._2.asInstanceOf[java.lang.Number].longValue()).max
    val v2Min = {
      st.addedAt(2)
        .flatMap(_.zones.get("row_id"))
        .map(_._1.asInstanceOf[java.lang.Number].longValue()).min
    }
    assert(v2Min > v1Max)
    // GENERATED ALWAYS: an explicit value is refused
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft_lake.idt (row_id, payload) VALUES (1, 99)")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.toLowerCase.contains("identity")))
  }

  test("p45/UPDATE recomputes generated columns and preserves identity values (COW + MoR)") {
    def arc(table: String, mor: Boolean): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS graft_lake.$table")
      spark.sql(s"""CREATE TABLE graft_lake.$table (
                   |  row_id BIGINT GENERATED ALWAYS AS IDENTITY,
                   |  n BIGINT,
                   |  n2 BIGINT GENERATED ALWAYS AS (n * 2)
                   |)${if (mor) " TBLPROPERTIES ('graft.merge-on-read' = 'true')" else ""}""".stripMargin)
      spark.sql(s"INSERT INTO graft_lake.$table (n) VALUES (10), (20), (30)")
      val before = spark.table(s"graft_lake.$table")
        .collect().map(r => (r.getLong(1), r.getLong(0))).toMap // n -> row_id
      // the dependency-changing UPDATE: n2 must FOLLOW, row_id must CARRY
      spark.sql(s"UPDATE graft_lake.$table SET n = n + 1 WHERE n >= 20")
      val after = spark.table(s"graft_lake.$table").orderBy(col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(after.map(t => (t._2, t._3)).toSeq === Seq((10L, 20L), (21L, 42L), (31L, 62L)))
      assert(after.find(_._2 == 21L).get._1 === before(20L)) // identity preserved
      assert(after.find(_._2 == 31L).get._1 === before(30L))
      // MERGE through the same path: updated rows recompute too
      spark.sql(s"""MERGE INTO graft_lake.$table t
                   |USING (SELECT 10L AS n, 100L AS add) s ON t.n = s.n
                   |WHEN MATCHED THEN UPDATE SET t.n = t.n + s.add""".stripMargin)
      val m = spark.table(s"graft_lake.$table").filter(col("n") === 110L).collect()
      assert(m.length === 1 && m(0).getLong(2) === 220L)
      assert(m(0).getLong(0) === before(10L))
    }
    arc("genup", mor = false) // copy-on-write rewrite
    arc("genupm", mor = true) // merge-on-read delta write
    // plain INSERT keeps the validate contract: a wrong explicit value aborts
    val e = intercept[Exception] {
      spark.sql("INSERT INTO graft_lake.genup (n, n2) VALUES (5, 999)")
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("GENERATED ALWAYS AS")))
  }

  // --------------------------------------------------- p46 z-order

  test("p46/z-order tiles scan fewer files than 1-D clustering for a 2-D box") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.grid")
    spark.sql("CREATE TABLE graft_lake.grid (x BIGINT, y BIGINT)")
    import spark.implicits._
    // uniform 256x256 grid: every (x, y) once
    spark.range(0L, 65536L)
      .select((col("id") % 256L).as("x"), (col("id") / 256L).as("y"))
      .writeTo("graft_lake.grid").append()
    def box() = spark.table("graft_lake.grid")
      .filter(col("x") >= 64L && col("x") <= 127L && col("y") >= 64L && col("y") <= 127L)
      .count()
    // 1-D layout: clustered on x alone, 64 files
    GraftLake.optimize(spark, "graft_lake.grid", "x", 64)
    assert(box() === 4096L)
    val xStats = LakeStore.lastScanStats("graft_lake.grid")
    // 2-D layout: z-order tiles over (x, y), 64 files
    GraftLake.optimize(spark, "graft_lake.grid", Seq("x", "y"), 64)
    assert(box() === 4096L) // layout rewrite changed no data
    val zStats = LakeStore.lastScanStats("graft_lake.grid")
    // the aligned quadrant is ~1/16 of the z-space but 1/4 of the x
    // range: tiles must beat slabs decisively (q94 measured 5 vs 17)
    assert(zStats.filesScanned < xStats.filesScanned,
      s"zorder ${zStats.filesScanned} !< xsort ${xStats.filesScanned}")
    assert(zStats.filesTotal === 64 && xStats.filesTotal === 64)
  }

  // ----------------------------------------------------- p48 blooms

  test("p48/bloom filters skip equality probes zones cannot, survive cold replay") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.blm")
    spark.sql("""CREATE TABLE graft_lake.blm (id BIGINT, v BIGINT)
                |TBLPROPERTIES ('graft.bloom.columns' = 'id')""".stripMargin)
    import spark.implicits._
    (0 until 4).foreach { slice => // ids interleave: every file spans 0..399
      (0L until 400L).filter(_ % 4 === slice).map(i => (i, i)).toDF("id", "v")
        .coalesce(1).writeTo("graft_lake.blm").append()
    }
    // a present id: zones keep all 4 files, the bloom opens exactly 1
    assert(spark.table("graft_lake.blm").filter(col("id") === 41L).count() === 1L)
    val hit = LakeStore.lastScanStats("graft_lake.blm")
    assert(hit.filesTotal === 4 && hit.filesScanned === 1)
    // an ABSENT id inside every zone envelope: blooms skip everything
    assert(spark.table("graft_lake.blm").filter(col("id") === 9999999L).count() === 0L)
    // (9999999 is outside the zones too — use an in-range absent value)
    spark.sql("DELETE FROM graft_lake.blm WHERE id = 200")
    assert(spark.table("graft_lake.blm").filter(col("id") === 200L).count() === 0L)
    // blooms ride the manifest through a cold replay
    LakeStore.invalidateCache("graft_lake.blm")
    val st = LakeStore.get("graft_lake.blm").get
    assert(st.current.forall(_.blooms.contains("id")))
    assert(spark.table("graft_lake.blm").filter(col("id") === 41L).count() === 1L)
    assert(LakeStore.lastScanStats("graft_lake.blm").filesScanned === 1)
  }

  // ------------------------------------------------- st16 change feed

  test("st16/feed equals the batch changes() replay, commit by commit") {
    val got = operators.StreamingQueries.st16StreamChangeFeed(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // independent batch-side replay off the finished table history
    val st = LakeStore.get("graft_lake.cdf_src").get
    val batch = (1 to st.latestVersion).flatMap { v =>
      if (!st.snapshots(v).dataChange) Nil
      else GraftLake.changes(spark, "graft_lake.cdf_src", v - 1, v, "doc_id")
        .groupBy(col("change"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("s"))
        .collect().map(r => (v.toLong, r.getString(0), r.getLong(1), r.getLong(2)))
    }.toSet
    assert(got === batch)
    assert(got.map(_._1) === Set(1L, 2L, 3L, 5L)) // v4 OPTIMIZE delivered nothing
  }

  test("change feed nets copy-on-write carry-over to exactly the batch diff") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.cowfeed")
    spark.sql("""CREATE TABLE graft_lake.cowfeed
                |(id BIGINT, grp BIGINT, v BIGINT) PARTITIONED BY (grp)""".stripMargin)
    import spark.implicits._
    (0L until 40L).map(i => (i, i % 4, i)).toDF("id", "grp", "v")
      .repartition(col("grp")).writeTo("graft_lake.cowfeed").append() // v1
    // COW UPDATE: rewrites grp=2's whole file; 3 rows change, 7 carry over
    spark.sql("UPDATE graft_lake.cowfeed SET v = v + 1000 WHERE grp = 2 AND id < 12") // v2
    val feed = spark.read.option("startingVersion", "2")
      .table("graft_lake.cowfeed.changes")
    // raw feed is file-granular: grp=2's 10 rows appear as D and as I
    assert(feed.filter(col("_change") === "I").count() === 10L)
    assert(feed.filter(col("_change") === "D").count() === 10L)
    // netting per key recovers exactly the row-level diff
    val net = feed.groupBy(col("id"))
      .agg(max(when(col("_change") === "I", col("v"))).as("post"),
        max(when(col("_change") === "D", col("v"))).as("pre"))
      .withColumn("change",
        when(col("post").isNotNull && col("pre").isNotNull &&
          !(col("post") <=> col("pre")), lit("U"))
          .when(col("post").isNotNull && col("pre").isNull, lit("I"))
          .when(col("post").isNull && col("pre").isNotNull, lit("D")))
      .filter(col("change").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val batch = GraftLake.changes(spark, "graft_lake.cowfeed", 1, 2, "id")
      .collect().map(r => r.getLong(0) -> r.getString(r.length - 1)).toMap
    assert(net === batch)
    assert(net === Map(2L -> "U", 6L -> "U", 10L -> "U")) // grp=2 ids under 12
  }

  test("batch changes table honors startingVersion/endingVersion and the vacuum gate") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.chrange")
    spark.sql("CREATE TABLE graft_lake.chrange (id BIGINT)")
    import spark.implicits._
    Seq(1L, 2L).toDF("id").writeTo("graft_lake.chrange").append() // v1
    Seq(3L).toDF("id").writeTo("graft_lake.chrange").append() // v2
    Seq(4L).toDF("id").writeTo("graft_lake.chrange").append() // v3
    val all = spark.read.table("graft_lake.chrange.changes")
    assert(all.count() === 4L)
    val ranged = spark.read
      .option("startingVersion", "2").option("endingVersion", "2")
      .table("graft_lake.chrange.changes")
    assert(ranged.select("id").collect().map(_.getLong(0)).toSeq === Seq(3L))
    GraftLake.vacuum("graft_lake.chrange", retainLast = 1, graceMs = 0L)
    val e = intercept[Exception] {
      spark.read.option("startingVersion", "1")
        .table("graft_lake.chrange.changes").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null && c.getMessage.contains("vacuumed")))
  }

  test("CDF stream checkpoint delivers each commit exactly once across runs") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.cdfresume")
    spark.sql("""CREATE TABLE graft_lake.cdfresume (id BIGINT, v BIGINT)
                |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    import spark.implicits._
    val ck = java.nio.file.Files.createTempDirectory("graft-cdfresume-").toString
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
    def drain(): Unit = {
      val q = spark.readStream.table("graft_lake.cdfresume.changes")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.collect().foreach(r =>
            buf.add((r.getLong(3), r.getString(2), r.getLong(0))))
          ()
        }
        .option("checkpointLocation", s"$ck/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    (1L to 3L).map(i => (i, i)).toDF("id", "v").writeTo("graft_lake.cdfresume").append() // v1
    drain()
    spark.sql("DELETE FROM graft_lake.cdfresume WHERE id = 2") // v2: MoR positions
    drain() // must deliver ONLY the deletion, nothing re-delivered
    import scala.jdk.CollectionConverters._
    val got = buf.iterator().asScala.toSeq.sorted
    assert(got === Seq((1L, "I", 1L), (1L, "I", 2L), (1L, "I", 3L), (2L, "D", 2L)))
  }

  // ------------------------------ p49 overwrite modes / st17 sink

  test("p49/SQL INSERT OVERWRITE PARTITION swaps exactly the named partition") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.povr2")
    spark.sql("CREATE TABLE graft_lake.povr2 (id BIGINT, grp STRING) PARTITIONED BY (grp)")
    import spark.implicits._
    (0L until 30L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
      .repartition(col("grp")).writeTo("graft_lake.povr2").append()
    val before = LakeStore.get("graft_lake.povr2").get
      .current.map(f => f.group -> f.path).toMap
    spark.sql("""INSERT OVERWRITE graft_lake.povr2 PARTITION (grp = 'g1')
                |SELECT id + 100 FROM VALUES (1L), (2L) AS t(id)""".stripMargin)
    val st = LakeStore.get("graft_lake.povr2").get
    val after = st.current.map(f => f.group -> f.path).toMap
    assert(after(List("g0")) === before(List("g0"))) // untouched files live
    assert(after(List("g2")) === before(List("g2")))
    assert(after(List("g1")) !== before(List("g1")))
    val g1 = spark.table("graft_lake.povr2").filter(col("grp") === "g1")
      .select("id").collect().map(_.getLong(0)).sorted
    assert(g1.toSeq === Seq(101L, 102L))
    assert(spark.table("graft_lake.povr2").count() === 22L) // 20 kept + 2 new
  }

  test("st17/a committed epoch replay is recognized and dropped (exactly-once)") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.epochx")
    spark.sql("CREATE TABLE graft_lake.epochx (id BIGINT)")
    def entry(p: String) = LakeStore.FileEntry(p, Nil, 1L, Seq("id"),
      Map("id" -> ((1L: Any, 1L: Any))))
    assert(LakeStore.appendEpoch("graft_lake.epochx", Seq(entry("a.parquet")), "q1", 0L))
    // the engine retries epoch 0 after a crash: must be refused
    assert(!LakeStore.appendEpoch("graft_lake.epochx", Seq(entry("b.parquet")), "q1", 0L))
    assert(LakeStore.appendEpoch("graft_lake.epochx", Seq(entry("c.parquet")), "q1", 1L))
    // a DIFFERENT query's epoch numbering is independent
    assert(LakeStore.appendEpoch("graft_lake.epochx", Seq(entry("d.parquet")), "q2", 0L))
    val st = LakeStore.get("graft_lake.epochx").get
    assert(st.current.map(_.path).toSet === Set("a.parquet", "c.parquet", "d.parquet"))
    // the epoch high-water marks survive a cold replay
    LakeStore.invalidateCache("graft_lake.epochx")
    assert(!LakeStore.appendEpoch("graft_lake.epochx", Seq(entry("e.parquet")), "q1", 1L))
  }

  // --------------------------------------- partitions metadata table

  test("<table>.partitions reports the live group footprint incl. deletion vectors") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.pmeta")
    spark.sql("""CREATE TABLE graft_lake.pmeta (id BIGINT, grp STRING, v BIGINT)
                |PARTITIONED BY (grp)
                |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    import spark.implicits._
    (0L until 30L).map(i => (i, s"g${i % 3}", i)).toDF("id", "grp", "v")
      .repartition(col("grp")).writeTo("graft_lake.pmeta").append()
    spark.sql("DELETE FROM graft_lake.pmeta WHERE grp = 'g1' AND id < 10") // MoR positions
    val got = spark.sql(
      """SELECT partition, n_files, rows, dv_rows
        |FROM graft_lake.pmeta.partitions ORDER BY partition""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      ("grp=g0", 1L, 10L, 0L),
      ("grp=g1", 1L, 10L, 3L), // ids 1, 4, 7 hidden by the MoR delete
      ("grp=g2", 1L, 10L, 0L)))
  }

  // ------------------------------------------- p51 column mapping

  test("p51/RENAME COLUMN: physical names stable, guarded renames refused, cold replay exact") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.ren2")
    spark.sql("""CREATE TABLE graft_lake.ren2 (id BIGINT, grp STRING, v BIGINT)
                |PARTITIONED BY (grp)""".stripMargin)
    import spark.implicits._
    (0L until 20L).map(i => (i, s"g${i % 2}", i)).toDF("id", "grp", "v")
      .writeTo("graft_lake.ren2").append()
    spark.sql("ALTER TABLE graft_lake.ren2 RENAME COLUMN v TO score") // rename once
    spark.sql("ALTER TABLE graft_lake.ren2 RENAME COLUMN score TO points") // and again
    // double rename keeps the ORIGINAL physical name
    val f = LakeStore.get("graft_lake.ren2").get.schema("points")
    assert(LakeStore.physicalName(f) === "v")
    // reads, filters (zone-mapped), and row-level writes all work by the new name
    assert(spark.table("graft_lake.ren2").filter(col("points") >= 10L).count() === 10L)
    spark.sql("UPDATE graft_lake.ren2 SET points = points + 100 WHERE grp = 'g1'")
    assert(spark.table("graft_lake.ren2").filter(col("points") >= 100L).count() === 10L)
    // rewritten files STILL store the birth name
    assert(LakeStore.get("graft_lake.ren2").get.current.forall(_.cols.contains("v")))
    // partition-column rename is refused
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.ren2 RENAME COLUMN grp TO bucket")
    }
    assert(e1.getMessage.contains("partition column"))
    // a rename breaking a stored CHECK constraint is refused
    spark.sql("""ALTER TABLE graft_lake.ren2 SET TBLPROPERTIES (
                |  'graft.constraints.pos' = 'points >= 0')""".stripMargin)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.ren2 RENAME COLUMN points TO score2")
    }
    assert(e2.getMessage.contains("constraint"))
    // the mapping survives a cold log replay
    LakeStore.invalidateCache("graft_lake.ren2")
    assert(spark.table("graft_lake.ren2").filter(col("points") >= 100L).count() === 10L)
    assert(LakeStore.physicalName(
      LakeStore.get("graft_lake.ren2").get.schema("points")) === "v")
  }

  test("changes() spans a RENAME COLUMN boundary without phantom updates") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.rendiff")
    spark.sql("CREATE TABLE graft_lake.rendiff (id BIGINT, v BIGINT)")
    import spark.implicits._
    (1L to 5L).map(i => (i, i * 10L)).toDF("id", "v")
      .writeTo("graft_lake.rendiff").append() // v1
    spark.sql("ALTER TABLE graft_lake.rendiff RENAME COLUMN v TO score") // v2
    spark.sql("UPDATE graft_lake.rendiff SET score = 999 WHERE id = 3") // v3
    // the diff spans the rename: column identity is the PHYSICAL name,
    // so only the genuinely updated row surfaces
    val ch = GraftLake.changes(spark, "graft_lake.rendiff", 1, 3, "id")
      .select(col("id"), col("change")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(ch.toSeq === Seq((3L, "U")))
  }

  // ---------------------------------------------- TIMESTAMP AS OF

  test("TIMESTAMP AS OF resolves against the commit log's own clock") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.tsx")
    val t0 = System.currentTimeMillis()
    spark.sql("CREATE TABLE graft_lake.tsx (id BIGINT)")
    import spark.implicits._
    Seq(1L, 2L).toDF("id").writeTo("graft_lake.tsx").append() // v1
    Thread.sleep(1100)
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(1100)
    Seq(3L).toDF("id").writeTo("graft_lake.tsx").append() // v2
    def fmt(ms: Long): String =
      java.time.Instant.ofEpochMilli(ms).toString.replace("T", " ").stripSuffix("Z")
    // the instant between the commits sees v1 only
    assert(spark.sql(
      s"SELECT count(*) FROM graft_lake.tsx TIMESTAMP AS OF '${fmt(afterV1)}'")
      .collect().head.getLong(0) === 2L)
    // now sees v2
    assert(spark.sql(
      s"SELECT count(*) FROM graft_lake.tsx TIMESTAMP AS OF '${fmt(System.currentTimeMillis() + 1000)}'")
      .collect().head.getLong(0) === 3L)
    // before the table existed: refused loudly
    val e = intercept[Exception] {
      spark.sql(
        s"SELECT * FROM graft_lake.tsx TIMESTAMP AS OF '${fmt(t0 - 60000)}'").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("no snapshot")))
  }

  // ------------------------------------------------ p50 procedures

  test("p50/CALL procedures: clone + set_partition_spec + listing + unknown-name error") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.proc_clone")
    spark.sql("DROP TABLE IF EXISTS graft_lake.proc_src")
    spark.sql("CREATE TABLE graft_lake.proc_src (id BIGINT, grp STRING)")
    import spark.implicits._
    (0L until 12L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
      .writeTo("graft_lake.proc_src").append()
    // CALL clone: zero-copy fork, result row = referenced file count
    val cl = spark.sql(
      "CALL graft_lake.system.clone(source => 'proc_src', target => 'proc_clone')")
      .collect()(0)
    assert(cl.getLong(0) >= 1L)
    assert(spark.table("graft_lake.proc_clone").count() === 12L)
    // CALL set_partition_spec: evolution as SQL, result row pins the spec
    val sp = spark.sql(
      "CALL graft_lake.system.set_partition_spec(tbl => 'proc_clone', cols => 'grp')")
      .collect()(0)
    assert(sp.getString(1) === "grp")
    assert(LakeStore.get("graft_lake.proc_clone").get.partitionCols === Seq("grp"))
    // positional invocation works too
    val vac = spark.sql("CALL graft_lake.system.vacuum('proc_src', 1, 0L)").collect()(0)
    assert(vac.getLong(0) === 0L) // nothing unreferenced yet
    // SHOW PROCEDURES surfaces the roster
    val listed = spark.sql("SHOW PROCEDURES IN graft_lake").collect()
      .map(_.toString).mkString(",")
    graft.sources.LakeProcedures.Names.foreach(n => assert(listed.contains(n)))
    // unknown procedure fails loudly with the roster in the message
    val e = intercept[Exception] {
      spark.sql("CALL graft_lake.system.explode_table(tbl => 'proc_src')").collect()
    }
    // Spark wraps the catalog's refusal as FAILED_TO_LOAD_ROUTINE
    assert(e.getMessage.toLowerCase.contains("failed to load routine") ||
      e.getMessage.contains("unknown procedure"))
  }

  // ---------------------------------- MoR update-representation toggle

  test("update-as-delete+insert toggle lands identically to single-op updates") {
    def run(table: String, toggle: Boolean): (Seq[(Long, Long)], Long) = {
      spark.sql(s"DROP TABLE IF EXISTS graft_lake.$table")
      val props = "'graft.merge-on-read' = 'true'" +
        (if (toggle) ", 'graft.update-as-delete-insert' = 'true'" else "")
      spark.sql(s"CREATE TABLE graft_lake.$table (id BIGINT, v BIGINT) " +
        s"TBLPROPERTIES ($props)")
      import spark.implicits._
      (0L until 20L).map(i => (i, i)).toDF("id", "v")
        .writeTo(s"graft_lake.$table").append()
      spark.sql(s"UPDATE graft_lake.$table SET v = v + 100 WHERE id % 5 = 0")
      val rows = spark.table(s"graft_lake.$table").orderBy("id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val dvRows = LakeStore.get(s"graft_lake.$table").get.deletes.map(_.rows).sum
      (rows, dvRows)
    }
    val (a, dvA) = run("morupd_a", toggle = false)
    val (b, dvB) = run("morupd_b", toggle = true)
    assert(a === b) // identical final state under both planning modes
    assert(dvA === 4L && dvB === 4L) // same position-delete footprint
  }

  // ------------------------------------------ streaming retention gate

  test("a stream resuming below the VACUUM horizon fails with the retention message") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.stvac")
    spark.sql("CREATE TABLE graft_lake.stvac (id BIGINT)")
    import spark.implicits._
    Seq(1L, 2L).toDF("id").writeTo("graft_lake.stvac").append() // v1
    Seq(3L).toDF("id").writeTo("graft_lake.stvac").append() // v2
    Seq(4L).toDF("id").writeTo("graft_lake.stvac").append() // v3
    GraftLake.vacuum("graft_lake.stvac", retainLast = 1, graceMs = 0L)
    val ck = java.nio.file.Files.createTempDirectory("graft-stvac-").toString
    val e = intercept[Exception] {
      val q = spark.readStream.table("graft_lake.stvac")
        .writeStream.format("noop")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.getMessage != null && c.getMessage.contains("vacuumed")))
  }

  // ------------------------------------------- p52 drop column

  test("p52/DROP COLUMN: metadata-only, re-ADD reads null, guards, cold replay") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.drp2")
    spark.sql("""CREATE TABLE graft_lake.drp2 (id BIGINT, grp STRING, v BIGINT)
                |PARTITIONED BY (grp)""".stripMargin)
    import spark.implicits._
    (0L until 20L).map(i => (i, s"g${i % 2}", i + 1000L)).toDF("id", "grp", "v")
      .writeTo("graft_lake.drp2").append() // v1
    val preDropPaths = LakeStore.get("graft_lake.drp2").get.current.map(_.path).toSet
    spark.sql("ALTER TABLE graft_lake.drp2 DROP COLUMN v") // v2: metadata-only
    val st2 = LakeStore.get("graft_lake.drp2").get
    assert(st2.current.map(_.path).toSet === preDropPaths) // zero files moved
    assert(!st2.schema.fieldNames.contains("v"))
    assert(st2.current.forall(_.cols.contains("v"))) // bytes still there
    // re-ADD binds a FRESH physical name — stale bytes are NOT resurrected
    spark.sql("ALTER TABLE graft_lake.drp2 ADD COLUMN v BIGINT") // v3
    val f = LakeStore.get("graft_lake.drp2").get.schema("v")
    assert(LakeStore.physicalName(f) !== "v")
    assert(spark.table("graft_lake.drp2").filter(col("v").isNotNull).count() === 0L)
    Seq((100L, "g0", 7L)).toDF("id", "grp", "v").writeTo("graft_lake.drp2").append() // v4
    assert(spark.table("graft_lake.drp2").agg(sum(col("v"))).collect()(0).getLong(0) === 7L)
    // time travel to the pre-drop era still reads the ORIGINAL values
    assert(spark.sql("SELECT sum(v) FROM graft_lake.drp2 VERSION AS OF 1")
      .collect()(0).getLong(0) === (1000L until 1020L).sum)
    // guards: partition column, constraint-referenced column, last column
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.drp2 DROP COLUMN grp")
    }
    assert(e1.getMessage.contains("partition column"))
    spark.sql("""ALTER TABLE graft_lake.drp2 SET TBLPROPERTIES (
                |  'graft.constraints.idpos' = 'id >= 0')""".stripMargin)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.drp2 DROP COLUMN id")
    }
    assert(e2.getMessage.contains("constraint"))
    // cold replay keeps the drop, the fresh mapping, and the null padding
    LakeStore.invalidateCache("graft_lake.drp2")
    assert(spark.table("graft_lake.drp2").filter(col("v").isNotNull).count() === 1L)
    assert(LakeStore.physicalName(
      LakeStore.get("graft_lake.drp2").get.schema("v")) !== "v")
  }

  test("ADD COLUMN colliding with a renamed column's birth name gets a fresh physical name") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.radd")
    spark.sql("CREATE TABLE graft_lake.radd (id BIGINT, v BIGINT)")
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").writeTo("graft_lake.radd").append()
    spark.sql("ALTER TABLE graft_lake.radd RENAME COLUMN v TO score") // physical stays "v"
    spark.sql("ALTER TABLE graft_lake.radd ADD COLUMN v BIGINT") // must NOT claim physical "v"
    val st = LakeStore.get("graft_lake.radd").get
    assert(LakeStore.physicalName(st.schema("score")) === "v")
    assert(LakeStore.physicalName(st.schema("v")) !== "v")
    // score still reads the original bytes; the new v reads null
    val r = spark.table("graft_lake.radd")
      .agg(sum(col("score")), count(col("v"))).collect()(0)
    assert(r.getLong(0) === 30L && r.getLong(1) === 0L)
  }

  // ------------------------------------------- p53 log checkpoints

  test("p53/log checkpoint bounds cold replay, keeps fidelity, and is never load-bearing") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.ck2")
    spark.sql("""CREATE TABLE graft_lake.ck2 (id BIGINT, grp STRING)
                |PARTITIONED BY (grp)
                |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    import spark.implicits._
    (1 to 12).foreach { i =>
      Seq((i.toLong, s"g${i % 3}")).toDF("id", "grp").writeTo("graft_lake.ck2").append()
    } // v1..v12: checkpoint at v10
    spark.sql("DELETE FROM graft_lake.ck2 WHERE id = 3") // v13: MoR delete state
    LakeStore.invalidateCache("graft_lake.ck2")
    assert(spark.table("graft_lake.ck2").count() === 11L) // cold replay incl. DVs
    val rs = LakeStore.lastReplayStats("graft_lake.ck2")
    assert(rs.checkpoint === Some(10) && rs.entriesParsed === 3) // v11..v13 tail
    // fidelity BELOW the checkpoint: time travel + history both exact
    assert(spark.sql("SELECT count(*) FROM graft_lake.ck2 VERSION AS OF 4")
      .collect()(0).getLong(0) === 4L)
    assert(spark.table("graft_lake.ck2.history").count() === 14L)
    // the checkpoint is derived data: destroy it and replay falls back to
    // the full log with identical results
    val logDir = new java.io.File(s"${LakeStore.tableDir("graft_lake.ck2")}/_log")
    logDir.listFiles().filter(f => f.getName.endsWith(".checkpoint.json") ||
      f.getName == "_last_checkpoint").foreach(f => assert(f.delete()))
    LakeStore.invalidateCache("graft_lake.ck2")
    assert(spark.table("graft_lake.ck2").count() === 11L)
    val rs2 = LakeStore.lastReplayStats("graft_lake.ck2")
    assert(rs2.checkpoint === None && rs2.entriesParsed === 14)
  }

  test("a newer checkpoint garbage-collects the superseded one") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.ckgc")
    spark.sql("CREATE TABLE graft_lake.ckgc (id BIGINT)")
    import spark.implicits._
    (1 to 21).foreach { i =>
      Seq(i.toLong).toDF("id").writeTo("graft_lake.ckgc").append()
    } // v1..v21: checkpoints at v10 and v20
    val logDir = new java.io.File(s"${LakeStore.tableDir("graft_lake.ckgc")}/_log")
    val cps = logDir.listFiles().map(_.getName).filter(_.endsWith(".checkpoint.json"))
    assert(cps.length === 1 && cps.head.contains("20")) // v10's copy swept
    LakeStore.invalidateCache("graft_lake.ckgc")
    assert(spark.table("graft_lake.ckgc").count() === 21L)
    assert(LakeStore.lastReplayStats("graft_lake.ckgc") ===
      LakeStore.ReplayStats(Some(20), 1))
  }

  test("checkpointed replay preserves partition-evolution eras and column mapping") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.ck3")
    spark.sql("""CREATE TABLE graft_lake.ck3 (id BIGINT, grp STRING, day BIGINT)
                |PARTITIONED BY (grp)""".stripMargin)
    import spark.implicits._
    (0L until 10L).map(i => (i, s"g${i % 2}", i % 5)).toDF("id", "grp", "day")
      .writeTo("graft_lake.ck3").append() // v1: grp-era files (String keys)
    graft.sources.GraftLake.setPartitionSpec("graft_lake.ck3", Seq("day")) // v2
    (10L until 20L).map(i => (i, s"g${i % 2}", i % 5)).toDF("id", "grp", "day")
      .writeTo("graft_lake.ck3").append() // v3: day-era files (Long keys)
    spark.sql("ALTER TABLE graft_lake.ck3 RENAME COLUMN id TO rid") // v4
    (1 to 7).foreach { i => // v5..v11: push past the v10 checkpoint
      Seq((100L + i, "gx", 9L)).toDF("rid", "grp", "day")
        .writeTo("graft_lake.ck3").append()
    }
    LakeStore.invalidateCache("graft_lake.ck3")
    val st = LakeStore.get("graft_lake.ck3").get
    assert(LakeStore.lastReplayStats("graft_lake.ck3").checkpoint === Some(10))
    // mixed-era group keys decoded with their OWN types through the tags
    val groups = st.current.map(_.group).toSet
    assert(groups.exists(_ == List("g0")) && groups.exists(_ == List(9L)))
    // column mapping survived: rid still reads physical "v"-style birth name
    assert(LakeStore.physicalName(st.schema("rid")) === "id")
    assert(spark.table("graft_lake.ck3").filter(col("rid") < 10L).count() === 10L)
    // zone pruning on the evolved spec still works post-checkpoint-replay
    assert(spark.table("graft_lake.ck3").filter(col("day") === 9L).count() === 7L)
  }

  // ------------------------------- change feed through a shallow clone

  test("a shallow CLONE serves its own change feed (absolute refs, source DVs)") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.cdfsrc")
    spark.sql("DROP TABLE IF EXISTS graft_lake.cdfclone")
    spark.sql("""CREATE TABLE graft_lake.cdfsrc (id BIGINT, v BIGINT)
                |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    import spark.implicits._
    (1L to 10L).map(i => (i, i * 10L)).toDF("id", "v")
      .writeTo("graft_lake.cdfsrc").append()
    spark.sql("DELETE FROM graft_lake.cdfsrc WHERE id <= 2") // MoR DVs travel with the clone
    graft.sources.GraftLake.shallowClone("graft_lake.cdfsrc", "graft_lake.cdfclone")
    // the clone's own feed: one clone commit inserting its LIVE rows
    val feed = spark.read.option("startingVersion", "1")
      .table("graft_lake.cdfclone.changes")
    val rows = feed.select(col("id"), col("_change"), col("_commit_version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
    assert(rows.toSeq === (3L to 10L).map(i => (i, "I", 1L)))
    // post-clone commits keep feeding independently of the source
    spark.sql("DELETE FROM graft_lake.cdfclone WHERE id = 5")
    val d = spark.read.option("startingVersion", "2")
      .table("graft_lake.cdfclone.changes")
      .select(col("id"), col("_change")).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(d.toSeq === Seq((5L, "D")))
  }

  // ------------------------------- storage-partitioned join (SPJ)

  test("p54/SPJ: identically-partitioned lake tables join with zero exchanges") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.spja")
    spark.sql("DROP TABLE IF EXISTS graft_lake.spjb")
    spark.sql("""CREATE TABLE graft_lake.spja (id BIGINT, grp STRING, v BIGINT)
                |PARTITIONED BY (grp)""".stripMargin)
    spark.sql("""CREATE TABLE graft_lake.spjb (id BIGINT, grp STRING, w BIGINT)
                |PARTITIONED BY (grp)""".stripMargin)
    import spark.implicits._
    (0L until 30L).map(i => (i, s"g${i % 3}", i)).toDF("id", "grp", "v")
      .writeTo("graft_lake.spja").append()
    (0L until 30L).map(i => (i, s"g${i % 3}", i * 2)).toDF("id", "grp", "w")
      .writeTo("graft_lake.spjb").append()
    GraftSession.withConf(spark)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.graft.preserve-data-grouping" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = spark.table("graft_lake.spja").groupBy("grp")
        .agg(sum(col("v")).as("sv"))
      val b = spark.table("graft_lake.spjb").groupBy("grp")
        .agg(sum(col("w")).as("sw"))
      val j = a.join(b, "grp").orderBy("grp")
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }.length
      val rows = j.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val expect = (0 until 3).map { g =>
        val ids = (0L until 30L).filter(_ % 3 == g)
        (s"g$g", ids.sum, ids.map(_ * 2).sum)
      }
      assert(rows.toSeq === expect)
      // the whole agg+agg+join pipeline: ONE exchange nowhere — both
      // aggregations and the join run on the storage partitioning
      // (the final orderBy's range exchange is outside the join tree)
      val joinTreeExchanges = j.queryExecution.executedPlan.collect {
        case sj: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
          sj.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e }.length
      }
      assert(joinTreeExchanges.nonEmpty && joinTreeExchanges.forall(_ === 0),
        s"join subtree has exchanges (total in plan: $exchanges)")
      // and with the conf OFF, the same plan shuffles — the gate works
      GraftSession.withConf(spark)("spark.sql.sources.v2.bucketing.enabled" -> "false") {
        val off = spark.table("graft_lake.spja").groupBy("grp").agg(sum(col("v")))
          .join(spark.table("graft_lake.spjb").groupBy("grp").agg(sum(col("w"))), "grp")
        val offExchanges = off.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
        }.length
        assert(offExchanges > 0)
      }
    }
  }

  // ------------------------------------ p57 hidden partitioning

  test("p57/hidden partitioning: days(ts)+bucket(4,uid) derive groups, prune, and guard") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.hpart")
    spark.sql("""CREATE TABLE graft_lake.hpart (ev BIGINT, uid BIGINT, ts TIMESTAMP)
                |PARTITIONED BY (days(ts), bucket(4, uid))""".stripMargin)
    spark.sql("""INSERT INTO graft_lake.hpart VALUES
                |(1, 100, TIMESTAMP'2024-03-01 01:00:00'),
                |(2, 200, TIMESTAMP'2024-03-01 23:00:00'),
                |(3, 100, TIMESTAMP'2024-03-02 12:00:00'),
                |(4, 300, TIMESTAMP'2024-03-03 05:00:00')""".stripMargin)
    val st = LakeStore.get("graft_lake.hpart").get
    val groups = st.current.map(_.group)
    // derived keys: (epoch-day Int, bucket Int); 3 distinct days
    assert(groups.forall(g => g.length == 2 &&
      g.forall(_.isInstanceOf[java.lang.Integer])))
    assert(groups.map(_.head).distinct.length === 3)
    assert(groups.forall(g => g(1).asInstanceOf[Integer] >= 0 &&
      g(1).asInstanceOf[Integer] < 4))
    // bucket determinism: uid 100 landed the SAME bucket on both days
    val b100 = groups.zip(st.current).collect {
      case (g, f) if f.zones.get("uid").exists(_._1 == 100L) => g(1) }
    assert(b100.distinct.length === 1)
    // reads + SOURCE-column pruning: a one-day ts range opens one day's files
    assert(spark.table("graft_lake.hpart").count() === 4L)
    assert(spark.table("graft_lake.hpart")
      .filter(col("ts") >= lit("2024-03-03").cast("timestamp")).count() === 1L)
    val stats = LakeStore.lastScanStats("graft_lake.hpart")
    assert(stats.filesScanned < stats.filesTotal)
    // row-level statements runtime-prune on the SOURCE column: the UPDATE
    // must replace only the touched day's groups
    spark.sql("""UPDATE graft_lake.hpart SET ev = ev + 10
                |WHERE ts >= TIMESTAMP'2024-03-03 00:00:00'""".stripMargin)
    val replaced = LakeStore.lastReplacedGroups("graft_lake.hpart")
    val maxDay = groups.map(_.head.asInstanceOf[Integer].intValue()).max
    assert(replaced.isDefined && replaced.get.nonEmpty &&
      replaced.get.subsetOf(
        groups.filter(_.head.asInstanceOf[Integer].intValue() == maxDay).toSet))
    assert(spark.table("graft_lake.hpart").agg(sum(col("ev"))).collect()(0).getLong(0)
      === 1L + 2L + 3L + 14L)
    // filter-decided overwrite cannot decide derived groups: refused loudly
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((9L, 100L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00")))
        .toDF("ev", "uid", "ts").writeTo("graft_lake.hpart")
        .overwrite(col("uid") === 100L)
    }
    assert(e.getMessage.contains("hidden partitioning"))
    // renaming/dropping a transform's SOURCE column is refused
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.hpart RENAME COLUMN ts TO t2")
    }
    assert(e2.getMessage.contains("partition column"))
    // cold replay decodes the derived Integer keys exactly
    val warmGroups = LakeStore.get("graft_lake.hpart").get.current.map(_.group).toSet
    LakeStore.invalidateCache("graft_lake.hpart")
    assert(LakeStore.get("graft_lake.hpart").get.current.map(_.group).toSet === warmGroups)
    assert(spark.table("graft_lake.hpart").count() === 4L)
    assert(spark.table("graft_lake.hpart").filter(col("uid") === 100L).count() === 2L)
  }

  // ------------------------------------ column statistics

  test("scan statistics report zone-envelope column min/max after pushdown") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.cstat")
    spark.sql("CREATE TABLE graft_lake.cstat (id BIGINT, grp STRING, v BIGINT)")
    import spark.implicits._
    Seq((1L, "a", 100L), (2L, "a", 200L)).toDF("id", "grp", "v")
      .coalesce(1).writeTo("graft_lake.cstat").append()
    Seq((10L, "b", 900L), (11L, "b", 950L)).toDF("id", "grp", "v")
      .coalesce(1).writeTo("graft_lake.cstat").append()
    def statsOf(pushedMax: Option[Long]) = {
      val scan = new graft.sources.LakeScan("graft_lake.cstat",
        LakeStore.get("graft_lake.cstat").get.schema,
        pushed = pushedMax.map(m => new org.apache.spark.sql.connector.expressions.filter.Predicate(
          "<=", Array[org.apache.spark.sql.connector.expressions.Expression](
            org.apache.spark.sql.connector.expressions.Expressions.column("id"),
            org.apache.spark.sql.connector.expressions.Expressions.literal(m)))).toArray)
      scan.estimateStatistics()
    }
    val full = statsOf(None)
    assert(full.numRows().getAsLong === 4L)
    val byName = full.columnStats().entrySet().iterator()
    val m = new scala.collection.mutable.HashMap[String, (Any, Any)]()
    while (byName.hasNext) { val e = byName.next()
      m(e.getKey.fieldNames()(0)) = (e.getValue.min().get(), e.getValue.max().get()) }
    assert(m("id") === ((1L, 11L)) && m("v") === ((100L, 950L)))
    assert(!m.contains("grp")) // strings carry no estimator min/max
    // after pushdown the envelope narrows to the surviving files
    val pruned = statsOf(Some(5L))
    val it = pruned.columnStats().entrySet().iterator()
    val m2 = new scala.collection.mutable.HashMap[String, (Any, Any)]()
    while (it.hasNext) { val e = it.next()
      m2(e.getKey.fieldNames()(0)) = (e.getValue.min().get(), e.getValue.max().get()) }
    assert(pruned.numRows().getAsLong === 2L)
    assert(m2("v") === ((100L, 200L))) // second file's zones dropped out
  }

  // ------------------------------------ TRUNCATE TABLE

  test("TRUNCATE TABLE is one history-preserving commit; CDC sees the deletes") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.trnc")
    spark.sql("CREATE TABLE graft_lake.trnc (id BIGINT, v BIGINT)")
    import spark.implicits._
    (1L to 8L).map(i => (i, i * 10L)).toDF("id", "v").writeTo("graft_lake.trnc").append()
    spark.sql("TRUNCATE TABLE graft_lake.trnc")
    assert(spark.table("graft_lake.trnc").count() === 0L)
    val st = LakeStore.get("graft_lake.trnc").get
    assert(st.latestVersion === 2) // create, append, ONE truncate commit
    // history preserved: pre-truncate version still reads
    assert(spark.sql("SELECT count(*) FROM graft_lake.trnc VERSION AS OF 1")
      .collect()(0).getLong(0) === 8L)
    // the change feed sees 8 row-level deletes at v2
    val d = spark.read.option("startingVersion", "2")
      .table("graft_lake.trnc.changes")
      .select(col("id"), col("_change")).collect().map(r => (r.getLong(0), r.getString(1)))
    assert(d.sorted.toSeq === (1L to 8L).map(i => (i, "D")))
    // and the table keeps working after
    Seq((100L, 1L)).toDF("id", "v").writeTo("graft_lake.trnc").append()
    assert(spark.table("graft_lake.trnc").count() === 1L)
  }

  // ------------------------------------ p56 type widening

  test("p56/ALTER COLUMN TYPE widens losslessly: old narrow files read as the wide type") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.wide")
    spark.sql("""CREATE TABLE graft_lake.wide (id BIGINT, n INT, f FLOAT)
                |TBLPROPERTIES ('graft.bloom.columns' = 'n')""".stripMargin)
    spark.sql("INSERT INTO graft_lake.wide VALUES (1, 100, CAST(1.5 AS FLOAT)), (2, 200, CAST(2.5 AS FLOAT))")
    spark.sql("ALTER TABLE graft_lake.wide ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE graft_lake.wide ALTER COLUMN f TYPE DOUBLE")
    // new era writes wide; old files stay narrow on disk
    spark.sql("INSERT INTO graft_lake.wide VALUES (3, 3000000000, 3.5)")
    val rows = spark.table("graft_lake.wide").orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq === Seq((1L, 100L, 1.5), (2L, 200L, 2.5), (3L, 3000000000L, 3.5)))
    // zone pruning still skips across the width boundary
    assert(spark.table("graft_lake.wide").filter(col("n") === 3000000000L).count() === 1L)
    val stats = LakeStore.lastScanStats("graft_lake.wide")
    assert(stats.filesScanned < stats.filesTotal) // narrow-era file skipped by zones
    // bloom probes stay exact: integrals canonicalize to long bytes
    assert(spark.table("graft_lake.wide").filter(col("n") === 100L).count() === 1L)
    // narrowing is refused — Spark's analyzer rejects non-upcasts before
    // the catalog; the catalog's own whitelist guards the rest (it is
    // STRICTER than canUpCast: int->double would lose exactness)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_lake.wide ALTER COLUMN n TYPE INT")
    }
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN")
      || e.getMessage.contains("widening") || e.getMessage.contains("lossless"))
    // cold replay: the widened schema and mixed-width files still read
    LakeStore.invalidateCache("graft_lake.wide")
    assert(spark.table("graft_lake.wide").agg(sum(col("n"))).collect()(0).getLong(0)
      === 100L + 200L + 3000000000L)
  }

  // ------------------------------- staged CREATE / REPLACE (p55)

  test("p55/CREATE OR REPLACE TABLE: one atomic history-preserving commit, self-referencing") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.rep")
    spark.sql("CREATE TABLE graft_lake.rep (id BIGINT, v BIGINT)")
    import spark.implicits._
    (1L to 10L).map(i => (i, i)).toDF("id", "v").writeTo("graft_lake.rep").append()
    // REPLACE from a query over the table ITSELF — the staged files land
    // before the swap, so the scan still reads the pre-replace state
    spark.sql("""CREATE OR REPLACE TABLE graft_lake.rep PARTITIONED BY (grp)
                |AS SELECT id, v * 2 AS dv, CAST(id % 2 AS STRING) AS grp
                |FROM graft_lake.rep""".stripMargin)
    val st = LakeStore.get("graft_lake.rep").get
    assert(st.latestVersion === 2) // create, append, ONE replace commit
    assert(st.partitionCols === Seq("grp"))
    assert(st.schema.fieldNames.toSeq === Seq("id", "dv", "grp"))
    assert(spark.table("graft_lake.rep").agg(sum(col("dv"))).collect()(0).getLong(0)
      === 2L * (1L to 10L).sum)
    // history preserved: the pre-replace version still reads, OLD schema
    val v1 = spark.sql("SELECT * FROM graft_lake.rep VERSION AS OF 1")
    assert(v1.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(v1.agg(sum(col("v"))).collect()(0).getLong(0) === (1L to 10L).sum)
    // REPLACE of a missing table refuses; CREATE OR REPLACE creates
    val e = intercept[Exception] {
      spark.sql("REPLACE TABLE graft_lake.rep_missing AS SELECT 1L AS x")
    }
    assert(e.getMessage.toUpperCase.contains("TABLE_OR_VIEW_NOT_FOUND")
      || e.getMessage.toLowerCase.contains("not found")
      || e.getMessage.toLowerCase.contains("no such"))
    spark.sql("CREATE OR REPLACE TABLE graft_lake.rep_new AS SELECT 7L AS x")
    assert(spark.table("graft_lake.rep_new").collect()(0).getLong(0) === 7L)
    spark.sql("DROP TABLE graft_lake.rep_new")
  }

  test("p55/a failing staged REPLACE leaves the table untouched (atomicity)") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.rep2")
    spark.sql("CREATE TABLE graft_lake.rep2 (id BIGINT)")
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("id").writeTo("graft_lake.rep2").append()
    // the statement's OWN constraint is enforced on the staged write —
    // a violating row fails the job and aborts the staging
    intercept[Exception] {
      spark.sql("""CREATE OR REPLACE TABLE graft_lake.rep2
                  |TBLPROPERTIES ('graft.constraints.pos' = 'id >= 0')
                  |AS SELECT * FROM VALUES (5L), (-1L) AS t(id)""".stripMargin)
    }
    // pre-replace state fully intact: data, schema, version
    val st = LakeStore.get("graft_lake.rep2").get
    assert(st.latestVersion === 1)
    assert(spark.table("graft_lake.rep2").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L))
    // and a duplicate CTAS refuses instead of clobbering
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft_lake.rep2 AS SELECT 1L AS id")
    }
    assert(e.getMessage.toLowerCase.contains("already exists"))
  }

  // ------------------------------- st18 incremental CDC replication

  test("st18/CDC replication resumes from its checkpoint and applies only new commits") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.crsrc")
    spark.sql("DROP TABLE IF EXISTS graft_lake.crdst")
    spark.sql("""CREATE TABLE graft_lake.crsrc (id BIGINT, v BIGINT)
                |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    spark.sql("CREATE TABLE graft_lake.crdst (id BIGINT, v BIGINT)")
    import spark.implicits._
    val ck = java.nio.file.Files.createTempDirectory("graft-cdcrep-").toString
    def drain(): Unit = {
      val view = "crnet_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = spark.readStream.table("graft_lake.crsrc.changes")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val ss = batch.sparkSession
          import org.apache.spark.sql.expressions.Window
          batch.withColumn("maxv",
              max(col("_commit_version")).over(Window.partitionBy(col("id"))))
            .filter(col("_commit_version") === col("maxv"))
            .groupBy(col("id"))
            .agg(max(when(col("_change") === "I", struct(col("v")))).as("post"))
            .createOrReplaceTempView(view)
          ss.sql(s"""MERGE INTO graft_lake.crdst t USING $view s ON t.id = s.id
                    |WHEN MATCHED AND s.post IS NULL THEN DELETE
                    |WHEN MATCHED THEN UPDATE SET t.v = s.post.v
                    |WHEN NOT MATCHED AND s.post IS NOT NULL THEN
                    |  INSERT (id, v) VALUES (s.id, s.post.v)""".stripMargin)
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def assertReplicaEqual(): Unit = {
      val src = spark.table("graft_lake.crsrc").select("id", "v")
      val dst = spark.table("graft_lake.crdst").select("id", "v")
      assert(dst.exceptAll(src).count() === 0L && src.exceptAll(dst).count() === 0L)
    }
    (1L to 10L).map(i => (i, i)).toDF("id", "v").writeTo("graft_lake.crsrc").append()
    spark.sql("DELETE FROM graft_lake.crsrc WHERE id <= 2")
    drain(); assertReplicaEqual()
    val dstVersionAfterFirst = LakeStore.get("graft_lake.crdst").get.latestVersion
    // NEW commits after the first drain: update, delete, insert
    spark.sql("UPDATE graft_lake.crsrc SET v = v * 100 WHERE id = 5")
    spark.sql("DELETE FROM graft_lake.crsrc WHERE id = 7")
    Seq((20L, 20L)).toDF("id", "v").writeTo("graft_lake.crsrc").append()
    drain(); assertReplicaEqual()
    assert(spark.table("graft_lake.crdst").filter(col("id") === 5L)
      .collect()(0).getLong(1) === 500L)
    // incremental: the second drain added commits, it did not rebuild
    assert(LakeStore.get("graft_lake.crdst").get.latestVersion > dstVersionAfterFirst)
    // and a third drain with NOTHING new applies nothing
    val before = LakeStore.get("graft_lake.crdst").get.latestVersion
    drain()
    assert(LakeStore.get("graft_lake.crdst").get.latestVersion === before)
  }

  // ------------------------------- streaming sink onto MoR state

  test("the streaming sink appends cleanly onto live merge-on-read state") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.smor")
    spark.sql("DROP TABLE IF EXISTS graft_lake.smorsrc")
    spark.sql("""CREATE TABLE graft_lake.smor (id BIGINT, v BIGINT)
                |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    import spark.implicits._
    (1L to 10L).map(i => (i, i)).toDF("id", "v").writeTo("graft_lake.smor").append()
    spark.sql("DELETE FROM graft_lake.smor WHERE id <= 3") // live DVs
    spark.sql("CREATE TABLE graft_lake.smorsrc (id BIGINT, v BIGINT)")
    (11L to 15L).map(i => (i, i)).toDF("id", "v").writeTo("graft_lake.smorsrc").append()
    val ck = java.nio.file.Files.createTempDirectory("graft-smor-").toString
    val q = spark.readStream.table("graft_lake.smorsrc")
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft_lake.smor")
    q.awaitTermination()
    // merged read: 10 - 3 deleted + 5 streamed; the DVs survived the sink
    assert(spark.table("graft_lake.smor").count() === 12L)
    assert(LakeStore.get("graft_lake.smor").get.deletes.nonEmpty)
    assert(spark.table("graft_lake.smor").filter(col("id") <= 3L).count() === 0L)
  }
}
