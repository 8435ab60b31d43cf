package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sources.{GraftLake, LakeStore}

/** The FILE-BACKED lake substrate (round 9): parquet file groups + the
  * JSON commit log. What the in-memory-era suites could not prove and
  * this one does:
  *   - copy-on-write at FILE granularity: a partition-scoped MERGE
  *     removes only the touched groups' files from the live set and the
  *     untouched groups' files survive BY PATH (never rewritten);
  *   - removed files stay on disk — time travel reads them;
  *   - the commit LOG is the source of truth: dropping the warm cache
  *     and replaying the log reproduces the full snapshot history;
  *   - INSERT OVERWRITE (truncate capability) is a whole-table swap;
  *   - zone-map skipping works per FILE from manifest statistics.
  */
class LakeStoreSpec extends SparkTestBase {

  private def files(key: String): Map[List[Any], Seq[String]] =
    LakeStore.get(key).get.current.groupBy(_.group)
      .map { case (g, fs) => g -> fs.map(_.path).sorted.toSeq }

  test("partition-scoped MERGE touches only the touched groups' FILES") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.fcow")
    spark.sql(
      "CREATE TABLE graft_lake.fcow (id BIGINT, src STRING, v BIGINT) PARTITIONED BY (src)")
    import spark.implicits._
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "c", 40L))
      .toDF("id", "src", "v").repartition(col("src"))
      .writeTo("graft_lake.fcow").append()
    val before = files("graft_lake.fcow")
    assert(before.keySet === Set(List("a"), List("b"), List("c")))

    Seq((2L, "a", 21L)).toDF("id", "src", "v").createOrReplaceTempView("fcow_src")
    spark.sql("""MERGE INTO graft_lake.fcow t USING fcow_src s
                |ON t.id = s.id AND t.src = s.src
                |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)

    val after = files("graft_lake.fcow")
    // untouched partitions keep their EXACT files — never rewritten
    assert(after(List("b")) === before(List("b")))
    assert(after(List("c")) === before(List("c")))
    // the touched partition's file was swapped, not amended
    assert(after(List("a")) !== before(List("a")))
    // and the commit's file audit says exactly that
    val (removed, added) = LakeStore.lastReplacedFiles("graft_lake.fcow")
    assert(removed.toSet === before(List("a")).toSet)
    assert(added.toSet === after(List("a")).toSet)

    // the replaced file is still on disk: version 1 (pre-merge) reads it
    val v1 = spark.sql("SELECT * FROM graft_lake.fcow VERSION AS OF 1")
      .orderBy("id").collect().toSeq
    assert(v1 === Seq(Row(1L, "a", 10L), Row(2L, "a", 20L),
      Row(3L, "b", 30L), Row(4L, "c", 40L)))
  }

  test("the commit log is the source of truth: cold replay == warm cache") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.replay")
    spark.sql(
      "CREATE TABLE graft_lake.replay (id BIGINT, src STRING, v DOUBLE) PARTITIONED BY (src)")
    import spark.implicits._
    Seq((1L, "a", 1.5), (2L, "b", -2.0)).toDF("id", "src", "v")
      .writeTo("graft_lake.replay").append()
    spark.sql("UPDATE graft_lake.replay SET v = 0.0 WHERE src = 'a'")
    Seq((3L, "c", 9.0)).toDF("id", "src", "v").writeTo("graft_lake.replay").append()

    val warm = LakeStore.get("graft_lake.replay").get
    LakeStore.invalidateCache("graft_lake.replay")
    val cold = LakeStore.get("graft_lake.replay").get

    assert(cold.partitionCols === warm.partitionCols)
    assert(cold.snapshots.length === warm.snapshots.length)
    cold.snapshots.zip(warm.snapshots).zipWithIndex.foreach { case ((c, w), v) =>
      assert(c.schema === w.schema)
      assert(c.commitGroups === w.commitGroups)
      assert(c.dataChange === w.dataChange)
      // delta-encoded state: the replayed chain rebuilds the exact live
      // set AND the same materialization/paging shape the warm cache
      // maintained incrementally
      assert(c.live.isDefined === w.live.isDefined, s"materialization at v$v")
      assert(c.paged === w.paged, s"paging at v$v")
      assert(cold.filesAt(v).sortBy(_.path) === warm.filesAt(v).sortBy(_.path))
    }
    // and the replayed table still answers queries + time travel
    assert(spark.table("graft_lake.replay").orderBy("id").collect().toSeq ===
      Seq(Row(1L, "a", 0.0), Row(2L, "b", -2.0), Row(3L, "c", 9.0)))
    assert(spark.sql("SELECT v FROM graft_lake.replay VERSION AS OF 1 WHERE id = 1")
      .collect().head.getDouble(0) === 1.5)
  }

  test("INSERT OVERWRITE through the truncate capability swaps the whole table") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.ow")
    spark.sql("CREATE TABLE graft_lake.ow (id BIGINT, v BIGINT)")
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("id", "v").writeTo("graft_lake.ow").append()
    spark.sql("INSERT OVERWRITE graft_lake.ow VALUES (7, 70)")
    assert(spark.table("graft_lake.ow").collect().toSeq === Seq(Row(7L, 70L)))
    // versioned: the pre-overwrite snapshot is still readable
    assert(spark.sql("SELECT count(*) FROM graft_lake.ow VERSION AS OF 1")
      .collect().head.getLong(0) === 2L)
  }

  test("zone maps skip FILES from manifest statistics (never opening data)") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.zf")
    spark.sql("CREATE TABLE graft_lake.zf (id BIGINT, v BIGINT)")
    import spark.implicits._
    // three single-file commits with disjoint id ranges -> tight zones
    Seq.tabulate(3) { b =>
      (0 until 10).map(i => (b * 100L + i, i.toLong)).toDF("id", "v")
        .coalesce(1).writeTo("graft_lake.zf").append()
    }
    val got = spark.table("graft_lake.zf")
      .filter(col("id") >= 200L).agg(sum(col("v"))).collect().head.getLong(0)
    assert(got === 45L)
    val st = LakeStore.lastScanStats("graft_lake.zf")
    assert(st.filesTotal === 3)
    assert(st.filesScanned === 1) // only the [200, 209] file survives
    assert(st.rowsEmitted === 10L)
    // a fully-pruned count(*) is answered from manifest row counts: the
    // reader never opens parquet (exercise it for the row-count path)
    assert(spark.table("graft_lake.zf").count() === 30L)
  }

  test("delete-everything MERGE/DELETE leaves an empty live set but keeps history") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.purge")
    spark.sql("CREATE TABLE graft_lake.purge (id BIGINT)")
    import spark.implicits._
    Seq(1L, 2L, 3L).toDF("id").writeTo("graft_lake.purge").append()
    spark.sql("DELETE FROM graft_lake.purge WHERE id >= 0")
    assert(spark.table("graft_lake.purge").count() === 0L)
    assert(LakeStore.get("graft_lake.purge").get.current.isEmpty)
    assert(spark.sql("SELECT count(*) FROM graft_lake.purge VERSION AS OF 1")
      .collect().head.getLong(0) === 3L)
  }

  test("concurrent appends serialize into distinct versions with no lost update") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.conc")
    spark.sql("CREATE TABLE graft_lake.conc (id BIGINT)")
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = (0 until 4).map { w =>
      Future { (0 until 5).foreach { i =>
        Seq(w * 100L + i).toDF("id").writeTo("graft_lake.conc").append()
      } }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val st = LakeStore.get("graft_lake.conc").get
    assert(st.latestVersion === 20) // 20 commits, each its own version
    assert(spark.table("graft_lake.conc").count() === 20L) // none lost
    // every intermediate version is a readable, monotonically growing set
    val sizes = (0 to 20).map(v =>
      spark.sql(s"SELECT count(*) FROM graft_lake.conc VERSION AS OF $v")
        .collect().head.getLong(0))
    assert(sizes === (0L to 20L))
  }

  test("a log-entry rename collision fails the commit loudly (cross-process guard)") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.race")
    spark.sql("CREATE TABLE graft_lake.race (id BIGINT)")
    import spark.implicits._
    Seq(1L).toDF("id").writeTo("graft_lake.race").append() // v1
    // simulate another writer having claimed v2: pre-create its log entry
    val fs = new Path(GraftLake.commitLogDir("graft_lake.race"))
      .getFileSystem(new Configuration())
    val v2 = new Path(GraftLake.commitLogDir("graft_lake.race"), f"${2}%020d.json")
    fs.create(v2, false).close()
    intercept[Exception] {
      Seq(2L).toDF("id").writeTo("graft_lake.race").append()
    }
  }

  test("data files land under the table's data/ dir; log is one JSON per commit") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.layout")
    spark.sql("CREATE TABLE graft_lake.layout (id BIGINT)")
    import spark.implicits._
    Seq(1L).toDF("id").writeTo("graft_lake.layout").append()
    val fs = new Path(LakeStore.tableDir("graft_lake.layout"))
      .getFileSystem(new Configuration())
    val logs = fs.listStatus(new Path(GraftLake.commitLogDir("graft_lake.layout")))
      .map(_.getPath.getName).filter(_.endsWith(".json")).sorted
    assert(logs.length === 2) // v0 create + v1 append
    assert(logs.head === "00000000000000000000.json")
    val data = fs.listStatus(new Path(LakeStore.dataDir("graft_lake.layout")))
      .map(_.getPath.getName)
    assert(data.length === 1 && data.head.endsWith(".parquet"))
  }
}
