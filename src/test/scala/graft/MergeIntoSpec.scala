package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The SQL MERGE INTO surface (p29 + graft.sources.GraftLakeCatalog):
  * the catalog's read/write round-trip, each MERGE action kind, and the
  * independent relational replay of the full statement.
  */
class MergeIntoSpec extends SparkTestBase {

  test("lake catalog round-trips create + append + scan") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.rt")
    spark.sql("CREATE TABLE graft_lake.rt (id BIGINT, name STRING, score DOUBLE)")
    import spark.implicits._
    Seq((1L, "a", 1.5), (2L, "b", -2.0), (3L, null.asInstanceOf[String], 0.0))
      .toDF("id", "name", "score")
      .writeTo("graft_lake.rt").append()
    val got = spark.table("graft_lake.rt").orderBy("id").collect()
    assert(got.toSeq === Seq(Row(1L, "a", 1.5), Row(2L, "b", -2.0), Row(3L, null, 0.0)))
  }

  test("MERGE INTO applies all four action kinds") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.m4")
    spark.sql("CREATE TABLE graft_lake.m4 (id BIGINT, v BIGINT, stale BIGINT)")
    import spark.implicits._
    // target: 1 (to delete), 2 (to update), 3 (untouched -> stale)
    Seq((1L, 10L, 0L), (2L, 20L, 0L), (3L, 30L, 0L)).toDF("id", "v", "stale")
      .writeTo("graft_lake.m4").append()
    // source: delete 1, update 2, insert 4, and a D for absent 5 (no-op)
    Seq((1L, 0L, "D"), (2L, 21L, "U"), (4L, 40L, "I"), (5L, 0L, "D"))
      .toDF("id", "v", "op").createOrReplaceTempView("m4_src")
    spark.sql("""MERGE INTO graft_lake.m4 t USING m4_src s ON t.id = s.id
                |WHEN MATCHED AND s.op = 'D' THEN DELETE
                |WHEN MATCHED THEN UPDATE SET v = s.v, stale = 0
                |WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (id, v, stale) VALUES (s.id, s.v, 0)
                |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET stale = 1""".stripMargin)
    val got = spark.table("graft_lake.m4").orderBy("id").collect()
    assert(got.toSeq === Seq(
      Row(2L, 21L, 0L), // matched-update
      Row(3L, 30L, 1L), // not-matched-by-source -> stale
      Row(4L, 40L, 0L)  // not-matched-insert; id 1 deleted, id 5 skipped
    ))
  }

  test("p29 post-merge state equals the independent relational replay") {
    val got = operators.PipelineQueries.p29MergeInto(spark, Sf0001)
    // replay with plain DataFrame ops (the p16-style spelling)
    val docs = Tables.spread(Tables.documents(spark, Sf0001))
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("len"))
    val tgt = docs.filter(col("doc_id") % 10 =!= 3)
      .withColumn("ver", lit(1L)).withColumn("stale", lit(0L))
    val src = docs
      .filter(col("doc_id") % 10 === 3 || col("doc_id") % 7 === 0 || col("doc_id") % 5 === 0)
      .withColumn("op",
        when(col("doc_id") % 7 === 0, "D")
          .when(col("doc_id") % 10 === 3, "I").otherwise("U"))
    val kept = tgt.as("t")
      .join(src.as("s"), Seq("doc_id"), "left")
      .filter(col("s.op").isNull || col("s.op") =!= "D")
      .select(col("doc_id"), col("t.source").as("source"),
        when(col("s.op").isNotNull, col("s.len") + 1000L).otherwise(col("t.len")).as("len"),
        when(col("s.op").isNotNull, 2L).otherwise(col("t.ver")).as("ver"),
        when(col("s.op").isNull, 1L).otherwise(0L).as("stale"))
    val ins = src.as("s")
      .join(tgt.as("t"), Seq("doc_id"), "left_anti")
      .filter(col("op") =!= "D")
      .select(col("doc_id"), col("source"), col("len"), lit(2L).as("ver"), lit(0L).as("stale"))
    val want = kept.unionByName(ins)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // every action kind must actually fire on this data
    val byVer = got.groupBy(col("ver"), col("stale")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(byVer.keySet === Set((1L, 1L), (2L, 0L)))
    // and deletions shrank the key space: no % 7 == 0 doc that was in
    // the target survives
    assert(got.filter(col("doc_id") % 7 === 0 && col("doc_id") % 10 =!= 3).count() === 0)
  }

  test("UPDATE and DELETE plan through the same row-level rewrite and version the snapshots") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.ud")
    spark.sql("CREATE TABLE graft_lake.ud (id BIGINT, v BIGINT)")
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
      .writeTo("graft_lake.ud").append() // -> version 1
    spark.sql("DELETE FROM graft_lake.ud WHERE id = 2") // -> version 2
    spark.sql("UPDATE graft_lake.ud SET v = v + 5 WHERE id = 3") // -> version 3
    assert(spark.table("graft_lake.ud").orderBy("id").collect().toSeq ===
      Seq(Row(1L, 10L), Row(3L, 35L)))
    // time travel reads each committed snapshot
    assert(spark.sql("SELECT * FROM graft_lake.ud VERSION AS OF 0").count() === 0)
    assert(spark.sql("SELECT * FROM graft_lake.ud VERSION AS OF 1 ORDER BY id")
      .collect().toSeq === Seq(Row(1L, 10L), Row(2L, 20L), Row(3L, 30L)))
    assert(spark.sql("SELECT * FROM graft_lake.ud VERSION AS OF 2 ORDER BY id")
      .collect().toSeq === Seq(Row(1L, 10L), Row(3L, 30L)))
    assert(spark.sql("SELECT * FROM graft_lake.ud VERSION AS OF 3 ORDER BY id")
      .collect().toSeq === Seq(Row(1L, 10L), Row(3L, 35L)))
    // a version past the head fails loudly, as does writing to a view
    intercept[Exception](spark.sql("SELECT * FROM graft_lake.ud VERSION AS OF 9").collect())
    intercept[Exception](spark.sql("DELETE FROM graft_lake.ud VERSION AS OF 1 WHERE id = 1"))
  }

  test("partitioned table: MERGE rewrites only the touched partitions (runtime group filtering)") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.pt")
    spark.sql(
      "CREATE TABLE graft_lake.pt (id BIGINT, src STRING, v BIGINT) PARTITIONED BY (src)")
    import spark.implicits._
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L), (4L, "c", 40L))
      .toDF("id", "src", "v").writeTo("graft_lake.pt").append()
    Seq((2L, "a", 21L), (5L, "a", 50L)).toDF("id", "src", "v")
      .createOrReplaceTempView("pt_src")
    spark.sql("""MERGE INTO graft_lake.pt t USING pt_src s
                |ON t.id = s.id AND t.src = s.src
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (id, src, v) VALUES (s.id, s.src, s.v)""".stripMargin)
    assert(spark.table("graft_lake.pt").orderBy("id").collect().toSeq === Seq(
      Row(1L, "a", 10L), Row(2L, "a", 21L), Row(3L, "b", 30L),
      Row(4L, "c", 40L), Row(5L, "a", 50L)))
    // the commit must have replaced ONLY the touched partition: Catalyst's
    // runtime group filter derives {src='a'} from the changeset, the scan
    // emits just that group, and partitions b/c are neither read nor
    // rewritten — the O(touched) copy-on-write contract
    assert(graft.sources.LakeStore.lastReplacedGroups.get("graft_lake.pt")
      === Some(Some(Set(List("a")))))
  }

  test("p33 versions replay the maintenance chain") {
    val got = operators.PipelineQueries.p33TimeTravel(spark, Sf0001).collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
    val docs = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
    val v1 = docs
    val v2 = v1.filter(_.getLong(2) >= 250)
    val v3chars = v2.map(r => if (r.getString(1) == "src5") 0L else r.getLong(2))
    assert(got(0).getLong(1) === 0L)
    assert(got(1).getLong(1) === v1.length.toLong)
    assert(got(1).getLong(2) === v1.map(_.getLong(2)).sum)
    assert(got(2).getLong(1) === v2.length.toLong)
    assert(got(3).getLong(1) === v2.length.toLong) // UPDATE keeps cardinality
    assert(got(3).getLong(2) === v3chars.sum)
    assert(got(3).getLong(3) === v2.map(_.getLong(0)).sum) // ids untouched by UPDATE
  }

  test("p47: a MERGE spanning both partition specs migrates the old cohort, pruning intact") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.evomerge")
    spark.sql("CREATE TABLE graft_lake.evomerge (id BIGINT, grp STRING, v BIGINT)")
    import spark.implicits._
    // pre-evolution era: one unpartitioned cohort, ids 0..19
    (0L until 20L).map(i => (i, s"g${i % 4}", i)).toDF("id", "grp", "v")
      .coalesce(1).writeTo("graft_lake.evomerge").append() // v1
    val oldFiles = graft.sources.LakeStore.get("graft_lake.evomerge").get
      .current.map(_.path).toSet
    graft.sources.GraftLake.setPartitionSpec("graft_lake.evomerge", Seq("grp")) // v2
    // new era: ids 1000.., one file per grp
    (0L until 20L).map(i => (1000L + i, s"g${i % 4}", i)).toDF("id", "grp", "v")
      .repartition(col("grp")).writeTo("graft_lake.evomerge").append() // v3
    // a statement the old cohort's id envelope EXCLUDES: only g1's
    // new-era file is rewritten, the pre-evolution files stay live
    spark.sql("UPDATE graft_lake.evomerge SET v = v + 100 WHERE id >= 1000 AND grp = 'g1'") // v4
    val st4 = graft.sources.LakeStore.get("graft_lake.evomerge").get
    assert(graft.sources.LakeStore.lastReplacedGroups("graft_lake.evomerge")
      === Some(Set(List("g1"))))
    assert(oldFiles.subsetOf(st4.current.map(_.path).toSet))
    // a MERGE spanning BOTH eras: the old cohort is rewritten once and
    // re-lands grouped under the NEW spec — progressive migration
    Seq((3L, "g3", 999L), (1005L, "g1", 888L), (5000L, "gx", 1L))
      .toDF("id", "grp", "v").createOrReplaceTempView("evomerge_src")
    spark.sql("""MERGE INTO graft_lake.evomerge t USING evomerge_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin) // v5
    val st5 = graft.sources.LakeStore.get("graft_lake.evomerge").get
    assert(st5.current.forall(_.group.length == 1)) // fully migrated
    assert((oldFiles intersect st5.current.map(_.path).toSet).isEmpty)
    assert(st5.liveGroups === Set(List("g0"), List("g1"), List("g2"), List("g3"), List("gx")))
    // data intact across the migration
    val got = spark.table("graft_lake.evomerge")
    assert(got.count() === 41L)
    assert(got.filter(col("id") === 3L).collect().head.getLong(2) === 999L)
    assert(got.filter(col("id") === 1005L).collect().head.getLong(2) === 888L)
    assert(got.filter(col("id") === 1009L).collect().head.getLong(2) === 109L) // v4's +100
    // the evolved log replays cold: per-era group keys decode exactly
    graft.sources.LakeStore.invalidateCache("graft_lake.evomerge")
    val replayed = graft.sources.LakeStore.get("graft_lake.evomerge").get
    assert(replayed.snapshots(1).spec === Nil)
    assert(replayed.partitionCols === Seq("grp"))
    assert(replayed.filesAt(3).map(_.group).toSet
      .contains(List())) // old era's key survived replay
    assert(spark.table("graft_lake.evomerge").count() === 41L)
  }

  test("the MERGE plans through Catalyst's row-level rewrite (MergeRows + ReplaceData)") {
    spark.sql("DROP TABLE IF EXISTS graft_lake.px")
    spark.sql("CREATE TABLE graft_lake.px (id BIGINT, v BIGINT)")
    import spark.implicits._
    Seq((1L, 1L)).toDF("id", "v").createOrReplaceTempView("px_src")
    val plan = spark.sql(
      """EXPLAIN EXTENDED MERGE INTO graft_lake.px t USING px_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
      .collect()(0).getString(0)
    assert(plan.contains("MergeRows"), s"no MergeRows node in:\n$plan")
    assert(plan.contains("ReplaceData"), s"no ReplaceData node in:\n$plan")
  }
}
