package graft.sources

import org.apache.spark.sql.functions._

/** The COPY INTO ledger handoff is EXPLICIT write-path plumbing: the
  * loaded ids ride the ingest's own DSv2 write as an option
  * ([[LakeStore.CopyIdsOption]]) that its write builder hands to its
  * own commit — bound to one logical write whatever thread Spark
  * commits on. A concurrent plain append (any thread, any
  * interleaving) carries no option and so structurally cannot consume
  * or be stamped with another write's ledger — the lost-exactly-once
  * race a shared table-keyed map had, and the thread-affinity
  * assumption the earlier ThreadLocal token quietly leaned on
  * (a DSv2 engine committing on a different thread would have landed
  * the rows as a plain unledgered append). */
class CopyTokenSpec extends graft.SparkTestBase {

  private def withIds(ids: Seq[String]): String =
    LakeStore.encodeCopyIds(ids)

  test("an interleaved plain append cannot steal a pending ingest's copy ids") {
    import spark.implicits._
    val key = "graft_lake.cptoken"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    // an ingest is in flight: interleave a plain append between the
    // ingest's plan and its commit (the deterministic-interleave hook
    // fires inside the store lock immediately before the ingest's own
    // append — the exact window where a shared-state handoff once let
    // the interloper consume the staged ledger)
    LakeStore.onNextCommit.update(key, () =>
      Seq(7L).toDF("id").writeTo(key).append())
    Seq(8L).toDF("id").writeTo(key)
      .option(LakeStore.CopyIdsOption, withIds(Seq("staged.parquet@42")))
      .append()
    val st = LakeStore.get(key).get
    // two commits landed: the racer's plain append (first — the hook
    // ran before the ingest committed) and the ingest's own
    val appendV = st.snapshots.indexWhere(_.action == "append")
    val ingestV = st.snapshots.indexWhere(_.action == "copyinto")
    assert(appendV > 0 && ingestV > appendV,
      "racer lands first (inside the hook), ingest rebases on top")
    assert(st.snapshots(appendV).copyIds.isEmpty,
      "the racer must not be stamped with the ingest's ledger")
    assert(st.snapshots(ingestV).copyIds === Seq("staged.parquet@42"),
      "the ingest's own commit carries its ids — nothing was stolen")
    assert(st.copyLedger === Set("staged.parquet@42"))
    assert(spark.table(key).count() === 2L)
  }

  test("concurrent COPY INTO runs cannot double-ingest the same file") {
    import spark.implicits._
    val key = "graft_lake.cprace"
    spark.sql(s"DROP TABLE IF EXISTS $key")
    spark.sql(s"CREATE TABLE $key (id BIGINT)")
    // run 1 ingests f1
    Seq(1L).toDF("id").writeTo(key)
      .option(LakeStore.CopyIdsOption, withIds(Seq("f1.parquet@10"))).append()
    assert(LakeStore.get(key).get.copyLedger === Set("f1.parquet@10"))
    // run 2 ALSO listed f1 before run 1 committed (both saw it
    // unloaded) — its commit must abort under the store lock instead
    // of landing f1's rows a second time
    val e = intercept[Exception] {
      Seq(1L).toDF("id").writeTo(key)
        .option(LakeStore.CopyIdsOption,
          withIds(Seq("f1.parquet@10", "f2.parquet@20"))).append()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      c.isInstanceOf[LakeStore.CommitConflictException] &&
        c.getMessage.contains("ConcurrentCopyInto")),
      s"expected a retryable COPY INTO conflict, got $e")
    // nothing landed, nothing new was ledgered: the re-run contract
    assert(LakeStore.get(key).get.copyLedger === Set("f1.parquet@10"))
    assert(spark.table(key).count() === 1L)
  }
}
