package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

/** CHECKPOINT CRASH-RECOVERY — the other half of the exactly-once claim
  * st06/st09-st12 leave implicit: those specs prove sequential
  * multi-batch correctness, this one KILLS a foreachBatch query
  * mid-stream (after the batch's side effect, before its checkpoint
  * commit — the worst-ordered crash) and restarts it from the same
  * checkpoint directory. Exactly-once then requires two things the test
  * asserts separately: the restarted query REPLAYS the uncommitted
  * batch rather than skipping or restarting from zero (offset-log
  * recovery), and the idempotent sink absorbs the duplicated side
  * effect (batch-id-keyed overwrite — st06's versioned-MV pattern, the
  * standard foreachBatch idempotence device), so the final state still
  * equals the one-shot batch answer.
  */
class StreamingRecoverySpec extends SparkTestBase {

  private val Marker = "graft-injected-crash"

  test("foreachBatch query killed mid-stream resumes from its checkpoint exactly-once") {
    val root = s"/tmp/graft_stream_${Sidecars.tag(Sf0001)}/recovery_spec"
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(root))
    graft.Tables.documents(spark, Sf0001).repartition(8)
      .write.mode("overwrite").parquet(s"$root/arrivals")

    val seen = new ConcurrentLinkedQueue[Long]()
    // The incremental-MV merge (st06's shape) with a RECOVERABLE prev
    // pointer: prev = mv_{id-1} is derived from the batch id, not from
    // in-memory state, so a restarted run re-reads the last COMMITTED
    // snapshot without any driver-side survivor.
    def mergeBatch(crashAt: Option[Long])(batch: org.apache.spark.sql.Dataset[Row], id: Long): Unit = {
      seen.add(id)
      val delta = batch.groupBy(col("source")).agg(
        count(lit(1)).as("dn"),
        sum(length(col("text")).cast("long")).as("dc"))
      val merged =
        if (id == 0L)
          delta.select(col("source"), col("dn").as("n_docs"), col("dc").as("sum_chars"))
        else batch.sparkSession.read.parquet(s"$root/mv_${id - 1}")
          .join(delta, Seq("source"), "full_outer")
          .select(col("source"),
            (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
            (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("sum_chars"))
      merged.write.mode("overwrite").parquet(s"$root/mv_$id")
      // crash AFTER the side effect, BEFORE the checkpoint commits this
      // batch — the replay-required ordering
      if (crashAt.contains(id)) throw new RuntimeException(Marker)
    }
    def run(crashAt: Option[Long]): Unit = {
      val q = spark.readStream.schema(graft.streaming.CorpusStream.docSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/arrivals")
        .writeStream
        .foreachBatch(mergeBatch(crashAt) _)
        .option("checkpointLocation", s"$root/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // run 1: crash after batch 4's side effect
    val ex = intercept[StreamingQueryException](run(crashAt = Some(4L)))
    assert(ex.getMessage.contains(Marker) ||
      Option(ex.getCause).exists(_.getMessage.contains(Marker)),
      s"query failed for an unexpected reason: ${ex.getMessage}")
    assert(seen.toArray.toSeq === Seq(0L, 1L, 2L, 3L, 4L))

    // run 2: same checkpoint dir, fault removed
    seen.clear()
    run(crashAt = None)
    // offset-log recovery: the uncommitted batch 4 is REPLAYED (not
    // skipped, not restarted from zero), then the remaining batches run
    assert(seen.toArray.toSeq === Seq(4L, 5L, 6L, 7L))

    // exactly-once: the final MV equals the one-shot batch answer
    val got = spark.read.parquet(s"$root/mv_7").orderBy(col("source"))
    val want = graft.Tables.documents(spark, Sf0001)
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_chars"))
      .orderBy(col("source"))
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("MERGE-sink query killed mid-stream: the batch-id guard absorbs the replayed batch") {
    // st13's additive MERGE is NOT idempotent by itself; this is the
    // crash ordering that would double-apply a batch without the
    // high-water-mark guard — side effect committed, checkpoint not.
    val root = s"/tmp/graft_stream_${Sidecars.tag(Sf0001)}/recovery_merge_spec"
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm(_))
      java.nio.file.Files.deleteIfExists(p)
    }
    rm(java.nio.file.Paths.get(root))
    graft.Tables.events(spark, Sf0001)
      .select(col("user_id"), col("event_type"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$root/arrivals")
    spark.sql("DROP TABLE IF EXISTS graft_lake.rec_state")
    spark.sql("CREATE TABLE graft_lake.rec_state (user_id BIGINT, n_events BIGINT, purchase_cents BIGINT)")
    spark.sql("DROP TABLE IF EXISTS graft_lake.rec_state_meta")
    spark.sql("CREATE TABLE graft_lake.rec_state_meta (last_batch BIGINT)")
    val seen = new ConcurrentLinkedQueue[Long]()
    def mergeBatch(crashAt: Option[Long])(batch: org.apache.spark.sql.Dataset[Row], id: Long): Unit = {
      seen.add(id)
      val ss = batch.sparkSession
      val applied = ss.table("graft_lake.rec_state_meta")
        .agg(max(col("last_batch"))).collect()(0)
      if (applied.isNullAt(0) || applied.getLong(0) < id) {
        batch.groupBy(col("user_id")).agg(
          count(lit(1)).as("dn"),
          sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L)).as("dc"))
          .createOrReplaceTempView("rec_delta")
        ss.sql("""MERGE INTO graft_lake.rec_state t USING rec_delta s
                 |ON t.user_id = s.user_id
                 |WHEN MATCHED THEN UPDATE SET
                 |  n_events = t.n_events + s.dn,
                 |  purchase_cents = t.purchase_cents + s.dc
                 |WHEN NOT MATCHED THEN
                 |  INSERT (user_id, n_events, purchase_cents) VALUES (s.user_id, s.dn, s.dc)""".stripMargin)
        ss.sql(s"INSERT INTO graft_lake.rec_state_meta VALUES ($id)")
      }
      if (crashAt.contains(id)) throw new RuntimeException(Marker)
    }
    def run(crashAt: Option[Long]): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(s"$root/arrivals").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/arrivals")
        .writeStream
        .foreachBatch(mergeBatch(crashAt) _)
        .option("checkpointLocation", s"$root/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val ex = intercept[StreamingQueryException](run(crashAt = Some(2L)))
    assert(ex.getMessage.contains(Marker) ||
      Option(ex.getCause).exists(_.getMessage.contains(Marker)))
    assert(seen.toArray.toSeq === Seq(0L, 1L, 2L))
    seen.clear()
    run(crashAt = None)
    // batch 2 IS replayed by the engine (its checkpoint never committed)
    // — and the guard must skip its merge, or user totals double-count
    assert(seen.toArray.toSeq === Seq(2L, 3L))
    val got = spark.table("graft_lake.rec_state").orderBy(col("user_id")).collect()
    val want = graft.Tables.events(spark, Sf0001)
      .groupBy(col("user_id")).agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase",
          expr("cast(floor(value * 100 + 0.5) as bigint)")).otherwise(0L)).as("purchase_cents"))
      .orderBy(col("user_id")).collect()
    assert(got.toSeq === want.toSeq)
  }
}
