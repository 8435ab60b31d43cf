package graft

import org.apache.spark.sql.functions._

import graft.operators.StreamingQueries
import graft.sources.LakeStore

/** Round-18 scale-safety contracts: streaming state-partition sizing must
  * resolve source bytes through the Hadoop FileSystem API (a non-local
  * scheme keeps the SESSION DEFAULT, never collapses to 1 partition), and
  * the hard-link commit-claim latch is keyed per table root (one
  * link-incapable mount must not degrade every other root's claims). */
class Round18OpsSpec extends SparkTestBase {

  // -------------------------------- task 1: Hadoop-FS stream sizing

  test("stream sizing derives partitions from bytes for local sources") {
    // sf0.001's events+documents are well under one 32 MB chunk
    val n = StreamingQueries.derivedStatePartitions(32L,
      s"$Sf0001/events.parquet", s"$Sf0001/documents.parquet")
    assert(n === 1L)
    // a source big enough for several chunks is not clamped to 1
    val bytes = StreamingQueries.sourceBytes(s"$Sf0001/events.parquet")
    assert(bytes.exists(_ > 0L))
  }

  test("stream sizing keeps the session default when source size is unknowable") {
    // unresolvable scheme: getFileSystem throws -> size unknown -> the
    // derived count must be the session default, NOT 1 (a serial stream)
    assert(StreamingQueries.derivedStatePartitions(200L,
      "nosuchscheme://cluster/events.parquet") === 200L)
    // missing path on a resolvable filesystem: same contract
    assert(StreamingQueries.derivedStatePartitions(200L,
      "/tmp/graft_r18_definitely_missing/events.parquet") === 200L)
    // one resolvable + one unknowable path: unknown wins (never downsize)
    assert(StreamingQueries.derivedStatePartitions(200L,
      s"$Sf0001/events.parquet", "nosuchscheme://cluster/x") === 200L)
  }

  // -------------------------------- task 2: per-root hard-link latch

  test("hard-link latch is per root: one degraded root leaves others linking") {
    import spark.implicits._
    val latched = "graft_lake.r18_latched"
    val normal = "graft_lake.r18_normal"
    Seq(latched, normal).foreach(k => spark.sql(s"DROP TABLE IF EXISTS $k"))
    spark.sql(s"CREATE TABLE $latched (id BIGINT)")
    spark.sql(s"CREATE TABLE $normal (id BIGINT)")
    // simulate what one overlay/FUSE root does on its first commit
    LakeStore.latchNoHardLinks(latched)
    assert(LakeStore.linkClaimDisabled(latched))
    // the degraded root still commits correctly (exists+rename claim)
    (0 until 3).foreach(i =>
      Seq(i.toLong).toDF("id").coalesce(1).writeTo(latched).append())
    assert(spark.table(latched).agg(sum("id")).collect()(0).getLong(0) === 3L)
    // ...and a commit against ANOTHER root does not inherit the latch
    Seq(7L).toDF("id").coalesce(1).writeTo(normal).append()
    assert(!LakeStore.linkClaimDisabled(normal))
    assert(spark.table(normal).count() === 1L)
    Seq(latched, normal).foreach(k => spark.sql(s"DROP TABLE IF EXISTS $k"))
  }
}
