package graft

/** The one session path: [[GraftSession.withConf]] scoping, and that the
  * registry queries which scope confs or use the lake catalog and graft
  * functions leave the session exactly as they found it. */
class GraftSessionSpec extends SparkTestBase {

  private val Partitions = "spark.sql.shuffle.partitions"
  private val Broadcast = "spark.sql.autoBroadcastJoinThreshold"

  test("withConf restores a key that was set") {
    val before = spark.conf.get(Partitions)
    GraftSession.withConf(spark)(Partitions -> "7") {
      assert(spark.conf.get(Partitions) === "7")
    }
    assert(spark.conf.get(Partitions) === before)
  }

  test("withConf unsets a key that was unset, even one with a default") {
    assert(!spark.conf.getAll.contains(Broadcast))
    GraftSession.withConf(spark)(Broadcast -> "-1", "graft.test.scoped" -> "x") {
      assert(spark.conf.get(Broadcast) === "-1")
      assert(spark.conf.get("graft.test.scoped") === "x")
    }
    assert(!spark.conf.getAll.contains(Broadcast))
    assert(!spark.conf.getAll.contains("graft.test.scoped"))
  }

  test("withConf restores the conf when the body throws") {
    val before = spark.conf.getAll
    val e = intercept[IllegalStateException] {
      GraftSession.withConf(spark)(Partitions -> "9", Broadcast -> "-1") {
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(spark.conf.getAll === before)
  }

  test("a nested withConf does not clobber the outer value") {
    val k = "graft.lake.branch"
    GraftSession.withConf(spark)(k -> "outer") {
      GraftSession.withConf(spark)(k -> "inner") {
        assert(spark.conf.get(k) === "inner")
      }
      assert(spark.conf.get(k) === "outer")
    }
    assert(!spark.conf.getAll.contains(k))
  }

  // one query per former install or hand-rolled restore: the lake MERGE,
  // the storage-partitioned join's scoped confs, the write-audit branch
  // scope, the RocksDB state store plus the adaptive stream shuffle, the
  // graph segmentation's AQE-off scope, and a plain adaptive stream
  for (name <- Seq("p29_merge_into", "p54_storage_partitioned_join",
      "p59_branch_wap", "st09_transform_with_state", "g01_pagerank",
      "st05_stream_filter")) {
    test(s"$name leaves the session conf and function list unchanged") {
      def tempFunctions = spark.catalog.listFunctions()
        .filter(_.isTemporary).collect().map(_.name).toSet
      val conf = spark.conf.getAll
      val functions = tempFunctions
      SparkEntry.queries(name)(spark, Sf0001).collect()
      assert(spark.conf.getAll === conf)
      assert(tempFunctions === functions)
    }
  }
}
