package graft.tools

import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.sources.{GraftLake, LakeCdf, LakeStore}

/** Scratch probe for the p83 fan-out bound: replays the p83
  * construction and prints, per upsert commit, which carried files the
  * stats-pruned fan-out emitted vs skipped — the evidence behind the
  * `fanout_emitted`/`fanout_pruned` guard values.
  *
  *   sbt 'runMain graft.tools.CdfFanoutProbe [sfDir]'
  */
object CdfFanoutProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val s = GraftSession("cdf-fanout-probe")
    val key = "graft_lake.cdcprobe"
    s.sql(s"DROP TABLE IF EXISTS $key")
    s.sql(s"""CREATE TABLE $key (doc_id BIGINT, n_chars BIGINT)
             |TBLPROPERTIES ('graft.bloom.columns' = 'doc_id')""".stripMargin)
    val docs = Tables.documents(s, dir)
      .filter(col("doc_id") < 400).select(col("doc_id"), col("n_chars"))
    (0 until 8).foreach { j =>
      docs.filter(col("doc_id") % 8 === j).coalesce(1).writeTo(key).append()
    }
    val v0 = LakeStore.get(key).get.latestVersion
    (0 until 4).foreach { u =>
      GraftLake.upsert(
        docs.filter(col("doc_id") < 40 && col("doc_id") % 8 === u)
          .withColumn("n_chars", col("n_chars") + 1000000L).coalesce(1),
        key, Seq("doc_id"))
    }
    val st = LakeStore.get(key).get
    // file -> bloom presence map
    println("== manifest entries at head ==")
    st.current.foreach { f =>
      println(f"${f.path}%-44s seq=${f.seq}%2d zones=${f.zones.get("doc_id")} " +
        s"bloomCols=${f.blooms.keySet} nulls=${f.nulls.get("doc_id")}")
    }
    (v0 + 1 to st.latestVersion).foreach { v =>
      val e0 = LakeCdf.upsertFanoutEmitted.get()
      val p0 = LakeCdf.upsertFanoutPruned.get()
      val chunks = LakeCdf.chunksForRange(key, st, v, v)
      println(s"== commit $v: emitted=${LakeCdf.upsertFanoutEmitted.get() - e0} " +
        s"pruned=${LakeCdf.upsertFanoutPruned.get() - p0}")
      chunks.filter(c => c.change == "D" && c.eqIncl.nonEmpty)
        .foreach(c => println(s"   D-fanout: ${c.path.split('/').last} rows=${c.rows}"))
    }
    s.stop()
  }
}
