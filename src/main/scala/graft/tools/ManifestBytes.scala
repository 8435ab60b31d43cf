package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Manifest-overhead audit: how many COMMIT-LOG bytes each data file
  * costs, as the manifest accumulates round-13's per-file fields
  * (zones, null counts, blooms, NDV sketches, era/seq/bytes, lineage-
  * bearing groups). The scale contract is that per-file overhead is
  * O(1) in DATA size — a file's manifest entry depends on its column
  * count and the opt-in stat roster, never on its row count — so the
  * driver's metadata stays KB-per-thousand-files at any SF. This tool
  * measures it instead of asserting it: same table recipe at two SFs,
  * bytes-per-file must be flat while rows-per-file grows 10x.
  *
  *   sbt 'runMain graft.tools.ManifestBytes sfDir [label]'
  *
  * Prints one `| label | files | rows/file | manifest B/file | ... |`
  * markdown row per configuration for SCALE.md.
  */
object ManifestBytes {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val label = args.drop(1).headOption.getOrElse(dir.split('/').last)
    val spark = GraftSession("manifest-bytes")

    // one PLAIN config and one EVERY-OPT-IN config (blooms + NDV on two
    // columns each + partitioning), both 8 files per append
    val configs = Seq(
      ("plain", ""),
      ("all_stats",
        """PARTITIONED BY (source)
          |TBLPROPERTIES ('graft.bloom.columns' = 'doc_id',
          |  'graft.ndv.columns' = 'doc_id,source,lang')""".stripMargin))
    val rows = configs.map { case (cfg, ddlTail) =>
      val key = s"graft_lake.manifest_$cfg"
      spark.sql(s"DROP TABLE IF EXISTS $key")
      spark.sql(
        s"""CREATE TABLE $key
           |(doc_id BIGINT, source STRING, lang STRING, n_chars BIGINT,
           | n_tokens BIGINT, text_hash BIGINT)
           |$ddlTail""".stripMargin)
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
          xxhash64(col("text")).as("text_hash"))
      val writer =
        if (cfg == "plain") docs.repartition(8)
        else docs.repartitionByRange(8, col("source"), col("doc_id"))
      writer.writeTo(key).append()
      val st = graft.sources.LakeStore.get(key).get
      val v = st.latestVersion
      val files = st.current.length
      val dataRows = st.current.map(_.rows).sum
      val log = new org.apache.hadoop.fs.Path(
        s"${graft.sources.LakeStore.tableDir(key)}/_log/" + f"$v%020d.json")
      val logBytes = log.getFileSystem(
        new org.apache.hadoop.conf.Configuration()).getFileStatus(log).getLen
      val dataBytes = st.current.map(_.bytes).sum
      f"| $label/$cfg | $files | ${dataRows / files}%d | " +
        f"${logBytes / files}%d | ${dataBytes / files}%d | " +
        f"${logBytes.toDouble / dataBytes * 100}%.2f%% |"
    }
    println("| config | files | rows/file | manifest B/file | data B/file | manifest/data |")
    println("|---|---|---|---|---|---|")
    rows.foreach(println)
    spark.stop()
  }
}
