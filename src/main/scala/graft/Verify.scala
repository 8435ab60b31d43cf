package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession("graft-verify", cpus.toInt)
    // pin the sidecar-oracle tag to THIS run's sf dir before any oracle
    // text is built — dumped SQL must point at the sidecars this run writes
    Sidecars.oracleDir = sfDir
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated names); the driver never sets
    // it, so the contract run always dumps every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A query that errors must still surface in the correctness
        // artifact as an explicit red row, not silently vanish (round 5
        // lost q18/q48 this way): dump a one-row frame whose `err` schema
        // can never match an oracle, so the driver records a visible
        // mismatch for exactly this query.
        try {
          import spark.implicits._
          Seq(Option(e.getMessage).getOrElse(e.getClass.getName))
            .toDF("err").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      } finally {
        // queries cache intermediates (shingle sets, signatures); release
        // between queries so storage memory doesn't accumulate over the run
        spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
