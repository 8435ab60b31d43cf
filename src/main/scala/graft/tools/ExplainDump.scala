package graft.tools

import graft.{GraftSession, SparkEntry}
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` of named registry queries to
  * `<outDir>/<query>.txt` — the per-round plan-evidence artifact
  * (plans/r17/<q>_before.txt / _after.txt are generated with this tool
  * from the pre-round and post-round trees).
  *
  *   sbt 'runMain graft.tools.ExplainDump <sfDir> <outDir> [suffix] q1 q2 ...'
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: ExplainDump <sfDir> <outDir> <suffix> <query>...")
    val (dir, outDir, suffix, names) = (args(0), args(1), args(2), args.drop(3).toSeq)
    Files.createDirectories(Paths.get(outDir))
    val spark = GraftSession("explain-dump")
    for (name <- names) {
      val df =
        try SparkEntry.queries(name)(spark, dir)
        catch { case e: Throwable =>
          System.err.println(s"[explain] $name failed to build: ${e.getMessage}")
          null
        }
      if (df != null) {
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[explain] wrote $outDir/${name}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
