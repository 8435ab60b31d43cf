package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.sources.{GraftLake, LakeStore}

/** Driver-resident TABLE-STATE audit for the round-15 snapshot rebuild:
  * what the warm `TableState` actually HOLDS in memory as commit
  * history grows, measured against what the pre-round-15 design held
  * (a full live file list per version). The scale contract under test:
  * resident state grows O(live files + window deltas) — flat in
  * history length — never O(versions × files).
  *
  * Two adversarial histories:
  *  - APPEND-ONLY: n commits of one file each. The old design's
  *    retained entries are quadratic (version v holds v files:
  *    n(n+1)/2 total); the new design holds one live list + the
  *    in-window deltas.
  *  - FULL-CHURN: OPTIMIZE rewrites the whole table every commit. The
  *    old design held versions × files; the new design pages every
  *    below-window delta to the log and keeps one live list.
  *
  *   sbt 'runMain graft.tools.SnapshotBytes [n ...]'
  *
  * Prints one markdown row per (history, n) for SCALE.md: entries and
  * estimated bytes retained now vs what the per-version-live design
  * would retain, plus the paged fraction.
  */
object SnapshotBytes {
  def main(args: Array[String]): Unit = {
    val ns = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(50, 100, 200)
    val spark = GraftSession("snapshot-bytes")
    import spark.implicits._

    // entry-size proxy: the JSON encoding a checkpoint would write for
    // a FileEntry (path + group + zones + counters) — the same order of
    // magnitude as the JVM object graph, and comparable across designs
    def entryBytes(f: LakeStore.FileEntry): Long =
      (f.path.length + f.cols.map(_.length + 8).sum +
        f.zones.size * 32 + f.blooms.valuesIterator.map(_.length).sum +
        f.ndv.valuesIterator.map(_.length).sum + 64).toLong

    // retained SHELL instances: distinct-by-REFERENCE StructType /
    // props-map objects across all snapshots — what structural sharing
    // (round 16) bounds at O(distinct schemas), not O(versions). An
    // IdentityHashMap counts references, not equality.
    def identityCount[T <: AnyRef](xs: Iterator[T]): Int = {
      val m = new java.util.IdentityHashMap[T, java.lang.Boolean]()
      xs.foreach(m.put(_, java.lang.Boolean.TRUE))
      m.size()
    }

    def audit(key: String): (Long, Long, Long, Long, Double, Int, Int) = {
      val st = LakeStore.get(key).get
      // what THIS design retains: materialized head lists + in-window deltas
      val retainedEntries = st.snapshots.iterator.map(s =>
        s.live.map(_.length).getOrElse(0) + s.added.length).sum.toLong
      val retainedBytes = st.snapshots.iterator.map(s =>
        s.live.map(_.iterator.map(entryBytes).sum).getOrElse(0L) +
          s.added.iterator.map(entryBytes).sum).sum
      // what the per-version-live design retained: every version's full
      // list (reconstructed here once, through the paged log, to count)
      val memo = scala.collection.mutable.HashMap.empty[Int, Vector[LakeStore.FileEntry]]
      val oldEntries = st.snapshots.indices.iterator
        .map(v => st.filesAtWith(memo, v).length.toLong).sum
      val oldBytes = st.snapshots.indices.iterator
        .map(v => st.filesAtWith(memo, v).iterator.map(entryBytes).sum).sum
      val pagedFrac = st.snapshots.count(_.paged).toDouble /
        math.max(1, st.snapshots.length)
      val schemaObjs = identityCount(st.snapshots.iterator.map(_.schema))
      val propsObjs = identityCount(st.snapshots.iterator.map(_.props))
      (retainedEntries, retainedBytes, oldEntries, oldBytes, pagedFrac,
        schemaObjs, propsObjs)
    }

    // ON-DISK checkpoint audit (round 17): the newest checkpoint's byte
    // size, how many schema DOCUMENTS it physically serializes (format
    // 3's table — flat at O(distinct schemas) however long the
    // history), and the bytes the pre-format-3 inline-schema layout
    // would have added back (one schema JSON per snapshot).
    def cpStats(key: String): (Long, Int, Long) = {
      val dir = new java.io.File(s"${LakeStore.root}/$key/_log")
      val cps = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.endsWith(".checkpoint.json"))
      if (cps.isEmpty) return (0L, 0, 0L)
      val cp = cps.maxBy(_.getName)
      val txt = java.nio.file.Files.readString(cp.toPath)
      val docs = "struct".r.findAllIn(txt).length
      val st = LakeStore.get(key).get
      val perVersion = st.snapshots.iterator.map(_.schema.json.length.toLong).sum
      val distinct = st.snapshots.iterator.map(_.schema.json).toSet
        .iterator.map((s: String) => s.length.toLong).sum
      (cp.length(), docs, perVersion - distinct)
    }

    println("| history | commits | live files | entries r15 | entries per-version-live | bytes r15 | bytes old | paged | schema objs (warm/cold) | props objs | cp bytes | cp schema docs | inline-schema bytes saved |")
    println("|---|---|---|---|---|---|---|---|---|---|---|---|---|")
    ns.foreach { n =>
      // ---- append-only: one 3-row file per commit, one mid-history
      // ALTER so the history holds exactly TWO distinct schemas — the
      // shell-sharing contract is "retained StructType instances =
      // O(distinct schemas)", warm and after a cold replay alike
      val ka = "graft_lake.snapbytes_app"
      spark.sql(s"DROP TABLE IF EXISTS $ka")
      spark.sql(s"CREATE TABLE $ka (id BIGINT)")
      (0 until n).foreach { i =>
        if (i == n / 2) spark.sql(s"ALTER TABLE $ka ADD COLUMN extra INT")
        Seq(i * 3L, i * 3L + 1, i * 3L + 2).toDF("id")
          .select(col("id") +: (if (i >= n / 2) Seq(lit(1).as("extra")) else Nil): _*)
          .coalesce(1).writeTo(ka).append()
      }
      val sta = LakeStore.get(ka).get
      val (re, rb, oe, ob, pf, so, po) = audit(ka)
      LakeStore.invalidateCache(ka) // cold replay must share too
      val (_, _, _, _, _, soCold, _) = audit(ka)
      val (cpb, cpd, sav) = cpStats(ka)
      println(f"| append-only | $n | ${sta.current.length} | $re | $oe | $rb | $ob | ${pf * 100}%.0f%% | $so/$soCold | $po | $cpb | $cpd | $sav |")

      // ---- full-churn: 8 files, then n whole-table OPTIMIZE rewrites
      val kc = "graft_lake.snapbytes_churn"
      spark.sql(s"DROP TABLE IF EXISTS $kc")
      spark.sql(s"CREATE TABLE $kc (id BIGINT)")
      spark.range(0, 64).select(col("id")).repartition(8).writeTo(kc).append()
      (0 until n).foreach(_ => GraftLake.optimize(spark, kc, "id", 8))
      val stc = LakeStore.get(kc).get
      val (re2, rb2, oe2, ob2, pf2, so2, po2) = audit(kc)
      LakeStore.invalidateCache(kc)
      val (_, _, _, _, _, so2c, _) = audit(kc)
      val (cpb2, cpd2, sav2) = cpStats(kc)
      println(f"| full-churn | $n | ${stc.current.length} | $re2 | $oe2 | $rb2 | $ob2 | ${pf2 * 100}%.0f%% | $so2/$so2c | $po2 | $cpb2 | $cpd2 | $sav2 |")
    }

    // ---- multi-table budget: 10 tables, full-churn, per-table window
    // property 4 (vs the global 24) — the knob a driver hosting many
    // tables turns so the sum of windows stays inside a byte budget
    println()
    println("| tables | commits each | window | total entries | total bytes | budget 512KB |")
    println("|---|---|---|---|---|---|")
    val keys = (0 until 10).map(i => s"graft_lake.snapbytes_multi$i")
    keys.foreach { kk =>
      spark.sql(s"DROP TABLE IF EXISTS $kk")
      spark.sql(s"CREATE TABLE $kk (id BIGINT) " +
        s"TBLPROPERTIES ('${LakeStore.SnapshotWindowProp}' = '4')")
      spark.range(0, 64).select(col("id")).repartition(8).writeTo(kk).append()
      (0 until 60).foreach(_ => GraftLake.optimize(spark, kk, "id", 8))
    }
    val totals = keys.map(audit)
    val totEntries = totals.map(_._1).sum
    val totBytes = totals.map(_._2).sum
    println(f"| ${keys.length} | 60 | 4 | $totEntries | $totBytes | ${if (totBytes < 512 * 1024) "PASS" else "FAIL"} |")
    spark.stop()
  }
}
