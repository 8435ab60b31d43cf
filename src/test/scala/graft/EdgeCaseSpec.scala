package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Regression tests for inputs the shipped corpus happens to avoid:
  * documents with <3 tokens (Spark's sequence(1,0) is DESCENDING, so an
  * unguarded shingle transform crashes), zero-token text (ANSI-mode
  * division by zero), and empty text (modulo-by-zero in the media stub).
  */
class EdgeCaseSpec extends SparkTestBase {

  /** A documents-shaped parquet dir with pathological rows. */
  lazy val edgeDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edge").toString
    Seq(
      (0L, "hello", "en", "src0", 5L),                       // 1 token
      (1L, "two tokens", "en", "src0", 10L),                 // 2 tokens
      (2L, "", "en", "src1", 0L),                            // empty
      (3L, "!!! ??? ...", "en", "src1", 11L),                // zero alnum tokens
      (4L, "alpha beta gamma delta epsilon zeta", "en", "src2", 35L),
      (5L, "alpha beta gamma delta epsilon zeta", "de", "src2", 35L)) // exact dup
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("shingle-based dedup survives <3-token and empty documents") {
    val jac = DedupQueries.d03NgramJaccard(spark, edgeDir).collect()
    // docs 4 and 5 are identical -> Jaccard 1.0 within their source
    assert(jac.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      === Set((4L, 5L, 1.0)))
    val mh = DedupQueries.d04MinhashLsh(spark, edgeDir).collect()
    assert(mh.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((4L, 5L)))
  }

  test("exact dedup clusters duplicates; empty and punctuation-only canon collide") {
    val clusters = DedupQueries.d01ExactDedup(spark, edgeDir).collect()
      .map(r => r.getLong(1) -> r.getLong(2)).toMap
    // docs 4/5 share text -> keeper 4, 2 copies
    assert(clusters(4L) === 2L)
    // docs 2 ("" ) and 3 ("!!! ??? ...") both canonicalize to "" -> one cluster
    assert(clusters(2L) === 2L)
    assert(clusters.values.sum === 6L)
  }

  test("dup-cluster resolution handles the edge corpus and an empty pair list") {
    // edge corpus: exactly one near-dup pair (4,5) -> one 2-doc cluster
    val rows = DedupQueries.d06DupClusters(spark, edgeDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.toSet === Set((4L, 4L, 2L, true), (5L, 4L, 2L, false)))
    // corpus with NO near-dup pairs: empty result, not an NPE from the
    // null sum over an empty vertex set
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_nodup").toString
    Seq(
      (0L, "alpha beta gamma delta epsilon", "en", "src0", 30L),
      (1L, "one two three four five six", "en", "src0", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(DedupQueries.d06DupClusters(spark, dir).collect().isEmpty)
  }

  test("text stats emit null ratios (not crashes) for zero-token docs") {
    val t01 = TextQueries.t01DocStats(spark, edgeDir).collect()
    assert(t01.length === 6)
    val zeroTok = t01.find(_.getLong(0) == 3L).get
    assert(zeroTok.getLong(1) === 0L)      // n_tokens
    assert(zeroTok.isNullAt(4), "ttr must be null, not a crash")
    val t03 = TextQueries.t03QualityScore(spark, edgeDir).collect()
    assert(t03.length === 6)
    val t05 = TextQueries.t05BpeTokens(spark, edgeDir).collect()
    assert(t05.length === 6)
  }

  test("simhash and fingerprint handle empty documents") {
    val fp = TextQueries.t04Fingerprint(spark, edgeDir).collect()
    assert(fp.length === 6)
    val sh = DedupQueries.d05Simhash(spark, edgeDir).collect()
    // identical docs 4/5 must collide at Hamming distance 0
    assert(sh.exists(r => r.getLong(0) == 4L && r.getLong(1) == 5L && r.getInt(2) == 0))
  }

  test("media synthesis handles empty text (no modulo-by-zero)") {
    val media = Multimodal.mediaTable(spark, edgeDir).collect()
    assert(media.length === 6)
    assert(media.forall(_.payload.nonEmpty))
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, edgeDir)).collect()
    assert(feats.length === 6)
  }

  test("session_window boundary: exactly-gap event MERGES; gap+1us splits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_ev").toString
    // user 1: exactly 30:00.000000 apart -> session extension is inclusive
    // (start <= currentEnd) so they MERGE — matching q18/oracle's strict ">"
    // split convention. user 2: one microsecond past the gap -> split.
    Seq(
      (0L, 1000000000000L, 1L, "click", 1.0, "{}"),
      (1L, 1000000000000L + 1800L * 1000000L, 1L, "click", 1.0, "{}"),
      (2L, 2000000000000L, 2L, "click", 1.0, "{}"),
      (3L, 2000000000000L + 1800L * 1000000L + 1L, 2L, "click", 1.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = StarQueries.q34SessionWindow(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 2L))
  }

  test("q33 degrades to null (not ANSI DIVIDE_BY_ZERO) for singleton and constant groups") {
    import spark.implicits._
    val dir = s"/tmp/graft_edge_moments_${ProcessHandle.current().pid()}"
    Seq(
      (1L, 1000000L, 1L, "solo", 5.0, "{}"),          // singleton group: n-1 = 0
      (2L, 2000000L, 1L, "flat", 3.0, "{}"),          // constant group: variance 0
      (3L, 3000000L, 1L, "flat", 3.0, "{}"),
      (4L, 4000000L, 1L, "vary", 1.0, "{}"),          // healthy group
      (5L, 5000000L, 1L, "vary", 2.0, "{}"),
      (6L, 6000000L, 1L, "vary", 4.0, "{}"))
      .toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = StarQueries.q33Moments(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("solo").isNullAt(3) && rows("solo").isNullAt(4),
      "singleton group: stddev and skewness must be null")
    assert(rows("flat").getDouble(3) == 0.0 && rows("flat").isNullAt(4),
      "constant group: stddev 0, skewness null")
    assert(!rows("vary").isNullAt(3) && !rows("vary").isNullAt(4))
  }

  test("graft_topk rejects a non-literal or non-positive k with a clear error") {
    import spark.implicits._
    Seq((1L, 1.0, 1L)).toDF("g", "v", "id").createOrReplaceTempView("tk_err")
    val nonLiteral = intercept[Exception] {
      spark.sql("SELECT graft_topk(v, id, CAST(v AS INT)) FROM tk_err GROUP BY g").collect()
    }
    assert(nonLiteral.getMessage.contains("k must be a literal"), nonLiteral.getMessage)
    val nonPositive = intercept[Exception] {
      spark.sql("SELECT graft_topk(v, id, 0) FROM tk_err GROUP BY g").collect()
    }
    assert(nonPositive.getMessage.contains("k must be positive"), nonPositive.getMessage)
  }

  test("asofJoin rejects a missing column name with a clear error") {
    import spark.implicits._
    val df = Seq((1L, 1L)).toDF("k", "t")
    val e = intercept[IllegalArgumentException] {
      graft.plans.AsOfJoin.asofJoin(df, df, "k", "nope", "k", "t", "k", "t", "x")
    }
    assert(e.getMessage.contains("nope"))
  }

  test("asofJoin rejects an unknown direction; directions handle empty/boundary right sides") {
    import spark.implicits._
    val l = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 100L, 12L))
      .toDF("k", "t", "lid")
    val r = Seq((1L, 150L, 1L, 5.0)).toDF("k", "t", "seq", "v")
    intercept[IllegalArgumentException] {
      graft.plans.AsOfJoin.asofJoin(l, r, "k", "t", "k", "t", "seq", "v", "x",
        direction = "sideways")
    }
    def run(dir: String): Map[Long, Option[Double]] =
      graft.plans.AsOfJoin.asofJoin(l, r, "k", "t", "k", "t", "seq", "v", "x",
          direction = dir)
        .collect().map(row => row.getAs[Long]("lid") ->
          (if (row.isNullAt(row.fieldIndex("x"))) None else Some(row.getAs[Double]("x"))))
        .toMap
    // one right row at t=150 for key 1; key 2 has no right rows at all
    assert(run("backward") === Map(10L -> None, 11L -> Some(5.0), 12L -> None))
    assert(run("forward") === Map(10L -> Some(5.0), 11L -> None, 12L -> None))
    assert(run("nearest") === Map(10L -> Some(5.0), 11L -> Some(5.0), 12L -> None))
    // empty right side: every direction yields all-null, no crash
    val empty = r.filter(col("k") < 0)
    Seq("backward", "forward", "nearest").foreach { d =>
      val out = graft.plans.AsOfJoin.asofJoin(l, empty, "k", "t", "k", "t", "seq", "v", "x",
        direction = d).collect()
      assert(out.length === 3 && out.forall(_.isNullAt(3)), d)
    }
    // exact-tie nearest: right rows equidistant before and after -> the
    // at-or-before side wins
    val l2 = Seq((7L, 100L, 1L)).toDF("k", "t", "lid")
    val r2 = Seq((7L, 90L, 1L, 1.0), (7L, 110L, 2L, 2.0)).toDF("k", "t", "seq", "v")
    val near = graft.plans.AsOfJoin.asofJoin(l2, r2, "k", "t", "k", "t", "seq", "v", "x",
      direction = "nearest").collect()
    assert(near.head.getAs[Double]("x") === 1.0, "tie must go to at-or-before")
  }

  test("segment dedup on degenerate docs: empty canon collides, full dups lose every span (d10)") {
    val out = DedupQueries.d10SegmentDedup(spark, edgeDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size === 6) // every doc keeps its row
    // docs 2 ("") and 3 ("!!! ??? ...") both canonicalize to one empty
    // segment; the doc-2 occurrence wins, doc 3's is dropped
    assert(out(2L)._3 === 0L && out(3L)._3 === 1L)
    assert(out(3L)._1 === "")
    // doc 5 duplicates doc 4 exactly -> loses all segments
    assert(out(4L)._1 === "alpha beta gamma delta epsilon zeta")
    assert(out(5L)._1 === "" && out(5L)._3 === out(5L)._2)
  }

  test("chunking emits one chunk per stride window even for 1-token and empty docs (p07)") {
    val out = PipelineQueries.p07ChunkOverlap(spark, edgeDir).collect()
    val byDoc = out.groupBy(_.getLong(0))
    // every doc's word count <= 12 here -> exactly one chunk each
    assert(byDoc.keySet === (0L to 5L).toSet)
    assert(byDoc.values.forall(_.length === 1))
    assert(byDoc(0L).head.getString(2) === "hello")
    // empty canon splits to [""] -> one empty 1-"word" chunk, like the oracle
    assert(byDoc(2L).head.getString(2) === "")
  }

  test("quality gate emits every failed rule by name, in rule order (t13)") {
    val out = TextQueries.t13QualityGate(spark, edgeDir).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getString(3)))).toMap
    assert(out(0L) === ((false, "length")))           // "hello": 1 token
    // empty text: 1 empty token -> length fails; mean_len 0 fails; alpha
    // ratio is null (0-length text) -> fails closed
    assert(out(2L) === ((false, "length,mean_len,alpha")))
    // punctuation-only: canon is empty like doc 2, raw text non-empty ->
    // alpha ratio 0 fails
    assert(out(3L) === ((false, "length,mean_len,alpha")))
    // 6 distinct real words: only the length rule fires
    assert(out(4L) === ((false, "length")))
    assert(out.values.forall { case (p, r) => p === r.isEmpty })
  }

  test("containment finds exact duplicates in both directions at exactly 1.0 (d11)") {
    val pairs = DedupQueries.d11Containment(spark, edgeDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // docs 4/5 are identical (and the only shingle-bearing near-dups)
    assert(pairs === Map((4L, 5L) -> 1.0, (5L, 4L) -> 1.0))
  }

  test("novelty covers only shingle-bearing docs; a full dup scores exactly 0 (t12)") {
    val out = TextQueries.t12NgramNovelty(spark, edgeDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // docs 0-3 have <3 canonical tokens -> no shingles -> absent
    assert(out.keySet === Set(4L, 5L))
    assert(out(4L) === ((4L, 4L, 1.0)))   // first copy: all shingles novel
    assert(out(5L) === ((4L, 0L, 0.0)))   // exact dup: nothing novel (left-join null -> 0)
  }

  test("q93 bucket fan-out: a session spanning 3 hours lands in exactly its 3 hour buckets") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_q93").toString
    // user 1: one session from 00:30 to 02:10 (events 20 min apart, gap
    // rule keeps them merged) -> covers hour buckets 00, 01, 02.
    // user 2: a one-event session entirely inside hour 01.
    val h = 3600L * 1000000L
    val ev = (0 to 5).map(i => (i.toLong, 1800000000L + i * 20L * 60 * 1000000L, 1L, "click", 1.0, "{}")) :+
      ((10L, h + 600L * 1000000L, 2L, "view", 1.0, "{}"))
    ev.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", expr("timestamp_micros(us)")).drop("us")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = operators.ExtendedQueries.q93IntervalJoin(spark, dir).collect()
      .map(r => r.getTimestamp(0).toInstant.getEpochSecond / 3600 -> (r.getLong(2), r.getLong(3))).toMap
    // hours 0 and 2: only user 1's long session; hour 1: both sessions
    assert(out === Map(0L -> ((1L, 1L)), 1L -> ((2L, 2L)), 2L -> ((1L, 1L))))
  }

  test("p18 IVM on a changeset-free corpus: deltas all zero, state = base rollup") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_p18").toString
    // doc_ids chosen so NO id hits the I/U/D residues (7, 3, 5 mod 10)
    Seq((10L, "a", "alpha text"), (11L, "a", "beta text"), (20L, "b", "gamma"))
      .toDF("doc_id", "source", "text")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.PipelineQueries.p18IncrementalRollup(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(out === Map("a" -> ((2L, 19L, 0L, 0L)), "b" -> ((1L, 5L, 0L, 0L))))
  }

  test("parseAvi fails loudly on truncated or non-AVI bytes, never fabricates frames") {
    val good = operators.Multimodal.encodeAvi("seed".getBytes("UTF-8"))
    intercept[IllegalArgumentException] {
      operators.Multimodal.parseAvi("RIFFxxxxWAVE".getBytes("US-ASCII"))
    }
    intercept[Exception] { // truncated mid-header: buffer underflow or parse require
      operators.Multimodal.parseAvi(good.take(40))
    }
    // and the good container round-trips
    val clip = operators.Multimodal.parseAvi(good)
    assert(clip.w === operators.Multimodal.ImageW && clip.frames.length === operators.Multimodal.VideoFrames)
  }

  test("audio fingerprint of a constant signal is all-zero bits and gain-stable") {
    val wav = operators.Multimodal.encodeWav(Array[Byte](0))
    val fp = operators.Multimodal.audioFingerprint(wav)
    assert(fp === 0L, "equal window energies must compare false (>) everywhere")
    val scaled = operators.Multimodal.scaleWav(wav, 0.95)
    assert(operators.Multimodal.audioFingerprint(scaled) === 0L)
  }

  test("t19 chunking and m05 video dedup survive empty/short/punctuation docs") {
    // t19: the empty doc contributes nothing; docs under 9 chars are one
    // chunk (no boundary positions exist); chars are conserved exactly
    val t = TextQueries.t19CdcChunking(spark, edgeDir).collect()
    val totalChars = t.map(_.getLong(4)).sum
    assert(totalChars === Seq("hello", "two tokens", "!!! ??? ...",
      "alpha beta gamma delta epsilon zeta",
      "alpha beta gamma delta epsilon zeta").map(_.length.toLong).sum)
    assert(t.map(_.getLong(1)).sum >= 5, "each non-empty doc yields at least one chunk")
    // m05: the empty-text video (doc 2, payload seeded from a single zero
    // byte -> constant black frames) still encodes, fingerprints, and its
    // planted twin is retrieved via the 5 untouched frames — even though
    // the watermark on a CONSTANT frame shifts the cell mean and flips
    // most of that one frame's hash bits (the majority rule absorbs it)
    val v = Multimodal.m05VideoDedup(spark, edgeDir).collect()
    val pairs = v.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((2L, 1000002L)), "constant-frame twin lost")
    assert(pairs.contains((5L, 1000005L)))
  }

  test("t20 buckets a uniform-score corpus into one head bucket; <2-token docs excluded") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_t20").toString
    // five identical 4-token docs (identical avg_nll -> t1 = t2 = the one
    // score -> everything is 'head') plus a 1-token doc with NO bigrams,
    // which must fall out of the scored set entirely, not crash it
    ((0 until 5).map(i => (i.toLong, "alpha beta gamma delta", "en", "src0", 22L)) :+
      ((9L, "solo", "en", "src1", 4L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextQueries.t20PerplexityBuckets(spark, dir).collect()
    assert(out.length === 1 && out.head.getString(0) === "head")
    assert(out.head.getLong(1) === 5L, "the bigram-less doc must not be scored")
    assert(out.head.getDouble(3) === out.head.getDouble(4), "uniform corpus: one score")
  }

  test("p23 shard manifest collapses a zero-token corpus to one empty shard") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_p23").toString
    (0 until 4).map(i => (i.toLong, "!!! ??? ...", "en", "src0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // total tokens 0 -> target clamps to 1 -> every doc starts at offset 0
    val out = PipelineQueries.p23ShardManifest(spark, dir).collect()
    assert(out.length === 1 && out.head.getLong(0) === 0L)
    assert(out.head.getLong(1) === 4L && out.head.getLong(2) === 0L)
    assert(out.head.getLong(3) === 0L && out.head.getLong(4) === 0L)
  }

  test("d16 incremental near-dup with an empty arriving batch returns no pairs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_d16").toString
    // history only (src2) — the probe side is empty; the index write and
    // the band join must both survive that
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta", "en", "src2", 35L),
      (1L, "alpha beta gamma delta epsilon zeta", "en", "src3", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(DedupQueries.d16IncrementalNeardup(spark, dir).collect().isEmpty)
  }

  test("s20 k-center on a saturated corpus never re-picks a point") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_edge_s20").toString
    // 10 vectors, only 2 distinct values: after picks {0, 5} every
    // min-distance is 0 — the exclusion rule must walk the remaining ids
    // in tie-break order instead of re-picking the seed forever
    (0 until 10).map(i =>
      (i.toLong, Seq.fill(64)(if (i < 5) 0.1f else 0.9f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SimilarityQueries.s20KcenterCoreset(spark, dir).collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(0L, 5L, 1L, 2L, 3L, 4L, 6L, 7L))
    val radii = out.map(_.getLong(2))
    assert(radii(1) > 0 && radii.drop(2).forall(_ === 0L), radii.toSeq.toString)
  }
}
