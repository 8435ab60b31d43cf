package graft

import graft.operators.{Multimodal, PipelineQueries, SimilarityQueries}
import org.apache.spark.sql.functions._

/** Round-6 operators: composed IVF-PQ retrieval quality, audio
  * fingerprint dedup, bucketed-join rollup consistency. (The physical
  * no-shuffle claim for p17 lives in BucketedJoinSpec; the oracle hash
  * checks live in the driver's DuckDB compare.)
  */
class Round6OpsSpec extends SparkTestBase {

  test("s15: composed IVF-PQ retrieves every planted base at rank 1; ADC orders ranks") {
    val rows = SimilarityQueries.s15IvfPq(spark, Sf001).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 8L).toSet, "every planted query must emit rows")
    byQ.foreach { case (q, rs) =>
      val r1 = rs.find(_.getInt(1) == 1).get
      assert(r1.getLong(3) === q,
        s"query $q: planted base not at rank 1 through the IVF cell + PQ-ADC path")
      val sorted = rs.sortBy(_.getInt(1))
      val adcs = sorted.map(_.getDouble(4)).toSeq
      assert(adcs === adcs.sorted, s"query $q: ADC must be non-decreasing in rank")
      // the composed path returns the PQ shortlist WITH its exact-cosine
      // rerank surface; the rank-1 planted base must also win on cosine
      assert(r1.getDouble(5) === sorted.map(_.getDouble(5)).max,
        s"query $q: base should dominate the shortlist on exact cosine too")
    }
    // determinism: codebook + codes + window are all exact arithmetic
    val again = SimilarityQueries.s15IvfPq(spark, Sf001).collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("m04: audio dedup retrieves exactly the planted gain-scaled twins") {
    val out = Multimodal.m04AudioDedup(spark, Sf0001).collect()
    val audioIds = Tables.documents(spark, Sf0001)
      .filter(col("doc_id") % 3 === 1)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // sf0.001's audio residue class has no same-text pair (verified), so
    // the exact expected set is the planted twins; at larger sfs genuine
    // exact-dup texts also (correctly) surface at Hamming 0
    val expected = audioIds.map(id => (id, id + 1000000L))
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet === expected,
      "banded fingerprint join must return the planted pairs and nothing else")
    out.foreach(r => assert(r.getLong(2) >= 0 && r.getLong(2) <= 3))
    // gain invariance is the fingerprint's design property: most twins
    // should match EXACTLY (only re-quantization noise may flip bits)
    assert(out.count(_.getLong(2) == 0) >= out.length / 2,
      "a 0.95 gain edit should leave most fingerprints bit-identical")
  }

  test("g08: peeling reaches its fixed point within the unrolled rounds; survivors shrink monotonically") {
    for (sf <- Seq(Sf0001, Sf001)) {
      val rows = operators.GraphQueries.g08KCore(spark, sf).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(rows.keySet === (0 to 6).toSet)
      // the fixed unroll must genuinely converge on the testdata — the
      // output claims to BE the k-core, not a truncated peel
      assert(rows(6) === rows(5), s"$sf: peeling not converged by round 6")
      (1 to 6).foreach(i => assert(rows(i)._1 <= rows(i - 1)._1,
        s"$sf: survivor count grew at round $i"))
      // customers + suppliers partition every round's survivors
      rows.values.foreach { case (n, c, sup) => assert(c + sup === n) }
      assert(rows(6)._1 > 0, s"$sf: 3-core empty — operator degenerated")
    }
  }

  test("s16: MaxSim retrieves every planted base at rank 1; scores bounded by token count") {
    val rows = operators.SimilarityQueries.s16MaxSim(spark, Sf001).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet === (0L until 5L).toSet)
    byQ.foreach { case (q, rs) =>
      val r1 = rs.find(_.getLong(1) == 1L).get
      assert(r1.getLong(2) === q,
        s"query $q: planted base not at MaxSim rank 1")
      // sum of 4 per-token max-cosines is bounded by 4
      rs.foreach(r => assert(r.getDouble(3) <= 4.000001 && r.getDouble(3) >= -4.000001))
    }
  }

  test("s17: truncation audit is well-formed and overlap bounded; determinism") {
    val rows = operators.SimilarityQueries.s17Matryoshka(spark, Sf001).collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until 5L).toSeq)
    rows.foreach { r =>
      val (common, t1) = (r.getLong(1), r.getLong(2))
      assert(common >= 0 && common <= 10, s"overlap@10 out of range: $common")
      assert(t1 == -1L || (t1 >= 1L && t1 <= 10L), s"top1 trunc rank out of range: $t1")
      // the full-rank-1 item (the planted base, cosine ~0.995) keeps a
      // strong 16-dim prefix signal (~0.99 on the prefix slice): it must
      // at least SURVIVE into the truncated top-10
      assert(t1 != -1L, s"query ${r.getLong(0)}: true top-1 fell out of the truncated top-10")
    }
    val again = operators.SimilarityQueries.s17Matryoshka(spark, Sf001).collect()
    assert(rows.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("g09: distributed landmark BFS equals a sequential in-memory reference") {
    val pairs = Tables.orders(spark, Sf0001).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, Sf0001).select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("u"),
        (lit(1000000L) + col("l_suppkey")).as("v"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    pairs.foreach { case (u, v) =>
      adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty) += v
      adj.getOrElseUpdate(v, scala.collection.mutable.Set.empty) += u
    }
    val landmarks = adj.toSeq.map { case (n, ns) => (n, ns.size) }
      .sortBy { case (n, d) => (-d, n) }.take(8).map(_._1)
    val score = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)] // h12, nLm, minDist
    landmarks.foreach { lm =>
      val dist = scala.collection.mutable.Map(lm -> 0)
      var frontier = Set(lm)
      for (r <- 1 to 4) {
        frontier = frontier.flatMap(adj(_)).filterNot(dist.contains)
        frontier.foreach(n => dist(n) = r)
      }
      dist.foreach { case (n, d) =>
        if (d > 0) {
          val (h, c, m) = score.getOrElse(n, (0L, 0L, Long.MaxValue))
          score(n) = (h + 12 / d, c + 1, math.min(m, d.toLong))
        }
      }
    }
    val expect = score.toSeq
      .map { case (n, (h, c, m)) => (n, h, c, m) }
      .sortBy { case (n, h, _, _) => (-h, n) }.take(30)
    val got = operators.GraphQueries.g09HarmonicCentrality(spark, Sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect, "distributed landmark BFS diverged from the sequential reference")
    assert(got.nonEmpty && got.forall { case (_, h, c, m) => h > 0 && c <= 8 && m >= 1 })
  }

  test("q93: interval join plans as bucket equi-join — no nested-loop, no cartesian") {
    val df = operators.ExtendedQueries.q93IntervalJoin(spark, Sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "interval overlap degenerated to a nested-loop join")
    assert(!plan.contains("CartesianProduct"))
    // the bucket equi-join shows up as a hash join on the hour key
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"), plan.take(600))
  }

  test("graft_maxsim codegen expression is bit-identical to the HOF reference") {
    val e = Tables.embeddings(spark, Sf001)
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .select(col("vec_id"), col("v"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val pairs = e.crossJoin(broadcast(q))
    val both = pairs
      .withColumn("fused", call_function("graft_maxsim", col("qv"), col("v"), lit(4)))
      .withColumn("hof", operators.SimilarityQueries.maxSimHof)
    assert(both.filter(col("fused") =!= col("hof")).count() === 0L,
      "fused loop must reproduce the HOF fold bit-for-bit")
    assert(both.count() > 0)
    // ragged input degrades to null, not garbage
    val ragged = spark.sql(
      "SELECT graft_maxsim(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d, 3.0d), 4) AS r")
    assert(ragged.collect().head.isNullAt(0))
  }

  test("p18: incrementally-maintained rollup equals a from-scratch recompute of the merged state") {
    val ivm = operators.PipelineQueries.p18IncrementalRollup(spark, Sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // direct recompute: merged corpus state, never the delta algebra
    val docs = Tables.documents(spark, Sf0001).select(col("doc_id"), col("source"), col("text"))
    val merged = docs.filter(col("doc_id") % 10 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 10 === 3, concat(col("text"), lit(" v2"))).otherwise(col("text")))
    val direct = merged.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(length(col("text")).cast("long")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = docs.filter(col("doc_id") % 10 =!= 7).groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(length(col("text")).cast("long")).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ivm.keySet === (direct.keySet ++ base.keySet),
      "view must cover new AND emptied sources")
    ivm.foreach { case (src, (n, c, dd, dc)) =>
      val (dn, dcur) = direct.getOrElse(src, (0L, 0L))
      val (bn, bc) = base.getOrElse(src, (0L, 0L))
      assert((n, c) === (dn, dcur), s"$src: maintained state diverged from recompute")
      assert((dd, dc) === (dn - bn, dcur - bc), s"$src: published delta wrong")
    }
    // the testdata genuinely exercises both edges
    assert(ivm.exists { case (_, (n, _, dd, _)) => n == 0 && dd < 0 }, "an emptied source")
    assert(ivm.exists { case (src, (n, _, dd, _)) => dd.toLong == n && n > 0 && !base.contains(src) },
      "a brand-new source")
  }

  test("p17: bucketed rollup equals the same rollup over raw parquet") {
    val bucketed = PipelineQueries.p17BucketedJoin(spark, Sf0001).collect()
    // raw-side restatement: identical arithmetic, no bucketed tables
    val e = Tables.embeddings(spark, Sf0001)
      .withColumn("v", expr("transform(embedding, x -> cast(x as double))"))
      .select(col("vec_id").as("doc_id"),
        (floor(sqrt(expr(
          "aggregate(zip_with(v, v, (x, y) -> x * y), cast(0.0 as double), (acc, t) -> acc + t)"))
          * 1e6 + 0.5) / 1e6).as("norm"))
    val raw = Tables.documents(spark, Sf0001)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(e, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        Tables.dsum(col("norm")).as("sum_norm"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("source"))
      .collect()
    assert(bucketed.map(_.toSeq).toSeq === raw.map(_.toSeq).toSeq,
      "bucketing must change the physical plan, never the answer")
  }
}
