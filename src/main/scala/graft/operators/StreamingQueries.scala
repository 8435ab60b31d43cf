package graft.operators

import graft.{GraftSession, Sidecars}
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Driver-contract STREAMING queries — each runs a genuine Structured
  * Streaming job over the events data to completion and returns the
  * materialized result, which the driver then hash-compares against a
  * pure BATCH DuckDB oracle over the same table. That is the
  * stream/batch equivalence contract stated as a correctness row: the
  * incremental engine (micro-batches, state store, watermarks) must land
  * on exactly the answer the one-shot batch plan computes. StreamingSpec
  * covers the tier's behavioral surface (joins, sessions, custom state);
  * these two entries put the equivalence under the driver's oracle hash.
  */
object StreamingQueries {

  private def deleteRecursively(path: java.nio.file.Path): Unit = {
    if (java.nio.file.Files.exists(path)) {
      java.nio.file.Files.walk(path)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  /** SCALE-ADAPTIVE state/shuffle partitioning for a streaming run.
    *
    * Batch plans right-size their post-shuffle partitions at runtime via
    * AQE coalescing; a streaming query CANNOT — its stateful-operator
    * partition count is frozen from `spark.sql.shuffle.partitions` when
    * the checkpoint is born, AQE is disabled by the engine, and every
    * micro-batch then pays a fixed per-partition price (state-store
    * instance load + commit file + task) regardless of how much data the
    * batch carries. Measured on this box (sf0.1, local[32]): the
    * stream-stream joins ran 32 state partitions x ~3.4 s of uniform
    * per-task machinery per micro-batch job — 220 s of task time to join
    * 2 MB of events; the same query at 4 partitions dropped 9.5 s -> 3.2 s
    * wall with an identical result.
    *
    * So derive the partition count the way AQE would have: from the BYTE
    * SIZE of the streamed source (~[[StatePartitionBytes]] of input per
    * state partition), clamped to [1, session default]. The clamp keeps a
    * cluster deployment's configured parallelism intact — a 100 TB source
    * divides into far more chunks than any session default, so production
    * streams keep their full partition count; only audit-scale inputs
    * stop paying 32x fixed costs for KB-scale state. The partition count
    * never changes a stateful operator's RESULT (state is keyed; fewer
    * partitions only co-locate more keys per store), and each bench/verify
    * run births a fresh checkpoint, so the count is re-derived per run.
    */
  private val StatePartitionBytes: Long = 32L << 20

  /** Total bytes of the given source paths, resolved through the Hadoop
    * FileSystem API — the same resolution any cluster scheme (hdfs://,
    * s3a://, file:) goes through — NOT java.io.File, which reports 0 for
    * every non-local URI and would silently collapse all stateful streams
    * to one partition on a real cluster. None when a path is missing or
    * its filesystem cannot be reached: unknown size must keep the session
    * default, never downsize. */
  private[graft] def sourceBytes(paths: String*): Option[Long] = {
    val sums = paths.map { p =>
      try {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(graft.sources.LakeStore.sharedHconf)
        if (fs.exists(hp)) Some(fs.getContentSummary(hp).getLength) else None
      } catch { case _: Exception => None }
    }
    if (sums.exists(_.isEmpty)) None else Some(sums.flatten.sum)
  }

  /** The state-partition count for a stream over `paths`: byte-derived
    * (~[[StatePartitionBytes]] per partition) and clamped to
    * [1, sessionDefault]; the SESSION DEFAULT — not 1 — when the source
    * size is unknowable, so an unreachable or exotic filesystem degrades
    * to the configured parallelism rather than a serial stream. */
  private[graft] def derivedStatePartitions(sessionDefault: Long, paths: String*): Long =
    sourceBytes(paths: _*) match {
      case Some(bytes) if bytes > 0 =>
        math.min(sessionDefault,
          math.max(1L, (bytes + StatePartitionBytes - 1) / StatePartitionBytes))
      case _ => sessionDefault
    }

  /** Applies the derived count for the duration of one streaming run
    * (session-wide, see [[GraftSession.withConf]]). */
  private def withAdaptiveStreamShuffle[T](s: SparkSession, dir: String)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    // every streaming scenario in this registry streams a frame derived
    // from the events and/or documents base tables of this sf dir
    val n = derivedStatePartitions(s.conf.get(key).toLong,
      s"$dir/events.parquet", s"$dir/documents.parquet")
    GraftSession.withConf(s)(key -> n.toString)(body)
  }

  /** The state store the transformWithState queries (st09, st10, st12)
    * run on: the v2 state API needs RocksDB (column families). */
  private val RocksDbStateStore = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Hourly tumbling-window rollup, streamed: readStream → watermark +
    * window agg → foreachBatch sink (Complete mode, AvailableNow) — the
    * production exactly-once snapshot pattern: every micro-batch
    * overwrites the result directory with the full updated aggregate, so
    * a replayed batch lands idempotently and the LAST batch leaves the
    * final table. The checkpoint is recreated per run (full deterministic
    * replay — this is a correctness probe, not an incremental deployment;
    * the incremental path with a persistent checkpoint is
    * EventStream.runHourlyToFiles).
    *
    * Oracle: the batch q27 arithmetic (DATE_TRUNC + COUNT + DECIMAL-
    * routed SUM) over raw events — no sidecar, no restatement of the
    * streaming machinery. Hash equality means micro-batched incremental
    * aggregation == one-shot batch aggregation, bit for bit: the
    * decimal-routed sum makes the comparison exact, not rounded.
    *
    * Scale: state is O(active windows x event types) under the
    * watermark in an unbounded deployment; the bounded audit run retains
    * all windows (Complete), which at any sf is a few thousand rows.
    */
  def st01StreamHourly(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st01"
    deleteRecursively(java.nio.file.Paths.get(root))
    val q = EventStream.hourlyAgg(EventStream.readEvents(s, dir))
      .writeStream
      .outputMode(OutputMode.Complete)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        batch.write.mode("overwrite").parquet(s"$root/result")
      }
      .option("checkpointLocation", s"$root/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$root/result").orderBy(col("hour_start"), col("event_type"))
  }

  val st01Sql: String =
    """SELECT DATE_TRUNC('hour', ts) AS hour_start, event_type, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  /** Streaming exact dedup (first event per (user_id, minute)) run to
    * completion — dropDuplicatesWithinWatermark emits each key once on
    * first arrival and evicts its state when the watermark passes, so
    * the emitted KEY SET equals the batch DISTINCT regardless of how the
    * input splits into micro-batches. Only the key columns are emitted
    * (which duplicate wins is arbitrary), which is exactly what makes
    * the streaming result deterministic and batch-comparable. Memory
    * sink (append); the query name is salted per run so bench re-runs in
    * one session never collide.
    */
  def st02StreamDedup(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_st02_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.dedupedEvents(EventStream.readEvents(s, dir))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy(col("user_id"), col("minute"))
  }

  val st02Sql: String =
    """SELECT user_id, DATE_TRUNC('minute', ts) AS minute
      |FROM events GROUP BY 1, 2 ORDER BY user_id, minute""".stripMargin

  /** Stream-stream interval join run to completion — purchases matched
    * to the same user's clicks within the preceding hour, both sides
    * watermarked (EventStream.purchaseAfterClick: the bounded-state
    * join whose state store evicts rows older than the join window).
    * The batch oracle is the equivalent range join over raw events.
    *
    * Equivalence contract: the events data arrives as ONE parquet file,
    * so AvailableNow processes it as a single deterministic micro-batch
    * and no row can be watermark-late relative to another — the
    * streaming join emits exactly the batch join's pairs. (In an
    * unbounded deployment rows later than the watermark are DROPPED by
    * design; that divergence is the documented semantic of the
    * operator, not a bug this probe could hide.) Output keyed and
    * sorted on (p_id, c_id); p_value rides through unaggregated, so the
    * hash also audits that the join copies payload columns bit-for-bit.
    */
  def st03StreamJoin(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_st03_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.purchaseAfterClick(EventStream.readEvents(s, dir))
      .select(col("p_id"), col("c_id"), col("p_user"), col("p_value"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy(col("p_id"), col("c_id"))
  }

  val st03Sql: String =
    """SELECT p.event_id AS p_id, c.event_id AS c_id,
      |  p.user_id AS p_user, p.value AS p_value
      |FROM events p JOIN events c
      |  ON p.event_type = 'purchase' AND c.event_type = 'click'
      |  AND p.user_id = c.user_id
      |  AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
      |ORDER BY p_id, c_id""".stripMargin

  /** Streaming session windows (30-min gap, append mode) run to
    * completion, published for the CLOSED-HORIZON region only: append
    * mode emits a session once the watermark passes its end, and the
    * bounded run's final watermark is max(ts) - 2h — so sessions ending
    * near the stream's end are legitimately still open and unemitted.
    * Rather than pin the engine's exact close boundary (a fragile
    * hash contract), both sides filter to session_end < max(ts) - 3h:
    * strictly inside the closed region with an hour of margin, where
    * streaming emission is GUARANTEED and equals the batch
    * gaps-and-islands derivation exactly (q34's strict-gap convention;
    * session end = last event + gap, Spark's session_window semantics).
    * StreamingSpec separately covers the open-horizon boundary subset
    * checks; this row turns the closed region into a hash contract.
    */
  def st04StreamSessions(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_st04_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.readEvents(s, dir)
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val cut = graft.Tables.events(s, dir)
      .agg((max(col("ts")) - expr("INTERVAL 3 HOURS")).as("cut"))
    s.table(name)
      .crossJoin(broadcast(cut))
      .filter(col("session_end") < col("cut"))
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .orderBy(col("user_id"), col("session_start"))
  }

  val st04Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |    SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g),
      |per AS (
      |  SELECT user_id, MIN(ts) AS session_start,
      |    MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
      |  FROM sess GROUP BY user_id, session_id),
      |cut AS (SELECT MAX(ts) - INTERVAL 3 HOUR AS c FROM events)
      |SELECT user_id, session_start, session_end, n_events
      |FROM per JOIN cut ON TRUE
      |WHERE session_end < cut.c
      |ORDER BY user_id, session_start""".stripMargin

  /** STATELESS streaming transform — the remaining equivalence class
    * (st01/st04 cover stateful aggregation, st02 stateful dedup, st03
    * join state): a pure filter+project over the unbounded documents
    * source, the shape of a live ingest quality gate. Stateless
    * operators are exactly-once trivially (no state store, no
    * watermark), so append emission equals the batch predicate on ANY
    * micro-batch split — the hash contract here needs no single-batch
    * caveat at all. Token counting uses p10's convention. */
  def st05StreamFilter(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_st05_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.streaming.CorpusStream.readDocuments(s, dir)
      .withColumn("n_toks",
        size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"), lit(0))).cast("long"))
      .filter(col("n_toks") >= 10 && col("lang").isin("en", "de"))
      .select(col("doc_id"), col("source"), col("n_toks"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy(col("doc_id"))
  }

  val st05Sql: String =
    """SELECT doc_id, source,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS n_toks
      |FROM documents
      |WHERE len(regexp_extract_all(text, '[A-Za-z0-9]+')) >= 10
      |  AND lang IN ('en', 'de')
      |ORDER BY doc_id""".stripMargin

  /** Streaming INCREMENTAL VIEW MAINTENANCE — the stream twin of p18's
    * batch IVM algebra, and the missing equivalence class after
    * st01–st05 (st01 proves windowed state aggregation; this proves the
    * foreachBatch MERGE pattern every production MV deployment actually
    * uses): the corpus arrives as a sequence of file drops, and each
    * micro-batch folds ONLY its own delta into the persisted rollup —
    * new_mv = old_mv (+) delta(batch), O(|MV| + |batch|) per trigger,
    * never a corpus rescan.
    *
    * The input is deliberately split into 8 arrival files and streamed
    * with maxFilesPerTrigger = 1, so the run exercises 8 REAL sequential
    * merges (a single-batch run would prove nothing about the algebra).
    * Each merge writes a NEW versioned directory keyed by batchId —
    * a replayed batch overwrites its own version, the exactly-once
    * idempotence pattern — and the final version is published.
    *
    * Oracle: the one-shot batch rollup over raw documents. Hash equality
    * says 8 incremental merges land bit-for-bit on the batch answer no
    * matter how the rows split across arrivals (counts and character
    * masses are associative/commutative int64 — the same reason the
    * production MERGE INTO is safe under arbitrary micro-batching).
    */
  def st06StreamIncrementalMv(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st06"
    deleteRecursively(java.nio.file.Paths.get(root))
    graft.Tables.documents(s, dir).repartition(8)
      .write.mode("overwrite").parquet(s"$root/arrivals")
    val latest = new java.util.concurrent.atomic.AtomicReference[String](null)
    val q = s.readStream.schema(graft.streaming.CorpusStream.docSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/arrivals")
      .writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val delta = batch.groupBy(col("source")).agg(
          count(lit(1)).as("dn"),
          sum(length(col("text")).cast("long")).as("dc"))
        val prev = latest.get()
        val merged =
          if (prev == null)
            delta.select(col("source"), col("dn").as("n_docs"), col("dc").as("sum_chars"))
          else s.read.parquet(prev)
            .join(delta, Seq("source"), "full_outer")
            .select(col("source"),
              (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_docs"),
              (coalesce(col("sum_chars"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("sum_chars"))
        merged.write.mode("overwrite").parquet(s"$root/mv_$id")
        latest.set(s"$root/mv_$id")
      }
      .option("checkpointLocation", s"$root/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(latest.get()).orderBy(col("source"))
  }

  val st06Sql: String =
    """SELECT source, COUNT(*) AS n_docs, CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  /** WATERMARK LATE-DATA SEMANTICS — the one streaming behavior st01–st06
    * deliberately avoid (their equivalence contracts arrange for nothing
    * to be late): here lateness is CONSTRUCTED and the oracle audits the
    * drop rule itself. The corpus is split into an on-time arrival (all
    * events except a deterministic late set) and a second arrival of
    * stragglers more than 3 hours behind the stream's head; file mtimes
    * force the arrival order, maxFilesPerTrigger = 1 makes them two real
    * micro-batches.
    *
    * The arrival sequence is THREE batches, because Spark's drop rule is
    * eviction-scoped (measured on 4.1: a straggler whose window is still
    * live in the state store is MERGED, not dropped — `droppedByWatermark`
    * counts only rows for windows already finalized; the "may be dropped"
    * hedge in the Spark docs is this exact behavior):
    *   - batch 0: all on-time rows — the watermark advances to
    *     head - 1h at commit;
    *   - batch 1: a single synthetic TICK row inside the head (still-
    *     open) window — it carries no observable weight (that window is
    *     never emitted) and exists to run an eviction cycle: every
    *     window with end <= head - 1h is finalized and emitted here;
    *   - batch 2: the stragglers — their windows are now finalized, so
    *     every row is dropped before touching state (the state-bound
    *     contract that makes streaming aggregation feasible: state is
    *     O(live windows), never O(history)).
    *
    * The oracle restates the semantic in batch SQL: hourly rollup over
    * the on-time rows only, restricted to closed windows. An engine that
    * leaked a straggler into a finalized window, or emitted an unclosed
    * window, hash-mismatches. (In an unbounded deployment dropping
    * stragglers is the documented cost of bounded state; the pipeline
    * answer to stragglers is st06's IVM merge, not unbounded watermarks.)
    */
  def st07WatermarkLateData(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st07"
    deleteRecursively(java.nio.file.Paths.get(root))
    val ev = graft.Tables.events(s, dir)
    val mx = ev.agg(max(col("ts")).as("mx"))
    val tagged = ev.crossJoin(broadcast(mx))
      .withColumn("is_late",
        col("user_id") % 19 === 7 && col("ts") < col("mx") - expr("INTERVAL 3 HOURS"))
    val evCols = ev.columns.map(col)
    // three independent staging writes over disjoint slices — submitted
    // concurrently (guide §2.6) so the wall cost is one write, not three;
    // arrival order is forced by the mtimes stamped at publish below
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val stages = Seq(
      () => tagged.filter(!col("is_late")).select(evCols: _*)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/stage_ontime"),
      // the eviction tick: one row AT the stream head — its window is never
      // emitted (end > head - 1h), so it is observationally inert; its batch
      // exists only to run an eviction cycle between on-time and stragglers
      () => ev.crossJoin(broadcast(mx)).filter(col("ts") === col("mx")).limit(1)
        .withColumn("event_id", lit(-1L))
        .select(evCols: _*)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/stage_tick"),
      () => tagged.filter(col("is_late")).select(evCols: _*)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/stage_late"))
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(
        stages.map(f => scala.concurrent.Future(f()))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    // one arrivals dir, mtime-ordered: FileStreamSource picks files
    // oldest-first, so the order on-time -> tick -> stragglers is forced
    val arrivals = new java.io.File(s"$root/arrivals")
    arrivals.mkdirs()
    def publish(stage: String, name: String, mtime: Long): java.io.File = {
      val part = new java.io.File(s"$root/$stage").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(arrivals, name)
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime)
      dst
    }
    val now = System.currentTimeMillis()
    val first = publish("stage_ontime", "arrival_0_ontime.parquet", now - 240000L)
    publish("stage_tick", "arrival_1_tick.parquet", now - 120000L)
    publish("stage_late", "arrival_2_late.parquet", now)
    val name = "graft_st07_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.schema(s.read.parquet(first.getPath).schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(arrivals.getPath)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(30, 2))).cast(DoubleType).as("total_value"))
      .select(col("window.start").as("hour_start"), col("n"), col("total_value"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy(col("hour_start"))
  }

  /** The watermark semantic in batch form: on-time rows only (the drop
    * rule), closed windows only (the append-emission rule). */
  val st07Sql: String =
    """WITH m AS (SELECT MAX(ts) AS mx FROM events),
      |ot AS (
      |  SELECT e.* FROM events e CROSS JOIN m
      |  WHERE NOT (user_id % 19 = 7 AND ts < mx - INTERVAL 3 HOUR)),
      |agg AS (
      |  SELECT DATE_TRUNC('hour', ts) AS hour_start, COUNT(*) AS n,
      |    CAST(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS total_value
      |  FROM ot GROUP BY 1)
      |SELECT hour_start, n, total_value FROM agg CROSS JOIN m
      |WHERE hour_start + INTERVAL 1 HOUR <= mx - INTERVAL 1 HOUR
      |ORDER BY hour_start""".stripMargin

  /** Stream-STATIC enrichment join run to completion — the purchase
    * stream joined per micro-batch against the static (broadcastable)
    * customer dimension, rolled up to hourly revenue per market segment
    * (EventStream.enrichedBySegment — the live-dashboard shape; no
    * state is kept for the static side, so dimension updates surface
    * between batches in an unbounded deployment). StreamingSpec pins
    * the stream == batch equivalence in-JVM; this row puts it under
    * the driver's cross-engine oracle hash: the batch join + DECIMAL-
    * routed rollup over raw events ⨝ customer must match the streamed
    * result bit for bit — including that the join neither drops nor
    * duplicates stream rows against the dimension.
    */
  def st08StreamEnrich(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_st08_" + java.util.UUID.randomUUID().toString.replace("-", "")
    EventStream.runEnriched(s, dir, name)
      .orderBy(col("hour_start"), col("c_mktsegment"))
  }

  val st08Sql: String =
    """SELECT DATE_TRUNC('hour', ts) AS hour_start, c_mktsegment,
      |  COUNT(*) AS n_purchases,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM events JOIN customer ON user_id = c_custkey
      |WHERE event_type = 'purchase'
      |GROUP BY 1, 2 ORDER BY hour_start, c_mktsegment""".stripMargin

  /** Spark 4 ARBITRARY-STATE V2 (transformWithState) run to completion —
    * per-user running totals kept in a typed ValueState cell by
    * [[graft.streaming.UserTotalsProcessor]], fed 4 REAL sequential
    * micro-batches (arrival files + maxFilesPerTrigger = 1, the st06
    * discipline — a single batch would never read state back), RocksDB
    * state store as the API requires. Update-mode emissions land in a
    * memory sink; the published frame is each key's LAST emission
    * (n_events is strictly monotone per key, so max(struct) selects
    * it deterministically).
    *
    * Oracle: the batch per-user rollup over raw events. Hash equality =
    * state survives and accumulates correctly across batch boundaries
    * through the new API, with int64 cents arithmetic making the
    * comparison exact.
    */
  def st09TransformWithState(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    import s.implicits._
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st09"
    deleteRecursively(java.nio.file.Paths.get(root))
    graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$root/arrivals")
    val schema = s.read.parquet(s"$root/arrivals").schema
    GraftSession.withConf(s)(RocksDbStateStore) {
      val name = "graft_st09_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/arrivals")
        .as[graft.streaming.EvRow]
        .groupByKey(_.user_id)
        .transformWithState(new graft.streaming.UserTotalsProcessor(),
          TimeMode.None(), OM.Update())
        .writeStream
        .outputMode(OM.Update())
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$root/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("purchase_cents"))).as("m"))
        .select(col("user_id"), col("m.n_events").as("n_events"),
          col("m.purchase_cents").as("purchase_cents"))
        .orderBy(col("user_id"))
    }
  }

  val st09Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'purchase'
      |    THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS purchase_cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** TIMER-driven custom sessionization on the v2 state API
    * ([[graft.streaming.TimerSessionProcessor]]) — the watermark-
    * reactive half of transformWithState that st09's input-reactive
    * totals don't touch: sessions close when the WATERMARK passes
    * their horizon (an event-time timer), not when input arrives.
    *
    * Arrivals are split into four TIME-RANGE files published
    * oldest-first (st07's mtime discipline), so the watermark advances
    * batch over batch and no row is ever late: after the third batch
    * the watermark sits near max_ts - 6h - 2h = max_ts - 8h, which is
    * why every session ending before the published max_ts - 9h cut is
    * GUARANTEED to have had its timer fire by the final batch (timers
    * fire against the previous batch's watermark — the 1h margin
    * absorbs that lag). Sessions past the cut may or may not have
    * closed — exactly st04's open-horizon boundary, excluded the same
    * way on both sides of the oracle.
    *
    * Oracle: the st04 gaps-and-islands restatement with the 9h cut —
    * a timer-assembled session list hash-equal to batch sessionization
    * is the strongest contract this API surface can state.
    */
  /** Split a ts-carrying frame into four TIME-RANGE arrival files
    * published oldest-first via mtimes (st07's discipline): batches then
    * respect global event-time order, the watermark advances batch over
    * batch, and no row is ever late. Returns the arrivals dir. */
  private def stageTimeRanged(s: SparkSession, df: DataFrame, root: String): String = {
    val mx = df.agg(max(col("ts")).as("mx"))
    val outCols = df.columns.map(col)
    val staged = df.crossJoin(broadcast(mx))
      .withColumn("stage",
        when(col("ts") < col("mx") - expr("INTERVAL 18 HOURS"), 0)
          .when(col("ts") < col("mx") - expr("INTERVAL 12 HOURS"), 1)
          .when(col("ts") < col("mx") - expr("INTERVAL 6 HOURS"), 2)
          .otherwise(3))
    val arrivals = new java.io.File(s"$root/arrivals")
    arrivals.mkdirs()
    val now = System.currentTimeMillis()
    // the four stage writes are independent single-task jobs over disjoint
    // slices — submit them concurrently (guide §2.6: actions are only
    // sequential because driver code calls them sequentially) so the wall
    // cost is one write, not four; arrival ORDER is still forced by the
    // deterministic mtimes each future stamps, never by publish order
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (0 to 3).map { stage =>
      scala.concurrent.Future {
        val dirS = s"$root/stage_$stage"
        staged.filter(col("stage") === stage).select(outCols: _*)
          .coalesce(1).write.mode("overwrite").parquet(dirS)
        val part = new java.io.File(dirS).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(arrivals, f"arrival_$stage.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(now - (3 - stage) * 120000L)
      }
    }
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futs),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    arrivals.getPath
  }

  def st10TimerSessions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    import s.implicits._
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st10"
    deleteRecursively(java.nio.file.Paths.get(root))
    val ev = graft.Tables.events(s, dir).select(col("user_id"), col("ts"))
    val mx = ev.agg(max(col("ts")).as("mx"))
    stageTimeRanged(s, ev, root)
    GraftSession.withConf(s)(RocksDbStateStore) {
      val name = "graft_st10_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream
        .schema(s.read.parquet(s"$root/arrivals").schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$root/arrivals")
        .withWatermark("ts", "2 hours")
        .as[graft.streaming.SessEvent]
        .groupByKey(_.user_id)
        .transformWithState(new graft.streaming.TimerSessionProcessor(),
          TimeMode.EventTime(), OM.Append())
        .writeStream
        .outputMode(OM.Append())
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$root/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
        .crossJoin(broadcast(mx))
        .filter(col("session_end") < col("mx") - expr("INTERVAL 9 HOURS"))
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .orderBy(col("user_id"), col("session_start"))
    }
  }

  /** st04's gaps-and-islands restatement at the 9h closed-horizon cut. */
  val st10Sql: String =
    """WITH g AS (
      |  SELECT user_id, ts, event_id,
      |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      |  FROM events),
      |sess AS (
      |  SELECT user_id, ts,
      |    SUM(CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM g),
      |per AS (
      |  SELECT user_id, MIN(ts) AS session_start,
      |    MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
      |  FROM sess GROUP BY user_id, session_id),
      |cut AS (SELECT MAX(ts) - INTERVAL 9 HOUR AS c FROM events)
      |SELECT user_id, session_start, session_end, n_events
      |FROM per JOIN cut ON TRUE
      |WHERE session_end < cut.c
      |ORDER BY user_id, session_start""".stripMargin

  /** LEFT OUTER stream-stream join run to completion
    * (EventStream.purchaseLeftClick) — the remaining streaming join
    * mode after st03's inner form: purchases with NO qualifying click
    * emit with a null click id, released from state only when the
    * watermark proves no match can still arrive. The published region
    * is cut at max_ts - 6h (2h watermark delay + 1h join interval +
    * 3h flush-lag margin — outer-side null flushes trail the watermark
    * by up to a full trigger, and the margin also absorbs the min-over-
    * both-sides watermark lag the cut below keys off): below that
    * horizon every unmatched purchase has
    * PROVABLY been null-flushed, so matched and unmatched rows alike
    * hash against the batch LEFT JOIN restatement. Null ordering is
    * pinned NULLS FIRST on both sides (q78's cross-engine rule).
    */
  def st11OuterStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_st11_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = EventStream.purchaseLeftClick(EventStream.readEvents(s, dir))
      .select(col("p_id"), col("p_user"), col("p_ts"), col("p_value"), col("c_id"))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the query's watermark is min over BOTH sides' (max ts - 2h) —
    // the click stream's head can trail the purchase stream's, so the
    // closed-horizon cut must key off the LAGGING side's head
    val ev = graft.Tables.events(s, dir)
    val mx = ev.filter(col("event_type") === "purchase").agg(max(col("ts")).as("mp"))
      .crossJoin(ev.filter(col("event_type") === "click").agg(max(col("ts")).as("mc")))
      .select(least(col("mp"), col("mc")).as("mx"))
    s.table(name)
      .crossJoin(broadcast(mx))
      .filter(col("p_ts") < col("mx") - expr("INTERVAL 6 HOURS"))
      .select(col("p_id"), col("p_user"), col("p_value"), col("c_id"))
      .orderBy(col("p_id"), col("c_id").asc_nulls_first)
  }

  val st11Sql: String =
    """WITH p AS (SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts, value AS p_value
      |      FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT event_id AS c_id, user_id AS c_user, ts AS c_ts
      |      FROM events WHERE event_type = 'click'),
      |m AS (SELECT LEAST((SELECT MAX(p_ts) FROM p), (SELECT MAX(c_ts) FROM c)) AS mx)
      |SELECT p_id, p_user, p_value, c_id
      |FROM p CROSS JOIN m
      |LEFT JOIN c ON c_user = p_user AND c_ts <= p_ts
      |  AND c_ts >= p_ts - INTERVAL 1 HOUR
      |WHERE p_ts < mx - INTERVAL 6 HOUR
      |ORDER BY p_id, c_id NULLS FIRST""".stripMargin

  /** Streaming CDC UPSERT into the lake — foreachBatch composed with the
    * row-level-operation catalog's MERGE INTO (p29's machinery): each
    * micro-batch pre-aggregates its per-user delta and MERGEs it into
    * `graft_lake.user_state` (matched -> additive UPDATE, not matched ->
    * INSERT). This is the "state as a queryable TABLE" alternative to
    * st09's typed state cells: the accumulator lives in the lake, is
    * readable mid-stream by any other query, and survives the streaming
    * query — the Kappa/lakehouse sink pattern every production CDC
    * pipeline runs (Delta's foreachBatch-MERGE recipe, re-expressed on
    * the module-own catalog).
    *
    * Exactly-once: an additive MERGE is NOT naturally idempotent under
    * foreachBatch's at-least-once replay, so a batch-id high-water-mark
    * guard skips already-applied batches (the recipe's standard device;
    * StreamingRecoverySpec proves the replay scenario this guards). The
    * guard read and the merge land as two separate commits here — a
    * production catalog folds both into one atomic commit via the
    * table's own transaction log.
    *
    * Published: the final per-user state table, hash-equal to the batch
    * rollup — the accumulated MERGE chain lands bit-for-bit on the
    * one-shot answer (int64 cents, associative adds).
    */
  def st13StreamMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st13"
    deleteRecursively(java.nio.file.Paths.get(root))
    graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
      .repartition(4)
      .write.mode("overwrite").parquet(s"$root/arrivals")
    s.sql("DROP TABLE IF EXISTS graft_lake.user_state")
    s.sql("""CREATE TABLE graft_lake.user_state
            |(user_id BIGINT, n_events BIGINT, purchase_cents BIGINT)""".stripMargin)
    s.sql("DROP TABLE IF EXISTS graft_lake.user_state_meta")
    s.sql("CREATE TABLE graft_lake.user_state_meta (last_batch BIGINT)")
    val view = "st13_delta_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.schema(s.read.parquet(s"$root/arrivals").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$root/arrivals")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        val ss = batch.sparkSession
        val applied = ss.table("graft_lake.user_state_meta")
          .agg(max(col("last_batch"))).collect()(0)
        if (applied.isNullAt(0) || applied.getLong(0) < id) {
          batch.groupBy(col("user_id")).agg(
            count(lit(1)).as("dn"),
            sum(when(col("event_type") === "purchase", col("cents")).otherwise(0L)).as("dc"))
            .createOrReplaceTempView(view)
          ss.sql(s"""MERGE INTO graft_lake.user_state t USING $view s
                    |ON t.user_id = s.user_id
                    |WHEN MATCHED THEN UPDATE SET
                    |  n_events = t.n_events + s.dn,
                    |  purchase_cents = t.purchase_cents + s.dc
                    |WHEN NOT MATCHED THEN
                    |  INSERT (user_id, n_events, purchase_cents)
                    |  VALUES (s.user_id, s.dn, s.dc)""".stripMargin)
          ss.sql(s"INSERT INTO graft_lake.user_state_meta VALUES ($id)")
        }
        ()
      }
      .option("checkpointLocation", s"$root/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("graft_lake.user_state").orderBy(col("user_id"))
  }

  val st13Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'purchase'
      |    THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS purchase_cents
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** MapState TRANSITION counting on the v2 state API — the third typed
    * state cell after st09 (ValueState) and st10 (ListState + timers):
    * per user, a ValueState carries the last event across batch
    * boundaries and a MapState accumulates "prev->curr" transition
    * counts ([[graft.streaming.TransitionProcessor]]); arrivals are
    * time-range staged so concatenated batches preserve each user's
    * global (ts, event_id) order, making the counted transitions
    * deterministic. Published as the corpus-level Markov transition
    * matrix (per-user finals summed); oracle = the batch LAG
    * restatement — a cross-batch stateful walk landing bit-for-bit on
    * the one-shot window answer.
    */
  def st12TransitionCounts(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode}
    import s.implicits._
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st12"
    deleteRecursively(java.nio.file.Paths.get(root))
    val ev = graft.Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val arrivals = stageTimeRanged(s, ev, root)
    GraftSession.withConf(s)(RocksDbStateStore) {
      val name = "graft_st12_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = s.readStream
        .schema(s.read.parquet(arrivals).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals)
        .as[graft.streaming.TsEvent]
        .groupByKey(_.user_id)
        .transformWithState(new graft.streaming.TransitionProcessor(),
          TimeMode.None(), OM.Update())
        .writeStream
        .outputMode(OM.Update())
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$root/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // per (user, transition) counts are monotone across emissions, so
      // max = the final state; then the corpus-level matrix
      s.table(name)
        .groupBy(col("user_id"), col("prev_type"), col("event_type"))
        .agg(max(col("n")).as("n"))
        .groupBy(col("prev_type"), col("event_type"))
        .agg(sum(col("n")).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("prev_type"), col("event_type"))
    }
  }

  val st12Sql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM ordered WHERE prev_type IS NOT NULL
      |GROUP BY 1, 2 ORDER BY prev_type, event_type""".stripMargin

  /** Streaming CHANGE DATA FEED — the lake's commit log consumed as a
    * STREAM (Delta CDF's readStream shape on the module-own catalog):
    * the `_log` directory is itself a file stream (one JSON document
    * per commit, arriving in version order), so `readStream` over it
    * with a foreachBatch consumer turns every committed maintenance
    * statement into an incremental CDC delivery. Each micro-batch
    * parses the commit version from the log file name, skips
    * non-data commits (create / metadata-only / OPTIMIZE — the
    * dataChange=false contract), and materializes that commit's
    * row-level changes via the SAME metadata-planned diff p36 uses
    * batch-side ([[graft.sources.GraftLake.changes]] v-1 -> v, touched
    * partitions only).
    *
    * The scenario replays p36's maintenance window COMMIT BY COMMIT:
    * retention DELETE in src3, re-crawl UPDATE in src7, new-slice
    * append into src11 — three sequential data commits, each delivered
    * in its own micro-batch. Published: per commit, the classified
    * change counts and exact key checksum — hash-equal to the batch
    * restatement of the same three statements, which is the CDF
    * correctness contract: streaming the log must reveal EXACTLY the
    * per-commit deltas, no more (unchanged rows never appear), no
    * fewer (every touched key appears under its commit). */
  def st14ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st14"
    deleteRecursively(java.nio.file.Paths.get(root))
    val key = "graft_lake.change_feed"
    s.sql("DROP TABLE IF EXISTS graft_lake.change_feed")
    s.sql("""CREATE TABLE graft_lake.change_feed
            |(doc_id BIGINT, source STRING, n_chars BIGINT)
            |PARTITIONED BY (source)""".stripMargin)
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    docs.writeTo("graft_lake.change_feed").append() // v1: initial load
    s.sql("DELETE FROM graft_lake.change_feed WHERE source = 'src3' AND n_chars < 250") // v2
    s.sql("UPDATE graft_lake.change_feed SET n_chars = n_chars + 1000 WHERE source = 'src7'") // v3
    docs.filter(col("source") === "src11")
      .withColumn("doc_id", col("doc_id") + 100000L)
      .writeTo("graft_lake.change_feed").append() // v4: new crawl slice
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long, Long)]()
    val q = s.readStream.format("text")
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.json")
      .load(graft.sources.GraftLake.commitLogDir(key))
      .select(col("value"), col("_metadata.file_path").as("path"))
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val ss = batch.sparkSession
        batch.collect().foreach { r => // one commit document per file
          val v = r.getString(1).split('/').last.stripSuffix(".json").toLong
          val isData = r.getString(0).contains("\"dataChange\":true")
          if (v >= 1 && isData) {
            graft.sources.GraftLake.changes(ss, key, (v - 1).toInt, v.toInt, "doc_id")
              .groupBy(col("change"))
              .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
              .collect()
              .foreach(c => buf.add((v, c.getString(0), c.getLong(1), c.getLong(2))))
          }
        }
        ()
      }
      .option("checkpointLocation", s"$root/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    import s.implicits._
    buf.iterator().asScala.toSeq.toDF("commit_v", "change", "n_keys", "sum_ids")
      .orderBy(col("commit_v"), col("change"))
  }

  val st14Sql: String =
    """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      |ch AS (
      |  SELECT 1 AS commit_v, 'I' AS change, doc_id FROM d
      |  UNION ALL
      |  SELECT 2, 'D', doc_id FROM d WHERE source = 'src3' AND n_chars < 250
      |  UNION ALL
      |  SELECT 3, 'U', doc_id FROM d WHERE source = 'src7'
      |  UNION ALL
      |  SELECT 4, 'I', doc_id + 100000 FROM d WHERE source = 'src11')
      |SELECT CAST(commit_v AS BIGINT) AS commit_v, change,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM ch GROUP BY commit_v, change ORDER BY commit_v, change""".stripMargin

  /** The lake table as a STREAMING SOURCE — `readStream.table` over the
    * module-own catalog (Delta's streaming-source shape, but as a REAL
    * DataSource-V2 [[graft.sources.LakeMicroBatchStream]], not a file
    * listing): offsets are commit versions, each micro-batch delivers
    * exactly the files appended in its version range (planned from
    * commit metadata — O(new files), never a table scan), and the
    * checkpoint carries delivery state ACROSS RUNS, the incremental-
    * consumer pattern: three separate `Trigger.AvailableNow` runs
    * against one checkpoint, with new appends (and one OPTIMIZE)
    * between them.
    *
    * The contract inside the hash: run 1 delivers the initial load and
    * nothing else; run 2 delivers ONLY the second append — the
    * interleaved OPTIMIZE's layout rewrite is invisible (dataChange=
    * false), and nothing from run 1 is re-delivered (exactly-once via
    * the checkpoint); run 3 delivers only the third append. Per run,
    * row counts and doc_id checksums are restated from the slice
    * definitions. Round9bOpsSpec additionally pins the loud failure on
    * non-append history (a DELETE poisons the stream, as in Delta). */
  def st15StreamLakeSource(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st15"
    deleteRecursively(java.nio.file.Paths.get(root))
    s.sql("DROP TABLE IF EXISTS graft_lake.stream_src")
    s.sql("""CREATE TABLE graft_lake.stream_src
            |(doc_id BIGINT, source STRING, n_chars BIGINT)
            |PARTITIONED BY (source)""".stripMargin)
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    def drain(run: Long): Unit = {
      val q = s.readStream.table("graft_lake.stream_src")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
          val r = batch.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)))
            .collect()(0)
          if (r.getLong(0) > 0) buf.add((run, r.getLong(0), r.getLong(1)))
          ()
        }
        .option("checkpointLocation", s"$root/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    docs.filter(col("doc_id") % 3 === 0).writeTo("graft_lake.stream_src").append() // v1
    drain(1) // delivers the initial load
    docs.filter(col("doc_id") % 3 === 1).writeTo("graft_lake.stream_src").append() // v2
    graft.sources.GraftLake.optimize(s, "graft_lake.stream_src", "doc_id", 2) // v3: invisible
    drain(2) // ONLY the v2 append; v1 not re-delivered
    docs.filter(col("doc_id") % 3 === 2).writeTo("graft_lake.stream_src").append() // v4
    drain(3) // ONLY the v4 append
    import scala.jdk.CollectionConverters._
    import s.implicits._
    buf.iterator().asScala.toSeq.toDF("run", "n_rows", "sum_ids")
      .groupBy(col("run"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_ids")).as("sum_ids"))
      .orderBy(col("run"))
  }

  val st15Sql: String =
    """WITH d AS (SELECT doc_id FROM documents)
      |SELECT CAST(run AS BIGINT) AS run, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM (
      |  SELECT 1 AS run, doc_id FROM d WHERE doc_id % 3 = 0
      |  UNION ALL SELECT 2, doc_id FROM d WHERE doc_id % 3 = 1
      |  UNION ALL SELECT 3, doc_id FROM d WHERE doc_id % 3 = 2)
      |GROUP BY run ORDER BY run""".stripMargin

  /** Streaming CHANGE-FEED SOURCE — `readStream.table("<t>.changes")`,
    * the Delta CDF `readChangeFeed` shape as a real DataSource-V2
    * micro-batch source ([[graft.sources.LakeCdfMicroBatchStream]]):
    * where the plain lake source (st15) correctly POISONS on any
    * non-append data commit, this one streams every data commit as
    * row-level deltas — which is what makes a lake table with
    * row-level deletes consumable incrementally at all. Offsets are
    * commit versions; each batch is planned from commit metadata plus
    * ONLY the files the commit touched: added files deliver `I` rows,
    * a merge-on-read commit's new deletion-vector positions deliver
    * `D` rows read INCLUDE-MODE straight out of the untouched data
    * file — O(deleted positions), never a rewrite or a table diff.
    *
    * The scenario is the MoR maintenance window end-to-end: initial
    * load (v1), merge-on-read retention DELETE (v2: positions only),
    * merge-on-read re-score UPDATE (v3: D+I pairs), OPTIMIZE (v4 —
    * dataChange=false, must deliver NOTHING), new crawl slice (v5).
    * The consumer nets per (version, key) — D+I with differing
    * payload = U, the Delta-CDF net semantics — and the oracle
    * restates every commit from the corpus: hash-equality IS the
    * contract that the streamed feed reveals exactly the per-commit
    * row-level history, OPTIMIZE invisible, nothing re-delivered. */
  def st16StreamChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st16"
    deleteRecursively(java.nio.file.Paths.get(root))
    s.sql("DROP TABLE IF EXISTS graft_lake.cdf_src")
    s.sql("""CREATE TABLE graft_lake.cdf_src
            |(doc_id BIGINT, source STRING, n_chars BIGINT)
            |PARTITIONED BY (source)
            |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    docs.writeTo("graft_lake.cdf_src").append() // v1: initial load
    s.sql("DELETE FROM graft_lake.cdf_src WHERE source = 'src3' AND n_chars < 250") // v2: MoR positions
    s.sql("UPDATE graft_lake.cdf_src SET n_chars = n_chars + 1000 WHERE source = 'src7'") // v3: MoR D+I
    graft.sources.GraftLake.optimize(s, "graft_lake.cdf_src", "doc_id", 2) // v4: invisible
    docs.filter(col("source") === "src11")
      .withColumn("doc_id", col("doc_id") + 100000L)
      .writeTo("graft_lake.cdf_src").append() // v5: new crawl slice
    // stream the feed to a parquet landing zone (distributed end to end;
    // the netting below is a bounded aggregation over TOUCHED rows only)
    val q = s.readStream.table("graft_lake.cdf_src.changes")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        batch.write.mode("append").parquet(s"$root/feed"); ()
      }
      .option("checkpointLocation", s"$root/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // Delta-CDF net semantics per (commit, key): D-only = delete,
    // I-only = insert, D+I differing payload = update, D+I identical =
    // carry-over (copy-on-write file granularity) — dropped
    val feed = s.read.parquet(s"$root/feed")
    feed.groupBy(col("_commit_version").as("commit_v"), col("doc_id"))
      .agg(
        sum(when(col("_change") === "I", 1L).otherwise(0L)).as("n_i"),
        sum(when(col("_change") === "D", 1L).otherwise(0L)).as("n_d"),
        max(when(col("_change") === "I", struct(col("source"), col("n_chars")))).as("post"),
        max(when(col("_change") === "D", struct(col("source"), col("n_chars")))).as("pre"))
      .withColumn("change",
        when(col("n_d") > 0 && col("n_i") > 0 && !(col("post") <=> col("pre")), lit("U"))
          .when(col("n_d") > 0 && col("n_i") > 0, lit(null))
          .when(col("n_d") > 0, lit("D"))
          .otherwise(lit("I")))
      .filter(col("change").isNotNull)
      .groupBy(col("commit_v"), col("change"))
      .agg(count(lit(1)).as("n_keys"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("commit_v"), col("change"))
  }

  val st16Sql: String =
    """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
      |ch AS (
      |  SELECT 1 AS commit_v, 'I' AS change, doc_id FROM d
      |  UNION ALL
      |  SELECT 2, 'D', doc_id FROM d WHERE source = 'src3' AND n_chars < 250
      |  UNION ALL
      |  SELECT 3, 'U', doc_id FROM d WHERE source = 'src7'
      |  UNION ALL
      |  SELECT 5, 'I', doc_id + 100000 FROM d WHERE source = 'src11')
      |SELECT CAST(commit_v AS BIGINT) AS commit_v, change,
      |  CAST(COUNT(*) AS BIGINT) AS n_keys,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM ch GROUP BY commit_v, change ORDER BY commit_v, change""".stripMargin

  /** The lake as a native STREAMING SINK — `writeStream.toTable` onto
    * the module-own catalog (Delta's sink shape as a real DSv2
    * StreamingWrite, not a foreachBatch workaround): every micro-batch
    * appends through the SAME task-side writer as batch writes
    * (constraints, derived columns, bloom filters all enforced — no
    * second write path to audit), and each epoch commits EXACTLY ONCE:
    * the commit records `(queryId, epochId)` in the table properties,
    * so an engine retry of a committed epoch (crash between sink commit
    * and checkpoint advance) is recognized and dropped, the Delta
    * txn-version idempotence move (Round10OpsSpec pins the replay path
    * directly).
    *
    * The scenario is the incremental-ingest consumer inverted: corpus
    * slices arrive as files in a staging area; one streaming query
    * (filter + projection) runs THREE separate `Trigger.AvailableNow`
    * passes against one checkpoint with new arrivals between them. The
    * oracle restates the final table from the slice definitions —
    * hash-equality pins exactly-once across restarts (nothing
    * re-appended, nothing missed) AND the in-stream transform. */
  def st17StreamLakeSink(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st17"
    deleteRecursively(java.nio.file.Paths.get(root))
    s.sql("DROP TABLE IF EXISTS graft_lake.stream_sink")
    s.sql("""CREATE TABLE graft_lake.stream_sink
            |(doc_id BIGINT, source STRING, n_chars BIGINT)
            |PARTITIONED BY (source)""".stripMargin)
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val staging = s"$root/staging"
    def stage(slice: Int): Unit =
      docs.filter(col("doc_id") % 3 === slice)
        .write.mode("append").parquet(staging)
    def drain(): Unit = {
      val q = s.readStream
        .schema("doc_id BIGINT, source STRING, n_chars BIGINT")
        .parquet(staging)
        .filter(col("n_chars") >= 100L) // in-stream curation gate
        .withColumn("n_chars", col("n_chars") + 1L) // in-stream transform
        .writeStream
        .option("checkpointLocation", s"$root/_checkpoint")
        .trigger(Trigger.AvailableNow())
        .toTable("graft_lake.stream_sink")
      q.awaitTermination()
    }
    stage(0); drain() // run 1: first arrival
    stage(1); drain() // run 2: ONLY the new slice (checkpoint carries state)
    stage(2); drain() // run 3: ONLY the last slice
    s.table("graft_lake.stream_sink")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
        coalesce(sum(col("doc_id")), lit(0L)).as("sum_ids"))
      .orderBy(col("source"))
  }

  val st17Sql: String =
    """WITH d AS (SELECT doc_id, source, n_chars FROM documents WHERE n_chars >= 100)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars + 1) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  /** END-TO-END CDC REPLICATION — the pipeline the change-feed tier
    * exists for: a source lake table evolves through inserts, a
    * dependency-touching UPDATE and a merge-on-read DELETE; one
    * streaming query consumes `<src>.changes` and applies every commit
    * into a REPLICA table via MERGE (Delta's replication recipe:
    * readChangeFeed → foreachBatch MERGE). The apply step nets the raw
    * file-granular feed per key at its LATEST version in the batch —
    * any I at that version is the final payload (copy-on-write
    * carry-over D+I pairs collapse idempotently), a D without an I is a
    * delete — so ordering is per-batch-sequential + last-version-wins,
    * and every step (feed read, netting, MERGE) is distributed and
    * bounded by TOUCHED rows, never table size.
    *
    * Inside the hash: the replica's aggregates restated from first
    * principles PLUS two anti-join counts (replica \ source and
    * source \ replica, both 0) — the replica must equal the source
    * bit-for-bit, or the row fails. */
  def st18CdcReplication(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st18"
    deleteRecursively(java.nio.file.Paths.get(root))
    s.sql("DROP TABLE IF EXISTS graft_lake.cdc_rep_src")
    s.sql("DROP TABLE IF EXISTS graft_lake.cdc_replica")
    s.sql("""CREATE TABLE graft_lake.cdc_rep_src (doc_id BIGINT, n_chars BIGINT)
            |TBLPROPERTIES ('graft.merge-on-read' = 'true')""".stripMargin)
    s.sql("CREATE TABLE graft_lake.cdc_replica (doc_id BIGINT, n_chars BIGINT)")
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    docs.filter(col("doc_id") % 2 === 0).writeTo("graft_lake.cdc_rep_src").append() // v1
    s.sql("UPDATE graft_lake.cdc_rep_src SET n_chars = n_chars + 10 WHERE doc_id % 10 = 0") // v2
    s.sql("DELETE FROM graft_lake.cdc_rep_src WHERE doc_id % 14 = 0") // v3: MoR positions
    docs.filter(col("doc_id") % 2 === 1).writeTo("graft_lake.cdc_rep_src").append() // v4
    val view = "st18_net_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = s.readStream.table("graft_lake.cdc_rep_src.changes")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val ss = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        val latest = batch
          .withColumn("maxv",
            max(col("_commit_version")).over(Window.partitionBy(col("doc_id"))))
          .filter(col("_commit_version") === col("maxv"))
        latest.groupBy(col("doc_id"))
          .agg(max(when(col("_change") === "I", struct(col("n_chars")))).as("post"))
          .createOrReplaceTempView(view)
        ss.sql(s"""MERGE INTO graft_lake.cdc_replica t USING $view s
                  |ON t.doc_id = s.doc_id
                  |WHEN MATCHED AND s.post IS NULL THEN DELETE
                  |WHEN MATCHED THEN UPDATE SET t.n_chars = s.post.n_chars
                  |WHEN NOT MATCHED AND s.post IS NOT NULL THEN
                  |  INSERT (doc_id, n_chars) VALUES (s.doc_id, s.post.n_chars)""".stripMargin)
        ()
      }
      .option("checkpointLocation", s"$root/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val src = s.table("graft_lake.cdc_rep_src").select("doc_id", "n_chars")
    val rep = s.table("graft_lake.cdc_replica").select("doc_id", "n_chars")
    val extra = rep.exceptAll(src).count()
    val missing = src.exceptAll(rep).count()
    rep.agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("sum_chars"),
        sum(col("doc_id")).as("sum_ids"))
      .withColumn("replica_minus_src", lit(extra))
      .withColumn("src_minus_replica", lit(missing))
  }

  val st18Sql: String =
    """WITH fin AS (
      |  SELECT doc_id,
      |    n_chars + (CASE WHEN doc_id % 10 = 0 THEN 10 ELSE 0 END) AS n_chars
      |  FROM documents WHERE doc_id % 2 = 0 AND doc_id % 14 <> 0
      |  UNION ALL
      |  SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 1)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
      |  CAST(0 AS BIGINT) AS replica_minus_src,
      |  CAST(0 AS BIGINT) AS src_minus_replica
      |FROM fin""".stripMargin

  /** RATE-LIMITED STREAMING SOURCE — Delta's `maxFilesPerTrigger` as
    * DSv2 admission control ([[graft.sources.LakeMicroBatchStream]]
    * `SupportsAdmissionControl`): the option caps how many appended
    * FILES a micro-batch admits, at COMMIT granularity (a commit never
    * splits across batches — exactly-once offsets stay versions), with
    * a progress guarantee (one data commit always admits). Three
    * one-file appends land BEFORE the stream starts; an unlimited drain
    * would deliver all of them as one catch-up batch, the rate-limited
    * drain delivers exactly one commit per batch — the difference
    * between a 100 TB backfill arriving as one giant batch and as
    * bounded, checkpointed increments.
    *
    * Inside the hash: one row per NON-EMPTY batch in delivery order —
    * each batch is exactly one append slice (its count and doc_id sum),
    * so the row count ITSELF (3, not 1) proves the rate limit split the
    * catch-up. */
  def st19StreamRateLimit(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st19"
    deleteRecursively(java.nio.file.Paths.get(root))
    s.sql("DROP TABLE IF EXISTS graft_lake.rl_src")
    s.sql("CREATE TABLE graft_lake.rl_src (doc_id BIGINT, n_chars BIGINT)")
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    // three commits of ONE file each, all before the stream starts
    (0 to 2).foreach { slice =>
      docs.filter(col("doc_id") % 3 === slice).coalesce(1)
        .writeTo("graft_lake.rl_src").append()
    }
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = s.readStream
      .option("maxFilesPerTrigger", "1")
      .table("graft_lake.rl_src")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val r = batch.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)))
          .collect()(0)
        if (r.getLong(0) > 0) buf.add((r.getLong(0), r.getLong(1)))
        ()
      }
      .option("checkpointLocation", s"$root/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    import s.implicits._
    buf.iterator().asScala.toSeq.zipWithIndex
      .map { case ((n, sm), i) => (i.toLong + 1L, n, sm) }
      .toDF("batch_seq", "n_rows", "sum_ids")
      .orderBy(col("batch_seq"))
  }

  val st19Sql: String =
    """SELECT CAST(batch_seq AS BIGINT) AS batch_seq,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      |FROM (
      |  SELECT 1 AS batch_seq, doc_id FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL SELECT 2, doc_id FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL SELECT 3, doc_id FROM documents WHERE doc_id % 3 = 2)
      |GROUP BY batch_seq ORDER BY batch_seq""".stripMargin

  /** `skipChangeCommits` (Delta's option) — the streaming source's
    * contract with NON-APPEND history: by default a rewrite commit
    * fails the stream LOUDLY (re-delivering re-landed files would
    * duplicate every carried-over row; silently skipping would hide
    * changes), and `skipChangeCommits=true` is the documented opt-out
    * that delivers appends only, letting UPDATE rewrites and p74
    * metadata deletes pass through invisibly. The scenario interleaves
    * three append slices with a copy-on-write UPDATE and a
    * metadata-only DELETE; the opted-in stream must deliver exactly
    * the three slices AS APPENDED (original values — the rewrite's
    * output files are change-commit cargo, not appends), and the
    * default stream over the same history must fail with the
    * append-only error. Both facts are inside the hash. */
  def st20SkipChangeCommits(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st20"
    deleteRecursively(java.nio.file.Paths.get(root))
    s.sql("DROP TABLE IF EXISTS graft_lake.scc_src")
    s.sql("""CREATE TABLE graft_lake.scc_src
            |(doc_id BIGINT, source STRING, n_chars BIGINT)
            |PARTITIONED BY (source)""".stripMargin)
    val docs = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    def appendSlice(m: Int): Unit =
      docs.filter(col("doc_id") % 3 === m).repartition(col("source"))
        .writeTo("graft_lake.scc_src").append()
    appendSlice(0) // v1
    s.sql("UPDATE graft_lake.scc_src SET n_chars = n_chars + 1000 WHERE source = 'src3'") // v2: COW rewrite
    appendSlice(1) // v3
    s.sql("DELETE FROM graft_lake.scc_src WHERE source = 'src5'") // v4: metadata delete (p74)
    appendSlice(2) // v5
    // opted-in stream: appends only, change commits pass invisibly
    val q = s.readStream
      .option("skipChangeCommits", "true")
      .table("graft_lake.scc_src")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"))
      .writeStream
      .format("memory").queryName("st20_scc")
      .outputMode("complete")
      .option("checkpointLocation", s"$root/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the default stream over the same history fails loudly
    val failed =
      try {
        val q2 = s.readStream.table("graft_lake.scc_src")
          .writeStream.format("noop")
          .option("checkpointLocation", s"$root/_checkpoint2")
          .trigger(Trigger.AvailableNow())
          .start()
        q2.awaitTermination()
        0L
      } catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          def causes(t: Throwable): Seq[Throwable] =
            if (t == null) Nil else t +: causes(t.getCause)
          if (causes(e).exists(c => c.isInstanceOf[UnsupportedOperationException] &&
            c.getMessage.contains("append-only"))) 1L else 0L
      }
    s.table("st20_scc")
      .withColumn("default_stream_failed", lit(failed))
      .orderBy(col("source"))
  }

  val st20Sql: String =
    """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(1 AS BIGINT) AS default_stream_failed
      |FROM documents
      |GROUP BY source ORDER BY source""".stripMargin

  /** STREAMING ACROSS SCHEMA EVOLUTION — Delta's contract for a table
    * that takes an `ALTER TABLE ADD COLUMN` while a stream is RUNNING:
    * the stream fails LOUDLY at exactly the evolution commit (silently
    * continuing would drop the new column's data from every batch with
    * no trace), the failure is lossless (the offset did not advance,
    * so nothing is skipped or doubled), and a RESTART — which re-reads
    * the table's now-current schema — resumes from the checkpoint and
    * delivers exactly the commits after it. `mergeSchema=true` is the
    * opt-in to continue under the stream's own schema until a restart.
    * The operational hit every long-running 100 TB ingest eventually
    * takes; the guard is [[graft.sources.LakeMicroBatchStream
    * .requireSchemaCompatible]].
    *
    * Inside the hash: rows delivered before the evolution, the loud
    * failure AND its exact commit boundary, the resumed drain
    * delivering ONLY the post-evolution append (no loss, no replay)
    * with the new column populated, and the mergeSchema twin stream
    * sailing through the same history uninterrupted. */
  def st21StreamSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = s"/tmp/graft_stream_${Sidecars.tag(dir)}/st21"
    deleteRecursively(java.nio.file.Paths.get(root))
    val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    def build(key: String): Unit = {
      s.sql(s"DROP TABLE IF EXISTS graft_lake.$key")
      s.sql(s"CREATE TABLE graft_lake.$key (doc_id BIGINT, n_chars BIGINT)")
      (0 to 1).foreach(m => docs.filter(col("doc_id") % 3 === m)
        .writeTo(s"graft_lake.$key").append()) // v1, v2
    }
    def evolve(key: String): Unit = {
      s.sql(s"ALTER TABLE graft_lake.$key ADD COLUMN lang STRING") // v3
      docs.filter(col("doc_id") % 3 === 2).withColumn("lang", lit("en"))
        .writeTo(s"graft_lake.$key").append() // v4
    }
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def sink(b: org.apache.spark.sql.Dataset[Row]): Unit = {
      val r = b.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))).collect()(0)
      if (r.getLong(0) > 0) buf.add((r.getLong(0), r.getLong(1)))
    }
    // ---- default contract: a running stream dies AT the alter commit
    build("sev_src")
    val q1 = s.readStream.table("graft_lake.sev_src")
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], _: Long) => sink(b))
      .option("checkpointLocation", s"$root/cp1")
      .start()
    q1.processAllAvailable() // v1 + v2 delivered, offset committed
    val phase1 = buf.iterator() // snapshot: (rows, sum) per batch so far
    var (p1Rows, p1Sum) = (0L, 0L)
    while (phase1.hasNext) { val (n, sm) = phase1.next(); p1Rows += n; p1Sum += sm }
    evolve("sev_src") // v3 = ALTER while the stream runs, v4 = new-col append
    val failMsg =
      try { q1.processAllAvailable(); "" }
      catch { case e: Throwable =>
        def causes(t: Throwable): Seq[Throwable] =
          if (t == null) Nil else t +: causes(t.getCause)
        causes(e).map(c => Option(c.getMessage).getOrElse(""))
          .find(_.contains("evolved at commit")).getOrElse("")
      } finally if (q1.isActive) q1.stop()
    val failedAtAlter = if (failMsg.nonEmpty) 1L else 0L
    val failedAtBoundary = if (failMsg.contains("evolved at commit 3")) 1L else 0L
    // ---- restart: the new stream reads the evolved schema and resumes
    // from the SAME checkpoint — exactly the post-alter commits deliver
    buf.clear()
    val resumedLang = new java.util.concurrent.atomic.AtomicLong(0L)
    val q2 = s.readStream.table("graft_lake.sev_src")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], _: Long) =>
        sink(b)
        resumedLang.addAndGet(b.filter(col("lang") === "en").count())
        ()
      }
      .option("checkpointLocation", s"$root/cp1")
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    var (rRows, rSum) = (0L, 0L)
    val it2 = buf.iterator()
    while (it2.hasNext) { val (n, sm) = it2.next(); rRows += n; rSum += sm }
    // ---- mergeSchema=true: the twin stream crosses the same history live
    build("sev_m")
    buf.clear()
    val q3 = s.readStream.option("mergeSchema", "true")
      .table("graft_lake.sev_m")
      .writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[Row], _: Long) => sink(b))
      .option("checkpointLocation", s"$root/cp3")
      .start()
    q3.processAllAvailable()
    evolve("sev_m")
    val merged =
      try { q3.processAllAvailable(); 1L } catch { case _: Throwable => 0L }
      finally if (q3.isActive) q3.stop()
    var (mRows, mSum) = (0L, 0L)
    val it3 = buf.iterator()
    while (it3.hasNext) { val (n, sm) = it3.next(); mRows += n; mSum += sm }
    import s.implicits._
    Seq((p1Rows, p1Sum, failedAtAlter, failedAtBoundary, rRows, rSum,
      resumedLang.get(), mRows, mSum, merged))
      .toDF("phase1_rows", "phase1_sum_ids", "failed_at_alter",
        "failed_at_commit3", "resumed_rows", "resumed_sum_ids",
        "resumed_lang_rows", "merge_rows", "merge_sum_ids",
        "merge_survived")
  }

  val st21Sql: String =
    """WITH ab AS (SELECT doc_id FROM documents WHERE doc_id % 3 < 2),
      |c AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2)
      |SELECT
      |  (SELECT COUNT(*) FROM ab) AS phase1_rows,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM ab) AS phase1_sum_ids,
      |  CAST(1 AS BIGINT) AS failed_at_alter,
      |  CAST(1 AS BIGINT) AS failed_at_commit3,
      |  (SELECT COUNT(*) FROM c) AS resumed_rows,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM c) AS resumed_sum_ids,
      |  (SELECT COUNT(*) FROM c) AS resumed_lang_rows,
      |  (SELECT COUNT(*) FROM documents) AS merge_rows,
      |  (SELECT CAST(SUM(doc_id) AS BIGINT) FROM documents) AS merge_sum_ids,
      |  CAST(1 AS BIGINT) AS merge_survived""".stripMargin

  /** Registry entries with STATEFUL streaming operators (agg / dedup /
    * join / transformWithState state stores) run under the adaptive
    * state-partition derivation (see [[withAdaptiveStreamShuffle]]): the
    * conf is set before the query function builds its streams and restored
    * after the result frame is constructed — the returned frame itself is
    * a batch read (memory table / parquet) whose later evaluation is
    * AQE-sized as usual. foreachBatch-consumer entries (st13–st17, st21)
    * stay UNWRAPPED: they hold no streaming state, their per-batch work is
    * real batch jobs (MERGEs, change materialization) that AQE already
    * right-sizes, and measurement showed the 1-partition floor serializing
    * that inner work (st15 4.9 s -> 7.7 s wrapped; see OPTIMIZATION_r17). */
  private def adaptive(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => withAdaptiveStreamShuffle(s, dir) { fn(s, dir) }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st21_stream_schema_evolution" -> (st21StreamSchemaEvolution _),
    "st20_skip_change_commits" -> adaptive(st20SkipChangeCommits _),
    "st19_stream_rate_limit" -> adaptive(st19StreamRateLimit _),
    "st18_cdc_replication" -> adaptive(st18CdcReplication _),
    "st17_stream_lake_sink" -> (st17StreamLakeSink _),
    "st16_stream_change_feed" -> (st16StreamChangeFeed _),
    "st15_stream_lake_source" -> (st15StreamLakeSource _),
    "st14_change_feed" -> (st14ChangeFeed _),
    "st13_stream_merge_upsert" -> (st13StreamMergeUpsert _),
    "st12_transition_counts" -> adaptive(st12TransitionCounts _),
    "st11_outer_stream_join" -> adaptive(st11OuterStreamJoin _),
    "st10_timer_sessions" -> adaptive(st10TimerSessions _),
    "st09_transform_with_state" -> adaptive(st09TransformWithState _),
    "st08_stream_enrich" -> adaptive(st08StreamEnrich _),
    "st07_watermark_late_data" -> adaptive(st07WatermarkLateData _),
    "st06_stream_incremental_mv" -> adaptive(st06StreamIncrementalMv _),
    "st01_stream_hourly" -> adaptive(st01StreamHourly _),
    "st02_stream_dedup" -> adaptive(st02StreamDedup _),
    "st03_stream_join" -> adaptive(st03StreamJoin _),
    "st04_stream_sessions" -> adaptive(st04StreamSessions _),
    "st05_stream_filter" -> adaptive(st05StreamFilter _))

  val oracle: Map[String, String] = Map(
    "st21_stream_schema_evolution" -> st21Sql,
    "st20_skip_change_commits" -> st20Sql,
    "st19_stream_rate_limit" -> st19Sql,
    "st18_cdc_replication" -> st18Sql,
    "st17_stream_lake_sink" -> st17Sql,
    "st16_stream_change_feed" -> st16Sql,
    "st15_stream_lake_source" -> st15Sql,
    "st14_change_feed" -> st14Sql,
    "st13_stream_merge_upsert" -> st13Sql,
    "st12_transition_counts" -> st12Sql,
    "st11_outer_stream_join" -> st11Sql,
    "st10_timer_sessions" -> st10Sql,
    "st09_transform_with_state" -> st09Sql,
    "st08_stream_enrich" -> st08Sql,
    "st07_watermark_late_data" -> st07Sql,
    "st06_stream_incremental_mv" -> st06Sql,
    "st01_stream_hourly" -> st01Sql,
    "st02_stream_dedup" -> st02Sql,
    "st03_stream_join" -> st03Sql,
    "st04_stream_sessions" -> st04Sql,
    "st05_stream_filter" -> st05Sql)
}
