package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators over `documents` — the core of any LLM training
  * data pipeline. Four tiers, all shuffle-frugal:
  *
  *  - exact: hash-groupBy on a canonical fingerprint (one shuffle on the
  *    16-byte hash, never on the text itself);
  *  - n-gram Jaccard: inverted-index self-join on shingles (shuffle on
  *    shingle hash — linear in total shingle count, never the O(n^2)
  *    cross join);
  *  - MinHash + LSH banding: constant-size signatures, candidate pairs only
  *    from shared bands (sub-linear candidate set);
  *  - SimHash: 60-bit sketch per doc, near-dups = small Hamming distance
  *    within band buckets.
  *
  * The reference has no dedup surface; this is the north-star tier
  * (SURVEY.md §7.2 step 9). Everything is built-in expressions (codegen'd);
  * shingle hashing is xxhash64 — Spark's native 64-bit hash — while d05's
  * per-token hash is an md5 prefix so the DuckDB oracle can reproduce it;
  * no UDFs anywhere.
  */
object DedupQueries {

  /** Canonicalization shared by the dedup family ([[graft.Tables.canonText]]).
    * One regex pass: a maximal run of non-alphanumerics (punctuation
    * and/or spaces) becomes a single space — byte-identical to the
    * two-pass strip-then-collapse the oracle SQL spells out (d01
    * hash-matches DuckDB), at half the regex cost over 100 TB of text. */
  private def canon(c: Column): Column = Tables.canonText(c)

  // ---------------------------------------------------------------- d01
  /** Exact dedup: group documents by content hash; emit one row per
    * distinct content with the keeper (min doc_id) and the duplicate count.
    * At 100 TB: shuffle carries only (hash, doc_id) — bytes per row, not
    * documents.
    */
  def d01ExactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), md5(canon(col("text"))).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keeper_doc_id"))

  val d01Sql: String =
    """SELECT md5(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h,
      |  MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin

  // ---------------------------------------------------------------- d02
  /** Distinct word 3-gram shingle set as a SQL expression over a `toks`
    * array column — the single shared builder for d03/d04.
    *
    * Guarded for short documents: Spark's sequence(1, 0) is the DESCENDING
    * array [1, 0] (not empty like DuckDB's generate_series), so an
    * unguarded transform would call element_at(toks, 0) (1-based; index 0
    * is an error) and crash on any document with fewer than 3 tokens.
    */
  private[operators] val shingleArrExpr: String =
    """if(size(toks) >= 3,
      |   array_distinct(transform(sequence(1, size(toks) - 2),
      |     i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))),
      |   cast(array() as array<string>))""".stripMargin

  /** doc_id, source, sh_arr (distinct 3-gram shingles; empty for <3-token
    * docs), n_sh. */
  private def shingleSets(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(s, dir))
      .withColumn("toks", split(canon(col("text")), " "))
      .withColumn("sh_arr", expr(shingleArrExpr))
      .select(col("doc_id"), col("source"), col("sh_arr"), size(col("sh_arr")).as("n_sh"))

  // ---------------------------------------------------------------- d03
  /** Exact n-gram Jaccard near-dup pairs (J >= 0.5) with PPJoin-style
    * prefix filtering:
    *
    *   1. per doc: the distinct shingle set (array) + its size n;
    *   2. rank each doc's shingles by ascending global frequency (rarest
    *      first, ties by value) — a deterministic global ordering;
    *   3. keep only each doc's prefix: the first n - ceil(t*n) + 1 shingles
    *      in that order. Two sets with Jaccard >= t MUST share a prefix
    *      shingle, so the candidate join runs on the (small, rare-skewed)
    *      prefix index instead of the full inverted index — the classic
    *      fix for the sum-over-shingles-of-count^2 blowup on common
    *      shingles;
    *   4. verify candidates exactly with array_intersect/array_union on
    *      the per-doc arrays (tens of elements each).
    *
    * Same result set as the naive inverted-index join (the DuckDB oracle
    * still computes it the naive way), ~10x cheaper at sf0.1 and
    * asymptotically better at 100 TB. Pairing stays scoped per source.
    */
  def d03NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    val t = 0.5
    val sets = shingleSets(s, dir).cache()
    sets.count() // eager: several branches below; lazy branches would race and recompute
    // Candidate generation runs entirely on 64-bit shingle hashes: the
    // frequency groupBy, the rarity window, and the prefix self-join all
    // shuffle 8-byte keys instead of ~30-char shingle strings (measured
    // 3x on the post-cache pipeline at sf0.1). A hash collision can only
    // ADD a candidate pair (never drop one — the prefix-filter guarantee
    // needs any consistent global order, and (gf, h) is one); the exact
    // string-array verify below discards such false positives.
    val exploded = sets
      .select(col("doc_id"), col("source"), col("n_sh"), explode(col("sh_arr")).as("shingle"))
      .select(col("doc_id"), col("source"), col("n_sh"), xxhash64(col("shingle")).as("h"))
    val freq = exploded.groupBy(col("h")).agg(count(lit(1)).as("gf"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("gf"), col("h"))
    // cached: referenced twice by the self-join (and through it by the
    // verify) — uncached, Spark re-runs the join+window per reference.
    val prefix = exploded.join(freq, "h")
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("n_sh") - ceil(col("n_sh") * t) + 1)
      .select(col("source"), col("doc_id"), col("h"))
      .cache()
    prefix.count()
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.source") === col("b.source") && col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    // per-doc array side is |docs| rows (shingle arrays, tens of strings
    // each) — broadcast beats shuffling the candidate pairs twice. At
    // 100 TB this side no longer fits a broadcast; it becomes a shuffle
    // join on da/db, still linear in candidates.
    cand
      .join(broadcast(sets.select(col("doc_id").as("da"), col("sh_arr").as("arr_a"))), "da")
      .join(broadcast(sets.select(col("doc_id").as("db"), col("sh_arr").as("arr_b"))), "db")
      // threshold on the UNROUNDED ratio (matching the oracle's WHERE);
      // filtering post-round would admit pairs in [t - 0.00005, t) that
      // round up to t — round only for the output column
      .withColumn("jraw",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast(DoubleType) /
          size(array_union(col("arr_a"), col("arr_b"))).cast(DoubleType))
      .filter(col("jraw") >= t)
      .select(col("da"), col("db"), round(col("jraw"), 4).as("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  val d03Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, source,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM docs, unnest(generate_series(1, GREATEST(len(toks) - 2, 0))) AS u(i)),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b
      |    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da, db,
      |  ROUND(CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
      |FROM inter
      |JOIN counts ca ON inter.da = ca.doc_id
      |JOIN counts cb ON inter.db = cb.doc_id
      |WHERE CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE) >= 0.5
      |ORDER BY da, db""".stripMargin

  // ---------------------------------------------------------------- d04
  /** MinHash + LSH banding, built from first principles on xxhash64 (no
    * MLlib dependency, fully codegen'd):
    *
    *   1. per doc: shingle hashes h_i = xxhash64(shingle);
    *   2. signature: for P permutations min over shingles of (a_p*h + b_p)
    *     (64-bit wrap-around arithmetic — a classic universal-ish family);
    *   3. band the P values into B bands of R rows, hash each band;
    *   4. docs sharing any (band, bandhash) bucket are candidate pairs;
    *   5. estimated Jaccard = fraction of equal signature components;
    *   6. exact verify: candidates re-checked against true shingle Jaccard.
    *
    * Shuffles: one groupBy doc (signature build), one groupBy band bucket.
    * Candidate volume is controlled by B/R (here 8x4: catches J>=0.5 pairs
    * w.h.p.). The verify step (standard in production LSH dedup) makes the
    * whole pipeline oracle-checkable end-to-end: the output must equal
    * DuckDB's exact corpus-wide pair list, so a banding recall miss — not
    * just a verify bug — fails the hash compare. The est_ok column pins the
    * signature-estimate accuracy contract (|est - exact| <= 0.35 at 32
    * perms; ~6.6 sigma at J = 0.5).
    */
  val NumPerms = 32
  val Bands = 8
  val RowsPerBand = 4

  /** Signatures from an already-materialized (doc_id, sh_arr) frame.
    *
    * Permutation family via seeded re-hash: xxhash64(h, i) is an
    * independent-enough 64-bit mix per permutation index, and avoids the
    * wrap-around multiply that ANSI mode (Spark 4 default) rejects.
    *
    * The P per-permutation minima run as codegen'd min aggregates over the
    * exploded shingle-hash column: P*|shingles| fused xxhash64 calls.
    * Two measured pitfalls shape this formulation (sf0.1 numbers):
    *  - array_min over nested transform lambdas (shuffle-free) is 10x
    *    slower: higher-order lambdas evaluate interpreted and boxed;
    *  - feeding explode from the lazy shingle expression is ~20x slower:
    *    the optimizer inlines the regex+split lineage into the fan-out,
    *    re-evaluating it per element. Hence: materialize the per-doc
    *    shingle arrays first, then explode from the materialized frame.
    */
  private def minhashSignaturesFrom(sets: DataFrame): DataFrame = {
    val exploded = sets
      .select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
      .withColumn("h", xxhash64(col("shingle")))
    val sigCols = (0 until NumPerms).map { i =>
      min(xxhash64(col("h"), lit(i))).as(s"sig_$i")
    }
    exploded.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
  }

  def minhashSignatures(s: SparkSession, dir: String): DataFrame = {
    val sets = shingleSets(s, dir).select(col("doc_id"), col("sh_arr")).cache()
    sets.count()
    minhashSignaturesFrom(sets)
  }

  def d04MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    val sets = shingleSets(s, dir).select(col("doc_id"), col("sh_arr")).cache()
    sets.count()
    // Eagerly materialize the signatures: the banded/est branches below
    // reference this frame several times, and lazy cache branches racing in
    // one job each recompute it (8x the hashing at sf0.1).
    val sig = minhashSignaturesFrom(sets).cache()
    sig.count()
    // band hash = xxhash64 over the band's signature components; one pass,
    // one row per (doc, band) via posexplode — no union of recomputations.
    val banded = sig.select(col("doc_id"), posexplode(array((0 until Bands).map { b =>
      xxhash64((0 until RowsPerBand).map(r => col(s"sig_${b * RowsPerBand + r}")): _*)
    }: _*)).as(Seq("band", "bh")))
    val l = banded.select(col("band"), col("bh"), col("doc_id").as("da"))
    val r = banded.select(col("band").as("band_r"), col("bh").as("bh_r"), col("doc_id").as("db"))
    val cand = l.join(r, l("band") === r("band_r") && l("bh") === r("bh_r") && l("da") < r("db"))
      .select(col("da"), col("db")).distinct()
    // estimate Jaccard from full signatures
    val sa = sig.select(col("doc_id").as("da") +: (0 until NumPerms).map(i => col(s"sig_$i").as(s"a_$i")): _*)
    val sb = sig.select(col("doc_id").as("db") +: (0 until NumPerms).map(i => col(s"sig_$i").as(s"b_$i")): _*)
    val matches = (0 until NumPerms)
      .map(i => when(col(s"a_$i") === col(s"b_$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cand.join(sa, "da").join(sb, "db")
      .withColumn("est_jaccard", matches.cast(DoubleType) / lit(NumPerms.toDouble))
      .select(col("da"), col("db"), col("est_jaccard"))
    // Exact verification — the standard last stage of production LSH dedup:
    // candidates re-check against the true shingle-set Jaccard, so false
    // positives never survive and the output is exactly the corpus-wide
    // J >= 0.5 pair set (assuming banding recall, which the B/R choice
    // provides w.h.p. — and which the DuckDB oracle now AUDITS, since a
    // recall miss shows up as a missing row against the exact-SQL pair
    // list). Candidates are sub-linear, so the verify join is cheap; the
    // per-doc array side is broadcast (at 100 TB it becomes a shuffle join
    // on da/db, still linear in candidates).
    est
      .join(broadcast(sets.select(col("doc_id").as("da"), col("sh_arr").as("arr_a"))), "da")
      .join(broadcast(sets.select(col("doc_id").as("db"), col("sh_arr").as("arr_b"))), "db")
      .withColumn("jraw",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast(DoubleType) /
          size(array_union(col("arr_a"), col("arr_b"))).cast(DoubleType))
      .filter(col("jraw") >= 0.5)
      .select(col("da"), col("db"), round(col("jraw"), 4).as("jaccard"),
        (abs(col("est_jaccard") - col("jraw")) <= 0.35).as("est_ok"))
      .orderBy(col("da"), col("db"))
  }

  /** Corpus-wide exact J >= 0.5 pair list (the verify-step output d04 must
    * reproduce end-to-end), plus the literal-TRUE estimate-accuracy
    * contract. Unlike d03 the pairing is NOT source-scoped: LSH banding
    * buckets globally. */
  val d04Sql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM docs, unnest(generate_series(1, GREATEST(len(toks) - 2, 0))) AS u(i)),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da, db,
      |  ROUND(CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE), 4) AS jaccard,
      |  TRUE AS est_ok
      |FROM inter
      |JOIN counts ca ON inter.da = ca.doc_id
      |JOIN counts cb ON inter.db = cb.doc_id
      |WHERE CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE) >= 0.5
      |ORDER BY da, db""".stripMargin

  // ---------------------------------------------------------------- d17
  /** LSH BAND-PLANNING audit — the S-curve measurement behind d04's
    * (8 bands x 4 rows) choice: for the three (b, r) splits of the same
    * 32-permutation signature, measure what each config actually buys on
    * this corpus — candidate volume (the cost: every candidate pays an
    * exact verify) vs recall of the true J >= 0.5 pair set (the
    * correctness d04's oracle demands) — next to the config's
    * theoretical capture probability at J = 0.5
    * (1 - (1 - 0.5^r)^b, a config CONSTANT embedded as a literal on
    * both engines). The standard trade: more bands with shorter rows
    * (16x2) buys recall with a candidate explosion; fewer longer bands
    * (4x8) starves recall; d04's 8x4 sits on the knee.
    *
    * Banding here joins on the band's raw COMPONENT TUPLE (band index +
    * r-component array key), not a hash of it — candidate counts are
    * published, so even a theoretical band-hash collision must not be
    * able to perturb them (d04 can hash because its verify step erases
    * false positives before output).
    *
    * Scale: signatures build once (sidecar — also the oracle's input);
    * each config is one (band, tuple)-keyed self-join over b rows per
    * doc — the d04 candidate plan x3. The truth set is the exact
    * shingle-join pair list (the oracle's own derivation, run once);
    * at 100 TB the truth join is the audit's cost ceiling, which is
    * exactly why this runs on a sample tier in production — the
    * CONFIG decision transfers, the corpus scan does not need to.
    */
  private val BandConfigs = Seq((16, 2), (8, 4), (4, 8))

  def d17BandPlanning(s: SparkSession, dir: String): DataFrame = {
    val sets = shingleSets(s, dir).select(col("doc_id"), col("sh_arr")).cache()
    sets.count()
    val side = graft.Sidecars.write(minhashSignaturesFrom(sets), dir, "d17_sigs")
    // exact truth: corpus-wide J >= 0.5 pairs via the shingle equi-join
    // (the oracle's own spelling, computed here distributed)
    val sh = sets.select(col("doc_id"), explode(col("sh_arr")).as("shingle")).distinct()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.select(col("doc_id").as("da"), col("shingle"))
      .join(sh.select(col("doc_id").as("db"), col("shingle")), "shingle")
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("n_inter"))
    val truth = inter
      .join(counts.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
      .join(counts.select(col("doc_id").as("db"), col("n_sh").as("nb")), "db")
      .filter(col("n_inter").cast(DoubleType) /
        (col("na") + col("nb") - col("n_inter")).cast(DoubleType) >= 0.5)
      .select(col("da"), col("db")).cache()
    val nTrue = truth.count()
    // ALL three configs ride one unioned frame keyed (bands, band, bkey):
    // per-config rows only meet their own config in the self-join (the
    // config id is a join key), so candidate sets are unchanged — but the
    // audit pays 2 actions (candidate counts, truth capture counts)
    // instead of 6 sequential per-config count/semi-join rounds, and at
    // scale the three band joins run as ONE shuffle of the same bytes
    val bandedAll = BandConfigs.map { case (b, r) =>
      side.select(lit(b.toLong).as("bands"), col("doc_id"),
        posexplode(array((0 until b).map { bi =>
          array((0 until r).map(ri => col(s"sig_${bi * r + ri}")): _*)
        }: _*)).as(Seq("band", "bkey")))
    }.reduce(_ unionAll _)
    val cand = bandedAll
      .select(col("bands"), col("band"), col("bkey"), col("doc_id").as("da"))
      .join(bandedAll.select(col("bands").as("c2"), col("band").as("b2"),
          col("bkey").as("k2"), col("doc_id").as("db")),
        col("bands") === col("c2") && col("band") === col("b2") &&
          col("bkey") === col("k2") && col("da") < col("db"))
      .select(col("bands"), col("da"), col("db")).distinct().cache()
    val nCandByConfig = cand.groupBy(col("bands")).agg(count(lit(1)).as("n"))
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    val nCapByConfig = cand.join(truth, Seq("da", "db"), "left_semi")
      .groupBy(col("bands")).agg(count(lit(1)).as("n"))
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    cand.unpersist()
    val perConfig = BandConfigs.map { case (b, r) =>
      val nCand = nCandByConfig.getOrElse(b.toLong, 0L)
      val nCaptured = nCapByConfig.getOrElse(b.toLong, 0L)
      // config-constant S-curve prediction at J = 0.5, embedded as a
      // literal (pure function of (b, r), not of data)
      val predicted = math.floor(
        (1.0 - math.pow(1.0 - math.pow(0.5, r), b)) * 1e6).toLong
      (b.toLong, r.toLong, nCand, nTrue, nCaptured,
        if (nTrue == 0) -1L else nCaptured * 1000L / nTrue,
        if (nCand == 0) -1L else math.floor(nCaptured.toDouble / nCand * 1e6).toLong,
        predicted)
    }
    truth.unpersist(); sets.unpersist()
    import s.implicits._
    perConfig.toDF("bands", "rows_per_band", "n_candidates", "n_true",
        "n_captured", "recall_milli", "precision_micro", "predicted_at_05_micro")
      .orderBy(col("bands").desc)
  }

  /** Sidecar signatures + component-tuple banding + the exact shingle
    * truth, per config; the S-curve literal matches the Scala constant. */
  def d17Sql: String = {
    val sigPath = graft.Sidecars.oraclePath("d17_sigs")
    val configs = BandConfigs.map { case (b, r) =>
      val bandEq = (0 until b).map { bi =>
        (0 until r).map(ri => s"a.sig_${bi * r + ri} = b.sig_${bi * r + ri}")
          .mkString("(", " AND ", ")")
      }.mkString(" OR ")
      val predicted = math.floor(
        (1.0 - math.pow(1.0 - math.pow(0.5, r), b)) * 1e6).toLong
      s"""SELECT $b AS bands, $r AS rows_per_band,
         |  (SELECT COUNT(*) FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandEq)) AS n_candidates,
         |  (SELECT COUNT(*) FROM truth) AS n_true,
         |  (SELECT COUNT(*) FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ($bandEq)
         |     JOIN truth t ON t.da = a.doc_id AND t.db = b.doc_id) AS n_captured,
         |  $predicted AS predicted_at_05_micro""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH sig AS (SELECT * FROM '$sigPath/*.parquet'),
       |docs AS (
       |  SELECT doc_id,
       |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
       |  FROM docs, unnest(generate_series(1, GREATEST(len(toks) - 2, 0))) AS u(i)),
       |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |truth AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  JOIN counts ca ON a.doc_id = ca.doc_id
       |  JOIN counts cb ON b.doc_id = cb.doc_id
       |  GROUP BY a.doc_id, b.doc_id, ca.n_sh, cb.n_sh
       |  HAVING CAST(COUNT(*) AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - COUNT(*) AS DOUBLE) >= 0.5),
       |per_config AS (
       |$configs)
       |SELECT CAST(bands AS BIGINT) AS bands, CAST(rows_per_band AS BIGINT) AS rows_per_band,
       |  CAST(n_candidates AS BIGINT) AS n_candidates, CAST(n_true AS BIGINT) AS n_true,
       |  CAST(n_captured AS BIGINT) AS n_captured,
       |  CASE WHEN n_true = 0 THEN -1 ELSE (n_captured * 1000) // n_true END AS recall_milli,
       |  CASE WHEN n_candidates = 0 THEN -1
       |       ELSE CAST(FLOOR(CAST(n_captured AS DOUBLE) / CAST(n_candidates AS DOUBLE) * 1e6) AS BIGINT) END AS precision_micro,
       |  CAST(predicted_at_05_micro AS BIGINT) AS predicted_at_05_micro
       |FROM per_config
       |ORDER BY bands DESC""".stripMargin
  }

  // ---------------------------------------------------------------- d05
  /** SimHash: 60-bit sketch = per-bit majority vote over token hashes.
    *
    * Token hash: the first 15 hex chars of md5(tok) as a 60-bit integer —
    * chosen over xxhash64 because BOTH engines compute it verbatim
    * (Spark `conv(substring(md5(tok),1,15),16,10)` ≡ DuckDB
    * `('0x'||substr(md5(tok),1,15))::BIGINT`), which is what lets the
    * d05 pair list be oracle-HASH-checked end-to-end instead of
    * rows-only. 60 bits fits a signed BIGINT in both engines with no
    * sign edge; a production corpus can swap xxhash64 back in (cheaper
    * per token) without touching the banding/vote math.
    *
    * Lane-packed: instead of 60 separate per-bit aggregates (whose
    * generated aggregate class is so large it dominates the query at
    * ~11s of codegen/JIT before any row flows), each long sum carries
    * FOUR 16-bit counters — 15 aggregate buffers total, 4x less
    * generated code, measured ~3x faster end-to-end cold with
    * bit-identical sketches (spec asserts equality with the unpacked
    * formulation). Bit b of the sketch is set iff 2*count(bit set) >
    * n_tokens — exactly the +-1 majority vote. Lane width bounds tokens
    * per document at 32767; beyond that (book-length docs at 100 TB)
    * halve the packing to 2 lanes of 32 bits.
    *
    * Near-dup candidates share one of four 15-bit bands; pairs kept when
    * Hamming distance <= 3 (bit_count of xor).
    */
  def simhashes(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(canon(col("text")), " ")).as("tok"))
      .withColumn("h", expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"))
    val packedSums = (0 until 15).map { g =>
      sum(expr(
        s"(((h >> ${g * 4}) & 1) << 0) | (((h >> ${g * 4 + 1}) & 1) << 16) | " +
          s"(((h >> ${g * 4 + 2}) & 1) << 32) | (((h >> ${g * 4 + 3}) & 1) << 48)"))
        .as(s"p_$g")
    }
    val agg = toks.groupBy(col("doc_id"))
      .agg(packedSums.head, (packedSums.tail :+ count(lit(1)).as("n_tok")): _*)
    val sim = (0 until 60).map { b =>
      when(expr(s"((p_${b / 4} >> ${(b % 4) * 16}) & 65535) * 2") > col("n_tok"),
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    // overflow guard INSIDE the live expression (a separate assert column
    // would be pruned away): beyond 32767 tokens the lane counters would
    // silently carry into the neighbor lane, so fail loudly instead
    val guarded = when(col("n_tok") <= 32767, sim).otherwise(
      expr("raise_error('simhash lane overflow: document exceeds 32767 tokens; " +
        "halve the packing to 2 lanes of 32 bits for such corpora')").cast(LongType))
    agg.select(col("doc_id"), guarded.as("simhash"))
  }

  /** The unpacked 60-aggregate formulation, kept as the semantic
    * definition [[simhashes]] is tested against. */
  private[graft] def simhashesUnpacked(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(canon(col("text")), " ")).as("tok"))
      .withColumn("h", expr("cast(conv(substring(md5(tok), 1, 15), 16, 10) as bigint)"))
    val bitSums = (0 until 60).map { b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"bit_$b")
    }
    val agg = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 60)
      .map(b => when(col(s"bit_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  def d05Simhash(s: SparkSession, dir: String): DataFrame = {
    val sh = simhashes(s, dir).cache()
    sh.count() // materialize once; see d04
    val banded = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b => expr(s"(simhash >> ${b * 15}) & 32767")): _*))
        .as(Seq("band", "bh")))
    val l = banded.select(col("band"), col("bh"), col("doc_id").as("da"), col("simhash").as("ha"))
    val r = banded.select(col("band").as("band_r"), col("bh").as("bh_r"), col("doc_id").as("db"), col("simhash").as("hb"))
    l.join(r, l("band") === r("band_r") && l("bh") === r("bh_r") && l("da") < r("db"))
      .select(col("da"), col("db"), expr("cast(bit_count(ha ^ hb) as int)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy(col("da"), col("db"))
  }

  /** Exact restatement of [[d05Simhash]] in DuckDB: same 60-bit md5-prefix
    * token hash, same strict-majority vote (2*count_set > n_tok; ties →
    * 0 bit, matching the +-1 sum > 0 form), same 4x15-bit banding, same
    * Hamming <= 3 cut via xor + bit_count. */
  val d05Sql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      |  FROM docs, unnest(toks) AS u(tok)),
      |n AS (SELECT doc_id, COUNT(*) AS n_tok FROM th GROUP BY 1),
      |bitcnt AS (
      |  SELECT doc_id, b, COUNT(*) FILTER (WHERE ((h >> b) & 1) = 1) AS c
      |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
      |  GROUP BY 1, 2),
      |sh AS (
      |  SELECT bitcnt.doc_id,
      |    CAST(SUM(CASE WHEN 2 * c > n_tok THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bitcnt JOIN n USING (doc_id) GROUP BY 1),
      |banded AS (
      |  SELECT doc_id, simhash, band, (simhash >> (band * 15)) & 32767 AS bh
      |  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS band) bb),
      |pairs AS (
      |  SELECT DISTINCT l.doc_id AS da, r.doc_id AS db,
      |    CAST(bit_count(xor(l.simhash, r.simhash)) AS INT) AS hamming
      |  FROM banded l JOIN banded r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id)
      |SELECT da, db, hamming FROM pairs WHERE hamming <= 3 ORDER BY da, db""".stripMargin

  // ---------------------------------------------------------------- d06
  /** Duplicate-cluster resolution — the stage after pair finding that a
    * production dedup pipeline actually ships: near-dup PAIRS (from d04's
    * verified LSH output) resolved into connected COMPONENTS, one keeper
    * per component. Without it, pairwise dedup double-drops transitive
    * chains (A~B, B~C keeps A and C even when A,C are both near B).
    *
    * Algorithm: iterative min-label propagation. Each round every vertex
    * takes the minimum label over itself and its neighbors — one shuffle
    * on the edge key + one on the vertex key per round, converging in
    * O(component diameter) rounds. Near-dup clusters are shallow (stars
    * around a template doc), so 2-4 rounds in practice; at 100 TB with
    * adversarially long chains, switch the round body to alternating
    * large-star/small-star (Kiveris et al., "Connected Components in
    * MapReduce"), which converges in O(log n) rounds over the same
    * primitives. Lineage is truncated per round with localCheckpoint
    * (cluster: checkpoint to durable storage) so the plan doesn't grow
    * exponentially across iterations.
    *
    * Convergence test is one scan, no join: labels only ever decrease, so
    * sum(label) is strictly monotone and stable iff the round was a
    * fixpoint.
    *
    * Output: every doc in some near-dup pair, its cluster id (= min doc_id
    * in the component), the component size, and the keeper flag.
    */
  /** Connected components over an UNDIRECTED pair list (da, db) via
    * iterative min-label propagation — the shared resolution core of
    * d06 (shingle near-dups) and d07 (embedding near-dups).
    *
    * Each round every vertex takes the minimum label over itself and its
    * neighbors — one shuffle on the edge key + one on the vertex key per
    * round, converging in O(component diameter) rounds. Lineage is
    * truncated per round with localCheckpoint (cluster: checkpoint to
    * durable storage) so the plan doesn't grow across iterations.
    *
    * Convergence test is one scan, no join: labels only ever decrease, so
    * sum(label) is strictly monotone and stable iff the round was a
    * fixpoint.
    *
    * Returns (doc_id, lbl) where lbl = min vertex id in the component.
    */
  private[operators] def connectedComponents(pairs: DataFrame): DataFrame = {
    // localCheckpoint (not cache): truncates the upstream pair-finding
    // lineage, so every loop round below plans over a 2-column leaf
    // instead of re-analyzing the whole pipeline tree each iteration
    val p = pairs.toDF("da", "db")
    val edges = p.union(p.select(col("db"), col("da")))
      .toDF("u", "v").localCheckpoint()
    // Initialization IS the first propagation round: both edge directions
    // are present, so min-over-neighbors-and-self per vertex is one
    // aggregation — no join, and it subsumes the identity labeling + the
    // distinct-vertex pass.
    var labels = edges.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("doc_id"), least(col("u"), col("mn")).as("lbl"))
      .localCheckpoint()
    // coalesce: sum over an EMPTY vertex set (corpus with no near-dup
    // pairs) is null, and the fixpoint test must see 0, not NPE
    def labelSum(): Long =
      labels.agg(coalesce(sum(col("lbl")), lit(0L))).head.getLong(0)
    var prevSum = labelSum()
    var converged = false
    var iter = 0
    // 64 rounds covers any component of diameter <= 64 — far beyond what
    // near-dup clusters (stars around template docs) produce. A corpus
    // that legitimately trips this has adversarially long similarity
    // chains; the fix there is the documented large-star/small-star
    // O(log n) variant (Kiveris et al., "Connected Components in
    // MapReduce"), not a silently wrong partial answer — so fail
    // loudly (require below) rather than emit unconverged labels.
    while (!converged && iter < 64) {
      labels = edges
        .join(labels.select(col("doc_id").as("v"), col("lbl")), "v")
        .select(col("u"), col("lbl"))
        .union(labels.select(col("doc_id").as("u"), col("lbl")))
        .groupBy(col("u")).agg(min(col("lbl")).as("lbl"))
        .withColumnRenamed("u", "doc_id")
        .localCheckpoint()
      val s2 = labelSum()
      converged = s2 == prevSum
      prevSum = s2
      iter += 1
    }
    require(converged, s"label propagation did not converge in $iter rounds")
    labels
  }

  /** (doc_id, cluster_id, cluster_size, is_keeper) presentation shared by
    * d06/d07: component labels joined with component sizes, keeper = the
    * component's min id. */
  private[operators] def clusterReport(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("lbl")).as("is_keeper"))
      .orderBy(col("cluster_id"), col("doc_id"))
  }

  def d06DupClusters(s: SparkSession, dir: String): DataFrame = {
    // cache the pair list BEFORE the two-direction union inside
    // connectedComponents: both union branches reference it, and uncached
    // each would re-run the whole LSH candidate+verify pipeline
    val pairs = d04MinhashLsh(s, dir).select(col("da"), col("db")).cache()
    pairs.count()
    clusterReport(connectedComponents(pairs))
  }

  /** d04's exact pair list extended to components with a recursive CTE:
    * reach(u, w) = transitive closure over the undirected edge set;
    * cluster id = min reachable vertex. Factored as a CTE prefix so
    * p12 (leakage-safe split) can reuse the identical cluster
    * derivation in its own oracle. */
  private[operators] val d06Ctes: String =
    """WITH RECURSIVE docs AS (
      |  SELECT doc_id,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM docs, unnest(generate_series(1, GREATEST(len(toks) - 2, 0))) AS u(i)),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b
      |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT da, db FROM inter
      |  JOIN counts ca ON inter.da = ca.doc_id
      |  JOIN counts cb ON inter.db = cb.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE) >= 0.5),
      |edges AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u),
      |comp AS (SELECT u AS doc_id, MIN(v) AS cluster_id FROM reach GROUP BY u)""".stripMargin

  val d06Sql: String = d06Ctes +
    """
      |SELECT doc_id, cluster_id,
      |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
      |  (doc_id = cluster_id) AS is_keeper
      |FROM comp ORDER BY cluster_id, doc_id""".stripMargin

  /** Every document's duplicate-cluster id — d06's component label where
    * the doc belongs to a near-dup component, else the doc's own id
    * (singleton cluster). The grouping unit p12 (leakage-safe split)
    * assigns train/val/test on: splitting CLUSTERS, not docs, is what
    * keeps near-duplicates of a validation document out of train. */
  private[operators] def clusterAssignment(s: SparkSession, dir: String): DataFrame = {
    val pairs = d04MinhashLsh(s, dir).select(col("da"), col("db")).cache()
    pairs.count()
    val labels = connectedComponents(pairs)
    Tables.documents(s, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
  }

  // ---------------------------------------------------------------- d13
  /** Span-level exact substring dedup — the sequence-granular member of
    * the dedup family (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": repeated >= k-token substrings are
    * memorization fuel even when whole documents differ). Every k=8-token
    * window of every document is keyed; windows whose text occurs in
    * >= 2 DISTINCT documents are "duplicated spans", and each document
    * reports how much of its token stream those spans cover. Within-doc
    * repetition is deliberately excluded (that is t06's signal).
    *
    * Plan shape at 100 TB: the window stream carries (xxhash64(span),
    * doc_id, start) — 24 bytes per window, never the span text — through
    * ONE shuffle keyed by the span hash; the distinct-doc count is a
    * partial-aggregated count-distinct (map-side dedup bounds heavy-
    * hitter boilerplate spans before the exchange). Covered-position
    * counting re-joins the window stream to the duplicated-hash set on
    * the same key (no second corpus scan — the cached window stream is
    * hash+ints only) and aggregates per doc. Output-vs-oracle equality is
    * on the aggregate columns, so the oracle can use raw span text while
    * the Spark side ships hashes (an xxhash64 collision at 2^-64 per pair
    * would surface as a hash mismatch — accepted, as in d03/d04).
    */
  def d13SpanDedup(s: SparkSession, dir: String): DataFrame =
    d13Body(Tables.spread(Tables.documents(s, dir)))

  /** Body over an explicit (doc_id, text) frame so specs can plant
    * duplicates with known coverage. */
  private[graft] def d13Body(documents: DataFrame): DataFrame = {
    val k = 8
    val base = documents
      .withColumn("toks", split(canon(col("text")), " "))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast(LongType).as("n_toks"))
    // one row per k-token window: (span hash, doc, 1-based start)
    val wins = base.filter(col("n_toks") >= k)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(1, size(toks) - ${k - 1}), " +
          s"i -> xxhash64(concat_ws(' ', slice(toks, i, $k))))")))
      .select(col("doc_id"), (col("pos") + 1).as("start"), col("col").as("h"))
      .cache()
    wins.count() // materialize: the dup-set agg and the cover join both read it
    val dup = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"))
    val cov = wins.join(dup, "h")
      .select(col("doc_id"), col("start"),
        explode(sequence(col("start"), col("start") + lit(k - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("start")).as("n_dup_spans"),
        countDistinct(col("p")).as("n_dup_positions"))
    base.select(col("doc_id"), col("n_toks"))
      .join(cov, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_toks"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
        (floor(coalesce(col("n_dup_positions"), lit(0L)).cast(DoubleType) * 10000.0 /
          nullif(col("n_toks"), lit(0L)) + 0.5) / 10000.0).as("dup_frac"))
      .withColumn("keep", col("dup_frac") < 0.3)
      .orderBy(col("doc_id"))
  }

  /** Naive restatement: raw span strings as the join key, interval cover
    * via generate_series fan-out. */
  val d13Sql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |base AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_toks FROM docs),
      |wins AS (
      |  SELECT doc_id, i AS start, array_to_string(toks[i:i+7], ' ') AS span
      |  FROM base, unnest(generate_series(1, len(toks) - 7)) AS u(i)
      |  WHERE n_toks >= 8),
      |dup AS (SELECT span FROM wins GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2),
      |cov AS (
      |  SELECT doc_id,
      |    COUNT(DISTINCT start) AS n_dup_spans,
      |    COUNT(DISTINCT p) AS n_dup_positions
      |  FROM (SELECT w.doc_id, w.start FROM wins w JOIN dup USING (span)) h,
      |    unnest(generate_series(start, start + 7)) AS g(p)
      |  GROUP BY doc_id)
      |SELECT b.doc_id, b.n_toks,
      |  COALESCE(n_dup_spans, 0) AS n_dup_spans,
      |  COALESCE(n_dup_positions, 0) AS n_dup_positions,
      |  FLOOR(COALESCE(n_dup_positions, 0) * 10000.0 / NULLIF(b.n_toks, 0) + 0.5) / 10000.0 AS dup_frac,
      |  FLOOR(COALESCE(n_dup_positions, 0) * 10000.0 / NULLIF(b.n_toks, 0) + 0.5) / 10000.0 < 0.3 AS keep
      |FROM base b LEFT JOIN cov USING (doc_id) ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------- d07
  /** Embedding-cosine near-dup dedup — the vector-space member of the
    * dedup family (d01 exact, d03/d04 lexical, d05 bitwise, d07 semantic):
    * documents whose EMBEDDINGS nearly coincide are duplicates even when
    * their token streams differ (translations, templated rewrites).
    *
    * The raw corpus has no true embedding near-dups (max within-label
    * cosine < 0.8), so — like s06's planted-neighbor probe — the operator
    * first DERIVES a corpus with known duplicates: for vec_id < 40 a
    * perturbed copy v' = v + 0.1 * v_((id+13) mod n) with id' = id + 10^6.
    * The perturbation is dominated by the base vector, so cos(v', v) >=
    * 0.995 regardless of the partner (min over partner cosine c of
    * (1+0.1c)/sqrt(1.01+0.2c) is ~0.9876, and c >= -0.5 in practice keeps
    * it above 0.995), while every non-planted within-label pair stays
    * below 0.8 — the 0.99 threshold separates them with wide margins on
    * both sides, and the DuckDB oracle re-derives the same corpus so a
    * recall or precision miss fails the hash.
    *
    * Pipeline: candidate pairs are scoped by SHARED IVF CELL — every
    * corpus vector is assigned to its nearest centroid (the
    * [[SimilarityQueries.codebook]] literal codebook; one shuffle-free
    * map pass), plus its second cell when within the epsilon=0.02
    * boundary band, and the pairwise cosine runs only inside each cell,
    * so the quadratic step is bounded by cell size (O(sum of cell^2),
    * not O(n^2/|groups|) over an arbitrary label grouping). The banded
    * second probe makes a near-dup pair share a cell even when the pair
    * straddles a Voronoi boundary — a true duplicate (cosine >= 0.99)
    * has near-identical centroid similarities (drift measured <= 0.011
    * across SFs, half the band) — while keeping replication at ~1.2x
    * instead of 2-probe's 2x (which quadrupled the candidate pairs on
    * this weakly-clustered corpus).
    * Threshold on the ROUNDED cosine (same floor(x*1e6+0.5)/1e6 both
    * engines), then the shared [[connectedComponents]] min-label
    * propagation and keeper report — transitive chains (A~B, B~C)
    * collapse to one keeper exactly as in d06. The oracle scopes by
    * label instead (SQL-friendly); both scopes contain every planted
    * pair and nothing else clears the 0.99 cut, so the outputs agree —
    * and a cell-assignment recall miss would surface as a missing row
    * against the oracle's list.
    */
  def d07EmbeddingDedup(s: SparkSession, dir: String): DataFrame = {
    import SimilarityQueries.{embD, dot}
    val e = Tables.spread(Tables.embeddings(s, dir)).withColumn("v", embD)
      .select(col("vec_id"), col("label"), col("v"))
    val n = e.count() // corpus size for the mod-n partner index
    val derived = e.filter(col("vec_id") < 40)
      .withColumn("partner", (col("vec_id") + 13) % n)
      .join(e.select(col("vec_id").as("partner"), col("v").as("pv")), "partner")
      .select((col("vec_id") + lit(1000000L)).as("vec_id"), col("label"),
        expr("zip_with(v, pv, (a, b) -> a + 0.1d * b)").as("v"))
    val corpus = e.unionByName(derived)
      .withColumn("norm", sqrt(dot("v", "v")))
      .localCheckpoint() // both sides of the self-join below + codebook scan
    val cents = SimilarityQueries.codebook(corpus)
    // Candidate generation carries IDS ONLY (the d04 shape): the cell join
    // fans out (vec_id, cell) rows, dedupes pairs that share both probed
    // cells, and only then fetches vectors for ONE exact-cosine pass per
    // unique candidate through the codegen'd CosineSimilarity expression
    // (bit-identical to the HOF formulation per s04's shared oracle;
    // measured 6.4x faster — evaluating the interpreted HOF dot inside
    // the join projection was 6x this query's whole runtime).
    val assigned = corpus.select(col("vec_id"),
      explode(SimilarityQueries.probeCells(cents, col("v"), 2,
        epsilon = Some(0.02))).as("cell"))
    val candIds = assigned
      .join(assigned.select(col("cell").as("cell_b"), col("vec_id").as("db")),
        col("cell") === col("cell_b") && col("vec_id") < col("db"))
      .select(col("vec_id").as("da"), col("db")).distinct()
    val pairs = candIds
      .join(corpus.select(col("vec_id").as("da"), col("v").as("va")), "da")
      .join(corpus.select(col("vec_id").as("db"), col("v").as("vb")), "db")
      .withColumn("cosine", floor(expr("graft_cosine(va, vb)") * 1e6 + 0.5) / 1e6)
      .filter(col("cosine") >= 0.99)
      .select(col("da"), col("db"))
      .cache()
    pairs.count()
    clusterReport(connectedComponents(pairs))
      .withColumnRenamed("doc_id", "vec_id")
  }

  val d07Sql: String =
    """WITH RECURSIVE e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cnt AS (SELECT COUNT(*) AS n FROM e),
      |drv AS (
      |  SELECT b.vec_id + 1000000 AS vec_id, b.label,
      |    list_transform(generate_series(1, 64), i -> b.v[i] + 0.1 * p.v[i]) AS v
      |  FROM e b JOIN cnt ON TRUE JOIN e p ON p.vec_id = (b.vec_id + 13) % cnt.n
      |  WHERE b.vec_id < 40),
      |corpus AS (SELECT * FROM e UNION ALL SELECT * FROM drv),
      |nrm AS (
      |  SELECT vec_id, label, v,
      |    SQRT(list_reduce(list_transform(generate_series(1, 64), i -> v[i] * v[i]), (x, y) -> x + y)) AS nrm
      |  FROM corpus),
      |pairs AS (
      |  SELECT a.vec_id AS da, b.vec_id AS db
      |  FROM nrm a JOIN nrm b ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE FLOOR(list_reduce(list_transform(generate_series(1, 64), i -> a.v[i] * b.v[i]), (x, y) -> x + y)
      |          / (a.nrm * b.nrm) * 1e6 + 0.5) / 1e6 >= 0.99),
      |edges AS (SELECT da AS u, db AS v FROM pairs UNION SELECT db, da FROM pairs),
      |reach(u, v) AS (
      |  SELECT u, u FROM edges
      |  UNION
      |  SELECT e2.u, r.v FROM edges e2 JOIN reach r ON e2.v = r.u),
      |comp AS (SELECT u AS vec_id, MIN(v) AS cluster_id FROM reach GROUP BY u)
      |SELECT vec_id, cluster_id,
      |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
      |  (vec_id = cluster_id) AS is_keeper
      |FROM comp ORDER BY cluster_id, vec_id""".stripMargin

  // ---------------------------------------------------------------- d09
  /** Canonical-copy pruning — what the pipeline DOES with a near-dup pair
    * list: of every verified J >= 0.5 pair, the copy that loses on
    * (longer text, then smaller doc_id) is dominated and dropped, the
    * winner survives. "Dominated by at least one neighbor" is a
    * deterministic per-doc predicate (no cluster resolution needed — a
    * doc beaten by any neighbor is never the canonical copy of its
    * group), so this composes directly on d04's pair list where d06's
    * full connected-components pass would be overkill. Reported as the
    * per-source audit: volume in, dropped count, characters saved.
    *
    * Scale: pair list is sub-linear (d04's banding); the dominance check
    * is one join of the pair list against per-doc lengths + one distinct;
    * no O(n^2) step and no iteration anywhere.
    */
  def d09CanonicalPrune(s: SparkSession, dir: String): DataFrame = {
    val pairs = d04MinhashLsh(s, dir).select(col("da"), col("db"))
    val docs = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), length(col("text")).as("len"))
    // both directions: u is dropped if neighbor v wins (lv, -v) > (lu, -u)
    val directed = pairs.select(col("da").as("u"), col("db").as("v"))
      .unionAll(pairs.select(col("db").as("u"), col("da").as("v")))
    val dropped = directed
      .join(docs.select(col("doc_id").as("u"), col("len").as("lu")), "u")
      .join(docs.select(col("doc_id").as("v"), col("len").as("lv")), "v")
      .filter(col("lv") > col("lu") || (col("lv") === col("lu") && col("v") < col("u")))
      .select(col("u").as("doc_id")).distinct()
      .withColumn("is_dropped", lit(true))
    docs.join(dropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_dropped"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("is_dropped"), col("len")).otherwise(0L)).as("chars_dropped"))
      .orderBy(col("source"))
  }

  /** d04's exact pair semantics (the oracle recomputes the J >= 0.5 pair
    * list the naive way) + the dominance drop rule + per-source rollup. */
  val d09Sql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM docs, unnest(generate_series(1, GREATEST(len(toks) - 2, 0))) AS u(i)),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT da, db FROM inter
      |  JOIN counts ca ON inter.da = ca.doc_id
      |  JOIN counts cb ON inter.db = cb.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE) >= 0.5),
      |directed AS (SELECT da AS u, db AS v FROM pairs UNION ALL SELECT db, da FROM pairs),
      |lens AS (SELECT doc_id, source, LENGTH(text) AS len FROM documents),
      |dropped AS (
      |  SELECT DISTINCT u AS doc_id FROM directed
      |  JOIN lens lu ON directed.u = lu.doc_id
      |  JOIN lens lv ON directed.v = lv.doc_id
      |  WHERE lv.len > lu.len OR (lv.len = lu.len AND v < u))
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN dropped.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(SUM(CASE WHEN dropped.doc_id IS NOT NULL THEN len ELSE 0 END) AS BIGINT) AS chars_dropped
      |FROM lens LEFT JOIN dropped USING (doc_id)
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- d08
  /** Cross-source duplication matrix — the provenance-level audit behind
    * every dedup rollout decision: for each pair of sources, how many
    * distinct content fingerprints appear in BOTH. High off-diagonal
    * counts mean two crawls/snapshots overlap and one should be dropped
    * or date-fenced before mixing.
    *
    * Fingerprint = md5 of the SORTED DISTINCT TOKEN SET of the canonical
    * text — the coarse bag-of-vocabulary key (order- and count-
    * insensitive), one tier looser than d01's exact-text hash, so
    * reorderings and repetition edits still collide. The key is computed
    * per row (map work), then:
    *
    *   1. distinct (h, source) — one hash shuffle, corpus collapses to
    *      fingerprint-presence pairs;
    *   2. self-join on h with source_a < source_b — group size per h is
    *      bounded by the SOURCE COUNT (each source contributes at most
    *      one presence row per fingerprint), so the pairwise expansion is
    *      O(|sources|^2) per fingerprint, NOT O(docs^2): safe however
    *      many documents share a fingerprint at 100 TB;
    *   3. count per (source_a, source_b) — output bounded by the source-
    *      pair count.
    */
  def d08CrossSourceDups(s: SparkSession, dir: String): DataFrame = {
    val hs = Tables.spread(Tables.documents(s, dir))
      .select(
        md5(concat_ws(" ",
          array_sort(array_distinct(split(canon(col("text")), " "))))).as("h"),
        col("source"))
      .distinct()
    hs.as("a")
      .join(hs.as("b"), col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val d08Sql: String =
    """WITH k AS (
      |  SELECT DISTINCT
      |    md5(array_to_string(list_sort(list_distinct(string_split(
      |      TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')),
      |      ' '))), ' ')) AS h,
      |    source
      |  FROM documents)
      |SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      |FROM k a JOIN k b ON a.h = b.h AND a.source < b.source
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // ---------------------------------------------------------------- d10
  /** Segment-level (sub-document) dedup — the CCNet/RefinedWeb move:
    * instead of dropping whole near-duplicate documents, delete the
    * REPEATED SPANS and keep the rest. The corpus here has no newline
    * structure, so "segment" = each consecutive run of [[SegW]] canonical
    * words (the last one may be shorter); real corpora would split on
    * line/paragraph breaks with the identical plan downstream.
    *
    * Keep-first semantics: every occurrence of a segment except the
    * lexicographically-first (doc_id, seg_idx) is removed, so each
    * distinct segment survives exactly once corpus-wide. Output: the doc
    * with its surviving text reassembled in order plus kept/dropped
    * counts.
    *
    * Scale shape (two shuffles, both necessary): (1) window-min over the
    * segment's 16-byte md5 key finds each segment's first occurrence —
    * the per-key window state is one (doc_id, seg_idx) pair, and rows
    * carry their segment text only as pass-through payload (it has to
    * reach the reassembly anyway); (2) the groupBy(doc_id) reassembly's
    * partial collect_list drops dup segments MAP-SIDE, so its exchange
    * carries only surviving text — bounded by output size. No join, no
    * driver state, no O(n^2) anywhere; a pathologically hot segment costs
    * its bucket one text copy per occurrence, the same linear cost the
    * scan already paid.
    */
  private val SegW = 5

  def d10SegmentDedup(s: SparkSession, dir: String): DataFrame = {
    val segs = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), split(canon(col("text")), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(w) / ${SegW}.0) as int) - 1),
           |          i -> array_join(slice(w, i * $SegW + 1, $SegW), ' '))""".stripMargin)))
      .withColumnRenamed("pos", "seg_idx")
      .withColumnRenamed("col", "seg")
    val firstOcc = Window.partitionBy(md5(col("seg")))
    segs
      .withColumn("kept",
        struct(col("doc_id"), col("seg_idx")) ===
          min(struct(col("doc_id"), col("seg_idx"))).over(firstOcc))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("kept"), struct(col("seg_idx"), col("seg"))))),
            kv => kv.getField("seg")),
          " ").as("clean_text"),
        count(lit(1)).as("n_segs"),
        count(when(!col("kept"), lit(1))).as("n_drop"))
      .orderBy(col("doc_id"))
  }

  val d10Sql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS ws
      |  FROM documents),
      |seg AS (
      |  SELECT doc_id, i AS seg_idx, array_to_string(ws[i*5+1 : i*5+5], ' ') AS seg
      |  FROM docs, unnest(generate_series(0, CAST(CEIL(len(ws) / 5.0) AS INT) - 1)) AS u(i)),
      |r AS (
      |  SELECT doc_id, seg_idx, seg,
      |    ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      |  FROM seg)
      |SELECT doc_id,
      |  COALESCE(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE rn = 1), '') AS clean_text,
      |  COUNT(*) AS n_segs,
      |  COUNT(*) FILTER (WHERE rn > 1) AS n_drop
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d11
  /** Containment near-dup pairs — ASYMMETRIC overlap C(A->B) =
    * |A∩B| / |A| >= 0.7: "most of document A's shingles appear inside
    * B", the relation symmetric Jaccard (d03) misses when a small doc is
    * quoted/wrapped by a much larger one (boilerplate shells, quote
    * inclusions). Output is ordered pairs, both directions evaluated.
    *
    * Candidate generation is the asymmetric PPJoin variant: if
    * C(A->B) >= t, then B must contain one of A's first
    * n_A - ceil(t*n_A) + 1 shingles in a fixed global rarity order — so
    * only A's PREFIX probes the index, but (unlike d03) the index side
    * must keep FULL postings, because B's matching shingle can sit
    * anywhere in B. Two prunings keep that affordable at 100 TB: the
    * prefix bound on the probe side, and the length filter
    * n_B >= ceil(t * n_A) (B needs at least that many of A's shingles).
    * Hash-keyed (8-byte) candidates, exact string-array verify, same
    * per-source scoping and UNROUNDED-threshold discipline as d03.
    */
  def d11Containment(s: SparkSession, dir: String): DataFrame = {
    val t = 0.7
    val sets = shingleSets(s, dir).cache()
    sets.count()
    val exploded = sets
      .select(col("doc_id"), col("source"), col("n_sh"), explode(col("sh_arr")).as("shingle"))
      .select(col("doc_id"), col("source"), col("n_sh"), xxhash64(col("shingle")).as("h"))
    val freq = exploded.groupBy(col("h")).agg(count(lit(1)).as("gf"))
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("gf"), col("h"))
    // cached: the probe prefix and the full index are both projections of
    // this ranked frame
    val ranked = exploded.join(freq, "h")
      .withColumn("rk", row_number().over(byRarity))
      .cache()
    ranked.count()
    val probe = ranked
      .filter(col("rk") <= col("n_sh") - ceil(col("n_sh") * t) + 1)
      .select(col("source"), col("doc_id").as("da"), col("n_sh").as("na"), col("h"))
    val index = ranked.select(col("source").as("src_b"), col("doc_id").as("db"),
      col("n_sh").as("nb"), col("h").as("hb"))
    val cand = probe.join(index,
        col("source") === col("src_b") && col("h") === col("hb") &&
          col("da") =!= col("db") && col("nb") >= ceil(col("na") * t))
      .select(col("da"), col("db"))
      .distinct()
    cand
      .join(broadcast(sets.select(col("doc_id").as("da"), col("sh_arr").as("arr_a"))), "da")
      .join(broadcast(sets.select(col("doc_id").as("db"), col("sh_arr").as("arr_b"))), "db")
      .withColumn("craw",
        size(array_intersect(col("arr_a"), col("arr_b"))).cast(DoubleType) /
          size(col("arr_a")).cast(DoubleType))
      .filter(col("craw") >= t)
      .select(col("da"), col("db"), round(col("craw"), 4).as("containment"))
      .orderBy(col("da"), col("db"))
  }

  val d11Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, source,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM docs, unnest(generate_series(1, GREATEST(len(toks) - 2, 0))) AS u(i)),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b
      |    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da, db,
      |  ROUND(CAST(n_inter AS DOUBLE) / CAST(ca.n_sh AS DOUBLE), 4) AS containment
      |FROM inter
      |JOIN counts ca ON inter.da = ca.doc_id
      |WHERE CAST(n_inter AS DOUBLE) / CAST(ca.n_sh AS DOUBLE) >= 0.7
      |ORDER BY da, db""".stripMargin

  // ---------------------------------------------------------------- d12
  /** Cross-source NEAR-duplication matrix — d08's provenance audit lifted
    * from exact fingerprints to verified near-dup pairs: for every
    * J >= 0.5 pair from d04's banded+verified LSH output, attribute the
    * pair to its (source, source) cell (normalized so a <= b; the
    * diagonal holds within-source near-dups). Where d08 answers "which
    * crawls share identical documents", d12 answers the harder and more
    * common question — which crawls share REWRITES of the same content —
    * the signal that actually drives date-fencing decisions between
    * overlapping snapshots.
    *
    * Pure composition: d04's sub-linear pair list + two id->source
    * lookups (hash joins on doc_id, shipping one string each) + a rollup
    * bounded by the source-pair count. No new quadratic surface; the
    * heavy lifting stays inside the already-banded d04.
    */
  def d12CrossSourceNearDups(s: SparkSession, dir: String): DataFrame = {
    val pairs = d04MinhashLsh(s, dir).select(col("da"), col("db"))
    val src = Tables.spread(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("da"), col("source").as("sa")), "da")
      .join(src.select(col("doc_id").as("db"), col("source").as("sb")), "db")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** d04's exact pair semantics + source attribution. */
  val d12Sql: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM docs, unnest(generate_series(1, GREATEST(len(toks) - 2, 0))) AS u(i)),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT da, db FROM inter
      |  JOIN counts ca ON inter.da = ca.doc_id
      |  JOIN counts cb ON inter.db = cb.doc_id
      |  WHERE CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE) >= 0.5)
      |SELECT LEAST(va.source, vb.source) AS source_a,
      |  GREATEST(va.source, vb.source) AS source_b, COUNT(*) AS n_pairs
      |FROM pairs
      |JOIN documents va ON pairs.da = va.doc_id
      |JOIN documents vb ON pairs.db = vb.doc_id
      |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  // ------------------------------------------------------------------
  // ---------------------------------------------------------------- d14
  /** MinHash estimator CALIBRATION audit — the dedup tier's index-sizing
    * counterpart to s17's truncation audit: before a deployment commits
    * to P permutations, measure on real data how far the signature
    * estimate sits from exact Jaccard across the similarity range that
    * matters. For every shared-shingle pair with exact J >= 0.2 (the
    * integer predicate 6*n_inter >= na + nb — no float threshold), the
    * row reports the 32-perm match count, exact Jaccard and the estimate
    * in exact MILLI units, and the absolute error: the empirical
    * distribution behind the binomial +-1/sqrt(P) error bar d04's est_ok
    * contract assumes.
    *
    * Signatures are xxhash64-built and not SQL-expressible, so the
    * signature frame is the ORACLE SIDECAR (t17 contract); pair
    * selection, exact Jaccard, the 32-component match count and the
    * error arithmetic all restate in SQL over (sidecar x raw documents)
    * — the hash audits estimator arithmetic end to end.
    *
    * Scale: pair generation is the naive inverted-index join here
    * because the audit range (J >= 0.2) needs mid-similarity pairs that
    * prefix filtering at t = 0.2 would also admit; at 100 TB a
    * calibration audit runs on a uniform document SAMPLE (it estimates
    * a distribution — it does not need the corpus), so the join stays
    * bounded by construction. Signature matching joins two 256-byte
    * rows per candidate pair.
    */
  def d14MinhashCalibration(s: SparkSession, dir: String): DataFrame = {
    val sets = shingleSets(s, dir).select(col("doc_id"), col("sh_arr")).cache()
    sets.count()
    val side = graft.Sidecars.write(minhashSignaturesFrom(sets), dir, "d14_sigs")
    val sh = sets.select(col("doc_id"), explode(col("sh_arr")).as("shingle"))
    val counts = sets.select(col("doc_id"), size(col("sh_arr")).as("n_sh"))
    val inter = sh.select(col("doc_id").as("da"), col("shingle"))
      .join(sh.select(col("doc_id").as("db"), col("shingle").as("shingle_b")),
        col("shingle") === col("shingle_b") && col("da") < col("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("n_inter"))
    val pairs = inter
      .join(counts.select(col("doc_id").as("da"), col("n_sh").as("na")), "da")
      .join(counts.select(col("doc_id").as("db"), col("n_sh").as("nb")), "db")
      .filter(col("n_inter") * 6 >= col("na") + col("nb"))
      .withColumn("jac_milli", expr("(n_inter * 1000) div (na + nb - n_inter)"))
    val sa = side.select(col("doc_id").as("da") +:
      (0 until NumPerms).map(i => col(s"sig_$i").as(s"a_$i")): _*)
    val sb = side.select(col("doc_id").as("db") +:
      (0 until NumPerms).map(i => col(s"sig_$i").as(s"b_$i")): _*)
    val matches = (0 until NumPerms)
      .map(i => when(col(s"a_$i") === col(s"b_$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, "da").join(sb, "db")
      .withColumn("n_matches", matches.cast(LongType))
      .withColumn("est_milli", expr("(n_matches * 1000) div 32"))
      .withColumn("err_milli", abs(col("jac_milli") - col("est_milli")))
      .select(col("da"), col("db"), col("n_matches"), col("jac_milli"),
        col("est_milli"), col("err_milli"))
      .orderBy(col("da"), col("db"))
  }

  /** Pair selection + exact Jaccard from raw text (d03's canon/shingle
    * CTEs, unscoped), match count from the signature sidecar, identical
    * integer milli arithmetic. */
  def d14Sql: String = {
    val matchTerms = (0 until NumPerms)
      .map(i => s"(CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH side AS (SELECT * FROM '${graft.Sidecars.oraclePath("d14_sigs")}/*.parquet'),
      |docs AS (
      |  SELECT doc_id,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM docs, unnest(generate_series(1, GREATEST(len(toks) - 2, 0))) AS u(i)),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT da, db,
      |    (n_inter * 1000) // (ca.n_sh + cb.n_sh - n_inter) AS jac_milli
      |  FROM inter
      |  JOIN counts ca ON inter.da = ca.doc_id
      |  JOIN counts cb ON inter.db = cb.doc_id
      |  WHERE 6 * n_inter >= ca.n_sh + cb.n_sh),
      |m AS (
      |  SELECT p.da, p.db, p.jac_milli,
      |    CAST($matchTerms AS BIGINT) AS n_matches
      |  FROM pairs p JOIN side a ON a.doc_id = p.da JOIN side b ON b.doc_id = p.db)
      |SELECT da, db, n_matches, jac_milli,
      |  (n_matches * 1000) // 32 AS est_milli,
      |  ABS(jac_milli - (n_matches * 1000) // 32) AS err_milli
      |FROM m ORDER BY da, db""".stripMargin
  }

  // ---------------------------------------------------------------- d15
  /** SemDeDup — SEMANTIC deduplication in embedding space (Abbas et al.
    * 2023, arXiv:2303.09540): where d07 removes near-IDENTICAL vectors
    * (tau = 0.99, CC + min-id keeper), SemDeDup targets semantically
    * redundant ones at a looser threshold, scoped by a k-means cell, with
    * the paper's diversity-preserving keep rule — of two similar items,
    * KEEP the one FARTHER from the cluster centroid (low centroid-cosine
    * = the less prototypical, more informative example; the prototypical
    * copy is the redundant one). That keeper rule is what distinguishes
    * this from every other dedup operator in the repo, and is exactly
    * why the published method improves training efficiency: it prunes
    * toward diversity, not toward minimum id.
    *
    * Pipeline: quantizer cells from the label-seeded codebook TRAINED ON
    * THE BASE CORPUS (the k-means step; assignment = argmax ROUNDED
    * centroid cosine, ties to the larger cell — the s05 probe rule made
    * hash-stable by rounding first); within each cell, pairwise cosine >=
    * 0.95 (rounded) through the codegen'd graft_cosine; each pair drops
    * its MORE-prototypical endpoint (higher centroid-cosine, ties to the
    * larger id) — a deterministic per-pair dominance rule like d09's, no
    * cluster resolution needed. Planted semantic twins (vec_id < 40,
    * v + 0.25 * partner — same content, sizeable paraphrase drift) land
    * at cosine ~0.97: visible to THIS threshold, invisible to d07's 0.99.
    *
    * Scale shape: NEVER all-pairs — the quadratic step is per-cell, and
    * SemDeDup deployments size k proportionally to n precisely so the
    * expected cell stays constant (the paper runs 50k clusters over
    * LAION-440M); cost is O(n * k) assignment (map-only against the
    * literal codebook; at large k this becomes a broadcast join against
    * a distributed centroid table — s08's shape) + O(n * E[cell]) pair
    * work. The oracle restates every stage: DECIMAL-exact centroids,
    * rounded-argmax assignment, in-cell pairs, the dominance rule.
    */
  def d15SemDedup(s: SparkSession, dir: String): DataFrame = {
    import SimilarityQueries.embD
    val e = Tables.spread(Tables.embeddings(s, dir)).withColumn("v", embD)
      .select(col("vec_id"), col("label"), col("v"))
    val n = e.count() // corpus size for the mod-n partner index (d07's idiom)
    val derived = e.filter(col("vec_id") < 40)
      .withColumn("partner", (col("vec_id") + lit(29)) % n)
      .join(e.select(col("vec_id").as("partner"), col("v").as("pv")), "partner")
      .select((col("vec_id") + lit(2000000L)).as("vec_id"), col("label"),
        expr("zip_with(v, pv, (a, b) -> a + 0.25d * b)").as("v"))
    val corpus = e.unionByName(derived)
    val cents = SimilarityQueries.codebook(e) // trained on the BASE corpus
    // 1-probe assignment on the ROUNDED centroid cosine: rounding before
    // the argmax makes the cell choice a hash contract (ties, measure-zero
    // on unrounded doubles but possible at 1e-6, break to the larger cell
    // — probeCells' own convention)
    val entries = array(cents.map { case (cell, cv, _) =>
      struct(
        (floor(call_function("graft_cosine",
          array(cv.map(lit): _*), col("v")) * 1e6 + 0.5) / 1e6).as("csim"),
        lit(cell).as("cell"))
    }: _*)
    val assigned = corpus
      .withColumn("best", array_max(entries))
      .select(col("vec_id"), col("v"),
        col("best.cell").as("cell"), col("best.csim").as("cosc"))
      .localCheckpoint() // both sides of the in-cell self-join below
    val pairs = assigned
      .select(col("cell"), col("vec_id").as("da"), col("v").as("va"), col("cosc").as("ca"))
      .join(assigned.select(col("cell"), col("vec_id").as("db"),
        col("v").as("vb"), col("cosc").as("cb")), "cell")
      .filter(col("da") < col("db"))
      .filter(floor(call_function("graft_cosine", col("va"), col("vb")) * 1e6 + 0.5) / 1e6
        >= 0.95)
    // the paper's keep rule, as a per-pair dominance drop: the endpoint
    // CLOSER to the centroid is the redundant prototype and goes
    val dropped = pairs
      .select(when(col("ca") > col("cb") ||
        (col("ca") === col("cb") && col("da") > col("db")), col("da"))
        .otherwise(col("db")).as("vec_id"))
      .distinct().withColumn("is_dropped", lit(true))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cosc"),
        coalesce(col("is_dropped"), lit(false)).as("is_dropped"))
      .orderBy(col("vec_id"))
  }

  /** Full restatement: base + planted twins, DECIMAL-exact per-label
    * centroids from the base corpus, rounded-argmax cell assignment
    * (ties to the larger cell), in-cell pairs at the same rounded
    * threshold, and the identical dominance drop. */
  val d15Sql: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cnt AS (SELECT COUNT(*) AS n FROM e),
      |drv AS (
      |  SELECT b.vec_id + 2000000 AS vec_id, b.label,
      |    list_transform(generate_series(1, 64), i -> b.v[i] + 0.25 * p.v[i]) AS v
      |  FROM e b JOIN cnt ON TRUE JOIN e p ON p.vec_id = (b.vec_id + 29) % cnt.n
      |  WHERE b.vec_id < 40),
      |corpus AS (SELECT * FROM e UNION ALL SELECT * FROM drv),
      |flat AS (
      |  SELECT label, i AS dim, v[i] AS x
      |  FROM e, unnest(generate_series(1, 64)) AS u(i)),
      |cent AS (
      |  SELECT label, dim,
      |    CAST(CAST(SUM(CAST(x AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS m
      |  FROM flat GROUP BY 1, 2),
      |carr AS (
      |  SELECT label AS cell, list(m ORDER BY dim) AS cv FROM cent GROUP BY label),
      |cnrm AS (
      |  SELECT cell, cv,
      |    SQRT(list_reduce(list_transform(generate_series(1, 64), i -> cv[i] * cv[i]), (x, y) -> x + y)) AS cn
      |  FROM carr),
      |sc AS (
      |  SELECT c.vec_id, c.v, m.cell,
      |    FLOOR(list_reduce(list_transform(generate_series(1, 64), i -> c.v[i] * m.cv[i]), (x, y) -> x + y)
      |      / (SQRT(list_reduce(list_transform(generate_series(1, 64), i -> c.v[i] * c.v[i]), (x, y) -> x + y)) * m.cn)
      |      * 1e6 + 0.5) / 1e6 AS csim
      |  FROM corpus c CROSS JOIN cnrm m),
      |best AS (
      |  SELECT vec_id, v, cell, csim,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cell DESC) AS rnk
      |  FROM sc),
      |a AS (
      |  SELECT vec_id, v, cell, csim AS cosc,
      |    SQRT(list_reduce(list_transform(generate_series(1, 64), i -> v[i] * v[i]), (x, y) -> x + y)) AS nrm
      |  FROM best WHERE rnk = 1),
      |pairs AS (
      |  SELECT x.vec_id AS da, y.vec_id AS db, x.cosc AS ca, y.cosc AS cb
      |  FROM a x JOIN a y ON x.cell = y.cell AND x.vec_id < y.vec_id
      |  WHERE FLOOR(list_reduce(list_transform(generate_series(1, 64), i -> x.v[i] * y.v[i]), (p, q) -> p + q)
      |          / (x.nrm * y.nrm) * 1e6 + 0.5) / 1e6 >= 0.95),
      |dropped AS (
      |  SELECT DISTINCT CASE WHEN ca > cb OR (ca = cb AND da > db) THEN da ELSE db END AS vec_id
      |  FROM pairs)
      |SELECT a.vec_id, a.cell, a.cosc, (d.vec_id IS NOT NULL) AS is_dropped
      |FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
      |ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------------------------------- d16
  /** INCREMENTAL near-dup dedup against a PERSISTED LSH index — the
    * maintenance shape of d04 that a production pipeline actually runs:
    * the history's MinHash signatures live in a materialized signature
    * store (here: a parquet sidecar of (doc_id, band, band-hash) rows,
    * written by this run exactly as a nightly index job would), and an
    * arriving batch (p02's src0/src1 convention) probes THAT index —
    * history text is never re-shingled for candidate generation, which
    * is the entire point: probe cost is O(|batch|) + collisions, not
    * O(|corpus|). Only the candidates' exact-verify stage touches
    * history documents again (point lookups by doc_id, the standard
    * verify-on-source pattern).
    *
    * Output: the cross-increment pair list (history doc, batch doc,
    * exact Jaccard >= 0.5). The oracle restates the EXACT cross pair
    * set from raw text — so, as with d04, banding recall is audited
    * structurally: a missed pair hash-mismatches.
    */
  def d16IncrementalNeardup(s: SparkSession, dir: String): DataFrame = {
    val isNewBatch = col("source").isin("src0", "src1")
    val sets = shingleSets(s, dir).cache()
    try {
      sets.count()
      def banded(sig: DataFrame): DataFrame =
        sig.select(col("doc_id"), posexplode(array((0 until Bands).map { b =>
          xxhash64((0 until RowsPerBand).map(r => col(s"sig_${b * RowsPerBand + r}")): _*)
        }: _*)).as(Seq("band", "bh")))
      // the persisted index: history band hashes, materialized then re-read
      val index = graft.Sidecars.write(
        banded(minhashSignaturesFrom(sets.filter(!isNewBatch))), dir, "d16_lshindex")
      val probe = banded(minhashSignaturesFrom(sets.filter(isNewBatch)))
      val cand = index.select(col("band"), col("bh"), col("doc_id").as("da"))
        .join(probe.select(col("band"), col("bh"), col("doc_id").as("db")), Seq("band", "bh"))
        .select(col("da"), col("db")).distinct()
      cand
        .join(broadcast(sets.select(col("doc_id").as("da"), col("sh_arr").as("arr_a"))), "da")
        .join(broadcast(sets.select(col("doc_id").as("db"), col("sh_arr").as("arr_b"))), "db")
        .withColumn("jraw",
          size(array_intersect(col("arr_a"), col("arr_b"))).cast(DoubleType) /
            size(array_union(col("arr_a"), col("arr_b"))).cast(DoubleType))
        .filter(col("jraw") >= 0.5)
        .select(col("da"), col("db"), round(col("jraw"), 4).as("jaccard"))
        .orderBy(col("da"), col("db"))
    } finally sets.unpersist()
  }

  /** The exact cross-increment J >= 0.5 pair set from raw text — history
    * side on the left, batch side on the right (d04's chain, scoped). */
  val d16Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, source,
      |    string_split(TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM docs, unnest(generate_series(1, GREATEST(len(toks) - 2, 0))) AS u(i)),
      |counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_inter
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle
      |  WHERE a.source NOT IN ('src0', 'src1') AND b.source IN ('src0', 'src1')
      |  GROUP BY 1, 2)
      |SELECT da, db,
      |  ROUND(CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE), 4) AS jaccard
      |FROM inter
      |JOIN counts ca ON inter.da = ca.doc_id
      |JOIN counts cb ON inter.db = cb.doc_id
      |WHERE CAST(n_inter AS DOUBLE) / CAST(ca.n_sh + cb.n_sh - n_inter AS DOUBLE) >= 0.5
      |ORDER BY da, db""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d17_band_planning" -> (d17BandPlanning _),
    "d16_incremental_neardup" -> (d16IncrementalNeardup _),
    "d15_semdedup" -> (d15SemDedup _),
    "d14_minhash_calibration" -> (d14MinhashCalibration _),
    "d13_span_dedup" -> (d13SpanDedup _),
    "d12_cross_source_neardups" -> (d12CrossSourceNearDups _),
    "d09_canonical_prune" -> (d09CanonicalPrune _),
    "d10_segment_dedup" -> (d10SegmentDedup _),
    "d11_containment" -> (d11Containment _),
    "d08_cross_source_dups" -> (d08CrossSourceDups _),
    "d01_exact_dedup" -> (d01ExactDedup _),
    "d03_ngram_jaccard" -> (d03NgramJaccard _),
    "d04_minhash_lsh" -> (d04MinhashLsh _),
    "d05_simhash" -> (d05Simhash _),
    "d06_dup_clusters" -> (d06DupClusters _),
    "d07_embedding_dedup" -> (d07EmbeddingDedup _))

  /** def, not val: d14Sql embeds the Sidecars.oracleDir-keyed sidecar
    * path Verify pins at runtime (the Multimodal.oracle convention). */
  def oracle: Map[String, String] = Map(
    "d17_band_planning" -> d17Sql,
    "d16_incremental_neardup" -> d16Sql,
    "d15_semdedup" -> d15Sql,
    "d14_minhash_calibration" -> d14Sql,
    "d13_span_dedup" -> d13Sql,
    "d12_cross_source_neardups" -> d12Sql,
    "d09_canonical_prune" -> d09Sql,
    "d10_segment_dedup" -> d10Sql,
    "d11_containment" -> d11Sql,
    "d08_cross_source_dups" -> d08Sql,
    "d01_exact_dedup" -> d01Sql,
    "d03_ngram_jaccard" -> d03Sql,
    "d04_minhash_lsh" -> d04Sql,
    "d05_simhash" -> d05Sql,
    "d06_dup_clusters" -> d06Sql,
    "d07_embedding_dedup" -> d07Sql)
}
