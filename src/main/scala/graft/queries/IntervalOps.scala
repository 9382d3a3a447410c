package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Intervals, Ordered => Ord}

/** Interval-algebra (J5–J7, W5) and ordered-operator (W1/W2/W4/W7) queries,
  * expressed on the TPC-H-ish tables by synthesizing half-open intervals
  * from numeric columns:
  *   - supplier → intervals (chrom = nationkey, [acctbal*100, +50000))
  *   - customer → intervals (chrom = nationkey, [acctbal*100, +30000)) or
  *     points ([acctbal*100, +1))
  * `round(x*100)` (not cast) keeps the double→long conversion identical
  * between Spark and DuckDB.
  */
object IntervalOps {
  type Q = (SparkSession, String) => DataFrame

  private def suppIntervals(s: SparkSession, d: String): DataFrame =
    Tables.supplier(s, d).select(
      col("s_suppkey"),
      col("s_nationkey").cast("string").as("chrom"),
      round(col("s_acctbal") * 100, 0).cast("long").as("bstart"))
      .withColumn("bend", col("bstart") + 50000L)

  private def custIntervals(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey"),
      col("c_nationkey").cast("string").as("chrom"),
      round(col("c_acctbal") * 100, 0).cast("long").as("start"))
      .withColumn("end", col("start") + 30000L)

  val queries: Map[String, Q] = Map(
    // ----- J5: point-in-interval overlap join, bin-bucketed (bedtools intersect)
    "j5_interval_overlap" -> { (s, d) =>
      val points = Tables.customer(s, d).select(
        col("c_custkey"),
        col("c_nationkey").cast("string").as("chrom"),
        round(col("c_acctbal") * 100, 0).cast("long").as("start"))
        .withColumn("end", col("start") + 1L)
      Intervals.overlapJoin(points, suppIntervals(s, d), broadcastB = true)
        .groupBy("c_custkey").agg(count(lit(1)).as("n_hits"))
    },
    // ----- J6: pairwise interval intersection, clipped spans (intersect_bed_files)
    "j6_interval_intersect" -> { (s, d) =>
      Intervals.intersectSets(custIntervals(s, d), suppIntervals(s, d).drop("s_suppkey"))
        .groupBy("chrom")
        .agg(count(lit(1)).as("n_pairs"),
             sum(col("end") - col("start")).as("clipped_len"))
    },
    // ----- J7: interval subtraction (bedtools subtract)
    "j7_interval_subtract" -> { (s, d) =>
      Intervals.subtract(custIntervals(s, d), suppIntervals(s, d).drop("s_suppkey"))
        .groupBy("chrom")
        .agg(count(lit(1)).as("n_pieces"),
             sum(col("end") - col("start")).as("surv_len"))
    },
    // ----- W5: union-merge of overlapping intervals (bedtools merge)
    "w5_interval_merge" -> { (s, d) =>
      Intervals.merge(custIntervals(s, d).drop("c_custkey"))
    },
    // ----- W1: cumulative precision/recall sweep over a score — the AUTO
    // form (r16): a bounded limit-count picks the plain exact window for
    // small inputs and the two-phase scalable form past PR_EXACT_MAX; the
    // two are row-identical (OrderedSpec), so the oracle never sees the
    // dispatch (sf0.01 orders take the exact arm, 100x the scalable one)
    "w1_pr_curve" -> { (s, d) =>
      val o = Tables.orders(s, d).filter(col("o_orderstatus").isin("F", "O"))
      Ord.prCurveAuto(o, col("o_totalprice"), col("o_orderstatus") === "F",
          col("o_orderstatus") === "O", col("o_orderkey"))
        .select(col("rank"),
          r6(col("precision")).as("precision"),
          r6(col("recall")).as("recall"))
    },
    // ----- J12 (extension): as-of join — each high-value event picks up
    // the most recent low-value "quote" of its user (event-time feature
    // lookup; one shuffle, no range join)
    "j12_asof_join" -> { (s, d) =>
      val e = Tables.events(s, d).select(
        col("user_id"),
        (unix_micros(col("ts")) * 1000L + col("event_id") % 1000L).as("pos"),
        col("value"))
      val probe = e.filter(col("value") > 100)
      val build = e.filter(col("value") <= 100).withColumnRenamed("value", "quote")
      Ord.asofJoin(probe, build, Seq("user_id"), "pos", "quote")
        .select(col("user_id"), col("pos"),
          r6(col("value")).as("probe_value"), r6(col("asof_quote")).as("last_quote"))
    },
    // ----- M3: the P/R sweep with the reference's noise floor — prefixes
    // with fewer than 20 accepted calls are suppressed
    // (stats_utils.py:202-210, min_class_counts_to_output)
    "m3_pr_noise_floor" -> { (s, d) =>
      val o = Tables.orders(s, d).filter(col("o_orderstatus").isin("F", "O"))
      Ord.prCurveAuto(o, col("o_totalprice"), col("o_orderstatus") === "F",
          col("o_orderstatus") === "O", col("o_orderkey"))
        .filter(col("ctp") + col("cfp") >= 20)
        .select(col("rank"), col("ctp"), col("cfp"),
          r6(col("precision")).as("precision"), r6(col("recall")).as("recall"))
    },
    // ----- W2 (lag form): gaps-and-islands sessionization on the event stream
    "w2_sessionize" -> { (s, d) =>
      Ord.sessionize(Tables.events(s, d), "user_id", "ts", 600L)
        .groupBy("user_id")
        .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
    },
    // ----- W4: monotone running-max extent filter (gvcf_bed record emission)
    "w4_record_highs" -> { (s, d) =>
      Ord.recordHighs(Tables.orders(s, d), "o_custkey", "o_orderkey", "o_totalprice")
        .select("o_custkey", "o_orderkey", "o_totalprice")
    },
    // ----- W7: every-k-th-row downsample per group — the packed-key
    // selection form (round 14): the order key packs losslessly into one
    // long (l_orderkey*8 + l_linenumber, the o5 packing), so the rank
    // pass that dominated the two-phase window form (~6.4 s of ~10; NOTES.md
    // Round 14, w7 item) collapses to a 12-byte/row shuffle + per-cell primitive
    // Arrays.sort + direct emission of the k-th ranks. Same-window
    // 3-rep A/B at 100x: uniform-bounds window 8.3-11.0 s, packed
    // 3.5-6.6 s; skew replica 13.3 vs 5.3-6.1 s. r18 cell-sizing A/B
    // (OPTIMIZATION_r18.md §7, row-identity asserted): buckets/partition 2/4/8/16 =
    // 5.1/4.7/3.7/3.6 s cold, 3.8/3.4/3.4/3.4 s warm -> default now 8
    // (balance win; 16 only doubles the driver cell inventory for ~2%).
    // Exactness unchanged
    // (bounds steer only balance; counts are exact; spec fuzzes
    // duplicates, skew, null keys, and both fallbacks). History: plain
    // 3-partition window 41-52 s at 100x (parallelism = group count),
    // quantile-bounds two-phase 15-21 s, uniform-bounds 8-13 s.
    "w7_downsample" -> { (s, d) =>
      Ord.everyKthPacked(Tables.lineitem(s, d), "l_returnflag",
          col("l_orderkey") * 8 + col("l_linenumber"), 100)
        .select(col("g").as("l_returnflag"),
          expr("p div 8").as("l_orderkey"),
          pmod(col("p"), lit(8L)).cast("int").as("l_linenumber"))
    },
    // ----- W2 strict: the gVCF block-compression automaton over an
    // events-derived record stream, replayed in DuckDB with a recursive CTE
    // (one recursion level per record rank; the d7 oracle set the
    // precedent). `pos` carries an event_id tiebreak so the sort order the
    // automaton sees is identical on both sides.
    "w2_block_compress" -> { (s, d) =>
      import s.implicits._
      val pos = unix_micros(col("ts")) * 1000L + col("event_id") % 1000L
      val recs = Tables.events(s, d).select(
        col("user_id").cast("string").as("chrom"),
        pos.as("pos"),
        (pos + 1L).as("end"),
        (col("value").cast("long") % 60).cast("int").as("gq"),
        lit(30).as("dp"),
        array(lit(0), lit(10), lit(100)).as("pl"),
        (col("value") > 450).as("pass"),
        (col("value") < 50).as("isRefCall")).as[graft.operators.GvcfRecord]
      // AUTO dispatch (round 13, mirror of w3's): this corpus has one
      // chrom per user_id — hash placement levels it and the segmented
      // path's anchor machinery is overhead (segmented collects every solo
      // record at rate 1 across 150k chroms; NOTES.md Round 14, w2 item);
      // the genomics
      // regime (few giant contigs) still takes the segmented path, which
      // stays spec-proven identical to the sequential automaton
      graft.operators.BlockCompress.compressAuto(recs, mergeGqThreshold = 10)(s)
        .groupBy("chrom")
        .agg(count(lit(1)).as("n_blocks"), sum("nRecords").as("n_records"),
          min("minGq").as("min_gq"), sum("minGq").as("sum_block_min_gq"),
          max("nRecords").as("max_block"))
    },
    // ----- W1 at scale: score-bucketed P/R sweep — the declared scale-safe
    // form (global window over the 1000-row bucket table, not the facts)
    "w1_pr_curve_bucketed" -> { (s, d) =>
      val o = Tables.orders(s, d).filter(col("o_orderstatus").isin("F", "O"))
      Ord.prCurveBucketed(o, col("o_totalprice"),
          col("o_orderstatus") === "F", col("o_orderstatus") === "O",
          nBuckets = 1000, minScore = 0.0, maxScore = 600000.0)
        .select(col("threshold"), col("ctp"), col("cfp"),
          r6(col("precision")).as("precision"), r6(col("recall")).as("recall"))
    },
    // ----- A9: 2-D histogram (dims × pivoted category)
    "a9_2d_histogram" -> { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("qty_bin", floor(col("l_quantity") / 10).cast("long"))
        .groupBy("l_returnflag", "qty_bin")
        .pivot("l_linestatus", Seq("O", "F")).count()
        .na.fill(0L, Seq("O", "F"))
    }
  )

  private val suppSql =
    """SELECT CAST(s_nationkey AS VARCHAR) AS chrom,
       CAST(round(s_acctbal*100) AS BIGINT) AS s,
       CAST(round(s_acctbal*100) AS BIGINT) + 50000 AS e FROM supplier"""
  private val custSql =
    """SELECT c_custkey, CAST(c_nationkey AS VARCHAR) AS chrom,
       CAST(round(c_acctbal*100) AS BIGINT) AS s,
       CAST(round(c_acctbal*100) AS BIGINT) + 30000 AS e FROM customer"""

  val oracles: Map[String, String] = Map(
    "j5_interval_overlap" ->
      s"""WITH b AS ($suppSql),
          p AS (SELECT c_custkey, CAST(c_nationkey AS VARCHAR) AS chrom,
                CAST(round(c_acctbal*100) AS BIGINT) AS pos FROM customer)
          SELECT c_custkey, count(*) AS n_hits
          FROM p JOIN b ON p.chrom = b.chrom AND p.pos >= b.s AND p.pos < b.e
          GROUP BY 1""",
    "j6_interval_intersect" ->
      s"""WITH a AS ($custSql), b AS ($suppSql)
          SELECT a.chrom, count(*) AS n_pairs,
                 CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT) AS clipped_len
          FROM a JOIN b ON a.chrom = b.chrom AND a.s < b.e AND b.s < a.e
          GROUP BY 1""",
    "j7_interval_subtract" ->
      s"""WITH a AS ($custSql), b AS ($suppSql),
          hit AS (SELECT a.c_custkey AS id, a.chrom, a.s, a.e,
                         greatest(a.s, b.s) AS cs, least(a.e, b.e) AS ce
                  FROM a JOIN b ON a.chrom = b.chrom AND a.s < b.e AND b.s < a.e),
          w AS (SELECT *, max(ce) OVER (PARTITION BY id ORDER BY cs, ce
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM hit),
          isl AS (SELECT *, sum(CASE WHEN pmax IS NULL OR cs > pmax THEN 1 ELSE 0 END)
                  OVER (PARTITION BY id ORDER BY cs, ce) AS g FROM w),
          m AS (SELECT id, chrom, s, e, g, min(cs) AS ms, max(ce) AS me
                FROM isl GROUP BY id, chrom, s, e, g),
          cov AS (SELECT id, chrom, s, e, count(*) AS nisl, sum(me - ms) AS covlen,
                         min(ms) AS first_s, max(me) AS last_e
                  FROM m GROUP BY id, chrom, s, e),
          pieces AS (
            SELECT chrom,
              (nisl - 1) + (CASE WHEN first_s > s THEN 1 ELSE 0 END)
                         + (CASE WHEN last_e < e THEN 1 ELSE 0 END) AS np,
              (e - s) - covlen AS sl
            FROM cov
            UNION ALL
            SELECT a.chrom, 1 AS np, (a.e - a.s) AS sl FROM a
            WHERE NOT EXISTS (SELECT 1 FROM b
              WHERE b.chrom = a.chrom AND a.s < b.e AND b.s < a.e))
          SELECT chrom, CAST(sum(np) AS BIGINT) AS n_pieces,
                 CAST(sum(sl) AS BIGINT) AS surv_len
          FROM pieces GROUP BY chrom
          HAVING sum(np) > 0""",
    "w5_interval_merge" ->
      s"""WITH a AS ($custSql),
          w AS (SELECT chrom, s, e, max(e) OVER (PARTITION BY chrom ORDER BY s, e
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM a),
          isl AS (SELECT *, sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
                  OVER (PARTITION BY chrom ORDER BY s, e) AS g FROM w)
          SELECT chrom, min(s) AS "start", max(e) AS "end"
          FROM isl GROUP BY chrom, g""",
    "w1_pr_curve" ->
      """WITH t AS (SELECT o_totalprice AS score, o_orderkey AS tb,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS tp,
           CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS fp
           FROM orders WHERE o_orderstatus IN ('F', 'O')),
         c AS (SELECT row_number() OVER (ORDER BY score DESC, tb) AS rank,
           sum(tp) OVER (ORDER BY score DESC, tb
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
           sum(fp) OVER (ORDER BY score DESC, tb
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cfp,
           sum(tp) OVER () AS ttp FROM t)
         SELECT rank, floor(ctp*1.0/(ctp+cfp)*1000000 + 0.5)/1000000 AS precision,
                floor(ctp*1.0/ttp*1000000 + 0.5)/1000000 AS recall FROM c""",
    // The W2 automaton replayed as a recursive CTE: one level per record
    // rank per chrom, carrying (min_gq, max_gq, block id, prev-was-solo) —
    // exactly the BlockIterator state (compress_gvcf.py:153-158).
    "w2_block_compress" ->
      """WITH RECURSIVE recs AS (
           SELECT chrom, pos, gq, pass, refcall,
                  row_number() OVER (PARTITION BY chrom ORDER BY pos) AS rn
           FROM (SELECT CAST(user_id AS VARCHAR) AS chrom,
                        epoch_us(ts) * 1000 + event_id % 1000 AS pos,
                        CAST(CAST(trunc(value) AS BIGINT) % 60 AS INT) AS gq,
                        value > 450 AS pass, value < 50 AS refcall
                 FROM events)),
         walk AS (
           SELECT chrom, rn, gq, gq AS min_gq, gq AS max_gq, 1 AS blk,
                  (pass OR (refcall AND gq <= 22)) AS solo
           FROM recs WHERE rn = 1
           UNION ALL
           SELECT r.chrom, r.rn, r.gq,
             CASE WHEN (r.pass OR (r.refcall AND r.gq <= 22) OR w.solo
                        OR r.gq - w.min_gq >= 10 OR w.max_gq - r.gq >= 10)
                  THEN r.gq ELSE least(w.min_gq, r.gq) END,
             CASE WHEN (r.pass OR (r.refcall AND r.gq <= 22) OR w.solo
                        OR r.gq - w.min_gq >= 10 OR w.max_gq - r.gq >= 10)
                  THEN r.gq ELSE greatest(w.max_gq, r.gq) END,
             w.blk + CASE WHEN (r.pass OR (r.refcall AND r.gq <= 22) OR w.solo
                               OR r.gq - w.min_gq >= 10 OR w.max_gq - r.gq >= 10)
                          THEN 1 ELSE 0 END,
             (r.pass OR (r.refcall AND r.gq <= 22))
           FROM walk w JOIN recs r ON r.chrom = w.chrom AND r.rn = w.rn + 1),
         blocks AS (SELECT chrom, blk, count(*) AS n_rec, min(gq) AS bmin
                    FROM walk GROUP BY 1, 2)
         SELECT chrom, count(*) AS n_blocks, CAST(sum(n_rec) AS BIGINT) AS n_records,
                min(bmin) AS min_gq, CAST(sum(bmin) AS BIGINT) AS sum_block_min_gq,
                CAST(max(n_rec) AS BIGINT) AS max_block
         FROM blocks GROUP BY 1""",
    "w1_pr_curve_bucketed" ->
      """WITH t AS (SELECT least(greatest(floor(o_totalprice / 600.0), 0), 999) AS bucket,
                    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS tp,
                    CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS fp
             FROM orders WHERE o_orderstatus IN ('F', 'O')),
         agg AS (SELECT bucket, sum(tp) AS btp, sum(fp) AS bfp FROM t GROUP BY 1),
         c AS (SELECT bucket, btp, bfp,
                 sum(btp) OVER (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
                 sum(bfp) OVER (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cfp,
                 sum(btp) OVER () AS ttp FROM agg)
         SELECT bucket * 600.0 + 0.0 AS threshold,
                CAST(ctp AS BIGINT) AS ctp, CAST(cfp AS BIGINT) AS cfp,
                floor(ctp*1.0/(ctp+cfp)*1000000 + 0.5)/1000000 AS precision,
                floor(ctp*1.0/ttp*1000000 + 0.5)/1000000 AS recall
         FROM c""",
    "j12_asof_join" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) * 1000 + event_id % 1000 AS pos, value
             FROM events),
         p AS (SELECT * FROM e WHERE value > 100),
         b AS (SELECT user_id, pos, value AS quote FROM e WHERE value <= 100)
         SELECT p.user_id, p.pos,
                floor(p.value*1000000 + 0.5)/1000000 AS probe_value,
                floor(b.quote*1000000 + 0.5)/1000000 AS last_quote
         FROM p ASOF LEFT JOIN b
           ON p.user_id = b.user_id AND p.pos >= b.pos""",
    "m3_pr_noise_floor" ->
      """WITH t AS (SELECT o_totalprice AS score, o_orderkey AS tb,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS tp,
           CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS fp
           FROM orders WHERE o_orderstatus IN ('F', 'O')),
         c AS (SELECT row_number() OVER (ORDER BY score DESC, tb) AS rank,
           sum(tp) OVER (ORDER BY score DESC, tb
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ctp,
           sum(fp) OVER (ORDER BY score DESC, tb
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cfp,
           sum(tp) OVER () AS ttp FROM t)
         SELECT rank, CAST(ctp AS BIGINT) AS ctp, CAST(cfp AS BIGINT) AS cfp,
                floor(ctp*1.0/(ctp+cfp)*1000000 + 0.5)/1000000 AS precision,
                floor(ctp*1.0/ttp*1000000 + 0.5)/1000000 AS recall
         FROM c WHERE ctp + cfp >= 20""",
    "w2_sessionize" ->
      """WITH g AS (SELECT user_id, ts,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                     > 600 * 1000000 THEN 1 ELSE 0 END AS brk
           FROM events)
         SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions, count(*) AS n_events
         FROM (SELECT user_id, sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM g)
         GROUP BY 1""",
    "w4_record_highs" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  max(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM orders)
         WHERE pmax IS NULL OR o_totalprice > pmax""",
    "w7_downsample" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY l_orderkey, l_linenumber) AS rn
           FROM lineitem)
         WHERE rn % 100 = 0""",
    "a9_2d_histogram" ->
      """SELECT l_returnflag, CAST(floor(l_quantity/10) AS BIGINT) AS qty_bin,
         count(*) FILTER (l_linestatus = 'O') AS "O",
         count(*) FILTER (l_linestatus = 'F') AS "F"
         FROM lineitem GROUP BY 1, 2"""
  )
}
