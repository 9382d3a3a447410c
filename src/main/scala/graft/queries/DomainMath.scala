package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Genomics, PlMath, Stats}
import graft.operators.{Isec, OverlapSuppress, SuppressRecord}

/** Oracle-gated queries for the domain-math operators that were previously
  * ScalaTest-only: F4/F5 (contingency/multinomial stats), F13 (genotype
  * error classification), F14 (PL vector math), F15 (homopolymer run), F16
  * (flow-space key) and W3 (overlap-buffer suppression).
  *
  * Inputs are synthesized deterministically from the TPC-H-ish tables with
  * pure integer arithmetic (plus md5-derived pseudo-DNA for F15/F16) so the
  * DuckDB oracle can rebuild them bit-identically. Array outputs are
  * emitted as comma-joined strings: the driver's comparator hashes scalar
  * columns, not nested lists.
  *
  * Scale notes: every query here is a narrow projection (scalar codegen'd
  * expressions or a per-row UDF where SURVEY §2.11 sanctions one) or a
  * single partial+final aggregate — no shuffles beyond the final groupBy,
  * nothing driver-side. W3 is the sorted-partition automaton: one range
  * shuffle by chrom, then a streaming pass.
  */
object DomainMath {
  type Q = (SparkSession, String) => DataFrame

  /** 32-char pseudo-DNA from the md5 hex of a key — deterministic and
    * reproducible in DuckDB via the identical translate(md5(..)). */
  private def dna(key: org.apache.spark.sql.Column) =
    translate(md5(key.cast("string").cast("binary")),
      "0123456789abcdef", "ACGTACGTACGTACGT")

  val queries: Map[String, Q] = Map(
    // ----- F4: contingency-table rescale with half-even rounding
    // (stats_utils.py:12-29). Count vectors derived per-row from part.
    "f4_scale_contingency" -> { (s, d) =>
      val arr = array(
        (col("p_partkey") % 13 + 1).cast("long"),
        (col("p_size") % 7 + 1).cast("long"),
        ((col("p_partkey") + col("p_size")) % 5 + 1).cast("long"))
      Tables.part(s, d).select(
        col("p_partkey"),
        array_join(Stats.scaleContingencyTable(arr, lit(1000)), ",").as("scaled"))
    },
    // ----- F5: multinomial likelihood + likelihood ratio with add-one
    // correction (stats_utils.py:32-70). Small per-row count vectors keep
    // the pmf in a well-conditioned range.
    "f5_multinomial" -> { (s, d) =>
      val actual = array(
        (col("p_partkey") % 5).cast("long"),
        (col("p_size") % 5).cast("long"),
        ((col("p_partkey") + col("p_size")) % 7).cast("long"))
      val expected = array(
        (col("p_size") % 6).cast("long"),
        (col("p_partkey") % 4).cast("long"),
        lit(3L))
      Tables.part(s, d).select(
        col("p_partkey"),
        r6(Stats.multinomialLogLikCountsUdf(actual, expected)).as("log_likelihood"),
        r6(Stats.multinomialLogRatioUdf(actual, expected)).as("log_ratio"))
    },
    // ----- F13: genotype-pair error classification
    // (report_data_loader.py:106-126). Genotype alleles 0..3 with nulls
    // (no-calls) injected at residue 4.
    "f13_error_type" -> { (s, d) =>
      def allele(c: org.apache.spark.sql.Column) = {
        val m = c % 5
        when(m === 4, lit(null)).otherwise(m).cast("int")
      }
      Tables.orders(s, d)
        .withColumn("et", Genomics.errorType(
          allele(col("o_orderkey")), allele(col("o_custkey")),
          allele(col("o_orderkey") + col("o_custkey")),
          allele(floor(col("o_totalprice")).cast("long"))))
        .groupBy("et", "o_orderstatus")
        .agg(count(lit(1)).as("n"))
    },
    // ----- F14: PL triangular-vector math — diploid→haploid collapse with
    // truncate-then-shift, last-zero-GT call, PL3 class compression
    // (convert_haploid_regions.py:38-70, compress_gvcf.py:28-60).
    "f14_pl_math" -> { (s, d) =>
      val pl = array(
        (col("p_partkey") % 17).cast("int"),             // (0,0)
        (col("p_partkey") % 7 + 30).cast("int"),         // (0,1)
        (col("p_size") % 23).cast("int"),                // (1,1)
        (col("p_partkey") % 11 + 25).cast("int"),        // (0,2)
        (col("p_size") % 5 + 35).cast("int"),            // (1,2)
        ((col("p_partkey") + col("p_size")) % 29).cast("int")) // (2,2)
      Tables.part(s, d)
        .withColumn("_h", PlMath.haploidConvertUdf(pl, lit(false)))
        .select(
          col("p_partkey"),
          array_join(col("_h._1"), ",").as("haploid_pl"),
          col("_h._2").as("gt"),
          col("_h._3").as("gq"),
          array_join(PlMath.compressPl3Udf(pl), ",").as("pl3"))
    },
    // ----- F15: homopolymer run length at a locus midpoint
    // (calibrate_bridging_snvs.py call shape) over md5-derived pseudo-DNA.
    "f15_hmer_length" -> { (s, d) =>
      val seq = dna(col("p_partkey"))
      Tables.part(s, d).select(
        col("p_partkey"),
        Genomics.hmerLengthUdf(seq, substring(seq, 17, 1)).as("hmer_mid"),
        Genomics.hmerLengthUdf(seq, lit("A")).as("hmer_a"))
    },
    // ----- F15b: faithful bridging-SNV classifier with the tandem-repeat
    // guard (is_homopolymer_snp, calibrate_bridging_snvs.py:9-66); k=2
    // window over md5-derived pseudo-DNA so runs actually occur.
    "f15b_bridging_snp" -> { (s, d) =>
      val ctx = substring(dna(col("p_partkey")), 14, 5)
      Tables.part(s, d)
        .withColumn("_b", Genomics.bridgingHmerUdf(2, 1000.0, 0)(
          ctx, lit("A"), col("p_retailprice"), col("p_size") % 10 === 0))
        .select(col("p_partkey"),
          col("_b._1").as("hmer_size"), col("_b._2").as("up"),
          col("_b._3").as("down"), col("_b._4").as("is_tandem"),
          col("_b._5").as("qualifies"))
    },
    // ----- F16: flow-space key — TGCA-cycled run-length expansion
    // (collect_hpol_table.py:98-114 call shape) over md5-derived pseudo-DNA.
    "f16_flow_key" -> { (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        array_join(Genomics.flowKeyUdf(dna(col("p_partkey"))), ",").as("flow_key"))
    },
    // ----- J11: N-way bcftools-isec partition table — every key classed by
    // the bitmask of sets containing it (create_somatic_gt_file.py:74-170)
    "j11_isec_partition" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val key = Seq("l_orderkey", "l_partkey")
      // same-source fused form: one fact scan + one aggregate (the general
      // partitionSizes pays N scans + N distinct shuffles + a union;
      // IsecSpec pins the equivalence)
      Isec.partitionSizesFromPredicates(li, Seq(
        col("l_suppkey") <= 60,
        col("l_quantity") > 25,
        col("l_discount") > 0.04), key)
    },
    // ----- W3: overlap-buffer suppression — drop uncalled-genotype records
    // from overlap groups that contain a called variant
    // (cleanup_gvcf_before_calling.py:31-86).
    "w3_overlap_suppress" -> { (s, d) =>
      import s.implicits._
      val recs = Tables.events(s, d).select(
        col("user_id").cast("string").as("chrom"),
        (unix_micros(col("ts")) * 1000L + col("event_id") % 1000L).as("pos"),
        ((col("value").cast("long") % 10) * 200000000000L).as("delLen"),
        (col("value") > 250).as("called"),
        (col("value").cast("long") % 3 === 0).as("uncalledGt")).as[SuppressRecord]
      // auto dispatch: plain hash partitioning when the chrom count already
      // levels the load (this table: 150k chroms), the exact segmented
      // intra-chrom parallel path when single chroms dominate (segmented cost
      // 14-29 s here vs plain 1.5 s at the 100x replica; NOTES.md Round 14)
      OverlapSuppress.suppressAuto(recs)(s)
        .toDF()
        .select("chrom", "pos", "called", "uncalledGt")
    },
    // ----- ML1: the filter-model SCORING contract (tree_score rounding +
    // PASS/LOW_SCORE cut) replayed with a frozen depth-1 stump whose leaf
    // probabilities are class fractions (28/30 vs 2/30) — training itself
    // is spec-gated (FilterModelSpec), but the score path a 100 TB callset
    // flows through is exact SQL and belongs under the DuckDB gate.
    "ml1_filter_score" -> { (s, d) =>
      val p1 = when(col("o_totalprice") >= 150000.0, lit(28.0 / 30))
        .otherwise(lit(2.0 / 30))
      graft.pipelines.FilterModel.applyScoreContract(
          Tables.orders(s, d).select("o_orderkey", "o_totalprice"), p1, 0.5)
        .select("o_orderkey", "tree_score", "filter_status")
    }
  )

  // DuckDB equivalents. Integer arithmetic mirrors the Spark side exactly;
  // `trunc` guards every double→int cast (DuckDB CAST rounds, Spark casts
  // truncate).
  val oracles: Map[String, String] = Map(
    "f4_scale_contingency" ->
      """WITH t AS (SELECT p_partkey,
           p_partkey % 13 + 1 AS c1, p_size % 7 + 1 AS c2,
           (p_partkey + p_size) % 5 + 1 AS c3 FROM part),
         x AS (SELECT p_partkey,
           c1 * 1000.0 / (c1+c2+c3) AS x1,
           c2 * 1000.0 / (c1+c2+c3) AS x2,
           c3 * 1000.0 / (c1+c2+c3) AS x3 FROM t)
         SELECT p_partkey, concat_ws(',',
           CASE WHEN x1 - floor(x1) = 0.5 THEN CAST(floor(x1) AS BIGINT) + CAST(floor(x1) AS BIGINT) % 2
                ELSE CAST(floor(x1 + 0.5) AS BIGINT) END,
           CASE WHEN x2 - floor(x2) = 0.5 THEN CAST(floor(x2) AS BIGINT) + CAST(floor(x2) AS BIGINT) % 2
                ELSE CAST(floor(x2 + 0.5) AS BIGINT) END,
           CASE WHEN x3 - floor(x3) = 0.5 THEN CAST(floor(x3) AS BIGINT) + CAST(floor(x3) AS BIGINT) % 2
                ELSE CAST(floor(x3 + 0.5) AS BIGINT) END) AS scaled
         FROM x""",
    "f5_multinomial" ->
      """WITH t AS (SELECT p_partkey,
           p_partkey % 5 AS a1, p_size % 5 AS a2, (p_partkey + p_size) % 7 AS a3,
           p_size % 6 AS e1, p_partkey % 4 AS e2, 3 AS e3 FROM part),
         p AS (SELECT *,
           (e1+1.0)/(e1+e2+e3+3) AS pe1, (e2+1.0)/(e1+e2+e3+3) AS pe2, (e3+1.0)/(e1+e2+e3+3) AS pe3,
           (a1+1.0)/(a1+a2+a3+3) AS pa1, (a2+1.0)/(a1+a2+a3+3) AS pa2, (a3+1.0)/(a1+a2+a3+3) AS pa3
           FROM t),
         ll AS (SELECT p_partkey,
           -- exact multinomial coefficient (n <= 14) to dodge lgamma
           -- library differences at round-6 boundaries
           ln(factorial(CAST(a1+a2+a3 AS INT)) /
              (factorial(CAST(a1 AS INT)) * factorial(CAST(a2 AS INT)) * factorial(CAST(a3 AS INT))))
             + a1*ln(pe1) + a2*ln(pe2) + a3*ln(pe3) AS ll_e,
           a1*(ln(pe1)-ln(pa1)) + a2*(ln(pe2)-ln(pa2)) + a3*(ln(pe3)-ln(pa3)) AS ll_d
           FROM p)
         SELECT p_partkey,
           floor(ll_e*1000000 + 0.5)/1000000 AS log_likelihood,
           floor(ll_d*1000000 + 0.5)/1000000 AS log_ratio
         FROM ll""",
    "f13_error_type" ->
      """WITH g AS (SELECT o_orderstatus,
           CASE WHEN o_orderkey % 5 = 4 THEN -1 ELSE CAST(o_orderkey % 5 AS INT) END AS g1,
           CASE WHEN o_custkey % 5 = 4 THEN -1 ELSE CAST(o_custkey % 5 AS INT) END AS g2,
           CASE WHEN (o_orderkey + o_custkey) % 5 = 4 THEN -1 ELSE CAST((o_orderkey + o_custkey) % 5 AS INT) END AS c1,
           CASE WHEN CAST(trunc(o_totalprice) AS BIGINT) % 5 = 4 THEN -1
                ELSE CAST(CAST(trunc(o_totalprice) AS BIGINT) % 5 AS INT) END AS c2
           FROM orders),
         st AS (SELECT o_orderstatus,
           list_sort(list_distinct([g1, g2])) AS gs,
           list_sort(list_distinct([c1, c2])) AS cs FROM g),
         cls AS (SELECT o_orderstatus,
           CASE WHEN gs = cs THEN 'NO_ERROR'
                WHEN gs = [0] OR gs = [-1] THEN 'NOISE'
                WHEN cs = [0] OR cs = [-1] THEN 'NO_VARIANT'
                WHEN list_has_all(cs, gs) THEN 'HOM_TO_HET'
                WHEN list_has_all(gs, cs) THEN 'HET_TO_HOM'
                ELSE 'WRONG_ALLELE' END AS et
           FROM st)
         SELECT et, o_orderstatus, count(*) AS n FROM cls GROUP BY 1, 2""",
    // Exact-integer form of toHaploid: for integer PLs the truncate-then-
    // shift pipeline reduces to h_i - min(h) over the homozygous entries
    // (PlMathSpec proves this exhaustively over this query's value grid).
    "f14_pl_math" ->
      """WITH t AS (SELECT p_partkey,
           p_partkey % 17 AS q0, p_partkey % 7 + 30 AS q1, p_size % 23 AS q2,
           p_partkey % 11 + 25 AS q3, p_size % 5 + 35 AS q4,
           (p_partkey + p_size) % 29 AS q5 FROM part),
         m AS (SELECT *, least(q0, q2, q5) AS mn FROM t)
         SELECT p_partkey,
           concat_ws(',', q0 - mn, q2 - mn, q5 - mn) AS haploid_pl,
           CASE WHEN q5 = mn THEN 2 WHEN q2 = mn THEN 1 ELSE 0 END AS gt,
           CAST(coalesce(least(nullif(q0 - mn, 0), nullif(q2 - mn, 0), nullif(q5 - mn, 0)), 10000) AS INT) AS gq,
           concat_ws(',', q0, least(q1, q3), least(q2, q4, q5)) AS pl3
         FROM m""",
    "f15_hmer_length" ->
      """WITH t AS (SELECT p_partkey,
           translate(md5(CAST(p_partkey AS VARCHAR)),
                     '0123456789abcdef', 'ACGTACGTACGTACGT') AS s FROM part),
         b AS (SELECT p_partkey, s, substr(s, 17, 1) AS bm FROM t)
         SELECT p_partkey,
           CAST(coalesce(list_min(list_filter(range(1, 17), j -> substr(s, 17 - CAST(j AS INT), 1) <> bm)), 17) - 1
              + coalesce(list_min(list_filter(range(0, 16), j -> substr(s, 17 + CAST(j AS INT), 1) <> bm)), 16) AS INT) AS hmer_mid,
           CAST(coalesce(list_min(list_filter(range(1, 17), j -> substr(s, 17 - CAST(j AS INT), 1) <> 'A')), 17) - 1
              + coalesce(list_min(list_filter(range(0, 16), j -> substr(s, 17 + CAST(j AS INT), 1) <> 'A')), 16) AS INT) AS hmer_a
         FROM b""",
    "f15b_bridging_snp" ->
      """WITH t AS (SELECT p_partkey, p_size, p_retailprice,
           substr(translate(md5(CAST(p_partkey AS VARCHAR)),
                  '0123456789abcdef', 'ACGTACGTACGTACGT'), 14, 5) AS s FROM part),
         scan AS (SELECT p_partkey, p_size, p_retailprice, s,
           substr(s, 3, 1) AS ref,
           coalesce(list_min(list_filter(range(1, 3), j -> substr(s, 3 + CAST(j AS INT), 1) <> 'A')), 3) - 1 AS down,
           coalesce(list_min(list_filter(range(1, 3), j -> substr(s, 3 - CAST(j AS INT), 1) <> 'A')), 3) - 1 AS up
           FROM t),
         fl AS (SELECT *,
           CASE WHEN down < 2 THEN substr(s, 3 + CAST(down AS INT) + 1, 1) ELSE '' END AS aft,
           CASE WHEN up < 2 THEN substr(s, 3 - CAST(up AS INT) - 1, 1) ELSE '' END AS bef
           FROM scan),
         cls AS (SELECT *,
           CAST(1 + up + down AS INT) AS hmer_size,
           (bef = aft AND bef = ref AND up = down) AS is_tandem
           FROM fl)
         SELECT p_partkey, hmer_size, CAST(up AS INT) AS up, CAST(down AS INT) AS down,
           is_tandem,
           (NOT p_size % 10 = 0 AND p_retailprice >= 1000.0 AND hmer_size >= 2
            AND NOT is_tandem AND least(up, down) >= 0) AS qualifies
         FROM cls""",
    // Flow-key replay: RLE the string (gaps-and-islands over positions),
    // place each run at its TGCA flow slot, fill skipped flows with 0.
    "f16_flow_key" ->
      """WITH base AS (SELECT p_partkey,
           translate(md5(CAST(p_partkey AS VARCHAR)),
                     '0123456789abcdef', 'ACGTACGTACGTACGT') AS s FROM part),
         chars AS (SELECT p_partkey, CAST(i AS INT) AS i, substr(s, CAST(i AS INT), 1) AS ch
                   FROM base, UNNEST(range(1, 33)) AS t(i)),
         marked AS (SELECT *, CASE WHEN lag(ch) OVER (PARTITION BY p_partkey ORDER BY i)
                                        IS DISTINCT FROM ch THEN 1 ELSE 0 END AS brk
                    FROM chars),
         runs0 AS (SELECT p_partkey, i, ch,
                     sum(brk) OVER (PARTITION BY p_partkey ORDER BY i) AS run_id
                   FROM marked),
         runs AS (SELECT p_partkey, run_id, min(ch) AS b, count(*) AS len
                  FROM runs0 GROUP BY 1, 2),
         steps AS (SELECT *, lag(b) OVER (PARTITION BY p_partkey ORDER BY run_id) AS pb
                   FROM runs),
         flows AS (SELECT p_partkey, run_id, len,
             sum(CASE WHEN pb IS NULL THEN strpos('TGCA', b)
                      ELSE ((strpos('TGCA', b) - strpos('TGCA', pb) - 1) % 4 + 4) % 4 + 1 END)
               OVER (PARTITION BY p_partkey ORDER BY run_id) - 1 AS f
           FROM steps),
         width AS (SELECT p_partkey, max(f) + 1 AS nf FROM flows GROUP BY 1),
         grid AS (SELECT w.p_partkey, CAST(g AS BIGINT) AS f
                  FROM width w, UNNEST(range(CAST(w.nf AS BIGINT))) AS t(g))
         SELECT g.p_partkey,
                string_agg(CAST(coalesce(fl.len, 0) AS VARCHAR), ',' ORDER BY g.f) AS flow_key
         FROM grid g LEFT JOIN flows fl ON fl.p_partkey = g.p_partkey AND fl.f = g.f
         GROUP BY 1""",
    "j11_isec_partition" ->
      """WITH u AS (
           SELECT DISTINCT l_orderkey, l_partkey, 1 AS m FROM lineitem WHERE l_suppkey <= 60
           UNION ALL
           SELECT DISTINCT l_orderkey, l_partkey, 2 AS m FROM lineitem WHERE l_quantity > 25
           UNION ALL
           SELECT DISTINCT l_orderkey, l_partkey, 4 AS m FROM lineitem WHERE l_discount > 0.04),
         p AS (SELECT l_orderkey, l_partkey, CAST(sum(m) AS BIGINT) AS mask,
                      count(*) AS n_sets
               FROM u GROUP BY 1, 2)
         SELECT mask, n_sets, count(*) AS n_keys FROM p GROUP BY 1, 2""",
    // Overlap groups are gaps-and-islands on the running max extent — the
    // same island construction as the w5 oracle; a record joins the open
    // group while pos < max extent of the chain so far.
    "w3_overlap_suppress" ->
      """WITH r AS (SELECT CAST(user_id AS VARCHAR) AS chrom,
           epoch_us(ts) * 1000 + event_id % 1000 AS pos,
           (CAST(trunc(value) AS BIGINT) % 10) * 200000000000 AS dl,
           value > 250 AS called,
           CAST(trunc(value) AS BIGINT) % 3 = 0 AS uncalledGt
           FROM events),
         e AS (SELECT *, pos + greatest(dl, 1) AS ext FROM r),
         w AS (SELECT *, max(ext) OVER (PARTITION BY chrom ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM e),
         isl AS (SELECT *, sum(CASE WHEN pmax IS NULL OR pos >= pmax THEN 1 ELSE 0 END)
                 OVER (PARTITION BY chrom ORDER BY pos) AS g FROM w),
         grp AS (SELECT *, bool_or(called) OVER (PARTITION BY chrom, g) AS any_called FROM isl)
         SELECT chrom, pos, called, uncalledGt
         FROM grp WHERE NOT (any_called AND uncalledGt)""",
    // 28/30 and 2/30 are not decimal-half boundaries, so round(x, 6)
    // agrees between Spark (decimal-string HALF_UP) and DuckDB (binary)
    "ml1_filter_score" ->
      """WITH s AS (SELECT o_orderkey,
           round(CASE WHEN o_totalprice >= 150000 THEN 28.0/30 ELSE 2.0/30 END, 6)
             AS tree_score
           FROM orders)
         SELECT o_orderkey, tree_score,
           CASE WHEN tree_score >= 0.5 THEN 'PASS' ELSE 'LOW_SCORE' END AS filter_status
         FROM s"""
  )
}
