package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Genomics
import graft.operators.Intervals

/** Relational operator inventory (SURVEY.md §2.2–2.4, §2.6–2.8) expressed on
  * the driver's TPC-H-ish tables. Each query has a matching DuckDB oracle in
  * [[oracles]]; column names/aliases are kept identical on both sides.
  *
  * Scale notes (100 TB design):
  *  - all aggregations are partial+final hash aggregates (map-side combine);
  *  - small dimensions (region/nation/supplier/customer-at-dim-scale) are
  *    broadcast explicitly so the big fact side never shuffles for the join;
  *  - double-typed aggregates are rounded on BOTH sides so the oracle hash
  *    is insensitive to summation order (Spark partial-agg order differs
  *    between runs and engines);
  *  - windows over raw facts are always partitioned (by a key) — the only
  *    unpartitioned windows run over already-aggregated, small domains
  *    (e.g. a value histogram) where a single reducer is the right plan.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // ----- A1: group-by sum, partial+final (ugvc coverage_analysis.py:491-520)
    "a1_groupby_sum" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 6).as("avg_qty"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
    // ----- A2: counting histogram of a value column (coverage_analysis.py:717-742)
    "a2_value_histogram" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_quantity").cast("int").as("coverage"))
        .agg(count(lit(1)).as("cnt"))
    },
    // ----- A3: tumbling-window mean, hierarchical re-agg (coverage_analysis.py:546-592,798-857)
    // level-1 bins of 100 re-aggregated to level-2 bins of 1000 via (sum,count) —
    // associative mean, exactly the reference's pyramid. l_quantity is
    // integral-valued so sums are exact in double across engines.
    "a3_binned_mean_pyramid" -> { (s, d) =>
      val l1 = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("chrom"),
                 floor(col("l_extendedprice") / 100).as("bin1"))
        .agg(sum("l_quantity").as("s"), count(lit(1)).as("c"))
      l1.groupBy(col("chrom"), floor(col("bin1") / 10).as("bin"))
        .agg(round(sum(col("s")) / sum(col("c")), 6).as("mean_qty"),
             sum(col("c")).as("n"))
    },
    // ----- A4: value_counts (sv_stats_collect.py:45-46)
    "a4_value_counts" -> { (s, d) =>
      Tables.orders(s, d).groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
    },
    // ----- A5: group-by size → pivot cross-tab (sv_stats_collect.py:48-54)
    "a5_pivot_crosstab" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("O", "F"))
        .count()
        .na.fill(0L, Seq("O", "F"))
    },
    // ----- A6: group-by count with dense-domain reindex + fill 0 (run_no_gt_report.py:110-172)
    "a6_domain_reindex" -> { (s, d) =>
      import s.implicits._
      val domain = Seq("A", "N", "R").flatMap(f => Seq("O", "F").map(st => (f, st)))
        .toDF("l_returnflag", "l_linestatus")
      val counts = Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45)
        .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
      domain.join(counts, Seq("l_returnflag", "l_linestatus"), "left")
        .na.fill(0L, Seq("n"))
    },
    // ----- A7: fixed-bin numeric histogram (run_no_gt_report.py:72-87)
    "a7_fixed_bin_histogram" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(floor(col("l_discount") * 100).as("bin"))
        .agg(count(lit(1)).as("n"))
    },
    // ----- A8: pd.cut labeled binning (sv_stats_collect.py:12-13,38-44)
    "a8_labeled_binning" -> { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("qty_bin", Genomics.labeledBins(col("l_quantity"),
          Seq(0, 10, 20, 30, 40, 100), Seq("0-10", "10-20", "20-30", "30-40", "40+")))
        .groupBy("qty_bin").agg(count(lit(1)).as("n"))
    },
    // ----- A10: percentiles from a histogram via cumulative fraction (coverage_analysis.py:522)
    // The unpartitioned window runs over the ~50-row aggregated histogram, not
    // the fact table — correct single-reducer plan at any scale.
    "a10_hist_percentiles" -> { (s, d) =>
      import s.implicits._
      val hist = Tables.lineitem(s, d)
        .groupBy(col("l_quantity").cast("int").as("cov"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("cov").rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("cum", sum("cnt").over(w))
        .withColumn("total", sum("cnt").over(Window.partitionBy()))
      val qs = Seq(5, 25, 50, 75, 95).toDF("q")
      cum.crossJoin(qs)
        .filter(col("cum") >= col("q") / lit(100.0) * col("total"))
        .groupBy("q").agg(min("cov").as("value"))
    },
    // ----- A11: confusion-matrix aggregate → precision/recall/F1 (report_utils.py:415-505)
    "a11_confusion_metrics" -> { (s, d) =>
      val o = Tables.orders(s, d)
        .withColumn("tp", (col("o_orderstatus") === "F").cast("long"))
        .withColumn("fp", (col("o_orderstatus") === "O").cast("long"))
        .withColumn("fn", (col("o_orderstatus") === "P").cast("long"))
        .groupBy("o_orderpriority")
        .agg(sum("tp").as("tp"), sum("fp").as("fp"), sum("fn").as("fn"))
      val p = Genomics.precisionScore(col("tp"), col("fp"))
      val r = Genomics.recallScore(col("tp"), col("fn"))
      o.select(col("o_orderpriority"), col("tp"), col("fp"), col("fn"),
        r6(p).as("precision"), r6(r).as("recall"),
        r6(Genomics.f1Score(p, r)).as("f1"))
    },
    // ----- A12/A17: manual rollup → native rollup (sv_stats_collect.py:176-199)
    "a12_rollup" -> { (s, d) =>
      Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
    },
    // ----- A13: rowwise least + groupwise min (denovo_refinement.py:69-74)
    "a13_min_reduce" -> { (s, d) =>
      Tables.lineitem(s, d)
        .withColumn("pair_min", least(col("l_discount"), col("l_tax")))
        .groupBy("l_orderkey")
        .agg(round(min("pair_min"), 6).as("min_pair"), count(lit(1)).as("n_lines"))
    },
    // ----- A15: bedtools-groupby-style rate aggregate (train_lib_prep_recalibration_model.py:104-107)
    "a15_rate_agg" -> { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_partkey")
        .agg(r6(countDistinct("l_suppkey").cast("double") / count(lit(1))).as("supp_rate"),
             count(lit(1)).as("n"))
    },
    // ----- A16: distinct/dedup (remove_vcf_duplicates.sh)
    "a16_distinct" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity").cast("int").as("qty"))
        .distinct()
    },

    // ----- P1: boolean-mask filter (run_no_gt_report.py:50-62)
    "p1_mask_filter" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05 && !(col("l_returnflag") === "N"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")
    },
    // ----- P2: SQL-string filter (sv_stats_collect.py:37)
    "p2_sql_filter" -> { (s, d) =>
      Tables.orders(s, d)
        .where("(o_orderstatus = 'F' OR o_orderstatus = 'P') AND o_totalprice > 1000")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    },
    // ----- P3+F9: named category-predicate library, rows tagged with every
    // stratum they belong to via explode (report_utils.py:507-538, :206-222)
    "p3_category_strata" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      // A Generate's child expression is ALWAYS evaluated interpreted, so
      // exploding a per-row computed array of category strings pays the
      // JVM-state interpreter tax on every fact row (f13's cliff; p3 sat
      // at 3x its standalone time in-bench). Explode a LITERAL index
      // instead — constant generator, nothing per-row to interpret — and
      // keep the membership predicates in a codegen'd Filter; the
      // category string is a literal lookup. Same rows, same aggregate.
      li.withColumn("i", explode(typedlit(Seq(0, 1, 2, 3))))
        .filter(col("i") === 0 ||
          (col("i") === 1 && col("l_quantity") > 40) ||
          (col("i") === 2 && col("l_discount") > 0.05) ||
          (col("i") === 3 && col("l_tax") > 0.04))
        .withColumn("category", element_at(
          typedlit(Seq("ALL", "HIGH_QTY", "DISCOUNTED", "TAXED")), col("i") + 1))
        .groupBy("category")
        .agg(count(lit(1)).as("n"), round(avg("l_extendedprice"), 4).as("avg_price"))
    },
    // ----- P4: projection / pruning (report_data_loader.py:66-104)
    "p4_projection" -> { (s, d) =>
      Tables.part(s, d).select(col("p_partkey"), col("p_brand"),
        (col("p_retailprice") * 2).as("double_price"))
    },
    // ----- P6: partition/range restriction (correct_genotypes_by_imputation.py:133-138)
    "p6_range_restrict" -> { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_type") === "click" && col("value") > 100 && col("value") <= 300)
        .select("event_id", "user_id", "value")
    },
    // ----- P7: null-normalizing projection (coalesce / fillna)
    "p7_null_normalize" -> { (s, d) =>
      val dim = Tables.part(s, d).filter(col("p_size") > 25)
        .select(col("p_partkey"), col("p_brand"))
      Tables.lineitem(s, d).filter(col("l_quantity") > 48)
        .join(broadcast(dim), col("l_partkey") === col("p_partkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"),
          coalesce(col("p_brand"), lit("NA")).as("brand"))
    },

    // ----- J1: inner equi-join, broadcast dim (variant_hit_fraction_caller.py:40)
    "j1_inner_equi_join" -> { (s, d) =>
      val c = Tables.customer(s, d)
      Tables.orders(s, d)
        .join(broadcast(c), col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
    },
    // ----- J2: multi-key equi-join (train_lib_prep_recalibration_model.py:95-97)
    // "rows matching their group max" as ONE shuffle: a window max over
    // the join keys replaces groupBy(keys)+self-join (two scans + a 60 M x
    // 60 M-row shuffle join even with exchange reuse) — 24.9 -> 10.7 s at
    // the uniform 100x replica, 19.9 -> 16.6 on the adversarial skew one.
    // Skew note (r12, measured): window partitions can't AQE-split, but
    // the hot key fans out over l_linenumber, bounding the worst task, and
    // BOTH de-skew alternatives lost the interleaved 100x A/B because
    // (l_orderkey, l_linenumber) is near-UNIQUE at uniform — any pre-pass
    // costs a full 60 M-key aggregation that the bounded skew tail never
    // repays: MaxTieCounts one-shuffle aggregate (kryo buffers +
    // ObjectHashAggregate sort-fallback past 128 groups/partition) uniform
    // 15.7-16.6 s vs window 5.1-6.3, skew 12.1-12.7 vs window 10.4-11.5;
    // count-before-window (codegen groupBy(keys, flag, qty) then window)
    // uniform 12.8-26.4, skew 11.3-16.7 — the near-unique cold keys, not
    // the hot one, dominate the extra aggregation. MaxTieCounts stays in
    // functions/ for the shape it DOES win: group-max-tie counting where
    // groups are duplicate-dominated and map-side combine truly collapses.
    "j2_multikey_join" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
      val w = Window.partitionBy("l_orderkey", "l_linenumber")
      li.withColumn("max_qty", max("l_quantity").over(w))
        .filter(col("l_quantity") === col("max_qty"))
        .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    },
    // ----- J3: index-aligned outer column join (denovo_refinement.py:30-35)
    "j3_outer_align_join" -> { (s, d) =>
      val oagg = Tables.orders(s, d).groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total_spent"))
      Tables.customer(s, d)
        .join(oagg, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_mktsegment"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("total_spent"), lit(0.0)).as("total_spent"))
    },
    // ----- J4: broadcast lookup join + min agg (denovo_refinement.py:95-99)
    "j4_lookup_min" -> { (s, d) =>
      val n = Tables.nation(s, d)
      Tables.supplier(s, d)
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"), "inner")
        .groupBy("n_regionkey")
        .agg(round(min("s_acctbal"), 2).as("min_bal"), count(lit(1)).as("n_supp"))
    },
    // ----- J8: exact-key vs position-only set intersect (create_somatic_gt_file.py:74-126)
    "j8_exact_vs_loose_isec" -> { (s, d) =>
      val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      val probe = li.filter(col("l_suppkey") <= 50)
      val exact = li.join(probe.withColumnRenamed("l_suppkey", "ps"),
        Seq("l_orderkey", "l_partkey"), "left_semi").agg(count(lit(1)).as("n")).select(lit("exact").as("mode"), col("n"))
      // loose = count of fact rows whose ORDER key appears in the probe.
      // The direct semi-join shuffles every fact row on l_orderkey — on a
      // skewed corpus (28.5% of rows on ONE hot order in the adversarial
      // replica) that lands the hot key in a single task. COUNT-BY-KEY
      // FIRST: the partial (map-side) aggregate collapses the hot key to
      // one row per input partition, so the shuffle carries ~distinct-key
      // rows and the join is between two key-distinct frames on the same
      // layout — skew-immune by construction, and strictly less shuffle on
      // uniform data too. Σ cnt over matching keys == the semi-join count.
      // (The exact side keys on (orderkey, partkey): the hot order fans
      // out over partkeys, so it needs no such routing.)
      // Round-13 note (NOTES.md Round 14, j8/x5 item): the broadcast
      // alternative (distinct probe keys hinted broadcast on both sides)
      // measured WORSE at the 100x replica — exact 4-6 -> 8-9 s — because
      // the probe side is DATA-SCALED there (l_suppkey <= 50 selects ~5% of
      // every copy, 3M pairs; the hashed-relation build dominates). The
      // unhinted SMJ + AQE shape stands on evidence; raw scans are
      // 0.2-0.4 s, so the cost IS the one unavoidable 60M-row pair-key
      // exchange.
      val loose = li.groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
        .join(probe.select("l_orderkey").distinct(), Seq("l_orderkey"), "left_semi")
        .agg(sum("cnt").as("n")).select(lit("loose").as("mode"), col("n"))
      exact.unionByName(loose)
    },
    // ----- J9: point-in-region via the binned interval path
    // (convert_haploid_regions.py:26-35, boundary start < pos <= end).
    // The former theta semi-join planned as BroadcastNestedLoopJoin —
    // correct but O(points × regions); the binned form is a broadcast
    // HASH join on the point's bin with the same boundary predicate
    // evaluated on the raw doubles, so output is bit-identical.
    "j9_point_in_region" -> { (s, d) =>
      val regions = Tables.supplier(s, d)
        .select((col("s_acctbal") - 500).as("lo"), (col("s_acctbal") + 500).as("hi"))
      Intervals.pointInRegion(
          Tables.customer(s, d).select("c_custkey", "c_acctbal"),
          regions, pos = "c_acctbal", lo = "lo", hi = "hi", binSize = 500.0)
        .select("c_custkey", "c_acctbal")
    },

    // ----- J13: salted skew join (SURVEY skew lever, hot-contig scenario).
    // l_returnflag has 3 values over the whole fact table — the textbook
    // melted-reducer key. The salt fans each hot key over `parts`
    // reducers; the aggregate on top makes the output salt-invariant, so
    // the oracle is the plain join. shuffle=true pins the shuffled hash
    // join (broadcast would bypass the very shuffle the salt exists for).
    "j13_skew_join" -> { (s, d) =>
      val li = Tables.lineitem(s, d).select("l_returnflag", "l_quantity")
      val dim = Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(min("l_partkey").as("flag_min_part"))
      graft.operators.SkewJoin
        .saltedJoin(li, dim, "l_returnflag", parts = 8, shuffle = true)
        .groupBy("l_returnflag", "flag_min_part")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 4).as("sum_qty"))
    },

    // ----- O2: genomic sort (chrom,pos analog) — set-checked, exercises range sort
    "o2_sorted_keys" -> { (s, d) =>
      Tables.lineitem(s, d).orderBy("l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_partkey")
    },
    // ----- O4: top-k by value with deterministic tiebreak (report notebooks)
    "o4_topk" -> { (s, d) =>
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(20)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    },
    // ----- O5: deterministic stratified sample-k per group (collect_hpol_table.py:105-115)
    // Round 13: the rank<=5 window DID get WindowGroupLimit's map-side
    // pruning, but its Partial mode still SORTS every input partition
    // (n log n over the whole fact table) before keeping 5 per
    // (partition, stratum); the TopKBySim partial aggregate keeps a
    // 5-slot heap instead (n log k) — 6.6-6.9 -> 1.2-1.6 s at the 100x
    // replica, bit-identical (NOTES.md Round 14, o5 item). The composite
    // order (rnd ASC, okey ASC, linenum ASC) packs losslessly into the
    // aggregate's (sim DESC, id ASC): sim = -rnd, id = okey*8+linenum
    // (l_linenumber in 1..7; both < 2^53 so the doubles are exact). Unpack
    // uses integer `div`/`pmod` so the id math never rounds, whatever the
    // key magnitude.
    "o5_stratified_sample" -> { (s, d) =>
      val rnd = (col("l_orderkey") * lit(2654435761L) + col("l_linenumber") * lit(97L)) % lit(999999937L)
      val topk = udaf(new graft.functions.TopKBySim(5))
      Tables.lineitem(s, d)
        .select(col("l_returnflag").as("qid"),
          (-rnd).cast("double").as("sim"),
          (col("l_orderkey") * 8 + col("l_linenumber")).as("vec_id"))
        .groupBy("qid").agg(topk(col("sim"), col("vec_id")).as("tk"))
        .select(col("qid"), posexplode(col("tk")))
        .select(col("qid").as("l_returnflag"),
          expr("col._2 div 8").as("l_orderkey"),
          pmod(col("col._2"), lit(8L)).cast("int").as("l_linenumber"),
          (col("pos") + 1).as("rk"))
        .select("l_returnflag", "l_orderkey", "l_linenumber", "rk")
    },

    // ----- U1: union (row concat)
    "u1_union_all" -> { (s, d) =>
      val a = Tables.customer(s, d).select(col("c_custkey").as("id"), lit("customer").as("src"))
      val b = Tables.supplier(s, d).select(col("s_suppkey").as("id"), lit("supplier").as("src"))
      a.unionByName(b)
    },
    // ----- U2: intersect — distinct-FIRST, then left-semi. Catalyst
    // rewrites INTERSECT to Distinct(LeftSemi(a,b)), which ships the FULL
    // fact side through the join exchange before deduping; no optimizer
    // rule pushes the Aggregate below the join. Deduping first collapses
    // repeated keys in the map-side partial aggregate, so only ~distinct
    // keys reach any exchange: 5.0-8.4 -> 1.0-1.5 s at the 100x replica
    // (r13; NOTES.md Round 14, u2 item). distinct(a) semi b == distinct(a
    // semi b); the one semantic difference from INTERSECT is null keys
    // (INTERSECT matches NULL = NULL, a semi join's equality drops them) —
    // these keys are non-null by schema. The win generalizes: fact-table
    // key columns repeat heavily by nature, and when they don't, the extra
    // partial agg is one map-side pass.
    "u2_intersect" -> { (s, d) =>
      val a = Tables.lineitem(s, d).select(col("l_partkey").as("k"))
      val b = Tables.part(s, d).filter(col("p_size") > 25).select(col("p_partkey").as("k"))
      a.distinct().join(b, Seq("k"), "left_semi")
    },
    // ----- U3: except / anti — big-spender orders subtracted so the
    // result is nonempty (every customer has some order in this data)
    "u3_except" -> { (s, d) =>
      val a = Tables.customer(s, d).select(col("c_custkey").as("k"))
      val b = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("k")).distinct()
      a.except(b)
    },

    // ----- U4: except all (duplicate-preserving difference)
    "u4_except_all" -> { (s, d) =>
      val a = Tables.lineitem(s, d).select(col("l_partkey").as("k"))
      val b = Tables.part(s, d).filter(col("p_size") > 25).select(col("p_partkey").as("k"))
      a.exceptAll(b)
    },
    // ----- A17: explicit grouping sets via cube
    "a17_cube" -> { (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))
    },
    // ----- A18: approx distinct (HLL++ sketch) with a bounded-error gate.
    // At 100 TB exact count-distinct shuffles every key; the HLL sketch is
    // fixed-size per group, merges map-side (partial aggregation), and is
    // the only viable form of "unique users/tokens per stratum" at corpus
    // scale. Sketches aren't hash-replayable across engines, so the gate
    // asserts the sketch's error CONTRACT instead: |approx-exact| within
    // 5% (2.5x the configured 2% rsd) + a small-group absolute slack. The
    // oracle computes the exact counts and expects every group in bound —
    // a real correctness gate on the sketch, deterministic on both sides.
    // Round 18 (OPTIMIZATION_r18.md §6; 100x replica, interleaved,
    // checksum-identical sums): pre-deduplicate (event_type, user_id)
    // BEFORE the aggregate — 2.0-3.0 s -> 0.8-1.8 s. The mixed
    // exact-distinct + HLL form paid one HLL register update per EVENT ROW;
    // after the distinct the sketch and the exact count both run over
    // distinct pairs only (fact-row count / dup factor). Results are
    // bit-identical: count(user_id) over distinct pairs IS count_distinct
    // (both skip nulls), and HLL is duplicate-idempotent (same hash ->
    // same register max), so the estimate — and the oracle-gated sketch_ok
    // — cannot move.
    "a18_approx_distinct" -> { (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .groupBy("event_type")
        .agg(count(col("user_id")).as("exact_users"),
             approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            greatest(round(col("exact_users") * 0.05), lit(8))).as("sketch_ok"))
    },
    // ----- A19: percentile sketch gated on its RANK-ERROR contract.
    // percentile_approx (GK) promises an ELEMENT whose rank is within
    // eps*N of q*N — the fixed-size mergeable form of quantiles at corpus
    // scale. The gate recomputes the returned element's exact rank
    // bounds (strict < and non-strict <=, so duplicated values cannot
    // fake a failure) and asserts the contract; the oracle expects every
    // (group, q) in bound. Same pattern as a18: sketch internals aren't
    // engine-replayable, the CONTRACT is.
    "a19_approx_quantiles" -> { (s, d) =>
      val probs = Seq(0.5, 0.9, 0.99)
      val acc = 100 // rank error <= N/acc
      val pArr = array(probs.map(lit): _*)
      val ev = Tables.events(s, d).select(col("event_type"), col("value"))
      val approx = ev.groupBy("event_type")
        // n = non-null count: percentile_approx and the rank counts both
        // ignore nulls, so the rank bounds must be computed over the same
        // population the sketch saw or the gate is spuriously strict
        .agg(percentile_approx(col("value"), pArr, lit(acc)).as("ap"),
             count(col("value")).as("n"))
        .select(col("event_type"), col("n"), posexplode(col("ap")).as(Seq("qi", "av")))
      approx.join(ev, Seq("event_type"))
        .groupBy("event_type", "qi", "n", "av")
        .agg(count(when(col("value") < col("av"), 1)).as("rk_lo"),
             count(when(col("value") <= col("av"), 1)).as("rk_hi"))
        .select(col("event_type"), col("qi").cast("int").as("qi"),
          (col("rk_lo") <= (element_at(pArr, col("qi") + 1) + 1.0 / acc) * col("n") &&
           col("rk_hi") >= (element_at(pArr, col("qi") + 1) - 1.0 / acc) * col("n"))
            .as("sketch_ok"))
    },
    // ----- F1/F2/F6/F7/F12: scalar function suite (math_utils.py, run_no_gt_report.py:143)
    "f_scalar_suite" -> { (s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        round(Genomics.phred(col("p_retailprice") / 10000.0), 6).as("phred"),
        round(Genomics.unphred(col("p_size").cast("double")), 6).as("unphred"),
        round(Genomics.safeDivide(col("p_retailprice"), col("p_size") - 25, lit(-1.0)), 6).as("safe_div"),
        Genomics.revcomp(col("p_brand")).as("revcomp_brand"),
        Genomics.motif(col("p_name"), col("p_brand"), col("p_type")).as("motif"),
        round(Genomics.clip(col("p_retailprice"), 500.0, 1500.0), 2).as("clipped"))
    },
    // ----- F17: regex extraction (test_sv_stats_collect.py:41-42)
    "f17_regex_extract" -> { (s, d) =>
      Tables.part(s, d).select(col("p_partkey"),
        regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("last_word"))
    },
    // ----- F18: date/time functions
    "f18_datetime" -> { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("DAY", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
    },
    // ----- F19: JSON extraction (correct_genotypes_by_imputation.py:380-391)
    "f19_json_extract" -> { (s, d) =>
      Tables.events(s, d).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    },
    // ----- QC1: fold-penalty sweep of the QC report layer
    // (createQCReport.ipynb "Coverage": Cumu cumulative fraction, FN =
    // median / first coverage whose cumulative fraction exceeds 1-N/100).
    // The histogram aggregates facts FIRST; the window runs over the tiny
    // per-group histogram, so the report math itself is oracle-gated while
    // staying a partial+final aggregate at fact scale.
    "qc1_fold_penalty" -> { (s, d) =>
      val hist = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("sample"),
                 col("l_quantity").cast("int").as("coverage"))
        .agg(count(lit(1)).as("cnt"))
      graft.reports.QcReport.foldPenalty(hist)
    },
    // ----- QC2/QC3: substitution-error-rate report tables
    // (substitution_error_rate_report.ipynb; reports/SubErrorRate.scala).
    // The motif store is synthesized deterministically from part keys — a
    // full 4x4x4x3 trinucleotide-substitution domain with per-threshold
    // rates/counts — so the revcomp strand self-join and the log2
    // asymmetry math are oracle-gated end to end.
    "qc2_sub_error_rate" -> { (s, d) =>
      graft.reports.SubErrorRate.matchedStrands(subErrorMotifs(s, d))
        .select(col("ref_motif"), col("alt_motif"), col("mut_type"),
          r6(col("error_rate_bq0")).as("er_bq0"),
          r6(col("error_rate_bq10")).as("er_bq10"),
          col("snp_count_bq0").as("n_bq0"),
          col("snp_count_bq10").as("n_bq10"))
    },
    "qc3_cskp_asymmetry" -> { (s, d) =>
      graft.reports.SubErrorRate.asymmetry(
          graft.reports.SubErrorRate.matchedStrands(subErrorMotifs(s, d)))
        .select(col("mut_type"), col("n_contexts"),
          r6(col("mean_log2_ratio")).as("mean_log2"),
          r6(col("min_log2_ratio")).as("min_log2"),
          r6(col("max_log2_ratio")).as("max_log2"))
    }
  )

  /** Deterministic motif store for the qc2/qc3 substitution-error report:
    * p_partkey mod 192 enumerates the full (pre, mid, post, alt-offset)
    * trinucleotide-substitution domain bijectively; rates/counts are fixed
    * arithmetic in k so DuckDB reproduces them exactly. bq10 (cycle-skip)
    * is non-null on even k only, exercising the null-skipping strand
    * combine. */
  private def subErrorMotifs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .selectExpr("CAST(p_partkey % 192 AS INT) AS k").distinct()
      .selectExpr("k",
        "substr('ACGT', CAST(floor(k/48) AS INT) % 4 + 1, 1) AS pre",
        "substr('ACGT', CAST(floor(k/12) AS INT) % 4 + 1, 1) AS mid",
        "substr('ACGT', CAST(floor(k/3) AS INT) % 4 + 1, 1) AS post",
        "substr('ACGT', (CAST(floor(k/12) AS INT) % 4 + 1 + k % 3) % 4 + 1, 1) AS alt")
      .selectExpr(
        "concat(pre, mid, post) AS ref_motif",
        "concat(pre, alt, post) AS alt_motif",
        "mid AS ref",
        "((k*31+7) % 97 + 1) / 1000.0 AS error_rate_bq0",
        "((k*17+3) % 89 + 1) / 1000.0 AS error_rate_bq3",
        "((k*13+5) % 83 + 1) / 1000.0 AS error_rate_bq5",
        "CASE WHEN k % 2 = 0 THEN ((k*11+9) % 79 + 1) / 1000.0 END AS error_rate_bq10",
        "CAST((k*7) % 50 AS BIGINT) AS snp_count_bq0",
        "CAST((k*7+3) % 50 AS BIGINT) AS snp_count_bq3",
        "CAST((k*7+5) % 50 AS BIGINT) AS snp_count_bq5",
        "CAST((k*7+10) % 50 AS BIGINT) AS snp_count_bq10")

  val oracles: Map[String, String] = Map(
    "a1_groupby_sum" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),4) AS sum_qty,
         round(sum(l_extendedprice),2) AS sum_base_price,
         round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
         round(avg(l_quantity),6) AS avg_qty, round(avg(l_discount),6) AS avg_disc,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "a2_value_histogram" ->
      "SELECT CAST(l_quantity AS INT) AS coverage, count(*) AS cnt FROM lineitem GROUP BY 1",
    "a3_binned_mean_pyramid" ->
      """WITH l1 AS (
           SELECT l_returnflag AS chrom, CAST(floor(l_extendedprice/100) AS BIGINT) AS bin1,
                  sum(l_quantity) AS s, count(*) AS c
           FROM lineitem GROUP BY 1,2)
         SELECT chrom, CAST(floor(bin1/10) AS BIGINT) AS bin,
                round(sum(s)/sum(c),6) AS mean_qty, CAST(sum(c) AS BIGINT) AS n
         FROM l1 GROUP BY 1,2""",
    "a4_value_counts" ->
      "SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1",
    "a5_pivot_crosstab" ->
      """SELECT l_returnflag,
         count(*) FILTER (l_linestatus = 'O') AS "O",
         count(*) FILTER (l_linestatus = 'F') AS "F"
         FROM lineitem GROUP BY 1""",
    "a6_domain_reindex" ->
      """WITH domain AS (SELECT f.f AS l_returnflag, st.st AS l_linestatus
           FROM (VALUES ('A'),('N'),('R')) f(f) CROSS JOIN (VALUES ('O'),('F')) st(st)),
         counts AS (SELECT l_returnflag, l_linestatus, count(*) AS n
           FROM lineitem WHERE l_quantity > 45 GROUP BY 1,2)
         SELECT d.l_returnflag, d.l_linestatus, coalesce(c.n, 0) AS n
         FROM domain d LEFT JOIN counts c USING (l_returnflag, l_linestatus)""",
    "a7_fixed_bin_histogram" ->
      "SELECT CAST(floor(l_discount*100) AS BIGINT) AS bin, count(*) AS n FROM lineitem GROUP BY 1",
    "a8_labeled_binning" ->
      """SELECT CASE WHEN l_quantity >= 40 AND l_quantity < 100 THEN '40+'
                     WHEN l_quantity >= 30 AND l_quantity < 40 THEN '30-40'
                     WHEN l_quantity >= 20 AND l_quantity < 30 THEN '20-30'
                     WHEN l_quantity >= 10 AND l_quantity < 20 THEN '10-20'
                     WHEN l_quantity >= 0  AND l_quantity < 10 THEN '0-10'
                END AS qty_bin, count(*) AS n
         FROM lineitem GROUP BY 1""",
    "a10_hist_percentiles" ->
      """WITH hist AS (SELECT CAST(l_quantity AS INT) AS cov, count(*) AS cnt
           FROM lineitem GROUP BY 1),
         cum AS (SELECT cov, sum(cnt) OVER (ORDER BY cov) AS cum, sum(cnt) OVER () AS total FROM hist)
         SELECT q, min(cov) AS value
         FROM cum CROSS JOIN (VALUES (5),(25),(50),(75),(95)) qs(q)
         WHERE cum >= q/100.0*total GROUP BY q""",
    "a11_confusion_metrics" ->
      """WITH agg AS (SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus='F' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(sum(CASE WHEN o_orderstatus='O' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(sum(CASE WHEN o_orderstatus='P' THEN 1 ELSE 0 END) AS BIGINT) AS fn
           FROM orders GROUP BY 1),
         pr AS (SELECT *,
           CASE WHEN fp+tp = 0 THEN 1.0 ELSE 1.0 - fp*1.0/(fp+tp) END AS p,
           CASE WHEN tp+fn = 0 THEN 1.0 ELSE tp*1.0/(tp+fn) END AS r
           FROM agg)
         SELECT o_orderpriority, tp, fp, fn,
                floor(p*1000000 + 0.5)/1000000 AS precision,
                floor(r*1000000 + 0.5)/1000000 AS recall,
                floor((CASE WHEN p+r = 0 THEN 0.0 ELSE 2.0*p*r/(p+r) END)*1000000 + 0.5)/1000000 AS f1
         FROM pr""",
    "a12_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity),4) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "a13_min_reduce" ->
      """SELECT l_orderkey, round(min(least(l_discount, l_tax)),6) AS min_pair, count(*) AS n_lines
         FROM lineitem GROUP BY 1""",
    "a15_rate_agg" ->
      """SELECT l_partkey,
         floor(count(DISTINCT l_suppkey)*1.0/count(*)*1000000 + 0.5)/1000000 AS supp_rate,
         count(*) AS n FROM lineitem GROUP BY 1""",
    "a16_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus, CAST(l_quantity AS INT) AS qty FROM lineitem",

    "p1_mask_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
         FROM lineitem WHERE l_quantity > 45 AND l_discount >= 0.05 AND NOT l_returnflag = 'N'""",
    "p2_sql_filter" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
         WHERE (o_orderstatus = 'F' OR o_orderstatus = 'P') AND o_totalprice > 1000""",
    "p3_category_strata" ->
      """WITH tagged AS (
           SELECT 'ALL' AS category, l_extendedprice FROM lineitem
           UNION ALL SELECT 'HIGH_QTY', l_extendedprice FROM lineitem WHERE l_quantity > 40
           UNION ALL SELECT 'DISCOUNTED', l_extendedprice FROM lineitem WHERE l_discount > 0.05
           UNION ALL SELECT 'TAXED', l_extendedprice FROM lineitem WHERE l_tax > 0.04)
         SELECT category, count(*) AS n, round(avg(l_extendedprice),4) AS avg_price
         FROM tagged GROUP BY 1""",
    "p4_projection" ->
      "SELECT p_partkey, p_brand, p_retailprice*2 AS double_price FROM part",
    "p6_range_restrict" ->
      """SELECT event_id, user_id, value FROM events
         WHERE event_type = 'click' AND value > 100 AND value <= 300""",
    "p7_null_normalize" ->
      """SELECT l_orderkey, l_linenumber, coalesce(p_brand, 'NA') AS brand
         FROM lineitem LEFT JOIN (SELECT p_partkey, p_brand FROM part WHERE p_size > 25) p
           ON l_partkey = p_partkey
         WHERE l_quantity > 48""",
    "j1_inner_equi_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice),2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""",
    "j2_multikey_join" ->
      """WITH keyed AS (SELECT l_orderkey, l_linenumber, max(l_quantity) AS max_qty
           FROM lineitem GROUP BY 1,2)
         SELECT l_returnflag, count(*) AS n
         FROM lineitem JOIN keyed USING (l_orderkey, l_linenumber)
         WHERE l_quantity = max_qty GROUP BY 1""",
    "j3_outer_align_join" ->
      """WITH oagg AS (SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice),2) AS total_spent
           FROM orders GROUP BY 1)
         SELECT c_custkey, c_mktsegment, coalesce(n_orders, 0) AS n_orders,
                coalesce(total_spent, 0.0) AS total_spent
         FROM customer LEFT JOIN oagg ON c_custkey = o_custkey""",
    "j4_lookup_min" ->
      """SELECT n_regionkey, round(min(s_acctbal),2) AS min_bal, count(*) AS n_supp
         FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY 1""",
    "j8_exact_vs_loose_isec" ->
      """SELECT 'exact' AS mode, count(*) AS n FROM lineitem a
         WHERE EXISTS (SELECT 1 FROM lineitem b WHERE b.l_suppkey <= 50
                       AND b.l_orderkey = a.l_orderkey AND b.l_partkey = a.l_partkey)
         UNION ALL
         SELECT 'loose' AS mode, count(*) AS n FROM lineitem a
         WHERE EXISTS (SELECT 1 FROM lineitem b WHERE b.l_suppkey <= 50
                       AND b.l_orderkey = a.l_orderkey)""",
    "j9_point_in_region" ->
      """SELECT c_custkey, c_acctbal FROM customer c
         WHERE EXISTS (SELECT 1 FROM supplier s
                       WHERE c.c_acctbal > s.s_acctbal - 500 AND c.c_acctbal <= s.s_acctbal + 500)""",
    "o2_sorted_keys" ->
      "SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem ORDER BY 1,2",
    "o4_topk" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""",
    "o5_stratified_sample" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber, rk FROM (
           SELECT l_returnflag, l_orderkey, l_linenumber,
                  row_number() OVER (PARTITION BY l_returnflag
                    ORDER BY (l_orderkey*2654435761 + l_linenumber*97) % 999999937 ASC,
                             l_orderkey ASC, l_linenumber ASC) AS rk
           FROM lineitem) WHERE rk <= 5""",
    "u1_union_all" ->
      """SELECT c_custkey AS id, 'customer' AS src FROM customer
         UNION ALL SELECT s_suppkey AS id, 'supplier' AS src FROM supplier""",
    "u2_intersect" ->
      """SELECT DISTINCT l_partkey AS k FROM lineitem
         INTERSECT SELECT p_partkey AS k FROM part WHERE p_size > 25""",
    "u3_except" ->
      """SELECT c_custkey AS k FROM customer
         EXCEPT SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 400000""",
    "u4_except_all" ->
      """SELECT l_partkey AS k FROM lineitem
         EXCEPT ALL SELECT p_partkey AS k FROM part WHERE p_size > 25""",
    "a17_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_extendedprice),2) AS sum_price
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    // exact side of the sketch gate: every group must be within bound
    "a18_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
         TRUE AS sketch_ok FROM events GROUP BY event_type""",
    "a19_approx_quantiles" ->
      """SELECT e.event_type, CAST(t.m AS INTEGER) AS qi, TRUE AS sketch_ok
         FROM (SELECT DISTINCT event_type FROM events) e
         CROSS JOIN range(0, 3) t(m)""",
    "f_scalar_suite" ->
      """SELECT p_partkey,
         round(-10.0*log10(p_retailprice/10000.0),6) AS phred,
         round(pow(10.0, -CAST(p_size AS DOUBLE)/10.0),6) AS unphred,
         round(CASE WHEN p_size - 25 = 0 THEN -1.0 ELSE p_retailprice/(p_size-25) END,6) AS safe_div,
         translate(reverse(p_brand), 'ACGTacgt', 'TGCAtgca') AS revcomp_brand,
         concat(substr(p_name, length(p_name), 1), p_brand, substr(p_type, 1, 1)) AS motif,
         round(least(greatest(p_retailprice, 500.0), 1500.0),2) AS clipped
         FROM part""",
    "f17_regex_extract" ->
      "SELECT p_partkey, coalesce(regexp_extract(p_type, '([A-Z]+)$', 1), '') AS last_word FROM part",
    "f18_datetime" ->
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
         round(sum(value),4) AS sum_value FROM events GROUP BY 1,2""",
    "f19_json_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events",
    "j13_skew_join" ->
      """WITH dim AS (
           SELECT l_returnflag, min(l_partkey) AS flag_min_part
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag, d.flag_min_part, count(*) AS n,
                round(sum(l.l_quantity), 4) AS sum_qty
         FROM lineitem l JOIN dim d ON l.l_returnflag = d.l_returnflag
         GROUP BY 1, 2""",
    "qc1_fold_penalty" ->
      """WITH h AS (
           SELECT l_returnflag AS sample, CAST(l_quantity AS INTEGER) AS coverage,
                  count(*) AS cnt
           FROM lineitem GROUP BY 1, 2
         ), c AS (
           SELECT sample, coverage,
                  CAST(sum(cnt) OVER (PARTITION BY sample ORDER BY coverage) AS DOUBLE)
                    / sum(cnt) OVER (PARTITION BY sample) AS cumu
           FROM h
         ), p AS (
           SELECT sample,
                  min(CASE WHEN cumu > 0.05 THEN coverage END) AS p05,
                  min(CASE WHEN cumu > 0.10 THEN coverage END) AS p10,
                  min(CASE WHEN cumu > 0.20 THEN coverage END) AS p20,
                  min(CASE WHEN cumu > 0.50 THEN coverage END) AS p50
           FROM c GROUP BY 1
         )
         SELECT sample, p05, p10, p20, p50,
           floor(CAST(p50 AS DOUBLE)/p20*1000000 + 0.5)/1000000 AS f80,
           floor(CAST(p50 AS DOUBLE)/p10*1000000 + 0.5)/1000000 AS f90,
           floor(CAST(p50 AS DOUBLE)/p05*1000000 + 0.5)/1000000 AS f95
         FROM p""",
    "qc2_sub_error_rate" ->
      (subErrorMotifCte +
      """SELECT ref_motif, alt_motif, mut_type,
           floor((CASE WHEN er0_f IS NOT NULL AND er0_r IS NOT NULL
                       THEN (er0_f + er0_r) / 2.0
                       ELSE coalesce(er0_f, er0_r) END)*1000000 + 0.5)/1000000 AS er_bq0,
           floor((CASE WHEN er10_f IS NOT NULL AND er10_r IS NOT NULL
                       THEN (er10_f + er10_r) / 2.0
                       ELSE coalesce(er10_f, er10_r) END)*1000000 + 0.5)/1000000 AS er_bq10,
           CASE WHEN n0_f IS NULL AND n0_r IS NULL THEN NULL
                ELSE coalesce(n0_f, 0) + coalesce(n0_r, 0) END AS n_bq0,
           CASE WHEN n10_f IS NULL AND n10_r IS NULL THEN NULL
                ELSE coalesce(n10_f, 0) + coalesce(n10_r, 0) END AS n_bq10
         FROM j"""),
    "qc3_cskp_asymmetry" ->
      (subErrorMotifCte +
      """SELECT mut_type, count(*) AS n_contexts,
           floor(avg(ln(er10_f/er10_r)/ln(2))*1000000 + 0.5)/1000000 AS mean_log2,
           floor(min(ln(er10_f/er10_r)/ln(2))*1000000 + 0.5)/1000000 AS min_log2,
           floor(max(ln(er10_f/er10_r)/ln(2))*1000000 + 0.5)/1000000 AS max_log2
         FROM j
         WHERE er10_f IS NOT NULL AND er10_r IS NOT NULL
           AND er10_r > 0 AND er10_f > 0
         GROUP BY mut_type""")
  )

  /** Shared oracle CTE replaying [[subErrorMotifs]] + SubErrorRate's
    * strand-matching join in DuckDB: the synthetic motif store, the C/T
    * forward strata, the revcomp-re-keyed A/G reverse strata
    * (translate(reverse(x)) = Genomics.revcomp), and the left join. */
  private def subErrorMotifCte: String =
    """WITH base AS (SELECT DISTINCT CAST(p_partkey % 192 AS INT) AS k FROM part),
       raw AS (SELECT k,
         substr('ACGT', CAST(floor(k/48) AS INT) % 4 + 1, 1) AS pre,
         substr('ACGT', CAST(floor(k/12) AS INT) % 4 + 1, 1) AS mid,
         substr('ACGT', CAST(floor(k/3) AS INT) % 4 + 1, 1) AS post,
         substr('ACGT', (CAST(floor(k/12) AS INT) % 4 + 1 + k % 3) % 4 + 1, 1) AS alt
         FROM base),
       mot AS (SELECT
         pre || mid || post AS ref_motif,
         pre || alt || post AS alt_motif,
         mid AS ref,
         ((k*31+7) % 97 + 1) / 1000.0 AS er0,
         CASE WHEN k % 2 = 0 THEN ((k*11+9) % 79 + 1) / 1000.0 END AS er10,
         CAST((k*7) % 50 AS BIGINT) AS n0,
         CAST((k*7+10) % 50 AS BIGINT) AS n10
         FROM raw),
       fwd AS (SELECT ref_motif, alt_motif,
         substr(ref_motif, 2, 1) || '->' || substr(alt_motif, 2, 1) AS mut_type,
         er0 AS er0_f, er10 AS er10_f, n0 AS n0_f, n10 AS n10_f
         FROM mot WHERE ref IN ('C','T')),
       rev AS (SELECT
         translate(reverse(ref_motif), 'ACGT', 'TGCA') AS ref_motif,
         translate(reverse(alt_motif), 'ACGT', 'TGCA') AS alt_motif,
         er0 AS er0_r, er10 AS er10_r, n0 AS n0_r, n10 AS n10_r
         FROM mot WHERE ref IN ('A','G')),
       j AS (SELECT f.*, r.er0_r, r.er10_r, r.n0_r, r.n10_r
         FROM fwd f LEFT JOIN rev r USING (ref_motif, alt_motif))
    """
}
