package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Ordered / stateful single-pass operators (SURVEY.md §2.5).
  *
  * All windows are partitioned by a key column — at scale each partition
  * sorts independently after a range shuffle; there is no global-order
  * single-reducer stage except where the input is already a small aggregate.
  */
object Ordered {

  /** W1 — cumulative precision/recall sweep (ugvc/reports/report_utils.py:493-505).
    * Sort by `score` (descending = accept-best-first), running cumsum of
    * tp/fp; at each prefix: precision = ctp/(ctp+cfp), recall = ctp/(total tp).
    * `tieBreak` makes the sweep deterministic.
    * The caller is expected to have pre-aggregated or be willing to pay a
    * single-partition sort — a P/R sweep is inherently a total order; for
    * large inputs pre-bucket scores (histogram) first as the reference does.
    */
  def prCurve(df: DataFrame, score: Column, tp: Column, fp: Column,
              tieBreak: Column): DataFrame = {
    // SANCTIONED GLOBAL WINDOW (exact form): input is a pre-aggregated
    // sweep of <= ~10^4 rows by contract above — the single reducer is the
    // point, not an oversight. The 100x-rated forms are prCurveScalable /
    // prCurveBucketed below (PlanSpec-gated).
    val w = Window.orderBy(col("score").desc, col("tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    df.select(score.as("score"), tp.cast("long").as("tp"), fp.cast("long").as("fp"),
        tieBreak.as("tb"))
      .withColumn("rank", row_number().over(Window.orderBy(col("score").desc, col("tb").asc)))
      .withColumn("ctp", sum("tp").over(w))
      .withColumn("cfp", sum("fp").over(w))
      .withColumn("precision", col("ctp") / (col("ctp") + col("cfp")))
      .withColumn("recall", col("ctp") / sum("tp").over(tot))
      .drop("tb")
  }

  /** W1 exact-at-scale — the SAME cumulative sweep as [[prCurve]] without
    * its single global-order reducer: deterministic quantile boundaries on
    * the score bucket the rows (ties by construction share a bucket), one
    * small aggregate collects per-bucket row/tp/fp totals, the driver
    * prefix-sums them in descending-score bucket order, and each bucket
    * computes its local ranks and cumsums in parallel with the offsets
    * added. Output is row-for-row identical to [[prCurve]]. Use this when
    * the exact curve (not [[prCurveBucketed]]'s quantized one) must come
    * off a fact-scale input. */
  def prCurveScalable(df: DataFrame, score: Column, tp: Column, fp: Column,
                      tieBreak: Column): DataFrame = {
    val spark = df.sparkSession
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val base = df.select(score.as("score"), tp.cast("long").as("tp"),
      fp.cast("long").as("fp"), tieBreak.as("tb"))
    val probs = (1 until n).map(_.toDouble / n).toArray
    val bounds = base.stat.approxQuantile("score", probs, 0.001).distinct.sorted
    // native binary-search bucket tag — keeps the whole stage in codegen
    // (the former Scala UDF forced a serialization boundary per row)
    val tagged = base.withColumn("_b",
      graft.functions.BucketBinUtil.bucketCol(col("score").cast("double"), bounds))
    val stats = tagged.groupBy("_b")
      .agg(count(lit(1)).as("c"), sum("tp").as("t"), sum("fp").as("f"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val totalTp = stats.map(_._3).sum
    // descending score == descending bucket index
    var accC = 0L; var accT = 0L; var accF = 0L
    val offsets: Map[Int, (Long, Long, Long)] = stats.sortBy(-_._1).map {
      case (b, c, t, f) =>
        val o = (accC, accT, accF); accC += c; accT += t; accF += f; b -> o
    }.toMap
    // bucket offsets as literal arrays indexed by bucket+1: element_at is
    // codegen'd, and the grid is tiny (shuffle-partition count entries)
    def offArr(pick: ((Long, Long, Long)) => Long): Column = {
      val a = (0 to bounds.length).map(b =>
        pick(offsets.getOrElse(b, (0L, 0L, 0L))))
      element_at(array(a.map(lit(_)): _*), col("_b") + 1)
    }
    val w = Window.partitionBy("_b").orderBy(col("score").desc, col("tb").asc)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("rank", row_number().over(w) + offArr(_._1))
      .withColumn("ctp", sum("tp").over(cum) + offArr(_._2))
      .withColumn("cfp", sum("fp").over(cum) + offArr(_._3))
      .withColumn("precision", col("ctp") / (col("ctp") + col("cfp")))
      .withColumn("recall", col("ctp") / lit(totalTp))
      .drop("tb", "_b")
  }

  /** Row threshold for [[prCurveAuto]]'s exact-window arm. Below it the
    * single-reducer sweep is a sub-megabyte sort (8 narrow columns ×
    * ~48 B/row ≈ 5 MB at the cap) and skips [[prCurveScalable]]'s extra
    * approxQuantile pass; above it one task would sort an unbounded input
    * (the WindowExec "No Partition Defined" hazard VERDICT r15 #3 flagged
    * as W1's default entry point). */
  val PR_EXACT_MAX: Long = 100000L

  /** W1 auto — the sweep with its physical form chosen by the engine on a
    * MEASURED row count, the compressAuto/suppressAuto pattern (VERDICT
    * r15 #3: the exact sweep was the default entry point and nothing
    * stopped it planning an unbounded global sort). At or under `exactMax`
    * rows: [[prCurve]]'s single sanctioned global window. Above:
    * [[prCurveScalable]], which is row-for-row IDENTICAL (OrderedSpec
    * proves it, ties included) — so unlike a dispatch to the quantized
    * [[prCurveBucketed]], the regime choice is invisible to every caller
    * and oracle; bucketed stays the explicit resolution-for-cost option.
    * The probe is a `limit(exactMax+1).count()`: LocalLimit stops the scan
    * as soon as the threshold is exceeded, so a fact-scale input never
    * pays a full count just to be told it is large. */
  def prCurveAuto(df: DataFrame, score: Column, tp: Column, fp: Column,
                  tieBreak: Column, exactMax: Long = PR_EXACT_MAX): DataFrame = {
    require(exactMax >= 0 && exactMax < Int.MaxValue,
      s"prCurveAuto requires 0 <= exactMax < Int.MaxValue, got $exactMax")
    if (df.limit(exactMax.toInt + 1).count() <= exactMax)
      prCurve(df, score, tp, fp, tieBreak)
    else prCurveScalable(df, score, tp, fp, tieBreak)
  }

  /** W1 at scale — score-bucketed P/R sweep: quantize scores to `nBuckets`,
    * aggregate tp/fp per bucket (one distributed shuffle with map-side
    * combine), then run the cumulative sweep over the SMALL bucket table.
    * This is how the exact-rank curve above survives billions of calls: the
    * global window moves from N rows to nBuckets rows, at the cost of
    * threshold resolution = bucket width (the reference pre-buckets the
    * same way for its histogram-based percentiles). */
  def prCurveBucketed(df: DataFrame, score: Column, tp: Column, fp: Column,
                      nBuckets: Int, minScore: Double, maxScore: Double): DataFrame = {
    val width = (maxScore - minScore) / nBuckets
    val bucket = least(greatest(floor((score - minScore) / width), lit(0)),
      lit(nBuckets - 1L))
    val agg = df.select(bucket.as("bucket"), tp.cast("long").as("tp"),
        fp.cast("long").as("fp"))
      .groupBy("bucket")
      .agg(sum("tp").as("btp"), sum("fp").as("bfp"))
    // SANCTIONED GLOBAL WINDOW: runs over the <= nBuckets-row aggregate
    // (default 1000), never the fact table — bounded at any input scale
    val w = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    agg
      .withColumn("ctp", sum("btp").over(w))
      .withColumn("cfp", sum("bfp").over(w))
      .withColumn("threshold", col("bucket") * width + minScore)
      .withColumn("precision", col("ctp") / (col("ctp") + col("cfp")))
      .withColumn("recall", col("ctp") / sum("btp").over(tot))
      .select("threshold", "ctp", "cfp", "precision", "recall")
  }

  /** W2 (relaxed, lag-expressible) — gaps-and-islands sessionization: a new
    * session starts when the gap to the previous event exceeds `gapSeconds`.
    * (The strict gVCF block automaton with running-block state lives in
    * [[BlockCompress]].) */
  def sessionize(df: DataFrame, partCol: String, tsCol: String,
                 gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(partCol).orderBy(tsCol)
    // microsecond arithmetic: second-truncating unix_timestamp would
    // misclassify sub-second boundary gaps
    df.withColumn("_prev", lag(col(tsCol), 1).over(w))
      .withColumn("_new",
        when(col("_prev").isNull ||
             unix_micros(col(tsCol)) - unix_micros(col("_prev")) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_prev", "_new")
  }

  /** W4 — monotone extent filter (ugvc/joint/gvcf_bed.py:56-61): keep rows
    * whose `value` strictly exceeds the running max of all previous rows in
    * the partition (record highs). */
  def recordHighs(df: DataFrame, partCol: String, orderCol: String,
                  valueCol: String): DataFrame = {
    val wPrev = Window.partitionBy(partCol).orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_prevMax", max(col(valueCol)).over(wPrev))
      .filter(col("_prevMax").isNull || col(valueCol) > col("_prevMax"))
      .drop("_prevMax")
  }

  /** As-of join — for every probe row, the payload of the most recent
    * build row with `build.time <= probe.time` on the same key (the
    * event-time feature lookup a training-data pipeline runs constantly;
    * Spark has no native ASOF JOIN).
    *
    * Implemented as union + per-key ordered carry-forward window: ONE
    * shuffle on the key, no range-condition join (a theta range join
    * either explodes to nested-loop or needs banding). Build rows sort
    * BEFORE probe rows at equal timestamps, so the match is inclusive —
    * the same `probe.t >= build.t` semantics as DuckDB's ASOF JOIN.
    * Probe rows with no earlier build row get null (left join). Build
    * timestamps should be unique per key for deterministic payloads. */
  def asofJoin(probe: DataFrame, build: DataFrame, keys: Seq[String],
               timeCol: String, payloadCol: String): DataFrame = {
    require(!probe.columns.contains(payloadCol),
      s"payload column '$payloadCol' must not exist on the probe side")
    val pCols = probe.columns
    val p = probe.withColumn("_side", lit(1))
    val b = build.select((keys :+ timeCol :+ payloadCol).map(col): _*)
      .withColumn("_side", lit(0))
    val u = p.unionByName(b, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the carried value is a struct that is null exactly for PROBE rows:
    // last(ignoreNulls) then matches the latest BUILD row by time even when
    // its payload itself is null — DuckDB ASOF JOIN semantics (a bare
    // last(payload) would skip null-payload build rows and surface an older
    // value)
    u.withColumn("_m", when(col("_side") === 0, struct(col(payloadCol).as("p"))))
      .withColumn("_asof", last(col("_m"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(pCols.toIndexedSeq.map(col) :+ col("_asof.p").as(s"asof_$payloadCol"): _*)
  }

  /** W7 — keep every k-th row per partition in the given order. */
  def everyKth(df: DataFrame, partCol: String, orderCols: Seq[String],
               k: Int): DataFrame = {
    val w = Window.partitionBy(partCol).orderBy(orderCols.map(col): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") % k === 0)
      .drop("_rn")
  }

  /** W7 at scale, PACKED-KEY form — the measured replacement for the
    * windowed rank pass of [[everyKthWithBounds]] (VERDICT r13 #3): when
    * the full per-group order key packs losslessly into ONE long (w7's
    * `l_orderkey*8 + l_linenumber`, the o5 packing — both < 2^53 so the
    * double-space bucket compare stays exact), the generic
    * exchange + SortExec + WindowExec + filter pipeline is overkill: the
    * shuffle needs to carry only (cell, packed) — 12 payload bytes/row —
    * and per-cell ranking is a primitive `Arrays.sort(long[])` (no
    * UnsafeRow comparators, no window buffering) followed by DIRECT
    * emission of the k-th-rank positions (`rank = cellOffset + localIdx+1`,
    * so the kept local indices are just the multiples of k shifted by the
    * offset — 1% of rows materialize, instead of ranking 100%).
    *
    * Exactness: identical multiset of (group, packed) rows to [[everyKth]]
    * — bucket bounds steer only balance (ties on `packed` share a bucket
    * under any deterministic bound set), per-cell counts are exact, and
    * duplicate packed values make both forms emit the same VALUES at the
    * same ranks. Null packed keys and pathological value concentration
    * (one cell above `maxCellRows`, where the gather array would not be
    * spill-safe) fall back to the windowed [[everyKthWithBounds]], which
    * buffers through Spark's spilling machinery — the guard is decided
    * from the SAME exact counts the offsets need, so it costs nothing
    * extra. Memory: each task holds exact-sized long arrays totalling
    * ~8 B × its shuffle share (vs SortExec's ~3× heavier row buffer);
    * cells = 8 × shuffle-partitions × groups, so per-task share tracks
    * the usual partition sizing at any scale. Group cardinality is
    * BOUNDED: the cell inventory (a driver `take` capped at 2^18 rows +
    * a group-keyed plan literal) is only cheap for low-cardinality
    * groups — which is the only regime where this op beats a window
    * anyway — so past the cap it falls back to the plain per-group
    * window, whose parallelism there equals the group count. Each cell's
    * gather array is fill-ASSERTED before emission: if a planner rewrite
    * ever fragments a cell across partitions (the r14 band-automaton
    * hazard class), the op fails loudly instead of sorting an
    * underfilled array's zero tail into the output.
    *
    * Returns (`g` string, `p` long) — the caller unpacks (w7 restores
    * `l_orderkey`/`l_linenumber` with integer div/pmod). */
  def everyKthPacked(df: DataFrame, partCol: String, packed: Column, k: Int,
                     maxCellRows: Long = 8L << 20,
                     maxCells: Int = 1 << 18): DataFrame = {
    require(k > 0, s"everyKthPacked requires k > 0, got $k")
    // maxCells = Int.MaxValue would overflow take(maxCells + 1) into a
    // negative limit, and <= 0 silently forces the window fallback —
    // both are caller bugs, not regimes (advisor r15)
    require(maxCells > 0 && maxCells < Int.MaxValue,
      s"everyKthPacked requires 0 < maxCells < Int.MaxValue, got $maxCells")
    require(maxCellRows > 0,
      s"everyKthPacked requires maxCellRows > 0, got $maxCellRows")
    val spark = df.sparkSession
    import spark.implicits._
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val src = df.select(col(partCol).cast("string").as("g"), packed.as("p"))
    val r = src.agg(min(col("p")).cast("double"), max(col("p")).cast("double")).head()
    val bounds =
      if (r.isNullAt(0)) Array.empty[Double]
      else {
        val (lo, hi) = (r.getDouble(0), r.getDouble(1))
        // 8 buckets/partition (r18, OPTIMIZATION_r18.md §7):
        // 2/4/8/16 A/B'd at the 100x replica with row identity asserted —
        // 5.1/4.7/3.7/3.6 s cold and 3.8/3.4/3.4/3.4 s warm; 8 takes the
        // balance win, 16 only doubles the driver cell inventory for ~2%.
        // Scale-adaptive either way: cells track shuffle partitions, and
        // the maxCells window fallback bounds the driver inventory
        val buckets = 8 * parts
        val width = math.max(1.0, math.ceil((hi - lo + 1) / buckets))
        (1 until buckets).map(i => math.floor(lo + i * width))
          .filter(_ <= hi).distinct.sorted.toArray
      }
    val nb = bounds.length + 1
    val tagged = src.withColumn("_b",
      graft.functions.BucketBinUtil.bucketCol(col("p").cast("double"), bounds))
    // ONE exact count pass feeds the offsets, the group dictionary, AND
    // the fallback decisions (null keys / oversized cell / too many cells).
    // take(maxCells+1) instead of collect(): the cell inventory is
    // groups × buckets rows, and this op's advantage (parallelism not
    // capped by group count) only exists for LOW-cardinality groups — a
    // high-cardinality caller would otherwise get an unbounded driver
    // collect plus a plan-sized typedlit literal. Beyond the bound the
    // plain per-group window is the RIGHT plan anyway (parallelism =
    // group count ≥ cells/nb > maxCells/nb ≫ cluster width), so fall back.
    val cells = tagged.groupBy("g", "_b").count().take(maxCells + 1)
      .map(x => (x.getString(0), if (x.isNullAt(1)) -1 else x.getInt(1), x.getLong(2)))
    if (cells.isEmpty) return src.limit(0)
    if (cells.length > maxCells)
      return everyKth(src, "g", Seq("p"), k).select("g", "p")
    // fallbacks: null packed keys (bucket null — the windowed form's -1
    // bucket handles their NULLS FIRST placement), or a cell too big for
    // the spill-free gather array (also capped so the exact-size int
    // allocation can never overflow, whatever the caller passes)
    val cellCap = math.min(maxCellRows, (Int.MaxValue - 64).toLong)
    if (cells.exists(c => c._2 < 0 || c._3 > cellCap))
      return everyKthWithBounds(src, "g", Seq("p"), k, bounds, maxCells)
        .select("g", "p")
    // group dictionary on ESCAPED keys: a Catalyst map literal cannot key
    // on null, so null groups map via a reserved token (" ") and every
    // real value gets an "=" prefix that can never collide with it; the
    // ORIGINAL values (null included) come back through the array literal
    val esc: String => String = g => if (g == null) " " else "=" + g
    val gs = cells.map(_._1).distinct.sortBy(esc).toIndexedSeq
    val gIdx: Map[String, Int] = gs.map(esc).zipWithIndex.toMap
    val cellMeta: Map[Int, (Long, Int)] = cells
      .groupBy(_._1)
      .flatMap { case (g, rows) =>
        var acc = 0L
        rows.sortBy(_._2).map { case (_, b, c) =>
          val o = acc; acc += c
          (gIdx(esc(g)) * nb + b) -> (o, c.toInt)
        }
      }
    val escCol = when(col("g").isNull, lit(" ")).otherwise(concat(lit("="), col("g")))
    val cellExpr = element_at(typedlit(gIdx), escCol) * nb + col("_b")
    val picked = tagged.select(cellExpr.as("_c"), col("p")).as[(Int, Long)]
      .repartition(parts, col("_c"))
      .mapPartitions { it =>
        val bufs = new java.util.HashMap[Integer, Array[Long]]()
        val used = new java.util.HashMap[Integer, Integer]()
        while (it.hasNext) {
          val (c, p) = it.next()
          var a = bufs.get(c)
          if (a == null) { a = new Array[Long](cellMeta(c)._2); bufs.put(c, a) }
          val n = used.getOrDefault(c, 0)
          a(n) = p; used.put(c, n + 1)
        }
        val es = bufs.entrySet().iterator()
        new Iterator[(Int, Long)] {
          private var arr: Array[Long] = null
          private var cell = 0
          private var i = 0
          private def advance(): Unit =
            while ((arr == null || i >= arr.length) && es.hasNext) {
              val e = es.next()
              cell = e.getKey
              arr = e.getValue
              // co-location assertion (advisor r14): the exact-sized array
              // must be exactly full. If the engine ever fragments a cell
              // across partitions (the band-automaton hazard class), the
              // underfilled array's zero tail would otherwise be sorted
              // and emitted — silent corruption; fail loudly instead.
              val filled = used.get(cell).intValue()
              if (filled != arr.length) throw new IllegalStateException(
                s"everyKthPacked: cell $cell arrived fragmented " +
                  s"($filled of ${arr.length} rows in one partition) — " +
                  "repartition co-location was violated by the planner")
              java.util.Arrays.sort(arr)
              val off = cellMeta(cell)._1
              // first global rank in this cell divisible by k
              i = (((off / k) + 1) * k - off - 1).toInt
            }
          override def hasNext: Boolean = { advance(); arr != null && i < arr.length }
          override def next(): (Int, Long) = { val v = (cell, arr(i)); i += k; v }
        }
      }
    picked.toDF("_c", "p")
      .select(element_at(typedlit(gs), (col("_c") / nb).cast("int") + 1).as("g"),
        col("p"))
  }

  /** W7 at scale, windowed form — exact global per-group rank WITHOUT the
    * per-group single reducer. `everyKth`'s window partitioned by a
    * low-cardinality group key (3 returnflags) caps parallelism at the
    * group count. Classic two-phase ranking: bucket rows by deterministic
    * `bounds` on the primary sort key, count rows per (group, bucket),
    * prefix-sum those tiny counts on the driver, and add each bucket's
    * offset to its local window ranks. Every stage is parallel over all
    * buckets, never over the group cardinality. Bounds steer only load
    * balance: ties on the bucketing key land in one bucket under any
    * deterministic bound set, so ranks never split a tie.
    *
    * Exactness requires: `orderCols.head` numeric (the bucketing key) and
    * the full `orderCols` unique per group (as W7's are). */
  private def everyKthWithBounds(df: DataFrame, partCol: String,
      orderCols: Seq[String], k: Int, bounds: Array[Double],
      maxCells: Int = 1 << 18): DataFrame = {
    val rangeCol = orderCols.head
    // native binary-search bucket tag (exact for keys < 2^53 — the floor'd
    // quantile bounds and the cast key compare identically in double space).
    // NOT persisted: caching the wide tagged frame for the count + rank
    // passes was measured 3x WORSE at the 100x replica (60.5 s vs 19.6 —
    // the columnar cache build of 60M wide rows costs more than two extra
    // pruned parquet scans)
    // NULL bucketing keys land in bucket -1, which sorts before every real
    // bucket — exactly the ascending window's NULLS FIRST placement — and
    // all null-key rows tie there, so ties still never split across buckets
    val tagged = df.withColumn("_b",
      coalesce(
        graft.functions.BucketBinUtil.bucketCol(col(rangeCol).cast("double"), bounds),
        lit(-1)))
    // same bounded-cell-inventory guard as everyKthPacked (whose maxCells
    // threads through here so the caller's knob governs the fallback path
    // too): the offset map is groups × buckets driver rows + a plan
    // literal; past the bound the plain per-group window has
    // cluster-width parallelism and is the right plan, so fall back
    // instead of collecting unbounded state
    val countRows = tagged
      .groupBy(col(partCol).cast("string").as("_g"), col("_b"))
      .count().take(maxCells + 1)
    if (countRows.length > maxCells)
      return everyKth(df, partCol, orderCols, k)
    val counts = countRows
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
    val offsets: Map[(String, Int), Long] = counts
      .groupBy(_._1._1)
      .flatMap { case (g, rows) =>
        var acc = 0L
        rows.sortBy(_._1._2).map { case ((_, b), c) =>
          val o = acc; acc += c; (g, b) -> o
        }
      }
    // (group → per-bucket offset array) as a literal map: element_at twice
    // stays inside codegen; absent cells (no rows) coalesce to 0. Map keys
    // are ESCAPED (null group → " ", real value → "="+value): a Catalyst
    // map literal cannot key on null, and without the escape a null group
    // would silently read offset 0 for every bucket and mis-rank.
    val esc: String => String = g => if (g == null) " " else "=" + g
    val offMap: Map[String, Seq[Long]] = offsets.keys.map(_._1).toSeq.distinct
      .map { g =>
        esc(g) -> (-1 to bounds.length).map(b => offsets.getOrElse((g, b), 0L))
      }.toMap
    val gStr = col(partCol).cast("string")
    val offExpr = coalesce(
      element_at(
        element_at(typedlit(offMap),
          when(gStr.isNull, lit(" ")).otherwise(concat(lit("="), gStr))),
        col("_b") + 2), // arrays start at the -1 (null-key) bucket
      lit(0L))
    // window cells are (group, bucket) — sized by the quantile grid,
    // never by group cardinality
    val w = Window.partitionBy(col(partCol), col("_b"))
      .orderBy(orderCols.map(col): _*)
    tagged
      .withColumn("_rank", row_number().over(w) + offExpr)
      .filter(col("_rank") % k === 0)
      .drop("_b", "_rank")
  }
}
