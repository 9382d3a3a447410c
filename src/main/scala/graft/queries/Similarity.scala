package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (vec_id, embedding: array<float>, label).
  *
  * e1 — brute-force cosine top-k: the exactness baseline. Queries are a
  * small deterministic subset, broadcast against the full collection; the
  * dot product is a scalar fold (`aggregate(zip_with(...))`) inside
  * whole-stage codegen. At 100 TB this is the per-partition inner loop of
  * any ANN verifier — no shuffle, collection scanned once per query batch.
  *
  * e2 — IVF-style ANN: k-means-free variant with deterministic "centroids"
  * (first C vectors). Every vector is assigned to its nearest centroid
  * (broadcast, scalar argmax), then search only touches the query's own
  * cluster — the classic inverted-file pruning that turns O(N·Q) into
  * O(N·Q/C) probes. Cluster assignment doubles as the partition key a real
  * deployment would bucket-write by.
  *
  * Float arrays are cast to double before any arithmetic so the left-fold
  * sum is bit-identical to the DuckDB oracle; similarities are rounded to
  * 6 dp BEFORE ranking so rank order cannot differ by float noise.
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  private val TOPK = 5

  private val DIM = 64

  /** Hard cap on centroids collected for a flat broadcast ([[assignToCells]]):
    * 65,536 cells at DIM=64 doubles ≈ 35 MB on the driver — comfortably
    * bounded, while any legitimate IVF sizing (sqrt(N) cells) stays far
    * below it even at 4 billion vectors. Beyond the cap, callers must go
    * through the two-level coarse-quantizer dispatch. */
  private[queries] val MaxBroadcastCells = 65536

  /** Cell-count knobs, derived from collection size so the plan shape
    * survives scale-up (round-2 verdict: a constant NCENT makes per-cell
    * work grow linearly with N, i.e. pairwise work quadratically).
    *
    *  - dedup blocking: C = ceil(N / targetBlock) keeps every block at
    *    ~targetBlock vectors, so within-block pairwise work is N·B — linear
    *    in N. (Beyond ~1e6 cells the flat centroid broadcast itself needs a
    *    two-level coarse quantizer; that threshold is ~256M vectors.)
    *  - ANN probe: C = ceil(sqrt(N)) minimizes assign+probe cost C + N/C;
    *    at N = 5e9 that is a ~70k-centroid broadcast (~36 MB) — fine.
    *
    * Both formulas are mirrored as scalar subqueries in the DuckDB oracles
    * so the gate stays in sync at every scale factor. */
  def cellCountForDedup(n: Long, targetBlock: Long = 256L): Long =
    math.max(8L, math.ceil(n.toDouble / targetBlock).toLong)
  def cellCountForAnn(n: Long): Long =
    math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong)

  /** Past this many cells the flat path stops being viable: its centroid
    * matrix is collected to the driver and every vector pays an O(C)
    * argmax, so cost is O(N·C) — quadratic in N at the N/256 dedup sizing
    * (~1e6 cells ≈ 256M vectors). [[assignToCellsAuto]] switches to the
    * two-level coarse quantizer there, whose broadcast is only O(sqrt(C))
    * and whose fine resolve is an equi-join. */
  val FlatCellLimit: Long = 1L << 20

  /** Cell assignment with the scale dispatch: flat broadcast argmax below
    * [[FlatCellLimit]] cells (exact, and what every tested scale runs),
    * two-level coarse quantization above it. The declared d6/e2 queries
    * route through this, so the same code path survives a 100 TB corpus
    * without a quadratic cliff. */
  private[queries] def assignToCellsAuto(all: DataFrame, cents: DataFrame,
                                         nCells: Long,
                                         flatLimit: Long = FlatCellLimit): DataFrame =
    if (nCells > flatLimit) assignToCellsTwoLevel(all, cents)
    else assignToCells(all, cents)

  private val dedupCellsSql =
    "(SELECT greatest(8, CAST(ceil(count(*) / 256.0) AS BIGINT)) FROM embeddings)"
  private val annCellsSql =
    "(SELECT greatest(8, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT)) FROM embeddings)"

  /** Dot product via the native codegen'd [[graft.functions.DotProduct]]
    * expression (one fused loop, no per-element bounds checks or
    * intermediate arrays), left-associated like the oracle's list_sum.
    * Falls back to composed builtins when the extension isn't installed. */
  private[queries] def dot(a: Column, b: Column): Column = {
    val active = org.apache.spark.sql.SparkSession.active
    if (active.catalog.functionExists("graft_dot")) call_function("graft_dot", a, b)
    else when(size(a) === DIM && size(b) === DIM,
      (1 to DIM).map(i => element_at(a, i) * element_at(b, i)).reduce(_ + _))
      .otherwise(aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v))
  }

  /** sqrt(Σ a_i²) via the native fused [[graft.functions.DotProduct]] loop
    * (r17): the composed `aggregate(transform(...))` form is an
    * INTERPRETED two-sweep HOF per row (sharp edge #17's class) sitting on
    * the vecs() scan hot path of e1/e2/e3/e4/d6 — every vector pays it at
    * ingest of every query. dot(a,a) is the same ascending-index
    * left-associated sum (x*x per element), so the value is bit-identical;
    * the no-extension fallback inside [[dot]] composes the same builtins
    * as before. */
  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** embeddings with double vector + precomputed norm. */
  private[queries] def vecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(
      col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", norm(col("v")))
      // cosine similarity is UNDEFINED for a zero vector; under ANSI the
      // norm division would throw DIVIDE_BY_ZERO (Spark 4 throws even for
      // doubles) while DuckDB yields NULL — exclusion at ingest is the one
      // semantics both engines express identically (the oracles carry the
      // same predicate; the bandRows null-signature filter is the text-side
      // precedent). The driver corpus has no zero vectors, so results are
      // unchanged — this is a totality contract, not a behavior change.
      .filter(col("nrm") > 0)

  /** Nearest-centroid assignment: every vector in `all` gains the `cid` of
    * its best centroid. The centroid matrix is collected and broadcast and
    * the argmax runs as a per-row loop — a genuinely MAP-ONLY stage. (The
    * alternative, crossJoin + row_number window, shuffles N x C rows that
    * each carry the full vector payload; at 10x data that window was the
    * dominant cost of d6/e2.) Ties keep the lowest cid, and the similarity
    * is rounded exactly like Spark's `round(x, 6)` (BigDecimal HALF_UP) so
    * the DuckDB oracles keep matching. Shared by d6/e2 and
    * [[writeAssignmentsByCell]]. */
  private[queries] def assignToCells(all: DataFrame, cents: DataFrame): DataFrame = {
    // driver-OOM guard: the centroid collect is sqrt(N)-bounded for the
    // engine's own IVF paths (~7k cells at the 100x replica), but a caller
    // handing an arbitrary frame must get an error with guidance, not a
    // dead driver. limit(cap+1) keeps the probe itself bounded.
    val probe = cents.select("cid", "cv", "cnrm")
      .limit(Similarity.MaxBroadcastCells + 1).collect()
    require(probe.length <= Similarity.MaxBroadcastCells,
      s"assignToCells: more than ${Similarity.MaxBroadcastCells} centroids — " +
        "a flat broadcast of this many cells risks a driver OOM; use " +
        "assignToCellsTwoLevel (coarse quantizer dispatch) or reduce the " +
        "cell count (IVF sizes cells as sqrt(N))")
    val centArr: Array[(Long, Array[Double], Double)] =
      probe
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
        .sortBy(_._1)
    val bCents = all.sparkSession.sparkContext.broadcast(centArr)
    val best = udf { (v: Seq[Double], nrm: Double) =>
      val vv = v.toArray
      val cents = bCents.value
      // Pass 1: raw-double argmax. The oracle-parity contract rounds every
      // similarity to 6 dp (BigDecimal HALF_UP = Spark round()) BEFORE the
      // argmax — but BigDecimal per (row x centroid) dominated the whole
      // assignment stage (measured 25.5 s of e2's 32.4 s at the 100x
      // replica). Rounding moves a value by at most 5e-7 and is monotone,
      // so any centroid more than 1e-6 below the raw max rounds STRICTLY
      // below the raw max's rounded value and can never win or tie.
      val sims = new Array[Double](cents.length)
      var rawBest = Double.NegativeInfinity
      var j = 0
      while (j < cents.length) {
        val cv = cents(j)._2
        var s = 0.0
        var i = 0
        while (i < vv.length) { s += vv(i) * cv(i); i += 1 }
        val sim = s / (nrm * cents(j)._3)
        sims(j) = sim
        if (sim > rawBest) rawBest = sim
        j += 1
      }
      // Pass 2: only near-ties (>= rawBest - 1e-6) pay the exact decimal
      // round; ascending cid with strict > keeps the first max — identical
      // tie-break to rounding everything.
      var bestCid = -1L
      var bestSim = Double.NegativeInfinity
      j = 0
      while (j < cents.length) {
        if (sims(j) >= rawBest - 1e-6) {
          val sim = java.math.BigDecimal.valueOf(sims(j))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          if (sim > bestSim) { bestSim = sim; bestCid = cents(j)._1 }
        }
        j += 1
      }
      bestCid
    }
    all.withColumn("cid", best(col("v"), col("nrm")))
  }

  /** The IVF layout a real deployment materializes: assignments written
    * ONCE, partitioned by cell, so a probe of cell c reads only
    * `cid=c/part-*.parquet` (partition pruning — no full-collection scan
    * per query batch). */
  def writeAssignmentsByCell(assigned: DataFrame, path: String): Unit =
    assigned.write.mode("overwrite").partitionBy("cid").parquet(path)

  /** Write the COMPLETE ANN ingest artifact set — the at-rest form of the
    * [[annIndex]] session memo, making the "written-once index" story
    * executable rather than argued: cell assignments (partitioned by cid
    * for probe-side partition pruning), the PQ code table (same layout),
    * and a one-row meta table carrying the cell count. A cluster ingest
    * job calls this once; every later session serves e2/e3/e4-shaped
    * queries from [[annIndexFromParquet]] without touching the raw
    * embeddings. SimilaritySpec proves the round trip frame-identical to
    * the memo. */
  def writeAnnIndex(s: SparkSession, d: String, path: String): Unit = {
    val (assigned, codes, nCells) = annIndex(s, d)
    writeAssignmentsByCell(assigned, path + "/assignments")
    codes.write.mode("overwrite").partitionBy("cid").parquet(path + "/codes")
    s.range(1).select(lit(nCells).as("n_cells"))
      .write.mode("overwrite").parquet(path + "/meta")
  }

  /** Read the artifact set written by [[writeAnnIndex]] — the
    * (assignments, codes, nCells) triple in the memo's shape, scanning
    * the written index instead of recomputing assignment/encode. */
  def annIndexFromParquet(s: SparkSession, path: String): (DataFrame, DataFrame, Long) = {
    val nCells = s.read.parquet(path + "/meta").head.getLong(0)
    (s.read.parquet(path + "/assignments"),
      s.read.parquet(path + "/codes"), nCells)
  }

  /** Lloyd's k-means refinement of an IVF centroid set — distributed
    * DataFrame form: each iteration is a MAP-ONLY assignment
    * ([[assignToCells]]) followed by one narrow aggregation computing
    * per-cell mean vectors (posexplode to (cid, dim, x) rows — partial+
    * final hash aggregate, no vector-carrying shuffle of the collection).
    * Cells that lose all members keep their previous centroid. The
    * deterministic-subsample init the queries use stays reproducible;
    * refinement tightens cells when recall matters more than setup time. */
  def kmeansRefine(all: DataFrame, cents: DataFrame, iters: Int = 3): DataFrame = {
    var c = cents
    for (_ <- 1 to iters) {
      val assigned = assignToCells(all, c).select("cid", "v")
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("cid", "i").agg(avg("x").as("m"))
        .groupBy("cid")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s => s.getField("m")).as("cv"))
        .withColumn("cnrm",
          sqrt(aggregate(transform(col("cv"), x => x * x), lit(0.0), (a, x) => a + x)))
        // materialize once (C rows — tiny): the union branch AND the
        // empty-cell anti-join both read `means`; unchecked, each round's
        // assignment+aggregation would run twice, and the plan would nest
        // across iterations
        .localCheckpoint()
      // empty cells keep their previous centroid
      c = means.unionByName(
        c.join(means.select("cid"), Seq("cid"), "left_anti"))
    }
    c
  }

  /** Two-level IVF assignment — the scale path past the flat-broadcast
    * limit (a flat centroid broadcast dies around ~1e6 cells ≈ 256M+
    * vectors at the N/256 dedup sizing). Level 1: ~sqrt(C) COARSE
    * centroids (a deterministic subsample of the fine set) are broadcast
    * and both the fine centroids and the data vectors take a nearest-
    * coarse assignment. Level 2: each vector resolves its fine cell by an
    * EQUI-JOIN on the shared coarse id + per-vector argmax — the fine
    * centroid table is shuffled, never broadcast. Standard IVF coarse
    * quantization: a vector only considers fine centroids inside its
    * coarse bucket, so assignment is approximate at bucket borders. */
  def assignToCellsTwoLevel(all: DataFrame, fineCents: DataFrame): DataFrame = {
    val c = fineCents.count()
    val nCoarse = math.max(1L, math.ceil(math.sqrt(c.toDouble)).toLong)
    val step = math.max(1L, math.ceil(c.toDouble / nCoarse).toLong)
    val coarse = broadcast(fineCents.filter(col("cid") % step === 0)
      .select(col("cid").as("gid"), col("cv").as("gv"), col("cnrm").as("gnrm")))

    val wFine = Window.partitionBy("f_cid").orderBy(col("gsim").desc, col("gid").asc)
    val fineCoarse = fineCents
      .select(col("cid").as("f_cid"), col("cv"), col("cnrm"))
      .crossJoin(coarse)
      .withColumn("gsim", roundSim(dot(col("cv"), col("gv")) / (col("cnrm") * col("gnrm"))))
      .withColumn("_r", row_number().over(wFine)).filter(col("_r") === 1)
      .select(col("f_cid"), col("cv"), col("cnrm"), col("gid"))

    val wVec = Window.partitionBy("vec_id").orderBy(col("gsim").desc, col("gid").asc)
    val vecCoarse = all.crossJoin(coarse)
      .withColumn("gsim", roundSim(dot(col("v"), col("gv")) / (col("nrm") * col("gnrm"))))
      .withColumn("_r", row_number().over(wVec)).filter(col("_r") === 1)
      .drop("gv", "gnrm", "gsim", "_r")

    val wCell = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("f_cid").asc)
    vecCoarse.join(fineCoarse, Seq("gid"))
      .withColumn("csim", roundSim(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))))
      .withColumn("_r", row_number().over(wCell)).filter(col("_r") === 1)
      .select(all.columns.toIndexedSeq.map(col) :+ col("f_cid").as("cid"): _*)
  }

  // ---- E3: product quantization (PQ) ---------------------------------
  // The memory side of the ANN scale story: IVF prunes WHICH vectors a
  // probe touches; PQ shrinks WHAT a scan reads. A 64-dim float vector is
  // 256 B; its PQ code is M=8 small ints (one byte each packed — 32x).
  // At 100 TB of raw embeddings the code table is ~3 TB and fits cluster
  // memory, so the ADC scan (codes x per-query LUT) never rereads the
  // vectors; exact re-ranking of the short-list is the only full-vector
  // access. Codebooks are a deterministic subsample (first K vectors'
  // subvectors) like the IVF centroids, so the DuckDB oracle replays
  // encode + LUT + ADC exactly; kmeansRefine is the quality upgrade a
  // real deployment would run per subspace.
  val PQ_M = 8 // subspaces
  val PQ_SUB = DIM / PQ_M // dims per subspace
  val PQ_K = 16 // codebook entries per subspace

  private def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Collect the deterministic PQ codebook: the full vectors of
    * `vec_id < PQ_K`, ordered by id (K x DIM doubles — trivially small). */
  private[queries] def pqCodebook(all: DataFrame): Array[Array[Double]] =
    all.filter(col("vec_id") < PQ_K).orderBy("vec_id")
      .select("v").collect().map(_.getSeq[Double](0).toArray)

  /** PQ-encode: per subspace m, the index of the codebook entry with the
    * smallest squared L2 distance to the vector's m-th subvector
    * (distances rounded to 6 dp before the argmin, ties -> lowest k —
    * mirrors the oracle's `ORDER BY dd, k`). Map-only over a broadcast
    * codebook, the same shape as [[assignToCells]]. */
  private[queries] def pqEncodeUdf(all: DataFrame, cb: Array[Array[Double]]): Column => Column = {
    val bcb = all.sparkSession.sparkContext.broadcast(cb)
    val f = udf { (v: Seq[Double]) =>
      val vv = v.toArray
      val codebook = bcb.value
      val ds = new Array[Double](codebook.length)
      Array.tabulate(PQ_M) { m =>
        // same two-pass shape as assignToCells: raw-double argmin first,
        // then the oracle-parity 6-dp round only on near-ties (within the
        // 1e-6 rounding radius of the raw min) — output-identical, and the
        // BigDecimal cost drops from KxM per row to ~1 per subspace
        var rawMin = Double.PositiveInfinity
        var k = 0
        while (k < codebook.length) {
          val cv = codebook(k)
          var d = 0.0; var i = 0
          while (i < PQ_SUB) {
            val t = vv(m * PQ_SUB + i) - cv(m * PQ_SUB + i); d += t * t; i += 1
          }
          ds(k) = d
          if (d < rawMin) rawMin = d
          k += 1
        }
        var bestK = -1; var bestD = Double.PositiveInfinity
        k = 0
        while (k < codebook.length) {
          if (ds(k) <= rawMin + 1e-6) {
            val dr = round6(ds(k))
            if (dr < bestD) { bestD = dr; bestK = k } // asc k: first min wins
          }
          k += 1
        }
        bestK
      }
    }
    c => f(c)
  }

  /** Per-query ADC lookup table: lut[m][k] = <q_sub(m), cb[k]_sub(m)>,
    * rounded to 6 dp. Runs only over the fixed-size query batch. */
  private[queries] def pqLutUdf(all: DataFrame, cb: Array[Array[Double]]): Column => Column = {
    val bcb = all.sparkSession.sparkContext.broadcast(cb)
    val f = udf { (qv: Seq[Double]) =>
      val vv = qv.toArray
      Seq.tabulate(PQ_M)(m => Seq.tabulate(bcb.value.length) { k =>
        val cv = bcb.value(k)
        var sdp = 0.0; var i = 0
        while (i < PQ_SUB) { sdp += vv(m * PQ_SUB + i) * cv(m * PQ_SUB + i); i += 1 }
        round6(sdp)
      })
    }
    c => f(c)
  }

  /** ADC similarity via the native codegen'd [[graft.functions.AdcFold]]
    * (one fused loop, no per-pair intermediate array — the N×Q hot path);
    * composed-HOF fallback when the extension isn't installed. Both forms
    * sum in ascending-m left-associated order, matching the oracle. */
  private[queries] def adcSim(codes: Column, lut: Column): Column = {
    val active = org.apache.spark.sql.SparkSession.active
    if (active.catalog.functionExists("graft_adc")) call_function("graft_adc", codes, lut)
    else aggregate(zip_with(codes, lut, (c, l) => element_at(l, c + 1)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** Library form of the ingest-time encode: (vec_id, codes) with `codes`
    * an array<int> of length [[PQ_M]]. A deployment persists this (plus
    * the codebook) once and serves every ADC scan from it. */
  def pqEncode(all: DataFrame): DataFrame = {
    val cb = pqCodebook(all)
    all.select(col("vec_id"), pqEncodeUdf(all, cb)(col("v")).as("codes"))
  }

  /** Two-stage retrieval: ADC scan over PQ codes to a `shortlist`-deep
    * candidate set, then EXACT cosine re-rank of only those candidates —
    * the standard production shape (compressed scan bounds IO, the
    * re-rank touches `shortlist` full vectors per query instead of N).
    * `queries` must carry (qid, qv, qnrm); returns exact top-`k`.
    * The candidate join is an equi-join on vec_id, so only the shortlist
    * rows ever rehydrate their full vectors. */
  def pqSearchRerank(all: DataFrame, queries: DataFrame,
                     shortlist: Int = 50, k: Int = TOPK): DataFrame = {
    val cb = pqCodebook(all)
    val codes = all.select(col("vec_id"), pqEncodeUdf(all, cb)(col("v")).as("codes"))
    val q = queries.select(col("qid"), pqLutUdf(all, cb)(col("qv")).as("lut"),
      col("qv"), col("qnrm"))
    // shortlist via the partial top-k aggregate (the ADC scan's N x Q
    // rows never ride an exchange; see topkPerQid)
    val cand = topkPerQid(
      codes.crossJoin(broadcast(q.select("qid", "lut")))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          roundSim(adcSim(col("codes"), col("lut"))).as("asim")),
      "asim", shortlist)
      .select("qid", "vec_id")
    val wExact = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)
    cand.join(all, Seq("vec_id")) // shortlist-sized equi-join rehydrates vectors
      .join(broadcast(q.select("qid", "qv", "qnrm")), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        roundSim(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("sim"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "sim")
  }

  /** IVF-PQ composed search — the full production ANN stack in one call:
    * (1) IVF cell assignment restricts WHICH codes a probe touches
    * (O(N/C) of the collection per query), (2) the PQ ADC scan inside the
    * cell reads only the M-int codes, (3) exact re-rank rehydrates just
    * `shortlist` full vectors. `queries` carries (qid, qv, qnrm); probes
    * search their own cell (single-probe; widen by unioning neighbor
    * cells if recall demands). */
  def ivfPqSearch(all: DataFrame, queries: DataFrame, nCells: Long,
                  shortlist: Int = 50, k: Int = TOPK): DataFrame = {
    val cents = all.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val assigned = assignToCellsAuto(all, cents, nCells)
    val codes = assigned.select(col("vec_id"), col("cid"),
      pqEncodeUdf(all, pqCodebook(all))(col("v")).as("codes"))
    ivfPqSearchIndexed(all, codes, queries, nCells, shortlist, k)
  }

  /** [[ivfPqSearch]] against a PRE-BUILT code table: `codes` is the
    * (vec_id, cid, codes) frame ([[annIndex]] / a persisted ingest run).
    * Only the tiny query batch is assigned here; the collection-sized
    * assignment and encode are the caller's materialized input. */
  def ivfPqSearchIndexed(all: DataFrame, codes: DataFrame, queries: DataFrame,
                         nCells: Long, shortlist: Int = 50,
                         k: Int = TOPK): DataFrame = {
    val cents = all.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val cb = pqCodebook(all)
    val qCells = assignToCellsAuto(
      queries.select(col("qid").as("vec_id"), col("qv").as("v"), col("qnrm").as("nrm")),
      cents, nCells)
      .select(col("vec_id").as("qid"), col("cid").as("qcid"))
    val q = queries.join(qCells, Seq("qid"))
      .select(col("qid"), col("qcid"), pqLutUdf(all, cb)(col("qv")).as("lut"))
    // shortlist via the partial top-k aggregate (see topkPerQid)
    val cand = topkPerQid(
      codes.join(broadcast(q),
          col("cid") === col("qcid") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          roundSim(adcSim(col("codes"), col("lut"))).as("asim")),
      "asim", shortlist)
      .select("qid", "vec_id")
    val wExact = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)
    cand.join(all, Seq("vec_id"))
      .join(broadcast(queries), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        roundSim(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("sim"))
      .withColumn("rank", row_number().over(wExact))
      .filter(col("rank") <= k)
      .select("qid", "rank", "vec_id", "sim")
  }

  /** Session-scoped ANN index artifacts — the frames a real deployment
    * materializes ONCE at ingest (the IVF cell assignment, the PQ code
    * table) and serves every query from ([[writeAssignmentsByCell]] /
    * [[pqEncode]] are the parquet forms). e2/e3/e4 resolve their shared
    * prep through this memo, so assignment and encode run once per
    * (session, dir) instead of once per query — at the 100x replica the
    * recomputed assignment alone was 25.5 s of e2's 32.4 s and again in
    * e4. Persisted MEMORY_AND_DISK and keyed by session identity, so a
    * restarted session (or the clear-cache bench mode) re-derives cleanly;
    * contents are deterministic, so sharing cannot change any result. */
  // True LRU via the shared LruFrameMemo: past the cap, evict ONE eldest
  // entry (the clear-all form unpersisted frames a concurrent query on
  // another dir could be scanning — ADVICE r10); recency/evict/re-persist
  // validated atomically against a racing eviction (ADVICE r11). The
  // re-persist arm covers an external clearCache() dropping the memoized
  // frames (otherwise every ANN query recomputes assignment/encode).
  private val annIndexMemo =
    new LruFrameMemo[(Int, String), (DataFrame, DataFrame, Long)](
      max = 8,
      ensurePersisted = e => Seq(e._1, e._2).foreach { df =>
        if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
          df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      },
      unpersist = e => { e._1.unpersist(false); e._2.unpersist(false) })

  /** d6's (label, cid)-assigned frame, memoized with the one-owner
    * eviction lifecycle every other session persist has (r17 review: the
    * original in-query persist leaked one full-vector cached frame per
    * d6 invocation — the exact accumulation class ReportGrid's jcAgg memo
    * fixed). Contents deterministic per (session, dir).
    *
    * Storage level DISK_ONLY (r18, VERDICT r17 #4 — measured, not asserted,
    * OPTIMIZATION_r18.md §5): at the 100x replica, interleaved arms, 10.26M
    * pairs checksum-identical: persist ~2.4-2.5 s vs recompute 4.3-5.2 s
    * (the O(C)-per-row argmax re-ran on both join sides), and DISK_ONLY ==
    * MEMORY_AND_DISK on wall (2.5 vs 2.4 s — the columnar batches stream
    * back from NVMe as fast as the pool serves them). The frame carries
    * FULL VECTORS and is corpus-sized at the dedup sizing, so at 100 TB
    * MEMORY_AND_DISK would compete with the join's execution memory exactly
    * when it is needed most; DISK_ONLY keeps the measured 2x recompute win
    * with zero unified-pool pressure. */
  private val d6AssignMemo = new LruFrameMemo[(Int, String), DataFrame](
    max = 4,
    ensurePersisted = df =>
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        df.count(): Unit
      },
    unpersist = _.unpersist(false))

  private[queries] def annIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Long) =
    annIndexMemo.getOrBuild((System.identityHashCode(s), d)) {
      val nCells = cellCountForAnn(Tables.embeddings(s, d).count())
      val all = vecs(s, d)
      val cents = all.filter(col("vec_id") < nCells)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
      val assigned = assignToCellsAuto(all, cents, nCells)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val codes = assigned.select(col("vec_id"), col("cid"),
        pqEncodeUdf(all, pqCodebook(all))(col("v")).as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (assigned, codes, nCells)
    }

  /** Top-k per query via the [[graft.functions.TopKBySim]] partial
    * aggregate — replaces the `row_number() OVER (PARTITION BY qid)`
    * windows whose exchange parallelism is the QUERY count and whose
    * exchange VOLUME is every scored candidate. The aggregate keeps a
    * k-slot bounded heap per (partition, qid) map-side, so the exchange
    * carries partitions×queries k-entry buffers — independent of the
    * collection size. Tie-break (sim DESC, vec_id ASC) is identical to the
    * windows', so output is bit-identical (equality pinned in the r14 A/B,
    * NOTES.md Round 14; measured 9.4-10.5 → 3.8-5.0 s at the 100x replica
    * for e1). `sims` must carry (qid, vec_id, `simName`). */
  private def topkPerQid(sims: DataFrame, simName: String, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKBySim(k))
    sims.groupBy("qid").agg(topk(col(simName), col("vec_id")).as("tk"))
      .select(col("qid"), posexplode(col("tk")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("col._2").as("vec_id"), col("col._1").as(simName))
  }

  val queries: Map[String, Q] = Map(
    // ----- E1: brute-force cosine top-k (exact baseline)
    // The query batch is FIXED SIZE (first 32 ids), not a fraction of the
    // collection: a %-of-N query set turns the scan quadratic as data grows.
    "e1_knn_cosine" -> { (s, d) =>
      val all = vecs(s, d)
      val q = all.filter(col("vec_id") < 32)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
      val sims = all.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          roundSim(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("sim"))
      // partial top-k aggregate, not a 32-partition window (see topkPerQid)
      topkPerQid(sims, "sim", TOPK).select("qid", "rank", "vec_id", "sim")
    },
    // ----- D6: embedding-cosine near-dup pairs, (label x IVF-cell) blocked.
    // Label alone is not enough: blocks grow with the data, so pairwise
    // work grows quadratically (measured 80x at a 10x scale-up). Assigning
    // every vector to its nearest deterministic centroid first bounds each
    // block; the cell count is the knob that scales with data.
    "d6_cosine_dedup" -> { (s, d) =>
      // persist + eager materialize via the session memo (r17): the pair
      // join consumes `assigned` on BOTH sides, and the two subtrees are
      // not canonically equal (different projections), so nothing is
      // reused — each side re-ran the scan + norm + O(C)-per-row
      // assignment argmax, the query's dominant stage (the same
      // double-evaluation class as sharp edge #16; at the dedup sizing C
      // grows with N, so the waste scales). The memo (not a bare
      // per-invocation persist — r17 review) gives the frame the
      // one-owner unpersist lifecycle; eager count inside ensurePersisted
      // avoids the in-flight cache-population race between the join's two
      // subtree scans. Plan: 2× [Scan+UDF assignment] → 1× + two
      // InMemoryTableScans.
      // freshness token in the memo key (ADVICE r17): an in-session rewrite
      // of the embeddings table changes (mtime, len) and misses the memo,
      // restoring the pre-r17 recompute-per-invocation behavior for stale
      // state instead of serving old cell assignments
      val embStat = try {
        val f = new java.io.File(s"$d/embeddings.parquet")
        s"${f.lastModified}:${f.length}"
      } catch { case _: Exception => "" }
      val assigned = d6AssignMemo.getOrBuild((System.identityHashCode(s), s"$d|$embStat")) {
        val nCells = cellCountForDedup(Tables.embeddings(s, d).count())
        val all = vecs(s, d).join(
          Tables.embeddings(s, d).select(col("vec_id"), col("label")), Seq("vec_id"))
        val cents = all.filter(col("vec_id") < nCells)
          .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
        val fresh = assignToCellsAuto(all, cents, nCells)
          .select("vec_id", "label", "v", "nrm", "cid")
          // DISK_ONLY: same wall as MEMORY_AND_DISK, no unified-pool
          // pressure from full-vector batches — see d6AssignMemo
          .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        fresh.count()
        fresh
      }
      val b = assigned.select(col("label"), col("cid"), col("vec_id").as("vec_b"),
        col("v").as("vb"), col("nrm").as("nrmb"))
      assigned.join(b, Seq("label", "cid"))
        .filter(col("vec_id") < col("vec_b"))
        .select(col("vec_id").as("vec_a"), col("vec_b"),
          roundSim(dot(col("v"), col("vb")) / (col("nrm") * col("nrmb"))).as("sim"))
        .filter(col("sim") >= 0.4)
    },
    // ----- E2: IVF-bucketed ANN (cluster-pruned search)
    "e2_ivf_ann" -> { (s, d) =>
      // assignment resolved through the shared session index ([[annIndex]])
      // — the ingest artifact e2/e3/e4 all search against
      val assigned = annIndex(s, d)._1.select("vec_id", "v", "nrm", "cid")
      // FIXED-size query batch (<=64, spread across the id space): like e1,
      // a %-of-N query set makes probe work grow with the collection
      val q = assigned.filter(col("vec_id") % 100 === 0 && col("vec_id") < 6400)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qnrm"), col("cid").as("qcid"))
      val cellSims = assigned
        .join(broadcast(q), col("cid") === col("qcid") && col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          roundSim(dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("sim"))
      // cell-pruned candidates still scale with N/cells — same partial
      // top-k aggregate as e1, not a |queries|-partition window
      topkPerQid(cellSims, "sim", TOPK).select("qid", "rank", "vec_id", "sim")
    },
    // ----- E3: PQ-compressed ANN (asymmetric-distance scan over codes).
    // The collection is touched exactly twice: once to ENCODE (map-only,
    // broadcast codebook — the step a real deployment runs at ingest and
    // persists), once for the ADC scan, which reads only the M-int code
    // column + the broadcast per-query LUTs. The scan's similarity is a
    // pure Catalyst fold (zip_with + element_at over the LUT) — no vector
    // arithmetic and no UDF on the N x Q hot path.
    "e3_pq_ann" -> { (s, d) =>
      val (assigned, codes, _) = annIndex(s, d) // shared ingest code table
      val all = assigned.select("vec_id", "v")
      val lutOf = pqLutUdf(all, pqCodebook(all))
      // FIXED-size query batch spread across the id space, like e1/e2
      val q = all.filter(col("vec_id") % 100 === 0 && col("vec_id") < 3200)
        .select(col("vec_id").as("qid"), lutOf(col("v")).as("lut"))
      val adcSims = codes.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          roundSim(adcSim(col("codes"), col("lut"))).as("asim"))
      // N x Q ADC rows never ride an exchange: partial top-k, as in e1
      topkPerQid(adcSims, "asim", TOPK).select("qid", "rank", "vec_id", "asim")
    },
    // ----- E4: the composed IVF-PQ stack as a declared, oracle-gated
    // query — cell pruning bounds WHICH codes a probe touches, ADC reads
    // only codes, exact re-rank rehydrates the 50-vector shortlist. Note
    // the plan shape vs e1/e3: the ADC stage is an EQUI-join on the cell
    // id (hash join), not a cross join.
    "e4_ivf_pq" -> { (s, d) =>
      val (assigned, codes, nCells) = annIndex(s, d)
      val all = assigned.select("vec_id", "v", "nrm")
      val q = all.filter(col("vec_id") % 100 === 0 && col("vec_id") < 6400)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
      ivfPqSearchIndexed(all, codes, q, nCells)
    }
  )

  private val vecsCte =
    """vv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
       n AS (SELECT * FROM (SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM vv)
             WHERE nrm > 0)"""
  private val dotSql =
    "list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*q.qv[i]))"

  val oracles: Map[String, String] = Map(
    "e1_knn_cosine" ->
      s"""WITH $vecsCte,
          q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 32),
          p AS (SELECT q.qid, a.vec_id,
                  round($dotSql/(a.nrm*q.qnrm), 6) AS sim
                FROM n a CROSS JOIN q WHERE a.vec_id <> q.qid),
          r AS (SELECT qid, vec_id, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
                FROM p)
          SELECT qid, rank, vec_id, sim FROM r WHERE rank <= $TOPK""",
    "d6_cosine_dedup" ->
      s"""WITH vv AS (SELECT vec_id, label,
            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          n AS (SELECT * FROM (SELECT vec_id, label, v,
            sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM vv)
            WHERE nrm > 0),
          c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $dedupCellsSql),
          asg0 AS (SELECT a.vec_id, a.label, a.v, a.nrm, c.cid,
                     round(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i]))
                       /(a.nrm*c.cnrm), 6) AS csim
                   FROM n a CROSS JOIN c),
          asg AS (SELECT vec_id, label, v, nrm, cid FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY csim DESC, cid) AS crank FROM asg0)
                  WHERE crank = 1),
          p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            round(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]))
              /(a.nrm*b.nrm), 6) AS sim
            FROM asg a JOIN asg b
              ON a.label = b.label AND a.cid = b.cid AND a.vec_id < b.vec_id)
          SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.4""",
    "e2_ivf_ann" ->
      s"""WITH $vecsCte,
          c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $annCellsSql),
          asg0 AS (SELECT a.vec_id, a.v, a.nrm, c.cid,
                     round(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i]))
                       /(a.nrm*c.cnrm), 6) AS csim
                   FROM n a CROSS JOIN c),
          asg AS (SELECT vec_id, v, nrm, cid FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY csim DESC, cid) AS crank FROM asg0)
                  WHERE crank = 1),
          q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid AS qcid
                FROM asg WHERE vec_id % 100 = 0 AND vec_id < 6400),
          p AS (SELECT q.qid, a.vec_id,
                  round($dotSql/(a.nrm*q.qnrm), 6) AS sim
                FROM asg a JOIN q ON a.cid = q.qcid AND a.vec_id <> q.qid),
          r AS (SELECT qid, vec_id, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
                FROM p)
          SELECT qid, rank, vec_id, sim FROM r WHERE rank <= $TOPK""",
    // full replay of encode + LUT + ADC: subspace distances/dots use the
    // same m*SUB+i indexing into the FULL vectors as the Spark UDFs, are
    // rounded to 6 dp before argmin/summing, and sum in ascending-m order
    // (list_sum is the same left fold as the Spark `aggregate`)
    "e3_pq_ann" ->
      s"""WITH $vecsCte,
          cb AS (SELECT vec_id AS k, v AS cv FROM n WHERE vec_id < $PQ_K),
          sub AS (SELECT m FROM range(0, $PQ_M) t(m)),
          enc0 AS (SELECT a.vec_id, s.m, c.k,
                     round(list_sum(list_transform(range(1, ${PQ_SUB + 1}),
                       i -> (a.v[s.m*$PQ_SUB+i] - c.cv[s.m*$PQ_SUB+i])
                          * (a.v[s.m*$PQ_SUB+i] - c.cv[s.m*$PQ_SUB+i]))), 6) AS dd
                   FROM n a CROSS JOIN sub s CROSS JOIN cb c),
          enc AS (SELECT vec_id, m, k FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                      ORDER BY dd, k) AS r FROM enc0) WHERE r = 1),
          codes AS (SELECT vec_id, list(k ORDER BY m) AS codes FROM enc GROUP BY vec_id),
          q AS (SELECT vec_id AS qid, v AS qv FROM n
                WHERE vec_id % 100 = 0 AND vec_id < 3200),
          lut0 AS (SELECT q.qid, s.m, c.k,
                     round(list_sum(list_transform(range(1, ${PQ_SUB + 1}),
                       i -> q.qv[s.m*$PQ_SUB+i] * c.cv[s.m*$PQ_SUB+i])), 6) AS dp
                   FROM q CROSS JOIN sub s CROSS JOIN cb c),
          lutm AS (SELECT qid, m, list(dp ORDER BY k) AS dl FROM lut0 GROUP BY qid, m),
          lut AS (SELECT qid, list(dl ORDER BY m) AS lut FROM lutm GROUP BY qid),
          adc AS (SELECT l.qid, c.vec_id,
                    round(list_sum(list_transform(range(1, ${PQ_M + 1}),
                      m -> l.lut[m][c.codes[m]+1])), 6) AS asim
                  FROM codes c CROSS JOIN lut l WHERE c.vec_id <> l.qid),
          r AS (SELECT qid, vec_id, asim,
                  row_number() OVER (PARTITION BY qid ORDER BY asim DESC, vec_id) AS rank
                FROM adc)
          SELECT qid, rank, vec_id, asim FROM r WHERE rank <= $TOPK""",
    // composed replay: e2's cell assignment + e3's encode/LUT, ADC
    // restricted to the query's cell, 50-deep shortlist, exact re-rank
    "e4_ivf_pq" ->
      s"""WITH $vecsCte,
          c AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < $annCellsSql),
          asg0 AS (SELECT a.vec_id, c.cid,
                     round(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*c.cv[i]))
                       /(a.nrm*c.cnrm), 6) AS csim
                   FROM n a CROSS JOIN c),
          asg AS (SELECT vec_id, cid FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                      ORDER BY csim DESC, cid) AS crank FROM asg0)
                  WHERE crank = 1),
          cb AS (SELECT vec_id AS k, v AS cv FROM n WHERE vec_id < $PQ_K),
          sub AS (SELECT m FROM range(0, $PQ_M) t(m)),
          enc0 AS (SELECT a.vec_id, s.m, c2.k,
                     round(list_sum(list_transform(range(1, ${PQ_SUB + 1}),
                       i -> (a.v[s.m*$PQ_SUB+i] - c2.cv[s.m*$PQ_SUB+i])
                          * (a.v[s.m*$PQ_SUB+i] - c2.cv[s.m*$PQ_SUB+i]))), 6) AS dd
                   FROM n a CROSS JOIN sub s CROSS JOIN cb c2),
          enc AS (SELECT vec_id, m, k FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                      ORDER BY dd, k) AS r FROM enc0) WHERE r = 1),
          codes AS (SELECT vec_id, list(k ORDER BY m) AS codes FROM enc GROUP BY vec_id),
          q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n
                WHERE vec_id % 100 = 0 AND vec_id < 6400),
          qc AS (SELECT q.qid, q.qv, q.qnrm, a.cid AS qcid
                 FROM q JOIN asg a ON a.vec_id = q.qid),
          lut0 AS (SELECT q.qid, s.m, c2.k,
                     round(list_sum(list_transform(range(1, ${PQ_SUB + 1}),
                       i -> q.qv[s.m*$PQ_SUB+i] * c2.cv[s.m*$PQ_SUB+i])), 6) AS dp
                   FROM q CROSS JOIN sub s CROSS JOIN cb c2),
          lutm AS (SELECT qid, m, list(dp ORDER BY k) AS dl FROM lut0 GROUP BY qid, m),
          lut AS (SELECT qid, list(dl ORDER BY m) AS lut FROM lutm GROUP BY qid),
          adc AS (SELECT qc.qid, co.vec_id,
                    round(list_sum(list_transform(range(1, ${PQ_M + 1}),
                      m -> l.lut[m][co.codes[m]+1])), 6) AS asim
                  FROM codes co
                  JOIN asg a ON co.vec_id = a.vec_id
                  JOIN qc ON a.cid = qc.qcid AND co.vec_id <> qc.qid
                  JOIN lut l ON l.qid = qc.qid),
          sl AS (SELECT qid, vec_id FROM (
                   SELECT *, row_number() OVER (PARTITION BY qid
                     ORDER BY asim DESC, vec_id) AS r FROM adc) WHERE r <= 50),
          ex AS (SELECT sl.qid, sl.vec_id,
                   round(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*qc.qv[i]))
                     /(a.nrm*qc.qnrm), 6) AS sim
                 FROM sl JOIN n a ON a.vec_id = sl.vec_id
                 JOIN qc ON qc.qid = sl.qid),
          r AS (SELECT qid, vec_id, sim,
                  row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
                FROM ex)
          SELECT qid, rank, vec_id, sim FROM r WHERE rank <= $TOPK"""
  )
}
