package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.functions.PlMath

/** Input record for gVCF-style block compression: one row per reference
  * position run, sorted by (chrom, pos). `isRefCall` mirrors the RefCall
  * FILTER flag on the reference's records. */
case class GvcfRecord(chrom: String, pos: Long, end: Long, gq: Int, dp: Int,
                      pl: Seq[Int], pass: Boolean, isRefCall: Boolean = false)

/** A compressed block: first pos, last end, min gq/dp, class-min PL. */
case class GvcfBlock(chrom: String, pos: Long, end: Long, minGq: Int,
                     minDp: Int, pl: Seq[Int], nRecords: Long)

/** W2 — gVCF GQ-band block compression
  * (reference: ugvc/joint/compress_gvcf.py:81-216; break conditions at
  * :153-158, merge state at :192-212).
  *
  * The break condition references the running min/max GQ of the *open
  * block* — `next.gq - min(gqs) >= threshold || max(gqs) - next.gq >=
  * threshold` — which `lag` cannot express (the state is an aggregate over
  * a dynamic extent). SURVEY.md §7.4 risk 1. So this is the one operator
  * implemented as an explicit automaton over sorted partitions:
  *
  *   repartition by chrom  →  sortWithinPartitions(chrom, pos)  →
  *   mapPartitions(linear scan, O(1) state per open block)
  *
  * Each chromosome lands in one partition, records stream through in
  * position order, and the automaton carries (minGq, maxGq, minDp,
  * class-min PL3). At genome scale this is a single range shuffle and
  * then a pure streaming pass — the same cost shape as the reference's
  * per-contig processes, minus the per-contig files.
  *
  * Faithfulness notes (compress_gvcf.py:153-158):
  *  - PASS records and RefCall records with `gq <= refcallGqThreshold`
  *    break on BOTH sides — they always emit as single-record blocks,
  *    verbatim (the reference's break fires when either the current or
  *    the previous record is a low-GQ RefCall; threshold is `<=`).
  *  - RefCall records ABOVE the threshold merge like any other record —
  *    there is no band-edge condition beyond the running min/max width.
  *  - Merged blocks carry the elementwise min of the PL3-compressed
  *    vectors (get_compressed_pl_into_3_values, :28-60); single-record
  *    blocks keep the record's original PL (written verbatim, :164-166).
  *  - The reference never flushes its final open block (the loop at
  *    :135-213 has no post-loop write) — we do flush it; dropping the
  *    tail record(s) of every contig would lose data.
  */
object BlockCompress {

  /** `refcallGqThreshold` defaults to the reference's 22
    * (compress_gvcf.py:68-77). */
  def compress(ds: Dataset[GvcfRecord], mergeGqThreshold: Int,
               refcallGqThreshold: Int = 22)
              (implicit spark: SparkSession): Dataset[GvcfBlock] = {
    import spark.implicits._
    ds.repartition(ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, $"chrom")
      .sortWithinPartitions($"chrom", $"pos")
      .mapPartitions(iter => new BlockIterator(iter, mergeGqThreshold, refcallGqThreshold))
  }

  /** Intra-chromosome parallel compression — EXACT, no stitching.
    *
    * [[compress]] gives one task per chromosome: at whole-genome scale
    * (~25 contigs, ~3e9 records) that caps parallelism at 25 regardless of
    * cluster size. But the automaton has natural split points: a PASS or
    * low-GQ RefCall record breaks on BOTH sides (compress_gvcf.py:153-158),
    * so a segment that STARTS at such a record produces exactly the blocks
    * the sequential run produces — no open-block state can cross it.
    *
    * Pass 1 picks ~`targetSegments` always-solo positions per chromosome by
    * DETERMINISTIC HASH SAMPLING of the solo records (one count aggregate +
    * one filtered collect — fully parallel, no window, no global sort;
    * NOTE: percentile_approx is unusable here, its sketch stores doubles
    * and epoch-scale longs come back off by up to ±128, missing the actual
    * record). Pass 2 buckets every record to its segment by broadcast
    * binary search and runs the SAME BlockIterator per (chrom, segment)
    * partition. When several segments of one chromosome
    * land in a partition, position order makes them adjacent and each
    * segment's leading solo record forces the break the sequential run
    * would have made there. Requires positions unique per chromosome (gVCF
    * records are). Degenerate inputs with no solo records simply yield one
    * segment per chromosome — same plan as [[compress]].
    *
    * Anchors are generated ONLY for chroms a hash partition cannot level
    * on its own (> half a balanced partition's share) — same hot-chrom
    * filter as `OverlapSuppress.suppressSegmented` (NOTES.md Round 14, w3 item):
    * with many tiny chroms (the events replica has 150k) the per-chrom
    * sample rate bottoms out at 1 and EVERY solo record would be
    * collected to the driver for zero balancing benefit. Tiny chroms ride
    * plain hash placement; at most ~2×partitions chroms can be hot, so
    * the anchor collect is bounded. */
  def compressSegmented(ds: Dataset[GvcfRecord], mergeGqThreshold: Int,
                        refcallGqThreshold: Int = 22, targetSegments: Int = 64)
                       (implicit spark: SparkSession): Dataset[GvcfBlock] = {
    if (targetSegments <= 1)
      return compress(ds, mergeGqThreshold, refcallGqThreshold)
    val parts0 = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val hot = ChromDispatch.hotChroms(ds.toDF(), parts0)
    if (hot.isEmpty) return compress(ds, mergeGqThreshold, refcallGqThreshold)
    compressSegmentedHot(ds, hot, mergeGqThreshold, refcallGqThreshold, targetSegments)
  }

  /** The segmented machinery proper, with the hot-chrom set already
    * resolved (one count pass, shared with [[compressAuto]]'s dispatch). */
  private def compressSegmentedHot(ds: Dataset[GvcfRecord],
                                   hotChroms: Array[String],
                                   mergeGqThreshold: Int,
                                   refcallGqThreshold: Int,
                                   targetSegments: Int)
                                  (implicit spark: SparkSession): Dataset[GvcfBlock] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val solos = ds
      .filter(r => r.pass || (r.isRefCall && r.gq <= refcallGqThreshold))
      .map(r => (r.chrom, r.pos))
      .toDF("chrom", "pos")
      .filter(col("chrom").isin(hotChroms.toSeq: _*))
    val counts: Map[String, Long] = solos.groupBy("chrom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) return compress(ds, mergeGqThreshold, refcallGqThreshold)
    val rates = counts.map { case (c, n) => c -> math.max(1L, n / targetSegments) }
    val bRates = ds.sparkSession.sparkContext.broadcast(rates)
    val keep = udf { (chrom: String, pos: Long) =>
      Math.floorMod((pos * 0x9E3779B97F4A7C15L) ^ chrom.hashCode.toLong,
        bRates.value(chrom)) == 0L
    }
    val anchors: Map[String, Array[Long]] =
      solos.filter(keep($"chrom", $"pos")).collect()
        .groupBy(_.getString(0))
        .map { case (c, rows) => c -> rows.map(_.getLong(1)).distinct.sorted }
    val bAnchors = spark.sparkContext.broadcast(anchors)
    val segOf = udf { (chrom: String, pos: Long) =>
      val a = bAnchors.value.getOrElse(chrom, Array.empty[Long])
      // segment = number of anchors <= pos (anchor record starts its segment)
      val i = java.util.Arrays.binarySearch(a, pos)
      if (i >= 0) i + 1 else -(i + 1)
    }
    ds.withColumn("_seg", segOf($"chrom", $"pos"))
      .repartition(ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        $"chrom", $"_seg")
      .sortWithinPartitions($"chrom", $"pos")
      .drop("_seg")
      .as[GvcfRecord]
      .mapPartitions(iter => new BlockIterator(iter, mergeGqThreshold, refcallGqThreshold))
  }

  /** Regime dispatch from ONE partial-aggregated per-chrom count — the
    * mirror of `OverlapSuppress.suppressAuto` (NOTES.md Round 14, w2/w3 items): when no
    * chrom exceeds half a balanced partition's share, plain hash
    * partitioning already levels the automaton and the segmented path's
    * anchor machinery is pure overhead (at the 100x events replica — 150k
    * user-id chroms — the sample rate bottoms out at 1 and millions of
    * solo anchors ride a driver collect for nothing). The genomics regime
    * (~25 contigs, millions of records each) keeps the segmented path. */
  def compressAuto(ds: Dataset[GvcfRecord], mergeGqThreshold: Int,
                   refcallGqThreshold: Int = 22, targetSegments: Int = 64)
                  (implicit spark: SparkSession): Dataset[GvcfBlock] = {
    val parts = ds.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // ONE count pass decides the regime AND yields the hot set the
    // segmented path anchors — no re-scan on dispatch (r13 review)
    val hot = ChromDispatch.hotChroms(ds.toDF(), parts)
    if (hot.isEmpty || targetSegments <= 1)
      compress(ds, mergeGqThreshold, refcallGqThreshold)
    else compressSegmentedHot(ds, hot, mergeGqThreshold, refcallGqThreshold,
      targetSegments)
  }

  /** Open-block automaton state as a plain value — the exact fields
    * [[BlockIterator]] carries, shaped for checkpointable streaming state
    * (`Streams.streamingBlockCompress` holds one per chromosome). `minGq`
    * doubles as the emitted block's min (they are the same running min);
    * `maxGq` exists only for the merge-band check. */
  case class OpenState(chrom: String, pos: Long, end: Long, minDp: Int,
                       nRecords: Long, minGq: Int, maxGq: Int,
                       firstPl: Seq[Int], pl3: Seq[Int])

  private def closeState(o: OpenState): GvcfBlock =
    GvcfBlock(o.chrom, o.pos, o.end, o.minGq, o.minDp,
      if (o.nRecords == 1L) o.firstPl else o.pl3, o.nRecords)

  /** One automaton transition as a PURE function: feed `r` into the open
    * state, get (blocks closed by this record, next open state). Exactly
    * the [[BlockIterator]] rules (compress_gvcf.py:153-158,192-212);
    * BlockCompressSpec proves fold(step) + [[closeOpen]] ==
    * [[compress]] record-for-record. */
  def step(open: Option[OpenState], r: GvcfRecord, mergeGqThreshold: Int,
           refcallGqThreshold: Int = 22): (Seq[GvcfBlock], Option[OpenState]) = {
    val solo = r.pass || (r.isRefCall && r.gq <= refcallGqThreshold)
    if (solo)
      (open.map(closeState).toSeq :+
        GvcfBlock(r.chrom, r.pos, r.end, r.gq, r.dp, r.pl, 1L), None)
    else open match {
      case Some(o) if r.chrom == o.chrom &&
          r.gq - o.minGq < mergeGqThreshold && o.maxGq - r.gq < mergeGqThreshold =>
        val c = PlMath.compressPl3(r.pl)
        (Seq.empty, Some(o.copy(
          end = math.max(o.end, r.end),
          minDp = math.min(o.minDp, r.dp),
          nRecords = o.nRecords + 1,
          minGq = math.min(o.minGq, r.gq),
          maxGq = math.max(o.maxGq, r.gq),
          pl3 = o.pl3.zip(c).map { case (x, y) => math.min(x, y) })))
      case _ =>
        (open.map(closeState).toSeq,
          Some(OpenState(r.chrom, r.pos, r.end, r.dp, 1L, r.gq, r.gq,
            r.pl, PlMath.compressPl3(r.pl))))
    }
  }

  /** Flush the final open block (the batch paths do this at partition end;
    * a stream leaves it pending until closed by a later record). */
  def closeOpen(open: Option[OpenState]): Seq[GvcfBlock] =
    open.map(closeState).toSeq

  /** Streaming automaton. */
  private final class BlockIterator(in: Iterator[GvcfRecord], thr: Int,
                                    refcallThr: Int)
      extends Iterator[GvcfBlock] {
    private var open: GvcfBlock = null
    private var minGq = 0
    private var maxGq = 0
    private var firstPl: Seq[Int] = null // verbatim PL for 1-record blocks
    private var pl3: Seq[Int] = null     // class-min PL3 merge state
    private val pending = scala.collection.mutable.Queue.empty[GvcfBlock]

    /** PASS / low-GQ-RefCall records break before AND after themselves
      * (compress_gvcf.py:153-158), so they always stand alone. */
    private def alwaysSolo(r: GvcfRecord): Boolean =
      r.pass || (r.isRefCall && r.gq <= refcallThr)

    private def startBlock(r: GvcfRecord): Unit = {
      open = GvcfBlock(r.chrom, r.pos, r.end, r.gq, r.dp, null, 1L)
      minGq = r.gq; maxGq = r.gq
      firstPl = r.pl
      pl3 = PlMath.compressPl3(r.pl)
    }

    private def mergeable(r: GvcfRecord): Boolean =
      open != null && r.chrom == open.chrom &&
        r.gq - minGq < thr && maxGq - r.gq < thr

    private def absorb(r: GvcfRecord): Unit = {
      minGq = math.min(minGq, r.gq); maxGq = math.max(maxGq, r.gq)
      val c = PlMath.compressPl3(r.pl)
      pl3 = pl3.zip(c).map { case (x, y) => math.min(x, y) }
      open = GvcfBlock(open.chrom, open.pos, math.max(open.end, r.end),
        math.min(open.minGq, r.gq), math.min(open.minDp, r.dp), null,
        open.nRecords + 1)
    }

    private def flushOpen(): Unit = {
      if (open != null) {
        val pl = if (open.nRecords == 1L) firstPl else pl3
        pending.enqueue(open.copy(pl = pl))
        open = null
      }
    }

    private def advance(): Unit = {
      while (pending.isEmpty && in.hasNext) {
        val r = in.next()
        if (alwaysSolo(r)) {
          flushOpen()
          pending.enqueue(GvcfBlock(r.chrom, r.pos, r.end, r.gq, r.dp, r.pl, 1L))
        } else if (mergeable(r)) absorb(r)
        else {
          flushOpen()
          startBlock(r)
        }
      }
      if (pending.isEmpty) flushOpen()
    }

    override def hasNext: Boolean = { advance(); pending.nonEmpty }
    override def next(): GvcfBlock = { advance(); pending.dequeue() }
  }
}
