package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Text

/** Training-data curation suite over the `documents` table: token stats,
  * quality scoring, language scoring, exact + fuzzy deduplication
  * (fingerprint, MinHash+LSH, SimHash, n-gram Jaccard).
  *
  * Scale design: every per-document computation (hashing, shingling,
  * signatures) is scalar inside whole-stage codegen — zero shuffles until
  * the final small aggregate. The only shuffles are (a) groupBy on a hash
  * key for dedup (combiner-friendly, near-unique keys) and (b) the LSH
  * band self-join, which is an equi-join on band keys — exactly the
  * shape that lets 100 TB of documents dedup without any pairwise scan.
  */
object TextDedup {
  type Q = (SparkSession, String) => DataFrame

  private[queries] val K = 8 // minhash permutations
  private val BANDS = 4      // LSH bands (2 rows each)

  /** Derivation-recipe tag for at-rest signature tables: K, the banding,
    * and the hash family. AtRest bakes it into the table name so a future
    * change to any of these can never silently reuse an old-recipe store
    * (the same argument as the labels table's batch-predicate suffix). */
  private[queries] val sigRecipe: String = s"k${K}b${BANDS}md5"

  private def withMinhash(docs: DataFrame): DataFrame = {
    // token hashes land in their own column BEFORE the signature call:
    // inlining them into a HOF lambda re-evaluates the whole token-hash
    // array per element_at (O(tokens^2) md5 calls). The signature itself
    // is ONE native pass (MinHashSig: shingle combine + K running minima
    // in codegen) — the composed form paid 2K+1 interpreted HOF sweeps
    // per doc (shingle transform + K x array_min(transform)), the exact
    // megamorphic-interpreter exposure of NOTES sharp edge #17.
    val base = docs
      .withColumn("_th", Text.tokenHashesFromText(col("text")))
      .withColumn("_sig", Text.minhashSig(col("_th"), K))
    (1 to K).foldLeft(base) { (df, i) =>
      df.withColumn(s"mh$i", element_at(col("_sig"), i))
    }
  }

  /** MinHash signature frame (doc_id + K signature columns). */
  def signatureFrame(docs: DataFrame): DataFrame =
    withMinhash(docs).select("doc_id", (1 to K).map(i => s"mh$i"): _*)

  /** [[signatureFrame]] over a prebuilt (doc_id, th) token-hash frame —
    * the memoized path: [[cachedMinhash]] consumes the session token-hash
    * memo (Curation.cachedTokenHashes), so a session building both the
    * shingle-set and signature artifacts pays the md5-per-token corpus
    * pass ONCE, not once per artifact (round-13: the d3 cold build's two
    * biggest stages were two identical md5 scans). Bit-identical to
    * [[signatureFrame]]: same _th values, same native MinHashSig. */
  def signatureFrameFromTh(th: DataFrame): DataFrame = {
    val base = th.withColumn("_sig", Text.minhashSig(col("th"), K))
    (1 to K).foldLeft(base) { (df, i) =>
      df.withColumn(s"mh$i", element_at(col("_sig"), i))
    }.select("doc_id", (1 to K).map(i => s"mh$i"): _*)
  }

  /** Signature frame, persisted: it is tiny (doc_id + K longs) and
    * every LSH consumer scans it from both sides of a self-join — caching
    * turns 2-4 full shingle+md5 passes into one. (At 100 TB the same role
    * is played by [[signaturesToParquet]].) Explicitly memoized per
    * (session, dir) — same pattern as Similarity.annIndex — instead of
    * re-persisting an equivalent plan per query and leaning on the
    * CacheManager's canonical-plan dedupe. */
  // True LRU via the shared LruFrameMemo (one eldest entry evicted past
  // the cap, not a clear-all — ADVICE r10; recency/evict/re-persist
  // validated atomically against a racing eviction — ADVICE r11). The
  // re-persist arm covers an external clearCache() dropping the memoized
  // frame (otherwise every LSH consumer recomputes the corpus hash pass).
  private val dedupFrameMemo = new LruFrameMemo[(Int, String, String), DataFrame](
    max = 8,
    ensurePersisted = df =>
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
        df.persist(); df.count()
      },
    unpersist = _.unpersist(false))

  private def cachedMinhash(s: SparkSession, d: String): DataFrame = {
    // resolve the token-hash memo BEFORE entering getOrBuild (the build
    // closure stays CHM-free — the convention from cachedPairScores)
    val th = Curation.cachedTokenHashes(s, d)
    dedupFrameMemo.getOrBuild((System.identityHashCode(s), d, "mh")) {
      val fresh = signatureFrameFromTh(th).persist()
      // materialize NOW: LSH consumers scan this frame 3-5 times inside one
      // job, and parallel stages of a single action each recompute the
      // unmaterialized plan instead of sharing in-flight cache population.
      // Paying the one corpus hash pass eagerly makes every subsequent scan
      // (same query AND later queries) a cache read — measured 82 -> 52 s
      // on d4 standalone at the 100x replica.
      fresh.count()
      fresh
    }
  }

  // NOTE (round 10, tried and NOT adopted): persisting the LSH candidate
  // pairs per session (the annIndex pattern — d3 reports, d4 verifies,
  // d7 resolves over one materialized frame) could not be shown faster at
  // the 100x replica: standalone A/B runs of the d-family swung +-35%
  // with the box's ambient drift in BOTH directions, and 22.5 M cached
  // pair rows compete for the 8 GB driver JVM's unified pool exactly when
  // d7's edge repartition + checkpoints need it. Kept the round-9 shape
  // the committed bench artifacts measure; at a real cluster the sharing
  // mechanism is the at-rest form ([[signaturesToParquet]] +
  // [[lshPairsFromParquet]]), not executor cache. The signature memo
  // below stays: it is small and strictly removes 2-4 corpus hash passes.

  /** Hot-band degeneracy ceiling: a band key shared by k documents yields
    * k²/2 candidate pairs; one pathological key (boilerplate, empty docs)
    * can dominate the whole job. Keys above the cap fall back to a STAR
    * over the key's min doc_id — O(k) pairs, and connectivity (what d7's
    * connected components needs) is fully preserved. */
  val HOT_BAND_CAP = 128

  /** The ONE definition of the banding scheme: an array of (bid, k1, k2)
    * structs over a signature frame's mh columns — every band consumer
    * (bandRows, the d3/d4 automata) explodes THIS, so band width and key
    * format can never silently diverge between the shared pass and the
    * spec-reference forms. The band key is the two source mh LONGS
    * verbatim (VERDICT r14 #3) rather than their concat_ws string: the
    * string was ~25-45 variable-width bytes riding the biggest exchange
    * in the d-family where the longs are 16 fixed — and grouping on
    * source values (not a derived hash) keeps the key collision-free by
    * construction, so the pair set is bit-identical to the string form
    * (decimal-concat of two longs with "_" was injective too). */
  private def bandStructs: Column =
    array((1 to BANDS).map { b =>
      struct(lit(b).as("bid"),
        col(s"mh${2 * b - 1}").as("k1"), col(s"mh${2 * b}").as("k2"))
    }: _*)

  /** Every band consumer's input guard: ALL signature columns non-null
    * (advisor r15). minhashSig is all-or-nothing today, so this equals the
    * old `mh1.isNotNull` row-for-row — but the band automatons groupBy
    * (null-safe) while lshPairs/pairScoresGrouped also JOIN back on the
    * band keys (null-rejecting), and a future partial-null signature would
    * make those two disagree silently. One shared guard closes the class
    * at every site at once. */
  private def sigComplete: Column =
    (1 to K).map(i => col(s"mh$i").isNotNull).reduce(_ && _)

  /** doc_id + exploded (band_id, k1, k2) rows. */
  private def bandRows(mh: DataFrame): DataFrame = {
    // zero-shingle docs (< 3 tokens) minhash to all-null signatures —
    // without the filter every such doc would share the all-null band key
    // and they would all pair with each other (then d4 divides by an
    // empty union). Too-short docs are exact-dedup territory (d1), not
    // MinHash candidates. (Null-key grouping would also differ between
    // Spark's null-safe groupBy and a join's null-rejecting equality.)
    // sigComplete, not mh1-only (advisor r15): the packed band key groups
    // null-safely but joins back null-rejectingly, so a partially-null
    // signature — impossible under today's all-or-nothing minhashSig, but
    // one refactor away — would silently drop its banded doc from the
    // join-back instead of degrading like the old concat_ws string key did.
    mh.filter(sigComplete)
      .select(col("doc_id"), explode(bandStructs).as("band"))
      .select(col("doc_id"), col("band.bid").as("bid"),
        col("band.k1").as("k1"), col("band.k2").as("k2"))
  }

  /** Distinct candidate near-dup pairs (a < b) sharing >= 1 LSH band.
    * Band keys with more than `cap` members produce star pairs
    * (min_doc, other) instead of all-pairs — bounded per-key work, same
    * connected components. Use [[hotBands]] to see what got degraded:
    * the cap is never silent. */
  private[queries] def lshPairs(mh: DataFrame, cap: Int = HOT_BAND_CAP): DataFrame = {
    val bands = bandRows(mh)
    // per-key count + min doc; the join back is on the same keys the
    // aggregate shuffled on, so no extra exchange materializes
    val stats = bands.groupBy("bid", "k1", "k2")
      .agg(count(lit(1)).as("bc"), min("doc_id").as("mindoc"))
    val tagged = bands.join(stats, Seq("bid", "k1", "k2"))
    val cold = tagged.filter(col("bc") <= cap)
    val coldPairs = cold.as("a").join(cold.as("b"),
        col("a.bid") === col("b.bid") && col("a.k1") === col("b.k1") &&
          col("a.k2") === col("b.k2") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val hotPairs = tagged.filter(col("bc") > cap && col("doc_id") =!= col("mindoc"))
      .select(col("mindoc").as("doc_a"), col("doc_id").as("doc_b"))
    coldPairs.unionByName(hotPairs).distinct()
  }

  /** Connectivity-only edge set for duplicate-CLUSTER resolution: one star
    * edge (band-min, member) per (band, member) in every band with >= 2
    * docs. Component-equivalent to [[lshPairs]] — inside a band, both
    * graphs connect every member to the band min (a cold band's clique
    * contains its star; a hot band's capped pairs ARE its star), and any
    * lshPairs pair (a, b) shares a band whose min links them — but the
    * edge count is O(members) per band instead of O(members²), so at real
    * dup density the CC input shrinks by the mean band multiplicity (the
    * 100x replica: 22.6 M clique pairs -> <= BANDS x docs star edges).
    * Node sets are identical too (members of >= 2-doc bands), so the
    * component PARTITION — and hence d7's (id, min-reachable) output — is
    * unchanged. The candidate-pair LIST for verification (d3/d4) still
    * needs [[lshPairs]]; this is only for consumers that need
    * connectivity, not the pairs themselves. Public: custom CC consumers
    * want the edge set without the pair list. */
  def bandStarEdges(mh: DataFrame): DataFrame = {
    val bands = bandRows(mh)
    // join-back lands on the keys the aggregate shuffled on — no second
    // exchange (same layout trick as lshPairs). Deliberately NOT
    // merge-hinted, unlike pairScoresGrouped's join-backs
    // (r17): the build side here is the bc>=2-filtered AGGREGATE sitting
    // above its own materialized shuffle stage, so AQE sizes the
    // broadcast decision from RUNTIME stats, not the parquet static
    // stats that mis-planned d3 (there the broadcast side was a scan-side
    // stream with no shuffle below it — nothing measured). Small multi
    // set (the real-corpus low-dup case) → broadcast that skips
    // re-shuffling the giant exploded band stream; huge multi set → AQE's
    // re-optimization keeps the merge join. A merge-pinned join was A/B'd
    // against this adaptive form at the 100x replica and did not win
    // (NOTES.md Round 17, bandStarEdges item).
    val stats = bands.groupBy("bid", "k1", "k2")
      .agg(count(lit(1)).as("bc"), min("doc_id").as("mindoc"))
    bands.join(stats, Seq("bid", "k1", "k2"))
      .filter(col("bc") >= 2 && col("doc_id") =!= col("mindoc"))
      .select(col("mindoc").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** Superset of the doc ids that can appear in any LSH candidate pair: the
    * members of bands with >= 2 documents. Cold pairs share a band by
    * definition; hot-band stars keep both the band's mindoc and every other
    * member, all of which sit in that band — so restricting per-doc work to
    * this set never drops a pair participant. Used by the Jaccard verifier
    * to build distinct shingle sets ONLY for docs it can be asked about: at
    * real-corpus dup density the candidate set is a small fraction of the
    * corpus (AQE turns the semi-join into a broadcast once the aggregate
    * turns out tiny); at the synthetic 100x replica (every doc has 99
    * verbatim copies) it is the whole corpus and the restriction is
    * measured-neutral — the win is the low-dup-density production case. */
  private[queries] def candidateDocIds(mh: DataFrame): DataFrame = {
    val bands = bandRows(mh)
    val multi = bands.groupBy("bid", "k1", "k2").agg(count(lit(1)).as("bc"))
      .filter(col("bc") >= 2)
    bands.join(multi, Seq("bid", "k1", "k2")).select("doc_id").distinct()
  }

  /** One banded row for the per-band pair automaton (`sh` is whichever
    * payload the score consumes: sorted shingle set for d4, the K-long
    * signature vector for d3). */
  private[queries] case class BandedDoc(bid: Int, k1: Long, k2: Long,
    docId: Long, sh: Array[Long])

  /** Banded row carrying BOTH payloads for the shared d3+d4 pass: the
    * K-long signature vector (est-sim) and the sorted shingle set
    * (Jaccard). */
  private[queries] case class BandedDoc2(bid: Int, k1: Long, k2: Long,
    docId: Long, sig: Array[Long], sh: Array[Long])

  /** Banded row with a per-doc batch-membership flag for the INCREMENTAL
    * pass ([[incrementalEstSimPairs]]): `isNew` rides the automaton
    * payload so the emitted pair knows whether either side belongs to the
    * new batch without re-evaluating an arbitrary predicate on pair rows
    * (the predicate may reference any doc column, not just doc_id). */
  private[queries] case class BandedDocN(bid: Int, k1: Long, k2: Long,
    docId: Long, sh: Array[Long], isNew: Boolean)

  /** Jaccard over sorted-distinct long arrays — alloc-free two-pointer
    * merge, the exact-integer-double arithmetic of [[Text.jaccardSorted]]. */
  private[queries] val jaccardScore: (Array[Long], Array[Long]) => Double =
    (a, b) => {
      var i = 0; var j = 0; var c = 0
      while (i < a.length && j < b.length) {
        val x = a(i); val y = b(j)
        if (x == y) { c += 1; i += 1; j += 1 }
        else if (x < y) i += 1
        else j += 1
      }
      val inter = c.toDouble
      inter / (a.length + b.length - inter)
    }

  /** Matching-component fraction of two equal-length signature vectors —
    * d3's estimated similarity (Σ[a_i == b_i] / K, exact-integer
    * doubles). */
  private[queries] val estSimScore: (Array[Long], Array[Long]) => Double =
    (a, b) => {
      var i = 0; var c = 0
      while (i < a.length) { if (a(i) == b(i)) c += 1; i += 1 }
      c.toDouble / a.length
    }

  /** Streaming per-band pair generator with the pair score computed IN
    * the band group — the d3/d4 scale path. ONE instance per band group:
    * the input iterator is a single group's (docId, payload) rows in
    * docId order, exactly what `flatMapSortedGroups` hands its function.
    *
    * GROUP-INTEGRITY CONTRACT (round 14 — a real 100x miscount): every
    * consumer feeds this through `groupByKey(...).flatMapSortedGroups`,
    * NEVER through a manual `repartition + sortWithinPartitions +
    * mapPartitions`. The manual form carries no physical-plan
    * requirement: Catalyst reused the user repartition as the adjacent
    * semi-join's own exchange, and AQE's runtime join rewrites then
    * voided the (bid, key) co-location entirely — fragmented bands
    * re-ran the cap/all-pairs decision per FRAGMENT, and the incremental
    * pair pass emitted 2,959,098 pairs where the band-complete answer is
    * 4,474,250 (DuckDB replay over the same signatures; only
    * reproducible at the 100x replica — small-scale plans broadcast
    * statically and keep the exchange, which is why every sf0.01/sf0.1
    * oracle stayed green). MapGroups DECLARES ClusteredDistribution +
    * ordering, so the engine must preserve them through every rewrite —
    * and because each instance IS one declared group, this class carries
    * no group-boundary detection of its own (the r15 key packing removed
    * the per-row string compare it used to cost).
    *
    * Cold bands (<= cap members) emit all pairs (a < b); a band crossing
    * the cap degrades to a star over its min doc (= the first in sorted
    * order) exactly like [[lshPairs]] — the buffer never holds more than
    * cap+1 payload arrays, so one pathological band key cannot blow the
    * task heap. `score` is evaluated per emitted pair: Jaccard over
    * sorted-distinct shingle sets for d4 (the same exact-integer-double
    * arithmetic as [[Text.jaccardSorted]]), matching-component fraction
    * over signature vectors for d3. */
  private final class BandPairIterator[P, R](
      iter: Iterator[(Long, P)], cap: Int,
      score: (P, P) => R)
      extends Iterator[(Long, Long, R)] {
    private val pending = scala.collection.mutable.Queue.empty[(Long, Long, R)]
    private val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, P)]
    private var hot = false
    private var center: (Long, P) = null

    private def flushGroup(): Unit = {
      // cold group at end-of-group: all pairs (hot groups emitted on the fly)
      if (!hot && buf.length >= 2) {
        var i = 0
        while (i < buf.length) {
          var j = i + 1
          while (j < buf.length) {
            pending.enqueue((buf(i)._1, buf(j)._1, score(buf(i)._2, buf(j)._2)))
            j += 1
          }
          i += 1
        }
      }
      buf.clear(); hot = false
    }

    private def accept(d: (Long, P)): Unit = {
      if (hot) {
        pending.enqueue((center._1, d._1, score(center._2, d._2)))
      } else {
        buf.append(d)
        if (buf.length > cap) {
          // band just went hot: degrade the whole buffer to a star over
          // the min doc (first in sorted order), then stream
          hot = true
          center = buf.head
          var i = 1
          while (i < buf.length) {
            pending.enqueue((center._1, buf(i)._1, score(center._2, buf(i)._2)))
            i += 1
          }
          buf.clear()
        }
      }
    }

    override def hasNext: Boolean = {
      while (pending.isEmpty && iter.hasNext) accept(iter.next())
      if (pending.isEmpty) flushGroup()
      pending.nonEmpty
    }
    override def next(): (Long, Long, R) = pending.dequeue()
  }

  /** d4's verified near-dup pairs with the Jaccard computed PER BAND GROUP
    * instead of per joined pair row.
    *
    * The double-join form (pairs ⋈ docs ⋈ docs) ships one shingle ARRAY
    * per candidate pair through the second join's shuffle — at the 100×
    * replica that is 22.5 M rows × ~28 longs ≈ 5 GB riding one exchange,
    * the single largest cost in the whole bench (r10 verdict). Here each
    * doc's set ships at most once per BAND it belongs to (≤ BANDS copies,
    * and only for docs in ≥2-member bands): band rows join the shingle
    * sets by doc_id, shuffle once by (bid, key), and a sorted streaming
    * automaton emits (doc_a, doc_b, jaccard) directly — the pair-count ×
    * set-size term disappears from every shuffle. Dedup across bands
    * happens on the tiny (a, b, jac) rows. Same pair set as [[lshPairs]]
    * (cold all-pairs + hot-band stars, spec-pinned), same Jaccard
    * arithmetic as [[Text.jaccardSorted]].
    *
    * `docsSh` is the (doc_id, sorted-distinct shingle set) frame — the
    * declared query passes [[Curation.cachedShingleSets]], so d4 and
    * d8/x6/x8 share ONE corpus tokenize+hash+shingle pass per session
    * (the previous candidate-restricted private build had a different
    * canonical plan the CacheManager could never share; the banded inner
    * join below restricts to pair-capable docs anyway). */
  private[queries] def jaccardPairsGrouped(s: SparkSession, docsSh: DataFrame,
      mh: DataFrame, cap: Int = HOT_BAND_CAP): DataFrame = {
    import s.implicits._
    val bands = bandRows(mh)
    val multi = bands.groupBy("bid", "k1", "k2").agg(count(lit(1)).as("bc"))
      .filter(col("bc") >= 2)
    // join-back lands on the aggregate's own key layout — no extra exchange
    val banded = bands.join(multi, Seq("bid", "k1", "k2"))
      .select(col("doc_id"), col("bid"), col("k1"), col("k2"))
    // the inner join restricts to banded docs — no separate candidate
    // semi-join needed; passing the SHARED corpus shingle frame
    // (Curation.cachedShingleSets) means d4/d8/x6/x8 pay the
    // tokenize+hash+shingle pass once per session instead of d4 building
    // its own candidate-restricted copy (whose different canonical plan
    // the CacheManager could never share).
    // flatMapSortedGroups, NOT repartition+mapPartitions — see the
    // BandPairIterator group-integrity contract.
    banded.join(docsSh.filter(col("sh").isNotNull), Seq("doc_id"))
      .select(col("bid"), col("k1"), col("k2"), col("doc_id").as("docId"),
        col("sh"))
      .as[BandedDoc]
      .groupBy(col("bid"), col("k1"), col("k2")).as[(Int, Long, Long), BandedDoc]
      .flatMapSortedGroups(col("docId")) { case (_, it) =>
        new BandPairIterator(it.map(d => (d.docId, d.sh)), cap,
          TextDedup.jaccardScore)
      }
      .toDF("doc_a", "doc_b", "jaccard")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** d3's candidate pairs + estimated similarity via the SAME band
    * automaton as [[jaccardPairsGrouped]] — band rows AND the signature
    * vector come out of one scan of the (persisted) signature frame, so
    * the two 22.5 M-pair-row joins of the double-join form disappear
    * entirely: one band shuffle of ~BANDS×N tiny rows, pairs scored
    * in-group, dedup on the output rows. No multi-band prefilter: the
    * payload is K longs, cheaper to ship than to semi-join away.
    * TextDedupSpec pins it pair-for-pair equal to the join form. */
  private[queries] def estSimPairsGrouped(s: SparkSession, mh: DataFrame,
      cap: Int = HOT_BAND_CAP): DataFrame = {
    import s.implicits._
    val sig = array((1 to K).map(i => col(s"mh$i")): _*)
    val rows = mh.filter(sigComplete)
      .select(col("doc_id"), sig.as("sig"), explode(bandStructs).as("band"))
      .select(col("band.bid").as("bid"), col("band.k1").as("k1"),
        col("band.k2").as("k2"), col("doc_id").as("docId"),
        col("sig").as("sh"))
    // flatMapSortedGroups — see the BandPairIterator group-integrity
    // contract. groupBy(cols).as[K,T], not groupByKey(closure): the
    // column form derives the key from the existing columns (no
    // AppendColumns row deserialization just to compute it).
    rows.as[BandedDoc]
      .groupBy(col("bid"), col("k1"), col("k2")).as[(Int, Long, Long), BandedDoc]
      .flatMapSortedGroups(col("docId")) { case (_, it) =>
        new BandPairIterator(it.map(d => (d.docId, d.sh)), cap,
          TextDedup.estSimScore)
      }
      .toDF("doc_a", "doc_b", "est_sim")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** ONE band pass scoring BOTH d3's estimated similarity and d4's
    * Jaccard — the shared form of [[estSimPairsGrouped]] and
    * [[jaccardPairsGrouped]]. Those two build the IDENTICAL
    * (bid, key)-shuffled band-row stream and run the same automaton over
    * it, differing only in the payload the score consumes; running them
    * separately pays the band shuffle (the largest single cost left in
    * the d-family at the 100x replica) twice per session. Here each
    * banded row carries the signature vector AND the sorted shingle set,
    * the automaton emits (doc_a, doc_b, est_sim, jaccard) in one sweep,
    * and [[cachedPairScores]] memoizes the tiny result frame (4 scalars
    * per pair — no payload arrays) so whichever of d3/d4 runs second is a
    * projection of a persisted frame. Keeps d4's >= 2-member band
    * prefilter (the shingle payload is heavy; singleton bands emit
    * nothing anyway). Pair set and per-pair arithmetic are pinned
    * pair-for-pair equal to both single-score forms by TextDedupSpec. */
  private[queries] def pairScoresGrouped(s: SparkSession, docsSh: DataFrame,
      mh: DataFrame, cap: Int = HOT_BAND_CAP): DataFrame = {
    import s.implicits._
    val sigArr = array((1 to K).map(i => col(s"mh$i")): _*)
    val bands = mh.filter(sigComplete)
      .select(col("doc_id"), sigArr.as("sig"), explode(bandStructs).as("band"))
      .select(col("doc_id"), col("band.bid").as("bid"),
        col("band.k1").as("k1"), col("band.k2").as("k2"), col("sig"))
    val multi = bands.groupBy("bid", "k1", "k2").agg(count(lit(1)).as("bc"))
      .filter(col("bc") >= 2)
    // join-back lands on the aggregate's own key layout — no extra
    // exchange. MERGE-hinted (r16; NOTES.md Round 16): both sides are
    // band-key-cardinality ~ corpus-sized, but a parquet signature input's
    // STATIC stats under-estimate the exploded band stream (post-Generate
    // size ≈ the 32-MB file), so Catalyst planned BuildLeft broadcasts of
    // the full banded stream — a driver-built 0.5-1 GB hashed relation at
    // the 100x replica (store arm 26-50 s vs the memo arm's accurate-stats
    // SMJ plan at 19.6-30 s, pre-hint). The hint pins the layout-reusing
    // shuffle plan the operator was designed around, whatever the input's
    // stats source. POST-hint r17 measurement (NOTES.md Round 17; 100x
    // replica, 3 interleaved reps, slow window spin ~2.0 s): store
    // 27.35/20.74/21.54 s vs memo 21.54/20.03/19.74 s — the broadcast
    // pathology is gone; the residual ~5% is the parquet scan the memo arm
    // skips because its signature build shares the token-hash memo the
    // shingle side already paid for. Checksums identical every rep
    // (22,574,543 pairs). PlanSpec positively pins
    // both SMJ join-backs so the hint cannot silently revert.
    val banded = bands.join(multi.hint("merge"), Seq("bid", "k1", "k2"))
      .select(col("doc_id"), col("bid"), col("k1"), col("k2"), col("sig"))
    // flatMapSortedGroups — see the BandPairIterator group-integrity
    // contract. Same merge pin: the shingle-set side is corpus-sized too.
    banded.join(docsSh.filter(col("sh").isNotNull).hint("merge"), Seq("doc_id"))
      .select(col("bid"), col("k1"), col("k2"), col("doc_id").as("docId"),
        col("sig"), col("sh"))
      .as[BandedDoc2]
      .groupBy(col("bid"), col("k1"), col("k2")).as[(Int, Long, Long), BandedDoc2]
      .flatMapSortedGroups(col("docId")) { case (_, it) =>
        new BandPairIterator[(Array[Long], Array[Long]), (Double, Double)](
          it.map(d => (d.docId, (d.sig, d.sh))), cap,
          (x, y) => (TextDedup.estSimScore(x._1, y._1),
            TextDedup.jaccardScore(x._2, y._2)))
          .map { case (a, b, (e, j)) => (a, b, e, j) }
      }
      .toDF("doc_a", "doc_b", "est_sim", "jaccard")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Session memo of [[pairScoresGrouped]] over the shared corpus
    * artifacts — d3 and d4 both resolve through this, so the band shuffle
    * + automaton run once per (session, dir) and the second consumer
    * projects a persisted (doc_a, doc_b, est_sim, jaccard) frame.
    * Deterministic contents (both scores are pure functions of the two
    * docs, identical across the bands a pair co-occurs in), so sharing
    * cannot change any result. */
  private def cachedPairScores(s: SparkSession, d: String): DataFrame = {
    // resolve the input memo BEFORE entering getOrBuild: the build closure
    // must stay CHM-free — a nested computeIfAbsent from inside a mapping
    // function violates the CHM contract (recursive-update exception or a
    // lost insert when two tuple keys collide on a bin — the ADVICE r11
    // leak class).
    val sh = Curation.cachedShingleSets(s, d)
    // Signatures from the AT-REST table (r16, VERDICT r15 #5) — the same
    // ensure d7/x17/x18 adopted in r14, closing the d-family's last
    // memo-built signature input: d3/d4's cold path no longer re-derives
    // the signature frame in-session (build priced once by x19, pre-seeded
    // by Bench/RunQuery outside timing, ensure-built here when absent).
    // The shingle payload still rides the band exchange — inherent to the
    // d3+d4 shared pass, and the sharing stays measured-right: est-only
    // pairs from the store are x21's shape, and a standalone jaccard pass
    // would re-pay this exchange with the SAME heavy payload, so splitting
    // would cost the family more than the sharing saves.
    val mh = s.read.parquet(AtRest.ensureSignatures(s, d))
    dedupFrameMemo.getOrBuild((System.identityHashCode(s), d, "ps")) {
      val fresh = pairScoresGrouped(s, sh, mh).persist()
      fresh.count()
      fresh
    }
  }

  /** d3-ONLY entry point (ADVICE r12): candidate pairs + est_sim WITHOUT
    * the corpus shingle-set build. The registered d3 resolves through
    * [[cachedPairScores]], which additionally builds and ships the shingle
    * payload so a following d4 is a free projection — measured net win
    * when both run (d3 2.14 -> 2.35 s, d4 2.3 -> 0.13 s at the 100x
    * replica), but a session that only ever wants LSH candidates pays
    * ~0.2 s/100x plus a full shingle memo slot for nothing. That caller
    * uses this method; the registered query stays on the shared pass
    * because making its plan depend on memo state would make d3's cost
    * non-deterministic w.r.t. session history (and pessimize the common
    * d3+d4 pipeline). */
  def lshCandidatesEstSim(s: SparkSession, d: String): DataFrame =
    estSimPairsGrouped(s, cachedMinhash(s, d))
      .select(col("doc_a"), col("doc_b"), roundSim(col("est_sim")).as("est_sim"))

  /** INCREMENTAL batch near-dup detection (x17) — the shape a continuous
    * ingestion pipeline runs per crawl batch: candidate pairs + estimated
    * similarity restricted to pairs involving at least one NEW document,
    * computed WITHOUT re-pairing the whole corpus.
    *
    * `mh` is the full signature frame — at a real lake the at-rest
    * signature table ([[signaturesToParquet]]) that the ingest job appends
    * the new batch's signatures to; `isNew` is the batch-membership
    * predicate evaluated on `mh`'s columns (a batch_id comparison in
    * production; a doc_id residue in the registered query).
    *
    * Scale shape — why this is cheaper than filter(full-pairs):
    * the band shuffle, the automaton, and the pair dedup all run over
    * TOUCHED bands only (bands containing >= 1 new doc), selected by a
    * left-semi join of the full band-row stream on the new batch's
    * distinct (bid, key) set — a frame proportional to the BATCH, not the
    * corpus, so AQE broadcasts it and the corpus-side band rows never
    * shuffle unless a new doc collides with them. Per touched band the
    * FULL membership is retained, so the hot-band cap (bc > cap => star
    * over the band min) fires exactly as in the full pass and the output
    * equals `filter(estSimPairsGrouped, doc_a new OR doc_b new)`
    * pair-for-pair — TextDedupSpec pins that equality on mixed/hot-band
    * corpora. At the synthetic 100x replica every band is touched (every
    * doc has 99 verbatim copies, and 20% of ids are "new"), so the
    * semi-join is measured-neutral there; the lever is production dup
    * density, where a daily batch touches a small fraction of the at-rest
    * band space. Streaming sibling: [[bandKeyedDocs]] +
    * Streams.incrementalDedup (per-arrival verdicts, not batch pairs). */
  def incrementalEstSimPairs(s: SparkSession, mh: DataFrame, isNew: Column,
      cap: Int = HOT_BAND_CAP): DataFrame = {
    import s.implicits._
    val sigArr = array((1 to K).map(i => col(s"mh$i")): _*)
    // null-valued predicates (e.g. batch_id === "b7" over rows with null
    // batch_id) mean NOT-new — exactly what filter(full-pairs, new) would
    // do with them; without the coalesce such a doc in a touched band
    // would NPE the primitive-Boolean decode of BandedDocN
    val rows = mh.filter(sigComplete)
      .select(col("doc_id"), sigArr.as("sig"),
        coalesce(isNew, lit(false)).as("is_new"),
        explode(bandStructs).as("band"))
      .select(col("band.bid").as("bid"), col("band.k1").as("k1"),
        col("band.k2").as("k2"), col("doc_id").as("docId"),
        col("sig").as("sh"), col("is_new").as("isNew"))
    // distinct band keys of the new batch: proportional to batch size;
    // unhinted — AQE broadcasts it when it is small (the production case)
    val newKeys = rows.filter(col("isNew")).select("bid", "k1", "k2").distinct()
    val touched = rows.join(newKeys, Seq("bid", "k1", "k2"), "left_semi")
    // flatMapSortedGroups — see the BandPairIterator group-integrity
    // contract. THIS is the site where the manual repartition form
    // miscounted at 100x: the user exchange doubled as the semi-join's
    // left input, and AQE's runtime join rewrite voided band co-location
    // (2,959,098 pairs vs the correct 4,474,250).
    touched.as[BandedDocN]
      .groupBy(col("bid"), col("k1"), col("k2")).as[(Int, Long, Long), BandedDocN]
      .flatMapSortedGroups(col("docId")) { case (_, it) =>
        new BandPairIterator[(Array[Long], Boolean), (Double, Boolean)](
          it.map(d => (d.docId, (d.sh, d.isNew))), cap,
          (x, y) => (TextDedup.estSimScore(x._1, y._1), x._2 || y._2))
          .map { case (a, b, (e, keep)) => (a, b, e, keep) }
      }
      .toDF("doc_a", "doc_b", "est_sim", "keep")
      // old-old pairs surface inside touched bands (the band was touched
      // by a DIFFERENT new doc) — drop them BEFORE the cross-band dedup
      // so the distinct's input shrinks; `keep` is a per-doc-constant
      // disjunction, identical in every band a pair co-occurs in
      .filter(col("keep"))
      .select("doc_a", "doc_b", "est_sim")
      .dropDuplicates("doc_a", "doc_b")
  }

  /** The double-join reference form of d4 (rounds 7-10's shipped shape):
    * lshPairs ⋈ docs ⋈ docs with a per-pair sorted-merge intersect.
    * Adaptive candidate restriction: shingle sets are built only for docs
    * that can appear in a pair unless most docs are candidates (the
    * synthetic replica), where the semi-join is measured-neutral.
    * Kept as the spec oracle for [[jaccardPairsGrouped]] — and as the
    * better plan when the pair list is externally provided rather than
    * band-derived. */
  private[queries] def jaccardPairsJoined(s: SparkSession, base: DataFrame,
      mh: DataFrame, cap: Int = HOT_BAND_CAP): DataFrame = {
    val cand = candidateDocIds(mh).persist()
    val restricted = cand.count() < base.count() / 2
    if (!restricted) cand.unpersist()
    val src =
      if (restricted) base.join(cand, Seq("doc_id"), "left_semi") else base
    val docs = src
      .withColumn("_th", Text.tokenHashesFromText(col("text")))
      .select(col("doc_id"), Text.sortedShingleSet(col("_th")).as("sh"))
      .persist()
    lshPairs(mh, cap)
      .join(docs.as("da"), col("doc_a") === col("da.doc_id"))
      .join(docs.as("db"), col("doc_b") === col("db.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        Text.jaccardSorted(col("da.sh"), col("db.sh")).as("jaccard"))
  }

  /** The band keys the cap degraded, with their membership counts — report
    * this next to any capped dedup run (no silent truncation). */
  def hotBands(mh: DataFrame, cap: Int = HOT_BAND_CAP): DataFrame =
    bandRows(mh).groupBy("bid", "k1", "k2").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > cap)

  /** 100 TB checkpoint path: the `persist()` in [[cachedMinhash]] holds
    * signatures in executor memory for one job; at petabyte scale write
    * them to parquet ONCE and let every LSH consumer (both sides of the
    * band self-join, the Jaccard verifier, re-runs) scan the tiny
    * signature table instead of re-hashing the corpus. */
  def signaturesToParquet(docs: DataFrame, path: String): Unit =
    signatureFrame(docs).write.mode("overwrite").parquet(path)

  def lshPairsFromParquet(s: SparkSession, path: String,
                          cap: Int = HOT_BAND_CAP): DataFrame =
    lshPairs(s.read.parquet(path), cap)

  /** The (doc_id, term, tf) term-frequency frame — one explode + one
    * combiner-friendly groupBy over the raw corpus. The registered x12
    * session-persists it; [[termFrequenciesToParquet]] is its at-rest
    * form. */
  private[queries] def termFrequencies(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** TF-IDF top-5 terms per doc over a prebuilt tf frame — the downstream
    * shared by the registered x12 (session-persisted tf) and
    * [[tfidfTopKFromParquet]] (at-rest tf table). `nDocsFrame` is a
    * one-row (n_docs) frame, broadcast into the idf term. */
  private[queries] def tfidfTopKOverTf(tf: DataFrame,
      nDocsFrame: DataFrame): DataFrame =
    tfidfTopKOverTfDf(tf, docFrequencies(tf), nDocsFrame)

  /** Document frequency per term over a tf frame — THE definition shared
    * by x12's inline branch and the at-rest df table build, so the
    * "stored df == tf.groupBy(term).count()" invariant the x20==x12
    * oracle reuse rests on is structural, not documented. */
  private[queries] def docFrequencies(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"))

  /** [[tfidfTopKOverTf]] with the document-frequency table supplied — the
    * at-rest shape (x20): the 28M-row groupBy(term) branch disappears,
    * and because the stored df table carries real size stats, Catalyst
    * auto-broadcasts it at vocabulary scales under the threshold (the tf
    * fact rows then never shuffle on `term`) while a genuinely huge
    * vocabulary degrades gracefully to a shuffle join — deliberately NO
    * broadcast hint, a forced broadcast of an unbounded vocabulary is the
    * scale cliff. Exact same arithmetic — df here must equal
    * tf.groupBy(term).count() (x19 writes it from the same tf frame). */
  private[queries] def tfidfTopKOverTfDf(tf: DataFrame, df: DataFrame,
      nDocsFrame: DataFrame): DataFrame =
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocsFrame))
      .withColumn("tfidf",
        r6(col("tf") * log(col("n_docs").cast("double") / col("df"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rk") <= 5)
      .select("doc_id", "term", "tf", "df", "tfidf")

  /** Write the term-frequency table ONCE — the at-rest form of x12's
    * session-persisted tf frame (the "write-once term-frequency table"
    * every TF-IDF / keyword / vocabulary consumer scans at a real lake).
    * An ingest job pays the explode + groupBy a single time; consumers
    * then scan the compact columnar (doc_id, term, tf) table instead of
    * re-tokenizing document text. */
  def termFrequenciesToParquet(docs: DataFrame, path: String): Unit =
    termFrequencies(docs).write.mode("overwrite").parquet(path)

  /** x12 over the at-rest tf table. Two parquet scans (the df aggregate
    * and the join probe) replace the session persist — at rest that is
    * the right trade: no executor memory held across consumers, and the
    * scans prune to the three columns. `nDocs` is the CORPUS row count
    * recorded at ingest — it is NOT derivable from the table (docs with
    * null/too-short text produce no tf rows, but they count toward the
    * idf denominator exactly as x12's docs.count() does; TextDedupSpec
    * pins that caveat with a null-text doc in the fixture). */
  def tfidfTopKFromParquet(s: SparkSession, path: String, nDocs: Long): DataFrame =
    tfidfTopKOverTf(s.read.parquet(path),
      s.range(1).select(lit(nDocs).as("n_docs")))

  /** Band-keyed rows for INCREMENTAL near-dup detection: every document
    * emits one (band-key hash, doc_id) row per LSH band — all scalar
    * expressions, so it runs unchanged on a STREAMING frame. Feed the
    * result (as `Dataset[streaming.KeyedDoc]`) into
    * `Streams.incrementalDedup`: its `isDuplicate` verdicts pair each new
    * arrival with the band's first-seen document, continuously, across
    * micro-batches (a doc colliding on several bands yields one verdict
    * per band — distinct downstream). */
  def bandKeyedDocs(docs: DataFrame): DataFrame =
    bandRows(signatureFrame(docs))
      // same string as the pre-packing form ("bid_k1_k2"), so stateful
      // streaming queries keyed on this hash survive the r15 key packing
      .select(Text.hash32(
          concat_ws("_", col("bid"), col("k1"), col("k2"))).as("key"),
        col("doc_id").as("docId"))

  val queries: Map[String, Q] = Map(
    // ----- X1: token counting (whitespace + regex word count)
    "x1_token_stats" -> { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        size(Text.tokens(col("text"))).as("n_tokens"),
        size(split(col("text"), "[^a-z0-9]+")).as("n_words_re"),
        col("n_chars"))
    },
    // ----- X2: quality scoring (length / distinct-token ratio / mean token len)
    "x2_quality_score" -> { (s, d) =>
      val toks = Text.tokens(col("text"))
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        r6(size(array_distinct(toks)).cast("double") / size(toks)).as("distinct_ratio"),
        r6((col("n_chars") - size(toks) + 1).cast("double") / size(toks)).as("mean_tok_len"),
        r6(least(size(toks).cast("double") / 100.0, lit(1.0)) *
          (size(array_distinct(toks)).cast("double") / size(toks))).as("quality"))
    },
    // ----- X3: language-ID heuristic (stopword-vocabulary ratio)
    "x3_langid" -> { (s, d) =>
      val enScore = Text.vocabRatioFromText(col("text"),
        Seq("the", "a", "of", "and", "to"))
      Tables.documents(s, d)
        .withColumn("en_score", r6(enScore))
        .withColumn("pred", when(col("en_score") > 0.05, lit("en")).otherwise(lit("other")))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"),
          round(avg("en_score"), 6).as("avg_score"))
    },
    // ----- X4: rolling-hash document fingerprint (native hash + fold)
    "x4_fingerprint" -> { (s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        Text.fingerprintFromHashes(Text.tokenHashesFromText(col("text")))
          .as("fp"))
    },
    // ----- D1: exact dedup on a normalized prefix key (hash-groupBy)
    "d1_exact_dedup" -> { (s, d) =>
      val prefixKey = Text.hash32(concat_ws(" ",
        slice(Text.tokens(col("text")), 1, 10)))
      Tables.documents(s, d)
        .withColumn("pkey", prefixKey)
        .groupBy("pkey")
        .agg(min("doc_id").as("canonical"), count(lit(1)).as("n_copies"))
        .filter(col("n_copies") > 1)
    },
    // ----- D2: MinHash signatures (k=8, 3-word shingles)
    "d2_minhash" -> { (s, d) =>
      withMinhash(Tables.documents(s, d))
        .select("doc_id", (1 to K).map(i => s"mh$i"): _*)
    },
    // ----- D3: LSH candidate pairs + estimated similarity — the band
    // automaton (one band shuffle, score in-group) instead of
    // lshPairs + two signature joins; spec-pinned equal to the join form.
    // d3 and d4 share ONE pass (pairScoresGrouped) that scores both
    // est-sim and Jaccard — whichever runs second projects the memoized
    // pair frame instead of re-running the band shuffle.
    "d3_lsh_pairs" -> { (s, d) =>
      cachedPairScores(s, d)
        .select(col("doc_a"), col("doc_b"), roundSim(col("est_sim")).as("est_sim"))
    },
    // ----- D4: n-gram Jaccard over distinct shingle-hash sets, verified
    // only on LSH candidates. The banded-automaton path: shingle sets ship
    // per BAND membership (<= BANDS copies each), never per pair — see
    // pairScoresGrouped (the pass shared with d3); TextDedupSpec pins the
    // pair set and arithmetic equal to the double-join form
    // (jaccardPairsJoined), which remains the reference implementation.
    "d4_jaccard_verify" -> { (s, d) =>
      cachedPairScores(s, d)
        .select(col("doc_a"), col("doc_b"), r6(col("jaccard")).as("jaccard"))
    },
    // ----- D7: duplicate-cluster resolution — connected components over
    // the LSH candidate graph; every doc maps to its cluster's min id.
    // CC consumes the component-equivalent star edges, not the clique
    // pairs: same partition of the same node set (proof at bandStarEdges),
    // ~BANDS x docs edges instead of sum-of-band-size² pairs.
    // Round 14 (VERDICT r13 #6): the star-edge build reads the AT-REST
    // signature table (ensure = build-once; x19 is the priced build) —
    // the d-family's common signature prefix collapses across sessions,
    // not just within one. Same-window A/B at 100x (NOTES.md Round 14):
    // registered cold 13.0-17.9 s (memo path) -> 6.3-8.5 s from the store.
    // First run on a fresh store pays the one-time ensure-build; every
    // later session scans.
    "d7_dedup_resolve" -> { (s, d) =>
      val mh = s.read.parquet(AtRest.ensureSignatures(s, d))
      graft.operators.Dedup.connectedComponents(bandStarEdges(mh))
        .select(col("id").as("doc_id"), col("comp").as("canonical"))
    },
    // ----- D5: SimHash (16-bit, scalar-only, no explode); token hashes
    // materialized once, 16 cheap bit-fold passes over them
    "d5_simhash" -> { (s, d) =>
      Tables.documents(s, d)
        .withColumn("_th", Text.tokenHashesFromText(col("text")))
        .select(col("doc_id"), Text.simhashFromHashes(col("_th"), 16).as("simhash"))
    },
    // ----- X5: the end-to-end curation pipeline — quality score, language
    // gate, and exact-dedup survivorship composed in one job (what a real
    // training-data run executes: scalar scoring in codegen, then ONE
    // groupBy + join on the dedup key).
    // Round-13 note (NOTES.md Round 14, j8/x5 item): the min-over-pkey
    // WINDOW alternative measured ~15% faster at both 100x replicas
    // (7.0-7.3 -> 6.0-6.1 s, equal output) — and is rejected anyway:
    // survivorship keys are content hashes, so a mass-duplicated document
    // IS the hot-key case this query exists for, and a WindowExec partition
    // cannot be split (one task sorts the whole duplicate group) while the
    // join form's hot partitions ride AQE's skew-join split. The skew
    // replica's 50k-row hot group is too small to show the cliff; at lake
    // scale it's the difference between a task and an OOM.
    "x5_curation_pipeline" -> { (s, d) =>
      val toks = Text.tokens(col("text"))
      val scored = Tables.documents(s, d)
        .withColumn("n_tokens", size(toks))
        .withColumn("distinct_ratio",
          size(array_distinct(toks)).cast("double") / size(toks))
        .withColumn("en_score",
          Text.vocabRatio(toks, Seq("the", "a", "of", "and", "to")))
        .withColumn("pkey", Text.hash32(concat_ws(" ", slice(toks, 1, 10))))
      val canon = scored.groupBy("pkey").agg(min("doc_id").as("canonical"))
      scored.join(canon, Seq("pkey"))
        .filter(col("doc_id") === col("canonical") &&
          col("en_score") > 0.05 && col("distinct_ratio") > 0.5 &&
          col("n_tokens") >= 20)
        .select(col("doc_id"), col("n_tokens"),
          r6(col("distinct_ratio")).as("distinct_ratio"),
          r6(col("en_score")).as("en_score"))
    },
    // ----- X12: TF-IDF top-k terms per document — the canonical keyword /
    // quality-signal extraction over a corpus. Shape at 100 TB: explode ->
    // combiner groupBy (doc,term) -> df via groupBy(term) + equi-join back
    // (NOT a window by term: a corpus-wide term's window partition is the
    // whole corpus in ONE task — the groupBy is combiner-friendly and the
    // hot-term join partitions are AQE-splittable) -> WindowGroupLimit
    // top-k by doc (doc partitions are bounded by doc length). idf =
    // ln(N/df) is transcendental, so the round-6 gate boundary is
    // unreachable (NOTES sharp edge #2); ties (equal tfidf) break on the
    // term string — deterministic in both engines.
    "x12_tfidf_topk" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      // persisted AND eagerly materialized: tf feeds BOTH the df aggregate
      // and the join — unmaterialized, the two branches of one action race
      // to populate the cache and each re-runs the explode + groupBy
      // (sharp edge #16; same fix as cachedMinhash — measured 38 -> 25 s
      // at the 100x replica). At a real lake this is the write-once
      // term-frequency table every TF-IDF consumer scans —
      // [[termFrequenciesToParquet]] + [[tfidfTopKFromParquet]] are that
      // form; this query stays self-contained on the raw table.
      // Round-13 note (NOTES.md Round 14, u2/x12 item): the dominant stage
      // is the 28M-row CACHE BUILD (~12 s of ~17 at 100x), not the groupBy
      // shuffle — the shuffle-free native graft_term_counts alternative
      // measured equal-or-WORSE locally (boxing cost real, NVMe shuffle
      // ~free) and stays a library expression for network-shuffle clusters;
      // the no-persist recompute forms measured 25+ s. This shape stands on
      // evidence.
      val tf = termFrequencies(docs).persist()
      tf.count()
      tfidfTopKOverTf(tf, docs.agg(count(lit(1)).as("n_docs")))
    },
    // ----- D9: SimHash near-dup pairs — the pairing half of the SimHash
    // dedup path (d5 emits the signatures; this finds the neighbors).
    // Scale shape: collapse to DISTINCT 16-bit values first, so the join
    // input is bounded at 2^16 rows NO MATTER the corpus size — the
    // value-level neighbor graph is constant-size and the per-doc work is
    // one groupBy. Hamming-<=1 pairs of distinct values differ in exactly
    // one bit, which lives in exactly one 8-bit block, so they agree on
    // exactly the OTHER block (pigeonhole): the 2-block equi-join finds
    // each pair exactly once — no all-pairs scan, no distinct needed.
    "d9_simhash_pairs" -> { (s, d) =>
      val sh = Tables.documents(s, d)
        .withColumn("_th", Text.tokenHashesFromText(col("text")))
        .select(col("doc_id"), Text.simhashFromHashes(col("_th"), 16).as("simhash"))
      val vals = sh.groupBy("simhash")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("rep"))
      val blocks = vals.select(col("simhash"), col("n_docs"), col("rep"),
          explode(array(
            struct(lit(0).as("blk"), col("simhash").bitwiseAND(lit(255L)).as("bkey")),
            struct(lit(1).as("blk"), shiftright(col("simhash"), 8).cast("long").as("bkey")))).as("b"))
        .select(col("simhash"), col("n_docs"), col("rep"),
          col("b.blk").as("blk"), col("b.bkey").as("bkey"))
      blocks.as("a").join(blocks.as("b"),
          col("a.blk") === col("b.blk") && col("a.bkey") === col("b.bkey") &&
            col("a.simhash") < col("b.simhash"))
        .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 1)
        .select(col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"),
          col("a.rep").as("rep_a"), col("b.rep").as("rep_b"),
          col("a.n_docs").as("docs_a"), col("b.n_docs").as("docs_b"))
    },
    // ----- X14: repetition stats (Gopher-style quality rules) — fraction
    // of tokens in the single most frequent token, and fraction of bigrams
    // in the most frequent bigram. These are PER-DOC statistics, so the
    // explode -> groupBy(doc,gram) -> re-agg shape is a pointless double
    // shuffle of every gram (65 s at the 100x replica); and per-row STRING
    // work (bigram concat, string sorts, a struct-state fold) is nearly as
    // bad (51 s). The shipped form stays entirely in long-space: native
    // token hashes, arithmetic 2-gram combine (shingleHashes3's pattern),
    // long-array sorts, and an allocation-free packed-long run fold —
    // map-only, zero-exchange, one scan. Counts are over 32-bit token
    // hashes; the oracle replays the SAME md5-prefix hashes (d1/d2
    // precedent), so the gate is exact, collisions and all. Ratios are
    // exact rationals gated through r6's pure-double rounding.
    "x14_repetition" -> { (s, d) =>
      val docs = Tables.documents(s, d)
        .withColumn("_h", Text.tokenHashesFromText(col("text")))
        .withColumn("_r", Text.repetitionCounts(col("_h")))
      val n = col("_r.n_tokens")
      docs.select(col("doc_id"),
        n.as("n_tokens"),
        r6(col("_r.top_tok").cast("double") / n).as("top_token_frac"),
        greatest(n - 1, lit(0L)).as("n_bigrams"),
        // second when (not otherwise) keeps null-text docs null-out
        // instead of fabricating 0.0 (ADVICE r10; the oracle DROPS such
        // rows, so neither side should invent a value)
        when(n >= 2, r6(col("_r.top_big").cast("double") / (n - 1)))
          .when(n.isNotNull, lit(0.0)).as("top_bigram_frac"))
    },
    // ----- X17: incremental batch dedup — candidate pairs involving the
    // NEW batch (doc_id % 5 == 0 stands in for batch membership), band
    // work restricted to touched bands via a batch-sized semi-join. The
    // continuous-ingestion form of d3: a daily crawl batch near-dups
    // against the at-rest corpus without re-pairing it. Semantics ==
    // filter(d3, a new OR b new), spec-pinned; see incrementalEstSimPairs
    // for the scale argument. Round 14: mh comes from the ENSURED at-rest
    // signature table (the production shape this operator's scaladoc
    // always described — the ingest job appends the batch's signatures to
    // the store), same switch as d7's; the oracle is unchanged because
    // the table holds exactly signatureFrame(documents).
    "x17_incremental_dedup" -> { (s, d) =>
      incrementalEstSimPairs(s,
        s.read.parquet(AtRest.ensureSignatures(s, d)),
        pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_a"), col("doc_b"),
          roundSim(col("est_sim")).as("est_sim"))
    },
    // ----- X18: the incremental pipeline END-TO-END — yesterday's labels
    // (CC over the OLD docs' star edges) + today's x17 edges folded in
    // via Dedup.incrementalComponents. Output == the from-scratch d7
    // resolve EXACTLY, so d7's recursive SQL is the oracle verbatim.
    // Proof sketch (spec-pinned incl. a hot band whose min doc is new):
    // full-pass connectivity = old-old connections ∪ new-involving
    // connections; any old-old full pair shares a band, so the old-only
    // star pass connects it (cap/star choices are component-equivalent);
    // every new-involving connection is an x17 edge; node sets match the
    // same way. incrementalComponents preserves the old partition as
    // depth-1 stars, so the union's components — and their min-id
    // canonicals — coincide with from-scratch CC. Round 14: the registered
    // query still REBUILDS yesterday's labels in-query (the honest
    // self-contained form; x23_atrest_resolve is the stored-labels
    // production shape), but like d7/x17 it reads signatures from the
    // ensured at-rest table rather than re-deriving them.
    "x18_incremental_resolve" -> { (s, d) =>
      val mh = s.read.parquet(AtRest.ensureSignatures(s, d))
      val isNew = pmod(col("doc_id"), lit(5)) === 0
      val oldLabels = graft.operators.Dedup.connectedComponents(
        bandStarEdges(mh.filter(!isNew)))
      val newEdges = incrementalEstSimPairs(s, mh, isNew)
        .select("doc_a", "doc_b")
      graft.operators.Dedup.incrementalComponents(oldLabels, newEdges)
        .select(col("id").as("doc_id"), col("comp").as("canonical"))
    }
  )

  // ---------------------------------------------------------------- oracles

  private val hx = (e: String) => s"CAST(('0x'||substr(md5($e),1,8)) AS BIGINT)"
  private def mhSql(i: Int) =
    s"list_min(list_transform(hs, h -> (h*${2 * i + 1} + ${97 * i}) % 4294967291)) AS mh$i"
  private[queries] val mhCte =
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        th AS (SELECT doc_id, t, list_transform(t, x -> ${hx("x")}) AS h FROM tok),
        hsh AS (SELECT doc_id, t, list_transform(range(1, len(h)-1),
          i -> (h[i]*299 + h[i+1]*991 + h[i+2]) % 4294967291) AS hs FROM th),
        mh AS (SELECT doc_id, ${(1 to K).map(mhSql).mkString(", ")} FROM hsh)"""
  private val bandSql =
    (1 to BANDS).map(b =>
      s"SELECT doc_id, $b AS bid, mh${2 * b - 1}||'_'||mh${2 * b} AS key FROM mh")
      .mkString(" UNION ALL ")
  private val pairsCte =
    s"""bands AS ($bandSql),
        bstat AS (SELECT bid, key, count(*) AS bc, min(doc_id) AS mindoc
                  FROM bands GROUP BY 1, 2),
        btag AS (SELECT b.doc_id, b.bid, b.key, c.bc, c.mindoc
                 FROM bands b JOIN bstat c ON b.bid = c.bid AND b.key = c.key),
        pairs AS (SELECT DISTINCT doc_a, doc_b FROM (
                    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                    FROM btag a JOIN btag b
                      ON a.bid = b.bid AND a.key = b.key AND a.doc_id < b.doc_id
                    WHERE a.bc <= $HOT_BAND_CAP
                    UNION ALL
                    SELECT mindoc AS doc_a, doc_id AS doc_b
                    FROM btag WHERE bc > $HOT_BAND_CAP AND doc_id <> mindoc))"""

  /** The from-scratch resolve's recursive SQL over an arbitrary variant of
    * [[mhCte]] — the oracle-reuse hook: d7, x18, and the at-rest x22/x23
    * all gate through this pipeline, differing only in which documents
    * feed the tok CTE (x22 restricts to the old batch). */
  private[queries] def d7SqlOver(mhCteStr: String): String =
    s"""${mhCteStr.replaceFirst("WITH ", "WITH RECURSIVE ")}, $pairsCte,
        edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                  UNION SELECT doc_b, doc_a FROM pairs),
        nodes AS (SELECT DISTINCT s AS id FROM edges),
        reach(id, r) AS (
          SELECT id, id FROM nodes
          UNION
          SELECT reach.id, e.d FROM reach JOIN edges e ON reach.r = e.s)
        SELECT id AS doc_id, min(r) AS canonical FROM reach GROUP BY id"""

  private[queries] val d7Sql = d7SqlOver(mhCte)

  /** d3's oracle SQL — shared verbatim by x21 (the at-rest pair pass reads
    * the signature table instead of re-hashing the corpus; output is
    * identical by construction, so the gate is too). */
  private[queries] val d3Sql =
    s"""$mhCte, $pairsCte
        SELECT doc_a, doc_b,
          round((${(1 to K).map(i =>
            s"CASE WHEN a.mh$i = b.mh$i THEN 1.0 ELSE 0.0 END").mkString(" + ")})/$K, 6) AS est_sim
        FROM pairs JOIN mh a ON doc_a = a.doc_id JOIN mh b ON doc_b = b.doc_id"""

  /** x12's oracle SQL — shared verbatim by x20 (TF-IDF over the at-rest tf
    * table + recorded n_docs equals the self-contained build). */
  private[queries] val x12Sql =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfq AS (SELECT doc_id, term, tf,
          count(*) OVER (PARTITION BY term) AS df FROM tf),
        n AS (SELECT count(*) AS n_docs FROM documents),
        sc AS (SELECT doc_id, term, tf, df,
          floor(tf * ln(n_docs*1.0/df) * 1000000 + 0.5)/1000000 AS tfidf
          FROM dfq, n),
        rk AS (SELECT *, row_number() OVER (
          PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk FROM sc)
        SELECT doc_id, term, tf, df, tfidf FROM rk WHERE rk <= 5"""

  /** The DuckDB-side md5 token hash — exposed so at-rest oracles can build
    * corpus-variant CTEs without duplicating the hash recipe. */
  private[queries] def hxSql(e: String): String = hx(e)

  val oracles: Map[String, String] = Map(
    "x1_token_stats" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         len(regexp_split_to_array(text, '[^a-z0-9]+')) AS n_words_re, n_chars
         FROM documents""",
    "x2_quality_score" ->
      """WITH tok AS (SELECT doc_id, n_chars, string_split(text, ' ') AS t FROM documents)
         SELECT doc_id, len(t) AS n_tokens,
           floor(len(list_distinct(t))*1.0/len(t)*1000000 + 0.5)/1000000 AS distinct_ratio,
           floor((n_chars - len(t) + 1)*1.0/len(t)*1000000 + 0.5)/1000000 AS mean_tok_len,
           floor(least(len(t)/100.0, 1.0) * (len(list_distinct(t))*1.0/len(t))*1000000 + 0.5)/1000000 AS quality
         FROM tok""",
    "x3_langid" ->
      """WITH sc AS (SELECT lang,
           floor(len(list_filter(string_split(text,' '),
             x -> x IN ('the','a','of','and','to')))*1.0
             / len(string_split(text,' '))*1000000 + 0.5)/1000000 AS en_score
           FROM documents)
         SELECT lang, CASE WHEN en_score > 0.05 THEN 'en' ELSE 'other' END AS pred,
           count(*) AS n, round(avg(en_score), 6) AS avg_score
         FROM sc GROUP BY 1, 2""",
    "x4_fingerprint" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
          SELECT doc_id, list_reduce(
            list_concat([CAST(0 AS BIGINT)],
              list_transform(t, x -> ${hx("x")})),
            (a, b) -> (a*31 + b) % 1000000007) AS fp
          FROM tok""",
    "d1_exact_dedup" ->
      s"""WITH k AS (SELECT doc_id,
            ${hx("array_to_string(list_slice(string_split(text,' '),1,10), ' ')")} AS pkey
          FROM documents)
          SELECT pkey, min(doc_id) AS canonical, count(*) AS n_copies
          FROM k GROUP BY 1 HAVING count(*) > 1""",
    "d2_minhash" ->
      s"$mhCte SELECT * FROM mh",
    "d3_lsh_pairs" -> d3Sql,
    // x17 = d3's pair set filtered to new-batch involvement: the oracle
    // replays the full band/cap/star pipeline, then applies the same
    // residue predicate the Spark side evaluates per doc
    "x17_incremental_dedup" ->
      s"""$mhCte, $pairsCte
          SELECT doc_a, doc_b,
            round((${(1 to K).map(i =>
              s"CASE WHEN a.mh$i = b.mh$i THEN 1.0 ELSE 0.0 END").mkString(" + ")})/$K, 6) AS est_sim
          FROM pairs JOIN mh a ON doc_a = a.doc_id JOIN mh b ON doc_b = b.doc_id
          WHERE doc_a % 5 = 0 OR doc_b % 5 = 0""",
    "d4_jaccard_verify" ->
      s"""$mhCte, $pairsCte,
          ds AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh)
          SELECT doc_a, doc_b,
            floor(len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0 /
              (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))))*1000000 + 0.5)/1000000 AS jaccard
          FROM pairs JOIN ds a ON doc_a = a.doc_id JOIN ds b ON doc_b = b.doc_id""",
    "d7_dedup_resolve" -> d7Sql,
    // x18's output is PROVABLY identical to the from-scratch resolve
    // (see the x18 query comment), so the from-scratch recursive SQL is
    // its oracle verbatim — the strongest gate an incremental pipeline
    // can have
    "x18_incremental_resolve" -> d7Sql,
    "x5_curation_pipeline" ->
      s"""WITH sc AS (SELECT doc_id, string_split(text, ' ') AS t,
            ${hx("array_to_string(list_slice(string_split(text,' '),1,10), ' ')")} AS pkey
            FROM documents),
          m AS (SELECT doc_id, pkey, len(t) AS n_tokens,
            len(list_distinct(t))*1.0/len(t) AS dr,
            len(list_filter(t, x -> x IN ('the','a','of','and','to')))*1.0/len(t) AS es
            FROM sc),
          canon AS (SELECT pkey, min(doc_id) AS canonical FROM m GROUP BY 1)
          SELECT doc_id, n_tokens,
            floor(dr*1000000 + 0.5)/1000000 AS distinct_ratio,
            floor(es*1000000 + 0.5)/1000000 AS en_score
          FROM m JOIN canon USING (pkey)
          WHERE doc_id = canonical AND es > 0.05 AND dr > 0.5 AND n_tokens >= 20""",
    "d5_simhash" ->
      s"""WITH tok AS (SELECT doc_id, list_transform(string_split(text, ' '),
            x -> ${hx("x")}) AS h FROM documents)
          SELECT doc_id, (${(0 until 16).map(j =>
            s"CASE WHEN list_sum(list_transform(h, x -> ((x >> $j) & 1)*2 - 1)) > 0 THEN ${1L << j} ELSE 0 END")
            .mkString(" + ")}) AS simhash
          FROM tok""",
    "x12_tfidf_topk" -> x12Sql,
    // value-level all-pairs is fine for the ORACLE (distinct 16-bit values
    // are few at test scale); the engine runs the blocked join
    "d9_simhash_pairs" ->
      s"""WITH tok AS (SELECT doc_id, list_transform(string_split(text, ' '),
            x -> ${hx("x")}) AS h FROM documents),
          sh AS (SELECT doc_id, (${(0 until 16).map(j =>
            s"CASE WHEN list_sum(list_transform(h, x -> ((x >> $j) & 1)*2 - 1)) > 0 THEN ${1L << j} ELSE 0 END")
            .mkString(" + ")}) AS simhash FROM tok),
          vals AS (SELECT simhash, count(*) AS n_docs, min(doc_id) AS rep
                   FROM sh GROUP BY 1)
          SELECT a.simhash AS sim_a, b.simhash AS sim_b,
                 a.rep AS rep_a, b.rep AS rep_b,
                 a.n_docs AS docs_a, b.n_docs AS docs_b
          FROM vals a JOIN vals b ON a.simhash < b.simhash
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 1""",
    "x14_repetition" ->
      s"""WITH th AS (SELECT doc_id, list_transform(string_split(text, ' '),
                        x -> ${hx("x")}) AS h FROM documents),
          uc AS (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id, unnest(h) AS g FROM th) GROUP BY 1, 2),
          us AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
                   max(c) AS top_tok FROM uc GROUP BY 1),
          bc AS (SELECT doc_id, g, count(*) AS c
                 FROM (SELECT doc_id, unnest(list_transform(range(1, len(h)),
                         i -> (h[i]*991 + h[i+1]) % 4294967291)) AS g FROM th)
                 GROUP BY 1, 2),
          bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                   max(c) AS top_big FROM bc GROUP BY 1)
          SELECT us.doc_id, us.n_tokens,
            floor(top_tok*1.0/us.n_tokens*1000000 + 0.5)/1000000 AS top_token_frac,
            coalesce(bs.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
            floor(coalesce(top_big*1.0/bs.n_bigrams, 0.0)*1000000 + 0.5)/1000000 AS top_bigram_frac
          FROM us LEFT JOIN bs ON us.doc_id = bs.doc_id"""
  )
}
