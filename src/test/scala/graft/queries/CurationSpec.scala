package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavior of the curation operators on constructed corpora: containment
  * decontamination, hotspot boilerplate detection, and the determinism of
  * hash mix-sampling (the DuckDB oracle gates the exact values at sf scale;
  * these specs pin the semantics on frames small enough to reason about). */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val evalText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
  private val cleanText =
    "one two three four five six seven eight nine ten eleven twelve"

  test("decontaminate flags a verbatim copy of an eval doc and spares disjoint text") {
    // doc 0 is eval (0 % 17 == 0); doc 1 copies it; doc 2 shares nothing
    val docs = Seq((0L, evalText), (1L, evalText), (2L, cleanText))
      .toDF("doc_id", "text")
    val flagged = Curation.decontaminate(docs, minShared = 6).collect()
    assert(flagged.map(_.getLong(0)).toSet == Set(1L))
    // the copy shares every one of its 10 distinct shingles with the pool
    assert(flagged.head.getLong(1) == 10L)
  }

  test("partial contamination counts only the shared shingle overlap") {
    // doc 1 takes the first 8 eval tokens (6 shared shingles) then diverges
    val partial = "alpha beta gamma delta epsilon zeta eta theta nope nada zip"
    val docs = Seq((0L, evalText), (1L, partial)).toDF("doc_id", "text")
    val atSix = Curation.decontaminate(docs, minShared = 6).collect()
    assert(atSix.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 6L)))
    assert(Curation.decontaminate(docs, minShared = 7).isEmpty)
  }

  test("bloom decontamination == exact decontamination (fuzz corpora, both fpp regimes)") {
    val rnd = new scala.util.Random(0x15b)
    for (trial <- 1 to 3) {
      // mixed corpus: some docs copy eval docs verbatim, some share a
      // partial prefix, most are disjoint noise — plus a sloppy-fpp run
      // where the exact verify join must erase the bloom's false positives
      val nDocs = 60 + rnd.nextInt(40)
      val docs = (0L until nDocs.toLong).map { i =>
        val text =
          if (i % 17 == 0) evalText + s" tail$i"
          else if (i % 5 == 0) evalText                 // contaminated copy
          else if (i % 7 == 0) "alpha beta gamma delta epsilon qq" + i // partial
          else Seq.fill(10)("n" + (i * 31 + rnd.nextInt(5000))).mkString(" ")
        (i, text)
      }.toDF("doc_id", "text")
      val sh = docs
        .withColumn("_th", graft.functions.Text.tokenHashesFromText(col("text")))
        .select(col("doc_id"), graft.functions.Text.sortedShingleSet(col("_th")).as("sh"))
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = norm(Curation.decontaminateFrom(sh, minShared = 3))
      for (fpp <- Seq(0.01, 0.3)) { // 0.3: bloom passes many FPs -> verify must hold
        val bloomed = norm(Curation.decontaminateBloomFrom(sh, minShared = 3, fpp = fpp))
        assert(bloomed == exact, s"trial $trial fpp=$fpp: bloom path diverges " +
          s"(only-bloom=${bloomed.diff(exact).take(3)}, only-exact=${exact.diff(bloomed).take(3)})")
      }
      assert(exact.nonEmpty, s"trial $trial produced no contamination — corpus too thin")

      // external-pool forms (the production shape: the pool is the eval
      // suite's own ingest artifact, not a doc_id modulus): against the
      // corpus-derived pool they must reproduce the modulus forms exactly,
      // and bloom == exact must hold with synthetic non-matching pool mass
      val corpus = sh.filter(col("doc_id") % 17 =!= 0)
      val pool = Curation.evalPoolFrom(sh)
        .union(spark.range(5000).select((col("id") * 7919 + 13).as("h")))
        .distinct()
      val exactPool = norm(Curation.decontaminateAgainstPool(corpus, pool, minShared = 3))
      assert(norm(Curation.decontaminateAgainstPool(corpus,
        Curation.evalPoolFrom(sh), minShared = 3)) == exact)
      for (fpp <- Seq(0.01, 0.3)) {
        assert(norm(Curation.decontaminateBloomAgainstPool(
          corpus, pool, minShared = 3, fpp = fpp)) == exactPool,
          s"trial $trial fpp=$fpp: external-pool bloom diverges")
      }
      // empty external pool: bloom path falls back to exact, returns empty
      val empty = Curation.evalPoolFrom(sh).filter(lit(false))
      assert(Curation.decontaminateBloomAgainstPool(corpus, empty).isEmpty)
    }
  }

  test("auto decontamination dispatches on measured pool size; both arms equal the exact rows") {
    // mixed corpus with real contamination (same construction as the fuzz
    // test, fixed seed) so the dispatch equality is pinned on non-empty output
    val rnd = new scala.util.Random(0xa07)
    val docs = (0L until 80L).map { i =>
      val text =
        if (i % 17 == 0) evalText + s" tail$i"
        else if (i % 5 == 0) evalText
        else Seq.fill(10)("n" + (i * 31 + rnd.nextInt(5000))).mkString(" ")
      (i, text)
    }.toDF("doc_id", "text")
    val sh = docs
      .withColumn("_th", graft.functions.Text.tokenHashesFromText(col("text")))
      .select(col("doc_id"), graft.functions.Text.sortedShingleSet(col("_th")).as("sh"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val corpus = sh.filter(col("doc_id") % 17 =!= 0)
    val pool = Curation.evalPoolFrom(sh)
    val exact = norm(Curation.decontaminateAgainstPool(corpus, pool, minShared = 3))
    assert(exact.nonEmpty, "corpus too thin — dispatch equality would be vacuous")

    // pool under the cap -> the EXACT arm must fire (r15 cluster run,
    // NOTES.md Round 15: exact broadcast wins 4-8x at broadcastable pools)
    val (underDf, underArm) = Curation.autoAgainstPoolPlan(
      corpus, pool, minShared = 3, fpp = 0.01, exactCap = Curation.EXACT_POOL_CAP)
    assert(underArm == "exact", s"small pool must take the exact arm, got $underArm")
    assert(norm(underDf) == exact)

    // pool past the cap (forced with exactCap = 0) -> the BLOOM arm must
    // fire, and the sketch+verify output must still equal the exact rows
    val (overDf, overArm) = Curation.autoAgainstPoolPlan(
      corpus, pool, minShared = 3, fpp = 0.01, exactCap = 0L)
    assert(overArm == "bloom", s"past-cap pool must take the bloom arm, got $overArm")
    assert(norm(overDf) == exact)

    // the registered x6 entry point (in-corpus form) routes through the
    // dispatcher and keeps its rows identical to the pre-auto form
    assert(norm(Curation.decontaminateAutoFrom(sh, minShared = 3)) ==
      norm(Curation.decontaminateFrom(sh, minShared = 3)))
    // boundary is inclusive: a pool exactly AT the cap stays exact
    val nPool = pool.select("h").count()
    val (_, atCapArm) = Curation.autoAgainstPoolPlan(
      corpus, pool, minShared = 3, fpp = 0.01, exactCap = nPool)
    assert(atCapArm == "exact")
  }

  test("dup-span stats: run lengths, multi-span docs, clean docs, verbatim pairs") {
    // copy = a 10-token span shared by docs 1 and 2, embedded in per-doc
    // unique noise; its 8 interior shingles are the only shared ones
    // (boundary shingles mix unique+copy tokens, so they stay unique)
    val copy = (1 to 10).map(i => s"c$i").mkString(" ")
    val copyB = (1 to 6).map(i => s"k$i").mkString(" ") // 6-token second span
    def noise(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, s"${noise("a", 5)} $copy ${noise("b", 5)}"),
      (2L, s"${noise("d", 5)} $copy ${noise("e", 5)}"),
      // doc 3 carries BOTH spans, separated by unique noise: two runs
      (3L, s"${noise("f", 4)} $copy ${noise("g", 4)} $copyB ${noise("h", 4)}"),
      (4L, s"${noise("p", 4)} $copyB ${noise("q", 4)}"),
      (5L, noise("z", 12)),                      // fully clean
      (6L, "tiny doc"),                          // <3 tokens: no shingles
      (7L, s"$copy"), (8L, s"$copy")             // verbatim pair: all shared
    ).toDF("doc_id", "text")
    val sh = docs
      .withColumn("_th", graft.functions.Text.tokenHashesFromText(col("text")))
      .select(col("doc_id"), graft.functions.Text.sortedShingleSet(col("_th")).as("sh"))
    val out = Curation.dupSpanStats(docs, sh).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    // doc 1: 20 tokens -> 18 shingles; the copy's 8 interior shingles shared
    val f18 = math.floor(8.0 / 18 * 1e6 + 0.5) / 1e6 // the r6 form
    assert(out(1L) == ((18L, 8L, 8L, f18)))
    assert(out(2L)._2 == 8L && out(2L)._3 == 8L)
    // doc 3: two separated runs — 8 (copy) and 4 (copyB interior); the sum
    // and the max must tell them apart
    assert(out(3L)._2 == 12L && out(3L)._3 == 8L, s"doc3 = ${out(3L)}")
    assert(out(4L)._3 == 4L)
    // clean doc: zero shared, zero run
    assert(out(5L) == ((10L, 0L, 0L, 0.0)))
    // <3-token doc is absent (no span semantics)
    assert(!out.contains(6L))
    // verbatim pair: every shingle shared, run == n_shingles
    assert(out(7L) == ((8L, 8L, 8L, 1.0)) && out(8L) == ((8L, 8L, 8L, 1.0)))

    // the memoized-path form (registered x16: prebuilt token-hash frame,
    // both branches hash-free) is frame-identical to the docs form
    val th = docs.select(col("doc_id"),
      graft.functions.Text.tokenHashesFromText(col("text")).as("th"))
    val fromTh = Curation.dupSpanStatsFromTh(th, sh).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toMap
    assert(fromTh == out, "dupSpanStatsFromTh must equal dupSpanStats")
  }

  test("dup-span stats match a driver brute force (fuzz, small vocab forces in-doc repeats)") {
    val rnd = new scala.util.Random(0x16f)
    for (trial <- 1 to 3) {
      // vocab of 8 tokens: shingles repeat within AND across docs, so the
      // df-is-distinct-docs contract is exercised (an in-doc repeat alone
      // must NOT make a shingle 'shared')
      val docs = (0L until 40L).map { i =>
        val n = rnd.nextInt(25) // includes <3-token docs
        (i, (0 until n).map(_ => s"v${rnd.nextInt(8)}").mkString(" "))
      }
      // driver-side replica of tokenize -> shingle -> df -> runs
      def tokHashes(text: String): Seq[Long] =
        text.split(" ").filter(_.nonEmpty).toSeq.map { t =>
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(t.getBytes("UTF-8"))
          ((md(0) & 0xffL) << 24) | ((md(1) & 0xffL) << 16) |
            ((md(2) & 0xffL) << 8) | (md(3) & 0xffL)
        }
      def shingles(h: Seq[Long]): Seq[Long] =
        if (h.length < 3) Seq.empty
        else (0 until h.length - 2).map(i =>
          (h(i) * 299L + h(i + 1) * 991L + h(i + 2)) % 4294967291L)
      val perDoc = docs.map { case (id, t) => id -> shingles(tokHashes(t)) }
      val df = perDoc.flatMap { case (id, sh) => sh.distinct.map(_ -> id) }
        .groupBy(_._1).map { case (h, xs) => h -> xs.map(_._2).distinct.size }
      val expected = perDoc.filter(_._2.nonEmpty).map { case (id, sh) =>
        val shared = sh.map(h => df(h) >= 2)
        // run lengths of consecutive true flags
        var runs = List.empty[Long]; var cur = 0L
        shared.foreach { s =>
          if (s) cur += 1 else { if (cur > 0) runs ::= cur; cur = 0 }
        }
        if (cur > 0) runs ::= cur
        val nShared = shared.count(identity).toLong
        id -> (sh.length.toLong, nShared, if (runs.isEmpty) 0L else runs.max,
          math.floor(nShared.toDouble / sh.length * 1e6 + 0.5) / 1e6)
      }.toMap
      val ddf = docs.toDF("doc_id", "text")
      val sh = ddf
        .withColumn("_th", graft.functions.Text.tokenHashesFromText(col("text")))
        .select(col("doc_id"), graft.functions.Text.sortedShingleSet(col("_th")).as("sh"))
      val got = Curation.dupSpanStats(ddf, sh).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).toMap
      assert(got == expected, s"trial $trial: " +
        s"only-got=${(got.toSet diff expected.toSet).take(3)}, " +
        s"only-exp=${(expected.toSet diff got.toSet).take(3)}")
    }
  }

  test("hotspot n-grams find exactly the shingles crossing the df threshold") {
    // "x y z" appears in docs 1-4 (df=4); all other shingles are unique
    val boiler = "x y z"
    val docs = (1L to 4L).map(i => (i, s"u$i v$i w$i $boiler")) :+
      (5L, "p q r s t u v")
    val hot = Curation.hotspotNgrams(docs.toDF("doc_id", "text"), hotDf = 4).collect()
    // tokens u_i v_i w_i differ per doc, so only shingles fully inside
    // "x y z" context can repeat; exactly the df>=4 ones survive
    assert(hot.forall(_.getLong(1) >= 4L))
    assert(hot.nonEmpty)
    val all = Curation.hotspotNgrams(docs.toDF("doc_id", "text"), hotDf = 1)
      .filter(col("df") >= 4).count()
    assert(hot.length.toLong == all)
  }

  test("boiler fraction is n_boiler/n_shingles with zero-boiler docs present") {
    val docs = Seq(
      (1L, "a b c d e"), (2L, "a b c x y"), (3L, "a b c p q"),
      (4L, "m n o r s")).toDF("doc_id", "text")
    // "a b c" is the only shingle with df >= 3
    val bf = Curation.boilerFraction(docs, hotDf = 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(bf(1L) == ((3, 1L)) && bf(2L) == ((3, 1L)) && bf(3L) == ((3, 1L)))
    assert(bf(4L) == ((3, 0L))) // zero-boiler doc still reported
  }

  test("mix rates flatten the source distribution and cap at 1") {
    val docs = (1L to 100L).map(i => (i, if (i <= 80) "big" else "small", "t"))
      .toDF("doc_id", "source", "text")
    val rates = Curation.mixRates(docs).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(rates("big") - 0.5) < 1e-12)          // 0.5*sqrt(80/80)
    assert(math.abs(rates("small") - 0.5 * math.sqrt(4.0)) < 1e-12 ||
      rates("small") == 1.0)                               // 0.5*sqrt(80/20)=1.0 capped
    assert(rates.values.forall(r => r > 0 && r <= 1.0))
  }

  test("chunking cuts exact CHUNK windows with a remainder tail, fingerprints ordered") {
    val toks = (1 to 10).map(i => s"t$i").mkString(" ") // 10 tokens, chunk=4
    val docs = Seq((1L, toks)).toDF("doc_id", "text")
    val rows = Curation.chunkPack(docs, chunk = 4).collect()
      .map(r => (r.getInt(0 + 1), r.getInt(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((0, 4), (1, 4), (2, 2)))
    // order sensitivity: permuting tokens changes the chunk fingerprint
    val fp1 = Curation.chunkPack(docs, chunk = 4).orderBy("chunk_idx")
      .collect().map(_.getLong(3)).toSeq
    val docs2 = Seq((1L, (1 to 10).reverse.map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val fp2 = Curation.chunkPack(docs2, chunk = 4).orderBy("chunk_idx")
      .collect().map(_.getLong(3)).toSeq
    assert(fp1 != fp2)
  }

  test("packing concatenates per stream: pack ids advance with cumulative tokens") {
    // one source, force one shard by using shards=1; budget 10; docs of 6/6/10
    val docs = Seq(
      (1L, "s", (1 to 6).map(_ => "w").mkString(" ")),
      (2L, "s", (1 to 6).map(_ => "w").mkString(" ")),
      (3L, "s", (1 to 10).map(_ => "w").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val rows = Curation.seqPack(docs, budget = 10, shards = 1).collect()
      .map(r => r.getLong(2) -> (r.getLong(4), r.getLong(5))).toMap
    assert(rows(1L) == ((0L, 0L)))   // tokens 0-5
    assert(rows(2L) == ((0L, 1L)))   // tokens 6-11 straddles the cut at 10
    assert(rows(3L) == ((1L, 2L)))   // tokens 12-21
  }

  test("packShardCounts scales with source size; a giant source cannot serialize x10") {
    // source A 10x the per-shard budget, source B tiny: A's stream count
    // must grow (ceil(n/docsPerShard)) while B keeps the base — the same
    // derive-from-N pattern as IVF's cell count
    val docs = ((1L to 1000L).map(i => (i, "A", "w w w")) ++
      (1001L to 1050L).map(i => (i, "B", "w w w")))
      .toDF("doc_id", "source", "text")
    val counts = Curation.packShardCounts(docs, base = 4, docsPerShard = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("A") == 10L, s"1000 docs / 100 per shard must give 10 shards: $counts")
    assert(counts("B") == 4L, s"a small source keeps the base shard count: $counts")
    // and seqPack actually spreads the giant source over those streams:
    // every shard id in [0, 10) appears for A
    val shards = Curation.seqPack(docs, budget = 10, shards = 4, docsPerShard = 100L)
      .filter(col("source") === "A").select("shard").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(shards.size > 4, s"giant source must use more than base streams: $shards")
  }

  test("mix sampling is deterministic and repartition-invariant") {
    val docs = (1L to 500L).map(i => (i, s"src${i % 7}", "text body here"))
      .toDF("doc_id", "source", "text")
    val a = Curation.mixSampleSummary(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    val b = Curation.mixSampleSummary(docs.repartition(13)).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).sortBy(_._1)
    assert(a.sameElements(b))
    // sampled counts respect the rate direction: no source keeps more docs
    // than it has, every source with rate 1 keeps everything it hashed in
    assert(a.forall { case (_, n, k) => k <= n })
  }

  test("shuffle-shard: invariant assignment, seed reshuffles, sorted sharded layout") {
    val docs = (1L to 2000L).map(i => (i, "body")).toDF("doc_id", "text")
    def asg(df: org.apache.spark.sql.DataFrame, seed: Int = 42) =
      Curation.shuffleShard(df, shards = 8, seed = seed).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val base = asg(docs)
    // pure function of (seed, doc_id): partitioning cannot move anything
    assert(asg(docs.repartition(13)) == base)
    // every shard populated, no shard hoards (8-way over 2000 docs)
    val perShard = base.values.groupBy(_._1).view.mapValues(_.size)
    assert(perShard.size == 8 && perShard.values.min > 100)
    // a new seed is a new permutation: most docs change shard
    val reseeded = asg(docs, seed = 43)
    val moved = base.count { case (id, (sh, _)) => reseeded(id)._1 != sh }
    assert(moved > 1000, s"only $moved docs moved on reseed")
    // the layout write: one file per shard, rows sorted by sortkey
    val dir = java.nio.file.Files.createTempDirectory("graft_shuf").toString
    // sort by (shard, sortkey): the dynamic-partition writer requires its
    // input ordered by the partition column and would inject its own
    // NON-STABLE sort on shard otherwise, scrambling the sortkey order
    Curation.shuffleShard(docs, shards = 8)
      .repartition(8, col("shard")).sortWithinPartitions("shard", "sortkey")
      .write.partitionBy("shard").mode("overwrite").parquet(dir)
    val shard3 = spark.read.parquet(s"$dir/shard=3").select("sortkey")
      .collect().map(_.getLong(0))
    assert(shard3.nonEmpty && shard3.sameElements(shard3.sorted),
      "shard file must come back in sortkey order")
  }

  test("shingle-set artifact roundtrip: parquet == direct build, consumers identical") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("graft_shingles").toString
    Curation.shingleSetsToParquet(docs, dir)
    val back = Curation.shingleSetsFromParquet(spark, dir)
    // sorted-distinct sets are deterministic per doc => EXACT frame equality
    val direct = docs
      .withColumn("_th", graft.functions.Text.tokenHashesFromText(col("text")))
      .select(col("doc_id"), graft.functions.Text.sortedShingleSet(col("_th")).as("sh"))
    assert(back.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(back).count() == 0)
    // a d8-shaped consumer served from the ARTIFACT equals the direct run
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(norm(Curation.hotspotNgramsFrom(back)) ==
      norm(Curation.hotspotNgramsFrom(direct)))
  }
}
