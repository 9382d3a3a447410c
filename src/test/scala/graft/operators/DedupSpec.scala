package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("connected components: chains, rings and singletons resolve to min id") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),    // chain -> comp 1
      (10L, 11L), (11L, 12L), (12L, 10L), // ring -> comp 10
      (20L, 21L)                        // pair -> comp 20
    ).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comps(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(comps(_) == 10L))
    assert(Seq(20L, 21L).forall(comps(_) == 20L))
  }

  test("canonicalAssignment: non-candidates stay their own canonical") {
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((2L, 5L)).toDF("doc_a", "doc_b")
    val out = Dedup.canonicalAssignment(docs, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(5L) == ((2L, true)))
    assert(out(2L) == ((2L, false)))
    assert(out(1L) == ((1L, false)) && out(6L) == ((6L, false)))
    // dedup keeps exactly one representative per cluster
    val kept = out.count(!_._2._2)
    assert(kept == 5)
  }

  test("incrementalComponents(labels, new) == CC(old ∪ new): merge, new nodes, untouched") {
    val old = Seq(
      (1L, 2L), (2L, 3L),   // cluster {1,2,3}
      (10L, 11L),           // cluster {10,11}
      (20L, 21L), (21L, 22L) // cluster {20,21,22} — untouched by the batch
    ).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(old)
    val batch = Seq(
      (3L, 10L),  // merges {1,2,3} with {10,11} -> comp 1
      (30L, 31L), // brand-new cluster
      (11L, 32L)  // new node joining the merged cluster
    ).toDF("doc_a", "doc_b")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val inc = m(Dedup.incrementalComponents(labels, batch))
    val scratch = m(Dedup.connectedComponents(old.unionByName(batch)))
    assert(inc == scratch)
    assert(Seq(1L, 2L, 3L, 10L, 11L, 32L).forall(inc(_) == 1L))
    assert(Seq(20L, 21L, 22L).forall(inc(_) == 20L))
    assert(inc(30L) == 30L && inc(31L) == 30L)
    // an empty batch is the identity on the labeling (self-loops ride the
    // symmetrized explode; singleton labels survive)
    val idem = m(Dedup.incrementalComponents(labels,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")))
    assert(idem == m(labels))
  }

  test("incrementalComponents fuzz: random old graph + random batch == from-scratch CC") {
    val rnd = new scala.util.Random(0x1c2)
    for (round <- 1 to 4) {
      val nOld = 20 + rnd.nextInt(30)
      val old = (1 to 15 + rnd.nextInt(20)).map { _ =>
        val a = rnd.nextInt(nOld).toLong; val b = rnd.nextInt(nOld).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
      // batch edges reach into the old id space AND a fresh id range, so
      // merges, new clusters and old-new bridges all occur
      val batch = (1 to 5 + rnd.nextInt(10)).map { _ =>
        val a = rnd.nextInt(nOld + 15).toLong
        val b = (nOld + rnd.nextInt(15)).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).toDF("doc_a", "doc_b")
      def m(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val labels = Dedup.connectedComponents(old)
      val inc = m(Dedup.incrementalComponents(labels, batch))
      val scratch = m(Dedup.connectedComponents(old.unionByName(batch)))
      assert(inc == scratch, s"round=$round: " +
        s"only-inc=${inc.diff(scratch).take(3)}, " +
        s"only-scratch=${scratch.diff(inc).take(3)}")
    }
  }

  test("long chain needs multiple propagation rounds") {
    val n = 40L
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comps = Dedup.connectedComponents(pairs, maxIter = 50).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to n).forall(comps(_) == 1L))
  }

  test("randomized graphs match a driver-side union-find (fused round 1 gate)") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 3) {
      val nNodes = 60 + rnd.nextInt(80)
      val pairs = Seq.fill(40 + rnd.nextInt(120)) {
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => k -> find(k)).toMap
      val got = Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"), maxIter = 50)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial: CC disagrees with union-find")
    }
  }

  test("CC under a RELIABLE checkpoint dir gives identical components") {
    // cluster posture: with a checkpoint dir configured, the per-round
    // lineage truncation goes through reliable storage instead of
    // executor-local blocks (which die with their executor)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 20L)).toDF("doc_a", "doc_b")
    val base = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft_ccckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val reliable = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reliable == base)
      // checkpoint storage is BOUNDED (ADVICE r11): each round's files are
      // deleted once the next round materializes, so a multi-round CC run
      // leaves exactly the final round's subdir — not one per iteration
      val ckptRoot = new java.io.File(spark.sparkContext.getCheckpointDir.get
        .stripPrefix("file:"))
      val chains = ckptRoot.listFiles().filter(_.getName.startsWith("graft-cc-"))
      assert(chains.length == 1,
        s"expected exactly the final round's checkpoint, got ${chains.toSeq}")

      // a chain whose JVM was SIGKILLed never runs its shutdown hook; its
      // leftover dirs are reclaimed by the NEXT chain's construction-time
      // sweep (ADVICE r12) — while the live chain's final dir is untouched
      val dead = new java.io.File(ckptRoot, "graft-cc-deadbeef0000-3")
      assert(dead.mkdirs())
      val survivor = chains.head.getName
      val again = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(again == base)
      val after = ckptRoot.listFiles().filter(_.getName.startsWith("graft-cc-"))
        .map(_.getName).toSet
      assert(!after.contains("graft-cc-deadbeef0000-3"),
        "stale dir from a dead chain must be swept at chain construction")
      assert(after.contains(survivor),
        "the previous CC result's final dir is LIVE (its frame reads it " +
          "lazily) and must survive the sweep until application end")
      assert(after.size == 2, s"previous final + new final, nothing else: $after")
    } finally {
      // do not leak the dir into later suites (localCheckpoint default)
      spark.sparkContext.setCheckpointDir(null)
    }
  }
}
