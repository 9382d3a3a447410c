package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Final stage of near-duplicate deduplication: candidate pairs (from LSH /
  * cosine blocking) form an undirected graph; connected components give the
  * duplicate clusters, and the minimum doc id in each cluster becomes the
  * canonical representative every member collapses to.
  *
  * Distributed min-label propagation: each iteration joins labels across
  * edges and keeps the elementwise min — O(diameter) rounds of hash joins,
  * no driver-side union-find, so it scales to billions of edges. Duplicate
  * clusters from text dedup are tiny and dense (diameter 2-3), so this
  * converges in a handful of rounds.
  */
object Dedup {

  /** Lineage-truncating checkpoint per round: RELIABLE (checkpoint-dir
    * parquet round-trip) when the session has a checkpoint dir configured
    * (cluster posture — localCheckpoint blocks die with their executor,
    * and one lost block fails the job under dynamic allocation), else the
    * fast executor-local form (the single-JVM default, where executor
    * loss IS job loss anyway). DedupSpec runs CC under both modes.
    *
    * The reliable arm writes each round to its own subdir and DELETES the
    * previous round's subdir once the new one has materialized — Spark's
    * own `.checkpoint()` never reclaims reliable files unless
    * spark.cleaner.referenceTracking.cleanCheckpoints is on AND the RDD
    * gets GC'd, so a long CC run accumulated one checkpoint per iteration
    * on the reliable store (ADVICE r11). One chain per CC invocation;
    * only the FINAL round's files survive the call (the returned frame
    * reads from them, so they must stay valid for the session) — and a
    * session-end listener deletes those finals too, so repeated CC
    * invocations in a long-lived application leave ZERO residue on the
    * reliable store after shutdown (one live dir per un-dropped result
    * during the session is the irreducible minimum: the caller's frame
    * reads it lazily). */
  private object CkptCleanup {
    private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // keyed by applicationId, not System.identityHashCode(sc): an identity
    // hash can collide with a previous (GC'd) context's, silently skipping
    // listener registration for the new context (ADVICE r12)
    private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    /** Track `p` for shutdown deletion. MUST be called BEFORE the dir is
      * written: `sweepStale` treats any graft-cc-* dir not in `live` as a
      * dead chain's leftover, so registering after the write would race a
      * concurrent chain's construction-time sweep. */
    def register(s: org.apache.spark.sql.SparkSession,
                 p: org.apache.hadoop.fs.Path): Unit = {
      live.add(p.toString)
      val sc = s.sparkContext
      if (hooked.add(sc.applicationId)) {
        sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onApplicationEnd(
              e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
            val conf = sc.hadoopConfiguration
            live.forEach { dir =>
              try {
                val p = new org.apache.hadoop.fs.Path(dir)
                p.getFileSystem(conf).delete(p, true)
              } catch { case _: Throwable => () } // best-effort at shutdown
            }
            live.clear()
          }
        })
      }
    }

    def deregister(p: org.apache.hadoop.fs.Path): Unit = live.remove(p.toString)

    /** Delete graft-cc-* dirs under this app's checkpoint dir that no live
      * chain owns — leftovers from a chain whose JVM died before its
      * onApplicationEnd hook ran (the hook is only best-effort; a SIGKILL
      * skips it). Scope note: `setCheckpointDir` nests a per-application
      * UUID dir, so this sweep can only see THIS application's leftovers
      * (same long-lived session, earlier failed chain). A previous killed
      * JVM's dirs sit under a sibling UUID we deliberately do not touch —
      * a sibling could equally be a concurrently RUNNING application's
      * live chain, and deleting it would corrupt that job. Cross-app
      * reclamation is the store's retention policy's job. */
    def sweepStale(s: org.apache.spark.sql.SparkSession): Unit =
      s.sparkContext.getCheckpointDir.foreach { dir =>
        try {
          val root = new org.apache.hadoop.fs.Path(dir)
          val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(root)) fs.listStatus(root).foreach { st =>
            val p = st.getPath
            if (p.getName.startsWith("graft-cc-") && !live.contains(p.toString))
              try fs.delete(p, true) catch { case _: Throwable => () }
          }
        } catch { case _: Throwable => () } // sweep is best-effort hygiene
      }
  }

  private final class CkptChain(s: org.apache.spark.sql.SparkSession) {
    private val base = s.sparkContext.getCheckpointDir
    private val runId = java.util.UUID.randomUUID().toString.take(12)
    private var n = 0
    private var prev: Option[org.apache.hadoop.fs.Path] = None
    CkptCleanup.sweepStale(s)

    def cp(df: DataFrame): DataFrame = base match {
      case Some(dir) =>
        n += 1
        val p = new org.apache.hadoop.fs.Path(dir, s"graft-cc-$runId-$n")
        CkptCleanup.register(s, p) // before the write — see register's contract
        df.write.mode("overwrite").parquet(p.toString)
        val out = s.read.parquet(p.toString)
        prev.foreach { old =>
          old.getFileSystem(s.sparkContext.hadoopConfiguration).delete(old, true)
          CkptCleanup.deregister(old)
        }
        prev = Some(p)
        out
      case None => df.localCheckpoint()
    }
  }

  /** (id, component) for every id appearing in `pairs`; component = min id
    * reachable. Runs until fixpoint or `maxIter`.
    *
    * Pointer jumping runs at every graph size. An older 2^18-node floor
    * assumed each jump cost a fixed ~seconds checkpoint; at sf0.1 (V=1140)
    * a small-V checkpoint measured ~0.2 s, and jumping converged in 3
    * propagation rounds instead of 5 with identical label checksums
    * (OPTIMIZATION_r17.md §1). Since round 18 the jump follows the
    * previous round's labels, one checkpoint per round
    * (OPTIMIZATION_r18.md §2). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    val chain = new CkptChain(pairs.sparkSession)
    def cp(df: DataFrame): DataFrame = chain.cp(df)
    // symmetrize with ONE pass over `pairs`: a two-branch union evaluates
    // the whole upstream pipeline (LSH band join + distinct at 100x) twice;
    // exploding both directions from each row reads it once.
    // Persisted PRE-PARTITIONED on the per-round join key: InMemoryRelation
    // keeps the hash partitioning, so the edge set is shuffled once here,
    // not once per iteration (only the small labels side moves each round)
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("dst"))
      .persist()
    // FIRST propagation round, fused: with identity labels (comp == id) the
    // generic round's edges⋈labels is the identity on the edge set, so
    // round 1 is exactly min-neighbor ∪ self = groupBy(dst).agg(min(src)) —
    // and grouping on dst reuses the hash partitioning the persist pinned,
    // so the fused round is exchange-free where the generic round paid a
    // V-sized distinct + checkpoint, a labels shuffle, and an E-sized join.
    // (By symmetry the node set and the min over neighbors are identical
    // viewed from dst or src.) localCheckpoint per round truncates lineage —
    // without it the nested plan grows with every iteration and planning
    // itself blows up.
    var labels = cp(edges.groupBy(col("dst"))
      .agg(min(col("src")).as("_nmin"))
      .select(col("dst").as("id"), least(col("dst"), col("_nmin")).as("comp")))
    var iter = 1 // round 1 already ran above
    var converged = false // round 1 always changes the larger end of some pair
    while (iter < maxIter && !converged) {
      val neighborMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src")).agg(min("comp").as("ncomp"))
      // carry the previous label through the checkpoint so convergence is
      // a scan of the materialized rows — not an extra join + shuffle
      val cand = labels.join(neighborMin, labels("id") === neighborMin("src"), "left")
        .select(col("id"), col("comp").as("_old"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("_c1"))
      // pointer jumping between the E-sized propagations: comp := comp(comp),
      // a LABEL-table join (V-sized — cheap relative to the edge round).
      // A label is always a reachable node's id, so following it stays
      // within the component and is monotone toward the min; chains that
      // would cost one heavy edge round per hop collapse geometrically
      // instead (the skewed-replica probe's boilerplate chains: d7 312s
      // without jumps, 122s with; the unskewed 100x graph 128s -> 104s).
      // Round 18: the jump follows the PREVIOUS round's labels table —
      // already materialized, so it folds into the SAME projection and the
      // round pays ONE checkpoint instead of two (on a reliable checkpoint
      // store that halves the per-round V-sized write+read). Correctness
      // is unchanged: convergence is decided by `changed == 0`, any
      // monotone within-component map keeps every comp >= its component
      // min, and a stable labeling under the neighbor round alone is
      // already constant-per-component (the r17 argument). Measured at
      // sf0.1 and the 100x replica: identical round counts and checksums,
      // each round cheaper locally (OPTIMIZATION_r18.md §2).
      val j = labels.select(col("id").as("_jid"), col("comp").as("_jcomp"))
      val updated = cp(
        cand.join(j, cand("_c1") === j("_jid"), "left")
          .select(col("id"), col("_old"),
            least(col("_c1"), coalesce(col("_jcomp"), col("_c1"))).as("comp")))
      val changed = updated.filter(col("comp") =!= col("_old")).count()
      labels = updated.select("id", "comp")
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    labels
  }

  /** Incremental duplicate-cluster maintenance — fold a NEW batch's
    * candidate edges (TextDedup.incrementalEstSimPairs' output, i.e. x17's
    * pairs) into an EXISTING labeling without re-pairing the at-rest
    * corpus: components of (old graph ∪ new edges) over the union node
    * set, as (id, comp) with comp = min reachable id.
    *
    * Why this is exact: an (id, comp) labeling IS a component-equivalent
    * star form of the old graph (every member linked to its cluster min —
    * the same argument as TextDedup.bandStarEdges), and component
    * equivalence is preserved under union with the same extra edges, so
    * CC(labels-as-edges ∪ new) == CC(old-edges ∪ new) as a partition —
    * and min-id canonicals depend only on the partition. The label edges
    * are V-sized (not E-sized) and every old cluster enters as a depth-1
    * star, so propagation converges in the rounds the NEW edges need, not
    * the old graph's diameter. Self-rows (id == comp) ride along as
    * self-loops; singleton labelings survive into the output unchanged.
    * DedupSpec pins equality to the from-scratch CC on merge / new-node /
    * untouched-cluster cases plus a randomized fuzz.
    *
    * Round 18 measured a cluster-contraction alternative (CC over the
    * batch's rep edges only): 5-9% faster at the 100x replica, inside the
    * noise, and ~0.9 s slower on x18/x23 at sf0.1, so this union form
    * stays (OPTIMIZATION_r18.md §3). */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame): DataFrame =
    connectedComponents(
      labels.select(col("id").as("doc_a"), col("comp").as("doc_b"))
        .unionByName(newEdges.select("doc_a", "doc_b")))

  /** Every document mapped to its canonical id: cluster minimum for members
    * of a duplicate cluster, itself otherwise. `docs` needs a `doc_id`. */
  def canonicalAssignment(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    docs.join(comps, docs("doc_id") === comps("id"), "left")
      .select(docs("doc_id"),
        coalesce(col("comp"), docs("doc_id")).as("canonical_id"))
      .withColumn("is_duplicate", col("canonical_id") =!= col("doc_id"))
  }
}
