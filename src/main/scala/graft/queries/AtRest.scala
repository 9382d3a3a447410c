package graft.queries

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Fingerprint-keyed parquet store of the corpus-derived artifacts every
  * curation consumer shares at a real lake: MinHash signatures, the
  * (doc_id, term, tf) term-frequency table, the corpus row count recorded
  * at ingest, and the previous resolve's duplicate-cluster labels.
  *
  * This is the round-13 at-rest economics (NOTES.md "Round 13, second
  * session") promoted to first-class, oracle-gated queries (VERDICT r13
  * #1/#2): an ingest job pays the
  * corpus tokenize/hash pass ONCE (`x19_atrest_build`, `x22_labels_build`
  * — both price the build honestly by overwriting unconditionally), and
  * every consumer (`x20_atrest_tfidf`, `x21_atrest_pairs`,
  * `x23_atrest_resolve`, and d7's star-edge build) scans the compact
  * columnar tables instead of re-deriving from raw text. The consumers'
  * outputs are identical by construction to their self-contained siblings
  * (x12, d3, x18), so those queries' DuckDB oracles gate them VERBATIM —
  * the x18 oracle-reuse trick, now covering the whole at-rest family.
  *
  * Freshness without a catalog: the store directory is keyed by a
  * fingerprint of the backing `documents.parquet` (every file's name,
  * length, and mtime), and every table name carries its DERIVATION RECIPE
  * (TextDedup.sigRecipe for signatures/labels, the tokenizer tag for tf)
  * — so neither a rebuilt corpus nor a changed recipe can ever serve
  * stale rows. Builds read RAW table files, never session memos: a memo
  * can outlive an external corpus rewrite, and a fresh-fingerprint store
  * must hold fresh-corpus rows (review r14 finding). A rebuilt corpus
  * gets a fresh store; stores for a superseded fingerprint of the same
  * input path are swept best-effort. At a real lake this role is played
  * by the table catalog's snapshot id; the fingerprint is the standalone
  * equivalent, making a stale read structurally impossible.
  *
  * Writes go to a temp sibling then rename into place, so a crashed or
  * racing build can never leave a half-written directory that passes the
  * `_SUCCESS` gate (Spark writes `_SUCCESS` last, but two overlapping
  * overwrite jobs into one directory can interleave part files — the
  * rename makes the publish atomic). ALL store management (present /
  * publish / sweep / purge) goes through `org.apache.hadoop.fs`, the same
  * API `fingerprint()` uses — so a `GRAFT_ATREST_DIR` on HDFS behaves
  * identically to a local one (advisor r14: the java.io.File paths made a
  * non-local root silently discard every build). The publish rename is
  * `FileContext.rename` with no OVERWRITE flag: it FAILS if the target
  * exists, which is exactly the first-writer-wins primitive the ensure
  * path needs (a losing racer's `FileSystem.rename` would instead move
  * its temp INSIDE the winner's directory). Atomic on local/HDFS. Object
  * stores emulate rename as copy+delete, so the publish additionally
  * carries a COMMIT MARKER (r16, VERDICT r15 #2): a `_GRAFT_COMMIT`
  * object written only after the whole data move, required by
  * `present()` alongside `_SUCCESS`, removed FIRST on any delete — so a
  * half-copied or half-deleted table is structurally invisible to
  * consumers on ANY filesystem, and publish clears such corpses itself
  * before renaming. This is the minimal Iceberg-shaped commit protocol
  * without adopting a table format offline; a real s3 deployment can
  * still swap a catalog commit into the same ensure/publish/present
  * seam.
  *
  * Consumers ENSURE (build-if-absent) so every registered query stays
  * self-contained for the correctness gate; Bench/RunQuery pre-seed the
  * store before timing, so consumer timings price exactly the scan-side
  * cost — the steady state the at-rest design exists for — while x19/x22
  * keep the build cost visible in every run.
  */
object AtRest {

  /** Store root — override with GRAFT_ATREST_DIR (e.g. a per-CI scratch or
    * an HDFS path). The default is USER-SCOPED under java.io.tmpdir: a
    * fixed world-shared /tmp path would let two users' runs collide on the
    * same directories (and trust each other's `_SUCCESS`-gated content) on
    * a multi-user box (advisor r14). */
  private def root: String =
    sys.env.getOrElse("GRAFT_ATREST_DIR",
      s"${sys.props("java.io.tmpdir")}/graft_atrest_store-${sys.props("user.name")}")

  private def hconf(s: SparkSession): Configuration =
    s.sparkContext.hadoopConfiguration
  private def fsFor(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(hconf(s))

  /** A resolved store for one (input corpus, fingerprint): all path
    * decisions happen once per operation, not once per path accessor
    * (the fingerprint walk + stale sweep are metadata round-trips — cheap
    * locally, dozens of RPCs on an object store). */
  final case class Store(dir: String) {
    def sig: String = s"$dir/signatures-${TextDedup.sigRecipe}"
    def tf: String = s"$dir/tf-ws1" // ws1 = whitespace tokenizer, v1
    def df: String = s"$dir/df-ws1" // document frequency per term, same tokenizer
    def meta: String = s"$dir/meta-v1"
    /** Labels of the OLD batch (doc_id % 5 != 0 — the registered queries'
      * stand-in for "yesterday's corpus"); the suffix names BOTH the batch
      * predicate and the signature recipe the edges came from. */
    def labels: String = s"$dir/labels_notmod5-${TextDedup.sigRecipe}"
  }

  /** (input-path id, content fingerprint) of `d`'s documents table: the id
    * keys "same input path" (so stale fingerprints of the same corpus can
    * be swept), the fingerprint keys "same bytes" (name+len+mtime of every
    * file under the table — Hadoop FS, so object stores work the same). */
  private def fingerprint(s: SparkSession, d: String): (String, String) = {
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$d/documents.parquet")
    val fs = p.getFileSystem(conf)
    def hex(md: java.security.MessageDigest) =
      md.digest().map("%02x".format(_)).mkString
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(path: org.apache.hadoop.fs.Path): Unit = {
      val st = fs.getFileStatus(path)
      if (st.isDirectory)
        fs.listStatus(path).sortBy(_.getPath.getName).foreach(c => walk(c.getPath))
      else md.update(
        s"${path.getName}:${st.getLen}:${st.getModificationTime};".getBytes("UTF-8"))
    }
    walk(p)
    val idMd = java.security.MessageDigest.getInstance("MD5")
    idMd.update(fs.makeQualified(p).toString.getBytes("UTF-8"))
    (hex(idMd).take(12), hex(md).take(16))
  }

  /** Resolve the store for `d` — ONE fingerprint walk, READ-ONLY. The
    * stale-sibling sweep deliberately does NOT run here: resolve sits
    * inside every registered consumer query, and a sweep there could
    * delete files out from under a concurrent session still scanning a
    * pre-rewrite store (advisor r14). Sweeps fire only from WRITE paths
    * (`sweepStale` below). */
  def resolve(s: SparkSession, d: String): Store = {
    val (id, fp) = fingerprint(s, d)
    Store(s"$root/${id}_$fp")
  }

  /** Delete superseded-fingerprint stores of the same input path,
    * best-effort. Called only from build paths (ensure's build branch,
    * x19/x22's unconditional rebuilds, preSeed): anyone about to WRITE the
    * current store is already past reading a stale one, while a pure
    * consumer never deletes. A concurrent JVM's in-flight build of a
    * CURRENT store is never touched — only differing fingerprints match. */
  private def sweepStale(s: SparkSession, st: Store): Unit =
    // the WHOLE sweep is best-effort hygiene: a transient FS error listing
    // the root must not abort the build/ensure that triggered it
    try {
      val dirP = new Path(st.dir)
      val live = dirP.getName
      val id = live.take(12) // store dir name = <12-hex id>_<16-hex fp>
      val fs = fsFor(s, dirP)
      val rootP = dirP.getParent
      if (fs.exists(rootP))
        fs.listStatus(rootP).foreach { f =>
          val n = f.getPath.getName
          if (n.startsWith(s"${id}_") && n != live)
            try { fs.delete(f.getPath, true): Unit }
            catch { case _: java.io.IOException => () }
        }
    } catch { case _: java.io.IOException => () }

  /** Remove the whole store for `d` — test hygiene (AtRestSpec fixtures
    * would otherwise accumulate one orphan store per temp corpus). */
  def purge(s: SparkSession, d: String): Unit = {
    val p = new Path(resolve(s, d).dir)
    fsFor(s, p).delete(p, true): Unit
  }

  /** The publish commit marker — written into the table directory AFTER
    * the temp→target data move completes, and required by [[present]]
    * alongside Spark's `_SUCCESS` (VERDICT r15 #2). On local/HDFS the
    * rename is atomic and the marker is belt-and-braces; on an object
    * store that emulates rename as copy+delete, a consumer could otherwise
    * list a HALF-COPIED table whose `_SUCCESS` object happened to copy
    * first and trust it as complete. A single small-object PUT is atomic
    * on every store, so marker-present ⟹ some publish finished its whole
    * data move first. The marker needs no content fingerprint of its own:
    * the table path already IS the content address (store dir =
    * corpus fingerprint, table name = derivation recipe), so "this exact
    * path committed" is precisely "these exact bytes committed". */
  private[queries] val CommitMarker = "_GRAFT_COMMIT"

  private[queries] def present(s: SparkSession, path: String): Boolean = {
    val fs = fsFor(s, new Path(path))
    fs.exists(new Path(path, "_SUCCESS")) &&
      fs.exists(new Path(path, CommitMarker))
  }

  // one lock per JVM (Verify/Bench are sequential; a racing ensure from a
  // parallel test suite must not double-write); cross-JVM races are closed
  // by the write-then-rename publish below, not by this lock
  private val buildLock = new Object

  /** Write `df` as parquet at `path` via a temp sibling + rename
    * (`FileContext.rename` with no OVERWRITE flag — fails if the target
    * exists, never moves the temp inside it). For ensure builds
    * (overwrite=false) the publish is atomic: the target either keeps its
    * old complete state or appears complete. On a lost cross-JVM race
    * (target appeared while we wrote), the temp is discarded — first
    * writer wins, and contents are deterministic per (fingerprint,
    * recipe) so the loser's work was byte-equivalent anyway. The
    * overwrite path (x19/x22's priced rebuilds) has a brief delete→rename
    * window in which a concurrent reader would miss the table — rebuild
    * steps are sequenced before consumers everywhere (bench sort order,
    * preSeed, the query bodies). Any OTHER rename/delete failure throws
    * (advisor r14: the old path swallowed it, leaving the table silently
    * absent and consumers crashing later with an obscure read error). */
  private def publish(df: DataFrame, path: String, overwrite: Boolean): Unit = {
    val s = df.sparkSession
    val target = new Path(path)
    val fs = fsFor(s, target)
    val tmp = new Path(
      s"$path.inprogress-${java.util.UUID.randomUUID.toString.take(8)}")
    df.write.mode("overwrite").parquet(tmp.toString)
    // a target that exists but is not present() is EITHER a corpse — a
    // publish whose copy-rename or delete was interrupted before its
    // commit marker landed (or after the marker was removed) — OR a
    // concurrent winner inside its sub-second rename→marker window.
    // Deleting immediately races the latter: the cleaner can remove a
    // complete table whose marker lands a beat later, leaving a
    // marker-only corpse that reads as present but has no parquet (r16
    // advisor). Grant the same bounded grace the rename-failure path
    // grants: re-check present() over ~2s, and only declare a corpse (and
    // delete, so the rename below cannot be blocked forever by debris) if
    // the marker never appears. A target that commits during the grace is
    // a live table — the ensure path will lose the rename and adopt it;
    // the overwrite path deletes it deliberately just below.
    if (fs.exists(target) && !present(s, path)) {
      var committed = false
      var waited = 0
      while (!committed && waited < 20 && fs.exists(target)) {
        Thread.sleep(100); waited += 1; committed = present(s, path)
      }
      // live-mover guard (r17 review): on a store where rename is
      // emulated as copy+delete, a LARGE concurrent publish can sit in
      // its data move for far longer than the 2s marker grace — but a
      // live mover keeps minting fresh objects under the target, while a
      // genuine corpse (crashed publisher) goes cold. Only delete a
      // target whose newest object is older than
      // spark.graft.atrest.corpseMinAgeMs (default 30s). A fresher
      // unmarked target is left alone: this ensure's rename then fails
      // and either adopts the mover's commit (grace loop below) or
      // throws — fail-rather-than-corrupt. Residual unsupported window:
      // a mover stalled longer than the threshold mid-copy.
      if (!committed && fs.exists(target) &&
          System.currentTimeMillis() - newestMtime(fs, target) >=
            corpseMinAgeMs(s))
        deleteTable(fs, target, path)
    }
    // delete returning false with the path still present is a real
    // failure; false because the path vanished (a racing overwrite's
    // delete won) is not — re-check before aborting
    if (overwrite && fs.exists(target) && !deleteTable(fs, target, path) &&
        fs.exists(target)) {
      fs.delete(tmp, true): Unit
      throw new java.io.IOException(
        s"at-rest publish: could not delete $target for overwrite")
    }
    val fc = FileContext.getFileContext(fs.getUri, hconf(s))
    val weWon =
      try { fc.rename(fs.makeQualified(tmp), fs.makeQualified(target)); true }
      catch {
        case e: java.io.IOException =>
          fs.delete(tmp, true): Unit
          // a COMMITTED target appearing before our rename is the lost
          // race, not an error — on the ensure path (first-writer-wins)
          // AND on the overwrite path, where a concurrent ensure can
          // legitimately republish in our delete→rename window (advisor
          // r15); contents are deterministic per (fingerprint, recipe), so
          // the winner's bytes equal ours either way. A racer that won the
          // rename may not have written its marker yet — give that
          // sub-second window a bounded grace before declaring the target
          // broken. An absent or still-uncommitted target after that is a
          // real failure.
          var lostRace = present(s, path)
          var waited = 0
          while (!lostRace && waited < 20 && fs.exists(target)) {
            Thread.sleep(100); waited += 1; lostRace = present(s, path)
          }
          if (!lostRace) throw e
          false
      }
    // the commit, AFTER the whole data move — and ONLY on the winning
    // rename: on a lost race the winner's _GRAFT_COMMIT already exists
    // (present() just confirmed it), so writing ours would throw
    // FileAlreadyExistsException and fail an ensure that should adopt the
    // winner's byte-equivalent table (r16 advisor). One small-object
    // atomic create, fail-if-exists: on the winning path a pre-existing
    // marker is a logic error that should surface loudly rather than
    // silently double-commit.
    if (weWon) {
      val marker = new Path(path, CommitMarker)
      val out = fs.create(marker, false)
      try out.write(
        s"graft at-rest commit ${java.time.Instant.now()}\n".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Corpse-deletion age threshold (ms): an unmarked target may only be
    * cleaned once its newest object is at least this old — younger means
    * a possibly-live concurrent mover (see the guard in [[publish]]).
    * Tests that fabricate fresh corpses set it to 0. */
  private def corpseMinAgeMs(s: SparkSession): Long =
    s.conf.get("spark.graft.atrest.corpseMinAgeMs", "30000").toLong

  /** Newest modification time of any object at or under `target` — the
    * liveness signal for the corpse-clean guard. One level of recursion
    * covers parquet's flat layout plus partitioned subdirs. */
  private def newestMtime(fs: FileSystem, target: Path): Long = {
    def walk(p: Path): Long =
      try {
        val sts = fs.listStatus(p)
        if (sts.isEmpty) 0L
        else sts.map { st =>
          if (st.isDirectory) math.max(st.getModificationTime, walk(st.getPath))
          else st.getModificationTime
        }.max
      } catch { case _: java.io.IOException => 0L }
    val own =
      try fs.getFileStatus(target).getModificationTime
      catch { case _: java.io.IOException => 0L }
    math.max(own, walk(target))
  }

  /** Delete a published table with the marker FIRST: the marker delete is
    * one atomic small-object remove, so the table flips to not-present()
    * before any data file disappears — an interrupted delete can never
    * leave a committed-looking half-table (the mirror image of writing
    * the marker last on publish). */
  private def deleteTable(fs: FileSystem, target: Path, path: String): Boolean = {
    val marker = new Path(path, CommitMarker)
    if (fs.exists(marker)) fs.delete(marker, false): Unit
    fs.delete(target, true)
  }

  /** Signature build — from the RAW documents table, deliberately not the
    * session token-hash memo: the memo can outlive an external corpus
    * rewrite, and this store's freshness contract is fingerprint-keyed. */
  private def buildSignatures(s: SparkSession, d: String, st: Store,
                              overwrite: Boolean): Unit =
    publish(TextDedup.signatureFrame(Tables.documents(s, d)), st.sig, overwrite)

  private def buildTf(s: SparkSession, d: String, st: Store,
                      overwrite: Boolean): Unit =
    publish(TextDedup.termFrequencies(Tables.documents(s, d)), st.tf, overwrite)

  /** Document frequency per term — vocabulary-sized, derived from the
    * WRITTEN tf table (one pruned scan of its `term` column) via the ONE
    * shared df definition, so the two tables can never disagree about
    * tokenization or the aggregate. */
  private def buildDf(s: SparkSession, st: Store, overwrite: Boolean): Unit =
    publish(TextDedup.docFrequencies(s.read.parquet(st.tf)), st.df, overwrite)

  /** n_docs recorded at ingest: the idf denominator counts EVERY corpus row
    * (null/too-short texts produce no tf rows but still count — the x12
    * caveat), so it must be captured here, not re-derived from tf. */
  private def buildMeta(s: SparkSession, d: String, st: Store,
                        overwrite: Boolean): Unit = {
    val n = Tables.documents(s, d).count()
    publish(s.range(1).select(lit(n).as("n_docs")), st.meta, overwrite)
  }

  private def buildLabels(s: SparkSession, d: String, st: Store,
                          overwrite: Boolean): Unit = {
    val mh = s.read.parquet(ensureSignatures(s, d, st))
    publish(graft.operators.Dedup.connectedComponents(
      TextDedup.bandStarEdges(mh.filter(pmod(col("doc_id"), lit(5)) =!= 0))),
      st.labels, overwrite)
  }

  /** Build-if-absent. The stale-sibling sweep rides the BUILD branch only:
    * a session that found the table present is a pure reader and must not
    * delete anything a slower concurrent reader may still be scanning. */
  private def ensure(s: SparkSession, st: Store, path: String)
                    (build: => Unit): String =
    buildLock.synchronized {
      if (!present(s, path)) { sweepStale(s, st); build }
      path
    }

  private def ensureSignatures(s: SparkSession, d: String, st: Store): String =
    ensure(s, st, st.sig)(buildSignatures(s, d, st, overwrite = false))
  private def ensureLabels(s: SparkSession, d: String, st: Store): String =
    ensure(s, st, st.labels)(buildLabels(s, d, st, overwrite = false))

  /** Public ensure used by d7 and the bench pre-seed. */
  def ensureSignatures(s: SparkSession, d: String): String =
    ensureSignatures(s, d, resolve(s, d))

  /** Pre-seed every table the consumers scan — called by Bench/RunQuery
    * BEFORE timing so d7/x20/x21/x23 price the scan-side steady state on
    * any box, fresh or not (x19/x22 still price the builds: they overwrite
    * unconditionally). Not part of any timed query. */
  def preSeed(s: SparkSession, d: String): Unit = {
    val st = resolve(s, d)
    // no explicit sweep: each ensure below sweeps on its own build branch
    // (a fully-present store means the sweep already ran at its build, and
    // x19/x22 re-sweep on every rebuild) — an extra one here would just
    // repeat the root listStatus on stores where nothing can be stale
    ensureSignatures(s, d, st)
    ensure(s, st, st.tf)(buildTf(s, d, st, overwrite = false))
    ensure(s, st, st.df)(buildDf(s, st, overwrite = false))
    ensure(s, st, st.meta)(buildMeta(s, d, st, overwrite = false))
    ensureLabels(s, d, st)
  }

  /** The build-stage DataFrames, unexecuted — so PlanSpec can run its
    * cartesian/BNLJ/anti-pattern gates over the plans the build steps
    * actually execute (they run as side effects inside the query
    * closures, invisible to a gate that only sees the returned frame).
    * CC is iterative (no single inspectable plan) — its per-round join
    * shape is DedupSpec/PlanSpec-covered via d7 itself. */
  def buildPlans(s: SparkSession, d: String): Map[String, DataFrame] = Map(
    "x19_build_signatures" -> TextDedup.signatureFrame(Tables.documents(s, d)),
    "x19_build_tf" -> TextDedup.termFrequencies(Tables.documents(s, d)),
    // the real buildDf reads the written tf parquet (which may not exist
    // at plan-inspection time); the inspected plan derives the SAME df
    // aggregate over the tf expression — identical shape above the scan
    "x19_build_df" -> TextDedup.docFrequencies(
      TextDedup.termFrequencies(Tables.documents(s, d))),
    "x22_build_star_edges" -> TextDedup.bandStarEdges(
      TextDedup.signatureFrame(Tables.documents(s, d))
        .filter(pmod(col("doc_id"), lit(5)) =!= 0))
  )

  /** One-row-per-table summary of the WRITTEN store — read back from the
    * parquet files, so the checksums verify what is actually at rest, not
    * the frame that was handed to the writer. */
  private def storeSummary(s: SparkSession, st: Store): DataFrame = {
    val mhSum = (1 to TextDedup.K).map(i => col(s"mh$i")).reduce(_ + _)
    val sig = s.read.parquet(st.sig)
      .agg(count(lit(1)).as("n_rows"), sum(mhSum).as("checksum"))
      .select(lit("signatures").as("tbl"), col("n_rows"), col("checksum"))
    val tf = s.read.parquet(st.tf)
      .agg(count(lit(1)).as("n_rows"), sum(col("tf")).as("checksum"))
      .select(lit("tf").as("tbl"), col("n_rows"), col("checksum"))
    val df = s.read.parquet(st.df)
      .agg(count(lit(1)).as("n_rows"), sum(col("df")).as("checksum"))
      .select(lit("df").as("tbl"), col("n_rows"), col("checksum"))
    val meta = s.read.parquet(st.meta)
      .select(lit("meta").as("tbl"), lit(1L).as("n_rows"),
        col("n_docs").as("checksum"))
    sig.unionByName(tf).unionByName(df).unionByName(meta)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- X19: the ingest build step — write signatures + tf + n_docs,
    // UNCONDITIONALLY (overwrite), so the bench prices the one-time build
    // honestly every run; consumers then scan. The result is a
    // checksummed inventory of the written store, re-read from disk —
    // rows and sums the oracle recomputes from raw text, so a corrupted
    // or partial write cannot pass.
    "x19_atrest_build" -> { (s, d) =>
      val st = resolve(s, d)
      sweepStale(s, st)
      // Overlapped independent builds (optimization guide §2.6): the
      // signature scan, the tf scan and the meta count share no data, so
      // they are submitted from a 3-thread pool and Spark schedules them
      // concurrently — each job's straggler tail back-fills the others'
      // idle cores instead of serializing four full stage barriers. df
      // still runs strictly AFTER tf lands (it reads the WRITTEN tf
      // table — the consistency contract). Each build publishes its own
      // table through the unchanged temp+rename+marker protocol, so
      // contents are byte-identical to building them one after another.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val builds = Seq(
          scala.concurrent.Future(buildSignatures(s, d, st, overwrite = true))(ec),
          scala.concurrent.Future {
            buildTf(s, d, st, overwrite = true)
            buildDf(s, st, overwrite = true)
          }(ec),
          scala.concurrent.Future(buildMeta(s, d, st, overwrite = true))(ec))
        // await EVERY future before propagating any failure (r17 review):
        // a fail-fast Future.sequence rethrows while sibling builds are
        // still overwrite-publishing — orphan threads would then race the
        // caller's NEXT query (e.g. x20's tf ensure inside an orphan
        // delete→rename window) and their Spark jobs would pollute every
        // subsequently timed query. With all builds joined, failure
        // leaves no in-flight work; first error wins.
        val outcomes = builds.map(f =>
          scala.util.Try(scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf)))
        // first error wins; sibling failures ride along as suppressed
        // so a double-fault run keeps both diagnostics (ADVICE r17)
        val failures = outcomes.collect { case scala.util.Failure(e) => e }
        failures.headOption.foreach { first =>
          failures.drop(1).foreach { e =>
            if (e ne first) first.addSuppressed(e)
          }
          throw first
        }
      } finally pool.shutdown()
      storeSummary(s, st)
    },
    // ----- X20: TF-IDF top-k from the at-rest tf + df tables + recorded
    // n_docs. Output == x12 by construction (df == tf.groupBy(term).count
    // by x19's derivation, same downstream arithmetic); x12's oracle
    // gates it verbatim. Cost = ONE scan of the 3-column tf table joined
    // against the vocabulary-sized df table (auto-broadcast from parquet
    // stats) + the per-doc top-k window — the explode, the tf groupBy,
    // and the 28M-row df aggregate never rerun.
    "x20_atrest_tfidf" -> { (s, d) =>
      val st = resolve(s, d)
      val tfPath = ensure(s, st, st.tf)(buildTf(s, d, st, overwrite = false))
      val dfPath = ensure(s, st, st.df)(buildDf(s, st, overwrite = false))
      val metaPath = ensure(s, st, st.meta)(buildMeta(s, d, st, overwrite = false))
      val nDocs = s.read.parquet(metaPath).head().getLong(0)
      TextDedup.tfidfTopKOverTfDf(s.read.parquet(tfPath),
        s.read.parquet(dfPath),
        s.range(1).select(lit(nDocs).as("n_docs")))
    },
    // ----- X21: LSH candidate pairs + est-sim from the at-rest signature
    // table — the pair pass every re-run/backfill executes at a lake
    // (r13: −47% vs from-raw; NOTES.md "Round 13, second session"). Same
    // band automaton as d3,
    // same oracle.
    "x21_atrest_pairs" -> { (s, d) =>
      val st = resolve(s, d)
      TextDedup.estSimPairsGrouped(s,
          s.read.parquet(ensureSignatures(s, d, st)))
        .select(col("doc_a"), col("doc_b"), roundSim(col("est_sim")).as("est_sim"))
    },
    // ----- X22: the labels build step — "yesterday's" resolve (CC over
    // the old batch's star edges, signatures read from the store) written
    // at rest, unconditionally. Gated by the from-scratch recursive SQL
    // over the old batch — a full-strength oracle for the stored labels
    // themselves.
    "x22_labels_build" -> { (s, d) =>
      val st = resolve(s, d)
      sweepStale(s, st)
      buildLabels(s, d, st, overwrite = true)
      s.read.parquet(st.labels)
        .select(col("id").as("doc_id"), col("comp").as("canonical"))
    },
    // ----- X23: the incremental resolve the x18 scaffolding exists for
    // (VERDICT r13 #2): read yesterday's labels from the store, pay only
    // the batch-proportional x17 band pass + ONE star-seeded CC. Output
    // == x18 == from-scratch d7 (the component-equivalence proof at the
    // x18 registration), so d7's oracle gates the stored-label path
    // verbatim. 13.9 s at 100x vs x18's 29.9 in the same window.
    "x23_atrest_resolve" -> { (s, d) =>
      val st = resolve(s, d)
      val labels = s.read.parquet(ensureLabels(s, d, st))
      val sig = s.read.parquet(ensureSignatures(s, d, st))
      val newEdges = TextDedup.incrementalEstSimPairs(s, sig,
        pmod(col("doc_id"), lit(5)) === 0)
        .select("doc_a", "doc_b")
      graft.operators.Dedup.incrementalComponents(labels, newEdges)
        .select(col("id").as("doc_id"), col("comp").as("canonical"))
    }
  )

  private val tfCte =
    """tfq AS (SELECT doc_id, term, count(*) AS tf
         FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
               FROM documents)
         GROUP BY 1, 2)"""

  val oracles: Map[String, String] = Map(
    // the oracle recomputes every table's row count and content sum from
    // raw text — mh columns via the same md5 recipe d2 pins
    "x19_atrest_build" ->
      s"""${TextDedup.mhCte}, $tfCte
          SELECT 'meta' AS tbl, CAST(1 AS BIGINT) AS n_rows,
                 (SELECT count(*) FROM documents) AS checksum
          UNION ALL
          SELECT 'signatures', (SELECT count(*) FROM mh),
                 CAST((SELECT sum(${(1 to TextDedup.K).map(i => s"mh$i").mkString(" + ")}) FROM mh) AS BIGINT)
          UNION ALL
          SELECT 'tf', (SELECT count(*) FROM tfq),
                 CAST((SELECT sum(tf) FROM tfq) AS BIGINT)
          UNION ALL
          SELECT 'df', (SELECT count(DISTINCT term) FROM tfq),
                 CAST((SELECT sum(cnt) FROM
                   (SELECT count(*) AS cnt FROM tfq GROUP BY term)) AS BIGINT)""",
    "x20_atrest_tfidf" -> TextDedup.x12Sql,
    "x21_atrest_pairs" -> TextDedup.d3Sql,
    "x22_labels_build" -> TextDedup.d7SqlOver(
      TextDedup.mhCte.replace("FROM documents",
        "FROM documents WHERE doc_id % 5 <> 0")),
    "x23_atrest_resolve" -> TextDedup.d7Sql
  )
}
