package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.queries._
import graft.sources.{Bgzf, Tabix}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** The benchmark program. One process, one closed-loop client: each operation
  * starts when the previous one has returned.
  *
  * Modes (`--mode`):
  *  - `run`: set a workload up [[Setups]] times, run one untimed warm-up
  *    pass, then `--passes` timed passes over its operations; check every
  *    result outside the timed region, and write the raw record to `--out`;
  *  - `reference`: run queries once over `--data`, write each result as
  *    parquet plus `oracle_sql.json` (for the DuckDB comparison) and the
  *    row-count + digest reference to `--out`;
  *  - `gen`: write the synthetic VCF for `--seed` to `--out`, and the
  *    counts the generator computed to `--out`.json. */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Registered query modules, in the order the layer table lists them. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Relational" -> Relational.queries, "IntervalOps" -> IntervalOps.queries,
    "TextDedup" -> TextDedup.queries, "Similarity" -> Similarity.queries,
    "MultimodalQ" -> MultimodalQ.queries, "DomainMath" -> DomainMath.queries,
    "Curation" -> Curation.queries, "ReportGrid" -> ReportGrid.queries,
    "AtRest" -> AtRest.queries)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    o("mode") match {
      case "gen" =>
        val g = new VcfGen(o("seed").toLong)
        writeVcf(g, Paths.get(o("out")))
        Files.writeString(Paths.get(o("out") + ".json"), json.writeValueAsString(Map(
          "scan_rows" -> g.scanRows, "write_rows" -> g.writeRows, "region_rows" -> g.regionRows.toSeq,
          "text_bytes" -> g.textBytes, "write_text_bytes" -> g.writeTextBytes)))
      case "run" => run(o)
      case "reference" => reference(o)
    }
  }

  def writeVcf(g: VcfGen, path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(path), 1 << 20)
    try Bgzf.write(g.lines, out) finally out.close()
  }

  /** Total size of the regular files under `dir`. */
  def dirBytes(dir: Path): Long = {
    val walk = Files.walk(dir)
    try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally walk.close()
  }

  private def queryFns(names: Seq[String]): Seq[(String, String, (SparkSession, String) => DataFrame)] = {
    val all = modules.flatMap { case (m, qs) => qs.map { case (n, f) => n -> (m, f) } }.toMap
    names.map { n => val (m, f) = all.getOrElse(n, sys.error(s"unknown query $n")); (n, m, f) }
  }

  private def names(o: Map[String, String]): Seq[String] =
    o.get("queries").map(_.split(",").toSeq)
      .getOrElse(modules.flatMap(_._2.keys).sorted)

  private def reference(o: Map[String, String]): Unit = {
    val spark = graft.Spark.session("perfbench", o("cpus"))
    val data = o("data"); val outDir = o("parquet")
    val ref = queryFns(names(o)).map { case (n, _, f) =>
      val ob = new Observation()
      Digest.observed(f(spark, data), ob).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      val d = Digest.of(ob)
      System.err.println(s"[perfbench] reference $n rows=${d.rows}")
      n -> Map("rows" -> d.rows, "digest" -> d.digest)
    }
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      json.writeValueAsString(graft.SparkEntry.oracleSql.filter(q => ref.exists(_._1 == q._1))))
    Files.writeString(Paths.get(o("out")),
      json.writerWithDefaultPrettyPrinter().writeValueAsString(scala.collection.immutable.TreeMap(ref: _*)))
    spark.stop()
  }

  private def run(o: Map[String, String]): Unit = {
    val trace = o("trace") == "1"
    val spark = graft.Spark.session("perfbench", o("cpus"))
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val runner = new Runner(spark, rec)
    val wl: Workload = o("kind") match {
      case "queries" =>
        val refs = json.readValue(Paths.get(o("reference")).toFile, classOf[Map[String, Map[String, Any]]])
        new QueryWorkload(spark, runner, o("data"), queryFns(names(o)), refs)
      case "vcf" =>
        new VcfWorkload(spark, runner, Paths.get(o("work")), o("seed").toLong)
    }

    runner.setTraced(trace)
    val setups = (1 to Setups).map(_ => runner.setup(wl.setup()))
    org.apache.spark.BusDrain(spark.sparkContext)
    rec.take()
    // One untimed pass first: a cold pass runs about 1.6x slower (class
    // loading, JIT, codegen) and its time varies widely from run to run.
    // It is the pass that checks each result's full digest.
    runner.setTraced(false)
    wl.beforePass()
    val warmup = runner.pass(wl.warmup)
    // A fixed number of timed passes, so that how many there are does not
    // depend on the speed being measured. A traced run orders its passes
    // untraced, traced, traced, untraced (and repeats), so a drift in speed
    // over the run cancels out of the tracing overhead measured within one
    // process.
    val passes = (0 until o("passes").toInt).map { i =>
      runner.setTraced(trace && Set(1, 2)(i % 4))
      wl.beforePass()
      runner.pass(wl.ops(full = false))
    }
    val out = Map(
      "setup_s" -> setups,
      "warmup_s" -> warmup.wallNs / 1e9,
      "passes" -> passes.map(p => Map(
        "wall_s" -> p.wallNs / 1e9,
        "traced" -> p.traced,
        "ops" -> p.ops.map(r => Map("name" -> r.name, "ms" -> r.ms, "input_bytes" -> r.op.inputBytes) ++
          (if (p.traced) Layers.perOp(r) else Map.empty)),
        "layers" -> (if (p.traced) Layers.of(p, wl.setupLayers) else Map.empty))),
      "attempted" -> runner.attempted,
      "failures" -> runner.failures.map { case (n, c) => Map("op" -> n, "cause" -> c) })
    Files.writeString(Paths.get(o("out")), json.writeValueAsString(out))
    if (trace) Files.writeString(Paths.get(o("spans")), json.writeValueAsString(runner.spans))
    spark.stop()
  }
}

/** A workload: inputs built by `setup`, and the operations of one pass,
  * whose checks compare full digests when `full`, else row counts. */
trait Workload {
  def setup(): Unit
  def beforePass(): Unit = ()
  def ops(full: Boolean): Seq[Runner.Op]
  /** The untimed warm-up pass. */
  def warmup: Seq[Runner.Op] = ops(full = true)
  /** Per-layer values measured during set-up (traced runs only). */
  def setupLayers: Map[String, Double] = Map.empty
}

/** Registered queries over a parquet table directory, each into the `noop`
  * sink, each checked against its reference row count and digest. Each
  * query counts the whole table directory as its input. */
final class QueryWorkload(spark: SparkSession, runner: Runner, data: String,
                          queries: Seq[(String, String, (SparkSession, String) => DataFrame)],
                          refs: Map[String, Map[String, Any]]) extends Workload {
  private def reset(): Unit = { spark.catalog.clearCache(); FrameMemos.clearAll() }

  /** A fresh at-rest store (GRAFT_ATREST_DIR is per run), then pre-seeded. */
  override def setup(): Unit = {
    reset()
    sys.env.get("GRAFT_ATREST_DIR").map(Paths.get(_)).filter(Files.exists(_)).foreach { root =>
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }
    runner.span("queries.AtRest.preSeed")(AtRest.preSeed(spark, data))
  }

  override def beforePass(): Unit = reset()

  private val tableBytes = Main.dirBytes(Paths.get(data))

  def ops(full: Boolean): Seq[Runner.Op] = queries.map { case (name, module, f) =>
    Runner.Op(name, s"queries.$module", { mark =>
      val df = f(spark, data)
      mark()
      val ob = new Observation()
      Digest.observed(df, ob, full).write.format("noop").mode("overwrite").save()
      () => {
        val got = Digest.of(ob)
        refs.get(name) match {
          case None => Some("no reference")
          case Some(r) if r("rows").toString.toLong != got.rows =>
            Some(s"rows ${got.rows} != reference ${r("rows")}")
          case Some(r) if full && r("digest") != got.digest =>
            Some(s"digest ${got.digest} != reference ${r("digest")}")
          case _ => None
        }
      }
    }, inputBytes = tableBytes)
  }
}

/** The VCF front door: a synthetic BGZF VCF with a `.tbi`, scanned with
  * typed INFO fields and pushed filters, probed by 100 kb region lookups,
  * written back filtered as BGZF + `.tbi`, and re-read. */
final class VcfWorkload(spark: SparkSession, runner: Runner, work: Path, seed: Long) extends Workload {
  private val input = work.resolve("vcf/input.vcf.gz")
  private val output = work.resolve("vcf/out").toString
  private var gen: VcfGen = _
  private val compressS = ArrayBuffer.empty[Double]
  private val indexS = ArrayBuffer.empty[Double]

  override def setup(): Unit = {
    gen = new VcfGen(seed)
    compressS += runner.span("sources.compress")(Main.writeVcf(gen, input))
    indexS += runner.span("sources.index")(
      Tabix.buildForVcf(spark.sparkContext.hadoopConfiguration, input.toString))
  }

  override def setupLayers: Map[String, Double] =
    Map("sources.compress_s" -> Layers.median(compressS.toSeq), "sources.index_s" -> Layers.median(indexS.toSeq))

  private def read = spark.read.format("vcf")

  /** Runs `df` into `sink` with its row count observed; returns the check
    * of that count against the generator's. */
  private def counted(df: DataFrame, expect: => Long, what: String)(
      sink: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()): () => Option[String] = {
    val ob = new Observation()
    sink(Digest.observed(df, ob, full = false))
    () => {
      val n = Digest.of(ob).rows
      if (n == expect) None else Some(s"$what rows $n != generator's $expect")
    }
  }

  /** A pass: [[VcfWorkload.Rounds]] rounds of scan, write-back and re-read,
    * each followed by its share of the region lookups. The whole-file
    * operations repeat so that a run holds enough of them to time steadily. */
  def ops(full: Boolean): Seq[Runner.Op] = rounds.flatten

  /** The first round alone: it runs every kind of operation, and each region
    * lookup decodes the same file as the scan. */
  override def warmup: Seq[Runner.Op] = rounds.head

  private def rounds: Seq[Seq[Runner.Op]] = {
    val scan = Runner.Op("scan", "sources.scan", { mark =>
      val df = read.option("info_fields", "DP:long,AF:double,VARIANT_TYPE").load(input.toString)
        .filter(col("qual") >= 30.0 && col("info_dp") >= 20L)
      mark()
      counted(df, gen.scanRows, "scan")()
    }, inputBytes = gen.textBytes)
    val regions = gen.regions.zipWithIndex.map { case ((c, s, e), i) =>
      Runner.Op(f"region_$i%03d", "sources.region", { mark =>
        val df = read.load(input.toString).filter(col("chrom") === c && col("pos").between(s, e))
        mark()
        counted(df, gen.regionRows(i), s"$c:$s-$e")()
      })
    }
    val write = Runner.Op("write", "sources.write", { mark =>
      val df = read.load(input.toString).filter(col("qual") >= VcfGen.WriteMinQual.toDouble)
      mark()
      counted(df, gen.writeRows, "write")(_.write.format("vcf").mode("overwrite")
        .option("compression", "bgzf").option("index", "tbi").save(output))
    }, () => Map("write_bytes" -> writtenBytes.toDouble), gen.textBytes)
    val reread = Runner.Op("reread", "sources.reread", { mark =>
      val df = read.load(output)
      mark()
      counted(df, gen.writeRows, "reread")()
    }, inputBytes = gen.writeTextBytes)
    val share = (regions.size + VcfWorkload.Rounds - 1) / VcfWorkload.Rounds
    regions.grouped(share).toSeq.map(Seq(scan, write, reread) ++ _)
  }

  /** Bytes the write-back left on disk (data and index). */
  def writtenBytes: Long = Main.dirBytes(Paths.get(output))
}

object VcfWorkload {
  val Rounds = 3
}
