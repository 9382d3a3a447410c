package perfbench

import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** Runs operations one after another (a closed loop with one client),
  * times each, checks each result after its timed region, and — when
  * traced — records a span per layer call and the listener counters the
  * operation caused. */
final class Runner(spark: SparkSession, rec: Recorder) {
  import Runner._

  val spans = ArrayBuffer.empty[Span]
  val failures = ArrayBuffer.empty[(String, String)]
  var attempted = 0
  private var passNo = 0
  private var setupNo = 0
  private var traced = false

  private def nowMs(t0Ms: Long, t0Ns: Long, ns: Long): Long = t0Ms + (ns - t0Ns) / 1000000

  /** Times `body` in seconds; traced, also records it as a span. */
  private def timed(name: String, parent: String, id: String)(body: => Unit): Double = {
    val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    if (traced) spans += Span(name, parent, id, ms, nowMs(ms, t0, t1))
    (t1 - t0) / 1e9
  }

  /** Times one set-up, in seconds; its spans share the id `setup<n>`. */
  def setup(body: => Unit): Double = { setupNo += 1; timed("setup", "run", s"setup$setupNo")(body) }

  /** Times a call into a layer during the current set-up, in seconds. */
  def span(name: String)(body: => Unit): Double = timed(name, "setup", s"setup$setupNo")(body)

  /** Switches span and counter recording; call between passes. */
  def setTraced(on: Boolean): Unit = { traced = on; rec.traced = on }

  def pass(ops: Seq[Op]): Pass = {
    passNo += 1
    val recs = ops.zipWithIndex.map { case (op, i) => run(op, s"pass$passNo/$i-${op.name}") }
    BusDrain(spark.sparkContext)
    rec.take()
    Pass(recs, recs.map(_.ns).sum, traced)
  }

  /** Runs `op`; `id` names this run of it (an operation may recur in a pass). */
  private def run(op: Op, id: String): OpRec = {
    attempted += 1
    val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
    var built = t0
    var marked = false
    val outcome =
      try Right(op.body { () => built = System.nanoTime(); marked = true })
      catch { case e: Throwable => Left(cause(e)) }
    val t1 = System.nanoTime()
    if (!marked) built = t1
    val failure = outcome.fold(Some(_), check =>
      try check() catch { case e: Throwable => Some(cause(e)) })
    failure.foreach { f =>
      failures += op.name -> f
      System.err.println(s"[perfbench] FAILED ${op.name}: $f")
    }
    val buildEndMs = nowMs(startMs, t0, built); val endMs = nowMs(startMs, t0, t1)
    if (!traced) OpRec(op, startMs, buildEndMs, endMs, t1 - t0, Empty, 0L, Map.empty)
    else {
      BusDrain(spark.sparkContext)
      spans += Span(op.layer, "pass", id, startMs, endMs)
      spans += Span("driver.build", op.layer, id, startMs, buildEndMs)
      spans += Span("driver.exec", op.layer, id, buildEndMs, endMs)
      val storage = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      OpRec(op, startMs, buildEndMs, endMs, t1 - t0, rec.take(), storage, op.extra())
    }
  }
}

object Runner {
  /** `body` builds the operation's frame, calls `mark` once it is built,
    * runs it, and returns the correctness check to run untimed: `None`
    * when the result is right, else the cause. `inputBytes` is the input an
    * operation consumes whole, fixed by the workload's data (0 for one that
    * looks a part up). */
  final case class Op(name: String, layer: String, body: (() => Unit) => (() => Option[String]),
                      extra: () => Map[String, Double] = () => Map.empty, inputBytes: Long = 0L)

  final case class OpRec(op: Op, startMs: Long, buildEndMs: Long, endMs: Long,
                         ns: Long, batch: Recorder.Batch, storageBytes: Long,
                         extra: Map[String, Double]) {
    def name: String = op.name
    def layer: String = op.layer
    def ms: Double = ns / 1e6
  }

  final case class Pass(ops: Seq[OpRec], wallNs: Long, traced: Boolean)

  final case class Span(name: String, parent: String, op: String, startMs: Long, endMs: Long)

  private val Empty = Recorder.Batch(Nil, Nil, 0, 0L)

  def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: ${Option(root.getMessage).getOrElse("").take(300)}"
  }
}
