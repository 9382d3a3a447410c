package perfbench

import perfbench.Runner.{OpRec, Pass}

/** Per-layer metrics of one traced pass, named `<layer>.<metric>`. Every
  * name is present for every workload; a layer a workload does not touch
  * reads 0. */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size; (s((n - 1) / 2) + s(n / 2)) / 2 }

  private def controlJobs(r: OpRec): Int = r.batch.jobs.count(j => j.submitMs <= r.buildEndMs)

  /** One operation's breakdown of its latency, for the traced record. */
  def perOp(r: OpRec): Map[String, Double] = Map(
    "build_ms" -> (r.buildEndMs - r.startMs).toDouble,
    "control_jobs" -> controlJobs(r).toDouble,
    "plan_ms" -> r.batch.planMs.toDouble,
    "idle_ms" -> Recorder.idleMs(r.batch.tasks, r.startMs, r.endMs).toDouble,
    "task_run_ms" -> r.batch.tasks.map(_.runMs).sum.toDouble,
    "jobs" -> r.batch.jobs.size.toDouble,
    "tasks" -> r.batch.tasks.size.toDouble)

  def of(p: Pass, setup: Map[String, Double]): Map[String, Double] = {
    val ops = p.ops
    val tasks = ops.flatMap(_.batch.tasks)
    def sum(f: OpRec => Double): Double = ops.map(f).sum
    def tsum(f: Recorder.Task => Double): Double = tasks.map(f).sum
    def layer(name: String) = ops.filter(_.layer == name)
    val opMs = sum(r => (r.endMs - r.startMs).toDouble)
    val idle = sum(r => Recorder.idleMs(r.batch.tasks, r.startMs, r.endMs).toDouble)

    val driver = Map(
      "driver.build_s" -> sum(r => r.buildEndMs - r.startMs) / 1e3,
      "driver.control_jobs" -> sum(controlJobs(_)),
      "driver.plan_s" -> sum(_.batch.planMs) / 1e3,
      "driver.exec_s" -> sum(r => r.endMs - r.buildEndMs) / 1e3,
      "driver.sched_idle_frac" -> (if (opMs > 0) idle / opMs else 0.0),
      "driver.jobs" -> sum(_.batch.jobs.size),
      "driver.stages" -> sum(_.batch.stages),
      "driver.tasks" -> tasks.size.toDouble)
    val exec = Map(
      "exec.run_s" -> tsum(_.runMs) / 1e3,
      "exec.cpu_s" -> tsum(_.cpuNs) / 1e9,
      "exec.gc_s" -> tsum(_.gcMs) / 1e3,
      "exec.peak_mem_mb" -> (if (ops.isEmpty) 0.0 else ops.map(_.storageBytes).max / 1e6),
      "shuffle.write_bytes" -> tsum(_.shuffleWrite),
      "shuffle.read_bytes" -> tsum(_.shuffleRead),
      "shuffle.spill_bytes" -> tsum(_.spill),
      "shuffle.fetch_wait_s" -> tsum(_.fetchWaitMs) / 1e3,
      "scan.bytes" -> tsum(_.inBytes),
      "scan.rows" -> tsum(_.inRows))
    val queries = Main.modules.map(_._1).flatMap { m =>
      val rs = layer(s"queries.$m")
      Seq(s"queries.$m.wall_s" -> rs.map(_.ms).sum / 1e3,
        s"queries.$m.cpu_s" -> rs.flatMap(_.batch.tasks).map(_.cpuNs).sum / 1e9,
        s"queries.$m.control_jobs" -> rs.map(controlJobs).sum.toDouble)
    }
    def wall(l: String) = layer(l).map(_.ms).sum / 1e3
    def taskCount(l: String) = layer(l).map(_.batch.tasks.size).sum.toDouble
    val sources = Map(
      "sources.compress_s" -> setup.getOrElse("sources.compress_s", 0.0),
      "sources.index_s" -> setup.getOrElse("sources.index_s", 0.0),
      "sources.scan_s" -> wall("sources.scan"),
      "sources.scan_tasks" -> taskCount("sources.scan"),
      "sources.region_splits" -> taskCount("sources.region"),
      "sources.region_bytes_read" -> layer("sources.region").flatMap(_.batch.tasks).map(_.inBytes).sum.toDouble,
      "sources.write_s" -> wall("sources.write"),
      "sources.write_bytes" -> layer("sources.write").map(_.extra.getOrElse("write_bytes", 0.0)).sum,
      "sources.write_tasks" -> taskCount("sources.write"))
    driver ++ exec ++ queries ++ sources
  }
}
