package graft.perfbench

/** Per-pass Spark runtime metrics, summed from a [[Trace]]'s tasks. */
object Exec {
  /** `items` are the pass's timed requests (each with `start_ms`/`end_ms`);
    * a task or job belongs to the pass when its job group starts with
    * `prefix`, or, for jobs outside any harness group (streaming
    * micro-batches), when it starts inside the pass. */
  def passLayer(t: Trace, prefix: String, items: Seq[Map[String, Any]],
      wall: Double, cpus: Int): Seq[(String, Any)] = {
    def ms(m: Map[String, Any], k: String) = m(k).asInstanceOf[Long]
    val (lo, hi) =
      if (items.isEmpty) (0L, 0L)
      else (items.map(ms(_, "start_ms")).min, items.map(ms(_, "end_ms")).max)
    def mine(group: String, start: Long) =
      group.startsWith(prefix) || (group.isEmpty || !group.startsWith("p")) &&
        start >= lo && start <= hi
    val (jobs, tasks) = t.synchronized {
      (t.jobs.filter(j => mine(j.group, j.start)).toList,
        t.tasks.filter(x => mine(x.group, x.start)).toList)
    }
    val iv = tasks.map(x => (x.start, x.end))
    val busy = items.map(i =>
      Intervals.unionLength(iv, ms(i, "start_ms"), ms(i, "end_ms"))).sum / 1e3
    val runS = tasks.map(_.runMs).sum / 1e3
    Seq(
      "exec.jobs" -> jobs.size,
      "exec.stages" -> t.stagesOf(jobs),
      "exec.tasks" -> tasks.size,
      "exec.idle_s" -> math.max(0.0, wall - busy),
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.slot_util" -> (if (wall > 0) runS / (wall * cpus) else 0.0),
      "shuffle.write_mb" -> tasks.map(_.shufWrite).sum / 1e6,
      "shuffle.read_mb" -> tasks.map(_.shufRead).sum / 1e6,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1e3,
      "shuffle.spill_mb" -> tasks.map(_.spill).sum / 1e6,
      "scan.input_mb" -> tasks.map(_.inBytes).sum / 1e6,
      "scan.input_rows" -> tasks.map(_.inRecords).sum)
  }
}
