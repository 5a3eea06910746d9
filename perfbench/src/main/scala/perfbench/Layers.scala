package perfbench

/** The per-layer metrics, named by module, in the order they are printed.
  * Every traced run prints all of them; a layer a workload does not run
  * reads 0 there (the record's `detail` says which workload runs what).
  */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "fits.header_s" -> "s", "fits.splits" -> "count", "fits.decode_s" -> "s",
    "fits.rows_decoded" -> "rows",
    "ingest.glob_s" -> "s", "ingest.convert_s" -> "s", "ingest.ddl_s" -> "s",
    "ingest.job_s" -> "s", "ingest.remainder_s" -> "s",
    "sink.write_s" -> "s", "sink.tasks" -> "count", "sink.task_s_max" -> "s",
    "sink.task_s_p50" -> "s", "sink.bytes_written" -> "bytes") ++
    OpsMix.Modules.map(m => s"ops.$m.s" -> "s") ++ Seq(
    "ops.build_s" -> "s", "ops.exec_s" -> "s", "ops.pass_s" -> "s",
    "stream.batches" -> "count", "stream.add_batch_s" -> "s",
    "stream.query_planning_s" -> "s", "stream.wal_commit_s" -> "s",
    "spark.plan_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_busy_ratio" -> "ratio",
    "spark.sched_delay_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_failures" -> "count")

  /** Spark listener totals for one phase, per timed unit (an ingest job or
    * an ops_mix pass); the busy ratio is task run time over wall x cores.
    */
  def spark(l: Listeners, a: Listeners#Acc, windows: Seq[(Long, Long)], units: Double,
      wallSeconds: Double, nproc: Int): Map[String, Double] = Map(
    "spark.plan_s" -> l.planSeconds(windows) / units,
    "spark.jobs" -> a.jobs / units,
    "spark.stages" -> a.stages / units,
    "spark.tasks" -> a.tasks / units,
    "spark.task_busy_ratio" -> a.runMs / 1e3 / (wallSeconds * nproc),
    "spark.sched_delay_s" -> a.schedMs / 1e3 / units,
    "spark.gc_s" -> a.gcMs / 1e3 / units,
    "spark.shuffle_read_bytes" -> a.shuffleRead / units,
    "spark.shuffle_write_bytes" -> a.shuffleWrite / units,
    "spark.spill_bytes" -> a.spill / units,
    "spark.task_failures" -> a.taskFailures / units)
}
