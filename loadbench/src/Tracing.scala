package loadbench

/** Per-op Spark layer figures from the traced window's listener totals. */
object Tracing {
  def sparkLayers(tr: Tracer, w: Window): Map[String, Any] = {
    val t = tr.Totals
    val n = math.max(1, w.ops.length).toDouble
    val resultRows = math.max(1L, w.ops.map(_.resultRows).sum)
    Map(
      "spark.analysis_ms" -> t.analysisMs.sum / n,
      "spark.optimization_ms" -> t.optimizationMs.sum / n,
      "spark.planning_ms" -> t.planningMs.sum / n,
      "spark.jobs_per_op" -> t.jobs.get / n,
      "spark.stages_per_op" -> t.stages.get / n,
      "spark.tasks_per_op" -> t.tasks.get / n,
      "spark.task_run_ms_per_op" -> t.runMs.get / n,
      "spark.task_cpu_ms_per_op" -> t.cpuNs.get / 1e6 / n,
      "spark.task_gc_ms_per_op" -> t.gcMs.get / n,
      "spark.task_wait_ms_per_op" -> t.waitMs.get / n,
      "spark.input_bytes_per_op" -> t.inBytes.get / n,
      "spark.input_rows_per_result_row" -> t.inRows.get.toDouble / resultRows,
      "spark.shuffle_bytes_per_op" -> t.shufBytes.get / n,
      "spark.spill_bytes" -> t.spillBytes.get.toDouble,
      "spark.output_bytes_per_row" ->
        (if (t.outRows.get == 0) 0.0 else t.outBytes.get.toDouble / t.outRows.get),
      "streaming.drive_planning_ms" -> t.drivePlanningMs.get / n,
      "streaming.drive_wal_ms" -> t.driveWalMs.get / n,
      "streaming.drive_add_batch_ms" -> t.driveAddBatchMs.get / n)
  }
}
