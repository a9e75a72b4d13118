package graftbench

import Workload.median

/** Per-layer values of a traced run. Totals are per pass (summed over
  * the pass's ops), then the median over traced passes. A layer the
  * workload never reaches reads 0. */
object Layers {

  /** Count metrics that must repeat exactly in every pass; a difference
    * is a plan change, not timing noise. */
  val Counts: Seq[String] = Seq("exec.tasks", "connector.pages", "load.files",
    "stream.triggers", "lsm.segments")

  val Families: Seq[String] = Seq("scan", "agg", "window", "join", "asof", "func", "analytics")

  /** SQL-text twins in the warehouse mix and their operator twins. */
  val SqlTwins: Seq[(String, String)] = Seq("q16_agg_hash_sql" -> "q16_agg_hash")

  def compute(ops: Seq[OpRecord], exec: Map[String, OpExec],
      probes: Seq[Map[String, Double]], cores: Int): Map[String, Double] = {
    val traced = ops.filter(_.traced).groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
    val untraced = ops.filterNot(_.traced)
    val perPass = traced.zip(probes.padTo(traced.size, Map.empty[String, Double]))
      .map { case (passOps, probe) => passLayers(passOps, exec, cores) ++ probe }
    val keys = perPass.flatMap(_.keys).distinct
    val med = keys.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap

    val opMedian = untraced.groupBy(_.name).map { case (n, rs) => n -> median(rs.map(_.seconds)) }
    val families = Families.map { f =>
      s"family.${f}_s" -> untraced.filter(_.family == f).map(_.name).distinct
        .map(opMedian).sum
    }
    val twinRatios = SqlTwins.collect {
      case (sql, op) if opMedian.contains(sql) && opMedian.getOrElse(op, 0.0) > 0 =>
        opMedian(sql) / opMedian(op)
    }
    val sqlRatio = if (twinRatios.isEmpty) 0.0
      else math.exp(twinRatios.map(math.log).sum / twinRatios.size)

    def passSeconds(rs: Seq[OpRecord]) = rs.groupBy(_.pass).values.map(_.map(_.seconds).sum).toSeq
    val overhead = {
      val later = untraced.filter(_.pass > 0)
      val u = median(passSeconds(if (later.nonEmpty) later else untraced))
      if (u > 0) median(passSeconds(ops.filter(_.traced))) / u else 0.0
    }

    med ++ families ++ Map("family.sql_text_ratio" -> sqlRatio, "trace.overhead" -> overhead)
  }

  /** How many of [[Counts]] differ between the passes that report them. */
  def planChanges(perPass: Seq[Map[String, Double]]): Int =
    Counts.count(k => perPass.flatMap(_.get(k)).distinct.size > 1)

  private def passLayers(passOps: Seq[OpRecord], exec: Map[String, OpExec],
      cores: Int): Map[String, Double] = {
    val xs = passOps.flatMap(r => exec.get(s"p${r.pass}:${r.name}"))
    val wall = passOps.map(_.seconds).sum
    def total(f: OpExec => Double) = xs.map(f).sum
    val taskCpu = total(_.taskCpuNs / 1e9)
    val taskRun = total(_.taskRunMs / 1e3)
    val plan = total(x => (x.analysisMs + x.optimizationMs + x.planningMs) / 1e3)
    val skews = xs.flatMap(_.stageTaskMs.values).filter(_.size >= 2).map { ts =>
      val m = median(ts.map(_.toDouble).toSeq)
      if (m > 0) ts.max / m else 1.0
    }
    val progress = xs.flatMap(_.progress)
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    val stateOps = progress.flatMap(_.stateOperators)
    val lastPerQuery = progress.groupBy(_.id).values.map(_.maxBy(_.batchId))
    val mb = 1048576.0
    Map(
      "plan.analysis_ms" -> total(_.analysisMs.toDouble),
      "plan.optimization_ms" -> total(_.optimizationMs.toDouble),
      "plan.planning_ms" -> total(_.planningMs.toDouble),
      "plan.share" -> (if (wall > 0) plan / wall else 0.0),
      "exec.jobs" -> total(_.jobs.toDouble),
      "exec.stages" -> total(_.stages.toDouble),
      "exec.tasks" -> total(_.tasks.toDouble),
      "exec.task_cpu_s" -> taskCpu,
      "exec.task_run_s" -> taskRun,
      "exec.task_gc_s" -> total(_.taskGcMs / 1e3),
      "exec.input_mb" -> total(_.inputBytes / mb),
      "exec.input_records" -> total(_.inputRecords.toDouble),
      "exec.shuffle_write_mb" -> total(_.shuffleWriteBytes / mb),
      "exec.shuffle_read_mb" -> total(_.shuffleReadBytes / mb),
      "exec.spill_mb" -> total(_.spillBytes / mb),
      "exec.output_mb" -> total(_.outputBytes / mb),
      "exec.peak_exec_mem_mb" -> (if (xs.isEmpty) 0.0 else xs.map(_.peakExecMem).max / mb),
      "exec.core_util" -> (if (wall > 0) taskRun / (wall * cores) else 0.0),
      "exec.fixed_overhead_s" -> (wall - taskCpu / cores),
      "exec.stage_skew" -> median(skews),
      "stream.triggers" -> progress.size.toDouble,
      "stream.input_rows" -> progress.map(_.numInputRows.toDouble).sum,
      "stream.trigger_p50_ms" -> median(dur("triggerExecution")),
      "stream.add_batch_ms" -> dur("addBatch").sum,
      "stream.wal_commit_ms" -> dur("walCommit").sum,
      "stream.commit_offsets_ms" -> dur("commitOffsets").sum,
      "stream.query_planning_ms" -> dur("queryPlanning").sum,
      "stream.latest_offset_ms" -> dur("latestOffset").sum,
      "state.rows_total" -> lastPerQuery.flatMap(_.stateOperators).map(_.numRowsTotal.toDouble).sum,
      "state.rows_updated" -> stateOps.map(_.numRowsUpdated.toDouble).sum,
      "state.rows_removed" -> stateOps.map(_.numRowsRemoved.toDouble).sum,
      "state.memory_mb" -> (if (progress.isEmpty) 0.0
        else progress.map(_.stateOperators.map(_.memoryUsedBytes).sum).max / mb),
      "state.commit_ms" -> stateOps.map(_.commitTimeMs.toDouble).sum,
      "state.instances" -> stateOps.map(_.numStateStoreInstances.toDouble).sum)
  }
}
