package bench

/** The per-layer metrics of the traced run: the Spark engine's and the
  * streaming planes' totals from the listeners, and the catalog every
  * traced run prints in full (0 where a workload does not reach a layer). */
object Layers {

  private val MiB = 1024.0 * 1024.0

  /** Spark engine totals per traced pass (median over passes). A job
    * counts towards the pass whose op was running when it started. */
  def spark(in: LayerInput, st: SparkTrace, cores: Int): Seq[Metric] = {
    val perPass = in.passes.map { p =>
      val ops = in.recs.filter(_.pass == p)
      val jobs = st.jobsIn(ops.map(r => (r.startMs, r.endMs)))
      val ts = jobs.flatMap(_._2)
      val wall = ops.map(_.wallS).sum
      def sum(f: StageTotals => Long): Double = ts.map(f).sum.toDouble
      val stages = ts.count(_.completed).toDouble
      val busyS = union(jobs.map { case (j, _) =>
        (j.startMs, math.max(j.endMs, j.startMs)) }) / 1000.0
      Map(
        "jobs" -> jobs.size.toDouble, "stages" -> stages,
        "tasks" -> sum(_.tasks),
        "tasks_per_stage" -> sum(_.tasks) / math.max(stages, 1.0),
        "executor_cpu_s" -> sum(_.cpuNs) / 1e9,
        "executor_run_s" -> sum(_.runMs) / 1e3,
        "gc_s" -> sum(_.gcMs) / 1e3,
        "shuffle_read_mib" -> sum(_.shuffleRead) / MiB,
        "shuffle_write_mib" -> sum(_.shuffleWrite) / MiB,
        "spill_mib" -> sum(_.spill) / MiB,
        "input_mib" -> sum(_.input) / MiB,
        "output_mib" -> sum(_.output) / MiB,
        "core_util" -> sum(_.runMs) / 1e3 / math.max(wall * cores, 1e-9),
        "driver_gap_s" -> math.max(wall - busyS, 0.0))
    }
    catalog.collect { case (n, u) if n.startsWith("spark.") =>
      Metric(n, Stats.median(perPass.map(_(n.stripPrefix("spark.")))), u)
    }
  }

  /** Length of the union of [start, end] intervals (epoch ms). */
  private def union(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Micro-batch phases from the streaming listener, per batch. */
  def streaming(st: StreamTrace, sp: SparkTrace, passes: Int): Seq[Metric] = {
    val bs = st.batches.synchronized(st.batches.toList)
    if (bs.isEmpty) Nil
    else {
      def med(f: BatchRec => Long) = Stats.median(bs.map(f(_) / 1e3))
      Seq(
        Metric("streaming.batches", bs.size.toDouble / passes, "count"),
        Metric("streaming.jobs_per_batch",
          sp.batchJobs.toDouble / bs.size, "count"),
        Metric("streaming.add_batch_s", med(_.addBatchMs), "s"),
        Metric("streaming.query_planning_s", med(_.planningMs), "s"),
        Metric("streaming.wal_commit_s", med(_.walCommitMs), "s"),
        Metric("streaming.commit_offsets_s", med(_.commitOffsetsMs), "s"),
        Metric("streaming.input_rows",
          bs.map(_.inputRows).sum.toDouble / passes, "count"),
        Metric("streaming.batch_s_p50", med(_.triggerMs), "s"),
        Metric("streaming.rows_per_s", bs.map(_.inputRows).sum /
          math.max(bs.map(_.triggerMs).sum / 1e3, 1e-9), "rows/s"))
    }
  }

  val catalog: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.tasks_per_stage" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_read_mib" -> "MiB",
    "spark.shuffle_write_mib" -> "MiB", "spark.spill_mib" -> "MiB",
    "spark.input_mib" -> "MiB", "spark.output_mib" -> "MiB",
    "spark.core_util" -> "ratio", "spark.driver_gap_s" -> "s",
    "streaming.batches" -> "count", "streaming.jobs_per_batch" -> "count",
    "streaming.add_batch_s" -> "s", "streaming.query_planning_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.commit_offsets_s" -> "s",
    "streaming.input_rows" -> "count", "streaming.batch_s_p50" -> "s",
    "streaming.rows_per_s" -> "rows/s",
    "flows.sync_s" -> "s", "flows.read_s" -> "s",
    "flows.stage_sum_s" -> "s", "flows.rows_upserted_per_s" -> "rows/s",
    "gaps.plan_s" -> "s", "gaps.fetch_windows" -> "count",
    "gaps.gap_ranges" -> "count",
    "sources.adapt_s" -> "s", "sources.fetch_calls" -> "count",
    "sources.rows_out" -> "count",
    "sinks.upsert_s" -> "s", "sinks.partitions_touched" -> "count",
    "sinks.rows_rewritten" -> "count", "sinks.write_amp" -> "ratio",
    "sinks.bytes_written_mib" -> "MiB", "sinks.files_total" -> "count",
    "sinks.stored_bytes_per_row" -> "B",
    "process.cpu_s_per_pass" -> "s", "trace.overhead_s" -> "s") ++
    // the query workload BENCHMARK.json names; every traced run prints its
    // per-query metrics so all workloads print the same per-layer set
    QueryMix.layerCatalog("stream_admission")

  /** Every catalog metric, in catalog order, then the run's own per-query
    * metrics if its workload is not in the catalog; a metric the workload
    * did not compute reads 0. A computed name outside both is a bug. */
  def complete(workload: String, computed: Seq[Metric]): Seq[Metric] = {
    val names = (catalog ++ QueryMix.layerCatalog(workload)).distinct
    val byName = computed.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"metrics outside the catalog: $unknown")
    names.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }
}
