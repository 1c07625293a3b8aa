package perfbench

/** The per-layer metric set of a traced run: every name in [[defaults]] is
  * reported by every workload (0 where the workload never enters that
  * layer), so the set matches BENCHMARK.json's `per_layer` list. */
object Layers {

  /** Layers whose Spark jobs run inside the passes. */
  val jobLayers: Seq[String] = Seq("forecast", "ml", "queries")

  /** Query families of the corpus workload (`q_<family><n>_...`). */
  def families: Seq[String] = Main.corpusQueries.map(q => q.split('_')(1).takeWhile(_.isLetter)).distinct

  val counters: Seq[(String, String)] = Seq("jobs" -> "count", "tasks" -> "count",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "gc_s" -> "s", "task_skew" -> "ratio")

  def defaults: Map[String, Double] = (Seq(
    "GraftSession.local_s", "Tables.sales_lines_s", "sources.read_clean_s",
    "sources.dedup_removed_rows", "forecast.daily_grain_s", "forecast.daily_rows",
    "forecast.features_s", "forecast.kpi_global_s", "forecast.value_weighted_s",
    "ml.time_split_s", "ml.feature_pipeline_fit_s", "ml.fit_s", "ml.evaluate_s",
    "spark.source_reads_per_row", "spark.executor_busy_ratio", "spark.driver_gap_s",
    "queries.planning_s", "queries.stream_batches", "queries.tasks_per_query", "queries.p50_s",
    "queries.max_s", "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s",
    "trace.unattributed_s", "hygiene.error_rate", "hygiene.leaked_persisted_rdds",
    "hygiene.leaked_tmp_dirs") ++
    families.map(f => s"queries.${f}_s") ++
    jobLayers.flatMap(l => counters.map(c => s"$l.${c._1}")) ++
    jobLayers.map(l => s"$l.self_s")).map(_ -> 0.0).toMap

  def unit(name: String): String = {
    val leaf = name.substring(name.indexOf('.') + 1)
    counters.toMap.get(leaf).getOrElse {
      if (leaf.endsWith("_s")) "s"
      else if (leaf.endsWith("_ratio") || leaf == "error_rate" || leaf == "source_reads_per_row") "ratio"
      else "count"
    }
  }

  /** Splits the passes into steps, then reports counters and self times per
    * layer (probes excluded: they run outside the passes) and the
    * pass-level extras, averaged over the traced passes. The layers' self
    * times plus `trace.unattributed_s` add up to the pass wall. */
  def metrics(t: Tracer, w: Workload, passes: Int, cores: Int): Map[String, Double] = {
    t.drain()
    t.derive(w.step)
    val n = math.max(1, passes).toDouble
    val passSpans = t.spans.filter(_.layer == "pass")
    val wall = passSpans.map(_.seconds).sum
    val perLayer = jobLayers.map { layer =>
      val spans = t.spans.filter(s => s.layer == layer && !s.probe)
      val ids = spans.map(_.id).toSet
      val tasks = t.tasksOf(ids)
      layer -> Map(
        s"$layer.self_s" -> spans.map(t.selfSeconds).sum / n,
        s"$layer.jobs" -> t.jobsOf(ids).size / n,
        s"$layer.tasks" -> tasks.size / n,
        s"$layer.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1048576.0 / n,
        s"$layer.spill_mb" -> tasks.map(_.spill).sum / 1048576.0 / n,
        s"$layer.gc_s" -> tasks.map(_.gcMs).sum / 1000.0 / n,
        s"$layer.task_skew" -> t.taskSkew(t.stagesOf(ids)))
    }.toMap
    val all = passSpans.flatMap(p => t.subtree(p.id)).toSet
    perLayer.values.flatten.toMap ++ w.layerMetrics(t, passes) ++ Map(
      "spark.executor_busy_ratio" -> t.tasksOf(all).map(_.runMs).sum / 1000.0 / (wall * cores),
      "spark.driver_gap_s" -> passSpans.map(t.driverGapSeconds).sum / n,
      "trace.unattributed_s" -> (wall / n - jobLayers.map(l => perLayer(l)(s"$l.self_s")).sum))
  }
}
