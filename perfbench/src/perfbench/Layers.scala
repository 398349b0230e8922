package perfbench

/** Per-layer metrics of a traced run. `spark.*`, `analytics.*` and the
  * read-side `sources.*` figures are medians over the traced timed ops;
  * `pipeline.*` and the write-path `sources.*` timings come from the
  * breakdown op, `curation.*` from the curation side op; the storage
  * figures describe the state at the end of the run. A layer a workload
  * does not call reads 0. */
object Layers {
  private val MB = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def apply(workload: String, l: OpListener, tr: Tracer, outs: Map[Int, OpOut],
            breakdown: Option[OpOut], curation: Option[OpOut], traced: Seq[(Int, Double)],
            ops: Seq[Map[String, Any]],
            space: Map[String, Any], cores: Int): Map[String, Any] = {
    val ids = traced.map(_._1)
    val wall = traced.toMap
    def med(f: Int => Double): Double = median(ids.map(f))
    def medWhere(f: Int => Option[Double]): Double = median(ids.flatMap(f))
    val st = ids.map(i => i -> l.statsOf(i)).toMap
    val written = ops.map(o => o("i").asInstanceOf[Int] -> o("written")
      .asInstanceOf[Map[String, Long]]).toMap
    def spaceD(k: String): Double = space.get(k).map(_.toString.toDouble).getOrElse(0.0)

    val spark = Map[String, Double](
      "spark.plan_s" -> med(i => st(i).planMs / 1000.0),
      "spark.jobs" -> med(i => st(i).jobs.toDouble),
      "spark.driver_gap_s" -> med(i =>
        wall(i) - Intervals.union(st(i).jobSpans.toSeq.map { case (a, b) => (a.toDouble, b.toDouble) }) / 1000.0),
      "spark.task_s" -> med(i => st(i).taskMs / 1000.0),
      "spark.task_cpu_s" -> med(i => st(i).cpuNs / 1e9),
      "spark.shuffle_write_mb" -> med(i => st(i).shuffleWrite / MB),
      "spark.shuffle_read_mb" -> med(i => st(i).shuffleRead / MB),
      "spark.spill_mb" -> med(i => st(i).spill / MB),
      "spark.core_busy_ratio" -> med(i => st(i).taskMs / 1000.0 / (wall(i) * cores)),
      "spark.gc_s" -> med(i => st(i).gcMs / 1000.0),
      "spark.tasks" -> med(i => st(i).tasks.toDouble),
      "spark.input_mb" -> med(i => st(i).inputBytes / MB),
      "spark.input_rows" -> med(i => st(i).inputRows.toDouble),
      "spark.failed_tasks" -> med(i => st(i).failedTasks.toDouble))

    def split(name: String): Double = tr.of(Main.BreakdownOp, name).map(_.seconds).sum
    val keep = breakdown.flatMap(_.keepRatios)
    val pipeline = Seq("bronze", "silver_measurement", "silver_entities", "dims", "fact", "gold_agg")
      .map(n => s"pipeline.${n}_s" -> split(s"pipeline.$n")).toMap ++ Map(
      "pipeline.clean_keep_ratio" -> keep.fold(0.0)(_._1),
      "pipeline.dedup_keep_ratio" -> keep.fold(0.0)(_._2))

    val sources = Map[String, Double](
      "sources.ctas_s" -> split("sources.ctas"),
      "sources.merge_s" -> split("sources.merge"),
      "sources.optimize_s" -> split("sources.optimize"),
      "sources.commits" -> med(i => written(i).getOrElse("log_entries", 0L).toDouble),
      "sources.load_table_s" -> medWhere(i => Some(tr.of(i, "sources.load_table").map(_.seconds).sum).filter(_ > 0)),
      "sources.log_files" -> spaceD("log_files"),
      "sources.checkpoints" -> spaceD("checkpoints"),
      "sources.live_files" -> spaceD("live_files"),
      "sources.live_mb" -> spaceD("live_bytes") / MB,
      "sources.disk_mb" -> spaceD("disk_bytes") / MB,
      "sources.write_amp" -> medWhere(i => outs.get(i).filter(_.deltaBytes > 0)
        .map(o => written(i).getOrElse("bytes", 0L).toDouble / o.deltaBytes)))

    val analytics = GoldServing.measures.map(_._1).map(m => s"analytics.${m}_p50_s" ->
      median(ids.flatMap(i => tr.of(i, s"analytics.$m")).map(_.seconds))).toMap ++ Map(
      "analytics.rows_examined_per_row" -> medWhere(i => outs.get(i).filter(_.resultRows > 0)
        .map(o => st(i).inputRows.toDouble / o.resultRows)))

    val curationLayer = Map(
      "curation.c2_s" -> tr.of(Main.CurationOp, "curation.c2").map(_.seconds).sum,
      "curation.keep_ratio" -> curation.fold(0.0)(_.curationKeep))

    // the ten stages with the most task time of each listened op
    val topStages = l.stages.groupBy(_.op).toSeq.sortBy(-_._1)
      .flatMap(_._2.sortBy(-_.taskMs).take(10)).map(s => Map(
      "op" -> s.op, "stage" -> s.stageId, "name" -> s.name, "call_site" -> s.callSite,
      "task_s" -> s.taskMs / 1000.0, "tasks" -> s.tasks))
    val spans = tr.spans.map(s => Map("id" -> s.id, "name" -> s.name, "op" -> s.op,
      "parent" -> (if (s.parent >= 0) Some(s.parent) else if (s.op >= 0) Some(-1 - s.op) else None),
      "start_ms" -> s.start, "end_ms" -> s.end))
    val opSpans = traced.map { case (i, lat) =>
      val start = ops.find(_("i") == i).map(_("start_ms").asInstanceOf[Double]).getOrElse(0.0)
      Map("id" -> (-1 - i), "name" -> s"op.$workload", "op" -> i, "parent" -> None,
        "start_ms" -> start, "end_ms" -> (start + lat * 1000))
    }
    Map("per_layer" -> (spark ++ pipeline ++ sources ++ analytics ++ curationLayer),
      "spans" -> (opSpans ++ spans), "top_stages" -> topStages)
  }
}
