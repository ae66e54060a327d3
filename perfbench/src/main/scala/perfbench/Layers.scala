package perfbench

import java.io.File
import java.nio.file.Files

/** The per-layer metric set and its reduction from traced spans. */
object Layers {
  val names: Seq[String] = Seq(
    "ingest.parse.s", "ingest.parse.carry_scan_s", "ingest.parse.lines_in",
    "ingest.parse.rows_out", "ingest.parse.useful_frac", "ingest.dim_date.s",
    "ingest.dim_movie.s", "ingest.dim_customer.s", "ingest.fact.s",
    "ingest.fact.broadcast_mb",
    "io.sinks.write_s", "io.sinks.mb_written", "io.sinks.files",
    "postload.s", "postload.scan_mb",
    "catalog.bulk_commit_s", "catalog.append_s", "catalog.merge_cow_s",
    "catalog.merge_mor_s", "catalog.delete_mor_s", "catalog.update_s",
    "catalog.overwrite_s", "catalog.compact_s", "catalog.expire_s",
    "catalog.scan_s", "catalog.time_travel_s", "catalog.files_live",
    "catalog.delete_files_live", "catalog.versions",
    "lanes.queries_s", "lanes.operators_s", "lanes.plans_s", "lanes.graph_s",
    "lanes.similarity_s", "lanes.text_s", "lanes.stats_s", "lanes.events_s",
    "lanes.streaming_s",
    "derived.frames_built", "derived.held_mb", "derived.cold_excess_s",
    "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.query_planning_s", "streaming.trigger_s", "streaming.batches",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.gap_s", "sched.delay_s",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "shuffle.write_mb",
    "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.disk_mb",
    "storage.peak_mb", "scan.rows", "scan.mb",
    "fs.mb_written", "fs.mb_read") ++
    Tracer.DriverLayers.map(l => s"driver.${l}_s") ++ Seq(
    "trace.overhead_frac", "trace.unexplained_frac", "trace.spans_over_10pct",
    "cold_wall_s", "op_p50_ms", "load_s", "ingest_rows_per_s", "postload_s", "lane_p50_s", "lane_p75_s",
    "append_p50_ms", "merge_cow_p50_ms", "merge_mor_p50_ms", "delete_p50_ms",
    "scan_p50_ms", "space_bytes_per_row", "write_bytes_per_row")

  def unit(n: String): String =
    if (n == "ingest_rows_per_s") "rows/s"
    else if (n.endsWith("_per_row")) "B/row"
    else if (n.endsWith("_ms")) "ms"
    else if (n.endsWith("_s") || n.endsWith(".s")) "s"
    else if (n.endsWith("_mb") || n.endsWith(".mb") || n.split('.').last.startsWith("mb_")) "MB"
    else if (n.endsWith("_frac") || n.endsWith("_10pct")) "frac"
    else "count"

  /** Cross-cutting layers, summed over the spans of the trace run. */
  private val crossCutting = Seq(
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.gap_s", "sched.delay_s",
    "exec.task_s", "exec.cpu_s", "exec.gc_s", "shuffle.write_mb",
    "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.disk_mb", "scan.rows",
    "scan.mb", "fs.mb_written", "fs.mb_read",
    "streaming.add_batch_s", "streaming.wal_commit_s",
    "streaming.query_planning_s", "streaming.trigger_s", "streaming.batches") ++
    Tracer.DriverLayers.map(l => s"driver.${l}_s")

  /** Warm passes that ran with the listeners attached. */
  def tracedWarm(run: Run): Seq[Int] =
    run.tracer.spans.filter(s => s.traced && s.pass > 0).map(_.pass).distinct.toSeq

  /** Median over traced warm passes of the per-pass sum of `key` over
    * the spans `keep` selects. */
  def perPass(run: Run, layers: Map[Int, Map[String, Double]],
              keep: Span => Boolean, key: String = "wall_s"): Double =
    Stats.median(tracedWarm(run).map { p =>
      run.tracer.spans.filter(s => s.pass == p && keep(s))
        .flatMap(s => layers.get(s.id)).map(_.getOrElse(key, 0.0)).sum
    })

  def summarize(run: Run, layers: Map[Int, Map[String, Double]],
                passWall: Map[Int, Double]): Map[String, Double] = {
    val traced = tracedWarm(run).toSet
    val untraced = passWall.keys.filter(p => p > 0 && !traced(p)).toSeq
    val overhead =
      if (untraced.isEmpty || traced.isEmpty) 0.0
      else Stats.median(traced.toSeq.map(passWall)) /
        Stats.median(untraced.map(passWall)) - 1
    val spans = layers.values.toSeq
    val wall = spans.map(_("span_ms")).sum / 1e3
    val unexplained = spans.map(_("unexplained_s")).sum
    // a span passes when its layers cover its wall to within 10 %,
    // with 5 ms of slack for millisecond event timestamps
    val over = spans.count(l => l("unexplained_s") > 0.1 * l("span_ms") / 1e3 + 0.005)
    crossCutting.map(k => k -> perPass(run, layers, _ => true, k)).toMap ++ Map(
      "storage.peak_mb" -> spans.map(_("storage.peak_mb")).foldLeft(0.0)(_ max _),
      "trace.overhead_frac" -> overhead,
      "trace.unexplained_frac" -> (if (wall > 0) unexplained / wall else 0.0),
      "trace.spans_over_10pct" -> (if (spans.isEmpty) 0.0 else over.toDouble / spans.size)
    )
  }

  /** All traced spans with their layer breakdown, one JSON object per
    * line, written when the run ends. */
  def writeSpans(out: File, tracer: Tracer, layers: Map[Int, Map[String, Double]]): Unit = {
    val lines = tracer.spans.filter(_.traced).map { s =>
      val l = layers.getOrElse(s.id, Map.empty)
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "pass" -> s.pass.toString,
        "start_ms" -> s.t0Ms.toString, "end_ms" -> s.t1Ms.toString) ++
        l.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*)
    }
    Files.writeString(out.toPath, lines.mkString("", "\n", "\n"))
  }
}
