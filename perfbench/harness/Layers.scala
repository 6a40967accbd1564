package perfbench

import scala.jdk.CollectionConverters._

/** Per-layer figures of one traced pass, from the spans the benchmark
  * recorded around its calls, the jobs the listener saw and the FS
  * counters. Jobs belong to the span (or pass) whose clock interval
  * contains their start.
  */
object Layers {
  /** Stated tolerance of the trace consistency check. Job time splits
    * into the spans (so a span's job time plus its driver gap is its wall
    * time) only if every job the listener saw during a traced pass started
    * inside one of the pass's spans and ended by that span's end, give or
    * take `tolMs` (listener times have millisecond resolution); and the
    * spans explain the pass only if they cover at least `minCoverPct` of
    * its wall time.
    */
  val tolMs = 25L
  val minCoverPct = 95.0

  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def perPass(rec: PerfMain.Recorder, l: JobListener,
              passes: Seq[(Int, Long, Long, Double)]): Seq[Map[String, Double]] = {
    val jobs = l.jobs.values.asScala.toSeq
    def jobsIn(s: Long, e: Long) = jobs.filter(j => j.startMs >= s && j.startMs <= e)
    def ivs(js: Seq[l.Job]) = js.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
    val mb = 1048576.0
    passes.map { case (idx, s0, s1, wallS) =>
      val js = jobsIn(s0, s1)
      val jobS = union(ivs(js), s0, s1) / 1000.0
      val spans = rec.spans.filter(_.pass == idx).toSeq
      val fs = Seq("create", "open", "rename", "delete", "list", "stat", "mkdirs",
        "bytes_written", "bytes_read", "call_ns").map { k =>
        k -> spans.map(s => s.fsAfter.getOrElse(k, 0.0) - s.fsBefore.getOrElse(k, 0.0)).sum
      }.toMap
      def ms(kind: String, name: String) =
        median(spans.filter(s => s.kind == kind && s.name == name).map(_.wallNs / 1e6))
      // jobs not wholly inside one span: started between spans, or
      // still running when the call that started them had returned
      val unattributed = js.count { j =>
        val end = if (j.endMs < 0) Long.MaxValue else j.endMs
        !spans.exists(s => j.startMs >= s.startMs - tolMs && j.startMs <= s.endMs && end <= s.endMs + tolMs)
      }
      val coverPct = 100.0 * spans.map(_.wallNs / 1e9).sum / wallS
      val byGroup = spans.filter(_.kind == "key").groupBy(_.group)
        .map { case (g, ss) => s"ops.${g}_s" -> ss.map(_.wallNs / 1e9).sum }
      val byKey = spans.filter(_.kind == "key")
        .groupBy(_.name).map { case (k, ss) => s"key.${k}_s" -> ss.map(_.wallNs / 1e9).sum }
      Map(
        "spark.jobs" -> js.size.toDouble,
        "spark.tasks" -> js.map(_.tasks.get).sum.toDouble,
        "spark.job_s" -> jobS,
        "spark.driver_gap_s" -> (wallS - jobS),
        "spark.task_cpu_s" -> js.map(_.cpuNs.get).sum / 1e9,
        "spark.shuffle_write_mb" -> js.map(_.shuffleWrite.get).sum / mb,
        "spark.input_mb" -> js.map(_.input.get).sum / mb,
        "spark.output_mb" -> js.map(_.output.get).sum / mb,
        "spark.output_files" -> l.fileWrites.asScala.filter(_._1 == idx).map(_._2).sum.toDouble,
        "spark.spill_mb" -> js.map(_.spill.get).sum / mb,
        "fs.create" -> fs("create"), "fs.open" -> fs("open"), "fs.rename" -> fs("rename"),
        "fs.delete" -> fs("delete"), "fs.list" -> fs("list"), "fs.stat" -> fs("stat"),
        "fs.mkdirs" -> fs("mkdirs"),
        "fs.bytes_written_mb" -> fs("bytes_written") / mb,
        "fs.bytes_read_mb" -> fs("bytes_read") / mb,
        "fs.call_s" -> fs("call_ns") / 1e9,
        "lake.snapshot_ms" -> ms("snapshot", "latestSnapshot"),
        "lake.append_ms" -> ms("commit", "append"),
        "lake.merge_ms" -> ms("commit", "merge"),
        "lake.merge_mor_ms" -> ms("commit", "merge_mor"),
        "lake.delete_ms" -> ms("commit", "delete"),
        "lake.delete_mor_ms" -> ms("commit", "delete_mor"),
        "lake.update_ms" -> ms("commit", "update"),
        "lake.read_cow_ms" -> ms("read", "read_cow"),
        "lake.read_mor_ms" -> ms("read", "read_mor"),
        "pipeline.silver_s" -> ms("silver", "runSilver") / 1000.0,
        "pipeline.gold_s" -> ms("gold", "runGold") / 1000.0,
        "pipeline.refresh_ms" -> ms("commit", "refreshFactEvents"),
        "trace.spans" -> spans.size.toDouble,
        "trace.unattributed_jobs" -> unattributed.toDouble,
        "trace.span_cover_pct" -> coverPct,
        "trace.check_failed" -> (if (unattributed > 0 || coverPct < minCoverPct) 1.0 else 0.0)
      ) ++ byGroup ++ byKey
    }
  }
}
