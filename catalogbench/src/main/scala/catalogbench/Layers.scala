package catalogbench

/** Per-layer figures of traced passes, from the recorder's spans and
  * counters. Layers are the repository's modules: a query span's
  * children are the jobs it fires, each attributed to the module of
  * its call site; a job's children are its stages.
  *
  * Self time of a layer is its spans' time minus the part of that
  * interval its child spans cover; the query layer's is
  * `spark.driver_gap_s`.
  */
object Layers {

  def json(rec: Recorder, labels: Seq[String]): String =
    labels.map(l => Json.str(l) + ": " + pass(rec, l)).mkString("{", ", ", "}")

  private def pass(rec: Recorder, label: String): String = {
    val inPass = (tag: String) => tag.startsWith(label + "|")
    val c = rec.sum(inPass)
    val qs = rec.querySpans.filter(s => inPass(s.tag))
    val jobs = rec.jobSpans.filter(s => inPass(s.tag))
    val stages = rec.stageSpans.filter(s => inPass(s.tag))
    val gapMs = qs.map { q =>
      val js = jobs.filter(_.tag == q.tag).map(j => (j.startMs, j.endMs))
      (q.endMs - q.startMs) - Recorder.covered(js, q.startMs, q.endMs)
    }.sum
    val stagesOf = stages.groupBy(_.jobId)
    val byModule = jobs.groupBy(_.module).toSeq.sortBy(_._1)
    val figures = Seq(
      "spark.jobs" -> c.jobs.toDouble,
      "spark.stages" -> c.stages.toDouble,
      "spark.tasks" -> c.tasks.toDouble,
      "spark.exchanges" -> c.exchanges.toDouble,
      "spark.exchanges_reused" -> c.exchangesReused.toDouble,
      "spark.shuffle_write_mb" -> c.shuffleWriteB / 1048576.0,
      "spark.shuffle_read_mb" -> c.shuffleReadB / 1048576.0,
      "spark.spill_mb" -> c.spillB / 1048576.0,
      "spark.sched_delay_s" -> c.schedDelayMs / 1e3,
      "spark.driver_gap_s" -> gapMs / 1e3,
      "plan.phase_s" -> c.planMs / 1e3,
      "self_s.stage" -> stages.map(s => s.endMs - s.startMs).sum / 1e3
    ) ++ byModule.flatMap { case (m, js) =>
      val selfMs = js.map { j =>
        val ch = stagesOf.getOrElse(j.jobId, Nil).map(s => (s.startMs, s.endMs))
        (j.endMs - j.startMs) - Recorder.covered(ch, j.startMs, j.endMs)
      }.sum
      Seq(s"$m.job_s" -> js.map(j => j.endMs - j.startMs).sum / 1e3,
        s"$m.jobs" -> js.size.toDouble,
        s"self_s.$m.job" -> selfMs / 1e3)
    }
    Json.obj(figures)
  }
}
