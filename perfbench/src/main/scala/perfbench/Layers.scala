package perfbench

import scala.collection.mutable

/** Turns the spans and listener records of one traced timed region into
  * the per-layer metrics. Totals are reported per pass; ratios, peaks and
  * counts of retries are reported over the whole region. */
object Layers {
  import Attribution._

  /** Spans whose Spark jobs count as the query's action. */
  val actionSpans = Set("exec", "sinks.write")

  /** Context a traced region adds beyond spans and listener records. */
  final case class Extra(passes: Int, cores: Int, jobKinds: Map[Int, String],
                         outputKeys: Map[Int, Long], sinkFiles: Long,
                         cachedBytesPeak: Long, cachedRddsPeak: Long, storeBytes: Long)

  private def union(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def compute(spans: Seq[Span], att: Attribution, x: Extra): Map[String, Double] = att.synchronized {
    val p = x.passes.toDouble
    val spanById = spans.map(s => s.id -> s).toMap
    // Spark jobs of this region, with the span that started them
    val jobs: Seq[(JobRec, Span)] = att.jobs.values.toSeq.flatMap(j =>
      parseGroup(j.group).flatMap { case (_, _, sid) => spanById.get(sid) }.map(j -> _))
    val jobSpan: Map[Int, Span] = jobs.map { case (j, s) => j.id -> s }.toMap
    val stageSpan: Map[Int, Span] = att.stageJob.toMap.flatMap { case (st, j) => jobSpan.get(j).map(st -> _) }
    val tasks = att.tasks.toSeq.flatMap(t => stageSpan.get(t.stageId).map(t -> _))
    def layer(names: String => Boolean) = tasks.collect { case (t, s) if names(s.name) => t }
    def jobsIn(names: String => Boolean) = jobs.collect { case (j, s) if names(s.name) => j }
    def spanS(name: String) = spans.filter(_.name == name).map(s => (s.endMs - s.startMs) / 1000).sum

    /** Span time not covered by any of the span's own Spark jobs. */
    def selfS(name: String): Double = spans.filter(_.name == name).map { s =>
      val covered = union(jobs.collect { case (j, js) if js.id == s.id =>
        (math.max(j.startMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs)) })
      (s.endMs - s.startMs - covered) / 1000
    }.sum

    val actionTasks = layer(actionSpans)
    val actionJobs = jobsIn(actionSpans)
    val actionStages = actionTasks.groupBy(_.stageId)

    // mr: the map-side shuffle is written by the stage that reads the corpus
    val mrJobSeqs = spans.filter(_.name == "mr.construct").map(_.job).toSet
    val mrActionTasks = tasks.collect { case (t, s) if actionSpans(s.name) && mrJobSeqs(s.job) => t }
    val readStages = mrActionTasks.groupBy(_.stageId).filter(_._2.exists(_.inputBytes > 0))
    val mrShuffleRecords = readStages.values.flatten.map(_.shuffleWriteRecords).sum.toDouble
    val sinkStages = mrActionTasks.groupBy(_.stageId).filter(_._2.exists(_.outputBytes > 0)).keySet
    val sinkStageS = sinkStages.toSeq.flatMap(att.stages.get)
      .filter(s => s.submitMs > 0 && s.completeMs >= s.submitMs)
      .map(s => (s.completeMs - s.submitMs) / 1000.0).sum
    val mrTasks = tasks.collect { case (t, s) if mrJobSeqs(s.job) => t }

    val schedGap = actionJobs.map { j =>
      val own = actionTasks.filter(t => att.stageJob.get(t.stageId).contains(j.id))
      val covered = union(own.map(t => (t.launchMs.toDouble, t.finishMs.toDouble))
        .map { case (s, e) => (math.max(s, j.startMs.toDouble), math.min(e, j.endMs.toDouble)) })
      math.max(0.0, (j.endMs - j.startMs) - covered) / 1000
    }.sum
    val taskWait = actionTasks.flatMap(t => att.stages.get(t.stageId).filter(_.submitMs > 0)
      .map(s => math.max(0L, t.launchMs - s.submitMs) / 1000.0))
    val skews = actionStages.values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finishMs - t.launchMs).toDouble)
      d.max / math.max(1.0, median(d))
    }.toSeq
    val actionWallS = spanS("exec") + spanS("sinks.write")

    val catalogConstructS = spanS("catalog.construct")
    val jobS = spans.filter(_.name == "job").map(s => (s.endMs - s.startMs) / 1000).sum
    def share(x: Double) = if (jobS > 0) x / jobS else 0.0

    def shuffleBy(kind: String) = tasks.collect { case (t, s)
      if actionSpans(s.name) && x.jobKinds.get(s.job).contains(kind) => t.shuffleWriteBytes }.sum.toDouble
    val wcShuffle = shuffleBy("wordcount")

    val unattributed = att.jobs.values.count(j => parseGroup(j.group).isEmpty)

    Map(
      "sources.s" -> spanS("sources.read") / p,
      "sources.self_s" -> selfS("sources.read") / p,
      "sources.splits" -> median(readStages.values.map(_.size.toDouble).toSeq),
      "sources.input_bytes" -> mrTasks.map(_.inputBytes).sum / p,
      "mr.construct_s" -> spanS("mr.construct") / p,
      "mr.construct_self_s" -> selfS("mr.construct") / p,
      "mr.construct_jobs" -> jobsIn(_ == "mr.construct").size / p,
      "mr.construct_share" -> share(spanS("mr.construct")),
      "mr.shuffle_records" -> mrShuffleRecords / p,
      "mr.keys_per_shuffle_record" ->
        (if (mrShuffleRecords > 0) x.outputKeys.values.sum / mrShuffleRecords else 0.0),
      "mr.shuffle_write_ratio" -> (if (wcShuffle > 0) shuffleBy("invertedindex") / wcShuffle else 0.0),
      "sinks.s" -> sinkStageS / p,
      "sinks.self_s" -> selfS("sinks.write") / p,
      "sinks.bytes_written" -> mrActionTasks.map(_.outputBytes).sum / p,
      "sinks.files" -> x.sinkFiles / p,
      "catalog.construct_s" -> catalogConstructS / p,
      "catalog.construct_self_s" -> selfS("catalog.construct") / p,
      "catalog.construct_jobs" -> jobsIn(_ == "catalog.construct").size / p,
      "catalog.construct_tasks" -> layer(_ == "catalog.construct").size / p,
      "catalog.construct_share" -> share(catalogConstructS),
      "plan.s" -> spanS("plan") / p,
      "exec.s" -> actionWallS / p,
      "exec.self_s" -> (selfS("exec") + selfS("sinks.write")) / p,
      "exec.jobs" -> actionJobs.size / p,
      "exec.tasks_per_job" -> (if (actionJobs.nonEmpty) actionTasks.size.toDouble / actionJobs.size else 0.0),
      "exec.sched_gap_s" -> schedGap / p,
      "exec.executor_cpu_s" -> actionTasks.map(_.cpuNs).sum / 1e9 / p,
      "exec.core_util" ->
        (if (actionWallS > 0) actionTasks.map(_.runMs).sum / 1000.0 / (actionWallS * x.cores) else 0.0),
      "exec.task_wait_s" -> (if (taskWait.nonEmpty) taskWait.sum / taskWait.size else 0.0),
      "exec.stage_skew" -> (if (skews.nonEmpty) median(skews) else 1.0),
      "exec.shuffle_write_bytes" -> actionTasks.map(_.shuffleWriteBytes).sum / p,
      "exec.shuffle_read_bytes" -> actionTasks.map(_.shuffleReadBytes).sum / p,
      "exec.spill_bytes" -> actionTasks.map(_.spillBytes).sum / p,
      "exec.gc_s" -> actionTasks.map(_.gcMs).sum / 1000.0 / p,
      "exec.failed_tasks" -> tasks.count(_._1.failed).toDouble,
      "core.drain_s" -> spanS("core.drain") / p,
      "core.cached_bytes_peak" -> x.cachedBytesPeak.toDouble,
      "core.cached_rdds_peak" -> x.cachedRddsPeak.toDouble,
      "core.store_bytes" -> x.storeBytes.toDouble,
      "trace.unattributed_jobs" -> unattributed.toDouble,
    )
  }

  /** Per job kind (an app or a query): Spark jobs, tasks and action-side
    * shuffle bytes, for the run's detail record. */
  def byKind(spans: Seq[Span], att: Attribution, kinds: Map[Int, String]): Map[String, Map[String, Double]] =
    att.synchronized {
      val spanById = spans.map(s => s.id -> s).toMap
      val acc = mutable.Map.empty[String, mutable.Map[String, Double]]
      def add(kind: String, k: String, v: Double): Unit =
        acc.getOrElseUpdate(kind, mutable.Map.empty.withDefaultValue(0.0))(k) += v
      val jobSpan = att.jobs.values.flatMap(j =>
        parseGroup(j.group).flatMap { case (_, _, sid) => spanById.get(sid) }.map(j.id -> _)).toMap
      jobSpan.foreach { case (_, s) => kinds.get(s.job).foreach(add(_, "spark_jobs", 1)) }
      att.tasks.foreach { t =>
        att.stageJob.get(t.stageId).flatMap(jobSpan.get).foreach { s =>
          kinds.get(s.job).foreach { kind =>
            add(kind, "tasks", 1)
            if (actionSpans(s.name)) add(kind, "exec.shuffle_write_bytes", t.shuffleWriteBytes.toDouble)
          }
        }
      }
      spans.filter(_.name == "catalog.construct").foreach(s =>
        kinds.get(s.job).foreach(add(_, "construct_s", (s.endMs - s.startMs) / 1000)))
      spans.filter(_.name == "job").foreach(s =>
        kinds.get(s.job).foreach(add(_, "job_s", (s.endMs - s.startMs) / 1000)))
      acc.map { case (k, m) => k -> m.toMap }.toMap
    }
}
