package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. Runs one workload in one process on
  * local[N] with a single closed-loop client, and prints the run's
  * result as the last line of stdout. See ../README.md. */
object Main {

  val catalogScan: IndexedSeq[String] = Vector("q01", "q03", "q09", "q30", "q50", "q74", "q82",
    "q146", "q236", "q237", "q97", "q112")
  val catalogIterative: IndexedSeq[String] = Vector("q164", "q240", "q155", "q143", "q54", "q78",
    "q90", "q99", "q219", "q223", "q133", "q196", "q202", "q214")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, catalogDir: String, corpusMb: Double, plantWrong: Boolean, pin: Boolean, checkTotals: Boolean,
                        stamp: Map[String, String])

  /** Input preparations during set-up; `setup_s` counts their median. */
  val SetupRepeats = 3

  /** Every option is required; run.py passes them all. */
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", Paths.get(req("work")).toAbsolutePath, req("catalog-dir"),
      req("corpus-mb").toDouble,
      req("plant-wrong") == "1", req("pin") == "1", req("check-totals") == "1",
      kv.collect { case (k, v) if k.startsWith("stamp-") => k.stripPrefix("stamp-") -> v })
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Tail latency: the nearest-rank p90, the ceil(0.9 n)-th smallest
    * sample. Returns (value, the share of samples at or below it). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val i = math.ceil(0.9 * s.size).toInt - 1
    (s(i), (i + 1).toDouble / s.size)
  }

  /** Peak old-generation usage right after a collection, while armed. */
  object HeapWatch {
    @volatile var armed = false
    @volatile var peakBytes = 0L
    private lazy val install: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: Any) => {
          if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
              if (pool.contains("Old Gen") || pool.contains("Tenured")) peakBytes = math.max(peakBytes, u.getUsed)
            }
          }
        }, null, null)
      case _ => ()
    }
    def arm(): Unit = { install; peakBytes = 0L; armed = true }
    def disarm(): Long = { armed = false; peakBytes }
  }

  /** CPU time the host took from this machine so far (Linux steal time,
    * all cores), in seconds; NaN where it cannot be read. A run with much
    * of it was slowed by its neighbours, not by the code. */
  private def stealS(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/stat")), "US-ASCII")
      .linesIterator.next().trim.split("\\s+")(8).toDouble / 100
    catch { case scala.util.control.NonFatal(_) => Double.NaN }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  final case class Region(passes: Int, passWallS: Seq[Double], passCpuS: Seq[Double],
                          jobs: Seq[JobResult], peakHeapMb: Double, tracedSpans: Seq[Span],
                          tracedJobs: Seq[JobResult], tracedWallS: Seq[Double],
                          tracingS: Seq[Double])

  /** Runs passes over the seeded permutation of the job list until
    * `seconds` have passed (at least one whole pass). With `att`, every
    * other pass is traced, in the order U T T U U T ..., with the listener
    * attached for traced passes only; the run goes on to an even number
    * of passes, so both kinds share the JVM's warm-up drift. A traced
    * pass also records the time tracing itself spends: the listener's
    * handlers, the bus drains and the storage samples. */
  def timedRegion(w: Workload, r: Runner, seed: Long, seconds: Double, att: Option[Attribution],
                  seq0: Int): Region = {
    System.gc()
    HeapWatch.arm()
    val sc = r.spark.sparkContext
    val walls, cpus, tracedWalls, tracing = mutable.ArrayBuffer.empty[Double]
    val jobs, tracedJobs = mutable.ArrayBuffer.empty[JobResult]
    val tracedSpans = mutable.ArrayBuffer.empty[Span]
    val t0 = System.nanoTime()
    var pass = 0
    def more = pass == 0 || (System.nanoTime() - t0) / 1e9 < seconds || (att.isDefined && pass % 2 == 1)
    r.spans.span("workload", 0) {
      while (more) {
        val order = new scala.util.Random(seed * 7919 + pass / (if (att.isDefined) 2 else 1))
          .shuffle(w.jobList)
        val traced = att.isDefined && (pass % 4 == 1 || pass % 4 == 2)
        val spanFrom = r.spans.done.size
        if (traced) { att.foreach(sc.addSparkListener); r.traced = true }
        val busy0 = r.tracingNs + att.fold(0L)(_.handlerNs)
        def drain(): Unit = {
          val d0 = System.nanoTime()
          PerfbenchBus.drain(sc)
          r.tracingNs += System.nanoTime() - d0
        }
        val c0 = cpuNs()
        val p0 = System.nanoTime()
        r.spans.span("pass", 0) {
          order.foreach { kind =>
            val j = w.run(kind, seq0 + jobs.size + tracedJobs.size, r)
            if (traced) drain()
            if (traced) tracedJobs += j else jobs += j
          }
        }
        val wall = (System.nanoTime() - p0) / 1e9
        val cpu = (cpuNs() - c0) / 1e9
        if (traced) {
          drain()
          tracing += (r.tracingNs + att.fold(0L)(_.handlerNs) - busy0) / 1e9
          att.foreach(sc.removeSparkListener)
          r.traced = false
          tracedWalls += wall
          tracedSpans ++= r.spans.done.drop(spanFrom)
        } else { walls += wall; cpus += cpu }
        pass += 1
      }
    }
    val peak = HeapWatch.disarm()
    Region(walls.size, walls.toSeq, cpus.toSeq, jobs.toSeq, peak / 1048576.0, tracedSpans.toSeq,
      tracedJobs.toSeq, tracedWalls.toSeq, tracing.toSeq)
  }

  def session(a: Args, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    if (a.checkTotals) b.config("spark.ui.retainedJobs", "1000000")
      .config("spark.ui.retainedStages", "1000000").config("spark.ui.retainedTasks", "10000000")
    b.getOrCreate()
  }

  private def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case x => json(x.toString)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else { val s = Files.walk(p); try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close() }

  private def readPinned(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else """"([^"]+)"\s*:\s*"([^"]+)"""".r
      .findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8")).map(m => m.group(1) -> m.group(2)).toMap

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    // pinned result digests live next to the tables they were taken on
    val digests = Paths.get(a.catalogDir, "digests.json")
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val spark = session(a, cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val sc = spark.sparkContext
    // the listener is attached for traced passes only; a totals check
    // needs a second one that sees every job from the start
    val att = new Attribution
    val all = new Attribution
    if (a.checkTotals) sc.addSparkListener(all)
    val spans = new Spans(sc)
    val r = new Runner(spark, spans)

    val fullName = graft.SparkEntry.queries.keys.map(n => n.takeWhile(_ != '_') -> n).toMap
    val w: Workload = a.workload match {
      case "mr_zipf" =>
        new MrZipf(spark, a.work, a.seed, (a.corpusMb * 1e6).toLong, 4 * cores, cores)
      case "catalog_scan" =>
        new Catalog(spark, "catalog_scan", catalogScan.map(fullName), a.catalogDir,
          readPinned(digests), Seq("q01", "q146", "q236", "q237").map(fullName))
      case "catalog_iterative" =>
        new Catalog(spark, "catalog_iterative", catalogIterative.map(fullName), a.catalogDir,
          readPinned(digests), Seq("q164", "q155", "q54", "q133").map(fullName))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: inputs made several times (median), then one warmup
    val prepS = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      spans.span("setup.prepare", 0)(w.prepare())
      (System.nanoTime() - t0) / 1e9
    }
    val warm0 = System.nanoTime()
    val warmList = if (a.pin) w.jobList else w.warmupList
    val warmJobs = spans.span("setup.warmup", 0) {
      warmList.zipWithIndex.map { case (k, i) => w.run(k, 1 + i, r) }
    }
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = sessionS + median(prepS) + warmS

    r.plantWrong = a.plantWrong
    val steal0 = stealS()
    val reg = timedRegion(w, r, a.seed, a.seconds, if (a.trace) Some(att) else None, 1 + warmJobs.size)
    val stealTimedS = stealS() - steal0
    val stamp0 = w.stamp

    // checks, all after the timed regions
    val allJobs = warmJobs ++ reg.jobs ++ reg.tracedJobs
    val failures = allJobs.flatMap(j => j.check().map(m => s"job ${j.seq}: $m"))
    failures.take(20).foreach(m => println(s"[perfbench] WRONG $m"))

    if (a.pin) w match {
      case c: Catalog =>
        val merged = readPinned(digests) ++ c.seen
        Files.write(digests, (merged.toSeq.sortBy(_._1)
          .map { case (k, v) => s"  ${json(k)}: ${json(v)}" }.mkString("{\n", ",\n", "\n}\n")).getBytes("UTF-8"))
      case _ => ()
    }

    val latencies = reg.jobs.map(_.latencyS)
    val (p90, p90q) = tail(latencies)
    val attempted = allJobs.size
    val failed = allJobs.count(j => failures.exists(_.startsWith(s"job ${j.seq}: ")))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", median(reg.passWallS), "s"),
      ("cpu_s", median(reg.passCpuS), "s"),
      ("job_p50_s", median(latencies), "s"),
      ("job_p90_s", p90, "s"),
      ("peak_heap_mb", reg.peakHeapMb, "MB"),
      ("failed_frac", failed.toDouble / attempted, "ratio"))
    e2e.foreach { case (n, v, u) => println(f"[perfbench] $n%-13s ${v.toString}%s $u") }

    val stamp = Map[String, Any](
      "workload" -> w.name, "seed" -> a.seed, "cpus" -> cores, "seconds" -> a.seconds,
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
      "jvm" -> System.getProperty("java.version"), "passes" -> reg.passes,
      "jobs_timed" -> reg.jobs.size, "job_p90_n" -> latencies.size, "job_p90_percentile" -> p90q,
      "setup_parts_s" -> Map("session" -> sessionS, "prepare_median" -> median(prepS), "warmup" -> warmS),
      "pass_wall_s" -> reg.passWallS, "pass_cpu_s" -> reg.passCpuS, "steal_s" -> stealTimedS,
      "job_latency_s" -> reg.jobs.groupBy(_.kind).map { case (k, js) => k -> median(js.map(_.latencyS)) }
    ) ++ a.stamp ++ stamp0
    println("[perfbench] stamp " + json(stamp))

    val perLayer: Map[String, Double] = if (!a.trace) Map.empty else {
      val kinds = reg.tracedJobs.map(j => j.seq -> j.kind).toMap
      val layers = Layers.compute(reg.tracedSpans, att, Layers.Extra(reg.tracedWallS.size, cores, kinds,
        reg.tracedJobs.map(j => j.seq -> w.outputKeys(j.kind)).toMap,
        reg.tracedJobs.map(j => w.sinkFiles(j.seq)).sum,
        r.cachedBytesPeak, r.cachedRddsPeak, dirBytes(a.work.resolve("scratch"))))
      println("[perfbench] by_kind " + json(Layers.byKind(reg.tracedSpans, att, kinds)))
      val traceFile = a.work.resolve(s"trace-${w.name}-seed${a.seed}.json")
      val sparkSpans = att.synchronized {
        att.jobs.values.toSeq.flatMap(j => Attribution.parseGroup(j.group).map { case (_, _, sid) =>
          Map("name" -> s"spark.job.${j.id}", "parent" -> sid, "start" -> j.startMs, "end" -> j.endMs)
        }) ++ att.stages.values.toSeq.flatMap(s => att.stageJob.get(s.id).map(j =>
          Map("name" -> s"spark.stage.${s.id}", "parent" -> s"spark.job.$j", "start" -> s.submitMs,
            "end" -> s.completeMs)))
      }
      Files.write(traceFile, json(Map("stamp" -> stamp,
        "spans" -> spans.done.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent, "job" -> s.job,
          "name" -> s.name, "start" -> s.startMs, "end" -> s.endMs)),
        "spark" -> sparkSpans, "layers" -> layers)).getBytes("UTF-8"))
      layers ++ Map("trace.overhead_s" -> median(reg.tracingS))
    }

    if (a.checkTotals) {
      // per job group: the listener's (jobs, tasks) against Spark's own status store
      PerfbenchBus.drain(sc)
      val session = PerfbenchBus.jobsByGroup(sc)
      val seen = all.synchronized {
        val tasks = all.tasks.groupBy(t => all.stageJob.get(t.stageId).flatMap(all.jobs.get).map(_.group).orNull)
        all.jobs.values.groupBy(_.group).map { case (g, js) => g -> (js.size.toLong, tasks.get(g).fold(0L)(_.size.toLong)) }
      }
      val mismatched = (session.keySet ++ seen.keySet).count(g => session.get(g) != seen.get(g))
      println(s"[perfbench] totals groups=${seen.size} mismatched=$mismatched " +
        s"jobs listener=${seen.values.map(_._1).sum} session=${session.values.map(_._1).sum} " +
        s"tasks listener=${seen.values.map(_._2).sum} session=${session.values.map(_._2).sum}")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) e2e.filter(_._1 != "failed_frac")
      else perLayer.toSeq.sortBy(_._1).map { case (k, v) => (k, v, Units.of(k)) }
    val result = Map("correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    spark.stop()
    println(json(result))
  }
}

/** Units of the per-layer metrics, by name. */
object Units {
  def of(name: String): String =
    if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.contains("bytes")) "B"
    else if (Set("mr.keys_per_shuffle_record", "mr.shuffle_write_ratio", "exec.core_util", "exec.stage_skew",
      "catalog.construct_share", "mr.construct_share", "exec.tasks_per_job")(name)) "ratio"
    else "count"
}
