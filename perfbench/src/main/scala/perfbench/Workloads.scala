package perfbench

import java.nio.file.{Files, Path}
import java.util.Locale

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.apps.{InvertedIndex, WordCount}
import graft.core.ScratchCache
import graft.sinks.TextKVSink
import graft.sources.Sources

/** What one benchmark job left behind: its latency from the builder call
  * to the committed result, and a check of its output that runs after
  * the timed region. */
final case class JobResult(seq: Int, kind: String, latencyS: Double, check: () => Option[String])

/** State shared by the jobs of one run. */
final class Runner(val spark: SparkSession, val spans: Spans) {
  var traced = false
  var plantWrong = false
  var cachedBytesPeak = 0L
  var cachedRddsPeak = 0L
  /** Driver time spent on tracing: bus drains and storage samples. */
  var tracingNs = 0L

  /** Peak cached storage, sampled before each drain of scratch caches. */
  def sampleStorage(): Unit = if (traced) {
    val t0 = System.nanoTime()
    val infos = spark.sparkContext.getRDDStorageInfo
    cachedBytesPeak = math.max(cachedBytesPeak, infos.map(i => i.memSize + i.diskSize).sum)
    cachedRddsPeak = math.max(cachedRddsPeak, infos.length.toLong)
    tracingNs += System.nanoTime() - t0
  }

  /** Runs `body` as benchmark job `seq`. The latency ends when `body`
    * hands back the check of its result; `after` then runs whether or not
    * the body failed, still inside the job's span. */
  def job(seq: Int, kind: String)(body: => (() => Option[String]))(after: => Unit): JobResult = {
    var latency = 0.0
    var check: () => Option[String] = () => None
    spans.span("job", seq) {
      val t0 = System.nanoTime()
      check =
        try body
        catch { case scala.util.control.NonFatal(e) =>
          val msg = s"$kind failed: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          () => Some(msg)
        }
        finally latency = (System.nanoTime() - t0) / 1e9
      after
    }
    JobResult(seq, kind, latency, check)
  }
}

trait Workload {
  def name: String
  /** The jobs of one pass, in their unpermuted order. */
  def jobList: IndexedSeq[String]
  /** Jobs run once, untimed, to warm the JVM before measuring. */
  def warmupList: Seq[String] = jobList
  /** Makes the inputs; repeated during set-up. */
  def prepare(): Unit
  def run(kind: String, seq: Int, r: Runner): JobResult
  /** Facts about the inputs, for the run's stamp. */
  def stamp: Map[String, Any]
  /** Output keys a job of this kind produces (0 when not counted). */
  def outputKeys(kind: String): Long = 0L
  /** Part files the sink wrote for job `seq`. */
  def sinkFiles(seq: Int): Long = 0L
}

/** The paper's workload: WordCount and InvertedIndex over a seeded Zipf
  * corpus, each written by the reference-format sink with one file per
  * reducer, as the reference apps' runner does. */
final class MrZipf(spark: SparkSession, work: Path, seed: Long, corpusBytes: Long, files: Int,
                   cores: Int) extends Workload {
  val name = "mr_zipf"
  val jobList: IndexedSeq[String] = Vector("wordcount", "invertedindex")
  // two passes: one pass leaves the first timed passes still warming up
  override val warmupList: Seq[String] = jobList ++ jobList
  private val corpus = new Corpus(seed, corpusBytes, files)
  private val corpusDir = work.resolve("corpus")
  private val outRoot = work.resolve("out")

  def prepare(): Unit = corpus.write(corpusDir)

  def stamp: Map[String, Any] = {
    val s = corpus.stats
    Map("corpus_bytes" -> s.bytes, "corpus_lines" -> s.lines, "corpus_tokens" -> s.tokens,
      "corpus_distinct_words" -> s.distinctWords, "corpus_top_key_share" -> s.topKeyShare,
      "corpus_files" -> s.files,
      "corpus_splits" -> Sources.textLines(spark, corpusDir.toString).rdd.getNumPartitions,
      "sink_files_per_job" -> filesByKind.toMap)
  }

  override def outputKeys(kind: String): Long = corpus.stats.distinctWords

  private val filesBySeq = scala.collection.concurrent.TrieMap.empty[Int, Long]
  private val filesByKind = scala.collection.concurrent.TrieMap.empty[String, Long]

  override def sinkFiles(seq: Int): Long = filesBySeq.getOrElse(seq, 0L)

  def run(kind: String, seq: Int, r: Runner): JobResult = {
    val out = outRoot.resolve(f"$seq%05d-$kind")
    r.job(seq, kind) {
      val lines = r.spans.span("sources.read")(Sources.textLines(spark, corpusDir.toString))
      val df = r.spans.span("mr.construct") {
        if (kind == "wordcount") WordCount.viaFacade(lines).toDF("key", "values")
        else InvertedIndex.viaFacade(lines, cores).toDF("key", "values")
      }
      r.spans.span("plan")(df.queryExecution.executedPlan)
      r.spans.span("sinks.write")(TextKVSink.write(df, "key", "values", out.toString, cores))
      if (r.plantWrong) { Planted.corruptFirstDigit(out); r.plantWrong = false }
      () => check(kind, out)
    } {
      if (Files.isDirectory(out)) {
        val n = Files.list(out).filter(Corpus.isPart(_)).count()
        filesBySeq.put(seq, n)
        filesByKind.put(kind, n)
      }
    }
  }

  /** The merged rows must equal the generator's tallies (the engine's
    * declared output contract, SURVEY.md §7.4). The file count is held to
    * what the engine's own specs promise: exactly one file per reducer for
    * InvertedIndex (ReferenceParitySpec), at most one per reducer for
    * WordCount through the app runner (AppRunnerSpec), whose aggregation
    * already hash-partitions on the key. Every problem found is reported. */
  private def check(kind: String, out: Path): Option[String] = {
    val want = if (kind == "wordcount") corpus.wordCountDigest else corpus.invertedIndexDigest
    val problems = Corpus.checkSinkDir(out) match {
      case Left(msg) => Seq(msg)
      case Right((got, n)) =>
        val filesOk = if (kind == "wordcount") n >= 1 && n <= cores else n == cores
        (if (!filesOk) Seq(s"$n output files for $cores reducers") else Nil) ++
          (if (got != want) Seq(s"output ${got.hex} != expected ${want.hex}") else Nil)
    }
    Planted.deleteTree(out)
    if (problems.isEmpty) None else Some(s"$kind: " + problems.mkString("; "))
  }
}

/** Catalog queries through the engine's query map, one job per query.
  * The action collects the result, so every timed result is checked
  * against a pinned digest after the timed region. */
final class Catalog(spark: SparkSession, val name: String, val jobList: IndexedSeq[String],
                    dataDir: String, pinned: Map[String, String],
                    override val warmupList: Seq[String]) extends Workload {

  def prepare(): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents",
      "embeddings").foreach(t => graft.core.Tables.table(spark, dataDir, t).schema)

  def stamp: Map[String, Any] = Map("queries" -> jobList.size)

  /** Digests of the results seen in this run, for pinning. */
  val seen = scala.collection.concurrent.TrieMap.empty[String, String]

  def run(kind: String, seq: Int, r: Runner): JobResult = r.job(seq, kind) {
    val df = r.spans.span("catalog.construct")(SparkEntry.queries(kind)(spark, dataDir))
    r.spans.span("plan")(df.queryExecution.executedPlan)
    val rows = r.spans.span("exec")(df.collect())
    val schema = df.schema
    val planted = r.plantWrong
    r.plantWrong = false
    () => {
      val got = RowDigest.digest(schema, if (planted) Planted.dropRow(rows) else rows)
      seen.put(kind, got)
      pinned.get(kind) match {
        case None => Some(s"$kind: no pinned digest")
        case Some(want) if want != got => Some(s"$kind: result $got != pinned $want")
        case _ => None
      }
    }
  } {
    r.spans.span("core.drain") { r.sampleStorage(); ScratchCache.drain() }
  }
}

/** Canonical, order-independent digest of a collected result: columns in
  * name order, doubles to 7 significant digits, rows as a multiset. */
object RowDigest {
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  private def fmt(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0.0) "0" else "%.7g".formatLocal(Locale.ROOT, d)

  def digest(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    rows.foldLeft(LineDigest.empty)((d, r) =>
      d.addLine(order.map(i => canon(r.get(i))).mkString("|"))).hex
  }
}

/** Wrong answers planted on purpose, to prove the checks catch them. */
object Planted {
  def corruptFirstDigit(dir: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val part = Files.list(dir).iterator().asScala
      .filter(Corpus.isPart).toSeq.sortBy(_.toString).find(p => Files.size(p) > 0).get
    val b = Files.readAllBytes(part)
    val i = b.indexWhere(c => c >= '0' && c <= '9')
    b(i) = (if (b(i) == '9') '8' else b(i) + 1).toByte
    Files.write(part, b)
  }

  def dropRow(rows: Array[Row]): Array[Row] = rows.dropRight(1)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}
