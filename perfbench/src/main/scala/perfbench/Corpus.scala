package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Order-independent digest of a multiset of lines: their count plus the
  * sum of a 64-bit hash of each line. */
final case class LineDigest(lines: Long, sum: Long) {
  def addBytes(bytes: Array[Byte], from: Int, until: Int): LineDigest =
    LineDigest(lines + 1, sum + LineDigest.hash(bytes, from, until))
  def addLine(line: String): LineDigest = LineDigest(lines + 1, sum + LineDigest.of(line))
  def hex: String = f"$lines:$sum%016x"
}

object LineDigest {
  val empty: LineDigest = LineDigest(0, 0)

  /** FNV-1a over the bytes, finished with the splitmix64 mixer. */
  def hash(b: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  def of(line: String): Long = { val b = line.getBytes(US_ASCII); hash(b, 0, b.length) }
}

/** Shape of one generated corpus. */
final case class CorpusStats(bytes: Long, lines: Long, tokens: Long, distinctWords: Long,
                             topKeyShare: Double, files: Int)

/** A seeded Zipf-vocabulary text corpus, written as `files` text files,
  * together with the answers WordCount and InvertedIndex must give on it.
  *
  * The vocabulary and its rank order are fixed; the seed draws the lines.
  * Which reducer a heavy word hashes to sets the shuffle's skew, so a
  * per-seed vocabulary would make the skew, not the engine, vary by seed.
  *
  * The answers are tallied while generating, in the global line numbering
  * the MapReduce facade uses: Spark reads the files of a directory in
  * decreasing size order, so file `i` is made strictly larger than file
  * `i + 1` and the numbering follows the file index. [[write]] fails if
  * the sizes come out otherwise. */
final class Corpus(seed: Long, targetBytes: Long, val files: Int, vocab: Int = 50000,
                   zipfS: Double = 1.05) {

  /** Expected output lines, digested the way [[checkSinkDir]] digests the
    * files the sink writes. */
  var wordCountDigest: LineDigest = LineDigest.empty
  var invertedIndexDigest: LineDigest = LineDigest.empty
  var stats: CorpusStats = CorpusStats(0, 0, 0, 0, 0, files)

  private def words(rng: SplittableRandom): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    val sb = new StringBuilder
    while (seen.size < vocab) {
      sb.clear()
      val len = 2 + rng.nextInt(9)
      var i = 0
      while (i < len) { sb += ('a' + rng.nextInt(26)).toChar; i += 1 }
      seen += sb.toString
    }
    seen.toArray
  }

  /** Writes the corpus into `dir` (replacing its files) and tallies the
    * expected answers. Same seed, same bytes. */
  def write(dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.list(dir).forEach(p => Files.delete(p))
    val vocabArr = words(new SplittableRandom(Corpus.VocabularySeed))
    val rng = new SplittableRandom(seed)
    val cdf = {
      val w = Array.tabulate(vocab)(r => 1.0 / math.pow(r + 1, zipfS))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(): Int = {
      val u = rng.nextDouble()
      var lo = 0
      var hi = vocab - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      lo
    }
    // lines per file decrease with the file index, so sizes do too
    val avgLineBytes = 66.0
    val totalLines = math.max(files.toLong, (targetBytes / avgLineBytes).toLong)
    val step = math.max(1L, totalLines / files / 25)
    val base = math.max(1L, totalLines / files - step * (files - 1) / 2)
    val counts = new Array[Long](vocab)
    val lastLine = Array.fill(vocab)(-1L)
    val postings = Array.fill(vocab)(new mutable.ArrayBuilder.ofLong)
    var lineNo = 0L
    var tokens = 0L
    var bytes = 0L
    val sizes = new Array[Long](files)
    val buf = new java.io.ByteArrayOutputStream(1 << 16)
    for (f <- 0 until files) {
      val out = new BufferedOutputStream(new FileOutputStream(dir.resolve(f"part-$f%03d.txt").toFile), 1 << 16)
      try {
        val n = base + step * (files - 1 - f)
        var l = 0L
        while (l < n) {
          buf.reset()
          val k = 4 + rng.nextInt(13)
          var t = 0
          while (t < k) {
            val w = draw()
            if (t > 0) buf.write(' ')
            buf.write(vocabArr(w).getBytes(US_ASCII))
            counts(w) += 1
            if (lastLine(w) != lineNo) { lastLine(w) = lineNo; postings(w) += lineNo }
            t += 1
          }
          buf.write('\n')
          buf.writeTo(out)
          sizes(f) += buf.size
          tokens += k
          lineNo += 1
          l += 1
        }
      } finally out.close()
    }
    bytes = sizes.sum
    require(sizes.sliding(2).forall { case Array(a, b) => a > b; case _ => true },
      s"corpus file sizes must strictly decrease with the file index: ${sizes.mkString(",")}")

    var wc = LineDigest.empty
    var ii = LineDigest.empty
    var distinct = 0L
    for (w <- 0 until vocab if counts(w) > 0) {
      distinct += 1
      val word = vocabArr(w)
      wc = wc.addLine(s"$word ${counts(w)} ")
      ii = ii.addLine(postings(w).result().map(_.toString).sorted.mkString(s"$word ", " ", " "))
    }
    wordCountDigest = wc
    invertedIndexDigest = ii
    stats = CorpusStats(bytes, lineNo, tokens, distinct, counts.max.toDouble / tokens, files)
  }
}

object Corpus {
  val VocabularySeed = 0x5eedL

  def isPart(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.startsWith("part-") && !n.endsWith(".crc")
  }

  /** Reads every part file a [[graft.sinks.TextKVSink]] wrote into `dir`
    * and checks the reference output format: each row ends in a space,
    * rows are key-sorted within a file, and no key repeats across files.
    * Returns the digest of all rows and the number of part files. */
  def checkSinkDir(dir: Path): Either[String, (LineDigest, Int)] = {
    import scala.jdk.CollectionConverters._
    val parts = Files.list(dir).iterator().asScala.filter(isPart).toSeq.sortBy(_.getFileName.toString)
    var digest = LineDigest.empty
    val keys = new java.util.HashSet[String]()
    for (p <- parts) {
      val b = Files.readAllBytes(p)
      var start = 0
      var prevKey: Array[Byte] = null
      while (start < b.length) {
        var end = start
        while (end < b.length && b(end) != '\n') end += 1
        if (end == b.length) return Left(s"${p.getFileName}: last row has no newline")
        if (end == start || b(end - 1) != ' ') return Left(s"${p.getFileName}: row without trailing space")
        var k = start
        while (b(k) != ' ') k += 1
        val key = java.util.Arrays.copyOfRange(b, start, k)
        if (prevKey != null && java.util.Arrays.compareUnsigned(prevKey, key) >= 0)
          return Left(s"${p.getFileName}: rows not key-sorted at ${new String(key, US_ASCII)}")
        if (!keys.add(new String(key, US_ASCII)))
          return Left(s"key ${new String(key, US_ASCII)} written by two reducers")
        prevKey = key
        digest = digest.addBytes(b, start, end)
        start = end + 1
      }
    }
    Right((digest, parts.size))
  }
}
