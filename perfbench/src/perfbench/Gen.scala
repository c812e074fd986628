package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generator. Everything the program sees is derived from
  * the command-line seed: the same seed gives byte-identical inputs, and
  * every per-document draw is keyed by (seed, id), so generation can run
  * inside Spark tasks in any order or partitioning.
  *
  * Text model: a Zipf vocabulary of `VocabSize` ASCII words (plus a CJK
  * vocabulary for the composite-font share) and `Topics` topics. Each
  * token is drawn from the global Zipf with probability 1/2, else from its
  * topic's own Zipf over a topic-specific word subset, so hashed
  * embeddings cluster by topic the way real corpora do, and LSH bands
  * spread over a long-tailed shingle distribution. */
final class Gen(val seed: Long) extends Serializable {
  import Gen._

  private val words: Array[String] = {
    val r = rng(seed, -1L, 0L)
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < VocabSize) {
      val syl = 1 + r.nextInt(4)
      val sb = new StringBuilder
      var i = 0
      while (i < syl) {
        sb.append(Consonants.charAt(r.nextInt(Consonants.length)))
        sb.append(Vowels.charAt(r.nextInt(Vowels.length)))
        if (r.nextInt(3) == 0) sb.append(Consonants.charAt(r.nextInt(Consonants.length)))
        i += 1
      }
      seen.add(sb.toString)
    }
    seen.toArray(new Array[String](0))
  }

  private val cjkWords: Array[String] = {
    val r = rng(seed, -2L, 0L)
    Array.fill(CjkVocabSize) {
      val n = 1 + r.nextInt(3)
      val sb = new StringBuilder
      var i = 0
      while (i < n) {
        val cp = if (r.nextInt(3) == 0) 0x3041 + r.nextInt(0x53) else 0x4E00 + r.nextInt(3000)
        sb.append(cp.toChar); i += 1
      }
      sb.toString
    }
  }

  /** topic → word indices of its own sub-vocabulary. */
  private val topicWords: Array[Array[Int]] = {
    val r = rng(seed, -3L, 0L)
    Array.fill(Topics)(Array.fill(TopicVocab)(r.nextInt(VocabSize)))
  }

  private val globalCdf = zipfCdf(VocabSize, 1.07)
  private val topicCdf = zipfCdf(TopicVocab, 1.0)
  private val cjkCdf = zipfCdf(CjkVocabSize, 1.07)

  private def word(r: SplittableRandom, topic: Int): String =
    if (r.nextBoolean()) words(draw(globalCdf, r))
    else words(topicWords(topic)(draw(topicCdf, r)))

  /** One page of ASCII text of about `len` characters: sentences of 6–18
    * words, commas, quotes and parentheses inside, `. ? ! ;` at the end
    * (the chunker's split set), single newlines, blank lines, doubled
    * spaces and tabs between words (what normalize collapses). */
  def asciiPage(r: SplittableRandom, topic: Int, len: Int): String = {
    val sb = new StringBuilder(len + 64)
    while (sb.length < len) {
      val n = 6 + r.nextInt(13)
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(r.nextInt(40) match {
          case 0 => "  "
          case 1 => "\t"
          case 2 => ", "
          case _ => " "
        })
        val w = word(r, topic)
        r.nextInt(60) match {
          case 0 => sb.append('(').append(w).append(')')
          case 1 => sb.append('"').append(w).append('"')
          case _ => sb.append(if (i == 0) w.capitalize else w)
        }
        i += 1
      }
      sb.append(Enders(r.nextInt(Enders.length)))
      sb.append(r.nextInt(10) match {
        case 0 => "\n"
        case 1 => "\n\n"
        case _ => " "
      })
    }
    sb.toString
  }

  /** One page of CJK text (composite-font documents): no spaces between
    * words, `、` inside sentences, `。！？` at the end, occasional
    * ideographic spaces and newlines. */
  def cjkPage(r: SplittableRandom, len: Int): String = {
    val sb = new StringBuilder(len + 16)
    while (sb.length < len) {
      val n = 4 + r.nextInt(10)
      var i = 0
      while (i < n) {
        sb.append(cjkWords(draw(cjkCdf, r)))
        if (r.nextInt(6) == 0) sb.append('、')
        i += 1
      }
      sb.append(CjkEnders(r.nextInt(CjkEnders.length)))
      r.nextInt(8) match {
        case 0 => sb.append('\n')
        case 1 => sb.append('　')
        case _ =>
      }
    }
    sb.toString
  }

  /** Page length: lognormal around 2,500 characters with a tail above
    * the 7,500-character chunk size (about 6% of pages). */
  def pageLen(r: SplittableRandom): Int = {
    val z = gaussian(r)
    math.max(200, math.min(16000, math.exp(math.log(2500) + 0.7 * z).toInt))
  }

  /** A generated PDF document: the pages as written and its Flate PDF. */
  def document(docId: Long): Doc = {
    val r = rng(seed, 1L, docId)
    val cjk = r.nextInt(100) < CjkPercent
    val topic = r.nextInt(Topics)
    val nPages = 1 + math.min(7, (-math.log(1 - r.nextDouble()) * 2).toInt)
    val pages = Seq.fill(nPages) {
      if (cjk) cjkPage(r, pageLen(r)) else asciiPage(r, topic, pageLen(r))
    }
    val pdf =
      if (cjk) graft.pipeline.PdfCodec.encodeCidPdf(pages)
      else graft.pipeline.PdfCodec.encodePdf(pages)
    Doc(docId, cjk, pages, pdf)
  }

  /** A short stored chunk (serve corpora): one topic, 20–60 words. */
  def chunkText(id: Long): String = {
    val r = rng(seed, 2L, id)
    val topic = r.nextInt(Topics)
    sentence(r, topic, 20 + r.nextInt(41))
  }

  /** A query: 3–8 words of one topic. Pool entries and distinct queries
    * use disjoint key spaces. */
  def queryText(key: Long): String = {
    val r = rng(seed, 3L, key)
    val topic = r.nextInt(Topics)
    sentence(r, topic, 3 + r.nextInt(6))
  }

  private def sentence(r: SplittableRandom, topic: Int, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(word(r, topic)); i += 1
    }
    sb.toString
  }

  /** Dedup corpus document `id`. Documents are grouped in blocks of
    * `ClusterSize`; in a planted block (a `clusterPercent` share) the
    * later members are copies of the first with a few words substituted,
    * so their shingle Jaccard sits well above the threshold. Text is
    * single-spaced ASCII, 300 words. */
  def dedupText(id: Long, clusterPercent: Int): String = {
    val block = id / ClusterSize
    val member = (id % ClusterSize).toInt
    val planted = isPlanted(block, clusterPercent)
    val baseId = if (planted) block * ClusterSize else id
    val r = rng(seed, 5L, baseId)
    val topic = r.nextInt(Topics)
    val ws = Array.fill(DedupWords)(word(r, topic))
    if (planted && member > 0) {
      val e = rng(seed, 6L, id)
      var i = 0
      while (i < DedupEdits) { ws(e.nextInt(DedupWords)) = word(e, topic); i += 1 }
    }
    ws.mkString(" ")
  }

  def isPlanted(block: Long, clusterPercent: Int): Boolean =
    rng(seed, 4L, block).nextInt(100) < clusterPercent
}

final case class Doc(id: Long, cjk: Boolean, pages: Seq[String], pdf: Array[Byte]) {
  def textBytes: Long = pages.map(_.getBytes(UTF_8).length.toLong).sum
}

object Gen {
  val VocabSize = 6000
  val CjkVocabSize = 3000
  val Topics = 48
  val TopicVocab = 300
  val CjkPercent = 10
  val ClusterSize = 3
  val DedupWords = 300
  val DedupEdits = 6
  private val Consonants = "bcdfghjklmnprstvwz"
  private val Vowels = "aeiou"
  private val Enders = Array(".", ".", ".", "?", "!", ";")
  private val CjkEnders = Array('。', '。', '！', '？')

  def rng(seed: Long, stream: Long, key: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ 0x9E3779B97F4A7C15L) ^ stream * 0xBF58476D1CE4E5B9L) ^ key)

  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  /** Chunk count of one page under the reference recipe — newline to
    * space, whitespace runs of two or more to one space, then the
    * 7,500/300 punctuation-seeking split — written independently of the
    * program's chunker so the stored row count can be checked against it. */
  def referenceChunkCount(page: String, maxLen: Int = 7500, lookback: Int = 300): Int = {
    val t = page.replace('\n', ' ').replaceAll("[ \\t\\n\\x0B\\f\\r]{2,}", " ")
    var rest = t.length
    var off = 0
    var n = 0
    while (rest > maxLen) {
      val start = maxLen - lookback
      var i = maxLen
      while (i > start && !isSplit(t.charAt(off + i))) i -= 1
      val split = if (i > start) i else start
      off += split; rest -= split; n += 1
    }
    n + 1
  }

  private def isSplit(c: Char): Boolean =
    c == '.' || c == '。' || c == ';' || c == '；' || c == '!' || c == '！' || c == '?' || c == '？'

  /** Word 3-shingle Jaccard of two single-spaced texts, computed the way
    * a reader of the dedup contract would: lowercase, split on spaces,
    * distinct 3-grams. */
  def shingleJaccard(a: String, b: String): Double = {
    def sh(t: String): Set[String] = {
      val w = t.trim.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
      if (w.length < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
    }
    val x = sh(a); val y = sh(b)
    val inter = x.count(y.contains)
    inter.toDouble / (x.size + y.size - inter)
  }

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }
}
