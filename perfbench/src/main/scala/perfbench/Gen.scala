package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStreamWriter}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Every generator writes plain files (no Spark,
  * so the bytes depend on the seed alone) and returns the ground truth the
  * output checks compare against. Sizes live in [[Sizes]]. */
object Gen {

  /** Input sizes and generator parameters, one place (README.md repeats
    * them). */
  object Sizes {
    val vocabSize = 20000      // Zipf vocabulary, exponent 1.0
    // mr_text
    val textDocs = 4000
    val textParts = 16
    val docWords = (60, 140)   // words per document, uniform
    val anchorRate = 0.08      // share of word slots that are <a href> anchors
    val urls = 6000            // Zipf over URLs
    val ints = 1000000         // int32 values, Zipf over intKeys
    val intKeys = 100000
    val intParts = 8
    // graph_rmat
    val rmatScale = 10         // 2^10 vertices
    val rmatEdges = 40000
    val rmatProbs = (0.57, 0.19, 0.19) // a, b, c; d = 1 - a - b - c
    val rmatParts = 8
    // dedup_ingest
    val baseDocs = 1500        // unique base documents
    val basePlanted = 150      // planted near-duplicates inside the base
    val batches = 4            // fresh batches: one per round, warm-up included
    val batchDocs = 100        // documents per batch
    val dupWords = (80, 120)
    val levels = Seq(0.0, 0.02, 0.05, 0.10, 0.25) // planted edit levels
  }

  // ---------------------------------------------------------------- words

  final class Vocab(val words: Array[String], val byLen: Map[Int, Array[Int]],
      cdf: Array[Double]) {
    def zipf(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      if (i >= 0) i else math.min(-i - 1, cdf.length - 1)
    }
    /** A different word of the same length (keeps byte offsets). */
    def sameLength(w: Int, r: SplittableRandom): Int = {
      val cands = byLen(words(w).length)
      if (cands.length < 2) w
      else {
        var o = w
        while (o == w) o = cands(r.nextInt(cands.length))
        o
      }
    }
  }

  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x / tot; acc }
  }

  def vocab(r: SplittableRandom, n: Int): Vocab = {
    val seen = mutable.LinkedHashSet.empty[String]
    val sb = new StringBuilder
    while (seen.size < n) {
      sb.clear()
      val len = 2 + r.nextInt(9)
      var i = 0
      while (i < len) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
      seen += sb.toString
    }
    val words = seen.toArray
    val byLen = words.indices.groupBy(words(_).length)
      .map { case (l, ix) => l -> ix.toArray }
    new Vocab(words, byLen, zipfCdf(n, 1.0))
  }

  private def writer(f: File) =
    new OutputStreamWriter(new BufferedOutputStream(new FileOutputStream(f), 1 << 16), UTF_8)

  private def part(i: Int) = f"part-$i%05d"

  // -------------------------------------------------------------- mr_text

  final case class TextTruth(
      docs: Long, tokens: Long, ints: Long,
      wordCount: mutable.HashMap[String, Long],
      postings: mutable.HashMap[String, mutable.ArrayBuffer[Long]],
      urlFiles: mutable.HashMap[String, mutable.TreeSet[String]],
      intCount: Array[Long], intValue: Int => Int) {
    def urlRefs: Long = urlFiles.valuesIterator.map(_.size.toLong).sum
  }

  /** A Zipf-vocabulary HTML corpus in `textParts` part files (one
    * `id<TAB>text` document per line, anchors inline) plus a skewed
    * little-endian int32 stream in `intParts` binary files. */
  def mrText(dir: File, seed: Long): TextTruth = {
    import Sizes._
    val r = new SplittableRandom(seed)
    val v = vocab(r.split(), vocabSize)
    val urlCdf = zipfCdf(urls, 1.1)
    val urlNames = Array.tabulate(urls)(u =>
      s"http://site${u % 97}.example/p$u-${r.nextInt(1000000)}")
    val wordCount = mutable.HashMap.empty[String, Long]
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    val urlFiles = mutable.HashMap.empty[String, mutable.TreeSet[String]]
    val docsDir = new File(dir, "docs"); docsDir.mkdirs()
    var tokens = 0L
    val perPart = (textDocs + textParts - 1) / textParts
    var id = 0
    def addToken(t: String, doc: Long): Unit = {
      tokens += 1
      wordCount(t) = wordCount.getOrElse(t, 0L) + 1
      val p = postings.getOrElseUpdate(t, mutable.ArrayBuffer.empty[Long])
      if (p.isEmpty || p.last != doc) p += doc
    }
    for (p <- 0 until textParts) {
      val w = writer(new File(docsDir, part(p)))
      val sb = new StringBuilder
      var k = 0
      while (k < perPart && id < textDocs) {
        sb.clear()
        val n = docWords._1 + r.nextInt(docWords._2 - docWords._1 + 1)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          if (r.nextDouble() < anchorRate) {
            val url = urlNames(searchCdf(urlCdf, r.nextDouble()))
            val word = v.words(v.zipf(r))
            sb.append("<a href=\"").append(url).append("\">").append(word).append("</a>")
            addToken("<a", id)
            addToken("href=\"" + url + "\">" + word + "</a>", id)
            urlFiles.getOrElseUpdate(url, mutable.TreeSet.empty[String]) += part(p)
          } else {
            val t = v.words(v.zipf(r))
            sb.append(t)
            addToken(t, id)
          }
          j += 1
        }
        w.write(id.toString); w.write('\t'); w.write(sb.toString); w.write('\n')
        id += 1; k += 1
      }
      w.close()
    }
    // skewed int32 stream: Zipf ranks mapped through a seeded bijection
    val intCdf = zipfCdf(intKeys, 1.05)
    val mult = 2654435761L
    val off = r.nextInt(1 << 20)
    val intValue: Int => Int = k => ((k.toLong * mult + off) & 0x7fffffffL).toInt
    val counts = new Array[Long](intKeys)
    val intsDir = new File(dir, "ints"); intsDir.mkdirs()
    val perFile = ints / intParts
    val buf = ByteBuffer.allocate(perFile * 4).order(ByteOrder.LITTLE_ENDIAN)
    for (f <- 0 until intParts) {
      buf.clear()
      var i = 0
      while (i < perFile) {
        val k = searchCdf(intCdf, r.nextDouble())
        counts(k) += 1
        buf.putInt(intValue(k))
        i += 1
      }
      val os = new FileOutputStream(new File(intsDir, part(f) + ".bin"))
      os.write(buf.array(), 0, perFile * 4); os.close()
    }
    TextTruth(textDocs, tokens, perFile.toLong * intParts, wordCount,
      postings, urlFiles, counts, intValue)
  }

  def searchCdf(cdf: Array[Double], x: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, x)
    if (i >= 0) i else math.min(-i - 1, cdf.length - 1)
  }

  // ----------------------------------------------------------- graph_rmat

  final case class Edge(src: Long, dst: Long, w: Double)

  /** R-MAT edge list with skewed quadrant probabilities and integer
    * weights in [1, 4], written as `src dst w` lines. Self loops and
    * repeated edges are kept, as R-MAT produces them. */
  def graphRmat(dir: File, seed: Long): Array[Edge] = {
    import Sizes._
    val r = new SplittableRandom(seed)
    val (a, b, c) = rmatProbs
    val edges = Array.fill(rmatEdges) {
      var s = 0L; var d = 0L
      var bit = 0
      while (bit < rmatScale) {
        val x = r.nextDouble()
        val (sb, db) =
          if (x < a) (0, 0) else if (x < a + b) (0, 1)
          else if (x < a + b + c) (1, 0) else (1, 1)
        s = (s << 1) | sb; d = (d << 1) | db
        bit += 1
      }
      Edge(s, d, (1 + r.nextInt(4)).toDouble)
    }
    val edgeDir = new File(dir, "edges"); edgeDir.mkdirs()
    val per = (edges.length + rmatParts - 1) / rmatParts
    edges.grouped(per).zipWithIndex.foreach { case (es, p) =>
      val w = writer(new File(edgeDir, part(p)))
      es.foreach(e => w.write(s"${e.src} ${e.dst} ${e.w.toLong}\n"))
      w.close()
    }
    edges
  }

  // --------------------------------------------------------- dedup_ingest

  /** A planted near-duplicate: `copy` is `orig` with `level` of its words
    * replaced by other words of the same length. `batch` is -1 when the
    * copy sits in the base split. */
  final case class Planted(orig: Long, copy: Long, level: Double, batch: Int)
  final case class Doc(id: Long, text: String)
  final case class DedupTruth(base: Array[Doc], batches: Array[Array[Doc]],
      planted: Array[Planted])

  /** Base corpus with planted near-duplicates, then fresh batches: half
    * new documents, 30 % copies of base documents, 20 % copies of new
    * documents from earlier batches, at the planted edit levels. Written
    * as `base.tsv` and `batch-NNNNN.tsv` (`id<TAB>text`). */
  def dedupIngest(dir: File, seed: Long): DedupTruth = {
    import Sizes._
    val r = new SplittableRandom(seed)
    val v = vocab(r.split(), vocabSize)
    var nextId = 1L
    def fresh(): Array[Int] = {
      val n = dupWords._1 + r.nextInt(dupWords._2 - dupWords._1 + 1)
      Array.fill(n)(v.zipf(r))
    }
    def edit(ws: Array[Int], level: Double): Array[Int] = {
      val out = ws.clone()
      val k = math.round(level * ws.length).toInt
      val pos = mutable.LinkedHashSet.empty[Int]
      while (pos.size < k) pos += r.nextInt(ws.length)
      pos.foreach(p => out(p) = v.sameLength(ws(p), r))
      out
    }
    val text = mutable.HashMap.empty[Long, Array[Int]]
    def mk(ws: Array[Int]): Long = { val id = nextId; nextId += 1; text(id) = ws; id }
    val planted = mutable.ArrayBuffer.empty[Planted]
    val uniq = Array.fill(baseDocs)(mk(fresh()))
    val baseIds = mutable.ArrayBuffer.from(uniq)
    for (i <- 0 until basePlanted) {
      val o = uniq(r.nextInt(uniq.length))
      val lv = levels(i % levels.length)
      val c = mk(edit(text(o), lv))
      baseIds += c
      planted += Planted(o, c, lv, -1)
    }
    val newByBatch = mutable.ArrayBuffer.empty[Long]
    val batchIds = Array.tabulate(batches) { b =>
      val ids = mutable.ArrayBuffer.empty[Long]
      val mine = mutable.ArrayBuffer.empty[Long]
      for (i <- 0 until batchDocs) {
        val x = r.nextDouble()
        if (x < 0.5 || (x >= 0.8 && newByBatch.isEmpty)) {
          val id = mk(fresh()); ids += id; mine += id
        } else if (x < 0.8) {
          val o = uniq(r.nextInt(uniq.length))
          val lv = levels(r.nextInt(4))
          val c = mk(edit(text(o), lv)); ids += c
          planted += Planted(o, c, lv, b)
        } else {
          val o = newByBatch(r.nextInt(newByBatch.length))
          val lv = levels(r.nextInt(2))
          val c = mk(edit(text(o), lv)); ids += c
          planted += Planted(o, c, lv, b)
        }
      }
      newByBatch ++= mine
      ids.toArray
    }
    def doc(id: Long) = Doc(id, text(id).map(v.words).mkString(" "))
    // shuffle the base so planted copies are not adjacent to their origin
    val baseShuffled = baseIds.toArray
    for (i <- baseShuffled.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = baseShuffled(i); baseShuffled(i) = baseShuffled(j); baseShuffled(j) = t
    }
    val base = baseShuffled.map(doc)
    val bs = batchIds.map(_.map(doc))
    def write(name: String, ds: Array[Doc]): Unit = {
      val w = writer(new File(dir, name))
      ds.foreach { d => w.write(d.id.toString); w.write('\t'); w.write(d.text); w.write('\n') }
      w.close()
    }
    dir.mkdirs()
    write("base.tsv", base)
    bs.zipWithIndex.foreach { case (ds, b) => write(f"batch-$b%05d.tsv", ds) }
    DedupTruth(base, bs, planted.toArray)
  }

  // ------------------------------------------------------------ self-check

  /** SHA-256 over every file under `dir`, in path order. */
  def digest(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File): Unit =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(walk)
      else {
        md.update(f.getName.getBytes(UTF_8))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    walk(dir)
    md.digest().map("%02x".format(_)).mkString
  }
}
