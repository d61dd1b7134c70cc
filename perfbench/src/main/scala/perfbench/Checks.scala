package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Reference computations, outside Spark, that the output checks compare
  * the program against. Written from the operators' documented definitions,
  * not by calling the program. */
object Checks {

  // ---------------------------------------------------------------- graphs

  /** Connected components: vertex → min vertex id of its component. */
  def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Dijkstra over directed weighted edges: vertex → distance. */
  def dijkstra(edges: Iterable[Gen.Edge], source: Long): Map[Long, Double] = {
    val adj = edges.groupBy(_.src)
    val dist = mutable.HashMap(source -> 0.0)
    val pq = mutable.PriorityQueue((0.0, source))(Ordering.by[(Double, Long), Double](-_._1))
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (d <= dist(v)) adj.getOrElse(v, Nil).foreach { e =>
        val nd = d + e.w
        if (nd < dist.getOrElse(e.dst, Double.MaxValue)) {
          dist(e.dst) = nd; pq.enqueue((nd, e.dst))
        }
      }
    }
    dist.toMap
  }

  /** Undirected simple adjacency (self loops dropped). */
  def undirected(edges: Iterable[(Long, Long)]): Map[Long, Set[Long]] = {
    val adj = mutable.HashMap.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) => if (a != b) {
      adj.getOrElseUpdate(a, mutable.Set.empty) += b
      adj.getOrElseUpdate(b, mutable.Set.empty) += a
    } }
    adj.map { case (k, v) => k -> v.toSet }.toMap
  }

  /** Problems with `mis` as a maximal independent set of `adj`. */
  def misProblems(adj: Map[Long, Set[Long]], mis: Set[Long]): Seq[String] = {
    val outside = mis.filterNot(adj.contains).take(3).map(v => s"vertex $v not in graph")
    val dependent = mis.iterator.flatMap(v => adj(v).iterator.filter(mis).map(u => (v, u)))
      .take(3).map { case (v, u) => s"edge $v-$u inside the set" }
    val notMaximal = adj.iterator.filter { case (v, ns) => !mis(v) && !ns.exists(mis) }
      .take(3).map { case (v, _) => s"vertex $v could join the set" }
    (outside ++ dependent ++ notMaximal).toSeq
  }

  /** Triangle count of the undirected simple graph. */
  def triangles(adj: Map[Long, Set[Long]]): Long = {
    def rank(v: Long) = (adj(v).size, v)
    val ord = Ordering.Tuple2[Int, Long]
    val out = adj.map { case (v, ns) => v -> ns.filter(u => ord.lt(rank(v), rank(u))) }
    var n = 0L
    out.foreach { case (v, ns) => ns.foreach(u => n += (ns intersect out(u)).size) }
    n
  }

  /** PageRank by power iteration with the operator's documented rule:
    * directed edges without self loops, 1/outdeg weights, dangling mass
    * spread uniformly, `iters` rounds from 1/n. */
  def pagerank(edges: Iterable[(Long, Long)], alpha: Double, iters: Int): Map[Long, Double] = {
    val directed = edges.filter { case (a, b) => a != b }.toSet
    val outdeg = directed.groupMapReduce(_._1)(_ => 1)(_ + _)
    val verts = directed.flatMap { case (a, b) => Seq(a, b) }
    val n = verts.size.toDouble
    var rank = verts.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val contrib = mutable.HashMap.empty[Long, Double]
      directed.foreach { case (a, b) =>
        contrib(b) = contrib.getOrElse(b, 0.0) + rank(a) / outdeg(a)
      }
      val dangling = 1.0 - contrib.values.sum
      rank = verts.map(v => v -> ((1 - alpha) / n + alpha * (contrib.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    rank
  }

  // ------------------------------------------------------------- documents

  /** Distinct word k-shingles, hashed (whitespace tokens, as the
    * operators split). */
  def shingles(text: String, k: Int = 3): Set[Long] = {
    val ws = text.split("\\s+").filter(_.nonEmpty)
    if (ws.length < k) Set.empty
    else ws.sliding(k).map(s => hash64(s.mkString(" "))).toSet
  }

  def jaccard(a: Set[Long], b: Set[Long]): Double = {
    val i = (a intersect b).size
    if (a.isEmpty && b.isEmpty) 0.0 else i.toDouble / (a.size + b.size - i)
  }

  def hash64(s: String): Long = {
    val bytes = s.getBytes(UTF_8)
    var h = 0xcbf29ce484222325L
    bytes.foreach { b => h = (h ^ (b & 0xff)) * 0x100000001b3L }
    h
  }

  /** 64-bit SimHash with the operator's documented portable word hash:
    * polynomial B = 257 mod 1e9+7 over UTF-8 bytes, per-bit sign from a
    * premix and two squarings mod 1e9+7 (bit 15). */
  def simhash(text: String): Long = {
    val mod = 1000000007L
    val counts = new Array[Int](64)
    text.split("\\s+").filter(_.nonEmpty).foreach { w =>
      var h = 0L
      w.getBytes(UTF_8).foreach(b => h = (h * 257L + (b & 0xff)) % mod)
      var bit = 0
      while (bit < 64) {
        val g = (h * 2654435761L + 40503L * (bit + 1L)) % mod
        val s1 = (g * g) % mod
        val s2 = (s1 * s1) % mod
        counts(bit) += (if (((s2 >> 15) & 1L) == 0L) 1 else -1)
        bit += 1
      }
    }
    counts.indices.foldLeft(0L)((fp, b) => if (counts(b) > 0) fp | (1L << b) else fp)
  }

  /** All pairs (a < b) within Hamming distance `maxHam` that share one of
    * the four 16-bit bands, with their distance. */
  def simhashPairs(fps: Map[Long, Long], maxHam: Int): Map[(Long, Long), Long] = {
    val out = mutable.HashMap.empty[(Long, Long), Long]
    for (band <- 0 until 4) {
      fps.toSeq.groupBy { case (_, f) => (f >>> (16 * band)) & 0xffffL }.valuesIterator
        .foreach { g =>
          val ids = g.map(_._1).sorted
          for (i <- ids.indices; j <- i + 1 until ids.length) {
            val h = java.lang.Long.bitCount(fps(ids(i)) ^ fps(ids(j)))
            if (h <= maxHam) out((ids(i), ids(j))) = h.toLong
          }
        }
    }
    out.toMap
  }

  /** Per-frame perceptual fingerprints (lo, hi) of the sampled frames
    * (every `every`-th `fb`-byte frame, zero padded): bit k of lo is
    * b[k+1] > b[k] with wraparound, bit k of hi is b[k] > mean. */
  def frameFps(text: String, fb: Int = 32, every: Int = 2): Map[Int, (Long, Long)] = {
    val d = text.getBytes(UTF_8)
    val nFrames = (d.length + fb - 1) / fb
    (0 until nFrames by every).map { fi =>
      val from = fi * fb
      val until = math.min(from + fb, d.length)
      def b(j: Int): Int = { val p = from + (j % fb); if (p < until) d(p) & 0xff else 0 }
      val mean = (0 until fb).map(b(_).toLong).sum / fb
      var lo = 0L; var hi = 0L
      for (k <- 0 until 32) {
        if (b(k + 1) > b(k)) lo |= 1L << k
        if (b(k) > mean) hi |= 1L << k
      }
      fi -> (lo, hi)
    }.toMap
  }

  def bands(f: (Long, Long)): Seq[Long] =
    Seq(f._1 % 65536L, f._1 / 65536L, f._2 % 65536L, f._2 / 65536L)

  /** Aligned frames where two videos match: Hamming ≤ `maxDist` over the
    * 64 fingerprint bits and at least one equal 16-bit band. */
  def matchedFrames(a: Map[Int, (Long, Long)], b: Map[Int, (Long, Long)],
      maxDist: Int = 6): Int =
    a.count { case (fi, fa) =>
      b.get(fi).exists { fb =>
        java.lang.Long.bitCount(fa._1 ^ fb._1) + java.lang.Long.bitCount(fa._2 ^ fb._2) <= maxDist &&
          bands(fa).zip(bands(fb)).exists { case (x, y) => x == y }
      }
    }

  /** All video pairs (a < b) with at least `minFrames` matched frames. */
  def perceptualPairs(fps: Map[Long, Map[Int, (Long, Long)]], minFrames: Int = 2,
      maxDist: Int = 6): Map[(Long, Long), Int] = {
    val cand = mutable.HashSet.empty[(Long, Long)]
    val buckets = mutable.HashMap.empty[(Int, Int, Long), mutable.ArrayBuffer[Long]]
    fps.foreach { case (id, fs) => fs.foreach { case (fi, f) =>
      bands(f).zipWithIndex.foreach { case (v, bi) =>
        buckets.getOrElseUpdate((fi, bi, v), mutable.ArrayBuffer.empty) += id
      }
    } }
    buckets.valuesIterator.foreach { ids =>
      val s = ids.distinct.sorted
      for (i <- s.indices; j <- i + 1 until s.length) cand += ((s(i), s(j)))
    }
    cand.iterator.map(p => p -> matchedFrames(fps(p._1), fps(p._2), maxDist))
      .filter(_._2 >= minFrames).toMap
  }

  /** Shingle postings of the documents added so far. */
  final class ShingleIndex(sh: Map[Long, Set[Long]]) {
    private val post = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    def add(id: Long): Unit = sh(id).foreach(s => post.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += id)
    /** Added documents whose exact Jaccard with `id`, rounded to 4 dp, is
      * at least `tau`. */
    def nearest(id: Long, tau: Double): Seq[Long] = {
      val common = mutable.HashMap.empty[Long, Int]
      sh(id).foreach(s => post.get(s).foreach(_.foreach(c => common(c) = common.getOrElse(c, 0) + 1)))
      common.iterator.collect { case (c, n) if c != id &&
        math.round(n.toDouble / (sh(id).size + sh(c).size - n) * 1e4) / 1e4 >= tau => c }.toSeq.sorted
    }
  }

  /** Frame-band postings of the videos added so far. */
  final class FrameIndex(fps: Map[Long, Map[Int, (Long, Long)]]) {
    private val post = mutable.HashMap.empty[(Int, Int, Long), mutable.ArrayBuffer[Long]]
    private def keys(id: Long) = fps(id).iterator.flatMap { case (fi, f) =>
      bands(f).zipWithIndex.map { case (v, bi) => (fi, bi, v) }
    }
    def add(id: Long): Unit = keys(id).foreach(k => post.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += id)
    /** Added videos with at least `minFrames` frames matching `id`'s. */
    def nearest(id: Long, minFrames: Int): Seq[Long] =
      keys(id).flatMap(k => post.getOrElse(k, Nil)).toSet
        .filter(c => c != id && matchedFrames(fps(id), fps(c)) >= minFrames).toSeq.sorted
  }

  // ----------------------------------------------------------------- misc

  def crc32(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  /** Short SHA-256 of a canonical rendering. */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}
