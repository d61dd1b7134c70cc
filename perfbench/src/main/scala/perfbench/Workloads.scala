package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{Checkpoints, MrOps}
import graft.graph.{GraphOps, Iterative, Triangles}
import graft.llm.Dedup
import graft.multimodal.Multimodal
import graft.sources.{Compact, DedupIndex, VideoIndex}
import graft.text.TextOps

final case class Check(name: String, ok: Boolean, detail: String = "")

/** The outcome of one round: a digest of every output (equal digests mean
  * equal outputs), the checks against the ground truth (run lazily), the
  * round's layer metrics that are not times, and the ingest batch walls. */
final case class RoundResult(digest: () => String, checks: () => Seq[Check],
    metrics: Map[String, Double], batchWalls: Seq[Double])

/** Calls into the program, each inside a span. A call that throws counts
  * as failed and ends the round. */
final class Ctx(val spark: SparkSession, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  def call[T](layer: String, fn: String)(body: => T): T = {
    attempted += 1
    try tracer.span(layer, fn)(body)
    catch { case e: Throwable => failed += 1; throw e }
  }
}

trait Runner {
  /** Input records one round processes. */
  def rows: Long
  def round(ctx: Ctx): RoundResult
  /** Whether every round computes the same outputs (then later rounds are
    * checked against the fully checked warm-up round's digest). */
  def repeatable: Boolean = true
  /** Rounds the generated inputs suffice for, warm-up included. */
  def maxRounds: Int = Int.MaxValue
  /** Untimed rounds before timing starts. */
  def warmups: Int = 1
}

trait Workload {
  type Truth
  def name: String
  /** Write the inputs for `seed` under `dir`; return their ground truth. */
  def generate(dir: File, seed: Long): Truth
  /** Load the inputs (set-up) and return the round runner. */
  def runner(ctx: Ctx, dir: File, truth: Truth): Runner
}

object Workloads {
  val all: Seq[Workload] = Seq(MrText, GraphRmat, DedupIngest)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  def check(name: String, ok: Boolean, detail: => String = ""): Check =
    Check(name, ok, if (ok) "" else detail)

  /** Compare a result map with the truth; report the first differences. */
  def sameMap[K, V](name: String, got: collection.Map[K, V],
      want: collection.Map[K, V])(eq: (V, V) => Boolean = (a: V, b: V) => a == b): Check = {
    val missing = want.keys.filterNot(got.contains).take(3)
    val extra = got.keys.filterNot(want.contains).take(3)
    val wrong = got.iterator.filter { case (k, v) => want.get(k).exists(w => !eq(v, w)) }
      .take(3).map { case (k, v) => s"$k: got $v want ${want(k)}" }.toSeq
    check(name, missing.isEmpty && extra.isEmpty && wrong.isEmpty,
      s"missing ${missing.mkString(",")} extra ${extra.mkString(",")} wrong ${wrong.mkString("; ")}")
  }
}

import Workloads._

// ================================================================ mr_text

object MrText extends Workload {
  type Truth = Gen.TextTruth
  val name = "mr_text"
  val topN = 100

  def generate(dir: File, seed: Long): Truth = Gen.mrText(dir, seed)

  def runner(ctx: Ctx, dir: File, t: Truth): Runner = new Runner {
    val spark = ctx.spark
    val docsDir = new File(dir, "docs").getPath
    val intsDir = new File(dir, "ints").getPath
    val parts = new File(docsDir).listFiles().map(_.getPath).sorted.toSeq
    val rows: Long = t.docs + t.ints
    // rounds are short and the second one is still markedly slower
    override def warmups = 2

    def docs: DataFrame = spark.read.text(docsDir)
      .select(split(col("value"), "\t", 2).as("f"))
      .select(col("f")(0).cast("long").as("doc_id"), col("f")(1).as("text"))

    def round(ctx: Ctx): RoundResult = {
      val wf = ctx.call("text", "wordFreq") {
        TextOps.wordFreq(docs, "text").collect()
      }.map(r => r.getString(0) -> r.getLong(1)).toMap
      val top = ctx.call("core", "topK") {
        MrOps.topK(TextOps.wordFreq(docs, "text"), topN, col("n").desc, col("word").asc).collect()
      }.map(r => (r.getString(0), r.getLong(1))).toSeq
      val inv = ctx.call("text", "invertedIndex") {
        TextOps.invertedIndex(docs, "text", "doc_id")
          .select(col("word"), col("n_docs"), crc32(encode(col("postings"), "UTF-8")))
          .collect()
      }.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val urls = ctx.call("text", "urlIndexFromFiles") {
        TextOps.urlIndexFromFiles(spark, parts: _*).collect()
      }.map(r => r.getString(0) -> r.getSeq[String](1).map(f => f.substring(f.lastIndexOf('/') + 1))).toMap
      val ints = ctx.call("text", "intCountFromBinaryFiles") {
        TextOps.intCountFromBinaryFiles(spark, intsDir).collect()
      }.map(r => r.getInt(0) -> r.getLong(1)).toMap
      val histo = ctx.call("core", "histo") {
        MrOps.histo(TextOps.words(docs, "text", "doc_id"), col("word")).collect()
      }.map(r => r.getLong(0) -> r.getLong(1)).toMap

      val dg = () => Checks.digest(
        wf.toSeq.sorted.iterator.map(_.toString) ++ top.iterator.map(_.toString) ++
          inv.toSeq.sortBy(_._1).iterator.map(_.toString) ++
          urls.toSeq.sortBy(_._1).iterator.map(_.toString) ++
          ints.toSeq.sorted.iterator.map(_.toString) ++ histo.toSeq.sorted.iterator.map(_.toString))
      RoundResult(dg, () => checks(wf, top, inv, urls, ints, histo), Map.empty, Nil)
    }

    def checks(wf: Map[String, Long], top: Seq[(String, Long)],
        inv: Map[String, (Long, Long)], urls: Map[String, Seq[String]],
        ints: Map[Int, Long], histo: Map[Long, Long]): Seq[Check] = {
      val wantTop = t.wordCount.toSeq.sortBy { case (w, n) => (-n, w) }.take(topN)
      val wantInv = t.postings.map { case (w, ds) => w -> (ds.size.toLong, Checks.crc32(ds.mkString(","))) }
      val keyOf = t.intCount.indices.filter(t.intCount(_) > 0)
        .map(k => t.intValue(k) -> t.intCount(k)).toMap
      val wantHisto = t.wordCount.values.groupMapReduce(identity)(_ => 1L)(_ + _)
      Seq(
        sameMap("wordFreq counts", wf, t.wordCount)(),
        check("wordFreq token total", wf.values.sum == t.tokens, s"${wf.values.sum} vs ${t.tokens}"),
        check("topK order", top == wantTop, s"${top.take(3)} vs ${wantTop.take(3)}"),
        sameMap("invertedIndex postings", inv, wantInv)(),
        sameMap("urlIndexFromFiles postings", urls, t.urlFiles.map { case (u, fs) => u -> fs.toSeq })(),
        check("urlIndexFromFiles url total", urls.values.map(_.size.toLong).sum == t.urlRefs),
        sameMap("intCountFromBinaryFiles histogram", ints, keyOf)(),
        check("intCount total", ints.values.sum == t.ints),
        sameMap("histo", histo, wantHisto)())
    }
  }
}

// ============================================================= graph_rmat

object GraphRmat extends Workload {
  final case class Truth(edges: Array[Gen.Edge]) {
    lazy val pairs: Seq[(Long, Long)] = edges.toSeq.map(e => (e.src, e.dst))
    lazy val upper: Long = pairs.filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct.size.toLong
    lazy val cc: Map[Long, Long] = Checks.components(pairs.filter { case (a, b) => a != b })
    lazy val source: Long = edges.groupBy(_.src).toSeq
      .map { case (s, es) => (-es.length, s) }.min._2
    lazy val dist: Map[Long, Double] = Checks.dijkstra(edges, source)
    lazy val adj: Map[Long, Set[Long]] = Checks.undirected(pairs)
    lazy val triangles: Long = Checks.triangles(adj)
    lazy val rank: Map[Long, Double] = Checks.pagerank(pairs, alpha, prIters)
  }
  val name = "graph_rmat"
  val alpha = 0.85
  val prIters = 5
  val lubySeed = 12345L

  def generate(dir: File, seed: Long): Truth = Truth(Gen.graphRmat(dir, seed))

  def runner(ctx: Ctx, dir: File, t: Truth): Runner = new Runner {
    val spark = ctx.spark
    val edges = spark.read.schema("src LONG, dst LONG, w DOUBLE").option("sep", " ")
      .csv(new File(dir, "edges").getPath)
      .persist(StorageLevel.MEMORY_ONLY)
    edges.count()
    // the reference answers are part of set-up, computed once
    Seq(t.upper, t.cc.size, t.dist.size, t.triangles, t.rank.size)
    val rows: Long = t.edges.length.toLong

    def round(ctx: Ctx): RoundResult = {
      val u = ctx.call("graph", "edgeUpper") {
        val u = GraphOps.edgeUpper(edges.select(col("src"), col("dst"))).localCheckpoint()
        u.count()
        u
      }
      try {
        val cc = ctx.call("graph", "ccFind") { Iterative.ccFind(u).collect() }
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val dist = ctx.call("graph", "sssp") { Iterative.sssp(edges, t.source).collect() }
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val rank = ctx.call("graph", "pagerank") {
          Iterative.pagerank(edges.select(col("src"), col("dst")), alpha, tol = 0.0,
            maxIter = prIters).collect()
        }.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val mis = ctx.call("graph", "lubyMis") { Iterative.lubyMis(u, lubySeed).collect() }
          .map(_.getLong(0)).toSet
        val tri = ctx.call("graph", "triangleCount") { Triangles.triangleCount(u).collect() }
          .head.getLong(0)
        val nUpper = u.count()
        val dg = () => Checks.digest(Iterator(s"upper $nUpper", s"tri $tri") ++
          cc.toSeq.sorted.iterator.map(_.toString) ++
          dist.toSeq.sorted.iterator.map { case (v, d) => f"$v $d%.6f" } ++
          rank.toSeq.sorted.iterator.map { case (v, r) => f"$v $r%.9e" } ++
          mis.toSeq.sorted.iterator.map(_.toString))
        val checks = () => Seq(
          check("edgeUpper count", nUpper == t.upper, s"$nUpper vs ${t.upper}"),
          sameMap("ccFind labels", cc, t.cc)(),
          sameMap("sssp distances", dist, t.dist)((a, b) => math.abs(a - b) <= 1e-9 * math.max(1.0, b)),
          check("pagerank mass", math.abs(rank.values.sum - 1.0) < 1e-9, s"sum ${rank.values.sum}"),
          sameMap("pagerank ranks", rank, t.rank)((a, b) => math.abs(a - b) <= 1e-12 + 1e-9 * b),
          {
            val p = Checks.misProblems(t.adj, mis)
            check("lubyMis independent and maximal", p.isEmpty, p.mkString("; "))
          },
          check("triangleCount", tri == t.triangles, s"$tri vs ${t.triangles}"))
        RoundResult(dg, checks, Map.empty, Nil)
      } finally Checkpoints.release(u)
    }
  }
}

// =========================================================== dedup_ingest

object DedupIngest extends Workload {
  type Truth = Gen.DedupTruth
  val name = "dedup_ingest"
  val maxFilesPerBucket = 1.5 // maintain's compaction threshold: one append takes every table past it
  val tau = 0.7           // minHashLshPairs threshold (estimated Jaccard)
  val gateTau = 0.8       // DedupIndex.dedupAgainst threshold (exact Jaccard)
  val maxHam = 3          // simHashPairs
  // recall floors measured on the seed code (README.md, "Checks")
  val minhashRecallFloor = 0.97
  val simhashRecallFloor = 1.0
  val perceptualRecallFloor = 1.0

  def generate(dir: File, seed: Long): Truth = Gen.dedupIngest(dir, seed)

  /** Batch phase: the pair operators over the base split, every round.
    * Ingest phase: both indexes are built on the base split at set-up;
    * each round then gates and appends its own fresh batch and runs
    * maintenance, so the indexes grow from round to round as in a crawl. */
  def runner(ctx: Ctx, dir: File, t: Truth): Runner = new Runner {
    val spark = ctx.spark
    import spark.implicits._
    val index = new File(dir, "index").getPath
    val tname = "perfbench_dedup"
    val vname = "perfbench_video"

    def read(f: String): DataFrame = spark.read.text(new File(dir, f).getPath)
      .select(split(col("value"), "\t", 2).as("f"))
      .select(col("f")(0).cast("long").as("doc_id"), col("f")(1).as("text"))
    val base = read("base.tsv")
    val batchFiles = t.batches.indices.map(b => f"batch-$b%05d.tsv")
    val rows: Long = t.base.length + Gen.Sizes.batchDocs.toLong
    override def repeatable = false
    override def maxRounds: Int = t.batches.length

    // reference data, computed once at set-up
    val textOf: Map[Long, String] = (t.base ++ t.batches.flatten).map(d => d.id -> d.text).toMap
    val sh: Map[Long, Set[Long]] = textOf.map { case (id, s) => id -> Checks.shingles(s) }
    val fps: Map[Long, Map[Int, (Long, Long)]] = textOf.map { case (id, s) => id -> Checks.frameFps(s) }
    val baseIds = t.base.map(_.id)
    val wantSim = Checks.simhashPairs(baseIds.map(id => id -> Checks.simhash(textOf(id))).toMap, maxHam)
    val wantPerc = Checks.perceptualPairs(baseIds.map(id => id -> fps(id)).toMap)
    val basePlanted = t.planted.filter(_.batch < 0).map(p => (math.min(p.orig, p.copy), math.max(p.orig, p.copy)))
    val minhashExpected = basePlanted.filter { case (a, b) => Checks.jaccard(sh(a), sh(b)) >= tau + 0.15 }
    val simExpected = basePlanted.filter(wantSim.contains)
    val percExpected = basePlanted.filter(wantPerc.contains)
    // what each index holds, for the gate checks
    val textIndexed = new Checks.ShingleIndex(sh)
    val videoIndexed = new Checks.FrameIndex(fps)
    baseIds.foreach { id => textIndexed.add(id); videoIndexed.add(id) }
    var ingestedBytes = new File(dir, "base.tsv").length

    ctx.call("sources", "DedupIndex.build") {
      DedupIndex.build(spark, base, "text", "doc_id", tname, basePath = index)
    }
    ctx.call("sources", "VideoIndex.build") {
      VideoIndex.build(spark, Multimodal.videoFramesFp(Multimodal.videoTableOf(base)), vname,
        basePath = index)
    }
    var nextBatch = 0

    def recall(expected: Seq[(Long, Long)], got: collection.Set[(Long, Long)]): Double =
      if (expected.isEmpty) 1.0 else expected.count(got).toDouble / expected.size

    /** The tables the appends write to, whose fragmentation maintain acts on. */
    val appended = Seq("_bands", "_shingles", "_sizes").map(tname + _) :+ (vname + "_vf")

    /** Differences between the ids a gate admitted from batch `b` and the
      * offered ids without an indexed near-duplicate. */
    def gateDiff(b: Int, got: Set[Long], nearest: Map[Long, Seq[Long]]): Seq[String] =
      (nearest.keySet ++ got).toSeq.sorted.flatMap { id =>
        val dups = nearest.getOrElse(id, Nil)
        if (!nearest.contains(id)) Some(s"batch $b: admitted $id, which was not offered")
        else if (got(id) && dups.nonEmpty) Some(s"batch $b: admitted $id, a near-duplicate of indexed ${dups.head}")
        else if (!got(id) && dups.isEmpty) Some(s"batch $b: rejected $id, which has no indexed near-duplicate")
        else None
      }

    def dirBytes(f: File): Long =
      if (f.isDirectory) f.listFiles().map(dirBytes).sum else f.length

    def round(ctx: Ctx): RoundResult = {
      // ---- batch phase
      val mh = ctx.call("llm", "minHashLshPairs") {
        Dedup.minHashLshPairs(base, "text", "doc_id", tau = tau).collect()
      }.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val sim = ctx.call("llm", "simHashPairs") {
        Dedup.simHashPairs(base, "text", "doc_id", maxHam).collect()
      }.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val pairsDf = mh.keys.toSeq.toDF("da", "db")
      val clusters = ctx.call("llm", "dedupClusters") { Dedup.dedupClusters(pairsDf).collect() }
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val media = ctx.call("multimodal", "videoTableOf") { Multimodal.videoTableOf(base) }
      val frames = ctx.call("multimodal", "videoFramesFp") {
        val f = Multimodal.videoFramesFp(media).localCheckpoint()
        f.count()
        f
      }
      val perc = try ctx.call("multimodal", "perceptualPairsFromFrames") {
        Multimodal.perceptualPairsFromFrames(frames).collect()
      }.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2).toInt).toMap
      finally Checkpoints.release(frames)

      // ---- ingest phase: this round's fresh batch, a read (gate) then a
      // write (append) for both families, then maintenance of both
      val b = nextBatch
      nextBatch += 1
      val batch = read(batchFiles(b))
      val from = ctx.tracer.spans.size
      val adm = ctx.call("sources", "DedupIndex.dedupAgainst") {
        DedupIndex.dedupAgainst(spark, tname, batch, "text", "doc_id").localCheckpoint()
      }
      val textIds = adm.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      ctx.call("sources", "DedupIndex.append") {
        DedupIndex.append(spark, tname, adm, "text", "doc_id")
      }
      Checkpoints.release(adm)
      val vadm = ctx.call("sources", "VideoIndex.dedupAgainstPerceptual") {
        val fresh = Multimodal.videoFramesFp(Multimodal.videoTableOf(batch))
        VideoIndex.dedupAgainstPerceptual(spark, vname, fresh).localCheckpoint()
      }
      val videoIds = vadm.select(col("media_id")).distinct().collect().map(_.getLong(0)).toSet
      ctx.call("sources", "VideoIndex.append") { VideoIndex.append(spark, vname, vadm) }
      Checkpoints.release(vadm)
      val filesPerBucket = appended.map(Compact.filesPerBucket(spark, _)).sum / appended.size
      val rewritten = ctx.call("sources", "maintain") {
        val r = DedupIndex.maintain(spark, tname, maxFilesPerBucket) ++
          VideoIndex.maintain(spark, vname, maxFilesPerBucket)
        r.valuesIterator.map(_._1).sum
      }
      val batchWall = ctx.tracer.wallSince(from)
      // the gates' checks against what was indexed before the batch: each
      // gate admits exactly the offered documents without a near-duplicate
      // there
      val offered = t.batches(b).map(_.id)
      val textMismatch = gateDiff(b, textIds, offered.map(id => id -> textIndexed.nearest(id, gateTau)).toMap)
      val videoMismatch = gateDiff(b, videoIds, offered.map(id => id -> videoIndexed.nearest(id, 2)).toMap)
      textIds.foreach(textIndexed.add)
      videoIds.foreach(videoIndexed.add)
      ingestedBytes += new File(dir, batchFiles(b)).length
      val metrics = Map(
        "llm.minHashLshPairs.pairs" -> mh.size.toDouble,
        "llm.minHashLshPairs.recall" -> recall(minhashExpected, mh.keySet),
        "llm.minHashLshPairs.precision" -> (if (mh.isEmpty) 1.0 else
          mh.keys.count { case (a, b) => Checks.jaccard(sh(a), sh(b)) >= tau - 0.1 }.toDouble / mh.size),
        "llm.simHashPairs.recall" -> recall(simExpected, sim.keySet),
        "multimodal.perceptualPairsFromFrames.recall" -> recall(percExpected, perc.keySet),
        "sources.maintain.files_rewritten" -> rewritten.toDouble,
        "sources.files_per_bucket" -> filesPerBucket,
        "sources.bytes_per_input_byte" -> dirBytes(new File(index)).toDouble / ingestedBytes)
      val dg = () => Checks.digest(
        mh.toSeq.sorted.iterator.map(_.toString) ++ sim.toSeq.sorted.iterator.map(_.toString) ++
          clusters.toSeq.sorted.iterator.map(_.toString) ++ perc.toSeq.sorted.iterator.map(_.toString) ++
          Iterator(textIds.toSeq.sorted.mkString(","), videoIds.toSeq.sorted.mkString(",")))
      val checks = () => {
        val badMh = mh.iterator.filter { case ((a, b), est) =>
          est < tau || math.abs(est - Checks.jaccard(sh(a), sh(b))) > 0.25
        }.take(3).toSeq
        Seq(
          check("minHashLshPairs pairs re-verify", badMh.isEmpty, badMh.mkString("; ")),
          check("minHashLshPairs recall", metrics("llm.minHashLshPairs.recall") >= minhashRecallFloor,
            s"${metrics("llm.minHashLshPairs.recall")} < $minhashRecallFloor"),
          sameMap("simHashPairs pairs", sim, wantSim)(),
          check("simHashPairs recall", metrics("llm.simHashPairs.recall") >= simhashRecallFloor),
          sameMap("dedupClusters labels", clusters, Checks.components(mh.keys))(),
          sameMap("perceptualPairsFromFrames pairs", perc, wantPerc)(),
          check("perceptualPairsFromFrames recall",
            metrics("multimodal.perceptualPairsFromFrames.recall") >= perceptualRecallFloor),
          check("DedupIndex.dedupAgainst admits exactly the documents without an indexed " +
            "near-duplicate", textMismatch.isEmpty, textMismatch.take(3).mkString("; ")),
          check("VideoIndex.dedupAgainstPerceptual admits exactly the videos without an " +
            "indexed near-duplicate", videoMismatch.isEmpty, videoMismatch.take(3).mkString("; ")))
      }
      RoundResult(dg, checks, metrics, Seq(batchWall))
    }
  }
}
