package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, warm up, run closed-loop rounds of one
  * workload for the given seconds, check every output, and write the
  * result object (the last line run.py prints).
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores N --work DIR --out FILE */
object Main {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Heap in use right after a full collection, from the memory pools'
    * collection usage. */
  def liveHeapMb(): Double = {
    // a second collection after Spark's cleaner has dropped what the
    // first one freed (released checkpoints, shuffles, broadcasts)
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / 1e6
  }

  /** Wait (at most 5 s) until the JIT has compiled what the warm-up made
    * hot, so the first timed round does not share the cores with it. */
  def settleJit(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.nanoTime() < deadline) {
      last = jit.getTotalCompilationTime
      Thread.sleep(250)
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** One timed round: its calls' wall and process CPU seconds, JVM GC
    * seconds, and the number of generated classes Spark compiled. */
  final case class Timed(round: Int, wall: Double, cpu: Double, gc: Double, compiles: Long,
      traced: Boolean)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(args("workload")).getOrElse {
      System.err.println(s"unknown workload ${args("workload")}; known: ${Workloads.all.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val work = new File(args("work"), workload.name)
    deleteTree(work)
    work.mkdirs()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // ---- set-up: generate the inputs three times (the median counts
    // toward setup_s), check they are byte-identical and that another
    // seed gives different files
    var excluded = 0.0
    val gens = (0 until 3).map { i =>
      val dir = new File(work, s"inputs-$i")
      val t0 = System.nanoTime()
      val truth = workload.generate(dir, seed)
      val s = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val dg = Gen.digest(dir)
      excluded += s + (System.nanoTime() - t1) / 1e9
      (dir, truth, s, dg)
    }
    excluded -= median(gens.map(_._3))
    val t2 = System.nanoTime()
    val otherDir = new File(work, "inputs-other")
    workload.generate(otherDir, seed ^ 0x5DEECE66DL)
    val otherDigest = Gen.digest(otherDir)
    Seq(otherDir, gens(1)._1, gens(2)._1).foreach(deleteTree)
    excluded += (System.nanoTime() - t2) / 1e9
    val inputDigest = gens.head._4
    val setupChecks = Seq(
      Workloads.check("generator: same seed gives byte-identical inputs",
        gens.forall(_._4 == inputDigest), gens.map(_._4).mkString(" ")),
      Workloads.check("generator: another seed gives different inputs",
        otherDigest != inputDigest))

    val tracer = new Tracer(spark.sparkContext, s"${workload.name}-$seed-${if (trace) 1 else 0}")
    val ctx = new Ctx(spark, tracer)
    // loading (and any index build) is set-up: its spans carry round -1
    tracer.round = -1
    tracer.setTraced(trace)
    val l0 = System.nanoTime()
    val runner = workload.runner(ctx, gens.head._1, gens.head._2)
    val loadS = (System.nanoTime() - l0) / 1e9
    tracer.setTraced(false)
    var failure: Option[Throwable] = None
    def attempt(r: Int, traced: Boolean): Option[(RoundResult, Timed)] = {
      tracer.round = r
      tracer.setTraced(traced)
      val g0 = gcS
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try {
        val res = tracer.span("bench", "round")(runner.round(ctx))
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
        // the round's time is its calls' time: the benchmark's own
        // bookkeeping between calls is excluded
        val id = tracer.spans.findLast(_.name == "round").get.id
        val calls = tracer.spans.filter(_.parent == id)
        Some((res, Timed(r, calls.map(_.wallS).sum, calls.map(_.cpuS).sum, gcS - g0, compiles,
          tracer.traced)))
      } catch {
        case e: Throwable =>
          failure = Some(e)
          System.err.println(s"perfbench: round $r failed: $e")
          e.printStackTrace()
          None
      } finally tracer.setTraced(false)
    }

    // warm-up: untimed rounds; the first one is fully checked
    val warmRounds = (0 until runner.warmups).flatMap(r => if (failure.isEmpty) attempt(r, false) else None)
    val warm = warmRounds.headOption.filter(_ => warmRounds.size == runner.warmups)
    val warmChecks = warm.map(_._1.checks()).getOrElse(Nil)
    val warmDigest = warm.map(_._1.digest()).getOrElse("")
    liveHeapMb()
    val s0 = System.nanoTime()
    settleJit()
    System.err.println(f"perfbench: JIT settled in ${(System.nanoTime() - s0) / 1e9}%.2f s")
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - excluded
    System.err.println(f"perfbench: setup ${setupS}%.2f s (generate ${gens.map(_._3).mkString(" ")} s, " +
      f"load ${loadS}%.2f s, warm-up ${warmRounds.map(_._2.wall).mkString(" ")} s)")

    // ---- timed phase: closed-loop rounds until `seconds` have passed
    val start = System.nanoTime()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[(RoundResult, Timed)]
    var heap = 0.0
    var r = runner.warmups
    // a traced run alternates traced and untraced rounds, traced first
    val minRounds = if (trace) 2 else 1
    while (failure.isEmpty && warm.nonEmpty && r < runner.maxRounds &&
        ((System.nanoTime() - start) / 1e9 < seconds || rounds.size < minRounds)) {
      attempt(r, trace && rounds.size % 2 == 0).foreach { x =>
        rounds += x
        heap = math.max(heap, liveHeapMb())
      }
      r += 1
    }
    tracer.resolve()

    // rounds with equal outputs: check the last one fully and the others
    // by digest; rounds that ingest fresh batches: check each fully
    val later = (warmRounds.drop(1) ++ rounds).map(_._1)
    val roundChecks =
      if (runner.repeatable)
        later.lastOption.map(_.checks()).getOrElse(Nil) ++ later.map { res =>
          val dg = res.digest()
          Workloads.check(s"outputs $dg equal the warm-up round's", dg == warmDigest)
        }
      else later.flatMap(_.checks())
    val checks = setupChecks ++ warmChecks ++ roundChecks
    val failedChecks = checks.filterNot(_.ok)
    failedChecks.foreach(c => System.err.println(s"perfbench: CHECK FAILED ${c.name}: ${c.detail}"))
    val attempted = math.max(1L, ctx.attempted)
    val failed = ctx.failed + failedChecks.size + (if (failure.nonEmpty && ctx.failed == 0) 1 else 0)

    val timed = rounds.map(_._2)
    val walls = timed.map(_.wall)
    // ingest batches where the workload has them, else whole rounds
    val batches = rounds.flatMap(_._1.batchWalls).toSeq
    val samples = if (batches.nonEmpty) batches else walls.toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("rows_per_s", if (walls.isEmpty) 0.0 else runner.rows / median(walls.toSeq), "rows/s"),
        ("ingest_batch_p50_s", percentile(samples, 0.5), "s"),
        ("ingest_batch_p90_s", percentile(samples, 0.9), "s"),
        ("cpu_s", median(timed.map(_.cpu).toSeq), "s"),
        ("live_heap_mb", heap, "MB"),
        ("ok_ratio", math.max(0.0, 1.0 - failed.toDouble / attempted), "ratio"))
      else Layers.metrics(tracer, rounds.toSeq, cores, samples.size)

    val json = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val result = s"""{"correct": ${failedChecks.isEmpty && failure.isEmpty && warm.nonEmpty}, """ +
      s""""attempted": $attempted, "failed": $failed, "metrics": $json}"""
    val runs = new File(args("work"), "runs"); runs.mkdirs()
    val tag = s"${workload.name}-s$seed-t${if (trace) 1 else 0}"
    Files.write(new File(runs, s"$tag.spans.json").toPath, tracer.toJson.getBytes(UTF_8))
    Files.write(new File(args("out")).toPath,
      (s"perfbench digest ${workload.name} inputs=${inputDigest.take(16)} outputs=$warmDigest\n" +
        result + "\n").getBytes(UTF_8))
    spark.stop()
  }
}
