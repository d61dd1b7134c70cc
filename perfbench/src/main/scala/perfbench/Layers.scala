package perfbench

/** Per-layer metrics of a traced run: medians over the traced timed
  * rounds of what each call's span recorded. A metric of a layer the
  * workload does not call reads 0. */
object Layers {

  /** Per call: metric suffixes reported (`s` is the call's self time). */
  val calls: Seq[(String, Seq[String])] = Seq(
    "text.wordFreq" -> Seq("s", "shuffle_write_mb"),
    "text.invertedIndex" -> Seq("s", "shuffle_write_mb", "spill_mb"),
    "text.urlIndexFromFiles" -> Seq("s", "input_mb"),
    "text.intCountFromBinaryFiles" -> Seq("s"),
    "core.topK" -> Seq("s"),
    "core.histo" -> Seq("s"),
    "graph.edgeUpper" -> Seq("s"),
    "graph.ccFind" -> Seq("s", "jobs", "tasks"),
    "graph.sssp" -> Seq("s", "jobs"),
    "graph.pagerank" -> Seq("s"),
    "graph.lubyMis" -> Seq("s", "jobs"),
    "graph.triangleCount" -> Seq("s", "shuffle_write_mb"),
    "llm.minHashLshPairs" -> Seq("s", "shuffle_write_mb"),
    "llm.simHashPairs" -> Seq("s"),
    "llm.dedupClusters" -> Seq("s", "jobs"),
    "multimodal.videoFramesFp" -> Seq("s"),
    "multimodal.perceptualPairsFromFrames" -> Seq("s", "shuffle_write_mb"),
    "sources.DedupIndex.build" -> Seq("s"),
    "sources.VideoIndex.build" -> Seq("s"),
    "sources.DedupIndex.dedupAgainst" -> Seq("s"),
    "sources.VideoIndex.dedupAgainstPerceptual" -> Seq("s"),
    "sources.DedupIndex.append" -> Seq("s"),
    "sources.VideoIndex.append" -> Seq("s"),
    "sources.maintain" -> Seq("s"))

  /** Layer-wide task seconds and busy fraction. */
  val layers = Seq("text", "graph")

  /** Metrics a round reports itself (counts and ratios from its outputs). */
  val reported: Seq[(String, String)] = Seq(
    "llm.minHashLshPairs.pairs" -> "count",
    "llm.minHashLshPairs.recall" -> "ratio",
    "llm.minHashLshPairs.precision" -> "ratio",
    "llm.simHashPairs.recall" -> "ratio",
    "multimodal.perceptualPairsFromFrames.recall" -> "ratio",
    "sources.maintain.files_rewritten" -> "count",
    "sources.files_per_bucket" -> "files/bucket",
    "sources.bytes_per_input_byte" -> "ratio")

  def unit(suffix: String): String = suffix match {
    case "s" | "task_s" | "gc_s" => "s"
    case "jobs" | "tasks" | "stages" => "count"
    case _ => "MB"
  }

  def value(ss: Seq[Span], suffix: String): Double = suffix match {
    case "s" => ss.map(_.selfS).sum
    case "jobs" => ss.map(_.counters.jobs.toDouble).sum
    case "stages" => ss.map(_.counters.stages.toDouble).sum
    case "tasks" => ss.map(_.counters.tasks.toDouble).sum
    case "task_s" => ss.map(_.counters.taskS).sum
    case "shuffle_write_mb" => ss.map(_.counters.shuffleWriteB / 1e6).sum
    case "spill_mb" => ss.map(_.counters.spillB / 1e6).sum
    case "input_mb" => ss.map(_.counters.inputB / 1e6).sum
  }

  def metrics(tracer: Tracer, rounds: Seq[(RoundResult, Main.Timed)], cores: Int,
      batchSamples: Int): Seq[(String, Double, String)] = {
    val tracedRounds = rounds.map(_._2).filter(_.traced).map(_.round).toSet
    val byRound = tracer.spans.filter(s => tracedRounds(s.round)).groupBy(_.round).values.map(_.toSeq).toSeq
    def med(f: Seq[Span] => Double) = Main.median(byRound.map(f))
    val parents = tracer.spans.map(_.parent).toSet
    // a call made only at set-up (the index builds) reads from set-up
    val setup = tracer.spans.filter(_.round < 0).toSeq
    val perCall = calls.flatMap { case (key, sufs) =>
      sufs.map { s =>
        val v = if (setup.exists(_.key == key)) value(setup.filter(_.key == key), s)
          else med(ss => value(ss.filter(_.key == key), s))
        (s"$key.$s", v, unit(s))
      }
    }
    val perLayer = layers.flatMap { l =>
      def leaves(ss: Seq[Span]) = ss.filter(s => s.layer == l && !parents(s.id))
      Seq(
        (s"$l.task_s", med(ss => value(leaves(ss), "task_s")), "s"),
        (s"$l.busy_frac", med { ss =>
          val w = leaves(ss).map(_.wallS).sum
          if (w == 0) 0.0 else value(leaves(ss), "task_s") / (w * cores)
        }, "ratio"))
    }
    val pagerankJobs = ("graph.pagerank.jobs_per_round",
      med(ss => value(ss.filter(_.key == "graph.pagerank"), "jobs")) / GraphRmat.prIters, "count")
    val traced = rounds.filter(_._2.traced).map(_._1.metrics)
    val own = reported.map { case (n, u) => (n, Main.median(traced.map(_.getOrElse(n, 0.0))), u) }
    val spark = Seq("jobs", "stages", "tasks", "task_s", "shuffle_write_mb", "spill_mb").map(s =>
      (s"spark.$s", med(ss => value(ss, s)), unit(s)))
    val t = rounds.filter(_._2.traced).map(_._2)
    val u = rounds.filterNot(_._2.traced).map(_._2)
    val overhead = if (u.isEmpty) 0.0 else Main.median(t.map(_.wall)) / Main.median(u.map(_.wall)) - 1
    perCall ++ perLayer ++ Seq(pagerankJobs) ++ own ++ spark ++ Seq(
      ("spark.gc_s", Main.median(t.map(_.gc)), "s"),
      ("spark.codegen_compiles", Main.median(t.map(_.compiles.toDouble)), "count"),
      ("ingest_batch.samples", batchSamples.toDouble, "count"),
      ("trace.overhead_frac", overhead, "ratio"))
  }
}
