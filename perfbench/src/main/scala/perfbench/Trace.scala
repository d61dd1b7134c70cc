package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side work attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var inputB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskS += o.taskS; cpuS += o.cpuS; gcS += o.gcS
    inputB += o.inputB; shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
  }
}

/** One timed call (or a grouping of calls). Spans of one run share
  * `run`; `parent` is -1 for a root span. */
final class Span(val id: Int, val parent: Int, val run: String,
    val round: Int, val layer: String, val name: String) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  val startCpu: Double = Tracer.cpuS
  var endCpu: Double = startCpu
  var endNs: Long = startNs
  var endMs: Long = startMs
  var failed = false
  val counters = new Counters
  var selfS = 0.0
  def wallS: Double = (endNs - startNs) / 1e9
  /** Process CPU seconds (all threads) while the span was open. */
  def cpuS: Double = endCpu - startCpu
  def key: String = s"$layer.$name"
}

/** Records per-stage task metrics and per-job ownership. Owners are
  * resolved after the run: a job belongs to the span whose job group it
  * carries, else to the innermost span open when it started (jobs
  * launched from pool threads that did not inherit the group). */
final class GroupListener extends SparkListener {
  final case class Job(group: String, timeMs: Long, stages: Seq[Int])
  val jobs = mutable.ArrayBuffer.empty[Job]
  val stageCounters = mutable.HashMap.empty[Int, Counters]

  private def stage(id: Int) = stageCounters.getOrElseUpdate(id, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs += Job(g, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stage(e.stageId)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskS += m.executorRunTime / 1e3
      c.cpuS += m.executorCpuTime / 1e9
      c.gcS += m.jvmGCTime / 1e3
      c.inputB += m.inputMetrics.bytesRead
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.spillB += m.diskBytesSpilled
    }
  }
}

object Tracer {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
}

/** Spans around every call into the program. With `traced` set, each
  * span also runs under its own Spark job group and a [[GroupListener]]
  * attributes jobs, stages, tasks and task metrics to it. Spans stay in
  * memory until [[resolve]]. */
final class Tracer(sc: SparkContext, val run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var listener: GroupListener = _
  var round = 0

  def traced: Boolean = listener != null

  def setTraced(on: Boolean): Unit =
    if (on && listener == null) {
      listener = new GroupListener
      sc.addSparkListener(listener)
    } else if (!on && listener != null) {
      org.apache.spark.PerfbenchBridge.drain(sc)
      sc.removeSparkListener(listener)
      resolveInto(listener)
      listener = null
    }

  private def group(s: Span) = s"perfbench:$run:${s.id}"

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      run, round, layer, name)
    spans += s
    stack = s :: stack
    if (traced) sc.setJobGroup(group(s), s.key, interruptOnCancel = false)
    try body
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.endNs = System.nanoTime()
      s.endCpu = Tracer.cpuS
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (traced) stack.headOption match {
        case Some(p) => sc.setJobGroup(group(p), p.key, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wall seconds of the spans opened since span `from` at its level
    * (spans nested deeper are inside their parent's wall). */
  def wallSince(from: Int): Double =
    spans.iterator.drop(from).filter(_.parent == spans(from).parent).map(_.wallS).sum

  private def resolveInto(l: GroupListener): Unit = l.synchronized {
    val byGroup = spans.map(s => group(s) -> s).toMap
    val owned = mutable.Set.empty[Int]
    l.jobs.foreach { j =>
      val owner = Option(j.group).flatMap(byGroup.get).orElse(
        spans.filter(s => s.startMs <= j.timeMs && j.timeMs <= s.endMs)
          .maxByOption(_.startNs))
      owner.foreach { s =>
        s.counters.jobs += 1
        j.stages.filter(owned.add).foreach(id =>
          l.stageCounters.get(id).foreach(s.counters += _))
      }
    }
  }

  /** Flush the listener and compute self times. */
  def resolve(): Unit = {
    setTraced(false)
    val kids = spans.groupBy(_.parent)
    spans.foreach { s =>
      s.selfS = s.wallS - kids.getOrElse(s.id, Nil).map(_.wallS).sum
    }
  }

  /** Spans as a JSON array, written out when the run ends. */
  def toJson: String = spans.map { s =>
    val c = s.counters
    f"""{"id":${s.id},"parent":${s.parent},"run":"${s.run}","round":${s.round},""" +
      f""""layer":"${s.layer}","name":"${s.name}","start_ms":${s.startMs},""" +
      f""""end_ms":${s.endMs},"wall_s":${s.wallS}%.6f,"self_s":${s.selfS}%.6f,""" +
      f""""failed":${s.failed},"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
      f""""task_s":${c.taskS}%.6f,"cpu_s":${c.cpuS}%.6f,"gc_s":${c.gcS}%.6f,""" +
      f""""input_mb":${c.inputB / 1e6}%.6f,"shuffle_write_mb":${c.shuffleWriteB / 1e6}%.6f,""" +
      f""""spill_mb":${c.spillB / 1e6}%.6f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}
