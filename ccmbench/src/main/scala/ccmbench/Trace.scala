package ccmbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One completed stage, attributed to the job group (span) that ran it. */
final case class StageStat(
    group: String,
    stageId: Int,
    tasks: Int,
    wallS: Double,
    shuffleMap: Boolean,
    taskS: Double,
    shuffleBytes: Long,
    spillBytes: Long,
    peakExecMem: Long
)

/** Spark work counters, attributed by job group. The benchmark gives each
  * traced span its own job group, so a span's counters are exactly the
  * jobs it launched. Also keeps the run-wide maximum per-task
  * `peakExecutionMemory`, which the untraced run reports.
  */
final class Probe extends SparkListener {
  private final class Acc {
    var tasks = 0; var runMs = 0L; var shuffle = 0L; var spill = 0L; var peak = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[String, Integer]()
  private val acc = new ConcurrentHashMap[Int, Acc]()
  private val done = new ConcurrentHashMap[Int, StageStat]()
  @volatile var peakExecMem = 0L

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobs.merge(g, 1, (a, b) => a + b)
    e.stageIds.foreach(id => stageGroup.putIfAbsent(id, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc.computeIfAbsent(e.stageId, _ => new Acc)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.shuffle += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peak = math.max(a.peak, m.peakExecutionMemory)
      }
      synchronized { peakExecMem = math.max(peakExecMem, m.peakExecutionMemory) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val a = Option(acc.get(i.stageId)).getOrElse(new Acc)
    val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield (c - s) / 1e3).getOrElse(0.0)
    done.put(
      i.stageId,
      StageStat(
        stageGroup.getOrDefault(i.stageId, ""),
        i.stageId,
        a.tasks,
        wall,
        org.apache.spark.CcmBenchBus.isShuffleMap(i),
        a.runMs / 1e3,
        a.shuffle,
        a.spill,
        a.peak
      )
    )
  }

  def jobsIn(group: String): Int = Option(jobs.get(group)).map(_.intValue).getOrElse(0)

  def stagesIn(group: String): Seq[StageStat] =
    done.values.asScala.filter(_.group == group).toSeq.sortBy(_.stageId)
}

/** One timed interval. Spans of one call share `trace`; `counts` holds the
  * Spark counters of the span's own job group (leaf spans only).
  */
final case class Span(
    trace: String,
    id: String,
    parent: String,
    name: String,
    startNs: Long,
    endNs: Long,
    counts: Map[String, Double]
) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder: spans stay in memory and are written once, as JSON, when
  * the run ends. A leaf span runs its body in a job group of its own and
  * drains the listener bus before reading that group's counters.
  */
final class Tracer(sc: SparkContext, probe: Probe, cores: Int) {
  val spans = ArrayBuffer.empty[Span]
  private var next = 0

  private def newId(): String = { next += 1; s"s$next" }

  /** A parent span around `body`; the body's leaf spans name it as parent. */
  def parent[T](trace: String, name: String)(body: String => T): (T, Span) = {
    val id = newId()
    val t0 = System.nanoTime()
    val out = body(id)
    val s = Span(trace, id, "", name, t0, System.nanoTime(), Map.empty)
    spans += s
    (out, s)
  }

  def leaf[T](trace: String, parentId: String, name: String)(body: => T): (T, Span) = {
    val id = newId()
    val group = s"$trace/$id"
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val out =
      try body
      finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    org.apache.spark.CcmBenchBus.drain(sc)
    val stages = probe.stagesIn(group)
    val wall = (t1 - t0) / 1e9
    val taskS = stages.map(_.taskS).sum
    val counts = Map(
      "jobs" -> probe.jobsIn(group).toDouble,
      "stages" -> stages.size.toDouble,
      "tasks" -> stages.map(_.tasks).sum.toDouble,
      "task_s" -> taskS,
      "busy_frac" -> (if (wall > 0) taskS / (wall * cores) else 0.0),
      "shuffle_bytes" -> stages.map(_.shuffleBytes).sum.toDouble,
      "spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
      "peak_exec_mem_mb" -> (if (stages.isEmpty) 0.0 else stages.map(_.peakExecMem).max / 1e6)
    )
    val s = Span(trace, id, parentId, name, t0, t1, counts)
    spans += s
    (out, s)
  }

  def stagesOf(s: Span): Seq[StageStat] = probe.stagesIn(s"${s.trace}/${s.id}")

  /** A span's duration minus the part of it that its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = s.startNs
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson(extra: Map[String, Any]): String =
    Json.render(
      extra + ("spans" -> spans.map { s =>
        Map(
          "trace" -> s.trace,
          "id" -> s.id,
          "parent" -> (if (s.parent.isEmpty) null else s.parent),
          "name" -> s.name,
          "start_ns" -> s.startNs,
          "end_ns" -> s.endNs,
          "self_s" -> selfSeconds(s),
          "counts" -> s.counts
        )
      })
    )
}
