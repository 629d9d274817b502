package pipebench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded from the benchmark's side of each call into graft.
  *
  * A span is (name, start, end, parent, run id); spans are kept in
  * memory and written as JSON lines when the run ends. Only the single
  * client thread opens spans, so a plain stack gives each span its
  * parent. While a span is open its name is the SparkContext local
  * property [[Trace.SpanProp]], which every job submitted under it
  * carries — that is how [[Recorder]] charges jobs, task CPU and
  * shuffle bytes to spans. With `enabled = false` every call is a
  * plain pass-through, so untraced passes pay nothing.
  */
final class Trace(sc: SparkContext, runId: String) {
  final case class Span(name: String, parent: Int, start: Long, var end: Long = -1L)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var enabled = false

  /** Nanoseconds spent in each Spark phase, traced passes only:
    * construct (the call that returns the DataFrame, eager jobs
    * included), plan (forcing executedPlan), exec (the action). */
  val phaseNs = mutable.LinkedHashMap("construct" -> 0L, "plan" -> 0L, "exec" -> 0L)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      spans += Span(name, stack.headOption.getOrElse(-1), System.nanoTime())
      stack = id :: stack
      val prev = sc.getLocalProperty(Trace.SpanProp)
      sc.setLocalProperty(Trace.SpanProp, name)
      try body
      finally {
        spans(id).end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanProp, prev)
      }
    }

  def phase[T](p: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally phaseNs(p) += System.nanoTime() - t0
    }

  /** Self time of every span: its duration minus the part its
    * children cover (children never overlap — one client thread). */
  def selfNs: IndexedSeq[Long] = {
    val self = spans.map(s => s.end - s.start).toArray
    spans.foreach(s => if (s.parent >= 0) self(s.parent) -= s.end - s.start)
    self.toIndexedSeq
  }

  def write(path: Path, workload: String): Unit = {
    val lines = spans.zipWithIndex.map { case (s, i) =>
      s"""{"run": "$runId", "workload": "$workload", "id": $i, "name": "${s.name}", """ +
        s""""parent": ${s.parent}, "start_ns": ${s.start}, "end_ns": ${s.end}}"""
    }
    Files.write(path, lines.asJava, UTF_8)
  }
}

object Trace {
  val SpanProp = "pipebench.span"

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Process high-water resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toLong / 1024.0
  }
}

/** Spark listener that charges scheduler and task metrics to the span
  * each job was submitted under. Jobs submitted outside any span (the
  * untraced passes) are not counted. */
final class Recorder extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, cpuNs, gcMs, schedWaitMs, fetchWaitMs,
        spillBytes, shuffleBytes = 0L
  }
  val bySpan = mutable.LinkedHashMap.empty[String, Acc]
  val total = new Acc
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp))).foreach { span =>
      bySpan.getOrElseUpdate(span, new Acc).jobs += 1
      total.jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach { span =>
      bySpan(span).stages += 1
      total.stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).filter(_ => m != null).foreach { span =>
      val wait = stageSubmitted.get(e.stageId)
        .map(s => math.max(0L, e.taskInfo.launchTime - s)).getOrElse(0L)
      for (a <- Seq(bySpan(span), total)) {
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.schedWaitMs += wait
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillBytes += m.diskBytesSpilled
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }
}
