package mlkbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call the benchmark makes. Spans of one
  * operation share `run` (the operation's index); `parent` is the id of the
  * enclosing span, -1 at the root.
  */
final case class Span(id: Int, name: String, run: Int, parent: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out when the run ends, plus the Spark
  * listener that counts jobs, tasks and bytes per tag. With tracing off,
  * `span` only runs its body: no clock reads, no listener, no tags.
  *
  * All spans are opened on the driver thread that runs the workload, so
  * children nest strictly and a span's self time is its duration minus the
  * durations of its direct children.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans  = mutable.ArrayBuffer.empty[Span]
  private var stack  = List.empty[Span]
  private var nextId = 0
  /** Driver-thread nanoseconds spent in the tracer's own bookkeeping. */
  private var ownNs  = 0L

  val listener: Option[CountingListener] =
    if (enabled) Some(new CountingListener) else None
  listener.foreach(sc.addSparkListener)

  def span[T](name: String, run: Int)(body: => T): T =
    if (!enabled) body
    else {
      val b0     = System.nanoTime()
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = Span(nextId, name, run, parent, 0L, 0L)
      nextId += 1
      stack = s :: stack
      val prevTag = sc.getLocalProperty(Tracer.TagKey)
      sc.setLocalProperty(Tracer.TagKey, s"$name#$run")
      val start = System.nanoTime()
      ownNs += start - b0
      try body
      finally {
        val end = System.nanoTime()
        sc.setLocalProperty(Tracer.TagKey, prevTag)
        stack = stack.tail
        spans += s.copy(startNs = start, endNs = end)
        ownNs += System.nanoTime() - end
      }
    }

  /** PhaseTimer totals accumulated during `body`, kept for the innermost
    * span. The timer is reset before the body so the snapshot holds exactly
    * this call's phases.
    */
  def withPhases[T](body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      graft.util.PhaseTimer.reset()
      ownNs += System.nanoTime() - b0
      val r  = body
      val b1 = System.nanoTime()
      val snap = graft.util.PhaseTimer.snapshot()
      stack.headOption.foreach(s => phases(s.id) = snap)
      ownNs += System.nanoTime() - b1
      r
    }

  /** PhaseTimer (self seconds, calls) per label, by span id. */
  val phases = mutable.LinkedHashMap.empty[Int, Map[String, (Double, Long)]]

  def all: Seq[Span] = spans.toSeq
  def ownSeconds: Double = ownNs / 1e9

  /** Self time of each span: duration minus its direct children's. */
  def selfSeconds: Map[Int, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs(s.id)) / 1e9).toMap
  }

  /** Sum of durations of the spans named `name`. */
  def total(name: String): Double = spans.iterator.filter(_.name == name).map(_.seconds).sum

  /** Phase totals over every span that recorded phases. */
  def phaseTotals: Map[String, (Double, Long)] =
    phases.values.flatten.groupMapReduce(_._1)(_._2) { case ((s1, n1), (s2, n2)) => (s1 + s2, n1 + n2) }

  def close(): Unit = listener.foreach { l =>
    org.apache.spark.mlkbench.Bus.drain(sc)
    sc.removeSparkListener(l)
  }
}

object Tracer {
  val TagKey = "mlkbench.tag"

  def spanJson(s: Span, self: Double, t0: Long,
      phases: Option[Map[String, (Double, Long)]]): Json.Obj = Json.Obj(Seq(
    "id" -> s.id, "name" -> s.name, "run" -> s.run, "parent" -> s.parent,
    "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
    "self_s" -> self) ++ phases.map(p => "phases" ->
      p.map { case (k, (sec, n)) => k -> Json.obj("s" -> sec, "calls" -> n) }))
}

/** Per-tag Spark work counters. The tag is the innermost benchmark span
  * open when the job was submitted (`name#run`), read from the job's local
  * properties, so jobs submitted from the program's worker threads keep the
  * tag they inherited.
  */
final class CountingListener extends SparkListener {
  final class Counters {
    val jobs, stages, tasks, taskNs, bytesRead, bytesWritten, shuffleBytes = new AtomicLong
  }
  private val byTag    = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def counters(tag: String): Counters = byTag.computeIfAbsent(tag, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.TagKey)))
      .getOrElse("untagged")
    counters(tag).jobs.incrementAndGet()
    e.stageIds.foreach(id => stageTag.put(id, tag))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    counters(stageTag.getOrDefault(e.stageInfo.stageId, "untagged")).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stageTag.getOrDefault(e.stageId, "untagged"))
    c.tasks.incrementAndGet()
    c.taskNs.addAndGet(e.taskInfo.duration * 1000000L)
    Option(e.taskMetrics).foreach { m =>
      c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      c.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      c.shuffleBytes.addAndGet(
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Counter totals over tags whose span name satisfies `keep`. */
  def sum(keep: String => Boolean): Map[String, Long] = {
    val sel = byTag.asScala.filter { case (tag, _) => keep(tag.takeWhile(_ != '#')) }.values
    def s(f: Counters => AtomicLong) = sel.iterator.map(f(_).get).sum
    Map("jobs" -> s(_.jobs), "stages" -> s(_.stages), "tasks" -> s(_.tasks),
      "task_ns" -> s(_.taskNs), "bytes_read" -> s(_.bytesRead),
      "bytes_written" -> s(_.bytesWritten), "shuffle_bytes" -> s(_.shuffleBytes))
  }

  /** Jobs per exact tag (`name#run`). */
  def jobsByTag: Map[String, Long] = byTag.asScala.map { case (k, c) => k -> c.jobs.get }.toMap
}
