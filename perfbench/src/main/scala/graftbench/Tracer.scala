package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** One call the benchmark made into a graft module. Times are on the
  * epoch-millisecond clock Spark stamps its listener events with, so
  * jobs can be laid against spans.
  */
final class Span(val id: Long, val name: String, val parent: Long, val startMs: Double) {
  @volatile var endMs: Double = startMs
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Spans around module calls, plus a listener that attributes Spark
  * jobs, stages and bytes to the span that submitted them: each span
  * sets the thread's Spark job group to its own id, so a job carries
  * the innermost open span. A disabled tracer runs the body and
  * records nothing.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val closed = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  val ledger = new JobLedger
  if (enabled) sc.addSparkListener(ledger)

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** The innermost span open on this thread, to hand to worker threads. */
  def current: Option[Span] = open.get.headOption

  def span[A](name: String, parent: Option[Span] = None)(body: => A): A =
    if (!enabled) body
    else {
      val outer = open.get
      val up = outer.headOption.orElse(parent)
      val s = new Span(ids.incrementAndGet(), name, up.fold(0L)(_.id), nowMs)
      open.set(s :: outer)
      sc.setJobGroup(Tracer.group(s.id), name, interruptOnCancel = false)
      try body
      finally {
        s.endMs = nowMs
        closed.add(s)
        open.set(outer)
        outer.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p.id), p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = closed.asScala.toSeq

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) BenchAccess.drainListenerBus(sc)

  def close(): Unit = if (enabled) { drain(); sc.removeSparkListener(ledger) }
}

object Tracer {
  def group(spanId: Long): String = s"graftbench-span-$spanId"

  /** Total length of the union of [start, end) intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Spark work per job group: jobs with their wall intervals, and stage
  * counters summed per group.
  */
final class JobLedger extends SparkListener {
  final class Job(val group: String, val startMs: Double) { @volatile var endMs: Double = -1 }
  final class Counters {
    var stages, tasks, shuffleWriteBytes, inputBytes, inputRecords, outputBytes, outputRecords = 0L
  }

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, Counters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, new Job(g, e.time.toDouble))
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val c = counters.computeIfAbsent(Option(stageGroup.get(info.stageId)).getOrElse(""), _ => new Counters)
    val m = info.taskMetrics
    c.synchronized {
      c.stages += 1
      c.tasks += info.numTasks
      if (m != null) {
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Jobs whose group is one of `spans`, or every job when `spans` is None. */
  def jobsOf(spans: Option[Seq[Span]]): Seq[Job] = {
    val groups = spans.map(_.map(s => Tracer.group(s.id)).toSet)
    jobs.values.asScala.toSeq.filter(j => groups.forall(_.contains(j.group)))
  }

  /** Stage counters summed over `spans`, or over everything. */
  def countersOf(spans: Option[Seq[Span]]): Counters = {
    val groups = spans.map(_.map(s => Tracer.group(s.id)).toSet)
    val sum = new Counters
    counters.asScala.foreach { case (g, c) =>
      if (groups.forall(_.contains(g))) c.synchronized {
        sum.stages += c.stages; sum.tasks += c.tasks
        sum.shuffleWriteBytes += c.shuffleWriteBytes
        sum.inputBytes += c.inputBytes; sum.inputRecords += c.inputRecords
        sum.outputBytes += c.outputBytes; sum.outputRecords += c.outputRecords
      }
    }
    sum
  }
}
