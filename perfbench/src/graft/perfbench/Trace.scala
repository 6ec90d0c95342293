package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around calls into the library, each with the Spark work it caused.
  *
  * A span runs its body under a job group named after the span, and a
  * listener sums the task metrics of every job in that group: jobs, tasks,
  * task CPU, shuffle write, spill, GC, and per stage the task run times
  * that `task_skew` (max over median task time, the DS2 skew signal) is
  * taken from. Spans and counters stay in memory; `summary` turns them into
  * per-repetition figures when the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val Prefix = "perfbench:"

  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var gcMs = 0L
    val stageRunMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  }

  final case class Span(name: String, parent: Option[String], rep: Int, seconds: Double)

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val counters = new ConcurrentHashMap[String, Counters]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  private var rep = 0

  spark.sparkContext.addSparkListener(this)

  def close(): Unit = spark.sparkContext.removeSparkListener(this)

  /** Start the next traced repetition: spans recorded from here on belong to it. */
  def nextRep(): Unit = rep += 1

  def reps: Int = rep

  private def countersOf(name: String) = counters.computeIfAbsent(name, _ => new Counters)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith(Prefix)) {
      val name = g.stripPrefix(Prefix)
      val c = countersOf(name)
      c.synchronized(c.jobs += 1)
      js.stageIds.foreach(id => stageGroup.putIfAbsent(id, name))
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val name = stageGroup.get(te.stageId)
    val m = te.taskMetrics
    if (name != null && m != null && te.taskInfo.successful) {
      val c = countersOf(name)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        c.stageRunMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  /** Time `body` as span `name`; jobs it starts count toward `name`. */
  def span[A](name: String)(body: => A): A = {
    val sc = spark.sparkContext
    val parent = stack.headOption
    stack = name :: stack
    sc.setJobGroup(Prefix + name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val secs = (System.nanoTime() - t0) / 1e9
      spans += Span(name, parent, rep, secs)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(Prefix + p, p, interruptOnCancel = false)
        case None    => sc.clearJobGroup()
      }
    }
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else { val s = xs.sorted; val n = s.length; if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** Median over traced repetitions of a span's summed duration. */
  def seconds(name: String): Double =
    median((1 to rep).map(r => spans.filter(s => s.name == name && s.rep == r).map(_.seconds).sum))

  /** Median over repetitions of a span's self time: its duration minus the
    * durations of the spans directly inside it.
    */
  def selfSeconds(name: String): Double =
    median((1 to rep).map { r =>
      val own = spans.filter(s => s.name == name && s.rep == r).map(_.seconds).sum
      own - spans.filter(s => s.parent.contains(name) && s.rep == r).map(_.seconds).sum
    })

  /** Counter figures of a span, per traced repetition. */
  def counts(name: String): Map[String, Double] = {
    val c = Option(counters.get(name)).getOrElse(new Counters)
    val n = math.max(rep, 1).toDouble
    val skews = c.stageRunMs.values.filter(_.length >= 4).map { ts =>
      val med = median(ts.map(_.toDouble).toSeq)
      if (med > 0) ts.max / med else 1.0
    }
    Map(
      "jobs" -> c.jobs / n,
      "tasks" -> c.tasks / n,
      "task_cpu_s" -> c.cpuNs / 1e9 / n,
      "shuffle_mb" -> c.shuffleWriteBytes / 1048576.0 / n,
      "spill_mb" -> c.spillBytes / 1048576.0 / n,
      "gc_s" -> c.gcMs / 1000.0 / n,
      "task_skew" -> (if (skews.isEmpty) 0.0 else skews.max))
  }
}
