package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark job and task counters, as the benchmark's own listener sees them. */
final class JobCounters extends SparkListener {
  final class Job(val start: Long, var end: Long)
  final case class Task(launch: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleRead: Long, shuffleWrite: Long, bytesOut: Long)
  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs(e.jobId) = new Job(e.time, e.time) }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten)
    }
  }
}

/** `StreamingQueryProgress` of every micro-batch trigger. */
final class StreamProgress extends StreamingQueryListener {
  val batches = ArrayBuffer.empty[(Long, Map[String, Long])]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    synchronized { batches += ((p.numInputRows, d)) }
  }
}

/** A span around one call into a layer: wall-clock bounds in epoch ms
  * (to attribute Spark jobs and tasks) and the exact duration in ns.
  */
final case class Span(id: Int, parent: Int, name: String, pass: Int,
                      startMs: Long, endMs: Long, durNs: Long,
                      attrs: Map[String, Double])

/** Everything one run measures: operation samples and failures (all
  * passes of an untraced run; the untraced passes of a traced run) and,
  * in traced passes, spans with the Spark counters observed inside them.
  */
final class Recorder(spark: SparkSession, val traceRun: Boolean) {
  private var pass = -1
  private var tracing = false
  private val jobs = new JobCounters
  private val progress = new StreamProgress

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[(Int, mutable.Map[String, Double])] = Nil
  private var nextId = 0

  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val work = mutable.LinkedHashMap.empty[String, Double]
  val passes = ArrayBuffer.empty[(Int, Boolean, Double)]
  val gates = ArrayBuffer.empty[(String, Boolean, String)]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def isTracing: Boolean = tracing

  def beginPass(p: Int, traced: Boolean): Unit = {
    pass = p
    tracing = traced
    if (traced) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(progress)
    }
  }

  def endPass(wallS: Double): Unit = {
    if (tracing) {
      GraftBenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(progress)
    }
    passes += ((pass, tracing, wallS))
    tracing = false
  }

  /** Times `f` as a span named `name` when this pass is traced. */
  def span[T](name: String)(f: => T): T =
    if (!tracing) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val attrs = mutable.Map.empty[String, Double]
      stack = (id, attrs) :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val dur = System.nanoTime() - t0
        stack = stack.tail
        spans += Span(id, parent, name, pass, startMs, System.currentTimeMillis(), dur,
          attrs.toMap)
      }
    }

  /** Adds `v` to attribute `k` of the innermost open span. */
  def attr(k: String, v: Double): Unit =
    stack.headOption.foreach { case (_, m) => m(k) = m.getOrElse(k, 0.0) + v }

  /** Adds attributes to the latest span named `name`, once it has closed. */
  def traceAttrs(name: String, kv: Map[String, Double]): Unit =
    if (tracing) {
      val i = spans.lastIndexWhere(_.name == name)
      if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ kv)
    }

  /** Records an end-to-end sample; traced passes do not contribute. */
  def sample(kind: String, v: Double): Unit =
    if (!tracing) samples.getOrElseUpdate(kind, ArrayBuffer.empty) += v

  def addWork(kind: String, v: Double): Unit =
    if (!tracing) work(kind) = work.getOrElse(kind, 0.0) + v

  /** One operation: counted as attempted, any exception counted as
    * failed, and (with `record`) its latency kept as a `kind` sample.
    */
  def op[T](kind: String, record: Boolean = true)(f: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      if (record) sample(kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        if (failures.size < 20) failures += s"$kind: ${e.getClass.getName}: ${e.getMessage}"
        None
    }
  }

  /** Forgets the warm-up pass's samples, work and operation counts. */
  def reset(): Unit = {
    samples.clear(); work.clear(); passes.clear(); failures.clear()
    attempted = 0; failed = 0
  }

  def gate(name: String, ok: Boolean, detail: => String = ""): Unit =
    gates += ((name, ok, if (ok) "" else detail))

  /** Jobs, job time (union of job intervals clipped to the span), task
    * time, CPU, GC, shuffle and output bytes observed inside each span.
    */
  def spanCounters(s: Span): Map[String, Double] = jobs.synchronized {
    val inside = jobs.jobs.values.filter(j => j.start >= s.startMs && j.start <= s.endMs)
      .map(j => (math.max(j.start, s.startMs), math.min(math.max(j.end, j.start), s.endMs)))
      .toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    inside.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    val ts = jobs.tasks.filter(t => t.launch >= s.startMs && t.launch <= s.endMs)
    Map(
      "jobs" -> inside.size.toDouble,
      "job_s" -> covered / 1e3,
      "task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "bytes_written" -> ts.map(_.bytesOut).sum.toDouble)
  }

  def streamBatches: Seq[(Long, Map[String, Long])] = progress.synchronized(progress.batches.toSeq)
}
