package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine counters for one job group, summed over its tasks. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuMs = 0.0
  var schedDelayMs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var scanTaskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuMs += o.cpuMs; schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    inputRows += o.inputRows; inputBytes += o.inputBytes; scanTaskMs += o.scanTaskMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    fetchWaitMs += o.fetchWaitMs; spillBytes += o.spillBytes; taskMs ++= o.taskMs
  }

  /** Slowest task over the median task: 1.0 means no skew. */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else { val m = Stats.median(taskMs.map(_.toDouble).toSeq); if (m > 0) taskMs.max / m else 0.0 }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "executor_run_ms" -> runMs.toDouble, "executor_cpu_ms" -> cpuMs,
    "scheduler_delay_ms" -> schedDelayMs.toDouble, "gc_ms" -> gcMs.toDouble,
    "input_rows" -> inputRows.toDouble, "input_bytes" -> inputBytes.toDouble,
    "scan_task_ms" -> scanTaskMs.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "fetch_wait_ms" -> fetchWaitMs.toDouble, "spill_bytes" -> spillBytes.toDouble,
    "task_skew" -> skew)
}

/** Attributes every task to the job group of the job that ran it.
  * Spans set the job group around each layer call; a streaming query
  * runs its jobs under its run id, so its counters land under that.
  */
final class EngineListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Counters]
  @volatile var callbackNanos = 0L

  private def group(g: String): Counters = byGroup.getOrElseUpdate(g, new Counters)

  def counters(g: String): Counters = synchronized {
    val c = new Counters; byGroup.get(g).foreach(c.add); c
  }

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    synchronized(f)
    callbackNanos += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    group(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stageGroup.get(e.stageInfo.stageId).foreach(g => group(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val c = group(stageGroup.getOrElse(e.stageId, "none"))
      val info = e.taskInfo
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1e6
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      c.gcMs += m.jvmGCTime
      c.inputRows += m.inputMetrics.recordsRead
      c.inputBytes += m.inputMetrics.bytesRead
      if (m.inputMetrics.bytesRead > 0) c.scanTaskMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.taskMs += info.duration
    }
  }
}

/** Keeps every progress report of every streaming query. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  @volatile var callbackNanos = 0L
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    synchronized(progress += e.progress)
    callbackNanos += System.nanoTime() - t0
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

final case class Span(id: Long, name: String, parent: Long, traceId: String,
                      startMs: Double, endMs: Double, selfMs: Double)

/** Spans around the benchmark's calls into each layer. Disabled, a
  * span only runs its body: headline runs carry no listener, no job
  * group and no bookkeeping.
  */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  val engine = new EngineListener
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = mutable.Stack.empty[(Long, Double)]
  private val childMs = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
  private val t0 = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def attach(): Unit = if (enabled) sc.addSparkListener(engine)
  def detach(): Unit = if (enabled) sc.removeSparkListener(engine)

  /** Runs `f` as span `name` of trace `traceId`. Spans nest on the
    * calling thread, which must be the benchmark's main thread.
    */
  def span[T](name: String, traceId: String)(f: => T): T = {
    if (!enabled) return f
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0L)
    val start = nowMs
    stack.push((id, start))
    sc.setJobGroup(id.toString, name, interruptOnCancel = false)
    try f
    finally {
      stack.pop()
      val end = nowMs
      if (stack.nonEmpty) sc.setJobGroup(stack.head._1.toString, "", interruptOnCancel = false)
      else sc.clearJobGroup()
      childMs(parent) += end - start
      spans += Span(id, name, parent, traceId, start, end, end - start - childMs(id))
    }
  }

  /** A span for work that ran outside this thread (a streaming query),
    * with its counters taken from the query's own job group.
    */
  def external(name: String, traceId: String, startMs: Double, endMs: Double,
               group: String, parent: Long = 0L): Long = {
    val id = nextId; nextId += 1
    if (enabled) {
      spans += Span(id, name, parent, traceId, startMs, endMs, endMs - startMs)
      groupOf(id) = group
    }
    id
  }
  private val groupOf = mutable.Map.empty[Long, String]
  private val epoch0 = System.currentTimeMillis() - nowMs

  def now: Double = nowMs
  /** A wall-clock instant on the span clock. */
  def fromEpochMs(ms: Long): Double = ms - epoch0

  /** Engine counters of a span, its own jobs only. */
  def counters(s: Span): Counters = engine.counters(groupOf.getOrElse(s.id, s.id.toString))

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      val times = Json.finite(counters(s).toMap ++ Map(
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> s.selfMs))
      sb ++= Json.write(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "trace" -> s.traceId) ++ times) += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile over the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** JSON text of a string, number, boolean, map or sequence. */
  def write(v: Any): String = mapper.writeValueAsString(v)

  /** `m` unchanged; fails on a NaN or infinite value, which JSON has no form for. */
  def finite(m: Map[String, Double]): Map[String, Double] = {
    m.foreach { case (k, d) => require(!d.isNaN && !d.isInfinite, s"non-finite value $d for $k") }
    m
  }
}
