package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Process clocks shared by the timed and the traced runs. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime
  def now: Long = System.nanoTime()
}

/** A closed interval recorded by the benchmark around one call into a
  * layer. `startMs`/`endMs` are wall-clock, to attribute listener events
  * (which carry wall-clock times) to the span they fell in. */
final case class Span(name: String, startNs: Long, endNs: Long, startCpu: Long,
    endCpu: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Counters taken from Spark's public listeners for the traced run:
  * jobs and task metrics ([[SparkListener]]), stream lifecycle and
  * progress ([[StreamingQueryListener]]; `onQueryStarted` is delivered
  * synchronously on the query's thread, so its clock reads are exact
  * layer boundaries), observed metrics ([[QueryExecutionListener]]), and
  * janino compiles (`CodegenMetrics`). Spans stay in memory until the run
  * ends. */
final class Tracer(spark: SparkSession) {

  final case class Task(launchMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWriteBytes: Long, inputBytes: Long)
  final case class StreamStart(runId: java.util.UUID, ns: Long, cpuNs: Long, ms: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private var jobsEnded = 0
  private val streamStarts = mutable.ArrayBuffer.empty[StreamStart]
  private val terminated = mutable.HashSet.empty[java.util.UUID]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private val observed = mutable.ArrayBuffer.empty[(String, Long)]

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized(jobStarts += e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobsEnded += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) Tracer.this.synchronized {
        tasks += Task(e.taskInfo.launchTime, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val s = StreamStart(e.runId, Clock.now, Clock.cpuNs, System.currentTimeMillis())
      Tracer.this.synchronized(streamStarts += s)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progress += e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized(terminated += e.runId)
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val obs = qe.observedMetrics.collect {
        case (name, row) if name.startsWith("ingest_") && row.schema.fieldNames.contains("n") =>
          name -> row.getAs[Long]("n")
      }
      if (obs.nonEmpty) Tracer.this.synchronized(observed ++= obs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(streams)
  spark.listenerManager.register(queries)

  def span[T](name: String)(f: => T): T = {
    val ms = System.currentTimeMillis(); val ns = Clock.now; val c = Clock.cpuNs
    try f
    finally spans += Span(name, ns, Clock.now, c, Clock.cpuNs, ms, System.currentTimeMillis())
  }

  /** Block until every job and stream started so far has been delivered
    * to the listeners (they run on Spark's asynchronous listener bus). */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    def settled = synchronized(jobsEnded >= jobStarts.size &&
      streamStarts.forall(s => terminated.contains(s.runId)))
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(5)
    // observed metrics ride the same bus; one more beat lets them land
    Thread.sleep(20)
  }

  /** Everything recorded since the last call, then forget it. */
  def take(): Window = synchronized {
    val w = Window(spans.toVector, tasks.toVector, jobStarts.toVector, streamStarts.toVector,
      progress.toVector, observed.toVector, Codegen.sample())
    spans.clear(); tasks.clear(); jobStarts.clear(); streamStarts.clear()
    progress.clear(); observed.clear(); jobsEnded = 0; terminated.clear()
    w
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(queries)
  }

  final case class Window(spans: Vector[Span], tasks: Vector[Task], jobStarts: Vector[Long],
      streamStarts: Vector[StreamStart],
      progress: Vector[StreamingQueryListener.QueryProgressEvent],
      observed: Vector[(String, Long)], codegen: (Long, Double)) {

    /** Tasks launched inside `[fromMs, toMs]`. */
    def tasksIn(fromMs: Long, toMs: Long): Vector[Task] =
      tasks.filter(t => t.launchMs >= fromMs && t.launchMs <= toMs)

    def jobsIn(fromMs: Long, toMs: Long): Int = jobStarts.count(t => t >= fromMs && t <= toMs)

    /** Progress events of stream runs whose sink is a file sink (silver)
      * or a foreachBatch sink (gold). */
    def progressOf(gold: Boolean): Vector[org.apache.spark.sql.streaming.StreamingQueryProgress] =
      progress.map(_.progress).filter(p =>
        p.sink.description.startsWith("ForeachBatchSink") == gold)

    /** Start of the first gold stream: the end of the silver layer. */
    def firstGoldStart: Option[StreamStart] = {
      val goldRuns = progressOf(gold = true).map(_.runId).toSet
      streamStarts.find(s => goldRuns.contains(s.runId))
    }
  }
}

/** Janino compile count and seconds from Spark's `CodegenMetrics`. */
object Codegen {
  /** (compiles so far, compile seconds so far). The histogram keeps every
    * sample until its reservoir (1028) fills; past that the sum is the
    * count times the reservoir mean — an estimate, and labelled so. */
  def sample(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    val n = h.getCount
    val ms = if (n <= s.size) s.getValues.sum.toDouble else n * s.getMean
    (n, ms / 1000.0)
  }
}

/** Heap high-water mark since the last reset. */
object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def reset(): Unit = pools.foreach(_.resetPeakUsage())
  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
