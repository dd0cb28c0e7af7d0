package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** In-memory spans plus the Spark listeners of a traced run.
  *
  * Spans are opened by the benchmark around its calls into the program
  * (pass -> Pipeline.run or a declared query -> build or exec) and closed
  * when the call returns. Medallion stages are added afterwards from the
  * benchmark-owned `EtlMetrics`, which reports each stage's duration when
  * it ends. Spark jobs become spans too: a job belongs to the span whose id
  * the benchmark put in the thread-local property [[SpanProperty]] before
  * the call, narrowed to the medallion stage whose interval holds the
  * job's start. Times are epoch nanoseconds (Spark reports milliseconds).
  *
  * Counters are cumulative; a pass reads them as the difference between
  * two [[snapshot]]s, taken after the listener bus has drained.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val clockOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + clockOffset

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val counters = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var storedBytes = 0L
  private var storedPeak = 0L
  @volatile private var lastEvent = System.nanoTime()

  private def bump(name: String, by: Double): Unit = counters(name) += by

  def open(name: String, layer: String, parent: Int): Int = synchronized {
    spans += Span(spans.length, parent, name, layer, now(), -1L)
    spans.length - 1
  }

  def close(id: Int): Unit = synchronized {
    spans(id) = spans(id).copy(end = now())
  }

  def add(name: String, layer: String, parent: Int, start: Long, end: Long): Unit =
    synchronized { spans += Span(spans.length, parent, name, layer, start, end) }

  /** Runs `body` inside a new span whose id tags every job it submits. */
  def within[T](name: String, layer: String, parent: Int)(body: => T): (T, Int) = {
    val id = open(name, layer, parent)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id.toString)
    try (body, id)
    finally {
      sc.setLocalProperty(SpanProperty, prev)
      close(id)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      jobs(e.jobId) = Job(e.jobId, tag.map(_.toInt).getOrElse(-1), e.time * 1000000L, -1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      bump("scheduler.jobs", 1)
      lastEvent = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time * 1000000L))
      lastEvent = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        bump("scheduler.stages", 1)
        lastEvent = System.nanoTime()
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      lastEvent = System.nanoTime()
      bump("scheduler.tasks", 1)
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      val run = m.executorRunTime.toDouble
      val overhead = m.executorDeserializeTime + m.resultSerializationTime +
        info.gettingResultTime
      bump("scheduler.delay_ms", math.max(0L, info.duration - m.executorRunTime - overhead).toDouble)
      bump("exec.task_ms", run)
      bump("exec.gc_ms", m.jvmGCTime.toDouble)
      bump("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      bump("exec.shuffle_read_bytes", (m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead).toDouble)
      bump("exec.spill_bytes", m.diskBytesSpilled.toDouble)
      val input = m.inputMetrics.bytesRead.toDouble
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        jobs(j.id) = j.copy(inputBytes = j.inputBytes + input)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      lastEvent = System.nanoTime()
      val info = e.blockUpdatedInfo
      val key = info.blockId.name
      val bytes = info.memSize + info.diskSize
      storedBytes -= blockBytes.getOrElse(key, 0L)
      if (info.storageLevel.isValid && bytes > 0) {
        blockBytes(key) = bytes
        storedBytes += bytes
        bump("storage.blocks_put", 1)
      } else blockBytes.remove(key)
      storedPeak = math.max(storedPeak, storedBytes)
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Trace.this.synchronized {
      lastEvent = System.nanoTime()
      qe.tracker.phases.foreach { case (phase, s) =>
        bump(s"catalyst.${phase}_ms", s.durationMs.toDouble)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        lastEvent = System.nanoTime()
        bump("streaming.batches", 1)
        bump("streaming.batch_ms", e.progress.batchDuration.toDouble)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Waits until every started job has ended and no event arrived for a
    * quiet period, so counters and spans are complete. Listener buses are
    * asynchronous; this runs outside every timed window.
    */
  def drain(quietMs: Long = 150, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def running = synchronized(jobs.values.count(_.end < 0))
    while (System.nanoTime() < deadline &&
      (running > 0 || System.nanoTime() - lastEvent < quietMs * 1000000L))
      Thread.sleep(20)
  }

  def snapshot(): Map[String, Double] = synchronized {
    counters.toMap + ("storage.peak_bytes" -> storedPeak.toDouble)
  }

  /** Starts a new storage peak window at the current stored bytes. */
  def resetPeak(): Unit = synchronized { storedPeak = storedBytes }

  /** The spans under `root` (inclusive) plus one span per Spark job of
    * that subtree. A job's parent is the innermost span under its tag that
    * holds its start time (this narrows Pipeline.run to a medallion
    * stage); an untagged job is placed by start time alone.
    */
  def tree(root: Int): Seq[Span] = synchronized {
    val children = spans.groupBy(_.parent)
    def collect(id: Int): Seq[Span] =
      spans(id) +: children.getOrElse(id, Nil).toSeq.flatMap(s => collect(s.id))
    val sub = collect(root)
    val ids = sub.map(_.id).toSet
    val top = spans(root)
    val jobSpans = jobs.values.toSeq.flatMap { j =>
      val anchor =
        if (ids.contains(j.tag)) Some(j.tag)
        else if (j.tag < 0 && top.start <= j.start && j.start < top.end) Some(root)
        else None
      anchor.map { a =>
        val inner = sub.filter(s => s.start <= j.start && j.start < s.end &&
          isDescendant(s.id, a))
        val parent = if (inner.isEmpty) a else inner.maxBy(_.start).id
        Span(-2 - j.id, parent, s"job ${j.id}", JobLayer, j.start,
          if (j.end < 0) j.start else j.end, j.inputBytes)
      }
    }
    sub ++ jobSpans
  }

  private def isDescendant(id: Int, ancestor: Int): Boolean = {
    var cur = id
    while (cur >= 0 && cur != ancestor) cur = spans(cur).parent
    cur == ancestor
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
  val JobLayer = "spark_job"

  /** A span. Roots have parent -1; job spans have ids -2 - jobId, so they
    * never collide with benchmark spans or the root marker. `inputBytes`
    * is set on job spans only.
    */
  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        start: Long, end: Long, inputBytes: Double = 0.0)

  final case class Job(id: Int, tag: Int, start: Long, end: Long,
                       inputBytes: Double = 0.0)

  /** Self time per span of a tree: duration minus the union of its
    * children's intervals.
    */
  def selfTimes(tree: Seq[Span]): Map[Int, Long] = {
    val kids = tree.groupBy(_.parent)
    tree.map { s =>
      s.id -> Stats.selfTime(s.start, s.end,
        kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
    }.toMap
  }
}
