package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Process-wide counters read at span boundaries: Spark's codegen and
  * file-catalog instrumentation. Both are JVM-global, so under
  * concurrent clients a span's delta also holds the other client's
  * work; window totals are exact. */
final case class Counters(compiles: Long, compileNs: Long,
    filesDiscovered: Long, fileCacheHits: Long) {
  def -(o: Counters): Counters = Counters(compiles - o.compiles,
    compileNs - o.compileNs, filesDiscovered - o.filesDiscovered,
    fileCacheHits - o.fileCacheHits)
}

object Counters {
  def now(): Counters = Counters(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime,
    HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
    HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount)
}

/** One timed call into a layer. `parent` is -1 for a request root. */
final case class Span(id: Long, parent: Long, req: String, layer: String,
    startNs: Long, endNs: Long, delta: Counters)

/** Spans around the benchmark's calls into graft's layers. Disabled,
  * `span` only runs its body: the untraced run pays one branch per
  * call. Enabled, each span records its wall time and counter deltas,
  * and tags the calling thread's Spark jobs with the span id through
  * a local property so the [[JobListener]] can attribute them. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  // (span id, request id, local-property value) of the open span
  private val current = new ThreadLocal[(Long, String, String)]

  def span[T](layer: String, req: String = null)(body: => T): T =
    if (!enabled) body else {
      val id = ids.incrementAndGet()
      val outer = current.get()
      val parent = if (outer == null) -1L else outer._1
      val reqId = if (req != null) req else if (outer == null) "" else outer._2
      val prop = s"$id:$layer:$reqId"
      current.set((id, reqId, prop))
      sc.setLocalProperty(Tracer.SpanKey, prop)
      val c0 = Counters.now()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, parent, reqId, layer, t0, t1, Counters.now() - c0))
        current.set(outer)
        sc.setLocalProperty(Tracer.SpanKey,
          if (outer == null) null else outer._3)
      }
    }

  def all: Seq[Span] = {
    val b = ArrayBuffer.empty[Span]
    spans.forEach(s => b += s)
    b.toSeq.sortBy(_.id)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** Span value of the marker job that drains the listener bus. */
  val Drain = "drain"
}

/** Per-job totals from Spark's listener bus. Jobs carry the submitting
  * span's id (a local property), so attribution stays exact with
  * concurrent clients. */
final class JobRec(val id: Int, val span: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskFailures = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val outputBytes = new AtomicLong
  val outputRecords = new AtomicLong
  val blocks = new AtomicLong
  val blockBytes = new AtomicLong
}

/** Records the jobs of traced requests (those carrying a span) with
  * their stage, task and checkpoint-block totals. A job tagged
  * [[Tracer.Drain]] is a marker: the bus delivers events in order, so
  * once its end arrives every earlier event has been seen. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, Int]
  private val rddJob = new ConcurrentHashMap[Int, Int]
  private val drains = new java.util.concurrent.Semaphore(0)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .filter(_ != Tracer.Drain).foreach { span =>
        jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)) match {
      case Some(j) => j.endMs = e.time
      case None => drains.release()
    }

  /** Waits until the marker job submitted after a window has ended. */
  def awaitDrain(): Unit =
    if (!drains.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain")

  private def job(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j =>
      e.stageInfo.rddInfos.foreach(r => rddJob.put(r.id, j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    job(e.stageId).foreach { j =>
      j.tasks.incrementAndGet()
      if (e.reason != Success) j.taskFailures.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        j.runMs.addAndGet(m.executorRunTime)
        j.cpuNs.addAndGet(m.executorCpuTime)
        j.gcMs.addAndGet(m.jvmGCTime)
        j.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        j.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        j.inputRecords.addAndGet(m.inputMetrics.recordsRead)
        j.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
        j.outputRecords.addAndGet(m.outputMetrics.recordsWritten)
      }
    }

  /** Checkpoint blocks: `graft.Ckpt` local checkpoints land as RDD
    * blocks in the block manager; a stored (valid level) update counts
    * one block and its size, for the job whose stage computed the RDD. */
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.storageLevel.isValid) b.blockId.asRDDId.foreach { id =>
      Option(rddJob.get(id.rddId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.blocks.incrementAndGet()
        j.blockBytes.addAndGet(b.memSize + b.diskSize)
      }
    }
  }
}
