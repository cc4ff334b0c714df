package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ingest.{KeyProvider, ObjectStore, ObjectStoreFactory}

/** One traced interval. Spans of one timed iteration share `iteration`;
  * `parent` is the id of the enclosing span (0 for an iteration span).
  */
final case class Span(id: Long, parent: Long, iteration: Int, name: String, startUs: Long, endUs: Long, detail: String)

/** In-memory span log, written out once when the run ends. */
object Trace {
  private val t0Nanos = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var enabled = false
  @volatile var iteration = 0
  @volatile var iterationSpan = 0L

  def nowUs(): Long = t0EpochUs + (System.nanoTime() - t0Nanos) / 1000L
  def nextId(): Long = ids.incrementAndGet()

  def add(parent: Long, name: String, startUs: Long, endUs: Long, detail: String): Unit =
    if (enabled) spans.add(Span(nextId(), parent, iteration, name, startUs, endUs, detail))

  /** Writes the spans as JSON lines; `parentOf` resolves placeholder parents. */
  def write(path: java.nio.file.Path, parentOf: Long => Long): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.forEach { s =>
      w.write(s"""{"id":${s.id},"parent":${parentOf(s.parent)},"iteration":${s.iteration},"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"detail":"${s.detail}"}""")
      w.newLine()
    }
    finally w.close()
  }
}

/** JVM-wide store counters. Tasks run in the driver JVM under `local[n]`,
  * so the factory's stores, created inside tasks, update these directly.
  */
object StoreCounters {
  val puts = new AtomicLong
  val attempts = new AtomicLong
  val putNanos = new AtomicLong
  val putBytes = new AtomicLong
  val metaBytes = new AtomicLong
  def snapshot(): Array[Long] = Array(puts.get, attempts.get, putNanos.get, putBytes.get, metaBytes.get)
}

/** Counting and timing store, passed as `IngestConfig.storeFactory` so it
  * sits under the library's retrying decorator: every retry is an attempt.
  */
final case class CountingStoreFactory(inner: ObjectStoreFactory) extends ObjectStoreFactory {
  override def create(): ObjectStore = new CountingStore(inner.create())
}

final class CountingStore(inner: ObjectStore) extends ObjectStore {
  override def put(key: String, data: Array[Byte], metadata: Map[String, String]): Unit = {
    StoreCounters.attempts.incrementAndGet()
    val start = Trace.nowUs()
    val t0 = System.nanoTime()
    inner.put(key, data, metadata)
    StoreCounters.putNanos.addAndGet(System.nanoTime() - t0)
    StoreCounters.puts.incrementAndGet()
    StoreCounters.putBytes.addAndGet(data.length.toLong)
    StoreCounters.metaBytes.addAndGet(metadata.iterator.map { case (k, v) => k.length + v.length }.sum.toLong)
    // Parent placeholder -(stage + 1): resolved to the stage's job span on write.
    val stage = Option(org.apache.spark.TaskContext.get()).map(_.stageId()).getOrElse(-1)
    Trace.add(-stage.toLong - 1, "ObjectStore.put", start, Trace.nowUs(), key)
  }
  override def listKeys(prefix: String): Seq[String] = inner.listKeys(prefix)
  override def get(key: String): Array[Byte] = inner.get(key)
  override def getMetadata(key: String): Map[String, String] = inner.getMetadata(key)
}

/** Static key that records when the driver fetches it: once per day in the
  * day loop and once per micro-batch in the stream.
  */
final class TimedKeyProvider(b64: String) extends KeyProvider {
  val fetchNanos = new ConcurrentLinkedQueue[java.lang.Long]()
  val fetches = new AtomicLong
  override def wrappingKeyB64(): String = { fetches.incrementAndGet(); fetchNanos.add(System.nanoTime()); b64 }
  def drain(): Seq[Long] = { val out = mutable.ArrayBuffer[Long](); var x = fetchNanos.poll(); while (x != null) { out += x; x = fetchNanos.poll() }; out.toSeq }
}

/** Micro-batch progress of streaming queries. Always registered: the
  * trigger durations feed the end-to-end batch latency.
  */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = progress.add(e)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def drain(): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val out = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    var x = progress.poll()
    while (x != null) { out += x.progress; x = progress.poll() }
    out.filter(_.numInputRows > 0).toSeq
  }
}

/** Scheduler counters per window (one timed iteration); registered in
  * the traced run only. Listener events arrive on one bus thread; the
  * benchmark drains the bus before it reads or swaps a window.
  */
final class SchedListener extends SparkListener {
  final class Window {
    var jobs, stages, tasks, runMs, waitMs, gcMs, maxTaskMs, shuffleBytes, spillBytes, batchJobs = 0L
    val batchIds = mutable.Set[String]()
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  @volatile var window = new Window
  private val jobStart = mutable.Map[Int, (Long, Long)]() // job -> (start ms, parent span)
  private val stageSubmitted = mutable.Map[Int, Long]()
  val stageToJobSpan = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val batch = Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
    batch.foreach { b => window.batchJobs += 1; window.batchIds += b }
    val spanId = Trace.nextId()
    jobStart(e.jobId) = (e.time, spanId)
    e.stageIds.foreach(s => stageToJobSpan.put(s, spanId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val w = window
    w.jobs += 1
    jobStart.remove(e.jobId).foreach { case (start, spanId) =>
      w.jobIntervals += ((start, e.time))
      if (Trace.enabled)
        Trace.spans.add(Span(spanId, Trace.iterationSpan, Trace.iteration, "spark.job", start * 1000L, e.time * 1000L, s"job ${e.jobId}"))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    window.stages += 1
    stageSubmitted.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = window
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.runMs += m.executorRunTime
      w.gcMs += m.jvmGCTime
      w.maxTaskMs = math.max(w.maxTaskMs, m.executorRunTime)
      w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageSubmitted.get(e.stageId).foreach(s => w.waitMs += math.max(0L, e.taskInfo.launchTime - s))
  }
}

object Bus {
  /** Block until every posted listener event has been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.waitUntilEmpty(spark.sparkContext)
}
