package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ListenerBusBridge
import scala.jdk.CollectionConverters._

/** What the query mains (Bench, Verify, Profile, PlanDump) share: which
  * queries run, the sweep between them, and the job ledger of a window.
  * Each main builds its session with `SessionTuning.local`.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** Scale-factor directory the mains read: `SPARK_GRAFT_SF_DIR`. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The queries to run, sorted by name. `only` is `SPARK_GRAFT_ONLY`'s
    * value: a comma list of name prefixes (`x06,s0` runs x06 and every
    * `s0*` query); unset runs all. A value that selects nothing throws and
    * names itself, so a typo never passes as an empty, all-green run.
    */
  def select(only: Option[String], queries: Map[String, Query] = SparkEntry.queries): Seq[(String, Query)] = {
    val all = queries.toSeq.sortBy(_._1)
    only.fold(all) { value =>
      val prefixes = value.split(",").map(_.trim).filter(_.nonEmpty)
      val picked = all.filter { case (name, _) => prefixes.exists(name.startsWith) }
      require(picked.nonEmpty, s"""SPARK_GRAFT_ONLY="$value" selects no query""")
      picked
    }
  }

  def selected: Seq[(String, Query)] = select(sys.env.get("SPARK_GRAFT_ONLY"))

  /** Clears catalog-cached tables and every persisted RDD before a query.
    * clearCache alone leaves the localCheckpoint blocks most queries make
    * in the block manager until a driver GC lets ContextCleaner reap them:
    * late-alphabet queries (x06 runs dead last) crept 0.52→1.73 s over
    * r12–r16 against 260+ queries' garbage while their ISOLATED minimums
    * held — suite position, not code, was the regression.
    *
    * INVARIANT this sweep imposes: no query may rely on a cached or
    * localCheckpointed frame SHARED ACROSS sweeps (e.g. an object-level
    * lazy val holding a checkpointed fixture). Checkpointed blocks are
    * unrecomputable — unpersisting one here would make a later query that
    * still references it fail mid-suite with a missing-block error, far
    * from this line. Every query today builds its frames inside its own
    * invocation; keep it that way, or scope any future shared fixture
    * OUTSIDE the block manager (re-read parquet, don't checkpoint-and-share).
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Runs `body` under a fresh [[Ledger]]: returns its result, the seconds
    * `body` took, and the ledger once the listener bus has delivered every
    * event of the window (the drain sits outside the timed span).
    */
  def window[T](spark: SparkSession)(body: => T): (T, Double, Ledger) = {
    val sc = spark.sparkContext
    val ledger = new Ledger
    sc.addSparkListener(ledger)
    try {
      val t0 = System.nanoTime()
      val out = body
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBusBridge.drain(sc)
      (out, sec, ledger)
    } finally sc.removeSparkListener(ledger)
  }

  /** One job; `desc` is its last stage's name, the action's call site
    * (e.g. "parquet at IvfIndex.scala:199"), and `stages` counts skipped
    * stages too.
    */
  final case class Job(id: Int, desc: String, ms: Long, stages: Int, tasks: Int)
  final case class Stage(job: Int, id: Int, name: String, ms: Long, tasks: Int,
      inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** Job ledger of one window: per job its description, ms, stages and
    * tasks; per completed stage its time, tasks and bytes; over the window
    * task run and GC time, the slowest task, shuffle read and write bytes
    * and spill bytes. Tells a GC stall from a straggler task from an
    * extra-stage replan, and heavy compute from forty 100 ms jobs.
    */
  final class Ledger extends SparkListener {
    private val runMs, gcMs, maxTaskMs, tasks, shuffleRead, shuffleWrite, spill = new AtomicLong()
    private val started = new ConcurrentHashMap[Int, SparkListenerJobStart]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()
    private val jobsDone = new ConcurrentLinkedQueue[(SparkListenerJobStart, Long)]()
    private val stagesDone = new ConcurrentLinkedQueue[Stage]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.put(e.jobId, e)
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      tasks.incrementAndGet()
      maxTaskMs.getAndUpdate(math.max(_, m.executorRunTime))
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = Option(si.taskMetrics)
      val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b).getOrElse(-1L)
      stagesDone.add(Stage(stageJob.getOrDefault(si.stageId, -1), si.stageId, si.name, ms, si.numTasks,
        m.fold(0L)(_.inputMetrics.bytesRead), m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
        m.fold(0L)(_.shuffleWriteMetrics.bytesWritten)))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(started.get(e.jobId)).foreach(s => jobsDone.add(s -> (e.time - s.time)))

    def stages: Seq[Stage] = stagesDone.asScala.toSeq.sortBy(_.id)

    /** Completed jobs by id; a job's tasks are those of its completed stages. */
    def jobs: Seq[Job] = {
      val tasksByJob = stages.groupMapReduce(_.job)(_.tasks)(_ + _)
      jobsDone.asScala.toSeq.sortBy(_._1.jobId).map { case (s, ms) =>
        Job(s.jobId, s.stageInfos.maxByOption(_.stageId).fold("?")(_.name), ms, s.stageIds.size,
          tasksByJob.getOrElse(s.jobId, 0))
      }
    }

    /** The window as one `bench_full.json` `rep_metrics` entry. */
    def json: String =
      s"""{"run_ms":$runMs,"gc_ms":$gcMs,"tasks":$tasks,"max_task_ms":$maxTaskMs,""" +
        s""""stages":${stagesDone.size},"jobs":${jobsDone.size},"shuffle_read_bytes":$shuffleRead,""" +
        s""""shuffle_write_bytes":$shuffleWrite,"spill_bytes":$spill}"""
  }
}
