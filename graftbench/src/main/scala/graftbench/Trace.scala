package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Epoch-nanosecond wall clock with monotonic resolution, so op spans and
  * Spark's event times (epoch millis) share one time line.
  */
object Clock {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseMono = System.nanoTime()
  def now(): Long = baseEpochNs + (System.nanoTime() - baseMono)
}

/** One closed-loop operation of a workload (a micro-batch, a write round,
  * a read, a query). `window` is 0 for set-up and warm-up ops, else the
  * timed window the op ran in.
  */
final case class Op(id: Int, kind: String, start: Long, end: Long,
                    window: Int, ok: Boolean) {
  def seconds: Double = (end - start) / 1e9
}

/** A public call from the benchmark into one engine layer, inside an op. */
final case class Call(op: Int, name: String, layer: String, start: Long, end: Long)

/** Ops and calls of one run, kept in memory. Recording them costs a clock
  * read and an append, so it is always on; the Spark listener is what the
  * traced run adds.
  */
final class Recorder {
  val ops = ArrayBuffer.empty[Op]
  val calls = ArrayBuffer.empty[Call]
  var window = 0
  private var current = -1

  /** Time `body` as one op; a throwing op is recorded as failed and the
    * exception propagates.
    */
  def op[T](kind: String)(body: => T): T = {
    val id = ops.size
    current = id
    val start = Clock.now()
    var ok = false
    try { val r = body; ok = true; r }
    finally { ops += Op(id, kind, start, Clock.now(), window, ok); current = -1 }
  }

  def call[T](name: String, layer: String)(body: => T): T = {
    val start = Clock.now()
    try body finally calls += Call(current, name, layer, start, Clock.now())
  }

  /** Record a call whose interval was measured elsewhere (a streaming
    * trigger, from its progress record).
    */
  def addCall(c: Call): Unit = calls += c

  def opsIn(w: Int): Seq[Op] = ops.filter(_.window == w).toSeq
}

/** What the listener keeps per Spark job. */
final class JobRec(val id: Int, val start: Long, val name: String,
                   val frameLayer: Option[String], val checkpoint: Boolean) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var scanBytes = 0L
  var scanRecords = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L
  var outRecords = 0L
}

/** The traced run's SparkListener: per-job interval, call-site module, and
  * summed task metrics. Events arrive on Spark's listener thread; they are
  * read only after [[JobListener.drain]].
  */
final class JobListener extends SparkListener {
  val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, JobRec]
  /** Module of each SQL execution, from the call site that started it. */
  private val execLayer = scala.collection.mutable.HashMap.empty[String, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      JobListener.layerOf(s.details).foreach(execLayer(s.executionId.toString) = _)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val first = e.stageInfos.sortBy(_.stageId).headOption
    // jobs a query submits from Spark's own thread pools (broadcasts,
    // subqueries) carry no engine frame: they take their execution's module
    val exec = Option(e.properties).toSeq
      .flatMap(p => Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(k => Option(p.getProperty(k))))
    // a job that materializes (localCheckpoint, cache) computes an RDD
    // with a storage level; the stage name cannot tell, because streaming
    // pins every job's call site to where its query started
    val checkpoint = e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid))
    val rec = new JobRec(e.jobId, e.time * 1000000L, first.fold("")(_.name),
      first.flatMap(s => JobListener.layerOf(s.details))
        .orElse(exec.flatMap(execLayer.get).headOption), checkpoint)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach { j =>
      j.stages += 1
      j.tasks += e.stageInfo.numTasks
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.scanBytes += m.inputMetrics.bytesRead
      j.scanRecords += m.inputMetrics.recordsRead
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outBytes += m.outputMetrics.bytesWritten
      j.outRecords += m.outputMetrics.recordsWritten
    }

  def drain(sc: SparkContext): Unit = org.apache.spark.GraftBenchAccess.drainListeners(sc)
}

object JobListener {
  /** Engine packages that name a layer; other `graft.*` frames (the root
    * package's Queries and Tables) are the `queries` layer.
    */
  val Packages = Set("cdc", "streaming", "ops", "functions", "catalog",
    "validate", "plans", "core", "sources", "tools")

  /** Module of a job from Spark's long call site: the innermost `graft.*`
    * frame, mapped to its package. None when the call came straight from
    * the benchmark (the enclosing call span names the layer then).
    */
  def layerOf(details: String): Option[String] =
    Option(details).iterator.flatMap(_.linesIterator).map(_.trim)
      .collectFirst { case f if f.startsWith("graft.") =>
        val parts = f.takeWhile(_ != '(').split('.')
        if (parts.length > 2 && Packages(parts(1))) parts(1) else "queries"
      }
}

/** Which jobs belong to an op, and how much of the op they kept busy. */
object Attribution {
  /** Spark stamps job start and end in whole milliseconds. */
  val Ms = 1000000L

  /** A job belongs to the op whose interval contains its start: ops run
    * one at a time.
    */
  def jobsIn(op: Op, jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => j.end > 0 && j.start >= op.start - Ms && j.start <= op.end)

  def clip(j: JobRec, s: Long, e: Long): (Long, Long) =
    (math.max(j.start, s), math.min(math.max(j.end, j.start), e))

  /** Length of the union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = -1L; var curE = -1L
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Nanoseconds of `[s, e]` during which at least one of `jobs` ran. */
  def busy(jobs: Seq[JobRec], s: Long, e: Long): Long = union(jobs.map(clip(_, s, e)))
  def busy(op: Op, jobs: Seq[JobRec]): Long = busy(jobs, op.start, op.end)
}

/** Peak block-manager storage memory, polled on a daemon thread. Spark has
  * no pull API for the peak, and a poll sees what a user's monitor would.
  */
final class StorageSampler(sc: SparkContext) {
  @volatile private var running = true
  def used(): Long = sc.getExecutorMemoryStatus.values.map { case (max, rem) => max - rem }.sum
  @volatile var peak: Long = used()
  private val thread = new Thread(() => {
    while (running) {
      try { val u = used(); if (u > peak) peak = u } catch { case _: Throwable => () }
      Thread.sleep(20L)
    }
  }, "graftbench-storage-sampler")
  thread.setDaemon(true)
  thread.start()
  def stop(): Unit = { running = false; thread.join() }
}
