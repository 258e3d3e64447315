package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum => fsum}

/** The benchmark command:
  *
  * {{{ graftbench.Main --workload <cdc_lakehouse|analytics>
  *       --seed <n> --seconds <s> --trace <0|1> [--work <dir>] }}}
  *
  * One process, one closed-loop client, one task slot (`local[1]`) with the
  * partitioning of `local[N]`, N the core count.
  * Set-up (session, inputs staged three times into fresh roots, warm-up
  * until units stop getting faster) is timed as `setup_s`; then whole units
  * of work run until `--seconds` of engine time has passed. With
  * `--trace 1` a second timed window runs with the job listener on, and
  * the per-layer metrics come from that window. The last stdout line is
  * the result object; everything else goes to stderr.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(m.getOrElse("work", ".bench_work")).toAbsolutePath)
  }

  val Workloads = Seq("cdc_lakehouse", "analytics")
  /** Staging repetitions; `setup_s` counts their median. */
  val StageReps = 3
  /** After the workload's minimum number of units, warm-up ends when a
    * unit is not 3% faster than the best before it; no extra unit starts
    * after this many seconds. The minimum is a count, not a time, so a run
    * on a slow machine has run as many units before its window as one on a
    * fast machine.
    */
  val MaxWarmS = 26.0
  /** Tail latency percentile (see `op_tail_s`). */
  val TailPct = 90

  def log(s: String): Unit = System.err.println(s"[graftbench] $s")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val runDir = o.work.resolve(s"run-${ProcessHandle.current().pid()}")
    Workload.fresh(runDir)
    sys.props("graft.events.cache") = runDir.resolve("events-cache").toString
    // one task slot, with the shuffle and scan partitioning of local[nproc]:
    // the plans and tasks are those of local[nproc], run one at a time, so
    // load on the machine's other cores moves the figures far less (beside
    // two busy cores a four-slot analytics run slowed 2.2x, a one-slot 1.13x)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.Session.tuned(SparkSession.builder()
      .master("local[1]").appName("graftbench")
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft.warehouse", runDir.resolve("warehouse").toString),
      cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try {
      val result = run(o, spark, runDir, jvmStart)
      println(result._1)
      result._2
    } catch { case e: Throwable =>
      e.printStackTrace()
      2
    } finally {
      spark.stop()
      Workload.deleteTree(runDir)
    }
    sys.exit(code)
  }

  def run(o: Opts, spark: SparkSession, runDir: Path, jvmStart: Long): (String, Int) = {
    val sessionS = (Clock.now() - jvmStart) / 1e9
    val rec = new Recorder
    val w: Workload = o.workload match {
      case "cdc_lakehouse" => new CdcLakehouse(spark, rec, runDir, o.seed)
      case "analytics" => new Analytics(spark, rec, runDir, o.seed)
    }
    val calStart = if (o.trace) calibration(spark) else 0.0
    val stageS = (1 to StageReps).map { rep =>
      val t = Clock.now(); w.stage(rep); (Clock.now() - t) / 1e9
    }
    // warm-up: whole units until they stop getting faster. A traced run
    // does the minimum only, so that its counts repeat exactly
    val warm = mutable.ArrayBuffer.empty[Double]
    var warmS = 0.0
    def warmMore: Boolean = warm.size < w.minWarmUnits ||
      (!o.trace && warmS < MaxWarmS && warm.last < 0.97 * warm.init.min)
    while (warmMore) {
      w.prepare()
      val t = Clock.now(); warm += w.unit(); warmS += (Clock.now() - t) / 1e9
    }
    val setupS = sessionS + Workload.median(stageS) + warmS
    log(f"setup: session $sessionS%.2fs, staging ${stageS.map(s => f"$s%.2f").mkString(",")}s, " +
      s"warm-up units ${warm.map(s => f"$s%.2f").mkString(",")}s")

    val traced = if (o.trace) Some(tracedWindows(o, spark, rec, w, runDir, calStart)) else None
    val wall1 = if (o.trace) 0.0 else window(rec, w, 1, o.seconds)
    val ops1 = rec.opsIn(1)
    val lat = ops1.map(_.seconds).sorted
    val (p50, tail) = (Workload.median(lat), percentile(lat, TailPct))
    if (!o.trace) log(f"window 1: ${ops1.size} ops in $wall1%.2fs, p50 $p50%.4fs, " +
      f"p$TailPct $tail%.4fs over ${lat.size} samples")
    if (!o.trace && w.summary(ops1).nonEmpty) log(w.summary(ops1))

    val checks = w.check()
    checks.filterNot(_.ok).foreach(c => log(s"CHECK FAILED ${c.name}: ${c.detail}"))
    val bytes = w.roots.map(treeBytes).sum
    val live = w.liveRows
    val opsAll = rec.ops.filter(_.window > 0)
    val failed = opsAll.count(!_.ok) + checks.count(!_.ok)
    val attempted = opsAll.size + checks.size
    val metrics: Seq[(String, Double, String)] = traced.getOrElse(Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", ops1.size / wall1, "1/s"),
      ("op_p50_s", p50, "s"),
      ("op_tail_s", tail, "s"),
      ("stored_bytes_per_row", bytes.toDouble / live.max(1), "B/row")))
    val correct = failed == 0
    log(f"checked at ${(Clock.now() - jvmStart) / 1e9}%.1fs after JVM start")
    val json = s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
        .mkString(",") + "}}"
    (json, if (correct) 0 else 1)
  }

  /** Units a workload needs for about `seconds` of work, in whole cycles. */
  def unitsFor(w: Workload, seconds: Double): Int =
    math.max(1, math.round(seconds / (w.nominalUnitS * w.cycle)).toInt) * w.cycle

  /** Run whole cycles of units until `seconds` of unit time has passed, so
    * every window sees the same op mix; or exactly `fixedUnits` units.
    */
  def window(rec: Recorder, w: Workload, n: Int, seconds: Int, fixedUnits: Int = 0): Double = {
    w.startWindow()
    rec.window = n
    var busy = 0L
    var done = 0
    def more = if (fixedUnits > 0) done < fixedUnits
      else busy < seconds * 1000000000L || done % w.cycle != 0
    while (more) {
      w.prepare()
      val t = Clock.now(); w.unit(); busy += Clock.now() - t
      done += 1
    }
    rec.window = 0
    busy / 1e9
  }

  def percentile(sorted: Seq[Double], p: Int): Double =
    if (sorted.isEmpty) 0.0
    else sorted(math.min(sorted.size - 1, math.ceil(p / 100.0 * sorted.size).toInt - 1).max(0))

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum finally s.close()
  }

  /** The fixed no-I/O probe: a control for machine drift that no engine
    * change should move. Median of three after one untimed run.
    */
  def calibration(spark: SparkSession): Double = {
    def once(): Double = {
      val t = Clock.now()
      spark.range(0, 20000000L, 1, spark.sparkContext.defaultParallelism)
        .select(fsum(col("id") % 7), fsum(col("id") * 3 % 11))
        .write.format("noop").mode("overwrite").save()
      (Clock.now() - t) / 1e9
    }
    once()
    Workload.median(Seq(once(), once(), once()))
  }

  /** File identity and size under a root, for filesystem deltas: a hard
    * link into a new snapshot is not a new file.
    */
  def inodes(p: Path): Map[Any, (Boolean, Long)] = if (!Files.exists(p)) Map.empty else {
    val s = Files.walk(p)
    try {
      val out = mutable.HashMap.empty[Any, (Boolean, Long)]
      s.filter(Files.isRegularFile(_)).forEach { f =>
        out(Files.getAttribute(f, "unix:ino")) = (f.toString.endsWith(".parquet"), Files.size(f))
      }
      out.toMap
    } finally s.close()
  }

  /** The traced window, a fixed number of units with the job listener on,
    * then the same number untraced for the overhead ratio. Returns the
    * per-layer metrics, and writes the spans of the run under the work dir.
    */
  def tracedWindows(o: Opts, spark: SparkSession, rec: Recorder, w: Workload,
                    runDir: Path, calStart: Double): Seq[(String, Double, String)] = {
    val sc = spark.sparkContext
    val units = unitsFor(w, o.seconds)
    val listener = new JobListener
    sc.addSparkListener(listener)
    val sampler = new StorageSampler(sc)
    val mainRoot = w.roots.head
    val before = w.roots.flatMap(inodes).toMap
    val storageBefore = sampler.used()
    val wall2 = window(rec, w, 2, o.seconds, units)
    sampler.stop()
    listener.drain(sc)
    sc.removeSparkListener(listener)
    val storageLeft = (sampler.used() - storageBefore) / 1048576.0
    val peakMb = sampler.peak / 1048576.0
    val after = w.roots.flatMap(inodes).toMap
    val ops = rec.opsIn(2)
    val n = ops.size.max(1).toDouble
    val calls: Map[Int, Seq[Call]] =
      rec.calls.toSeq.filter(c => ops.exists(_.id == c.op)).groupBy(_.op)
    val jobs = listener.jobs.values.toSeq
    def layerAt(j: JobRec): String = j.frameLayer.getOrElse(
      rec.calls.reverseIterator.find(c => c.start <= j.start && j.start <= c.end)
        .map(_.layer).getOrElse("bench"))
    val opJobs: Map[Int, Seq[JobRec]] =
      ops.map(op => op.id -> Attribution.jobsIn(op, jobs)).toMap
    val busy = ops.map(op => Attribution.busy(op, opJobs(op.id))).sum / 1e9
    val opTime = ops.map(_.seconds).sum
    // calls nest (a trigger inside drainAvailableRaw), so call self time is
    // the union of an op's call intervals less the job time inside it
    val callSelf = ops.map { op =>
      val cs = calls.getOrElse(op.id, Seq.empty[Call])
      Attribution.union(cs.map(c => (c.start, c.end))) - Attribution.union(
        for (c <- cs; j <- opJobs(op.id)) yield Attribution.clip(j, c.start, c.end))
    }.sum / 1e9
    val opSelf = ops.map(op => (op.end - op.start) - Attribution.union(
      calls.getOrElse(op.id, Seq.empty[Call]).map(c => (c.start, c.end)))).sum / 1e9
    val js = ops.flatMap(op => opJobs(op.id))
    def tot(f: JobRec => Double): Double = js.map(f).sum / n
    val byLayer = js.groupBy(layerAt)
    val layerMetrics = Seq("cdc", "streaming", "ops", "catalog", "validate", "queries")
      .flatMap { l =>
        val lj = byLayer.getOrElse(l, Nil)
        Seq((s"$l.job_s", lj.map(j => (j.end - j.start) / 1e9).sum / n, "s"),
          (s"$l.jobs", lj.size / n, "count"))
      }
    val cp = js.filter(_.checkpoint)
    val commits = ops.count(_.kind == "batch").max(1)
    val added = after.filter { case (ino, _) => !before.contains(ino) }.values
    val payload = w.payloadBytes(ops)
    val outBytes = js.map(_.outBytes).sum.toDouble
    val (versions, retainedMb) = snapshotRetention(mainRoot)
    val pointOps = ops.filter(_.kind == "point")
    val pointRows = pointOps.size.toDouble * CdcLakehouse.LookupKeys
    val calEnd = calibration(spark)
    val spanFile = writeSpans(o, runDir, rec, ops, opJobs, layerAt)
    log(s"spans written to $spanFile")
    val wall1 = window(rec, w, 1, o.seconds, units)
    val nOps1 = rec.opsIn(1).size
    val overhead = if (ops.isEmpty) 0.0 else (wall2 / ops.size) / (wall1 / nOps1.max(1))
    val core = Seq(
      ("driver.busy_s", busy / n, "s"), ("driver.gap_s", (opTime - busy) / n, "s"),
      ("driver.jobs", js.size / n, "count"), ("driver.stages", tot(_.stages), "count"),
      ("driver.tasks", tot(_.tasks), "count"),
      ("exec.run_s", tot(_.runMs / 1e3), "s"), ("exec.cpu_s", tot(_.cpuNs / 1e9), "s"),
      ("exec.gc_s", tot(_.gcMs / 1e3), "s"),
      ("scan.bytes", tot(_.scanBytes), "B"), ("scan.records", tot(_.scanRecords), "count"),
      ("shuffle.read_bytes", tot(_.shuffleRead), "B"),
      ("shuffle.write_bytes", tot(_.shuffleWrite), "B"),
      ("spill.bytes", tot(_.spill), "B"),
      ("output.bytes", tot(_.outBytes), "B"), ("output.records", tot(_.outRecords), "count"),
      ("self.op_s", opSelf / n, "s"), ("self.call_s", callSelf / n, "s"),
      ("self.job_s", busy / n, "s"),
      ("materialize.jobs", cp.size / n, "count"),
      ("materialize.job_s", cp.map(j => (j.end - j.start) / 1e9).sum / n, "s"),
      ("materialize.storage_left_mb", storageLeft, "MB"),
      ("materialize.storage_peak_mb", peakMb, "MB"),
      ("cdc.data_files_per_commit", added.count(_._1).toDouble / commits, "count"),
      ("cdc.control_files_per_commit", added.count(!_._1).toDouble / commits, "count"),
      ("cdc.bytes_per_commit", added.map(_._2).sum.toDouble / commits, "B"),
      ("cdc.write_amp", if (payload > 0) outBytes / payload else 0.0, "ratio"),
      ("cdc.versions", versions.toDouble, "count"),
      ("cdc.retained_mb", retainedMb, "MB"),
      ("catalog.rows_scanned_per_returned",
        if (pointOps.isEmpty) 0.0
        else pointOps.flatMap(op => opJobs(op.id)).map(_.scanRecords).sum / pointRows, "ratio"),
      ("queries.build_s", Workload.median(rec.calls.filter(c =>
        c.layer == "queries" && c.name.startsWith("Queries.") && ops.exists(_.id == c.op))
        .map(c => (c.end - c.start) / 1e9).toSeq), "s"),
      ("env.calibration_s", (calStart + calEnd) / 2, "s"),
      ("trace.overhead_ratio", overhead, "ratio"))
    val specific = w.layerMetrics(ops)
    val all = core ++ layerMetrics
    val names = PerLayer.map(_._1)
    names.map { k =>
      all.find(_._1 == k).orElse(specific.get(k).map(v => (k, v, PerLayer.toMap.apply(k))))
        .getOrElse((k, 0.0, PerLayer.toMap.apply(k)))
    }
  }

  /** Snapshot count of a table root, and MB held only by older snapshots. */
  def snapshotRetention(root: Path): (Int, Double) = {
    if (!Files.exists(root)) return (0, 0.0)
    val cur = Paths.get(root.toString, "_latest")
    val current = if (Files.exists(cur)) s"v${Files.readString(cur).trim}" else ""
    val dirs = scala.util.Using.resource(Files.list(root))(
      _.toArray.toSeq.map(_.asInstanceOf[Path]))
      .filter(d => Files.isDirectory(d) && d.getFileName.toString.matches("v\\d+"))
    val live = dirs.find(_.getFileName.toString == current).map(inodes).getOrElse(Map.empty)
    val old = dirs.filterNot(_.getFileName.toString == current).flatMap(inodes).toMap
    (dirs.size, old.filter { case (i, _) => !live.contains(i) }.values.map(_._2).sum / 1048576.0)
  }

  /** Spans of the traced window as JSON lines: workload → op → call → job. */
  def writeSpans(o: Opts, runDir: Path, rec: Recorder, ops: Seq[Op],
                 opJobs: Map[Int, Seq[JobRec]], layerAt: JobRec => String): Path = {
    val dir = Files.createDirectories(runDir.getParent.resolve("traces"))
    val runId = s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}"
    val out = dir.resolve(s"$runId.jsonl")
    val lines = mutable.ArrayBuffer.empty[String]
    def span(id: String, parent: String, level: String, name: String, layer: String,
             s: Long, e: Long): Unit =
      lines += s"""{"run":"$runId","span":"$id","parent":"$parent","level":"$level",""" +
        s""""name":"$name","layer":"$layer","start_ns":$s,"end_ns":$e}"""
    if (ops.nonEmpty) span("w", "", "workload", o.workload, "bench",
      ops.map(_.start).min, ops.map(_.end).max)
    ops.foreach { op =>
      span(s"o${op.id}", "w", "op", op.kind, "bench", op.start, op.end)
      val cs = rec.calls.filter(_.op == op.id).toSeq.zipWithIndex
      // a span's parent is the shortest call of the op that contains it
      def parent(s: Long, e: Long, self: Int): String = cs
        .filter { case (c, k) => k != self && c.start <= s && e <= c.end &&
          (c.end - c.start) > (e - s) }
        .sortBy { case (c, _) => c.end - c.start }.headOption
        .fold(s"o${op.id}") { case (_, k) => s"c${op.id}.$k" }
      cs.foreach { case (c, k) =>
        span(s"c${op.id}.$k", parent(c.start, c.end, k), "call", c.name, c.layer, c.start, c.end)
      }
      opJobs(op.id).foreach(j => span(s"j${j.id}", parent(j.start, j.start, -1), "job",
        s"job ${j.id}", layerAt(j), j.start, j.end))
    }
    Files.write(out, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    out
  }

  /** Every per-layer metric the traced run prints, with its unit; a
    * metric a workload does not exercise reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "driver.busy_s" -> "s", "driver.gap_s" -> "s", "driver.jobs" -> "count",
    "driver.stages" -> "count", "driver.tasks" -> "count",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "scan.bytes" -> "B", "scan.records" -> "count",
    "shuffle.read_bytes" -> "B", "shuffle.write_bytes" -> "B", "spill.bytes" -> "B",
    "output.bytes" -> "B", "output.records" -> "count",
    "self.op_s" -> "s", "self.call_s" -> "s", "self.job_s" -> "s",
    "cdc.job_s" -> "s", "cdc.jobs" -> "count",
    "streaming.job_s" -> "s", "streaming.jobs" -> "count",
    "ops.job_s" -> "s", "ops.jobs" -> "count",
    "catalog.job_s" -> "s", "catalog.jobs" -> "count",
    "validate.job_s" -> "s", "validate.jobs" -> "count",
    "queries.job_s" -> "s", "queries.jobs" -> "count",
    "materialize.jobs" -> "count", "materialize.job_s" -> "s",
    "materialize.storage_left_mb" -> "MB", "materialize.storage_peak_mb" -> "MB",
    "streaming.start_stop_s" -> "s", "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.offset_commit_s" -> "s",
    "streaming.latest_offset_s" -> "s", "streaming.planning_s" -> "s",
    "cdc.rows_in" -> "count", "cdc.malformed" -> "count",
    "cdc.data_files_per_commit" -> "count", "cdc.control_files_per_commit" -> "count",
    "cdc.bytes_per_commit" -> "B", "cdc.write_amp" -> "ratio",
    "cdc.versions" -> "count", "cdc.retained_mb" -> "MB",
    "catalog.point_s" -> "s", "catalog.range_s" -> "s",
    "catalog.asof_s" -> "s", "catalog.changes_s" -> "s",
    "catalog.rows_scanned_per_returned" -> "ratio",
    "validate.maintain_s" -> "s", "validate.bytes_rewritten" -> "B",
    "validate.files_before" -> "count", "validate.files_after" -> "count",
    "queries.build_s" -> "s",
    "family.tpch_s" -> "s", "family.cdc_s" -> "s", "family.join_s" -> "s",
    "family.text_s" -> "s", "family.dedup_s" -> "s", "family.retrieval_s" -> "s",
    "family.sampling_s" -> "s",
    "env.calibration_s" -> "s", "trace.overhead_ratio" -> "ratio")
}
