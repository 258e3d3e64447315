package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.KeyedParquetTable
import graft.validate.Validation

/** A named correctness check and what it compared. */
final case class Check(name: String, ok: Boolean, detail: String)

/** One closed-loop, single-client workload. The driver calls [[stage]]
  * (several times, into fresh roots; the last copy is used), then repeats
  * [[prepare]] + [[unit]] through warm-up and the timed windows, then
  * [[check]]. Every [[cycle]] units the op mix repeats exactly, so per-op
  * counts over whole cycles repeat whatever the number of cycles.
  */
trait Workload {
  def cycle: Int = 1
  /** Units warm-up runs at the least, whatever their time. */
  def minWarmUnits: Int
  /** A warm unit's usual time; sizes the fixed work of a traced run. */
  def nominalUnitS: Double
  /** Called before each timed window, which runs whole cycles from here. */
  def startWindow(): Unit = ()
  def stage(rep: Int): Unit
  /** Untimed input generation for the next unit. */
  def prepare(): Unit = ()
  /** Run one unit; returns the seconds warm-up compares from unit to unit
    * (the unit's time without the work only some units of a cycle do).
    */
  def unit(): Double
  def check(): Seq[Check]
  /** Directories holding the workload's tables at the end. */
  def roots: Seq[Path]
  def liveRows: Long
  /** Workload-specific per-layer metrics over the timed ops. */
  def layerMetrics(timed: Seq[Op]): Map[String, Double] = Map.empty
  /** A line for the run log on how the timed ops split. */
  def summary(timed: Seq[Op]): String = ""
  /** Envelope bytes of the changes the timed ops committed. */
  def payloadBytes(timed: Seq[Op]): Long = 0L
}

object Workload {
  val ItemCols: Seq[String] = Seq("id", "name", "description", "price", "on_offer")

  val itemSchema: StructType = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType),
    StructField("description", StringType), StructField("price", IntegerType),
    StructField("on_offer", BooleanType), StructField("seq", LongType)))

  def itemsFrame(spark: SparkSession, items: Iterable[Item]): DataFrame = {
    val rows = new java.util.ArrayList[Row](items.size)
    items.foreach(i => rows.add(Row(i.id, i.name, i.description, i.price, i.onOffer, i.seq)))
    spark.createDataFrame(rows, itemSchema)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.deleteIfExists(_))
    finally s.close()
  }

  def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  /** The final table equals the independent fold of the generated stream:
    * same row count, same checksum over the reference validation's columns.
    */
  def foldChecks(spark: SparkSession, gen: ItemsGen, table: DataFrame): Seq[Check] = {
    val expected = itemsFrame(spark, gen.live).select(ItemCols.map(col): _*)
    val actual = table.select(ItemCols.map(col): _*)
    val rc = Validation.rowCount(expected, actual, tolerance = 0.0)
    val cs = Validation.checksum(expected, actual, ItemCols)
    Seq(Check("fold_row_count", rc.valid, rc.details.toString),
      Check("fold_checksum", cs.valid, cs.details.toString))
  }
}

/** CDC stream ingest into a catalog table, read back through SQL.
  *
  * Each unit drains one small micro-batch of `items` envelopes through
  * `Ingest.drainAvailableRaw` (parse, dead-letter split, dedup-to-latest,
  * bucket-scoped merge, lineage), then runs a fixed read mix through
  * `spark.sql` on the same table: key lookups of ids just written, a
  * price-range aggregate, and `count(*)` `VERSION AS OF` the snapshot
  * before the unit. Every third unit also reads `.changes` of the last
  * commit and runs `Validation.autoMaintain`. Small batches make the
  * per-commit floor most of a batch's time; the reads show a commit change
  * that leaves more files or weaker pruning behind.
  */
final class CdcLakehouse(spark: SparkSession, rec: Recorder, work: Path, seed: Long)
    extends Workload {
  import Workload._
  val PreloadRows = 20000
  val BatchRows = 500
  /** Every third unit also reads `.changes` and runs maintenance, and
    * every third batch carries one malformed envelope.
    */
  override val cycle = 3
  /** The first unit runs cold at about 2.5x a warm one; the second is
    * within a few percent of the rest.
    */
  val minWarmUnits = 3
  val nominalUnitS = 4.0

  private var gen: ItemsGen = _
  private var root: Path = _
  private var table: String = _
  private var items: KeyedParquetTable = _
  private var lineage: KeyedParquetTable = _
  private var deadLetter: KeyedParquetTable = _
  private var baseMillis = 0L
  private var batchesWritten = 0
  private var linesWritten = 0L
  private var units = 0
  private var unitChanges = Seq.empty[Change]
  private var liveBefore = 0L
  private val metrics = ArrayBuffer.empty[graft.streaming.Ingest.RawBatchMetrics]
  /** Progress record of every micro-batch op, in batch order. */
  private val progress =
    ArrayBuffer.empty[(Op, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  private val batchPayload = ArrayBuffer.empty[Long]
  private val readFailures = ArrayBuffer.empty[String]
  /** (op id, files before, files after, bytes written) per maintenance op. */
  private val maintenance = ArrayBuffer.empty[(Int, Long, Long, Long)]

  private def catalog = spark.sessionState.catalogManager.catalog("graft")
    .asInstanceOf[graft.catalog.GraftCatalog]

  def stage(rep: Int): Unit = {
    root = fresh(work.resolve(s"cdc_lakehouse-$rep"))
    gen = new ItemsGen(seed, PreloadRows)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.lake$rep")
    table = s"graft.lake$rep.items"
    spark.sql(s"""CREATE TABLE $table (id INT, name STRING, description STRING,
      price INT, on_offer BOOLEAN, seq BIGINT) PARTITIONED BY (bucket(16, id))
      TBLPROPERTIES ('graft.keys'='id', 'graft.statsCols'='price')""")
    items = catalog.tableFor(Identifier.of(Array(s"lake$rep"), "items"))
    items.commit(itemsFrame(spark, gen.preload))
    lineage = new KeyedParquetTable(spark, root.resolve("lineage").toString,
      Seq("batch_id"), Nil, 8)
    deadLetter = new KeyedParquetTable(spark, root.resolve("dead_letter").toString,
      Seq("raw_value"))
    Files.createDirectories(root.resolve("source"))
    baseMillis = System.currentTimeMillis()
  }

  override def prepare(): Unit = {
    liveBefore = gen.live.size.toLong
    val b = gen.nextBatch(BatchRows, malformedEvery = cycle)
    ItemsGen.writeBatch(root.resolve("source"), b, baseMillis)
    batchesWritten += 1
    linesWritten += b.lines.size
    batchPayload += b.payloadBytes
    unitChanges = b.changes
  }

  def unit(): Double = {
    val t = Clock.now()
    val before = items.currentVersion
    drain()
    reads(before)
    val steady = (Clock.now() - t) / 1e9
    units += 1
    if (units % cycle == 0) {
      changes()
      maintain()
    }
    steady
  }

  /** Windows end right after a maintenance unit, so the stored bytes at
    * the end do not depend on where warm-up stopped.
    */
  override def startWindow(): Unit = units = 0

  private def changes(): Unit = {
    val v = items.currentVersion
    val ch = rec.op("changes")(rec.call("spark.read changes", "catalog")(
      spark.read.option("fromVersion", (v - 1).toString).option("toVersion", v.toString)
        .table(s"$table.changes").count()))
    verify(ch > 0, s"changes v${v - 1}..v$v gave $ch rows")
  }

  /** One micro-batch op: the whole `drainAvailableRaw` call, which starts
    * an AvailableNow query over the source directory, runs its one trigger
    * (one new file) and stops. The trigger and its `addBatch` phase, from
    * the query's progress record, are child spans of the call.
    */
  private def drain(): Unit = {
    val q = rec.op("batch") {
      val raw = spark.readStream.option("maxFilesPerTrigger", 1)
        .text(root.resolve("source").toString)
        .select(substring_index(col("value"), "\t", 1).cast("long").as("seq"),
          expr("substring(value, instr(value, '\t') + 1)").as("value"))
      rec.call("Ingest.drainAvailableRaw", "streaming") {
        val q = graft.streaming.Ingest.drainAvailableRaw(raw, items, Seq(col("seq").desc),
          root.resolve("checkpoint").toString, Some(lineage), Some(deadLetter),
          onMetrics = m => metrics.synchronized { metrics += m })
        q.awaitTermination()
        q
      }
    }
    q.exception.foreach(e => throw e)
    val op = rec.ops.last
    q.recentProgress.filter(_.numInputRows > 0).foreach { p =>
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      rec.addCall(Call(op.id, "trigger", "streaming", start,
        start + ms("triggerExecution") * 1000000L))
      // the phases run in this order inside a trigger
      val applyStart = start + (ms("latestOffset") + ms("walCommit") + ms("getBatch") +
        ms("queryPlanning")) * 1000000L
      rec.addCall(Call(op.id, "Ingest.applyRawBatch", "streaming", applyStart,
        applyStart + ms("addBatch") * 1000000L))
      progress += op -> p
    }
  }

  private def sql(kind: String, text: String): Array[Row] =
    rec.op(kind)(rec.call(s"spark.sql $kind", "catalog")(spark.sql(text).collect()))

  private def verify(ok: Boolean, detail: => String): Unit =
    if (!ok) readFailures += s"unit $units: $detail"

  private def reads(before: Long): Unit = {
    val live = gen.liveMap
    val written = unitChanges.filterNot(_.deleted).map(_.item.id).distinct
      .filter(live.contains).take(CdcLakehouse.LookupKeys)
    val got = sql("point", s"SELECT id, name, description, price, on_offer FROM $table " +
      s"WHERE id IN (${written.mkString(",")})")
      .map(r => r.getInt(0) -> ((r.getString(1), r.getString(2), r.getInt(3), r.getBoolean(4))))
      .toMap
    verify(written.forall { id =>
      val i = live(id); got.get(id).contains((i.name, i.description, i.price, i.onOffer))
    }, s"point lookup of $written gave $got")
    val lo = 100 + (units * 7919) % 90000
    val hi = lo + 5000
    val range = sql("range", s"SELECT count(*), sum(price) FROM $table " +
      s"WHERE price BETWEEN $lo AND $hi").head
    val inRange = live.valuesIterator.filter(i => i.price >= lo && i.price <= hi)
      .map(_.price.toLong).toSeq
    verify(range.getLong(0) == inRange.size &&
      (inRange.isEmpty || range.getLong(1) == inRange.sum),
      s"range [$lo, $hi] gave $range, expected ${inRange.size} rows")
    val asof = sql("asof", s"SELECT count(*) FROM $table VERSION AS OF $before").head.getLong(0)
    verify(asof == liveBefore, s"count as of v$before gave $asof, expected $liveBefore")
  }

  private def maintain(): Unit = {
    val fb = dataFiles()
    rec.op("maintain")(rec.call("Validation.autoMaintain", "validate")(
      Validation.autoMaintain(items)))
    val op = rec.ops.last
    val s = Files.walk(Paths.get(items.root))
    val written = try s.filter(p => p.toString.endsWith(".parquet") &&
        Files.getLastModifiedTime(p).toMillis * 1000000L >= op.start)
      .mapToLong(Files.size(_)).sum finally s.close()
    maintenance += ((op.id, fb, dataFiles(), written))
  }

  /** Data files of the current snapshot. */
  private def dataFiles(): Long = {
    val s = Files.walk(Paths.get(items.root, s"v${items.currentVersion}"))
    try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
  }

  def check(): Seq[Check] = {
    val lin = lineage.read()
    val perBatch = lin.groupBy("batch_id").count()
    val dl = deadLetter.read().count()
    val (nRaw, nMal) = metrics.synchronized(
      (metrics.map(_.n_raw).sum, metrics.map(_.n_malformed).sum))
    foldChecks(spark, gen, items.read()) ++ Seq(
      Check("lineage_one_row_per_batch",
        perBatch.count() == batchesWritten && perBatch.filter(col("count") =!= 1).isEmpty,
        s"batches=$batchesWritten lineage_rows=${lin.count()}"),
      Check("dead_letter_count", dl == gen.malformedInjected && nMal == gen.malformedInjected,
        s"injected=${gen.malformedInjected} dead_letter=$dl observed=$nMal"),
      Check("rows_in", nRaw == linesWritten, s"written=$linesWritten observed=$nRaw"),
      Check("reads", readFailures.isEmpty, readFailures.take(3).mkString("; ")))
  }

  def roots: Seq[Path] = Seq(Paths.get(items.root), root.resolve("lineage"),
    root.resolve("dead_letter"))
  def liveRows: Long = gen.live.size.toLong

  override def payloadBytes(timed: Seq[Op]): Long = {
    val ids = timed.map(_.id).toSet
    progress.zipWithIndex.collect { case ((o, _), k) if ids(o.id) => batchPayload(k) }.sum
  }

  override def layerMetrics(timed: Seq[Op]): Map[String, Double] = {
    val ids = timed.map(_.id).toSet
    val ps = progress.collect { case (o, p) if ids(o.id) => p }.toSeq
    def phase(k: String): Double = median(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)))
    def kind(k: String) = median(timed.filter(_.kind == k).map(_.seconds))
    // one RawBatchMetrics per batch with input, in the same order as progress
    val ms = metrics.synchronized(metrics.toList).zip(progress)
      .collect { case (m, (o, _)) if ids(o.id) => m }
    val m = maintenance.filter(x => ids(x._1))
    def mean(f: ((Int, Long, Long, Long)) => Long) =
      if (m.isEmpty) 0.0 else m.map(f).sum.toDouble / m.size
    val batchOps = progress.collect { case (o, _) if ids(o.id) => o }.toSeq
    Map(
      "streaming.start_stop_s" ->
        (median(batchOps.map(_.seconds)) - phase("triggerExecution")).max(0.0),
      "streaming.trigger_s" -> phase("triggerExecution"),
      "streaming.add_batch_s" -> phase("addBatch"),
      "streaming.wal_commit_s" -> phase("walCommit"),
      "streaming.offset_commit_s" -> phase("commitOffsets"),
      "streaming.latest_offset_s" -> phase("latestOffset"),
      "streaming.planning_s" -> phase("queryPlanning"),
      "cdc.rows_in" -> ms.map(_.n_raw).sum.toDouble / ms.size.max(1),
      "cdc.malformed" -> ms.map(_.n_malformed).sum.toDouble / ms.size.max(1),
      "catalog.point_s" -> kind("point"), "catalog.range_s" -> kind("range"),
      "catalog.asof_s" -> kind("asof"),
      "catalog.changes_s" -> kind("changes"),
      "validate.maintain_s" -> kind("maintain"),
      "validate.files_before" -> mean(_._2), "validate.files_after" -> mean(_._3),
      "validate.bytes_rewritten" -> mean(_._4))
  }
}

object CdcLakehouse {
  /** Ids looked up per point read; a batch always leaves more live. */
  val LookupKeys = 8
}

/** A fixed, family-representative set of the engine's headline queries,
  * each built and executed through a `noop` write, one whole pass per unit.
  */
final class Analytics(spark: SparkSession, rec: Recorder, work: Path, seed: Long)
    extends Workload {
  import Workload._
  /** The passes keep getting faster for about eight passes (the planner
    * and the generated code warm up query by query), in steps that a
    * pass-to-pass rule alone mistakes for a plateau.
    */
  val minWarmUnits = 8
  val nominalUnitS = 2.2
  /** Family → member headliners. Fixed here so that family subtotals keep
    * their meaning as the engine's query list grows. Nine queries, so the
    * median op is the middle query's, not the mean of two different ones.
    */
  val Families: Seq[(String, Seq[String])] = Seq(
    "tpch" -> Seq("q1_agg", "q6_forecast_revenue"),
    "cdc" -> Seq("cdc_dedup_latest"),
    "join" -> Seq("q_asof_join"),
    "text" -> Seq("q_bm25", "q_pii_redact"),
    "dedup" -> Seq("q_exact_dedup"),
    "retrieval" -> Seq("q_ann_bruteforce"),
    "sampling" -> Seq("q_train_shuffle"))

  private var dir: Path = _
  private var rows = 0L
  private lazy val order: Seq[String] =
    new scala.util.Random(seed).shuffle(Families.flatMap(_._2))
  /** Query name of each query op, by op id. */
  val queryOf = scala.collection.mutable.HashMap.empty[Int, String]

  def stage(rep: Int): Unit = {
    dir = fresh(work.resolve(s"analytics-$rep"))
    rows = Fixtures.generate(spark, dir.toString, seed)
  }

  def unit(): Double = {
    val t = Clock.now()
    order.foreach { name =>
      rec.op("query") {
        queryOf(rec.ops.size) = name
        val df = rec.call(s"Queries.headlines($name)", "queries")(
          graft.Queries.headlines(name)(spark, dir.toString))
        rec.call("noop write", "queries")(df.write.format("noop").mode("overwrite").save())
      }
    }
    (Clock.now() - t) / 1e9
  }

  /** Order-independent hash of a query's full result. */
  private def resultHash(name: String): (Long, Long, Long) = {
    val df = graft.Queries.headlines(name)(spark, dir.toString)
    Validation.tableChecksum(df, df.columns.toSeq)
  }

  /** Each headliner, built twice after the timed windows, hashes the same
    * both times: approximate-by-design queries included, the same seed must
    * give the same result.
    */
  def check(): Seq[Check] = order.sorted.map { name =>
    val (a, b) = (resultHash(name), resultHash(name))
    Check(s"stable_$name", a == b, s"$a vs $b")
  }

  def roots: Seq[Path] = Seq(dir)
  def liveRows: Long = rows

  override def summary(timed: Seq[Op]): String =
    "query medians " + timed.groupBy(o => queryOf(o.id)).toSeq.sortBy(_._1)
      .map { case (q, os) => f"$q ${median(os.map(_.seconds))}%.3f" }.mkString(", ")

  override def layerMetrics(timed: Seq[Op]): Map[String, Double] = {
    val passes = (timed.size / order.size).max(1).toDouble
    val fam = Families.flatMap { case (f, qs) => qs.map(_ -> f) }.toMap
    val byFamily = timed.groupBy(o => fam(queryOf(o.id)))
      .map { case (f, os) => f -> os.map(_.seconds).sum / passes }
    Families.map { case (f, _) => s"family.${f}_s" -> byFamily.getOrElse(f, 0.0) }.toMap
  }
}
