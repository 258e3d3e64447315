package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types._

import graft.cdc.KeyedParquetTable
import graft.streaming.Ingest

case class Cdc(id: Long, v: String, operation: String, seq: Long)

/** ST1–ST3: checkpointed micro-batch ingest via MemoryStream, including
  * restart-resumes-without-duplicates and lineage accounting.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val tableSchema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  test("streaming ingest merges micro-batches; restart from checkpoint does not re-apply") {
    implicit val sqlCtx = spark.sqlContext
    val checkpoint = tmpDir("ingest_ckpt")
    val table = new KeyedParquetTable(spark, tmpDir("ingest_tbl"), Seq("id"))
    table.createIfNotExists(tableSchema)
    // bucketed: the replay probe takes the bucket-pruned readForKeys path
    val lineage = new KeyedParquetTable(spark, tmpDir("ingest_lin"), Seq("batch_id"),
      Nil, bucketCount = 4)

    val stream = MemoryStream[Cdc]
    val q = Ingest.start(stream.toDF(), table, Seq(col("seq").desc),
      checkpoint, Some(lineage), triggerMs = 50L)
    stream.addData(Cdc(1, "a", "u", 1), Cdc(2, "b", "u", 2))
    q.processAllAvailable()
    stream.addData(Cdc(1, "a2", "u", 3), Cdc(3, "c", "u", 4), Cdc(2, null, "d", 5))
    q.processAllAvailable()
    q.stop()

    val state1 = table.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(state1 === Array((1L, "a2"), (3L, "c")))
    val batches1 = lineage.read().count()

    // restart with the SAME checkpoint + a new query: committed batches must
    // not re-apply; new data must.
    val q2 = Ingest.start(stream.toDF(), table, Seq(col("seq").desc),
      checkpoint, Some(lineage), triggerMs = 50L)
    stream.addData(Cdc(4, "d", "u", 6))
    q2.processAllAvailable()
    q2.stop()

    val state2 = table.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(state2 === Array((1L, "a2"), (3L, "c"), (4L, "d")))
    val lin = lineage.read()
    // batch ids unique — no batch applied twice
    assert(lin.count() === lin.select("batch_id").distinct().count())
    assert(lin.count() > batches1)
  }

  test("MoR streaming ingest: tombstone batches defer to the delete set, " +
    "state identical to copy-on-write ingest, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpDir("ingest_mor_tbl")
    // bucketed: mergeMor requires the engine bucket layout
    val table = new KeyedParquetTable(spark, dir, Seq("id"), Nil, 4)
    table.createIfNotExists(tableSchema)
    val stream = MemoryStream[Cdc]
    val q = Ingest.start(stream.toDF(), table, Seq(col("seq").desc),
      tmpDir("ingest_mor_ckpt"), None, triggerMs = 50L, mor = true)
    stream.addData(Cdc(1, "a", "u", 1), Cdc(2, "b", "u", 2), Cdc(3, "c", "u", 3))
    q.processAllAvailable()
    val preV = table.currentVersion
    // pure-tombstone micro-batch: MoR commits it with ZERO bucket rewrites
    stream.addData(Cdc(1, null, "d", 4), Cdc(3, null, "d", 5))
    q.processAllAvailable()
    assert(table.read().orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/v${table.currentVersion}/_deletes")))
    // zero data rewrite for the tombstone batch
    def keysOf(v: Long) = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/v$v"))
      try s.iterator().asScala.toSeq.filter(p =>
          p.toString.endsWith(".parquet") && !p.toString.contains("_deletes") &&
          java.nio.file.Files.isRegularFile(p))
        .map(p => java.nio.file.Files.readAttributes(p,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey).toSet
      finally s.close()
    }
    assert(keysOf(preV) === keysOf(table.currentVersion))
    // upsert re-inserts a tombstoned key; txn markers keep replay idempotent
    stream.addData(Cdc(3, "c2", "u", 6))
    q.processAllAvailable()
    q.stop()
    assert(table.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((2L, "b"), (3L, "c2")))
    val lastTxn = table.lastTxn
    // redelivery of the last batch is skipped wholesale
    val batch = Seq(Cdc(3, "c2", "u", 6)).toDF()
    assert(!Ingest.applyBatch(batch, lastTxn.get.toLong, table,
      Seq(col("seq").desc), None, mor = true))
  }

  test("drainAvailable (AvailableNow) processes what's there, terminates, resumes cleanly") {
    implicit val sqlCtx = spark.sqlContext
    val checkpoint = tmpDir("drain_ckpt")
    val table = new KeyedParquetTable(spark, tmpDir("drain_tbl"), Seq("id"))
    table.createIfNotExists(tableSchema)
    val lineage = new KeyedParquetTable(spark, tmpDir("drain_lin"), Seq("batch_id"))

    val stream = MemoryStream[Cdc]
    stream.addData(Cdc(1, "a", "u", 1), Cdc(2, "b", "u", 2))
    val q = Ingest.drainAvailable(stream.toDF(), table, Seq(col("seq").desc),
      checkpoint, Some(lineage))
    q.awaitTermination(30000) // AvailableNow self-terminates after the drain
    assert(!q.isActive, "drain query should stop on its own")
    assert(table.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      === Array((1L, "a"), (2L, "b")))

    // scheduled re-run: new data since the last drain, same checkpoint
    stream.addData(Cdc(1, "a2", "u", 3), Cdc(2, null, "d", 4))
    val q2 = Ingest.drainAvailable(stream.toDF(), table, Seq(col("seq").desc),
      checkpoint, Some(lineage))
    q2.awaitTermination(30000)
    assert(!q2.isActive)
    assert(table.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      === Array((1L, "a2")))
    val lin = lineage.read()
    assert(lin.count() === lin.select("batch_id").distinct().count())
  }

  test("streaming drain maintaining an incremental aggregate: end state equals direct groupBy") {
    import graft.streaming.IncrementalAgg
    implicit val sqlCtx = spark.sqlContext
    val checkpoint = tmpDir("incr_ckpt")
    val aggTable = new KeyedParquetTable(spark, tmpDir("incr_stream_tbl"), Seq("id"))
    val stream = MemoryStream[Cdc]
    stream.addData(Cdc(1, "a", "u", 10), Cdc(1, "b", "u", 20), Cdc(2, "c", "u", 30))
    val q = stream.toDF().writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IncrementalAgg.applyBatch(aggTable, batch, "id", "seq")
        ()
      }.start()
    q.awaitTermination(30000)
    stream.addData(Cdc(1, "d", "u", 40))
    val q2 = stream.toDF().writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        IncrementalAgg.applyBatch(aggTable, batch, "id", "seq")
        ()
      }.start()
    q2.awaitTermination(30000)
    val got = IncrementalAgg.snapshot(aggTable, "seq")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got === Map(1L -> ((3L, 70.0)), 2L -> ((1L, 30.0))))
  }

  test("IncrementalAgg: maintained aggregate equals from-scratch, batch split invariant") {
    import graft.streaming.IncrementalAgg
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(400)((rnd.nextLong(20).abs, rnd.nextDouble() * 100))
    val df = rows.toDF("k", "v")
    // maintained over 5 uneven batches
    val table = new KeyedParquetTable(spark, tmpDir("incr_agg"), Seq("k"))
    val cuts = Seq(0, 50, 90, 220, 300, 400)
    cuts.sliding(2).foreach { case Seq(lo, hi) =>
      IncrementalAgg.applyBatch(table,
        rows.slice(lo, hi).toDF("k", "v"), "k", "v")
    }
    val got = IncrementalAgg.snapshot(table, "v")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    val want = df.groupBy("k")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE)").as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(got === want) // decimal folding → exact, split-invariant
  }

  test("applyCdcBatchN maintains several measures in one retraction pass") {
    import graft.streaming.IncrementalAgg
    val entity = new KeyedParquetTable(spark, tmpDir("multi_ent"), Seq("id"), Nil, 4)
    val aggT = new KeyedParquetTable(spark, tmpDir("multi_agg"), Seq("g"), Nil, 2)
    def b(rows: (Long, String, Double, Long, String, Long)*) =
      rows.toDF("id", "g", "amt", "qty", "operation", "seq")
    IncrementalAgg.applyCdcBatchN(entity, aggT,
      b((1L, "a", 10.0, 2L, "u", 1L), (2L, "a", 5.0, 1L, "u", 2L),
        (3L, "b", 7.5, 3L, "u", 3L)),
      "g", Seq("amt", "qty"), Seq(col("seq").desc))
    // group move (1: a→b) + delete (2) — both measures retract together
    IncrementalAgg.applyCdcBatchN(entity, aggT,
      b((1L, "b", 20.0, 4L, "u", 4L), (2L, "a", 0.0, 0L, "d", 5L)),
      "g", Seq("amt", "qty"), Seq(col("seq").desc))
    val snap = IncrementalAgg.snapshotN(aggT, Seq("amt", "qty")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    // group a vanished entirely; b = entities 1 (20, 4) and 3 (7.5, 3)
    assert(snap === Map("b" -> ((2L, 27.5, 7.0))))
  }

  test("applyBatchesN: pipelined append-stream fold equals the sequential fold") {
    import graft.streaming.IncrementalAgg
    val batches = Seq(
      Seq((1L, 1.0), (2L, 2.0), (1L, 3.0)).toDF("k", "v"),
      Seq((2L, 4.0), (3L, 5.0)).toDF("k", "v"),
      Seq((1L, 6.0)).toDF("k", "v"))
    val tSeq = new KeyedParquetTable(spark, tmpDir("pipe_ab_seq"), Seq("k"), Nil, 4)
    batches.foreach(IncrementalAgg.applyBatch(tSeq, _, "k", "v"))
    val tP = new KeyedParquetTable(spark, tmpDir("pipe_ab_p"), Seq("k"), Nil, 4)
    IncrementalAgg.applyBatches(tP, batches, "k", "v",
      txnIds = batches.indices.map(i => s"b$i"))
    def snap(t: KeyedParquetTable) = IncrementalAgg.snapshot(t, "v").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(snap(tP) === snap(tSeq))
    // tail-batch redelivery is a no-op under its txn marker
    IncrementalAgg.applyBatches(tP, Seq(batches.last), "k", "v", txnIds = Seq("b2"))
    assert(snap(tP) === snap(tSeq))
  }

  test("applyCdcBatchesN: pipelined multi-batch fold equals the sequential fold") {
    import graft.streaming.IncrementalAgg
    def b(rows: (Long, String, Double, String, Long)*) =
      rows.toDF("id", "g", "v", "operation", "seq")
    val batches = Seq(
      b((1L, "a", 10.0, "u", 1L), (2L, "a", 5.0, "u", 2L), (3L, "b", 7.5, "u", 3L)),
      b((1L, "b", 20.0, "u", 4L), (2L, "a", 0.0, "d", 5L)),
      b((4L, "c", 1.0, "u", 6L), (2L, "b", 2.0, "u", 7L)),
      b((3L, "b", 0.0, "d", 8L)))
    // sequential reference
    val entSeq = new KeyedParquetTable(spark, tmpDir("pipe_ent_seq"), Seq("id"), Nil, 4)
    val aggSeq = new KeyedParquetTable(spark, tmpDir("pipe_agg_seq"), Seq("g"), Nil, 2)
    batches.foreach(IncrementalAgg.applyCdcBatch(entSeq, aggSeq, _,
      "g", "v", Seq(col("seq").desc)))
    // pipelined, with txn markers
    val entP = new KeyedParquetTable(spark, tmpDir("pipe_ent_p"), Seq("id"), Nil, 4)
    val aggP = new KeyedParquetTable(spark, tmpDir("pipe_agg_p"), Seq("g"), Nil, 2)
    val txns = batches.indices.map(i => s"t$i")
    IncrementalAgg.applyCdcBatches(entP, aggP, batches, "g", "v",
      Seq(col("seq").desc), txnIds = txns)
    def snap(t: KeyedParquetTable): Map[String, (Long, Double)] =
      IncrementalAgg.snapshot(t, "v").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(snap(aggP) === snap(aggSeq))
    assert(entP.read().drop("operation").collect().toSet ===
      entSeq.read().drop("operation").collect().toSet)
    // replaying the tail batch (at-least-once redelivery) is a no-op: both
    // tables' txn markers recognize it
    IncrementalAgg.applyCdcBatches(entP, aggP, Seq(batches.last), "g", "v",
      Seq(col("seq").desc), txnIds = Seq(txns.last))
    assert(snap(aggP) === snap(aggSeq))
  }

  test("align-free IVM commits: per-bucket file fan-out stays bounded; compaction restores the layout") {
    import graft.streaming.IncrementalAgg
    // many small batches through the align=false replace path — the shape
    // that skips the anti-fragmentation exchange. The file-count bound the
    // Scaladoc claims (pre-state files + batch partitions per commit, no
    // compounding across batches because each replace rewrites the bucket
    // wholesale) must hold, and one compact() pass must restore
    // one-file-per-bucket with the STATE bit-identical.
    val rnd = new scala.util.Random(5)
    val batches = (0 until 8).map { b =>
      (0 until 40).map { i =>
        (rnd.nextInt(30).toLong, s"g${rnd.nextInt(4)}", rnd.nextInt(100).toDouble,
          "u", (b * 100 + i).toLong)
      }.toDF("id", "g", "v", "operation", "seq")
    }
    val ent = new KeyedParquetTable(spark, tmpDir("alignfree_ent"), Seq("id"), Nil, 4)
    val agg = new KeyedParquetTable(spark, tmpDir("alignfree_agg"), Seq("g"), Nil, 2)
    IncrementalAgg.applyCdcBatches(ent, agg, batches, "g", "v", Seq(col("seq").desc))
    def filesPerBucket(t: KeyedParquetTable): Map[String, Int] = {
      val vdir = java.nio.file.Paths.get(t.root, s"v${t.currentVersion}")
      val buckets = java.nio.file.Files.list(vdir).toArray.map(_.toString)
        .filter(_.contains("__bucket="))
      buckets.map { b =>
        b -> java.nio.file.Files.list(java.nio.file.Paths.get(b)).toArray
          .map(_.toString).count(_.endsWith(".parquet"))
      }.toMap
    }
    val before = filesPerBucket(ent)
    assert(before.nonEmpty)
    // bound: a replace commit unions the (≤4-file) pre state with one
    // small checkpointed batch — nothing near the one-file-per-(cell×task)
    // blowup the aligned path prevents elsewhere. Generous ceiling: 12.
    assert(before.values.max <= 12,
      s"unaligned replace fan-out exceeded the documented bound: $before")
    val stateBefore = ent.read().drop("operation").collect().toSet
    val aggBefore = IncrementalAgg.snapshot(agg, "v").collect().toSet
    // the maintenance safety net: one compaction pass, layout restored
    ent.compact(minInputFiles = 2)
    agg.compact(minInputFiles = 2)
    assert(filesPerBucket(ent).values.max === 1)
    assert(ent.read().drop("operation").collect().toSet === stateBefore)
    assert(IncrementalAgg.snapshot(agg, "v").collect().toSet === aggBefore)
  }

  test("applyCdcBatchesN markerless: free-running entity/agg chains still fold exactly") {
    // without txn markers the two tables' commit chains overlap across
    // batches (each chain stays serial); the retraction math must be
    // byte-identical to the strictly ordered fold
    import graft.streaming.IncrementalAgg
    def b(rows: (Long, String, Double, String, Long)*) =
      rows.toDF("id", "g", "v", "operation", "seq")
    val batches = Seq(
      b((1L, "a", 10.0, "u", 1L), (2L, "a", 5.0, "u", 2L), (3L, "b", 7.5, "u", 3L)),
      b((1L, "b", 20.0, "u", 4L), (2L, "a", 0.0, "d", 5L)),
      b((4L, "c", 1.0, "u", 6L), (2L, "b", 2.0, "u", 7L), (1L, "a", 3.0, "u", 8L)),
      b((3L, "b", 0.0, "d", 9L), (5L, "a", 4.0, "u", 10L)))
    val entSeq = new KeyedParquetTable(spark, tmpDir("free_ent_seq"), Seq("id"), Nil, 4)
    val aggSeq = new KeyedParquetTable(spark, tmpDir("free_agg_seq"), Seq("g"), Nil, 2)
    batches.foreach(IncrementalAgg.applyCdcBatch(entSeq, aggSeq, _,
      "g", "v", Seq(col("seq").desc)))
    val entF = new KeyedParquetTable(spark, tmpDir("free_ent_f"), Seq("id"), Nil, 4)
    val aggF = new KeyedParquetTable(spark, tmpDir("free_agg_f"), Seq("g"), Nil, 2)
    IncrementalAgg.applyCdcBatches(entF, aggF, batches, "g", "v",
      Seq(col("seq").desc)) // no txnIds: the free-running path
    def snap(t: KeyedParquetTable): Map[String, (Long, Double)] =
      IncrementalAgg.snapshot(t, "v").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(snap(aggF) === snap(aggSeq))
    assert(entF.read().drop("operation").collect().toSet ===
      entSeq.read().drop("operation").collect().toSet)
  }

  test("applyCdcBatchesN markerless: pipelined FIRST USE never drops the creating batch") {
    // the race this pins down: batch 1's deferred agg commit CREATES the
    // agg table while batch 2 is already preparing — if first-use were
    // probed on the main thread (before awaiting the previous agg commit),
    // batch 2 could observe exists=false, take the limit(0) branch, and
    // replaceBuckets would silently discard batch 1's folded state.
    // First-use must be decided inside the agg half, after the await.
    import graft.streaming.IncrementalAgg
    def b(rows: (Long, String, Double, String, Long)*) =
      rows.toDF("id", "g", "v", "operation", "seq")
    (1 to 3).foreach { i =>
      val batches = Seq(
        b((1L, "a", 10.0, "u", 1L), (2L, "b", 5.0, "u", 2L)),
        b((3L, "a", 1.0, "u", 3L)), // touches batch 1's "a" bucket
        b((4L, "b", 2.0, "u", 4L)))
      val ent = new KeyedParquetTable(spark, tmpDir(s"fu_ent_$i"), Seq("id"), Nil, 4)
      val agg = new KeyedParquetTable(spark, tmpDir(s"fu_agg_$i"), Seq("g"), Nil, 2)
      IncrementalAgg.applyCdcBatches(ent, agg, batches, "g", "v",
        Seq(col("seq").desc)) // markerless: agg commits defer across batches
      val got = IncrementalAgg.snapshot(agg, "v").collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got === Map("a" -> ((2L, 11.0)), "b" -> ((2L, 7.0))), s"iteration $i")
    }
  }

  test("applyBatch raises loudly on values beyond the decimal fold range") {
    import graft.streaming.IncrementalAgg
    val table = new KeyedParquetTable(spark, tmpDir("incr_overflow"), Seq("k"))
    val e = intercept[Exception] {
      IncrementalAgg.applyBatch(table, Seq((1L, 1e23)).toDF("k", "v"), "k", "v")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    // ANSI sessions throw NUMERIC_VALUE_OUT_OF_RANGE at the cast itself;
    // non-ANSI sessions hit the explicit raise_error guard. Either way the
    // value must never silently vanish from the maintained sum.
    assert(msgs(e).exists(m => m.contains("exceeds decimal(28,6) range")
      || m.contains("cannot be represented as Decimal(28, 6)")), msgs(e).mkString(" | "))
  }

  test("applyCdcBatch: retractions keep the view equal to the folded state " +
    "(update moves groups, delete-then-reinsert, group vanishes)") {
    import graft.streaming.IncrementalAgg
    val entity = new KeyedParquetTable(spark, tmpDir("cdc_view_ent"), Seq("id"))
    val agg = new KeyedParquetTable(spark, tmpDir("cdc_view_agg"), Seq("grp"))
    def fold(rows: Seq[(Long, Option[String], Option[Double], String, Long)]): Unit =
      IncrementalAgg.applyCdcBatch(entity, agg,
        rows.toDF("id", "grp", "v", "operation", "seq"),
        "grp", "v", Seq(col("seq").desc))
    def view: Map[String, (Long, Double)] = IncrementalAgg.snapshot(agg, "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    fold(Seq((1L, Some("a"), Some(10.0), "u", 1L), (2L, Some("a"), Some(20.0), "u", 2L),
      (3L, Some("b"), Some(30.0), "u", 3L)))
    assert(view === Map("a" -> ((2L, 30.0)), "b" -> ((1L, 30.0))))

    // entity 1 moves group a→b (retract from a, add to b); entity 2 deleted —
    // group a's live count hits 0, so it leaves the view entirely
    fold(Seq((1L, Some("b"), Some(15.0), "u", 4L), (2L, None, None, "d", 5L)))
    assert(view === Map("b" -> ((2L, 45.0))))

    // delete-then-reinsert: entity 2 comes back with a new value
    fold(Seq((2L, Some("a"), Some(25.0), "u", 6L)))
    assert(view === Map("a" -> ((1L, 25.0)), "b" -> ((2L, 45.0))))

    // group b vanishes entirely (both members deleted in one batch)
    fold(Seq((1L, None, None, "d", 7L), (3L, None, None, "d", 8L)))
    assert(view === Map("a" -> ((1L, 25.0))))

    // invariant: view always equals from-scratch aggregate over entity state
    val scratch = entity.read().groupBy("grp")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(view === scratch)
  }

  test("applyCdcBatch on BUCKETED tables: bucket-pruned pre-image reads keep the view exact") {
    import graft.streaming.IncrementalAgg
    val entity = new KeyedParquetTable(spark, tmpDir("cdc_view_ent_b"), Seq("id"),
      Nil, bucketCount = 4)
    val agg = new KeyedParquetTable(spark, tmpDir("cdc_view_agg_b"), Seq("grp"),
      Nil, bucketCount = 4)
    def fold(rows: Seq[(Long, Option[String], Option[Double], String, Long)]): Unit =
      IncrementalAgg.applyCdcBatch(entity, agg,
        rows.toDF("id", "grp", "v", "operation", "seq"),
        "grp", "v", Seq(col("seq").desc))
    // wide key spread first, then small batches touching few buckets — the
    // readForKeys pre-image path must retract exactly the touched entities
    fold((0L until 40L).map(i => (i, Some(s"g${i % 5}"), Some(i.toDouble), "u", i)))
    fold(Seq((3L, Some("g9"), Some(100.0), "u", 50L),  // moves g3 → g9
      (7L, None, None, "d", 51L)))                      // leaves g2
    fold(Seq((3L, None, None, "d", 52L)))               // g9 vanishes again
    val view = IncrementalAgg.snapshot(agg, "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val scratch = entity.read().groupBy("grp")
      .agg(count(lit(1)).as("n"),
        expr("CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)").as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(view === scratch && !view.contains("g9"))
  }

  test("streaming KMV maintenance: maintained sketch is bit-identical to from-scratch " +
    "across uneven batches, and replay-idempotent") {
    import graft.functions.KmvSketch
    import graft.streaming.SketchMaintenance
    val k = 64
    val table = new KeyedParquetTable(spark, tmpDir("kmv_stream"), Seq("sketch_id"))
    val rnd = new scala.util.Random(21)
    val all = Seq.fill(500)(rnd.nextLong() % 300) // heavy cross-batch duplication
    // uneven cuts, including an EMPTY batch
    val cuts = Seq(0, 37, 100, 100, 350, 500)
    cuts.sliding(2).foreach { case Seq(lo, hi) =>
      SketchMaintenance.applyBatch(table, all.slice(lo, hi).toDF("v"),
        xxhash64(col("v")), k)
    }
    val maintained = SketchMaintenance.read(table)
    val scratch = all.toDF("v").agg(new KmvSketch(k).column(xxhash64(col("v"))))
      .head().getSeq[Long](0).toArray
    assert(maintained.toSeq === scratch.toSeq) // bit-identical, not just close
    // at-least-once delivery: re-applying a batch must not move the sketch
    SketchMaintenance.applyBatch(table, all.slice(100, 350).toDF("v"),
      xxhash64(col("v")), k)
    assert(SketchMaintenance.read(table).toSeq === scratch.toSeq)
    // and the estimate is sane
    val est = KmvSketch.estimate(maintained, k)
    val exact = all.distinct.size.toDouble
    assert(math.abs(est - exact) / exact < 0.35, s"est=$est exact=$exact")
  }

  test("KMV maintenance driven through checkpointed foreachBatch micro-batches") {
    import graft.functions.KmvSketch
    import graft.streaming.SketchMaintenance
    implicit val sqlCtx = spark.sqlContext
    val k = 32
    val table = new KeyedParquetTable(spark, tmpDir("kmv_fb"), Seq("sketch_id"))
    val checkpoint = tmpDir("kmv_fb_ckpt")
    val stream = MemoryStream[Long]
    def drain(): Unit = {
      val q = stream.toDF().writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          SketchMaintenance.applyBatch(table, b, xxhash64(col("value")), k)
          ()
        }.start()
      q.awaitTermination(30000)
    }
    stream.addData(1L to 200L: _*)
    drain()
    stream.addData(150L to 400L: _*) // overlapping values across micro-batches
    drain()
    val maintained = SketchMaintenance.read(table)
    val scratch = (1L to 400L).toDF("value")
      .agg(new KmvSketch(k).column(xxhash64(col("value"))))
      .head().getSeq[Long](0)
    assert(maintained.toSeq === scratch.toSeq)
  }

  test("streaming heavy-hitters maintenance retains hot keys within the MG error bound") {
    import graft.streaming.SketchMaintenance
    val table = new KeyedParquetTable(spark, tmpDir("hh_stream"), Seq("sketch_id"))
    val rnd = new scala.util.Random(31)
    // hot key 7 ≈ 30% of the stream; the rest spread over ~200 cold keys
    val all = Seq.fill(600)(if (rnd.nextInt(10) < 3) 7L else rnd.nextLong(200) + 100L)
    val k = 16
    val cuts = Seq(0, 80, 230, 230, 600) // uneven + one empty batch
    cuts.sliding(2).foreach { case Seq(lo, hi) =>
      SketchMaintenance.applyHeavyHittersBatch(table,
        all.slice(lo, hi).toDF("v"), col("v"), k)
    }
    val sketch = SketchMaintenance.readHeavyHitters(table)
    val trueCount = all.count(_ == 7L).toLong
    val bound = all.size / (k + 1)
    assert(trueCount > bound) // precondition: key 7 IS a heavy hitter
    // MG merges compose: retention + underestimate-by-≤N/(k+1) must survive
    // batch boundaries
    assert(sketch.contains(7L), s"hot key lost: $sketch")
    assert(sketch(7L) <= trueCount && sketch(7L) >= trueCount - bound,
      s"count ${sketch(7L)} outside [${trueCount - bound}, $trueCount]")
  }

  test("one exactly-once foreachBatch maintains entity table, aggregate view, and sketch together") {
    import graft.functions.KmvSketch
    import graft.streaming.{IncrementalAgg, SketchMaintenance}
    implicit val sqlCtx = spark.sqlContext
    val checkpoint = tmpDir("combo_ckpt")
    val entity = new KeyedParquetTable(spark, tmpDir("combo_ent"), Seq("id"))
    val aggT = new KeyedParquetTable(spark, tmpDir("combo_agg"), Seq("v"))
    val sketch = new KeyedParquetTable(spark, tmpDir("combo_sk"), Seq("sketch_id"))
    val stream = MemoryStream[Cdc]
    def drain(): Unit = {
      val q = stream.toDF().writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          IncrementalAgg.applyCdcBatch(entity, aggT, b, "v", "seq", Seq(col("seq").desc))
          SketchMaintenance.applyBatch(sketch, b, xxhash64(col("id")), 16)
          ()
        }.start()
      q.awaitTermination(30000)
    }
    stream.addData(Cdc(1, "a", "u", 1), Cdc(2, "b", "u", 2), Cdc(3, "a", "u", 3))
    drain()
    stream.addData(Cdc(1, "b", "u", 4), Cdc(2, null, "d", 5)) // group move + delete
    drain()
    // entity state: 1→b, 3→a
    assert(entity.read().orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
      === Array((1L, "b"), (3L, "a")))
    // maintained view == from-scratch over the surviving state
    val view = IncrementalAgg.snapshot(aggT, "seq")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(view === Map("a" -> ((1L, 3.0)), "b" -> ((1L, 4.0))))
    // sketch saw 3 distinct entity ids (below k → exact)
    assert(KmvSketch.estimate(SketchMaintenance.read(sketch), 16) === 3.0)
  }

  test("maintained aggregates accumulate NULL keys/groups across batches (null-safe fold)") {
    import graft.streaming.IncrementalAgg
    // applyBatch: NULL key is a legitimate group and must accumulate
    val t1 = new KeyedParquetTable(spark, tmpDir("null_key_agg"), Seq("k"))
    IncrementalAgg.applyBatch(t1,
      Seq((Option.empty[Long], 5.0), (Some(1L), 2.0)).toDF("k", "v"), "k", "v")
    IncrementalAgg.applyBatch(t1,
      Seq((Option.empty[Long], 7.0)).toDF("k", "v"), "k", "v")
    val nullRow = IncrementalAgg.snapshot(t1, "v")
      .filter(col("k").isNull).head()
    assert(nullRow.getLong(1) === 2L && nullRow.getDouble(2) === 12.0)
    // applyCdcBatch: NULL group accumulates and retracts correctly too
    val entity = new KeyedParquetTable(spark, tmpDir("null_grp_ent"), Seq("id"))
    val aggT = new KeyedParquetTable(spark, tmpDir("null_grp_agg"), Seq("grp"))
    def fold(rows: Seq[(Long, Option[String], Option[Double], String, Long)]): Unit =
      IncrementalAgg.applyCdcBatch(entity, aggT,
        rows.toDF("id", "grp", "v", "operation", "seq"),
        "grp", "v", Seq(col("seq").desc))
    fold(Seq((1L, None, Some(5.0), "u", 1L)))
    fold(Seq((2L, None, Some(7.0), "u", 2L)))
    val g = IncrementalAgg.snapshot(aggT, "v").filter(col("grp").isNull).head()
    assert(g.getLong(1) === 2L && g.getDouble(2) === 12.0)
  }

  test("applyCdcBatch retracts NULL-KEY entities null-safely across batches") {
    import graft.streaming.IncrementalAgg
    val entity = new KeyedParquetTable(spark, tmpDir("nullkey_ent"), Seq("id"))
    val aggT = new KeyedParquetTable(spark, tmpDir("nullkey_agg"), Seq("grp"))
    def fold(rows: Seq[(Option[Long], String, Double, String, Long)]): Unit =
      IncrementalAgg.applyCdcBatch(entity, aggT,
        rows.toDF("id", "grp", "v", "operation", "seq"),
        "grp", "v", Seq(col("seq").desc))
    fold(Seq((Option.empty[Long], "a", 10.0, "u", 1L)))
    // update of the SAME null-key entity: without a null-safe retraction
    // semi-join this double-counts to (2, 22.0)
    fold(Seq((Option.empty[Long], "a", 12.0, "u", 2L)))
    val view = IncrementalAgg.snapshot(aggT, "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(view === Map("a" -> ((1L, 12.0))))
  }

  test("applyBatch txn guard skips a redelivered batch instead of double-folding") {
    import graft.streaming.IncrementalAgg
    val table = new KeyedParquetTable(spark, tmpDir("txn_plain_agg"), Seq("k"))
    val batch = Seq((1L, 10.0), (1L, 20.0)).toDF("k", "v")
    IncrementalAgg.applyBatch(table, batch, "k", "v", txnId = Some("b0"))
    IncrementalAgg.applyBatch(table, batch, "k", "v", txnId = Some("b0")) // replay
    val r = IncrementalAgg.snapshot(table, "v").head()
    assert(r.getLong(1) === 2L && r.getDouble(2) === 30.0)
  }

  test("applyCdcBatch txn guard: replaying a recorded txn id is a wholesale no-op") {
    import graft.streaming.IncrementalAgg
    val entity = new KeyedParquetTable(spark, tmpDir("txn_ent"), Seq("id"))
    val aggT = new KeyedParquetTable(spark, tmpDir("txn_agg"), Seq("grp"))
    def fold(rows: Seq[(Long, String, Double, String, Long)], txn: String): Unit =
      IncrementalAgg.applyCdcBatch(entity, aggT,
        rows.toDF("id", "grp", "v", "operation", "seq"),
        "grp", "v", Seq(col("seq").desc), txnId = Some(txn))
    fold(Seq((1L, "a", 10.0, "u", 1L), (2L, "b", 20.0, "u", 2L)), "b0")
    val view1 = IncrementalAgg.snapshot(aggT, "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // redelivered batch (same txn, even different content) must change nothing
    fold(Seq((1L, "a", 999.0, "u", 9L)), "b0")
    val view2 = IncrementalAgg.snapshot(aggT, "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(view2 === view1)
    assert(entity.read().count() === 2L)
    // the NEXT txn applies normally
    fold(Seq((1L, "a", 15.0, "u", 3L)), "b1")
    val view3 = IncrementalAgg.snapshot(aggT, "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(view3 === Map("a" -> ((1L, 15.0)), "b" -> ((1L, 20.0))))
  }

  test("applyCdcBatch replay when the ENTITY half won the race: pre-images " +
    "recovered from the entity commit's parent snapshot") {
    import graft.streaming.IncrementalAgg
    // parallel commits mean a crash can leave entity(txn)=committed while
    // agg(txn) is not — the inverse of the sequential order. The replay
    // must then read this batch's pre-images from the entity table's
    // PARENT snapshot (its current state already holds the post-images).
    val entity = new KeyedParquetTable(spark, tmpDir("race_ent"), Seq("id"),
      Nil, bucketCount = 4)
    val aggT = new KeyedParquetTable(spark, tmpDir("race_agg"), Seq("grp"),
      Nil, bucketCount = 4)
    def batchDf(rows: Seq[(Long, String, Double, String, Long)]) =
      rows.toDF("id", "grp", "v", "operation", "seq")
    val b0 = Seq((1L, "a", 10.0, "u", 1L), (2L, "a", 20.0, "u", 2L),
      (3L, "b", 30.0, "u", 3L))
    IncrementalAgg.applyCdcBatch(entity, aggT, batchDf(b0),
      "grp", "v", Seq(col("seq").desc), txnId = Some("b0"))
    // batch b1 MOVES id=1 a→b and deletes id=3 — both need exact pre-images
    val b1 = Seq((1L, "b", 11.0, "u", 4L), (3L, "b", 0.0, "d", 5L))
    // simulate the crash state: ONLY the entity half of b1 committed
    // (the same replaceBuckets commit the fused entity half performs)
    val latest = batchDf(b1)
    entity.replaceBuckets(
      graft.cdc.Merge.mergeUpsert(
        entity.readBuckets(entity.bucketsFor(latest.select(col("id")))),
        latest, Seq("id"), "operation"),
      entity.bucketsFor(latest.select(col("id"))), Some("b1"))
    assert(entity.lastTxn === Some("b1") && aggT.lastTxn === Some("b0"))
    // replay of b1: entityDone && !aggDone — agg half must still be exact
    IncrementalAgg.applyCdcBatch(entity, aggT, batchDf(b1),
      "grp", "v", Seq(col("seq").desc), txnId = Some("b1"))
    val view = IncrementalAgg.snapshot(aggT, "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(view === Map("a" -> ((1L, 20.0)), "b" -> ((1L, 11.0))))
    assert(entity.read().count() === 2L)
    // and a FULL replay of b1 (both halves recorded) is a wholesale no-op
    IncrementalAgg.applyCdcBatch(entity, aggT, batchDf(b1),
      "grp", "v", Seq(col("seq").desc), txnId = Some("b1"))
    val view2 = IncrementalAgg.snapshot(aggT, "v")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(view2 === view)
  }

  test("heavy-hitters maintenance skips NULL keys, raises on non-castable keys") {
    import graft.streaming.SketchMaintenance
    val table = new KeyedParquetTable(spark, tmpDir("hh_null"), Seq("sketch_id"))
    SketchMaintenance.applyHeavyHittersBatch(table,
      Seq(Some(1L), None, Some(1L)).toDF("v"), col("v"), 4)
    assert(SketchMaintenance.readHeavyHitters(table) === Map(1L -> 2L))
    val bad = Seq("not-a-number").toDF("v")
    intercept[Exception] {
      SketchMaintenance.applyHeavyHittersBatch(table, bad, col("v"), 4)
    }
  }

  test("replayOnce applies a bounded frame as a single merge") {
    val table = new KeyedParquetTable(spark, tmpDir("replay_tbl"), Seq("id"))
    table.createIfNotExists(tableSchema)
    val frame = Seq(
      Cdc(1, "x", "u", 1), Cdc(1, "y", "u", 2), Cdc(2, "z", "u", 3), Cdc(2, null, "d", 4)
    ).toDF()
    Ingest.replayOnce(frame, table, Seq(col("seq").desc))
    val rows = table.read().collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows === Array((1L, "y")))
  }

  case class Ev(ts: java.sql.Timestamp, k: String)

  test("windowed aggregation with watermark drops late data and bounds state") {
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    val stream = MemoryStream[Ev]
    val agg = Ingest.windowedCounts(stream.toDF(), "ts", "k", "5 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    stream.addData(Ev(ts(0), "a"), Ev(ts(1), "a"), Ev(ts(6), "b"))
    q.processAllAvailable()
    // advance watermark far past the first windows, then send late data
    stream.addData(Ev(ts(60), "c"))
    q.processAllAvailable()
    stream.addData(Ev(ts(0), "late")) // beyond watermark -> dropped
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_counts").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSet
    assert(rows.contains(("a", 2L)) && rows.contains(("b", 1L)))
    assert(!rows.exists(_._1 == "late"), s"late row leaked: $rows")
  }

  test("applyBatch is idempotent on batchId (crash between merge and checkpoint commit)") {
    val table = new KeyedParquetTable(spark, tmpDir("dup_tbl"), Seq("id"))
    table.createIfNotExists(tableSchema)
    val lineage = new KeyedParquetTable(spark, tmpDir("dup_lin"), Seq("batch_id"))
    val batch = Seq(Cdc(1, "a", "u", 1), Cdc(2, "b", "u", 2)).toDF()
    assert(Ingest.applyBatch(batch, 7L, table, Seq(col("seq").desc), Some(lineage)))
    val v = table.currentVersion
    // redelivery of the same batchId (simulated crash window) must be a no-op
    assert(!Ingest.applyBatch(batch, 7L, table, Seq(col("seq").desc), Some(lineage)))
    assert(table.currentVersion === v)
    assert(table.read().count() === 2)
    assert(lineage.read().count() === 1)
  }

  test("applyBatch recovers each commit half independently (parallel-commit crash windows)") {
    // crash window A: table merge committed (txn marker down) but the lineage
    // append never ran — redelivery must fill in ONLY the lineage half
    val table = new KeyedParquetTable(spark, tmpDir("half_tbl"), Seq("id"))
    table.createIfNotExists(tableSchema)
    val lineage = new KeyedParquetTable(spark, tmpDir("half_lin"), Seq("batch_id"))
    val batch = Seq(Cdc(1, "a", "u", 1), Cdc(2, "b", "u", 2)).toDF()
    val deduped = graft.ops.Dedup.dedupLatest(batch, Seq("id"), Seq(col("seq").desc))
    table.merge(deduped, "operation", Some("7")) // the merge half alone
    assert(table.lastTxn === Some("7") && !lineage.exists)
    val v = table.currentVersion
    assert(Ingest.applyBatch(batch, 7L, table, Seq(col("seq").desc), Some(lineage)))
    assert(table.currentVersion === v, "redelivery must not re-merge a txn-marked batch")
    assert(lineage.read().count() === 1)

    // crash window B: lineage row down but the table merge never committed
    // (possible now that the halves run concurrently) — redelivery must
    // fill in ONLY the merge half, without double-counting lineage
    val table2 = new KeyedParquetTable(spark, tmpDir("half_tbl2"), Seq("id"))
    table2.createIfNotExists(tableSchema)
    val lineage2 = new KeyedParquetTable(spark, tmpDir("half_lin2"), Seq("batch_id"))
    // the lineage half as applyBatch writes it: the row with its txn marker
    lineage2.append(Seq(Ingest.BatchLineage(9L, 2L, "applied")).toDF(), Some("9"))
    assert(Ingest.applyBatch(batch, 9L, table2, Seq(col("seq").desc), Some(lineage2)))
    assert(table2.read().count() === 2 && table2.lastTxn === Some("9"))
    assert(lineage2.read().count() === 1, "lineage half must not be re-appended")
    // and a full redelivery after both halves is a pure no-op
    assert(!Ingest.applyBatch(batch, 9L, table2, Seq(col("seq").desc), Some(lineage2)))
  }

  test("runningLatest (mapGroupsWithState) materializes latest-per-key across batches") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Cdc]
    val updates = Ingest.runningLatest(stream.toDF(), "id", "seq", "operation")
    val q = updates.toDF().writeStream.format("memory").queryName("latest_view")
      .outputMode("update").start()
    stream.addData(Cdc(1, "a", "u", 1), Cdc(2, "b", "u", 2))
    q.processAllAvailable()
    stream.addData(Cdc(1, "a2", "u", 3), Cdc(2, null, "d", 4), Cdc(1, "stale", "u", 0))
    q.processAllAvailable()
    q.stop()
    val finalByKey = spark.table("latest_view").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(3))))
      .groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).maxBy(_._1) }
    // key 1: stale seq=0 in batch 2 must NOT displace seq=3
    assert(finalByKey(1L) === ((3L, false)))
    // key 2: deleted at seq=4
    assert(finalByKey(2L) === ((4L, true)))
  }

  test("year/month-partitioned CDC sink lays out reference-parity partitions") {
    import graft.cdc.CdcParse
    val raw = Seq(
      """{"schema":"s","payload":{"id":1,"name":"n","description":"d","price":5,"on_offer":true,"__deleted":"false"}}"""
    ).toDF("value")
    val enriched = CdcParse.pipeline(raw,
      eventTime = lit("2024-07-15 12:00:00").cast("timestamp"))
    val table = new KeyedParquetTable(spark, tmpDir("ym_tbl"), Seq("id"),
      Seq("year", "month"))
    table.commit(enriched)
    val v0 = new java.io.File(s"${table.root}/v0")
    assert(v0.listFiles().exists(_.getName == "year=2024"))
    assert(new java.io.File(v0, "year=2024").listFiles().exists(_.getName == "month=07"))
    assert(table.read().filter(col("month") === "07").count() === 1)
  }
  test("session state machine: accumulate, extend, close on timeout") {
    import Ingest.{SessionState, sessionTransition}
    // first events open a session
    val (s1, e1) = sessionTransition(1L, Seq(10L, 12L), None, timedOut = false)
    assert(s1 === Some(SessionState(2L, 10L, 12L)) && e1.isEmpty)
    // more events extend it
    val (s2, e2) = sessionTransition(1L, Seq(15L), s1, timedOut = false)
    assert(s2 === Some(SessionState(3L, 10L, 15L)) && e2.isEmpty)
    // timeout closes and emits
    val (s3, e3) = sessionTransition(1L, Seq.empty, s2, timedOut = true)
    assert(s3.isEmpty)
    assert(e3 === Some(Ingest.ClosedSession(1L, 3L, 10L, 15L)))
    // timeout with no state emits nothing
    assert(sessionTransition(2L, Seq.empty, None, timedOut = true) === ((None, None)))
  }

  test("sessionStream wires the state machine into a runnable streaming query") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Cdc]
    val sessions = Ingest.sessionStream(stream.toDF(), "id", "seq", timeoutMs = 60000L)
    val q = sessions.toDF().writeStream.format("memory").queryName("sessions_smoke")
      .outputMode("append").start()
    stream.addData(Cdc(1, "a", "u", 10), Cdc(1, "b", "u", 12))
    // NOTE: processAllAvailable never quiesces under ProcessingTimeTimeout
    // (the engine keeps constructing timeout-check batches) — poll progress.
    val deadline = System.currentTimeMillis() + 30000
    while (q.recentProgress.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(q.isActive && q.exception.isEmpty)
    // long timeout -> no session closed yet; state accumulated without error
    assert(spark.table("sessions_smoke").count() === 0)
    q.stop()
  }

  case class Click(ts: java.sql.Timestamp, user: Long, page: String)
  case class Buy(ts: java.sql.Timestamp, user: Long, amount: Double)

  test("stream-stream interval join correlates events within the time bound") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val clicks = MemoryStream[Click]
    val buys = MemoryStream[Buy]
    val joined = Ingest.intervalJoin(
      clicks.toDF().withColumnRenamed("ts", "click_ts"),
      buys.toDF().withColumnRenamed("ts", "buy_ts"),
      "user", "click_ts", "buy_ts", withinSeconds = 30L)
    val q = joined.select(col("l.user"), col("page"), col("amount"))
      .writeStream.format("memory").queryName("attributed")
      .outputMode("append").start()
    clicks.addData(Click(ts(0), 1L, "home"), Click(ts(5), 2L, "shop"))
    buys.addData(Buy(ts(10), 1L, 9.99),   // within 30s of user 1's click -> match
      Buy(ts(500), 2L, 5.0))              // 495s after user 2's click -> no match
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attributed").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows === Set((1L, "home", 9.99)))
  }

  test("left-outer interval join emits provably-final non-matches after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val clicks = MemoryStream[Click]
    val buys = MemoryStream[Buy]
    val joined = Ingest.intervalJoinOuter(
      clicks.toDF().withColumnRenamed("ts", "click_ts"),
      buys.toDF().withColumnRenamed("ts", "buy_ts"),
      "user", "click_ts", "buy_ts", withinSeconds = 30L,
      watermarkDelay = "10 seconds")
    val q = joined.select(col("l.user"), col("page"), col("amount"))
      .writeStream.format("memory").queryName("attribution_outer")
      .outputMode("append").start()
    clicks.addData(Click(ts(0), 1L, "home"), Click(ts(5), 2L, "shop"))
    buys.addData(Buy(ts(10), 1L, 9.99)) // user 1 converts; user 2 never does
    q.processAllAvailable()
    // advance BOTH watermarks far past user 2's join window so the
    // non-match becomes provable, then let the final batch flush it
    clicks.addData(Click(ts(1000), 9L, "late"))
    buys.addData(Buy(ts(1000), 9L, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attribution_outer").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet
    // user 1 matched; user 2's click emitted ONCE with a null amount
    assert(rows.contains((1L, "home", Some(9.99))))
    assert(rows.contains((2L, "shop", None)))
    // the matched row did not ALSO emit a phantom non-match
    assert(!rows.contains((1L, "home", None)))
  }

  test("full-outer interval join finalizes non-matches on BOTH sides") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val clicks = MemoryStream[Click]
    val buys = MemoryStream[Buy]
    val joined = Ingest.intervalJoinFullOuter(
      clicks.toDF().withColumnRenamed("ts", "click_ts"),
      buys.toDF().withColumnRenamed("ts", "buy_ts"),
      "user", "click_ts", "buy_ts", withinSeconds = 30L,
      watermarkDelay = "10 seconds")
    val q = joined.select(col("l.user").as("l_user"), col("page"),
        col("r.user").as("r_user"), col("amount"))
      .writeStream.format("memory").queryName("recon_full")
      .outputMode("append").start()
    clicks.addData(Click(ts(0), 1L, "home"), Click(ts(5), 2L, "shop"))
    buys.addData(Buy(ts(10), 1L, 9.99),  // matches user 1's click
      Buy(ts(12), 7L, 3.50))             // user 7 bought with NO click at all
    q.processAllAvailable()
    // push both watermarks past every open window, then flush finals
    clicks.addData(Click(ts(1000), 9L, "late"))
    buys.addData(Buy(ts(1000), 9L, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("recon_full").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), Option(r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet
    // the match emitted with both sides present
    assert(rows.contains((Some(1L), Some("home"), Some(1L), Some(9.99))))
    // left-only: user 2's click finalized with a nulled right side
    assert(rows.contains((Some(2L), Some("shop"), None, None)))
    // right-only: user 7's purchase finalized with a nulled LEFT side —
    // the half a left-outer join cannot produce
    assert(rows.contains((None, None, Some(7L), Some(3.50))))
    // no phantom half-rows for the matched pair
    assert(!rows.contains((Some(1L), Some("home"), None, None)))
    assert(!rows.contains((None, None, Some(1L), Some(9.99))))
  }

  test("stream-static enrichment joins the dim via broadcast each micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("id", "tier")
    val stream = MemoryStream[Cdc]
    val enriched = Ingest.enrichWithDim(stream.toDF(), dim, "id")
    val q = enriched.select("id", "v", "tier")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    stream.addData(Cdc(1, "a", "u", 1), Cdc(3, "c", "u", 2))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("enriched").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSet
    // known key enriched; unknown key kept with null tier (left join)
    assert(rows === Set((1L, "a", Some("gold")), (3L, "c", None)))
  }

  case class Delivery(ts: java.sql.Timestamp, msg_id: Long, body: String)

  test("dedupWithinWatermark drops cross-batch re-deliveries inside the window") {
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
    val stream = MemoryStream[Delivery]
    val deduped = Ingest.dedupWithinWatermark(stream.toDF(), "ts", "10 minutes", "msg_id")
    val q = deduped.writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    stream.addData(Delivery(ts(0), 1L, "a"), Delivery(ts(1), 2L, "b"))
    q.processAllAvailable()
    // same msg_id re-delivered in a LATER micro-batch, still inside the
    // watermark window — the batch-scoped dedup cannot catch this
    stream.addData(Delivery(ts(2), 1L, "a-dup"), Delivery(ts(3), 3L, "c"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("deduped").collect().map(_.getLong(1)).sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
  }

  test("applyRawBatch observes the per-batch malformed count and quarantines rejects") {
    val good =
      """{"schema":"s","payload":{"id":1,"name":"n","description":"d","price":5,"on_offer":true,"__deleted":"false"}}"""
    val del =
      """{"schema":"s","payload":{"id":2,"name":"x","description":"d","price":9,"on_offer":false,"__deleted":"true"}}"""
    val table = new KeyedParquetTable(spark, tmpDir("rawb_tbl"), Seq("id"))
    table.createIfNotExists(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("description", StringType), StructField("price", IntegerType),
      StructField("on_offer", BooleanType))))
    val deadLetter = new KeyedParquetTable(spark, tmpDir("rawb_dl"), Seq("raw_value"))
    val lineage = new KeyedParquetTable(spark, tmpDir("rawb_lin"), Seq("batch_id"),
      Nil, bucketCount = 4)
    val raw = Seq(Some(good), Some(del), Some("{not json"), None, Some("empty"))
      .toDF("value")
    val m = Ingest.applyRawBatch(raw, 7L, table, Seq(col("price").desc),
      Some(lineage), Some(deadLetter))
    // metrics observed on the merge's own scan: 5 raw, 3 malformed, 2 valid
    assert(m.applied && m.n_raw === 5L && m.n_malformed === 3L && m.n_valid === 2L)
    // good upserted; the delete targeted an absent key (no-op)
    assert(table.read().select("id").as[Int].collect().toSeq === Seq(1))
    assert(deadLetter.read().count() === 3L)
    assert(deadLetter.read().select("batch_id").distinct().as[Long].head() === 7L)
    assert(lineage.read().filter(col("batch_id") === 7L).count() === 1L)
    // a replayed batch is skipped: no metrics action, no double quarantine
    val m2 = Ingest.applyRawBatch(raw, 7L, table, Seq(col("price").desc),
      Some(lineage), Some(deadLetter))
    assert(!m2.applied)
    assert(deadLetter.read().count() === 3L)
  }

  test("applyRawBatchEvolving lands drifted payload fields via metadata-only evolution") {
    def base(id: Int, name: String) =
      s"""{"schema":"s","payload":{"id":$id,"name":"$name","description":"d","price":5,"on_offer":true,"__deleted":"false"}}"""
    def drift(id: Int, name: String, ch: String) =
      s"""{"schema":"s","payload":{"id":$id,"name":"$name","description":"d","price":7,"on_offer":true,"__deleted":"false","channel":"$ch","region":"eu"}}"""
    val table = new KeyedParquetTable(spark, tmpDir("evolve_tbl"), Seq("id"))
    table.createIfNotExists(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("description", StringType), StructField("price", IntegerType),
      StructField("on_offer", BooleanType))))

    // batch 1: no drift — no evolution, plain merge
    val (m1, ev1) = Ingest.applyRawBatchEvolving(
      Seq(base(1, "a"), base(2, "b")).toDF("value"), 1L, table, Seq(col("price").desc))
    assert(m1.applied && ev1.isEmpty)
    assert(table.read().columns.toSeq ===
      Seq("id", "name", "description", "price", "on_offer"))

    // batch 2: upstream added channel+region — both land as string columns
    // (metadata-only), pre-drift rows read NULL
    val batch2 = Seq(drift(2, "b2", "web"), drift(3, "c", "app")).toDF("value")
    val (m2, ev2) = Ingest.applyRawBatchEvolving(batch2, 2L, table, Seq(col("price").desc))
    assert(m2.applied && ev2.toSet === Set("channel", "region"))
    val got = table.read().collect()
      .map(r => r.getInt(0) -> Option(r.getAs[String]("channel"))).toMap
    assert(got === Map(1 -> None, 2 -> Some("web"), 3 -> Some("app")))

    // replayed batch 2: columns already exist, merge txn-skips — no-op
    val vNow = table.currentVersion
    val (m2r, ev2r) = Ingest.applyRawBatchEvolving(batch2, 2L, table, Seq(col("price").desc))
    assert(!m2r.applied && ev2r.isEmpty && table.currentVersion === vNow)

    // batch 3: the source calmed down (no drifted fields) — the evolved
    // columns null-fill instead of failing the merge
    val (m3, ev3) = Ingest.applyRawBatchEvolving(
      Seq(base(4, "d")).toDF("value"), 3L, table, Seq(col("price").desc))
    assert(m3.applied && ev3.isEmpty)
    val after = table.read().collect()
      .map(r => r.getInt(0) -> Option(r.getAs[String]("channel"))).toMap
    assert(after(4) === None && after(2) === Some("web"))
  }

  test("drainAvailableRawEvolving absorbs drift inside a checkpointed stream") {
    implicit val sqlCtx = spark.sqlContext
    def base(id: Int) =
      s"""{"schema":"s","payload":{"id":$id,"name":"n$id","description":"d","price":5,"on_offer":true,"__deleted":"false"}}"""
    def drift(id: Int, ch: String) =
      s"""{"schema":"s","payload":{"id":$id,"name":"n$id","description":"d","price":7,"on_offer":true,"__deleted":"false","channel":"$ch"}}"""
    val table = new KeyedParquetTable(spark, tmpDir("evostream_tbl"), Seq("id"))
    table.createIfNotExists(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("description", StringType), StructField("price", IntegerType),
      StructField("on_offer", BooleanType))))
    val ckpt = tmpDir("evostream_ckpt")
    val stream = MemoryStream[String]
    var evolved = Seq.empty[Seq[String]]
    // first drain: pre-drift batch
    stream.addData(base(1), base(2))
    var q = Ingest.drainAvailableRawEvolving(
      stream.toDF().withColumnRenamed("value", "value"), table,
      Seq(col("price").desc), ckpt, onEvolve = f => evolved :+= f)
    q.awaitTermination(); assert(evolved.isEmpty)
    // second drain: the upstream altered — channel appears
    stream.addData(drift(2, "web"), drift(3, "app"))
    q = Ingest.drainAvailableRawEvolving(
      stream.toDF(), table, Seq(col("price").desc), ckpt,
      onEvolve = f => evolved :+= f)
    q.awaitTermination()
    assert(evolved === Seq(Seq("channel")))
    val got = table.read().collect()
      .map(r => r.getInt(0) -> Option(r.getAs[String]("channel"))).toMap
    assert(got === Map(1 -> None, 2 -> Some("web"), 3 -> Some("app")))
  }

  test("drainAvailableRaw emits per-batch dead-letter metrics from the stream") {
    implicit val sqlCtx = spark.sqlContext
    val good =
      """{"schema":"s","payload":{"id":1,"name":"n","description":"d","price":5,"on_offer":true,"__deleted":"false"}}"""
    val table = new KeyedParquetTable(spark, tmpDir("rawstream_tbl"), Seq("id"))
    table.createIfNotExists(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("description", StringType), StructField("price", IntegerType),
      StructField("on_offer", BooleanType))))
    val deadLetter = new KeyedParquetTable(spark, tmpDir("rawstream_dl"), Seq("raw_value"))
    val metrics = scala.collection.mutable.ArrayBuffer.empty[Ingest.RawBatchMetrics]
    val stream = MemoryStream[String]
    stream.addData(good, "{not json", "empty")
    val q = Ingest.drainAvailableRaw(stream.toDF(), table,
      Seq(col("price").desc), tmpDir("rawstream_ckpt"),
      deadLetter = Some(deadLetter),
      onMetrics = m => metrics.synchronized { metrics += m })
    q.awaitTermination()
    assert(metrics.map(_.n_raw).sum === 3L)
    assert(metrics.map(_.n_malformed).sum === 2L)
    assert(table.read().count() === 1L)
    assert(deadLetter.read().count() === 2L)
  }

  test("capstone: raw envelopes → dead-letter + entity state + maintained view") {
    // the reference's whole pipeline composed: raw Debezium-style strings
    // (some malformed) → observed dead-letter parse → classify →
    // retraction-aware incremental view over the entity state — with
    // exactly-once txn guards, driven through a checkpointed stream
    import graft.streaming.IncrementalAgg
    import graft.cdc.CdcParse
    implicit val sqlCtx = spark.sqlContext
    def env(id: Int, name: String, price: Int, deleted: Boolean) =
      s"""{"schema":"s","payload":{"id":$id,"name":"$name","description":"d","price":$price,"on_offer":true,"__deleted":"$deleted"}}"""
    val entity = new KeyedParquetTable(spark, tmpDir("rawcombo_ent"), Seq("id"))
    val aggT = new KeyedParquetTable(spark, tmpDir("rawcombo_agg"), Seq("name"))
    val deadLetter = new KeyedParquetTable(spark, tmpDir("rawcombo_dl"), Seq("raw_value"))
    val checkpoint = tmpDir("rawcombo_ckpt")
    val stream = MemoryStream[String]
    val malformedTotal = new java.util.concurrent.atomic.AtomicLong
    def drain(): Unit = {
      val q = stream.toDF().writeStream
        .option("checkpointLocation", checkpoint)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val (valid, rejected, obs) = CdcParse.parseWithDeadLetterObserved(b)
          val parsed = valid.withColumn("operation",
            CdcParse.classifyOperation(col("__deleted"), col("id")))
            .drop("__deleted")
          IncrementalAgg.applyCdcBatch(entity, aggT, parsed, "name", "price",
            Seq(col("price").desc), txnId = Some(batchId.toString))
          val n = Option(obs.get("n_malformed")).fold(0L)(_.asInstanceOf[Long])
          malformedTotal.addAndGet(n)
          if (n > 0) deadLetter.append(rejected)
          ()
        }.start()
      q.awaitTermination(60000)
    }
    stream.addData(env(1, "a", 10, false), env(2, "b", 20, false), "{not json")
    drain()
    // group move (1: a→b), insert (3: c), delete (2), one more malformed
    stream.addData(env(1, "b", 30, false), env(3, "c", 7, false),
      env(2, "b", 20, true), "")
    drain()
    assert(malformedTotal.get() === 2L)
    assert(deadLetter.read().count() === 2L)
    assert(entity.read().orderBy("id").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(3)))
      === Array((1, "b", 30), (3, "c", 7)))
    // the maintained view equals the from-scratch aggregate over the
    // surviving state: group a vanished, b holds the moved entity
    val view = IncrementalAgg.snapshot(aggT, "price")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(view === Map("b" -> ((1L, 30.0)), "c" -> ((1L, 7.0))))
  }

  test("startRaw processes raw batches continuously with per-batch metrics") {
    implicit val sqlCtx = spark.sqlContext
    val good =
      """{"schema":"s","payload":{"id":4,"name":"n","description":"d","price":5,"on_offer":true,"__deleted":"false"}}"""
    val table = new KeyedParquetTable(spark, tmpDir("rawcont_tbl"), Seq("id"))
    table.createIfNotExists(StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("description", StringType), StructField("price", IntegerType),
      StructField("on_offer", BooleanType))))
    val metrics = scala.collection.mutable.ArrayBuffer.empty[Ingest.RawBatchMetrics]
    val stream = MemoryStream[String]
    val q = Ingest.startRaw(stream.toDF(), table, Seq(col("price").desc),
      tmpDir("rawcont_ckpt"),
      onMetrics = m => metrics.synchronized { metrics += m },
      triggerMs = 50L)
    stream.addData(good, "{not json")
    q.processAllAvailable()
    q.stop()
    assert(metrics.synchronized(metrics.map(_.n_raw).sum) === 2L)
    assert(metrics.synchronized(metrics.map(_.n_malformed).sum) === 1L)
    assert(table.read().select("id").as[Int].collect().toSeq === Seq(4))
  }
}
