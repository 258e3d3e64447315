package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.cdc.KeyedParquetTable
import graft.ops.Dedup

/** Structured Streaming CDC ingest — the Spark-native replacement for the
  * reference's hand-rolled poll/flush loops
  * (`/root/reference/src/processor/spark_batch.py:304-406`,
  * `spark_exactly_once.py:399-562`).
  *
  * Delivery model: the checkpoint directory owns source offsets; each
  * micro-batch applies ONE idempotent dedup+MERGE with the Spark `batchId`
  * recorded in the lineage table. Replayed batches (after a crash between
  * merge-commit and checkpoint-commit) are detected by batchId and skipped —
  * the canonical exactly-once-to-table pattern, replacing the reference's
  * uuid cache + per-partition offset INSERTs (`spark_exactly_once.py:292-397`)
  * whose one-commit-per-partition bookkeeping is its main scale bug.
  *
  * In production the source is `spark.readStream.format("kafka")`; this
  * environment ships no Kafka connector jar, so tests drive the same code
  * through `MemoryStream` — the transform/merge path is identical either way.
  */
object Ingest {

  /** Lineage row recorded once per applied micro-batch (K5 — one append per
    * batch, not per partition).
    */
  final case class BatchLineage(
      batch_id: Long,
      record_count: Long,
      status: String)

  /** Start a checkpointed micro-batch ingest into `table`.
    *
    * @param parsed   streaming DataFrame already through CdcParse (payload
    *                 columns + operation column)
    * @param table    merge target
    * @param ordering latest-wins ordering within a batch (e.g. Kafka
    *                 (partition, offset) — deterministic, per SURVEY §7.4.5)
    * @param lineage  optional lineage table for batch accounting
    */
  def start(parsed: DataFrame, table: KeyedParquetTable, ordering: Seq[Column],
            checkpointDir: String, lineage: Option[KeyedParquetTable] = None,
            triggerMs: Long = 1000L, opCol: String = "operation",
            mor: Boolean = false): StreamingQuery =
    run(parsed, table, ordering, checkpointDir, lineage, opCol,
      Trigger.ProcessingTime(triggerMs), mor)

  /** Shared checkpoint/foreachBatch wiring for [[start]] and
    * [[drainAvailable]] — one place to evolve query naming/error handling.
    */
  private def run(parsed: DataFrame, table: KeyedParquetTable,
                  ordering: Seq[Column], checkpointDir: String,
                  lineage: Option[KeyedParquetTable], opCol: String,
                  trigger: Trigger, mor: Boolean = false): StreamingQuery =
    parsed.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, table, ordering, lineage, opCol, mor)
        ()
      }
      .start()

  /** Apply ONE micro-batch idempotently: dedup → merge (txn-marked with the
    * batch id) ∥ record lineage, each half skipped if already recorded.
    * Returns true if any work ran.
    *
    * The table merge and the lineage append commit DIFFERENT tables from
    * the same immutable checkpointed batch, so they run CONCURRENTLY — the
    * hot ingest path pays max(merge, lineage) commit latency instead of
    * the sum. Recovery is per-half, not ordered: the merge commits the
    * batch id as its txn marker ([[KeyedParquetTable.lastTxn]]) and the
    * lineage row records it independently, so a crash between the two
    * re-applies exactly the missing half on Structured Streaming's
    * redelivery. (Re-merging a delivered batch would be a semantic no-op
    * anyway — upserts overwrite with identical values — the markers exist
    * to skip the wasted work and keep the lineage exact.)
    *
    * Replay probe cost: both halves record the batch id as their txn
    * marker, so each probe is a metadata read — no Spark job.
    */
  def applyBatch(batch: DataFrame, batchId: Long, table: KeyedParquetTable,
                 ordering: Seq[Column], lineage: Option[KeyedParquetTable],
                 opCol: String = "operation", mor: Boolean = false): Boolean = {
    val spark = batch.sparkSession
    import spark.implicits._
    val batchTxn = batchId.toString
    // lineage appends carry the batch id as their txn marker; markers
    // advance monotonically with Structured Streaming's batch ids under one
    // checkpoint, so a marker at or past this id proves the row was recorded
    val lineageDone = lineage.exists(_.lastTxn.flatMap(_.toLongOption).exists(_ >= batchId))
    val mergeDone = table.lastTxn.contains(batchTxn)
    // both halves recorded → pure replay, nothing to do
    if ((lineage.isEmpty || lineageDone) && mergeDone) return false
    // localCheckpoint: the count, the merge's bucket discovery, and the
    // merge write would otherwise each re-run the dedup window (3× the
    // batch shuffle on the hot ingest path) — and the count AND the merge's
    // touched-bucket probe both RIDE the checkpoint job as observed
    // metrics, so the steady-state batch pays checkpoint + merge write,
    // with zero standalone probe jobs
    val canProbe = !mor && table.bucketCount > 0 &&
      table.bucketKeys.forall(batch.columns.contains)
    val obs = org.apache.spark.sql.Observation()
    val metrics = count(lit(1)).as("__n") +:
      (if (canProbe) Seq(table.bucketSetMetric(table.bucketKeys.map(col)).as("__bk"))
       else Nil)
    val deduped = Dedup.dedupLatest(batch, table.keys, ordering)
      .observe(obs, metrics.head, metrics.tail: _*)
      .localCheckpoint(true)
    val n = obs.get("__n").asInstanceOf[Long]
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fm =
      if (!mergeDone && n > 0) Future(
        // mor: the batch's delete ops defer to the snapshot delete set
        // (zero bucket rewrites for tombstones) — right for delete-heavy
        // streams; same txn-marked exactly-once semantics either way
        if (mor) table.mergeMor(deduped, opCol, Some(batchTxn))
        else table.merge(deduped, opCol, Some(batchTxn),
          if (canProbe) Some(table.bucketSet(obs.get("__bk"))) else None))
      else Future.unit
    val fl =
      if (!lineageDone)
        Future(lineage.foreach(_.append(
          Seq(BatchLineage(batchId, n, "applied")).toDF(), Some(batchTxn))))
      else Future.unit
    Await.result(fm, Duration.Inf)
    Await.result(fl, Duration.Inf)
    true
  }

  /** Per-batch metrics of a RAW (unparsed) micro-batch ingest, observed on
    * the same pass that parsed and merged the batch — zero extra scans for
    * the dead-letter accounting the reference silently lacks
    * (`spark_batch.py:152-190` drops malformed messages in try/except).
    */
  final case class RawBatchMetrics(
      applied: Boolean, n_raw: Long, n_malformed: Long, n_valid: Long)

  /** Apply one RAW envelope micro-batch: parse with a dead-letter split
    * ([[graft.cdc.CdcParse.parseWithDeadLetterObserved]]), classify, then
    * the same idempotent dedup+merge as [[applyBatch]]; malformed rows are
    * quarantined to `deadLetter` and their count is OBSERVED on the merge's
    * own scan (Observation API), so every batch emits auditable
    * (n_raw, n_malformed) metrics without a second pass over the input.
    * The quarantine append runs only when malformed rows exist, so the
    * steady-state clean path stays one scan.
    *
    * @param classify parsed-payload frame → CDC frame with `opCol` (defaults
    *                 to the Debezium `__deleted`/key classifier)
    */
  def applyRawBatch(raw: DataFrame, batchId: Long, table: KeyedParquetTable,
                    ordering: Seq[Column],
                    lineage: Option[KeyedParquetTable] = None,
                    deadLetter: Option[KeyedParquetTable] = None,
                    valueCol: String = "value",
                    schema: org.apache.spark.sql.types.StructType = graft.cdc.CdcModel.envelopeSchema,
                    classify: DataFrame => DataFrame = null,
                    opCol: String = "operation",
                    mor: Boolean = false): RawBatchMetrics = {
    val (valid, rejected, obs) =
      graft.cdc.CdcParse.parseWithDeadLetterObserved(raw, valueCol, schema)
    val toCdc = Option(classify).getOrElse { (df: DataFrame) =>
      df.withColumn(opCol, graft.cdc.CdcParse.classifyOperation(
        col("__deleted"), col(table.keys.head))).drop("__deleted")
    }
    val applied = applyBatch(toCdc(valid), batchId, table, ordering, lineage,
      opCol, mor)
    if (!applied) return RawBatchMetrics(applied = false, -1L, -1L, 0L)
    // applyBatch's localCheckpoint ran an action over the observed plan, so
    // this get() returns immediately (a replayed batch runs no action —
    // hence the early return above, or get() would block forever)
    val row = obs.get
    val nRaw = row("n_raw").asInstanceOf[Long]
    val nMalformed = Option(row("n_malformed")).fold(0L)(_.asInstanceOf[Long])
    if (nMalformed > 0) deadLetter.foreach(
      _.append(rejected.withColumn("batch_id", lit(batchId))))
    RawBatchMetrics(applied = true, nRaw, nMalformed, nRaw - nMalformed)
  }

  /** [[applyRawBatch]] with upstream schema-DRIFT tolerance — the consumer
    * half of an upstream `ALTER TABLE ADD COLUMN` arriving mid-stream:
    *
    *  1. detect the batch's payload field names
    *     ([[graft.cdc.CdcParse.payloadFieldNames]], one distinct job);
    *  2. extend the envelope schema with the unknown ones, STRING-typed,
    *     so `from_json` stops silently dropping them;
    *  3. metadata-only `addColumn` on the target for each field it lacks
    *     (zero data I/O; pre-drift rows read NULL) — replay-safe: a
    *     redelivered batch finds the columns present and commits nothing;
    *  4. null-fill fields the TABLE has but this batch doesn't carry
    *     (earlier drift, calmer source) and delegate to [[applyRawBatch]]
    *     for the usual dedup/merge/lineage/dead-letter path.
    *
    * Returns the batch metrics plus the field names evolved THIS call.
    * Drifted fields land as strings by design — promote deliberately once
    * semantics are known (a guessed numeric type would turn one odd value
    * into a silent null). Internal `__`-prefixed envelope fields are never
    * table columns.
    */
  def applyRawBatchEvolving(raw: DataFrame, batchId: Long,
                            table: KeyedParquetTable, ordering: Seq[Column],
                            lineage: Option[KeyedParquetTable] = None,
                            deadLetter: Option[KeyedParquetTable] = None,
                            valueCol: String = "value",
                            schema: org.apache.spark.sql.types.StructType = graft.cdc.CdcModel.envelopeSchema,
                            classify: DataFrame => DataFrame = null,
                            opCol: String = "operation",
                            mor: Boolean = false): (RawBatchMetrics, Seq[String]) = {
    import org.apache.spark.sql.types.{StringType, StructType}
    require(table.exists, s"evolving ingest target ${table.root} must exist")
    val basePayload = schema("payload").dataType.asInstanceOf[StructType]
    val drifted = graft.cdc.CdcParse.payloadFieldNames(raw, valueCol)
      .filterNot(f => basePayload.fieldNames.contains(f) || f.startsWith("__"))
    val extended = graft.cdc.CdcParse.withPayloadFields(schema, drifted)
    val newCols = drifted.filterNot(table.read().columns.contains)
    newCols.foreach(f => table.addColumn(f, StringType))
    val tableCols = table.read().schema
    val classifyBase = Option(classify).getOrElse { (df: DataFrame) =>
      df.withColumn(opCol, graft.cdc.CdcParse.classifyOperation(
        col("__deleted"), col(table.keys.head))).drop("__deleted")
    }
    val classifyFilled: DataFrame => DataFrame = df => {
      val c = classifyBase(df)
      val have = c.columns.toSet
      tableCols.fields.filterNot(f => have(f.name)).foldLeft(c) { (d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType))
      }
    }
    val metrics = applyRawBatch(raw, batchId, table, ordering, lineage,
      deadLetter, valueCol, extended, classifyFilled, opCol, mor)
    (metrics, newCols)
  }

  /** Checkpointed drain-and-stop ingest of a RAW envelope stream through
    * [[applyRawBatch]]: parse + dead-letter quarantine + observed malformed
    * metrics + idempotent merge, per micro-batch. `onMetrics` receives each
    * batch's [[RawBatchMetrics]] (emit to a metrics sink, log, assert in
    * tests) — the per-batch dead-letter accounting wired into the
    * streaming path itself.
    */
  def drainAvailableRaw(raw: DataFrame, table: KeyedParquetTable,
                        ordering: Seq[Column], checkpointDir: String,
                        lineage: Option[KeyedParquetTable] = None,
                        deadLetter: Option[KeyedParquetTable] = None,
                        valueCol: String = "value",
                        schema: org.apache.spark.sql.types.StructType = graft.cdc.CdcModel.envelopeSchema,
                        classify: DataFrame => DataFrame = null,
                        opCol: String = "operation",
                        onMetrics: RawBatchMetrics => Unit = _ => ()): StreamingQuery =
    runRaw(raw, table, ordering, checkpointDir, lineage, deadLetter, valueCol,
      schema, classify, opCol, onMetrics, Trigger.AvailableNow())

  /** [[drainAvailableRaw]] through the DRIFT-TOLERANT batch apply
    * ([[applyRawBatchEvolving]]): a checkpointed stream whose upstream may
    * ALTER TABLE mid-flight — new payload fields land as string columns
    * the moment the first batch carries them, with the same exactly-once
    * txn semantics. `onEvolve` fires with the field names each time a
    * batch actually evolves the table (alert/audit hook; pair with
    * [[graft.validate.Validation.schemaDriftCheck]] when the policy is
    * alert-and-hold instead).
    */
  def drainAvailableRawEvolving(raw: DataFrame, table: KeyedParquetTable,
                                ordering: Seq[Column], checkpointDir: String,
                                lineage: Option[KeyedParquetTable] = None,
                                deadLetter: Option[KeyedParquetTable] = None,
                                valueCol: String = "value",
                                schema: org.apache.spark.sql.types.StructType = graft.cdc.CdcModel.envelopeSchema,
                                classify: DataFrame => DataFrame = null,
                                opCol: String = "operation",
                                onMetrics: RawBatchMetrics => Unit = _ => (),
                                onEvolve: Seq[String] => Unit = _ => ()): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (m, evolved) = applyRawBatchEvolving(batch, batchId, table,
          ordering, lineage, deadLetter, valueCol, schema, classify, opCol)
        if (evolved.nonEmpty) onEvolve(evolved)
        onMetrics(m)
      }
      .start()

  /** Continuous twin of [[drainAvailableRaw]] — the raw-envelope analog of
    * [[start]], firing every `triggerMs`.
    */
  def startRaw(raw: DataFrame, table: KeyedParquetTable,
               ordering: Seq[Column], checkpointDir: String,
               lineage: Option[KeyedParquetTable] = None,
               deadLetter: Option[KeyedParquetTable] = None,
               valueCol: String = "value",
               schema: org.apache.spark.sql.types.StructType = graft.cdc.CdcModel.envelopeSchema,
               classify: DataFrame => DataFrame = null,
               opCol: String = "operation",
               onMetrics: RawBatchMetrics => Unit = _ => (),
               triggerMs: Long = 1000L): StreamingQuery =
    runRaw(raw, table, ordering, checkpointDir, lineage, deadLetter, valueCol,
      schema, classify, opCol, onMetrics, Trigger.ProcessingTime(triggerMs))

  private def runRaw(raw: DataFrame, table: KeyedParquetTable,
                     ordering: Seq[Column], checkpointDir: String,
                     lineage: Option[KeyedParquetTable],
                     deadLetter: Option[KeyedParquetTable], valueCol: String,
                     schema: org.apache.spark.sql.types.StructType,
                     classify: DataFrame => DataFrame, opCol: String,
                     onMetrics: RawBatchMetrics => Unit,
                     trigger: Trigger): StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onMetrics(applyRawBatch(batch, batchId, table, ordering, lineage,
          deadLetter, valueCol, schema, classify, opCol))
        ()
      }
      .start()

  /** Drain-and-stop ingest: `Trigger.AvailableNow` processes everything
    * available at start (respecting source rate limits, checkpointed batch
    * boundaries) and terminates — the production pattern for SCHEDULED
    * ingest jobs, and the structured equivalent of the reference's
    * poll-until-empty-then-flush loop (`spark_exactly_once.py:399-562`)
    * with the offset bookkeeping handled by the checkpoint instead of
    * hand-rolled commits. Same idempotent [[applyBatch]] core as [[start]];
    * restarting after a crash resumes from the checkpoint and the lineage
    * guard skips any batch that already committed.
    */
  def drainAvailable(parsed: DataFrame, table: KeyedParquetTable,
                     ordering: Seq[Column], checkpointDir: String,
                     lineage: Option[KeyedParquetTable] = None,
                     opCol: String = "operation",
                     mor: Boolean = false): StreamingQuery =
    run(parsed, table, ordering, checkpointDir, lineage, opCol,
      Trigger.AvailableNow(), mor)

  /** Batch-mode replay twin: apply a bounded CDC frame as one merge —
    * used for backfill and for the reference's batch path.
    */
  def replayOnce(parsed: DataFrame, table: KeyedParquetTable,
                 ordering: Seq[Column], opCol: String = "operation"): Long = {
    val deduped = Dedup.dedupLatest(parsed, table.keys, ordering)
    table.merge(deduped, opCol)
  }

  /** Keyed running-latest state carried across micro-batches. */
  final case class KeyedLatest(seq: Long, payload: String, deleted: Boolean)

  /** One emitted change of the keyed materialized view. */
  final case class LatestUpdate(key: Long, seq: Long, payload: String, deleted: Boolean)

  /** Continuously-materialized latest-per-key view via
    * `KeyValueGroupedDataset.mapGroupsWithState` — custom keyed state the
    * built-in operators can't express (the brief's `mapGroupsWithState`
    * path). Each micro-batch folds its rows into per-key state (latest by
    * `seqCol`, delete-aware) and emits the key's current state; downstream
    * sinks see a CDC-style update stream of the materialized view.
    *
    * State is O(distinct keys) and partitioned by key — at cluster scale
    * the state store shards across executors with the shuffle.
    */
  def runningLatest(parsed: DataFrame, keyCol: String, seqCol: String,
                    opCol: String): org.apache.spark.sql.Dataset[LatestUpdate] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    val kv = parsed.select(
      col(keyCol).cast("long").as("key"),
      col(seqCol).cast("long").as("seq"),
      to_json(struct(parsed.columns.toIndexedSeq.map(col): _*)).as("payload"),
      (col(opCol) === "d").as("deleted")).as[LatestUpdate]
    kv.groupByKey(_.key)
      .mapGroupsWithState[KeyedLatest, LatestUpdate](
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
        (key, rows, state: org.apache.spark.sql.streaming.GroupState[KeyedLatest]) =>
          val incoming = rows.maxBy(_.seq)
          val current = state.getOption
            .filter(_.seq > incoming.seq)
            .getOrElse(KeyedLatest(incoming.seq, incoming.payload, incoming.deleted))
          state.update(current)
          LatestUpdate(key, current.seq, current.payload, current.deleted)
      }
  }

  /** Per-key session accumulator state. */
  final case class SessionState(nEvents: Long, firstSeq: Long, lastSeq: Long)

  /** A closed session emitted on processing-time timeout. */
  final case class ClosedSession(key: Long, n_events: Long, first_seq: Long, last_seq: Long)

  /** Pure state transition of the session machine — one invocation of the
    * flatMapGroupsWithState function, factored out so the logic is unit-
    * testable without driving timeout wall-clocks through a live query.
    *
    * @return (next state — None closes/removes, emitted closed session)
    */
  def sessionTransition(key: Long, seqs: Seq[Long], state: Option[SessionState],
                        timedOut: Boolean): (Option[SessionState], Option[ClosedSession]) =
    if (timedOut) {
      (None, state.map(s => ClosedSession(key, s.nEvents, s.firstSeq, s.lastSeq)))
    } else if (seqs.isEmpty) {
      (state, None)
    } else {
      val prev = state.getOrElse(SessionState(0L, seqs.min, seqs.max))
      (Some(SessionState(prev.nEvents + seqs.size,
        math.min(prev.firstSeq, seqs.min), math.max(prev.lastSeq, seqs.max))), None)
    }

  /** Session assembly via `flatMapGroupsWithState` with processing-time
    * timeouts: events accumulate per key ([[sessionTransition]]); when a key
    * goes quiet for `timeoutMs` the session closes and is emitted downstream
    * (the flatMap shape — 0 or 1 outputs per invocation). Complements
    * [[windowedCounts]] (event-time windows) with the timeout-driven state
    * machine the built-in operators can't express.
    */
  def sessionStream(parsed: DataFrame, keyCol: String, seqCol: String,
                    timeoutMs: Long): org.apache.spark.sql.Dataset[ClosedSession] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val kv = parsed.select(col(keyCol).cast("long").as("_1"),
      col(seqCol).cast("long").as("_2")).as[(Long, Long)]
    kv.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        (key, rows, state: GroupState[SessionState]) =>
          val (next, emitted) = sessionTransition(key, rows.map(_._2).toSeq,
            state.getOption, state.hasTimedOut)
          next match {
            case Some(s) => state.update(s); state.setTimeoutDuration(timeoutMs)
            case None => if (state.exists) state.remove()
          }
          emitted.iterator
      }
  }

  /** Stream-stream interval join: match rows of two event streams on a key
    * when their event times fall within `withinSeconds` of each other. Both
    * sides are watermarked so the join state is bounded — the canonical
    * correlate-two-feeds operator (e.g. clicks→purchases attribution).
    *
    * @param left / right streaming frames with `keyCol` and a timestamp col
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTs: String, rightTs: String, withinSeconds: Long,
                   watermarkDelay: String = "1 minute",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay).alias("l")
    val r = right.withWatermark(rightTs, watermarkDelay).alias("r")
    // symmetric interval, as documented: |r.ts − l.ts| ≤ within — a right
    // event slightly BEFORE its left counterpart (clock skew) still matches.
    // Both bounds reference both sides, so state stays watermark-bounded.
    l.join(r,
      col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $withinSeconds SECONDS") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $withinSeconds SECONDS"),
      joinType)
  }

  /** LEFT OUTER [[intervalJoin]] — attribution where the absence IS the
    * answer (clicks that never converted, messages never acked): a left
    * row with no right match inside the interval emits once with nulled
    * right columns, but only after the watermark passes its join window —
    * the engine must prove no matching right event can still arrive before
    * declaring the non-match. Same bounded state as the inner form; the
    * emission latency (one watermark delay + the interval) is the price of
    * a provably-final answer on an unbounded stream.
    */
  def intervalJoinOuter(left: DataFrame, right: DataFrame, keyCol: String,
                        leftTs: String, rightTs: String, withinSeconds: Long,
                        watermarkDelay: String = "1 minute"): DataFrame =
    intervalJoin(left, right, keyCol, leftTs, rightTs, withinSeconds,
      watermarkDelay, "left_outer")

  /** FULL OUTER [[intervalJoin]] — reconciliation of two feeds where
    * EITHER side's absence matters (orders vs shipments, sent vs acked:
    * "what arrived on only one feed?"). Unmatched rows from both sides
    * emit exactly once with the other side nulled, each only after the
    * watermark proves its join window can no longer fill. Same bounded
    * state as the inner form; same finality latency as the left-outer.
    */
  def intervalJoinFullOuter(left: DataFrame, right: DataFrame, keyCol: String,
                            leftTs: String, rightTs: String, withinSeconds: Long,
                            watermarkDelay: String = "1 minute"): DataFrame =
    intervalJoin(left, right, keyCol, leftTs, rightTs, withinSeconds,
      watermarkDelay, "full_outer")

  /** Stream-static dimension enrichment: join the CDC stream against a
    * batch dimension table. Planned per micro-batch as a broadcast hash
    * join (the dim re-reads each batch, so late dim updates are picked up
    * without restarting the query) — the standard pattern for decorating a
    * 100 TB/day stream with small reference data, costing no stream-side
    * shuffle at all.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, keyCol: String,
                    joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), Seq(keyCol), joinType)

  /** Watermarked streaming dedup: drop re-deliveries of the same `idCols`
    * whose event times fall inside the watermark window, with state GC'd
    * as the watermark advances — bounded-state exactly-once filtering ahead
    * of the merge (vs [[applyBatch]]'s batch-scoped dedup, which cannot see
    * across micro-batch boundaries).
    */
  def dedupWithinWatermark(stream: DataFrame, tsCol: String,
                           watermarkDelay: String, idCols: String*): DataFrame =
    stream.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols.toSeq)

  /** Event-time windowed aggregation with a watermark — the streaming
    * extension the reference leaves room for but never builds (SURVEY
    * §2.10): counts + sums per (window, key), late data beyond
    * `watermarkDelay` dropped, state bounded by the watermark.
    */
  def windowedCounts(events: DataFrame, tsCol: String, keyCol: String,
                     windowDur: String, watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col(keyCol), col("n"))
}
