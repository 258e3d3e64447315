package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cdc.KeyedParquetTable

/** Incrementally-maintained keyed aggregates — the materialized-view half
  * of a CDC pipeline: instead of recomputing `events.groupBy(key).agg(...)`
  * from scratch every batch (O(history) per refresh), fold each batch's
  * PARTIAL aggregate into a keyed aggregate table (O(batch) per refresh).
  *
  * Only algebraic aggregates participate (count, sum — anything with an
  * associative, commutative merge); the stored sum is DECIMAL so folding
  * order can never change the result, matching the engine's exact-sum
  * determinism rule.
  *
  * Scale shape: one partial aggregation over the batch (map-side combined),
  * one join against ONLY the touched keys' current rows, one keyed merge —
  * commit cost scales with the batch's key spread, not table size
  * (bucket-scoped merge in [[KeyedParquetTable]]). The same pattern the
  * lakehouse world calls incremental view maintenance.
  */
object IncrementalAgg {

  private val zeroDec = lit(BigDecimal(0)).cast("decimal(38,6)")

  /** decimal(28,6): sum's +10-digit widening lands exactly on the stored
    * decimal(38,6), so the fold itself cannot overflow below 1e32. A value
    * outside ±1e22 would cast to NULL under non-ANSI semantics and silently
    * vanish from the maintained sum — raise instead.
    */
  private def guarded(c: Column, label: String): Column = {
    val widened = c.cast("decimal(28,6)")
    when(c.isNotNull && widened.isNull,
      raise_error(lit(s"IncrementalAgg: $label value exceeds decimal(28,6) range")))
      .otherwise(widened)
  }

  /** Fold one raw batch into `table` (schema: key, n_rows long,
    * sum_<valueCol> decimal(38,6)). Creates the table on first use.
    *
    * Pass `txnId` (e.g. foreachBatch's batchId) for at-least-once sinks:
    * the id commits atomically with the merge, so a redelivered batch is
    * recognized via [[KeyedParquetTable.lastTxn]] and skipped instead of
    * double-folded.
    */
  def applyBatch(table: KeyedParquetTable, batch: DataFrame,
                 key: String, valueCol: String,
                 txnId: Option[String] = None): Unit =
    applyBatchN(table, batch, key, Seq(valueCol), txnId)

  /** Multi-measure form of [[applyBatch]]: maintains `n_rows` plus one
    * exact decimal sum per column in `valueCols` (schema: key, n_rows,
    * sum_<c>…) — a realistic view carries several measures (revenue AND
    * quantity), and folding them in one pass costs one batch aggregation
    * and one merge total, not one per measure.
    */
  def applyBatchN(table: KeyedParquetTable, batch: DataFrame,
                  key: String, valueCols: Seq[String],
                  txnId: Option[String] = None): Unit =
    applyPreparedBatch(table,
      preparePartial(table, batch, key, valueCols), key, valueCols, txnId)

  /** One append-stream batch after its commit-independent half: the
    * partial aggregate checkpointed, the bucket probe resolved. */
  private final case class PreparedBatch(
    partial: DataFrame, buckets: Option[Set[Int]])

  /** Commit-independent prefix of [[applyBatchN]] — reads only the batch,
    * so [[applyBatchesN]] runs it for batch k+1 while batch k commits. */
  private def preparePartial(table: KeyedParquetTable, batch: DataFrame,
                             key: String, valueCols: Seq[String]): PreparedBatch = {
    // coalesce: a batch where a key's values are ALL null would otherwise
    // produce a null partial, and null + current poisons the fold forever.
    // eager localCheckpoint: the bucket probe (or isEmpty), the fold and the
    // merge write all read this — materialize the batch aggregation once.
    // (A lazy persist was measured SLOWER here: cache materialization +
    // columnar conversion cost more than the one checkpoint job saves.)
    val sumAggs = valueCols.map(c =>
      coalesce(sum(guarded(col(c), c)), lit(BigDecimal(0)))
        .cast("decimal(38,6)").as(s"sum_$c"))
    val partial0 = batch.groupBy(col(key))
      .agg(count(lit(1)).as("n_rows"), sumAggs: _*)
    // the bucket probe RIDES the checkpoint job as an observed metric
    // (bucketSetMetric) — same set as bucketsFor, zero extra jobs
    val probeObs =
      if (table.bucketCount > 0) Some(org.apache.spark.sql.Observation()) else None
    val partial = probeObs.fold(partial0)(o =>
        partial0.observe(o, table.bucketSetMetric(Seq(col(key))).as("__bk")))
      .localCheckpoint(true)
    PreparedBatch(partial,
      probeObs.map(o => table.bucketSet(o.get("__bk"))))
  }

  /** Fold a SEQUENCE of append-stream batches with the same cross-batch
    * pipelining as [[applyCdcBatchesN]]: batch k+1's partial aggregation +
    * checkpoint (a pure batch read) overlaps batch k's fold-and-commit.
    * Commit order and txn semantics are identical to an [[applyBatchN]]
    * loop. `txnIds(i)` (when provided) is batch i's replay marker.
    */
  def applyBatchesN(table: KeyedParquetTable, batches: Seq[DataFrame],
                    key: String, valueCols: Seq[String],
                    txnIds: Seq[String] = Nil): Unit = {
    if (batches.isEmpty) return
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    var pending: Future[PreparedBatch] =
      Future(preparePartial(table, batches.head, key, valueCols))
    batches.indices.foreach { i =>
      val prepared = Await.result(pending, Duration.Inf)
      if (i + 1 < batches.size)
        pending = Future(preparePartial(table, batches(i + 1), key, valueCols))
      applyPreparedBatch(table, prepared, key, valueCols, txnIds.lift(i))
    }
  }

  /** Single-measure [[applyBatchesN]]. */
  def applyBatches(table: KeyedParquetTable, batches: Seq[DataFrame],
                   key: String, valueCol: String,
                   txnIds: Seq[String] = Nil): Unit =
    applyBatchesN(table, batches, key, Seq(valueCol), txnIds)

  private def applyPreparedBatch(table: KeyedParquetTable,
                                 prepared: PreparedBatch, key: String,
                                 valueCols: Seq[String],
                                 txnId: Option[String]): Unit = {
    require(valueCols.nonEmpty, "need at least one value column")
    require(table.keys == Seq(key),
      s"aggregate table must be keyed by '$key' (got ${table.keys})")
    if (txnId.isDefined && table.exists && table.lastTxn == txnId) {
      prepared.partial.unpersist(false); return // replay
    }
    val partial = prepared.partial
    // first use: the just-created empty snapshot has no parquet footers to
    // read a schema from — the first partial IS the aggregate
    val firstUse = !table.exists
    if (table.bucketCount > 0) {
      // FUSED bucketed fold, the per-micro-batch hot path. The touched
      // buckets' complete new state is
      //   (current bucket rows ∪ batch partials) re-aggregated with SUM
      // — one union, one hash aggregation, ZERO join/broadcast exchanges —
      // and [[KeyedParquetTable.replaceBuckets]] commits it directly,
      // skipping merge's anti-join re-read of rows this plan already
      // scanned. NULL keys group natively (no <=> machinery needed).
      // the observed metric doubles as the empty-batch probe (at zero
      // jobs), and the read half still scans ONLY the touched buckets —
      // O(batch-key-spread) I/O on a table that grows forever.
      val buckets = prepared.buckets.get
      if (buckets.isEmpty) return // empty batch: nothing to fold
      table.createIfNotExists(org.apache.spark.sql.types.StructType(partial.schema.fields))
      // readBuckets, NOT readForKeys: replaceBuckets requires the COMPLETE
      // state of the buckets it rewrites — a stats-opted table's
      // readForKeys may prune files within a bucket
      val cur =
        if (firstUse) partial.limit(0)
        else table.readBuckets(buckets).select(partial.columns.map(col): _*)
      val content = cur.unionByName(partial)
        .groupBy(col(key))
        .agg(sum(col("n_rows")).as("n_rows"),
          valueCols.map(c =>
            sum(col(s"sum_$c")).cast("decimal(38,6)").as(s"sum_$c")): _*)
      table.replaceBuckets(content, buckets, txnId, align = false)
    } else {
      // unbucketed fallback: join-based fold + full merge (fine for small
      // tables; bucket the table for the O(batch) path).
      // <=> throughout: a NULL key is a legitimate group, and === would
      // never match its stored row (silently resetting it every batch).
      if (partial.isEmpty) return // empty batch: nothing to fold
      table.createIfNotExists(org.apache.spark.sql.types.StructType(partial.schema.fields))
      val merged =
        if (firstUse) partial
        else {
          val cur = table.readForKeys(partial.select(col(key)))
            .select(col(key).as("__k") +: col("n_rows").as("__n") +:
              valueCols.map(c => col(s"sum_$c").as(s"__s_$c")): _*)
          val touched = cur.join(broadcast(partial.select(col(key).as("__pk"))),
            col("__k") <=> col("__pk"), "left_semi")
          partial.join(broadcast(touched), col(key) <=> col("__k"), "left")
            .select(col(key) +:
              (col("n_rows") + coalesce(col("__n"), lit(0L))).as("n_rows") +:
              valueCols.map(c =>
                (col(s"sum_$c") + coalesce(col(s"__s_$c"), zeroDec))
                  .cast("decimal(38,6)").as(s"sum_$c")): _*)
        }
      table.merge(merged.withColumn("operation", lit("u")), "operation", txnId)
    }
  }

  /** Retraction-aware fold of one CDC batch — incremental view maintenance
    * over a CHANGELOG, not just an append stream.
    *
    * MERGE-ON-READ interplay: a direct
    * [[KeyedParquetTable.deleteWhere]]/`deleteKeys` wipe on `entityTable`
    * BYPASSES the changelog — this maintainer never observes it, so the
    * aggregate keeps counting the wiped entities (the same contract as any
    * lakehouse IVM: deletes must flow through the changelog, here as
    * `opCol = "d"` rows, to retract). After a direct wipe, recompute the
    * aggregate from the entity table. Reads HERE are wipe-consistent
    * (pre-images come through the delete-set anti-join), so the folds
    * themselves never resurrect wiped rows.
    *
    * Maintains
    *
    * {{{ SELECT groupCol, count(*) AS n_rows, sum(valueCol) AS sum_<valueCol>
    *     FROM <current entity state> GROUP BY groupCol }}}
    *
    * as entities are inserted, updated (possibly moving between groups) and
    * deleted: each touched entity's CURRENT row (read back from
    * `entityTable`, the keyed state table this same batch then merges into)
    * retracts as a negative partial (count −1, sum −old), and each surviving
    * post-image adds a positive one. Groups whose live-entity count reaches
    * zero leave the view; a negative count raises (it means the changelog
    * was replayed or mis-ordered).
    *
    * Scale shape, per batch: one dedup window over the batch, one
    * touched-keys semi-filtered entity read (the broadcast key-set filter
    * travels to the data), one delta aggregation, then on a bucketed agg
    * table a FUSED fold-and-replace commit (union + re-aggregate of the
    * touched buckets, no joins) plus one keyed entity merge — O(batch),
    * never O(table), and a bounded number of Spark jobs per batch.
    */
  def applyCdcBatch(entityTable: KeyedParquetTable, aggTable: KeyedParquetTable,
                    batch: DataFrame, groupCol: String, valueCol: String,
                    ordering: Seq[Column], opCol: String = "operation",
                    txnId: Option[String] = None): Unit =
    applyCdcBatchN(entityTable, aggTable, batch, groupCol, Seq(valueCol),
      ordering, opCol, txnId)

  /** Multi-measure form of [[applyCdcBatch]]: every measure in `valueCols`
    * is maintained (count once, one exact decimal sum per column) in the
    * SAME retraction pass — additions and pre-image retractions carry all
    * the deltas together, so a k-measure view costs exactly what the
    * 1-measure view costs: one dedup window, one bucket-pruned pre-image
    * read, one delta aggregation, one fold-and-replace agg commit, one
    * keyed entity merge.
    */
  def applyCdcBatchN(entityTable: KeyedParquetTable, aggTable: KeyedParquetTable,
                     batch: DataFrame, groupCol: String, valueCols: Seq[String],
                     ordering: Seq[Column], opCol: String = "operation",
                     txnId: Option[String] = None): Unit =
    applyPreparedCdc(entityTable, aggTable,
      prepareCdcBatch(entityTable, aggTable, batch, groupCol, ordering, opCol),
      groupCol, valueCols, opCol, txnId)

  /** One CDC batch after its commit-independent half ran: the dedup window
    * materialized once, both tables' bucket probes already resolved (they
    * rode the checkpoint job as observed metrics).
    */
  private final case class PreparedCdcBatch(
    latest: DataFrame,
    entityBuckets: Option[Set[Int]],
    aggAddBuckets: Option[Set[Int]])

  /** The commit-INDEPENDENT prefix of [[applyCdcBatchN]]: dedup the batch
    * to merge cardinality, checkpoint it, resolve the bucket probes. Reads
    * only the batch — never table state — so it can run for batch k+1
    * while batch k's commits are still in flight ([[applyCdcBatchesN]]).
    *
    * merge-cardinality rule: one row per entity per batch, latest wins.
    * eager localCheckpoint: the bucket probe, the retraction key set, the
    * entity commit and the delta all read this — materialize the dedup
    * window once and truncate its lineage so the concurrent entity/agg
    * halves never recompute it. (Both alternatives measured SLOWER:
    * a lazy persist serializes the halves on cache locks; a LAZY
    * localCheckpoint — letting the bucket probe's action materialize it,
    * saving one job — lost ~25% wall-clock because under AQE the probe
    * satisfies itself from shuffle reuse without fully populating the
    * checkpoint, so later consumers recompute the window.)
    * ZERO bucket jobs per batch: both tables' bucket probes RIDE the
    * checkpoint materialization as observed metrics (bucketSetMetric) —
    * the entity set serves the empty-batch probe, the pre-image read AND
    * the entity merge; the agg-additions set (delete rows excluded, same
    * rows the `additions` filter keeps) combines with the pre-image
    * groups' set observed on the pre checkpoint to bound the agg fold —
    * where each would otherwise pay its own distinct+collect job.
    */
  private def prepareCdcBatch(entityTable: KeyedParquetTable,
                              aggTable: KeyedParquetTable, batch: DataFrame,
                              groupCol: String, ordering: Seq[Column],
                              opCol: String): PreparedCdcBatch = {
    val keys = entityTable.keys
    val latestRaw = graft.ops.Dedup.dedupLatest(batch, keys, ordering)
    val probeMetrics =
      (if (entityTable.bucketCount > 0)
        Seq(entityTable.bucketSetMetric(keys.map(col)).as("__ebk")) else Nil) ++
      (if (aggTable.bucketCount > 0)
        Seq(aggTable.bucketSetMetric(Seq(col(groupCol)),
          excludeWhen = Some(col(opCol) === "d")).as("__abk")) else Nil)
    val probeObs =
      if (probeMetrics.nonEmpty) Some(org.apache.spark.sql.Observation()) else None
    batch.sparkSession.sparkContext.setJobDescription("ivm:prepare")
    val latest = probeObs.fold(latestRaw)(o =>
        latestRaw.observe(o, probeMetrics.head, probeMetrics.tail: _*))
      .localCheckpoint(true)
    batch.sparkSession.sparkContext.setJobDescription(null)
    PreparedCdcBatch(latest,
      if (entityTable.bucketCount > 0)
        Some(entityTable.bucketSet(probeObs.get.get("__ebk"))) else None,
      if (aggTable.bucketCount > 0)
        Some(aggTable.bucketSet(probeObs.get.get("__abk"))) else None)
  }

  /** Fold a SEQUENCE of CDC batches with cross-batch pipelining: batch
    * k+1's [[prepareCdcBatch]] (the dedup window + checkpoint + probes —
    * a pure read of the batch, touching no table state) runs concurrently
    * with batch k's commits, and batch k's AGG commit stays in flight
    * while batch k+1 reads its pre-images (the entity commit it depends on
    * is always awaited first), so the per-batch critical path drops from
    * (dedup + pre-read + entity∥agg) to (pre-read + entity commit).
    * Commit ORDER — and therefore the replay protocol, retraction math and
    * txn markers — is IDENTICAL to calling [[applyCdcBatchN]] in a loop:
    * prepares and pre-reads are speculative reads, and every commit of
    * batch k still lands strictly before any commit of batch k+1
    * ([[applyPreparedCdcDeferred]] awaits the deferred agg before
    * committing). `txnIds(i)` (when provided) is batch i's replay marker.
    */
  def applyCdcBatchesN(entityTable: KeyedParquetTable, aggTable: KeyedParquetTable,
                       batches: Seq[DataFrame], groupCol: String,
                       valueCols: Seq[String], ordering: Seq[Column],
                       opCol: String = "operation",
                       txnIds: Seq[String] = Nil): Unit = {
    if (batches.isEmpty) return
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    var pending: Future[PreparedCdcBatch] = Future(
      prepareCdcBatch(entityTable, aggTable, batches.head, groupCol, ordering, opCol))
    // batch i's AGG commit stays in flight while batch i+1 runs its
    // pre-image read (applyPreparedCdcDeferred awaits it before i+1
    // commits anything — reads overlap commits, commit order never changes)
    var pendingAgg: Option[Future[Unit]] = None
    batches.indices.foreach { i =>
      val prepared = Await.result(pending, Duration.Inf)
      if (i + 1 < batches.size)
        pending = Future(prepareCdcBatch(entityTable, aggTable,
          batches(i + 1), groupCol, ordering, opCol))
      pendingAgg = applyPreparedCdcDeferred(entityTable, aggTable, prepared,
        groupCol, valueCols, opCol, txnIds.lift(i), pendingAgg)
    }
    pendingAgg.foreach(Await.result(_, Duration.Inf))
  }

  /** Single-measure [[applyCdcBatchesN]]. */
  def applyCdcBatches(entityTable: KeyedParquetTable, aggTable: KeyedParquetTable,
                      batches: Seq[DataFrame], groupCol: String, valueCol: String,
                      ordering: Seq[Column], opCol: String = "operation",
                      txnIds: Seq[String] = Nil): Unit =
    applyCdcBatchesN(entityTable, aggTable, batches, groupCol, Seq(valueCol),
      ordering, opCol, txnIds)

  private def applyPreparedCdc(entityTable: KeyedParquetTable,
                               aggTable: KeyedParquetTable,
                               prepared: PreparedCdcBatch, groupCol: String,
                               valueCols: Seq[String], opCol: String,
                               txnId: Option[String]): Unit = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    applyPreparedCdcDeferred(entityTable, aggTable, prepared, groupCol,
      valueCols, opCol, txnId, prevAgg = None)
      .foreach(Await.result(_, Duration.Inf))
  }

  /** [[applyPreparedCdc]] with the AGG half handed back as a still-running
    * future instead of awaited — the batched loop overlaps it with the
    * NEXT batch's pre-image read (a speculative READ of the entity table,
    * which this call's awaited entity commit has already advanced).
    * Commit ORDER is identical to the serial form: `prevAgg` (the previous
    * batch's agg commit) is awaited before ANY of this batch's commits
    * launch, so per-table commit sequences — and therefore the txn-marker
    * replay protocol — are unchanged; only reads overlap commits, the same
    * argument [[applyCdcBatchesN]] makes for the dedup-window prefetch.
    * Returns the pending agg future (or `prevAgg` untouched on the
    * early-out paths, which commit nothing).
    */
  private def applyPreparedCdcDeferred(entityTable: KeyedParquetTable,
                                       aggTable: KeyedParquetTable,
                                       prepared: PreparedCdcBatch, groupCol: String,
                                       valueCols: Seq[String], opCol: String,
                                       txnId: Option[String],
                                       prevAgg: Option[scala.concurrent.Future[Unit]])
      : Option[scala.concurrent.Future[Unit]] = {
    require(valueCols.nonEmpty, "need at least one value column")
    val keys = entityTable.keys
    require(aggTable.keys == Seq(groupCol),
      s"aggTable must be keyed by the group column '$groupCol' (got ${aggTable.keys})")
    // at-least-once replay guard: each table's merge commits the batch's
    // txn id ATOMICALLY with its snapshot, so after a crash anywhere
    // between the two merges the replay applies exactly the missing half —
    // the delta is never folded twice (without a txnId, a replay between
    // the merges WOULD double-apply; pass one from foreachBatch's batchId).
    // The entity probe is safe here (entity commits are always awaited
    // before this call); the AGG probe waits until prevAgg resolves below,
    // or it could read a marker mid-commit.
    val entityDone = txnId.isDefined && entityTable.exists && entityTable.lastTxn == txnId
    val latest = prepared.latest
    val entityBuckets = prepared.entityBuckets
    if (entityBuckets.fold(latest.isEmpty)(_.isEmpty)) {
      latest.unpersist(false); return prevAgg
    }
    // FUSED entity read (hot path, bucketed entity table): the touched
    // buckets' complete state is scanned ONCE and
    // cached; it then serves BOTH the retraction pre-images and the entity
    // commit (mergeUpsert over it + [[KeyedParquetTable.replaceBuckets]]),
    // where the unfused path scans the same parquet twice — readForKeys for
    // pre-images, then merge's internal anti-join re-read. Working set =
    // touched buckets, the same bound mergeScoped's own rewrite carries;
    // persist() stores MEMORY_AND_DISK, so an outsized bucket spills rather
    // than OOMs.
    val fused = entityTable.bucketCount > 0
    // the pre-image groups' agg-bucket probe rides the pre checkpoint job
    // below; an absent/empty pre contributes no buckets
    val preObs =
      if (fused && aggTable.bucketCount > 0)
        Some(org.apache.spark.sql.Observation()) else None
    var preWasRead = false
    val preState: Option[DataFrame] = if (fused) {
      entityTable.createIfNotExists(
        org.apache.spark.sql.types.StructType(latest.drop(opCol).schema.fields))
      // crash recovery under PARALLEL commits: if the entity half of this
      // txn already committed but the agg half did not, this batch's
      // pre-images live in the entity commit's parent snapshot — reading
      // them there keeps the retraction math exact in either replay order.
      // (Snapshot directories are immutable, so the lazy read stays valid
      // even after the entity half commits the next version.)
      val preV =
        if (entityDone) entityTable.currentVersion - 1
        else entityTable.currentVersion
      // a fresh (empty) snapshot has no parquet footers to read a schema
      // from — substitute an empty frame
      if (entityTable.snapshotHasFiles(preV)) {
        val raw = entityTable.readBuckets(entityBuckets.get, preV)
        preWasRead = true
        entityTable.spark.sparkContext.setJobDescription("ivm:pre-image")
        val pre = Some(preObs.fold(raw)(o => raw.observe(o,
            aggTable.bucketSetMetric(Seq(col(groupCol))).as("__pbk")))
          .localCheckpoint(true))
        entityTable.spark.sparkContext.setJobDescription(null)
        pre
      } else Some(latest.drop(opCol).limit(0))
    } else None
    // pre-image groups' agg buckets, observed on the pre checkpoint job
    // above (never resolved when the read branch didn't run — a fresh
    // entity table has nothing to retract from, so the set is empty)
    val preAggBuckets: Set[Int] =
      if (preWasRead && preObs.isDefined)
        aggTable.bucketSet(preObs.get.get("__pbk"))
      else Set.empty
    // job descriptions are thread-local: each half tags its own commit jobs
    // (futures run on pool threads) and clears on exit so a reused pool
    // thread doesn't mislabel later work in the Spark UI
    def described[T](sc: org.apache.spark.SparkContext, d: String)(body: => T): T =
      try { sc.setJobDescription(d); body } finally sc.setJobDescription(null)
    def entityHalf(): Unit = described(entityTable.spark.sparkContext,
        "ivm:entity-commit") { preState match {
      case Some(pre) =>
        // fused commit: `pre` IS the complete current state of the touched
        // buckets, so mergeUpsert over it yields their complete NEW state —
        // replaceBuckets commits that directly, skipping merge's anti-join
        // re-read of parquet this batch already scanned (and checkpointed).
        // broadcast(latest): the batch side of the anti-join is
        // batch-bounded by contract (same bound as the retraction keySet),
        // so the commit plan is shuffle-free — checkpointed bucket scan +
        // broadcast hash anti-join + union + write, no AQE stage jobs
        entityTable.replaceBuckets(
          graft.cdc.Merge.mergeUpsert(pre, broadcast(latest), keys, opCol),
          entityBuckets.get, txnId, align = false)
      case None =>
        entityTable.createIfNotExists(
          org.apache.spark.sql.types.StructType(latest.drop(opCol).schema.fields))
        entityTable.merge(latest, opCol, txnId, entityBuckets)
    } }
    // the pre-image read above was the batch's last SPECULATIVE step — it
    // overlapped the previous batch's still-running agg commit. What the
    // still-pending `prevAgg` may gate depends on whether txn markers are
    // in play:
    //  - WITH markers (`strict`): the lastTxn replay protocol reasons over
    //    "every commit of batch k lands before any commit of batch k+1" —
    //    a crash must leave each table at most ONE batch apart. So the
    //    previous agg is awaited before ANY of this batch's commits, and
    //    only then is the agg txn probe race-free.
    //  - WITHOUT markers: there is no replay protocol to protect, and the
    //    retraction math never needed the cross-TABLE barrier — it depends
    //    only on this batch's version-pinned pre-image checkpoint (already
    //    read) and on each table's own serial commit order (entity: the
    //    awaited entityFut below; agg: the deferred future chains on
    //    prevAgg before folding). So the entity commit launches without
    //    waiting for the previous agg, and the two tables' commit chains
    //    run in parallel across batches — wall-clock max(Σentity, Σagg)
    //    instead of Σ(entity + agg).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val strict = txnId.isDefined
    if (strict) prevAgg.foreach(Await.result(_, Duration.Inf))
    val aggDone = strict && aggTable.exists && aggTable.lastTxn == txnId
    if (aggDone && entityDone) { latest.unpersist(false); return None }
    // the entity commit depends only on (preState, latest) — both already
    // checkpointed and IMMUTABLE — so on the fused path it launches NOW and
    // overlaps the whole agg half (delta aggregation + fold + commit): the
    // batch pays max(entity, agg) latency instead of the sum. Crash
    // anywhere still replays exactly the missing half: each table's txn
    // marker identifies its half, and the preV read above recovers
    // pre-images even when the entity half won the race. (The unfused path
    // keeps agg-then-entity ordering, whose recovery depends on it.)
    val entityFut: Option[Future[Unit]] =
      if (fused && !entityDone) Some(Future(entityHalf())) else None
    // ---- agg half, in its own future on the fused path (returned to the
    // batched loop, which overlaps it with the next pre-read).
    // post-images add (+1, +v) to their (new) group; touched pre-images
    // retract (−1, −old) from their old group. NULL-SAFE key match in the
    // retraction (the entity merge stores null keys via <=>; a usingColumns
    // semi-join would never retract them, so the aggregate would
    // double-count a null-keyed entity every update).
    val additions = latest.filter(col(opCol) =!= "d" || col(opCol).isNull)
      .select(col(groupCol).as("__g") +: lit(1L).as("__dn") +:
        valueCols.map(c => guarded(col(c), c).as(s"__ds_$c")): _*)
    def retractions(pre: DataFrame): DataFrame = {
      // no .distinct(): dedupLatest already guarantees one row per key,
      // so a distinct here would only add a shuffle + an AQE stage job
      val keySet = broadcast(
        latest.select(keys.map(k => col(k).as(s"__t_$k")): _*))
      val cond = keys.map(k => pre(k) <=> keySet(s"__t_$k")).reduce(_ && _)
      pre.join(keySet, cond, "left_semi")
        .select(col(groupCol).as("__g") +: lit(-1L).as("__dn") +:
          valueCols.map(c => (-guarded(col(c), c)).as(s"__ds_$c")): _*)
    }
    def negGuard(folded: DataFrame): DataFrame = folded
      .withColumn("n_rows",
        when(col("n_rows") < 0, raise_error(lit(
          "IncrementalAgg: negative group count — changelog replayed or mis-ordered")))
          .otherwise(col("n_rows")))
      .filter(col("n_rows") =!= 0)
    def foldInto(cur: DataFrame, deltaRows: DataFrame): DataFrame =
      negGuard(cur.unionByName(deltaRows)
        .groupBy(col(groupCol))
        .agg(sum(col("n_rows")).as("n_rows"),
          valueCols.map(c =>
            // coalesce: a group whose values are ALL null folds to sum 0,
            // matching what the pre-aggregated path stored for it
            coalesce(sum(col(s"sum_$c")), lit(BigDecimal(0)))
              .cast("decimal(38,6)").as(s"sum_$c")): _*))

    def aggHalf(): Unit =
      described(aggTable.spark.sparkContext, "ivm:agg-commit")(aggHalfInner())
    def aggHalfInner(): Unit = {
      // First-use is decided HERE, not on the main thread: every call path
      // reaches this point only after the previous batch's deferred agg
      // commit has been awaited (strict: line ~485; markerless fused: the
      // prevAgg await inside aggFut; markerless unfused: the await just
      // before the serial aggHalf call). Probing `exists` earlier races the
      // previous batch's table-creating commit — a later batch could see
      // exists=false, take the first-use `limit(0)` branch, and
      // replaceBuckets would silently discard the prior batches' folded
      // state for the touched buckets.
      val aggFirstUse = !aggTable.exists
      if (fused && aggTable.bucketCount > 0) {
      // FUSED bucketed fold (the per-micro-batch hot path): the touched
      // buckets' complete new state is (current bucket rows ∪ RAW ±delta
      // rows) aggregated in ONE hash aggregation — the per-group delta
      // pre-aggregation (a shuffle + a checkpoint job per batch) is
      // algebraically redundant under an associative SUM, so it is skipped
      // entirely. Committed via replaceBuckets, which skips merge's
      // anti-join re-read. NULL groups group natively. A group whose live
      // count reaches zero is simply absent from the new state (= delete);
      // negative raises.
      //
      // Bucket probe WITHOUT the retraction semi-join OR any probe job:
      // replaceBuckets is correct for any SUPERSET of the touched agg
      // buckets (the fold rewrites the COMPLETE state of every bucket it
      // lists), and the groups of (additions ∪ pre) were already observed
      // as metrics on the two checkpoint materializations above — the
      // probe that once cost its own narrow job is now set union on the
      // driver. The superset stays bounded by the batch's working set:
      // pre IS the touched entity buckets' state.
      val pre = preState.get
      val aggBuckets = prepared.aggAddBuckets.get ++ preAggBuckets
      if (aggBuckets.isEmpty) return // all-delete batch on empty pre state
      val deltaRows = additions.unionByName(retractions(pre)).select(
        col("__g").as(groupCol) +: col("__dn").as("n_rows") +:
          valueCols.map(c =>
            col(s"__ds_$c").cast("decimal(38,6)").as(s"sum_$c")): _*)
      aggTable.createIfNotExists(
        org.apache.spark.sql.types.StructType(deltaRows.schema.fields))
      // readBuckets, NOT readForKeys: replaceBuckets requires the
      // COMPLETE state of the buckets it rewrites
      val cur =
        if (aggFirstUse) deltaRows.limit(0)
        else aggTable.readBuckets(aggBuckets)
          .select(deltaRows.columns.map(col): _*)
      aggTable.replaceBuckets(foldInto(cur, deltaRows), aggBuckets, txnId,
        align = false)
    } else {
      // unfused fallback (unbucketed tables):
      // aggregate the delta per group once and checkpoint it — it embeds
      // the pre-image read and feeds the bucket probe, the fold read and
      // the commit write, which would otherwise each re-run it.
      val delta0 =
        if (preState.isDefined || entityTable.exists) {
          // bucket-pruned pre-image read: only the buckets the batch's
          // entity keys hash into are scanned (O(touched buckets) I/O on a
          // bucketed entity table)
          val pre = preState.getOrElse(
            entityTable.readForKeys(latest.select(keys.map(col): _*),
              entityBuckets))
          additions.unionByName(retractions(pre))
        } else additions
      val delta = delta0.groupBy(col("__g"))
        .agg(sum(col("__dn")).as("__dnet"),
          valueCols.map(c =>
            coalesce(sum(col(s"__ds_$c")), lit(BigDecimal(0)))
              .cast("decimal(38,6)").as(s"__dsum_$c")): _*)
        .localCheckpoint(true)
      val deltaRows = delta.select(
        col("__g").as(groupCol) +: col("__dnet").as("n_rows") +:
          valueCols.map(c => col(s"__dsum_$c").as(s"sum_$c")): _*)
      if (aggTable.bucketCount > 0) {
        val aggBuckets = aggTable.bucketsFor(deltaRows.select(col(groupCol)))
        if (aggBuckets.isEmpty) return // empty delta: nothing to fold
        aggTable.createIfNotExists(
          org.apache.spark.sql.types.StructType(deltaRows.schema.fields))
        val cur =
          if (aggFirstUse) deltaRows.limit(0)
          else aggTable.readBuckets(aggBuckets)
            .select(deltaRows.columns.map(col): _*)
        aggTable.replaceBuckets(foldInto(cur, deltaRows), aggBuckets, txnId,
        align = false)
      } else {
        // unbucketed: join-based fold + full merge.
        // <=> throughout: a NULL group is a legitimate group, and ===
        // would never match its stored row (silently resetting it)
        val folded =
          if (aggFirstUse) deltaRows
          else {
            val cur = aggTable.readForKeys(deltaRows.select(col(groupCol)))
              .select(col(groupCol).as("__k") +: col("n_rows").as("__n") +:
                valueCols.map(c => col(s"sum_$c").as(s"__s_$c")): _*)
            val touched = cur.join(broadcast(delta.select(col("__g").as("__pk"))),
              col("__k") <=> col("__pk"), "left_semi")
            delta.join(broadcast(touched), col("__g") <=> col("__k"), "left")
              .select(col("__g").as(groupCol) +:
                (col("__dnet") + coalesce(col("__n"), lit(0L))).as("n_rows") +:
                valueCols.map(c =>
                  (col(s"__dsum_$c") + coalesce(col(s"__s_$c"), zeroDec))
                    .cast("decimal(38,6)").as(s"sum_$c")): _*)
          }
        aggTable.createIfNotExists(
          org.apache.spark.sql.types.StructType(folded.schema.fields))
        aggTable.merge(folded.withColumn("operation",
          when(col("n_rows") < 0,
            raise_error(lit("IncrementalAgg: negative group count — changelog replayed or mis-ordered")))
            .when(col("n_rows") === 0, lit("d"))
            .otherwise(lit("u"))), "operation", txnId)
      }
    }
    }
    if (fused) {
      val aggFut: Option[Future[Unit]] =
        if (!aggDone) Some(Future {
          // markerless: the agg chain serializes on ITSELF here (the fold
          // read must see the previous agg commit), not on the entity chain
          if (!strict) prevAgg.foreach(Await.result(_, Duration.Inf))
          aggHalf()
        }) else None
      entityFut.foreach(Await.result(_, Duration.Inf))
      // this batch's checkpoints (the dedup window; the pre-image read)
      // have no readers once both halves land — release the cached
      // blocks, or a long batch sequence accumulates one window + one
      // bucket-state per batch in the storage tier (measured: repeated
      // 4-batch folds in one session degraded run over run before this).
      // NOTE an alternative was tried and MEASURED SLOWER (r15): carrying
      // the checkpointed mergeUpsert state batch-to-batch as the next
      // pre-image eliminates this re-read but pays an extra full
      // materialization of the touched buckets' state per batch —
      // 1.72 s vs 1.38 s on the 4-batch bench; writes cost more than the
      // bucket re-read they save. Reverted; the cleanup stays.
      val ownedPre = if (preWasRead) preState else None
      def release(): Unit = {
        latest.unpersist(false)
        ownedPre.foreach(_.unpersist(false))
      }
      aggFut match {
        case Some(f) => f.onComplete(_ => release())
        case None    => release()
      }
      aggFut
    } else {
      // unfused: agg first (its readForKeys retraction path reads the LIVE
      // entity table), then advance the entity state — strictly serial, so
      // nothing defers
      if (!strict) prevAgg.foreach(Await.result(_, Duration.Inf))
      if (!aggDone) aggHalf()
      if (!entityDone) entityHalf()
      None
    }
  }

  /** Read the maintained aggregate with the sum surfaced as double. */
  def snapshot(table: KeyedParquetTable, valueCol: String): DataFrame =
    snapshotN(table, Seq(valueCol))

  /** Multi-measure [[snapshot]]: every sum column surfaced as double. */
  def snapshotN(table: KeyedParquetTable, valueCols: Seq[String]): DataFrame =
    table.read().select(col(table.keys.head) +: col("n_rows") +:
      valueCols.map(c => col(s"sum_$c").cast("double").as(s"sum_$c")): _*)
}
