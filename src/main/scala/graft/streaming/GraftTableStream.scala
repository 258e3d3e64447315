package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.cdc.KeyedParquetTable

/** Engine tables as a Structured Streaming SOURCE — the Iceberg streaming
  * read (`spark.readStream.format("iceberg")`) re-expressed over the
  * snapshot-versioned [[KeyedParquetTable]]:
  *
  *   spark.readStream.format("graft-table")
  *     .option("path", tableRoot)          // an engine table root
  *     .option("startVersion", "earliest") // | "latest" (default) | number
  *     .load()
  *
  * This is the missing link for CHAINING incremental pipelines: stage 1
  * ingests CDC into a table; stage 2 `readStream`s that table and folds a
  * downstream aggregate — each trigger sees exactly the data committed
  * since its last checkpointed offset, never a rescan.
  *
  * Semantics:
  *   - OFFSETS ARE SNAPSHOT VERSIONS. A micro-batch covering (a, b] is
  *     [[KeyedParquetTable.readAppendedBetween]] — both endpoints pinned,
  *     so replays after failure return identical rows even while writers
  *     keep committing (the offset-log stability Structured Streaming
  *     requires). Offsets checkpoint as plain longs; restart resumes from
  *     the committed version.
  *   - APPEND snapshots stream; a merge/compact/delete snapshot REFUSES
  *     loudly by default (a file diff would misreport rewritten rows as
  *     new) — `skipNonAppend=true` opts into dropping such snapshots from
  *     the stream, Iceberg's `streaming-skip-overwrite-snapshots`; a keyed
  *     change stream with retractions is `mode=changelog`'s job.
  *   - `startVersion`: "latest" (default) tails only data committed after
  *     stream start; "earliest"/0 backfills the whole table through the
  *     SAME code path (snapshot v0..current as the first batches) then
  *     tails — the backfill-then-follow shape a training-data feed wants.
  *   - `maxVersionsPerTrigger`: admission control — bounds how many
  *     snapshots one micro-batch covers, so a stream catching up over a
  *     long-running table paces itself instead of planning one giant
  *     batch. Trigger.AvailableNow drains to the version pinned at query
  *     start, then stops (SupportsTriggerAvailableNow).
  *
  * At scale the per-trigger driver work is O(files in the covered
  * snapshots) name-diffing — no data I/O on the driver; executors read
  * only the fresh files. Reference analog: the consumer half of the CDC
  * pipeline tails the Iceberg table the producer commits
  * (`/root/reference/src/processor/spark_streaming.py` reads what
  * `spark_exactly_once.py` writes); here that tail is a first-class
  * checkpointed source instead of a rerun batch query.
  */
final class GraftTableStreamProvider extends StreamSourceProvider
  with StreamSinkProvider with org.apache.spark.sql.sources.RelationProvider
  with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** BATCH reads of the same surfaces (Iceberg's incremental batch read):
    *
    *   spark.read.format("graft-table").option("path", root)
    *     [.option("versionAsOf", n) | .option("timestampAsOf", ms)]   // time travel
    *     [.option("startVersion", a)[.option("endVersion", b)]]       // incremental
    *     [.option("mode", "appends"|"changelog")]                     // range flavor
    *     .load()
    *
    * No range/pin options → the current snapshot. A version RANGE returns
    * either the appended rows (mode=appends, default — non-append snapshots
    * refuse unless skipNonAppend) or the net keyed change rows with
    * `_change_type` (mode=changelog) over (startVersion, endVersion],
    * endVersion defaulting to the current snapshot. The relation executes
    * the engine's own read plan (pushdown/pruning inside it intact) with
    * `needConversion=false`, so no per-row conversion hop is paid.
    */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
  : org.apache.spark.sql.sources.BaseRelation = {
    val table = open(sqlContext, parameters)
    def bad(msg: String) = throw new IllegalArgumentException(s"graft-table: $msg")
    val pinned = (parameters.get("versionAsOf"), parameters.get("timestampAsOf")) match {
      case (Some(_), Some(_)) => bad("versionAsOf and timestampAsOf are exclusive")
      case (Some(v), None)    => Some(table.readVersion(v.trim.toLong))
      case (None, Some(ts))   => Some(table.readAsOf(ts.trim.toLong))
      case (None, None)       => None
    }
    val df = (pinned, parameters.get("startVersion")) match {
      case (Some(_), Some(_)) => bad("a time-travel pin and a version range are exclusive")
      case (Some(p), None)    => p
      case (None, Some(a))    =>
        val from = a.trim.toLowerCase match {
          case "earliest" => -1L
          case n          => n.toLong
        }
        val to = parameters.get("endVersion").map(_.trim.toLong)
          .getOrElse(table.currentVersion)
        if (modeOf(parameters) == "changelog") table.changefeedBetween(from, to)
        else table.readAppendedBetween(from, to,
          parameters.get("skipNonAppend").exists(_.toBoolean))
      case (None, None) =>
        if (parameters.contains("endVersion")) bad("endVersion needs startVersion")
        else table.read()
    }
    val outerCtx = sqlContext
    new org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: SQLContext = outerCtx
      override def schema: StructType = df.schema
      override def needConversion: Boolean = false
      // contract of needConversion=false: the RDD[Row] actually carries
      // InternalRow — hand over the engine plan's executed rows directly
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        df.queryExecution.toRdd
          .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    }
  }

  private def open(sqlContext: SQLContext,
                   parameters: Map[String, String]): KeyedParquetTable = {
    val path = GraftTableStreamProvider.rootOf(
      sqlContext.sparkSession, parameters,
      "graft-table source requires .option(\"path\", <engine table root>) " +
        "or .option(\"table\", <graft catalog identifier>)")
    val table = KeyedParquetTable.openRoot(sqlContext.sparkSession, path)
    // a branch is a full table root under _branches/<name> — reads (batch,
    // streaming, changelog) address it like Iceberg's branch option
    parameters.get("branch").fold(table)(table.branch)
  }

  private def modeOf(parameters: Map[String, String]): String =
    parameters.get("mode").map(_.trim.toLowerCase).getOrElse("appends") match {
      case m @ ("appends" | "changelog") => m
      case other => throw new IllegalArgumentException(
        s"graft-table source mode '$other' — use 'appends' (default; " +
          "non-append snapshots refuse or skip) or 'changelog' (keyed " +
          "change rows with _change_type through merges/deletes)")
    }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-table source derives its schema from the table; don't pass one")
    val base = open(sqlContext, parameters).read().schema
    val s = if (modeOf(parameters) == "changelog")
      StructType(base.fields :+ StructField("_change_type", StringType, nullable = true))
    else base
    (shortName(), s)
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val table = open(sqlContext, parameters)
    // the resolved start version is PINNED in the stream's own metadata
    // dir on first start — "latest" must mean latest AT QUERY CREATION,
    // not whatever the table has grown to when the query restarts from
    // its checkpoint (a re-resolve would silently skip the down-time
    // commits the offset log is about to deliver)
    val start = pinnedStart(sqlContext, metadataPath) {
      parameters.get("startVersion").map(_.trim.toLowerCase) match {
        case None | Some("latest") => table.currentVersion
        case Some("earliest")      => -1L // before v0: backfill the whole table
        case Some(n)               => n.toLong
      }
    }
    require(start >= -1 && start <= table.currentVersion,
      s"startVersion $start out of range [-1, ${table.currentVersion}]")
    new GraftTableStreamSource(table, start,
      changelog = modeOf(parameters) == "changelog",
      skipNonAppend = parameters.get("skipNonAppend").exists(_.toBoolean),
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toInt))
  }

  /** The SINK half: each micro-batch commits to an engine table with an
    * idempotent txn marker derived from the batch id, so the at-least-once
    * replay MicroBatchExecution performs after a crash (re-running the last
    * unacknowledged batch with the SAME id) commits nothing twice —
    * exactly-once without foreachBatch boilerplate.
    *
    *   df.writeStream.format("graft-table")
    *     .option("path", tableRoot)
    *     .option("commitMode", "append")   // | "merge" (opCol classifies)
    *     .option("keys", "id")             // layout, if the table is new
    *     .option("buckets", "8")
    *     .start()
    *
    * `commitMode=merge` upserts/deletes each batch by key (`opCol`, default
    * "operation", values u/d — the CDC protocol every engine merge speaks;
    * the batch must be one row per key, e.g. a changelog-mode read of
    * another table). The txn marker is `<txnAppId>#<batchId>`; `txnAppId`
    * defaults to the query's checkpoint location, and replay detection
    * goes through the table's per-appId [[KeyedParquetTable.txnLedger]]
    * (Delta's SetTransaction semantics): two streams with different
    * checkpoints — or any interleaved txn-carrying writer like `CALL
    * sync_into` — never erase each other's markers, so each stream's
    * crash-replayed batch is still recognized and skipped. The one
    * commit that DOES clear the ledger is a txn-less full
    * [[KeyedParquetTable.commit]] (a whole-state replacement whose
    * content may not include the marked batches — replaying them is the
    * safe direction).
    *
    * `mergeSchema=true` (Delta's autoMerge): a batch carrying columns the
    * table lacks evolves the table (metadata-only addColumn per new
    * column) — the option that lets a changelog replica FOLLOW its
    * upstream's schema evolution across a stream restart. Without it,
    * merge's project-to-target contract applies: extra batch columns are
    * dropped (the same projection that drops `opCol` itself) and the
    * replica keeps its schema; append mode refuses a wider batch outright.
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-table sink: layout comes from the table (keys/buckets options), " +
        "not partitionBy")
    val path = GraftTableStreamProvider.rootOf(
      sqlContext.sparkSession, parameters,
      "graft-table sink requires .option(\"path\", <engine table root>) or " +
        ".option(\"table\", <existing graft catalog identifier>)")
    val commitMode =
      parameters.get("commitMode").map(_.trim.toLowerCase).getOrElse("append")
    require(Set("append", "merge", "overwrite")(commitMode),
      s"graft-table sink commitMode '$commitMode' — use 'append' (Append " +
        "output), 'merge' (Update output / changelog input) or 'overwrite' " +
        "(Complete output: each batch is the full state, committed as an " +
        "atomic snapshot replacement)")
    val txnAppId = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "graft-table sink: set option(\"checkpointLocation\", ...) (or an " +
          "explicit txnAppId) — the exactly-once txn marker derives from it"))
    new GraftTableSink(sqlContext.sparkSession, path, commitMode,
      opCol = parameters.getOrElse("opCol", "operation"),
      txnAppId = txnAppId,
      keys = parameters.get("keys").toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)),
      buckets = parameters.get("buckets").map(_.trim.toInt).getOrElse(0),
      mergeSchema = parameters.get("mergeSchema").exists(_.trim.toBoolean))
  }

  /** Read the pinned start version from `metadataPath/start`, writing
    * `resolve` there first if this is the stream's first start. Goes
    * through the checkpoint's Hadoop filesystem like every other piece of
    * stream metadata. */
  private def pinnedStart(sqlContext: SQLContext, metadataPath: String)
                         (resolve: => Long): Long = {
    import org.apache.hadoop.fs.{FileSystem => HFileSystem, Path => HPath}
    val dir = new HPath(metadataPath)
    val fs: HFileSystem =
      dir.getFileSystem(sqlContext.sparkContext.hadoopConfiguration)
    val file = new HPath(dir, "start")
    if (fs.exists(file)) {
      val in = fs.open(file)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    } else {
      val v = resolve
      fs.mkdirs(dir)
      val out = fs.create(file, false)
      try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      v
    }
  }
}

object GraftTableStreamProvider {
  /** Resolve the engine root a source/sink addresses: a `path` option, or
    * a `table` option naming a graft CATALOG identifier — the write-side
    * half of identifier addressing (`writeStream.toTable` cannot reach a
    * V1 sink, so `.format("graft-table").option("table", "graft.ns.t")`
    * is the identifier spelling; reads also accept it for symmetry,
    * though `spark.readStream.table(...)` is the natural read form). The
    * identifier must resolve to an EXISTING catalog table — creating
    * tables is DDL's job, and a sink that auto-created a root the catalog
    * can't see would fork the two surfaces.
    */
  private[streaming] def rootOf(spark: org.apache.spark.sql.SparkSession,
                                parameters: Map[String, String],
                                missingMsg: String): String = {
    require(!(parameters.contains("path") && parameters.contains("table")),
      "graft-table: path and table options are exclusive — passing both " +
        "would silently use one and ignore the other")
    parameters.get("path").orElse(parameters.get("table").map { name =>
      val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(name)
      graft.catalog.GraftViews.resolveIdent(spark, parts) match {
        case Some((cat, ident)) if cat.tableExists(ident) =>
          cat.tableFor(ident).root
        case _ => throw new IllegalArgumentException(
          s"graft-table: option table='$name' does not name an existing " +
            "graft catalog table (register or CREATE it first)")
      }
    }).getOrElse(throw new IllegalArgumentException(missingMsg))
  }
}

/** The [[Source]] half: version offsets over one opened table. In
  * `changelog` mode a batch covering (a, b] is
  * [[KeyedParquetTable.changefeedBetween]] — the NET keyed change over the
  * range with `_change_type` — so merge/compact/delete snapshots stream
  * (as retractions) instead of refusing; an intermediate state that a
  * wider batch nets away is invisible, which is exactly what a replica
  * consumer wants (set `maxVersionsPerTrigger=1` to see every snapshot's
  * own changes). */
final class GraftTableStreamSource(
    table: KeyedParquetTable,
    startVersion: Long,
    changelog: Boolean,
    skipNonAppend: Boolean,
    maxVersionsPerTrigger: Option[Int])
  extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // schema is pinned at stream start — evolution mid-stream surfaces on
  // restart, like every file-based source
  override val schema: StructType = {
    val base = table.read().schema
    if (changelog)
      StructType(base.fields :+ StructField("_change_type", StringType, nullable = true))
    else base
  }

  // AvailableNow: the drain target is pinned ONCE at query start, so the
  // query terminates even while writers keep committing
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.currentVersion)

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  private def versionOf(o: OffsetV2): Long = o match {
    case l: LongOffset       => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other               => other.json.trim.toLong
  }

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val from = Option(startOffset).map(versionOf).getOrElse(startVersion)
    val cap = availableNowCap.getOrElse(table.currentVersion)
    val to = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        math.min(cap, from + r.maxRows())
      case _ => cap
    }
    if (to <= from) null else LongOffset(to)
  }

  override def reportLatestOffset(): OffsetV2 = LongOffset(table.currentVersion)

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(o => versionOf(o.asInstanceOf[OffsetV2]))
      .getOrElse(startVersion)
    val to = versionOf(end.asInstanceOf[OffsetV2])
    val batch =
      if (changelog) table.changefeedBetween(from, to)
      else table.readAppendedBetween(from, to, skipNonAppend)
    // a V1 source must hand MicroBatchExecution a STREAMING frame; the
    // batch plan (with its parquet pushdown already in place) rides under
    // it as an RDD scan
    org.apache.spark.sql.graftbridge.Internals.asStreamingFrame(batch)
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String =
    s"GraftTableStream[${table.root}, start=v$startVersion]"
}

/** The [[Sink]] half: one engine commit per micro-batch, replay-proof via
  * the table's txn marker (Delta's txnAppId/txnVersion idea — the marker is
  * written inside the snapshot atomically with the commit, so "was batch N
  * applied?" survives any crash).
  *
  * `commitMode=merge` accepts a `_change_type` column (what a
  * changelog-mode graft-table READ emits) as a stand-in for `opCol`:
  * insert/update → upsert, delete → delete — chaining table → changefeed →
  * replica needs no glue code.
  */
final class GraftTableSink(
    spark: org.apache.spark.sql.SparkSession,
    path: String,
    commitMode: String,
    opCol: String,
    txnAppId: String,
    keys: Seq[String],
    buckets: Int,
    mergeSchema: Boolean = false) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val txn = s"$txnAppId#$batchId"
    val batch0 = org.apache.spark.sql.graftbridge.Internals.asBatchFrame(data)
    // statement-level retry (the SQL surface's CommitRetry): a concurrent
    // writer racing this table costs the sink the commit CLAIM, not the
    // query — each attempt re-opens the table and re-checks the replay
    // marker against whatever state won
    graft.catalog.CommitRetry.retrying(s"graft-table sink $path#$batchId") {
      commitOnce(txn, batch0)
    }
  }

  private def commitOnce(txn: String, batch0: DataFrame): Unit = {
    // open per attempt: another writer (or a previous incarnation after
    // restart) may have created/advanced the table since the last batch.
    // An EXISTING root always opens through openRoot — it restores the
    // FULL pinned layout (including partitionBy, which the sink's options
    // cannot express); declared keys/buckets then only VALIDATE. The
    // keys/buckets options construct the layout solely for the
    // first-batch create.
    val probe = new KeyedParquetTable(spark, path, Nil)
    val table =
      if (probe.exists) {
        val t = KeyedParquetTable.openRoot(spark, path)
        require(keys.isEmpty || keys == t.keys,
          s"graft-table sink: declared keys $keys conflict with the " +
            s"table's pinned keys ${t.keys}")
        require(buckets == 0 || buckets == t.bucketCount,
          s"graft-table sink: declared buckets=$buckets conflicts with " +
            s"the table's pinned bucketCount=${t.bucketCount}")
        t
      } else new KeyedParquetTable(spark, path, keys, Nil, buckets)
    // per-appId ledger check, NOT the single-slot lastTxn: another writer's
    // txn-carrying commit between this batch and its crash replay must not
    // reopen the double-append window
    if (table.exists && table.txnSeen(txn)) return // replayed batch
    // option("mergeSchema", "true"): when the upstream table evolved, its
    // changelog batches start carrying the NEW column — without this the
    // merge projects it away (append refuses) and the replica silently
    // stops following at exactly the moment the schema changed. Evolution
    // here is ADDED columns only (each a metadata-only addColumn commit,
    // O(files) hard links — the Iceberg cost shape). Crash between
    // addColumn and the batch commit replays safely: the column-exists
    // guard skips the already-applied evolution, the txn check above
    // skips nothing (the batch itself never committed).
    if (mergeSchema && table.exists) {
      // currentSchema, not read().schema: the diff needs field names only,
      // not a per-batch MoR/evolution read-plan build. opCol/_change_type
      // are protocol columns ONLY in merge mode — in append mode a data
      // column that happens to be named 'operation' is just a column and
      // must evolve like any other
      val reserved =
        if (commitMode == "merge") Set(opCol, "_change_type")
        else Set.empty[String]
      val existing = table.currentSchema.fieldNames.toSet
      batch0.schema.fields
        .filterNot(f => existing.contains(f.name) || reserved.contains(f.name))
        .foreach(f => table.addColumn(f.name, f.dataType))
    }
    commitMode match {
      case "append" =>
        require(!batch0.columns.contains("_change_type"),
          "graft-table sink commitMode=append on a changelog stream would " +
            "append retraction rows as data — use commitMode=merge")
        table.append(batch0, Some(txn))
      case "overwrite" =>
        // Complete-mode sink: the batch IS the whole result; prior state
        // stays time-travelable (an atomic snapshot replacement, not a wipe)
        table.commit(batch0, Some(txn))
      case "merge" =>
        val batch =
          if (batch0.columns.contains(opCol)) batch0
          else {
            require(batch0.columns.contains("_change_type"),
              s"graft-table sink commitMode=merge needs '$opCol' (u/d) or " +
                "'_change_type' (insert/update/delete) on the stream")
            batch0.withColumn(opCol,
              when(col("_change_type") === "delete", lit("d")).otherwise(lit("u")))
              .drop("_change_type")
          }
        table.createIfNotExists(
          StructType(batch.schema.fields.filterNot(_.name == opCol)))
        table.merge(batch, opCol, Some(txn))
    }
  }

  override def toString: String = s"GraftTableSink[$path, $commitMode]"
}
