package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic

/** The Spark internals the engine needs, in one place. A V1 streaming
  * [[org.apache.spark.sql.execution.streaming.Source]]'s `getBatch` must
  * return a frame flagged `isStreaming` (MicroBatchExecution asserts it),
  * and the only constructor for that flag — the same one the built-in
  * file stream source uses — is `private[sql]`; the wrapped plan is the
  * ordinary optimized batch plan (parquet pushdown intact) riding as an
  * RDD scan. The other members reach the same kind of `private[sql]`
  * constructor: the streaming relation leaf and a local relation over
  * rows the driver read itself ([[driverParquet]]). This object lives
  * under `org.apache.spark.sql` purely to reach them.
  */
object Internals {
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The inverse hop, for a V1 streaming [[org.apache.spark.sql.execution
    * .streaming.Sink]]: `addBatch` receives a STREAMING frame that batch
    * writers refuse; re-wrap its executed plan as an ordinary batch frame
    * (what ForeachBatchSink does before invoking the user function). */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** The session's Hadoop configuration (its SQL settings included), for
    * reads the driver makes itself. */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The rows of parquet `files` that satisfy `keep`, read on the driver
    * by Spark's own parquet record reader (the one a row-based scan task
    * runs, with the settings `ParquetFileFormat` gives its tasks, but no
    * broadcast of them), as a frame over a local relation. For O(files)
    * metadata such as a table's one-file stats index: the optimizer folds
    * projections and filters of a local relation on the driver, so
    * selecting from this frame and collecting it start no Spark job.
    * `schema` is the files' data schema (no partition columns). `keep`
    * sees each row as it is read, before the driver copies it: rows it
    * drops are never held.
    */
  def driverParquet(spark: org.apache.spark.sql.SparkSession,
                    schema: org.apache.spark.sql.types.StructType,
                    files: Seq[String],
                    keep: org.apache.spark.sql.catalyst.InternalRow => Boolean = _ => true)
  : DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.DataSourceUtils
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader, ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    val cs = spark.asInstanceOf[classic.SparkSession]
    val sql = cs.sessionState.conf
    val conf = hadoopConf(spark)
    // the settings ParquetFileFormat's private setupHadoopConf gives its
    // scan tasks; ParquetReadSupport and its schema converter read them
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key, sql.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key, sql.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, sql.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, sql.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
    val options = new ParquetOptions(Map.empty[String, String], sql)
    val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
    val rows = files.flatMap { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
      val meta = ParquetFooterReader.readFooter(in,
        org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS)
        .getFileMetaData.getKeyValueMetaData
      val reader = new org.apache.parquet.hadoop.ParquetRecordReader[InternalRow](
        new ParquetReadSupport(None, false,
          DataSourceUtils.datetimeRebaseSpec(meta.get, options.datetimeRebaseModeInRead),
          DataSourceUtils.int96RebaseSpec(meta.get, options.int96RebaseModeInRead)))
      try {
        reader.initialize(
          new org.apache.hadoop.mapreduce.lib.input.FileSplit(path, 0L, in.getLength, Array.empty),
          new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(conf,
            new org.apache.hadoop.mapreduce.TaskAttemptID()))
        // the reader reuses its row object: copy each kept row out
        val kept = Vector.newBuilder[InternalRow]
        while (reader.nextKeyValue()) {
          val r = reader.getCurrentValue
          if (keep(r)) kept += toUnsafe(r).copy()
        }
        kept.result()
      } finally reader.close()
    }
    classic.Dataset.ofRows(cs, org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema.toNullable), rows))
  }

  /** The V1 streaming-relation leaf `readStream.format(source)` would
    * produce — what `spark.readStream.table("graft.ns.t")` rewrites to
    * (see graft.catalog.GraftStreamRelationRule): Spark's analyzer routes
    * a streaming identifier to `StreamingRelationV2` over the catalog's
    * DSv2 Table and then requires MICRO_BATCH_READ, which a V1
    * StreamSourceProvider cannot declare — so the engine claims the
    * still-unresolved relation and plants the exact leaf the provider
    * path would have planted. Both classes are `private[sql]`, hence the
    * bridge.
    */
  def v1StreamingRelation(spark: org.apache.spark.sql.SparkSession,
                          source: String,
                          options: Map[String, String])
  : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(
      org.apache.spark.sql.execution.datasources.DataSource(
        cs, className = source, options = options))
  }
}

/** Public face of the `private[sql]` [[org.apache.spark.sql.connector
  * .catalog.V2TableWithV1Fallback]] trait: a DSv2 table extending this is
  * routed by `DataStreamWriter.toTable` into its V1 provider + location —
  * the hook that lets a V1 streaming sink claim the native
  * `writeStream.toTable("catalog.ns.t")` API. Same bridge rationale as
  * [[Internals]]: the trait's contract is stable and public in bytecode,
  * only its Scala access is sql-private.
  */
trait V1FallbackTable
  extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback
