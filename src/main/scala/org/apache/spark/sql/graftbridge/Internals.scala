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

  /** The rows of parquet `files` that satisfy `keep`, read on the driver
    * by Spark's own parquet reader (the one a scan task runs), as a frame
    * over a local relation. For O(files) metadata such as a table's
    * one-file stats index: the optimizer folds projections and filters of
    * a local relation on the driver, so selecting from this frame and
    * collecting it start no Spark job. `schema` is the files' data schema
    * (no partition columns). `keep` sees each row as it is read, before
    * the driver copies it: rows it drops are never held.
    */
  def driverParquet(spark: org.apache.spark.sql.SparkSession,
                    schema: org.apache.spark.sql.types.StructType,
                    files: Seq[String],
                    keep: org.apache.spark.sql.catalyst.InternalRow => Boolean = _ => true)
  : DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    val cs = spark.asInstanceOf[classic.SparkSession]
    val conf = cs.sessionState.newHadoopConf()
    val read = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .buildReaderWithPartitionValues(cs, schema,
        new org.apache.spark.sql.types.StructType(), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val rows = files.flatMap { f =>
      val path = new org.apache.hadoop.fs.Path(f)
      val st = path.getFileSystem(conf).getFileStatus(path)
      // the reader reuses its row object: copy each kept row out
      read(PartitionedFile(InternalRow.empty, org.apache.spark.paths.SparkPath.fromPath(path),
        0L, st.getLen, Array.empty, st.getModificationTime, st.getLen))
        .filter(keep).map(_.copy()).toVector
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
