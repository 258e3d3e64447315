package graft.catalog

import java.util.{Set => JSet}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TruncatableTable}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.cdc.KeyedParquetTable

/** How a catalog-resolved read is pinned in time: the SQL time-travel
  * clauses (`VERSION AS OF` / `TIMESTAMP AS OF`) map onto the engine's own
  * snapshot/tag/as-of reads.
  */
private[catalog] sealed trait Pin
private[catalog] object Pin {
  case object Current extends Pin
  final case class Version(v: Long) extends Pin
  final case class Tag(name: String) extends Pin
  final case class AsOf(epochMs: Long) extends Pin
}

/** DSv2 face of a [[graft.cdc.KeyedParquetTable]] — what makes the engine
  * SQL-addressable the way the reference is (its whole query interface is
  * `spark.sql(...)` strings resolved through a catalog: MERGE INTO at
  * `/root/reference/src/processor/spark_batch.py:273-280`, DDL at
  * `spark_batch.py:71-96`, metadata at `validation.py:731-740`).
  *
  * Read path: the table's OWN read plan, inlined into the statement.
  * `KeyedParquetTable` reads are already full DataFrame plans carrying
  * semantics a raw file-scan delegate would silently drop (merge-on-read
  * delete anti-joins, rename-history coalesce resolution, declared-schema
  * evolution, file-less snapshots), so [[GraftScanBuilder]] builds the
  * pruned read as such a plan and [[GraftScanInline]] puts its optimized
  * form in place of the scan relation: Spark plans the statement once,
  * and the vectorized parquet scan feeds whole-stage codegen with no Row
  * conversion in between. Pushdown still reaches the engine's physical
  * pruning: bucket-key equalities select bucket directories
  * ([[KeyedParquetTable.readForKeys]] — the two-level bucket × file-stats
  * prune), stats-column ranges select files
  * ([[KeyedParquetTable.readRangePruned]]), and every pushed predicate is
  * also applied inside the inner plan, where Catalyst forwards it to the
  * parquet scan.
  *
  * Planning, like an Iceberg scan planned from manifests, reads only
  * metadata, on the driver: the schema from one parquet footer (or the
  * declared `_schema.json`), literal keys' bucket ids and probe summary
  * from a local relation, and the `_stats` index through Spark's parquet
  * reader run in-process. A literal point read, a literal range read and
  * a time-travel read start no Spark job until the query runs.
  *
  * Write path: [[V1Write]] → the table's transactional surface:
  * INSERT INTO appends a snapshot-incremental commit
  * ([[KeyedParquetTable.append]]), INSERT OVERWRITE (truncate) commits a
  * full replacement — both atomic pointer-swing commits with CHECK
  * constraints enforced inside the write plan.
  */
final class GraftTable(val kpt: KeyedParquetTable, ident: String, pin: Pin)
    extends Table with SupportsRead with SupportsWrite with TruncatableTable
    with org.apache.spark.sql.graftbridge.V1FallbackTable {

  override def name(): String = ident

  /** Claims Spark's native `DataStreamWriter.toTable("graft.ns.t")` path:
    * a table exposing this fallback routes the streaming write into its V1
    * provider + location — i.e. the engine's own `graft-table` sink
    * (exactly-once per the `_txns` replay ledger, merge/append/complete
    * modes), with the identifier resolved through this catalog. Spark's
    * guard requires the writer's `format` to match the provider, so the
    * end-to-end call is `writeStream.format("graft-table").toTable(...)`
    * — omitting the format fails with Spark's own error naming
    * `graft-table`. Streaming READS of the identifier never reach this
    * fallback (the injected GraftStreamRelationRule claims them first),
    * and batch resolution ignores it (Spark consults it only under
    * isStreaming).
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    val parts = ident.split('.')
    // TableIdentifier holds exactly (catalog, database, table): a deeper
    // namespace (graft.a.b.t) or a branch-suffixed name (graft.ns.t.branch)
    // cannot be represented — refuse loudly rather than silently dropping
    // middle segments and routing the stream to the wrong identifier.
    require(parts.length <= 3,
      s"streaming toTable: identifier '$ident' has ${parts.length} parts; " +
        "the V1 streaming fallback can address at most catalog.namespace." +
        "table — write to the base table or use the graft-table sink's " +
        "option(\"table\", ...) path for branch/deep-namespace targets")
    val tid = parts.length match {
      case 1 => org.apache.spark.sql.catalyst.TableIdentifier(parts(0))
      case 2 => org.apache.spark.sql.catalyst.TableIdentifier(parts(1), Some(parts(0)))
      case 3 => org.apache.spark.sql.catalyst.TableIdentifier(
        parts(2), Some(parts(1)), Some(parts(0)))
    }
    CatalogTable(
      identifier = tid,
      tableType = CatalogTableType.EXTERNAL,
      storage = CatalogStorageFormat.empty.copy(
        locationUri = Some(new org.apache.hadoop.fs.Path(kpt.root).toUri)),
      schema = schema,
      provider = Some("graft-table"))
  }

  /** `TRUNCATE TABLE` SQL: one atomic empty-snapshot commit — the prior
    * state stays time-travelable (truncate is a version, not an erasure).
    */
  override def truncateTable(): Boolean = {
    require(pin == Pin.Current, s"cannot TRUNCATE a time-travel read of $ident")
    CommitRetry.retrying(s"TRUNCATE $ident") {
      kpt.commit(pinnedRead().limit(0))
    }
    true
  }

  /** The pinned read — every scan and the schema derive from this one
    * definition, so SQL time travel cannot diverge from the engine's.
    */
  private[catalog] def pinnedRead(): DataFrame = pin match {
    case Pin.Current    => kpt.read()
    case Pin.Version(v) => kpt.readVersion(v)
    case Pin.Tag(t)     => kpt.readTag(t)
    case Pin.AsOf(ms)   => kpt.readAsOf(ms)
  }

  private[catalog] def isCurrent: Boolean = pin == Pin.Current

  override lazy val schema: StructType = pinnedRead().schema

  /** Deliberately NOT self-reported: the engine's hash buckets (and even
    * its directory-encoded partition columns) are physical LAYOUT, not
    * Hive-style partitions with per-partition overwrite semantics — a
    * "dynamic partition overwrite" that replaced only touched hash buckets
    * would be wrong-by-design (INSERT OVERWRITE must replace table state).
    * An empty partitioning routes INSERT OVERWRITE to the static
    * truncate-then-replace plan, which maps exactly onto the engine's
    * atomic full-snapshot commit. The layout itself is still visible in
    * [[properties]] and enforced by the catalog's CREATE.
    */
  override def partitioning(): Array[Transform] = Array.empty

  override def properties(): java.util.Map[String, String] =
    (kpt.properties ++ Map(
      GraftCatalog.KeysProp -> kpt.keys.mkString(","),
      "graft.partitionBy" -> kpt.partitionBy.mkString(","),
      "graft.bucketCount" -> kpt.bucketCount.toString,
      "graft.bucketBy" -> kpt.bucketKeys.mkString(","),
      "graft.currentVersion" -> kpt.currentVersion.toString)).asJava

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pin == Pin.Current, s"cannot write to time-travel read of $ident")
    new GraftWriteBuilder(kpt, schema)
  }
}

/** Pushdown planner for a catalog read. Spark hands the conjunctive
  * top-level predicates here; the builder (a) picks the engine's best
  * physical prune for them — bucket-directory pruning when every bucket
  * key has an equality (or IN), else file-stats range pruning on a stats
  * column, both decided on the driver from the literal values and table
  * metadata with no Spark job — and (b) re-applies every translatable
  * predicate inside the inner plan so the nested parquet scan gets row-group
  * pushdown too. All filters are returned as residuals (Spark re-evaluates
  * them above the scan): pruning must only ever widen, never decide
  * membership, so a translation gap degrades to a wider scan instead of a
  * wrong answer.
  */
final class GraftScanBuilder(table: GraftTable)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  private val kpt = table.kpt
  private var pushed: Array[Filter] = Array.empty
  private var required: Option[StructType] = None
  /** The aggregation last offered for pushdown and the stats kernel's
    * answer to it ([[KeyedParquetTable.statsAggregate]]; None = declined).
    * Spark offers the same aggregation to [[supportCompletePushDown]] and
    * [[pushAggregation]], so the kernel is planned once per offer.
    */
  private var offered: (AnyRef, Option[DataFrame]) = (null, None)
  private var pushedAgg: Option[DataFrame] = None

  /** COMPLETE aggregate pushdown into the engine's O(metadata) stats-index
    * aggregates: `SELECT COUNT(*) / COUNT(c) / MIN / MAX / SUM FROM
    * graft.ns.t` as literal SQL answers from the transactional `_stats`
    * index ([[KeyedParquetTable.statsAggregate]] — per-file n_rows, null
    * counts, bounds and sums written atomically with every commit;
    * pending MoR deletes go hybrid) — data files never open. Spark only
    * offers aggregates when every filter was consumed, and this builder
    * returns ALL filters as residuals, so the offer arrives exactly for the
    * unfiltered whole-table shape the index answers. Anything the index
    * can't answer exactly (group-by, DISTINCT, COUNT/MIN/MAX off
    * statsCols, SUM off sumCols or of a DECIMAL, a time-travel pin, an
    * index lacking a needed column, delete debt past the plan-time bound)
    * declines and Spark aggregates the ordinary scan.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    answer(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = answer(agg)
    pushedAgg.isDefined
  }

  private def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
    e match {
      case n: org.apache.spark.sql.connector.expressions.NamedReference
        if n.fieldNames.length == 1 => Some(n.fieldNames.head)
      case _ => None
    }

  /** The stats kernel's plan-time answer to `agg` (it runs at PLAN time,
    * so a shape that would need a data scan declines instead). */
  private def answer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[DataFrame] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    def on(f: String, e: org.apache.spark.sql.connector.expressions.Expression,
           cover: Seq[String]) = fieldOf(e).filter(cover.contains).map(f -> _)
    if (offered._1 ne agg) offered = (agg,
      if (!table.isCurrent || pushed.nonEmpty || agg.groupByExpressions.nonEmpty) None
      else {
        val pairs = agg.aggregateExpressions.toSeq.map {
          case _: CountStar => Some("count" -> "*")
          case n: Count if !n.isDistinct => on("count", n.column, kpt.statsCols)
          case m: Min => on("min", m.column, kpt.statsCols)
          case m: Max => on("max", m.column, kpt.statsCols)
          // Sum of a DECIMAL declines: the index sums the sum partials, whose
          // type (precision widened TWICE) disagrees with Spark's expected Sum
          // result type for the column — the complete-pushdown scan schema
          // would mismatch. Integral (long) and floating (double) sums match.
          case s: Sum if !s.isDistinct => on("sum", s.column, kpt.sumCols).filterNot(p =>
            table.schema(p._2).dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType])
          case _ => None
        }
        if (pairs.isEmpty || pairs.contains(None)) None
        else kpt.statsAggregate(pairs.flatten, planTime = true)
      })
    offered._2
  }

  /** The pushed aggregation's answer as a one-row local frame (the
    * complete-pushdown contract: the scan IS the final result), typed as
    * Spark's own aggregate results — count long, min/max the column type,
    * sum the kernel's sum over index partials.
    */
  private def answeredFrame(stats: DataFrame): DataFrame = {
    val row = stats.head()
    kpt.spark.range(1).select(stats.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      lit(row.get(i)).cast(f.dataType).as(s"${f.name}_$i")
    }: _*)
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // keep the ones we can act on (prune by or translate); everything is
    // still evaluated by Spark above the scan
    pushed = filters.filter(f => GraftScanBuilder.translate(f).isDefined ||
      bucketEqualities(Array(f)).nonEmpty)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = Some(requiredSchema)

  /** Bucket-key → literal value(s) from top-level conjuncts. */
  private def bucketEqualities(filters: Array[Filter]): Map[String, Seq[Any]] =
    filters.collect {
      case EqualTo(a, v) if kpt.bucketKeys.contains(a) => a -> Seq(v)
      case In(a, vs) if kpt.bucketKeys.contains(a) && vs.nonEmpty => a -> vs.toSeq
    }.toMap

  /** [lo, hi] bounds for a stats column from top-level conjuncts. Strict
    * bounds are widened to inclusive — the prune returns a superset, the
    * residual filters restore exactness.
    */
  private def rangeBounds(c: String, filters: Array[Filter]): (Option[Any], Option[Any]) =
    filters.foldLeft((Option.empty[Any], Option.empty[Any])) {
      case ((lo, hi), EqualTo(a, v)) if a == c            => (Some(v), Some(v))
      case ((lo, hi), GreaterThan(a, v)) if a == c        => (Some(v), hi)
      case ((lo, hi), GreaterThanOrEqual(a, v)) if a == c => (Some(v), hi)
      case ((lo, hi), LessThan(a, v)) if a == c           => (lo, Some(v))
      case ((lo, hi), LessThanOrEqual(a, v)) if a == c    => (lo, Some(v))
      case (acc, _)                                       => acc
    }

  /** The pruned base frame, the prune decision, and a label for explain. */
  private[catalog] def prunedBase(): (DataFrame, String) = {
    def fallback = (table.pinnedRead(), "full")
    if (!table.isCurrent) fallback
    else {
      val eqs = bucketEqualities(pushed)
      if (kpt.bucketCount > 0 && kpt.bucketKeys.forall(eqs.contains)) {
        // one literal probe row per combination of IN values across the
        // bucket keys: its bucket ids and probe summary come from the driver
        val keyFields = StructType(kpt.bucketKeys.map(k => table.schema(k)))
        val combos = kpt.bucketKeys.foldLeft(Seq(Seq.empty[Any])) {
          (acc, k) => acc.flatMap(row => eqs(k).map(v => row :+ v))
        }
        Try {
          val probe = kpt.spark.createDataFrame(
            combos.map(Row.fromSeq).asJava, keyFields)
          (kpt.readForKeys(probe), s"buckets[${kpt.bucketKeys.mkString(",")}]")
        }.getOrElse(fallback)
      } else {
        kpt.statsCols.iterator.map(c => c -> rangeBounds(c, pushed)).collectFirst {
          case (c, (Some(lo), Some(hi))) =>
            Try((kpt.readRangePruned(c, lo, hi), s"stats[$c]")).getOrElse(fallback)
        }.getOrElse(fallback)
      }
    }
  }

  override def build(): Scan = {
    pushedAgg.foreach { stats =>
      return new GraftScan(answeredFrame(stats), "stats-aggregate", pushed)
    }
    val (base, pruneMode) = prunedBase()
    // re-apply translatable predicates inside the inner plan: Catalyst
    // pushes them to its parquet scan (row-group skipping in the kept files)
    val filtered = pushed.flatMap(GraftScanBuilder.translate)
      .foldLeft(base)((df, c) => df.filter(c))
    val projected = required match {
      case Some(s) if s.fieldNames.nonEmpty =>
        filtered.select(s.fieldNames.map(col).toIndexedSeq: _*)
      case Some(_) => // empty projection (COUNT(*)) still needs row cardinality
        filtered.select(col(filtered.columns.head))
      case None => filtered
    }
    new GraftScan(projected, pruneMode, pushed)
  }
}

private[catalog] object GraftScanBuilder {
  /** sources.Filter → Column for the common predicate shapes; None = not
    * translatable (residual-only). Used for INNER-plan filtering, so it
    * must be EXACT when defined.
    */
  def translate(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === v)
    case EqualNullSafe(a, v)      => Some(col(a) <=> v)
    case GreaterThan(a, v)        => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v)           => Some(col(a) < v)
    case LessThanOrEqual(a, v)    => Some(col(a) <= v)
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r) => for { lc <- translate(l); rc <- translate(r) } yield lc && rc
    case Or(l, r)  => for { lc <- translate(l); rc <- translate(r) } yield lc || rc
    case Not(c)    => translate(c).map(!_)
    case _         => None
  }
}

/** The built scan: the fully pruned, filtered and projected engine read
  * (`inner`) and the prune that chose its files. Spark never executes it
  * as a DSv2 scan: once pushdown has built it, [[GraftScanInline]] puts
  * `inner`'s optimized plan in the scan relation's place, so the statement
  * and the read are planned as one query — the parquet file scan feeds
  * whole-stage codegen directly, and join statistics are the inlined
  * plan's own (the pruned files' bytes, a metadata frame's local size).
  */
final class GraftScan(val inner: DataFrame,
                      val pruneMode: String, pushed: Array[Filter]) extends Scan {

  override def readSchema(): StructType = inner.schema

  override def description(): String =
    s"graft prune=$pruneMode pushed=[${pushed.mkString(", ")}]"

  override def toBatch(): Batch = throw new IllegalStateException(
    s"${description()} reached physical planning without being inlined: " +
      "graft.catalog.GraftScanInline must be in the session's extraOptimizations " +
      "(GraftCatalog.initialize registers it in the session active when the catalog loads)")
}

/** Replaces every scan relation whose scan is a [[GraftScan]] with the
  * scan's inner optimized plan under a projection that keeps each output
  * attribute's exprId and name, so the rest of the statement is untouched.
  * It runs in the session's `extraOptimizations` (registered by
  * [[GraftCatalog.initialize]]), the one logical hook that runs after
  * `V2ScanRelationPushDown` has built the scan; subquery plans (dynamic
  * pruning, runtime filters) are rewritten too.
  */
object GraftScanInline extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
    case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[GraftScan] =>
      val inner = r.scan.asInstanceOf[GraftScan].inner.queryExecution.optimizedPlan
      require(inner.output.length == r.output.length &&
        inner.output.zip(r.output).forall { case (i, o) =>
          DataTypeUtils.equalsIgnoreNullability(i.dataType, o.dataType) },
        s"graft scan output ${r.output.mkString(", ")} does not match its read " +
          inner.output.mkString(", "))
      Project(r.output.zip(inner.output).map { case (o, i) =>
        Alias(i, o.name)(exprId = o.exprId, qualifier = o.qualifier,
          explicitMetadata = Some(o.metadata))
      }, inner)
  }
}

/** Read-only METADATA table (`SELECT * FROM graft.ns.t.history` etc.) —
  * the Iceberg metadata-table surface the reference's validation reads
  * (`validation.py:731-740` loads `<table>.history` / `.manifests` /
  * `.metadata`). Resolved by the catalog when a multipart identifier's
  * last segment names a metadata view of an existing table. The frames
  * are driver-side metadata walks (O(files)/O(snapshots), never data
  * scans), so the scan pushes down column pruning only.
  */
final class GraftMetaTable(ident: String, frame: () => DataFrame)
    extends Table with SupportsRead {

  override def name(): String = ident
  override lazy val schema: StructType = frame().schema
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: Option[StructType] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)
      override def build(): Scan = {
        val df = frame()
        val projected = required match {
          case Some(s) if s.fieldNames.nonEmpty =>
            df.select(s.fieldNames.map(col).toIndexedSeq: _*)
          case Some(_) => df.select(col(df.columns.head))
          case None => df
        }
        new GraftScan(projected, "metadata", Array.empty)
      }
    }
}

/** `graft.ns.t.changes` — the value-carrying changelog as a catalog table
  * (Iceberg's changelog table): `spark.read.option("fromVersion", a)
  * [.option("toVersion", b)].table("graft.ns.t.changes")` plans
  * [[graft.cdc.KeyedParquetTable.changefeedBetween]] over (a, b] —
  * post-images for insert/update, PRE-images for delete, `_change_type`,
  * one keyed diff over the buckets whose files changed between the two
  * versions, planned with no Spark job and cached nowhere (so the
  * statement runs as one plan). `toVersion` defaults to
  * the current snapshot; a missing `fromVersion` refuses loudly (a change
  * stream without a start is ambiguous — plain SQL text can't carry scan
  * options, use the DataFrameReader form or VERSION AS OF reads).
  */
final class GraftChangesTable(kpt: graft.cdc.KeyedParquetTable, ident: String)
    extends Table with SupportsRead {

  override def name(): String = ident
  override lazy val schema: StructType = StructType(
    kpt.read().schema.fields :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = true))
  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: Option[StructType] = None
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = Some(requiredSchema)
      override def build(): Scan = {
        require(options.containsKey("fromVersion"),
          s"$ident requires option fromVersion (changes are a range read: " +
            "spark.read.option(\"fromVersion\", a).table(\"" + ident + "\"))")
        val from = options.get("fromVersion").trim.toLong
        val to = Option(options.get("toVersion")).map(_.trim.toLong)
          .getOrElse(kpt.currentVersion)
        val df = kpt.changefeedBetween(from, to)
        val projected = required match {
          case Some(s) if s.fieldNames.nonEmpty =>
            df.select(s.fieldNames.map(col).toIndexedSeq: _*)
          case Some(_) => df.select(col(df.columns.head))
          case None => df
        }
        new GraftScan(projected, "changes", Array.empty)
      }
    }
}

/** Statement-level commit retry for the SQL surface. Two writers racing
  * one table serialize on the engine's CAS pointer swing; the Scala
  * surface exposes the loser's ConcurrentModificationException (callers
  * coordinate), but a SQL statement is self-contained, so — like Iceberg's
  * commit.retry.num-retries — the lost race RE-EXECUTES the statement
  * against the new base: appends are commutative, and MERGE/UPDATE/DELETE/
  * TRUNCATE re-read current state inside their own evaluation, so a retry
  * is exactly the statement's semantics over the table state that beat it.
  * The backoff must outlast a competing COMMIT (the claim is held for the
  * winner's whole write — seconds, not a pointer flip), so it grows to 1 s
  * per attempt with a generous budget (a loaded machine can hold a claim
  * for several seconds per commit, and the budget must cover several
  * queued writers); a wedged claim (dead writer, unexpired lease) still
  * surfaces as the engine's exception within ~40s.
  */
private[graft] object CommitRetry {
  def retrying[T](what: String, maxRetries: Int = 40)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          Thread.sleep(math.min(100L * attempt, 1000L))
      }
    }
    throw new IllegalStateException(s"unreachable: $what")
  }
}

/** INSERT INTO → append commit; INSERT OVERWRITE TABLE → truncate → full
  * replacement commit. Both ride the engine's atomic pointer-swing with
  * CHECK constraints enforced in-plan.
  */
final class GraftWriteBuilder(kpt: KeyedParquetTable, tableSchema: StructType)
    extends WriteBuilder with SupportsTruncate {

  private var replace = false

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation = new InsertableRelation {
      override def insert(data: Dataset[Row], overwrite: Boolean): Unit = {
        // align by NAME in table order (Spark has already resolved and cast
        // the query's columns to the table schema)
        val aligned = data.select(tableSchema.fieldNames.map(col).toIndexedSeq: _*)
        // lost-race retry: see CommitRetry — the statement's data job
        // re-runs per attempt (the claimed version dir changed); commits,
        // not writes, are what the bound protects
        CommitRetry.retrying("INSERT") {
          if (replace || overwrite) kpt.commit(aligned) else kpt.append(aligned)
        }
      }
    }
  }
}
