package graft.catalog

import java.util.{Iterator => JIterator}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{DataTypes, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.cdc.KeyedParquetTable

/** SQL `CALL` maintenance procedures — the reference's scheduled
  * `optimize_iceberg_table` drives maintenance entirely through CALL text
  * (`/root/reference/src/processor/spark_batch.py:421-427`):
  *
  *   CALL graft.system.rewrite_data_files(table => 'ns.t', min_input_files => 5)
  *   CALL graft.system.expire_snapshots(table => 'ns.t', older_than_ms => 0, retain_last => 5)
  *   CALL graft.system.remove_orphan_files(table => 'ns.t')
  *   CALL graft.system.auto_maintain(table => 'ns.t')
  *   CALL graft.system.create_branch(table => 'ns.t', branch => 'audit')
  *   CALL graft.system.fast_forward(table => 'ns.t', branch => 'audit')
  *   CALL graft.system.drop_branch(table => 'ns.t', branch => 'audit')
  *   CALL graft.system.rollback_to_snapshot(table => 'ns.t', version => 3)
  *   CALL graft.system.rollback_to_timestamp(table => 'ns.t', timestamp_ms => 17...)
  *   CALL graft.system.create_tag(table => 'ns.t', tag => 'train-v1')
  *   CALL graft.system.drop_tag(table => 'ns.t', tag => 'train-v1')
  *
  * Spark 4 parses CALL natively and resolves it through
  * [[org.apache.spark.sql.connector.catalog.ProcedureCatalog]], which
  * [[GraftCatalog]] implements — no custom parser needed. Each procedure
  * maps 1:1 onto the table's own maintenance surface and returns its
  * outcome as (action, detail) rows, so the caller sees what happened
  * (file counts, expired snapshot ids, the executed auto plan) the way
  * Iceberg's procedures report rewritten-file counts.
  */
private[catalog] object GraftProcedures {

  private val resultSchema = StructType(Seq(
    StructField("action", DataTypes.StringType, nullable = false),
    StructField("detail", DataTypes.StringType, nullable = false)))

  private def tableParam =
    ProcedureParameter.in("table", DataTypes.StringType)
      .comment("catalog-relative table name, e.g. 'ns.t'").build()

  private def branchParam =
    ProcedureParameter.in("branch", DataTypes.StringType)
      .comment("branch name").build()

  def list: Seq[String] =
    Seq("rewrite_data_files", "expire_snapshots", "remove_orphan_files",
      "auto_maintain", "create_branch", "fast_forward", "drop_branch",
      "rollback_to_snapshot", "rollback_to_timestamp", "create_tag",
      "drop_tag", "sync_into")

  def load(cat: GraftCatalog, name: String): Option[UnboundProcedure] = {
    def resolve(input: InternalRow): KeyedParquetTable = {
      val raw = input.getUTF8String(0).toString
      val parts = raw.split('.')
      require(parts.length >= 1 && parts.forall(_.nonEmpty),
        s"table must be a catalog-relative name like 'ns.t', got '$raw'")
      cat.tableFor(Identifier.of(parts.init, parts.last))
    }
    name match {
      case "rewrite_data_files" => Some(proc(name,
        Array(tableParam,
          ProcedureParameter.in("min_input_files", DataTypes.IntegerType)
            .defaultValue("5").build(),
          // Iceberg's `sort_order` argument: comma-separated columns the
          // rewrite clusters files by (empty → the table's own
          // graft.write.sortBy property, compact's default)
          ProcedureParameter.in("sort_order", DataTypes.StringType)
            .defaultValue("''").build()),
        { in =>
          val t = resolve(in)
          val minFiles = if (in.isNullAt(1)) 5 else in.getInt(1)
          val sortBy =
            if (in.isNullAt(2)) Nil
            else in.getUTF8String(2).toString.split(',').toSeq
              .map(_.trim).filter(_.nonEmpty)
          val before = t.files().count()
          val committed = t.compact(minInputFiles = minFiles, sortBy = sortBy)
          val after = t.files().count()
          Seq(("rewrite_data_files",
            s"files $before -> $after" +
              (if (sortBy.nonEmpty) s", sorted by ${sortBy.mkString(",")}" else "") +
              committed.map(v => s", committed v$v").getOrElse(" (below min-input-files, no-op)")))
        }))
      case "expire_snapshots" => Some(proc(name,
        Array(tableParam,
          ProcedureParameter.in("older_than_ms", DataTypes.LongType)
            .defaultValue("0").build(),
          ProcedureParameter.in("retain_last", DataTypes.IntegerType)
            .defaultValue("5").build()),
        { in =>
          val t = resolve(in)
          val olderThan = if (in.isNullAt(1)) 0L else in.getLong(1)
          val retain = if (in.isNullAt(2)) 5 else in.getInt(2)
          val expired = t.expireSnapshots(olderThan, retainLast = retain)
          Seq(("expire_snapshots",
            if (expired.isEmpty) "nothing to expire"
            else s"expired ${expired.map(v => s"v$v").mkString(",")}"))
        }))
      case "remove_orphan_files" => Some(proc(name, Array(tableParam),
        { in =>
          val removed = resolve(in).removeOrphanFiles()
          Seq(("remove_orphan_files", s"removed ${removed.size} orphan path(s)"))
        }))
      case "auto_maintain" => Some(proc(name, Array(tableParam),
        { in =>
          val executed = graft.validate.Validation.autoMaintain(resolve(in))
          executed.map { case (action, urgency, reason) =>
            (action, s"[$urgency] $reason")
          }
        }))
      // the audit-branch workflow's CALL half (Iceberg's
      // system.create_branch / fast_forward procedures): with the
      // `t.branch_<name>` write identifier and the `VERSION AS OF 'name'`
      // read, branching never needs the Scala surface.
      case "create_branch" => Some(proc(name,
        Array(tableParam, branchParam),
        { in =>
          val t = resolve(in)
          val b = in.getUTF8String(1).toString
          t.createBranch(b)
          Seq(("create_branch", s"branch '$b' forked at v${t.currentVersion}"))
        }))
      case "fast_forward" => Some(proc(name,
        Array(tableParam, branchParam),
        { in =>
          val v = resolve(in).fastForward(in.getUTF8String(1).toString)
          Seq(("fast_forward", s"published as v$v"))
        }))
      case "drop_branch" => Some(proc(name,
        Array(tableParam, branchParam),
        { in =>
          val t = resolve(in)
          val b = in.getUTF8String(1).toString
          require(t.branches.contains(b),
            s"no branch '$b' (branches: ${t.branches.sorted.mkString(", ")})")
          t.dropBranch(b)
          Seq(("drop_branch", s"branch '$b' dropped"))
        }))
      // operator-error recovery as CALL text (Iceberg's
      // system.rollback_to_snapshot / rollback_to_timestamp): the pointer
      // swings back atomically; newer now-unreachable snapshots purge
      // (tags pin — the rollback refuses over a tagged snapshot).
      case "rollback_to_snapshot" => Some(proc(name,
        Array(tableParam,
          ProcedureParameter.in("version", DataTypes.LongType)
            .comment("snapshot version to make current").build()),
        { in =>
          val t = resolve(in)
          val v = in.getLong(1)
          t.rollbackTo(v)
          Seq(("rollback_to_snapshot", s"current is v$v"))
        }))
      case "rollback_to_timestamp" => Some(proc(name,
        Array(tableParam,
          ProcedureParameter.in("timestamp_ms", DataTypes.LongType)
            .comment("epoch millis; rolls back to the snapshot current then")
            .build()),
        { in =>
          val t = resolve(in)
          val v = t.versionAsOf(in.getLong(1))
          t.rollbackTo(v)
          Seq(("rollback_to_timestamp", s"current is v$v"))
        }))
      // tag refs as CALL text (Iceberg's system.create_tag / drop_tag):
      // the reproducibility primitive — tags pin retention, so
      // 'train-v1 read EXACTLY this state' survives expire_snapshots.
      case "create_tag" => Some(proc(name,
        Array(tableParam,
          ProcedureParameter.in("tag", DataTypes.StringType).build(),
          ProcedureParameter.in("version", DataTypes.LongType)
            .defaultValue("-1")
            .comment("snapshot to tag; default the current one").build()),
        { in =>
          val t = resolve(in)
          val tag = in.getUTF8String(1).toString
          val v = if (in.isNullAt(2) || in.getLong(2) < 0) t.currentVersion
                  else in.getLong(2)
          t.tagSnapshot(tag, v)
          Seq(("create_tag", s"tag '$tag' pins v$v"))
        }))
      case "drop_tag" => Some(proc(name,
        Array(tableParam,
          ProcedureParameter.in("tag", DataTypes.StringType).build()),
        { in =>
          val t = resolve(in)
          val tag = in.getUTF8String(1).toString
          require(t.tags.contains(tag),
            s"no tag '$tag' (tags: ${t.tags.keys.toSeq.sorted.mkString(", ")})")
          t.dropTag(tag)
          Seq(("drop_tag", s"tag '$tag' dropped"))
        }))
      // changelog-driven table-to-table replication as CALL text: one keyed
      // merge of the source's changefeed since from_version (post-images as
      // 'u' rows, deletes as 'd' rows) — the catch-up half of a
      // rebucket/migration cutover, or plain replica maintenance
      case "sync_into" => Some(proc(name,
        Array(tableParam,
          ProcedureParameter.in("target", DataTypes.StringType)
            .comment("catalog-relative name of the replica table").build(),
          ProcedureParameter.in("from_version", DataTypes.LongType)
            .comment("replicate source changes committed after this snapshot")
            .build()),
        { in =>
          val src = resolve(in)
          val tgtParts = in.getUTF8String(1).toString.split('.')
          require(tgtParts.forall(_.nonEmpty),
            "target must be a catalog-relative name like 'ns.t'")
          val tgt = cat.tableFor(Identifier.of(tgtParts.init, tgtParts.last))
          val v = src.syncInto(tgt, in.getLong(2))
          Seq(("sync_into",
            s"target at v$v (source v${src.currentVersion})"))
        }))
      case _ => None
    }
  }

  private def proc(pname: String, params: Array[ProcedureParameter],
                   run: InternalRow => Seq[(String, String)]): UnboundProcedure =
    new UnboundProcedure with BoundProcedure {
      override def name(): String = pname
      override def description(): String = s"graft maintenance procedure $pname"
      override def bind(inputType: StructType): BoundProcedure = this
      override def parameters(): Array[ProcedureParameter] = params
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): JIterator[Scan] = {
        val out = run(input).map { case (a, d) =>
          InternalRow(UTF8String.fromString(a), UTF8String.fromString(d))
        }.toArray
        java.util.List.of[Scan](new LocalScan {
          override def rows(): Array[InternalRow] = out
          override def readSchema(): StructType = resultSchema
          override def description(): String = s"graft $pname result"
        }).iterator()
      }
    }
}
