package graft

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, In, LessThanOrEqual}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.{GraftCatalog, GraftScan, GraftScanBuilder, GraftTable}

/** The SQL-addressable catalog (VERDICT r10 ask #1): literal spark.sql
  * strings drive CREATE/INSERT/SELECT/ALTER/time-travel over
  * KeyedParquetTable roots, and pushed predicates reach the engine's own
  * bucket/stats file pruning.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def sql(q: String) = spark.sql(q)

  private def graftCatalog: GraftCatalog =
    spark.sessionState.catalogManager.catalog("graft").asInstanceOf[GraftCatalog]

  override def beforeAll(): Unit = {
    super.beforeAll()
    sql("CREATE NAMESPACE IF NOT EXISTS graft.spec")
  }

  test("CREATE / INSERT INTO / SELECT round-trips through literal SQL") {
    sql("DROP TABLE IF EXISTS graft.spec.kv")
    sql("""CREATE TABLE graft.spec.kv (id BIGINT, v DOUBLE)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.kv VALUES (1, 1.5), (2, 2.5), (3, 3.5)")
    val got = sql("SELECT id, v FROM graft.spec.kv ORDER BY id")
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)))
    // append is a second snapshot, not a rewrite
    sql("INSERT INTO graft.spec.kv VALUES (4, 4.5)")
    assert(sql("SELECT COUNT(*) FROM graft.spec.kv").head().getLong(0) === 4L)
    // COUNT(*) drives an empty required projection through the scan
    assert(sql("SELECT COUNT(*) FROM graft.spec.kv WHERE id >= 3").head().getLong(0) === 2L)
    assert(sql("SHOW TABLES IN graft.spec").collect().map(_.getString(1)).contains("kv"))
    sql("DROP TABLE graft.spec.kv")
    assert(!graftCatalog.tableExists(Identifier.of(Array("spec"), "kv")))
  }

  test("SQL time travel: VERSION AS OF (numeric + tag) and TIMESTAMP AS OF") {
    sql("DROP TABLE IF EXISTS graft.spec.tt")
    sql("""CREATE TABLE graft.spec.tt (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.tt VALUES (1, 10), (2, 20)") // v1
    sql("INSERT INTO graft.spec.tt VALUES (3, 30)")          // v2
    assert(sql("SELECT COUNT(*) FROM graft.spec.tt VERSION AS OF 1").head().getLong(0) === 2L)
    assert(sql("SELECT COUNT(*) FROM graft.spec.tt").head().getLong(0) === 3L)
    // a tag set through the Scala surface resolves in SQL — one state, two interfaces
    graftCatalog.tableFor(Identifier.of(Array("spec"), "tt")).tagSnapshot("audited", 1)
    assert(sql("SELECT COUNT(*) FROM graft.spec.tt VERSION AS OF 'audited'")
      .head().getLong(0) === 2L)
    // far-future timestamp resolves to the current snapshot
    assert(sql("SELECT COUNT(*) FROM graft.spec.tt TIMESTAMP AS OF '2099-01-01'")
      .head().getLong(0) === 3L)
    intercept[Exception] { sql("SELECT * FROM graft.spec.tt VERSION AS OF 'nope'").collect() }
  }

  test("SQL time travel: VERSION AS OF a branch name reads the branch head") {
    sql("DROP TABLE IF EXISTS graft.spec.br")
    sql("""CREATE TABLE graft.spec.br (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.br VALUES (1, 10), (2, 20)")
    val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), "br"))
    val audit = kpt.createBranch("audit")
    audit.merge(Seq((3L, 30L, "u")).toDF("id", "v", "operation"))
    // the branch head is SQL-addressable; main is untouched
    assert(sql("SELECT COUNT(*) FROM graft.spec.br VERSION AS OF 'audit'")
      .head().getLong(0) === 3L)
    assert(sql("SELECT COUNT(*) FROM graft.spec.br").head().getLong(0) === 2L)
    // branch reads see further branch commits (head, not a frozen pin)
    audit.merge(Seq((4L, 40L, "u")).toDF("id", "v", "operation"))
    assert(sql("SELECT COUNT(*) FROM graft.spec.br VERSION AS OF 'audit'")
      .head().getLong(0) === 4L)
    // a name carried by BOTH a tag and a branch refuses as ambiguous
    kpt.tagSnapshot("audit", 1)
    val e = intercept[Exception] {
      sql("SELECT COUNT(*) FROM graft.spec.br VERSION AS OF 'audit'").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("both a tag and a branch")), msgs(e))
    // the unknown-ref error names available branches
    val e2 = intercept[Exception] {
      sql("SELECT * FROM graft.spec.br VERSION AS OF 'ghost'").collect()
    }
    assert(msgs(e2).exists(m => m.contains("branches") && m.contains("audit")), msgs(e2))
    sql("DROP TABLE graft.spec.br")
  }

  test("full audit-branch workflow as SQL: CALL create_branch, write t.branch_x, fast_forward") {
    sql("DROP TABLE IF EXISTS graft.spec.wf")
    sql("""CREATE TABLE graft.spec.wf (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.wf VALUES (1, 10), (2, 20)")
    val created = sql("CALL graft.system.create_branch(table => 'spec.wf', branch => 'audit')")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(created.head._1 === "create_branch" && created.head._2.contains("audit"))
    // the branch identifier is a WRITABLE table: stage via INSERT, then
    // audit via MERGE (the same DML surface as any graft table)
    sql("INSERT INTO graft.spec.wf.branch_audit VALUES (3, 30)")
    sql("""MERGE INTO graft.spec.wf.branch_audit t
           USING (SELECT CAST(2 AS BIGINT) AS id, CAST(99 AS BIGINT) AS v,
                         'u' AS operation) s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    // main untouched; the branch readable by identifier AND by ref
    assert(sql("SELECT COUNT(*) FROM graft.spec.wf").head().getLong(0) === 2L)
    assert(sql("SELECT SUM(v) FROM graft.spec.wf.branch_audit").head().getLong(0) === 139L)
    assert(sql("SELECT SUM(v) FROM graft.spec.wf VERSION AS OF 'audit'")
      .head().getLong(0) === 139L)
    // publish: main fast-forwards to the audited state
    sql("CALL graft.system.fast_forward(table => 'spec.wf', branch => 'audit')")
    assert(sql("SELECT SUM(v) FROM graft.spec.wf").head().getLong(0) === 139L)
    // drop: the identifier and the ref both stop resolving
    sql("CALL graft.system.drop_branch(table => 'spec.wf', branch => 'audit')")
    intercept[Exception] {
      sql("SELECT * FROM graft.spec.wf.branch_audit").collect() }
    intercept[Exception] {
      sql("SELECT * FROM graft.spec.wf VERSION AS OF 'audit'").collect() }
    sql("DROP TABLE graft.spec.wf")
  }

  test("pushed bucket-key equality reaches the engine's bucket pruner") {
    sql("DROP TABLE IF EXISTS graft.spec.pruned")
    sql("""CREATE TABLE graft.spec.pruned (id BIGINT, payload STRING)
           PARTITIONED BY (bucket(8, id)) TBLPROPERTIES ('graft.keys'='id')""")
    spark.range(0, 400).selectExpr("id", "CAST(id AS STRING) AS payload")
      .createOrReplaceTempView("src400")
    sql("INSERT INTO graft.spec.pruned SELECT id, payload FROM src400")

    val table = graftCatalog.loadTable(Identifier.of(Array("spec"), "pruned"))
      .asInstanceOf[GraftTable]
    def scanWith(filters: org.apache.spark.sql.sources.Filter*): GraftScan = {
      val b = table.newScanBuilder(CaseInsensitiveStringMap.empty())
        .asInstanceOf[GraftScanBuilder]
      b.pushFilters(filters.toArray)
      b.build().asInstanceOf[GraftScan]
    }
    val full = scanWith()
    val eq = scanWith(EqualTo("id", 7L))
    assert(full.pruneMode === "full" && eq.pruneMode.startsWith("buckets"))
    assert(eq.inner.inputFiles.length < full.inner.inputFiles.length,
      s"equality did not prune: ${eq.inner.inputFiles.length} of ${full.inner.inputFiles.length} files")
    // IN on the bucket key prunes to the union of probed buckets
    val in = scanWith(In("id", Array(7L, 8L)))
    assert(in.pruneMode.startsWith("buckets"))
    assert(in.inner.inputFiles.length < full.inner.inputFiles.length)
    // and the SQL answers stay exact on the pruned plan
    assert(sql("SELECT payload FROM graft.spec.pruned WHERE id = 7").head().getString(0) === "7")
    assert(sql("SELECT COUNT(*) FROM graft.spec.pruned WHERE id IN (7, 8)").head().getLong(0) === 2L)
  }

  test("scan statistics: real file bytes, shrinking under pruning; dims auto-broadcast") {
    sql("DROP TABLE IF EXISTS graft.spec.stat_big")
    sql("DROP TABLE IF EXISTS graft.spec.stat_dim")
    sql("""CREATE TABLE graft.spec.stat_big (id BIGINT, grp BIGINT, v DOUBLE)
           PARTITIONED BY (bucket(8, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("""CREATE TABLE graft.spec.stat_dim (grp BIGINT, name STRING)
           TBLPROPERTIES ('graft.keys'='grp')""")
    spark.range(0, 5000)
      .selectExpr("id", "id % 10 AS grp", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("stat_src")
    sql("INSERT INTO graft.spec.stat_big SELECT id, grp, v FROM stat_src")
    sql("""INSERT INTO graft.spec.stat_dim
           SELECT id AS grp, CAST(id AS STRING) AS name FROM range(0, 10)""")

    // the logical stats a join planner sees = the pruned read's file bytes,
    // not defaultSizeInBytes (Long.Max = never broadcast)
    def planBytes(q: String): BigInt = sql(q).queryExecution.optimizedPlan.stats.sizeInBytes
    val fullBytes = planBytes("SELECT * FROM graft.spec.stat_big")
    val prunedBytes = planBytes("SELECT * FROM graft.spec.stat_big WHERE id = 7")
    assert(fullBytes > 0 && fullBytes < Long.MaxValue)
    assert(prunedBytes > 0 && prunedBytes < fullBytes,
      s"pruned read must report fewer bytes: $prunedBytes vs $fullBytes")
    // and the planner actually uses them: the small dim side of a SQL join
    // broadcasts WITHOUT a hint
    val joined = sql("""SELECT d.name, SUM(b.v) AS sv
                        FROM graft.spec.stat_big b
                        JOIN graft.spec.stat_dim d ON b.grp = d.grp
                        GROUP BY d.name""")
    val physical = joined.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      s"dim join did not broadcast:\n$physical")
    assert(joined.collect().length === 10)
    sql("DROP TABLE graft.spec.stat_big")
    sql("DROP TABLE graft.spec.stat_dim")
  }

  test("pushed range on a stats column reaches file-stats pruning") {
    sql("DROP TABLE IF EXISTS graft.spec.ranged")
    sql("""CREATE TABLE graft.spec.ranged (id BIGINT, ts BIGINT)
           PARTITIONED BY (bucket(4, id))
           TBLPROPERTIES ('graft.keys'='id', 'graft.statsCols'='ts')""")
    // two inserts with disjoint ts ranges -> per-file min/max separate them
    spark.range(0, 100).selectExpr("id", "id AS ts").createOrReplaceTempView("lo_rows")
    spark.range(100, 200).selectExpr("id", "id * 10 AS ts").createOrReplaceTempView("hi_rows")
    sql("INSERT INTO graft.spec.ranged SELECT id, ts FROM lo_rows")
    sql("INSERT INTO graft.spec.ranged SELECT id, ts FROM hi_rows")

    val table = graftCatalog.loadTable(Identifier.of(Array("spec"), "ranged"))
      .asInstanceOf[GraftTable]
    val b = table.newScanBuilder(CaseInsensitiveStringMap.empty())
      .asInstanceOf[GraftScanBuilder]
    b.pushFilters(Array(GreaterThanOrEqual("ts", 1000L), LessThanOrEqual("ts", 1990L)))
    val scan = b.build().asInstanceOf[GraftScan]
    assert(scan.pruneMode === "stats[ts]")
    val bFull = table.newScanBuilder(CaseInsensitiveStringMap.empty())
      .asInstanceOf[GraftScanBuilder]
    val fullFiles = bFull.build().asInstanceOf[GraftScan].inner.inputFiles.length
    assert(scan.inner.inputFiles.length < fullFiles)
    assert(sql("SELECT COUNT(*) FROM graft.spec.ranged WHERE ts BETWEEN 1000 AND 1990")
      .head().getLong(0) === 100L)
  }

  test("a pushed range read honours merge-on-read deletes") {
    sql("DROP TABLE IF EXISTS graft.spec.rangedel")
    sql("""CREATE TABLE graft.spec.rangedel (id BIGINT, price DOUBLE)
           PARTITIONED BY (bucket(4, id))
           TBLPROPERTIES ('graft.keys'='id', 'graft.statsCols'='price')""")
    sql("INSERT INTO graft.spec.rangedel SELECT id, CAST(id * 10 AS DOUBLE) FROM range(100)")
    sql("DELETE FROM graft.spec.rangedel WHERE id < 50")
    assert(sql("SELECT count(*) FROM graft.spec.rangedel").head().getLong(0) === 50L)
    val ranged = sql("SELECT count(*) FROM graft.spec.rangedel WHERE price BETWEEN 0 AND 2000")
    assert(ranged.head().getLong(0) === 50L)
    assert(sql("SELECT min(id) FROM graft.spec.rangedel WHERE price BETWEEN 0 AND 600")
      .head().getLong(0) === 50L)
    sql("DROP TABLE graft.spec.rangedel")
  }

  test("every catalog read runs as one Spark plan with the engine's answers") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec, SparkPlan}
    import org.apache.spark.sql.functions.col
    def nodes(df: DataFrame): Seq[SparkPlan] =
      df.queryExecution.sparkPlan.collectWithSubqueries { case p => p }
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    // three shapes of table state: merge-on-read deletes, a renamed
    // column, a column added after the first commits
    for ((t, evolve) <- Seq(
        "one_del" -> s"DELETE FROM graft.spec.one_del WHERE id % 5 = 0",
        "one_ren" -> s"ALTER TABLE graft.spec.one_ren RENAME COLUMN tag TO label",
        "one_add" -> s"ALTER TABLE graft.spec.one_add ADD COLUMN note STRING")) {
      sql(s"DROP TABLE IF EXISTS graft.spec.$t")
      sql(s"""CREATE TABLE graft.spec.$t (id BIGINT, price BIGINT, tag STRING)
              PARTITIONED BY (bucket(8, id))
              TBLPROPERTIES ('graft.keys'='id', 'graft.statsCols'='price')""")
      sql(s"INSERT INTO graft.spec.$t SELECT id, (id * 37) % 1000, CAST(id AS STRING) FROM range(400)")
      val v1 = graftCatalog.tableFor(Identifier.of(Array("spec"), t)).currentVersion
      sql(evolve)
      // a changelog does not span a rename: read the changes after it
      val v2 = graftCatalog.tableFor(Identifier.of(Array("spec"), t)).currentVersion
      val more = if (t == "one_add") ", 'n'" else ""
      sql(s"INSERT INTO graft.spec.$t SELECT id, (id * 37) % 1000, 'x'$more FROM range(400, 500)")
      val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), t))
      val cur = kpt.read()
      val reads = Seq[(DataFrame, DataFrame, Boolean)](
        (sql(s"SELECT * FROM graft.spec.$t WHERE id IN (3, 17, 410)"),
          cur.filter(col("id").isin(3L, 17L, 410L)), true),
        (sql(s"SELECT * FROM graft.spec.$t WHERE price BETWEEN 100 AND 299"),
          cur.filter(col("price").between(100L, 299L)), true),
        (sql(s"SELECT count(*) FROM graft.spec.$t VERSION AS OF $v1"),
          spark.range(1).selectExpr(s"${kpt.readVersion(v1).count()}L"), true),
        (spark.read.option("fromVersion", v2.toString).table(s"graft.spec.$t.changes"),
          kpt.changefeedBetween(v2, kpt.currentVersion), false),
        (sql(s"SELECT * FROM graft.spec.$t.history"), kpt.history(), false))
      reads.foreach { case (got, want, tableRead) =>
        val plan = nodes(got)
        assert(!plan.exists(_.isInstanceOf[RowDataSourceScanExec]),
          s"$t: a Row-bridged scan is left in\n${got.queryExecution.sparkPlan}")
        if (tableRead) assert(plan.exists(_.isInstanceOf[FileSourceScanExec]),
          s"$t: no parquet file scan in\n${got.queryExecution.sparkPlan}")
        assert(rows(got) === rows(want), t)
        assert(rows(got).nonEmpty, t)
      }
      // a self-join in one statement: two inlined reads of one table
      val selfJoin = sql(s"""SELECT a.id, b.price FROM graft.spec.$t a
                             JOIN graft.spec.$t b ON a.id = b.id + 1
                             WHERE a.price BETWEEN 100 AND 299""")
      assert(!nodes(selfJoin).exists(_.isInstanceOf[RowDataSourceScanExec]))
      assert(rows(selfJoin) === rows(cur.filter(col("price").between(100L, 299L)).as("a")
        .join(cur.as("b"), col("a.id") === col("b.id") + 1).select("a.id", "b.price")), t)
      // the same read from a new session, whose catalog loads there
      val other = spark.newSession().sql(s"SELECT * FROM graft.spec.$t WHERE id IN (3, 17, 410)")
      assert(!nodes(other).exists(_.isInstanceOf[RowDataSourceScanExec]))
      assert(rows(other) === rows(cur.filter(col("id").isin(3L, 17L, 410L))), t)
      sql(s"DROP TABLE graft.spec.$t")
    }
  }

  test("ALTER TABLE: add / rename / drop column and TBLPROPERTIES via SQL") {
    sql("DROP TABLE IF EXISTS graft.spec.alt")
    sql("""CREATE TABLE graft.spec.alt (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.alt VALUES (1, 10)")
    sql("ALTER TABLE graft.spec.alt ADD COLUMN note STRING")
    sql("INSERT INTO graft.spec.alt VALUES (2, 20, 'two')")
    val rows = sql("SELECT id, note FROM graft.spec.alt ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows === Seq((1L, null), (2L, "two"))) // pre-evolution rows read NULL
    sql("ALTER TABLE graft.spec.alt RENAME COLUMN note TO remark")
    assert(sql("SELECT remark FROM graft.spec.alt WHERE id = 2").head().getString(0) === "two")
    sql("ALTER TABLE graft.spec.alt DROP COLUMN remark")
    assert(!sql("SELECT * FROM graft.spec.alt").columns.contains("remark"))
    sql("ALTER TABLE graft.spec.alt SET TBLPROPERTIES ('owner.team'='curation')")
    val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), "alt"))
    assert(kpt.properties.get("owner.team").contains("curation"))
    sql("ALTER TABLE graft.spec.alt UNSET TBLPROPERTIES ('owner.team')")
    assert(!graftCatalog.tableFor(Identifier.of(Array("spec"), "alt"))
      .properties.contains("owner.team"))
  }

  test("INSERT OVERWRITE replaces the table state as a new snapshot") {
    sql("DROP TABLE IF EXISTS graft.spec.ow")
    sql("""CREATE TABLE graft.spec.ow (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.ow VALUES (1, 10), (2, 20)")
    sql("INSERT OVERWRITE graft.spec.ow VALUES (9, 90)")
    assert(sql("SELECT id, v FROM graft.spec.ow").as[(Long, Long)].collect().toSeq
      === Seq((9L, 90L)))
    // the overwritten state is still time-travelable
    assert(sql("SELECT COUNT(*) FROM graft.spec.ow VERSION AS OF 1").head().getLong(0) === 2L)
  }

  test("MERGE INTO text executes the reference's CDC shape through the engine merge") {
    sql("DROP TABLE IF EXISTS graft.spec.cdc")
    sql("""CREATE TABLE graft.spec.cdc (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.cdc VALUES (1, 10), (2, 20)")
    Seq((2L, 0L, "d"), (3L, 30L, "u"), (1L, 11L, "u"))
      .toDF("id", "v", "operation").createOrReplaceTempView("cdc_src")
    // the reference's exact statement shape (spark_batch.py:273-280) —
    // and NO action on the returned frame: MERGE must execute eagerly
    sql("""MERGE INTO graft.spec.cdc target
           USING cdc_src source
           ON target.id = source.id
           WHEN MATCHED AND source.operation = 'd' THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    assert(sql("SELECT id, v FROM graft.spec.cdc ORDER BY id")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 11L), (3L, 30L)))
  }

  test("MERGE INTO: ANSI cardinality guard and canonical-shape refusals") {
    sql("DROP TABLE IF EXISTS graft.spec.cdc2")
    sql("""CREATE TABLE graft.spec.cdc2 (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.cdc2 VALUES (1, 10)")
    // duplicate source keys must fail the statement, not corrupt the table
    Seq((1L, 1L, "u"), (1L, 2L, "u")).toDF("id", "v", "operation")
      .createOrReplaceTempView("dup_src")
    val e = intercept[Exception] {
      sql("""MERGE INTO graft.spec.cdc2 t USING dup_src s ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(e.getMessage.contains("cardinality") ||
      Option(e.getCause).exists(_.getMessage.contains("cardinality")), e.getMessage)
    assert(sql("SELECT v FROM graft.spec.cdc2").as[Long].collect().toSeq === Seq(10L))
    // unsupported shapes refuse with an actionable message
    Seq((1L, 5L, "u")).toDF("id", "v", "operation").createOrReplaceTempView("one_src")
    val r1 = intercept[Exception] {
      sql("""MERGE INTO graft.spec.cdc2 t USING one_src s ON t.id = s.id
             WHEN MATCHED AND t.v < s.v THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(r1.getMessage.contains("canonical"), r1.getMessage)
    // ON not covering the key
    val r2 = intercept[Exception] {
      sql("""MERGE INTO graft.spec.cdc2 t USING one_src s ON t.v = s.v
             WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    }
    assert(r2.getMessage.contains("keys"), r2.getMessage)
  }

  test("CTAS / TRUNCATE / RENAME / DESCRIBE round out the DDL surface") {
    sql("DROP TABLE IF EXISTS graft.spec.ctas")
    sql("DROP TABLE IF EXISTS graft.spec.ctas2")
    // CTAS with engine layout carried through TBLPROPERTIES + PARTITIONED BY
    sql("""CREATE TABLE graft.spec.ctas
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')
           AS SELECT CAST(id AS BIGINT) AS id, id * 10 AS v FROM range(5)""")
    assert(sql("SELECT COUNT(*), CAST(SUM(v) AS BIGINT) FROM graft.spec.ctas")
      .as[(Long, Long)].head() === ((5L, 100L)))
    // the CTAS table is a full engine table: MERGE works against it
    Seq((9L, 90L, "u")).toDF("id", "v", "operation").createOrReplaceTempView("ctas_src")
    sql("""MERGE INTO graft.spec.ctas t USING ctas_src s ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    assert(sql("SELECT COUNT(*) FROM graft.spec.ctas").head().getLong(0) === 6L)
    // DESCRIBE sees the declared schema
    val cols = sql("DESCRIBE TABLE graft.spec.ctas").collect().map(_.getString(0)).toSeq
    assert(cols.contains("id") && cols.contains("v"), cols.mkString(","))
    // RENAME keeps data and history (target is catalog-relative — Spark
    // passes it verbatim, and a catalog-qualified target refuses loudly
    // instead of silently creating namespace [graft, spec])
    intercept[Exception] {
      sql("ALTER TABLE graft.spec.ctas RENAME TO graft.spec.ctas2") }
    sql("ALTER TABLE graft.spec.ctas RENAME TO spec.ctas2")
    assert(sql("SELECT COUNT(*) FROM graft.spec.ctas2").head().getLong(0) === 6L)
    intercept[Exception] { sql("SELECT * FROM graft.spec.ctas").collect() }
    // TRUNCATE is an atomic empty-snapshot commit; prior state time-travels
    val preVersion = graftCatalog.tableFor(Identifier.of(Array("spec"), "ctas2"))
      .currentVersion
    sql("TRUNCATE TABLE graft.spec.ctas2")
    assert(sql("SELECT COUNT(*) FROM graft.spec.ctas2").head().getLong(0) === 0L)
    assert(sql(s"SELECT COUNT(*) FROM graft.spec.ctas2 VERSION AS OF $preVersion")
      .head().getLong(0) === 6L)
    // and the truncated table accepts new writes
    sql("INSERT INTO graft.spec.ctas2 VALUES (1, 1)")
    assert(sql("SELECT COUNT(*) FROM graft.spec.ctas2").head().getLong(0) === 1L)
    sql("DROP TABLE graft.spec.ctas2")
  }

  test("concurrent INSERT INTO: racing commits serialize on the CAS swing") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    sql("DROP TABLE IF EXISTS graft.spec.race")
    sql("""CREATE TABLE graft.spec.race (id BIGINT, src BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    val writers = 4
    val latch = new CountDownLatch(writers)
    val pool = Executors.newFixedThreadPool(writers)
    val futures = (0 until writers).map { w =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        override def call(): Option[Throwable] = {
          latch.countDown(); latch.await(10, TimeUnit.SECONDS)
          try { // all four fire together; each appends a disjoint id range
            sql(s"""INSERT INTO graft.spec.race
                    SELECT id, CAST($w AS BIGINT) FROM range(${w * 100}, ${w * 100 + 50})""")
            None
          } catch { case t: Throwable => Some(t) }
        }
      })
    }
    val errs = futures.flatMap(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(errs.isEmpty, s"racing INSERTs failed: ${errs.map(_.getMessage)}")
    // every append landed exactly once...
    assert(sql("SELECT COUNT(*) FROM graft.spec.race").head().getLong(0) === writers * 50L)
    assert(sql("SELECT COUNT(DISTINCT src) FROM graft.spec.race").head().getLong(0)
      === writers.toLong)
    // ...and the snapshot history is LINEAR: one version per commit, each
    // adding exactly its own 50 rows
    val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), "race"))
    assert(kpt.currentVersion === writers.toLong) // v0 create + 4 appends
    (1 to writers).foreach { v =>
      assert(kpt.readVersion(v).count() === v * 50L, s"version $v")
    }
    // a SECOND catalog instance over the SAME warehouse (the two-session
    // shape) sees the converged state through its own pointer read
    val cat2 = new GraftCatalog()
    val opts = new java.util.HashMap[String, String]()
    opts.put("warehouse", graftCatalog.warehouseDir.toString)
    cat2.initialize("graft2", new CaseInsensitiveStringMap(opts))
    assert(cat2.tableFor(Identifier.of(Array("spec"), "race")).read().count()
      === writers * 50L)
    sql("DROP TABLE graft.spec.race")
  }

  test("concurrent MERGE INTO: losers re-execute against the winner's state") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    sql("DROP TABLE IF EXISTS graft.spec.mrace")
    sql("""CREATE TABLE graft.spec.mrace (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.mrace SELECT id, CAST(0 AS BIGINT) FROM range(0, 40)")
    // two writers, DISJOINT key slices, racing the same table: the MERGE
    // statement retry must re-execute the loser against the winner's
    // committed state — both updates land, neither is lost or duplicated
    val writers = 2
    val latch = new CountDownLatch(writers)
    val pool = Executors.newFixedThreadPool(writers)
    val futures = (0 until writers).map { w =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        override def call(): Option[Throwable] = {
          latch.countDown(); latch.await(10, TimeUnit.SECONDS)
          try {
            sql(s"""MERGE INTO graft.spec.mrace t
                    USING (SELECT id, CAST(${w + 1} AS BIGINT) AS v, 'u' AS operation
                           FROM range(${w * 20}, ${w * 20 + 20})) s
                    ON t.id = s.id
                    WHEN MATCHED THEN UPDATE SET *
                    WHEN NOT MATCHED THEN INSERT *""")
            None
          } catch { case t: Throwable => Some(t) }
        }
      })
    }
    val errs = futures.flatMap(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(errs.isEmpty, s"racing MERGEs failed: ${errs.map(_.getMessage)}")
    assert(sql("SELECT COUNT(*) FROM graft.spec.mrace").head().getLong(0) === 40L)
    assert(sql("SELECT CAST(SUM(v) AS BIGINT) FROM graft.spec.mrace").head().getLong(0)
      === 20L * 1 + 20L * 2) // writer 1's slice all 1s, writer 2's all 2s
    sql("DROP TABLE graft.spec.mrace")
  }

  test("register: a Scala-created root becomes SQL-addressable; DROP keeps data") {
    import graft.cdc.KeyedParquetTable
    val root = java.nio.file.Files.createTempDirectory("kpt_reg").toString
    val kpt = new KeyedParquetTable(spark, root, Seq("id"), Nil, 4)
    kpt.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))            // v0
    kpt.merge(Seq((3L, 30L, "u")).toDF("id", "v", "operation"))      // v1
    val ident = Identifier.of(Array("spec"), "registered")
    sql("DROP TABLE IF EXISTS graft.spec.registered")
    graftCatalog.register(ident, root)
    // current read and VERSION AS OF resolve through literal SQL
    assert(sql("SELECT id, v FROM graft.spec.registered ORDER BY id")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(sql("SELECT COUNT(*) FROM graft.spec.registered VERSION AS OF 0")
      .head().getLong(0) === 2L)
    // both surfaces still see ONE state: a Scala merge is visible to SQL
    kpt.merge(Seq((1L, 0L, "d")).toDF("id", "v", "operation"))       // v2
    assert(sql("SELECT id FROM graft.spec.registered ORDER BY id")
      .as[Long].collect().toSeq === Seq(2L, 3L))
    // and SQL DML drives the same root back the other way
    sql("INSERT INTO graft.spec.registered VALUES (9, 90)")
    assert(kpt.read().count() === 3L)
    // declared layout conflicting with the pinned one refuses
    intercept[Exception] {
      sql(s"""CREATE TABLE graft.spec.reg2 (id BIGINT, v BIGINT)
              PARTITIONED BY (bucket(8, id))
              TBLPROPERTIES ('graft.keys'='id', 'graft.location'='$root')""") }
    // the SQL registration face with an AGREEING layout works
    sql(s"""CREATE TABLE graft.spec.reg2 (id BIGINT, v BIGINT)
            PARTITIONED BY (bucket(4, id))
            TBLPROPERTIES ('graft.keys'='id', 'graft.location'='$root')""")
    assert(sql("SELECT COUNT(*) FROM graft.spec.reg2").head().getLong(0) === 3L)
    // the full SQL DML surface drives the registered root: MERGE text,
    // UPDATE ... WHERE, DELETE FROM ... WHERE — one state, two interfaces
    Seq((2L, 200L, "u"), (9L, 0L, "d")).toDF("id", "v", "operation")
      .createOrReplaceTempView("reg_src")
    sql("""MERGE INTO graft.spec.registered t USING reg_src s ON t.id = s.id
           WHEN MATCHED AND s.operation = 'd' THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    sql("UPDATE graft.spec.registered SET v = v + 1 WHERE id = 3")
    sql("DELETE FROM graft.spec.registered WHERE v >= 200")
    assert(kpt.read().orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((3L, 31L)))
    // DROP unregisters the pointer; the external root is untouched
    sql("DROP TABLE graft.spec.reg2")
    sql("DROP TABLE graft.spec.registered")
    assert(kpt.read().count() === 1L)
    // a partitioned root PINS its partition columns in the layout props,
    // so registration restores them without a declaration (and a
    // conflicting declaration refuses)
    import graft.cdc.KeyedParquetTable
    val proot = java.nio.file.Files.createTempDirectory("kpt_regp").toString
    val pkpt = new KeyedParquetTable(spark, proot, Seq("id"), Seq("grp"), 2)
    pkpt.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "grp"))
    intercept[IllegalArgumentException] {
      graftCatalog.register(Identifier.of(Array("spec"), "regbad"), proot,
        partitionBy = Seq("other")) }
    graftCatalog.register(Identifier.of(Array("spec"), "regp"), proot)
    assert(sql("SELECT COUNT(*) FROM graft.spec.regp").head().getLong(0) === 2L)
    // SQL-driven writes keep the partition directory layout (the pinned
    // partitionBy reached the opened instance)
    sql("INSERT INTO graft.spec.regp VALUES (3, 'b')")
    assert(sql("SELECT id FROM graft.spec.regp WHERE grp = 'b' ORDER BY id")
      .as[Long].collect().toSeq === Seq(2L, 3L))
    sql("DROP TABLE graft.spec.regp")
    // a root without its layout pins is not in the current on-disk format:
    // registration (even with the partition columns declared), openRoot,
    // merge and readForKeys all refuse it and name the migration
    val props = java.nio.file.Paths.get(proot, "_properties")
    java.nio.file.Files.writeString(props,
      java.nio.file.Files.readString(props).linesIterator
        .filterNot(_.startsWith("graft.layout.partition-by="))
        .mkString("\n"))
    def open() = new KeyedParquetTable(spark, proot, Seq("id"), Seq("grp"), 2)
    val refusals = Seq(
      intercept[IllegalStateException] {
        graftCatalog.register(Identifier.of(Array("spec"), "regleg"), proot) },
      intercept[IllegalStateException] {
        graftCatalog.register(Identifier.of(Array("spec"), "regleg"), proot,
          partitionBy = Seq("grp")) },
      intercept[IllegalStateException] { KeyedParquetTable.openRoot(spark, proot) },
      intercept[IllegalStateException] {
        open().merge(Seq((4L, "a", "u")).toDF("id", "grp", "operation")) },
      intercept[IllegalStateException] { open().readForKeys(Seq(1L).toDF("id")) })
    refusals.foreach(e => assert(e.getMessage.contains("read() into a new root"),
      e.getMessage))
    assert(!graftCatalog.tableExists(Identifier.of(Array("spec"), "regleg")))
  }

  test("UPDATE ... WHERE / DELETE FROM ... WHERE as literal SQL; refusals") {
    sql("DROP TABLE IF EXISTS graft.spec.dml")
    sql("""CREATE TABLE graft.spec.dml (id BIGINT, grp STRING, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.dml VALUES (1,'a',10), (2,'a',20), (3,'b',30), (4,'b',40)")
    // UPDATE with a self-referencing assignment and a predicate
    sql("UPDATE graft.spec.dml SET v = v + 100 WHERE grp = 'a'")
    assert(sql("SELECT id, v FROM graft.spec.dml ORDER BY id")
      .as[(Long, Long)].collect().toSeq ===
      Seq((1L, 110L), (2L, 120L), (3L, 30L), (4L, 40L)))
    // DELETE by predicate (merge-on-read delete set, no rewrite)
    sql("DELETE FROM graft.spec.dml WHERE v >= 120")
    assert(sql("SELECT id FROM graft.spec.dml ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L, 4L))
    // both DML verbs are snapshots: the pre-DML state time-travels
    assert(sql("SELECT COUNT(*) FROM graft.spec.dml VERSION AS OF 1").head().getLong(0) === 4L)
    // refusals: key assignment, subquery predicate
    val r1 = intercept[Exception] { sql("UPDATE graft.spec.dml SET id = id + 1") }
    assert(r1.getMessage.contains("key"), r1.getMessage)
    val r2 = intercept[Exception] {
      sql("""DELETE FROM graft.spec.dml
             WHERE v IN (SELECT v FROM graft.spec.dml WHERE grp = 'b')""") }
    assert(r2.getMessage.contains("subquery"), r2.getMessage)
    // refused statements left the table untouched
    assert(sql("SELECT COUNT(*) FROM graft.spec.dml").head().getLong(0) === 3L)
    sql("DROP TABLE graft.spec.dml")
  }

  test("MERGE INTO: ANSI unmatched-delete rows INSERT; source evaluates once") {
    sql("DROP TABLE IF EXISTS graft.spec.cdc3")
    sql("""CREATE TABLE graft.spec.cdc3 (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.cdc3 VALUES (1, 10), (2, 20)")
    // id=2 matched 'd' → deleted; id=9 'd' but NOT matched → the
    // unconditional WHEN NOT MATCHED THEN INSERT * must land it (ANSI);
    // the engine's own CDC no-op-tombstone protocol must not leak here
    Seq((2L, 0L, "d"), (9L, 90L, "d"), (3L, 30L, "u"))
      .toDF("id", "v", "operation").createOrReplaceTempView("ansi_src")
    sql("""MERGE INTO graft.spec.cdc3 target USING ansi_src source
           ON target.id = source.id
           WHEN MATCHED AND source.operation = 'd' THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    assert(sql("SELECT id, v FROM graft.spec.cdc3 ORDER BY id")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 10L), (3L, 30L), (9L, 90L)))
    // a non-deterministic source is materialized ONCE before the engine's
    // multi-evaluation merge path (bucket probe + merge + exists probe):
    // whatever ids the scramble drew, the table must hold exactly the
    // drawn set with no duplicated or phantom rows
    sql("""MERGE INTO graft.spec.cdc3 target
           USING (SELECT CAST(seq * 1000000 + FLOOR(RAND() * 1000) AS BIGINT) AS id,
                         seq AS v, 'u' AS operation
                  FROM (SELECT explode(sequence(1, 5)) AS seq)) source
           ON target.id = source.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
    // per-seq disjoint ranges keep keys unique; a re-evaluated (different)
    // draw between the bucket probe and the merge would duplicate or lose
    // rows — exactly 5 must land
    assert(sql("SELECT COUNT(*) FROM graft.spec.cdc3 WHERE id >= 1000000")
      .head().getLong(0) === 5L)
    assert(sql("SELECT COUNT(*) FROM graft.spec.cdc3 WHERE id < 1000000").head().getLong(0) === 3L)
  }

  test("metadata tables: history / files / snapshots / tags / properties via SQL") {
    sql("DROP TABLE IF EXISTS graft.spec.meta")
    sql("""CREATE TABLE graft.spec.meta (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id))
           TBLPROPERTIES ('graft.keys'='id', 'team'='curation')""")
    sql("INSERT INTO graft.spec.meta VALUES (1, 10)") // v1
    sql("INSERT INTO graft.spec.meta VALUES (2, 20)") // v2
    // history: one row per retained snapshot, current flagged
    val hist = sql("SELECT snapshot_id, is_current FROM graft.spec.meta.history ORDER BY snapshot_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(hist === Seq((0L, false), (1L, false), (2L, true)))
    // files: current snapshot's data-file inventory (no data scan needed)
    assert(sql("SELECT COUNT(*) FROM graft.spec.meta.files").head().getLong(0) >= 2L)
    // snapshots: per-snapshot storage footprint rows
    assert(sql("SELECT COUNT(*) FROM graft.spec.meta.snapshots").head().getLong(0) === 3L)
    // tags round-trip both surfaces
    graftCatalog.tableFor(Identifier.of(Array("spec"), "meta")).tagSnapshot("rel", 1)
    assert(sql("SELECT tag, snapshot_id FROM graft.spec.meta.tags")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("rel", 1L)))
    // properties carries the CREATE's TBLPROPERTIES
    assert(sql("SELECT value FROM graft.spec.meta.properties WHERE key = 'team'")
      .head().getString(0) === "curation")
    // a bogus metadata view is a missing table, not a silent empty frame
    intercept[Exception] { sql("SELECT * FROM graft.spec.meta.nonsense").collect() }
  }

  test("CALL procedures: rewrite_data_files / expire / orphans / auto_maintain") {
    sql("DROP TABLE IF EXISTS graft.spec.proc")
    sql("""CREATE TABLE graft.spec.proc (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    // fragment it: several tiny appends
    (1 to 6).foreach(k => sql(s"INSERT INTO graft.spec.proc VALUES ($k, ${k * 10})"))
    val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), "proc"))
    val filesBefore = kpt.files().count()

    val rewrite = sql(
      "CALL graft.system.rewrite_data_files(table => 'spec.proc', min_input_files => 2)")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rewrite.head._1 === "rewrite_data_files", rewrite.mkString(";"))
    assert(kpt.files().count() < filesBefore)

    // sort_order clusters the rewrite (Iceberg's argument shape); data
    // intact, outcome row names the order, bogus columns refuse
    sql("INSERT INTO graft.spec.proc VALUES (7, 5)")
    val sorted = sql("""CALL graft.system.rewrite_data_files(
        table => 'spec.proc', min_input_files => 1, sort_order => 'v')""")
      .collect().map(_.getString(1)).head
    assert(sorted.contains("sorted by v"), sorted)
    assert(sql("SELECT COUNT(*) FROM graft.spec.proc").head().getLong(0) === 7L)
    intercept[Exception] { sql("""CALL graft.system.rewrite_data_files(
        table => 'spec.proc', min_input_files => 1, sort_order => 'nope')""") }

    val expired = sql(
      "CALL graft.system.expire_snapshots(table => 'spec.proc', older_than_ms => 0, retain_last => 1)")
      .collect().map(_.getString(1)).head
    assert(expired.startsWith("expired v"), expired)

    val orphans = sql("CALL graft.system.remove_orphan_files(table => 'spec.proc')")
      .collect().map(_.getString(1)).head
    assert(orphans.contains("orphan"), orphans)

    // auto_maintain reports the executed plan; the routine sweep is always advised
    val auto = sql("CALL graft.system.auto_maintain(table => 'spec.proc')")
      .collect().map(_.getString(0))
    assert(auto.contains("remove_orphans"), auto.mkString(","))
    // data intact through the whole maintenance pass (6 seeds + the
    // sort_order case's extra row)
    assert(sql("SELECT COUNT(*) FROM graft.spec.proc").head().getLong(0) === 7L)
    // unknown procedure refuses (Spark wraps it as FAILED_TO_LOAD_ROUTINE;
    // our inventory message rides the cause chain)
    val e = intercept[Exception] { sql("CALL graft.system.nope(table => 'spec.proc')") }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(messages.contains("FAILED_TO_LOAD_ROUTINE") || messages.contains("available"),
      messages)
  }

  test(".changes metadata table: changelog rows via reader options") {
    sql("DROP TABLE IF EXISTS graft.spec.chg")
    sql("""CREATE TABLE graft.spec.chg (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.chg VALUES (1, 10), (2, 20), (3, 30)")  // v1
    sql("UPDATE graft.spec.chg SET v = 21 WHERE id = 2")                 // v2
    sql("DELETE FROM graft.spec.chg WHERE id = 3")                       // v3
    val ch = spark.read.option("fromVersion", "1")
      .table("graft.spec.chg.changes")
      .select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(ch.toSeq === Seq((2L, 21L, "update"), (3L, 30L, "delete")))
    // column pruning through the scan; toVersion bounds the range
    assert(spark.read.option("fromVersion", "1").option("toVersion", "2")
      .table("graft.spec.chg.changes").select("_change_type").collect()
      .map(_.getString(0)).toSeq === Seq("update"))
    // no fromVersion → loud refusal naming the option
    val e = intercept[Exception] {
      spark.table("graft.spec.chg.changes").collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("fromVersion"))), e.getMessage)
    sql("DROP TABLE graft.spec.chg")
  }

  test("CALL sync_into: changelog-driven replication between catalog tables") {
    sql("DROP TABLE IF EXISTS graft.spec.sync_src")
    sql("DROP TABLE IF EXISTS graft.spec.sync_dst")
    sql("""CREATE TABLE graft.spec.sync_src (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("""CREATE TABLE graft.spec.sync_dst (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.sync_src VALUES (1, 10), (2, 20), (3, 30)") // v1
    val r1 = sql("CALL graft.system.sync_into(table => 'spec.sync_src', " +
      "target => 'spec.sync_dst', from_version => 0)").collect()
    assert(r1.head.getString(0) === "sync_into", r1.head.toString)
    assert(sql("SELECT SUM(v) FROM graft.spec.sync_dst").head().getLong(0) === 60L)
    // source moves on: update + delete; catch up from the synced version
    val synced = graftCatalog
      .tableFor(Identifier.of(Array("spec"), "sync_src")).currentVersion
    sql("UPDATE graft.spec.sync_src SET v = 21 WHERE id = 2")
    sql("DELETE FROM graft.spec.sync_src WHERE id = 3")
    sql("CALL graft.system.sync_into(table => 'spec.sync_src', " +
      s"target => 'spec.sync_dst', from_version => $synced)").collect()
    val rows = sql("SELECT id, v FROM graft.spec.sync_dst ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((1L, 10L), (2L, 21L)))
    sql("DROP TABLE graft.spec.sync_src")
    sql("DROP TABLE graft.spec.sync_dst")
  }

  test("CALL procedures: rollback_to_snapshot/timestamp, create_tag/drop_tag") {
    sql("DROP TABLE IF EXISTS graft.spec.rb")
    sql("""CREATE TABLE graft.spec.rb (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.rb VALUES (1, 10)")          // v1
    sql("INSERT INTO graft.spec.rb VALUES (2, 20)")          // v2
    sql("CALL graft.system.create_tag(table => 'spec.rb', tag => 'train-v1')")
    sql("INSERT INTO graft.spec.rb VALUES (3, 30)")          // v3
    val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), "rb"))
    val tsNow = System.currentTimeMillis()
    assert(sql("SELECT COUNT(*) FROM graft.spec.rb").head().getLong(0) === 3L)

    // tag pins: rolling back BELOW the tag refuses; to (at) the tag is fine
    val refuse = intercept[Exception] {
      sql("CALL graft.system.rollback_to_snapshot(table => 'spec.rb', version => 1)")
        .collect()
    }
    assert(Iterator.iterate[Throwable](refuse)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("tag"))), refuse.getMessage)

    val rb = sql(
      "CALL graft.system.rollback_to_snapshot(table => 'spec.rb', version => 2)")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rb.head === ("rollback_to_snapshot", "current is v2"))
    assert(sql("SELECT SUM(v) FROM graft.spec.rb").head().getLong(0) === 30L)
    assert(kpt.currentVersion === 2L)

    // tag readable by SQL ref; drop_tag then re-rollback to v1 succeeds
    assert(sql("SELECT SUM(v) FROM graft.spec.rb VERSION AS OF 'train-v1'")
      .head().getLong(0) === 30L)
    sql("CALL graft.system.drop_tag(table => 'spec.rb', tag => 'train-v1')")
    sql("CALL graft.system.rollback_to_snapshot(table => 'spec.rb', version => 1)")
    assert(sql("SELECT SUM(v) FROM graft.spec.rb").head().getLong(0) === 10L)

    // rollback_to_timestamp: "now" resolves to the current snapshot (no-op
    // swing), a pre-table timestamp refuses loudly
    sql("CALL graft.system.rollback_to_timestamp(" +
      s"table => 'spec.rb', timestamp_ms => $tsNow)")
    assert(kpt.currentVersion === 1L)
    val old = intercept[Exception] {
      sql("CALL graft.system.rollback_to_timestamp(table => 'spec.rb', timestamp_ms => 1)")
        .collect()
    }
    assert(Iterator.iterate[Throwable](old)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("no retained snapshot"))),
      old.getMessage)
    sql("DROP TABLE graft.spec.rb")
  }

  test("CREATE VIEW / SELECT / SHOW VIEWS / DROP VIEW round-trip") {
    sql("DROP TABLE IF EXISTS graft.spec.vbase")
    sql("""CREATE TABLE graft.spec.vbase (id BIGINT, grp STRING, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.vbase VALUES (1,'a',10), (2,'a',20), (3,'b',30)")
    sql("DROP VIEW IF EXISTS graft.spec.by_grp")
    sql("""CREATE VIEW graft.spec.by_grp AS
           SELECT grp, SUM(v) AS total FROM graft.spec.vbase GROUP BY grp""")
    val got = sql("SELECT grp, total FROM graft.spec.by_grp ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === Seq(("a", 30L), ("b", 30L)))
    // views re-resolve their text: new data is visible without recreation
    sql("INSERT INTO graft.spec.vbase VALUES (4,'b',40)")
    assert(sql("SELECT total FROM graft.spec.by_grp WHERE grp = 'b'")
      .head().getLong(0) === 70L)
    assert(sql("SHOW VIEWS IN graft.spec").collect()
      .map(_.getString(1)).contains("by_grp"))
    // a view is not a table and vice versa
    assert(!sql("SHOW TABLES IN graft.spec").collect()
      .map(_.getString(1)).contains("by_grp"))
    sql("DROP VIEW graft.spec.by_grp")
    intercept[Exception] { sql("SELECT * FROM graft.spec.by_grp").collect() }
  }

  test("view semantics: capture context, OR REPLACE, IF NOT EXISTS, collisions") {
    sql("DROP TABLE IF EXISTS graft.spec.vbase2")
    sql("""CREATE TABLE graft.spec.vbase2 (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.vbase2 VALUES (1, 10), (2, 20)")
    // capture context: the view text names the base UNQUALIFIED; created
    // under USE graft.spec, it must resolve in that captured namespace even
    // when read from a different current catalog/namespace
    val (cat0, ns0) = (sql("SELECT current_catalog()").head().getString(0),
      sql("SELECT current_schema()").head().getString(0))
    sql("USE graft.spec")
    sql("DROP VIEW IF EXISTS vsum2")
    sql("CREATE VIEW vsum2 AS SELECT SUM(v) AS total FROM vbase2")
    // bare SHOW VIEWS resolves against the CURRENT (graft) namespace
    assert(sql("SHOW VIEWS").collect().map(_.getString(1)).contains("vsum2"))
    sql(s"USE $cat0.$ns0")
    assert(sql("SELECT total FROM graft.spec.vsum2").head().getLong(0) === 30L)
    // OR REPLACE swaps the text; IF NOT EXISTS is a no-op on an existing view
    sql("CREATE OR REPLACE VIEW graft.spec.vsum2 AS SELECT COUNT(*) AS total FROM graft.spec.vbase2")
    assert(sql("SELECT total FROM graft.spec.vsum2").head().getLong(0) === 2L)
    sql("CREATE VIEW IF NOT EXISTS graft.spec.vsum2 AS SELECT 99 AS total")
    assert(sql("SELECT total FROM graft.spec.vsum2").head().getLong(0) === 2L)
    // column aliases in the CREATE column list rename the query output
    sql("DROP VIEW IF EXISTS graft.spec.vcols")
    sql("CREATE VIEW graft.spec.vcols (k, total) AS SELECT id, v FROM graft.spec.vbase2")
    assert(sql("SELECT k, total FROM graft.spec.vcols WHERE k = 2").head().getLong(1) === 20L)
    // collisions refuse both ways: a view cannot shadow a table and vice versa
    intercept[Exception] {
      sql("CREATE VIEW graft.spec.vbase2 AS SELECT 1 AS x") }
    intercept[Exception] {
      sql("CREATE TABLE graft.spec.vsum2 (x BIGINT) TBLPROPERTIES ('graft.keys'='x')") }
    // direct self-reference refuses loudly instead of looping the analyzer
    sql("DROP VIEW IF EXISTS graft.spec.vself")
    sql("CREATE OR REPLACE VIEW graft.spec.vself AS SELECT * FROM graft.spec.vbase2")
    sql("CREATE OR REPLACE VIEW graft.spec.vself AS SELECT * FROM graft.spec.vself")
    val e = intercept[Exception] { sql("SELECT * FROM graft.spec.vself").collect() }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("recursive"))), e.getMessage)
    sql("DROP VIEW graft.spec.vself")
    sql("DROP VIEW graft.spec.vcols")
    sql("DROP VIEW graft.spec.vsum2")
    // ALTER VIEW ... AS redefines in place (and refuses a missing view)
    sql("CREATE OR REPLACE VIEW graft.spec.valter AS SELECT 1 AS x")
    sql("ALTER VIEW graft.spec.valter AS SELECT 2 AS x")
    assert(sql("SELECT x FROM graft.spec.valter").head().getInt(0) === 2)
    sql("DROP VIEW graft.spec.valter")
    intercept[Exception] { sql("ALTER VIEW graft.spec.valter AS SELECT 3 AS x") }
    // views over views: each resolution pass expands one layer
    sql("DROP VIEW IF EXISTS graft.spec.v_l2")
    sql("DROP VIEW IF EXISTS graft.spec.v_l1")
    sql("CREATE VIEW graft.spec.v_l1 AS SELECT id, v * 2 AS v2 FROM graft.spec.vbase2")
    sql("CREATE VIEW graft.spec.v_l2 AS SELECT SUM(v2) AS total FROM graft.spec.v_l1")
    assert(sql("SELECT total FROM graft.spec.v_l2").head().getLong(0) === 60L)
    sql("DROP VIEW graft.spec.v_l2")
    sql("DROP VIEW graft.spec.v_l1")
  }

  test("MERGE NOT MATCHED BY SOURCE DELETE converges the table to the source") {
    sql("DROP TABLE IF EXISTS graft.spec.recm")
    sql("""CREATE TABLE graft.spec.recm (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.recm VALUES (1, 10), (2, 20), (3, 30)")
    // source: update 1, keep 2 identical, insert 4 — 3 is absent → deleted
    sql("""MERGE INTO graft.spec.recm t
           USING (SELECT * FROM VALUES (1L, 11L), (2L, 20L), (4L, 40L) AS s(id, v)) s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(sql("SELECT id, v FROM graft.spec.recm ORDER BY id")
      .as[(Long, Long)].collect().toSeq === Seq((1L, 11L), (2L, 20L), (4L, 40L)))
    // an IDENTICAL source must not bump the version (reconcile's no-op path)
    val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), "recm"))
    val vBefore = kpt.currentVersion
    sql("""MERGE INTO graft.spec.recm t
           USING (SELECT * FROM VALUES (1L, 11L), (2L, 20L), (4L, 40L) AS s(id, v)) s
           ON t.id = s.id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    assert(kpt.currentVersion === vBefore)
    // refusals: conditional by-source delete; mixing with tombstone DELETE
    val e1 = intercept[Exception] {
      sql("""MERGE INTO graft.spec.recm t
             USING (SELECT 1L AS id, 1L AS v) s ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *
             WHEN NOT MATCHED BY SOURCE AND t.v > 100 THEN DELETE""")
    }
    assert(e1.getMessage.contains("conditional NOT MATCHED BY SOURCE"), e1.getMessage)
    val e2 = intercept[Exception] {
      sql("""MERGE INTO graft.spec.recm t
             USING (SELECT 1L AS id, 1L AS v, 'd' AS operation) s ON t.id = s.id
             WHEN MATCHED AND s.operation = 'd' THEN DELETE
             WHEN MATCHED THEN UPDATE SET id = s.id, v = s.v
             WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
             WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    }
    assert(e2.getMessage.contains("tombstone protocol"), e2.getMessage)
    sql("DROP TABLE graft.spec.recm")
  }

  test("concurrent UPDATEs: no lost increment (commit base pinned to the probe snapshot)") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    // the classic increment race: both writers read-modify-write the same
    // rows. Any serialization gives +1+10 = +11 on every row; a commit
    // whose base drifted from its read snapshot silently drops one side.
    sql("DROP TABLE IF EXISTS graft.spec.urace")
    sql("""CREATE TABLE graft.spec.urace (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.urace SELECT id, CAST(0 AS BIGINT) FROM range(0, 20)")
    val latch = new CountDownLatch(2)
    val pool = Executors.newFixedThreadPool(2)
    val futures = Seq(1L, 10L).map { inc =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        override def call(): Option[Throwable] = {
          latch.countDown(); latch.await(10, TimeUnit.SECONDS)
          try { sql(s"UPDATE graft.spec.urace SET v = v + $inc"); None }
          catch { case t: Throwable => Some(t) }
        }
      })
    }
    val errs = futures.flatMap(_.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    assert(errs.isEmpty, s"racing UPDATEs failed: ${errs.map(_.getMessage)}")
    val vs = sql("SELECT DISTINCT v FROM graft.spec.urace").as[Long].collect().toSeq
    assert(vs === Seq(11L), s"lost update: distinct v = $vs (want exactly 11)")
    sql("DROP TABLE graft.spec.urace")
  }

  test("CREATE VIEW refuses text that resolved through a temporary view") {
    // Spark's own rule for persistent views: CREATE analyzes where temp
    // views shadow, reads re-resolve in the captured context — the temp
    // relation is gone there (or worse, a same-named graft table binds a
    // DIFFERENT relation than the one CREATE validated).
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").createOrReplaceTempView("spec_tmp_rel")
    try {
      val e = intercept[Exception] {
        sql("CREATE VIEW graft.spec.v_over_tmp AS SELECT id FROM spec_tmp_rel")
      }
      assert(e.getMessage.contains("temporary"), e.getMessage)
      assert(sql("SHOW VIEWS IN graft.spec").collect()
        .map(_.getString(1)).forall(_ != "v_over_tmp"))
      // subquery position is caught too, not just FROM
      sql("DROP TABLE IF EXISTS graft.spec.vtbase")
      sql("CREATE TABLE graft.spec.vtbase (id BIGINT) TBLPROPERTIES ('graft.keys'='id')")
      sql("INSERT INTO graft.spec.vtbase VALUES (1)")
      val e2 = intercept[Exception] {
        sql("""CREATE VIEW graft.spec.v_over_tmp AS
               SELECT id FROM graft.spec.vtbase
               WHERE id IN (SELECT id FROM spec_tmp_rel)""")
      }
      assert(e2.getMessage.contains("temporary"), e2.getMessage)
      sql("DROP TABLE graft.spec.vtbase")
    } finally spark.catalog.dropTempView("spec_tmp_rel")
  }

  test("concurrent MERGE with deletes: retry reclassifies against the winner's state") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    // Writer A delete-marks keys that are ABSENT at its probe time; writer
    // B concurrently INSERTS those keys. Valid serializations: (A,B) → B's
    // values survive (A's unmatched deletes INSERT, B then updates), or
    // (B,A) → the keys are deleted. The one INVALID outcome is A's
    // tombstone values surviving — that happens exactly when a lost-race
    // retry reuses the STALE matched/unmatched classification instead of
    // re-probing the winner's snapshot. v=999 marks A's tombstones.
    (1 to 3).foreach { round =>
      sql("DROP TABLE IF EXISTS graft.spec.drace")
      sql("""CREATE TABLE graft.spec.drace (id BIGINT, v BIGINT)
             PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
      sql("INSERT INTO graft.spec.drace SELECT id, CAST(0 AS BIGINT) FROM range(0, 10)")
      val latch = new CountDownLatch(2)
      val pool = Executors.newFixedThreadPool(2)
      val stmts = Seq(
        """MERGE INTO graft.spec.drace t
           USING (SELECT id, CAST(999 AS BIGINT) AS v, 'd' AS operation
                  FROM range(50, 60)) s
           ON t.id = s.id
           WHEN MATCHED AND s.operation = 'd' THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
        """MERGE INTO graft.spec.drace t
           USING (SELECT id, CAST(7 AS BIGINT) AS v, 'u' AS operation
                  FROM range(50, 60)) s
           ON t.id = s.id
           WHEN MATCHED AND s.operation = 'd' THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""")
      val futures = stmts.map { s =>
        pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
          override def call(): Option[Throwable] = {
            latch.countDown(); latch.await(10, TimeUnit.SECONDS)
            try { sql(s); None } catch { case t: Throwable => Some(t) }
          }
        })
      }
      val errs = futures.flatMap(_.get(120, TimeUnit.SECONDS))
      pool.shutdown()
      assert(errs.isEmpty, s"round $round racing MERGEs failed: ${errs.map(_.getMessage)}")
      val vs = sql("SELECT v FROM graft.spec.drace WHERE id >= 50")
        .as[Long].collect().toSeq
      assert(vs.forall(_ == 7L),
        s"round $round: tombstone values leaked into the table: $vs")
      assert(vs.isEmpty || vs.length == 10, s"round $round: partial slice: $vs")
      sql("DROP TABLE graft.spec.drace")
    }
  }

  test("SHOW CREATE TABLE renders re-runnable DDL (layout via graft.layout.* props)") {
    sql("DROP TABLE IF EXISTS graft.spec.sct")
    sql("DROP TABLE IF EXISTS graft.spec.sct2")
    sql("""CREATE TABLE graft.spec.sct (id BIGINT, v DOUBLE)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    val ddl = sql("SHOW CREATE TABLE graft.spec.sct").head().getString(0)
    assert(ddl.contains("graft.spec.sct"), ddl)
    assert(ddl.contains("'graft.keys' = 'id'"), ddl)
    assert(ddl.contains("'graft.layout.bucket-count' = '4'"), ddl)
    // the rendered DDL is RE-RUNNABLE: running it (renamed) reproduces the
    // bucketed layout from the graft.layout.* properties
    sql(ddl.replace("graft.spec.sct", "graft.spec.sct2"))
    val kpt2 = graftCatalog.tableFor(Identifier.of(Array("spec"), "sct2"))
    assert(kpt2.bucketCount === 4 && kpt2.keys === Seq("id"))
    sql("INSERT INTO graft.spec.sct2 VALUES (1, 1.0)")
    assert(sql("SELECT COUNT(*) FROM graft.spec.sct2").head().getLong(0) === 1L)
    sql("DROP TABLE graft.spec.sct")
    sql("DROP TABLE graft.spec.sct2")
  }

  test("SQL aggregate pushdown answers COUNT/MIN/MAX/SUM from the stats index, data never opened") {
    sql("DROP TABLE IF EXISTS graft.spec.aggp")
    sql("""CREATE TABLE graft.spec.aggp (id BIGINT, ts BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id))
           TBLPROPERTIES ('graft.keys'='id', 'graft.statsCols'='ts',
                          'graft.sumCols'='v')""")
    sql("INSERT INTO graft.spec.aggp " +
      (1 to 50).map(i => s"SELECT ${i}L, ${i * 10}L, ${i}L").mkString(" UNION ALL "))
    val one = sql("""SELECT COUNT(*) AS n, MIN(ts) AS mn, MAX(ts) AS mx,
                     SUM(v) AS sv FROM graft.spec.aggp""")
    // complete pushdown: no aggregation node survives in the physical plan
    // (the scan IS the one-row answer); a declined shape keeps its
    // HashAggregate over a real scan
    assert(!one.queryExecution.executedPlan.toString.contains("HashAggregate"),
      one.queryExecution.executedPlan.toString)
    assert(one.head() === org.apache.spark.sql.Row(50L, 10L, 500L, 1275L))
    // the strong proof: corrupt every data file — the answer must not change
    // because no data file is opened. Pin the declared schema first (an
    // evolution commit writes _schema.json) so even schema resolution
    // never needs a parquet footer.
    sql("ALTER TABLE graft.spec.aggp ADD COLUMN note STRING")
    val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), "aggp"))
    val vdir = java.nio.file.Paths.get(kpt.root, s"v${kpt.currentVersion}")
    val s = java.nio.file.Files.walk(vdir)
    val dataFiles = {
      import scala.jdk.CollectionConverters._
      try s.iterator().asScala.filter(p =>
          p.toString.endsWith(".parquet") && !p.toString.contains("_stats"))
        .toList
      finally s.close()
    }
    assert(dataFiles.nonEmpty)
    dataFiles.foreach(p => java.nio.file.Files.write(p, Array[Byte](1, 2, 3)))
    assert(sql("""SELECT COUNT(*) AS n, MIN(ts) AS mn, MAX(ts) AS mx,
                  SUM(v) AS sv FROM graft.spec.aggp""").head()
      === org.apache.spark.sql.Row(50L, 10L, 500L, 1275L))
    sql("DROP TABLE graft.spec.aggp")
    // shapes the index can't answer exactly decline and scan normally:
    // a WHERE clause, an uncovered column, a GROUP BY
    sql("DROP TABLE IF EXISTS graft.spec.aggn")
    sql("""CREATE TABLE graft.spec.aggn (id BIGINT, ts BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id))
           TBLPROPERTIES ('graft.keys'='id', 'graft.statsCols'='ts',
                          'graft.sumCols'='v')""")
    sql("INSERT INTO graft.spec.aggn VALUES (1, 10, 1), (2, 20, 2), (3, 30, 3)")
    assert(sql("SELECT COUNT(*) FROM graft.spec.aggn WHERE id >= 2").head().getLong(0) === 2L)
    assert(sql("SELECT MIN(v) FROM graft.spec.aggn").head().getLong(0) === 1L)
    assert(sql("SELECT id, SUM(v) FROM graft.spec.aggn GROUP BY id ORDER BY id")
      .collect().map(_.getLong(1)).toSeq === Seq(1L, 2L, 3L))
    assert(sql("SELECT MIN(v) FROM graft.spec.aggn")
      .queryExecution.executedPlan.toString.contains("HashAggregate")) // real scan+agg
    // MoR delete debt: the pushed COUNT goes hybrid and stays exact
    sql("DELETE FROM graft.spec.aggn WHERE id = 2")
    assert(sql("SELECT COUNT(*) FROM graft.spec.aggn").head().getLong(0) === 2L)
    sql("DROP TABLE graft.spec.aggn")
    // an INDEX-LESS table must DECLINE the pushdown (its countRows
    // fallback would full-scan at PLAN time): the ordinary HashAggregate
    // plan stays, and the answer is still right
    sql("DROP TABLE IF EXISTS graft.spec.aggx")
    sql("""CREATE TABLE graft.spec.aggx (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.aggx VALUES (1, 1), (2, 2)")
    val noIdx = sql("SELECT COUNT(*) FROM graft.spec.aggx")
    assert(noIdx.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "index-less COUNT(*) must not push down")
    assert(noIdx.head().getLong(0) === 2L)
    sql("DROP TABLE graft.spec.aggx")
    // one stats kernel answers every pushed aggregate in one aggregation:
    // planning four aggregates starts no more Spark jobs than planning one
    sql("DROP TABLE IF EXISTS graft.spec.aggj")
    sql("""CREATE TABLE graft.spec.aggj (id BIGINT, price BIGINT)
           PARTITIONED BY (bucket(8, id))
           TBLPROPERTIES ('graft.keys'='id', 'graft.statsCols'='price',
                          'graft.sumCols'='price')""")
    sql("INSERT INTO graft.spec.aggj SELECT id, (id * 37) % 1000 FROM range(2000)")
    val countOnly = "SELECT count(*) FROM graft.spec.aggj"
    val fourAggs = "SELECT count(*), min(price), max(price), sum(price) FROM graft.spec.aggj"
    val jobs = Seq(countOnly, fourAggs).map(q =>
      jobsStartedBy(sql(q).queryExecution.executedPlan))
    assert(jobs(1) <= jobs(0), s"planning jobs: count(*) ${jobs(0)}, four aggregates ${jobs(1)}")
    import org.apache.spark.sql.functions.{count, lit, max, min, sum}
    val pushedFour = sql(fourAggs)
    assert(!pushedFour.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(pushedFour.head() === graftCatalog.tableFor(Identifier.of(Array("spec"), "aggj"))
      .read().agg(count(lit(1)), min("price"), max("price"), sum("price")).head())
    sql("DROP TABLE graft.spec.aggj")
    // literal reads plan from metadata on the driver: every statement
    // resolves a fresh table instance, and planning a literal point read
    // (plain bucketed, and with stats covering the key plus bloom filters),
    // a literal range read and a VERSION AS OF count starts no Spark job
    for ((t, props) <- Seq(
        "planj" -> "'graft.statsCols'='price'",
        "planb" -> "'graft.statsCols'='id,price', 'graft.bloomKeyBits'='256'")) {
      sql(s"DROP TABLE IF EXISTS graft.spec.$t")
      sql(s"""CREATE TABLE graft.spec.$t (id BIGINT, price BIGINT)
              PARTITIONED BY (bucket(8, id))
              TBLPROPERTIES ('graft.keys'='id', $props)""")
      // a full-state commit pins no declared schema: reads take it from a footer
      sql(s"INSERT OVERWRITE graft.spec.$t SELECT id, (id * 37) % 1000 FROM range(1000)")
      val before = graftCatalog.tableFor(Identifier.of(Array("spec"), t)).currentVersion
      sql(s"INSERT INTO graft.spec.$t SELECT id, (id * 37) % 1000 FROM range(1000, 1200)")
      val reads = Seq(
        s"SELECT id, price FROM graft.spec.$t WHERE id IN (3, 17, 1100)" ->
          Seq(Seq(3L, 111L), Seq(17L, 629L), Seq(1100L, 700L)),
        s"SELECT count(*), sum(price) FROM graft.spec.$t WHERE price BETWEEN 100 AND 199" ->
          Seq(Seq(124L, 18418L)),
        s"SELECT count(*) FROM graft.spec.$t VERSION AS OF $before" -> Seq(Seq(1000L)))
      reads.foreach { case (q, want) =>
        assert(jobsStartedBy(sql(q).queryExecution.executedPlan) === 0, s"planning: $q")
        assert(sql(q).collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq === want, q)
      }
      // and so does a .changes read: the changefeed is one lazy plan
      var changes: org.apache.spark.sql.DataFrame = null
      assert(jobsStartedBy {
        changes = spark.read.option("fromVersion", before.toString)
          .table(s"graft.spec.$t.changes")
        changes.queryExecution.executedPlan
      } === 0, s"planning: $t.changes")
      assert(changes.count() === 200L)
      sql(s"DROP TABLE graft.spec.$t")
    }
  }

  test("the changefeed, a .changes count and syncInto leave no cached blocks") {
    sql("DROP TABLE IF EXISTS graft.spec.feed")
    sql("""CREATE TABLE graft.spec.feed (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.feed SELECT id, id FROM range(100)")
    val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), "feed"))
    val v1 = kpt.currentVersion
    val replica = kpt.rebucketTo(tmpDir("feed_replica"), 8)
    sql("UPDATE graft.spec.feed SET v = v + 1000 WHERE id < 10")
    sql("DELETE FROM graft.spec.feed WHERE id >= 95")
    def cached: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = cached
    assert(kpt.changefeedBetween(v1, kpt.currentVersion).count() === 15L)
    assert(cached -- before === Set.empty[Int], "changefeedBetween")
    assert(spark.read.option("fromVersion", v1.toString)
      .table("graft.spec.feed.changes").count() === 15L)
    assert(cached -- before === Set.empty[Int], ".changes count")
    kpt.syncInto(replica, v1)
    assert(cached -- before === Set.empty[Int], "syncInto")
    assert(replica.read().collect().toSet === kpt.read().collect().toSet)
    sql("DROP TABLE graft.spec.feed")
  }

  test("COUNT(col) pushdown: nl_ null counts answer scan-free; stale/debt/decimal shapes decline") {
    sql("DROP TABLE IF EXISTS graft.spec.aggc")
    sql("""CREATE TABLE graft.spec.aggc (id BIGINT, ts BIGINT, mv BIGINT)
           PARTITIONED BY (bucket(4, id))
           TBLPROPERTIES ('graft.keys'='id', 'graft.statsCols'='ts,mv')""")
    sql("INSERT INTO graft.spec.aggc " +
      (1 to 40).map(i =>
        s"SELECT ${i}L, ${i * 10}L, ${if (i % 4 == 0) "NULL" else s"${i}L"}")
        .mkString(" UNION ALL "))
    val cnt = sql("SELECT COUNT(mv) AS nv, COUNT(*) AS n FROM graft.spec.aggc")
    assert(!cnt.queryExecution.executedPlan.toString.contains("HashAggregate"),
      cnt.queryExecution.executedPlan.toString)
    assert(cnt.head() === org.apache.spark.sql.Row(30L, 40L))
    // COUNT(DISTINCT col) is not index-answerable — must decline
    val dist = sql("SELECT COUNT(DISTINCT mv) FROM graft.spec.aggc")
    assert(dist.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(dist.head().getLong(0) === 30L)
    // a STALE index missing nl_ (written before null counts joined the
    // stats schema) must DECLINE COUNT(col), not scan at plan time —
    // simulate by rewriting _stats without its nl_ columns
    val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), "aggc"))
    val statsDir = java.nio.file.Paths
      .get(kpt.root, s"v${kpt.currentVersion}", "_stats").toString
    val stale = spark.read.parquet(statsDir)
      .drop("nl_ts", "nl_mv").collect()
    val staleSchema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(statsDir).schema.filterNot(_.name.startsWith("nl_")))
    spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(stale: _*)), staleSchema)
      .coalesce(1).write.mode("overwrite").parquet(statsDir + "_new")
    val fs = new org.apache.hadoop.fs.Path(statsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(statsDir), true)
    fs.rename(new org.apache.hadoop.fs.Path(statsDir + "_new"),
      new org.apache.hadoop.fs.Path(statsDir))
    spark.catalog.refreshByPath(statsDir)
    val staleCnt = sql("SELECT COUNT(mv) FROM graft.spec.aggc")
    assert(staleCnt.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "stale index (no nl_) must decline COUNT(col)")
    assert(staleCnt.head().getLong(0) === 30L)
    // MIN/MAX still push down off the stale index (mn_/mx_ intact)
    val mm = sql("SELECT MIN(ts), MAX(ts) FROM graft.spec.aggc")
    assert(!mm.queryExecution.executedPlan.toString.contains("HashAggregate"))
    assert(mm.head() === org.apache.spark.sql.Row(10L, 400L))
    sql("DROP TABLE graft.spec.aggc")
    // MoR delete DEBT past the bound (1/8 of buckets, min 1) must decline:
    // planning would otherwise data-scan the debt buckets inside
    // ScanBuilder.build(). One-bucket debt still answers hybrid.
    sql("DROP TABLE IF EXISTS graft.spec.aggd")
    sql("""CREATE TABLE graft.spec.aggd (id BIGINT, ts BIGINT)
           PARTITIONED BY (bucket(8, id))
           TBLPROPERTIES ('graft.keys'='id', 'graft.statsCols'='ts')""")
    sql("INSERT INTO graft.spec.aggd " +
      (1 to 40).map(i => s"SELECT ${i}L, ${i}L").mkString(" UNION ALL "))
    sql("DELETE FROM graft.spec.aggd WHERE id = 1") // ≤1 debt bucket
    val hybrid = sql("SELECT COUNT(*) FROM graft.spec.aggd")
    assert(!hybrid.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "single-bucket debt should still answer hybrid")
    assert(hybrid.head().getLong(0) === 39L)
    sql("DELETE FROM graft.spec.aggd WHERE id IN (2,3,4,5,6,7,8,9,10,11,12)")
    val deep = sql("SELECT COUNT(*) FROM graft.spec.aggd")
    assert(deep.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "deep delete debt must decline pushdown (plan-time scan guard)")
    assert(deep.head().getLong(0) === 28L)
    sql("DROP TABLE graft.spec.aggd")
    // SUM over a DECIMAL column declines (sumOf's double-widened partials
    // type disagrees with Spark's Sum result type) — and stays correct
    sql("DROP TABLE IF EXISTS graft.spec.aggm")
    sql("""CREATE TABLE graft.spec.aggm (id BIGINT, d DECIMAL(10,2))
           PARTITIONED BY (bucket(4, id))
           TBLPROPERTIES ('graft.keys'='id', 'graft.sumCols'='d')""")
    sql("INSERT INTO graft.spec.aggm VALUES (1, 1.25), (2, 2.50), (3, 3.25)")
    val dec = sql("SELECT SUM(d) FROM graft.spec.aggm")
    assert(dec.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "decimal SUM must decline pushdown")
    assert(dec.head().getDecimal(0) === new java.math.BigDecimal("7.00"))
    sql("DROP TABLE graft.spec.aggm")
  }

  test("ALTER COLUMN TYPE widens via SQL; narrowing refuses") {
    sql("DROP TABLE IF EXISTS graft.spec.widen")
    sql("""CREATE TABLE graft.spec.widen (id BIGINT, n INT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.widen VALUES (1, 10), (2, 20)")
    sql("ALTER TABLE graft.spec.widen ALTER COLUMN n TYPE BIGINT")
    val out = sql("SELECT id, n FROM graft.spec.widen ORDER BY id")
    assert(out.schema("n").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(out.as[(Long, Long)].collect().toSeq === Seq((1L, 10L), (2L, 20L)))
    // post-widening INSERT carries longs; old + new rows coexist
    sql(s"INSERT INTO graft.spec.widen VALUES (3, ${Long.MaxValue}L)")
    assert(sql("SELECT n FROM graft.spec.widen WHERE id = 3").head().getLong(0)
      === Long.MaxValue)
    // narrowing refuses — Spark's analyzer guards it before the catalog
    // (NOT_SUPPORTED_CHANGE_COLUMN via Cast.canUpCast); the engine's own
    // widensTo guard is covered by KeyedParquetTableSpec for direct calls
    val e = intercept[Exception] {
      sql("ALTER TABLE graft.spec.widen ALTER COLUMN n TYPE INT")
    }
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("widening"), e.getMessage)
    sql("DROP TABLE graft.spec.widen")
  }

  test("v1Table fallback refuses identifiers deeper than catalog.namespace.table") {
    // TableIdentifier holds exactly 3 slots: a branch-suffixed target
    // (graft.ns.t.branch — 4 parts) would silently drop middle segments
    // and route a streaming toTable write to the WRONG identifier; the
    // fallback must refuse loudly instead
    sql("DROP TABLE IF EXISTS graft.spec.v1deep")
    sql("""CREATE TABLE graft.spec.v1deep (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    graftCatalog.tableFor(Identifier.of(Array("spec"), "v1deep"))
      .createBranch("audit")
    val base = graftCatalog.loadTable(Identifier.of(Array("spec"), "v1deep"))
      .asInstanceOf[graft.catalog.GraftTable]
    assert(base.v1Table.identifier.table === "v1deep")
    val branch = graftCatalog
      .loadTable(Identifier.of(Array("spec", "v1deep"), "branch_audit"))
      .asInstanceOf[graft.catalog.GraftTable]
    val e = intercept[IllegalArgumentException](branch.v1Table)
    assert(e.getMessage.contains("4 parts"), e.getMessage)
    sql("DROP TABLE graft.spec.v1deep")
  }

  test("aggregate pushdown × widening: stats columns stay scan-free, COUNT(widened) declines") {
    // the r15×r15 interaction matrix: widenColumn refuses stats/sum
    // columns, so the widened column is by construction NOT indexed —
    // COUNT over it must decline to a real scan that is correct across
    // pre- and post-widening files, while pushdown on the indexed columns
    // is untouched by the widening commit
    sql("DROP TABLE IF EXISTS graft.spec.aggw")
    sql("""CREATE TABLE graft.spec.aggw (id BIGINT, ts BIGINT, n INT)
           PARTITIONED BY (bucket(4, id))
           TBLPROPERTIES ('graft.keys'='id', 'graft.statsCols'='ts')""")
    sql("INSERT INTO graft.spec.aggw " +
      (1 to 20).map(i =>
        s"SELECT ${i}L, ${i * 10}L, ${if (i % 5 == 0) "NULL" else s"$i"}")
        .mkString(" UNION ALL "))
    sql("ALTER TABLE graft.spec.aggw ALTER COLUMN n TYPE BIGINT")
    // a post-widening insert above 2^31 — a value INT could not hold
    sql("INSERT INTO graft.spec.aggw SELECT 21L, 210L, 4294967296L")
    // pushdown on the INDEXED column is untouched by the widening
    val mm = sql("SELECT COUNT(ts) AS c, MIN(ts) AS lo, MAX(ts) AS hi " +
      "FROM graft.spec.aggw")
    assert(!mm.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "stats-column pushdown must survive an unrelated column widening")
    assert(mm.head() === org.apache.spark.sql.Row(21L, 10L, 210L))
    // COUNT/MAX over the WIDENED (never-indexed) column: real scan,
    // correct across int32-encoded old files and int64 new ones
    val cw = sql("SELECT COUNT(n) AS c, MAX(n) AS m FROM graft.spec.aggw")
    assert(cw.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "COUNT(widened non-stats column) must decline to a scan")
    assert(cw.head() === org.apache.spark.sql.Row(17L, 4294967296L))
    // promoting the widened column into statsCols AFTER files exist
    // leaves a stale index for it — COUNT(n) must STILL decline (the
    // stale-index rule), never answer from an index that never saw n
    sql("ALTER TABLE graft.spec.aggw " +
      "SET TBLPROPERTIES ('graft.statsCols'='ts,n')")
    val cw2 = sql("SELECT COUNT(n) FROM graft.spec.aggw")
    assert(cw2.queryExecution.executedPlan.toString.contains("HashAggregate"),
      "stale index (n joined statsCols post-write) must decline COUNT(n)")
    assert(cw2.head().getLong(0) === 17L)
    sql("DROP TABLE graft.spec.aggw")
  }

  test("Scala surface and SQL surface see one table state (MERGE then SELECT)") {
    sql("DROP TABLE IF EXISTS graft.spec.merged")
    sql("""CREATE TABLE graft.spec.merged (id BIGINT, v BIGINT)
           PARTITIONED BY (bucket(4, id)) TBLPROPERTIES ('graft.keys'='id')""")
    sql("INSERT INTO graft.spec.merged VALUES (1, 10), (2, 20)")
    // the engine's MERGE (not yet SQL text) through the same root
    val kpt = graftCatalog.tableFor(Identifier.of(Array("spec"), "merged"))
    kpt.merge(Seq((2L, 200L, "u"), (3L, 30L, "u"), (1L, 0L, "d"))
      .toDF("id", "v", "operation"))
    assert(sql("SELECT id, v FROM graft.spec.merged ORDER BY id")
      .as[(Long, Long)].collect().toSeq === Seq((2L, 200L), (3L, 30L)))
  }
}
