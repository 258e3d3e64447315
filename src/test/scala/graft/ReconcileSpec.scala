package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cdc.KeyedParquetTable

/** Full-snapshot reconciliation (`reconcile`) — MERGE's NOT-MATCHED-BY-SOURCE
  * clause: the table converges to a given complete image, touching only what
  * actually differs.
  */
class ReconcileSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(prefix: String, buckets: Int = 8): KeyedParquetTable = {
    val t = new KeyedParquetTable(spark, tmpDir(prefix), Seq("id"), Nil, buckets)
    t.commit((1L to 200L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "score"))
    t
  }

  private def state(t: KeyedParquetTable): Set[(Long, String, Double)] =
    t.read().collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  private def asSet(df: DataFrame): Set[(Long, String, Double)] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  test("reconcile converges the table to the snapshot: update/insert/delete") {
    val t = freshTable("kpt_reconcile")
    val snap = (1L to 200L).filter(_ % 10 != 3).map { i =>
      if (i % 10 == 4) (i, s"v$i", i * 1.0 + 0.5) else (i, s"v$i", i * 1.0)
    } ++ (1001L to 1010L).map(i => (i, s"new$i", -1.0))
    val snapDf = snap.toDF("id", "v", "score")
    t.reconcile(snapDf)
    assert(state(t) === asSet(snapDf))
    // idempotent: a second reconcile of the same image commits NOTHING
    val v = t.currentVersion
    t.reconcile(snapDf)
    assert(t.currentVersion === v)
    assert(state(t) === asSet(snapDf))
  }

  test("an identical snapshot does not bump the version") {
    val t = freshTable("kpt_reconcile_noop")
    val v = t.currentVersion
    t.reconcile(t.read())
    assert(t.currentVersion === v)
  }

  test("pure-delete drift commits zero bucket rewrites (merge-on-read set)") {
    val t = freshTable("kpt_reconcile_del")
    val preV = t.currentVersion
    val snapDf = (1L to 200L).filterNot(Set(7L, 19L, 101L))
      .map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "score")
    t.reconcile(snapDf)
    // every data file of the new snapshot is a hard link of the old one —
    // the three deletes traveled as merge-on-read tombstones, not rewrites
    assert(dataFileKeys(t.root, preV) === dataFileKeys(t.root, t.currentVersion))
    assert(state(t) === asSet(snapDf))
    assert(t.pendingDeleteKeys().count() === 3L)
  }

  test("small drift rewrites only the touched buckets") {
    val t = freshTable("kpt_reconcile_scope")
    val preV = t.currentVersion
    // one changed row → exactly one bucket rewritten, the rest hard-linked
    val snapDf = (1L to 200L)
      .map(i => if (i == 42L) (i, "changed", 0.0) else (i, s"v$i", i * 1.0))
      .toDF("id", "v", "score")
    t.reconcile(snapDf)
    val before = dataFileKeys(t.root, preV)
    val after = dataFileKeys(t.root, t.currentVersion)
    assert((before intersect after).nonEmpty, "untouched buckets must hard-link")
    assert(before !== after, "the touched bucket must rewrite")
    assert(state(t) === asSet(snapDf))
  }

  test("reconcile on an unbucketed table falls back to the full merge") {
    val t = new KeyedParquetTable(spark, tmpDir("kpt_reconcile_flat"), Seq("id"), Nil, 0)
    t.commit((1L to 50L).map(i => (i, s"v$i", i * 1.0)).toDF("id", "v", "score"))
    val snapDf = (3L to 52L).map(i => (i, s"w$i", i * 2.0)).toDF("id", "v", "score")
    t.reconcile(snapDf)
    assert(state(t) === asSet(snapDf))
  }

  test("reconcile works after metadata-only schema evolution") {
    val t = freshTable("kpt_reconcile_evo")
    t.addColumn("tag", org.apache.spark.sql.types.StringType)
    // snapshot carries the evolved column: nulls for old rows, values for
    // the rows it updates — reconcile must converge the evolved shape
    val snapDf = (1L to 200L).map { i =>
      if (i % 50 == 0) (i, s"v$i", i * 1.0, "tagged")
      else (i, s"v$i", i * 1.0, null.asInstanceOf[String])
    }.toDF("id", "v", "score", "tag")
    t.reconcile(snapDf)
    val got = t.read().collect()
      .map(r => (r.getLong(0), Option(r.getString(3)))).toMap
    assert(got(50L) === Some("tagged") && got(1L) === None)
    assert(t.read().count() === 200L)
    // converged: a second reconcile of the same image is a version no-op
    val v = t.currentVersion
    t.reconcile(snapDf)
    assert(t.currentVersion === v)
  }

  test("property: repeated random drifted snapshots always converge (3 seeds)") {
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val t = new KeyedParquetTable(spark, tmpDir(s"kpt_reconcile_p$seed"),
        Seq("id"), Nil, 4)
      var model: Map[Long, (String, Double)] =
        (1L to 120L).map(i => i -> ((s"v$i", i * 1.0))).toMap
      t.commit(model.toSeq.map { case (k, (v, sc)) => (k, v, sc) }.toDF("id", "v", "score"))
      // three successive drifts, each applied to the CURRENT model: random
      // deletes, updates, inserts — reconcile must land exactly on each
      (1 to 3).foreach { round =>
        model = model.filterNot { case (k, _) => rnd.nextInt(10) == 0 }
        model = model.map { case (k, (v, sc)) =>
          if (rnd.nextInt(5) == 0) k -> ((v + s"-r$round", sc + 0.5)) else k -> ((v, sc))
        }
        val newKeys = Seq.fill(rnd.nextInt(8))(1000L * round + rnd.nextInt(100))
        model = model ++ newKeys.map(k => k -> ((s"n$k", -1.0)))
        val snapDf = model.toSeq.map { case (k, (v, sc)) => (k, v, sc) }
          .toDF("id", "v", "score")
        t.reconcile(snapDf)
        val got = t.read().collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
        assert(got === model, s"seed=$seed round=$round")
      }
    }
  }

  test("NULL-keyed rows: an identical image commits nothing, a changed value converges") {
    for (buckets <- Seq(4, 0)) {
      val t = new KeyedParquetTable(spark, tmpDir(s"kpt_reconcile_nullkey$buckets"),
        Seq("id"), Nil, buckets)
      val rows = (Option.empty[Long], "nul", 0.5) +:
        (1L to 20L).map(i => (Option(i), s"v$i", i * 1.0))
      def live = t.read().collect().map(r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getString(1), r.getDouble(2))).toSet
      t.commit(rows.toDF("id", "v", "score"))
      val v = t.currentVersion
      // merge matches a NULL key null-safely, so the diff must too: the
      // identical image is no change, not a delete of the NULL-keyed row
      t.reconcile(rows.toDF("id", "v", "score"))
      assert(t.currentVersion === v, s"buckets=$buckets")
      assert(live === rows.toSet, s"buckets=$buckets")
      val changed = rows.map {
        case (None, _, _) => (Option.empty[Long], "changed", 9.0)
        case r => r
      }
      t.reconcile(changed.toDF("id", "v", "score"))
      assert(live === changed.toSet, s"buckets=$buckets")
      val w = t.currentVersion
      t.reconcile(changed.toDF("id", "v", "score"))
      assert(t.currentVersion === w, s"buckets=$buckets")
    }
  }

  test("column mismatch raises") {
    val t = freshTable("kpt_reconcile_cols")
    intercept[IllegalArgumentException] {
      t.reconcile(Seq((1L, "x")).toDF("id", "v"))
    }
  }

  private def dataFileKeys(dir: String, v: Long): Set[Object] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/v$v"))
    try s.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".parquet") &&
        !p.toString.contains("_stats") && !p.toString.contains("_deletes") &&
        java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.readAttributes(p,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey)
      .toSet
    finally s.close()
  }
}
