package graft

import org.apache.spark.sql.functions._

import graft.cdc.KeyedParquetTable
import graft.ops.KeyBloom

class KeyBloomSpec extends SparkSpec {
  import spark.implicits._

  test("no false negatives, bounded false positives at the design point") {
    val rnd = new scala.util.Random(7)
    val members = Array.fill(800)(rnd.nextLong())
    val bs = new Array[Byte](1 << 10) // 2^13 bits ≈ 10 bits/key for 800 keys
    members.foreach(KeyBloom.add(bs, _))
    // membership is exact in the negative-free direction
    assert(members.forall(KeyBloom.mightContain(bs, _)))
    // false positives exist but stay near the 1% design point
    val probes = Array.fill(20000)(rnd.nextLong()).filterNot(members.contains)
    val fp = probes.count(KeyBloom.mightContain(bs, _)).toDouble / probes.length
    assert(fp < 0.05, s"false-positive rate $fp out of line for 10 bits/key")
  }

  test("distributed build matches the driver-side probe bit-for-bit") {
    // the udaf must place bits exactly where mightContain looks for them,
    // across partition-local reduce and cross-partition merge
    val df = (0L until 1000L).toDF("id").repartition(7)
    val bloom = df.agg(KeyBloom.agg(1 << 13)(xxhash64(col("id"))).as("b"))
      .head().getAs[Array[Byte]](0)
    val hashes = df.select(xxhash64(col("id"))).as[Long].collect()
    assert(hashes.forall(KeyBloom.mightContain(bloom, _)))
    // a disjoint id family is (overwhelmingly) not attested
    val other = (1000000L until 1000100L).toDF("id")
      .select(xxhash64(col("id"))).as[Long].collect()
    assert(other.count(KeyBloom.mightContain(bloom, _)) < 10)
  }

  test("readForKeys bloom-prunes files min/max cannot, on hash-distributed keys") {
    val t = new KeyedParquetTable(spark, tmpDir("kpt_bloom"), Seq("id"),
      Nil, 4, Nil, statsCols = Seq("id"), bloomKeyBits = 1 << 13)
    // three commit families with fully OVERLAPPING id ranges (residues mod
    // 3 of 0..999): every file in a bucket spans ~[0, 999], so range
    // pruning keeps all of them and only membership can narrow
    def fam(r: Int) = (0L until 1000L).filter(_ % 3 == r)
      .map(i => (i, s"f$r-$i")).toDF("id", "v")
    t.commit(fam(0))
    t.append(fam(1))
    t.append(fam(2))
    val probeIds = Seq(3L, 27L, 102L) // family 0 only
    val got = t.readForKeys(probeIds.toDF("id"))
    // pruning must never lose a matching row
    assert(got.filter(col("id").isin(probeIds: _*)).count() === probeIds.size.toLong)
    // every opened file belongs to family 0 — families 1/2 were excluded
    // by membership even though their id ranges fully cover the probes
    assert(got.select("id").as[Long].collect().forall(_ % 3 == 0),
      "bloom pruning kept a file from a non-probed family")
    val scanned = got.inputFiles.toSet
    val touchedDirs = scanned.flatMap(_.split("/").find(_.startsWith("__bucket=")))
    val bucketFiles = t.files().collect().map(_.getString(0))
      .filter(p => touchedDirs.exists(d => p.contains(s"/$d/"))).toSet
    assert(scanned.nonEmpty && scanned.size < bucketFiles.size,
      s"expected a strict file subset: ${scanned.size} of ${bucketFiles.size}")

    // a NULL probe key disables pruning for its bucket (kept rule from the
    // range path): the null-keyed row is still found
    t.merge(spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(null, "n", "u")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("operation",
          org.apache.spark.sql.types.StringType)))))
    val withNull = t.readForKeys(spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(null: java.lang.Long)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType)))))
    assert(withNull.filter(col("id").isNull).count() === 1L)
  }

  test("a table opted into bloom mid-life rebuilds the index and prunes") {
    val root = tmpDir("kpt_bloom_mid")
    val plain = new KeyedParquetTable(spark, root, Seq("id"), Nil, 4, Nil,
      statsCols = Seq("id"))
    plain.commit((0L until 300L).map(i => (i, s"a$i")).toDF("id", "v"))
    assert(!plain.readStats().columns.contains("bloom_id"))
    // re-open with bloom: the next commit's carry detects the column-set
    // mismatch and recomputes the FULL index (old files get real filters,
    // not nulls), after which incremental maintenance resumes
    val bloomed = new KeyedParquetTable(spark, root, Seq("id"), Nil, 4, Nil,
      statsCols = Seq("id"), bloomKeyBits = 1 << 13)
    bloomed.merge(Seq((7L, "u7", "u")).toDF("id", "v", "operation"))
    val stats = bloomed.readStats()
    assert(stats.columns.contains("bloom_id"))
    assert(stats.filter(col("bloom_id").isNull).count() === 0L)
    assert(bloomed.readForKeys(Seq(7L).toDF("id"))
      .filter(col("id") === 7L).count() === 1L)
  }

  test("bloom-only pruning on a MULTI-column bucket key (the band-index " +
    "shape: no statsCols, membership is the only file-level layer)") {
    // keyed (band_id, band_hash, doc_id), bucketed by the band pair —
    // exactly how the incremental LSH indexes lay out; band hashes are
    // uniform, so min/max could never prune even if collected
    val t = new KeyedParquetTable(spark, tmpDir("kpt_bloom_band"),
      Seq("band_id", "band_hash", "doc_id"), Nil, 4,
      bucketBy = Seq("band_id", "band_hash"), bloomKeyBits = 1 << 13)
    def fam(r: Int) = (0 until 300).filter(_ % 3 == r)
      .map(i => (i % 7, (i * 2654435761L) ^ r, i.toLong)) // overlapping band_ids
      .toDF("band_id", "band_hash", "doc_id")
    t.commit(fam(0))
    t.append(fam(1))
    t.append(fam(2))
    // probe two band keys from family 0
    val probes = Seq((0, (0 * 2654435761L) ^ 0), (3, (3 * 2654435761L) ^ 0))
      .toDF("band_id", "band_hash")
    val got = t.readForKeys(probes)
    val expect = t.read().join(probes, Seq("band_id", "band_hash"), "left_semi")
    assert(got.join(probes, Seq("band_id", "band_hash"), "left_semi").count()
      === expect.count())
    assert(expect.count() > 0)
    // membership pruned to a strict subset of the touched buckets' files
    val scanned = got.inputFiles.toSet
    val touchedDirs = scanned.flatMap(_.split("/").find(_.startsWith("__bucket=")))
    val bucketFiles = t.files().collect().map(_.getString(0))
      .filter(p => touchedDirs.exists(d => p.contains(s"/$d/"))).toSet
    assert(scanned.nonEmpty && scanned.size < bucketFiles.size,
      s"expected a strict file subset: ${scanned.size} of ${bucketFiles.size}")
    // a computed key frame summarizes its probes in a job, literal rows on
    // the driver: both keep the same files
    assert(t.readForKeys(spark.createDataFrame(probes.rdd, probes.schema))
      .inputFiles.toSet === scanned)
    // maintenance keeps the filters fresh: compaction rewrites fragmented
    // buckets and recollects their blooms in the same commit
    assert(t.compact(minInputFiles = 2).isDefined)
    val after = t.readForKeys(probes)
    assert(after.join(probes, Seq("band_id", "band_hash"), "left_semi").count()
      === expect.count())
    assert(t.readStats().filter(col("bloom_band_id_band_hash").isNull).count() === 0L)
  }

  test("misconfiguration fails loudly at construction") {
    intercept[IllegalArgumentException] { // bloom needs a bucketed layout
      new KeyedParquetTable(spark, tmpDir("kpt_bloom_bad1"), Seq("id"),
        Nil, 0, Nil, bloomKeyBits = 1 << 13)
    }
    intercept[IllegalArgumentException] { // non-multiple-of-8 width
      new KeyedParquetTable(spark, tmpDir("kpt_bloom_bad2"), Seq("id"),
        Nil, 4, Nil, statsCols = Seq("id"), bloomKeyBits = 100)
    }
  }
}
