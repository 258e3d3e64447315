package graft

import org.apache.spark.sql.functions._

import graft.ops.{FuzzyDedup, TextOps}

/** Exact + fuzzy dedup: planted duplicates must be found, unrelated docs must
  * not pair, and the LSH plan must stay bucket-bounded (no cartesian product).
  */
class FuzzyDedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog while rain falls on the green hills and birds sing in the tall trees near the old stone bridge"
  private val nearDup = base.replace("lazy dog", "sleepy dog") // ~1 token changed
  private val unrelated = "completely different content about spark query engines and distributed columnar execution with vectorized readers and shuffle services"

  private def docs = Seq(
    (0L, base), (1L, base),          // exact pair
    (2L, nearDup),                   // near dup of 0/1
    (3L, unrelated), (4L, "short text here")
  ).toDF("doc_id", "text")

  test("exactDedup groups identical content") {
    val out = FuzzyDedup.exactDedup(docs, "doc_id", "text")
    assert(out.count() === 4)
    val dupGroup = out.filter(col("n_copies") === 2).head()
    assert(dupGroup.getLong(1) === 0L) // keep_id = min
  }

  test("minhash LSH finds planted exact and near duplicates, not unrelated docs") {
    val pairs = FuzzyDedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact pair missed")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)), "near dup missed")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc paired")
  }

  test("jaccard of the exact pair is 1.0; near pair is high; threshold filters") {
    val pairs = FuzzyDedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((0L, 1L)) === 1.0)
    pairs.get((0L, 2L)).foreach(j => assert(j > 0.5 && j < 1.0))
  }

  test("simhash: identical docs equal, near dups within small Hamming distance") {
    val sims = docs.select(col("doc_id"), FuzzyDedup.simhash("text").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(0L) === sims(1L))
    assert(java.lang.Long.bitCount(sims(0L) ^ sims(2L)) <= 16)
    assert(java.lang.Long.bitCount(sims(0L) ^ sims(3L)) > 16)
  }

  test("simhash64 kernel is bit-identical to the HOF reference formulation") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    for (frame <- Seq(docs, real)) {
      val mismatches = frame
        .select(FuzzyDedup.simhash("text").as("k"), FuzzyDedup.simhashRef("text").as("r"))
        .filter(col("k") =!= col("r")).count()
      assert(mismatches === 0L)
    }
  }

  test("simhashNearDups pairs exact duplicates via quarter buckets") {
    val pairs = FuzzyDedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("short and empty documents survive the whole near-dup pipeline (no crash, no spurious pairs)") {
    // a 0/1/2-token doc used to make sequence(1,0) descend and
    // slice(toks, 0, n) throw, killing the stage
    val withShort = docs.unionAll(Seq(
      (10L, ""), (11L, "one"), (12L, "one two")).toDF("doc_id", "text"))
    val pairs = FuzzyDedup.nearDupPairs(withShort, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 >= 10L || p._2 >= 10L))
    assert(pairs.nonEmpty) // the planted long-doc dups still pair
    // HOF forms are guarded too
    val sig = withShort.select(FuzzyDedup.minhashSignature(col("text")))
    assert(sig.count() === 8L)
    assert(withShort.select(TextOps.winnowFingerprint(col("text"))).count() === 8L)
  }

  test("HOF minhash signature and band hashes are bit-identical to the native kernels") {
    // an index persisted with one formulation MUST be probeable with the other
    val longDocs = docs.filter(col("doc_id") <= 3L)
    val sigDiff = longDocs.select(
        FuzzyDedup.minhashSignature(col("text"), 32, 3).as("hof"),
        call_function("minhash_signature", col("text"), lit(32), lit(3)).as("ker"))
      .filter(col("hof") =!= col("ker")).count()
    assert(sigDiff === 0L)
    val bandDiff = longDocs.select(
        FuzzyDedup.bandHashes(col("text"), 32, 8, 3).as("hof"),
        call_function("minhash_bands", col("text"), lit(32), lit(8), lit(3)).as("ker"))
      .filter(col("hof") =!= col("ker")).count()
    assert(bandDiff === 0L)
  }

  test("simhashNearDups refuses maxHamming beyond the pigeonhole guarantee") {
    val e = intercept[IllegalArgumentException] {
      FuzzyDedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 4)
    }
    assert(e.getMessage.contains("maxHamming"))
  }

  test("LSH candidate plan contains no cartesian product") {
    val plan = FuzzyDedup.candidatePairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in plan:\n$plan")
  }

  test("incremental near-dup index ≡ one-shot nearDupPairs restricted across the split") {
    import graft.cdc.KeyedParquetTable
    val extra = Seq(
      (10L, base.replace("green hills", "rolling hills")),     // near dup of 0/1/2
      (11L, unrelated),                                        // exact dup of 3
      (12L, "yet another singleton document about parquet footers and row groups in columnar files")
    ).toDF("doc_id", "text")
    val corpus = docs // indexed side
    val tmp = tmpDir("nddx")
    val bandT = new KeyedParquetTable(spark, s"$tmp/bands",
      Seq("band_id", "band_hash", "id"), Nil, 8, Seq("band_id", "band_hash"))
    val docT = new KeyedParquetTable(spark, s"$tmp/docs", Seq("doc_id"), Nil, 8)
    // index in two UNEVEN batches (second batch re-merges nothing new for
    // doc 0: upsert idempotence on the band rows)
    FuzzyDedup.indexNearDups(bandT, docT, corpus.filter(col("doc_id") <= 1L), "doc_id", "text")
    FuzzyDedup.indexNearDups(bandT, docT, corpus.filter(col("doc_id") >= 1L), "doc_id", "text")
    val got = FuzzyDedup.checkNearDups(bandT, docT, extra, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // one-shot over the union, restricted to cross-split pairs, normalized
    // to (candidate id, indexed id)
    val oneShot = FuzzyDedup.nearDupPairs(corpus.unionByName(extra), "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .collect { case ((a, b), j) if a < 10L && b >= 10L => (b, a) -> j
                 case ((a, b), j) if a >= 10L && b < 10L => (a, b) -> j }
      .toMap
    assert(got === oneShot)
    // sanity: the planted cross-split dups are actually in there
    assert(got.contains((11L, 3L)) && got((11L, 3L)) === 1.0)
    assert(got.keys.exists(_._1 == 10L))
    assert(!got.keys.exists(_._1 == 12L)) // singleton pairs with nothing
  }

  test("unindexNearDups: removal ≡ never-indexed; survivors keep probing; update path") {
    import graft.cdc.KeyedParquetTable
    val probe = Seq(
      (10L, base.replace("green hills", "rolling hills")),     // near dup of 0/1/2
      (11L, unrelated)                                         // exact dup of 3
    ).toDF("doc_id", "text")
    val tmp = tmpDir("ndun")
    def freshIndex(sub: String, corpus: org.apache.spark.sql.DataFrame) = {
      val bt = new KeyedParquetTable(spark, s"$tmp/$sub/bands",
        Seq("band_id", "band_hash", "id"), Nil, 8, Seq("band_id", "band_hash"))
      val dt = new KeyedParquetTable(spark, s"$tmp/$sub/docs", Seq("doc_id"), Nil, 8)
      FuzzyDedup.indexNearDups(bt, dt, corpus, "doc_id", "text")
      (bt, dt)
    }
    val (bandT, docT) = freshIndex("full", docs)
    // remove doc 0 (near-dup family with 1/2 — shared-band survivor case)
    // and doc 3 (the exact-dup target); 99 is absent and must no-op
    FuzzyDedup.unindexNearDups(bandT, docT,
      Seq(0L, 3L, 99L).toDF("doc_id"), "doc_id", "text")
    def probeMap(bt: KeyedParquetTable, dt: KeyedParquetTable) =
      FuzzyDedup.checkNearDups(bt, dt, probe, "doc_id", "text", threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val got = probeMap(bandT, docT)
    // equivalence: exactly what an index never holding 0/3 answers
    val (bRef, dRef) = freshIndex("ref",
      docs.filter(!col("doc_id").isin(0L, 3L)))
    assert(got === probeMap(bRef, dRef))
    // the removed ids pair with nothing; their near-dup SURVIVORS still do
    assert(!got.keys.exists(p => p._2 == 0L || p._2 == 3L))
    assert(got.keys.exists(p => p._1 == 10L && Set(1L, 2L)(p._2)),
      s"surviving twins of the removed doc stopped probing: $got")
    assert(!got.contains((11L, 3L))) // the wiped exact-dup target is gone
    // update path: re-index doc 3 under new text; old text stops matching,
    // new text matches exactly
    FuzzyDedup.indexNearDups(bandT, docT,
      Seq((3L, "completely rewritten takedown replacement text mentioning nothing familiar at all"))
        .toDF("doc_id", "text"), "doc_id", "text")
    val after = probeMap(bandT, docT)
    assert(!after.contains((11L, 3L)))
    val got3 = FuzzyDedup.checkNearDups(bandT, docT,
      Seq((12L, "completely rewritten takedown replacement text mentioning nothing familiar at all"))
        .toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got3 === Set((12L, 3L)))
  }

  test("unindexSimhash: removal ≡ never-indexed (docs carried by the request)") {
    import graft.cdc.KeyedParquetTable
    val probe = Seq((10L, base)).toDF("doc_id", "text") // exact dup of 0/1
    val tmp = tmpDir("shun")
    def fresh(sub: String, corpus: org.apache.spark.sql.DataFrame) = {
      val qt = new KeyedParquetTable(spark, s"$tmp/$sub",
        Seq("q", "qv", "id"), Nil, 8, Seq("q", "qv"))
      FuzzyDedup.indexSimhash(qt, corpus, "doc_id", "text")
      qt
    }
    val qt = fresh("full", docs)
    FuzzyDedup.unindexSimhash(qt, docs.filter(col("doc_id") === 0L),
      "doc_id", "text")
    def pm(t: KeyedParquetTable) =
      FuzzyDedup.checkSimhashNearDups(t, probe, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val got = pm(qt)
    assert(got === pm(fresh("ref", docs.filter(col("doc_id") =!= 0L))))
    assert(!got.contains((10L, 0L)) && got.get((10L, 1L)) === Some(0))
  }

  test("incremental simhash index ≡ one-shot simhashNearDups restricted across the split") {
    import graft.cdc.KeyedParquetTable
    val extra = Seq(
      (10L, base),                 // exact dup of 0/1 → Hamming 0
      (11L, "fresh standalone text about adaptive query execution plans and broadcast thresholds tuning")
    ).toDF("doc_id", "text")
    val qt = new KeyedParquetTable(spark, tmpDir("shdx"),
      Seq("q", "qv", "id"), Nil, 8, Seq("q", "qv"))
    FuzzyDedup.indexSimhash(qt, docs.filter(col("doc_id") <= 2L), "doc_id", "text")
    FuzzyDedup.indexSimhash(qt, docs.filter(col("doc_id") > 2L), "doc_id", "text")
    val got = FuzzyDedup.checkSimhashNearDups(qt, extra, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val oneShot = FuzzyDedup.simhashNearDups(docs.unionByName(extra), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2))
      .collect { case ((a, b), h) if a < 10L && b >= 10L => (b, a) -> h
                 case ((a, b), h) if a >= 10L && b < 10L => (a, b) -> h }
      .toMap
    assert(got === oneShot)
    assert(got((10L, 0L)) === 0 && got((10L, 1L)) === 0) // planted exact dups
    assert(!got.keys.exists(_._1 == 11L))
  }

  test("winnow fingerprint is stable and shifts with content") {
    val fps = docs.select(col("doc_id"), TextOps.winnowFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(0L) === fps(1L))
    assert(fps(0L) !== fps(3L))
  }

  test("editDistancePairs: blocked candidates, exact verify, documented misses") {
    val names = Seq(
      (1L, "jonathan smith"),
      (2L, "jonathan smyth"),   // dist 1, shares head AND tail block
      (3L, "ionathan smith"),   // dist 1 from 1, first char edited — tail block catches it
      (4L, "jonathan smitz"),   // dist 1 from 1, last char edited — head block catches it
      (5L, "xonathan smitx"),   // dist 2 from 1 AND edited at both ends
      (6L, "totally different")).toDF("id", "name")
    val got = FuzzyDedup.editDistancePairs(names, "id", "name", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSet
    assert(got.contains((1L, 2L, 1L)))
    assert(got.contains((1L, 3L, 1L))) // caught via the tail pass
    assert(got.contains((1L, 4L, 1L))) // caught via the head pass
    // dist > maxDist never reported (exact verify), regardless of blocking
    assert(!got.exists { case (a, b, _) => Set(a, b).contains(5L) })
    assert(!got.exists { case (a, b, _) => Set(a, b).contains(6L) })
    // no duplicate pair from matching in both passes
    val pairs = got.map { case (a, b, _) => (a, b) }
    assert(pairs.size === got.size)
    // plan sanity: equi-joins only, no cartesian product
    val plan = FuzzyDedup.editDistancePairs(names, "id", "name", 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("scan-lean nearDupPairs plan ≡ fused plan (identical pairs and jaccards)") {
    // a richer corpus than `docs`: singletons, exact dups, near dups,
    // in-doc repetition, short docs — every path through candidate
    // generation and verify
    val corpus = docs.unionByName(Seq(
      (20L, base.replace("green hills", "rolling hills")),
      (21L, unrelated),
      (22L, (base + " ") * 3),
      (23L, "tiny"),
      (24L, "yet another singleton document about parquet footers and row groups")
    ).toDF("doc_id", "text"))
    def run(scanLean: Boolean) = FuzzyDedup.nearDupPairsPlanned(
        corpus, "doc_id", "text", threshold = 0.5, numHashes = 32, bands = 8,
        shingle = 3, scanLean = scanLean)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val fused = run(scanLean = false)
    val lean = run(scanLean = true)
    assert(lean === fused)
    assert(fused.contains((0L, 1L))) // non-vacuous: the planted dups paired
  }

  test("scan-lean plan evaluates the signature kernels once per side (2 corpus passes, not 4)") {
    val lean = FuzzyDedup.nearDupPairsPlanned(docs, "doc_id", "text",
      threshold = 0.5, numHashes = 32, bands = 8, shingle = 3, scanLean = true)
    val plan = lean.queryExecution.executedPlan.toString
    // the two verify joins read the checkpointed candidate sets: no
    // shingle_hashes survives in the final (post-checkpoint) plan, and no
    // cartesian anywhere
    assert(!plan.contains("shingle_hashes"), s"verify re-scans the corpus:\n$plan")
    assert(!plan.contains("minhash_bands"), s"banding re-runs in the final plan:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("adaptive threshold: default picks the fused plan at bench scale, switch point is the size estimate") {
    // the bench corpus estimate is far below the 8 GiB default
    assert(FuzzyDedup.estimatedBytes(docs) < FuzzyDedup.largeCorpusBytes)
    assert(FuzzyDedup.largeCorpusBytes === (8L << 30))
    // the property override moves the switch point (restored after)
    val key = "graft.neardup.largeCorpusBytes"
    try {
      System.setProperty(key, "1")
      assert(FuzzyDedup.largeCorpusBytes === 1L)
      assert(FuzzyDedup.estimatedBytes(docs) >= FuzzyDedup.largeCorpusBytes)
    } finally System.clearProperty(key)
  }

  test("nearDupPairs over a stats-less (RDD-backed) corpus takes the lazy fused plan") {
    // an RDD-backed frame reports spark.sql.defaultSizeInBytes: an unknown
    // size, not a huge one — building the pairs must start no Spark job
    // (the scan-lean plan would run its three checkpoints right here)
    val text = "the quick brown fox jumps over the lazy dog by the river bank"
    val corpus = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, text),
        org.apache.spark.sql.Row(2L, text + " today"))),
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
    assert(FuzzyDedup.estimatedBytes(corpus) >=
      org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes)
    var pairs: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { pairs = FuzzyDedup.nearDupPairs(corpus, "doc_id", "text",
      threshold = 0.5) } === 0)
    assert(pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSeq === Seq((1L, 2L)))
  }
}
