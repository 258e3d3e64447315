package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection at scale: MinHash + banded LSH, SimHash, and
  * exact n-gram Jaccard verification.
  *
  * Scale design (the part that matters at 100 TB):
  *  - candidate generation is ALWAYS bucket-bounded — signatures explode into
  *    (band, bandHash) keys and candidates come from an equi-join on those
  *    keys, so shuffle volume is O(docs × bands) and join fan-out is bounded
  *    by bucket size. There is no all-pairs/cross-join path anywhere.
  *  - signatures are fixed-width arrays of longs built by codegen'd
  *    higher-order functions (no UDFs, no per-row JVM allocation beyond the
  *    signature array).
  *  - the expensive exact-Jaccard check runs only on candidate pairs.
  */
object FuzzyDedup {

  /** Exact dedup: group identical content by md5, keep the smallest id.
    * (hash-groupBy — one shuffle on the 128-bit fingerprint.)
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** n-token shingles of a document (string form — exact-verify side).
    * Delegates to [[TextOps.shingles]]: ONE guarded implementation (empty
    * array below n tokens — a bare `sequence(1, 0)` descends to [1, 0] and
    * `slice(toks, 0, n)` then throws, killing the stage on any short doc).
    */
  def shingles(text: Column, n: Int): Column = TextOps.shingles(text, n)

  /** 64-bit hash per n-token shingle, with each TOKEN string hashed exactly
    * once: token → xxhash64 long, shingle hash = xxhash64 over the n-long
    * slice. Hashing strings repeatedly is the cost center of MinHash (k
    * perm-hashes per shingle string made the naive form ~10× slower at
    * sf0.1); downstream everything operates on longs. Guarded: empty array
    * below n tokens (same short-doc trap as [[shingles]]).
    */
  def shingleHashes(text: Column, n: Int): Column = {
    val toksH = transform(split(text, " "), t => xxhash64(t))
    when(size(toksH) < n, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(1), size(toksH) - (n - 1)),
        i => xxhash64(slice(toksH, i, lit(n)))))
  }

  /** MinHash signature (k values, h_p(s) = xxhash64(sh, p) over the 64-bit
    * shingle hash) computed in ONE pass: per shingle the k perm-hashes,
    * folded with an elementwise-min. Naively mapping
    * `array_min(transform(...))` per hash function recomputes the shingle
    * array k times once Catalyst collapses projections.
    */
  def minhashSignature(text: Column, numHashes: Int = 32, shingle: Int = 3): Column =
    aggregate(
      shingleHashes(text, shingle),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, sh) => zip_with(acc,
        transform(sequence(lit(0), lit(numHashes - 1)), p => xxhash64(sh, p)),
        (a, b) => least(a, b)))

  /** Signature → `bands` band hashes, with the signature bound ONCE via the
    * aggregate finish-lambda (no per-band recompute under project collapse);
    * band hash = xxhash64 over the band's long-slice directly.
    */
  def bandHashes(text: Column, numHashes: Int = 32, bands: Int = 8,
                 shingle: Int = 3): Column = {
    val rowsPerBand = numHashes / bands
    aggregate(
      shingleHashes(text, shingle),
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, sh) => zip_with(acc,
        transform(sequence(lit(0), lit(numHashes - 1)), p => xxhash64(sh, p)),
        (a, b) => least(a, b)),
      sig => transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), b)))
  }

  /** Candidate near-dup pairs from banded LSH: equi-join on (band, hash),
    * ordered ids, distinct. Bucket-bounded — never an all-pairs product.
    * Uses the native `minhash_bands` kernel
    * ([[graft.functions.MinHashBandHashes]]); [[bandHashes]] is the
    * composable reference formulation.
    */
  def candidatePairs(docs: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 32, bands: Int = 8, shingle: Int = 3): DataFrame = {
    val banded = bandedRows(docs, idCol, textCol, numHashes, bands, shingle)
    val a = banded.select(col(idCol).as("id_a"), col("band_id"), col("band_hash"))
    val b = banded.select(col(idCol).as("id_b"), col("band_id"), col("band_hash"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** (id, band_id, band_hash) rows of each eligible doc's banded signature.
    * Docs below the shingle width have NO shingles: their signature is the
    * degenerate all-MaxValue vector, which would bucket every short doc of
    * the corpus together (a hot bucket with quadratic fan-out) only for the
    * verify step to null their Jaccard out anyway — dropped up front.
    */
  private def bandedRows(docs: DataFrame, idCol: String, textCol: String,
                         numHashes: Int, bands: Int, shingle: Int): DataFrame =
    docs.filter(size(split(col(textCol), " ")) >= shingle)
      .select(col(idCol),
        posexplode(call_function("minhash_bands", col(textCol),
          lit(numHashes), lit(bands), lit(shingle)))
          .as(Seq("band_id", "band_hash")))

  /** Exact shingle-set Jaccard for candidate pairs (verification step).
    * Shingle sets (not unigram token sets): on n-gram granularity unrelated
    * docs over a small vocabulary still score near 0, so the verify step
    * actually discriminates. Sets are 64-bit shingle hashes — set
    * intersection on longs, not strings (collision probability at 64 bits is
    * negligible next to the similarity threshold).
    */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
                    textCol: String, threshold: Double, shingle: Int = 3): DataFrame = {
    val sets = docs.select(col(idCol).as("__jid"),
      array_distinct(call_function("shingle_hashes", col(textCol), lit(shingle)))
        .as("__set"))
    pairs
      .join(sets.withColumnRenamed("__jid", "id_a").withColumnRenamed("__set", "set_a"), "id_a")
      .join(sets.withColumnRenamed("__jid", "id_b").withColumnRenamed("__set", "set_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → minhash → band →
    * bucket-join → exact-Jaccard verify.
    *
    * CORPUS-SIZE-ADAPTIVE plan (r18; the switch r17's negative result
    * called for): the default FUSED plan evaluates the signature kernels
    * inline — `minhash_bands` on both sides of the band self-join and
    * `shingle_hashes` in both verify joins, 4 kernel passes over the
    * corpus whose scans overlap — which A/B-measured FASTER at bench scale
    * (r17 #2: every checkpointed variant lost to the overlapped scans on a
    * small corpus, barriers cost more than the duplicate passes save). At
    * large corpus size that inverts by construction: 4 full scans of
    * 100 TB lose to 2 scans + three small checkpoint barriers. So when the
    * optimizer's size estimate for `docs` exceeds
    * `graft.neardup.largeCorpusBytes` (default 8 GiB, system-property
    * override), the pipeline switches to the SCAN-LEAN plan: checkpoint
    * the banded rows (corpus pass 1), self-join the checkpoint (no corpus
    * scan), checkpoint the candidate pairs, and verify with shingle sets
    * computed ONLY for candidate-matched docs (corpus pass 2, semi-join
    * restricted) read from their own checkpoint by both verify joins.
    * Both plans compute the identical pair set (FuzzyDedupSpec asserts
    * equality); only scan/barrier structure differs. An input without
    * size statistics (an RDD-backed frame reports
    * `spark.sql.defaultSizeInBytes`) has an unknown size and takes the
    * fused plan. The scan-lean plan is EAGER: its three checkpoints run
    * while this method builds the frame, not at the caller's first action.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.7, numHashes: Int = 32,
                   bands: Int = 8, shingle: Int = 3): DataFrame =
    nearDupPairsPlanned(docs, idCol, textCol, threshold, numHashes, bands,
      shingle, scanLean = {
        val est = estimatedBytes(docs)
        est >= largeCorpusBytes &&
          est < org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes
      })

  /** Plan-forced [[nearDupPairs]] (the adaptive switch resolved by the
    * caller — exposed for the equivalence spec and plan audits).
    */
  private[graft] def nearDupPairsPlanned(docs: DataFrame, idCol: String,
                                         textCol: String, threshold: Double,
                                         numHashes: Int, bands: Int,
                                         shingle: Int,
                                         scanLean: Boolean): DataFrame =
    if (!scanLean)
      jaccardVerify(candidatePairs(docs, idCol, textCol, numHashes, bands, shingle),
        docs, idCol, textCol, threshold, shingle)
    else {
      // corpus pass 1: one signature-kernel evaluation, materialized —
      // both sides of the band self-join read the checkpoint's cached
      // blocks instead of re-running minhash_bands over the corpus
      val banded = bandedRows(docs, idCol, textCol, numHashes, bands, shingle)
        .localCheckpoint(true)
      val a = banded.select(col(idCol).as("id_a"), col("band_id"), col("band_hash"))
      val b = banded.select(col(idCol).as("id_b"), col("band_id"), col("band_hash"))
      // candidate pairs materialize once: they feed the candidate-id
      // restriction AND the final verify join
      val pairs = a.join(b, Seq("band_id", "band_hash"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
        .localCheckpoint(true)
      val candIds = pairs.select(col("id_a").as("__cid"))
        .union(pairs.select(col("id_b").as("__cid"))).distinct()
      // corpus pass 2: shingle sets computed ONLY for candidate docs (the
      // semi-join drops non-candidates before the kernel runs); the
      // checkpoint serves both verify joins — shingle_hashes runs once per
      // candidate doc, not once per verify side
      val sets = docs.join(candIds, col(idCol) === col("__cid"), "left_semi")
        .select(col(idCol).as("__jid"),
          array_distinct(call_function("shingle_hashes", col(textCol), lit(shingle)))
            .as("__set"))
        .localCheckpoint(true)
      pairs
        .join(sets.withColumnRenamed("__jid", "id_a").withColumnRenamed("__set", "set_a"), "id_a")
        .join(sets.withColumnRenamed("__jid", "id_b").withColumnRenamed("__set", "set_b"), "id_b")
        .withColumn("jaccard",
          size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
            size(array_union(col("set_a"), col("set_b"))))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    }

  /** Optimizer size estimate for a frame (bytes) — statistics-based, never
    * runs a job. For a parquet scan this is file size × filter/projection
    * selectivity estimates: exactly the signal the scan-vs-barrier trade
    * needs, and the same estimate autoBroadcastJoinThreshold trusts.
    */
  private[graft] def estimatedBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Corpus-size threshold (bytes) above which [[nearDupPairs]] switches to
    * the scan-lean plan. Default 8 GiB: well above any size where the three
    * checkpoint barriers (~0.1 s each at bench scale) could matter, well
    * below any corpus where two saved full scans dominate them.
    */
  private[graft] def largeCorpusBytes: Long =
    sys.props.get("graft.neardup.largeCorpusBytes").flatMap(_.toLongOption)
      .getOrElse(8L << 30)

  /** INCREMENTAL near-dup screening, for a corpus that grows batch by batch
    * — "is anything in this new crawl batch a near-dup of anything we
    * already hold?" without re-signaturing the whole corpus per batch.
    *
    * Two maintained tables:
    *  - `bandTable`: one row per (band_id, band_hash, id) of each indexed
    *    doc's banded-LSH signature — keyed by all three, BUCKETED by
    *    (band_id, band_hash) so a probe prunes to the buckets the
    *    candidate batch's own bands hash into;
    *  - `docTable`: the indexed docs (id → text), keyed+bucketed by id, so
    *    the exact-Jaccard verify fetches ONLY the candidate-matched docs'
    *    texts (bucket-pruned point lookups, not a corpus scan).
    *
    * Per-batch cost: signature pass over the batch + two bucket-scoped
    * merges — O(batch), never O(corpus). [[checkNearDups]] is the probe.
    *
    * Docs are treated as IMMUTABLE (content-addressed ids, the training-
    * corpus norm): re-indexing a CHANGED doc under the same id upserts its
    * doc row but leaves the old text's band rows in place (different band
    * hashes = different keys), so probes may surface candidates from the
    * superseded text — verify still runs against the current text, so
    * confirmed pairs stay correct, but rebuild the index if docs mutate.
    * One row per id per batch (the merge-cardinality rule).
    */
  def indexNearDups(bandTable: graft.cdc.KeyedParquetTable,
                    docTable: graft.cdc.KeyedParquetTable,
                    batch: DataFrame, idCol: String, textCol: String,
                    numHashes: Int = 32, bands: Int = 8, shingle: Int = 3): Unit = {
    require(bandTable.keys == Seq("band_id", "band_hash", "id") &&
      bandTable.bucketKeys == Seq("band_id", "band_hash"),
      s"bandTable must be keyed (band_id, band_hash, id) and bucketed by " +
        s"(band_id, band_hash); got keys=${bandTable.keys} buckets=${bandTable.bucketKeys}")
    require(docTable.keys == Seq(idCol),
      s"docTable must be keyed by '$idCol' (got ${docTable.keys})")
    val bandRows = bandedRows(batch, idCol, textCol, numHashes, bands, shingle)
      .select(col("band_id"), col("band_hash"), col(idCol).as("id"))
    bandTable.createIfNotExists(bandRows.schema)
    bandTable.merge(bandRows.withColumn("operation", lit("u")))
    val docRows = batch.select(col(idCol), col(textCol))
    docTable.createIfNotExists(docRows.schema)
    docTable.merge(docRows.withColumn("operation", lit("u")))
  }

  /** Remove documents from the maintained near-dup index — the takedown /
    * GDPR-wipe propagation the maintained corpus needs (and, composed with
    * [[indexNearDups]], the sanctioned way to UPDATE a mutated doc:
    * unindex old, index new — closing the immutability caveat above).
    *
    * Ids suffice: the removed docs' texts are fetched from the doc store
    * by bucket-pruned point lookup, their band rows recomputed with the
    * SAME banding parameters as index time (the caller's contract, as with
    * [[checkNearDups]]), locating exactly the (band_id, band_hash) buckets
    * each id lives in. Both removals are merge-on-read keyed deletes —
    * O(removed batch) probe + O(touched shards) commit, never O(corpus),
    * and a pure-tombstone commit rewrites zero data files. Ids absent from
    * the doc store no-op. A doc sharing band rows with a near-identical
    * survivor deletes only its OWN (…, id) rows — the survivor's keys
    * differ in the id component, so its probe-ability is untouched.
    */
  def unindexNearDups(bandTable: graft.cdc.KeyedParquetTable,
                      docTable: graft.cdc.KeyedParquetTable,
                      removedIds: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 32, bands: Int = 8,
                      shingle: Int = 3): Unit = {
    require(docTable.keys == Seq(idCol),
      s"docTable must be keyed by '$idCol' (got ${docTable.keys})")
    require(bandTable.keys == Seq("band_id", "band_hash", "id"),
      s"bandTable must be keyed (band_id, band_hash, id); got ${bandTable.keys}")
    // one evaluation: the fetched docs drive band recomputation AND the
    // doc-store delete's key set. readForKeys is a PRUNING read (returns
    // the touched buckets' contents, a superset) — the semi-join restores
    // exact membership, or every innocent doc sharing a bucket with a
    // removed id would be wiped with it
    val docs = docTable.readForKeys(removedIds.select(col(idCol)))
      .join(removedIds.select(col(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol), col(textCol)).localCheckpoint(true)
    val bandKeys = bandedRows(docs, idCol, textCol, numHashes, bands, shingle)
      .select(col("band_id"), col("band_hash"), col(idCol).as("id"))
    bandTable.deleteKeys(bandKeys)
    docTable.deleteKeys(docs.select(col(idCol)))
  }

  /** Near-dup pairs between a candidate batch and the corpus indexed by
    * [[indexNearDups]]: explode the batch's bands, bucket-pruned probe of
    * the band index, equi-join on (band_id, band_hash), then exact-Jaccard
    * verify with the matched corpus docs' texts fetched by bucket-pruned id
    * lookup. Returns (id_a = candidate id, id_b = indexed id, jaccard);
    * a candidate already indexed under the same id never pairs with itself.
    */
  def checkNearDups(bandTable: graft.cdc.KeyedParquetTable,
                    docTable: graft.cdc.KeyedParquetTable,
                    candidates: DataFrame, idCol: String, textCol: String,
                    threshold: Double = 0.7, numHashes: Int = 32,
                    bands: Int = 8, shingle: Int = 3): DataFrame = {
    require(docTable.keys == Seq(idCol),
      s"docTable must be keyed by '$idCol' (got ${docTable.keys})")
    // localCheckpoint: the banded batch drives the index probe's bucket
    // computation AND the candidate join — materialize the signature pass once
    val candBands = bandedRows(candidates, idCol, textCol, numHashes, bands, shingle)
      .select(col(idCol).as("id_a"), col("band_id"), col("band_hash"))
      .localCheckpoint(true)
    val indexed = bandTable.readForKeys(candBands.select("band_id", "band_hash"))
      .select(col("band_id"), col("band_hash"), col("id").as("id_b"))
    val pairs = candBands.join(indexed, Seq("band_id", "band_hash"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
      .localCheckpoint(true) // feeds the doc fetch's bucket collect + the verify join
    val candSets = candidates.select(col(idCol).as("id_a"),
      array_distinct(call_function("shingle_hashes", col(textCol), lit(shingle)))
        .as("set_a"))
    val matchedDocs = docTable.readForKeys(pairs.select(col("id_b").as(idCol)))
    val corpusSets = matchedDocs.select(col(idCol).as("id_b"),
      array_distinct(call_function("shingle_hashes", col(textCol), lit(shingle)))
        .as("set_b"))
    pairs.join(candSets, "id_a").join(corpusSets, "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("set_a"), col("set_b"))).cast("double") /
          size(array_union(col("set_a"), col("set_b"))))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** INCREMENTAL SimHash screening — the [[indexNearDups]] pattern for the
    * SimHash modality, in ONE maintained table: a row per (q, qv, id)
    * quarter-bucket with the doc's full fingerprint riding along as a
    * value column (Hamming verify needs no document text, so no doc store).
    * Keyed (q, qv, id), bucketed by (q, qv): a probe batch's quarters
    * prune the read to their touched buckets.
    *
    * Same immutability assumption as [[indexNearDups]]: a changed doc's
    * old quarters (with the old fingerprint) stay behind under the same
    * id — treat docs as immutable or rebuild.
    */
  def indexSimhash(quarterTable: graft.cdc.KeyedParquetTable,
                   batch: DataFrame, idCol: String, textCol: String): Unit = {
    require(quarterTable.keys == Seq("q", "qv", "id") &&
      quarterTable.bucketKeys == Seq("q", "qv"),
      s"quarterTable must be keyed (q, qv, id) and bucketed by (q, qv); " +
        s"got keys=${quarterTable.keys} buckets=${quarterTable.bucketKeys}")
    val rows = quarterRows(batch, idCol, textCol)
      .select(col("q"), col("qv"), col(idCol).as("id"), col("sim"))
    quarterTable.createIfNotExists(rows.schema)
    quarterTable.merge(rows.withColumn("operation", lit("u")))
  }

  /** Remove documents from the maintained SimHash index ([[unindexNearDups]]
    * for the SimHash modality). The quarter table has NO doc store to
    * recover texts from, so the removal batch must carry the documents
    * (id + text — the shape takedown requests arrive in): their quarter
    * rows recompute to exactly the index-time (q, qv, id) keys, deleted
    * merge-on-read. O(removed batch), never O(corpus); with
    * [[indexSimhash]] this is also the doc-update path (unindex old text,
    * index new).
    */
  def unindexSimhash(quarterTable: graft.cdc.KeyedParquetTable,
                     removed: DataFrame, idCol: String, textCol: String): Unit = {
    require(quarterTable.keys == Seq("q", "qv", "id"),
      s"quarterTable must be keyed (q, qv, id); got ${quarterTable.keys}")
    quarterTable.deleteKeys(quarterRows(removed, idCol, textCol)
      .select(col("q"), col("qv"), col(idCol).as("id")))
  }

  /** SimHash near-dup pairs between a candidate batch and the corpus indexed
    * by [[indexSimhash]]: quarter-bucket probe (bucket-pruned read), full
    * Hamming verify on the stored fingerprints. Returns
    * (id_a = candidate id, id_b = indexed id, hamming).
    */
  def checkSimhashNearDups(quarterTable: graft.cdc.KeyedParquetTable,
                           candidates: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-quarter bucketing guarantees recall only for maxHamming ≤ 3, got $maxHamming")
    // localCheckpoint: drives the probe's bucket computation AND the join
    val cand = quarterRows(candidates, idCol, textCol)
      .select(col(idCol).as("id_a"), col("sim").as("sim_a"), col("q"), col("qv"))
      .localCheckpoint(true)
    val indexed = quarterTable.readForKeys(cand.select("q", "qv"))
      .select(col("q"), col("qv"), col("id").as("id_b"), col("sim").as("sim_b"))
    cand.join(indexed, Seq("q", "qv"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** (id, sim, q, qv) rows: each doc's fingerprint exploded into its four
    * 16-bit quarter buckets (the [[simhashNearDups]] banding).
    */
  private def quarterRows(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), simhash(textCol).as("sim"))
      .select(col(idCol), col("sim"), posexplode(
        array((0 until 4).map(q =>
          shiftright(col("sim"), q * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("q", "qv")))

  /** 64-bit SimHash over whitespace tokens: bit i of the fingerprint is the
    * sign of Σ_tokens (±1 by bit i of the token hash). Uses the native
    * one-pass kernel ([[graft.functions.SimHash64]]); [[simhashRef]] is the
    * composable HOF reference formulation (same result, but it re-tokenizes
    * and re-hashes the document once per bit — 64× — on the interpreted
    * higher-order-function path).
    */
  def simhash(textCol: String): Column = call_function("simhash64", col(textCol))

  /** Reference HOF formulation of [[simhash]] (equivalence is asserted in
    * FuzzyDedupSpec; kept for engines/sessions without GraftExtensions).
    */
  def simhashRef(textCol: String): Column =
    expr(s"""aggregate(
      sequence(0, 63),
      0L,
      (acc, i) -> acc | IF(
        aggregate(transform(split($textCol, ' '), t -> xxhash64(t)), 0L,
                  (s, h) -> s + IF(((h >> i) & 1) = 1, 1L, -1L)) > 0,
        shiftleft(1L, i), 0L))""")

  /** Hamming distance between two simhash fingerprints. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** SimHash near-dup pairs: bucket by the 4 16-bit quarters of the
    * fingerprint (any pair within Hamming distance 3 shares ≥1 exact
    * quarter — pigeonhole), then verify the full distance. Bucket-bounded
    * like the MinHash path.
    */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    // pigeonhole bound: 4 quarters guarantee a shared quarter only for
    // distance ≤ 3 — a larger maxHamming would silently miss pairs
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-quarter bucketing guarantees recall only for maxHamming ≤ 3, got $maxHamming")
    val banded = quarterRows(docs, idCol, textCol)
    val a = banded.select(col(idCol).as("id_a"), col("sim").as("sim_a"), col("q"), col("qv"))
    val b = banded.select(col(idCol).as("id_b"), col("sim").as("sim_b"), col("q"), col("qv"))
    a.join(b, Seq("q", "qv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hammingDistance(col("sim_a"), col("sim_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Blocked EDIT-DISTANCE pair matching — the entity-resolution fuzzy
    * join (typo'd names, OCR'd titles) the shingle/minhash family can't
    * express (edit distance cares about ORDER; Jaccard doesn't).
    *
    * Blocking contract, the standard ER trade: a candidate pair must
    * agree on the first `blockChars` characters OR the last `blockChars`
    * (two equi-join passes unioned — never a cartesian), and differ in
    * length by ≤ `maxDist` (a true edit-distance bound). The DOCUMENTED
    * miss class is pairs edited at BOTH ends; compose more blocking
    * passes (middle-gram keys) when that recall matters — same
    * linear-candidates shape. Exact `levenshtein` verifies candidates,
    * so there are no false POSITIVES ever. Strings shorter than
    * `blockChars` are excluded from matching (no block key carries them).
    *
    * Scale shape: two hash-join passes on the block key + per-candidate
    * DP verify. Block sizes follow the key distribution — skewed prefixes
    * (e.g. "the ") enlarge candidate sets quadratically per block, so
    * pick `blockChars` past the common-prefix mass of the domain, exactly
    * like choosing an ER blocking rule.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, blockChars: Int = 3): DataFrame = {
    require(maxDist >= 0 && blockChars >= 1,
      s"need maxDist >= 0 and blockChars >= 1 (got $maxDist, $blockChars)")
    val t = docs.select(col(idCol).as("__id"), col(textCol).as("__t"))
      .where(length(col("__t")) >= blockChars)
    def pass(key: Column => Column): DataFrame = {
      val keyed = t.withColumn("__k", key(col("__t")))
      keyed.select(col("__id").as("id_a"), col("__t").as("text_a"), col("__k"))
        .join(keyed.select(col("__id").as("id_b"), col("__t").as("text_b"),
          col("__k")), "__k")
        .drop("__k")
    }
    val head = pass(tt => substring(tt, 1, blockChars))
    val tail = pass(tt => tt.substr(length(tt) - (blockChars - 1), lit(blockChars)))
    head.unionByName(tail)
      .where(col("id_a") < col("id_b"))
      .where(abs(length(col("text_a")) - length(col("text_b"))) <= maxDist)
      .dropDuplicates("id_a", "id_b")
      .withColumn("dist", levenshtein(col("text_a"), col("text_b")).cast("long"))
      .where(col("dist") <= maxDist)
  }
}
