package graft.extensions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash groupBy), MinHash+LSH banding, SimHash,
  * and blocked n-gram Jaccard verification.
  *
  * Scale design: every variant avoids the O(n²) all-pairs comparison —
  * exact dedup is one hash aggregation; MinHash/SimHash reduce each doc to
  * a constant-size signature (map-side, no shuffle), then candidate
  * generation is an equi-join on band/block keys (shuffle on the band
  * key, AQE-skew-safe) and only candidates pay the verification cost.
  * All hashing is md5-based and engine-independent (oracle-checkable).
  */
object TextDedup {

  /** Exact dedup: content-hash groupBy keeping the smallest id
    * (deterministic keeper).
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  /** MinHash signature from a prepared shingles column: k independent
    * permutations simulated as `min(md5(i || '|' || shingle))` per hash
    * index i — one constant-size signature array per doc, map-side.
    *
    * Keep the shingles in their OWN projection (see [[withShingles]]):
    * the signature references them k times, and Catalyst's
    * CollapseProject correctly refuses to inline a non-cheap expression
    * referenced k times — inline it yourself and the shingle array is
    * recomputed k times per row.
    */
  def minhashSignatureFromShingles(sh: Column, k: Int = 8): Column =
    graft.functions.MinHashSig(sh, k)

  /** docs → (id, sh) with the shingle array materialized as a column.
    * The shingle/minhash work is CPU-bound per row, and a small input
    * (one parquet split) would otherwise pin the whole pass to one task
    * — the classic small-file/large-compute mismatch. The repartition is
    * CONDITIONAL (Partitioning.ensureParallelism): a well-split scan at
    * real scale keeps its layout, no Exchange added.
    */
  def withShingles(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3): DataFrame =
    graft.ops.Partitioning.ensureParallelism(
        docs.select(col(idCol).as("id"), col(textCol).as("t")))
      // tokens staged as an attribute: the shingle CASE references the
      // token array four times, and inlined tokens(t) would re-run
      // split+filter per reference
      .select(col("id"), TextAnalysis.tokens(col("t")).as("toks"))
      .select(col("id"),
        TextAnalysis.shinglesOfTokens(col("toks"), shingleN).as("sh"))

  /** Convenience single-expression form (small inputs / tests). */
  def minhashSignature(text: Column, k: Int = 8, shingleN: Int = 3): Column =
    minhashSignatureFromShingles(TextAnalysis.shingles(text, shingleN), k)

  /** LSH band keys: the signature split into `bands` contiguous rows,
    * each band hashed to one bucket key. Docs sharing any band key are
    * candidate duplicates.
    */
  def bandKeys(sig: Column, k: Int = 8, bands: Int = 4): Column = {
    val rows = k / bands
    array((0 until bands).map(b =>
      concat(lit(s"$b|"),
        md5(concat_ws("|",
          (0 until rows).map(r => sig.getItem(b * rows + r)): _*)))): _*)
  }

  /** Mega-bucket cap for every banded candidate generator (SCALE.md
    * "LSH band buckets" risk): a bucket of n near-identical docs
    * (boilerplate, empty pages) otherwise yields n²/2 candidate pairs —
    * the one spot where banding can go quadratic at corpus scale. Default
    * trips only on degenerate buckets (testdata buckets are < 10²).
    */
  val defaultMaxBucket: Int = 10000

  /** Shared banded candidate generation with the mega-bucket cap:
    * `bandRows` = (id, band) membership rows; output = distinct candidate
    * id pairs (id_a < id_b).
    *
    * Buckets with ≤ maxBucket members emit ALL pairs (exact LSH
    * semantics). Larger buckets emit STAR pairs against the bucket's
    * smallest id — linear, not quadratic, and for the mega-bucket cause
    * (mass-duplicated boilerplate) equally effective: every member still
    * pairs with the representative, so downstream dedup keeps exactly one
    * (transitive near-dups linked only through a capped bucket lose their
    * direct pair — the documented recall trade-off).
    *
    * One shuffle: the window partitions by band, and the self-join's band
    * key reuses that exchange (output partitioning already satisfies the
    * join requirement); the final distinct carries bare id pairs.
    */
  def bandCandidatePairs(bandRows: DataFrame,
                         maxBucket: Int = defaultMaxBucket): DataFrame = {
    // the (id, band) membership is consumed by THREE branches (join left,
    // join right, star extraction); persisting the narrow frame pays the
    // band/signature generator once instead of per branch (spill-safe;
    // CacheManager dedups the entry across queries sharing the plan)
    val cachedRows = bandRows
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band")
    val annotated = cachedRows
      .withColumn("bsize", count(lit(1)).over(w))
      .withColumn("rep", min(col("id")).over(w))
    val small = annotated.filter(col("bsize") <= maxBucket)
      .select("id", "band")
    // the right side joins the PLAIN rows: a mega bucket filtered out of
    // the left side produces nothing in the inner join regardless, so
    // only one side pays the window
    val allPairs = small.select(col("id").as("id_a"), col("band"))
      .join(cachedRows.select(col("id").as("id_b"), col("band")), "band")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val starPairs = annotated
      .filter(col("bsize") > maxBucket && col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    allPairs.unionByName(starPairs).distinct()
  }

  /** MinHash+LSH candidate pairs from a prepared (id, sh) frame. */
  def minhashCandidatesFromShingles(shingled: DataFrame, k: Int = 8,
                                    bands: Int = 4,
                                    maxBucket: Int = defaultMaxBucket): DataFrame = {
    // single-pass shingles→band-keys native expression: an explode over
    // bandKeys(sig) would inline the signature into the generator and
    // recompute it once per band-key reference
    val bandRows = shingled.select(col("id"),
      explode(graft.functions.MinHashBands(col("sh"), k, bands)).as("band"))
    bandCandidatePairs(bandRows, maxBucket)
  }

  /** MinHash+LSH candidate pairs: explode band keys, self-join on the
    * bucket (capped), dedup (a < b). The only shuffle is on the band key.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        k: Int = 8, bands: Int = 4,
                        maxBucket: Int = defaultMaxBucket): DataFrame =
    minhashCandidatesFromShingles(withShingles(docs, idCol, textCol),
                                  k, bands, maxBucket)

  /** [[jaccardVerified]] over a prepared (id, sh) frame — the shingles
    * are referenced by BOTH the candidate generator and the verification
    * sets, so callers that already pay for them (corpus_clean) pass the
    * frame once (persisted upstream) instead of recomputing per branch.
    */
  def jaccardVerifiedFromShingles(shingled: DataFrame, threshold: Double,
                                  k: Int = 8, bands: Int = 4,
                                  maxBucket: Int = defaultMaxBucket): DataFrame = {
    val cands = minhashCandidatesFromShingles(shingled, k, bands, maxBucket)
    // shuffle-hash hint: the shingle-set side is wide (array payload) —
    // broadcasting it ships the whole corpus' shingles to every task,
    // while the candidate set is tiny; hash-join on id keeps the big
    // payload partitioned. Persisted: joined twice (id_a and id_b side).
    val sets = shingled
      .select(col("id"), array_distinct(col("sh")).as("sset"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      .hint("shuffle_hash")
    cands
      .join(sets.select(col("id").as("id_a"), col("sset").as("set_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sset").as("set_b")), "id_b")
      .withColumn("n_common",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("n_union",
        (size(col("set_a")) + size(col("set_b"))).cast("long")
          - col("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "n_union", "jaccard")
  }

  /** The production near-dup pipeline: MinHash+LSH candidate generation,
    * then exact n-gram Jaccard verification on candidates only — the
    * scale path (no blocked all-pairs). Recall for pairs at Jaccard J is
    * 1-(1-J^rows)^bands (≈0.997 at J=0.9 with 4 bands of 2).
    */
  def jaccardVerified(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double, k: Int = 8, bands: Int = 4,
                      shingleN: Int = 3): DataFrame =
    jaccardVerifiedFromShingles(withShingles(docs, idCol, textCol, shingleN),
                                threshold, k, bands)

  /** SimHash over an arbitrary feature array: d-dimensional ±1 vote per
    * feature using md5 nibbles, sign → bit, emitted as a d-char '0'/'1'
    * string. Native single-pass expression (one md5 per feature) —
    * per-row, no shuffle.
    */
  def simhashOf(features: Column, d: Int): Column =
    graft.functions.SimHashBits(features, d)

  /** SimHash of a text's whitespace tokens. NOTE: unigram-token features
    * collapse on small vocabularies (every doc looks alike) — pair
    * detection uses shingle features instead (see [[simhashPairs]]).
    */
  def simhash(text: Column, d: Int = 16): Column =
    simhashOf(TextAnalysis.tokens(text), d)

  /** SimHash near-dup pairs: candidates share at least one of `d/bandBits`
    * fingerprint bands (pigeonhole: any pair within Hamming distance
    * `bands-1` must collide on some band), then exact Hamming distance
    * verification ≤ maxHamming. Banding keeps this an equi-join — the
    * same no-all-pairs shape as MinHash LSH.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, d: Int = 64,
                   bandBits: Int = 16,
                   maxBucket: Int = defaultMaxBucket): DataFrame = {
    val nBands = d / bandBits
    // pigeonhole completeness: a pair within Hamming h can only be
    // guaranteed to share a band when h < nBands
    require(maxHamming < nBands,
      s"maxHamming=$maxHamming needs more than $nBands bands " +
        s"(use bandBits <= ${d / (maxHamming + 1)})")
    // Defaults are the classic web-dedup configuration (64-bit simhash,
    // Hamming <= 3, 4 tables of 16 bits). bandBits sizes the RANDOM
    // candidate volume — unrelated docs collide per band at ~2^-bandBits,
    // so expected collisions grow as n²/2^bandBits: at 5k docs, 8-bit
    // bands already produced 201k chance candidates vs ~800 at 16 bits
    // (2.6s -> sub-second); at corpus scale bandBits must track
    // log2(corpus) or the "candidates" become the corpus product itself.
    // Features are 3-gram shingles: unigram tokens collapse on small
    // vocabularies (411k false "near-dups" on the testdata vs 227 real).
    // persisted: the fingerprint pass (d md5s per shingle) feeds the band
    // rows AND both sides of the verification join
    val fps = withShingles(docs, idCol, textCol)
      .select(col("id"), simhashOf(col("sh"), d).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandRows = fps.select(col("id"),
      explode(array((0 until nBands).map(b =>
        concat(lit(s"$b|"),
          substring(col("fp"), b * bandBits + 1, bandBits))): _*)).as("band"))
    val hamming = (1 to d).map(j =>
        when(substring(col("fp_a"), j, 1) =!= substring(col("fp_b"), j, 1),
          1).otherwise(0))
      .reduce(_ + _).cast("long")
    // candidate id pairs first (capped, deduped — the distinct carries
    // bare ids, not fingerprints), THEN join the two fingerprints back
    // for the exact Hamming verification
    bandCandidatePairs(bandRows, maxBucket)
      .join(fps.select(col("id").as("id_a"), col("fp").as("fp_a")), "id_a")
      .join(fps.select(col("id").as("id_b"), col("fp").as("fp_b")), "id_b")
      .select(col("id_a"), col("id_b"), hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Blocked n-gram Jaccard: candidates = docs sharing a blocking key
    * (default: the min-shingle fingerprint); verification = exact Jaccard
    * over distinct shingle sets. Counts are integers → the ratio is
    * engine-independent.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   blockCol: Column, threshold: Double,
                   shingleN: Int = 3): DataFrame = {
    val prepped = docs.select(
      col(idCol).as("id"),
      blockCol.as("block"),
      array_distinct(TextAnalysis.shingles(col(textCol), shingleN))
        .as("shingle_set"))
    val l = prepped.select(col("id").as("id_a"), col("block"),
                           col("shingle_set").as("set_a"))
    val r = prepped.select(col("id").as("id_b"), col("block"),
                           col("shingle_set").as("set_b"))
    l.join(r, "block")
      .filter(col("id_a") < col("id_b"))
      .withColumn("n_common",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("n_union",
        (size(col("set_a")) + size(col("set_b"))).cast("long")
          - col("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "n_common", "n_union", "jaccard")
  }

  /** Incremental near-dup matching: flag documents of a NEW batch that
    * near-duplicate an already-ingested HISTORICAL corpus — the
    * steady-state ingest shape, where re-running the full self-join over
    * history every batch would be quadratic in corpus age.
    *
    * Only new-vs-historical candidates are generated (no new-vs-new, no
    * hist-vs-hist): the historical (id, band) rows ARE the persistent
    * index at scale — precomputed once per corpus snapshot, stored
    * bucketed by band so the candidate join is co-located; the new
    * batch pays one shingle/minhash pass over ITSELF only. Historical
    * mega-buckets (mass-duplicated boilerplate) are capped to their min
    * id — each new doc still verifies against that representative, the
    * same trade-off as [[bandCandidatePairs]].
    *
    * @return one row per flagged new document: (id, dup_of = min
    *         matching historical id, n_matches, best_jaccard). Clean new
    *         docs don't appear (callers anti-join to admit them).
    */
  def incrementalNearDups(newDocs: DataFrame, hist: DataFrame,
                          idCol: String, textCol: String, threshold: Double,
                          k: Int = 8, bands: Int = 4, shingleN: Int = 3,
                          maxBucket: Int = defaultMaxBucket): DataFrame = {
    val newSh = withShingles(newDocs, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val histSh = withShingles(hist, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bandRows(sh: DataFrame) = sh.select(col("id"),
      explode(graft.functions.MinHashBands(col("sh"), k, bands)).as("band"))
    // cap HISTORICAL buckets only (that side grows without bound); a
    // capped bucket keeps its min-id representative
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band")
    val histBands = bandRows(histSh)
      .withColumn("bsize", count(lit(1)).over(w))
      .withColumn("rep", min(col("id")).over(w))
      .filter(col("bsize") <= maxBucket || col("id") === col("rep"))
      .select(col("id").as("hist_id"), col("band"))
    val cands = bandRows(newSh)
      .join(histBands, "band")
      .select(col("id"), col("hist_id"))
      .distinct()
    val newSets = newSh
      .select(col("id"), array_distinct(col("sh")).as("set_a"))
      .hint("shuffle_hash")
    val histSets = histSh
      .select(col("id").as("hist_id"), array_distinct(col("sh")).as("set_b"))
      .hint("shuffle_hash")
    verifyIncremental(cands, newSets, histSets, threshold)
  }

  /** The shared verification tail of the incremental variants: exact
    * Jaccard on candidate pairs only, folded to one row per flagged new
    * doc.
    */
  private def verifyIncremental(cands: DataFrame, newSets: DataFrame,
                                histSets: DataFrame,
                                threshold: Double): DataFrame =
    cands
      .join(newSets, "id")
      .join(histSets, "hist_id")
      .withColumn("n_common",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("n_union",
        (size(col("set_a")) + size(col("set_b"))).cast("long")
          - col("n_common"))
      .withColumn("jaccard",
        col("n_common").cast("double") / col("n_union").cast("double"))
      .filter(col("jaccard") >= threshold)
      .groupBy("id")
      .agg(min(col("hist_id")).as("dup_of"),
           count(lit(1)).as("n_matches"),
           max(col("jaccard")).as("best_jaccard"))

  /** The persistent near-dup index rows for a corpus slice: (id, band) —
    * `bands` constant-width band keys per doc, computed in one map-side
    * pass. Written once per ingested batch and accumulated, these rows
    * are the whole candidate-generation input for every later batch, so
    * steady-state ingest never re-shingles the corpus (see
    * [[incrementalNearDupsIndexed]]).
    */
  def bandIndexOf(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 8, bands: Int = 4, shingleN: Int = 3): DataFrame =
    withShingles(docs, idCol, textCol, shingleN).select(col("id"),
      explode(graft.functions.MinHashBands(col("sh"), k, bands)).as("band"))

  /** [[incrementalNearDups]] against a PRECOMPUTED historical band index
    * — the true steady-state ingest shape. The text-taking variant
    * re-shingles the whole accumulated corpus every batch (O(corpus)
    * CPU per batch, quadratic in corpus age overall); here candidate
    * generation reads only the constant-width (id, band) index rows,
    * and the corpus text is touched solely to re-shingle the MATCHED
    * candidates (a broadcast semi-join of the small candidate id set
    * against the history — only matched rows survive the scan, only
    * they pay the shingle cost). Per-batch work is O(new batch +
    * candidates), independent of corpus age.
    *
    * `histIndex` must be (id, band) rows built by [[bandIndexOf]] with
    * the SAME k/bands/shingleN — mismatched parameters silently produce
    * disjoint band keys and zero candidates.
    *
    * @param histIndex accumulated (id, band) rows for all prior batches
    * @param hist      the corresponding (idCol, textCol) corpus rows,
    *                  read only for candidate verification
    */
  /** The band-index rows of an already-shingled frame ((id, sh) from
    * [[withShingles]]) — [[bandIndexOf]] minus the shingle pass, for
    * callers that stage the shingles once and feed several consumers
    * (the streaming ingest computes ONE staged pair per micro-batch
    * and routes it to both the flag join and the band-index sink).
    */
  def bandIndexFromShingles(sh: DataFrame, k: Int = 8,
                            bands: Int = 4): DataFrame =
    sh.select(col("id"),
      explode(graft.functions.MinHashBands(col("sh"), k, bands)).as("band"))

  def incrementalNearDupsIndexed(newDocs: DataFrame, histIndex: DataFrame,
                                 hist: DataFrame, idCol: String,
                                 textCol: String, threshold: Double,
                                 k: Int = 8, bands: Int = 4,
                                 shingleN: Int = 3,
                                 maxBucket: Int = defaultMaxBucket): DataFrame = {
    val newSh = withShingles(newDocs, idCol, textCol, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newBands = bandIndexFromShingles(newSh, k, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    incrementalNearDupsIndexedStaged(newSh, newBands, histIndex, hist,
      idCol, textCol, threshold, maxBucket, shingleN)
  }

  /** [[incrementalNearDupsIndexed]] over a caller-staged batch:
    * `newSh` = the batch's [[withShingles]] frame, `newBands` = its
    * [[bandIndexFromShingles]] rows, both persisted by the caller (they
    * are consumed more than once below). The streaming ingest entry
    * point: the SAME staged pair also feeds the band-index sink, so the
    * batch is shingled exactly once per micro-batch by construction
    * (r19 relied on CacheManager plan-dedup to collapse the sink's
    * separate [[bandIndexOf]] onto the flag path's cached frames; this
    * makes the reuse explicit). `newBands` must be built from `newSh`
    * with the SAME k/bands as the accumulated `histIndex` — mismatched
    * parameters silently produce disjoint band keys and zero candidates.
    */
  def incrementalNearDupsIndexedStaged(newSh: DataFrame, newBands: DataFrame,
                                       histIndex: DataFrame, hist: DataFrame,
                                       idCol: String, textCol: String,
                                       threshold: Double,
                                       maxBucket: Int = defaultMaxBucket,
                                       shingleN: Int = 3): DataFrame = {
    // prune the history index to bands the BATCH actually holds before
    // anything else: the batch's distinct band set is bounded by
    // batch×bands (broadcastable by construction), and every history row
    // outside it can produce no candidate. Without this the bucket-cap
    // window below shuffles the FULL O(history) index every batch —
    // measured as the dominant per-batch growth term in SCALECURVE §8.
    // (At 100 TB the index is additionally bucketed/partitioned by band,
    // so this semi-join prunes file scans, not just shuffle rows.)
    val batchBandSet = broadcast(newBands.select("band").distinct())
    // cap HISTORICAL buckets to their min-id representative — same
    // trade as the text variant; per-band row sets are unchanged by the
    // semi-join (it keeps whole bands), so the cap decision is identical
    val w = org.apache.spark.sql.expressions.Window.partitionBy("band")
    val histBands = histIndex.select(col("id"), col("band"))
      .join(batchBandSet, Seq("band"), "left_semi")
      .withColumn("bsize", count(lit(1)).over(w))
      .withColumn("rep", min(col("id")).over(w))
      .filter(col("bsize") <= maxBucket || col("id") === col("rep"))
      .select(col("id").as("hist_id"), col("band"))
    // persisted: consumed twice (the verification join and the matched-
    // id broadcast below) — without it the band join re-runs per branch
    val cands = newBands
      .join(histBands, "band")
      .select(col("id"), col("hist_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val newSets = newSh
      .select(col("id"), array_distinct(col("sh")).as("set_a"))
      .hint("shuffle_hash")
    // shingle ONLY the matched history docs: broadcast the candidate id
    // set (small by construction — band-capped) into a semi-join, so
    // the history scan streams past unmatched rows without shuffling
    // or shingling them
    val matchedIds = broadcast(
      cands.select(col("hist_id").as(idCol)).distinct())
    val histSets = withShingles(hist.join(matchedIds, idCol),
        idCol, textCol, shingleN)
      .select(col("id").as("hist_id"), array_distinct(col("sh")).as("set_b"))
      .hint("shuffle_hash")
    verifyIncremental(cands, newSets, histSets, threshold)
  }

  /** Cross-document repeated-SPAN detection (the substring-level dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022 — there with suffix arrays; here with fixed-width
    * token windows, the Spark-native approximation): every w-token
    * window of every document is hashed, and a span that appears in more
    * than one document is flagged as duplicated. Unlike whole-doc or
    * paragraph dedup this catches boilerplate embedded mid-document
    * (license headers, navigation chrome, quoted tweets).
    *
    * Returns per-doc (doc_id, n_spans, n_dup_spans): total windows and
    * windows whose hash occurs in ≥2 distinct docs.
    *
    * Scale design: stride-1 windows emit ~1 row per token — the honest
    * cost of substring dedup (the suffix-array version pays the same
    * linear blow-up). The exploded stream carries (hash, doc_id) ONLY —
    * never the span text — so the shuffle payload is constant-width;
    * the span-population aggregate is partial (map-side combine on the
    * hash), and the dup-hash set rejoins the per-doc stream on the
    * hash key. For 100 TB corpora raise the stride to w/2 (any
    * duplicated region ≥ 2w tokens still collides on some window) to
    * cut the row blow-up in half without losing long-span recall.
    */
  def spanStats(docs: DataFrame, idCol: String, textCol: String,
                w: Int = 8, sample: Int = 1): DataFrame = {
    require(sample >= 1, s"sample must be >= 1, got $sample")
    val toks = graft.ops.Partitioning.ensureParallelism(
        docs.select(col(idCol).as("doc_id"), col(textCol).as("t")))
      .select(col("doc_id"), TextAnalysis.tokens(col("t")).as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
    // (doc_id, span_hash) — one row per window; hash only, text dropped
    // before anything shuffles. `sample` is the scale knob, and it is
    // CONTENT-defined (winnowing-style: keep windows whose hash ≡ 0 mod
    // sample), not positional — a positional stride samples a different
    // phase of a shared span in each document and misses the collision;
    // hash selection picks the SAME windows of a shared span everywhere
    // it occurs. Shuffle volume drops ~sample×, map-side; a shared
    // region with k internal windows is missed with prob (1-1/sample)^k.
    // n_spans/n_dup_spans then count SELECTED windows; a doc whose
    // selected set is empty still emits (0, 0) — the row set is the
    // docs with >= w tokens, independent of the sampling knob.
    val eligible = toks.filter(col("n") >= w)
    val allSpans = eligible
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), col("n") - (w - 1)),
          i => md5(array_join(slice(col("toks"), i, lit(w)), " "))))
          .as("h"))
    // Cache ownership: persisted for the two consumers below (the
    // dup-hash aggregate and the per-doc rejoin); the entry lives for
    // the session — CacheManager dedups repeat calls over the same
    // corpus, and callers that need the memory back can
    // spark.catalog.clearCache() between corpora (same stance as
    // Ivf.search's inverted lists).
    val spans =
      (if (sample == 1) allSpans
       else allSpans.filter(
         conv(substring(col("h"), 1, 4), 16, 10) % sample === 0))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dupHashes = spans.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") > 1)
      .select(col("h"), lit(1).as("is_dup"))
    val perDoc = spans.join(dupHashes, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
           count(col("is_dup")).as("n_dup_spans"))
    // Rejoin to the eligible docs so sampling never drops a doc from
    // the output (with sample > 1 a doc's selected window set can be
    // empty). At sample=1 every eligible doc has >= 1 window, so the
    // rejoin would be an identity — skip it to keep the unsampled
    // plan (the registry path) a single pass over the tokens.
    if (sample == 1) perDoc
    else eligible.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
  }
}
