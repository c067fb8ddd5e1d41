package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB training-data pipelines.
  *
  * - exact: hash-groupBy on content (one shuffle on the content hash — never
  *   on the full text);
  * - MinHash + LSH banding: near-dup candidate generation whose cost is
  *   O(n · bands) instead of O(n²) — the only pairwise work happens inside
  *   LSH buckets, then candidates are verified with exact Jaccard;
  * - SimHash: 64-bit fingerprints with Hamming-ball lookup via block keys.
  *
  * Everything is pure column expressions + joins: no UDFs, no driver-side
  * loops, deterministic under any partitioning.
  */
object Dedup {

  /** Exact dedup: deterministic keep-lowest-id per identical content.
    * (The reference's dropDuplicates-on-id, Glue_tranformation_json_parquet
    * .py:92,116,137,183, made order-independent.) Grouping on xxhash64 of
    * the content keeps shuffle rows narrow at scale; the full column is
    * retained only to resolve (vanishingly rare) hash collisions.
    */
  def exactDedup(df: DataFrame, contentCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(contentCol)), col(contentCol))
      .orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  import graft.functions.NativeExpressions.Prime

  /** Cap on the hot-shingle set [[ngramJaccardPairs]] collects to the
    * driver (4M entries ≈ 6 MB Bloom at fpp 0.01 — broadcastable). df ≥
    * maxBucket already bounds the set at occurrences/maxBucket; this cap
    * is the adversarial-corpus backstop. Shingles past the cap stay
    * "rare" — pruning weakens, recall is unaffected.
    */
  private val MaxHotShingles = 1 << 22

  /** Demotion threshold for the SELF-JOIN pair generators' rare-first
    * order (the serve paths keep maxBucket: their probe side is a small
    * batch, so candidate volume is already batch-bounded and the extra
    * hot-set jobs are pure overhead there). Semantics-free — any
    * consistent order is recall-1 and the exact verify fixes the output;
    * this only bounds df_post(g) for shingles that can sit in a prefix.
    */
  private val HotDemoteCutoff = 128

  /** rotate-left by 5 — bitwise only, safe under ANSI arithmetic. */
  private def rotl5(c: Column): Column =
    call_function("shiftleft", c, lit(5))
      .bitwiseOR(call_function("shiftrightunsigned", c, lit(59)))

  /** Hashed word-n-gram shingles straight from per-token hashes — avoids
    * materializing shingle *strings* entirely (string concat dominated the
    * original profile 8:1 over the hash math). `th` must be a materialized
    * array<long> column of per-token hashes. Combine is order-sensitive
    * rotate-XOR over the full 64-bit space (no ANSI overflow, ~zero
    * within-document birthday collisions).
    */
  def hashedShingles(th: Column, n: Int): Column =
    when(size(th) >= n,
      transform(sequence(lit(1), size(th) - (n - 1)),
        i => (0 until n).foldLeft(lit(0L): Column)((acc, j) =>
          rotl5(acc).bitwiseXOR(element_at(th, i + j)))))
      .otherwise(array(aggregate(th, lit(0L),
        (acc, x) => rotl5(acc).bitwiseXOR(x))))

  /** MinHash signature (array<bigint> of length numPerm) over pre-hashed
    * shingles. h_i(x) = (a_i * x + b_i) mod p with x < 2^31: keeps a_i * x
    * within Long range (exact math, no wrap), so signatures are identical
    * on any engine. The (a_i, b_i) family is the native kernels'
    * ([[graft.functions.NativeExpressions.minhashPerms]]).
    */
  def minhashSignature(hashedShingles: Column, numPerm: Int = 64): Column = {
    val (as, bs) = graft.functions.NativeExpressions.minhashPerms(numPerm)
    val sigs = as.indices.map { i =>
      array_min(transform(hashedShingles, x => pmod(x * as(i) + bs(i), lit(Prime))))
    }
    array(sigs: _*)
  }

  /** LSH band keys: (band index, hash of the signature rows in that band).
    * Two docs share a band key iff their signature agrees on all `rowsPerBand`
    * positions of that band.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws("_",
          (0 until rowsPerBand).map(r =>
            element_at(sig, b * rowsPerBand + r + 1)): _*)).as("bh"))
    }: _*)

  /** Exact Jaccard of the distinct-element sets of two arrays (inputs need
    * not be pre-deduplicated: array_intersect/array_union both dedup).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(1.0))
  }

  /** MinHash-LSH near-duplicate pairs, verified with exact Jaccard.
    *
    * Plan shape at scale: shingle+sign map (narrow) → explode bands (×bands)
    * → self-equi-join on band key (one shuffle, bucket-local pairs only) →
    * distinct pairs → join back signatures/shingles (shuffle on doc id) →
    * exact verify.
    *
    * Skewed buckets (boilerplate docs — thousands of near-identical pages
    * landing in ONE band bucket) are the known hazard: a plain self-join
    * puts that bucket's O(n²) pair generation on a single task. Buckets
    * larger than `maxBucket` are therefore split deterministically into
    * m = ⌈n/maxBucket⌉ blocks by a secondary hash of the id, and the
    * self-join runs per block-pair cell (i ≤ j) of the triangle
    * decomposition — every within-bucket pair is still produced exactly
    * once (as (least, greatest)), but the work spreads over m(m+1)/2
    * tasks of ≤ maxBucket² pairs each. For buckets ≤ maxBucket (m = 1)
    * the plan degenerates to the original single-cell join. AQE skew-join
    * remains on as a second line of defense.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, maxBucket: Int = 1024): DataFrame = {
    val rowsPerBand = numPerm / bands
    val withShingles = shingleSigFrame(docs, idCol, textCol, shingleSize, numPerm)
    // read 3× (banding + both sides of the verify join): ONE shared id
    // shuffle replaces the r6 persist (which outlived the returned plan
    // — the "library callers leak storage" defect). The shingle+sign
    // kernel runs once per action; consumers re-shuffle the compact
    // (id, sh, sig) rows as their joins require (the freeze erases
    // partitioning metadata). See [[sharedShuffle]].
    val frozen = sharedShuffle(withShingles, col("id"))
    val banded = frozen
      .select(col("id"), explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
    val candidates = bucketPairs(banded, maxBucket)
    val sh = frozen.select(col("id"), col("sh"))
    exactJaccardVerify(candidates, sh, sh, "a", "b", threshold)
  }

  /** The exact set-Jaccard verify every Jaccard pair generator ends in:
    * joins the (id, sh) shingle arrays of `left` and `right` onto the
    * (id_`l`, id_`r`) `candidates`, takes |A∩B| in one allocation-free
    * sorted-merge pass ([[graft.functions.SortedLongOverlap]] — the
    * arrays are sorted-distinct by the shingle-set contract) and
    * |A∪B| = |A| + |B| − |A∩B|, and keeps the pairs at or above
    * `threshold`. Returns (id_`l`, id_`r`, jaccard rounded to 6dp); an
    * empty union scores 1.0.
    */
  private def exactJaccardVerify(candidates: DataFrame, left: DataFrame,
      right: DataFrame, l: String, r: String, threshold: Double): DataFrame = {
    def side(f: DataFrame, s: String) =
      f.withColumnRenamed("id", s"id_$s").withColumnRenamed("sh", s"sh_$s")
    candidates
      .join(side(left, l), s"id_$l")
      .join(side(right, r), s"id_$r")
      .withColumn("o", graft.functions.NativeExpressions
        .sorted_long_overlap(col(s"sh_$l"), col(s"sh_$r")))
      .withColumn("u", size(col(s"sh_$l")).cast("long") +
        size(col(s"sh_$r")).cast("long") - col("o"))
      .withColumn("jaccard",
        when(col("u") > 0, col("o").cast("double") / col("u")).otherwise(lit(1.0)))
      .filter(col("jaccard") >= threshold)
      .select(col(s"id_$l"), col(s"id_$r"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Shared MinHash kernel frame: (id, sh, sig) where `sh` is the
    * sorted-distinct hashed-shingle SET and `sig` the numPerm-wide native
    * signature. Sorted-distinct is free of semantic consequence for the
    * signature (a min over elements — duplicate- and order-insensitive),
    * keeps duplicates out of the 64-perm kernel, and lets every verify
    * stage run the allocation-free [[graft.functions.SortedLongOverlap]]
    * merge instead of per-pair hash sets.
    */
  private def shingleSigFrame(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numPerm: Int): DataFrame = docs
    // fused codegen kernels (round 16, guide §4): tokenize+hash+shingle+
    // sort+dedup in one compiled pass (see [[shingleSetFrame]]), then the
    // signature straight off the raw shingle hashes with the pmod folded
    // into the perm loop — removes the last interpreted HOF
    // (`transform(sh, pmod)`) from the minhash kernel. Bit-identical to
    // the HOF formulation (NativeExpressionsSpec parity).
    .select(col(idCol).as("id"),
      graft.functions.NativeExpressions.xxhash_shingle_set(
        split(col(textCol), "\\s+"), shingleSize).as("sh"))
    .withColumn("sig",
      graft.functions.NativeExpressions.minhash_signature_mod(
        col("sh"), numPerm))

  /** Cross-corpus near-duplicate pairs: every (id_l, id_r) with
    * J(shingles_l, shingles_r) ≥ threshold where the sides come from TWO
    * frames — the incremental-ingestion shape (score a new crawl batch
    * against the existing training corpus) where a self-join over
    * union(corpus, batch) would re-pair the corpus against itself,
    * O(corpus²) wasted work when the corpus dwarfs every batch.
    *
    * Same LSH machinery as [[minhashDupPairs]] (shared kernel, band
    * explode, bucket join, exact merge-pass verify), but candidate
    * generation joins LEFT bands to RIGHT bands — no within-side pairs
    * are ever formed. Skewed buckets split by RECTANGLE decomposition
    * ([[bucketPairsAcross]]): a boilerplate bucket hot on both sides
    * becomes m_l·m_r bounded tasks instead of one n_l·n_r straggler.
    * Returns (id_l, id_r, jaccard); id spaces need not be disjoint —
    * a doc appearing on both sides pairs with itself at jaccard 1.
    */
  def minhashDupPairsAcross(left: DataFrame, right: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, maxBucket: Int = 1024): DataFrame =
    dupPairsAcrossFrames(
      sharedShuffle(
        shingleSigFrame(left, idCol, textCol, shingleSize, numPerm), col("id")),
      sharedShuffle(
        shingleSigFrame(right, idCol, textCol, shingleSize, numPerm), col("id")),
      numPerm, bands, threshold, maxBucket)

  /** The corpus-side dedup index as a DataFrame — (id, sh: sorted distinct
    * shingle hashes, sig: MinHash signature), exactly the payload
    * [[minhashDupPairsAcross]] derives from raw text on every call. At
    * steady state a 100 TB corpus persists THIS as a table (parquet,
    * ideally bucketed on id) and each ingestion batch joins against it —
    * the kernel pass over corpus text is paid once at index-build/append
    * time, not once per batch. Schema is the public contract:
    * [[minhashDupPairsAgainstIndex]] accepts any frame with these three
    * columns, read from wherever the index lives.
    */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 64): DataFrame =
    shingleSigFrame(docs, idCol, textCol, shingleSize, numPerm)

  /** Incremental index maintenance: fold a new batch's signatures into a
    * persisted [[minhashIndex]] WITHOUT rebuilding — the text kernel runs
    * over the batch only, never the corpus. On id collision the batch row
    * wins (a re-ingested doc replaces its stale signature), so
    * merge(index(corpusOld), batch) ≡ index(corpusOld ∖ batchIds ∪ batch)
    * — and for disjoint ids, bit-for-bit ≡ index(corpus ∪ batch), which
    * q136 certifies through a parquet round trip and
    * DedupLifecycleSpec pins frame-exactly.
    *
    * Scale shape: the collision anti-join shuffles 8-byte ids only (or
    * broadcasts when the batch is small — the steady-state case); sh/sig
    * payloads ride untouched. At 100 TB the persisted index is bucketed
    * by id, so the anti-join and the append are both bucket-local, and
    * the rewrite touches only buckets containing batch ids.
    */
  def minhashIndexMerge(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 64): DataFrame = {
    val newSigs = shingleSigFrame(batch, idCol, textCol, shingleSize, numPerm)
    batchWins(index, newSigs, "id", newSigs)
  }

  /** The batch-wins merge every incremental index maintenance path rests
    * on (the q136 contract): drop the `index` rows whose `idCol` is among
    * the first column of `ids`, then append `batch` (`index` is read in
    * `batch`'s columns, so the append lines up). `ids` is the batch's
    * document ids — usually `batch` itself; a per-posting table passes
    * its documents, so a re-ingested document's stale rows all vanish,
    * even for terms or shingles its new text no longer has. The anti-join
    * ships 8-byte ids only; payloads ride untouched. Hence
    * merge(build(A), B) ≡ build((A ∖ ids(B)) ∪ B) whenever a row depends
    * on its own document alone.
    */
  private[scale] def batchWins(index: DataFrame, batch: DataFrame,
      idCol: String, ids: DataFrame): DataFrame =
    index.select(batch.columns.toIndexedSeq.map(col): _*)
      .join(ids.select(col(ids.columns.head).as("__bid")),
        col(idCol) === col("__bid"), "left_anti")
      .union(batch)

  /** Incremental near-dup scoring of a batch against a PERSISTED corpus
    * index ([[minhashIndex]] schema): identical semantics and parameters
    * as [[minhashDupPairsAcross]] with the corpus on the left — q131
    * hash-certifies that the persisted-index path reproduces the
    * recompute-from-text path bit for bit. `numPerm`/`shingleSize` must
    * match the values the index was built with (the signature length is
    * checked; the shingle size cannot be, so it is part of the index
    * table's contract).
    */
  def minhashDupPairsAgainstIndex(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, maxBucket: Int = 1024): DataFrame = {
    // the length check the docstring promises: an index built with a
    // different numPerm would otherwise yield degenerate band keys
    // (element_at past the sig end is null) and silently wrong candidates
    val checkedSig = when(size(col("sig")) === numPerm, col("sig"))
      .otherwise(raise_error(concat(
        lit(s"minhash index signature length != numPerm=$numPerm " +
          "(index built with different parameters?): got "),
        size(col("sig")).cast("string"))))
      .as("sig")
    dupPairsAcrossFrames(
      sharedShuffle(index.select(col("id"), col("sh"), checkedSig), col("id")),
      sharedShuffle(
        shingleSigFrame(batch, idCol, textCol, shingleSize, numPerm), col("id")),
      numPerm, bands, threshold, maxBucket)
  }

  private def dupPairsAcrossFrames(fl: DataFrame, fr: DataFrame,
      numPerm: Int, bands: Int, threshold: Double,
      maxBucket: Int): DataFrame = {
    val rowsPerBand = numPerm / bands
    val bl = fl.select(col("id"),
      explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
    val br = fr.select(col("id"),
      explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
    exactJaccardVerify(bucketPairsAcross(bl, br, maxBucket),
      fl.select(col("id"), col("sh")), fr.select(col("id"), col("sh")),
      "l", "r", threshold)
  }

  /** Distinct cross-side (id_l, id_r) pairs sharing a bucket key `bk`,
    * the two-frame sibling of [[bucketPairs]]: within a bucket every
    * left row pairs with every right row (full rectangle — there is no
    * i < j symmetry to halve, unlike the self-join's triangle). Buckets
    * whose side exceeds `maxBucket` rows split into m_l/m_r blocks by a
    * secondary id hash and join per (i, j) cell — m_l·m_r tasks of
    * ≤ maxBucket² pairs; every cross pair meets in exactly ONE cell
    * (cell (blk_l(a), blk_r(b)) — both block ids are functions of the
    * row alone). Buckets present on only one side pair with nothing and
    * die in the inner sizes join before any replication.
    */
  private def bucketPairsAcross(l: DataFrame, r: DataFrame,
      maxBucket: Int): DataFrame = {
    val l2 = sharedShuffle(l, col("bk"))
    val r2 = sharedShuffle(r, col("bk"))
    val sizes = l2.groupBy(col("bk")).agg(count(lit(1)).as("n_l"))
      .join(r2.groupBy(col("bk")).agg(count(lit(1)).as("n_r")), "bk")
      .withColumn("m_l", floor((col("n_l") + (maxBucket - 1)) / maxBucket))
      .withColumn("m_r", floor((col("n_r") + (maxBucket - 1)) / maxBucket))
      .select(col("bk"), col("m_l"), col("m_r"))
    val lt = l2.join(sizes, "bk")
      .withColumn("blk", pmod(xxhash64(col("id")), col("m_l")))
      .withColumn("cell", explode(transform(sequence(lit(0L), col("m_r") - 1),
        j => shiftleft(col("blk"), 31).bitwiseOR(j))))
      .select(col("bk"), col("cell"), col("id").as("id_l"))
    val rt = r2.join(sizes, "bk")
      .withColumn("blk", pmod(xxhash64(col("id")), col("m_r")))
      .withColumn("cell", explode(transform(sequence(lit(0L), col("m_l") - 1),
        i => shiftleft(i, 31).bitwiseOR(col("blk")))))
      .select(col("bk"), col("cell"), col("id").as("id_r"))
    lt.join(rt, Seq("bk", "cell"))
      .select(col("id_l"), col("id_r"))
      .distinct()
  }

  /** EXACT n-gram Jaccard similarity self-join via prefix filtering
    * (AllPairs-style) — the deterministic sibling of [[minhashDupPairs]]:
    * same output contract ((id_a, id_b, jaccard) with id_a < id_b,
    * jaccard >= threshold), but recall 1 by theorem instead of by LSH
    * probability, and no signature computation at all.
    *
    * Prefix filter: order each document's distinct shingle-hash set under
    * ONE global total order and index only the first |S| − ⌈t·|S|⌉ + 1
    * elements. For J(A,B) ≥ t the intersection has ≥ ⌈t·max(|A|,|B|)⌉
    * elements, so the order-smallest common element provably sits inside
    * BOTH prefixes — a self-equi-join on prefix elements finds every
    * qualifying pair, for ANY consistent total order. ⌈t·|S|⌉ is computed
    * in pure integer arithmetic (t as a rational over 10⁶): a float
    * `ceil` that rounds 14.0 up to 15 would silently shorten a prefix and
    * lose recall.
    *
    * The order we use is (hot-flag, hash) rare-first — PPJoin's
    * document-frequency idea at broadcast cost: shingles whose corpus df
    * ≥ maxBucket are "hot" (collected into a driver Bloom filter, df ≥
    * maxBucket caps the hot set at occurrences/maxBucket entries, further
    * capped at [[MaxHotShingles]]) and sort AFTER every rare shingle, so
    * boilerplate shingles leave the prefixes of any document that has at
    * least prefixLen rare shingles. Measured (SCALING.md, sf0.1, 5 000
    * docs with a shared 30-token header+footer): plain hash order put all
    * 5 000 docs in one prefix bucket — 6.5·10⁷ candidate pairs, 57 s;
    * frequency-aware order: 2.1·10⁵ pairs, max bucket 9. Bloom false
    * positives just demote a rare shingle to the hot tier of the SAME
    * total order — pruning loses a little, recall is untouched. Corpora
    * with no hot shingle skip the reorder entirely (nHot = 0 → plain
    * hash-order slice, zero per-row overhead).
    *
    * Plan shape at scale: shingle map (narrow) → df aggregate over the
    * shared shuffle (compact longs; ONLY shingles with df ≥ maxBucket
    * survive to the driver) → prefix explode (≤ |S| keys/doc, ~(1−t)·|S|
    * on average) → bucketed self-join with the same triangle split every
    * other pair generator uses (residual hot buckets — e.g. docs that are
    * ALL boilerplate — remain its job) → verify join back on id → exact
    * Jaccard filter. Every shuffle carries ids + fixed-width longs;
    * document text never moves. PPJoin's length and positional filters
    * run at the pair stage (inline comments below), and the verify is a
    * sorted-merge overlap kernel — see [[graft.functions.SortedLongOverlap]].
    */
  /** (id, sh) sorted-distinct shingle-hash frame — the text kernel the
    * whole exact-pair family starts from, and the persisted schema of
    * [[jaccardIndex]]. `sh` is a pure per-document function (tokens →
    * xxhash64 → n-gram hash combine → distinct → ascending sort) with
    * NO corpus-dependent state, which is what makes the index's
    * merge ≡ rebuild guarantee exact rather than statistical.
    */
  /** `par = true` floors input parallelism before the kernel
    * ([[graft.core.Par.ensure]]) — a win where the downstream runs FEW
    * actions over the frame (q85's pair join: measured 8.9 → 7.5 s);
    * callers that fire several eager plan-build jobs over the frozen
    * frame (containmentCore's rare-first stats) or write it as a
    * persisted layout re-pay the extra exchange per action and measure
    * net-slower — they pass false.
    */
  private def shingleSetFrame(docs: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, par: Boolean = false): DataFrame =
    // fused codegen kernel (round 16, guide §4): the split feeds ONE
    // compiled pass (skip empties → xxhash64 → rotl5-XOR window →
    // sort+dedup) replacing the filter/transform/transform/array_distinct
    // chain — every HOF in it was CodegenFallback, interpreted per row in
    // the hottest kernel of the exact-pair family. Bit-identical
    // (NativeExpressionsSpec parity vs the HOF reference).
    (if (par) graft.core.Par.ensure(docs) else docs)
      .select(col(idCol).as("id"),
        graft.functions.NativeExpressions.xxhash_shingle_set(
          split(col(textCol), "\\s+"), shingleSize).as("sh"))

  /** Persisted exact-pair index: (id, sh) with sh the sorted distinct
    * shingle hashes — the amortization the q85/q147 exact-pair family
    * was missing. Serving ([[jaccardPairsAgainstIndex]] /
    * [[containmentPairsAgainstIndex]]) reads these arrays instead of
    * re-running tokenize+xxhash+shingle over the corpus on every batch;
    * only prefix-posting construction (an explode over the persisted
    * arrays) remains per-serve, because the rare-first order is a
    * corpus+batch statistic, not per-document state.
    *
    * `shingleSize` cannot be validated from the stored arrays, so it is
    * part of the index table's contract (the [[minhashIndex]] note).
    * At 100 TB the index is bucketed by id so [[jaccardIndexMerge]]'s
    * anti-join and the append are bucket-local.
    */
  def jaccardIndex(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame =
    shingleSetFrame(docs, idCol, textCol, shingleSize)

  /** Incremental maintenance of a persisted [[jaccardIndex]]: fold a
    * batch in WITHOUT re-reading the corpus — the text kernel runs over
    * the batch only. Batch wins on id collision (a re-ingested document
    * replaces its stale shingles), so
    * merge(index(A), B) ≡ index((A ∖ ids(B)) ∪ B) EXACTLY — per-doc
    * rows are bit-equal to a from-scratch build because `sh` carries no
    * corpus state (unlike e.g. a df-ordered posting list, which is why
    * the order is serve-time, not persisted). The anti-join ships
    * 8-byte ids only; sh payloads ride untouched.
    */
  def jaccardIndexMerge(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3): DataFrame = {
    val newSh = shingleSetFrame(batch, idCol, textCol, shingleSize)
    batchWins(index, newSh, "id", newSh)
  }

  /** Exact symmetric Jaccard pairs of a text batch against a persisted
    * [[jaccardIndex]] — [[ngramJaccardPairs]]'s serve path: same
    * recall-1 AllPairs prefix theorem, same exact sorted-merge verify,
    * but the corpus side's shingle arrays come from the index (never
    * re-tokenized; DedupLifecycleSpec witnesses this by tampering the
    * persisted arrays and watching the scores move — the q148 pattern).
    *
    * Candidates: both sides post (n − ⌈t·n⌉ + 1)-element prefixes under
    * ONE serve-time rare-first order (hot set = df over index ∪ batch
    * arrays — an explode+count over persisted longs, no text kernel);
    * the minimal common element of any qualifying pair lies in BOTH
    * prefixes, so the equi-join on shingle hash is recall-1, and the
    * PPJoin length + positional bounds prune before any array is
    * rejoined. Hot posting hashes are plain equi-join keys — AQE's skew
    * join splits them (the [[containmentPairs]] shape; there is no
    * self-pair triangle here, the frames are distinct).
    *
    * Output (id_l = index side, id_r = batch side, jaccard); a batch
    * doc also present in the index pairs with itself at 1.0 — the q136
    * convention that lets one hash-match certify "nothing lost, nothing
    * duplicated" through a merge.
    */
  def jaccardPairsAgainstIndex(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 3,
      threshold: Double = 0.8, maxBucket: Int = 1024): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val tNum = math.floor(threshold * 1e6).toLong
    val tDen = 1000000L
    val idx = sharedShuffle(index.select(col("id"), col("sh")), col("id"),
      pinned = false)
    val bat = sharedShuffle(
      shingleSetFrame(batch, idCol, textCol, shingleSize), col("id"),
      pinned = false)
    val ordered = rareFirstOrder(
      idx.select(col("sh")).unionAll(bat.select(col("sh"))), maxBucket)
    val n = size(col("sh")).cast("long")
    val ceilTn = call_function("div", n * tNum + (tDen - 1), lit(tDen))
    val prefixLen = (n - ceilTn + 1).cast("int")
    def pref(f: DataFrame, side: String): DataFrame = f
      .select(col("id").as(s"id_$side"), n.as(s"n_$side"),
        posexplode(slice(ordered, lit(1), greatest(prefixLen, lit(0)))))
      .select(col(s"id_$side"), col(s"n_$side"), col("col").as("g"),
        col("pos").cast("long").as(s"p_$side"))
    // same two recall-safe integer filters as [[ngramJaccardPairs]]:
    // length pre-aggregate, positional (packed e* = lex-min (p_l, p_r))
    // post-aggregate
    val oMin = call_function("div",
      (col("na") + col("nb")) * tNum + lit(tNum + tDen - 1),
      lit(tNum + tDen))
    val candidates = pref(idx, "l").join(pref(bat, "r"), "g")
      .filter(greatest(col("n_l"), col("n_r")) * tNum <=
        least(col("n_l"), col("n_r")) * tDen)
      .groupBy(col("id_l"), col("id_r"))
      .agg(min(shiftleft(col("p_l"), 31).bitwiseOR(col("p_r"))).as("pp"),
        min(col("n_l")).as("na"), min(col("n_r")).as("nb"))
      .filter(least(col("na") - shiftright(col("pp"), 31),
        col("nb") - col("pp").bitwiseAND(lit((1L << 31) - 1))) >= oMin)
      .select(col("id_l"), col("id_r"))
    // frozen for containmentCore's double-broadcast reason
    exactJaccardVerify(sharedShuffle(candidates, col("id_l"), pinned = false),
      idx, bat, "l", "r", threshold)
  }

  /** Directed containment of a text batch against a persisted
    * [[jaccardIndex]] — "is this new document a quote/copy of something
    * already in the corpus", the dedup-on-ingest direction of
    * [[containmentPairs]]. The batch probes (posts its one-sided
    * prefixes); the index is the container side — its shingles come
    * from the persisted arrays, never from text, which is
    * exactly the half of q147's cost an index can amortize (the
    * container side is the corpus-sized posting). Semantics, filters
    * and verify are [[containmentPairs]]'s, batch→index orientation:
    * (id_a = batch probe, id_b = index container, containment ≥ t).
    *
    * Serving is BATCH-BOUNDED, not corpus-linear: a Bloom filter over
    * the batch's prefix shingle hashes (batch-sized, broadcast) prunes
    * the container-side posting explode BEFORE its exchange, so only
    * postings that can match some probe prefix (plus the fpp share)
    * ever shuffle — the q77
    * [[graft.functions.NativeExpressions.BloomMightContainLong]] move.
    * Recall 1 is preserved: every qualifying pair's candidate evidence
    * is a common element of the probe's PREFIX (the one-sided prefix
    * theorem), and a Bloom has no false negatives on exactly that set.
    * The container arrays are still SCANNED once per serve (a narrow,
    * shuffle-free explode+filter — unavoidable without an inverted
    * posting store), but nothing corpus-sized moves or joins.
    *
    * Self pairs: a batch doc whose id is ALSO in the index pairs with
    * its indexed version (containment of the batch's shingles in the
    * stored arrays; 1.0 when the text is unchanged) — the
    * [[jaccardPairsAgainstIndex]] / q136 convention, so a re-ingest
    * against a stale index is visible rather than silently excluded.
    * Only the direct self-join form ([[containmentPairs]]) drops
    * id_a = id_b, where a self pair is vacuous.
    */
  def containmentPairsAgainstIndex(index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 2,
      threshold: Double = 0.8, maxBucket: Int = 1024): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val tNum = math.floor(threshold * 1e6).toLong
    val tDen = 1000000L
    val idx = sharedShuffle(index.select(col("id"), col("sh")), col("id"),
      pinned = false)
    val bat = sharedShuffle(
      shingleSetFrame(batch, idCol, textCol, shingleSize), col("id"),
      pinned = false)
    // Bloom over ALL batch shingles (batch-sized, broadcast): scopes the
    // serve-time rare-first df aggregate so its exchange carries only
    // batch-relevant hashes — without it, the hot-order computation
    // alone re-shuffles every distinct corpus shingle per serve. The
    // tighter prefix-only Bloom inside containmentCore then bounds the
    // posting join itself.
    val batG = bat.select(explode(col("sh")).as("g"))
    val nBatG = batG.count()
    val batBloom = bat.sparkSession.sparkContext.broadcast(
      batG.stat.bloomFilter("g", math.max(nBatG, 1L), 0.001))
    val ordered = rareFirstOrder(
      idx.select(col("sh")).unionAll(bat.select(col("sh"))), maxBucket,
      candidates = Some(batBloom))
    containmentCore(bat, idx, ordered, tNum, tDen, threshold,
      excludeSelfPairs = false, bloomBoundPostings = true)
  }

  /** Inverted posting store over a [[jaccardIndex]]: one row per
    * (container doc, shingle hash) — (id_b, nb, g, bucket) with
    * bucket = pmod(g, buckets) — meant to be written
    * `.write.partitionBy("bucket")` so a serve reads ONLY the
    * partitions whose bucket some batch shingle lands in. This is the
    * store [[containmentPairsAgainstIndex]]'s scaladoc calls
    * "unavoidable without an inverted posting store": that path still
    * SCANS every persisted array per serve (narrow and Bloom-pruned,
    * but corpus-sized I/O); against this store, serve I/O is bounded by
    * the BATCH's shingle buckets. Size `buckets` ∝ corpus (a layout
    * decision, like shuffle partitions) so each partition stays
    * constant-sized as the corpus grows — a fixed batch then touches a
    * fixed number of constant-sized partitions: serve cost ~O(batch),
    * decade exponent ~0 on corpus size.
    *
    * Rows carry no corpus-global state (nb is per-doc), so the store
    * composes with the batch-wins merge ([[containmentPostingStoreMerge]])
    * exactly: merge(store(A), B) ≡ store((A ∖ ids(B)) ∪ B) row for row.
    * `buckets` and the index's shingleSize are part of the store's
    * contract (the [[minhashIndex]] note).
    */
  def containmentPostingStore(index: DataFrame, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    // Freeze sh through one id exchange BEFORE the explode: the posting
    // projection reads sh twice (size + generator), and when the caller
    // hands an UNMATERIALIZED index expression (jaccardIndex inline),
    // CollapseProject re-evaluates the whole tokenize+hash+shingle HOF
    // chain per EXPLODED ELEMENT for the size() — interpreted HOFs don't
    // CSE (the q58/q74 lesson; measured 5x on the q217 build). For a
    // parquet-read index this adds one index-sized exchange, which the
    // partitionBy(bucket) layout write re-shuffles anyway.
    val frozen = sharedShuffle(index.select(col("id"), col("sh")), col("id"),
      pinned = false)
    frozen.select(col("id").as("id_b"),
        size(col("sh")).cast("long").as("nb"), explode(col("sh")).as("g"))
      .withColumn("bucket", pmod(col("g"), lit(buckets.toLong)).cast("int"))
  }

  /** Batch-wins maintenance of a [[containmentPostingStore]]: drop every
    * posting of a re-ingested id (by-doc anti-join — a re-ingested doc's
    * old postings must vanish even for shingles its new text no longer
    * contains, the [[graft.scale.Retrieval.bm25IndexMerge]] argument),
    * then append the batch's fresh postings. The anti-join ships 8-byte
    * ids; at 100 TB the rewrite touches only the buckets the batch's
    * shingles land in plus the re-ingested ids' old buckets.
    */
  def containmentPostingStoreMerge(store: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, shingleSize: Int,
      buckets: Int): DataFrame = {
    val sh = shingleSetFrame(batch, idCol, textCol, shingleSize)
    // ids from the documents, not their postings: a document re-ingested
    // with no text has no postings, and its old ones must still go
    batchWins(store, containmentPostingStore(sh, buckets), "id_b",
      sh.select(col("id")))
  }

  /** BUCKET-LOCAL incremental maintenance of a WRITTEN
    * [[containmentPostingStore]] — the rewrite-only-what-changed form of
    * [[containmentPostingStoreMerge]] (which produces the full merged
    * frame and leaves the rewrite to the caller): computes the affected
    * buckets — those holding the re-ingested ids' OLD postings (looked
    * up from the doc-keyed `index`, the (id, sh) table the store was
    * built from, by an id semi-join — bucket-local under the q54
    * id-bucketed layout) union the batch's NEW posting buckets — and
    * overwrites ONLY those partitions via dynamic partitionOverwriteMode.
    * Untouched partitions' files are not read, not rewritten, not even
    * listed as data (DedupLifecycleSpec pins byte-identical survivors);
    * a bucket the re-ingest empties is deleted explicitly (dynamic
    * overwrite only replaces partitions present in the WRITTEN data, so
    * an empty result would otherwise leave the stale files behind).
    *
    * `index` must be the CURRENT doc-keyed index (including the stale
    * entries of re-ingested ids — their old shingles are exactly what
    * locates the postings to remove). Row semantics are identical to the
    * full merge: read-back ≡ containmentPostingStoreMerge's output
    * row-for-row. Driver state: the affected-bucket list (≤ buckets
    * ints). Returns the affected buckets, ascending.
    */
  def containmentPostingStoreRewriteBuckets(
      spark: org.apache.spark.sql.SparkSession, storePath: String,
      index: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, buckets: Int): Seq[Int] = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val fresh = sharedShuffle(
      shingleSetFrame(batch, idCol, textCol, shingleSize), col("id"),
      pinned = false)
    val batchIds = fresh.select(col("id"))
    val staleBuckets = index.select(col("id"), col("sh"))
      .join(batchIds, Seq("id"), "left_semi")
      .select(explode(col("sh")).as("g"))
    val newBuckets = fresh.select(explode(col("sh")).as("g"))
    val affected = staleBuckets.unionAll(newBuckets)
      .select(pmod(col("g"), lit(buckets.toLong)).cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty) return affected
    val slice = spark.read.parquet(storePath)
      .where(col("bucket").isin(affected: _*))
      .select(col("id_b"), col("nb"), col("g"), col("bucket"))
    val freshPost = containmentPostingStore(fresh, buckets)
      .where(col("bucket").isin(affected: _*))
    val merged = sharedShuffle(batchWins(slice, freshPost, "id_b", batchIds),
      col("bucket"), pinned = false)
    // buckets the merge will actually write, computed from the MERGED
    // frame (a post-write read could not tell fresh rows from the stale
    // ones still sitting in a bucket the merge emptied)
    val nonEmpty = merged.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    // per-WRITE dynamic overwrite (DataFrameWriter option, not the session
    // conf): scoping the mode to this writer means a concurrent write in
    // the same session can never inherit dynamic-overwrite semantics from
    // this one's set/restore window
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(storePath)
    // delete affected buckets the merge emptied: dynamic overwrite only
    // replaces partitions present in the written data, so the stale
    // partition would otherwise survive
    val fs = new org.apache.hadoop.fs.Path(storePath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    affected.filterNot(nonEmpty).foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$storePath/bucket=$b"),
        true): Unit
    }
    affected
  }

  /** [[containmentPairsAgainstIndex]] served from a
    * [[containmentPostingStore]] — same semantics (directed containment
    * |A∩B|/|A| ≥ t of batch probes against indexed containers, self
    * pairs kept by the q136 re-ingest convention), but the container
    * side never rescans: every container-side read below is the store
    * pruned to the BATCH's shingle buckets (partition pruning on the
    * `bucket` column when the store was written partitionBy("bucket"))
    * and Bloom-filtered to the batch's shingle hashes. Three passes
    * over that pruned slice:
    *
    *  1. df pass — exact per-shingle index document frequency for the
    *     batch's shingles only (the pruned slice holds every posting of
    *     every batch shingle, so the counts are exact; Bloom false
    *     positives add phantom shingles no probe carries).
    *  2. candidate pass — each probe posts its (n − ⌈t·n⌉ + 1) RAREST
    *     shingles (df ascending, hash tiebreak; recall 1 by the
    *     one-sided prefix theorem, which holds for ANY prefix-sized
    *     subset — rarest-first just minimizes the posting lists the
    *     prefixes join). Container-length bound nb ≥ ⌈t·na⌉ prunes
    *     before the aggregate.
    *  3. verify pass — EXACT overlap |A∩B| as a count of matching
    *     (probe shingle, container posting) rows, with the container
    *     side semi-joined to the candidate ids first: a corpus-hot
    *     shingle fans out only across candidate containers (output-
    *     bounded), never across the whole slice.
    *
    * Driver state: the distinct bucket list (≤ min(batch shingles,
    * buckets) ints — parameter-bounded, the k-centroids pattern).
    * Returns (id_a, id_b, containment).
    */
  /** The container-side read of [[containmentAgainstPostingStore]]: the
    * store restricted to the batch's shingle buckets (an In-list on the
    * partition column — PARTITION pruning when the store was written
    * partitionBy("bucket"); DedupLifecycleSpec pins the PartitionFilters
    * plan shape) and Bloom-filtered to the batch's shingle hashes. Exact
    * for every batch shingle: bucket pruning is exact and the Bloom has
    * no false negatives, so every posting of every batch shingle
    * survives — only batch-irrelevant postings are dropped. Driver
    * state: the distinct bucket list (≤ min(batch shingles, buckets)
    * ints — parameter-bounded, the k-centroids pattern). Past half the
    * buckets the In-list stops paying (the pruned scan approaches a full
    * one and a giant In bloats planning), so it is skipped and the Bloom
    * alone bounds the rows.
    */
  private[scale] def postingStoreSlice(store: DataFrame, batG: DataFrame,
      buckets: Int): DataFrame = {
    val bucketList = batG
      .select(pmod(col("g"), lit(buckets.toLong)).cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (bucketList.isEmpty)
      return store.select(col("id_b"), col("nb"), col("g")).limit(0)
    val nG = batG.count()
    val bloomA = store.sparkSession.sparkContext.broadcast(
      batG.stat.bloomFilter("g", math.max(nG, 1L), 0.001))
    val byBucket =
      if (bucketList.length * 2 > buckets) store
      else store.where(col("bucket").isin(bucketList.toIndexedSeq: _*))
    byBucket
      .where(graft.functions.NativeExpressions
        .bloom_might_contain_long(col("g"), bloomA))
      .select(col("id_b"), col("nb"), col("g"))
  }

  def containmentAgainstPostingStore(store: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, shingleSize: Int = 2,
      threshold: Double = 0.8, buckets: Int = 1024): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    require(buckets > 0, s"buckets must be positive: $buckets")
    val tNum = math.floor(threshold * 1e6).toLong
    val tDen = 1000000L
    val bat = sharedShuffle(
      shingleSetFrame(batch, idCol, textCol, shingleSize), col("id"),
      pinned = false)
    val batG = bat.select(explode(col("sh")).as("g")).distinct()
    val postA = sharedShuffle(
      postingStoreSlice(store, batG, buckets), col("g"), pinned = false)
    // 1. exact df of each batch shingle in the index
    val dfIdx = postA.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // 2. rarest-first probe prefixes (missing from index -> df 0 = rarest)
    val probes = bat.select(col("id").as("id_a"),
      size(col("sh")).cast("long").as("na"), explode(col("sh")).as("g"))
    val ceilTnA = call_function("div",
      col("na") * tNum + (tDen - 1), lit(tDen))
    val rankW = Window.partitionBy(col("id_a"))
      .orderBy(col("df").asc, col("g").asc)
    val pref = probes
      .join(dfIdx, Seq("g"), "left").na.fill(0L, Seq("df"))
      .withColumn("rk", row_number().over(rankW).cast("long"))
      .where(col("rk") <= col("na") - ceilTnA + 1L)
      .select(col("id_a"), col("na"), col("g"))
    val cand = pref.join(postA, "g")
      .where(col("nb") * tDen >= col("na") * tNum)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("na")).as("na"), min(col("nb")).as("nb"))
    // 3. exact overlap, container side bounded to candidate ids
    val candIds = cand.select(col("id_b")).distinct()
    val o = probes.select(col("id_a"), col("g"))
      .join(postA.join(candIds, "id_b").select(col("id_b"), col("g")), "g")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("o"))
    cand.join(o, Seq("id_a", "id_b"))
      .withColumn("containment", col("o").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Shared pair stage of [[containmentPairs]] (probe = container =
    * the one frozen corpus frame) and [[containmentPairsAgainstIndex]]
    * (probe = batch, container = persisted index): probe prefixes join
    * container postings under the given global `ordered` view, then the
    * container-length and one-sided PPJoin positional bounds prune
    * before the exact sorted-merge verify.
    *
    * For the posting-STORE serve path (no per-serve container scan at
    * all) see [[containmentAgainstPostingStore]].
    *
    * `excludeSelfPairs`: the direct form is a self-join of one frame,
    * where id_a = id_b is vacuous noise; the index serve path keeps
    * self pairs by the q136 re-ingest convention (scaladoc above).
    * `bloomBoundPostings`: build a Bloom over the probe's prefix hashes
    * (two extra probe-sized plan-build jobs: a count and the Bloom agg)
    * and apply it to the container posting rows under the explode,
    * BEFORE their exchange — recall-1 batch-bounding for the serve
    * path. Off for the direct self-join form, where probe = container
    * makes the prefix-union Bloom pass nearly everything.
    */
  private def containmentCore(probe: DataFrame, container: DataFrame,
      ordered: Column, tNum: Long, tDen: Long, threshold: Double,
      excludeSelfPairs: Boolean, bloomBoundPostings: Boolean): DataFrame = {
    val n = size(col("sh")).cast("long")
    val ceilTn = call_function("div", n * tNum + (tDen - 1), lit(tDen))
    val prefixLen = (n - ceilTn + 1).cast("int")
    val pref = probe
      .select(col("id").as("id_a"), n.as("na"),
        posexplode(slice(ordered, lit(1), greatest(prefixLen, lit(0)))))
      .select(col("id_a"), col("na"), col("col").as("g"),
        col("pos").cast("long").as("pa"))
    val postAll = container
      .select(col("id").as("id_b"), n.as("nb"), posexplode(ordered))
      .select(col("id_b"), col("nb"), col("col").as("g"),
        col("pos").cast("long").as("pb"))
    val post = if (!bloomBoundPostings) postAll else {
      val gDf = pref.select(col("g"))
      val nG = gDf.count()
      if (nG == 0) postAll.where(lit(false)) // empty batch: no candidates
      else {
        // fpp 0.001, not 0.01: the false-positive share is CORPUS-sized
        // postings leaking into the exchange, so a 10x tighter Bloom
        // (≈1.4x the bits of a batch-sized filter) buys a 10x smaller
        // leak — the right trade at every scale
        val bc = probe.sparkSession.sparkContext
          .broadcast(gDf.stat.bloomFilter("g", math.max(nG, 1L), 0.001))
        postAll.where(graft.functions.NativeExpressions
          .bloom_might_contain_long(col("g"), bc))
      }
    }
    val ceilTnA = call_function("div",
      col("na") * tNum + (tDen - 1), lit(tDen))
    // pinned like bucketPairRows' triangle join: the prefix⋈posting join
    // EXPANDS (df_prefix(g) × df_posting(g) rows per hash) while its map
    // output is a few MB of longs, so AQE's byte-based coalescing would
    // serialize the expansion onto one partition.
    // BOTH sides pinned (round 16): with only the prefix side pinned,
    // AQE was free to coalesce the posting side's ENSURE_REQUIREMENTS
    // exchange (map output is a few MB) — the join stage then ran the
    // O(df_pref·df_post) expansion on 1–3 tasks (q147 stage profile:
    // 3 tasks, 3.7 MB in, 165 MB out, 3.5 s wall). A numbered repartition
    // on the posting side keeps the expansion at the session's shuffle
    // parallelism whatever join strategy AQE picks.
    val nParts = probe.sparkSession.sessionState.conf.numShufflePartitions
    val joined = pref.repartition(nParts, col("g"))
      .join(post.repartition(nParts, col("g")), "g")
    val cand = (if (excludeSelfPairs) joined.filter(col("id_a") =!= col("id_b"))
                else joined)
      .filter(col("nb") * tDen >= col("na") * tNum)
      // positional bound PER OCCURRENCE before the pair aggregate (the
      // ngramJaccardPairs argument, one-sided form): a qualifying pair's
      // e* row satisfies o ≤ min(na−pa*, nb−pb*) ≥ ⌈t·na⌉ by the prefix
      // theorem, and e* is the pp-minimum, so the aggregate's min(pp)
      // and the post-filter are unchanged — only the exchange into the
      // (id_a, id_b) aggregate shrinks.
      .filter(least(col("na") - col("pa"), col("nb") - col("pb")) >= ceilTnA)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(shiftleft(col("pa"), 31).bitwiseOR(col("pb"))).as("pp"),
        min(col("na")).as("na"), min(col("nb")).as("nb"))
      .filter(least(col("na") - shiftright(col("pp"), 31),
        col("nb") - col("pp").bitwiseAND(lit((1L << 31) - 1))) >= ceilTnA)
      .select(col("id_a"), col("na"), col("id_b"))
    // freeze the candidate aggregate: BOTH verify joins broadcast the
    // (tiny, output-bounded, post-filter) candidate side, and each AQE
    // broadcast stage otherwise materializes its own copy of the subtree
    // — the whole pair exchange was read and aggregated TWICE (q147
    // profile: two no-shuffle-write stages reading the full 251 MB
    // each). The freeze makes both broadcasts read one computed RDD.
    val candF = sharedShuffle(cand, col("id_a"), pinned = false)
    candF
      .join(probe.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(container.select(col("id").as("id_b"), col("sh").as("sh_b")),
        "id_b")
      .withColumn("o", graft.functions.NativeExpressions
        .sorted_long_overlap(col("sh_a"), col("sh_b")))
      .withColumn("containment", col("o").cast("double") / col("na"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** (hot-flag, hash)-ordered view of a frozen (id, sh) frame's shingle
    * arrays — the shared prefix order of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: shingles with df ≥ maxBucket (a broadcast
    * Bloom over the ≤ [[MaxHotShingles]] hottest) sort behind every rare
    * shingle, so prefixes prefer the discriminative ones. Recall-free:
    * both prefix theorems hold for ANY prefix-sized subset under a
    * consistent global order. Runs df/count/Bloom as eager plan-build
    * jobs over the one shared id shuffle.
    *
    * `candidates`: optional Bloom restricting WHICH shingles can be
    * flagged hot — the index-serve paths pass a Bloom over the batch's
    * shingles so the df aggregate's exchange carries batch-relevant
    * hashes only (plus the fpp share) instead of every distinct corpus
    * shingle. Recall-safe twice over: the hot flag stays a pure
    * deterministic function of g (same broadcast Bloom on both sides ⇒
    * one consistent global order), and a shingle absent from the batch
    * can never appear in a probe prefix or survive the posting Bloom,
    * so demotion decisions about it are irrelevant to the candidate
    * join it feeds.
    */
  private def rareFirstOrder(frozen: DataFrame, hotCutoff: Int,
      candidates: Option[org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]] = None): Column = {
    val exploded = frozen.select(explode(col("sh")).as("g"))
    val scoped = candidates match {
      case Some(bc) => exploded.where(
        graft.functions.NativeExpressions.bloom_might_contain_long(col("g"), bc))
      case None => exploded
    }
    val hotDf = scoped
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= hotCutoff)
      .orderBy(col("df").desc, col("g"))
      .limit(MaxHotShingles)
    val nHot = hotDf.count()
    if (nHot == 0) col("sh") // clean corpus: hash order, zero overhead
    else {
      val bc = frozen.sparkSession.sparkContext
        .broadcast(hotDf.stat.bloomFilter("g", nHot, 0.01))
      // ONE compiled pass per row instead of the interpreted
      // transform → array_sort(struct) → transform chain (CodegenFallback,
      // per-element struct allocation, interpreted sort comparator, and
      // all of it re-evaluated per CONSUMER of the order — the round-16
      // q202/q147 stage profiles charged ~10 s CPU per 3 MB to it).
      // Element-identical because `sh` is sorted ascending by the
      // shingle-set contract: the (hot, g) lexicographic sort is exactly
      // "misses ascending, then hits ascending", which a stable one-pass
      // partition of an ascending array reproduces (NativeExprSpec parity).
      graft.functions.NativeExpressions.hot_last_order(col("sh"), bc)
    }
  }

  /** Directed containment join — the asymmetric sibling of
    * [[ngramJaccardPairs]]: pairs (a, b) with
    * |Sh(a) ∩ Sh(b)| / |Sh(a)| ≥ t, i.e. "at least t of a's shingles
    * appear in b". This is the quote/subset detector symmetric Jaccard
    * cannot express: a paragraph fully contained in a long document has
    * tiny Jaccard but containment 1.0 — the shape of template
    * instantiations, quoted excerpts, and doc-inside-doc duplication.
    *
    * Candidates are recall-1 by the one-sided prefix theorem: if
    * |A∩B| ≥ ⌈t·|A|⌉ then A∖B has at most |A| − ⌈t·|A|⌉ elements, so
    * the (|A| − ⌈t·|A|⌉ + 1)-element prefix of A (ascending hash order)
    * must intersect B — the probe side posts only its prefix, while the
    * container side posts ALL its shingles (inherent to containment:
    * the evidence can sit anywhere in B, so B cannot be prefixed).
    * Threshold arithmetic uses the same floored-rational
    * under-approximation as the symmetric join (prefixes only ever get
    * longer). Verify is the exact [[graft.functions.NativeExpressions.SortedLongOverlap]]
    * merge over the sorted shingle arrays; the filter compares the same
    * IEEE division the oracle computes.
    *
    * Scale shape: per-hash join cost is df_prefix(h) × df_posting(h) —
    * the prefix side keeps rare shingles only (ascending hash over
    * distinct shingles), hot posting hashes are splittable by AQE's
    * skew join (a plain equi join, unlike the symmetric path's
    * self-pair buckets), and the verify join rides the one shared id
    * shuffle the whole family uses. Directed output: both orientations
    * of a mutual near-dup pair are reported.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 2, threshold: Double = 0.8,
      maxBucket: Int = 1024): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    val tNum = math.floor(threshold * 1e6).toLong
    val tDen = 1000000L
    // rare-first prefix order (the q85 hot-Bloom move): the one-sided
    // prefix theorem holds for ANY (n − ⌈t·n⌉ + 1)-element subset of A,
    // so pushing df ≥ maxBucket shingles behind every rare one is free
    // for recall and collapses the candidate join's hot-hash fanout
    // (boilerplate bigrams otherwise pair every probe with every doc).
    // BOTH sides explode the same ordered view, so positions live in one
    // corpus-global total order and the PPJoin positional bound applies
    // — the pair stage itself is [[containmentCore]], shared with the
    // persisted-index serve path.
    val frozen = sharedShuffle(
      shingleSetFrame(docs, idCol, textCol, shingleSize), col("id"))
    // demotion cutoff BELOW the bucket-split limit (round 16): the order
    // is semantics-free (recall-1 for any consistent global order; the
    // exact verify fixes the output), but the candidate-join volume is
    // Sum_g df_pref(g)*df_post(g) — with demotion only at df >= maxBucket
    // nothing demoted at moderate corpus sizes and the pair exchange
    // carried every mid-frequency shingle's quadratic fanout (q147
    // profile: 252 MB from a 3 MB corpus). df >= HotDemoteCutoff pushes
    // those behind every rarer shingle, shrinking prefixes' posting hits.
    val ordered = rareFirstOrder(frozen, math.min(maxBucket, HotDemoteCutoff))
    containmentCore(frozen, frozen, ordered, tNum, tDen, threshold,
      excludeSelfPairs = true, bloomBoundPostings = false)
  }

  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, threshold: Double = 0.8,
      maxBucket: Int = 1024): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    // t as a rational num/10^6: prefix length must err on the long side,
    // never the short side, regardless of how t·|S| rounds in binary FP
    // floor, not round: under-approximating t lengthens the prefix, which
    // is always recall-safe; the exact final Jaccard filter keeps precision
    val tNum = math.floor(threshold * 1e6).toLong
    val tDen = 1000000L
    // read twice (prefix index + verify join): one shared id shuffle, no
    // persist — the [[sharedShuffle]] lifecycle used family-wide
    val frozen = sharedShuffle(
      shingleSetFrame(docs, idCol, textCol, shingleSize, par = true),
      col("id"))
    // ceil(t·n) = (n·tNum + tDen − 1) div tDen — integral division, exact
    // in Long (n ≤ 2^31 shingles, tNum ≤ 10^6 → products ≤ 2^51)
    val n = size(col("sh")).cast("long")
    val ceilTn = call_function("div", n * tNum + (tDen - 1), lit(tDen))
    val prefixLen = (n - ceilTn + 1).cast("int")
    // hot-shingle Bloom (scaladoc above): df ≥ maxBucket ⇒ that shingle
    // ALONE could fill a bucket past the triangle-split limit — push it
    // behind every rare shingle in the prefix order. Runs as eager jobs at
    // plan-build time (df agg + count + Bloom agg), all over the one
    // shared id shuffle — the shingle kernel itself is not re-run.
    val prefixSource = rareFirstOrder(frozen,
      math.min(maxBucket, HotDemoteCutoff)) // see containmentPairs
    // prefix rows carry (owning id, set size, position in the global
    // order) so the pair stage can run PPJoin's two published
    // recall-safe filters before any document data is rejoined:
    //  - length: J(A,B) ≥ t needs t·max(|A|,|B|) ≤ min(|A|,|B|);
    //  - positional: o = |A∩B| ≥ ⌈t/(1+t)·(|A|+|B|)⌉, and at the
    //    order-smallest common prefix element e* (positions pa, pb) every
    //    intersection element sits in the suffixes from e*, so
    //    o ≤ min(|A|−pa, |B|−pb) — reject when the bound can't reach the
    //    requirement. Both thresholds under-approximate in integer
    //    arithmetic (tNum = ⌊t·10⁶⌋ and x/(x+c) increasing in x make oMin
    //    only smaller), so rejection never loses a qualifying pair.
    val pref = frozen
      .withColumn("nsh", size(col("sh")).cast("long"))
      .select(col("id"), col("nsh"),
        posexplode(slice(prefixSource, lit(1), greatest(prefixLen, lit(0)))))
      .select(col("id"), col("col").as("bk"),
        struct(col("id").as("pid"), col("nsh"),
          col("pos").cast("long").as("pos")).as("pv"))
    // payloads arrive in JOIN orientation; pid re-orients them to id order
    val rows = bucketPairRows(pref, maxBucket)
    val lIsA = col("pv_l.pid") === col("id_a")
    val withPos = rows.select(col("id_a"), col("id_b"),
      when(lIsA, col("pv_l.nsh")).otherwise(col("pv_r.nsh")).as("na"),
      when(lIsA, col("pv_r.nsh")).otherwise(col("pv_l.nsh")).as("nb"),
      shiftleft(when(lIsA, col("pv_l.pos")).otherwise(col("pv_r.pos")), 31)
        .bitwiseOR(when(lIsA, col("pv_r.pos")).otherwise(col("pv_l.pos")))
        .as("pp"))
    // e* = lexicographic-min (pa, pb): positions are monotone in the one
    // global order, so the smallest common element minimizes both
    // simultaneously. (pa, pb) is packed into ONE long — pa << 31 | pb,
    // positions < 2³¹ so numeric order == lexicographic order — because
    // min(long) runs as a HashAggregate with map-side partial combine,
    // where min(struct(...)) forces a SortAggregate: two extra full
    // sorts of the pair rows (seen in the EXPLAIN audit). na/nb are
    // per-doc constants within a group; min() carries them through the
    // same hash aggregate. The aggregation replaces bucketPairs'
    // distinct — same shuffle key, three extra longs per row.
    val oMin = call_function("div",
      (col("na") + col("nb")) * tNum + lit(tNum + tDen - 1),
      lit(tNum + tDen))
    val eStarPa = shiftright(col("pp"), 31)
    val eStarPb = col("pp").bitwiseAND(lit((1L << 31) - 1))
    val candidates = withPos
      .filter(greatest(col("na"), col("nb")) * tNum <=
        least(col("na"), col("nb")) * tDen)
      // the SAME positional bound applied PER OCCURRENCE before the pair
      // aggregate (PPJoin's placement): recall-safe because a qualifying
      // pair's e* row always satisfies it (the theorem is exactly the
      // bound at e*), and min(pp) is unchanged because e* is the
      // pp-minimum among all of the pair's rows and it survives — so the
      // post-aggregate filter sees identical inputs and the pair set is
      // identical. What changes is the aggregate's INPUT volume: junk
      // occurrence rows from shared-ish shingles drop before the
      // (id_a, id_b) exchange instead of after it.
      .filter(least(col("na") - eStarPa, col("nb") - eStarPb) >= oMin)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("pp")).as("pp"), min(col("na")).as("na"),
        min(col("nb")).as("nb"))
      .filter(least(col("na") - eStarPa, col("nb") - eStarPb) >= oMin)
      .select(col("id_a"), col("id_b"))
    // candidates frozen for containmentCore's double-broadcast reason
    val sh = frozen.select(col("id"), col("sh"))
    exactJaccardVerify(sharedShuffle(candidates, col("id_a"), pinned = false),
      sh, sh, "a", "b", threshold)
  }

  /** Materialize `df` through ONE hash exchange on `key` and freeze the
    * result as an RDD scan — the [[Packing.prefixSum]] shared-shuffle
    * pattern generalized: every downstream consumer stage reads the SAME
    * shuffle files (the map stage, i.e. the expensive upstream kernel,
    * runs once per action; later occurrences are skipped stages), with
    * nothing registered in the block manager (DedupLifecycleSpec). A
    * plain `repartition` is NOT enough: Catalyst prunes columns
    * independently per consumer branch, the canonicalized exchange
    * subtrees diverge, and ReusedExchange/the AQE stage cache never
    * fire — measured on the pre-freeze plans (0 reused exchanges), the
    * kernel re-ran per branch. The price of the freeze is one UnsafeRow
    * copy per consumer read ([[org.apache.spark.sql.graftbridge.Bridge
    * .freezeLineage]] — the external-Row round trip the old
    * `createDataFrame(df.rdd, schema)` paid is gone) and a
    * codegen/pruning boundary, both linear in the (compact) shuffled
    * rows — the same bytes a persist would have stored, without the
    * persist's unbounded lifetime.
    */
  private[graft] def sharedShuffle(df: DataFrame, key: Column,
      pinned: Boolean = true): DataFrame =
    // PINNED partition count (explicit numbered repartition): the
    // unnumbered form is AQE-coalescible, and on small-byte frames AQE
    // folded the freeze to ONE partition — after which every consumer's
    // map-side work over the frozen scan (rare-first reordering, prefix
    // explodes, verify projections) ran on one core (q85 stage profile:
    // 4.9 s single-task stage). Bytes are unchanged; the count is the
    // session's shuffle-partition conf — scale-parameterised, local
    // default = cores.
    //
    // `pinned = false` (round-16, the round-15 verdict's item 1): the
    // eager-multi-job LIFECYCLE callers — index build/merge/serve paths
    // that run MANY small driver-sequenced jobs over the frozen frame
    // (plan-build counts, Bloom aggregates, bucket-list collects,
    // partitioned writes) — pay the pin's fixed n-task overhead once per
    // job, which round-15 measured as a 20–50 % regression on
    // q202/q203/q217/q195 at bench scale. Those callers keep the
    // AQE-coalescible unnumbered form: their expansion joins are pinned
    // LOCALLY (containmentCore's prefix⋈posting repartition,
    // bucketPairRows' triangle repartition), so the scale-relevant
    // stages stay spread while the many tiny lifecycle jobs coalesce.
    org.apache.spark.sql.graftbridge.Bridge.freezeLineage(
      if (pinned) df.repartition(
        df.sparkSession.sessionState.conf.numShufflePartitions, key)
      else df.repartition(key))

  /** All distinct within-bucket unordered id pairs of a (id, bk)-shaped
    * frame, with buckets larger than `maxBucket` split deterministically
    * into m = ⌈n/maxBucket⌉ blocks by a secondary id hash and self-joined
    * per triangle-decomposition cell (i ≤ j): every within-bucket pair is
    * produced exactly once as (least, greatest), but a skewed bucket's
    * O(n²) pair generation spreads over m(m+1)/2 tasks of ≤ maxBucket²
    * pairs each. Buckets ≤ maxBucket (m = 1) degenerate to the plain
    * single-cell self-join. Shared by every bucketed pair generator
    * (MinHash bands, SimHash blocks, Fuzzy's deletion neighborhoods).
    */
  private[scale] def bucketPairs(keyed: DataFrame, maxBucket: Int): DataFrame =
    bucketPairRows(keyed.withColumn("pv", lit(0)), maxBucket)
      .select(col("id_a"), col("id_b"))
      .distinct()

  /** Occurrence-level core of [[bucketPairs]]: emits one row per matched
    * within-bucket row pair — (id_a, id_b, pv_l, pv_r) with id_a < id_b,
    * where `pv` is a caller-supplied payload column carried through the
    * triangle split (used by verification-fused pair generators like
    * [[commonRunPairs]], which need per-occurrence context, not just the
    * deduplicated id pair set). pv_l/pv_r are the two rows' payloads in
    * JOIN orientation, not id order — re-normalizing them per id would
    * wrap every payload in a CASE WHEN that downstream predicates
    * re-expand at every field reference; callers' pair predicates must
    * be symmetric (commonRunPairs' run-extension check is).
    */
  private def bucketPairRows(keyed: DataFrame, maxBucket: Int): DataFrame = {
    // ONE shared bk shuffle feeds both internal consumers (the
    // bucket-size aggregate and the triangle split's probe side), so the
    // caller's upstream kernel — band/block/winnow computation on the raw
    // text — executes exactly once per action with NO persist anywhere in
    // the pair family (net bench effect strongly positive: q71 halved).
    // The pinned freeze declares its bk hash partitioning, so the size
    // aggregate and the bucket self-joins below plan no exchange of their
    // own.
    val k2 = sharedShuffle(keyed, col("bk"))
    val nParts = keyed.sparkSession.sessionState.conf.numShufflePartitions
    val sizes = k2.groupBy(col("bk")).agg(count(lit(1)).as("bucket_n"))
    // the largest bucket picks the path (one eager job over the frozen
    // rows). When no bucket exceeds maxBucket every cell of the triangle
    // split is the one diagonal cell, so the split would only re-key the
    // same self-join: join the frozen rows to themselves directly, on the
    // freeze's own pinned partitions.
    val largest = sizes.agg(max(col("bucket_n"))).head().get(0)
    if (largest == null || largest.asInstanceOf[Long] <= maxBucket)
      k2.as("l").join(k2.as("r"),
          col("l.bk") === col("r.bk") && col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
          col("l.pv").as("pv_l"), col("r.pv").as("pv_r"))
    else trianglePairRows(k2, sizes, maxBucket, nParts)
  }

  /** [[bucketPairRows]] when some bucket exceeds `maxBucket`: the
    * triangle-decomposition self-join over the frozen (bk, id, pv) rows
    * and their bucket sizes.
    */
  private def trianglePairRows(k2: DataFrame, sizes: DataFrame,
      maxBucket: Int, nParts: Int): DataFrame = {
    // no exchange: both sides keep the freeze's pinned bk partitions,
    // which the stage ABOVE needs (it carries the per-cell explode, which
    // must not serialize onto one coalesced partition)
    val salted = k2.join(sizes, "bk")
      .withColumn("m", floor((col("bucket_n") + (maxBucket - 1)) / maxBucket))
      .withColumn("blk", pmod(xxhash64(col("id")), col("m")))
      .select(col("bk"), col("id"), col("pv"), col("m"), col("blk"))
    // member of block b is the LEFT of cells (b, j≥b) and the RIGHT of
    // cells (i≤b, b); cell (i,i) self-joins one block. The (i, j) cell is
    // PACKED into one long (i << 31 | j — block counts are < 2^31 by
    // construction, a bucket would need 2^31·maxBucket rows to overflow):
    // flat long join keys keep the sort radix-sortable where a struct key
    // forces interpreted row comparators.
    val leftT = salted.withColumn("cell",
        explode(transform(sequence(col("blk"), col("m") - 1),
          j => shiftleft(col("blk"), 31).bitwiseOR(j))))
      .select(col("bk"), col("cell"), col("id"), col("pv"))
    val rightT = salted.withColumn("cell",
        explode(transform(sequence(lit(0L), col("blk")),
          i => shiftleft(i, 31).bitwiseOR(col("blk")))))
      .select(col("bk"), col("cell"), col("id"), col("pv"))
    // a diagonal cell (i,i) self-joins one block, so each unordered pair
    // would appear in both orientations — id < id emits it once (halving
    // the raw volume of the m=1 common case, where EVERY pair is
    // diagonal). Off-diagonal cells pair two disjoint blocks: exactly one
    // orientation exists, which least/greatest then orders.
    val diag = shiftright(col("l.cell"), 31) ===
      col("l.cell").bitwiseAND(lit((1L << 31) - 1))
    // PIN the pair-expansion join's partition count (explicit numbered
    // repartition — AQE cannot coalesce it): AQE's byte-based partition
    // coalescing sees only the tiny (id, bk, cell) map output and
    // routinely folded this join to ONE partition, serializing the
    // O(bucket²) pair expansion on a single core (q85 stage profile:
    // 4.7 s CPU, 1 task, 28 MB shuffle OUT from 1.5 MB in). The count is
    // the session's shuffle-partition conf — scale-parameterised, local
    // default = cores.
    leftT.repartition(nParts, col("bk"), col("cell")).as("l")
      .join(rightT.repartition(nParts, col("bk"), col("cell")).as("r"),
        col("l.bk") === col("r.bk") && col("l.cell") === col("r.cell") &&
          when(diag, col("l.id") < col("r.id"))
            .otherwise(col("l.id") =!= col("r.id")))
      .select(least(col("l.id"), col("r.id")).as("id_a"),
        greatest(col("l.id"), col("r.id")).as("id_b"),
        col("l.pv").as("pv_l"), col("r.pv").as("pv_r"))
  }

  /** Edge sets at or below this size take [[localComponents]] (driver
    * union-find + broadcast of the label map) instead of the distributed
    * label-propagation loop. Post-LSH dup-pair sets are SMALL relative to
    * the corpus — a few percent of docs even on crawl data — so at one
    * million edges (~32 MB collected) this covers corpora into the tens
    * of millions of documents while skipping ~10 rounds × 3 shuffles of
    * fixed distributed-loop cost. Above it, the O(log diameter)
    * pointer-doubling loop runs as before. The same adaptive cut GraphX's
    * ConnectedComponents ecosystem uses: the edge list, not the corpus,
    * decides the algorithm.
    */
  val LocalEdgeLimit: Long = 1L << 20

  /** Connected components over a pair list by min-label propagation WITH
    * pointer doubling: every node starts labeled with its own id; each
    * round a node takes the minimum label over itself and its neighbors
    * (propagation), then jumps to its new label's own label (shortcutting
    * — `L(v) ← L(L(v))`, valid because `L(x) ≤ x` and `L(x)` is always in
    * x's component). Propagation alone needs diameter-many rounds; the
    * shortcut halves the remaining distance to the component minimum each
    * round, so convergence is O(log diameter) — a 1,000-node path labels
    * itself in 10 rounds (`L_t(v) = v − (2^t − 1)`), verified in
    * ScaleSpec. At fixpoint every label equals the component's minimum id
    * (the deterministic "cluster representative").
    *
    * Cost shape: two shuffled joins + one aggregate per round, and exactly
    * ONE Spark action per round — the new labels are marked for lazy local
    * checkpointing and the convergence count is aggregated from the same
    * job that materializes them (lineage still truncated per round, so the
    * loop cannot build an unbounded plan). The shortcut join's key (the
    * current label) grows skewed as components coalesce; AQE's skew-join
    * split handles that, and the per-key fan-in is bounded by component
    * size, not corpus size.
    *
    * `checkpointDir` picks the distributed loop's lineage-truncation
    * mechanism. None (default) uses `localCheckpoint` — blocks live in
    * executor storage, zero external I/O, but an executor loss makes the
    * checkpointed partitions unrecoverable and fails the job (fine on
    * local[n]; the documented hazard on real clusters — see SCALING.md).
    * Some(dir) uses RELIABLE checkpoints into `dir` (HDFS/object store):
    * executor loss recomputes from the files instead of killing the loop.
    * The price is per-round: Spark materializes a reliable checkpoint by
    * recomputing the round's RDD for the write (~2× the round's join
    * work) plus one round-trip of file I/O. Checkpoint files are cleaned
    * by the ContextCleaner only when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`; otherwise
    * clear `dir` after the run.
    *
    * Returns (id, component) for every id in `ids`.
    */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
      maxIter: Int = 20, localEdgeLimit: Long = LocalEdgeLimit,
      checkpointDir: Option[String] = None): DataFrame = {
    componentsOf(ids, pairs, maxIter, localEdgeLimit, checkpointDir)
      .fold(localComponents(ids, _), identity)
  }

  /** The decision of [[connectedComponents]]: Left(the complete edge list)
    * when it holds at most `localEdgeLimit` edges, else Right(the
    * distributed loop's (id, component) labels).
    *
    * ONE probing traversal decides the algorithm AND feeds the local
    * path: limit(N+1).collect() returns the COMPLETE edge list whenever it
    * comes back with ≤ N rows (the limit dropped nothing), so the driver
    * union-find needs no second pass over pairs. Nothing is persisted:
    * only the distributed path re-consumes pairs (ccRounds checkpoints
    * its edge frame eagerly, one more pass over the pair plan), and the
    * local path, which every post-LSH edge set up to a million edges
    * takes, pays no cache build, no columnar scan and no release.
    */
  private def componentsOf(ids: DataFrame, pairs: DataFrame, maxIter: Int,
      localEdgeLimit: Long, checkpointDir: Option[String])
      : Either[Array[org.apache.spark.sql.Row], DataFrame] = {
    // the probe materializes up to localEdgeLimit+1 rows on the driver —
    // a limit beyond Int range would overflow `.toInt` into a negative
    // limit (and a >2^31-row driver collect is absurd anyway)
    require(localEdgeLimit >= 0 && localEdgeLimit < Int.MaxValue,
      s"localEdgeLimit must fit an Int collect: $localEdgeLimit")
    val probe = pairs.select(col("id_a"), col("id_b"))
      .limit((localEdgeLimit + 1).toInt).collect()
    if (probe.length <= localEdgeLimit) Left(probe)
    else Right(ccRounds(ids, pairs, maxIter, checkpointDir)._1)
  }

  /** Incremental connected components: fold a batch of NEW pairs into an
    * existing (id, component) labeling without re-clustering the corpus —
    * the steady-state sibling of [[minhashIndexMerge]] (new near-dup
    * pairs arrive per ingestion batch; the corpus labeling must absorb
    * them, not rebuild).
    *
    * Mechanics: new pairs project into COMPONENT space (each endpoint →
    * its current label, unseen ids label themselves), and the connected
    * components of that component graph — at most 2·|newPairs| nodes, no
    * matter how big the corpus — decide which old components fuse. The
    * corpus-sized labels table is touched by exactly ONE final join
    * against the relabel map (broadcastable: bounded by the batch, not
    * the corpus). Label semantics are preserved: component = min id, so
    * merge(cc(old), newPairs) ≡ cc(old ∪ new) bit for bit —
    * ScaleSpec pins the equivalence, q138 oracle-certifies it end to end.
    *
    * `labels` rows must cover every id of the old graph (the
    * [[connectedComponents]] output contract); ids appearing only in
    * `newPairs` join as fresh singletons.
    */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame,
      maxIter: Int = 20, localEdgeLimit: Long = LocalEdgeLimit,
      checkpointDir: Option[String] = None): DataFrame = {
    // Freeze the multi-consumer frames through one exchange each (guide
    // §2.4; the unpinned lifecycle form): `lab` feeds the endpoint lookup
    // AND both allLabels branches, `newPairs` feeds the endpoint distinct
    // AND the component-edge projection, `endComp` feeds the two
    // component-edge joins AND the fresh-singleton anti-join — and the
    // whole chain is re-evaluated both by the inner connectedComponents'
    // eager edge probe and by the final action. The round-16 q139 stage
    // profile showed the upstream edge derivation (scan + distinct)
    // re-running 8+ times across those consumers; with the freezes each
    // frame computes once and later jobs reuse its shuffle files.
    val lab = sharedShuffle(labels.select(col("id"), col("component")),
      col("id"), pinned = false)
    val np = sharedShuffle(newPairs.select(col("id_a"), col("id_b")),
      col("id_a"), pinned = false)
    val ends = np.select(col("id_a").as("id"))
      .union(np.select(col("id_b").as("id"))).distinct()
    val endComp = sharedShuffle(ends
      .join(lab.select(col("id").as("__lid"), col("component").as("__lc")),
        col("id") === col("__lid"), "left")
      .select(col("id").as("__eid"), coalesce(col("__lc"), col("id")).as("__ec")),
      col("__eid"), pinned = false)
    val compEdges = np
      .join(endComp.select(col("__eid").as("__ea"), col("__ec").as("__ca")),
        col("id_a") === col("__ea"))
      .join(endComp.select(col("__eid").as("__eb"), col("__ec").as("__cb")),
        col("id_b") === col("__eb"))
      .where(col("__ca") =!= col("__cb"))
      .select(least(col("__ca"), col("__cb")).as("id_a"),
        greatest(col("__ca"), col("__cb")).as("id_b"))
      .distinct()
    val compIds = compEdges.select(col("id_a").as("id"))
      .union(compEdges.select(col("id_b").as("id"))).distinct()
    // batch-sized CC over the component graph (driver union-find fast
    // path for ≤ localEdgeLimit edges, distributed loop beyond)
    val relabel = connectedComponents(compIds, compEdges, maxIter,
      localEdgeLimit, checkpointDir)
      .select(col("id").as("__old"), col("component").as("__new"))
      .where(col("__old") =!= col("__new"))
    val allLabels = lab.union(
      endComp.select(col("__eid"), col("__ec"))
        .join(lab.select(col("id").as("__kid")),
          col("__eid") === col("__kid"), "left_anti")
        .select(col("__eid").as("id"), col("__ec").as("component")))
    allLabels
      .join(broadcast(relabel), col("component") === col("__old"), "left")
      .select(col("id"), coalesce(col("__new"), col("component")).as("component"))
  }

  /** Components for a BOUNDED, already-collected edge list (≤
    * localEdgeLimit rows of two ids, ~32 MB at the cut): union-find on
    * the driver with union-by-min + path compression, broadcast-join the
    * resulting label map back onto the ids. Nodes in no edge stay their
    * own singleton component. Label semantics are identical to the
    * distributed loop's fixpoint: component = min id, so the two paths
    * are interchangeable (asserted in ScaleSpec).
    */
  private[graft] def localComponents(ids: DataFrame,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val spark = ids.sparkSession
    val idType = ids.schema("id").dataType
    val labels = unionFind(edges).filter { case (k, r) => k != r }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("component", idType)))
    val mapping = spark.createDataFrame(
      spark.sparkContext.parallelize(
        labels.map { case (k, r) => org.apache.spark.sql.Row(k, r) }.toSeq, 1),
      schema)
    ids.select(col("id"))
      .join(broadcast(mapping.withColumnRenamed("component", "__comp")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__comp"), col("id")).as("component"))
  }

  /** Union-find over a collected edge list (union-by-min + path
    * compression): every id of an edge mapped to its component's minimum
    * id (a root maps to itself).
    */
  private def unionFind(edges: Array[org.apache.spark.sql.Row])
      : Map[Any, Any] = {
    val parent = new scala.collection.mutable.HashMap[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (idOrdering.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** The order of collected id values (long, int or string ids). */
  private val idOrdering: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Int, y: Int) => Integer.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case _ => sys.error(s"unsupported id type for union-find: ${a.getClass}")
    }
  }

  /** The distributed label-propagation loop of [[connectedComponents]],
    * plus the number of rounds actually used. `checkpointDir` switches
    * per-round lineage truncation from `localCheckpoint` (executor-storage
    * blocks; fast, not executor-loss-safe) to reliable checkpoints in the
    * given fault-tolerant directory — semantics identical (asserted in
    * ScaleSpec), only the failure-recovery story differs.
    */
  private[scale] def ccRounds(ids: DataFrame, pairs: DataFrame,
      maxIter: Int, checkpointDir: Option[String] = None): (DataFrame, Int) = {
    checkpointDir.foreach(ids.sparkSession.sparkContext.setCheckpointDir)
    // Reliable mode materializes eagerly: a lazy reliable checkpoint would
    // recompute the round's joins once for the counting job and AGAIN for
    // the post-job checkpoint write. Eager pays the same double compute
    // but keeps the loop's action count at one observable job per round.
    def truncate(df: DataFrame, lazyOk: Boolean): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = !lazyOk)
    val edges = truncate(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))),
      lazyOk = false)
    var labels = truncate(
      ids.select(col("id"), col("id").as("component")), lazyOk = false)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("nbr_min"))
      val propagated = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("component").as("__prev"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("__c1"))
      // pointer doubling: look up the (previous-round) label OF the new
      // label; left join only for safety — __c1 is always a known id. In
      // round 0 the label map is still the identity, so the lookup is a
      // no-op — skip its join (shallow star/chain graphs often converge
      // in 2-3 rounds, where that join would be pure overhead).
      val doubled =
        if (iter == 0) propagated.withColumn("__cc", col("__c1"))
        else propagated.join(
          labels.select(col("id").as("__c1"), col("component").as("__cc")),
          Seq("__c1"), "left")
      val updated = truncate(doubled
        .withColumn("component", least(col("__c1"), coalesce(col("__cc"), col("__c1"))))
        .withColumn("__changed", col("component") < col("__prev"))
        .select(col("id"), col("component"), col("__changed")),
        lazyOk = true) // local mode: materialized by the aggregate below
      // ONE action: materializes the checkpoint AND counts changes
      val nChanged = updated.agg(count(when(col("__changed"), lit(1))).as("n"))
        .head().getLong(0)
      labels = updated.select(col("id"), col("component"))
      converged = nChanged == 0L
      iter += 1
    }
    // Partial labels are silently WRONG answers (components would split);
    // fail loudly instead — with pointer doubling maxIter=20 covers
    // diameters up to ~2^20, so hitting this means something is broken.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds; " +
          "raise maxIter (component diameter exceeds 2^maxIter)")
    (labels, iter)
  }

  /** Near-duplicate CLUSTERS from MinHash-LSH pairs: (id, component) where
    * component = the cluster's minimum doc id. Docs with no near-dup are
    * their own singleton component.
    */
  def nearDupClusters(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, maxBucket: Int = 1024): DataFrame = {
    val pairs = minhashDupPairs(docs, idCol, textCol, shingleSize, numPerm,
      bands, threshold, maxBucket)
    connectedComponents(docs.select(col(idCol).as("id")), pairs)
  }

  /** The end-to-end training-data dedup operator: keep exactly one document
    * per near-dup cluster (the minimum-id representative — deterministic
    * "keep first", matching [[exactDedup]]'s tie rule). Everything else
    * passes through untouched.
    */
  def dedupNearDups(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, maxBucket: Int = 1024): DataFrame = {
    val clusters = nearDupClusters(docs, idCol, textCol, shingleSize, numPerm,
      bands, threshold, maxBucket)
    docs.join(clusters.filter(col("id") === col("component"))
      .select(col("id").as(idCol)), idCol)
  }

  /** Quality-aware survivorship: within every near-dup cluster keep the
    * BEST document instead of [[dedupNearDups]]'s arbitrary min-id — the
    * rule production dedup actually wants (the longest/cleanest variant of
    * a template survives, not whichever crawled first). Survivor = max
    * (n_tokens, then smallest id) per component; the rank rides ONE
    * max-of-struct aggregate (id negated so struct max realizes the
    * smallest-id tiebreak) joined back on the component key — no
    * per-component window sort, so a pathological giant cluster costs a
    * combinable aggregate cell, not a single-task sort (the q66 skew
    * lesson). Swap `n_tokens` for any integer quality rank by pre-scoring.
    *
    * Returns (id, component, n_tokens, csize, is_survivor) for every doc;
    * exactly one survivor per component (singletons survive trivially).
    */
  def nearDupSurvivorship(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, maxBucket: Int = 1024): DataFrame =
    rankSurvivors(docs, idCol, textCol, nearDupClusters(docs, idCol, textCol,
      shingleSize, numPerm, bands, threshold, maxBucket))

  /** [[nearDupSurvivorship]]'s ranking over given (id, component) labels. */
  private def rankSurvivors(docs: DataFrame, idCol: String, textCol: String,
      clusters: DataFrame): DataFrame = {
    val scored = clusters.join(
      docs.select(col(idCol).as("id"),
        TextOps.tokenCount(col(textCol)).cast("long").as("n_tokens")), "id")
    val best = scored.groupBy(col("component").as("__c"))
      .agg(count(lit(1)).as("csize"),
        max(struct(col("n_tokens"), (-col("id")).as("__nid"))).as("__b"))
      .select(col("__c"), col("csize"), (-col("__b.__nid")).as("__bid"))
    scored.join(best, col("component") === col("__c"))
      .select(col("id"), col("component"), col("n_tokens"), col("csize"),
        (col("id") === col("__bid")).as("is_survivor"))
  }

  /** The rows of `docs` that [[nearDupSurvivorship]] keeps: every document
    * outside a near-dup cluster, and the best one of each cluster (most
    * tokens, then smallest id). Same decisions, smaller plan: on the local
    * components path (at most [[LocalEdgeLimit]] pair edges) the clusters
    * are solved on the driver, the token counts of their members come
    * back in one narrow job, and the result is `docs` under one narrow
    * filter — no label map, no join back, no aggregate. Beyond
    * `localEdgeLimit` the distributed loop labels the clusters and the
    * survivors semi-join back.
    */
  def nearDupSurvivors(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.6, maxBucket: Int = 1024,
      localEdgeLimit: Long = LocalEdgeLimit): DataFrame = {
    val pairs = minhashDupPairs(docs, idCol, textCol, shingleSize, numPerm,
      bands, threshold, maxBucket)
    val ids = docs.select(col(idCol).as("id"))
    componentsOf(ids, pairs, maxIter = 20, localEdgeLimit, None) match {
      case Left(edges) =>
        val root = unionFind(edges)
        if (root.isEmpty) docs
        else {
          val tokens = docs.where(isIn(col(idCol), root.keySet))
            .select(col(idCol), TextOps.tokenCount(col(textCol)).cast("long"))
            .collect()
          // most tokens, then the smallest id (nearDupSurvivorship's rank)
          val best = tokens.groupBy(r => root(r.get(0))).values.map(_.reduce { (a, b) =>
            val byTokens = java.lang.Long.compare(a.getLong(1), b.getLong(1))
            if (byTokens > 0 || (byTokens == 0 && idOrdering.lt(a.get(0), b.get(0)))) a else b
          }.get(0)).toSet
          docs.where(!isIn(col(idCol), root.keySet -- best))
        }
      case Right(labels) =>
        docs.join(rankSurvivors(docs, idCol, textCol, labels)
          .where(col("is_survivor")).select(col("id").as("__sid")),
          col(idCol) === col("__sid"), "left_semi")
    }
  }

  /** `c IN values` as one set-membership test whose generated code does
    * not depend on the values (they ride the task binary, which Spark
    * ships once per stage).
    */
  private def isIn(c: Column, values: scala.collection.Set[Any]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.InSet(
        org.apache.spark.sql.graftbridge.Bridge.expression(c),
        values.map(org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToCatalyst).toSet))

  /** Leakage-safe train/eval split: every near-dup CLUSTER lands wholly on
    * one side, because the split hashes the cluster representative
    * (component minimum id), not the document. A plain per-document split
    * leaks training data into eval through near-duplicates — the standard
    * contamination failure when splitting a crawled corpus. Returns the
    * input rows plus (component, split); split fractions follow
    * [[Sampling.splitByPortableHash]] semantics (fractions summing below 1
    * subsample the corpus cluster-coherently).
    */
  def splitByNearDupCluster(docs: DataFrame, idCol: String, textCol: String,
      fractions: Seq[(String, Double)], shingleSize: Int = 3, numPerm: Int = 64,
      bands: Int = 16, threshold: Double = 0.6, maxBucket: Int = 1024): DataFrame = {
    val clusters = nearDupClusters(docs, idCol, textCol, shingleSize, numPerm,
      bands, threshold, maxBucket)
    val assigned = Sampling.splitByPortableHash(clusters, col("component"), fractions)
    docs.join(assigned.withColumnRenamed("id", idCol), idCol)
  }

  /** Embedding-cosine near-duplicate pairs: hyperplane-LSH candidate
    * generation (the [[Similarity]] bucketing — independent tables +
    * query-side flip-1-bit probes) followed by exact-cosine verification.
    * The analogue of [[minhashDupPairs]] for dense vectors: O(n·tables)
    * bucket rows and bucket-local pairing instead of the O(n²) cross join.
    *
    * Parameter guidance: candidate recall for a pair at angle θ is
    * 1-(1-p_t)^tables with p_t = p^bits + bits·p^(bits-1)(1-p) (multi-probe)
    * and p = 1-θ/π; pick bits from the corpus size (bucket ≈ n/2^bits) and
    * buy recall with tables/probes. Sizing bits this way bounds the
    * EXPECTED bucket, but byte-identical vectors share a bucket at any
    * bits — run [[exactDedup]] on the vector bytes first if the corpus
    * can contain exact duplicates (AQE skew-join is the backstop). The hyperplane family is FIXED, so for
    * a given corpus the candidate set — and therefore the result — is
    * deterministic (q39's oracle certifies it equals the exact O(n²)
    * ground truth at threshold 0.4 on the test corpus).
    *
    * Returns (id_a, id_b, cosine) with id_a < id_b, cosine >= threshold.
    *
    * `nRows` (when the caller knows it — q39 reads parquet footers):
    * verification joins the candidate-pair stream back to the vectors by
    * id, and AQE cannot pick broadcast there on its own — the shared
    * shuffle erases plan statistics, and even with stats the corpus sits
    * above the 10 MB default threshold long before it stops fitting in an
    * executor. Left as sort-merge, BOTH verify joins sort the multi-10M-
    * row candidate stream; that cliff measured 57 s vs ~20 s at the sf1
    * probe (the r8→r9 exponent drift from 1.19 to 1.37 was exactly the
    * vector table crossing 10 MB). With nRows given and n·dim·8 ≤ 256 MB
    * the vector side is broadcast explicitly — trivially held by any real
    * executor; beyond that the sort-merge shape is the correct one.
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bits: Int = 4, tables: Int = 16,
      multiProbe: Boolean = true, nRows: Option[Long] = None): DataFrame = {
    val v0 = df.select(col(idCol).as("id"), Similarity.toDouble(col(vecCol)).as("v"))
    // one native-kernel array column for all table signatures (janino-safe,
    // compiled once — see Similarity.sigsNative). Read by the home-bucket
    // explode, the probe explode AND (v only) both verify-join sides —
    // ONE shared id shuffle that all four consumer stages read
    // ([[sharedShuffle]]) instead of a persist that would outlive the
    // returned plan; the signature kernel runs once per action and no
    // storage is leaked (DedupLifecycleSpec). Same lifecycle rule as
    // minhashDupPairs.
    val withSigs = sharedShuffle(
      v0.withColumn("__sigs", Similarity.sigsNative(col("v"), dim, bits, tables)),
      col("id"))
    val v = withSigs.select(col("id"), col("v"))
    val home = withSigs.withColumn("tb", explode(array((0 until tables).map { t =>
        struct(lit(t).as("t"), element_at(col("__sigs"), t + 1).as("bucket"))
      }: _*)))
      .select(col("id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    // probes on ONE side only: pair (a,b) is caught when a probe bucket of
    // either member hits the other's home bucket (symmetric via least/greatest)
    val probed = withSigs.withColumn("tb", explode(array((0 until tables).flatMap { t =>
        val sig = element_at(col("__sigs"), t + 1)
        val probes = sig +: (if (multiProbe)
          (0 until bits).map(i => sig.bitwiseXOR(lit(1L << i))) else Seq.empty)
        probes.map(b => struct(lit(t).as("t"), b.as("bucket")))
      }: _*)))
      .select(col("id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    // probe hits are SYMMETRIC (sig_a == sig_b, or 1-bit flip: a's flip
    // reaching b's home implies b's same flip reaches a's home), so every
    // unordered pair would surface in both orientations — requiring
    // id < id generates each exactly once and HALVES the raw candidate
    // volume feeding the distinct, the operator's dominant stage.
    val candidates = probed.as("l")
      .join(home.as("r"),
        col("l.t") === col("r.t") && col("l.bucket") === col("r.bucket") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val vv = v.select(col("id"), col("v"))
    // see the nRows scaladoc: explicit broadcast under 256 MB of vectors
    val bc: DataFrame => DataFrame =
      if (nRows.exists(n => n * dim * 8L <= (256L << 20))) broadcast else identity
    candidates
      .join(bc(vv.withColumnRenamed("id", "id_a").withColumnRenamed("v", "v_a")), "id_a")
      .join(bc(vv.withColumnRenamed("id", "id_b").withColumnRenamed("v", "v_b")), "id_b")
      .withColumn("cosine", Similarity.cosineNative(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): duplicate detection in
    * EMBEDDING space — partition the corpus by a small centroid set,
    * compare vectors only WITHIN their cluster, and keep one
    * representative per semantic-duplicate group. The cluster
    * restriction is the published approximation (cross-cluster pairs
    * are never examined) — it is what turns the O(n²) comparison into
    * k independent O((n/k)²) problems.
    *
    * Assignment is max-cosine to the centroid list, FIRST index winning
    * ties — the same exact-cosine arithmetic ([[Similarity.cosineNative]],
    * left-fold accumulation, zero-norm → 0.0) as the pair verification,
    * so the whole decision chain (assignment, pair threshold, component
    * labels, representatives) replays in portable SQL and q76
    * hash-matches all of it. Centroids come from the caller:
    * [[Ivf.trainCentroids]] for production (spherical Lloyd — better
    * balanced cells), or any deterministic seed set where an external
    * system must reproduce the assignment.
    *
    * Scale shape: assignment is a narrow map (k fused-kernel cosines per
    * row — the scores array is referenced twice, so ~2k·dim multiplies;
    * k is the COARSE quantizer count, far below corpus size). Pair
    * generation reuses [[bucketPairRows]]'s deterministic triangle
    * split with the vector as the carried payload — a mega-cluster
    * spreads its O(n²) pairing over ⌈n/maxBucket⌉² bounded tasks, and
    * vectors ride the pair rows, so no join-back touches the corpus
    * twice. Components run on the adaptive [[connectedComponents]]
    * (driver union-find under the edge cut, pointer-doubling above).
    *
    * Returns (id, cluster, component, keep): `cluster` is the 1-based
    * centroid index, `component` the min-id semantic-duplicate group,
    * `keep` = 1 exactly on the group representative (the min id).
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], threshold: Double,
      maxBucket: Int = 1024): DataFrame = {
    require(centroids.nonEmpty, "need at least one centroid")
    val v0 = df.select(col(idCol).as("id"),
      Similarity.toDouble(col(vecCol)).as("v"))
    val scores = array(centroids.map(c =>
      Similarity.cosineNative(col("v"), typedLit(c))): _*)
    val assigned = v0.withColumn("__scores", scores)
      .withColumn("cluster",
        array_position(col("__scores"), array_max(col("__scores"))))
      .select(col("id"), col("v"), col("cluster"))
    val pairs = bucketPairRows(
      assigned.select(col("id"), col("cluster").as("bk"), col("v").as("pv")),
      maxBucket)
      .filter(Similarity.cosineNative(col("pv_l"), col("pv_r")) >= threshold)
      .select(col("id_a"), col("id_b"))
    connectedComponents(assigned.select(col("id")), pairs)
      .join(assigned.select(col("id"), col("cluster")), "id")
      .select(col("id"), col("cluster"), col("component"),
        (col("id") === col("component")).cast("long").as("keep"))
  }

  /** The default token-hash parameter for the hash-generic operators:
    * xxhash64 per token (fast, 64 well-mixed bits, engine-specific).
    */
  def xxhashTokens(toks: Column): Column = transform(toks, t => xxhash64(t))

  /** Native-codegen SimHash over a token array: hash each token once, then a
    * tight 64-bit vote loop (graft.functions.SimHash64). Bit-identical to
    * [[simhash]], which re-evaluates `xxhash64(t)` per bit (64× the hashing)
    * inside interpreted HOFs — the HOF form stays as the equality reference.
    */
  def simhashNative(toks: Column): Column =
    graft.functions.NativeExpressions.simhash64(xxhashTokens(toks))

  /** The engine-PORTABLE token-hash parameter (two affine-mod-P codepoint
    * folds packed to 62 bits, native kernel — see
    * [[graft.functions.NativeExpressions.portableHash62]]): same single-pass
    * cost as [[xxhashTokens]], but exactly mirrorable in DuckDB SQL, so the
    * SimHash voting / winnowing / pigeonhole logic built on it gets a full
    * hash-match oracle (q26/q40) instead of a rows-only check.
    */
  def portableTokenHashes(toks: Column): Column =
    graft.functions.NativeExpressions.portable_token_hashes(toks)

  private val FpSeed = 17L

  /** Affine-mod-P shingle hashes over each run of `n` consecutive token
    * hashes — the engine-portable counterpart of [[hashedShingles]] (whose
    * rotate-XOR combine needs 64-bit wrapping shifts, inexpressible in
    * portable SQL): fold (acc·31 + (x mod P)) mod P from seed 17, exact on
    * any engine because every intermediate stays below 2^37. Docs shorter
    * than `n` tokens fold all hashes into one shingle, like
    * [[hashedShingles]].
    */
  def portableShingles(th: Column, n: Int): Column = {
    def step(acc: Column, x: Column): Column =
      pmod(acc * 31 + pmod(x, lit(Prime)), lit(Prime))
    when(size(th) >= n,
      transform(sequence(lit(1), size(th) - (n - 1)),
        i => (0 until n).foldLeft(lit(FpSeed): Column)((acc, j) =>
          step(acc, element_at(th, i + j)))))
      .otherwise(array(aggregate(th, lit(FpSeed), step)))
  }

  /** Winnowing bottom-1 fingerprint over portable shingles — the
    * oracle-verifiable counterpart of [[TextOps.fingerprintFromHashes]].
    * Native one-pass kernel; `array_min(portableShingles(th, n))` is its
    * bit-identical interpreted reference (parity spec).
    */
  def portableFingerprint(th: Column, n: Int = 3): Column =
    graft.functions.NativeExpressions.portable_shingle_min(th, n)

  /** SimHash near-duplicate pairs within Hamming distance `maxHamming`,
    * via the pigeonhole block index: the 64 signature bits split into
    * maxHamming+1 disjoint blocks — any pair differing in ≤ maxHamming
    * bits must agree EXACTLY on at least one block (≤ maxHamming blocks
    * can contain a differing bit). Self-equi-join on (block index, block
    * value) — one shuffle, block-bucket-local pairs, O(n·blocks) keys —
    * then exact `bit_count(xor)` verification. The Hamming-ball analogue
    * of [[minhashDupPairs]]'s band join; recall is exactly 1 by
    * construction (pigeonhole, not probability).
    *
    * The SimHash signature is generic over the per-token hash
    * (`tokenHashes`): [[xxhashTokens]] by default,
    * [[portableTokenHashes]] when the result must be mirrorable on
    * another engine (q40's oracle).
    *
    * Returns (id_a, id_b, hamming) with id_a < id_b, hamming <= maxHamming.
    */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1024,
      tokenHashes: Column => Column = xxhashTokens): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming in [0, 64)")
    val blocks = maxHamming + 1
    // block widths partition all 64 bits (remainder spread over the first)
    val widths = (0 until blocks).map(b => 64 / blocks + (if (b < 64 % blocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    // The 8-byte signature RIDES the block rows as the bucketPairRows
    // payload (the SemDeDup pattern), so verification is a filter on the
    // matched pair row — no join-back, and therefore no multi-branch
    // consumption of the (id, sig) frame that would need a persist (the
    // r6 "library callers leak storage" defect). The doc text is
    // tokenized and hashed exactly once per action: bucketPairRows' own
    // shared bk exchange covers its two internal consumers.
    val sh = docs.select(col(idCol).as("id"),
      graft.functions.NativeExpressions.simhash64(
        tokenHashes(TextOps.tokens(col(textCol)))).as("sig"))
    val keyed = sh.withColumn("bk", explode(array((0 until blocks).map { b =>
        val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1
        struct(lit(b).as("b"),
          call_function("shiftrightunsigned", col("sig"), lit(offsets(b)))
            .bitwiseAND(lit(mask)).as("v"))
      }: _*)))
      .select(col("id"), col("bk"), col("sig").as("pv"))
    // identical docs share ALL blocks — the same boilerplate mega-bucket
    // hazard as the MinHash band join, so the same triangle split applies;
    // a pair agreeing on several blocks surfaces once per agreeing block,
    // and hamming is a pure function of the pair, so distinct() on the
    // final triple dedups occurrences exactly as the old pair-set distinct
    // did.
    bucketPairRows(keyed, maxBucket)
      .withColumn("hamming",
        bit_count(col("pv_l").bitwiseXOR(col("pv_r"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** Character-level common-run pairs: every pair of documents sharing an
    * EXACT substring run of length ≥ k+w−1 characters — the character-
    * level complement of the token-level MinHash/SimHash family, catching
    * copied boilerplate, license blocks, and template spans that token
    * Jaccard dilutes away (the defect class Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", 2021 targets with
    * substring dedup).
    *
    * Scale path is winnowing (Schleimer, Wilkerson & Aiken, "Winnowing:
    * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the
    * MOSS sampler): hash every k-gram (one narrow pass, O(chars)/doc),
    * then per sliding window of w consecutive k-gram hashes keep the
    * minimum. Any shared run of length t = k+w−1 contains one FULL
    * hash window inside the identical region of both documents, and the
    * window minimum is a function of window content alone — so both
    * documents select the same fingerprint and meet in its bucket:
    * candidate recall is 1 by construction, not probabilistically. The
    * selected fingerprints are ~2/(w+1) of positions (the winnowing
    * density bound), so the candidate join shuffles a sampled (id,
    * fingerprint) stream, never full texts.
    *
    * Verification is FUSED into the candidate join: each selection
    * carries its k-gram and up to w−1 code points of context on either
    * side (≤ 2(w−1)+k chars — never the document), and a matched
    * occurrence pair is a real t-run iff the k-grams match as characters
    * and common-suffix(left) + common-prefix(right) ≥ w−1. That
    * character check removes hash collisions and sub-t coincidences, so
    * the output is exactly "pairs sharing a t-gram" — the set the DuckDB
    * oracle (q71) computes the O(corpus²) way — while the join shuffles
    * only fingerprint-sized rows (an earlier formulation joined each
    * candidate against full t-gram arrays: 200× the verify traffic). Hot
    * fingerprints (a template phrase across thousands of docs) hit the
    * same mega-bucket hazard as MinHash bands and reuse the same
    * deterministic triangle split ([[bucketPairRows]]).
    *
    * Returns (id_a, id_b) with id_a < id_b, ordered by the caller.
    */
  def commonRunPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, w: Int = 8, maxBucket: Int = 1024): DataFrame = {
    require(k >= 2, s"k-gram size must be >= 2: $k")
    require(w >= 1, s"winnow window must be >= 1: $w")
    // one narrow kernel pass: winnowed (hash, left, mid, right) selections.
    // NOT persisted (the r6 "library callers leak storage" defect):
    // bucketPairRows' internal shared bk exchange is the materialization
    // point — its bucket-size aggregate and both triangle sides read the
    // same shuffle files (ReusedExchange / AQE stage cache), so the
    // winnow kernel runs exactly once per action and nothing stays
    // registered in the block manager (DedupLifecycleSpec).
    val fp = graft.core.Par.ensure(docs).select(col(idCol).as("id"),
        explode(graft.functions.NativeExpressions
          .winnow_contexts(col(textCol), k, w)).as("f"))
      .select(col("id"), col("f.h").as("bk"),
        struct(col("f.l"), col("f.m"), col("f.r")).as("pv"))
    // fused candidate + verify: for each matched occurrence pair of a
    // shared fingerprint, the pair shares a t-run IFF the k-grams match
    // as characters and the left/right contexts extend the match to
    // ≥ k+w−1 total — suffix(left) + prefix(right) ≥ w−1. The winnowing
    // guarantee makes "∃ occurrence pair passing this check" EXACTLY
    // "∃ shared t-run" (a shared run always selects one of its own
    // windows' minima identically in both documents), so no t-gram
    // arrays or full texts are ever joined.
    bucketPairRows(fp, maxBucket)
      .filter(graft.functions.NativeExpressions
        .run_extends(col("pv_l"), col("pv_r"), w - 1))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact duplicate-span detection (the substring-dedup signal of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"):
    * slide a `gramChars`-character window with `stride` over every
    * document, hash each gram, and report per document how many of its
    * grams also occur elsewhere in the corpus (including repeats within
    * the same document — self-repetition is a removal signal too).
    *
    * Scale shape: the only shuffle is the groupBy on the gram hash — an
    * (md5, count) aggregate with map-side partial combine, so the shuffled
    * payload is hashes, never text. The gram→doc join runs on the same
    * hash key; the per-doc rollup reuses the doc_id shuffle. A full
    * suffix-array build (the paper's exact formulation) doesn't
    * distribute; stride-sampled fixed grams are the standard scalable
    * surrogate — stride ≤ gramChars/2 guarantees any duplicated span of
    * ≥ 1.5·gramChars characters contains at least one shared gram.
    *
    * Short documents (length < gramChars) contribute one whole-document
    * gram, so exact-dup shorts still count. Returns
    * (doc_id, n_grams, n_dup_grams, dup_ratio).
    */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      gramChars: Int = 40, stride: Int = 10): DataFrame = {
    require(gramChars > 0 && stride > 0,
      s"need positive gramChars/stride: $gramChars/$stride")
    val starts = sequence(lit(1),
      greatest(length(col(textCol)) - gramChars + 1, lit(1)), lit(stride))
    // the gram stream feeds BOTH the occurrence count and the join-back
    // probe: freeze it through one __h shuffle so the text scan +
    // substring/md5 kernel runs once, not once per consumer branch
    val grams = sharedShuffle(graft.core.Par.ensure(docs)
      .select(col(idCol).as("doc_id"), explode(starts).as("__start"),
        col(textCol))
      .select(col("doc_id"),
        md5(substring(col(textCol), col("__start"), lit(gramChars))
          .cast("binary")).as("__h")), col("__h"))
    val counts = grams.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
    grams.join(counts, "__h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__n") > 1L, 1L).otherwise(0L)).as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        round(col("n_dup_grams").cast("double") /
          col("n_grams").cast("double"), 6).as("dup_ratio"))
  }

  /** The APPLY step of [[duplicateSpans]] (Lee et al.'s ExactSubstr
    * removal): excise every stride-sampled gram whose hash occurs more
    * than once in the corpus, with overlapping/touching gram intervals
    * merged into maximal spans, and return the cleaned text. This is the
    * operator a dedup pipeline actually runs after the q91 signal — the
    * duplicated boilerplate is cut out, the unique prose survives.
    *
    * Scale shape: identical to the detector up to the join-back — the
    * gram stream freezes through ONE hash shuffle, counts are map-side
    * combined, and only DUPLICATED gram start positions (ints) travel to
    * the per-doc collect. The excision itself is a single narrow fold
    * per document: starts are sorted, gram ends are monotone (equal
    * lengths), so merged-interval cutting is one left-to-right pass —
    * kept segments concatenate into the output buffer, `pos` rides the
    * running island end. Text shuffles exactly once (the doc-keyed left
    * join), never through the gram exchange.
    *
    * Returns (doc_id, n_spans_removed, n_chars_removed, text_clean) for
    * EVERY document (clean docs pass through with 0/0). A short doc
    * duplicated in full (its single whole-doc gram shared) cleans to "".
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      gramChars: Int = 40, stride: Int = 10): DataFrame = {
    require(gramChars > 0 && stride > 0,
      s"need positive gramChars/stride: $gramChars/$stride")
    val g = gramChars
    val starts = sequence(lit(1),
      greatest(length(col(textCol)) - g + 1, lit(1)), lit(stride))
    val grams = sharedShuffle(docs
      .select(col(idCol).as("doc_id"), explode(starts).as("__s"),
        col(textCol))
      .select(col("doc_id"), col("__s"),
        md5(substring(col(textCol), col("__s"), lit(g))
          .cast("binary")).as("__h")), col("__h"))
    val counts = grams.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
    val dupStarts = grams.join(counts, "__h")
      .filter(col("__n") > 1L)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("__s"))).as("__ds"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(dupStarts, Seq("doc_id"), "left")
      .withColumn("__ds", coalesce(col("__ds"), array().cast("array<int>")))
      .withColumn("__st", aggregate(col("__ds"),
        struct(lit("").as("acc"), lit(1).as("pos"), lit(0L).as("k")),
        (st, s) => struct(
          when(s > st.getField("pos"),
            concat(st.getField("acc"), col("__text")
              .substr(st.getField("pos"), s - st.getField("pos"))))
            .otherwise(st.getField("acc")).as("acc"),
          (s + g).as("pos"),
          // a new island opens on the very first dup gram, and whenever a
          // gap precedes this one; s <= pos extends the current island
          (st.getField("k") + when(st.getField("k") === 0L || s > st.getField("pos"), 1L)
            .otherwise(0L)).as("k"))))
      .select(col("doc_id"),
        col("__st.k").as("n_spans_removed"),
        concat(col("__st.acc"), col("__text").substr(col("__st.pos"),
          greatest(length(col("__text")) - col("__st.pos") + 1, lit(0))))
          .as("text_clean"),
        col("__text"))
      .select(col("doc_id"), col("n_spans_removed"),
        (length(col("__text")) - length(col("text_clean"))).cast("long")
          .as("n_chars_removed"),
        col("text_clean"))
  }

  /** EXACT duplicate-span detection at FULL fidelity (Lee et al. 2022's
    * ExactSubstr semantics, no stride floor): a byte of a document is
    * duplicated iff SOME length-≥ minLen substring covering it occurs
    * elsewhere in the corpus (another position of any document,
    * including the same one) — and that holds iff some length-EXACTLY-
    * minLen window covering it occurs ≥ 2 times (any longer duplicated
    * substring contains duplicated minLen-windows covering all its
    * bytes; a duplicated minLen-window IS a duplicated substring). So
    * the exact cover is computed from every-position minLen-grams —
    * [[duplicateSpans]]'s stride sampling can only see spans ≥
    * 1.5×gram; this sees every duplicated substring ≥ minLen, down to
    * the minimal ones.
    *
    * Distributed suffix-grouping in two passes (the scalable stand-in
    * for the paper's suffix array, which doesn't distribute):
    *
    *  1. hash pass — every position's minLen-gram xxhash64, groupBy
    *     hash with map-side combine: the exchange carries 16-byte
    *     (hash, count) partials, never gram strings (minLen× less
    *     traffic than grouping strings directly);
    *  2. exact verify — only positions whose HASH repeats re-extract
    *     their actual gram string (candidate volume ≈ true duplicates +
    *     the ~2⁻⁶⁴ collision share) and group on the STRING: equal
    *     strings always share a hash, so every true duplicate reaches
    *     this group intact, and a hash collision between different
    *     strings is split here instead of creating a phantom span —
    *     exactness does not rest on 64-bit injectivity.
    *
    * Duplicated positions then merge into maximal spans per document
    * (overlapping/touching [s, s+minLen) intervals — the
    * [[removeDuplicateSpans]] island convention: a gap needs
    * s − prev > minLen). Documents shorter than minLen have no
    * length-minLen substring and yield no rows, exactly the paper's
    * contract. Returns (doc_id, span_start, span_len, n_positions) —
    * one row per maximal duplicated span.
    */
  def exactDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 30): DataFrame = {
    val L = minLen
    val dupPos = exactDupPositions(docs, idCol, textCol, L)
      .select(col("doc_id"), col("__s").cast("long").as("s"))
    // maximal spans: gaps-and-islands over sorted positions per doc
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    dupPos
      .withColumn("__brk",
        when(col("s") - lag(col("s"), 1).over(byDoc) <= L, 0L)
          .otherwise(1L))
      .withColumn("__island", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("__island"))
      .agg(min(col("s")).as("span_start"),
        (max(col("s")) + L - min(col("s"))).as("span_len"),
        count(lit(1)).as("n_positions"))
      .select(col("doc_id"), col("span_start"), col("span_len"),
        col("n_positions"))
  }

  /** The shared EXACT duplicated-position pass of [[exactDuplicateSpans]]
    * and [[removeExactDuplicateSpans]]: every start whose length-L gram
    * occurs ≥ 2 times corpus-wide, certified on the actual STRING (the
    * xxhash64 pass only prefilters — see the two-pass rationale on
    * [[exactDuplicateSpans]]). Docs shorter than L have no length-L
    * substring and yield no rows. Returns (doc_id, __s int, 1-based).
    */
  private def exactDupPositions(docs: DataFrame, idCol: String,
      textCol: String, L: Int): DataFrame = {
    require(L > 0, s"minLen must be positive: $L")
    // pass-1 hashes come from the O(n) rolling kernel
    // ([[graft.functions.GramHashes]]), not xxhash64(substring(…)) per
    // position (O(n·L) + an L-char allocation per gram — it dominated
    // the q218 profile 7.5 s of 9). Any deterministic
    // equal-strings-equal-hash function works here: the hash only
    // prefilters, pass 2 verifies the actual strings.
    val grams = sharedShuffle(graft.core.Par.ensure(docs)
      .where(length(col(textCol)) >= L)
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.NativeExpressions
          .gram_hashes(col(textCol), L)).as(Seq("__p", "__h")))
      .select(col("doc_id"), (col("__p") + 1).as("__s"), col("__h")),
      col("__h"))
    val hotHashes = grams.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1L).select(col("__h"))
    // candidates re-extract their gram STRING for the exact group —
    // doc-keyed join back to the text, then string-keyed aggregate
    val cand = grams.join(hotHashes, "__h")
      .select(col("doc_id"), col("__s"))
      .join(docs.select(col(idCol).as("doc_id"),
        col(textCol).as("__text")), "doc_id")
      .select(col("doc_id"), col("__s"),
        substring(col("__text"), col("__s"), lit(L)).as("__g"))
    val gramCounts = cand.groupBy(col("__g")).agg(count(lit(1)).as("__gn"))
      .where(col("__gn") > 1L).select(col("__g"))
    cand.join(gramCounts, "__g").select(col("doc_id"), col("__s"))
  }

  /** The APPLY step of [[exactDuplicateSpans]] — Lee et al.'s ExactSubstr
    * REMOVAL at full fidelity: excise every byte covered by a duplicated
    * substring of length ≥ minLen (exact positions from the two-pass
    * hash+string-verify derivation, no stride floor), overlapping/
    * touching intervals merged, and return the cleaned text. The
    * [[removeDuplicateSpans]] contract otherwise: every doc returns a
    * row (clean docs pass through 0/0); a doc duplicated in full cleans
    * to "". Docs shorter than minLen cannot be duplicated at length ≥
    * minLen and always pass through.
    *
    * Scale shape: the position derivation is [[exactDupPositions]]
    * (16-byte hash partials through the exchange, candidates output-
    * sized); the cut is [[removeDuplicateSpans]]'s single narrow
    * left-to-right fold per document — text shuffles exactly once (the
    * doc-keyed join), never through the gram exchange.
    *
    * Returns (doc_id, n_spans_removed, n_chars_removed, text_clean).
    */
  def removeExactDuplicateSpans(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int = 30): DataFrame = {
    val g = minLen
    val dupStarts = exactDupPositions(docs, idCol, textCol, g)
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(col("__s"))).as("__ds"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(dupStarts, Seq("doc_id"), "left")
      .withColumn("__ds", coalesce(col("__ds"), array().cast("array<int>")))
      .withColumn("__st", aggregate(col("__ds"),
        struct(lit("").as("acc"), lit(1).as("pos"), lit(0L).as("k")),
        (st, s) => struct(
          when(s > st.getField("pos"),
            concat(st.getField("acc"), col("__text")
              .substr(st.getField("pos"), s - st.getField("pos"))))
            .otherwise(st.getField("acc")).as("acc"),
          (s + g).as("pos"),
          // a new island opens on the very first dup gram, and whenever a
          // gap precedes this one; s <= pos extends the current island
          (st.getField("k") + when(st.getField("k") === 0L ||
            s > st.getField("pos"), 1L).otherwise(0L)).as("k"))))
      .select(col("doc_id"),
        col("__st.k").as("n_spans_removed"),
        concat(col("__st.acc"), col("__text").substr(col("__st.pos"),
          greatest(length(col("__text")) - col("__st.pos") + 1, lit(0))))
          .as("text_clean"),
        col("__text"))
      .select(col("doc_id"), col("n_spans_removed"),
        (length(col("__text")) - length(col("text_clean"))).cast("long")
          .as("n_chars_removed"),
        col("text_clean"))
  }

  /** LSH quality evaluation: [[minhashDupPairs]]' output measured
    * against [[ngramJaccardPairs]]' exact recall-1 ground truth at the
    * SAME shingle definition and threshold — the validation a
    * production dedup pipeline runs before trusting a banding config
    * on a new corpus or threshold (banding recall is
    * corpus-similarity-profile dependent; this measures it instead of
    * assuming the (1−(1−t^r)^b) curve transfers).
    *
    * Both operands are the existing distributed operators (nothing
    * here is O(n²) — the exact side is the prefix-filtered AllPairs
    * join), and the three counts collapse to broadcast 1-row frames.
    * Precision is structurally 1 when both sides share the shingle
    * basis (LSH candidates are exact-verified), so a sub-1 precision
    * or recall is a regression alarm, not a tuning knob.
    *
    * Output: one row (threshold, n_true, n_found, n_hit, precision,
    * recall).
    */
  def lshRecallEval(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numPerm: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = 1024): DataFrame = {
    val found = minhashDupPairs(docs, idCol, textCol, shingleSize,
      numPerm, bands, threshold, maxBucket)
      .select(col("id_a"), col("id_b"))
    val truth = ngramJaccardPairs(docs, idCol, textCol, shingleSize,
      threshold, maxBucket)
      .select(col("id_a"), col("id_b"))
    val nT = truth.agg(count(lit(1)).as("n_true"))
    val nF = found.agg(count(lit(1)).as("n_found"))
    val nH = truth.join(found, Seq("id_a", "id_b"), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
    nT.crossJoin(nF).crossJoin(nH)
      .select(lit(threshold).as("threshold"), col("n_true"),
        col("n_found"), col("n_hit"),
        when(col("n_found") > 0L,
          round(col("n_hit").cast("double") /
            col("n_found").cast("double"), 6)).as("precision"),
        when(col("n_true") > 0L,
          round(col("n_hit").cast("double") /
            col("n_true").cast("double"), 6)).as("recall"))
  }

  /** SimHash 64-bit fingerprint over a token array: per-bit vote of token
    * hashes, sign → bit. Near-dups have small Hamming distance.
    * Reference formulation — prefer [[simhashNative]] on hot paths.
    */
  def simhash(toks: Column): Column = {
    val votes = aggregate(
      toks,
      array_repeat(lit(0L), 64),
      (acc, t) => zip_with(acc,
        transform(sequence(lit(0), lit(63)),
          i => when(call_function("shiftright", xxhash64(t), i).bitwiseAND(1L) === 1L, 1L)
            .otherwise(-1L)),
        (a, v) => a + v))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(0L)),
      lit(0L), (acc, bit) => acc.bitwiseOR(bit))
  }
}
