package graft.scale

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: token
  * counting, quality scoring, language-ID, document fingerprinting.
  *
  * All pure column expressions (whole-stage codegen, no UDFs) — each runs as
  * a narrow map over the documents scan, so they scale linearly with no
  * shuffle at any data size.
  */
object TextOps {

  /** Whitespace tokenization, empty tokens removed: the non-empty pieces
    * of `split(text, "\\s+")`, from one compiled kernel
    * ([[graft.functions.WhitespaceTokens]]).
    */
  def tokens(text: Column): Column =
    graft.functions.NativeExpressions.whitespace_tokens(text)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer pattern, restricted to RE2-compatible
    * syntax (no lookahead) so the SAME pattern runs on Spark (java.util
    * .regex) and DuckDB (RE2) with identical match counts: contractions,
    * optional-space letter runs, optional-space digit runs, optional-space
    * punctuation runs. Whitespace between matches is skipped by the
    * scanner (no whitespace branch), so the match count IS the token
    * count.
    */
  val BpeTokenPattern: String =
    "'(?:s|d|m|t|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"

  /** BPE-ish token count: number of pre-tokenizer matches — the standard
    * cheap estimator for "how many BPE tokens will this document cost"
    * without a vocab file. Narrow codegen'd map (regexp_count), no
    * shuffle.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeTokenPattern))

  /** Mean token length (null on empty docs). */
  def avgTokenLen(toks: Column): Column = {
    val totalLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    when(size(toks) > 0, totalLen.cast("double") / size(toks).cast("double"))
  }

  /** Count of the punctuation characters `.,;:!?` — as length minus the
    * length with those characters translated away (codegen'd `translate`
    * instead of a full-document `regexp_replace` rewrite; identical counts).
    */
  def punctCount(text: Column): Column =
    length(text) - length(translate(text, ".,;:!?", ""))

  /** Punctuation characters / total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      punctCount(text).cast("double") / length(text).cast("double"))

  /** Per-language stopword lists for the heuristic scorer. Tiny on purpose:
    * broadcast as literals into the expression (no join).
    */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "por"),
    "fr" -> Seq("le", "la", "de", "et", "un", "les", "des", "en", "du", "que"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"),
    "zh" -> Seq("de", "le", "shi", "bu", "wo", "you", "zai", "ta", "men", "zhe"))

  def stopwordHits(toks: Column, lang: String): Column =
    size(filter(toks, t => t.isin(Stopwords(lang).map(lit): _*)))

  /** Ratio of (any-language) stopwords among tokens. */
  def stopwordRatio(toks: Column): Column = {
    val all = Stopwords.values.flatten.toSeq.distinct.sorted
    when(size(toks) > 0,
      size(filter(toks, t => t.isin(all.map(lit): _*))).cast("double") /
        size(toks).cast("double"))
  }

  /** Composite quality score in [0,1]: length sweet-spot, moderate
    * punctuation, nonzero stopword mass (mirrors the reference's rule-based
    * scoring style, mrp_website.py:184-204, applied to text quality).
    */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val lenScore = least(size(toks).cast("double") / lit(50.0), lit(1.0))
    val punct = coalesce(punctRatio(text), lit(0.0))
    val punctScore = when(punct <= 0.1, lit(1.0)).otherwise(
      greatest(lit(0.0), lit(1.0) - (punct - lit(0.1)) * lit(5.0)))
    val stopScore = least(coalesce(stopwordRatio(toks), lit(0.0)) * lit(4.0), lit(1.0))
    (lenScore * lit(0.4) + punctScore * lit(0.3) + stopScore * lit(0.3))
  }

  /** Language-ID by stopword voting: argmax over per-language hit counts with
    * a deterministic preference order on ties.
    */
  def langId(toks: Column): Column = {
    val langs = Seq("en", "es", "fr", "de", "zh")
    val hits = langs.map(l => l -> stopwordHits(toks, l))
    // first language whose count >= all others (ties -> earlier in list)
    val maxHits = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldLeft(when(lit(false), "und")) { case (acc, (l, h)) =>
      acc.when(h === maxHits, l)
    }.otherwise("und")
  }

  /** Fixed language order for the stats-array layout (and the langId tie
    * preference — first language with the max vote wins).
    */
  val Langs: Seq[String] = Seq("en", "es", "fr", "de", "zh")

  /** Single-pass native statistics array over a token column (see
    * [[graft.functions.TextStats]]): materialize ONCE with `withColumn`,
    * then derive every quality/language metric from it. Layout:
    * [1]=Σ token chars, [2]=any-stopword hits, [3..7]=per-language hits
    * (1-based element_at indexing).
    */
  def stats(toks: Column): Column =
    graft.functions.NativeExpressions.text_stats(toks, Stopwords, Langs)

  /** avgTokenLen from a materialized stats array (== [[avgTokenLen]]). */
  def avgTokenLenFromStats(st: Column, nToks: Column): Column =
    when(nToks > 0, element_at(st, 1).cast("double") / nToks.cast("double"))

  /** stopwordRatio from a materialized stats array (== [[stopwordRatio]]). */
  def stopwordRatioFromStats(st: Column, nToks: Column): Column =
    when(nToks > 0, element_at(st, 2).cast("double") / nToks.cast("double"))

  /** qualityScore from a materialized stats array and punct-ratio column —
    * identical arithmetic (same operation order) to [[qualityScore]], minus
    * 4 interpreted array passes and a duplicate punctuation scan.
    */
  def qualityScoreFromStats(punctRatioCol: Column, st: Column, nToks: Column): Column = {
    val lenScore = least(nToks.cast("double") / lit(50.0), lit(1.0))
    val punct = coalesce(punctRatioCol, lit(0.0))
    val punctScore = when(punct <= 0.1, lit(1.0)).otherwise(
      greatest(lit(0.0), lit(1.0) - (punct - lit(0.1)) * lit(5.0)))
    val stopScore = least(
      coalesce(stopwordRatioFromStats(st, nToks), lit(0.0)) * lit(4.0), lit(1.0))
    (lenScore * lit(0.4) + punctScore * lit(0.3) + stopScore * lit(0.3))
  }

  /** langId from a materialized stats array (== [[langId]]: argmax with
    * ties to the earlier language in [[Langs]]).
    */
  def langIdFromStats(st: Column): Column = {
    val hits = Langs.zipWithIndex.map { case (l, i) => l -> element_at(st, 3 + i) }
    val maxHits = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldLeft(when(lit(false), "und")) { case (acc, (l, h)) =>
      acc.when(h === maxHits, l)
    }.otherwise("und")
  }

  /** Content-defined fingerprint: min of shingle hashes (winnowing-style
    * bottom sketch, k=1). Equal fingerprints => likely near-duplicate heads;
    * used as a cheap pre-cluster key before pairwise verification.
    *
    * Takes a MATERIALIZED per-token-hash column (`transform(toks, xxhash64)`
    * written out via `withColumn` first) and builds shingles from the hashes
    * (Dedup.hashedShingles) — no shingle strings are ever concatenated, which
    * dominated the original string-shingle profile 8:1 over the hash math.
    * array_min over the rotate-XOR multiset equals min over the distinct set,
    * so no array_distinct is needed.
    */
  def fingerprintFromHashes(tokenHashes: Column, n: Int = 3): Column =
    array_min(Dedup.hashedShingles(tokenHashes, n))

  /** Character-level rolling-hash fingerprint (winnowing bottom-1 over
    * `window`-byte Rabin-Karp hashes; native codegen kernel). Unlike the
    * shingle fingerprint it is tokenization-insensitive and catches
    * byte-level near-dups (whitespace/punctuation edits).
    */
  def rollingFingerprint(text: Column, window: Int = 32): Column =
    graft.functions.NativeExpressions.rolling_hash_min(text, window)

  /** Exact top-k tokens WITHOUT a corpus-wide distinct-token aggregation —
    * the scale path for q23's `groupBy(token).count()`. A plain full
    * groupBy must hold every distinct token in the aggregation hash maps
    * (a 100 TB crawl has billions — guaranteed spill) and ship one row
    * per (partition, distinct token) through the shuffle. This runs:
    *
    *   1. one pass building a [[graft.functions.MisraGries]] summary
    *      (≤ `capacity` counters per partition, merged like any native
    *      aggregate — the shuffle carries one ~capacity-entry summary
    *      per partition) plus the total token count N;
    *   2. one pass recounting ONLY the ≤ capacity candidate tokens
    *      exactly (broadcast semijoin; per-partition aggregation state
    *      is bounded by `capacity` no matter the corpus);
    *   3. an exactness CERTIFICATE from the MG bound: any token absent
    *      from the summary has true count ≤ (N − Σ est)/(capacity+1),
    *      so if the k-th exact candidate count clears that threshold
    *      (strictly — ties at the boundary could reorder under the
    *      (n desc, token asc) tiebreak), no non-candidate can displace
    *      the top-k and the result is globally exact.
    *
    * On Zipf-shaped corpora the certificate holds for any sane
    * capacity ≫ k (the k-th token's share dwarfs N/capacity); when it
    * does NOT (adversarially flat distributions), the operator falls
    * back to the exact full groupBy rather than return an uncertified
    * answer — exactness is unconditional, only the fast path is
    * distribution-dependent.
    *
    * Driver-side state: one ≤ capacity-entry summary + k result rows —
    * both bounded by parameters, never by data size. Returns (token, n)
    * ordered by (n desc, token asc), exactly k rows (fewer only when the
    * corpus has fewer distinct tokens).
    *
    * EAGER CONTRACT: unlike every other operator in this library, calling
    * this method RUNS two Spark jobs immediately (the sketch pass and the
    * candidate recount) — the exactness certificate is a driver-side
    * decision between two different plans, so it cannot be deferred. The
    * returned DataFrame is a small pre-materialized local relation (≤ k
    * rows); composing on top of it never re-runs the passes. Pipelines
    * that need a lazily-composable node should use
    * [[heavyHittersDeferred]] and accept its weaker guarantee.
    */
  def heavyHitters(docs: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int, capacity: Int = 4096): org.apache.spark.sql.DataFrame =
    heavyHittersWithCert(docs, textCol, k, capacity)._1

  /** fastText-style hashed linear classifier scoring — the architecture
    * behind the quality/language filters of CCNet, RedPajama and Dolma: a
    * document is a bag of hashed tokens, each token indexes one weight
    * bucket, and the decision value is
    * `margin = bias + (Σ w[h mod B]) / n_tokens` (mean pooling), with the
    * keep/drop decision `margin > 0`. The operator takes a TRAINED weight
    * vector (any fastText/liblinear export collapses to this form under
    * the hashing trick); training itself is out of scope, exactly as the
    * XGB scorer consumes the reference's trained trees.
    *
    * Scale shape: a pure narrow map — tokenize → portable-hash →
    * one-pass native bucket-weight fold ([[graft.functions
    * .NativeExpressions.bucket_weight_sum]]) with the weights broadcast
    * once per executor (a real model has 2^20+ buckets; embedding them
    * as a plan literal would bloat and re-ship every task binary). Zero
    * shuffle at any corpus size.
    *
    * Determinism: the fold runs left-to-right over the token array (the
    * DSIR trick), so the double `margin` is reproducible bit-for-bit on
    * any engine — q78's DuckDB oracle replays hash → bucket → weight →
    * fold → quotient and hash-matches margins AND labels. The sigmoid is
    * deliberately NOT applied (libm `exp` differs across engines in the
    * last ulp; callers ranking or thresholding need only the margin).
    *
    * Returns (id, n_tokens, margin, keep); empty docs score
    * `margin = bias` over n_tokens = 0 → NULL margin, keep = false.
    */
  def linearQualityScore(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, weights: Array[Double],
      bias: Double): org.apache.spark.sql.DataFrame = {
    require(weights.nonEmpty, "weight vector must be non-empty")
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(weights)
    val th = graft.scale.Dedup.portableTokenHashes(tokens(col(textCol)))
    docs.select(col(idCol).as("id"), th.as("__th"))
      .select(col("id"),
        size(col("__th")).cast("long").as("n_tokens"),
        graft.functions.NativeExpressions.bucket_weight_sum(col("__th"), bc)
          .as("__sum"))
      .select(col("id"), col("n_tokens"),
        when(col("n_tokens") > 0,
          lit(bias) + col("__sum") / col("n_tokens").cast("double"))
          .as("margin"))
      .withColumn("keep", coalesce(col("margin") > 0, lit(false)))
  }

  /** Fully DEFERRED top-k tokens: the same sketch→recount shape as
    * [[heavyHitters]], but expressed as one lazy plan — the Misra-Gries
    * summary becomes a broadcast candidate list feeding the exact
    * recount semijoin, so nothing executes until the caller's action and
    * the node composes like any other DataFrame.
    *
    * The price of deferral is the certificate: the exactness check (and
    * the full-groupBy fallback it arms) is a driver-side choice between
    * two plans, impossible inside one lazy plan. On Zipf-shaped text —
    * any corpus where [[heavyHitters]]'s fast path certifies — the
    * result is identical (asserted in HeavyHittersSpec); on adversarially
    * flat distributions tokens outside the capacity-bounded summary may
    * be missed. Exactness-critical callers use the eager API.
    */
  def heavyHittersDeferred(docs: org.apache.spark.sql.DataFrame,
      textCol: String, k: Int,
      capacity: Int = 4096): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(capacity > k, s"capacity ($capacity) must exceed k ($k)")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col(textCol))).as("token"))
    val candidates = toks
      .agg(graft.functions.NativeExpressions.misra_gries($"token", capacity).as("mg"))
      .select(explode($"mg").as("e"))
      .select($"e.token".as("token"))
    toks.join(broadcast(candidates), Seq("token"))
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(k)
  }

  /** [[heavyHitters]] exposing whether the certified sketch path (true)
    * or the full-groupBy fallback (false) produced the result.
    */
  private[graft] def heavyHittersWithCert(
      docs: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int, capacity: Int): (org.apache.spark.sql.DataFrame, Boolean) = {
    require(k >= 1, s"k must be >= 1: $k")
    require(capacity > k, s"capacity ($capacity) must exceed k ($k)")
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(explode(tokens(col(textCol))).as("token"))
    val sketch = toks.agg(
      graft.functions.NativeExpressions.misra_gries($"token", capacity).as("mg"),
      count(lit(1)).as("n")).head()
    val summary = sketch.getSeq[org.apache.spark.sql.Row](0)
    val n = sketch.getLong(1)
    val estSum = summary.iterator.map(_.getLong(1)).sum
    // MG bound: true(absent token) ≤ (N − Σ est)/(capacity+1); counts are
    // integers so flooring the threshold preserves the bound.
    val tau = (n - estSum) / (capacity + 1L)
    val candidates = summary.map(_.getString(0))
    val exactTop = toks
      .join(broadcast(candidates.toDF("token")), Seq("token"))
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token")
      .limit(k)
      .collect()
    val certified =
      (exactTop.length == k && exactTop.last.getLong(1) > tau) ||
        (n == estSum) // zero deficit: the summary IS the exact count map
    if (certified) {
      // k driver-side rows — avoid re-running the recount when the
      // caller materializes the result
      (spark.createDataFrame(
        spark.sparkContext.parallelize(exactTop.toIndexedSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("token",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n",
            org.apache.spark.sql.types.LongType, nullable = false)))), true)
    } else {
      (toks.groupBy($"token").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"token").limit(k), false)
    }
  }

  /** Word-level bigram list of a token array: `["a b", "b c", …]`; empty
    * for docs with < 2 tokens (Spark's `sequence(2, n)` runs BACKWARDS for
    * n < 2, hence the explicit guard).
    */
  def bigrams(toks: Column): Column =
    // zip_with over two slices, NOT transform-with-element_at: zip_with
    // evaluates each array OPERAND once per row, while element_at(toks, i)
    // inside a transform re-evaluates `toks` per ELEMENT whenever
    // projection collapse has inlined it (toks = tokens(text) → O(len²)
    // interpreted work per doc — measured 7.6 s → 0.8 s on the sf0.1
    // bigram stream; the q97 generate-collapse hazard class, HOF variant)
    when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))

  /** PMI collocation mining — the phrase/multi-word-expression detector
    * ("new york", "machine learning") a tokenizer-prep or phrase-index
    * pass runs over a corpus: for every adjacent token pair with
    * n_pair ≥ `minCount`, PMI = ln(n_pair·N / (n_head·n_tail)) over the
    * bigram stream's own marginals (head = count as first word, tail =
    * count as second — the standard collocation formulation), returning
    * the top `topN` by (pmi desc, pair asc).
    *
    * Scale shape: the bigram stream is frozen through ONE shuffle
    * ([[graft.scale.Dedup.sharedShuffle]]) and feeds all four consumers
    * (pair counts, head marginals, tail marginals, total) — the corpus
    * text is scanned and tokenized once. Every aggregate is map-side
    * combinable on Zipf-collapsed keys; the N total is a broadcast
    * 1-row frame; the final cut is TakeOrdered (per-partition heaps),
    * never a global sort. The PMI ratio is evaluated in doubles with a
    * FIXED expression shape ((n_pair·N)/(n_head·n_tail), then ln, then
    * round 6) so both engines walk identical IEEE ops — counts first
    * exceed 2^53 only past ~10^15 bigrams, far beyond one corpus.
    */
  def collocationPmi(docs: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long = 5L, topN: Int = 100): org.apache.spark.sql.DataFrame = {
    val bi = Dedup.sharedShuffle(
      docs.select(explode(bigrams(tokens(col(textCol)))).as("bigram"))
        .withColumn("w1", split(col("bigram"), " ", 2).getItem(0))
        .withColumn("w2", split(col("bigram"), " ", 2).getItem(1)),
      col("bigram"))
    val cb = bi.groupBy(col("bigram"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val ch = bi.groupBy(col("w1")).agg(count(lit(1)).as("n_head"))
    val ct = bi.groupBy(col("w2")).agg(count(lit(1)).as("n_tail"))
    val n = bi.agg(count(lit(1)).as("n_total"))
    cb.filter(col("n_pair") >= minCount)
      .join(ch, "w1").join(ct, "w2").crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_head"),
        col("n_tail"),
        round(log(
          (col("n_pair").cast("double") * col("n_total").cast("double")) /
            (col("n_head").cast("double") * col("n_tail").cast("double"))),
          6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** Per-source Shannon entropy of the token distribution — the
    * information-density companion to [[distinctNgramDiversity]] (low
    * entropy = template farm / boilerplate, independent of the distinct
    * RATIO). H = ln N − (Σ c·ln c)/N over token counts c.
    *
    * Determinism trick that also fixes the scale story: Σ c·ln c is NOT
    * summed over the vocabulary (a float sum in engine-dependent order,
    * and vocab-sized driver lists don't scale). Counts collapse to their
    * MULTIPLICITY table first — (count value c, #tokens with that count
    * m) — which Zipf squeezes to a handful of rows per source; the fold
    * Σ m·c·ln(c) then runs PINNED over the c-sorted list. Two map-side
    * combinable aggregates, one ≤ |distinct counts| collect per source,
    * identical IEEE walk on both engines.
    */
  def tokenEntropy(docs: org.apache.spark.sql.DataFrame, srcCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tc = docs.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("t"))
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
    val cm = tc.groupBy(col("source"), col("c"))
      .agg(count(lit(1)).as("m"))
    cm.groupBy(col("source"))
      .agg(sum(col("m") * col("c")).as("n_tokens"),
        sum(col("m")).as("vocab"),
        aggregate(
          array_sort(collect_list(struct(col("c"), col("m")))),
          lit(0.0),
          (acc, x) => acc +
            (x.getField("m") * x.getField("c")).cast("double") *
              log(x.getField("c").cast("double"))).as("__s"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        round(log(col("n_tokens").cast("double")) -
          col("__s") / col("n_tokens").cast("double"), 6).as("entropy"))
  }

  /** Per-source token-distribution TAIL statistics — the Good-Turing /
    * concentration companions to [[tokenEntropy]], over the same
    * count-multiplicity collapse and therefore exactly certifiable:
    *   - n_hapax (tokens seen once) and hapax_share = n_hapax·1/N — the
    *     Good-Turing estimate of UNSEEN mass, the number that says "this
    *     source still has vocabulary we haven't crawled";
    *   - simpson = Σ c(c−1) / (N(N−1)) — repeat-probability
    *     concentration (high = a few tokens dominate, the template
    *     signal), an exact rational of integer sums, no ln anywhere.
    *
    * Scale: identical shape to [[tokenEntropy]] — two combinable
    * aggregates, Zipf-tiny multiplicity table, integer sums (associative
    * — no fold pinning needed). The Σ m·c·(c−1) numerator stays in int64
    * to ~10^9 tokens per source at worst-case concentration; beyond
    * that, flip the term to double (the ratio needs 6dp, not exactness).
    */
  def tokenTailStats(docs: org.apache.spark.sql.DataFrame, srcCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tc = docs.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("t"))
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).as("c"))
    tc.groupBy(col("source"), col("c"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("source"))
      .agg(sum(col("m") * col("c")).as("n_tokens"),
        sum(col("m")).as("vocab"),
        sum(when(col("c") === 1L, col("m")).otherwise(0L)).as("n_hapax"),
        sum(col("m") * col("c") * (col("c") - 1L)).as("__rep"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("n_hapax"),
        round(col("n_hapax").cast("double") /
          col("n_tokens").cast("double"), 6).as("hapax_share"),
        when(col("n_tokens") >= 2L,
          round(col("__rep").cast("double") /
            (col("n_tokens") * (col("n_tokens") - 1L)).cast("double"), 6))
          .otherwise(lit(0.0)).as("simpson"))
  }

  /** Deterministic MLM-style masking — the training-example GENERATOR
    * (BERT/T5 prep): each token masks independently with probability
    * `maskPermille`/1000, decided by the portable hash of
    * (doc, position) — so the same corpus always yields the same
    * examples (reproducible pretraining data), any engine can replay
    * the choice, and re-runs of an interrupted job regenerate identical
    * shards. Masked positions are replaced by `[MASK]` in the emitted
    * text; the labels column preserves (position, original token) as
    * "pos:token" pairs in position order — exactly what an MLM loss
    * needs to reconstruct.
    *
    * Scale shape: one narrow codegen+HOF projection per doc (transform
    * with index — array operand evaluated once), zero shuffles; at
    * 100 TB this is scan-speed example generation, the q86/q157 class.
    */
  def mlmMask(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      maskPermille: Int = 150): org.apache.spark.sql.DataFrame = {
    require(maskPermille >= 0 && maskPermille <= 1000,
      s"maskPermille in [0, 1000]: $maskPermille")
    val P31 = 2147483647L
    val cut = P31 * maskPermille / 1000L
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__t"))
      .withColumn("__m", transform(col("__t"), (t, i) => {
        val key = col("doc_id") * 131071L + i.cast("long")
        val b = pmod(lit(1103515245L) * pmod(key, lit(P31)) + 12345L,
          lit(P31))
        struct((b < cut).as("mask"), t.as("tok"), i.cast("long").as("pos"))
      }))
      .select(col("doc_id"),
        size(col("__t")).cast("long").as("n_tokens"),
        size(filter(col("__m"), e => e.getField("mask"))).cast("long")
          .as("n_masked"),
        concat_ws(" ", transform(col("__m"),
          e => when(e.getField("mask"), lit("[MASK]"))
            .otherwise(e.getField("tok")))).as("text_masked"),
        concat_ws(" ", transform(
          filter(col("__m"), e => e.getField("mask")),
          e => concat(e.getField("pos").cast("string"), lit(":"),
            e.getField("tok")))).as("labels"))
  }

  /** One-call per-source corpus health report — the dataset-card frame a
    * pipeline publishes per snapshot: volume (docs, tokens, mean doc
    * length), vocabulary (size, hapax share — unseen-mass proxy),
    * information density (entropy), and concentration (Simpson). Pure
    * composition of [[tokenEntropy]] and [[tokenTailStats]] plus one doc
    * count — the token stream is scanned by the component operators
    * (each certified on its own), and the report joins their tiny
    * per-source outputs; at 100 TB the cost is the two collapse passes,
    * the joins are #sources-row.
    */
  def corpusReport(docs: org.apache.spark.sql.DataFrame, srcCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val vol = docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val ent = tokenEntropy(docs, srcCol, textCol)
      .select(col("source").as("__s1"), col("n_tokens"), col("entropy"))
    val tail = tokenTailStats(docs, srcCol, textCol)
      .select(col("source").as("__s2"), col("vocab"), col("n_hapax"),
        col("hapax_share"), col("simpson"))
    vol.join(ent, col("source") === col("__s1"))
      .join(tail, col("source") === col("__s2"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_docs").cast("double"),
          6).as("mean_doc_tokens"),
        col("vocab"), col("n_hapax"), col("hapax_share"), col("entropy"),
        col("simpson"))
  }

  /** Distinct-n diversity per group: distinct unigrams / total unigrams
    * and distinct bigrams / total bigrams — the corpus-health metric that
    * flags template farms and model-generated spam (low distinct-n) per
    * source before they enter a training mix (the self-BLEU family's
    * cheap exact cousin).
    *
    * Shape: tokens explode once into a (group, gram) stream that feeds
    * count + count_distinct in ONE aggregate per n. Exact distinct keeps
    * per-group partial state proportional to the group's vocabulary —
    * fine to ~10^8 distinct grams per group; at crawl scale swap
    * `count_distinct` for `approx_count_distinct` (HLL, bounded state,
    * same plan) — the 2% HLL error is irrelevant to a diversity RATIO.
    * Ratios are exact integer-quotient doubles rounded to 6dp.
    */
  def distinctNgramDiversity(docs: org.apache.spark.sql.DataFrame,
      groupCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val toked = docs.select(col(groupCol).as("grp"),
      tokens(lower(col(textCol))).as("__toks"))
    def stats(grams: Column, pfx: String) = {
      toked.select(col("grp"), explode(grams).as("g"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as(s"${pfx}_total"),
          count_distinct(col("g")).as(s"${pfx}_distinct"))
        .withColumn(s"${pfx}_ratio",
          round(col(s"${pfx}_distinct").cast("double") /
            col(s"${pfx}_total").cast("double"), 6))
    }
    stats(col("__toks"), "uni")
      .join(stats(bigrams(col("__toks")), "bi"), Seq("grp"), "left")
      .withColumnRenamed("grp", groupCol)
  }

  /** Add-one-smoothed bigram language-model scoring — the CCNet-style
    * "perplexity under an in-domain LM" quality signal, self-trained on
    * the corpus it scores: avg_nll(d) = (1/|bigrams(d)|) ·
    * Σ −ln((c(w₁w₂)+1)/(c(w₁)+V)), where c(·) are corpus bigram /
    * bigram-head counts and V the corpus distinct-token count. Low
    * avg_nll = the doc looks like the corpus; high = outlier (noise,
    * wrong language, boilerplate-free gibberish).
    *
    * Scale shape: two aggregates over the exploded bigram stream (counts
    * shuffle only (string, long) pairs with map-side combine) and a
    * scalar vocab count; scoring joins the doc's bigrams to the two count
    * tables on their natural keys — at corpus scale those count tables
    * are themselves huge, so they stay distributed (sort-merge on the
    * bigram key); nothing collects. The per-doc sum is fold-order-pinned
    * (sorted by bigram string) and rounded, so partial-aggregation order
    * can't leak into the hash compare.
    *
    * Returns (doc_id, n_bigrams, avg_nll) — avg_nll null for docs with
    * < 2 tokens.
    */
  def bigramNll(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val toked = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("__toks"))
    // the bigram stream feeds THREE consumers (bigram counts, head counts,
    // and the per-doc scoring probe): freeze it through one shuffle so the
    // text scan + tokenize/bigram kernel runs once, not once per branch
    // (Dedup.sharedShuffle — a plain repartition diverges under per-branch
    // column pruning and never reuses)
    val bi = Dedup.sharedShuffle(
      toked.select(col("doc_id"), explode(bigrams(col("__toks"))).as("bigram"))
        .withColumn("w1", split(col("bigram"), " ", 2).getItem(0)),
      col("bigram"))
    val cb = bi.groupBy(col("bigram")).agg(count(lit(1)).as("cb"))
    val cu = bi.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val vocab = toked.select(explode(col("__toks")).as("t"))
      .agg(count_distinct(col("t")).as("v"))
    val term = -log((col("cb") + 1L).cast("double") /
      (col("cu") + col("v")).cast("double"))
    val perDoc = bi
      .join(cb, "bigram").join(cu, "w1").crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("bigram"), term.as("__t"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(aggregate(
          array_sort(collect_list(struct(col("bigram"), col("__t")))),
          lit(0.0), (acc, x) => acc + x.getField("__t")) /
          count(lit(1)).cast("double"), 6).as("avg_nll"))
    toked.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("avg_nll"))
  }

  /** One induction step of byte-pair-encoding vocabulary training: count
    * adjacent character pairs inside every word, weighted by corpus word
    * frequency, and return the top `topN` merge candidates — the
    * distributed inner loop of BPE/WordPiece tokenizer training.
    *
    * Scale shape: the corpus collapses to the DISTINCT-word count table
    * first (one (word, long) shuffle with map-side combine — the Zipf
    * head makes this tiny relative to the token stream); pair generation
    * then runs over distinct words only, so a word repeated a billion
    * times is paired once and weighted, not re-scanned. Top-N is
    * TakeOrdered (per-partition heaps, no global sort).
    *
    * Returns (pair, n) — the deterministic (n desc, pair asc) head.
    */
  def bpePairCounts(docs: org.apache.spark.sql.DataFrame, textCol: String,
      topN: Int = 50): org.apache.spark.sql.DataFrame = {
    val wc = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
    // Column-position substring must go through Column.substr — the
    // (Column, Column, Int) overload of functions.substring doesn't exist
    // (the r8 build-breaker).
    val pairs = when(length(col("w")) >= 2,
      transform(sequence(lit(2), length(col("w"))),
        i => col("w").substr(i - 1, lit(2))))
      .otherwise(array().cast("array<string>"))
    wc.select(explode(pairs).as("pair"), col("wn"))
      .groupBy(col("pair")).agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(topN)
  }

  /** Full iterative BPE vocabulary TRAINING: learn `numMerges` merges from
    * the corpus — repeat (count adjacent symbol pairs weighted by word
    * frequency → take the global argmax → fuse its occurrences in every
    * word) until the budget or the corpus is exhausted. Returns the merge
    * list (rank, a, b, cnt), the model artifact [[bpeEncodeWords]]
    * applies. [[bpePairCounts]] (q92) is one step of this loop.
    *
    * Semantics: SEQUENTIAL single-pair application — round k fuses ONLY
    * merge k into state carrying merges 1..k−1 (the Sennrich trainer),
    * which is what the q137 oracle unrolls. The argmax tiebreak is total
    * (cnt desc, a asc, b asc), so training is deterministic.
    *
    * Scale shape: everything after the one corpus-sized (word, count)
    * shuffle is VOCABULARY-sized. Each round is one pair-count aggregate
    * over the distinct-word table (map-side combined, pairs bounded by
    * vocab × word_len) plus a 1-row argmax collect — the merge list is
    * driver-sized by definition (it IS the model being trained, the
    * Lloyd-centroid precedent). State re-derivation is a narrow fold per
    * word; lineage is truncated every `checkpointEvery` rounds.
    */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int, checkpointEvery: Int = 4): org.apache.spark.sql.DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
    // seed: one symbol per character; freeze the corpus collapse so no
    // training round re-reads the token stream
    var state = wc.select(col("w"), col("wn"),
        filter(split(col("w"), ""), s => length(s) > 0).as("syms"))
      .localCheckpoint(eager = true)
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < numMerges && !exhausted) {
      val pairsCol = when(size(col("syms")) >= 2,
        transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("a"),
            element_at(col("syms"), i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
      val best = state.select(col("wn"), explode(pairsCol).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wn")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val a = best.head.getString(0)
        val b = best.head.getString(1)
        learned += ((r + 1L, a, b, best.head.getLong(2)))
        // left-fold single-pair fusion — mirrors the oracle's list_reduce
        // exactly (merged symbol is longer than `a`, so no re-trigger)
        val merged = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, x) => when(size(acc) > 0 &&
              element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x))))
        state = state.select(col("w"), col("wn"), merged.as("syms"))
        r += 1
        if (checkpointEvery > 0 && r % checkpointEvery == 0)
          state = state.localCheckpoint(eager = true)
      }
    }
    learned.toSeq.toDF("rank", "a", "b", "cnt")
  }

  /** Per-document true BPE token costs under a learned merge list — the
    * operator a training-data pipeline runs most often (context-window
    * packing inputs, per-source token accounting, billing). Encodes the
    * DISTINCT vocabulary once ([[bpeEncodeWords]]) and joins the per-word
    * costs back to the token stream by broadcast — a word repeated a
    * billion times is never re-encoded, and the corpus-sized side never
    * shuffles. Docs with no tokens keep a 0 cost (left join + coalesce).
    * Returns (idCol, n_words, bpe_tokens).
    *
    * The broadcast assumes a vocabulary ≪ corpus (true under Zipf even at
    * 100 TB — vocab grows ~log corpus); for an adversarially unbounded
    * vocab, swap the broadcast for a plain shuffle join on `w` — same
    * semantics, one extra exchange.
    */
  def bpeTokenCosts(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val vocab = bpeEncodeWords(docs, textCol, merges)
      .select(col("w"), col("n_tokens"))
    val perDoc = docs
      .select(col(idCol).as("__did"), explode(tokens(col(textCol))).as("w"))
      .join(broadcast(vocab), Seq("w"))
      .groupBy(col("__did"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_tokens")).as("bpe_tokens"))
    docs.select(col(idCol))
      .join(perDoc, col(idCol) === col("__did"), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("bpe_tokens"), lit(0L)).as("bpe_tokens"))
  }

  /** BPE tokenizer APPLY over a corpus: encode every DISTINCT word with a
    * learned merge list and return the encoded vocabulary —
    * (w, encoded: space-joined symbols, n_tokens, wn: corpus frequency).
    * The second half of tokenizer training (q92 induces the merges; this
    * applies them), and the operator an actual pipeline runs most often
    * (true token costing, vocab coverage audits).
    *
    * Scale shape: same distinct-word collapse as [[bpePairCounts]] — ONE
    * (word, count) shuffle with map-side combine over the token stream;
    * the iterative merge loop ([[graft.functions.BpeEncodeWord]], a
    * codegen'd kernel carrying the broadcast rank table) then runs once
    * per VOCABULARY entry, not once per corpus token. Per-doc token costs,
    * when needed, are a broadcast join of this table back to the token
    * stream — never a re-encode.
    */
  def bpeEncodeWords(docs: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val wc = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
    wc.select(col("w"),
        graft.functions.NativeExpressions.bpe_encode(col("w"), merges)
          .as("toks"), col("wn"))
      .select(col("w"), array_join(col("toks"), " ").as("encoded"),
        size(col("toks")).cast("long").as("n_tokens"), col("wn"))
  }

  /** WordPiece apply over the corpus vocabulary — the q134 shape with the
    * greedy longest-match-first encoder
    * ([[graft.functions.WordPieceEncodeWord]]) instead of merge-rank
    * fusion: every DISTINCT word encodes once (Zipf makes the distinct
    * table orders of magnitude smaller than the token stream at 100 TB),
    * vocab rides inside the codegen'd expression. Returns
    * (w, encoded, n_tokens, wn); words with any unmatched position (or
    * longer than `maxChars`) encode to the single `unk` token — the
    * BERT is_bad contract, certified against a recursive-CTE
    * longest-match replay (q206) and a driver reference encoder
    * (TextOpsSpec property test).
    */
  def wordpieceEncodeWords(docs: org.apache.spark.sql.DataFrame,
      textCol: String, vocab: Seq[String], unk: String = "[UNK]",
      contPrefix: String = "##", maxChars: Int = 100)
      : org.apache.spark.sql.DataFrame = {
    val wc = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
    wc.select(col("w"),
        graft.functions.NativeExpressions.wordpiece_encode(col("w"), vocab,
          unk, contPrefix, maxChars).as("toks"), col("wn"))
      .select(col("w"), array_join(col("toks"), " ").as("encoded"),
        size(col("toks")).cast("long").as("n_tokens"), col("wn"))
  }

  /** SentencePiece-flavored unigram-LM compression statistics: derive a
    * piece vocabulary FROM the corpus (every character + the top
    * `topBigrams`/`topTrigrams` character n-grams by token-weighted
    * frequency, costs = integer micro-log-units of corpus frequency),
    * Viterbi-segment every distinct word to its MINIMUM total cost,
    * and report per-group compression (nats per character) — the
    * "how well does a subword inventory of this corpus compress each
    * slice" instrument, the unigram-LM sibling of the BPE family
    * (q137 trains merges; this scores an inventory).
    *
    * Exactness: piece costs are lnU differences (the q177
    * quantization); the Viterbi DP is a pure int64 3-term recurrence
    * best[j] = min(best[j−1]+c₁, best[j−2]+c₂, best[j−3]+c₃) folded
    * in explicit position order with a 10¹⁵ sentinel for unreachable
    * states — the minimum COST is unique-valued regardless of
    * segmentation ties, so both engines agree bit for bit (the oracle
    * replays the whole model: counts, top-k cuts, every DP step).
    *
    * Scale shape: the corpus is touched once (the distinct-word
    * collapse); n-gram counting and the DP run over VOCABULARY-sized
    * frames. The piece inventory (≤ |charset| + topBigrams +
    * topTrigrams rows) is the one bounded driver collect — it becomes
    * a literal map inside the codegen'd fold, the same artifact shape
    * as q47's model weights.
    */
  private val UnigramBig = 1000000000000000L

  /** Corpus-derived unigram piece inventory as a driver-side map:
    * every character + top `topBigrams`/`topTrigrams` character n-grams
    * by token-weighted frequency, cost = lnU(total) − lnU(count). The
    * collect is bounded by |charset| + topBigrams + topTrigrams —
    * the q47 model-artifact shape.
    */
  private def unigramVocabMap(wc: org.apache.spark.sql.DataFrame,
      topBigrams: Int, topTrigrams: Int): Column = {
    val U = 1000000L
    def lnU(x: Column): Column =
      round(lit(U).cast("double") * log(x.cast("double"))).cast("long")
    def gramCounts(k: Int) = wc
      .where(length(col("w")) >= k)
      .select(col("wn"), explode(transform(
        sequence(lit(1), length(col("w")) - (k - 1)),
        i => col("w").substr(i, lit(k)))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wn")).as("cnt"))
    def topK(df: org.apache.spark.sql.DataFrame, k: Int) = df
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("piece"))))
      .where(col("rk") <= k).drop("rk")
    val chars = gramCounts(1)
    val nTot = chars.agg(sum(col("cnt")).as("nt"))
    val vocab = chars
      .unionByName(topK(gramCounts(2), topBigrams))
      .unionByName(topK(gramCounts(3), topTrigrams))
      .crossJoin(broadcast(nTot))
      .select(col("piece"), (lnU(col("nt")) - lnU(col("cnt"))).as("cost"))
    typedLit(vocab.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  /** Forward Viterbi over `col("w")` with piece-cost map `vm`: the full
    * best[0..len] array (1-indexed as a Spark array: element i+1 =
    * best[i]), int64 with the 10¹⁵ unreachable sentinel.
    */
  private def unigramBestArray(vm: Column): Column =
    aggregate(
      sequence(lit(1), length(col("w"))),
      array(lit(0L)),
      (acc, j) => {
        def cand(k: Int) = when(j >= k,
          coalesce(element_at(acc, j - lit(k - 1)) +
            element_at(vm, col("w").substr(j - lit(k - 1), lit(k))),
            lit(UnigramBig)))
          .otherwise(lit(UnigramBig))
        concat(acc, array(least(cand(1), cand(2), cand(3))))
      })

  def unigramLmStats(docs: org.apache.spark.sql.DataFrame,
      langCol: Column, textCol: Column, topBigrams: Int = 200,
      topTrigrams: Int = 100): org.apache.spark.sql.DataFrame = {
    val lw = docs.select(langCol.as("lang"), explode(tokens(textCol)).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("wn"))
    val wc = lw.groupBy(col("w")).agg(sum(col("wn")).as("wn"))
    val vm = unigramVocabMap(wc, topBigrams, topTrigrams)
    val wcost = wc.select(col("w"),
      element_at(unigramBestArray(vm), length(col("w")) + 1).as("cost"))
    lw.join(wcost, "w")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"), sum(col("wn")).as("n_tokens"),
        sum(col("wn") * length(col("w")).cast("long")).as("n_chars"),
        sum(col("wn") * col("cost")).as("cost_units"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        col("n_chars"), col("cost_units"),
        round(col("cost_units").cast("double") /
          (lit(1000000.0d) * col("n_chars").cast("double")), 6)
          .as("nats_per_char"))
  }

  /** Apply-side unigram tokenization: Viterbi-segment every DISTINCT
    * word with the corpus-derived piece inventory and emit the ACTUAL
    * pieces — the step a pipeline runs on every document once an
    * inventory exists ([[unigramLmStats]] scores inventories; this one
    * encodes with them — together the unigram twin of the BPE
    * train/apply pair q137/q134).
    *
    * Segmentation ties are broken deterministically: backtracking from
    * the end of the word, prefer the LONGEST piece whose cost closes
    * the optimal recurrence (k = 3 > 2 > 1). Both the forward DP and
    * the backtrack are exact int64 — the oracle replays them step by
    * step, so the hash-match certifies every piece of every word.
    * Same scale shape as [[bpeEncodeWords]]: the corpus is touched
    * once; the DP runs per VOCABULARY entry.
    */
  def unigramEncodeWords(docs: org.apache.spark.sql.DataFrame,
      textCol: Column, topBigrams: Int = 200,
      topTrigrams: Int = 100): org.apache.spark.sql.DataFrame = {
    val wc = docs.select(explode(tokens(textCol)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wn"))
    val vm = unigramVocabMap(wc, topBigrams, topTrigrams)
    val withBest = wc.withColumn("best", unigramBestArray(vm))
    val bt = aggregate(
      sequence(lit(1), length(col("w"))),
      struct(length(col("w")).cast("int").as("j"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val j = st.getField("j")
        def ok(k: Int) = j >= k &&
          (element_at(col("best"), j + 1) ===
            coalesce(element_at(col("best"), j - lit(k - 1)) +
              element_at(vm, col("w").substr(j - lit(k - 1), lit(k))),
              lit(UnigramBig)))
        val kSel = when(ok(3), lit(3)).when(ok(2), lit(2)).otherwise(lit(1))
        val piece = col("w").substr(j - kSel + lit(1), kSel)
        when(j <= 0, st).otherwise(
          struct((j - kSel).as("j"),
            concat(array(piece), st.getField("ps")).as("ps")))
      })
    withBest
      .withColumn("ps", bt.getField("ps"))
      .select(col("w"), col("wn"),
        array_join(col("ps"), " ").as("encoded"),
        size(col("ps")).cast("long").as("n_pieces"),
        element_at(col("best"), length(col("w")) + 1).as("cost_u"))
  }

  /** Hashing-trick bag-of-words vectorizer (Weinberger et al. 2009 /
    * scikit-learn HashingVectorizer): each token lands in bucket
    * h mod `dim` with a ±1 sign drawn from an independent bit of the
    * same 62-bit portable hash, and a document's feature value is the
    * signed token count — the fixed-dimension, vocabulary-free text
    * featurization that feeds linear probes (q145) without ever
    * building a term dictionary.
    *
    * Sign independence: h = h1·2³¹ + h2 (two independent affine folds,
    * [[graft.functions.NativeExpressions.portableHash62]]); the sign
    * bit is h1's low bit while h mod dim is driven by the h2 fold (for
    * dims dividing 2³¹ it is exactly h2 mod dim), so sign and bucket
    * never correlate through shared fold state.
    *
    * Output: sparse COO entries (id, idx, val), exact-cancelled zeros
    * dropped. Plan: one explode → one (id, idx) hash aggregate with
    * map-side combine — the shuffle carries at most min(dim, n_tokens)
    * rows per document, never the token stream.
    */
  def featureHash(docs: org.apache.spark.sql.DataFrame, idCol: Column,
      textCol: Column, dim: Int = 64): org.apache.spark.sql.DataFrame = {
    require(dim > 0, "dim must be positive")
    docs.select(idCol.as("id"),
        explode(graft.scale.Dedup.portableTokenHashes(tokens(textCol)))
          .as("h"))
      .select(col("id"), pmod(col("h"), lit(dim.toLong)).as("idx"),
        (lit(1L) - lit(2L) * shiftright(col("h"), 31)
          .bitwiseAND(lit(1L))).as("s"))
      .groupBy(col("id"), col("idx"))
      .agg(sum(col("s")).as("v"))
      .where(col("v") =!= 0L)
  }
}
