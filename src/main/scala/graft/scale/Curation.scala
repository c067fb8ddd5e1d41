package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline runs between ingest
  * and tokenization: eval-set decontamination, intra-document repetition
  * signals (the Gopher/C4 quality-filter family), and per-source quota
  * capping. All three are shuffle-lean by construction and every output
  * column is integer counts or exact IEEE quotients of them, so each gets
  * a full DuckDB hash-match oracle (q58-q60) — no rounding, no
  * engine-specific hashes on the output path.
  */
object Curation {

  private val P31 = 2147483647L

  /** Train→eval contamination report by distinct-shingle overlap — the
    * decontamination step every eval suite needs before quoting numbers
    * (an eval doc that shares most of its n-grams with the train split is
    * leaked, not solved).
    *
    * Shape, in scale order:
    *   1. split: one narrow codegen'd map ([[Sampling.portableBucket]] on
    *      the id — deterministic, partitioning-invariant; no split table).
    *   2. each doc → DISTINCT portable shingle hashes (64-bit longs, the
    *      q26 affine family — engine-portable so the oracle can replay
    *      them).
    *   3. the train side collapses to a global distinct-shingle set — the
    *      shuffle carries one 8-byte key per distinct shingle, and the
    *      distinct means a white-hot shingle ("the quick brown") appears
    *      ONCE, so the eval⋈train equi-join below fans out at most 1:1 —
    *      no hot-key pair explosion, unlike joining doc-level postings.
    *   4. eval shingles explode and equi-join the train set; count of
    *      matches per eval doc IS the distinct-overlap count (eval
    *      shingles are distinct per doc). groupBy(doc) + a left join back
    *      fills the zero-overlap docs.
    *
    * Everything shuffles on 8-byte hashes or the doc id; document text
    * never moves. Returns (doc_id, n_shingles, shared, contamination)
    * for every EVAL doc, contamination = shared / n_shingles exact IEEE.
    *
    * A doc with fewer than `n` tokens folds to a single whole-doc shingle
    * (matching [[Dedup.portableShingles]]) — an empty eval doc is
    * "contaminated" iff the train split also has an empty doc, which is
    * the right call for dedup purposes.
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
      trainFrac: Double, shingleSize: Int = 3): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1, s"trainFrac in (0,1): $trainFrac")
    val thr = (trainFrac * P31).toLong
    // one fused codegen'd pipeline per row: tokenize → hash → distinct
    // shingles, all native kernels (the HOF chain
    // array_distinct(transform(sequence…)) stays interpreted and was the
    // whole cost of this operator — 35 s → ~1 s at sf0.1). A doc always
    // yields ≥1 shingle (short docs fold whole), so the explode below
    // never drops a doc and n_shingles == count of exploded rows.
    val exploded = docs.select(
      col(idCol).as("doc_id"),
      Sampling.portableBucket(col(idCol)).as("__b"),
      explode(graft.functions.NativeExpressions.portable_distinct_shingles(
        Dedup.portableTokenHashes(TextOps.tokens(col(textCol))),
        shingleSize)).as("g"))
    // `exploded` feeds both branches; recomputing the (cheap, narrow)
    // scan+kernel twice beats persisting n_shingles × 16 B at 100 TB.
    val train = exploded.filter(col("__b") < thr).select("g").distinct()
    // train's g is distinct, so the left join is at most 1:1 — per-doc
    // row count is exactly n_shingles, matches flag hot shingles without
    // any fan-out, and one groupBy(doc_id) finishes the job.
    exploded.filter(col("__b") >= thr)
      .join(train.withColumn("__hit", lit(1L)), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("shared"))
      .select(col("doc_id"), col("n_shingles"), col("shared"),
        (col("shared").cast("double") / col("n_shingles").cast("double"))
          .as("contamination"))
  }

  /** [[contamination]] with a broadcast BLOOM prefilter — the 100 TB
    * decontamination shape. The exact-join formulation shuffles EVERY
    * eval-side shingle to meet the train set; at corpus scale that is the
    * dominant shuffle even though each key is 8 bytes. Here the train
    * side's distinct shingles are summarized into a Bloom filter built by
    * a bitmap-merging aggregation (partitions ship OR-able bitmaps, never
    * keys), broadcast to every executor, and applied as a narrow
    * codegen'd prefilter ([[graft.functions.NativeExpressions
    * .bloom_might_contain_long]]) UNDER the eval side's exchange — so the
    * only shingles that shuffle are true overlaps plus an `fpp` fraction
    * of false positives, and per-doc totals come from the kernel's array
    * size (no explode, no shuffle at all for clean documents).
    *
    * EXACTNESS IS UNCONDITIONAL: Bloom false positives are killed by the
    * same exact train-set join as [[contamination]] (false negatives are
    * impossible), so the result is row-identical — q77's oracle is q58's
    * SQL verbatim, and CurationSpec pins equality at fpp = 0.5 where
    * half of all clean shingles pass the prefilter.
    *
    * EAGER CONTRACT (like `TextOps.heavyHitters`): building the filter
    * runs jobs at call time — the Bloom aggregation, plus an exact
    * distinct-count sizing pass when `expectedItems` is None. A caller
    * hint skips the sizing job; sizing is NOT a correctness knob —
    * undersizing only raises the effective false-positive rate (more
    * residual shuffle, same answer), oversizing only pads the broadcast
    * bitmap (~1.2 bytes/item at fpp 0.01).
    *
    * Scale accounting: the bitmap is ~1.2 GB per 10⁹ distinct train
    * shingles at fpp 0.01 — broadcastable for benchmark-suite-sized
    * train sides (the decontamination direction that matters: score a
    * huge corpus against a small eval/benchmark set by passing a SMALL
    * `trainFrac` side); for train sides too big to broadcast, use
    * [[contamination]]'s symmetric join.
    */
  def contaminationBloom(docs: DataFrame, idCol: String, textCol: String,
      trainFrac: Double, shingleSize: Int = 3, fpp: Double = 0.01,
      expectedItems: Option[Long] = None): DataFrame = {
    require(trainFrac > 0 && trainFrac < 1, s"trainFrac in (0,1): $trainFrac")
    require(fpp > 0 && fpp < 1, s"fpp in (0,1): $fpp")
    val spark = docs.sparkSession
    val thr = (trainFrac * P31).toLong
    val shingles = graft.functions.NativeExpressions.portable_distinct_shingles(
      Dedup.portableTokenHashes(TextOps.tokens(col(textCol))), shingleSize)
    val keyed = docs.select(col(idCol).as("doc_id"),
      Sampling.portableBucket(col(idCol)).as("__b"), shingles.as("s"))
    val train = keyed.filter(col("__b") < thr)
      .select(explode(col("s")).as("g")).distinct()
    val nTrain = math.max(1L, expectedItems.getOrElse(train.count()))
    val bloom = train.stat.bloomFilter("g", nTrain, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    // ONE eval-side kernel pass: the Bloom check runs INSIDE the array
    // (HOF filter over the kernel's distinct-shingle array), and
    // explode_outer keeps a single null-g row for fully-clean docs — so
    // per-doc totals and the surviving candidates come out of the same
    // narrow projection, with no second kernel branch and no totals
    // join-back. Join input = true overlaps + fpp·clean shingles + one
    // row per doc; null g matches nothing and the left join keeps it.
    val pre = keyed.filter(col("__b") >= thr).select(
      col("doc_id"), size(col("s")).cast("long").as("n_shingles"),
      explode_outer(filter(col("s"), g =>
        graft.functions.NativeExpressions.bloom_might_contain_long(g, bc)))
        .as("g"))
    pre.join(train.withColumn("__hit", lit(1L)), Seq("g"), "left")
      .groupBy("doc_id", "n_shingles")
      .agg(sum(coalesce(col("__hit"), lit(0L))).as("shared")) // FPs die here
      .select(col("doc_id"), col("n_shingles"), col("shared"),
        (col("shared").cast("double") / col("n_shingles").cast("double"))
          .as("contamination"))
  }

  /** Intra-document repetition signals (Gopher rules 4-8 flavor): the
    * duplicate-line and most-repeated-bigram measures that catch
    * boilerplate, scraped navigation, and degenerate generations.
    *
    * Entirely a narrow per-row map — zero shuffle, whatever the corpus
    * size — via one pass of the native [[graft.functions
    * .RepetitionStats]] kernel (O(L) line/bigram hash-count maps). The
    * naive formulation (for each line, count equal lines) is O(L²) per
    * doc and dies on a 100k-line document; every output is a pure
    * function of the value-count multiset (duplicated-line chars =
    * Σ count·len over values with count ≥ 2, occurrences-beyond-first =
    * L − distinct, top bigram = max count), which the DuckDB oracle
    * (q59) still recomputes the naive way.
    *
    * Returns per doc: n_lines, dup_lines (occurrences beyond first),
    * dup_line_chars / line_chars (chars inside any duplicated line vs
    * all line chars), n_bigrams, top_bigram_n, and the two exact-IEEE
    * fractions. Docs with no lines / no bigrams yield NULL fractions
    * rather than fake zeros.
    */
  def repetitionSignals(docs: DataFrame, idCol: String, textCol: String,
      lineSep: String = "\n"): DataFrame = {
    val g = col("__r")
    val st = docs.select(col(idCol).as("doc_id"),
      graft.functions.NativeExpressions
        .repetition_stats(col(textCol), lineSep).as("__r"))
    val nL = element_at(g, 1)
    val dupLines = element_at(g, 2)
    val dupChars = element_at(g, 3)
    val allChars = element_at(g, 4)
    val nG = element_at(g, 5)
    val topRun = element_at(g, 6)
    st.select(
      col("doc_id"),
      nL.as("n_lines"),
      dupLines.as("dup_lines"),
      when(nL >= 1, dupLines.cast("double") / nL.cast("double"))
        .as("dup_line_frac"),
      when(nL >= 1, dupChars.cast("double") /
        when(allChars > 0, allChars).cast("double")).as("dup_char_frac"),
      nG.as("n_bigrams"),
      when(nG >= 2, topRun).when(nG === 1, lit(1L)).as("top_bigram_n"),
      when(nG >= 2, topRun.cast("double") / nG.cast("double"))
        .when(nG === 1, lit(1.0)).as("top_bigram_frac"))
  }

  /** PII redaction — scrub emails, NANP-style phone numbers, and IPv4
    * addresses, reporting per-doc counts alongside the redacted text.
    * A pure narrow codegen'd string map: zero shuffle at any corpus
    * size, and the regex work is O(chars) per doc.
    *
    * Patterns are deliberately written in the Java-regex ∩ RE2 common
    * dialect (character classes, bounded quantifiers, `\b`, `\d` — no
    * backreferences or lookaround) so the DuckDB oracle replays them
    * verbatim. Counts and replacements CHAIN (emails scrubbed before
    * phones are counted, phones before IPs): a phone-like fragment
    * inside an email's domain is counted exactly once, by the first
    * pattern that claims it, on both engines.
    */
  def redactPii(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one native Matcher pass per pattern (count + replace together, in
    // chain order) instead of separate regexp_count/regexp_replace
    // expression passes — same java.util.regex engine and patterns, so
    // the counts and redacted text are bit-identical
    val p = col("__p")
    docs.select(col(idCol).as("doc_id"),
      graft.functions.NativeExpressions.regex_scrub(col(textCol), Seq(
        PiiEmail -> "<EMAIL>", PiiPhone -> "<PHONE>", PiiIp -> "<IP>"))
        .as("__p"))
      .select(col("doc_id"),
        element_at(p.getField("counts"), 1).as("n_emails"),
        element_at(p.getField("counts"), 2).as("n_phones"),
        element_at(p.getField("counts"), 3).as("n_ips"),
        p.getField("redacted").as("redacted"))
  }

  /** The shared Java/RE2 pattern dialect — see [[redactPii]]. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhone = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val PiiIp = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** C4's line-and-page rule filter (Raffel et al. 2020, §2.2 "we used
    * the following heuristics"): the boilerplate scrubber that runs
    * BEFORE statistical quality scoring —
    *
    *   line rules (applied per line, drop reasons counted with chained
    *   precedence so a line failing several rules is counted once, by
    *   the first):
    *     1. keep only lines ending in a terminal punctuation mark
    *        (`.`, `!`, `?`, `"`, `'`) — menus/navigation rarely do;
    *     2. drop lines with fewer than `minWords` words;
    *     3. drop lines containing the word "javascript" (enable-JS and
    *        cookie notices);
    *   page rules (flags on the whole doc):
    *     4. a page containing `{` is code, not prose;
    *     5. a page containing "lorem ipsum" is template filler;
    *     6. after line filtering, a page keeping fewer than `minKept`
    *        lines carries no prose signal.
    *
    * `page_keep` folds 4-6. Entirely a narrow per-row map (split, HOF
    * filters, rejoin) — zero shuffle at any corpus size, and every
    * output is a count, a flag, or a deterministic rejoin, so the DuckDB
    * oracle replays it verbatim (q67).
    *
    * Returns (doc_id, n_lines, n_kept, dropped_punct, dropped_short,
    * dropped_js, cleaned, page_keep) — kept lines rejoined with
    * `joinSep`, counts/flags as BIGINT for cross-engine hashing.
    */
  def c4LineFilter(docs: DataFrame, idCol: String, textCol: String,
      lineSep: String = "\n", joinSep: String = "\n", minWords: Int = 3,
      minKept: Int = 3): DataFrame = {
    // one native C4LineStats pass per document: the line rules, chained
    // drop counts, kept-line rejoin, and page probes all come from a
    // single scan (the combinator formulation re-traversed the line
    // array once per drop reason)
    val p = col("__c")
    val cnt = p.getField("counts")
    val st = docs.select(col(idCol).as("doc_id"),
      graft.functions.NativeExpressions
        .c4_line_stats(col(textCol), lineSep, joinSep, minWords).as("__c"))
    st.select(
      col("doc_id"),
      element_at(cnt, 1).as("n_lines"),
      element_at(cnt, 2).as("n_kept"),
      element_at(cnt, 3).as("dropped_punct"),
      element_at(cnt, 4).as("dropped_short"),
      element_at(cnt, 5).as("dropped_js"),
      p.getField("cleaned").as("cleaned"),
      (element_at(cnt, 6) === 0L && element_at(cnt, 7) === 0L &&
        element_at(cnt, 2) >= minKept).cast("long").as("page_keep"))
  }

  /** Gopher's document-level quality flags (Rae et al. 2021, §A1.1 —
    * the pre-filter rules MassiveWeb applies before any model-based
    * scoring), one value per rule plus the conjunction `keep` under the
    * bounds of `gate`:
    *
    *   - word count within [minWords, maxWords];
    *   - mean word length within [minMeanLen, maxMeanLen] (kills
    *     character-soup and concatenated-token pages);
    *   - symbol-to-word ratio ≤ maxSymbolRatio (`#` and `...`);
    *   - ≤ maxBulletFrac of lines starting with a bullet (`-`, `*`);
    *   - ≤ maxEllipsisFrac of lines ending in `...`;
    *   - ≥ minAlphaFrac of words containing an alphabetic character;
    *   - at least minStopHits of the 8 required English stop words.
    *
    * Pure narrow map — one pass of the native single-pass
    * [[graft.functions.GopherStats]] kernel per document, zero shuffle
    * at any size; every fraction is an exact IEEE quotient of two
    * integer counts and the stopword probe is 8 literal membership
    * tests, so the DuckDB oracle (q68) replays everything verbatim.
    * Degenerate docs (no words / no lines) fail the corresponding bound
    * rather than yielding fake passes: Gopher drops empty pages.
    *
    * Returns (doc_id, n_words, mean_word_len, symbol_ratio,
    * bullet_frac, ellipsis_frac, alpha_frac, stop_hits, keep).
    */
  def gopherQualityFlags(docs: DataFrame, idCol: String, textCol: String,
      lineSep: String = "\n",
      gate: graft.functions.GopherGate = graft.functions.GopherGate())
      : DataFrame = {
    // every count from ONE pass of the native GopherStats kernel — the
    // expression-combinator formulation ran ~10 interpreted HOF passes
    // (split/filter/aggregate/exists×8/rlike-per-token) per document,
    // and quality filtering touches every document of a crawl. Count
    // semantics are identical (see the kernel scaladoc); the DuckDB
    // oracle (q68) and CurationSpec's hand-computed fixtures hold the
    // kernel to the same numbers the HOFs produced.
    val g = col("__g")
    val st = docs.select(col(idCol).as("doc_id"),
      graft.functions.NativeExpressions
        .gopher_stats(col(textCol), GopherStopWords, lineSep).as("__g"))
    val nW = element_at(g, 1)
    val sumLen = element_at(g, 2)
    val nAlpha = element_at(g, 3)
    val stopHits = element_at(g, 4)
    val nSym = element_at(g, 5)
    val nL = element_at(g, 6)
    val nBullet = element_at(g, 7)
    val nEll = element_at(g, 8)
    val meanLen = when(nW > 0, sumLen.cast("double") / nW.cast("double"))
    val symR = when(nW > 0, nSym.cast("double") / nW.cast("double"))
    val bulF = when(nL > 0, nBullet.cast("double") / nL.cast("double"))
    val ellF = when(nL > 0, nEll.cast("double") / nL.cast("double"))
    val alpF = when(nW > 0, nAlpha.cast("double") / nW.cast("double"))
    val keep = graft.functions.NativeExpressions.gopher_keep(g, gate)
    st.select(col("doc_id"), nW.as("n_words"), meanLen.as("mean_word_len"),
      symR.as("symbol_ratio"), bulF.as("bullet_frac"),
      ellF.as("ellipsis_frac"), alpF.as("alpha_frac"),
      stopHits.as("stop_hits"), keep.as("keep"))
  }

  /** The [[gopherQualityFlags]] keep bit (1 or 0) of `text` under `gate`,
    * as one column: one [[graft.functions.GopherStats]] call per row, also
    * when the optimizer pushes a filter on it below the projection that
    * computes it.
    */
  def gopherKeep(text: Column, gate: graft.functions.GopherGate,
      lineSep: String = "\n"): Column =
    graft.functions.NativeExpressions.gopher_keep(
      graft.functions.NativeExpressions.gopher_stats(text, GopherStopWords, lineSep),
      gate)

  /** Gopher's required-stop-word list (presence of ≥2 ⇒ real prose). */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Corpus-global exact sentence dedup (the C4 move: drop every
    * occurrence of a repeated sentence except the globally-first one,
    * then reassemble documents) — the workhorse against boilerplate
    * headers/footers repeated across millions of pages.
    *
    * First-occurrence-wins is defined by (doc_id, pos) lexicographic
    * order — deterministic and partitioning-invariant. Sentences key by
    * their 62-bit portable hash, so the decision replays exactly on the
    * oracle side; at ~2^62 a collision (which would drop a non-duplicate
    * sentence) is negligible and the alternative — keying the shuffle on
    * full sentence text — is strictly worse at 100 TB.
    *
    * Scale shape: one explode (narrow: id, pos, sentence), one
    * keep-decision shuffle on the 8-byte hash, one groupBy(doc) to
    * reassemble. The keep decision has two interchangeable forms:
    *
    *   - **window** (small inputs, the clearer default): row_number over
    *     (hash, ordered by doc_id/pos) == 1. Its partition is
    *     per-DISTINCT-sentence, so a boilerplate sentence repeated 10^8
    *     times makes one hot partition that nothing can split — a window
    *     partition is atomic.
    *   - **two-stage** (the skew path, auto above `twoStageBytes` of
    *     estimated input): pre-aggregate min(struct(doc_id, pos)) per
    *     hash — partial aggregation combines the hot hash MAP-SIDE, so
    *     the shuffle carries one row per (partition, distinct hash) —
    *     then equi-join the winners back and compare. The join's probe
    *     side still clusters the hot hash, but AQE's skew-join can SPLIT
    *     a join partition (it cannot split a window partition), and the
    *     build side is one row per hash by construction.
    *
    * Both paths pick the identical (doc_id, pos)-lexicographic-min
    * winner (struct ordering is lexicographic), asserted equivalent on a
    * hot-sentence fixture in CurationSkewSpec.
    *
    * Returns (doc_id, n_sentences, n_kept, cleaned); docs with zero
    * non-empty sentences are absent (nothing to clean).
    */
  def dedupSentences(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\\.", twoStageBytes: Long = SkewCutBytes): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sents = docs
      .select(col(idCol).as("doc_id"),
        filter(transform(split(col(textCol), sep), x => trim(x)),
          s => length(s) > 0).as("__sents"))
      .select(col("doc_id"), posexplode(col("__sents")).as(Seq("pos", "sent")))
    val hashed = sents
      .withColumn("__h", element_at(
        graft.functions.NativeExpressions.portable_token_hashes(
          array(col("sent"))), 1))
    val keep =
      if (planBytes(docs) <= twoStageBytes)
        hashed.withColumn("keep", row_number().over(
          Window.partitionBy(col("__h")).orderBy(col("doc_id"), col("pos"))) === 1)
      else {
        val first = hashed.groupBy("__h")
          .agg(min(struct(col("doc_id"), col("pos"))).as("__first"))
        hashed.join(first, "__h")
          .withColumn("keep",
            struct(col("doc_id"), col("pos")) === col("__first"))
          .drop("__first")
      }
    keep.groupBy("doc_id").agg(
      count(lit(1)).as("n_sentences"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(when(col("keep"),
          struct(col("pos"), col("sent"))))),
        x => x.getField("sent")), " ").as("cleaned"))
  }

  /** Per-source quota cap — the "no domain dominates the mix" operator
    * (C4 keeps per-domain caps for the same reason): deterministically
    * keep at most `quota` docs per source, ordered by the portable hash
    * bucket (so the kept subset is a stable pseudo-random sample, not
    * "whatever sorted first", and is reproducible across engines and
    * partitionings).
    *
    * The rank runs over a NARROW projection (id, source, bucket — ~24
    * bytes/row) and the kept ids join back to the full-width rows, so
    * the per-source sort never moves document text — at 100 TB the
    * window input is GBs, not the corpus. Two interchangeable kept-set
    * computations:
    *
    *   - **window** (small inputs): row_number per source — one sort
    *     partition per source, so a single mega-source (half the crawl
    *     from one domain) concentrates its whole key set in one
    *     unsplittable partition.
    *   - **TopK combiner** (the skew path, auto above `combinerBytes`):
    *     [[graft.plans.TopKPerGroup]] holds a bounded quota-row heap per
    *     (source, input partition) BEFORE the exchange — the classic
    *     top-k identity (global top-q ⊆ union of per-partition top-q)
    *     makes this exact with no sampling, no validation job, no
    *     probabilistic cutoff; the shuffle then carries ≤ quota rows per
    *     source per partition and the mega-source arrives pre-shrunk.
    *     The final rank runs over ≤ quota rows per source — trivially
    *     safe. Working set: sources × quota per partition (same
    *     assumption hash aggregation makes).
    *
    * Both paths keep the identical set (asserted on a mega-source
    * fixture in CurationSkewSpec). Returns the INPUT columns + `rank`
    * (payload-preserving, so quota composes mid-pipeline — q84 — without
    * a caller-side join-back that recomputes the upstream lineage).
    * The window path ranks full rows directly (its `planBytes` gate
    * already bounds the input); the skew path still sends ONLY narrow
    * keys through the bounded heaps and re-attaches payload by id.
    */
  def sourceQuota(docs: DataFrame, idCol: String, srcCol: String,
      quota: Int, combinerBytes: Long = SkewCutBytes): DataFrame = {
    require(quota > 0, s"quota must be positive: $quota")
    import org.apache.spark.sql.expressions.Window
    if (planBytes(docs) <= combinerBytes) {
      val rankW = Window.partitionBy(col(srcCol))
        .orderBy(Sampling.portableBucket(col(idCol)), col(idCol))
      docs.withColumn("rank", row_number().over(rankW).cast("long"))
        .filter(col("rank") <= quota)
    } else {
      // partial heaps cap every source at quota rows/partition before
      // the shuffle; the window then ranks ≤ quota rows per source
      val keys = docs.select(col(idCol).as("__qid"), col(srcCol).as("__qsrc"),
        Sampling.portableBucket(col(idCol)).as("__b"))
      val rankW = Window.partitionBy(col("__qsrc"))
        .orderBy(col("__b"), col("__qid"))
      val kept = graft.plans.TopKPerGroup(keys, Seq("__qsrc"),
        Seq(col("__b").asc, col("__qid").asc), quota)
        .withColumn("rank", row_number().over(rankW).cast("long"))
        .select(col("__qid"), col("rank"))
      docs.join(kept, docs(idCol) === col("__qid")).drop("__qid")
    }
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * score every document by how much its hashed n-gram profile looks
    * like a TARGET subset (e.g. "high-quality English") relative to the
    * raw corpus — the selection signal importance resampling feeds on.
    *
    * Per bucket b of `buckets` (shingle hash mod m), with Laplace-
    * smoothed occurrence distributions p̂_t(b) = (t_b+1)/(T+m) over the
    * target subset and p̂_r(b) = (r_b+1)/(R+m) over the whole corpus,
    * a document with per-bucket counts c_b and n = Σ c_b scores
    *
    *   importance = (Σ_b c_b · p̂_t(b)/p̂_r(b)) / n
    *
    * — the mean likelihood ratio over the doc's n-gram occurrences.
    * DSIR's own weight is the LOG-domain sum Σ c_b·(ln p̂_t − ln p̂_r);
    * the linear-domain mean is kept here because every factor is an
    * exact-IEEE quotient of integer counts (correctly-rounded divides
    * and multiplies — bit-identical on any engine), whereas `ln` is
    * libm-dependent to 1 ulp and would break the cross-engine
    * hash-match oracle (q74). Same signal: both are monotone pulls
    * toward buckets the target over-represents.
    *
    * Determinism: the per-doc sum is a LEFT FOLD over terms in bucket
    * order (Spark `aggregate` over an `array_sort`ed collect_list =
    * DuckDB `list_reduce` over `list(... ORDER BY b)`), so the IEEE
    * addition sequence — not just the term multiset — is pinned, and
    * the double hash-matches bit-for-bit.
    *
    * Scale shape: one narrow explode (id, target-flag, 8-byte bucket),
    * a map-side-combined groupBy(doc, bucket), bucket stats collapse to
    * m rows (broadcast back — the m-row frame, never the corpus, sits
    * on the build side), and a final groupBy(doc) whose collect_list is
    * bounded by min(n-grams/doc, m) entries. Text never shuffles. The
    * explode feeds both the per-doc and the per-bucket branches;
    * recomputing the narrow scan+kernel twice beats persisting at
    * 100 TB (same call as [[contamination]]).
    *
    * Every doc yields ≥ 1 shingle ([[Dedup.portableShingles]] folds
    * short docs whole), so no doc goes missing. Returns
    * (doc_id, n_terms, importance).
    */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 1024,
      shingleSize: Int = 2): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    // native one-pass shingle kernel, NOT the HOF form: handing the
    // token-hash expression tree to Dedup.portableShingles re-evaluates
    // it per element_at (interpreted HOFs don't CSE — the q58 lesson);
    // the compiled kernel took q74 from 7.4 s to 1.2 s at sf0.1
    val terms = docs.select(
      col(idCol).as("doc_id"),
      targetPred.as("__tgt"),
      explode(graft.functions.NativeExpressions.portable_shingles(
        Dedup.portableTokenHashes(TextOps.tokens(col(textCol))),
        shingleSize)).as("__g"))
      .select(col("doc_id"), col("__tgt"),
        pmod(col("__g"), lit(buckets.toLong)).as("b"))
    val perDoc = terms.groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("c"))
    val bucketStats = terms.groupBy(col("b"))
      .agg(count(lit(1)).as("r"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("t"))
    val totals = bucketStats.agg(sum(col("r")).as("rtot"),
      sum(col("t")).as("ttot"))
    val stats = bucketStats.crossJoin(broadcast(totals)).select(
      col("b"),
      ((col("t") + 1L).cast("double") /
        (col("ttot") + buckets.toLong).cast("double")).as("__pt"),
      ((col("r") + 1L).cast("double") /
        (col("rtot") + buckets.toLong).cast("double")).as("__pr"))
    perDoc.join(broadcast(stats), "b")
      .select(col("doc_id"), col("b"),
        col("c"),
        (col("c").cast("double") * (col("__pt") / col("__pr"))).as("__term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_terms"),
        aggregate(array_sort(collect_list(struct(col("b"), col("__term")))),
          lit(0.0), (acc, x) => acc + x.getField("__term")).as("__s"))
      .select(col("doc_id"), col("n_terms"),
        (col("__s") / col("n_terms").cast("double")).as("importance"))
  }

  /** Fixed-size overlapping character chunks per document — the RAG /
    * context-window prep step: chunk i covers characters
    * [1 + i·(chunkChars − overlap), …] (1-based), the last chunk is
    * whatever remains, and an empty document yields one empty chunk (so
    * every input doc is represented downstream — silently dropping empty
    * docs would break doc-level joins on the chunk table).
    *
    * Pure narrow generator: sequence → posexplode → substring, all
    * codegen'd builtins — zero shuffle at any corpus size; output order
    * within a doc is pinned by chunk_id. Emits the chunk's md5 rather
    * than only offsets so the oracle certifies the actual substring
    * bytes, not just the arithmetic.
    *
    * Returns (doc_id…, chunk_id, start, chunk_len, chunk_md5); the chunk
    * text itself stays out of the default projection — at 100 TB the
    * caller selects it explicitly (`withText = true`) only in the
    * branches that embed/tokenize, keeping every other consumer narrow.
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkChars: Int = 200, overlap: Int = 50,
      withText: Boolean = false): DataFrame = {
    require(chunkChars > 0 && overlap >= 0 && overlap < chunkChars,
      s"need 0 <= overlap < chunkChars: $chunkChars/$overlap")
    val step = chunkChars - overlap
    val starts = sequence(lit(1), greatest(length(col(textCol)), lit(1)), lit(step))
    val exploded = docs
      .select(col(idCol), col(textCol), posexplode(starts).as(Seq("__pos", "__start")))
    val chunk = substring(col(textCol), col("__start"), lit(chunkChars))
    val base = exploded.select(
      col(idCol),
      (col("__pos") + 1).cast("long").as("chunk_id"),
      col("__start").cast("long").as("start"),
      length(chunk).cast("long").as("chunk_len"),
      md5(chunk.cast("binary")).as("chunk_md5"),
      chunk.as("chunk_text"))
    if (withText) base else base.drop("chunk_text")
  }

  /** Per-source token-distribution drift vs the whole corpus, as add-one
    * smoothed KL divergence over HASHED token buckets — the monitoring
    * signal that flags when one ingestion source's language suddenly
    * diverges from the corpus (encoding breakage, spam floods, template
    * takeover). Bucketing (the DSIR move, q74) is what makes the
    * distribution comparable at 100 TB: the per-source state is m
    * counters, not a vocabulary.
    *
    * KL(p_s ‖ q) = Σ_b p_s(b)·ln(p_s(b)/q(b)) over ALL m buckets, with
    * p_s(b) = (c_sb + 1)/(n_s + m) and q(b) = (r_b + 1)/(n + m) — the
    * smoothing keeps every term finite, and summing over absent buckets
    * too (c_sb = 0) is what makes it a true KL, not a truncation.
    *
    * Scale shape: one narrow tokenize+hash scan → map-side-combined
    * (source, bucket) counts [the only corpus-sized shuffle, output ≤
    * sources×m rows]; corpus totals derive from that tiny frame; the
    * sources×m evaluation grid is generated (`sequence`/`explode`), never
    * scanned. Determinism: per-source sum is a bucket-ordered LEFT FOLD
    * (the q74 pattern) of single-shape terms, rounded to 6 (`ln` is
    * libm — the q88/q89 precedent).
    */
  def sourceTokenKl(docs: DataFrame, srcCol: String, textCol: String,
      buckets: Int = 256): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    val m = buckets.toLong
    val terms = docs.select(
      col(srcCol).as("source"),
      explode(Dedup.portableTokenHashes(TextOps.tokens(col(textCol))))
        .as("__h"))
      .select(col("source"), pmod(col("__h"), lit(m)).as("b"))
    val perSrc = terms.groupBy(col("source"), col("b"))
      .agg(count(lit(1)).as("c"))
    val corpus = perSrc.groupBy(col("b")).agg(sum(col("c")).as("r"))
    val nSrc = perSrc.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val nTot = corpus.agg(sum(col("r")).as("n"))
    val grid = nSrc
      .select(col("source"), col("n_s"),
        explode(sequence(lit(0L), lit(m - 1))).as("b"))
    val termCol =
      (((col("c") + 1L).cast("double") / (col("n_s") + m).cast("double")) *
        log(((col("c") + 1L).cast("double") / (col("n_s") + m).cast("double")) /
          ((col("r") + 1L).cast("double") / (col("n") + m).cast("double"))))
    grid
      .join(perSrc, Seq("source", "b"), "left")
      .join(broadcast(corpus), Seq("b"), "left")
      .crossJoin(broadcast(nTot))
      .select(col("source"), col("n_s"), col("b"),
        coalesce(col("c"), lit(0L)).as("c"),
        coalesce(col("r"), lit(0L)).as("r"), col("n"))
      .select(col("source"), col("n_s"), col("b"), termCol.as("__term"))
      .groupBy(col("source"))
      .agg(first(col("n_s")).as("n_tokens"),
        round(aggregate(
          array_sort(collect_list(struct(col("b"), col("__term")))),
          lit(0.0), (acc, x) => acc + x.getField("__term")), 6).as("kl"))
  }

  /** Minimal covering prefix — "which sources make up 90% of the
    * corpus?": groups ranked by total weight descending, cumulative
    * share computed, and `kept` marks the SMALLEST prefix whose
    * cumulative share reaches `target` (the crossing group is included:
    * kept ⇔ the share BEFORE this group is still < target). The
    * data-mixing twin of nucleus/top-p truncation, and the audit table
    * behind "drop the long tail of scrapes".
    *
    * Scale shape: one map-side-combined aggregate to #groups rows; the
    * rank/cumsum window runs UNPARTITIONED but only over that tiny
    * post-aggregate frame (#groups ≪ corpus — the same single-partition
    * trade as temperatureMix's global min). Share is a quotient of exact
    * longs rounded to 6; ordering (weight desc, group asc) is total.
    */
  def coverageCutoff(rows: DataFrame, keyCol: String, weightExpr: Column,
      target: Double): DataFrame = {
    require(target > 0.0 && target <= 1.0, s"target in (0, 1]: $target")
    import org.apache.spark.sql.expressions.Window
    val agg = rows.groupBy(col(keyCol).as("key"))
      .agg(sum(weightExpr.cast("long")).as("w"))
    val ord = Window.orderBy(col("w").desc, col("key"))
    val tot = agg.agg(sum(col("w")).as("total"))
    agg.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("cum",
        sum(col("w")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("key"), col("w"), col("rank"),
        round(col("cum").cast("double") / col("total").cast("double"), 6)
          .as("cum_share"),
        ((col("cum") - col("w")).cast("double") <
          col("total").cast("double") * target).cast("long").as("kept"))
  }

  /** Canonical text cleanup — the pass every curation pipeline runs
    * BEFORE fingerprinting/dedup so that whitespace and case variants of
    * the same document collide (ref test.py's lower/strip prep before
    * report grouping, generalized to corpus scale): collapse all ASCII
    * whitespace/control runs (chars ≤ 0x20) to one space, trim, lowercase
    * A–Z. Non-ASCII bytes pass through untouched, so the kernel never
    * corrupts multi-byte UTF-8 content it doesn't understand.
    *
    * Scale shape: one narrow codegen projection
    * ([[graft.functions.NormalizeAsciiText]], single pass, one output
    * buffer per row) — zero shuffles, zero regex machinery on the hot
    * path; at 100 TB this pins at the parquet scan's speed. `norm_stable`
    * re-applies the kernel to its own output and compares — idempotence
    * is the contract that makes dedup keys computed before and after a
    * re-normalization pass agree, so it ships as a checked column rather
    * than a doc comment.
    *
    * Returns (id, n_raw, n_norm, text_norm, norm_stable), exactly
    * mirrorable by `trim(regexp_replace(lower(t), '[\x00-\x20]+', ' ',
    * 'g'))` on ASCII corpora (q157 hash-certifies).
    */
  def normalizeDocuments(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import graft.functions.NativeExpressions.normalize_ascii_text
    docs
      .select(col(idCol).as("id"),
        length(col(textCol)).cast("long").as("n_raw"),
        normalize_ascii_text(col(textCol)).as("text_norm"))
      .select(col("id"), col("n_raw"),
        length(col("text_norm")).cast("long").as("n_norm"),
        col("text_norm"),
        (normalize_ascii_text(col("text_norm")) === col("text_norm"))
          .as("norm_stable"))
  }

  /** HTML → block-segmented text extraction — the MISSING FIRST stage of
    * a crawl pipeline (the trafilatura/resiliparse role): everything
    * downstream of it already exists here (canonicalize → dedup →
    * boilerplate → quality → mix), but those operators assume
    * already-extracted text, and a real crawl starts from HTML. One
    * [[graft.functions.HtmlExtractText]] kernel pass per document: strip
    * tags (quote-aware, so `title="a>b"` can't truncate a tag), drop
    * script/style/comment subtrees whole, decode the standard entities
    * (`&amp; &lt; &gt; &quot; &apos; &nbsp; &#NN; &#xHH;`), segment text
    * at block-level tags, collapse whitespace per block, join kept blocks
    * with `\n`. Returns (doc_id, text, tags_dropped, blocks_kept).
    *
    * Scale shape: a narrow codegen projection — zero shuffles, zero
    * joins, text read once; corpus-linear like every kernel here (the
    * q223 oracle pins the semantics, HtmlExtractSpec's independent
    * reference parser pins the grammar corners).
    */
  def extractHtmlText(docs: DataFrame, idCol: String,
      htmlCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.NativeExpressions
          .html_extract_text(col(htmlCol)).as("__h"))
      .select(col("doc_id"), col("__h.text").as("text"),
        col("__h.tags_dropped").as("tags_dropped"),
        col("__h.blocks_kept").as("blocks_kept"))

  /** Hyperlink frontier extraction — the crawl-loop half of
    * [[extractHtmlText]]: harvest every `<a href>` of each page (one
    * [[graft.functions.HtmlExtractLinks]] kernel pass, document order,
    * entity-decoded) and resolve it against the page's own URL with the
    * exact RFC 3986 §5 algorithm ([[graft.functions.ResolveUrl]] —
    * HtmlLinksSpec pins it to `java.net.URI.resolve` and the RFC §5.4
    * example set). Output (doc_id, pos, href, url): `href` as written,
    * `url` absolute (null when the base itself was not absolute). Feed
    * `url` to [[Urls.canonicalize]] + the q213 crawl-dedup collapse and
    * the loop closes: fetch → extract text AND links → canonicalize →
    * dedup → fetch.
    *
    * Scale shape: narrow kernel projection → posexplode → narrow resolve;
    * zero shuffles, zero joins, output bounded by actual links.
    */
  def extractLinks(docs: DataFrame, idCol: String, htmlCol: String,
      baseUrlCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(baseUrlCol).as("__base"),
        graft.functions.NativeExpressions
          .html_extract_links(col(htmlCol)).as("__links"))
      .select(col("doc_id"), col("__base"),
        posexplode(col("__links")).as(Seq("pos", "href")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("href"),
        graft.functions.NativeExpressions
          .resolve_url(col("__base"), col("href")).as("url"))

  /** HTML document metadata — the weak labels a crawl keeps alongside
    * [[extractHtmlText]]'s body: the first `<html>` tag's `lang`
    * attribute (trimmed, lowercased — the declared language that seeds
    * or validates the q219 trained classifier) and the first `<title>`'s
    * text (RCDATA semantics, entity-decoded, whitespace-collapsed — the
    * quality-heuristic input). Decoys inside comments/script/style are
    * never picked; the kernel exits as soon as both are found. Returns
    * (doc_id, title, html_lang), nulls when absent. Zero shuffle.
    */
  def extractHtmlMeta(docs: DataFrame, idCol: String,
      htmlCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.NativeExpressions.html_meta(col(htmlCol)).as("__m"))
      .select(col("doc_id"), col("__m.title").as("title"),
        col("__m.html_lang").as("html_lang"))

  /** Per-document blocklist hit counts (the C4 "bad words" gate, Raffel
    * et al. 2020 §2.2, at production pattern counts): every occurrence
    * of every pattern in every document, via ONE Aho–Corasick pass per
    * row ([[graft.functions.AcAutomaton]] — automaton built once on the
    * driver, broadcast; O(text + matches) per doc regardless of whether
    * the list holds 5 patterns or 50,000, where the q61-style per-regex
    * scan multiplies the corpus scan by the pattern count). Counting is
    * raw substring occurrence, overlaps and nested patterns included
    * (exactly what the automaton's dictionary-suffix links emit) —
    * callers wanting word-boundary semantics pad patterns with spaces.
    *
    * Returns (doc_id, pattern, hits) for hits > 0 only — output is
    * bounded by actual matches, not |docs| × |patterns|. Lowercases the
    * text before matching when `foldCase` (patterns must then be
    * lowercase; the usual blocklist convention).
    *
    * Scale shape: narrow kernel projection → posexplode of a
    * |patterns|-length array → filter. Zero shuffles, zero joins; text
    * never moves. The explode fans out |patterns| rows per doc
    * pre-filter, which whole-stage codegen consumes inline — nothing is
    * materialized.
    */
  def blocklistCounts(docs: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String], foldCase: Boolean = true): DataFrame = {
    requireLowercasePatterns(patterns, foldCase)
    val auto = new graft.functions.AcAutomaton(patterns.toArray)
    val bc = docs.sparkSession.sparkContext.broadcast(auto)
    val text = if (foldCase) lower(col(textCol)) else col(textCol)
    val patArr = array(patterns.map(lit): _*)
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.NativeExpressions.ac_counts(text, bc).as("__c"))
      .select(col("doc_id"), posexplode(col("__c")).as(Seq("__p", "hits")))
      .filter(col("hits") > 0)
      .select(col("doc_id"), element_at(patArr, col("__p") + 1).as("pattern"),
        col("hits"))
  }

  /** With foldCase the TEXT is lowercased before matching, so an
    * uppercase pattern can never match — for [[blocklistFilter]] that
    * silently passes pages that should be dropped. Fail loudly instead.
    */
  private def requireLowercasePatterns(patterns: Seq[String],
      foldCase: Boolean): Unit =
    if (foldCase) {
      val bad = patterns.filter(p => p != p.toLowerCase(java.util.Locale.ROOT))
      require(bad.isEmpty,
        s"foldCase=true lowercases the text, so patterns must already be " +
          s"lowercase; offending: ${bad.take(5).mkString(", ")}")
    }

  /** The blocklist page gate: keep documents whose TOTAL blocklist hits
    * are ≤ `maxHits` (C4 drops any page with a single hit — the default).
    * Single [[graft.functions.AhoCorasickTotal]] pass per row, no
    * per-pattern array, no explode — a narrow codegen'd filter that
    * composes with the q204 curation chain like any other gate.
    */
  def blocklistFilter(docs: DataFrame, textCol: String,
      patterns: Seq[String], maxHits: Long = 0,
      foldCase: Boolean = true): DataFrame = {
    require(maxHits >= 0, s"maxHits must be >= 0: $maxHits")
    requireLowercasePatterns(patterns, foldCase)
    val auto = new graft.functions.AcAutomaton(patterns.toArray)
    val bc = docs.sparkSession.sparkContext.broadcast(auto)
    val text = if (foldCase) lower(col(textCol)) else col(textCol)
    docs.filter(
      graft.functions.NativeExpressions.ac_total(text, bc) <= maxHits)
  }

  /** Multi-pattern scrub (mask, not drop): replace every
    * leftmost-longest blocklist occurrence with `replacement` — the
    * redaction sibling of [[blocklistFilter]] (q61's chained regex
    * redaction generalized to blocklist scale: ONE broadcast automaton,
    * one [[graft.functions.AhoCorasickScrub]] pass per document, any
    * pattern count). Semantics match a global regex replace over a
    * longest-first alternation of the literal patterns — which is
    * exactly what the oracle replays — so "longest pattern wins at a
    * position, matches never overlap, replacements are never
    * rescanned". Returns (doc_id, n_scrubbed, scrubbed). Matching is
    * case-sensitive (compose with `lower()` upstream for folding — the
    * scrubbed TEXT is the output here, so the operator does not mutate
    * case behind the caller's back).
    */
  def blocklistScrub(docs: DataFrame, idCol: String, textCol: String,
      patterns: Seq[String], replacement: String = "[SCRUBBED]"): DataFrame = {
    val auto = new graft.functions.AcAutomaton(patterns.toArray)
    val bc = docs.sparkSession.sparkContext.broadcast(auto)
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.NativeExpressions
          .ac_scrub(col(textCol), bc, replacement).as("__s"))
      .select(col("doc_id"), col("__s.n_matches").as("n_scrubbed"),
        col("__s.scrubbed").as("scrubbed"))
  }

  /** Per-group boilerplate line removal (the CCNet/RefinedWeb cleanup
    * between raw crawl and quality filtering): a line that appears in
    * at least `minDocs` documents AND at least `minPermille`/1000 of
    * ITS GROUP's documents (group = registered domain in a real crawl —
    * compose with [[Urls.canonicalize]]) is template boilerplate
    * (footers, nav bars, cookie notices) and is stripped from every
    * document of that group; unique prose survives. Both thresholds are
    * exact integer comparisons (nd·1000 ≥ permille·groupDocs), so the
    * keep/strip decision is engine-exact.
    *
    * Scale shape ([[dedupSentences]]'s, plus one small join): one
    * explode moves each trimmed line once; the per-(group, line) doc
    * count collapses through a distinct + map-side-combined count; the
    * group totals frame (one row per group) rides a broadcast; the
    * boilerplate set (lines crossing the threshold — template-sized,
    * not corpus-sized) equi-joins back on the 8-byte line hash under
    * AQE. Reassembly is the same per-doc sorted fold as q62. Lines are
    * keyed by the 62-bit portable hash, which the oracle replays
    * bit-for-bit (q62's discipline), so a collision — however unlikely
    * — reproduces identically on both engines instead of flaking.
    *
    * Returns (doc_id, group, n_lines, n_kept, cleaned) for every doc
    * with ≥ 1 non-empty line.
    */
  def stripBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, minDocs: Long = 2, minPermille: Int = 300,
      sep: String = "\\."): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1: $minDocs")
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille in [1,1000]: $minPermille")
    val lines = docs
      .select(col(idCol).as("doc_id"), col(groupCol).as("grp"),
        posexplode(filter(transform(split(col(textCol), sep), x => trim(x)),
          s => length(s) > 0)).as(Seq("pos", "line")))
      .withColumn("__h", element_at(
        graft.functions.NativeExpressions.portable_token_hashes(
          array(col("line"))), 1))
    val perLine = lines.select("grp", "__h", "doc_id").distinct()
      .groupBy("grp", "__h").agg(count(lit(1)).as("__nd"))
    val grpTotals = docs.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("__gd"))
    val boiler = perLine.join(broadcast(grpTotals), "grp")
      .filter(col("__nd") >= minDocs &&
        col("__nd") * 1000 >= lit(minPermille.toLong) * col("__gd"))
      .select(col("grp"), col("__h"), lit(true).as("__boiler"))
    lines.join(boiler, Seq("grp", "__h"), "left")
      .groupBy("doc_id", "grp")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__boiler").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("__boiler").isNull,
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), " ").as("cleaned"))
      .select(col("doc_id"), col("grp").as(groupCol), col("n_lines"),
        col("n_kept"), col("cleaned"))
  }

  /** CCNet-style perplexity tercile gate (Wenzek et al. 2020 §4.3):
    * score every document with the self-trained bigram LM
    * ([[TextOps.bigramNll]] — the exact, oracle-replayable perplexity
    * stand-in), rank WITHIN EACH LANGUAGE by (avg_nll asc, id), and
    * bucket by rank tercile — head (0, least surprising), middle (1),
    * tail (2); CCNet trains on head+middle, so `keep` = tercile < 2.
    * Rank terciles instead of quantile CUTOFFS: `(rank−1)·3 div n` is
    * pure integer arithmetic on an exactly-reproducible rank order — no
    * interpolation, no cutoff ties, engine-exact by construction
    * (CurationQueries q215's oracle replays it verbatim).
    *
    * Docs the LM cannot score (< 2 tokens → null avg_nll) are NOT
    * dropped (the q89 contract): they ride through with a null tercile
    * and keep = false — un-scoreable is un-keepable, loudly visible.
    *
    * Scale shape: [[TextOps.bigramNll]]'s corpus-count joins, then ONE
    * per-language exchange ranking a narrow (id, lang, nll) projection
    * — the window input is GBs at 100 TB, never the text. (CCNet ranks
    * against per-language LMs; the gate takes whatever scorer's output
    * shape (id, n, nll) — swap the scorer, keep the gate.)
    *
    * Returns (doc_id, lang, n_bigrams, avg_nll, tercile, keep).
    */
  def perplexityTercileGate(docs: DataFrame, idCol: String,
      textCol: String, langCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nll = TextOps.bigramNll(docs, idCol, textCol)
      .join(docs.select(col(idCol).as("doc_id"), col(langCol).as("lang")),
        "doc_id")
    val byLang = Window.partitionBy(col("lang"))
    val ranked = nll.filter(col("avg_nll").isNotNull)
      .withColumn("rank", row_number()
        .over(byLang.orderBy(col("avg_nll"), col("doc_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(byLang))
      .select(col("doc_id").as("__tid"),
        call_function("div", (col("rank") - 1L) * 3L, col("n"))
          .as("tercile"))
    nll.join(ranked, col("doc_id") === col("__tid"), "left")
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("avg_nll"),
        col("tercile"), coalesce(col("tercile") < 2, lit(false)).as("keep"))
  }

  /** Above this estimated-input size (Catalyst plan statistics), the
    * skew-safe formulations of [[dedupSentences]] and [[sourceQuota]]
    * take over. 1 GiB: far below anything a hot key could break, far
    * above the suite/oracle fixtures, so small inputs keep the simpler
    * plans and every 100 TB run lands on the skew path. Specs pin both
    * paths equal, so the cut affects plan shape only, never results.
    */
  val SkewCutBytes: Long = 1L << 30

  private def planBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes
}
