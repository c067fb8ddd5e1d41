package graft.suite

import org.apache.spark.sql.functions._
import graft.core.{GQuery, Tables => T}
import graft.scale.{Curation, Urls}

/** Corpus-curation operators (graft.scale.Curation) as fully-oracled
  * queries: q58 eval-set decontamination, q59 repetition signals, q60
  * per-source quota. All outputs are integer counts and exact-IEEE
  * quotients — no rounding anywhere (the q53 lesson: Spark's BigDecimal
  * HALF_UP round and DuckDB's double ROUND can split on a tie; plain
  * `a/b` of the same two longs cannot).
  */
object CurationQueries {

  private val P = ScaleQueries.P31

  /** DuckDB: Dedup.portableShingles(th, 3) as a LIST (the q26 fingerprint
    * takes the min of this list; decontamination needs the members).
    */
  private def shingleListSql(th: String): String = {
    def x(e: String) = s"($e % $P)"
    val w = s"(((((17 * 31 + ${x(s"$th[i]")}) % $P) * 31 + ${x(s"$th[i+1]")}) % $P)" +
      s" * 31 + ${x(s"$th[i+2]")}) % $P"
    s"""CASE WHEN len($th) >= 3
         THEN list_transform(range(1, len($th) - 1), i -> $w)
         ELSE [list_reduce(list_prepend(17::BIGINT, list_transform($th, v -> v % $P)),
           (a, v) -> (a * 31 + v) % $P)] END"""
  }

  /** Eval-set decontamination at train fraction 0.7: for every eval doc,
    * how many of its distinct 3-token shingles appear anywhere in the
    * train split. The oracle replays the identical portable hash family
    * (q26's), the identical portable bucket split (q45/q46's), and a
    * plain set-semijoin — so `shared` and the exact-IEEE `contamination`
    * quotient hash-match.
    */
  private val trainFrac = 0.7
  private val thr = (trainFrac * 2147483647L).toLong

  private def contaminationOracleSql(thr: Long) =
    s"""${ScaleQueries.thCtes(withCodes = false)},
      sh AS (
        SELECT doc_id, ${ScaleQueries.bucketSql("doc_id")} AS b,
          list_distinct(${shingleListSql("th")}) AS s
        FROM th),
      train AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE b < $thr),
      ev AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n_shingles, s
        FROM sh WHERE b >= $thr),
      hits AS (
        SELECT e.doc_id, COUNT(*) AS shared
        FROM (SELECT doc_id, unnest(s) AS g FROM ev) e
        JOIN train t ON e.g = t.g
        GROUP BY e.doc_id)
      SELECT e.doc_id, e.n_shingles,
        COALESCE(h.shared, 0) AS shared,
        COALESCE(h.shared, 0)::DOUBLE / e.n_shingles::DOUBLE AS contamination
      FROM ev e LEFT JOIN hits h ON e.doc_id = h.doc_id
      ORDER BY e.doc_id"""

  private val q58 = GQuery(
    (s, d) => Curation.contamination(T.documents(s, d), "doc_id", "text",
      trainFrac, shingleSize = 3).orderBy("doc_id"),
    Some(contaminationOracleSql(thr)))

  /** Bloom-prefiltered decontamination (Curation.contaminationBloom) in
    * its production orientation: the "train" side is the SMALL split
    * (trainFrac 0.1 — the benchmark/eval suite a huge corpus is scored
    * against), which is the side the broadcast Bloom summarizes. Result
    * is row-identical to the exact join by construction — false
    * positives die in the exact train-set join — so the oracle is the
    * same SQL as q58 at the flipped threshold, and a hash-match
    * certifies the whole prefilter+verify chain end to end.
    */
  private val bloomTrainFrac = 0.1
  private val bloomThr = (bloomTrainFrac * 2147483647L).toLong
  private val q77 = GQuery(
    (s, d) => Curation.contaminationBloom(T.documents(s, d), "doc_id", "text",
      bloomTrainFrac, shingleSize = 3,
      // sizing hint from the parquet footers (docs × ~128 distinct
      // shingles upper bound) skips the exact-count job; over/undersizing
      // shifts only the bitmap size / effective fpp, never the answer
      expectedItems = Some(
        T.parquetRowCount(s, s"$d/documents.parquet") * 128))
      .orderBy("doc_id"),
    Some(contaminationOracleSql(bloomThr)))

  /** Repetition signals with sentence-level "lines" (the corpus has no
    * newlines, so the line separator is the sentence boundary `\.` —
    * same regex on both engines). Spark computes duplicate counts and
    * the max-bigram run in O(L log L) per doc via sort-adjacency
    * (Curation.repetitionSignals); the oracle recomputes them the naive
    * O(L²) way — slow is fine for ground truth.
    */
  private val q59 = GQuery(
    (s, d) => Curation.repetitionSignals(T.documents(s, d), "doc_id", "text",
      lineSep = "\\.").orderBy("doc_id"),
    Some("""WITH base AS (
        SELECT doc_id,
          list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks,
          list_sort(list_filter(string_split_regex(text, '\.'), l -> len(l) > 0)) AS s
        FROM documents),
      b2 AS (
        SELECT doc_id, s, len(s) AS nl,
          len(s) - len(list_distinct(s)) AS dupl,
          list_sort(list_transform(range(1, len(toks)),
            i -> toks[i] || ' ' || toks[i+1])) AS g
        FROM base),
      b3 AS (
        SELECT doc_id, nl, dupl, g, len(g) AS ng,
          COALESCE(list_sum(list_transform(range(1, nl + 1), i ->
            CASE WHEN (i > 1 AND s[i] = s[i-1]) OR (i < nl AND s[i] = s[i+1])
              THEN len(s[i]) ELSE 0 END)), 0) AS dupchars,
          COALESCE(list_sum(list_transform(s, x -> len(x))), 0) AS allchars
        FROM b2),
      b4 AS (
        SELECT doc_id, nl, dupl, ng, dupchars, allchars,
          CASE WHEN ng >= 2 THEN
              list_max(list_transform(list_distinct(g),
                x -> len(list_filter(g, y -> y = x))))
            WHEN ng = 1 THEN 1 END AS topn
        FROM b3)
      SELECT doc_id,
        CAST(nl AS BIGINT) AS n_lines,
        CAST(dupl AS BIGINT) AS dup_lines,
        CASE WHEN nl >= 1 THEN dupl::DOUBLE / nl::DOUBLE END AS dup_line_frac,
        CASE WHEN nl >= 1 THEN dupchars::DOUBLE / allchars::DOUBLE END AS dup_char_frac,
        CAST(ng AS BIGINT) AS n_bigrams,
        CAST(topn AS BIGINT) AS top_bigram_n,
        CASE WHEN ng >= 2 THEN topn::DOUBLE / ng::DOUBLE
          WHEN ng = 1 THEN 1.0 END AS top_bigram_frac
      FROM b4 ORDER BY doc_id"""))

  /** Per-source quota cap at 10 of each source's 25 docs: the kept
    * subset is the 10 smallest portable-hash buckets per source —
    * deterministic, partitioning-invariant, and replayable in SQL as a
    * plain ROW_NUMBER.
    */
  private val q60Sql = s"""WITH k AS (
        SELECT doc_id, source, ${ScaleQueries.bucketSql("doc_id")} AS b
        FROM documents),
      r AS (
        SELECT doc_id, source,
          CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY b, doc_id)
            AS BIGINT) AS rank
        FROM k)
      SELECT doc_id, source, rank FROM r WHERE rank <= 10
      ORDER BY doc_id"""

  private val q60 = GQuery(
    (s, d) => Curation.sourceQuota(T.documents(s, d), "doc_id", "source",
      quota = 10).select("doc_id", "source", "rank").orderBy("doc_id"),
    Some(q60Sql))

  /** The same quota cap FORCED onto the skew path (combinerBytes = 0 →
    * TopKPerGroup bounded-heap partials instead of the per-source
    * window). Same oracle SQL as q60: the paths are result-identical by
    * construction, and this row hash-certifies the custom-operator
    * path itself, not just its spec fixtures.
    */
  private val q66 = GQuery(
    (s, d) => Curation.sourceQuota(T.documents(s, d), "doc_id", "source",
      quota = 10, combinerBytes = 0L).select("doc_id", "source", "rank")
      .orderBy("doc_id"),
    Some(q60Sql))

  /** The corpus carries no natural PII, so the query derives one
    * deterministic email + phone + IPv4 per doc from doc_id with the
    * same concat/lpad arithmetic on both engines — every row then
    * exercises real redaction, not the no-op path. Patterns live in the
    * Java ∩ RE2 dialect; DuckDB needs the explicit 'g' flag (Spark's
    * regexp_replace is global by default) and counts via
    * len(regexp_extract_all) (no regexp_count there).
    */
  private val q61 = {
    import org.apache.spark.sql.Column
    def pii(textC: Column, idC: Column): Column = concat(textC,
      lit(" reach u"), idC.cast("string"), lit("@example.com or 555-"),
      lpad(pmod(idC, lit(1000)).cast("string"), 3, "0"), lit("-"),
      lpad(pmod(idC * 7, lit(10000)).cast("string"), 4, "0"),
      lit(" at 10."), pmod(idC, lit(256)).cast("string"),
      lit(".0."), pmod(idC * 3, lit(256)).cast("string"))
    val piiSql =
      """text || ' reach u' || doc_id::VARCHAR || '@example.com or 555-' ||
         lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
         lpad((doc_id * 7 % 10000)::VARCHAR, 4, '0') ||
         ' at 10.' || (doc_id % 256)::VARCHAR || '.0.' ||
         (doc_id * 3 % 256)::VARCHAR"""
    val (e, p, ip) = (Curation.PiiEmail, Curation.PiiPhone, Curation.PiiIp)
    GQuery(
      (s, d) => Curation.redactPii(
        T.documents(s, d).withColumn("text", pii(col("text"), col("doc_id"))),
        "doc_id", "text").orderBy("doc_id"),
      Some(s"""WITH base AS (SELECT doc_id, $piiSql AS text FROM documents),
        r AS (
          SELECT doc_id, text,
            regexp_replace(text, '$e', '<EMAIL>', 'g') AS r1
          FROM base),
        r2 AS (
          SELECT doc_id, text, r1,
            regexp_replace(r1, '$p', '<PHONE>', 'g') AS r2
          FROM r)
        SELECT doc_id,
          CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
          CAST(len(regexp_extract_all(r1, '$p')) AS BIGINT) AS n_phones,
          CAST(len(regexp_extract_all(r2, '$ip')) AS BIGINT) AS n_ips,
          regexp_replace(r2, '$ip', '<IP>', 'g') AS redacted
        FROM r2 ORDER BY doc_id"""))
  }

  /** Corpus-global sentence dedup needs a corpus with repeated
    * sentences; the raw table has 500 distinct one-sentence texts. The
    * query derives a 4-sentence doc from each row with identical
    * substr/concat arithmetic on both engines: sentence 1 repeats as
    * sentence 3 (within-doc dup) and ". tail <doc_id % 7>" is shared by
    * ~1/7 of the corpus (cross-doc dup) — both removal paths exercised
    * deterministically. The oracle replays the 62-bit portable sentence
    * hash, so keep/drop decisions match bit-for-bit.
    */
  private def sentenceDocs(s: org.apache.spark.sql.SparkSession, d: String) = {
    val derived = concat(
      substring(col("text"), 1, 60), lit(". "),
      substring(col("text"), 31, 60), lit(". "),
      substring(col("text"), 1, 60), lit(". tail "),
      pmod(col("doc_id"), lit(7)).cast("string"))
    T.documents(s, d).withColumn("text", derived)
  }

  private val q62Sql = {
    val derivedSql =
      """substr(text, 1, 60) || '. ' || substr(text, 31, 60) || '. ' ||
         substr(text, 1, 60) || '. tail ' || (doc_id % 7)::VARCHAR"""
    s"""WITH base AS (SELECT doc_id, $derivedSql AS text FROM documents),
        sl AS (SELECT doc_id,
            list_filter(list_transform(string_split_regex(text, '\\.'),
              x -> trim(x)), s -> len(s) > 0) AS l
          FROM base),
        s AS (SELECT doc_id, i - 1 AS pos, l[i] AS sent
          FROM sl, UNNEST(range(1, len(l) + 1)) AS t(i)),
        h AS (SELECT doc_id, pos, sent, ${ScaleQueries.h62Sql("sent")} AS hh
          FROM s),
        k AS (SELECT doc_id, pos, sent,
            (ROW_NUMBER() OVER (PARTITION BY hh ORDER BY doc_id, pos)) = 1
              AS keep
          FROM h)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sentences,
          CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
          COALESCE(string_agg(sent, ' ' ORDER BY pos) FILTER (WHERE keep), '')
            AS cleaned
        FROM k GROUP BY doc_id ORDER BY doc_id"""
  }

  private val q62 = GQuery(
    (s, d) => Curation.dedupSentences(sentenceDocs(s, d), "doc_id", "text")
      .orderBy("doc_id"),
    Some(q62Sql))

  /** The same corpus-global dedup FORCED onto the skew path
    * (twoStageBytes = 0 → min-per-hash pre-aggregate + join-back
    * instead of the per-hash window). Same oracle SQL as q62 — the
    * first-occurrence winner is identical by construction; this row
    * hash-certifies the two-stage plan itself.
    */
  private val q65 = GQuery(
    (s, d) => Curation.dedupSentences(sentenceDocs(s, d), "doc_id", "text",
      twoStageBytes = 0L).orderBy("doc_id"),
    Some(q62Sql))

  /** C4 line+page rule filter over derived multi-line pages: each doc
    * becomes 7 lines that exercise every rule — two prose keeps, a
    * no-terminal-punct navigation line, an enable-javascript notice, a
    * too-short line, and two CASE lines that make 1/5 of pages code
    * (`{`) and 1/7 template filler ("Lorem ipsum…"). Identical
    * substr/concat derivation and identical rule replay on both
    * engines; every output is a count, a flag, or the rejoined kept
    * lines, so the row hash-matches.
    */
  private val q67 = {
    import org.apache.spark.sql.Column
    val nl = "\n"
    def page(t: Column, id: Column): Column = concat_ws(nl,
      concat(substring(t, 1, 80), lit(".")),
      lit("Home | About | Contact"),
      concat(lit("Please enable javascript to view "), substring(t, 10, 20), lit(".")),
      lit("Ok."),
      concat(substring(t, 31, 80), lit("!")),
      when(pmod(id, lit(5)) === 0, lit("function f() { return 0; }"))
        .otherwise(lit("All rights reserved.")),
      when(pmod(id, lit(7)) === 0, lit("Lorem ipsum dolor sit amet."))
        .otherwise(lit("Contact us at the office today.")))
    val pageSql = """substr(text, 1, 80) || '.' || chr(10) ||
      'Home | About | Contact' || chr(10) ||
      'Please enable javascript to view ' || substr(text, 10, 20) || '.' || chr(10) ||
      'Ok.' || chr(10) ||
      substr(text, 31, 80) || '!' || chr(10) ||
      CASE WHEN doc_id % 5 = 0 THEN 'function f() { return 0; }'
           ELSE 'All rights reserved.' END || chr(10) ||
      CASE WHEN doc_id % 7 = 0 THEN 'Lorem ipsum dolor sit amet.'
           ELSE 'Contact us at the office today.' END"""
    val endsOk = """right(x, 1) IN ('.', '!', '?', '"', '''')"""
    val nWords = """len(list_filter(string_split_regex(x, '\s+'), w -> len(w) > 0))"""
    GQuery(
      (s, d) => graft.scale.Curation.c4LineFilter(
        T.documents(s, d).withColumn("text", page(col("text"), col("doc_id"))),
        "doc_id", "text").orderBy("doc_id"),
      Some(s"""WITH base AS (SELECT doc_id, $pageSql AS text FROM documents),
        sl AS (SELECT doc_id, text,
            list_filter(list_transform(string_split_regex(text, '\\n'),
              x -> trim(x)), l -> len(l) > 0) AS l
          FROM base),
        f AS (SELECT doc_id, text, l,
            list_filter(l, x -> $endsOk AND $nWords >= 3
              AND NOT contains(lower(x), 'javascript')) AS kept
          FROM sl)
        SELECT doc_id,
          CAST(len(l) AS BIGINT) AS n_lines,
          CAST(len(kept) AS BIGINT) AS n_kept,
          CAST(len(list_filter(l, x -> NOT ($endsOk))) AS BIGINT)
            AS dropped_punct,
          CAST(len(list_filter(l, x -> $endsOk AND $nWords < 3)) AS BIGINT)
            AS dropped_short,
          CAST(len(list_filter(l, x -> $endsOk AND $nWords >= 3
            AND contains(lower(x), 'javascript'))) AS BIGINT) AS dropped_js,
          array_to_string(kept, chr(10)) AS cleaned,
          CAST((NOT contains(text, '{')
            AND NOT contains(lower(text), 'lorem ipsum')
            AND len(kept) >= 3) AS BIGINT) AS page_keep
        FROM f ORDER BY doc_id"""))
  }

  /** Gopher document-level quality flags over derived pages: 1/4 of
    * docs gain three bullet lines, 1/5 twenty `#` symbols, 1/6 two
    * ellipsis lines, 1/9 a digits-only line — every fraction rule
    * exercised; word-count and stop-word rules vary with the raw
    * corpus. Identical derivation and rule replay on both engines; all
    * fractions are exact IEEE quotients of integer counts, so the row
    * hash-matches without rounding.
    */
  private val q68 = {
    import org.apache.spark.sql.Column
    def page(t: Column, id: Column): Column = concat(
      when(pmod(id, lit(4)) === 0,
        lit("- first item\n- second item\n* third item\n")).otherwise(lit("")),
      t,
      when(pmod(id, lit(5)) === 0,
        concat(lit(" "), lit("# " * 20))).otherwise(lit("")),
      when(pmod(id, lit(6)) === 0,
        lit("\nRead more...\nClick here...")).otherwise(lit("")),
      when(pmod(id, lit(9)) === 0,
        lit("\n1234 5678 9012 3456")).otherwise(lit("")))
    val pageSql = s"""CASE WHEN doc_id % 4 = 0 THEN '- first item' || chr(10) ||
        '- second item' || chr(10) || '* third item' || chr(10) ELSE '' END ||
      text ||
      CASE WHEN doc_id % 5 = 0 THEN ' ' || repeat('# ', 20) ELSE '' END ||
      CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'Read more...' || chr(10) ||
        'Click here...' ELSE '' END ||
      CASE WHEN doc_id % 9 = 0 THEN chr(10) || '1234 5678 9012 3456'
        ELSE '' END"""
    val stopSql = graft.scale.Curation.GopherStopWords.map(w =>
      s"CASE WHEN len(list_filter(toks, x -> lower(x) = '$w')) > 0 THEN 1 ELSE 0 END")
      .mkString(" + ")
    GQuery(
      (s, d) => graft.scale.Curation.gopherQualityFlags(
        T.documents(s, d).withColumn("text", page(col("text"), col("doc_id"))),
        "doc_id", "text").orderBy("doc_id"),
      Some(s"""WITH base AS (SELECT doc_id, $pageSql AS text FROM documents),
        s AS (SELECT doc_id, text,
            list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks,
            list_filter(list_transform(string_split_regex(text, '\\n'),
              x -> trim(x)), l -> len(l) > 0) AS lines
          FROM base),
        m AS (SELECT doc_id,
            CAST(len(toks) AS BIGINT) AS nw,
            CAST(len(lines) AS BIGINT) AS nl,
            CAST(COALESCE(list_sum(list_transform(toks, x -> len(x))), 0)
              AS BIGINT) AS sumlen,
            CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
              + CAST((len(text) - len(replace(text, '...', ''))) // 3
                AS BIGINT) AS nsym,
            CAST(len(list_filter(lines, l -> l[1] IN ('-', '*')))
              AS BIGINT) AS nbul,
            CAST(len(list_filter(lines, l -> right(l, 3) = '...'))
              AS BIGINT) AS nell,
            CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
              AS BIGINT) AS nalpha,
            CAST($stopSql AS BIGINT) AS stophits
          FROM s)
        SELECT doc_id, nw AS n_words,
          CASE WHEN nw > 0 THEN sumlen::DOUBLE / nw::DOUBLE END
            AS mean_word_len,
          CASE WHEN nw > 0 THEN nsym::DOUBLE / nw::DOUBLE END AS symbol_ratio,
          CASE WHEN nl > 0 THEN nbul::DOUBLE / nl::DOUBLE END AS bullet_frac,
          CASE WHEN nl > 0 THEN nell::DOUBLE / nl::DOUBLE END
            AS ellipsis_frac,
          CASE WHEN nw > 0 THEN nalpha::DOUBLE / nw::DOUBLE END AS alpha_frac,
          stophits AS stop_hits,
          CAST((nw BETWEEN 50 AND 100000)
            AND COALESCE(CASE WHEN nw > 0 THEN sumlen::DOUBLE / nw::DOUBLE END
              BETWEEN 3.0 AND 10.0, false)
            AND COALESCE(CASE WHEN nw > 0 THEN nsym::DOUBLE / nw::DOUBLE END
              <= 0.1, false)
            AND COALESCE(CASE WHEN nl > 0 THEN nbul::DOUBLE / nl::DOUBLE END
              <= 0.9, false)
            AND COALESCE(CASE WHEN nl > 0 THEN nell::DOUBLE / nl::DOUBLE END
              <= 0.3, false)
            AND COALESCE(CASE WHEN nw > 0 THEN nalpha::DOUBLE / nw::DOUBLE END
              >= 0.8, false)
            AND stophits >= 2 AS BIGINT) AS keep
        FROM m ORDER BY doc_id"""))
  }

  /** Sequence packing at seqLen 512: each doc's coordinates in the
    * virtual token stream (start token, first/last training sequence).
    * Spark computes the prefix sum with the two-job distributed scan
    * (Packing.prefixSum — range partition, partial totals, broadcast
    * offsets); the oracle states the same thing as the single-partition
    * window Spark must NOT use at scale.
    */
  private val q64 = GQuery(
    (s, d) => graft.scale.Packing.concatChunk(
      T.documents(s, d), "doc_id", "text", seqLen = 512L).orderBy("doc_id"),
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split_regex(text, '\s+'),
            x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      p AS (
        SELECT doc_id, n_tokens,
          CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS prefix
        FROM t)
      SELECT doc_id, n_tokens, prefix AS start_token,
        CAST(prefix // 512 AS BIGINT) AS first_seq,
        CAST(CASE WHEN n_tokens > 0 THEN (prefix + n_tokens - 1) // 512
          ELSE prefix // 512 END AS BIGINT) AS last_seq
      FROM p ORDER BY doc_id"""))

  /** The pack manifest (Packing.packManifest): q64's coordinates
    * exploded into one row per (sequence, document slice) — the table a
    * training-data writer actually consumes. The oracle replays the
    * single-partition window prefix sum plus a lateral unnest over each
    * document's sequence span with identical slice arithmetic.
    */
  private val q72 = GQuery(
    (s, d) => graft.scale.Packing.packManifest(
      T.documents(s, d), "doc_id", "text", seqLen = 512L)
      .orderBy("seq_id", "doc_id"),
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split_regex(text, '\s+'),
            x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      p AS (
        SELECT doc_id, n_tokens,
          CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS start_token
        FROM t),
      c AS (
        SELECT doc_id, n_tokens, start_token,
          start_token // 512 AS first_seq,
          CASE WHEN n_tokens > 0 THEN (start_token + n_tokens - 1) // 512
            ELSE start_token // 512 END AS last_seq
        FROM p),
      u AS (
        SELECT doc_id, n_tokens, start_token,
          unnest(range(first_seq, last_seq + 1)) AS seq_id
        FROM c)
      SELECT seq_id, doc_id,
        CAST(GREATEST(seq_id * 512 - start_token, 0) AS BIGINT) AS slice_start,
        CAST(LEAST((seq_id + 1) * 512, start_token + n_tokens)
          - GREATEST(seq_id * 512, start_token) AS BIGINT) AS slice_len,
        CAST(GREATEST(start_token - seq_id * 512, 0) AS BIGINT) AS offset_in_seq
      FROM u ORDER BY seq_id, doc_id"""))

  /** Length-bucketed batching (Packing.lengthBatches, canonical unsalted
    * path): bucket by token-length class, rank within bucket, pack
    * consecutive ranks into fixed-size batches, report per-doc padding.
    * The oracle replays bucket arithmetic, the in-bucket row_number, the
    * packed batch_id, and the per-batch max verbatim.
    */
  private val q73 = GQuery(
    (s, d) => graft.scale.Packing.lengthBatches(
      T.documents(s, d), "doc_id", "text", batchSize = 8, bucketWidth = 16)
      .orderBy("doc_id"),
    Some("""WITH t AS (
        SELECT doc_id,
          CAST(len(list_filter(string_split_regex(text, '\s+'),
            x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      b AS (
        SELECT doc_id, n_tokens, n_tokens // 16 AS bucket,
          ROW_NUMBER() OVER (PARTITION BY n_tokens // 16
            ORDER BY n_tokens, doc_id) - 1 AS rn
        FROM t),
      g AS (
        SELECT doc_id, n_tokens, bucket,
          CAST(bucket * 549755813888 + rn // 8 AS BIGINT) AS batch_id
        FROM b)
      SELECT doc_id, n_tokens, bucket, batch_id,
        MAX(n_tokens) OVER (PARTITION BY batch_id) AS batch_max,
        MAX(n_tokens) OVER (PARTITION BY batch_id) - n_tokens AS padding
      FROM g ORDER BY doc_id"""))

  /** DuckDB: Dedup.portableShingles(th, 2) non-distinct — the DSIR term
    * stream (occurrence counts, so no list_distinct; short docs fold
    * whole, so every doc yields ≥ 1 term).
    */
  private def bigramListSql(th: String): String = {
    def x(e: String) = s"($e % $P)"
    val w = s"((((17 * 31 + ${x(s"$th[i]")}) % $P) * 31 + ${x(s"$th[i+1]")}) % $P)"
    s"""CASE WHEN len($th) >= 2
         THEN list_transform(range(1, len($th)), i -> $w)
         ELSE [list_reduce(list_prepend(17::BIGINT, list_transform($th, v -> v % $P)),
           (a, v) -> (a * 31 + v) % $P)] END"""
  }

  /** DSIR hashed-n-gram importance weights (Curation.dsirWeights) with
    * target = English docs, 1024 buckets, bigram shingles. The oracle
    * replays the portable shingle family, the bucket counts, the
    * Laplace quotients, and — critically — the SAME bucket-ordered left
    * fold for the per-doc sum (`list_reduce` over `list(ORDER BY b)` =
    * Spark `aggregate` over `array_sort(collect_list)`), so the double
    * `importance` column hash-matches bit-for-bit.
    */
  private val q74 = GQuery(
    (s, d) => Curation.dsirWeights(T.documents(s, d), "doc_id", "text",
      targetPred = col("lang") === "en", buckets = 1024, shingleSize = 2)
      .orderBy("doc_id"),
    Some(s"""${ScaleQueries.thCtes(withCodes = false)},
      sh AS (
        SELECT th.doc_id, d.lang, ${bigramListSql("th")} AS s
        FROM th JOIN documents d ON th.doc_id = d.doc_id),
      tm AS (SELECT doc_id, lang, unnest(s) % 1024 AS b FROM sh),
      pd AS (SELECT doc_id, b, COUNT(*)::BIGINT AS c FROM tm GROUP BY 1, 2),
      st AS (
        SELECT b, COUNT(*)::BIGINT AS r,
          SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS t
        FROM tm GROUP BY b),
      tot AS (SELECT SUM(r)::BIGINT AS rtot, SUM(t)::BIGINT AS ttot FROM st),
      terms AS (
        SELECT pd.doc_id, pd.b, pd.c,
          pd.c::DOUBLE * (((st.t + 1)::DOUBLE / (tot.ttot + 1024)::DOUBLE)
            / ((st.r + 1)::DOUBLE / (tot.rtot + 1024)::DOUBLE)) AS term
        FROM pd JOIN st USING (b) CROSS JOIN tot),
      agg AS (
        SELECT doc_id, SUM(c)::BIGINT AS n_terms,
          list_reduce(list_prepend(0.0::DOUBLE, list(term ORDER BY b)),
            (a, x) -> a + x) AS s
        FROM terms GROUP BY doc_id)
      SELECT doc_id, n_terms, s / n_terms::DOUBLE AS importance
      FROM agg ORDER BY doc_id"""))

  /** Temperature-based mix resampling (Sampling.temperatureMix) at
    * α = 0.5 over the language strata: rate_l = sqrt(n_min/n_l) —
    * sqrt of an exact long quotient is correctly rounded by IEEE 754 on
    * both engines, so the rate AND the per-doc keep decision (portable
    * bucket < rate·(2³¹−1)) replay exactly; the oracle hashes the full
    * decision table, not just the rates.
    */
  private val q75 = GQuery(
    (s, d) => graft.scale.Sampling.temperatureMix(
      T.documents(s, d), col("doc_id"), col("lang"), alpha = 0.5)
      .select(col("doc_id"), col("lang"), col("stratum_n"), col("rate"),
        col("keep"))
      .orderBy("doc_id"),
    Some(s"""WITH c AS (
        SELECT lang, COUNT(*)::BIGINT AS stratum_n FROM documents GROUP BY lang),
      m AS (SELECT MIN(stratum_n) AS nmin FROM c),
      r AS (
        SELECT lang, stratum_n,
          sqrt(nmin::DOUBLE / stratum_n::DOUBLE) AS rate
        FROM c CROSS JOIN m)
      SELECT d.doc_id, d.lang, r.stratum_n, r.rate,
        (CASE WHEN (${ScaleQueries.bucketSql("d.doc_id")})
            < r.rate * 2147483647.0
          THEN 1 ELSE 0 END)::BIGINT AS keep
      FROM documents d JOIN r USING (lang)
      ORDER BY d.doc_id"""))

  /** Overlapping 200-char chunks with 50-char overlap
    * (Curation.chunkDocuments) — the RAG / context-window prep step. The
    * md5 column makes the oracle certify the actual substring content of
    * every chunk, not just the offset arithmetic; the row set certifies
    * the last-chunk and empty-document conventions.
    */
  private val q86 = GQuery(
    (s, d) => Curation.chunkDocuments(T.documents(s, d), "doc_id", "text",
      chunkChars = 200, overlap = 50)
      .orderBy(col("doc_id"), col("chunk_id")),
    Some("""WITH st AS (
        SELECT doc_id, text,
          unnest(range(1, greatest(len(text), 1) + 1, 150)) AS start
        FROM documents)
      SELECT doc_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start) AS BIGINT) AS chunk_id,
        CAST(start AS BIGINT) AS start,
        CAST(len(substr(text, start, 200)) AS BIGINT) AS chunk_len,
        md5(substr(text, start, 200)) AS chunk_md5
      FROM st ORDER BY doc_id, chunk_id"""))

  /** End-to-end curation-pipeline capstone: the full decision chain a
    * real corpus run executes, composed from six individually-certified
    * operators — normalize (q157) → Gopher quality gate (q68,
    * corpus-tuned bounds minWords=30/minStopHits=1: the synthetic corpus
    * is word-soup with ≤1 stop-word hit per doc) → near-dup
    * survivorship (q158) → decontaminate against the held-out portable
    * 10% split (q58, drop ≥ 0.5 overlap) → temperature mix α=0.5 over
    * language strata (q75) → sequence packing at 512 (q64). The oracle
    * replays EVERY stage's decision — one hash-match certifies that the
    * certified parts compose at pipeline granularity (interface drift
    * between stages was previously caught only pairwise). At sf0.01 the
    * corpus flows 500 → 354 gated → 338 survivors → 31 held out → 307
    * scored clean → 218 mixed-in packed docs.
    *
    * Scale shape: stages 1–2 are one narrow codegen pass over the scan,
    * frozen behind one id exchange; the other exchanges are dedup's
    * banded-bucket family (q24's), contamination's distinct-shingle
    * semi-join, the `clean` freeze the mix reads twice, the #strata-row
    * mix count, and packing's two-job prefix scan, whose id-ordered
    * output needs no final sort — no stage adds a corpus-wide shuffle
    * beyond its certified standalone plan (SCALING.md "q204 fused plan"
    * note). One operation runs ~20 jobs and needs ~62 generated classes,
    * inside Spark's default 100-entry codegen cache (SCALING.md "Codegen
    * cache working set").
    */
  private val q204 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
      // deterministic dirtying (q157's recipe) so normalization has work
      val dirty = concat(lit(" \t"), upper(substring(col("text"), 1, 24)),
        lit("\r\n"), col("text"), lit("  \n "))
      // normalize + gate: one narrow pass frozen behind ONE id exchange
      // (the Dedup.sharedShuffle lifecycle) whose shuffle files every
      // later consumer reuses — the near-dup pair plan, the token lookup,
      // and the contamination branches all read `gated` — instead of
      // re-running the scan and both kernels once per consumer. The gate
      // is one expression over one GopherStats call, also once the
      // optimizer pushes it below the normalizing projection.
      val gated = graft.scale.Dedup.sharedShuffle(
        docs.select(col("doc_id"), col("lang"),
            graft.functions.NativeExpressions.normalize_ascii_text(dirty)
              .as("text"))
          .where(Curation.gopherKeep(col("text"), graft.functions.GopherGate(
            minWords = 30, minStopHits = 1)) === 1L),
        col("doc_id"))
      val kept = graft.scale.Dedup.nearDupSurvivors(gated, "doc_id", "text",
        shingleSize = 3, numPerm = 64, bands = 16, threshold = 0.8)
      val scored = Curation.contamination(kept, "doc_id", "text",
        trainFrac = 0.1, shingleSize = 3)
      // the mix reads `clean` twice (its strata counts and the rows), so it
      // is frozen once rather than decontaminated once per branch
      val clean = graft.scale.Dedup.sharedShuffle(kept.join(
        scored.where(col("contamination") < 0.5).select("doc_id"), "doc_id"),
        col("doc_id"))
      val mixed = graft.scale.Sampling.temperatureMix(clean,
          col("doc_id"), col("lang"), alpha = 0.5)
        .where(col("keep") === 1L)
      graft.scale.Packing.concatChunk(mixed, "doc_id", "text", seqLen = 512L,
          carry = Seq("lang", "rate"))
        .select(col("doc_id"), col("lang"), col("rate"), col("n_tokens"),
          col("start_token"), col("first_seq"), col("last_seq"))
        .orderBy(col("doc_id"))
    },
    Some {
      val stopSql = graft.scale.Curation.GopherStopWords.map(w =>
        s"CASE WHEN len(list_filter(toks, x -> lower(x) = '$w')) > 0 THEN 1 ELSE 0 END")
        .mkString(" + ")
      val contThr = (0.1 * 2147483647L).toLong
      val trigram = """CASE WHEN len(toks) >= 3
          THEN list_distinct(list_transform(range(1, len(toks)-1),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
          ELSE [array_to_string(toks, ' ')] END"""
      s"""WITH RECURSIVE dirty AS (SELECT doc_id, lang,
          ' ' || chr(9) || upper(substr(text, 1, 24)) || chr(13) || chr(10)
            || text || '  ' || chr(10) || ' ' AS dt
        FROM documents),
      norm AS (SELECT doc_id, lang,
          trim(regexp_replace(lower(dt), '[\\x00-\\x20]+', ' ', 'g')) AS text
        FROM dirty),
      nt AS (SELECT doc_id, lang, text,
          list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS toks,
          list_filter(list_transform(string_split_regex(text, '\\n'),
            x -> trim(x)), l -> len(l) > 0) AS lines
        FROM norm),
      gm AS (SELECT doc_id, lang, text, toks,
          len(toks) AS nw, len(lines) AS nl,
          COALESCE(list_sum(list_transform(toks, x -> len(x))), 0) AS sumlen,
          (len(text) - len(replace(text, '#', '')))
            + ((len(text) - len(replace(text, '...', ''))) // 3) AS nsym,
          len(list_filter(lines, l -> l[1] IN ('-', '*'))) AS nbul,
          len(list_filter(lines, l -> right(l, 3) = '...')) AS nell,
          len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS nalpha,
          ($stopSql) AS stophits
        FROM nt),
      gated AS (SELECT doc_id, lang, text, toks FROM gm
        WHERE (nw BETWEEN 30 AND 100000)
          AND COALESCE(CASE WHEN nw > 0 THEN sumlen::DOUBLE / nw::DOUBLE END
            BETWEEN 3.0 AND 10.0, false)
          AND COALESCE(CASE WHEN nw > 0 THEN nsym::DOUBLE / nw::DOUBLE END
            <= 0.1, false)
          AND COALESCE(CASE WHEN nl > 0 THEN nbul::DOUBLE / nl::DOUBLE END
            <= 0.9, false)
          AND COALESCE(CASE WHEN nl > 0 THEN nell::DOUBLE / nl::DOUBLE END
            <= 0.3, false)
          AND COALESCE(CASE WHEN nw > 0 THEN nalpha::DOUBLE / nw::DOUBLE END
            >= 0.8, false)
          AND stophits >= 1),
      gsh AS (SELECT doc_id, $trigram AS sset FROM gated),
      gpairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gsh a JOIN gsh b ON a.doc_id < b.doc_id
        WHERE (CASE WHEN (len(a.sset) + len(b.sset))::DOUBLE
              - len(list_intersect(a.sset, b.sset))::DOUBLE > 0
          THEN len(list_intersect(a.sset, b.sset))::DOUBLE
            / ((len(a.sset) + len(b.sset))::DOUBLE
              - len(list_intersect(a.sset, b.sset))::DOUBLE)
          ELSE 1.0 END) >= 0.8),
      gedges AS (SELECT id_a AS src, id_b AS dst FROM gpairs
        UNION ALL SELECT id_b, id_a FROM gpairs),
      reach(id, comp) AS (SELECT doc_id, doc_id FROM gated
        UNION SELECT e.dst, r.comp FROM reach r JOIN gedges e ON e.src = r.id),
      comp AS (SELECT id, MIN(comp) AS component FROM reach GROUP BY id),
      ranked AS (SELECT g.doc_id, g.lang, g.text, g.toks,
          ROW_NUMBER() OVER (PARTITION BY c.component
            ORDER BY len(g.toks) DESC, g.doc_id ASC) AS rn
        FROM gated g JOIN comp c ON g.doc_id = c.id),
      kept AS (SELECT doc_id, lang, text, toks FROM ranked WHERE rn = 1),
      kth AS (SELECT doc_id, lang, text, toks,
          list_transform(toks, tok -> ${ScaleQueries.h62Sql("tok")}) AS th
        FROM kept),
      ksh AS (SELECT doc_id, lang, text, toks,
          ${ScaleQueries.bucketSql("doc_id")} AS b,
          list_distinct(${shingleListSql("th")}) AS s
        FROM kth),
      train AS (SELECT DISTINCT unnest(s) AS g FROM ksh WHERE b < $contThr),
      ev AS (SELECT doc_id, lang, text, toks, len(s) AS n_sh, s
        FROM ksh WHERE b >= $contThr),
      hits AS (SELECT e.doc_id, COUNT(*) AS shared
        FROM (SELECT doc_id, unnest(s) AS g FROM ev) e
        JOIN train t ON e.g = t.g GROUP BY e.doc_id),
      clean AS (SELECT ev.doc_id, ev.lang, ev.text, ev.toks
        FROM ev LEFT JOIN hits h ON ev.doc_id = h.doc_id
        WHERE COALESCE(h.shared, 0)::DOUBLE / ev.n_sh::DOUBLE < 0.5),
      cnt AS (SELECT lang, COUNT(*)::BIGINT AS sn FROM clean GROUP BY lang),
      mn AS (SELECT MIN(sn) AS nmin FROM cnt),
      mixed AS (SELECT c.doc_id, c.lang, c.toks,
          sqrt(mn.nmin::DOUBLE / r.sn::DOUBLE) AS rate
        FROM clean c JOIN cnt r USING (lang) CROSS JOIN mn
        WHERE (${ScaleQueries.bucketSql("c.doc_id")})
          < sqrt(mn.nmin::DOUBLE / r.sn::DOUBLE) * 2147483647.0),
      pk AS (SELECT doc_id, lang, rate,
          CAST(len(toks) AS BIGINT) AS n_tokens,
          CAST(COALESCE(SUM(len(toks)) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS start_token
        FROM mixed)
      SELECT doc_id, lang, rate, n_tokens, start_token,
        CAST(start_token // 512 AS BIGINT) AS first_seq,
        CAST(CASE WHEN n_tokens > 0 THEN (start_token + n_tokens - 1) // 512
          ELSE start_token // 512 END AS BIGINT) AS last_seq
      FROM pk ORDER BY doc_id"""
    })

  /** The q207 blocklist: lowercase literal patterns drawn from the corpus
    * vocabulary so hits actually occur, chosen to exercise every
    * Aho–Corasick edge — patterns nested inside other patterns ("ta" ⊂
    * "table", "able" ⊂ "table"), overlapping occurrences ("le"),
    * cross-word patterns ("fast table", "merge batch"), and one that
    * never matches (zero rows must be excluded, not emitted).
    */
  private val BadWords: Seq[String] = Seq(
    "slow", "fast table", "row scan", "agg", "value table", "a row",
    "ta", "table", "able", "le", "merge batch", "zzz never")

  /** Blocklist hit counts (Curation.blocklistCounts — the C4 §2.2 "bad
    * words" gate at production pattern counts): ONE Aho–Corasick pass
    * per document counts every occurrence of every pattern, overlaps and
    * nested patterns included, instead of one corpus scan per pattern.
    * The oracle replays raw overlapping substring counting per pattern —
    * count of start positions i with text[i, i+|p|) = p — which is
    * exactly the automaton's dictionary-suffix-link emission semantics,
    * so a hash-match certifies goto/fail/dict construction and the
    * per-pattern attribution in one go (the naive replay is O(|text| ×
    * |patterns|), fine at oracle scale and precisely what the kernel
    * exists to avoid at corpus scale).
    */
  private val q207 = GQuery(
    (s, d) => Curation.blocklistCounts(T.documents(s, d), "doc_id", "text",
      BadWords).orderBy("doc_id", "pattern"),
    Some(s"""WITH pats AS (
        SELECT unnest([${BadWords.map(p => s"'$p'").mkString(",")}]) AS pattern),
      hits AS (
        SELECT d.doc_id, p.pattern,
          CAST(len(list_filter(
            range(1, length(lower(d.text)) - length(p.pattern) + 2),
            i -> substr(lower(d.text), i, length(p.pattern)) = p.pattern))
            AS BIGINT) AS hits
        FROM documents d CROSS JOIN pats p)
      SELECT doc_id, pattern, hits FROM hits WHERE hits > 0
      ORDER BY doc_id, pattern"""))

  /** The q223 messy-HTML construction (the q208 six-modes pattern applied
    * to HTML): deterministic per-doc HTML over six messiness modes
    * (doc_id % 6) — uppercase tags, inline-vs-block boundaries,
    * script/style subtrees (with a pseudo-tag INSIDE the script body),
    * comments, the five named entities + numeric dec/hex + an unknown
    * entity + nbsp, a quoted `>` inside an attribute value, self-closing
    * br / void hr, literal `<` before a space and a digit, and an
    * unclosed tag at EOF. Both engines build the SAME string from
    * (doc_id, text), and the oracle states the EXPECTED extraction
    * output per mode from the kernel's documented contract — an
    * independent replay of the specification, not of the parser.
    */
  private def messyHtml: org.apache.spark.sql.Column = {
    val m = col("doc_id") % 6
    val i = col("doc_id").cast("string")
    val w1 = substring(col("text"), 1, 15)
    val w2 = substring(col("text"), 21, 15)
    when(m === 0, concat(lit("<HTML><BODY><H1>Title "), i,
        lit("</H1><P>"), w1, lit(" <B>bold</B> "), w2,
        lit("</P></BODY></HTML>")))
      .when(m === 1, concat(
        lit("<html><head><style>p{color:red}</style>" +
          "<script>var x=\"<p>\";</script></head><body><p>"), w1,
        lit("</p></body></html>")))
      .when(m === 2, concat(lit("<div>"), w1, lit("<!-- hidden "), i,
        lit(" --><p>"), w2, lit("</p></div>")))
      .when(m === 3, concat(
        lit("<p>fish &amp; chips &lt;tag&gt; &quot;q&quot; " +
          "&apos;a&apos; A&#66;C &#x44;E caf&eacute; &nbsp; end "), i,
        lit("</p>")))
      .when(m === 4, concat(lit("<div class=\"x>y\" data-a='1>2'>"), w1,
        lit("<br/>"), w2, lit("<hr>"), i, lit("</div>")))
      .otherwise(concat(lit("<p>1 < 2 and x<3 "), w1, lit("</p><p>"), i,
        lit(" trailing <unclosed attr=")))
  }

  private val messyHtmlSql =
    """CASE m
         WHEN 0 THEN '<HTML><BODY><H1>Title ' || i || '</H1><P>' || w1 || ' <B>bold</B> ' || w2 || '</P></BODY></HTML>'
         WHEN 1 THEN '<html><head><style>p{color:red}</style><script>var x="<p>";</script></head><body><p>' || w1 || '</p></body></html>'
         WHEN 2 THEN '<div>' || w1 || '<!-- hidden ' || i || ' --><p>' || w2 || '</p></div>'
         WHEN 3 THEN '<p>fish &amp; chips &lt;tag&gt; &quot;q&quot; &apos;a&apos; A&#66;C &#x44;E caf&eacute; &nbsp; end ' || i || '</p>'
         WHEN 4 THEN '<div class="x>y" data-a=''1>2''>' || w1 || '<br/>' || w2 || '<hr>' || i || '</div>'
         ELSE '<p>1 < 2 and x<3 ' || w1 || '</p><p>' || i || ' trailing <unclosed attr=' END"""

  /** HTML → text extraction ([[graft.scale.Curation.extractHtmlText]]
    * over the [[graft.functions.HtmlExtractText]] codegen kernel — the
    * missing first stage of the crawl pipeline): six messiness modes in
    * one full hash-match. The oracle composes the messy HTML AND its
    * expected (text, tags_dropped, blocks_kept) per mode as literal
    * string algebra over the same (doc_id, text) inputs, so a match
    * certifies quote-aware tag stripping, script/style subtree drops
    * (pseudo-tags inside never parse), comment removal, entity decoding
    * (named + dec + hex; unknown stays literal), block segmentation at
    * block-level tags, whitespace collapse + trim per block, literal
    * `<` handling, and unclosed-tag-at-EOF drop — without the oracle
    * ever parsing HTML. Zero shuffle: one narrow kernel projection.
    */
  private val q223 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
        .select(col("doc_id"), messyHtml.as("html"))
      Curation.extractHtmlText(docs, "doc_id", "html")
        .select(col("doc_id"), (col("doc_id") % 6).as("mode"), col("text"),
          col("tags_dropped"), col("blocks_kept"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH u AS (
        SELECT doc_id, doc_id % 6 AS m, CAST(doc_id AS VARCHAR) AS i,
          trim(substr(text, 1, 15)) AS a, trim(substr(text, 21, 15)) AS b
        FROM documents)
      SELECT doc_id, m AS mode,
        CASE m
          WHEN 0 THEN 'Title ' || i || chr(10) || a || ' bold ' || b
          WHEN 1 THEN a
          WHEN 2 THEN a || chr(10) || b
          WHEN 3 THEN 'fish & chips <tag> "q" ''a'' ABC DE caf&eacute; end ' || i
          WHEN 4 THEN a || chr(10) || b || chr(10) || i
          ELSE '1 < 2 and x<3 ' || a || chr(10) || i || ' trailing'
        END AS text,
        (CASE m WHEN 0 THEN 10 WHEN 1 THEN 12 WHEN 2 THEN 5 WHEN 3 THEN 2
          WHEN 4 THEN 4 ELSE 4 END)::BIGINT AS tags_dropped,
        (CASE m WHEN 0 THEN 2 WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 1
          WHEN 4 THEN 3 ELSE 2 END)::BIGINT AS blocks_kept
      FROM u ORDER BY doc_id"""))

  /** The q227 messy-HTML-with-links construction: per-doc page HTML over
    * six href-messiness modes (doc_id % 6), two links each — absolute,
    * relative-merge, root-relative with an `&amp;` entity, uppercase
    * A/HREF, scheme-relative in single quotes, `../` and `./` and
    * embedded dot segments, query-only and fragment-only refs, a bare
    * (unquoted) href, a padded href, plus links that must NOT be
    * harvested (inside a comment, inside script, an anchor with no
    * href). Each doc's BASE url derives from (source, doc_id), so the
    * oracle states both the harvested href and the RFC-resolved absolute
    * URL as literals.
    */
  private def linkHtml: org.apache.spark.sql.Column = {
    val m = col("doc_id") % 6
    when(m === 0, lit("<a href=\"http://other.org/x\">t</a><p>" +
        "<a href=\"a/b\">u</a></p>"))
      .when(m === 1, lit("<A HREF=\"/r?a=1&amp;b=2\">x</A>" +
        "<a class=\"k\" href=\"r2\">y</a>"))
      .when(m === 2, lit("<a href='//cdn.example.org/z'>z</a>" +
        "<a href='../up'>u</a>"))
      .when(m === 3, lit("<a href=\"./same\">s</a>" +
        "<a href=\"deep/../flat\">f</a>"))
      .when(m === 4, lit("<a href=\"?q=1\">q</a><a href=\"#frag\">f</a>"))
      .otherwise(lit("<!-- <a href=\"ghost\">g</a> --><a name=\"n\">no</a>" +
        "<a href=bare1>b</a><script>var s=\"<a href='x'>\";</script>" +
        "<a href=\" spaced \">s</a>"))
  }

  /** Crawl-frontier link extraction + RFC 3986 resolution
    * ([[graft.scale.Curation.extractLinks]] over HtmlExtractLinks +
    * ResolveUrl): six messiness modes in one hash-match. The oracle
    * builds the same pages and states the EXPECTED (href, url) pairs per
    * mode straight from the RFC's resolution rules — quote forms,
    * attribute entity decode, relative/root/scheme-relative/dot-segment/
    * query-only/fragment-only resolution, bare and padded hrefs, and the
    * three never-harvested shapes (comment, script, no-href anchor) all
    * certified without the oracle parsing HTML or resolving URLs.
    * HtmlLinksSpec separately pins ResolveUrl to the RFC §5.4 normative
    * set and java.net.URI. Zero shuffle: kernel projection → posexplode
    * → narrow resolve.
    */
  private val q227 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
        .select(col("doc_id"),
          concat(lit("https://"), col("source"), lit(".com/dir/page"),
            col("doc_id").cast("string")).as("base_url"),
          linkHtml.as("html"))
      Curation.extractLinks(docs, "doc_id", "html", "base_url")
        .orderBy(col("doc_id"), col("pos"))
    },
    Some("""WITH u AS (
        SELECT doc_id, doc_id % 6 AS m, CAST(doc_id AS VARCHAR) AS i,
          'https://' || source || '.com' AS h
        FROM documents),
      l AS (
        SELECT doc_id, 0::BIGINT AS pos,
          CASE m WHEN 0 THEN 'http://other.org/x'
            WHEN 1 THEN '/r?a=1&b=2'
            WHEN 2 THEN '//cdn.example.org/z'
            WHEN 3 THEN './same'
            WHEN 4 THEN '?q=1'
            ELSE 'bare1' END AS href,
          CASE m WHEN 0 THEN 'http://other.org/x'
            WHEN 1 THEN h || '/r?a=1&b=2'
            WHEN 2 THEN 'https://cdn.example.org/z'
            WHEN 3 THEN h || '/dir/same'
            WHEN 4 THEN h || '/dir/page' || i || '?q=1'
            ELSE h || '/dir/bare1' END AS url
        FROM u
        UNION ALL
        SELECT doc_id, 1::BIGINT,
          CASE m WHEN 0 THEN 'a/b'
            WHEN 1 THEN 'r2'
            WHEN 2 THEN '../up'
            WHEN 3 THEN 'deep/../flat'
            WHEN 4 THEN '#frag'
            ELSE 'spaced' END,
          CASE m WHEN 0 THEN h || '/dir/a/b'
            WHEN 1 THEN h || '/dir/r2'
            WHEN 2 THEN h || '/up'
            WHEN 3 THEN h || '/dir/flat'
            WHEN 4 THEN h || '/dir/page' || i || '#frag'
            ELSE h || '/dir/spaced' END
        FROM u)
      SELECT doc_id, pos, href, url FROM l
      ORDER BY doc_id, pos"""))

  /** CRAWL-FRONTIER CAPSTONE (the q84/q204/q216 composition pattern for
    * the crawl loop): q227's pages → [[graft.scale.Curation.extractLinks]]
    * (harvest + RFC 3986 resolve) → [[graft.scale.Urls.canonicalize]]
    * (q208's canonicalizer + registered-domain derivation) →
    * FIRST-DISCOVERY dedup per canonical URL (the frontier must fetch a
    * page once, crediting its earliest discoverer — [[graft.plans
    * .TopKPerGroup]] k=1, the custom partial/final-heap physical
    * operator, so no full sort and no unbounded window state) →
    * per-registered-domain politeness quota (TopKPerGroup k=5, canonical
    * ascending). The oracle replays the whole loop from the mode
    * templates as literal algebra — expected resolved URLs, their
    * canonical forms (mode 4's fragment stripped), registered domains
    * (other.org / example.org / src<k>.com), then SQL window replays of
    * both cuts — so one hash-match certifies extract → resolve →
    * canonicalize → dedup → quota end to end. Shuffles = the two
    * group-by-key exchanges the cuts need, nothing else.
    */
  private val q228 = GQuery(
    (s, d) => {
      val pages = T.documents(s, d).select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".com/dir/page"),
          col("doc_id").cast("string")).as("base_url"),
        linkHtml.as("html"))
      val links = Curation
        .extractLinks(pages, "doc_id", "html", "base_url")
        .where(col("url").isNotNull)
      val canon = Urls.canonicalize(links, "url")
      val first = graft.plans.TopKPerGroup(canon, Seq("canonical"),
        Seq(col("doc_id").asc, col("pos").asc), 1)
      val capped = graft.plans.TopKPerGroup(first,
        Seq("registered_domain"), Seq(col("canonical").asc), 5)
      capped.select(col("registered_domain"), col("canonical"),
          col("doc_id").as("first_doc"), col("pos").as("first_pos"))
        .orderBy(col("registered_domain"), col("canonical"))
    },
    Some("""WITH u AS (
        SELECT doc_id, doc_id % 6 AS m, CAST(doc_id AS VARCHAR) AS i,
          source, 'https://' || source || '.com' AS h
        FROM documents),
      l AS (
        SELECT doc_id, 0::BIGINT AS pos,
          CASE m WHEN 0 THEN 'http://other.org/x'
            WHEN 1 THEN h || '/r?a=1&b=2'
            WHEN 2 THEN 'https://cdn.example.org/z'
            WHEN 3 THEN h || '/dir/same'
            WHEN 4 THEN h || '/dir/page' || i || '?q=1'
            ELSE h || '/dir/bare1' END AS canonical,
          CASE m WHEN 0 THEN 'other.org'
            WHEN 2 THEN 'example.org'
            ELSE source || '.com' END AS dom
        FROM u
        UNION ALL
        SELECT doc_id, 1::BIGINT,
          CASE m WHEN 0 THEN h || '/dir/a/b'
            WHEN 1 THEN h || '/dir/r2'
            WHEN 2 THEN h || '/up'
            WHEN 3 THEN h || '/dir/flat'
            WHEN 4 THEN h || '/dir/page' || i
            ELSE h || '/dir/spaced' END,
          source || '.com'
        FROM u),
      first AS (SELECT doc_id, pos, canonical, dom FROM (
          SELECT doc_id, pos, canonical, dom, ROW_NUMBER() OVER (
            PARTITION BY canonical ORDER BY doc_id, pos) AS rn
          FROM l) WHERE rn = 1),
      capped AS (SELECT doc_id, pos, canonical, dom FROM (
          SELECT doc_id, pos, canonical, dom, ROW_NUMBER() OVER (
            PARTITION BY dom ORDER BY canonical) AS rq
          FROM first) WHERE rq <= 5)
      SELECT dom AS registered_domain, canonical, doc_id AS first_doc,
        pos AS first_pos
      FROM capped ORDER BY registered_domain, canonical"""))

  /** HTML metadata extraction
    * ([[graft.scale.Curation.extractHtmlMeta]] over HtmlMetaExpr): six
    * modes covering quoted/uppercase/single-quoted/bare `lang`
    * attributes, whitespace-collapsed and entity-decoded titles, RCDATA
    * (a literal `<b>` inside the title), absent title, absent lang, and
    * decoy titles inside a comment and a script that must never be
    * picked. The lang attribute embeds the row's own `lang` column (and
    * mode 1 uppercases it), so the oracle's expected value is the
    * column itself — a hash-match certifies the attribute parse,
    * normalization, and both null paths.
    */
  private def metaHtml: org.apache.spark.sql.Column = {
    val m = col("doc_id") % 6
    val i = col("doc_id").cast("string")
    when(m === 0, concat(lit("<html lang=\""), col("lang"),
        lit("\"><head><title>Doc "), i,
        lit("</title></head><body>x</body></html>")))
      .when(m === 1, concat(lit("<HTML LANG=\""), upper(col("lang")),
        lit("\"><HEAD><TITLE>  "), col("source"),
        lit("   page </TITLE></HEAD>")))
      .when(m === 2, concat(lit("<html lang='"), col("lang"),
        lit("'><title>A &amp; <b>B</b> &#33;</title>")))
      .when(m === 3, concat(lit("<html lang="), col("lang"),
        lit("><body><p>no title</p></body>")))
      .when(m === 4, concat(lit("<html><title>only title "), i,
        lit("</title>")))
      .otherwise(lit("<html data-x=\"1\"><!-- <title>ghost</title> -->" +
        "<script>var t=\"<title>f</title>\";</script><body>z</body>"))
  }

  private val q229 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
        .select(col("doc_id"), metaHtml.as("html"))
      Curation.extractHtmlMeta(docs, "doc_id", "html")
        .orderBy(col("doc_id"))
    },
    Some("""WITH u AS (
        SELECT doc_id, doc_id % 6 AS m, CAST(doc_id AS VARCHAR) AS i,
          source, lang
        FROM documents)
      SELECT doc_id,
        CASE m WHEN 0 THEN 'Doc ' || i
          WHEN 1 THEN source || ' page'
          WHEN 2 THEN 'A & <b>B</b> !'
          WHEN 4 THEN 'only title ' || i
          ELSE NULL END AS title,
        CASE m WHEN 0 THEN lang WHEN 1 THEN lang WHEN 2 THEN lang
          WHEN 3 THEN lang ELSE NULL END AS html_lang
      FROM u ORDER BY doc_id"""))

  /** The q208/q209 messy-URL construction: deterministic per-doc URLs
    * over six messiness modes (doc_id % 6) — uppercase scheme+host,
    * default ports (with and without userinfo), an explicit non-default
    * port, unreserved percent-escapes in upper and lower hex (%41 → A,
    * %7E/%7e → ~), a reserved escape that must stay encoded with
    * uppercased hex (%2f → %2F), a trailing-dot host, fragments, and an
    * empty path. Both engines build the SAME string from (doc_id,
    * source), so the oracle certifies the canonicalizer's OUTPUT without
    * sharing its code.
    */
  private def messyUrl: org.apache.spark.sql.Column = {
    val m = col("doc_id") % 6
    val i = col("doc_id").cast("string")
    when(m === 0, concat(lit("HTTP://WWW."), upper(col("source")),
        lit(".COM:80/docs/"), i, lit("#frag")))
      .when(m === 1, concat(lit("https://User@"), col("source"),
        lit(".co.uk:443/a%7Eb/"), i))
      .when(m === 2, concat(lit("http://cdn."), col("source"),
        lit(".com:8080/x/"), i, lit("?q=%41%2f")))
      .when(m === 3, concat(lit("https://"), col("source"),
        lit(".com./p/"), i, lit("?a=1&b=2#sec")))
      .when(m === 4, concat(lit("http://"), col("source"), lit(".org")))
      .otherwise(concat(lit("https://sub.a."), col("source"),
        lit(".ac.uk/%7e"), i))
  }

  private val messyUrlSql =
    """CASE m WHEN 0 THEN 'HTTP://WWW.' || upper(source) || '.COM:80/docs/' || i || '#frag'
         WHEN 1 THEN 'https://User@' || source || '.co.uk:443/a%7Eb/' || i
         WHEN 2 THEN 'http://cdn.' || source || '.com:8080/x/' || i || '?q=%41%2f'
         WHEN 3 THEN 'https://' || source || '.com./p/' || i || '?a=1&b=2#sec'
         WHEN 4 THEN 'http://' || source || '.org'
         ELSE 'https://sub.a.' || source || '.ac.uk/%7e' || i END"""

  private val domainSql =
    """CASE m WHEN 1 THEN source || '.co.uk'
         WHEN 4 THEN source || '.org'
         WHEN 5 THEN source || '.ac.uk'
         ELSE source || '.com' END"""

  /** URL canonicalization + registered-domain derivation (Urls
    * .canonicalize over CanonicalUrlParts/RegisteredDomainExpr): the
    * per-site key derivation in front of quotas/drift. The oracle
    * constructs the same messy URLs and the EXPECTED canonical form,
    * host, and registered domain per messiness mode from the RFC 3986 §6
    * spec — an independent replay of the specification, not of the
    * parser — so a hash-match certifies scheme/host case-folding,
    * default-port and fragment stripping, userinfo preservation,
    * selective percent-decoding with hex uppercasing, empty-path
    * normalization, trailing-dot removal, and longest-suffix domain
    * extraction (co.uk/ac.uk beating uk) across all six modes at once.
    */
  private val q208 = GQuery(
    (s, d) => Urls.canonicalize(
        T.documents(s, d).select(col("doc_id"), col("source"))
          .withColumn("url", messyUrl), "url")
      .select("doc_id", "url", "canonical", "host", "registered_domain")
      .orderBy("doc_id"),
    Some(s"""WITH u AS (
        SELECT doc_id, source, doc_id % 6 AS m, CAST(doc_id AS VARCHAR) AS i
        FROM documents)
      SELECT doc_id,
        $messyUrlSql AS url,
        CASE m WHEN 0 THEN 'http://www.' || source || '.com/docs/' || i
          WHEN 1 THEN 'https://User@' || source || '.co.uk/a~b/' || i
          WHEN 2 THEN 'http://cdn.' || source || '.com:8080/x/' || i || '?q=A%2F'
          WHEN 3 THEN 'https://' || source || '.com/p/' || i || '?a=1&b=2'
          WHEN 4 THEN 'http://' || source || '.org/'
          ELSE 'https://sub.a.' || source || '.ac.uk/~' || i END AS canonical,
        CASE m WHEN 0 THEN 'www.' || source || '.com'
          WHEN 1 THEN source || '.co.uk'
          WHEN 2 THEN 'cdn.' || source || '.com'
          WHEN 3 THEN source || '.com'
          WHEN 4 THEN source || '.org'
          ELSE 'sub.a.' || source || '.ac.uk' END AS host,
        $domainSql AS registered_domain
      FROM u ORDER BY doc_id"""))

  /** Per-site quota keyed on the DERIVED registered domain — q60's
    * sourceQuota composed over q208's derivation instead of a stored
    * source column, the shape a real crawl pipeline runs (cap pages per
    * SITE, where "site" must be computed from the URL; www./cdn./sub.a.
    * variants of one site share a quota because the registered domain
    * collapses them). Quota 5 bites on the .com domains (~12 docs each —
    * three modes share one registered domain) and passes the others
    * through (~4 docs each), so both branches of the gate are certified.
    * The oracle derives the domain per mode and replays the portable-
    * bucket rank.
    */
  private val q209 = GQuery(
    (s, d) => Curation.sourceQuota(
        Urls.canonicalize(
          T.documents(s, d).select(col("doc_id"), col("source"))
            .withColumn("url", messyUrl), "url"),
        "doc_id", "registered_domain", quota = 5)
      .select(col("doc_id"), col("registered_domain"), col("rank"))
      .orderBy("doc_id"),
    Some(s"""WITH u AS (
        SELECT doc_id, source, doc_id % 6 AS m FROM documents),
      dom AS (SELECT doc_id, $domainSql AS registered_domain FROM u),
      r AS (SELECT doc_id, registered_domain,
        CAST(ROW_NUMBER() OVER (PARTITION BY registered_domain
          ORDER BY ${ScaleQueries.bucketSql("doc_id")}, doc_id) AS BIGINT)
          AS rank
        FROM dom)
      SELECT doc_id, registered_domain, rank FROM r WHERE rank <= 5
      ORDER BY doc_id"""))

  /** Per-group boilerplate removal (Curation.stripBoilerplate — the
    * CCNet/RefinedWeb template-cleanup stage). The derived corpus plants
    * four line kinds per doc: unique prose (always kept), a per-source
    * footer present in 100% of the source's docs (always stripped), a
    * cross-site nav line in ~50% (stripped at the 400‰ threshold), and a
    * ~20% promo line (kept — under threshold), so both sides of BOTH
    * integer thresholds fire on real data. The oracle replays the 62-bit
    * portable line hash (q62's discipline), the distinct-doc counts per
    * (source, line), the exact nd·1000 ≥ 400·groupDocs comparison, and
    * the ordered reassembly.
    */
  private def boilerTextCol: org.apache.spark.sql.Column = concat(
    substring(col("text"), 1, 60), lit(". all rights reserved "),
    col("source"), lit(". "),
    when(pmod(col("doc_id"), lit(2)) === 0, lit("home about contact. "))
      .otherwise(lit("")),
    when(pmod(col("doc_id"), lit(5)) === 0, lit("special offer today. "))
      .otherwise(lit("")),
    substring(col("text"), 31, 60))

  private def boilerDocs(s: org.apache.spark.sql.SparkSession, d: String) =
    T.documents(s, d).withColumn("text", boilerTextCol)

  private val boilerDocsSql =
    """substr(text, 1, 60) || '. all rights reserved ' || source || '. ' ||
       CASE WHEN doc_id % 2 = 0 THEN 'home about contact. ' ELSE '' END ||
       CASE WHEN doc_id % 5 = 0 THEN 'special offer today. ' ELSE '' END ||
       substr(text, 31, 60)"""

  private val q211 = GQuery(
    (s, d) => Curation.stripBoilerplate(boilerDocs(s, d), "doc_id", "text",
      "source", minDocs = 2, minPermille = 400).orderBy("doc_id"),
    Some(s"""WITH base AS (
        SELECT doc_id, source, $boilerDocsSql AS text FROM documents),
      sl AS (SELECT doc_id, source,
          list_filter(list_transform(string_split_regex(text, '\\.'),
            x -> trim(x)), z -> len(z) > 0) AS l
        FROM base),
      s AS (SELECT doc_id, source, i - 1 AS pos, l[i] AS line
        FROM sl, UNNEST(range(1, len(l) + 1)) AS t(i)),
      h AS (SELECT doc_id, source, pos, line, ${ScaleQueries.h62Sql("line")} AS hh
        FROM s),
      gd AS (SELECT source, COUNT(*)::BIGINT AS gd FROM documents
        GROUP BY source),
      nd AS (SELECT source, hh, COUNT(DISTINCT doc_id)::BIGINT AS nd
        FROM h GROUP BY source, hh),
      b AS (SELECT nd.source, nd.hh FROM nd JOIN gd USING (source)
        WHERE nd.nd >= 2 AND nd.nd * 1000 >= 400 * gd.gd),
      k AS (SELECT h.doc_id, h.source, h.pos, h.line, b.hh IS NULL AS keep
        FROM h LEFT JOIN b ON h.source = b.source AND h.hh = b.hh)
      SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_lines,
        CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
        COALESCE(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE keep), '')
          AS cleaned
      FROM k GROUP BY doc_id, source ORDER BY doc_id"""))

  /** Multi-pattern leftmost-longest scrub (Curation.blocklistScrub):
    * equal-length competing patterns ("value table"/"table value"),
    * a prefix-nested pair ("fast" ⊂ "fast table" — longest must win),
    * and overlapping occurrences. The oracle is a DuckDB RE2 global
    * replace over the SAME literals in a longest-first alternation —
    * RE2 alternation is first-match-at-leftmost-position, so ordering
    * by length desc reproduces leftmost-longest exactly; match counts
    * come from regexp_extract_all over the identical pattern.
    */
  private val ScrubPats = Seq(
    "value table", "table value", "fast table", "row scan", "fast", "agg")
  private val ScrubAlt = ScrubPats.sortBy(-_.length).mkString("|")

  private val q212 = GQuery(
    (s, d) => Curation.blocklistScrub(T.documents(s, d), "doc_id", "text",
      ScrubPats, replacement = "[X]").orderBy("doc_id"),
    Some(s"""SELECT doc_id,
        CAST(len(regexp_extract_all(text, '$ScrubAlt')) AS BIGINT)
          AS n_scrubbed,
        regexp_replace(text, '$ScrubAlt', '[X]', 'g') AS scrubbed
      FROM documents ORDER BY doc_id"""))

  /** Crawl-variant URL dedup — the FIRST dedup every web pipeline runs,
    * composed from q208's canonicalizer: five messy variants of one
    * logical URL per doc (case-folded scheme/host, default port,
    * fragment, percent-encoded path char) must collapse to ONE
    * canonical key, and the group stats (variant count, distinct raw
    * forms, min-id keeper) certify the collapse. The oracle derives the
    * canonical form directly from the spec per variant mode.
    */
  private def crawlUrl: org.apache.spark.sql.Column = {
    val m = col("doc_id") % 5
    val i = (col("doc_id") % 100).cast("string")
    when(m === 0, concat(lit("http://www."), col("source"), lit(".com/p/"), i))
      .when(m === 1, concat(lit("HTTP://WWW."), upper(col("source")),
        lit(".COM/p/"), i))
      .when(m === 2, concat(lit("http://www."), col("source"),
        lit(".com:80/p/"), i))
      .when(m === 3, concat(lit("http://www."), col("source"),
        lit(".com/p/"), i, lit("#top")))
      .otherwise(concat(lit("http://www."), col("source"),
        lit(".com/%70/"), i))
  }

  private val q213 = GQuery(
    (s, d) => Urls.canonicalize(
        T.documents(s, d).select(col("doc_id"), col("source"))
          .withColumn("url", crawlUrl), "url")
      .groupBy("canonical")
      .agg(count(lit(1)).as("n_variants"),
        countDistinct(col("url")).as("n_distinct_urls"),
        min(col("doc_id")).as("keeper"))
      .orderBy("canonical"),
    Some(s"""WITH u AS (
        SELECT doc_id, source, doc_id % 5 AS m,
          CAST(doc_id % 100 AS VARCHAR) AS i
        FROM documents),
      r AS (SELECT doc_id,
        CASE m WHEN 0 THEN 'http://www.' || source || '.com/p/' || i
          WHEN 1 THEN 'HTTP://WWW.' || upper(source) || '.COM/p/' || i
          WHEN 2 THEN 'http://www.' || source || '.com:80/p/' || i
          WHEN 3 THEN 'http://www.' || source || '.com/p/' || i || '#top'
          ELSE 'http://www.' || source || '.com/%70/' || i END AS url,
        'http://www.' || source || '.com/p/' || i AS canonical
        FROM u)
      SELECT canonical, CAST(COUNT(*) AS BIGINT) AS n_variants,
        CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_urls,
        MIN(doc_id) AS keeper
      FROM r GROUP BY canonical ORDER BY canonical"""))

  /** Crawl-side curation capstone — the round's new family COMPOSED, the
    * q204 pattern applied to the web-crawl half of a pipeline:
    *
    *   1. canonicalize messy URLs (q213's five-variant derivation);
    *   2. crawl dedup: keep the min-id doc per canonical URL;
    *   3. per-DOMAIN boilerplate strip (q211's footer/nav/promo text,
    *      grouped by the DERIVED registered domain — the composition
    *      q211 exists for);
    *   4. blocklist page gate on the CLEANED text ("special offer" —
    *      the ~20% promo line boilerplate deliberately leaves behind,
    *      so the two gates demonstrably divide the work);
    *   5. per-domain quota (rank ≤ 3 by portable bucket).
    *
    * ONE hash-match replays every decision: canonical collapse,
    * keep-first winners, survivor-relative boilerplate thresholds, the
    * contains-gate (maxHits = 0 ≡ strpos = 0), and the quota rank.
    * Stages 1, 3-gate, and 4 are narrow kernels; the only exchanges are
    * the canonical-group min, q211's line counts, and the quota window —
    * composition adds nothing corpus-wide (the q204 accounting).
    */
  private val q216 = GQuery(
    (s, d) => {
      val staged = T.documents(s, d)
        .select(col("doc_id"), col("source"),
          boilerTextCol.as("text"))
        .withColumn("url", crawlUrl)
      val canon = Urls.canonicalize(staged, "url")
      val surv = canon
        .join(canon.groupBy(col("canonical"))
          .agg(min(col("doc_id")).as("__keep")), "canonical")
        .where(col("doc_id") === col("__keep")).drop("__keep")
      val stripped = Curation.stripBoilerplate(surv, "doc_id", "text",
        "registered_domain", minDocs = 2, minPermille = 400)
      val gated = Curation.blocklistFilter(stripped, "cleaned",
        Seq("special offer"))
      Curation.sourceQuota(gated, "doc_id", "registered_domain", quota = 3)
        .select(col("doc_id"), col("registered_domain"), col("n_lines"),
          col("n_kept"), col("cleaned"), col("rank"))
        .orderBy("doc_id")
    },
    Some(s"""WITH u AS (
        SELECT doc_id, source, doc_id % 5 AS m,
          CAST(doc_id % 100 AS VARCHAR) AS i,
          $boilerDocsSql AS text
        FROM documents),
      c AS (SELECT doc_id, text,
          'http://www.' || source || '.com/p/' || i AS canonical,
          source || '.com' AS dom
        FROM u),
      surv AS (SELECT doc_id, text, dom FROM c
        QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY canonical)),
      sl AS (SELECT doc_id, dom,
          list_filter(list_transform(string_split_regex(text, '\\.'),
            x -> trim(x)), z -> len(z) > 0) AS l
        FROM surv),
      sx AS (SELECT doc_id, dom, i - 1 AS pos, l[i] AS line
        FROM sl, UNNEST(range(1, len(l) + 1)) AS t(i)),
      h AS (SELECT doc_id, dom, pos, line, ${ScaleQueries.h62Sql("line")} AS hh
        FROM sx),
      gd AS (SELECT dom, COUNT(*)::BIGINT AS gd FROM surv GROUP BY dom),
      nd AS (SELECT dom, hh, COUNT(DISTINCT doc_id)::BIGINT AS nd
        FROM h GROUP BY dom, hh),
      b AS (SELECT nd.dom, nd.hh FROM nd JOIN gd USING (dom)
        WHERE nd.nd >= 2 AND nd.nd * 1000 >= 400 * gd.gd),
      k AS (SELECT h.doc_id, h.dom, h.pos, h.line, b.hh IS NULL AS keep
        FROM h LEFT JOIN b ON h.dom = b.dom AND h.hh = b.hh),
      cl AS (SELECT doc_id, dom, CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
          COALESCE(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE keep),
            '') AS cleaned
        FROM k GROUP BY doc_id, dom),
      g AS (SELECT * FROM cl WHERE strpos(cleaned, 'special offer') = 0),
      r AS (SELECT doc_id, dom, n_lines, n_kept, cleaned,
          CAST(ROW_NUMBER() OVER (PARTITION BY dom
            ORDER BY ${ScaleQueries.bucketSql("doc_id")}, doc_id) AS BIGINT)
            AS rank
        FROM g)
      SELECT doc_id, dom AS registered_domain, n_lines, n_kept, cleaned,
        rank
      FROM r WHERE rank <= 3 ORDER BY doc_id"""))

  def all: Map[String, GQuery] = Map(
    "q58_decontamination" -> q58,
    "q207_blocklist_counts" -> q207,
    "q208_url_canonicalize" -> q208,
    "q223_html_extract" -> q223,
    "q227_link_extract" -> q227,
    "q228_crawl_frontier" -> q228,
    "q229_html_metadata" -> q229,
    "q209_domain_quota" -> q209,
    "q211_boilerplate_removal" -> q211,
    "q212_blocklist_scrub" -> q212,
    "q213_url_crawl_dedup" -> q213,
    "q216_crawl_capstone" -> q216,
    "q204_curation_pipeline" -> q204,
    "q59_repetition_signals" -> q59,
    "q60_source_quota" -> q60,
    "q61_pii_redaction" -> q61,
    "q62_sentence_dedup" -> q62,
    "q64_sequence_packing" -> q64,
    "q65_sentence_dedup_twostage" -> q65,
    "q66_source_quota_topk" -> q66,
    "q67_c4_line_filter" -> q67,
    "q68_gopher_quality" -> q68,
    "q72_pack_manifest" -> q72,
    "q73_length_batching" -> q73,
    "q74_dsir_weights" -> q74,
    "q75_temperature_mix" -> q75,
    "q77_decontaminate_bloom" -> q77,
    "q86_doc_chunks" -> q86,
  )
}
