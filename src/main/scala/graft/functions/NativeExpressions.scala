package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge

/** Native Catalyst expressions (with whole-stage codegen) for the text,
  * hash and vector kernels of the scale layer, replacing interpreted
  * higher-order-function chains that fall out of whole-stage codegen.
  *
  * Each kernel has ONE implementation: a Scala method (here or on the
  * expression's companion) that takes the row's inputs plus the kernel's
  * arrays, maps and constants as parameters. `nullSafeEval` calls it, and
  * `doGenCode` registers those arrays/maps/broadcasts with
  * `ctx.addReferenceObj` and emits a one-line `nullSafeCodeGen` call to
  * the same method — no loop is ever written a second time as a Java
  * source string. NativeExpressionsSpec compiles kernels with
  * `GenerateUnsafeProjection` and checks the generated code against `eval`.
  *
  * Kernels keep bit-exact parity with their expression-combinator twins
  * (same fold order), so oracle results are unchanged.
  */
object NativeExpressions {

  /** The MinHash modulus, 2^31 − 1 (Mersenne): `a·x + b` stays below 2^63
    * for every x in [0, Prime). A literal constant, so `% Prime` compiles
    * to a constant divisor inside [[minhashImpl]].
    */
  final val Prime = 2147483647L

  /** Deterministic affine hash family (a_i, b_i), i in [0, numPerm) — shared
    * by the HOF formulation ([[graft.scale.Dedup.minhashSignature]]) and
    * the native kernels.
    */
  def minhashPerms(numPerm: Int): (Array[Long], Array[Long]) = {
    val as = new Array[Long](numPerm)
    val bs = new Array[Long](numPerm)
    var i = 0
    while (i < numPerm) {
      val a = 1L + 2654435761L * (i + 1) % (Prime - 1)
      as(i) = a % (Prime - 1) + 1
      bs(i) = 2246822519L * (i + 1) % Prime
      i += 1
    }
    (as, bs)
  }

  def minhash_signature(hashedShingles: Column, numPerm: Int = 64): Column =
    Bridge.column(MinHashSignature(Bridge.expression(hashedShingles), numPerm))

  /** [[MinHashSignature]] with the pmod fold-in (see
    * [[MinHashSignatureMod]]): takes RAW 64-bit shingle hashes and
    * reduces each to [0, Prime) inside the perm loop — replaces the
    * interpreted `transform(sh, x -> pmod(x, Prime))` pre-pass.
    */
  def minhash_signature_mod(sh: Column, numPerm: Int = 64): Column =
    Bridge.column(MinHashSignatureMod(Bridge.expression(sh), numPerm))

  /** Shared JVM implementation for [[MinHashSignature]] and
    * [[MinHashSignatureMod]]: for each perm i, min over the elements x of
    * (pa(i)·x + pb(i)) mod Prime, every minimum starting at Long.MaxValue.
    * With `reduce` each x is first brought into [0, Prime) by the positive
    * mod (`pmod`; Java `%` keeps the sign); without it x is used as given.
    */
  def minhashImpl(arr: ArrayData, pa: Array[Long], pb: Array[Long],
      reduce: Boolean): ArrayData = {
    val numPerm = pa.length
    val out = new Array[Long](numPerm)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      var x = arr.getLong(j)
      if (reduce) { x %= Prime; if (x < 0) x += Prime }
      var i = 0
      while (i < numPerm) {
        val h = (pa(i) * x + pb(i)) % Prime
        if (h < out(i)) out(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** `out` sorted ascending with adjacent duplicates dropped (sorts in
    * place).
    */
  private def sortedDistinct(out: Array[Long]): ArrayData = {
    java.util.Arrays.sort(out)
    var w = 0
    var k = 0
    while (k < out.length) {
      if (k == 0 || out(k) != out(k - 1)) { out(w) = out(k); w += 1 }
      k += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /** Sorted-distinct rotate-XOR shingle set straight from a whitespace
    * split (see [[XxhashShingleSet]]): skip empty tokens, xxhash64 each,
    * rotl5-XOR n-gram window combine, sort, dedup — ONE compiled pass
    * replacing the interpreted filter → transform(xxhash64) →
    * transform(window fold) → array_distinct → sort_array chain.
    */
  def xxhash_shingle_set(splitToks: Column, n: Int): Column =
    Bridge.column(XxhashShingleSet(Bridge.expression(splitToks), n))

  /** Shared JVM implementation for [[XxhashShingleSet]]. Token hashing is
    * Spark's `xxhash64(token)` (seed 42); the window combine is
    * [[graft.scale.Dedup.hashedShingles]]'s rotl5-XOR fold; fewer than
    * `n` tokens (including zero) degenerate to ONE fold over all tokens
    * from seed 0 — all bit-identical to the HOF reference
    * (NativeExpressionsSpec parity).
    */
  def xxhashShingleSetImpl(arr: ArrayData, n: Int): ArrayData = {
    val total = arr.numElements()
    var m = 0
    val th = new Array[Long](total)
    var i = 0
    while (i < total) {
      val t = arr.getUTF8String(i)
      if (t != null && t.numBytes() > 0) {
        th(m) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(t, 42L)
        m += 1
      }
      i += 1
    }
    // rotl5-XOR fold of th[from, from + len) from seed 0
    def fold(from: Int, len: Int): Long = {
      var acc = 0L
      var j = 0
      while (j < len) { acc = ((acc << 5) | (acc >>> 59)) ^ th(from + j); j += 1 }
      acc
    }
    if (m < n) new GenericArrayData(Array(fold(0, m)))
    else {
      val out = new Array[Long](m - n + 1)
      var s = 0
      while (s < out.length) { out(s) = fold(s, n); s += 1 }
      sortedDistinct(out)
    }
  }

  def cosine_similarity(a: Column, b: Column): Column =
    Bridge.column(CosineSimilarity(
      Bridge.expression(a), Bridge.expression(b)))

  /** Shared JVM implementation for [[CosineSimilarity]]: dot and both
    * norms in one left-to-right pass over the first min(|a|, |b|)
    * elements, in double; `aFloat`/`bFloat` select float element access
    * (fixed per expression, so the branch is loop-invariant). Zero norm →
    * 0.0.
    */
  def cosineImpl(a: ArrayData, b: ArrayData, aFloat: Boolean,
      bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (math.sqrt(na) > 0 && math.sqrt(nb) > 0)
      dot / (math.sqrt(na) * math.sqrt(nb))
    else 0.0
  }

  def sorted_long_overlap(a: Column, b: Column): Column =
    Bridge.column(SortedLongOverlap(
      Bridge.expression(a), Bridge.expression(b)))

  /** Shared JVM implementation for [[SortedLongOverlap]]: one merge pass
    * over two ascending arrays; a run of equal elements counts once.
    */
  def sortedLongOverlapImpl(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var o = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) {
        o += 1; i += 1; j += 1
        while (i < na && a.getLong(i) == x) i += 1
        while (j < nb && b.getLong(j) == y) j += 1
      } else if (x < y) i += 1
      else j += 1
    }
    o
  }

  def simhash64(tokenHashes: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(tokenHashes)))

  /** Shared JVM implementation for [[SimHash64]]: per-bit ±1 votes over
    * the token hashes; a bit is set when its vote is positive.
    */
  def simhash64Impl(arr: ArrayData): Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** Encode a word column with a learned BPE merge list (rank order). */
  def bpe_encode(word: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncodeWord(Bridge.expression(word),
      merges.map(_._1), merges.map(_._2)))

  /** Encode a word column with a WordPiece vocabulary (greedy
    * longest-match-first; whole word → `unk` on any miss).
    */
  def wordpiece_encode(word: Column, vocab: Seq[String],
      unk: String = "[UNK]", contPrefix: String = "##",
      maxChars: Int = 100): Column =
    Bridge.column(WordPieceEncodeWord(Bridge.expression(word), vocab,
      unk, contPrefix, maxChars))

  def bloom_might_contain_long(hash: Column,
      bloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): Column =
    Bridge.column(BloomMightContainLong(Bridge.expression(hash), bloom))

  /** Rare-first reorder of a sorted long array (see [[HotLastOrder]]):
    * Bloom misses in input order, then Bloom hits in input order.
    */
  def hot_last_order(sh: Column,
      bloom: org.apache.spark.broadcast.Broadcast[
        org.apache.spark.util.sketch.BloomFilter]): Column =
    Bridge.column(HotLastOrder(Bridge.expression(sh), bloom))

  /** Shared JVM implementation for [[HotLastOrder]]: one pass, two
    * primitive write heads, zero boxing.
    */
  def hotLastOrderImpl(arr: ArrayData,
      bloom: org.apache.spark.util.sketch.BloomFilter): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    val hot = new Array[Long](n)
    var w = 0
    var nHot = 0
    var i = 0
    while (i < n) {
      val g = arr.getLong(i)
      if (bloom.mightContainLong(g)) { hot(nHot) = g; nHot += 1 }
      else { out(w) = g; w += 1 }
      i += 1
    }
    var j = 0
    while (j < nHot) { out(w) = hot(j); w += 1; j += 1 }
    new GenericArrayData(out)
  }

  def bucket_weight_sum(hashes: Column,
      weights: org.apache.spark.broadcast.Broadcast[Array[Double]]): Column =
    Bridge.column(BucketWeightSum(Bridge.expression(hashes), weights))

  /** Shared JVM implementation for [[BucketWeightSum]]: the left-to-right
    * sum of w((h mod B + B) mod B) over the hashes, B = |w|.
    */
  def bucketWeightSumImpl(arr: ArrayData, w: Array[Double]): Double = {
    val b = w.length
    var acc = 0.0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val idx = ((arr.getLong(i) % b) + b) % b
      acc += w(idx.toInt)
      i += 1
    }
    acc
  }

  /** Per-pattern Aho–Corasick occurrence counts over text (see
    * [[AhoCorasickCounts]]): array<long> indexed like the automaton's
    * pattern list, every occurrence counted (overlaps + nested patterns).
    */
  def ac_counts(text: Column,
      auto: org.apache.spark.broadcast.Broadcast[AcAutomaton]): Column =
    Bridge.column(AhoCorasickCounts(Bridge.expression(text), auto))

  /** Total Aho–Corasick occurrences across all patterns — the page-gate
    * scalar (see [[AhoCorasickTotal]]); same single pass, no per-pattern
    * array allocation.
    */
  def ac_total(text: Column,
      auto: org.apache.spark.broadcast.Broadcast[AcAutomaton]): Column =
    Bridge.column(AhoCorasickTotal(Bridge.expression(text), auto))

  /** Leftmost-longest multi-pattern scrub (see [[AhoCorasickScrub]]):
    * struct(scrubbed string, n_matches long).
    */
  def ac_scrub(text: Column,
      auto: org.apache.spark.broadcast.Broadcast[AcAutomaton],
      replacement: String): Column =
    Bridge.column(AhoCorasickScrub(Bridge.expression(text), auto, replacement))

  /** Dense rotation of a vector column (see [[RotateMatVec]]): output
    * dim r = round(Σ_j R[r][j]·x[j], roundDp), j-ascending fold — the
    * codegen'd form of the OPQ rotate projection.
    */
  def rotate_mat_vec(vec: Column, rotation: Array[Array[Double]],
      roundDp: Int): Column =
    Bridge.column(RotateMatVec(Bridge.expression(vec), rotation, roundDp))

  /** Canonical form + lowercased host of a URL in one parse (see
    * [[CanonicalUrlParts]]): struct(canonical string, host string).
    */
  def canonical_url_parts(url: Column): Column =
    Bridge.column(CanonicalUrlParts(Bridge.expression(url)))

  /** Registered domain (public suffix + one label) of a lowercase host
    * against a broadcast suffix set (see [[RegisteredDomainExpr]]).
    */
  def registered_domain(host: Column,
      suffixes: org.apache.spark.broadcast.Broadcast[
        java.util.HashSet[String]]): Column =
    Bridge.column(RegisteredDomainExpr(Bridge.expression(host), suffixes))

  /** KMV distinct sketch over a pre-hashed long column (see
    * [[KMinValues]]); `domain` must match the hash range — 2^31−1 for
    * [[graft.scale.Sampling.portableBucket]] (the oracle-verifiable
    * configuration).
    */
  def kmv_distinct(hash: Column, k: Int = 256,
      domain: Double = 2147483647.0): Column =
    Bridge.column(KMinValues(Bridge.expression(hash), k, domain)
      .toAggregateExpression())

  /** Winnowed k-gram fingerprint selection with per-occurrence
    * verification contexts (see [[WinnowContexts]]): array of
    * (h, left, mid, right) — the scale-path candidate generator for
    * character-level common-run detection ([[graft.scale.Dedup
    * .commonRunPairs]]).
    */
  def winnow_contexts(text: Column, k: Int, w: Int): Column =
    Bridge.column(WinnowContexts(Bridge.expression(text), k, w))

  /** Shared-run witness over two winnow context structs (see
    * [[RunExtends]]): k-grams equal AND left-suffix + right-prefix common
    * extension ≥ `need` code points.
    */
  def run_extends(a: Column, b: Column, need: Int): Column =
    Bridge.column(RunExtends(Bridge.expression(a), Bridge.expression(b), need))

  /** Single-pass Gopher quality-filter counts over raw text (see
    * [[GopherStats]]). Output layout (array<long>): [0]=nWords,
    * [1]=Σ token code points, [2]=alpha words, [3]=stop-word hits,
    * [4]=symbols ('#' + "..."), [5]=lines, [6]=bullet lines,
    * [7]=ellipsis lines.
    */
  def gopher_stats(text: Column, stopWords: Seq[String],
      lineSep: String): Column =
    Bridge.column(GopherStats(Bridge.expression(text), stopWords, lineSep))

  /** The Gopher keep bit (1 or 0) of a [[gopher_stats]] array under `gate`
    * (see [[GopherKeep]]); 0 for a null array.
    */
  def gopher_keep(stats: Column, gate: GopherGate): Column =
    Bridge.column(GopherKeep(Bridge.expression(stats), gate))

  /** Resolve a line-separator pattern (as accepted by `split`) to the
    * single character it matches: either one literal char ("\n") or a
    * backslash-escaped regex metachar ("\\." → '.'). Escaped LETTERS are
    * rejected — in regex those are character classes ("\\s"), not
    * literals, and silently taking the letter would change semantics.
    */
  def sepChar(lineSep: String): Char = {
    require(lineSep.length == 1 ||
      (lineSep.length == 2 && lineSep.charAt(0) == '\\' &&
        !Character.isLetterOrDigit(lineSep.charAt(1))),
      s"lineSep must match a single literal character: '$lineSep'")
    lineSep.charAt(lineSep.length - 1)
  }

  /** Single-pass C4 line rules (see [[C4LineStats]]): counts array<long>
    * [0]=nLines, [1]=nKept, [2]=dropped (no terminal punctuation),
    * [3]=dropped (short), [4]=dropped (javascript), [5]=text has '{',
    * [6]=text has "lorem ipsum"; plus the kept lines re-joined.
    */
  def c4_line_stats(text: Column, lineSep: String, joinSep: String,
      minWords: Int): Column =
    Bridge.column(C4LineStats(Bridge.expression(text), lineSep, joinSep,
      minWords))

  /** Reference JVM implementation of [[C4LineStats]]: the C4 line rules
    * (terminal punctuation → min words → javascript notice, chained
    * drop precedence) plus the page-level brace / lorem-ipsum probes,
    * one pass over the raw text. Count semantics replicate the
    * expression-combinator formulation: lines split on `lineSep` and
    * trimmed of spaces, words are maximal non-`\s` runs, the javascript
    * probe lowercases the line exactly as `lower()` does.
    */
  def c4LineStats(text: org.apache.spark.unsafe.types.UTF8String,
      lineSep: Char, joinSep: String, minWords: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val n = s.length
    @inline def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    val sb = new java.lang.StringBuilder
    var nLines = 0L; var nKept = 0L
    var dPunct = 0L; var dShort = 0L; var dJs = 0L
    var lineStart = 0
    var pos = 0
    while (pos <= n) {
      if (pos == n || s.charAt(pos) == lineSep) {
        var ts = lineStart
        var te = pos
        while (ts < te && s.charAt(ts) == ' ') ts += 1
        while (te > ts && s.charAt(te - 1) == ' ') te -= 1
        if (te > ts) {
          nLines += 1
          val last = s.charAt(te - 1)
          val endsOk = last == '.' || last == '!' || last == '?' ||
            last == '"' || last == '\''
          if (!endsOk) dPunct += 1
          else {
            var w = 0
            var i = ts
            while (i < te) {
              if (isWs(s.charAt(i))) i += 1
              else { w += 1; while (i < te && !isWs(s.charAt(i))) i += 1 }
            }
            if (w < minWords) dShort += 1
            else if (s.substring(ts, te).toLowerCase.contains("javascript"))
              dJs += 1
            else {
              if (nKept > 0) sb.append(joinSep)
              sb.append(s, ts, te)
              nKept += 1
            }
          }
        }
        lineStart = pos + 1
      }
      pos += 1
    }
    val hasBrace = if (s.indexOf('{') >= 0) 1L else 0L
    val hasLorem = if (s.toLowerCase.contains("lorem ipsum")) 1L else 0L
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new GenericArrayData(Array[Long](nLines, nKept, dPunct, dShort, dJs,
        hasBrace, hasLorem)),
      org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)))
  }

  /** Chained regex scrub with counts (see [[RegexScrub]]). */
  def regex_scrub(text: Column, patterns: Seq[(String, String)]): Column =
    Bridge.column(RegexScrub(Bridge.expression(text), patterns))

  /** Single-pass ASCII text normalization (see [[NormalizeAsciiText]]). */
  def normalize_ascii_text(text: Column): Column =
    Bridge.column(NormalizeAsciiText(Bridge.expression(text)))

  /** Reference JVM implementation of [[NormalizeAsciiText]]: one pass,
    * one output buffer. Chars ≤ 0x20 (space, tab, CR/LF, all C0
    * controls) are whitespace; runs collapse to one ' '; leading and
    * trailing whitespace is dropped; ASCII A-Z lowercases; every other
    * char (incl. non-ASCII) passes through untouched, so the kernel is
    * exactly mirrorable by
    * `trim(regexp_replace(lower(t), '[\\x00-\\x20]+', ' ', 'g'))` on
    * ASCII corpora while never corrupting multi-byte content.
    */
  def normalizeAscii(text: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.unsafe.types.UTF8String = {
    val s = text.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var pending = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c <= ' ') {
        if (sb.length > 0) pending = true
      } else {
        if (pending) { sb.append(' '); pending = false }
        if (c >= 'A' && c <= 'Z') sb.append((c + 32).toChar)
        else sb.append(c)
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Single-pass HTML → block-segmented text (see [[HtmlExtractText]]). */
  def html_extract_text(html: Column): Column =
    Bridge.column(HtmlExtractText(Bridge.expression(html)))

  private val HtmlBlockTags: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("html", "head", "body", "title", "p", "div", "br", "hr",
      "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol", "dl", "dt",
      "dd", "table", "thead", "tbody", "tfoot", "tr", "td", "th",
      "section", "article", "aside", "header", "footer", "main", "nav",
      "blockquote", "pre", "form", "figure", "figcaption")
      .foreach(s.add)
    s
  }

  /** Reference JVM implementation of [[HtmlExtractText]] — one pass, one
    * output buffer, no DOM. The exact contract (every clause is pinned by
    * the q223 oracle and HtmlExtractSpec's independent reference parser):
    *
    *  - `<!--` … `-->` comments: dropped whole, count 1 toward
    *    tags_dropped; unterminated → dropped to EOF.
    *  - `<` followed by a letter, `/`, `!` or `?`: a TAG TOKEN, scanned to
    *    the first `>` OUTSIDE single/double-quoted attribute values
    *    (`<div title="a>b">` is one tag); counts 1; unterminated → dropped
    *    to EOF. Any other `<` is literal text.
    *  - an OPENING `script`/`style` tag drops everything up to its
    *    case-insensitive `</script`/`</style` close (raw scan — pseudo-tags
    *    inside don't parse and don't count; the close tag counts 1);
    *    unterminated → dropped to EOF.
    *  - block-level tag tokens (open, close, or self-closing: html, head,
    *    body, title, p, div, br, hr, h1-h6, li, ul/ol/dl/dt/dd, table
    *    family, section/article/aside/header/footer/main/nav, blockquote,
    *    pre, form, figure, figcaption) end the current text block; inline
    *    tags (b, i, span, a, …) vanish without a boundary.
    *  - entities in text: `&amp; &lt; &gt; &quot; &apos;` decode to their
    *    character, `&nbsp;` to a space, `&#NN;`/`&#xHH;` to their code
    *    point (invalid code points stay literal); unknown `&name;` and
    *    bare `&` stay literal.
    *  - whitespace (anything ≤ 0x20) collapses to single spaces within a
    *    block; blocks are trimmed, empty blocks dropped, kept blocks
    *    joined by `\n`.
    *
    * Returns struct(text, tags_dropped, blocks_kept).
    */
  def htmlExtract(html: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.sql.catalyst.InternalRow = {
    val s = html.toString
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    val block = new java.lang.StringBuilder(64)
    var pending = false // a space is owed before the next block char
    var tags = 0L
    var blocks = 0L

    def appendChar(c: Char): Unit = {
      if (c <= ' ') { if (block.length > 0) pending = true }
      else {
        if (pending) { block.append(' '); pending = false }
        block.append(c)
      }
    }
    def appendCodePoint(cp: Int): Unit =
      if (cp <= 0xFFFF) appendChar(cp.toChar)
      else { // astral plane: never whitespace, emit the surrogate pair
        if (pending) { block.append(' '); pending = false }
        block.appendCodePoint(cp): Unit
      }
    def flushBlock(): Unit = {
      if (block.length > 0) {
        if (out.length > 0) out.append('\n')
        out.append(block)
        blocks += 1
        block.setLength(0)
      }
      pending = false
    }
    @inline def isNameChar(c: Char): Boolean =
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9')
    @inline def lower(c: Char): Char =
      if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
    // index of case-insensitive "</name" at or after `from`, or -1
    def closeTagIndex(name: String, from: Int): Int = {
      val m = name.length
      var i = from
      while (i <= n - m - 2) {
        if (s.charAt(i) == '<' && s.charAt(i + 1) == '/') {
          var j = 0
          while (j < m && lower(s.charAt(i + 2 + j)) == name.charAt(j)) j += 1
          if (j == m) return i
        }
        i += 1
      }
      -1
    }

    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (i + 3 < n && s.charAt(i + 1) == '!' && s.charAt(i + 2) == '-' &&
            s.charAt(i + 3) == '-') {
          val j = s.indexOf("-->", i + 4)
          tags += 1
          i = if (j < 0) n else j + 3
        } else if (i + 1 < n && {
          val d = s.charAt(i + 1)
          (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') ||
            d == '/' || d == '!' || d == '?'
        }) {
          // scan the tag token to '>' outside quoted attribute values
          var j = i + 1
          var quote: Char = 0
          while (j < n && (quote != 0 || s.charAt(j) != '>')) {
            val q = s.charAt(j)
            if (quote == 0 && (q == '"' || q == '\'')) quote = q
            else if (q == quote) quote = 0
            j += 1
          }
          tags += 1
          // tag name: letters/digits after the optional '/'
          var p = i + 1
          val closing = p < n && s.charAt(p) == '/'
          if (closing) p += 1
          val nameStart = p
          while (p < n && p <= j && isNameChar(s.charAt(p))) p += 1
          val nameLen = p - nameStart
          val nb = new java.lang.StringBuilder(nameLen)
          var q = nameStart
          while (q < nameStart + nameLen) { nb.append(lower(s.charAt(q))); q += 1 }
          val name = nb.toString
          if (!closing && (name == "script" || name == "style")) {
            val k = closeTagIndex(name, if (j < n) j + 1 else n)
            if (k < 0) i = n
            else {
              val m = s.indexOf('>', k)
              tags += 1
              i = if (m < 0) n else m + 1
            }
            flushBlock() // script/style tags are block-level by convention
          } else {
            if (HtmlBlockTags.contains(name)) flushBlock()
            i = if (j >= n) n else j + 1
          }
        } else {
          appendChar('<')
          i += 1
        }
      } else if (c == '&') {
        var e = i + 1
        val stop = math.min(n, i + 11)
        while (e < stop && s.charAt(e) != ';') e += 1
        if (e < stop && e < n && s.charAt(e) == ';' && e > i + 1) {
          val ent = s.substring(i + 1, e)
          var consumed = true
          ent match {
            case "amp"  => appendChar('&')
            case "lt"   => appendChar('<')
            case "gt"   => appendChar('>')
            case "quot" => appendChar('"')
            case "apos" => appendChar('\'')
            case "nbsp" => appendChar(' ')
            case _ if ent.charAt(0) == '#' =>
              val hex = ent.length > 1 &&
                (ent.charAt(1) == 'x' || ent.charAt(1) == 'X')
              val digits = ent.substring(if (hex) 2 else 1)
              val cp = try {
                if (digits.isEmpty) -1
                else java.lang.Integer.parseInt(digits, if (hex) 16 else 10)
              } catch { case _: NumberFormatException => -1 }
              if (cp > 0 && cp <= 0x10FFFF &&
                  !(cp >= 0xD800 && cp <= 0xDFFF)) appendCodePoint(cp)
              else consumed = false
            case _ => consumed = false
          }
          if (consumed) i = e + 1
          else { appendChar('&'); i += 1 } // unknown entity: '&' literal,
          // the name re-scans as plain text
        } else {
          appendChar('&')
          i += 1
        }
      } else {
        appendChar(c)
        i += 1
      }
    }
    flushBlock()
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(out.toString),
      tags, blocks))
  }

  /** Hyperlink extraction from HTML (see [[HtmlExtractLinks]]). */
  def html_extract_links(html: Column): Column =
    Bridge.column(HtmlExtractLinks(Bridge.expression(html)))

  /** RFC 3986 §5 reference resolution (see [[ResolveUrl]]). */
  def resolve_url(base: Column, ref: Column): Column =
    Bridge.column(ResolveUrl(
      Bridge.expression(base), Bridge.expression(ref)))

  /** Entity decode for ATTRIBUTE values — [[htmlExtract]]'s entity rules
    * (named + numeric dec/hex, invalid/unknown stays literal) without the
    * whitespace collapse (attribute values keep their bytes).
    */
  private def decodeHtmlEntities(s: String): String = {
    val n = s.length
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        var e = i + 1
        val stop = math.min(n, i + 11)
        while (e < stop && s.charAt(e) != ';') e += 1
        if (e < stop && e < n && s.charAt(e) == ';' && e > i + 1) {
          val ent = s.substring(i + 1, e)
          var consumed = true
          ent match {
            case "amp"  => sb.append('&'): Unit
            case "lt"   => sb.append('<'): Unit
            case "gt"   => sb.append('>'): Unit
            case "quot" => sb.append('"'): Unit
            case "apos" => sb.append('\''): Unit
            case "nbsp" => sb.append(' '): Unit
            case _ if ent.charAt(0) == '#' =>
              val hex = ent.length > 1 &&
                (ent.charAt(1) == 'x' || ent.charAt(1) == 'X')
              val digits = ent.substring(if (hex) 2 else 1)
              val cp = try {
                if (digits.isEmpty) -1
                else java.lang.Integer.parseInt(digits, if (hex) 16 else 10)
              } catch { case _: NumberFormatException => -1 }
              if (cp > 0 && cp <= 0x10FFFF &&
                  !(cp >= 0xD800 && cp <= 0xDFFF)) sb.appendCodePoint(cp): Unit
              else consumed = false
            case _ => consumed = false
          }
          if (consumed) i = e + 1 else { sb.append('&'); i += 1 }
        } else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Reference JVM implementation of [[HtmlExtractLinks]]: the
    * [[htmlExtract]] tag grammar (quote-aware token scan, script/style
    * raw-skip, comment skip) applied to harvest `href` attribute values
    * of OPENING `<a>` tags, in document order. Values are entity-decoded
    * (`&amp;` is how a literal `&` ships in conforming HTML attributes)
    * and trimmed of ASCII whitespace (the HTML spec's URL attribute
    * handling); empty hrefs are kept — they resolve to the base. Anchors
    * without an href contribute nothing.
    */
  def htmlExtractLinks(html: org.apache.spark.unsafe.types.UTF8String):
      GenericArrayData = {
    val s = html.toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    @inline def lower(c: Char): Char =
      if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
    @inline def isWsC(c: Char): Boolean = c <= ' '
    def closeTagIndex(name: String, from: Int): Int = {
      val m = name.length
      var i = from
      while (i <= n - m - 2) {
        if (s.charAt(i) == '<' && s.charAt(i + 1) == '/') {
          var j = 0
          while (j < m && lower(s.charAt(i + 2 + j)) == name.charAt(j)) j += 1
          if (j == m) return i
        }
        i += 1
      }
      -1
    }
    // href value from one tag token body s[from, limit): attributes are
    // name[=value] with value quoted or bare, per the HTML syntax
    def hrefIn(from: Int, limit: Int): Option[String] = {
      var p = from
      while (p < limit) {
        while (p < limit && (isWsC(s.charAt(p)) || s.charAt(p) == '/')) p += 1
        if (p >= limit) return None
        val nameStart = p
        while (p < limit && !isWsC(s.charAt(p)) && s.charAt(p) != '=' &&
          s.charAt(p) != '/') p += 1
        val attr = s.substring(nameStart, p)
        while (p < limit && isWsC(s.charAt(p))) p += 1
        var value: String = ""
        if (p < limit && s.charAt(p) == '=') {
          p += 1
          while (p < limit && isWsC(s.charAt(p))) p += 1
          if (p < limit && (s.charAt(p) == '"' || s.charAt(p) == '\'')) {
            val q = s.charAt(p)
            p += 1
            val vs = p
            while (p < limit && s.charAt(p) != q) p += 1
            value = s.substring(vs, p)
            if (p < limit) p += 1
          } else {
            val vs = p
            while (p < limit && !isWsC(s.charAt(p))) p += 1
            value = s.substring(vs, p)
          }
        }
        if (attr.equalsIgnoreCase("href"))
          return Some(decodeHtmlEntities(value).trim)
      }
      None
    }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (i + 3 < n && s.charAt(i + 1) == '!' && s.charAt(i + 2) == '-' &&
            s.charAt(i + 3) == '-') {
          val j = s.indexOf("-->", i + 4)
          i = if (j < 0) n else j + 3
        } else if (i + 1 < n && {
          val d = s.charAt(i + 1)
          (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') ||
            d == '/' || d == '!' || d == '?'
        }) {
          var j = i + 1
          var quote: Char = 0
          while (j < n && (quote != 0 || s.charAt(j) != '>')) {
            val q = s.charAt(j)
            if (quote == 0 && (q == '"' || q == '\'')) quote = q
            else if (q == quote) quote = 0
            j += 1
          }
          var p = i + 1
          val closing = p < n && s.charAt(p) == '/'
          if (closing) p += 1
          val nameStart = p
          while (p < n && p <= j && {
            val q = s.charAt(p)
            (q >= 'a' && q <= 'z') || (q >= 'A' && q <= 'Z') ||
              (q >= '0' && q <= '9')
          }) p += 1
          val nb = new java.lang.StringBuilder(p - nameStart)
          var q = nameStart
          while (q < p) { nb.append(lower(s.charAt(q))); q += 1 }
          val name = nb.toString
          if (!closing && (name == "script" || name == "style")) {
            val k = closeTagIndex(name, if (j < n) j + 1 else n)
            if (k < 0) i = n
            else {
              val m = s.indexOf('>', k)
              i = if (m < 0) n else m + 1
            }
          } else {
            if (!closing && name == "a")
              hrefIn(p, math.min(j, n)).foreach { v =>
                out += org.apache.spark.unsafe.types.UTF8String.fromString(v)
              }
            i = if (j >= n) n else j + 1
          }
        } else i += 1
      } else i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** HTML document metadata (see [[HtmlMetaExpr]]). */
  def html_meta(html: Column): Column =
    Bridge.column(HtmlMetaExpr(Bridge.expression(html)))

  /** Value of attribute `want` (case-insensitive) inside one tag token
    * body s[from, limit): quoted or bare per the HTML syntax. Null when
    * absent.
    */
  private def tagAttrValue(s: String, from: Int, limit: Int,
      want: String): String = {
    @inline def isWsC(c: Char): Boolean = c <= ' '
    var p = from
    while (p < limit) {
      while (p < limit && (isWsC(s.charAt(p)) || s.charAt(p) == '/')) p += 1
      if (p >= limit) return null
      val nameStart = p
      while (p < limit && !isWsC(s.charAt(p)) && s.charAt(p) != '=' &&
        s.charAt(p) != '/') p += 1
      val attr = s.substring(nameStart, p)
      while (p < limit && isWsC(s.charAt(p))) p += 1
      var value: String = ""
      if (p < limit && s.charAt(p) == '=') {
        p += 1
        while (p < limit && isWsC(s.charAt(p))) p += 1
        if (p < limit && (s.charAt(p) == '"' || s.charAt(p) == '\'')) {
          val q = s.charAt(p)
          p += 1
          val vs = p
          while (p < limit && s.charAt(p) != q) p += 1
          value = s.substring(vs, p)
          if (p < limit) p += 1
        } else {
          val vs = p
          while (p < limit && !isWsC(s.charAt(p))) p += 1
          value = s.substring(vs, p)
        }
      }
      if (attr.equalsIgnoreCase(want)) return value
    }
    null
  }

  /** Entity-decode + whitespace-collapse + trim — [[htmlExtract]]'s text
    * rules applied to one string (title content, alt text).
    */
  private def collapseHtmlText(raw: String): String = {
    val d = decodeHtmlEntities(raw)
    val sb = new java.lang.StringBuilder(d.length)
    var pending = false
    var i = 0
    while (i < d.length) {
      val c = d.charAt(i)
      if (c <= ' ') { if (sb.length > 0) pending = true }
      else {
        if (pending) { sb.append(' '); pending = false }
        sb.append(c): Unit
      }
      i += 1
    }
    sb.toString
  }

  /** Reference JVM implementation of [[HtmlMetaExpr]]: the weak-label
    * metadata a crawl keeps alongside the extracted text — the FIRST
    * `<html>` tag's `lang` attribute (entity-decoded, trimmed,
    * lowercased; null when absent or empty) and the FIRST `<title>`'s
    * text (RCDATA: markup inside is literal text, scanned raw to the
    * case-insensitive close; entity-decoded, whitespace-collapsed,
    * trimmed; null when no title element exists). Comments and
    * script/style subtrees are skipped, so decoy titles inside them are
    * never picked. The scan stops as soon as both are found.
    */
  def htmlMeta(html: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.sql.catalyst.InternalRow = {
    val s = html.toString
    val n = s.length
    var title: String = null
    var lang: String = null
    var sawTitle = false
    var sawHtml = false
    @inline def lower(c: Char): Char =
      if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
    def closeTagIndex(name: String, from: Int): Int = {
      val m = name.length
      var i = from
      while (i <= n - m - 2) {
        if (s.charAt(i) == '<' && s.charAt(i + 1) == '/') {
          var j = 0
          while (j < m && lower(s.charAt(i + 2 + j)) == name.charAt(j)) j += 1
          if (j == m) return i
        }
        i += 1
      }
      -1
    }
    var i = 0
    while (i < n && !(sawTitle && sawHtml)) {
      val c = s.charAt(i)
      if (c == '<') {
        if (i + 3 < n && s.charAt(i + 1) == '!' && s.charAt(i + 2) == '-' &&
            s.charAt(i + 3) == '-') {
          val j = s.indexOf("-->", i + 4)
          i = if (j < 0) n else j + 3
        } else if (i + 1 < n && {
          val d = s.charAt(i + 1)
          (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') ||
            d == '/' || d == '!' || d == '?'
        }) {
          var j = i + 1
          var quote: Char = 0
          while (j < n && (quote != 0 || s.charAt(j) != '>')) {
            val q = s.charAt(j)
            if (quote == 0 && (q == '"' || q == '\'')) quote = q
            else if (q == quote) quote = 0
            j += 1
          }
          var p = i + 1
          val closing = p < n && s.charAt(p) == '/'
          if (closing) p += 1
          val nameStart = p
          while (p < n && p <= j && {
            val q = s.charAt(p)
            (q >= 'a' && q <= 'z') || (q >= 'A' && q <= 'Z') ||
              (q >= '0' && q <= '9')
          }) p += 1
          val nb = new java.lang.StringBuilder(p - nameStart)
          var q = nameStart
          while (q < p) { nb.append(lower(s.charAt(q))); q += 1 }
          val name = nb.toString
          if (!closing && (name == "script" || name == "style")) {
            val k = closeTagIndex(name, if (j < n) j + 1 else n)
            if (k < 0) i = n
            else {
              val m = s.indexOf('>', k)
              i = if (m < 0) n else m + 1
            }
          } else if (!closing && name == "html" && !sawHtml) {
            sawHtml = true
            val v = tagAttrValue(s, p, math.min(j, n), "lang")
            if (v != null) {
              val norm = decodeHtmlEntities(v).trim
              if (norm.nonEmpty) {
                val lb = new java.lang.StringBuilder(norm.length)
                var t = 0
                while (t < norm.length) { lb.append(lower(norm.charAt(t))); t += 1 }
                lang = lb.toString
              }
            }
            i = if (j >= n) n else j + 1
          } else if (!closing && name == "title" && !sawTitle) {
            sawTitle = true
            val bodyStart = if (j >= n) n else j + 1
            val k = closeTagIndex("title", bodyStart)
            val content = s.substring(bodyStart, if (k < 0) n else k)
            title = collapseHtmlText(content)
            i = if (k < 0) n
            else { val m = s.indexOf('>', k); if (m < 0) n else m + 1 }
          } else {
            i = if (j >= n) n else j + 1
          }
        } else i += 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      if (title == null)
        null else org.apache.spark.unsafe.types.UTF8String.fromString(title),
      if (lang == null)
        null else org.apache.spark.unsafe.types.UTF8String.fromString(lang)))
  }

  // ---- RFC 3986 reference resolution ----

  /** RFC 3986 appendix-B split: (scheme, authority, path, query,
    * fragment) — null component = absent (distinct from empty).
    */
  private def splitUri(u: String)
      : (String, String, String, String, String) = {
    val m = UriRegex.matcher(u)
    m.matches() // the pattern matches any string
    (m.group(2), m.group(4), m.group(5), m.group(7), m.group(9))
  }

  private val UriRegex = java.util.regex.Pattern.compile(
    "^(([^:/?#]+):)?(//([^/?#]*))?([^?#]*)(\\?([^#]*))?(#(.*))?$")

  /** RFC 3986 §5.2.4 remove_dot_segments. */
  private def removeDotSegments(path: String): String = {
    val out = new java.lang.StringBuilder
    var in = path
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../") || in == "/..") {
        in = if (in == "/..") "/" else "/" + in.substring(4)
        val cut = out.lastIndexOf("/")
        out.setLength(if (cut < 0) 0 else cut)
      } else if (in == "." || in == "..") in = ""
      else {
        val start = if (in.startsWith("/")) 1 else 0
        val next = in.indexOf('/', start)
        val seg = if (next < 0) in else in.substring(0, next)
        out.append(seg): Unit
        in = if (next < 0) "" else in.substring(next)
      }
    }
    out.toString
  }

  /** Reference JVM implementation of [[ResolveUrl]] — RFC 3986 §5.2.2
    * transform references + §5.3 recomposition, the exact algorithm (not
    * a heuristic): absolute refs pass through dot-normalized,
    * scheme-relative take the base scheme, root-relative take the base
    * authority, relative paths merge against the base path (empty base
    * path with authority merges as "/"), empty refs keep the base path
    * AND query, query-only refs keep the base path, and the fragment is
    * always the reference's. Returns null when the base is not an
    * absolute URI (no scheme) — a crawl frontier cannot resolve against
    * a relative base, and null is the loud answer a filter can see.
    */
  def resolveUrl(base: org.apache.spark.unsafe.types.UTF8String,
      ref: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.unsafe.types.UTF8String = {
    val b = splitUri(base.toString)
    if (b._1 == null) return null
    val r = splitUri(ref.toString)
    var (scheme, auth, path, query) = ("", "", "", null: String)
    val frag = r._5
    if (r._1 != null) {
      scheme = r._1; auth = r._2
      path = removeDotSegments(r._3); query = r._4
    } else {
      scheme = b._1
      if (r._2 != null) {
        auth = r._2; path = removeDotSegments(r._3); query = r._4
      } else {
        auth = b._2
        if (r._3.isEmpty) {
          path = b._3
          query = if (r._4 != null) r._4 else b._4
        } else {
          query = r._4
          path = if (r._3.startsWith("/")) removeDotSegments(r._3)
          else {
            val merged =
              if (b._2 != null && b._3.isEmpty) "/" + r._3
              else {
                val cut = b._3.lastIndexOf('/')
                if (cut < 0) r._3 else b._3.substring(0, cut + 1) + r._3
              }
            removeDotSegments(merged)
          }
        }
      }
    }
    val sb = new java.lang.StringBuilder
    sb.append(scheme).append(':')
    if (auth != null) sb.append("//").append(auth)
    sb.append(path)
    if (query != null) sb.append('?').append(query)
    if (frag != null) sb.append('#').append(frag)
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Reference JVM implementation of [[RegexScrub]]: one Matcher pass
    * per pattern, counting matches while building the replacement.
    */
  def regexScrub(text: org.apache.spark.unsafe.types.UTF8String,
      patterns: Array[java.util.regex.Pattern],
      replacements: Array[String]): org.apache.spark.sql.catalyst.InternalRow = {
    var cur = text.toString
    val counts = new Array[Long](patterns.length)
    var p = 0
    while (p < patterns.length) {
      val m = patterns(p).matcher(cur)
      if (m.find()) {
        val sb = new java.lang.StringBuilder
        var c = 0L
        do {
          c += 1
          m.appendReplacement(sb, replacements(p))
        } while (m.find())
        m.appendTail(sb)
        counts(p) = c
        cur = sb.toString
      }
      p += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new GenericArrayData(counts),
      org.apache.spark.unsafe.types.UTF8String.fromString(cur)))
  }

  /** Single-pass repetition counts over raw text (see
    * [[RepetitionStats]]). Output layout (array<long>): [0]=nLines,
    * [1]=dup lines, [2]=chars in duplicated lines, [3]=all line chars,
    * [4]=bigrams, [5]=top bigram count.
    */
  def repetition_stats(text: Column, lineSep: String): Column =
    Bridge.column(RepetitionStats(Bridge.expression(text), lineSep))

  /** Misra-Gries heavy-hitter summary over a string column (see
    * [[MisraGries]]): at most `capacity` (token, est) counters, mergeable
    * with map-side partials; every est is an undercount with error
    * ≤ (N − Σ est)/(capacity+1).
    */
  def misra_gries(token: Column, capacity: Int): Column =
    Bridge.column(MisraGries(Bridge.expression(token), capacity)
      .toAggregateExpression())

  /** Single-pass text statistics over a token array. Output layout
    * (array<long>, see [[TextStats]]): [0]=Σ numChars, [1]=tokens matching
    * ANY stopword list, [2..6]=per-language hits in `langs` order.
    */
  def text_stats(toks: Column, stopwords: Map[String, Seq[String]],
      langs: Seq[String]): Column =
    Bridge.column(TextStats(Bridge.expression(toks), stopwords, langs))

  /** Shared JVM implementation for [[TextStats]]: `maskMap` maps each
    * stopword to the bitmask of the `nLangs` languages listing it (bit i =
    * langs(i)). Null tokens are non-matches, as in the HOF reference.
    */
  def textStatsImpl(arr: ArrayData,
      maskMap: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer],
      nLangs: Int): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](2 + nLangs)
    var j = 0
    while (j < n) {
      val t = arr.getUTF8String(j)
      if (t != null) {
        out(0) += t.numChars()
        val m = maskMap.get(t)
        if (m != null) {
          out(1) += 1
          val mi = m.intValue()
          var b = 0
          while (b < nLangs) {
            if ((mi & (1 << b)) != 0) out(2 + b) += 1
            b += 1
          }
        }
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Deterministic ±1 hyperplane component for (table, plane i, dim j) —
    * splitmix64 avalanche. THE single definition shared by the HOF
    * formulation (Similarity.hyperplaneSig) and the native
    * [[HyperplaneSigs]] kernel; they must stay bit-identical.
    */
  def hyperplaneSign(table: Int, i: Int, j: Int): Double = {
    var z = table * 0x517CC1B727220A95L + i * 0x9E3779B97F4A7C15L + j
    z += 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^= z >>> 31
    if ((z & 1L) == 1L) 1.0 else -1.0
  }

  /** All `tables` hyperplane-LSH signatures of a double vector in one
    * loop (array<long>, element t = table-t signature).
    */
  def hyperplane_sigs(v: Column, dim: Int, bits: Int, tables: Int): Column =
    Bridge.column(HyperplaneSigs(Bridge.expression(v), dim, bits, tables))

  /** Shared JVM implementation for [[HyperplaneSigs]]: `signs` holds
    * [[hyperplaneSign]] laid out [(t·bits + i)·dim + j]; bit i of table t's
    * signature is set when the projection Σ_j v[j]·sign is > 0, j-ascending
    * over the first min(dim, |v|) elements.
    */
  def hyperplaneSigsImpl(arr: ArrayData, signs: Array[Double], dim: Int,
      bits: Int, tables: Int): ArrayData = {
    val n = math.min(dim, arr.numElements())
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var sig = 0L
      var i = 0
      while (i < bits) {
        var proj = 0.0
        val base = (t * bits + i) * dim
        var j = 0
        while (j < n) { proj += arr.getDouble(j) * signs(base + j); j += 1 }
        if (proj > 0) sig |= 1L << i
        i += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Minimum Rabin-Karp rolling hash over all `window`-byte windows of the
    * UTF-8 text (winnowing bottom-1 sketch at character level).
    */
  def rolling_hash_min(text: Column, window: Int): Column =
    Bridge.column(RollingHashMin(Bridge.expression(text), window))

  /** See [[GramHashes]]. */
  def gram_hashes(text: Column, gramLen: Int): Column =
    Bridge.column(GramHashes(Bridge.expression(text), gramLen))

  /** See [[CharNgramBucketCounts]]. */
  def char_ngram_bucket_counts(text: Column, n: Int, buckets: Int): Column =
    Bridge.column(CharNgramBucketCounts(Bridge.expression(text), n, buckets))

  /** See [[NbBucketArgmax]]. */
  def nb_bucket_argmax(text: Column, n: Int, buckets: Int,
      u: Array[Long], prior: Array[Long], base: Array[Long]): Column =
    Bridge.column(NbBucketArgmax(Bridge.expression(text), n, buckets,
      u, prior, base))

  /** The `nprobe` nearest centroids of a double vector by L2 distance,
    * ordered nearest-first (ties → lower index). Centroids are a flattened
    * row-major (k × dim) broadcast array. `normalize = true` fuses the
    * unit-normalization of the INPUT vector into the kernel (same fold
    * order and IEEE ops as `transform(v, x / sqrt(Σx²))` — one codegen'd
    * pass instead of re-evaluating an interpreted norm aggregate at every
    * use of the expression; centroids are expected pre-normalized).
    */
  def nearest_centroids(v: Column, centroids: Array[Double], k: Int, dim: Int,
      nprobe: Int, normalize: Boolean = false): Column =
    Bridge.column(NearestCentroids(Bridge.expression(v), centroids, k, dim,
      nprobe, normalize))

  /** Shared JVM implementation for [[NearestCentroids]] (eval + generated
    * code + tests): full-scan L2 to all k centroids, then selection of the
    * nprobe smallest (k is small — the coarse quantizer, not the corpus).
    */
  def nearestCentroidsImpl(v: ArrayData, cents: Array[Double], k: Int,
      dim: Int, nprobe: Int, normalize: Boolean): ArrayData = {
    val n = math.min(dim, v.numElements())
    // Fused unit-normalization: norm fold over ALL elements in index
    // order (identical to Similarity.norm's aggregate), then the exact
    // `x / nrm` division per coordinate materialized ONCE — the same
    // IEEE ops as `transform(v, x / sqrt(Σx²))`, so results are
    // bit-identical to the unfused formulation (a precomputed reciprocal
    // would round differently), and the k×dim distance loop reads the
    // dim-length normalized copy. Zero-norm vectors pass through
    // un-normalized, matching unit()'s guard.
    var u: Array[Double] = null
    if (normalize) {
      var ss = 0.0
      var j = 0
      val m = v.numElements()
      while (j < m) { val x = v.getDouble(j); ss += x * x; j += 1 }
      val nrm = math.sqrt(ss)
      if (nrm > 0) {
        u = new Array[Double](n)
        j = 0
        while (j < n) { u(j) = v.getDouble(j) / nrm; j += 1 }
      }
    }
    val d2 = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s = 0.0
      val base = c * dim
      var j = 0
      while (j < n) {
        val d = (if (u != null) u(j) else v.getDouble(j)) - cents(base + j)
        s += d * d
        j += 1
      }
      // NaN distances (corrupt vector coordinates) would otherwise lose
      // every `<` comparison and leave the selection with no pick at all —
      // treat them as +inf so assignment degrades deterministically
      // (lowest centroid index) instead of crashing the job.
      d2(c) = if (java.lang.Double.isNaN(s)) Double.PositiveInfinity else s
      c += 1
    }
    val m = math.min(nprobe, k)
    val out = new Array[Int](m)
    val used = new Array[Boolean](k)
    var r = 0
    while (r < m) {
      var bi = -1
      var bd = Double.MaxValue
      var i = 0
      while (i < k) {
        if (!used(i) && (bi == -1 || d2(i) < bd)) { bd = d2(i); bi = i }
        i += 1
      }
      used(bi) = true
      out(r) = bi
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Engine-PORTABLE token hashes (array<string> → array<long>): the
    * oracle-verifiable alternative hash parameter for the hash-generic
    * operators (q26/q40). See [[NativeExpressions.portableHash62]].
    */
  def portable_token_hashes(toks: Column): Column =
    Bridge.column(PortableTokenHashes(Bridge.expression(toks)))

  /** Shared JVM implementation for [[PortableTokenHashes]]: one
    * [[portableHash62]] per token; a null token hashes as the empty string.
    */
  def portableTokenHashesImpl(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      out(i) = portableHash62(
        if (t == null) org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8 else t)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Whitespace tokens of `text` (see [[WhitespaceTokens]]):
    * `filter(split(text, "\\s+"), t -> length(t) > 0)` in one compiled pass.
    */
  def whitespace_tokens(text: Column): Column =
    Bridge.column(WhitespaceTokens(Bridge.expression(text)))

  /** Engine-portable winnowing bottom-1 fingerprint over
    * `window`-codepoint affine-mod-P windows of the text. See
    * [[NativeExpressions.portableRollingMin]].
    */
  def portable_rolling_min(text: Column, window: Int = 32): Column =
    Bridge.column(PortableRollingMin(Bridge.expression(text), window))

  /** Engine-portable 62-bit string hash: two independent affine
    * codepoint folds mod P = 2^31−1, packed as h1·2^31 + h2. Unlike
    * xxhash64 this is exactly mirrorable in portable SQL (DuckDB:
    * `string_split_regex(t,'')` + `unicode` + `list_reduce`) because
    * every intermediate stays below 2^48 — so SimHash voting, shingle
    * winnowing and the pigeonhole block join built on it can be
    * hash-matched against an independent engine. Seeds/multipliers are
    * ~2^20-sized so even 1-character tokens spread over the full 31-bit
    * range of each half; bits 62-63 of the packed value are always 0
    * (votes for them resolve deterministically to clear).
    */
  def portableHash62(t: org.apache.spark.unsafe.types.UTF8String): Long = {
    val P = 2147483647L
    val s = t.toString
    var h1 = 1000003L
    var h2 = 2000003L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h1 = (h1 * 65599L + cp) % P
      h2 = (h2 * 92821L + cp) % P
      i += Character.charCount(cp)
    }
    h1 * 2147483648L + h2
  }

  /** Engine-portable winnowing bottom-1 over shingles of `n` consecutive
    * token hashes: min over windows of fold (acc·31 + (x mod P)) mod P from
    * seed 17 — one tight pass (see [[PortableShingleMin]]). Shorter inputs
    * fold everything into one shingle. Bit-identical to
    * `array_min(Dedup.portableShingles(th, n))`, the interpreted HOF
    * reference (parity spec), and to the DuckDB mirror in q26's oracle.
    */
  def portable_shingle_min(th: Column, n: Int): Column =
    Bridge.column(PortableShingleMin(Bridge.expression(th), n))

  /** The DISTINCT portable shingle hashes as a sorted array — the set
    * form of [[portable_shingle_min]] for operators that need the members
    * (decontamination's semijoin), compiled where the HOF chain
    * `array_distinct(transform(sequence…))` stays interpreted and
    * re-evaluates per element. Set-equal to
    * `array_distinct(Dedup.portableShingles(th, n))` (parity spec);
    * order is ascending, not first-occurrence — downstream consumers are
    * set-shaped (explode/join/count), and the DuckDB mirror compares
    * through `list_distinct` lengths and set joins, never order.
    */
  def portable_distinct_shingles(th: Column, n: Int): Column =
    Bridge.column(PortableDistinctShingles(Bridge.expression(th), n))

  /** The portable shingle hash of the `n` token hashes starting at `from`:
    * fold (acc·31 + pmod(x, P)) mod P from seed 17, P = 2^31 − 1. Inputs
    * reduce with a POSITIVE mod (Java `%` preserves sign), matching the
    * `pmod` of the HOF reference — the operators are generic over the
    * token hash, so negative inputs (xxhash64) must fold identically, not
    * just the non-negative portable family. The one fold behind
    * [[portableShingleMin]], [[portableShinglesImpl]] and
    * [[portableDistinctShingles]]; an input shorter than the shingle size
    * folds whole (`from` = 0, `n` = its length) into one shingle.
    */
  private def portableShingleFold(arr: ArrayData, from: Int, n: Int): Long = {
    var h = 17L
    var j = 0
    while (j < n) {
      val r = arr.getLong(from + j) % Prime
      h = (h * 31L + (if (r < 0) r + Prime else r)) % Prime
      j += 1
    }
    h
  }

  /** Every window's [[portableShingleFold]] in position order (one
    * whole-input fold when shorter than `n`).
    */
  private def portableShingleArray(arr: ArrayData, n: Int): Array[Long] = {
    val len = arr.numElements()
    if (len < n) Array(portableShingleFold(arr, 0, len))
    else {
      val out = new Array[Long](len - n + 1)
      var i = 0
      while (i < out.length) { out(i) = portableShingleFold(arr, i, n); i += 1 }
      out
    }
  }

  /** Shared JVM implementation for [[PortableDistinctShingles]]: one pass
    * to hash every window, then sort + adjacent-dedup. O(k log k) per doc,
    * zero boxing.
    */
  def portableDistinctShingles(arr: ArrayData, n: Int): ArrayData =
    sortedDistinct(portableShingleArray(arr, n))

  /** The portable shingle hashes IN ORDER, non-distinct — the occurrence
    * stream DSIR-style n-gram counting consumes (occurrence counts, so
    * no dedup; order irrelevant downstream but kept positional anyway).
    * Compiled for the same reason as [[portable_distinct_shingles]]: the
    * HOF reference (`Dedup.portableShingles`) re-evaluates its
    * token-hash input per `element_at` when handed an expression tree.
    * Element-equal to the HOF form (parity spec).
    */
  def portable_shingles(th: Column, n: Int): Column =
    Bridge.column(PortableShingles(Bridge.expression(th), n))

  /** Shared JVM implementation for [[PortableShingles]]: one pass, the
    * same window fold as [[portableDistinctShingles]] minus the
    * sort+dedup. O(k·n) per doc, zero boxing.
    */
  def portableShinglesImpl(arr: ArrayData, n: Int): ArrayData =
    new GenericArrayData(portableShingleArray(arr, n))

  /** Shared JVM implementation for [[PortableShingleMin]]: the minimum
    * window fold, with no per-row array.
    */
  def portableShingleMin(arr: ArrayData, n: Int): Long = {
    val len = arr.numElements()
    if (len < n) portableShingleFold(arr, 0, len)
    else {
      var best = Long.MaxValue
      var i = 0
      while (i + n <= len) {
        val h = portableShingleFold(arr, i, n)
        if (h < best) best = h
        i += 1
      }
      best
    }
  }

  /** Engine-portable counterpart of [[rollingHashMin]]: minimum affine-mod-P
    * hash (seed 11, mult 31) over every `window`-CODEPOINT window of the
    * text ([[rollingHashMin]]'s wrapping 2^64 byte arithmetic has no
    * portable SQL form; mod-P codepoint folds do). Texts shorter than
    * `window` hash as one window; empty text → the seed. Recomputing each
    * window (O(n·window), compiled) exactly mirrors the SQL twin — the
    * rolling-update optimization would produce the same residues mod P.
    */
  def portableRollingMin(t: org.apache.spark.unsafe.types.UTF8String,
      window: Int): Long = {
    val P = 2147483647L
    val cps = t.toString.codePoints().toArray
    val n = cps.length
    if (n < window) {
      var h = 11L
      var i = 0
      while (i < n) { h = (h * 31L + cps(i)) % P; i += 1 }
      h
    } else {
      var best = Long.MaxValue
      var i = 0
      while (i + window <= n) {
        var h = 11L
        var j = 0
        while (j < window) { h = (h * 31L + cps(i + j)) % P; j += 1 }
        if (h < best) best = h
        i += 1
      }
      best
    }
  }

  /** Reference JVM implementation of [[WinnowContexts]]: winnowed k-gram
    * fingerprint selection over CODE POINTS (so offsets agree with
    * character-semantics engines), one O(n) pass —
    *
    *   1. rolling polynomial k-gram hash (FNV-prime base, wrapping 2^64);
    *   2. per sliding window of w consecutive k-gram hashes, select the
    *      LEFTMOST minimal hash (unsigned order) via a monotonic deque —
    *      selection is a pure function of window content, which is what
    *      makes the winnowing guarantee hold across documents;
    *   3. for each distinct selected position, emit
    *      (hash, left, mid, right): mid = the k-gram itself, left/right =
    *      up to w−1 code points of surrounding context — exactly enough
    *      to verify "this occurrence sits inside a shared run of
    *      k+w−1 chars" without ever joining full documents.
    *
    * Texts with fewer than k+w−1 code points select nothing (they cannot
    * contain a qualifying run).
    */
  def winnowContexts(text: org.apache.spark.unsafe.types.UTF8String,
      k: Int, w: Int): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    val nh = n - k + 1
    if (nh < w) return new GenericArrayData(Array.empty[Any])
    val B = 0x100000001b3L
    var bk = 1L
    var i = 0
    while (i < k) { bk *= B; i += 1 }
    val hs = new Array[Long](nh)
    var h = 0L
    i = 0
    while (i < n) {
      h = h * B + cps(i)
      if (i >= k) h -= bk * cps(i - k)
      if (i >= k - 1) hs(i - k + 1) = h
      i += 1
    }
    // monotonic deque: pop strictly-greater tails, so the front stays the
    // LEFTMOST minimum of the current window
    val selected = new java.util.LinkedHashSet[Integer]
    val dq = new java.util.ArrayDeque[Integer]
    var j = 0
    while (j < nh) {
      while (!dq.isEmpty &&
        java.lang.Long.compareUnsigned(hs(dq.peekLast), hs(j)) > 0) dq.pollLast()
      dq.addLast(j)
      if (dq.peekFirst <= j - w) dq.pollFirst()
      if (j >= w - 1) selected.add(dq.peekFirst)
      j += 1
    }
    val out = new Array[Any](selected.size)
    val it = selected.iterator()
    var idx = 0
    while (it.hasNext) {
      val p = it.next().intValue()
      val ls = Math.max(0, p - (w - 1))
      val re = Math.min(n, p + k + (w - 1))
      out(idx) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](
          hs(p),
          org.apache.spark.unsafe.types.UTF8String.fromString(
            new String(cps, ls, p - ls)),
          org.apache.spark.unsafe.types.UTF8String.fromString(
            new String(cps, p, k)),
          org.apache.spark.unsafe.types.UTF8String.fromString(
            new String(cps, p + k, re - (p + k)))))
      idx += 1
    }
    new GenericArrayData(out)
  }

  /** Reference JVM implementation of [[GopherStats]]: every integer count
    * the Gopher document-quality pre-filters need, in one narrow pass over
    * the raw text — no token/line array materialization, no per-token
    * regex, no repeated HOF traversals (the expression-combinator
    * formulation ran ~10 interpreted passes per document; quality
    * filtering is the one stage that touches EVERY document of a crawl).
    *
    * Count semantics replicate the combinator formulation exactly:
    * tokens are maximal runs of non-`\s` chars (Java regex `\s` =
    * space/tab/LF/VT/FF/CR); token lengths count code points; alpha =
    * contains ASCII [A-Za-z]; a stop word is counted once if ANY token
    * lowercases (per code point) to it; symbols = '#' chars + greedy
    * non-overlapping "..." occurrences; lines split on `lineSep`, are
    * trimmed of spaces only, count when non-empty; bullet lines start
    * with '-' or '*'; ellipsis lines end in "...".
    *
    * Output (array<long>): [nWords, sumTokenLen, nAlphaWords, stopHits,
    * nSymbols, nLines, nBulletLines, nEllipsisLines].
    */
  def gopherStats(text: org.apache.spark.unsafe.types.UTF8String,
      stopWords: Array[String], lineSep: Char): ArrayData = {
    val s = text.toString
    val n = s.length
    var nw = 0L; var sumLen = 0L; var nAlpha = 0L
    var nHash = 0L; var nEllOcc = 0L
    var nl = 0L; var nBul = 0L; var nEllLine = 0L
    val found = new Array[Boolean](stopWords.length)
    @inline def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    // pass 1: tokens
    var i = 0
    while (i < n) {
      if (isWs(s.charAt(i))) i += 1
      else {
        val start = i
        var cpLen = 0L
        var hasAlpha = false
        while (i < n && !isWs(s.charAt(i))) {
          val c = s.charAt(i)
          if (!Character.isLowSurrogate(c)) cpLen += 1
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) hasAlpha = true
          i += 1
        }
        nw += 1; sumLen += cpLen
        if (hasAlpha) nAlpha += 1
        var w = 0
        while (w < stopWords.length) {
          if (!found(w) && cpLen == stopWords(w).length) {
            // compare lowercased code points to the (ASCII) stop word
            var p = start; var q = 0; var ok = true
            while (ok && p < i) {
              val cp = s.codePointAt(p)
              if (Character.toLowerCase(cp) != stopWords(w).charAt(q)) ok = false
              p += Character.charCount(cp); q += 1
            }
            if (ok && q == stopWords(w).length) found(w) = true
          }
          w += 1
        }
      }
    }
    // pass 2: symbols ('#' anywhere; greedy left-to-right "..." like replace())
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '#') { nHash += 1; i += 1 }
      else if (c == '.' && i + 2 < n && s.charAt(i + 1) == '.' &&
        s.charAt(i + 2) == '.') { nEllOcc += 1; i += 3 }
      else i += 1
    }
    // pass 3: lines (split on lineSep, trim spaces, drop empties)
    var lineStart = 0
    var pos = 0
    while (pos <= n) {
      if (pos == n || s.charAt(pos) == lineSep) {
        var ts = lineStart
        var te = pos
        while (ts < te && s.charAt(ts) == ' ') ts += 1
        while (te > ts && s.charAt(te - 1) == ' ') te -= 1
        if (te > ts) {
          nl += 1
          val first = s.charAt(ts)
          if (first == '-' || first == '*') nBul += 1
          if (te - ts >= 3 && s.charAt(te - 1) == '.' &&
            s.charAt(te - 2) == '.' && s.charAt(te - 3) == '.') nEllLine += 1
        }
        lineStart = pos + 1
      }
      pos += 1
    }
    var stopHits = 0L
    var w = 0
    while (w < found.length) { if (found(w)) stopHits += 1; w += 1 }
    new GenericArrayData(Array[Long](nw, sumLen, nAlpha, stopHits,
      nHash + nEllOcc, nl, nBul, nEllLine))
  }

  /** Reference JVM implementation of [[RepetitionStats]]: the Gopher/C4
    * repetition counts in one narrow pass with hash maps — no line/bigram
    * array materialization, no per-document sort. The sort-adjacency
    * formulation this replaces is order-independent in its OUTPUTS
    * (duplicate-line chars = all occurrences of any line value seen ≥2×;
    * top bigram run over sorted bigrams = max bigram frequency), so a
    * count map computes identical numbers in O(L).
    *
    * Semantics: lines split on `lineSep`, kept when non-empty (no trim);
    * lengths count code points; tokens are maximal non-`\s` runs; a
    * bigram is two consecutive tokens joined with one space.
    *
    * Output (array<long>): [nLines, dupLines, dupChars, allChars,
    * nBigrams, topBigramCount].
    */
  def repetitionStats(text: org.apache.spark.unsafe.types.UTF8String,
      lineSep: Char): ArrayData = {
    val s = text.toString
    val n = s.length
    // lines
    var nLines = 0L
    var allChars = 0L
    val lineMap = new java.util.HashMap[String, Array[Long]]
    var lineStart = 0
    var pos = 0
    while (pos <= n) {
      if (pos == n || s.charAt(pos) == lineSep) {
        if (pos > lineStart) {
          val line = s.substring(lineStart, pos)
          val cp = line.codePointCount(0, line.length).toLong
          nLines += 1
          allChars += cp
          val e = lineMap.get(line)
          if (e == null) lineMap.put(line, Array(1L, cp)) else e(0) += 1L
        }
        lineStart = pos + 1
      }
      pos += 1
    }
    var dupLines = nLines - lineMap.size
    var dupChars = 0L
    val lit = lineMap.values().iterator()
    while (lit.hasNext) {
      val e = lit.next()
      if (e(0) >= 2L) dupChars += e(0) * e(1)
    }
    // tokens → bigram counts
    @inline def isWs(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    val bigramMap = new java.util.HashMap[String, Array[Long]]
    var prev: String = null
    var nBigrams = 0L
    var i = 0
    while (i < n) {
      if (isWs(s.charAt(i))) i += 1
      else {
        val start = i
        while (i < n && !isWs(s.charAt(i))) i += 1
        val tok = s.substring(start, i)
        if (prev != null) {
          val key = prev + " " + tok
          nBigrams += 1
          val e = bigramMap.get(key)
          if (e == null) bigramMap.put(key, Array(1L)) else e(0) += 1L
        }
        prev = tok
      }
    }
    var topBigram = 0L
    val bit = bigramMap.values().iterator()
    while (bit.hasNext) {
      val c = bit.next()(0)
      if (c > topBigram) topBigram = c
    }
    new GenericArrayData(Array[Long](nLines, dupLines, dupChars, allChars,
      nBigrams, topBigram))
  }

  /** Reference JVM implementation of [[RunExtends]]: do two winnow
    * selections (l, m, r) witness a shared run of ≥ |m| + need code
    * points? True iff the k-grams match exactly and the common SUFFIX of
    * the left contexts plus the common PREFIX of the right contexts
    * reaches `need` code points. One short char scan, zero allocations —
    * this predicate runs once per matched occurrence pair, which is the
    * hot row count of [[graft.scale.Dedup.commonRunPairs]].
    *
    * Code points are counted the way the contexts were cut (a surrogate
    * pair is one code point): matching char positions are counted, then
    * low-surrogate continuation chars are discounted.
    */
  def runExtends(a: org.apache.spark.sql.catalyst.InternalRow,
      b: org.apache.spark.sql.catalyst.InternalRow, need: Int): Boolean = {
    if (!a.getUTF8String(1).equals(b.getUTF8String(1))) return false
    if (need <= 0) return true
    val la = a.getUTF8String(0).toString
    val lb = b.getUTF8String(0).toString
    val ra = a.getUTF8String(2).toString
    val rb = b.getUTF8String(2).toString
    var ext = 0
    var i = la.length - 1
    var j = lb.length - 1
    while (i >= 0 && j >= 0 && la.charAt(i) == lb.charAt(j)) {
      if (!Character.isLowSurrogate(la.charAt(i))) ext += 1
      i -= 1; j -= 1
    }
    i = 0
    val n = Math.min(ra.length, rb.length)
    while (i < n && ra.charAt(i) == rb.charAt(i)) {
      if (!Character.isHighSurrogate(ra.charAt(i))) ext += 1
      i += 1
    }
    ext >= need
  }

  /** Reference JVM implementation of [[RollingHashMin]] — used by eval,
    * codegen (via static call) and tests alike, so all paths are one code
    * path. Polynomial hash base FNV-prime, wrapping 2^64 arithmetic,
    * unsigned min. Texts shorter than `window` hash as one window.
    */
  def rollingHashMin(bytes: Array[Byte], window: Int): Long = {
    val B = 0x100000001b3L
    var bw = 1L // B^window
    var i = 0
    while (i < window) { bw *= B; i += 1 }
    val n = bytes.length
    var h = 0L
    var best = -1L // unsigned max
    i = 0
    while (i < n) {
      h = h * B + (bytes(i) & 0xff)
      if (i >= window) h -= bw * (bytes(i - window) & 0xff)
      if (i >= window - 1 && java.lang.Long.compareUnsigned(h, best) < 0) best = h
      i += 1
    }
    if (n == 0) 0L
    else if (n < window) h
    else best
  }
}

/** The MinHash kernels' shared body (see [[NativeExpressions.minhashImpl]]);
  * `reduce` selects the positive-mod pre-reduction of each element.
  * Serializable so that tasks can deserialize the `reduce` field (a case
  * class is Serializable, but its abstract parent is not by default).
  */
sealed abstract class MinHashKernel(reduce: Boolean) extends UnaryExpression
    with Serializable {
  def numPerm: Int

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val (pa, pb) = NativeExpressions.minhashPerms(numPerm)

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.minhashImpl(input.asInstanceOf[ArrayData], pa, pb, reduce)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val paRef = ctx.addReferenceObj("pa", pa, "long[]")
    val pbRef = ctx.addReferenceObj("pb", pb, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.minhashImpl($c, $paRef, $pbRef, $reduce);""")
  }
}

/** minhash over pre-hashed shingles (values in [0, Prime)): for each perm i,
  * min_x((a_i·x + b_i) mod Prime). Null input → null; an empty array leaves
  * every permutation's minimum at its Long.MaxValue initializer (an
  * out-of-band "no shingle" sentinel — every real hash is < Prime <
  * Long.MaxValue). The case is unreachable in practice: hashedShingles
  * emits a 1-element array even for docs shorter than the shingle size.
  */
case class MinHashSignature(child: Expression, numPerm: Int)
    extends MinHashKernel(reduce = false) {
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[MinHashSignature]] over RAW 64-bit shingle hashes: each element is
  * first reduced to [0, Prime) with the positive mod (`pmod` semantics —
  * Java `%` preserves sign), then folded through the same perm family.
  * Bit-identical to `MinHashSignature(transform(sh, x -> pmod(x, Prime)))`
  * without the interpreted transform pre-pass (HOFs are CodegenFallback
  * and allocated one boxed array per row in the hottest kernel of the
  * minhash family — NativeExpressionsSpec pins the parity).
  */
case class MinHashSignatureMod(child: Expression, numPerm: Int)
    extends MinHashKernel(reduce = true) {
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused whitespace-token shingle-set kernel (see
  * [[NativeExpressions.xxhashShingleSetImpl]]).
  */
case class XxhashShingleSet(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.xxhashShingleSetImpl(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.xxhashShingleSetImpl($c, $n);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One pass over a token array computing every statistic the text-quality
  * and language-ID operators need: total character count, tokens matching
  * ANY stopword list, and per-language stopword hits. The HOF formulation
  * walks the array once per statistic (3 quality ratios + 5 language
  * filters = 8 interpreted passes, each re-evaluating a 10-26-literal
  * `isin` per token); here each token does ONE hash-map probe against a
  * language-bitmask table, inside whole-stage codegen.
  *
  * Output array<long>: [0] Σ numChars, [1] any-list hits, [2..] hits per
  * language in `langs` order. Null input → null.
  */
case class TextStats(child: Expression, stopwords: Map[String, Seq[String]],
    langs: Seq[String]) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  /** word → bitmask of languages containing it (bit i = langs(i)). */
  @transient private lazy val maskMap: java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer] = {
    val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Integer]()
    langs.zipWithIndex.foreach { case (l, i) =>
      stopwords(l).foreach { w =>
        val k = org.apache.spark.unsafe.types.UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << i)))
      }
    }
    m
  }

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.textStatsImpl(input.asInstanceOf[ArrayData], maskMap,
      langs.length)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mapRef = ctx.addReferenceObj("maskMap", maskMap, "java.util.HashMap")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.textStatsImpl($c, $mapRef, ${langs.length});""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All multi-table hyperplane-LSH signatures of one vector in a single
  * fused loop. The expression-combinator formulation unrolls
  * tables×bits×dim multiply-adds into one mega-expression (≈6k terms for
  * 16×6×64), which janino recompiles per enclosing codegen stage —
  * SECONDS of compile time per join stage that embeds it. Here the signs
  * live in one broadcast double[] and the generated code is one call to
  * [[NativeExpressions.hyperplaneSigsImpl]]. Bit-identical to per-table
  * Similarity.hyperplaneSig (shared sign function, same > 0 test, same
  * bit packing); element t of the output = table-t signature.
  */
case class HyperplaneSigs(child: Expression, dim: Int, bits: Int, tables: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  // signs laid out [(t*bits + i)*dim + j]
  @transient private lazy val signs: Array[Double] = {
    val a = new Array[Double](tables * bits * dim)
    var t = 0
    while (t < tables) {
      var i = 0
      while (i < bits) {
        var j = 0
        while (j < dim) {
          a((t * bits + i) * dim + j) = NativeExpressions.hyperplaneSign(t, i, j)
          j += 1
        }
        i += 1
      }
      t += 1
    }
    a
  }

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.hyperplaneSigsImpl(input.asInstanceOf[ArrayData], signs,
      dim, bits, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("signs", signs, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.hyperplaneSigsImpl($c, $signsRef, $dim, $bits, $tables);""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** IVF coarse-quantizer probe: indices of the `nprobe` nearest of `k`
  * centroids (flattened row-major broadcast array), nearest-first. One
  * tight k×dim loop via the shared static implementation — tiny generated
  * code, no unrolled expression tree.
  */
case class NearestCentroids(child: Expression, centroids: Array[Double],
    k: Int, dim: Int, nprobe: Int, normalize: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.nearestCentroidsImpl(
      input.asInstanceOf[ArrayData], centroids, k, dim, nprobe, normalize)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", centroids, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.nearestCentroidsImpl(
            $c, $centsRef, $k, $dim, $nprobe, $normalize);""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-position rolling gram hashes — the pass-1 kernel of
  * [[graft.scale.Dedup.exactDuplicateSpans]]: one 64-bit wrapping
  * polynomial hash per length-`gramLen` CODE-POINT window of the text,
  * emitted as array<long> (length numCodePoints − gramLen + 1; empty for
  * shorter texts). Replaces `xxhash64(substring(text, s, L))` per
  * position, which allocates an L-char string and re-reads L chars per
  * position — O(n·L) with an allocation per gram vs this kernel's O(n)
  * single pass (measured 7.5 s → the scan floor on q218's hash pass at
  * sf0.1).
  *
  * Contract: equal substrings ⇒ equal hashes (all the caller needs — the
  * hash is a PREFILTER; exactness comes from the string-verify pass, so
  * polynomial collisions cost a phantom candidate, never a wrong
  * answer). Positions index CODE POINTS, matching Spark's `substring`
  * and DuckDB's `substr`, so a position emitted here addresses the same
  * gram the verify pass re-extracts — surrogate pairs count once.
  */
case class GramHashes(child: Expression, gramLen: Int)
    extends UnaryExpression {
  require(gramLen > 0, s"gramLen must be positive: $gramLen")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  /** Public for codegen. */
  def hashArr(input: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val str = input.toString
    val len = str.length
    // code points, one pass (ASCII fast path: charCount == 1)
    var n = 0
    var off = 0
    while (off < len) { off += Character.charCount(str.codePointAt(off)); n += 1 }
    if (n < gramLen) return new GenericArrayData(Array.empty[Any])
    val cps = new Array[Int](n)
    off = 0; var i = 0
    while (off < len) {
      val cp = str.codePointAt(off)
      cps(i) = cp; i += 1; off += Character.charCount(cp)
    }
    val B = 1000003L
    var pow = 1L
    var j = 0
    while (j < gramLen - 1) { pow *= B; j += 1 }
    val out = new Array[Any](n - gramLen + 1)
    var h = 0L
    j = 0
    while (j < gramLen) { h = h * B + cps(j); j += 1 }
    out(0) = h
    var p = 1
    while (p <= n - gramLen) {
      h = (h - cps(p - 1) * pow) * B + cps(p + gramLen - 1)
      out(p) = h
      p += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    hashArr(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("gramHashes", this, classOf[GramHashes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.hashArr($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused hashed char-n-gram bucket COUNTS — the evidence kernel of the
  * trained lang-ID family ([[graft.scale.Classify.charNgramBuckets]]
  * collapsed with the downstream `groupBy(term).count()`): text →
  * map<bucket, count> over every length-`n` CODE-POINT window, where
  * bucket = [[NativeExpressions.portableHash62]](gram) mod `buckets`.
  * Texts shorter than `n` (including empty) contribute their whole text
  * as ONE gram — the same ≥1-term-per-doc convention as
  * [[graft.scale.Classify.charNgramBuckets]], whose
  * explode-then-aggregate output this map is value-identical to
  * (ClassifySpec pins the parity).
  *
  * Why a kernel: the HOF chain materializes THREE per-doc arrays
  * (sequence indices, substring grams, hashed buckets), allocates a
  * java.lang.String per gram inside [[PortableTokenHashes]], and then
  * pays one exploded Spark row + hash-aggregate update PER GRAM. This
  * kernel is one codepoint pass with zero per-gram allocation (grams are
  * hashed from a reusable codepoint array) and emits at most
  * min(numGrams, buckets) map entries, so the downstream explode is over
  * distinct buckets (≤ 4096), not corpus characters. Keys ascend, so the
  * output is deterministic.
  */
case class CharNgramBucketCounts(child: Expression, n: Int, buckets: Int)
    extends UnaryExpression {
  require(n > 0, s"n must be positive: $n")
  require(buckets > 0 && buckets <= (1 << 22),
    s"buckets must be in [1, 2^22]: $buckets")

  override def dataType: DataType =
    MapType(LongType, LongType, valueContainsNull = false)
  override def nullable: Boolean = child.nullable

  /** Public for codegen. */
  def countsMap(
      input: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.sql.catalyst.util.MapData = {
    val str = input.toString
    val len = str.length
    // code points, one pass (ASCII fast path: charCount == 1)
    var m = 0
    var off = 0
    while (off < len) { off += Character.charCount(str.codePointAt(off)); m += 1 }
    val cps = new Array[Int](m)
    off = 0; var i = 0
    while (off < len) {
      val cp = str.codePointAt(off)
      cps(i) = cp; i += 1; off += Character.charCount(cp)
    }
    val P = 2147483647L
    val B = buckets.toLong
    val counts = new Array[Long](buckets)
    var nonZero = 0
    @inline def addGram(from: Int, until: Int): Unit = {
      var h1 = 1000003L
      var h2 = 2000003L
      var k = from
      while (k < until) {
        val cp = cps(k)
        h1 = (h1 * 65599L + cp) % P
        h2 = (h2 * 92821L + cp) % P
        k += 1
      }
      val b = ((h1 * 2147483648L + h2) % B).toInt
      if (counts(b) == 0L) nonZero += 1
      counts(b) += 1L
    }
    if (m >= n) {
      var j = 0
      while (j + n <= m) { addGram(j, j + n); j += 1 }
    } else addGram(0, m) // whole (possibly empty) text as one gram
    val keys = new Array[Any](nonZero)
    val vals = new Array[Any](nonZero)
    var b = 0; var o = 0
    while (b < buckets && o < nonZero) {
      if (counts(b) != 0L) { keys(o) = b.toLong; vals(o) = counts(b); o += 1 }
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new GenericArrayData(keys), new GenericArrayData(vals))
  }

  override def nullSafeEval(input: Any): Any =
    countsMap(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charNgramBucketCounts", this,
      classOf[CharNgramBucketCounts].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.countsMap($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Whole multinomial-NB lang-ID SCORING fused into one codegen fold over
  * a broadcast integer model — the q78 broadcast-weight pattern applied
  * to [[graft.scale.Classify]]'s char-n-gram classifier. The model is
  * bounded at |labels| × `buckets` int64 micro-units BY CONTRACT (hashed
  * n-gram buckets — the property that makes the trained profile
  * shippable at 100 TB), so it rides the expression as flat arrays:
  * `u` (labels × buckets, row-major), `prior`, `base` (one per label,
  * label-ascending).
  *
  * Per row: one codepoint pass counts hashed n-gram buckets (exactly
  * [[CharNgramBucketCounts]]' evidence — whole short/empty text as one
  * gram), then score_l = prior_l + Σ_b tc_b·u[l][b] − ntok·base_l over
  * the touched buckets only, argmax with ties to the LOWEST index
  * (= label-ascending when the arrays are label-sorted — the
  * `(score desc, cls)` window this replaces). All arithmetic is int64 —
  * order-insensitive, so the fold is value-identical to the SQL
  * formulation's shuffled aggregation. Returns the winning label INDEX.
  *
  * Replaces, per scored row: a term explode, a broadcast model join, a
  * |labels|× cross-join expansion through a hash aggregate, and a
  * per-doc row_number window — measured 11.7 → 7.1 s (q225) even after
  * the count-kernel move; this removes the remaining scoring machinery.
  */
case class NbBucketArgmax(child: Expression, n: Int, buckets: Int,
    u: Array[Long], prior: Array[Long], base: Array[Long])
    extends UnaryExpression {
  require(n > 0, s"n must be positive: $n")
  require(buckets > 0 && buckets <= (1 << 22),
    s"buckets must be in [1, 2^22]: $buckets")
  require(prior.length > 0 && prior.length == base.length &&
    u.length == prior.length.toLong * buckets,
    s"model arity mismatch: |u|=${u.length} |prior|=${prior.length} " +
      s"|base|=${base.length} buckets=$buckets")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  /** Public for codegen. */
  def argmax(input: org.apache.spark.unsafe.types.UTF8String): Int = {
    val str = input.toString
    val len = str.length
    var m = 0
    var off = 0
    while (off < len) { off += Character.charCount(str.codePointAt(off)); m += 1 }
    val cps = new Array[Int](m)
    off = 0; var i = 0
    while (off < len) {
      val cp = str.codePointAt(off)
      cps(i) = cp; i += 1; off += Character.charCount(cp)
    }
    val P = 2147483647L
    val B = buckets.toLong
    val counts = new Array[Long](buckets)
    val touched = new Array[Int](if (m >= n) m - n + 1 else 1)
    var nTouched = 0
    var ntok = 0L
    @inline def addGram(from: Int, until: Int): Unit = {
      var h1 = 1000003L
      var h2 = 2000003L
      var k = from
      while (k < until) {
        val cp = cps(k)
        h1 = (h1 * 65599L + cp) % P
        h2 = (h2 * 92821L + cp) % P
        k += 1
      }
      val b = ((h1 * 2147483648L + h2) % B).toInt
      if (counts(b) == 0L) { touched(nTouched) = b; nTouched += 1 }
      counts(b) += 1L
      ntok += 1L
    }
    if (m >= n) {
      var j = 0
      while (j + n <= m) { addGram(j, j + n); j += 1 }
    } else addGram(0, m)
    val L = prior.length
    var best = 0
    var bestScore = Long.MinValue
    var l = 0
    while (l < L) {
      var s = prior(l) - ntok * base(l)
      val rowOff = l * buckets
      var ti = 0
      while (ti < nTouched) {
        val b = touched(ti)
        s += counts(b) * u(rowOff + b)
        ti += 1
      }
      if (s > bestScore) { bestScore = s; best = l }
      l += 1
    }
    best
  }

  override def nullSafeEval(input: Any): Any =
    argmax(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nbBucketArgmax", this,
      classOf[NbBucketArgmax].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.argmax($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing-style rolling-hash fingerprint (SURVEY scale layer: document
  * fingerprinting, rolling hash): the unsigned-minimum Rabin-Karp hash
  * over every `window`-byte window of the UTF-8 text. Equal fingerprints
  * mark documents sharing their rarest window — a cheap pre-cluster key
  * that, unlike the shingle fingerprint, is insensitive to tokenization
  * and catches byte-level near-dups. One pass, O(1) state, codegen'd.
  */
case class RollingHashMin(child: Expression, window: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.rollingHashMin(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes, window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.rollingHashMin($c.getBytes(), $window);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** |A ∩ B| of two SORTED-ascending array<long> columns by a single
  * allocation-free merge pass — the verify kernel for exact-Jaccard pair
  * joins ([[graft.scale.Dedup.ngramJaccardPairs]]), where the generic
  * array_intersect/array_union pair builds a hash set per invocation and
  * dominated the candidate-verify profile. Duplicate elements are counted
  * once per matching run (inputs here are array_distinct'ed, so runs have
  * length 1); |A ∪ B| then follows driver-side as |A| + |B| − overlap with
  * no second kernel. Both inputs MUST be sorted ascending — the caller's
  * sort_array is part of the shingle kernel already.
  */
case class SortedLongOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(l: Any, r: Any): Any =
    NativeExpressions.sortedLongOverlapImpl(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.NativeExpressions.sortedLongOverlapImpl($a, $b);""")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity over two numeric arrays (float or double
  * elements), computed in double with the same left-to-right accumulation
  * order as the aggregate/zip_with formulation. Either input null → null;
  * zero-norm → 0.0 (matching Similarity.cosine's guard).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  @transient private lazy val leftFloat = isFloat(left)
  @transient private lazy val rightFloat = isFloat(right)

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(l: Any, r: Any): Any =
    NativeExpressions.cosineImpl(l.asInstanceOf[ArrayData],
      r.asInstanceOf[ArrayData], leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.NativeExpressions.cosineImpl($a, $b, $leftFloat, $rightFloat);""")

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** The maximal runs of non-whitespace characters of a string, in order —
  * exactly `filter(split(text, "\\s+"), t -> length(t) > 0)`, whose
  * regex `\s` is Java's [ \t\n\x0B\f\r]. Those are all ASCII, and no
  * byte of a multi-byte UTF-8 sequence is ASCII, so the split runs on the
  * bytes. The higher-order `filter` is interpreted and cuts whole-stage
  * codegen at every operator that consumes it; this does neither.
  */
case class WhitespaceTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    WhitespaceTokens.split(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.WhitespaceTokens.split($c);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WhitespaceTokens {
  private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r')

  def split(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef]
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start)
        out += org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes, start, i - start)
    }
    new GenericArrayData(out.toArray)
  }
}

/** Engine-portable per-token hashes (see
  * [[NativeExpressions.portableHash62]]): array<string> → array<long>,
  * one tight codepoint loop per token inside whole-stage codegen. Null
  * tokens hash as the empty string (the HOF/SQL twins never see nulls —
  * tokenization filters them).
  */
case class PortableTokenHashes(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.portableTokenHashesImpl(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.portableTokenHashesImpl($c);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Engine-portable shingle fingerprint (see
  * [[NativeExpressions.portableShingleMin]]).
  */
case class PortableShingleMin(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.portableShingleMin(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.portableShingleMin($c, $n);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct portable shingle hashes, sorted (see
  * [[NativeExpressions.portableDistinctShingles]]).
  */
case class PortableDistinctShingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.portableDistinctShingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.portableDistinctShingles($c, $n);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Portable shingle hashes in order, non-distinct (see
  * [[NativeExpressions.portableShinglesImpl]]).
  */
case class PortableShingles(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.portableShinglesImpl(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.portableShinglesImpl($c, $n);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared-run witness check over two winnow-selection context structs
  * (see [[NativeExpressions.runExtends]]).
  */
case class RunExtends(left: Expression, right: Expression, need: Int)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(a: Any, b: Any): Any =
    NativeExpressions.runExtends(
      a.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow],
      b.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow], need)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.NativeExpressions.runExtends($a, $b, $need);""")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Single-pass C4 line-filter counts and cleaned text (see
  * [[NativeExpressions.c4LineStats]]).
  */
case class C4LineStats(child: Expression, lineSep: String, joinSep: String,
    minWords: Int) extends UnaryExpression {

  private val sep: Char = NativeExpressions.sepChar(lineSep)

  override def dataType: DataType = StructType(Seq(
    StructField("counts", ArrayType(LongType, containsNull = false)),
    StructField("cleaned", StringType)))
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.c4LineStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      sep, joinSep, minWords)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val js = ctx.addReferenceObj("joinSep", joinSep, "java.lang.String")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.c4LineStats($c, (char) ${sep.toInt}, $js, $minWords);""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Chained regex scrub with per-pattern match counts (see
  * [[NativeExpressions.regexScrub]]): patterns are applied IN ORDER,
  * each counting and replacing on the output of the previous one — the
  * chained-precedence contract of PII redaction (a phone-like fragment
  * inside an email is claimed once, by the first pattern) — in one
  * java.util.regex pass per pattern instead of separate count and
  * replace expression passes. Same engine (java.util.regex), same
  * patterns, same non-overlapping find semantics as
  * `regexp_count`/`regexp_replace`, so results are bit-identical.
  *
  * Output: struct(counts array<long> — one per pattern, redacted
  * string).
  */
case class RegexScrub(child: Expression,
    patterns: Seq[(String, String)]) extends UnaryExpression {

  require(patterns.nonEmpty, "no patterns")

  override def dataType: DataType = StructType(Seq(
    StructField("counts", ArrayType(LongType, containsNull = false)),
    StructField("redacted", StringType)))
  override def nullable: Boolean = child.nullable

  @transient private lazy val compiled: Array[java.util.regex.Pattern] =
    patterns.map(p => java.util.regex.Pattern.compile(p._1)).toArray
  @transient private lazy val replacements: Array[String] =
    patterns.map(_._2).toArray

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.regexScrub(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      compiled, replacements)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pats = ctx.addReferenceObj("patterns", compiled,
      "java.util.regex.Pattern[]")
    val reps = ctx.addReferenceObj("replacements", replacements,
      "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.regexScrub($c, $pats, $reps);""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass ASCII text normalization (see
  * [[NativeExpressions.normalizeAscii]]): collapse whitespace runs,
  * trim, lowercase A-Z. One buffer, no regex machinery — the cleanup
  * kernel a curation pipeline runs over every document before
  * fingerprinting, so it must stay inside whole-stage codegen.
  */
case class NormalizeAsciiText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.normalizeAscii(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.normalizeAscii($c);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass HTML → text extraction (see
  * [[NativeExpressions.htmlExtract]]): strip tags (quote-aware), drop
  * script/style/comment subtrees, decode the standard entities, segment
  * into blocks at block-level tags — the trafilatura-role kernel in front
  * of a crawl-curation pipeline, kept inside whole-stage codegen so the
  * first pipeline stage costs one buffer pass like every other kernel
  * here. Output: struct(text, tags_dropped, blocks_kept).
  */
case class HtmlExtractText(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("text", StringType),
    StructField("tags_dropped", LongType, nullable = false),
    StructField("blocks_kept", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.htmlExtract(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.htmlExtract($c);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hyperlink harvest from HTML (see
  * [[NativeExpressions.htmlExtractLinks]]): the href values of opening
  * `<a>` tags in document order — quote-aware tag scan, script/style and
  * comment subtrees skipped, attribute values entity-decoded and trimmed.
  * The crawl-frontier half of the [[HtmlExtractText]] stage; same single
  * buffer pass, same codegen residence. Output: array<string>.
  */
case class HtmlExtractLinks(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.htmlExtractLinks(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.htmlExtractLinks($c);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** HTML document metadata (see [[NativeExpressions.htmlMeta]]): the
  * first `<html>` tag's lang attribute and the first `<title>`'s text —
  * the weak labels a crawl pipeline keeps next to the extracted body
  * (the lang attr seeds/validates the q219 trained classifier; the
  * title feeds quality heuristics). One pass, early exit, decoys inside
  * comments/script/style never picked. Output:
  * struct(title, html_lang), either null when absent.
  */
case class HtmlMetaExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("title", StringType),
    StructField("html_lang", StringType)))
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.htmlMeta(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.htmlMeta($c);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** RFC 3986 §5 reference resolution (see
  * [[NativeExpressions.resolveUrl]]): resolve `right` (a reference —
  * absolute, scheme-relative, root-relative, relative, query-only,
  * fragment-only, or empty) against `left` (an absolute base URI).
  * Null when the base has no scheme. HtmlLinksSpec pins the algorithm
  * against `java.net.URI.resolve` and the RFC's own §5.4 example set.
  */
case class ResolveUrl(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any =
    NativeExpressions.resolveUrl(
      l.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      r.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.functions.NativeExpressions.resolveUrl($a, $b);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Single-pass repetition counts (see
  * [[NativeExpressions.repetitionStats]]).
  */
case class RepetitionStats(child: Expression, lineSep: String)
    extends UnaryExpression {

  private val sep: Char = NativeExpressions.sepChar(lineSep)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.repetitionStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], sep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.repetitionStats($c, (char) ${sep.toInt});""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Single-pass Gopher quality-filter counts (see
  * [[NativeExpressions.gopherStats]]).
  */
case class GopherStats(child: Expression, stopWords: Seq[String],
    lineSep: String) extends UnaryExpression {

  private val sep: Char = NativeExpressions.sepChar(lineSep)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val stopArr: Array[String] = stopWords.toArray

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.gopherStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String],
      stopArr, sep)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopWords", stopArr, "java.lang.String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.gopherStats($c, $ref, (char) ${sep.toInt});""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The Gopher quality-gate bounds over a [[GopherStats]] array (see
  * [[graft.scale.Curation.gopherQualityFlags]]; the defaults are Gopher's
  * published ones). Every fraction is the exact IEEE quotient of two
  * counts, and a fraction whose denominator is 0 fails its bound (Gopher
  * drops empty pages).
  */
final case class GopherGate(minWords: Long = 50, maxWords: Long = 100000,
    minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
    maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
    maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
    minStopHits: Long = 2) {

  /** 1 if the stats pass every bound, else 0. */
  def keep(stats: ArrayData): Long = {
    val nW = stats.getLong(0)
    val nL = stats.getLong(5)
    def frac(num: Int, den: Long): Double = stats.getLong(num).toDouble / den.toDouble
    val pass = nW >= minWords && nW <= maxWords && nW > 0 && nL > 0 && {
      val meanLen = frac(1, nW)
      meanLen >= minMeanLen && meanLen <= maxMeanLen
    } && frac(4, nW) <= maxSymbolRatio &&
      frac(6, nL) <= maxBulletFrac && frac(7, nL) <= maxEllipsisFrac &&
      frac(2, nW) >= minAlphaFrac && stats.getLong(3) >= minStopHits
    if (pass) 1L else 0L
  }
}

/** The keep bit of a [[GopherStats]] array under a [[GopherGate]], as one
  * expression over the array. A filter on the bit holds one reference to
  * the stats, so pushing it below the projection that computes them
  * inlines ONE kernel call: a filter gets no common-subexpression
  * elimination, and the gate spelled as column arithmetic over the array
  * inlined ~21 kernel calls per row.
  */
case class GopherKeep(child: Expression, gate: GopherGate)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val s = child.eval(input)
    if (s == null) 0L else gate.keep(s.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val ref = ctx.addReferenceObj("gate", gate)
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      long ${ev.value} = ${c.isNull} ? 0L : $ref.keep(${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowed k-gram fingerprints with verification contexts (see
  * [[NativeExpressions.winnowContexts]]).
  */
case class WinnowContexts(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  require(k >= 2, s"k-gram size must be >= 2: $k")
  require(w >= 1, s"winnow window must be >= 1: $w")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("h", LongType), StructField("l", StringType),
    StructField("m", StringType), StructField("r", StringType))))
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.winnowContexts(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.winnowContexts($c, $k, $w);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Engine-portable rolling fingerprint (see
  * [[NativeExpressions.portableRollingMin]]).
  */
case class PortableRollingMin(child: Expression, window: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.portableRollingMin(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.portableRollingMin($c, $window);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hashed-bag linear scoring — the fastText-style architecture every
  * large-corpus quality/language filter uses (CCNet, RedPajama, Dolma):
  * each pre-hashed token indexes a weight bucket (`(h mod B + B) mod B`,
  * B = weight-vector length) and the score is the LEFT-TO-RIGHT fold of
  * the bucket weights over the token array — the pinned IEEE addition
  * order that lets another engine (DuckDB `list_reduce`) reproduce the
  * double bit-for-bit, the same trick as DSIR's fold. Weights ride a
  * broadcast (a real model has 2^20+ buckets — too big for a plan
  * literal, torrent-distributed once per executor); one codegen'd loop
  * per row, no boxing, no UDF. Null input → null; empty array → 0.0.
  */
case class BucketWeightSum(child: Expression,
    weights: org.apache.spark.broadcast.Broadcast[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.bucketWeightSumImpl(input.asInstanceOf[ArrayData],
      weights.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("weightsBc", weights,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.bucketWeightSumImpl($c, (double[]) $ref.value());""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hot-last stable partition of a SORTED-ascending long array against a
  * broadcast Bloom filter: Bloom misses ("rare" hashes) first in input
  * order, then Bloom hits ("hot"), also in input order — ONE compiled
  * pass, two primitive buffers. For a sorted-distinct input this is
  * element-identical to the interpreted reference
  * `transform(array_sort(transform(sh, g -> struct(hot(g), g))), s -> s.g)`
  * (lexicographic (h, g) sort = all h=0 ascending, then h=1 ascending,
  * and a stable partition of an ascending array keeps each class
  * ascending — NativeExprSpec pins the parity), which is CodegenFallback
  * and cost one struct allocation per element plus an interpreted
  * comparator sort per row PER CONSUMER of the rare-first order (the
  * round-16 q202 stage profile: 10 s CPU over 3 MB). Input arrays MUST
  * be sorted ascending — the [[graft.scale.Dedup]] shingle-set contract.
  */
case class HotLastOrder(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.hotLastOrderImpl(
      input.asInstanceOf[ArrayData], bloom.value)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", bloom,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
        ${ev.value} = graft.functions.NativeExpressions.hotLastOrderImpl(
          $c, (org.apache.spark.util.sketch.BloomFilter) $ref.value());
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Bloom-filter membership over a pre-hashed LONG column, with the filter
  * delivered via a BROADCAST handle — torrent distribution to executors
  * instead of shipping the (possibly hundreds-of-MB) bitmap inside every
  * task binary. The deserialized filter rides the broadcast; codegen calls
  * `mightContainLong` directly (no boxing, no UDF). Used as the narrow
  * PREFILTER of [[graft.scale.Curation.contaminationBloom]] — false
  * positives are expected (killed downstream by an exact join), false
  * negatives are impossible, so placing this filter below the exchange
  * only shrinks the shuffle, never the answer.
  */
case class BloomMightContainLong(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    bloom.value.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBc", bloom,
      classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
        ${ev.value} = ((org.apache.spark.util.sketch.BloomFilter)
          $ref.value()).mightContainLong($c);
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over pre-hashed tokens (array<long>): per-bit ±1 vote of
  * each token hash's bit, positive vote → bit set. Bit-identical to the HOF
  * reference `Dedup.simhash` (which votes with `shiftright(h, i) & 1` —
  * arithmetic vs logical shift is irrelevant under `& 1`), but hashes each
  * token ONCE and runs 64 bit-tests in a tight loop instead of re-evaluating
  * `xxhash64(token)` inside a 64-element `transform` lambda (64× the hashing,
  * plus a 64-long allocation per token, outside whole-stage codegen).
  * Ties (vote == 0, even token counts) leave the bit clear — same as the HOF.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    NativeExpressions.simhash64Impl(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.NativeExpressions.simhash64Impl($c);""")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Byte-pair-encoding APPLY: encode one whitespace-word against a learned
  * merge list — the tokenizer inner loop an actual training-data pipeline
  * runs most often (induction of the merges themselves is
  * TextOps.bpePairCounts / q92; this is the other half of tokenizer
  * training, applying them).
  *
  * Algorithm (GPT-2 reference semantics): start from the word's
  * codepoints; repeatedly find the adjacent symbol pair with the LOWEST
  * merge rank and fuse ALL its occurrences left-to-right (non-overlapping,
  * scan resumes after each fusion); stop when no adjacent pair is ranked.
  * Each round removes at least one symbol, so the loop is bounded by word
  * length. Merged symbols are strictly longer than either component, so a
  * fused symbol can never equal the first component of the pair just
  * applied — which is why the oracle's left-fold replay (merge when
  * last(acc)=a and incoming=b) reproduces this scan exactly.
  *
  * Scale shape: the merge-rank table is part of the expression (one
  * deserialized HashMap per task, probed O(word_len) per round — never a
  * join), and the expression is meant to run AFTER the distinct-word
  * collapse (TextOps.bpeEncodeWords): a word repeated a billion times
  * across 100 TB is encoded once, Zipf making the distinct-word table
  * orders of magnitude smaller than the token stream. Codegen calls the
  * compiled encoder directly (same single-virtual-call shape as the other
  * reference-object kernels), keeping the operator inside the
  * whole-stage-codegen span.
  */
case class BpeEncodeWord(child: Expression,
    mergeA: Seq[String], mergeB: Seq[String]) extends UnaryExpression {
  require(mergeA.length == mergeB.length, "merge component lists must align")
  require(mergeA.forall(_.nonEmpty) && mergeB.forall(_.nonEmpty),
    "merge symbols must be non-empty")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  private final val Sep = '\u0001'

  /** "ab" → 1-based rank (lower merges first). First occurrence
    * wins on duplicate pairs, matching list_position in the oracle.
    */
  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    var i = 0
    while (i < mergeA.length) {
      m.putIfAbsent(mergeA(i) + Sep + mergeB(i), Integer.valueOf(i + 1))
      i += 1
    }
    m
  }

  /** Public for codegen: encode one word to its BPE symbols. */
  def encodeUtf8(word: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val s = word.toString
    // seed: one symbol per codepoint (parity with the oracle's w[i]
    // character indexing)
    var syms = new Array[String](s.codePointCount(0, s.length))
    var ci = 0
    var k = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      syms(k) = new String(Character.toChars(cp))
      k += 1
      ci += Character.charCount(cp)
    }
    var done = syms.length < 2
    while (!done) {
      // lowest-ranked adjacent pair present in this word
      var best = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.get(syms(i) + Sep + syms(i + 1))
        if (r != null && r.intValue() < best) best = r.intValue()
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val a = mergeA(best - 1)
        val b = mergeB(best - 1)
        val out = new Array[String](syms.length)
        var o = 0
        i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out(o) = a + b; o += 1; i += 2
          } else {
            out(o) = syms(i); o += 1; i += 1
          }
        }
        syms = java.util.Arrays.copyOf(out, o)
        done = syms.length < 2
      }
    }
    val arr = new Array[Any](syms.length)
    var j = 0
    while (j < syms.length) {
      arr(j) = org.apache.spark.unsafe.types.UTF8String.fromString(syms(j))
      j += 1
    }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    encodeUtf8(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncoder", this,
      classOf[BpeEncodeWord].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encodeUtf8($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** WordPiece greedy longest-match-first encoding of ONE word against a
  * fixed vocabulary (HuggingFace/BERT semantics): from each position take
  * the LONGEST substring whose piece form (raw at word start,
  * `contPrefix`-prefixed after) is in the vocab; any position with no
  * match makes the WHOLE word `unk` (the is_bad contract — no partial
  * emission), as does a word longer than `maxChars` codepoints. Completes
  * the tokenizer triad next to [[BpeEncodeWord]] (merge-rank fusion) and
  * the unigram-LM Viterbi kernels — same per-DISTINCT-word collapse, same
  * reference-object codegen shape, vocab broadcast inside the expression.
  * Codepoint indexing for oracle parity with DuckDB's character slicing.
  */
case class WordPieceEncodeWord(child: Expression, vocab: Seq[String],
    unk: String, contPrefix: String, maxChars: Int)
    extends UnaryExpression {
  require(vocab.nonEmpty, "vocab must be non-empty")
  require(maxChars >= 1, s"maxChars must be >= 1: $maxChars")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val vocabSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](vocab.length * 2)
    vocab.foreach(s.add)
    s
  }

  /** Public for codegen: encode one word to its WordPiece tokens. */
  def encodeUtf8(word: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val s = word.toString
    // one entry per codepoint — parity with the oracle's w[a:b] slicing
    val cps = new Array[String](s.codePointCount(0, s.length))
    var ci = 0
    var k = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      cps(k) = new String(Character.toChars(cp))
      k += 1
      ci += Character.charCount(cp)
    }
    val toks =
      if (cps.length == 0 || cps.length > maxChars) Array(unk)
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var pos = 0
        var bad = false
        while (pos < cps.length && !bad) {
          var end = cps.length
          var hit: String = null
          while (end > pos && hit == null) {
            val sub = cps.slice(pos, end).mkString
            val cand = if (pos == 0) sub else contPrefix + sub
            if (vocabSet.contains(cand)) hit = cand else end -= 1
          }
          if (hit == null) bad = true
          else { out += hit; pos = end }
        }
        if (bad) Array(unk) else out.toArray
      }
    val arr = new Array[Any](toks.length)
    var j = 0
    while (j < toks.length) {
      arr(j) = org.apache.spark.unsafe.types.UTF8String.fromString(toks(j))
      j += 1
    }
    new GenericArrayData(arr)
  }

  override def nullSafeEval(input: Any): Any =
    encodeUtf8(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordpieceEncoder", this,
      classOf[WordPieceEncodeWord].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encodeUtf8($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-pattern Aho–Corasick occurrence counts (see [[AcAutomaton]]): one
  * pass over the text emits array<long> — counts(i) = occurrences of
  * pattern i, every start position counted (overlapping matches and
  * patterns nested inside longer patterns included). The automaton rides
  * a broadcast (a production blocklist is thousands of patterns — too
  * big for a plan literal and rebuilt-per-task would dwarf the scan), so
  * the scan is a narrow zero-shuffle projection whatever the list size —
  * the [[BucketWeightSum]] distribution shape.
  */
case class AhoCorasickCounts(child: Expression,
    auto: org.apache.spark.broadcast.Broadcast[AcAutomaton])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  /** Public for codegen. */
  def countsUtf8(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val c = auto.value.counts(text.toString)
    val out = new Array[Any](c.length)
    var i = 0
    while (i < c.length) { out(i) = c(i); i += 1 }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    countsUtf8(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("acCounts", this,
      classOf[AhoCorasickCounts].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.countsUtf8($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Total Aho–Corasick occurrences across every pattern — the blocklist
  * page gate ([[graft.scale.Curation.blocklistFilter]]) needs only this
  * scalar, so it skips [[AhoCorasickCounts]]'s per-row array allocation:
  * same automaton, same single pass, one long out.
  */
case class AhoCorasickTotal(child: Expression,
    auto: org.apache.spark.broadcast.Broadcast[AcAutomaton])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  /** Public for codegen. */
  def totalUtf8(text: org.apache.spark.unsafe.types.UTF8String): Long =
    auto.value.total(text.toString)

  override def nullSafeEval(input: Any): Any =
    totalUtf8(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("acTotal", this,
      classOf[AhoCorasickTotal].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.totalUtf8($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** URL canonicalization in one parse — struct(canonical, host). Rules
  * (the deterministic RFC 3986 §6 subset every crawl pipeline applies
  * before keying on URLs):
  *
  *  - scheme and host lowercased; single trailing dot stripped from the
  *    host; userinfo preserved verbatim;
  *  - default port dropped (http/ws 80, https/wss 443, ftp 21; leading
  *    zeros ignored for the comparison), other ports kept as given;
  *  - fragment stripped; empty path with an authority → "/";
  *  - percent-normalization over path and query: %XX decoding to an
  *    UNRESERVED byte (ALPHA / DIGIT / "-" / "." / "_" / "~") is
  *    decoded, any other %XX gets uppercase hex digits, and a malformed
  *    "%" (no two hex digits) passes through literally — multi-byte
  *    UTF-8 sequences (every byte ≥ 0x80) therefore stay encoded, which
  *    keeps the transform charset-free;
  *  - query parameter ORDER IS PRESERVED (reordering changes semantics
  *    for some endpoints — a dedup layer that wants order-insensitivity
  *    should sort keys explicitly downstream).
  *
  * Non-hierarchical inputs (no "://") get fragment-strip + percent-
  * normalization only, with a null host. The transform is idempotent —
  * canonical(canonical(u)) == canonical(u), property-tested.
  */
case class CanonicalUrlParts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("canonical", StringType, nullable = false),
    StructField("host", StringType, nullable = true)))
  override def nullable: Boolean = child.nullable

  @inline private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  @inline private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10

  @inline private def isUnreserved(v: Int): Boolean =
    (v >= 'A' && v <= 'Z') || (v >= 'a' && v <= 'z') ||
      (v >= '0' && v <= '9') || v == '-' || v == '.' || v == '_' || v == '~'

  private def pctNormalize(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
        isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        val v = (hexVal(s.charAt(i + 1)) << 4) | hexVal(s.charAt(i + 2))
        if (isUnreserved(v)) sb.append(v.toChar)
        else sb.append('%')
          .append(java.lang.Character.toUpperCase(s.charAt(i + 1)))
          .append(java.lang.Character.toUpperCase(s.charAt(i + 2)))
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def lower(s: String): String =
    s.toLowerCase(java.util.Locale.ROOT)

  /** Public for codegen: (canonical, host) for one URL. */
  def parts(u: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.sql.catalyst.InternalRow = {
    val raw = u.toString.trim
    def utf8(s: String) =
      if (s == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def row(canonical: String, host: String) =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](utf8(canonical), utf8(host)))
    // hierarchical? scheme = [A-Za-z][A-Za-z0-9+.-]* followed by "://"
    val ci = raw.indexOf(':')
    val schemeOk = ci > 0 && {
      val c0 = raw.charAt(0)
      ((c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z')) &&
        (1 until ci).forall { k =>
          val c = raw.charAt(k)
          (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
            (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
        }
    }
    if (!schemeOk || !raw.regionMatches(ci, "://", 0, 3)) {
      val hashIdx = raw.indexOf('#')
      val nf = if (hashIdx >= 0) raw.substring(0, hashIdx) else raw
      return row(pctNormalize(nf), null)
    }
    val scheme = lower(raw.substring(0, ci))
    val rest = raw.substring(ci + 3)
    var authEnd = rest.length
    var i = 0
    while (i < rest.length && authEnd == rest.length) {
      val c = rest.charAt(i)
      if (c == '/' || c == '?' || c == '#') authEnd = i
      i += 1
    }
    val auth = rest.substring(0, authEnd)
    val afterAuth = rest.substring(authEnd)
    val hashIdx = afterAuth.indexOf('#')
    val pathEtc = if (hashIdx >= 0) afterAuth.substring(0, hashIdx) else afterAuth
    val at = auth.lastIndexOf('@')
    val userinfo = if (at >= 0) auth.substring(0, at) else null
    val hostport = if (at >= 0) auth.substring(at + 1) else auth
    var host: String = null
    var port: String = null
    if (hostport.startsWith("[")) {
      val rb = hostport.indexOf(']')
      if (rb >= 0) {
        host = lower(hostport.substring(0, rb + 1))
        val after = hostport.substring(rb + 1)
        if (after.startsWith(":")) port = after.substring(1)
      } else host = lower(hostport)
    } else {
      val colon = hostport.lastIndexOf(':')
      // >1 colon unbracketed = malformed IPv6 literal (2001:db8::1), not
      // host:port — splitting at the last colon would corrupt the host
      // ('2001:db8:' port '1') and poison per-domain grouping downstream
      val multiColon = colon >= 0 && hostport.indexOf(':') != colon
      if (colon >= 0 && !multiColon &&
        (colon + 1 until hostport.length).forall(k =>
          hostport.charAt(k) >= '0' && hostport.charAt(k) <= '9')) {
        host = lower(hostport.substring(0, colon))
        port = hostport.substring(colon + 1)
      } else host = lower(hostport)
    }
    if (host.length > 1 && host.endsWith(".") && !host.startsWith("["))
      host = host.substring(0, host.length - 1)
    val defPort = scheme match {
      case "http" | "ws"   => "80"
      case "https" | "wss" => "443"
      case "ftp"           => "21"
      case _               => null
    }
    val portKept = if (port == null || port.isEmpty) null else {
      val noZeros = {
        val t = port.dropWhile(_ == '0')
        if (t.isEmpty) "0" else t
      }
      if (defPort != null && noZeros == defPort) null else port
    }
    val qIdx = pathEtc.indexOf('?')
    val path0 = if (qIdx >= 0) pathEtc.substring(0, qIdx) else pathEtc
    val query0 = if (qIdx >= 0) pathEtc.substring(qIdx + 1) else null
    val path = pctNormalize(if (path0.isEmpty) "/" else path0)
    val sb = new java.lang.StringBuilder(raw.length)
    sb.append(scheme).append("://")
    if (userinfo != null) sb.append(userinfo).append('@')
    sb.append(host)
    if (portKept != null) sb.append(':').append(portKept)
    sb.append(path)
    if (query0 != null) sb.append('?').append(pctNormalize(query0))
    row(sb.toString, if (host.isEmpty) null else host)
  }

  override def nullSafeEval(input: Any): Any =
    parts(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("canonicalUrl", this,
      classOf[CanonicalUrlParts].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.parts($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Registered domain (longest matching public suffix + one label) of a
  * LOWERCASE host against a broadcast suffix set — the key a crawl
  * pipeline groups per-site quotas/drift on. Semantics:
  *
  *  - every label suffix of the host is probed against the set and the
  *    LONGEST match wins (so "ac.uk" beats "uk" when both are present —
  *    sets need not be suffix-closed);
  *  - no suffix matches → the last label is treated as the suffix (the
  *    public-suffix list's implicit "*" default rule);
  *  - host == a public suffix (no label left of it) → null;
  *  - all-numeric labels (an IPv4 literal) → the host itself; bracketed
  *    IPv6 literals and malformed hosts (empty labels) → null.
  *
  * The set rides a broadcast: the real public-suffix list is ~9k rules —
  * per-executor once, never per task. Callers pass the HOST column from
  * [[CanonicalUrlParts]] (already lowercased, trailing dot stripped).
  */
case class RegisteredDomainExpr(child: Expression,
    suffixes: org.apache.spark.broadcast.Broadcast[java.util.HashSet[String]])
    extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  /** Public for codegen; null when no registered domain exists. */
  def domainUtf8(host: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.unsafe.types.UTF8String = {
    val h = host.toString
    if (h.isEmpty || h.startsWith("[")) return null
    val labels = h.split("\\.", -1)
    if (labels.exists(_.isEmpty)) return null
    if (labels.forall(l => l.forall(c => c >= '0' && c <= '9')))
      return org.apache.spark.unsafe.types.UTF8String.fromString(h)
    val set = suffixes.value
    var best = 0
    var suf: String = null
    var k = 1
    while (k <= labels.length) {
      suf = if (k == 1) labels(labels.length - 1)
        else labels(labels.length - k) + "." + suf
      if (set.contains(suf)) best = k
      k += 1
    }
    val sufLabels = if (best >= 1) best else 1
    if (sufLabels >= labels.length) null
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      labels.slice(labels.length - sufLabels - 1, labels.length)
        .mkString("."))
  }

  override def nullSafeEval(input: Any): Any =
    domainUtf8(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("registeredDomain", this,
      classOf[RegisteredDomainExpr].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = $ref.domainUtf8($c);
         ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Dense rotation (matrix × vector) with per-output-dim rounding — the
  * [[graft.scale.Opq.rotate]] hot kernel. Bit-identical to the HOF
  * formulation `round(aggregate(zip_with(v, row, _*_), 0.0, _+_), dp)`
  * per output dimension (same j-ascending IEEE fold, same scala
  * BigDecimal HALF_UP round — the one Catalyst's `round` applies to
  * doubles), but ONE pass per row: d² fused multiply-adds in a tight
  * loop instead of d interpreted lambda chains each allocating a zipped
  * array — the [[MinHashSignature]] move applied to OPQ. The rotated
  * frame feeds iterative trainers (Lloyd rounds, PQ codebooks) that
  * re-execute their input projection once per job, so the kernel's
  * speedup multiplies by the training pass count (q210: 12.6 s → the
  * q142 shape + ε). Accepts array<float> (cast exactly) or
  * array<double>; requires |vec| = d.
  */
case class RotateMatVec(child: Expression, rotation: Array[Array[Double]],
    roundDp: Int) extends UnaryExpression {
  require(rotation.nonEmpty && rotation.forall(_.length == rotation.head.length),
    "rotation must be a non-empty rectangular matrix")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  // Only float/double element arrays: ArrayData.getFloat/getDouble would
  // silently misread any other numeric layout (array<int>, array<decimal>),
  // whereas the HOF formulation this kernel replaced cast them. Fail at
  // analysis instead of returning garbage.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rotate_mat_vec requires array<float> or array<double> input, " +
            s"got ${other.catalogString}")
    }

  @transient private lazy val isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Public for codegen. */
  def rotateArr(input: ArrayData): ArrayData = {
    val d = rotation.head.length
    val n = input.numElements()
    require(n == d, s"vector length $n != rotation dim $d")
    val x = new Array[Double](d)
    var j = 0
    if (isFloat) while (j < d) { x(j) = input.getFloat(j).toDouble; j += 1 }
    else while (j < d) { x(j) = input.getDouble(j); j += 1 }
    val out = new Array[Any](rotation.length)
    var r = 0
    while (r < rotation.length) {
      val row = rotation(r)
      var acc = 0.0
      var k = 0
      while (k < d) { acc += x(k) * row(k); k += 1 }
      // Non-finite passes through unchanged — Spark's RoundBase does the
      // same, and BigDecimal(NaN) would throw NumberFormatException,
      // failing the whole job on the first NaN embedding.
      out(r) =
        if (java.lang.Double.isNaN(acc) || java.lang.Double.isInfinite(acc)) acc
        else BigDecimal(acc)
          .setScale(roundDp, BigDecimal.RoundingMode.HALF_UP).toDouble
      r += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    rotateArr(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rotateMatVec", this,
      classOf[RotateMatVec].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.rotateArr($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Leftmost-longest multi-pattern scrub — struct(scrubbed, n_matches).
  * One [[AcAutomaton]] pass collects, for every start position, the
  * LONGEST pattern match beginning there; a second linear pass rebuilds
  * the text left to right, replacing each leftmost surviving match with
  * `replacement` and resuming AFTER it (matches starting inside a
  * replaced span are skipped; the replacement itself is never
  * rescanned) — exactly the semantics of a global regex replace over a
  * longest-first alternation of the literal patterns, which is what the
  * oracle replays. The multi-pattern sibling of the q61 chained-regex
  * redaction at blocklist scale: one automaton, one pass, any pattern
  * count.
  */
case class AhoCorasickScrub(child: Expression,
    auto: org.apache.spark.broadcast.Broadcast[AcAutomaton],
    replacement: String) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("scrubbed", StringType, nullable = false),
    StructField("n_matches", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable

  /** Public for codegen. */
  def scrubUtf8(text: org.apache.spark.unsafe.types.UTF8String):
      org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    val n = s.length
    // pass 1 (inside the automaton): longest match length per start
    val bestLen = auto.value.longestMatchPerStart(s)
    // pass 2: leftmost-longest rebuild
    val sb = new java.lang.StringBuilder(n)
    var pos = 0
    var nm = 0L
    while (pos < n) {
      val l = bestLen(pos)
      if (l > 0) { sb.append(replacement); nm += 1; pos += l }
      else { sb.append(s.charAt(pos)); pos += 1 }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString), nm))
  }

  override def nullSafeEval(input: Any): Any =
    scrubUtf8(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("acScrub", this,
      classOf[AhoCorasickScrub].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.scrubUtf8($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
