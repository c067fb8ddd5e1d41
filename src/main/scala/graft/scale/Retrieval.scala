package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sparse (lexical) retrieval over the corpus: BM25 scoring of a fixed
  * query set with per-query top-k — the retrieval half of RAG data prep and
  * the standard recall baseline next to the dense ANN path
  * ([[Similarity]] / [[Ivf]]).
  *
  * Scale shape (the corpus is the 100 TB side; the query set is small):
  *   - the corpus is touched by exactly two NARROW passes — one scalar
  *     aggregate for (N, total token count) and one scan that filters each
  *     doc's token array down to query terms BEFORE exploding. Docs with no
  *     query term contribute zero rows to every shuffle; nothing
  *     proportional to corpus text ever shuffles.
  *   - document frequency is computed per query term only (count of
  *     matching docs), not as a corpus-wide term dictionary.
  *   - the query-term list and the df table are broadcast; the only keyed
  *     shuffles are over (doc, term) matches, bounded by matches — the
  *     inverted-index-probe shape, not an index build.
  */
object Retrieval {

  /** BM25 top-k per query. `queries` maps query_id → distinct lowercase
    * terms. Uses the Lucene/ATIRE idf `ln(1 + (N - df + 0.5)/(df + 0.5))`
    * (always ≥ 0) with standard k1/b. Tokenization is lowercased
    * whitespace ([[TextOps.tokens]]); score is the fold-order-pinned sum
    * of per-term contributions rounded to 6 decimals, ranked
    * (score desc, doc_id asc) so the cut is total-order deterministic.
    *
    * Returns (query_id, rank, doc_id, score), rank ≤ k, only docs matching
    * ≥ 1 query term.
    */
  def bm25TopK(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, queries: Seq[(Long, Seq[String])], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "need at least one query with at least one term")
    require(queries.forall { case (_, ts) => ts.distinct == ts },
      "query terms must be distinct within a query")
    val allTerms = queries.flatMap(_._2).distinct
    val termsLit = array(allTerms.map(lit): _*)

    val toks = TextOps.tokens(lower(col(textCol)))
    val par = graft.core.Par.ensure(docs)
    // pass 1: corpus stats — exact long sums, divided once (portable)
    val stats = par.agg(
      count(lit(1)).as("n_docs"),
      sum(size(toks).cast("long")).as("total_len"))
    // pass 2: narrow filter-to-query-terms, dl carried through the explode
    // (no corpus-side join to recover doc length later)
    val matches = par
      .select(col(idCol).as("doc_id"), size(toks).cast("long").as("dl"),
        explode(filter(toks, t => array_contains(termsLit, t))).as("term"))
    // tf feeds both the df aggregate and the scoring probe: freeze it
    // through one shuffle (Dedup.sharedShuffle) so the corpus text scan +
    // token filter runs once, not once per consumer branch
    val tf = Dedup.sharedShuffle(
      matches.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl")),
      col("term"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

    bm25ScoreTail(spark, tf, df, stats, queries, k, k1, b)
  }

  /** The shared scoring tail of [[bm25TopK]] and [[bm25AgainstIndex]]:
    * per-(query, doc) fold of term weights over a (doc_id, term, tf, dl)
    * frame plus the broadcast df/stats — identical expression tree in
    * both paths, which is what lets q148 certify the index path against
    * q88's direct-computation oracle.
    */
  private def bm25ScoreTail(spark: SparkSession, tf: DataFrame,
      df: DataFrame, stats: DataFrame, queries: Seq[(Long, Seq[String])],
      k: Int, k1: Double, b: Double): DataFrame = {
    import spark.implicits._
    val queryTerms = queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")

    val avgdl = col("total_len").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val w = idf * (col("tf").cast("double") * (k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0) - b + lit(b) * (col("dl").cast("double") / avgdl)))

    val scored = tf
      .join(broadcast(queryTerms), "term")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("term"), w.as("__w"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("term"), col("__w")))),
        lit(0.0), (acc, x) => acc + x.getField("__w")), 6).as("score"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** Build the persisted BM25 index — the lexical sibling of the minhash
    * (q131) and IVF+PQ (q143) index tables — as ONE table
    * (doc_id, term, tf, dl) holding two row kinds:
    *   - one doclens row per document, (doc_id, term = NULL, tf = NULL,
    *     dl), empty docs INCLUDED (they carry corpus stats: N and avgdl
    *     must count them, exactly as [[bm25TopK]]'s direct pass does);
    *   - one posting row per (doc_id, term) over the FULL vocabulary, dl
    *     denormalized into it so the query path never joins back to the
    *     corpus.
    * NULL term is unambiguous — tokenization never yields a null token.
    * One table, not a (doclens, postings) pair, because a maintenance
    * path swaps ONE directory atomically
    * ([[graft.streaming.Streaming.maintainBm25Index]]) and two
    * separately-swapped tables could be observed torn. Written
    * partitioned (by term-hash range at 100 TB) and maintained by
    * [[bm25IndexMerge]] — the tokenize+count pass is paid once at build,
    * never again per query.
    */
  def bm25Index(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextOps.tokens(lower(col(textCol)))
    val par = graft.core.Par.ensure(docs)
    val doclens = par.select(col(idCol).as("doc_id"),
      lit(null).cast("string").as("term"), lit(null).cast("long").as("tf"),
      size(toks).cast("long").as("dl"))
    val postings = par
      .select(col(idCol).as("doc_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"))
    doclens.union(postings)
  }

  /** Fold a document batch into a persisted [[bm25Index]] without
    * rebuilding: the batch alone is tokenized and counted, and
    * re-ingested ids take the batch's rows ([[Dedup.batchWins]] by doc
    * id over both row kinds — a re-ingested doc's stale doclens row AND
    * all its old postings vanish together, even for terms its new text
    * no longer contains, which is why the anti-join is by doc, not
    * (doc, term)). Rows carry no corpus state, so
    * merge(build(A), B) ≡ build((A ∖ ids(B)) ∪ B) row for row — q148
    * certifies it through the composed query path — and a replayed
    * batch merges to the same table.
    */
  def bm25IndexMerge(index: DataFrame, batch: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val fresh = bm25Index(batch, idCol, textCol)
    Dedup.batchWins(index, fresh, "doc_id",
      fresh.where(col("term").isNull))
  }

  /** BM25 top-k served FROM a persisted [[bm25Index]]: identical
    * semantics and arithmetic to [[bm25TopK]] (same scoring tail), but
    * the corpus text is never touched — the term-filtered postings probe
    * plus a 2-value aggregate over the doclens rows replace both corpus
    * passes. At 100 TB with term-partitioned postings this reads only
    * the query terms' posting lists.
    */
  def bm25AgainstIndex(spark: SparkSession, index: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "need at least one query with at least one term")
    require(queries.forall { case (_, ts) => ts.distinct == ts },
      "query terms must be distinct within a query")
    val allTerms = queries.flatMap(_._2).distinct
    val stats = index.where(col("term").isNull).agg(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("total_len"))
    val tf = Dedup.sharedShuffle(
      index.where(col("term").isin(allTerms: _*))
        .select(col("doc_id"), col("term"), col("tf"), col("dl")),
      col("term"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25ScoreTail(spark, tf, df, stats, queries, k, k1, b)
  }

  /** Deterministic token pseudo-embedding: `dim` affine projections of
    * the 62-bit portable hash, mapped to [−1, 1). This is the STUB
    * embedding provider (the multimodal-decode pattern): engine-portable
    * and exactly replayable in SQL, standing in for a real token-encoder
    * matrix the way the video-codec stub stands in for a codec — the
    * maxsim plumbing (array-of-vector columns, per-term max, pinned
    * fold) is the real, certified part, and a learned embedding column
    * drops in by swapping this function.
    */
  def tokenEmbedding(tok: org.apache.spark.sql.Column,
      dim: Int = 4): org.apache.spark.sql.Column = {
    val P = 2147483647L
    val h = element_at(graft.functions.NativeExpressions
      .portable_token_hashes(array(tok)), 1)
    array(TokenEmbMult.take(dim).zip(TokenEmbAdd.take(dim)).map {
      case (m, a) =>
        lit(2.0) * (pmod(pmod(h, lit(P)) * m + a, lit(P))).cast("double") /
          lit(2147483647.0) - lit(1.0)
    }: _*)
  }

  /** Multipliers/offsets of [[tokenEmbedding]]'s projections — part of
    * the portable spec (the q149 oracle embeds the same constants).
    */
  private[graft] val TokenEmbMult = Seq(65599L, 92821L, 31L, 131L)
  private[graft] val TokenEmbAdd = Seq(17L, 29L, 41L, 53L)

  /** ColBERT-style MaxSim late-interaction rerank of a bounded candidate
    * set: score(query, doc) = Σ over query terms of MAX over the doc's
    * distinct tokens of cosine(tokenEmbedding(term), tokenEmbedding(tok))
    * — finer-grained than one-vector-per-doc cosine (a doc matching all
    * query terms somewhere beats a doc matching one term everywhere),
    * cheaper than a cross-encoder. `candidates` is (query_id, doc_id) —
    * a top-k cut from the lexical (q88) or dense (q82) stage, so
    * everything here is k×queries-bounded: only candidate docs are
    * tokenized (semi-join prune), the per-(query, doc, term) max is one
    * hash aggregate, and the per-term sum is the pinned
    * (term-sorted, left) fold. Distinct doc tokens are used — max over
    * duplicates equals max over the set. Returns
    * (query_id, rank, doc_id, maxsim) ranked (maxsim desc, doc_id).
    */
  def maxSimRerank(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, queries: Seq[(Long, Seq[String])],
      candidates: DataFrame, dim: Int = 4): DataFrame = {
    import spark.implicits._
    val qTerms = queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "qterm")
      .withColumn("qe", tokenEmbedding(col("qterm"), dim))
    val cand = candidates.select(col("query_id"), col("doc_id"))
    val docToks = graft.core.Par.ensure(docs)
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextOps.tokens(lower(col(textCol)))))
          .as("dtok"))
      .join(cand.select(col("doc_id")).distinct(), "doc_id")
      .withColumn("de", tokenEmbedding(col("dtok"), dim))
    val perTerm = cand
      .join(broadcast(qTerms), "query_id")
      .join(docToks, "doc_id")
      .withColumn("c", Similarity.cosineNative(col("qe"), col("de")))
      .groupBy(col("query_id"), col("doc_id"), col("qterm"))
      .agg(max(col("c")).as("mx"))
    val scored = perTerm
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(aggregate(
        array_sort(collect_list(struct(col("qterm"), col("mx")))),
        lit(0.0), (acc, x) => acc + x.getField("mx")), 6).as("maxsim"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("maxsim").desc, col("doc_id"))
    scored
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .select(col("query_id"), col("rank"), col("doc_id"), col("maxsim"))
  }

  /** Per-document top-k TF-IDF terms over the WHOLE corpus vocabulary —
    * the keyword-extraction / sparse-featurization complement to
    * [[bm25TopK]] (which probes a fixed query set): here every term is a
    * candidate, so the term dictionary is corpus-derived and must stay
    * DISTRIBUTED (a 100 TB web corpus's vocab — typos, numbers, code —
    * does not fit a broadcast).
    *
    * Scale shape: tokenize → explode → (doc, term) partial-agg tf
    * [shuffle 1, combiner-collapsed to distinct pairs]; tf is frozen
    * through ONE term-keyed exchange ([[Dedup.sharedShuffle]]) that feeds
    * BOTH the df aggregate and the tf⋈df join (no broadcast of the vocab,
    * no second scan); the rank cut is a per-doc window [shuffle 3].
    * Everything downstream of shuffle 1 is bounded by distinct
    * (doc, term) pairs, not corpus tokens.
    *
    * Determinism: idf = ln(N/df) of exact longs, score rounded to 6
    * decimals after one multiply (single fp op — engine-portable), rank
    * ordered (score desc, term asc) so the k cut is total-order exact.
    */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    val toks = TextOps.tokens(lower(col(textCol)))
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val tf = Dedup.sharedShuffle(
      graft.core.Par.ensure(docs)
        .select(col(idCol).as("doc_id"), explode(toks).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")),
      col("term"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf
      .join(df, "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")), 6)
          .as("score"))
    val rankW = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Reciprocal rank fusion of two rankings (RRF, Cormack et al.): fused
    * score = Σ_r 1/(rrfK + rank_r), summed over the rankings that list
    * the item — the standard way a RAG stack merges lexical (BM25, q88)
    * and vector (cosine/ANN, q27/q82) retrieval without score
    * calibration, since only RANKS enter the sum.
    *
    * Inputs are (group, id, rank) frames — "group" is the query id in
    * retrieval use. The join is per-(group, id) full-outer so an item
    * listed by either ranking participates; missing ranks contribute 0.
    *
    * Scale: both inputs are already top-k-per-group frames (bounded by
    * k × groups — produce them with [[graft.plans.TopKPerGroup]] or the
    * operators' own rank cuts), so everything here is bounded work; the
    * only exchange is the (group, id) join key. Determinism: the two
    * quotients are exact-rounded IEEE ops summed in fixed left-to-right
    * order, rounded to 6dp; the fused cut is (score desc, id) total-
    * ordered.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, groupCol: String, idCol: String,
      rankCol: String, k: Int = 10, rrfK: Int = 60): DataFrame = {
    val fa = a.select(col(groupCol).as("grp"), col(idCol).as("id"),
      col(rankCol).as("__ra"))
    val fb = b.select(col(groupCol).as("grp"), col(idCol).as("id"),
      col(rankCol).as("__rb"))
    val fused = fa.join(fb, Seq("grp", "id"), "full_outer")
      .select(col("grp"), col("id"),
        round(
          coalesce(lit(1d) / (lit(rrfK.toDouble) + col("__ra").cast("double")),
            lit(0d)) +
            coalesce(lit(1d) / (lit(rrfK.toDouble) + col("__rb").cast("double")),
              lit(0d)), 6).as("rrf_score"))
    val w = Window.partitionBy(col("grp"))
      .orderBy(col("rrf_score").desc, col("id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("grp").as(groupCol), col("id").as(idCol),
        col("rrf_score"), col("rank"))
  }

  /** Class-based TF-IDF cluster labeling (the BERTopic c-TF-IDF shape):
    * given documents already carrying a cluster id, score each term by
    * cluster-tf × ln(1 + nClusters/clusterDf) and keep the top k per
    * cluster — the human-readable label for a semantic-dedup or topic
    * cluster. Composes downstream of [[Clustering.lloydAssignments]] /
    * [[graft.scale.Curation]]'s semantic dedup: train → assign → label.
    *
    * Scale shape: tokens collapse straight to (cluster, term) counts
    * (shuffle bounded by clusters × vocabulary, NOT corpus tokens —
    * map-side combine does the collapse); clusterDf is a second bounded
    * aggregate over that table; the rank window partitions by cluster
    * over ≤ vocabulary rows. nClusters is a caller constant, so no
    * broadcast frame is needed.
    *
    * Determinism: counts are exact longs; the score's single multiply +
    * ln of an exact quotient rounds to 6dp (the q95 contract); rank is
    * (score desc, term) total-ordered.
    */
  def clusterTopTerms(docsWithCluster: DataFrame, clusterCol: String,
      textCol: String, nClusters: Int, k: Int = 5): DataFrame = {
    val toks = TextOps.tokens(lower(col(textCol)))
    val tf = docsWithCluster
      .select(col(clusterCol).as("cluster"), explode(toks).as("term"))
      .groupBy(col("cluster"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cdf = tf.groupBy(col("term")).agg(count(lit(1)).as("cdf"))
    val scored = tf.join(cdf, "term")
      .select(col("cluster"), col("term"), col("tf"), col("cdf"),
        round(col("tf").cast("double") *
          log(lit(1d) + lit(nClusters.toDouble) / col("cdf").cast("double")),
          6).as("score"))
    val rankW = Window.partitionBy(col("cluster"))
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .where(col("rank") <= k)
      .select(col("cluster"), col("term"), col("tf"), col("cdf"),
        col("score"), col("rank"))
  }

  /** Exact positional phrase search: for each phrase (an ordered term
    * sequence), every document and occurrence count where the terms
    * appear at CONSECUTIVE token positions — the `"exact quote"` operator
    * BM25's bag-of-words scoring cannot express, and the detector a
    * training pipeline runs for memorization probes / benchmark quotes.
    *
    * Scale shape: the corpus's token arrays are filtered to the phrases'
    * term set BEFORE posexplode — the positional postings that shuffle
    * are bounded by matches of phrase VOCABULARY, not corpus tokens (the
    * inverted-positional-index probe shape; rare-term phrases cost
    * almost nothing). Each phrase then chains (len−1) equi-joins on
    * (doc, anchor-relative position); all joins share the doc_id key so
    * the postings exchange is reused, and phrase results union without
    * further shuffles. Occurrences collapse to one (phrase, doc) count.
    *
    * Returns (phrase, doc_id, n_occur) — only matching docs.
    */
  def phraseSearch(docs: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "phraseSearch needs at least one phrase")
    val split = phrases.map(p => p -> p.split("\\s+").toSeq.filter(_.nonEmpty))
    require(split.forall(_._2.size >= 2), "phrases need >= 2 terms")
    val vocab = split.flatMap(_._2).distinct
    // positional postings, restricted to the phrase vocabulary while
    // still inside the per-doc array (narrow filter, THEN explode)
    val post = docs.select(col(idCol).as("doc_id"),
        explode(filter(
          transform(TextOps.tokens(lower(col(textCol))),
            (t, i) => struct(t.as("w"), i.as("p"))),
          e => e.getField("w").isin(vocab: _*))).as("e"))
      .select(col("doc_id"), col("e.w").as("w"), col("e.p").as("p"))
    val matches = split.map { case (phrase, terms) =>
      val anchor = post.where(col("w") === terms.head)
        .select(col("doc_id"), col("p"))
      terms.zipWithIndex.drop(1).foldLeft(anchor) { case (acc, (t, j)) =>
        val nxt = post.where(col("w") === t)
          .select(col("doc_id").as(s"__d$j"), col("p").as(s"__p$j"))
        acc.join(nxt,
          col("doc_id") === col(s"__d$j") && col(s"__p$j") === col("p") + j)
          .select(col("doc_id"), col("p"))
      }.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_occur"))
        .select(lit(phrase).as("phrase"), col("doc_id"), col("n_occur"))
    }
    matches.reduce(_ unionAll _)
  }
}
