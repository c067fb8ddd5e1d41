package graft.suite

import org.apache.spark.sql.functions._
import graft.core.{GQuery, Tables => T}

/** Round-10 pipeline-lifecycle operators: BPE tokenizer APPLY (q134),
  * mass-conserving PageRank with dangling redistribution (q135), and
  * incremental minhash-index MERGE (q136) — the maintenance half of the
  * steady-state training-data pipeline.
  */
object PipelineQueries {

  /** A deliberately chain-heavy merge list over the corpus vocabulary:
    * multi-level merges (e.g. w→win→wind→windo→window across five
    * rounds) exercise the full iterate-until-no-ranked-pair loop, not
    * just single-level char fusions. Rank = list position.
    */
  private val Merges: Seq[(String, String)] = Seq(
    ("a", "n"), ("o", "r"), ("e", "r"), ("s", "c"), ("sc", "an"),
    ("i", "n"), ("d", "er"), ("or", "der"), ("s", "t"), ("r", "e"),
    ("a", "s"), ("h", "as"), ("l", "o"), ("w", "in"), ("win", "d"),
    ("wind", "o"), ("windo", "w"))

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ",", "]")

  /** The per-level best-rank expression (expects `syms` and the merge
    * key list `mk` in scope): lowest 1-based rank among the word's
    * adjacent symbol pairs, NULL when none is ranked (terminal state).
    */
  private val BestRank = """list_aggregate(
      list_filter(
        list_transform(range(1, len(syms)),
          i -> list_position(mk, syms[i] || chr(1) || syms[i+1])),
        r -> coalesce(r, 0) > 0), 'min')"""

  /** BPE apply-with-merges (TextOps.bpeEncodeWords +
    * functions.BpeEncodeWord): every distinct corpus word encoded against
    * the learned merge list — (w, encoded, n_tokens, wn). The oracle
    * replays the EXACT GPT-2 loop in a recursive CTE: per level, the
    * lowest-ranked adjacent pair is found (list_position over pair keys)
    * and all its occurrences fused left-to-right by a list_reduce fold
    * over singleton-list symbols; a word is terminal when no pair is
    * ranked. The fold's merge-when-(last=a, incoming=b) rule reproduces
    * the scan-with-skip semantics because a fused symbol is strictly
    * longer than either component, so it can never equal the first
    * component of the pair just applied. Recursion is bounded: every
    * level removes at least one symbol, so depth ≤ max word length.
    *
    * Scale shape certified: the corpus collapses to the distinct-word
    * count table first (one shuffle with map-side combine); the merge
    * loop runs per VOCABULARY entry inside a codegen'd kernel carrying
    * the rank table — a word repeated a billion times across 100 TB is
    * encoded once.
    */
  private val q134 = GQuery(
    (s, d) => graft.scale.TextOps
      .bpeEncodeWords(T.documents(s, d), "text", Merges)
      .orderBy(col("w")),
    Some(s"""WITH RECURSIVE
      m AS (SELECT ${sqlList(Merges.map(_._1))} AS ma,
        ${sqlList(Merges.map(_._2))} AS mb,
        list_transform(
          list_zip(${sqlList(Merges.map(_._1))}, ${sqlList(Merges.map(_._2))}),
          p -> p[1] || chr(1) || p[2]) AS mk),
      words AS (
        SELECT w, COUNT(*)::BIGINT AS wn FROM (
          SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
            x -> len(x) > 0)) AS w
          FROM documents) GROUP BY w),
      seed AS (
        SELECT w, list_transform(range(1, length(w)+1), i -> w[i]) AS syms
        FROM words),
      enc AS (
        SELECT w, syms FROM seed
        UNION ALL
        SELECT w,
          list_reduce(
            list_transform(syms, s -> [s]),
            (acc, x) -> CASE WHEN acc[-1] = ma[best] AND x[1] = mb[best]
              THEN acc[1:len(acc)-1] || [ma[best] || mb[best]]
              ELSE acc || x END) AS syms
        FROM (SELECT w, syms, $BestRank AS best FROM enc CROSS JOIN m)
          CROSS JOIN m
        WHERE best IS NOT NULL),
      term AS (
        SELECT w, syms
        FROM (SELECT w, syms, $BestRank AS best FROM enc CROSS JOIN m)
        WHERE best IS NULL)
      SELECT t.w AS w, array_to_string(t.syms, ' ') AS encoded,
        len(t.syms)::BIGINT AS n_tokens, words.wn
      FROM term t JOIN words USING (w) ORDER BY w"""))

  /** Mass-conserving PageRank (Graph.pageRankDangling, 2 iterations,
    * damping 85%) on a fixture BUILT to dangle: src keys land in [0,150)
    * and dst keys in [100,297), so every node above 149 has in-edges but
    * no out-edges — roughly half the graph is dangling, the regime where
    * the leaky variant (q121) and the stochastic-matrix variant diverge
    * most. The oracle unrolls both iterations in the same fixed-point
    * 10^-12 integer arithmetic, including the per-iteration dangling-mass
    * aggregate (anti-join sum, floor-divided share), so a hash-match
    * certifies the redistribution term exactly — not just "ranks look
    * normalized". Mass conservation at depth (iters ≥ 10) is pinned
    * separately in AnalyticsSpec.
    */
  private val q135 = GQuery(
    (s, d) => {
      val edges = T.lineitem(s, d)
        .select((col("l_orderkey") % 150).as("src"),
          (col("l_partkey") % 197 + 100).as("dst"))
        .distinct()
      graft.scale.Graph.pageRankDangling(edges, "src", "dst", iters = 2)
        .orderBy(col("id"))
    },
    Some("""WITH e AS (
        SELECT DISTINCT l_orderkey % 150 AS src, l_partkey % 197 + 100 AS dst
        FROM lineitem),
      nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
      nn AS (SELECT COUNT(*)::BIGINT AS n FROM nodes),
      deg AS (SELECT src, COUNT(*)::BIGINT AS d FROM e GROUP BY src),
      r0 AS (SELECT id, 1000000000000 // nn.n AS r
             FROM nodes CROSS JOIN nn),
      d1 AS (SELECT COALESCE(CAST(SUM(r0.r) AS BIGINT), 0) AS dm
             FROM r0 LEFT JOIN deg ON r0.id = deg.src
             WHERE deg.src IS NULL),
      c1 AS (SELECT e.dst AS id, r0.r // deg.d AS c
             FROM e JOIN r0 ON e.src = r0.id JOIN deg ON e.src = deg.src),
      s1 AS (SELECT id, CAST(SUM(c) AS BIGINT) AS s FROM c1 GROUP BY id),
      r1 AS (SELECT nodes.id, (150000000000 // nn.n) +
               ((85 * (COALESCE(s1.s, 0) + d1.dm // nn.n)) // 100) AS r
             FROM nodes CROSS JOIN nn CROSS JOIN d1
             LEFT JOIN s1 ON nodes.id = s1.id),
      d2 AS (SELECT COALESCE(CAST(SUM(r1.r) AS BIGINT), 0) AS dm
             FROM r1 LEFT JOIN deg ON r1.id = deg.src
             WHERE deg.src IS NULL),
      c2 AS (SELECT e.dst AS id, r1.r // deg.d AS c
             FROM e JOIN r1 ON e.src = r1.id JOIN deg ON e.src = deg.src),
      s2 AS (SELECT id, CAST(SUM(c) AS BIGINT) AS s FROM c2 GROUP BY id),
      r2 AS (SELECT nodes.id, (150000000000 // nn.n) +
               ((85 * (COALESCE(s2.s, 0) + d2.dm // nn.n)) // 100) AS r
             FROM nodes CROSS JOIN nn CROSS JOIN d2
             LEFT JOIN s2 ON nodes.id = s2.id)
      SELECT id, CAST(r AS DOUBLE) / 1000000000000.0::DOUBLE AS rank
      FROM r2 ORDER BY id"""))

  /** Incremental index lifecycle (Dedup.minhashIndexMerge): the even-doc
    * index is persisted, the odd-doc batch's signatures are FOLDED IN
    * (text kernel over the batch only — the corpus is never re-read),
    * the merged index is persisted again, and the batch is scored
    * against it. Because the merged index now holds BOTH halves, the
    * candidate set is all×odd — the oracle is the exact all×odd cross
    * ground truth including each odd doc's self-pair at jaccard 1.0, so
    * a hash-match certifies the merge produced exactly
    * index(corpus ∪ batch): nothing lost, nothing duplicated, signatures
    * byte-equal to a from-scratch build (frame-level equality is pinned
    * separately in DedupLifecycleSpec). Steady-state ingestion never
    * rebuilds. Same LSH recall footing as q131/q24/q87.
    */
  private val q136 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
      val dir = Scratch.fresh("graft_mhmerge_")
      graft.scale.Dedup
        .minhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/base")
      graft.scale.Dedup.minhashIndexMerge(
          s.read.parquet(s"$dir/base"),
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/merged")
      graft.scale.Dedup.minhashDupPairsAgainstIndex(
          s.read.parquet(s"$dir/merged"),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", shingleSize = 3, numPerm = 64, bands = 16,
          threshold = 0.8)
        .orderBy(col("id_l"), col("id_r"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
          x -> len(x) > 0) AS t
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 3
            THEN list_distinct(list_transform(range(1, len(t)-1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
            ELSE [array_to_string(t, ' ')] END AS s
        FROM toks),
      pairs AS (
        SELECT a.doc_id AS id_l, b.doc_id AS id_r,
          len(list_intersect(a.s, b.s))::DOUBLE AS inter,
          (len(a.s) + len(b.s))::DOUBLE AS tot
        FROM sh a JOIN sh b ON b.doc_id % 2 = 1)
      SELECT id_l, id_r,
        ROUND(CASE WHEN tot - inter > 0 THEN inter / (tot - inter)
          ELSE 1.0 END, 6) AS jaccard
      FROM pairs
      WHERE (CASE WHEN tot - inter > 0 THEN inter / (tot - inter)
        ELSE 1.0 END) >= 0.8
      ORDER BY id_l, id_r"""))

  /** One unrolled training round for the q137 oracle: pair counts over
    * the round's symbol state, the 1-row argmax, and the single-pair
    * left-fold fusion (same fold as q134's, with the pair coming from
    * the argmax row instead of a literal).
    */
  private def trainRound(k: Int): String = {
    val prev = s"s${k - 1}"
    s"""p$k AS (
      SELECT s.a AS a, s.b AS b, CAST(SUM(wn) AS BIGINT) AS cnt FROM (
        SELECT wn, unnest(list_transform(range(1, len(syms)),
          i -> {'a': syms[i], 'b': syms[i+1]})) AS s
        FROM $prev) GROUP BY s.a, s.b),
      b$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
      s$k AS (SELECT w, wn,
        list_reduce(list_transform(syms, s -> [s]),
          (acc, x) -> CASE WHEN acc[-1] = b$k.a AND x[1] = b$k.b
            THEN acc[1:len(acc)-1] || [b$k.a || b$k.b]
            ELSE acc || x END) AS syms
      FROM $prev CROSS JOIN b$k)"""
  }

  /** Full BPE vocabulary training (TextOps.bpeTrain, 6 merges): the
    * iterative learn loop q92 is one step of — count pairs, take the
    * global argmax, fuse it everywhere, repeat. The oracle unrolls all
    * six rounds (the q121/q97 training-loop pattern): per round a pair
    * aggregate over the symbol state, a 1-row deterministic argmax
    * (cnt desc, a asc, b asc), and the same single-pair left-fold the
    * engine applies — so a hash-match certifies the SEQUENTIAL trainer
    * semantics (round k fuses only merge k into state carrying merges
    * 1..k−1), not just the final counts. On this corpus round 6 learns
    * a multi-level merge (m + er), exercising the symbol-level — not
    * character-level — path. q92 induces candidates, q137 trains the
    * list, q134 applies it: the tokenizer-training story end to end.
    */
  private val q137 = GQuery(
    (s, d) => graft.scale.TextOps
      .bpeTrain(T.documents(s, d), "text", numMerges = 6)
      .orderBy(col("rank")),
    Some(s"""WITH words AS (
        SELECT w, COUNT(*)::BIGINT AS wn FROM (
          SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
            x -> len(x) > 0)) AS w FROM documents) GROUP BY w),
      s0 AS (SELECT w, wn,
        list_transform(range(1, length(w)+1), i -> w[i]) AS syms
        FROM words),
      ${(1 to 6).map(trainRound).mkString(",\n      ")}
      SELECT * FROM (
        ${(1 to 6).map(k =>
          s"SELECT $k::BIGINT AS rank, a, b, cnt FROM b$k")
          .mkString(" UNION ALL ")})
      ORDER BY rank"""))

  /** Binned range join (RangeJoin.pointInInterval): KEYLESS
    * point-in-interval pairing — lineitem price points inside
    * [o_totalprice, +2000.00] order price bands — planned as an EQUI join
    * on the bin column instead of the BroadcastNestedLoopJoin Spark gives
    * a bare BETWEEN join (q119's interval join covers the equi-key case;
    * this is the case with no key at all). Domain is exact integer cents
    * (floor(price·100) — floor, not cast, because DuckDB's double→BIGINT
    * cast rounds while Spark's truncates); bin width 1000.00 puts each
    * 2000.00 interval in ≤ 3 bins. The oracle is the plain BETWEEN
    * join, so a hash-match certifies the binning produces EXACTLY the
    * non-equi join — no duplicate pair (each pair meets only in the
    * point's bin), no boundary loss (integer bin edges, inclusive
    * bounds). PlanSpec asserts the nested-loop never appears.
    */
  private val q138 = GQuery(
    (s, d) => {
      val iv = T.orders(s, d).where(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("lo"))
        .withColumn("hi", col("lo") + 200000L)
      val pts = T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice") * 100).cast("long").as("p"))
      graft.operators.RangeJoin
        .pointInInterval(pts, "p", iv, "lo", "hi", binWidth = 100000L)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_points"), sum(col("p")).as("sum_points"))
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH iv AS (
        SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS lo,
          CAST(floor(o_totalprice * 100) AS BIGINT) + 200000 AS hi
        FROM orders WHERE o_orderkey % 97 = 0),
      pts AS (
        SELECT l_orderkey, l_linenumber,
          CAST(floor(l_extendedprice * 100) AS BIGINT) AS p
        FROM lineitem)
      SELECT iv.o_orderkey, COUNT(*)::BIGINT AS n_points,
        CAST(SUM(pts.p) AS BIGINT) AS sum_points
      FROM iv JOIN pts ON pts.p BETWEEN iv.lo AND iv.hi
      GROUP BY iv.o_orderkey ORDER BY iv.o_orderkey"""))

  /** Incremental connected components (Dedup.mergeComponents): a 265-
    * component labeling absorbs a batch of new edges — fusing down to 32
    * components and admitting 688 previously-unseen nodes — WITHOUT
    * re-clustering the old graph: the batch projects into component
    * space, a batch-sized CC decides which labels fuse, and the corpus
    * labels table is touched by one broadcast-relabel join. The oracle
    * resolves exact reachability over the UNION graph (the q41 recursive
    * CTE), so a hash-match certifies merge(cc(old), new) ≡ cc(old ∪ new)
    * including min-id label semantics. The steady-state dedup-clustering
    * maintenance shape next to q136's index merge.
    */
  private val q139 = GQuery(
    (s, d) => {
      val base = T.lineitem(s, d).where(col("l_orderkey") % 23 === 0)
        .select(
          least(col("l_orderkey") % 2000, lit(2000) + col("l_partkey") % 2000)
            .as("id_a"),
          greatest(col("l_orderkey") % 2000, lit(2000) + col("l_partkey") % 2000)
            .as("id_b"),
          (col("l_linenumber") % 2).as("par"))
      def edges(par: Int) = base.where(col("par") === par)
        .select(col("id_a"), col("id_b")).distinct()
      val old = edges(0)
      val oldIds = old.select(col("id_a").as("id"))
        .union(old.select(col("id_b").as("id"))).distinct()
      val labels = graft.scale.Dedup.connectedComponents(oldIds, old)
      graft.scale.Dedup.mergeComponents(labels, edges(1))
        .orderBy(col("id"))
    },
    Some("""WITH RECURSIVE e0 AS (
        SELECT DISTINCT
          least(l_orderkey % 2000, 2000 + l_partkey % 2000) AS id_a,
          greatest(l_orderkey % 2000, 2000 + l_partkey % 2000) AS id_b
        FROM lineitem WHERE l_orderkey % 23 = 0),
      edges AS (SELECT id_a AS src, id_b AS dst FROM e0
        UNION ALL SELECT id_b, id_a FROM e0),
      ids AS (SELECT id_a AS id FROM e0 UNION SELECT id_b FROM e0),
      reach(id, comp) AS (
        SELECT id, id FROM ids
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id)
      SELECT id, MIN(comp) AS component FROM reach GROUP BY id
      ORDER BY id"""))

  /** One PQ subspace's oracle CTEs (q97's unrolled-KMeans pattern on the
    * sliced vectors): seed → assign → rounded means → final codes → the
    * query's distance-table row per centroid.
    */
  /** Nearest-centroid CTE (first-min-wins, (distance, index) tiebreak):
    * `out`(vec_id, j) assigning each `src` row's `vecCol` to `cents`.
    */
  private def argminCte(src: String, vecCol: String, cents: String,
      out: String): String =
    s"""$out AS (SELECT vec_id, j FROM (
      SELECT $src.vec_id, $cents.j,
        ROW_NUMBER() OVER (PARTITION BY $src.vec_id ORDER BY
          list_sum(list_transform(list_zip($src.$vecCol, $cents.c),
            p -> (p[1]-p[2])**2)), $cents.j) AS rn
      FROM $src CROSS JOIN $cents) WHERE rn = 1)"""

  /** One unrolled KMeans (k, 2 iters) on `src`.`vecCol`, emitting
    * `c0_$tag` seed, `a1_$tag` assignment, `c1_$tag` final rounded-mean
    * centroids — the q97 oracle pattern parameterized.
    */
  private def kmeansCtes(tag: String, src: String, vecCol: String,
      k: Int): String =
    s"""c0_$tag AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
        $vecCol AS c FROM (SELECT vec_id, $vecCol FROM $src ORDER BY vec_id LIMIT $k)),
      ${argminCte(src, vecCol, s"c0_$tag", s"a1_$tag")},
      c1_$tag AS (SELECT cluster AS j, list(m ORDER BY pos) AS c FROM (
        SELECT a.j AS cluster, pos, round(AVG(x), 6) AS m FROM (
          SELECT vec_id, generate_subscripts($vecCol, 1) AS pos,
            unnest($vecCol) AS x
          FROM $src) ex JOIN a1_$tag a USING (vec_id)
        GROUP BY a.j, pos) GROUP BY cluster)"""

  /** One PQ subspace's CTE chain: codebook trained on `trainSrc`, codes
    * computed over `encodeSrc` (identical by default — q140/q142; the
    * frozen-model merge oracle q143 trains on the corpus snapshot and
    * encodes the merged set).
    */
  private def pqSubspace(s: Int, lo: Int, hi: Int, trainSrc: String = "e",
      encodeSrc: String = "e"): String = {
    val encPrefix =
      if (encodeSrc == trainSrc) ""
      else s"enc$s AS (SELECT vec_id, v[$lo:$hi] AS sv FROM $encodeSrc),\n      "
    val encTbl = if (encodeSrc == trainSrc) s"e$s" else s"enc$s"
    s"""e$s AS (SELECT vec_id, v[$lo:$hi] AS sv FROM $trainSrc),
      ${kmeansCtes(s.toString, s"e$s", "sv", 4)},
      $encPrefix${argminCte(encTbl, "sv", s"c1_$s", s"code_$s")},
      t_$s AS (SELECT c1_$s.j,
        list_sum(list_transform(list_zip(qv.v[$lo:$hi], c1_$s.c),
          p -> (p[1]-p[2])**2)) AS dist
        FROM c1_$s CROSS JOIN qv)"""
  }

  /** Product quantization end to end (Pq.trainCodebooks → encode →
    * adcTopK): four 16-dim subspace codebooks trained with the exact q97
    * Lloyd arithmetic on the sliced vectors, every vector encoded as 4
    * codes (64 floats → 4 bytes, the compression that makes 100 TB ANN
    * scans memory-resident), and vec 0's query answered by asymmetric
    * distance — per-subspace lookup tables + a left-to-right 4-term sum,
    * top-10 by (distance, id). The oracle unrolls ALL of it — four
    * independent unrolled KMeans runs, the final-codebook encodings, the
    * query's distance tables, the same sum order and 6dp round — so a
    * hash-match certifies training, encoding, and the ADC query path in
    * one composed pipeline. Extends the ANN ladder q27 (brute) → q39
    * (LSH) → q82 (IVF) with its terminal rung.
    */
  private val q140 = GQuery(
    (s, d) => {
      val emb = T.embeddings(s, d)
      val cb = graft.scale.Pq.trainCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 2)
      val codes = graft.scale.Pq.encode(emb, "vec_id", "embedding", cb)
      val query = emb.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().head.getSeq[Double](0).toArray
      graft.scale.Pq.adcTopK(codes, "vec_id", cb, query, topK = 10)
        .orderBy(col("rank"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      qv AS (SELECT v FROM e WHERE vec_id = 0),
      ${Seq((1, 1, 16), (2, 17, 32), (3, 33, 48), (4, 49, 64))
        .map { case (s0, lo, hi) => pqSubspace(s0, lo, hi) }
        .mkString(",\n      ")},
      sc AS (SELECT code_1.vec_id,
          round(t_1.dist + t_2.dist + t_3.dist + t_4.dist, 6) AS adc_dist
        FROM code_1
        JOIN code_2 USING (vec_id) JOIN code_3 USING (vec_id)
        JOIN code_4 USING (vec_id)
        JOIN t_1 ON t_1.j = code_1.j
        JOIN t_2 ON t_2.j = code_2.j
        JOIN t_3 ON t_3.j = code_3.j
        JOIN t_4 ON t_4.j = code_4.j),
      r AS (SELECT vec_id, adc_dist, CAST(ROW_NUMBER() OVER (
          ORDER BY adc_dist, vec_id) AS BIGINT) AS rank FROM sc)
      SELECT vec_id, adc_dist, rank FROM r WHERE rank <= 10
      ORDER BY rank"""))

  /** The q206 WordPiece vocabulary, pinned (the q134 pinned-merges
    * pattern): every lowercase letter and digit in both word-initial and
    * `##`-continuation form, plus common multi-character pieces of each
    * kind — so greedy longest-match, continuation prefixing, and the
    * whole-word-UNK rule (words containing anything outside [a-z0-9])
    * all fire on the real corpus.
    */
  private val WpVocab: Seq[String] = {
    val chars = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
    chars ++ chars.map("##" + _) ++
      Seq("th", "the", "re", "in", "on", "an", "qu", "pro", "con") ++
      Seq("##ing", "##ed", "##er", "##es", "##tion", "##ent", "##al",
        "##ly", "##ion", "##at")
  }

  /** WordPiece apply over the corpus vocabulary
    * (TextOps.wordpieceEncodeWords + the WordPieceEncodeWord codegen
    * kernel): greedy longest-match-first against the pinned vocab,
    * `##`-prefixed continuations, whole word → [UNK] on any unmatched
    * position — BERT's encoder, completing the tokenizer triad (BPE
    * q134/q137, unigram q197/q198). Same per-DISTINCT-word collapse as
    * q134. The oracle replays the exact greedy loop as a recursive CTE:
    * per step, best k = MAX piece length whose (position-dependent)
    * piece form is in the vocab, advance or fail — so a hash-match
    * certifies match order, prefixing, UNK semantics, and the join-back
    * counts for every corpus word.
    */
  private val q206 = GQuery(
    (s, d) => graft.scale.TextOps
      .wordpieceEncodeWords(T.documents(s, d), "text", WpVocab)
      .orderBy(col("w")),
    Some(s"""WITH RECURSIVE
      v AS (SELECT ${sqlList(WpVocab)} AS vocab),
      words AS (
        SELECT w, COUNT(*)::BIGINT AS wn FROM (
          SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
            x -> len(x) > 0)) AS w
          FROM documents) GROUP BY w),
      enc(w, pos, toks, bad) AS (
        SELECT w, 1::BIGINT, []::VARCHAR[], length(w) > 100 FROM words
        UNION ALL
        SELECT w,
          CASE WHEN bk IS NULL THEN length(w)::BIGINT + 1 ELSE pos + bk END,
          CASE WHEN bk IS NULL THEN toks
            ELSE list_append(toks, CASE WHEN pos = 1 THEN w[pos:pos+bk-1]
              ELSE '##' || w[pos:pos+bk-1] END) END,
          bk IS NULL
        FROM (
          SELECT w, pos, toks,
            list_max(list_filter(range(1, length(w) - pos + 2),
              k -> list_contains(v.vocab,
                CASE WHEN pos = 1 THEN w[pos:pos+k-1]
                  ELSE '##' || w[pos:pos+k-1] END))) AS bk
          FROM enc CROSS JOIN v
          WHERE pos <= length(w) AND NOT bad)),
      term AS (
        SELECT w, CASE WHEN bad THEN ['[UNK]'] ELSE toks END AS toks
        FROM enc WHERE bad OR pos > length(w))
      SELECT t.w AS w, array_to_string(t.toks, ' ') AS encoded,
        len(t.toks)::BIGINT AS n_tokens, words.wn
      FROM term t JOIN words USING (w) ORDER BY w"""))

  /** The q205 rotation literal as DuckDB SQL: one
    * `round(list_reduce(...), 6)` index-order left fold per output
    * dimension — the exact [[graft.scale.Opq.rotate]] arithmetic with
    * the ±1/√64 = ±0.125 Hadamard entries pinned (exact IEEE doubles,
    * which is what makes the rotation oracle-replayable bit for bit).
    */
  private def hadamardRotateSql(dim: Int): String = {
    val rot = graft.scale.Opq.hadamardRotation(dim)
    val dims = rot.map { row =>
      val w = row.map(x => if (x > 0) "0.125" else "-0.125")
        .mkString("[", ",", "]")
      s"""round(list_reduce(list_prepend(0.0::DOUBLE,
        list_transform(list_zip(v, $w), p -> p[1] * p[2])),
        (a, x) -> a + x), 6)"""
    }
    dims.mkString("[", ",\n        ", "]")
  }

  /** OPQ-rotated product quantization (Opq.rotate → Pq.trainCodebooks →
    * encode → adcTopK): the recall upgrade to q140 for correlated /
    * variance-skewed embeddings — rotate every vector (and the query)
    * with ONE broadcast d×d orthogonal matrix before subspace slicing,
    * so the per-subspace codebooks quantize balanced information instead
    * of whatever the contiguous dimension order happened to carry. The
    * pinned matrix here is the structured Hadamard rotation (±1/8 —
    * exact IEEE, the verdict's "fixed matrix, pinned folds" shape); the
    * corpus-TRAINED parametric-OPQ rotation (PCA + balanced eigenvalue
    * allocation, Ge et al.) shares the identical apply path and is
    * certified by AnalyticsSpec's driver replay + recall-vs-plain-PQ
    * assertion, the q134(pinned)/q137(trained) split applied to
    * rotations. The oracle replays rotation folds, four unrolled KMeans
    * runs on the rotated slices, encodings, ADC tables, sum order and
    * rounding — the full pipeline in rotated space.
    */
  private val q205 = GQuery(
    (s, d) => {
      val emb = T.embeddings(s, d)
      val rot = graft.scale.Opq.hadamardRotation(64)
      val re = graft.scale.Opq.rotate(emb, "vec_id", "embedding", rot)
      val cb = graft.scale.Pq.trainCodebooks(re, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 2)
      val codes = graft.scale.Pq.encode(re, "vec_id", "embedding", cb)
      val q0 = emb.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().head.getSeq[Double](0).toArray
      graft.scale.Pq.adcTopK(codes, "vec_id", cb,
          graft.scale.Opq.rotateVector(q0, rot), topK = 10)
        .orderBy(col("rank"))
    },
    Some(s"""WITH e0 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      e AS (SELECT vec_id, ${hadamardRotateSql(64)} AS v FROM e0),
      qv AS (SELECT v FROM e WHERE vec_id = 0),
      ${Seq((1, 1, 16), (2, 17, 32), (3, 33, 48), (4, 49, 64))
        .map { case (s0, lo, hi) => pqSubspace(s0, lo, hi) }
        .mkString(",\n      ")},
      sc AS (SELECT code_1.vec_id,
          round(t_1.dist + t_2.dist + t_3.dist + t_4.dist, 6) AS adc_dist
        FROM code_1
        JOIN code_2 USING (vec_id) JOIN code_3 USING (vec_id)
        JOIN code_4 USING (vec_id)
        JOIN t_1 ON t_1.j = code_1.j
        JOIN t_2 ON t_2.j = code_2.j
        JOIN t_3 ON t_3.j = code_3.j
        JOIN t_4 ON t_4.j = code_4.j),
      r AS (SELECT vec_id, adc_dist, CAST(ROW_NUMBER() OVER (
          ORDER BY adc_dist, vec_id) AS BIGINT) AS rank FROM sc)
      SELECT vec_id, adc_dist, rank FROM r WHERE rank <= 10
      ORDER BY rank"""))

  /** OPQ rotation composed into the FULL IVF+PQ serve path
    * (Opq.rotate → Pq.buildIvfPqIndex, Opq.rotateVector → Pq.ivfPqTopK):
    * q142's composed billion-scale ANN shape with every vector rotated
    * before coarse assignment and subspace encoding, and the query
    * rotated once driver-side — the production form of q205's rotation
    * certificate (q205 proves rotate→encode→ADC; this proves the rotation threads
    * through coarse quantization, cell probing, and the cell-restricted
    * ADC ranking without touching the serve path's shape). The pinned
    * Hadamard rotation keeps the oracle exact; the corpus-trained OPQ
    * rotation shares this identical code path and its recall gain over
    * unrotated IVF+PQ is asserted in AnalyticsSpec. The oracle is q142's
    * full unroll (coarse KMeans, probe selection, four subspace
    * codebooks, cell-restricted ADC) running entirely in rotated space.
    */
  private val q210 = GQuery(
    (s, d) => {
      val emb = T.embeddings(s, d)
      val rot = graft.scale.Opq.hadamardRotation(64)
      val re = graft.scale.Opq.rotate(emb, "vec_id", "embedding", rot)
      val coarse = graft.scale.Clustering
        .lloydTrain(re, "vec_id", "embedding", k = 8, iters = 2)
      val cb = graft.scale.Pq.trainCodebooks(re, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 2)
      val idx = graft.scale.Pq.buildIvfPqIndex(re, "vec_id", "embedding",
        coarse, cb)
      val q0 = emb.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().head.getSeq[Double](0).toArray
      graft.scale.Pq.ivfPqTopK(idx, "vec_id", coarse, cb,
          graft.scale.Opq.rotateVector(q0, rot), nprobe = 2, topK = 10)
        .orderBy(col("rank"))
    },
    Some(s"""WITH e0 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      e AS (SELECT vec_id, ${hadamardRotateSql(64)} AS v FROM e0),
      qv AS (SELECT v FROM e WHERE vec_id = 0),
      ${kmeansCtes("c", "e", "v", 8)},
      ${argminCte("e", "v", "c1_c", "cellv")},
      probe AS (SELECT j FROM (
        SELECT c1_c.j, ROW_NUMBER() OVER (ORDER BY
          list_sum(list_transform(list_zip(qv.v, c1_c.c),
            p -> (p[1]-p[2])**2)), c1_c.j) AS rn
        FROM c1_c CROSS JOIN qv) WHERE rn <= 2),
      ${Seq((1, 1, 16), (2, 17, 32), (3, 33, 48), (4, 49, 64))
        .map { case (s0, lo, hi) => pqSubspace(s0, lo, hi) }
        .mkString(",\n      ")},
      cand AS (SELECT cellv.vec_id, cellv.j AS cell
        FROM cellv JOIN probe ON cellv.j = probe.j),
      sc AS (SELECT cand.vec_id, cand.cell,
          round(t_1.dist + t_2.dist + t_3.dist + t_4.dist, 6) AS adc_dist
        FROM cand
        JOIN code_1 USING (vec_id) JOIN code_2 USING (vec_id)
        JOIN code_3 USING (vec_id) JOIN code_4 USING (vec_id)
        JOIN t_1 ON t_1.j = code_1.j
        JOIN t_2 ON t_2.j = code_2.j
        JOIN t_3 ON t_3.j = code_3.j
        JOIN t_4 ON t_4.j = code_4.j),
      r AS (SELECT vec_id, cell, adc_dist, CAST(ROW_NUMBER() OVER (
          ORDER BY adc_dist, vec_id) AS BIGINT) AS rank FROM sc)
      SELECT vec_id, cell, adc_dist, rank FROM r WHERE rank <= 10
      ORDER BY rank"""))

  /** Incremental maintenance of the ROTATED IVF+PQ index
    * (Opq.rotate → Pq.mergeIvfPqIndex) — q143's frozen-model merge lifecycle
    * with the rotation as a fourth frozen model: coarse quantizer,
    * codebooks AND rotation train on the corpus snapshot; the arriving
    * batch (including re-ingested ids with REVERSED raw embeddings —
    * changed content) is rotated, assigned, and encoded alone, folded in
    * batch-wins, and the composed rotated search runs over the merged
    * index. Completes the rotated lifecycle: build (q210) → merge →
    * serve. The oracle rebuilds the merged set relationally from RAW
    * vectors (reverse FIRST, rotate SECOND — order matters and a swap
    * flips the hash), trains on the rotated snapshot, and replays
    * probe + cell-restricted ADC in rotated space.
    */
  private val q214 = GQuery(
    (s, d) => {
      val emb = T.embeddings(s, d)
      val rot = graft.scale.Opq.hadamardRotation(64)
      val corpus = emb.where(col("vec_id") % 3 =!= 0)
      val batch = emb.where(col("vec_id") % 3 === 0)
        .unionByName(emb.where(col("vec_id") % 21 === 1)
          .withColumn("embedding", reverse(col("embedding"))))
      val rc = graft.scale.Opq.rotate(corpus, "vec_id", "embedding", rot)
      val coarse = graft.scale.Clustering
        .lloydTrain(rc, "vec_id", "embedding", k = 8, iters = 2)
      val cb = graft.scale.Pq.trainCodebooks(rc, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 2)
      val idx = graft.scale.Pq.buildIvfPqIndex(rc, "vec_id", "embedding",
        coarse, cb)
      val merged = graft.scale.Pq.mergeIvfPqIndex(idx,
        graft.scale.Opq.rotate(batch, "vec_id", "embedding", rot),
        "vec_id", "embedding", coarse, cb)
      val q0 = emb.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().head.getSeq[Double](0).toArray
      graft.scale.Pq.ivfPqTopK(merged, "vec_id", coarse, cb,
          graft.scale.Opq.rotateVector(q0, rot), nprobe = 2, topK = 10)
        .orderBy(col("rank"))
    },
    Some(s"""WITH e0 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      e AS (SELECT vec_id, ${hadamardRotateSql(64)} AS v FROM e0),
      b0 AS (
        SELECT vec_id, v FROM e0 WHERE vec_id % 3 = 0
        UNION ALL
        SELECT vec_id, list_reverse(v) AS v FROM e0 WHERE vec_id % 21 = 1),
      b AS (SELECT vec_id, ${hadamardRotateSql(64)} AS v FROM b0),
      e_train AS (SELECT vec_id, v FROM e WHERE vec_id % 3 <> 0),
      m_all AS (
        SELECT vec_id, v FROM e_train
        WHERE vec_id NOT IN (SELECT vec_id FROM b)
        UNION ALL SELECT vec_id, v FROM b),
      qv AS (SELECT v FROM e WHERE vec_id = 0),
      ${kmeansCtes("c", "e_train", "v", 8)},
      ${argminCte("m_all", "v", "c1_c", "cellv")},
      probe AS (SELECT j FROM (
        SELECT c1_c.j, ROW_NUMBER() OVER (ORDER BY
          list_sum(list_transform(list_zip(qv.v, c1_c.c),
            p -> (p[1]-p[2])**2)), c1_c.j) AS rn
        FROM c1_c CROSS JOIN qv) WHERE rn <= 2),
      ${Seq((1, 1, 16), (2, 17, 32), (3, 33, 48), (4, 49, 64))
        .map { case (s0, lo, hi) =>
          pqSubspace(s0, lo, hi, trainSrc = "e_train", encodeSrc = "m_all") }
        .mkString(",\n      ")},
      cand AS (SELECT cellv.vec_id, cellv.j AS cell
        FROM cellv JOIN probe ON cellv.j = probe.j),
      sc AS (SELECT cand.vec_id, cand.cell,
          round(t_1.dist + t_2.dist + t_3.dist + t_4.dist, 6) AS adc_dist
        FROM cand
        JOIN code_1 USING (vec_id) JOIN code_2 USING (vec_id)
        JOIN code_3 USING (vec_id) JOIN code_4 USING (vec_id)
        JOIN t_1 ON t_1.j = code_1.j
        JOIN t_2 ON t_2.j = code_2.j
        JOIN t_3 ON t_3.j = code_3.j
        JOIN t_4 ON t_4.j = code_4.j),
      r AS (SELECT vec_id, cell, adc_dist, CAST(ROW_NUMBER() OVER (
          ORDER BY adc_dist, vec_id) AS BIGINT) AS rank FROM sc)
      SELECT vec_id, cell, adc_dist, rank FROM r WHERE rank <= 10
      ORDER BY rank"""))

  /** Per-doc BPE token costing (TextOps.bpeTokenCosts): the q134 merge
    * list applied to every document's token stream through the
    * encoded-vocab broadcast join — the daily operator of a pipeline
    * (packing inputs, token accounting). The oracle replays the q134
    * recursive-CTE encoding and joins the per-word costs back to the raw
    * token stream, so a hash-match certifies the join-back plus the
    * never-re-encode contract end to end (counts would drift if any word
    * were encoded differently at doc scope than at vocab scope).
    */
  private val q141 = GQuery(
    (s, d) => graft.scale.TextOps
      .bpeTokenCosts(T.documents(s, d), "doc_id", "text", Merges)
      .orderBy(col("doc_id")),
    Some(s"""WITH RECURSIVE
      m AS (SELECT ${sqlList(Merges.map(_._1))} AS ma,
        ${sqlList(Merges.map(_._2))} AS mb,
        list_transform(
          list_zip(${sqlList(Merges.map(_._1))}, ${sqlList(Merges.map(_._2))}),
          p -> p[1] || chr(1) || p[2]) AS mk),
      toks AS (
        SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'),
          x -> len(x) > 0)) AS w
        FROM documents),
      words AS (SELECT DISTINCT w FROM toks),
      seed AS (
        SELECT w, list_transform(range(1, length(w)+1), i -> w[i]) AS syms
        FROM words),
      enc AS (
        SELECT w, syms FROM seed
        UNION ALL
        SELECT w,
          list_reduce(
            list_transform(syms, s -> [s]),
            (acc, x) -> CASE WHEN acc[-1] = ma[best] AND x[1] = mb[best]
              THEN acc[1:len(acc)-1] || [ma[best] || mb[best]]
              ELSE acc || x END) AS syms
        FROM (SELECT w, syms, $BestRank AS best FROM enc CROSS JOIN m)
          CROSS JOIN m
        WHERE best IS NOT NULL),
      vocab AS (
        SELECT w, len(syms)::BIGINT AS n_tokens
        FROM (SELECT w, syms, $BestRank AS best FROM enc CROSS JOIN m)
        WHERE best IS NULL),
      per_doc AS (
        SELECT toks.doc_id, COUNT(*)::BIGINT AS n_words,
          CAST(SUM(vocab.n_tokens) AS BIGINT) AS bpe_tokens
        FROM toks JOIN vocab USING (w) GROUP BY toks.doc_id)
      SELECT d.doc_id,
        COALESCE(per_doc.n_words, 0) AS n_words,
        COALESCE(per_doc.bpe_tokens, 0) AS bpe_tokens
      FROM documents d LEFT JOIN per_doc USING (doc_id)
      ORDER BY d.doc_id"""))

  /** IVF+PQ composed (Clustering.lloydTrain coarse quantizer +
    * Pq.buildIvfPqIndex + Pq.ivfPqTopK): the full billion-scale ANN
    * shape — 8 learned cells, the query probes its 2 nearest, and only
    * the probed cells' PQ codes are ADC-ranked. The oracle unrolls the
    * coarse KMeans (q97 pattern, k=8), the per-vector cell assignment,
    * the query's probe selection ((distance, index) tiebreak), the four
    * subspace codebooks, and the cell-restricted ADC ranking — one
    * hash-match certifying that probe pruning + compressed scoring
    * compose exactly. At 100 TB the index is partitioned by cell, so
    * this query reads nprobe/k of the files and m bytes per candidate.
    */
  private val q142 = GQuery(
    (s, d) => {
      val emb = T.embeddings(s, d)
      val coarse = graft.scale.Clustering
        .lloydTrain(emb, "vec_id", "embedding", k = 8, iters = 2)
      val cb = graft.scale.Pq.trainCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 2)
      val idx = graft.scale.Pq
        .buildIvfPqIndex(emb, "vec_id", "embedding", coarse, cb)
      val query = emb.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().head.getSeq[Double](0).toArray
      graft.scale.Pq.ivfPqTopK(idx, "vec_id", coarse, cb, query,
        nprobe = 2, topK = 10)
        .orderBy(col("rank"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      qv AS (SELECT v FROM e WHERE vec_id = 0),
      ${kmeansCtes("c", "e", "v", 8)},
      ${argminCte("e", "v", "c1_c", "cellv")},
      probe AS (SELECT j FROM (
        SELECT c1_c.j, ROW_NUMBER() OVER (ORDER BY
          list_sum(list_transform(list_zip(qv.v, c1_c.c),
            p -> (p[1]-p[2])**2)), c1_c.j) AS rn
        FROM c1_c CROSS JOIN qv) WHERE rn <= 2),
      ${Seq((1, 1, 16), (2, 17, 32), (3, 33, 48), (4, 49, 64))
        .map { case (s0, lo, hi) => pqSubspace(s0, lo, hi) }
        .mkString(",\n      ")},
      cand AS (SELECT cellv.vec_id, cellv.j AS cell
        FROM cellv JOIN probe ON cellv.j = probe.j),
      sc AS (SELECT cand.vec_id, cand.cell,
          round(t_1.dist + t_2.dist + t_3.dist + t_4.dist, 6) AS adc_dist
        FROM cand
        JOIN code_1 USING (vec_id) JOIN code_2 USING (vec_id)
        JOIN code_3 USING (vec_id) JOIN code_4 USING (vec_id)
        JOIN t_1 ON t_1.j = code_1.j
        JOIN t_2 ON t_2.j = code_2.j
        JOIN t_3 ON t_3.j = code_3.j
        JOIN t_4 ON t_4.j = code_4.j),
      r AS (SELECT vec_id, cell, adc_dist, CAST(ROW_NUMBER() OVER (
          ORDER BY adc_dist, vec_id) AS BIGINT) AS rank FROM sc)
      SELECT vec_id, cell, adc_dist, rank FROM r WHERE rank <= 10
      ORDER BY rank"""))

  /** ANN recall@k measurement ([[graft.scale.Pq.ivfPqRecallEval]] —
    * q195's measure-don't-trust discipline for the ANN family): the q142
    * IVF+PQ config served at nprobe 2 of 8 cells, scored against the
    * EXACT L2 top-10 (pinned left-fold ordering, id tiebreak,
    * TakeOrdered cut). The oracle composes q142's full ADC replay with a
    * brute-force exact ranking and intersects — a hash-match certifies
    * the recall NUMBER itself, which is what an index-config decision
    * actually consumes.
    */
  private val q222 = GQuery(
    (s, d) => {
      val emb = T.embeddings(s, d)
      val coarse = graft.scale.Clustering
        .lloydTrain(emb, "vec_id", "embedding", k = 8, iters = 2)
      val cb = graft.scale.Pq.trainCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 2)
      val idx = graft.scale.Pq
        .buildIvfPqIndex(emb, "vec_id", "embedding", coarse, cb)
      val query = emb.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().head.getSeq[Double](0).toArray
      graft.scale.Pq.ivfPqRecallEval(emb, "vec_id", "embedding", idx,
        coarse, cb, query, nprobe = 2, topK = 10)
    },
    Some(s"""WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      qv AS (SELECT v FROM e WHERE vec_id = 0),
      ${kmeansCtes("c", "e", "v", 8)},
      ${argminCte("e", "v", "c1_c", "cellv")},
      probe AS (SELECT j FROM (
        SELECT c1_c.j, ROW_NUMBER() OVER (ORDER BY
          list_sum(list_transform(list_zip(qv.v, c1_c.c),
            p -> (p[1]-p[2])**2)), c1_c.j) AS rn
        FROM c1_c CROSS JOIN qv) WHERE rn <= 2),
      ${Seq((1, 1, 16), (2, 17, 32), (3, 33, 48), (4, 49, 64))
        .map { case (s0, lo, hi) => pqSubspace(s0, lo, hi) }
        .mkString(",\n      ")},
      cand AS (SELECT cellv.vec_id, cellv.j AS cell
        FROM cellv JOIN probe ON cellv.j = probe.j),
      sc AS (SELECT cand.vec_id,
          round(t_1.dist + t_2.dist + t_3.dist + t_4.dist, 6) AS adc_dist
        FROM cand
        JOIN code_1 USING (vec_id) JOIN code_2 USING (vec_id)
        JOIN code_3 USING (vec_id) JOIN code_4 USING (vec_id)
        JOIN t_1 ON t_1.j = code_1.j
        JOIN t_2 ON t_2.j = code_2.j
        JOIN t_3 ON t_3.j = code_3.j
        JOIN t_4 ON t_4.j = code_4.j),
      f AS (SELECT vec_id FROM (SELECT vec_id, ROW_NUMBER() OVER (
          ORDER BY adc_dist, vec_id) AS rank FROM sc) WHERE rank <= 10),
      tr AS (SELECT vec_id FROM (SELECT e.vec_id, ROW_NUMBER() OVER (
          ORDER BY ${ScaleQueries.foldSum((1 to 64).map(i =>
            s"((e.v[$i] - qv.v[$i]) * (e.v[$i] - qv.v[$i]))"))}, e.vec_id)
            AS rn
        FROM e CROSS JOIN qv) WHERE rn <= 10),
      h AS (SELECT COUNT(*)::BIGINT AS n_hit FROM tr
        JOIN f USING (vec_id))
      SELECT 2::BIGINT AS nprobe, 10::BIGINT AS k, n_hit,
        ROUND(n_hit::DOUBLE / 10.0, 6) AS recall
      FROM h"""))

  /** ANN recall/cost curve ([[graft.scale.Pq.ivfPqRecallCurve]] — q222's
    * single measurement generalized into the config TUNER): the q142
    * IVF+PQ config probed at nprobe ∈ {1, 2, 4, 8} of 8 cells, every
    * config scored against ONE shared exact L2 top-10 and costed by the
    * index fraction its ADC scan touches. The oracle ranks the cells
    * once, scores every vector's ADC distance once, and replays each
    * config as a rank-filtered cut — a hash-match certifies the whole
    * curve (recall AND scanned_rows per config), which is exactly the
    * table a pick rule consumes ("cheapest config with recall ≥ target").
    * The measured curve is the operator's argument: recall 0.3 → 0.2 →
    * 0.1 as nprobe widens 1 → 2 → 4 — MORE probing means WORSE recall
    * here, because the m=4/k=4 quantizer's impostors displace true
    * neighbors from the ADC cut (see Pq.ivfPqRecallCurve's scaladoc);
    * only the curve, not any single point, can tell a user to retrain
    * the codebooks instead of widening the probe.
    */
  private val q224 = GQuery(
    (s, d) => {
      val emb = T.embeddings(s, d)
      val coarse = graft.scale.Clustering
        .lloydTrain(emb, "vec_id", "embedding", k = 8, iters = 2)
      val cb = graft.scale.Pq.trainCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 2)
      val idx = graft.scale.Pq
        .buildIvfPqIndex(emb, "vec_id", "embedding", coarse, cb)
      val query = emb.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().head.getSeq[Double](0).toArray
      graft.scale.Pq.ivfPqRecallCurve(emb, "vec_id", "embedding", idx,
        coarse, cb, query, nprobes = Seq(1, 2, 4, 8), topK = 10)
    },
    Some {
      val nps = Seq(1, 2, 4, 8)
      val perNp = nps.map { np =>
        s"""f_$np AS (SELECT vec_id FROM (
          SELECT sc.vec_id, ROW_NUMBER() OVER (
            ORDER BY sc.adc_dist, sc.vec_id) AS rank
          FROM sc JOIN prb ON sc.cell = prb.j WHERE prb.rn <= $np)
        WHERE rank <= 10),
      h_$np AS (SELECT COUNT(*)::BIGINT AS n_hit FROM tr
        JOIN f_$np USING (vec_id)),
      s_$np AS (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS sr
        FROM cnt JOIN prb ON cnt.cell = prb.j WHERE prb.rn <= $np)"""
      }.mkString(",\n      ")
      val rows = nps.map { np =>
        s"""SELECT $np::BIGINT AS nprobe, 10::BIGINT AS k, h_$np.n_hit,
          ROUND(h_$np.n_hit::DOUBLE / 10.0, 6) AS recall,
          s_$np.sr AS scanned_rows,
          ROUND(s_$np.sr::DOUBLE / tot.t::DOUBLE, 6) AS scanned_frac
        FROM h_$np, s_$np, tot"""
      }.mkString("\n      UNION ALL\n      ")
      s"""WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      qv AS (SELECT v FROM e WHERE vec_id = 0),
      ${kmeansCtes("c", "e", "v", 8)},
      ${argminCte("e", "v", "c1_c", "cellv")},
      prb AS (SELECT c1_c.j, ROW_NUMBER() OVER (ORDER BY
          list_sum(list_transform(list_zip(qv.v, c1_c.c),
            p -> (p[1]-p[2])**2)), c1_c.j) AS rn
        FROM c1_c CROSS JOIN qv),
      ${Seq((1, 1, 16), (2, 17, 32), (3, 33, 48), (4, 49, 64))
        .map { case (s0, lo, hi) => pqSubspace(s0, lo, hi) }
        .mkString(",\n      ")},
      sc AS (SELECT cellv.vec_id, cellv.j AS cell,
          round(t_1.dist + t_2.dist + t_3.dist + t_4.dist, 6) AS adc_dist
        FROM cellv
        JOIN code_1 ON code_1.vec_id = cellv.vec_id
        JOIN code_2 ON code_2.vec_id = cellv.vec_id
        JOIN code_3 ON code_3.vec_id = cellv.vec_id
        JOIN code_4 ON code_4.vec_id = cellv.vec_id
        JOIN t_1 ON t_1.j = code_1.j
        JOIN t_2 ON t_2.j = code_2.j
        JOIN t_3 ON t_3.j = code_3.j
        JOIN t_4 ON t_4.j = code_4.j),
      cnt AS (SELECT cellv.j AS cell, COUNT(*)::BIGINT AS c
        FROM cellv GROUP BY cellv.j),
      tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt),
      tr AS (SELECT vec_id FROM (SELECT e.vec_id, ROW_NUMBER() OVER (
          ORDER BY ${ScaleQueries.foldSum((1 to 64).map(i =>
            s"((e.v[$i] - qv.v[$i]) * (e.v[$i] - qv.v[$i]))"))}, e.vec_id)
            AS rn
        FROM e CROSS JOIN qv) WHERE rn <= 10),
      $perNp
      SELECT * FROM (
      $rows)
      ORDER BY nprobe"""
    })

  /** Incremental IVF+PQ index maintenance (Pq.mergeIvfPqIndex): the
    * steady-state half of q142 — coarse quantizer and codebooks train on
    * the CORPUS SNAPSHOT only (vec_id % 3 ≠ 0) and stay frozen; an
    * arriving batch (the % 3 = 0 vectors, plus % 21 = 1 re-ingested with
    * REVERSED embeddings — changed content under existing ids) is
    * assigned cells and encoded alone, then folded in batch-wins by id.
    * The composed search then runs over the merged index. The oracle
    * unrolls coarse + subspace training restricted to the snapshot,
    * rebuilds the merged set relationally ((corpus ∖ batch-ids) ∪ batch),
    * and replays assignment, probe selection, and cell-restricted ADC
    * over it — a hash-match certifies merge(build(A), B) ≡
    * build((A ∖ ids(B)) ∪ B) under frozen models, re-ingest precedence
    * included (the reversed vectors land in different cells/codes, so
    * any stale-row leak flips the hash). Completes the index lifecycle
    * story: q131/q136 (minhash), q139 (components), q143 (ANN).
    */
  private val q143 = GQuery(
    (s, d) => {
      val emb = T.embeddings(s, d)
      val corpus = emb.where(col("vec_id") % 3 =!= 0)
      val batch = emb.where(col("vec_id") % 3 === 0)
        .unionByName(emb.where(col("vec_id") % 21 === 1)
          .withColumn("embedding", reverse(col("embedding"))))
      val coarse = graft.scale.Clustering
        .lloydTrain(corpus, "vec_id", "embedding", k = 8, iters = 2)
      val cb = graft.scale.Pq.trainCodebooks(corpus, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 2)
      val idx = graft.scale.Pq
        .buildIvfPqIndex(corpus, "vec_id", "embedding", coarse, cb)
      val merged = graft.scale.Pq
        .mergeIvfPqIndex(idx, batch, "vec_id", "embedding", coarse, cb)
      val query = emb.where(col("vec_id") === 0)
        .select(transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect().head.getSeq[Double](0).toArray
      graft.scale.Pq.ivfPqTopK(merged, "vec_id", coarse, cb, query,
        nprobe = 2, topK = 10)
        .orderBy(col("rank"))
    },
    Some(s"""WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
      e_train AS (SELECT vec_id, v FROM e WHERE vec_id % 3 <> 0),
      batch AS (
        SELECT vec_id, v FROM e WHERE vec_id % 3 = 0
        UNION ALL
        SELECT vec_id, list_reverse(v) AS v FROM e WHERE vec_id % 21 = 1),
      m_all AS (
        SELECT vec_id, v FROM e_train
        WHERE vec_id NOT IN (SELECT vec_id FROM batch)
        UNION ALL SELECT vec_id, v FROM batch),
      qv AS (SELECT v FROM e WHERE vec_id = 0),
      ${kmeansCtes("c", "e_train", "v", 8)},
      ${argminCte("m_all", "v", "c1_c", "cellv")},
      probe AS (SELECT j FROM (
        SELECT c1_c.j, ROW_NUMBER() OVER (ORDER BY
          list_sum(list_transform(list_zip(qv.v, c1_c.c),
            p -> (p[1]-p[2])**2)), c1_c.j) AS rn
        FROM c1_c CROSS JOIN qv) WHERE rn <= 2),
      ${Seq((1, 1, 16), (2, 17, 32), (3, 33, 48), (4, 49, 64))
        .map { case (s0, lo, hi) =>
          pqSubspace(s0, lo, hi, trainSrc = "e_train", encodeSrc = "m_all") }
        .mkString(",\n      ")},
      cand AS (SELECT cellv.vec_id, cellv.j AS cell
        FROM cellv JOIN probe ON cellv.j = probe.j),
      sc AS (SELECT cand.vec_id, cand.cell,
          round(t_1.dist + t_2.dist + t_3.dist + t_4.dist, 6) AS adc_dist
        FROM cand
        JOIN code_1 USING (vec_id) JOIN code_2 USING (vec_id)
        JOIN code_3 USING (vec_id) JOIN code_4 USING (vec_id)
        JOIN t_1 ON t_1.j = code_1.j
        JOIN t_2 ON t_2.j = code_2.j
        JOIN t_3 ON t_3.j = code_3.j
        JOIN t_4 ON t_4.j = code_4.j),
      r AS (SELECT vec_id, cell, adc_dist, CAST(ROW_NUMBER() OVER (
          ORDER BY adc_dist, vec_id) AS BIGINT) AS rank FROM sc)
      SELECT vec_id, cell, adc_dist, rank FROM r WHERE rank <= 10
      ORDER BY rank"""))

  /** Mergeable HyperLogLog vocabulary sketches (scale.Sketches): the
    * corpus splits into two ingestion batches (doc_id parity), each
    * batch builds per-source 64-register HLL sketches over its portable
    * token hashes INDEPENDENTLY, the sketch tables merge by element-wise
    * register max, and the merged registers answer distinct-vocabulary
    * estimates. The oracle rebuilds the registers from the UNION of both
    * batches (bucket = h mod 64, rank = 32 − bitlen(h >> 31), max per
    * bucket) and replays the pinned harmonic fold — so a hash-match
    * certifies merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B) register for
    * register, plus the estimate arithmetic. Exact distincts ride along
    * (n_exact) as the accuracy reference. At 100 TB the sketch table is
    * sources × 256 bytes and each day's batch touches only itself — the
    * q126 exact-diversity monitor without the corpus-sized re-distinct.
    */
  private val q144 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
      def hashRows(part: org.apache.spark.sql.DataFrame) =
        part.select(col("source"),
          explode(graft.scale.Dedup.portableTokenHashes(
            graft.scale.TextOps.tokens(col("text")))).as("h"))
      val skA = graft.scale.Sketches
        .hllSketch(hashRows(docs.where(col("doc_id") % 2 === 0)), "source", "h")
      val skB = graft.scale.Sketches
        .hllSketch(hashRows(docs.where(col("doc_id") % 2 === 1)), "source", "h")
      val merged = graft.scale.Sketches.hllMerge(skA, skB, "source")
      val est = graft.scale.Sketches.hllEstimate(merged, "source")
        .select(col("source"),
          graft.scale.Sketches.registerFingerprint(col("registers"))
            .as("reg_fp"),
          col("n_zero"), col("hll_estimate"))
      val exact = hashRows(docs).groupBy(col("source"))
        .agg(countDistinct(col("h")).as("n_exact"))
      est.join(exact, "source")
        .select(col("source"), col("n_exact"), col("reg_fp"),
          col("n_zero"), col("hll_estimate"))
        .orderBy(col("source"))
    },
    Some(s"""WITH toks AS (
        SELECT source, unnest(list_filter(string_split_regex(text, '\\s+'),
          x -> len(x) > 0)) AS w
        FROM documents),
      h AS (SELECT source, ${ScaleQueries.h62Sql("w")} AS h FROM toks),
      hb AS (SELECT source, CAST(h % 64 AS INT) AS b, (h // 2147483648) AS h1
        FROM h),
      hr AS (SELECT source, b,
        CASE WHEN h1 = 0 THEN 32 ELSE 32 - length(bin(h1)) END AS r FROM hb),
      mx AS (SELECT source, b, MAX(r) AS reg FROM hr GROUP BY source, b),
      grid AS (SELECT s.source, gs.b
        FROM (SELECT DISTINCT source FROM toks) s
        CROSS JOIN (SELECT unnest(range(0, 64)) AS b) gs),
      regs AS (SELECT grid.source, grid.b, COALESCE(mx.reg, 0) AS reg
        FROM grid LEFT JOIN mx ON grid.source = mx.source AND grid.b = mx.b),
      vec AS (SELECT source, list(reg ORDER BY b) AS rv
        FROM regs GROUP BY source),
      est AS (SELECT source,
          CAST(list_sum(list_transform(list_zip(rv, range(1, 65)),
            p -> p[1] * p[2])) AS BIGINT) AS reg_fp,
          CAST(len(list_filter(rv, r -> r = 0)) AS BIGINT) AS n_zero,
          round((0.709 * 64 * 64) / list_reduce(
            list_prepend(0.0, list_transform(rv,
              r -> 1.0 / CAST(1::BIGINT << r AS DOUBLE))),
            (a, x) -> a + x), 6) AS hll_estimate
        FROM vec),
      ex AS (SELECT source, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact
        FROM h GROUP BY source)
      SELECT est.source, ex.n_exact, est.reg_fp, est.n_zero, est.hll_estimate
      FROM est JOIN ex USING (source)
      ORDER BY est.source"""))

  /** SQL determinant mirroring [[graft.scale.Probe.det]] exactly:
    * first-row Laplace expansion, signed terms left to right — the same
    * IEEE expression tree, so the oracle's Cramer solve is bit-identical
    * to the driver's.
    */
  private def detSql(m: Vector[Vector[String]]): String = m.length match {
    case 1 => m(0)(0)
    case n =>
      (0 until n).map { j =>
        val minor = m.tail.map(row => row.patch(j, Nil, 1))
        s"(${m(0)(j)}) * (${detSql(minor)})"
      }.zipWithIndex.map {
        case (t, 0) => t
        case (t, j) if j % 2 == 1 => s"- $t"
        case (t, _) => s"+ $t"
      }.mkString(" ")
  }

  /** Ridge linear probe on embeddings (scale.Probe): the
    * "train a tiny supervised head, score the whole corpus" pattern of
    * quality-filtering pipelines — here a d = 4 ridge probe (3 embedding
    * dims + intercept, λ = 0.1) fit to document length by normal
    * equations. The corpus-sized work is ONE map-side-combined moment
    * aggregation (d²+d doubles of state); the solve is driver Cramer on
    * the 6dp-rounded moments with a pinned expansion order; scoring is a
    * broadcast-weights narrow projection. The oracle replays ALL of it —
    * the moment sums and rounds, the ridge diagonal, the full 4×4
    * Laplace/Cramer expression tree (generated by the same recursion as
    * the driver's), and the left-to-right score fold — so a hash-match
    * certifies training arithmetic, solve, and scoring end to end, the
    * q101/q97 training-loop contract extended to supervised heads.
    */
  private val q145 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
      val emb = T.embeddings(s, d)
      val joined = docs.join(emb, docs("doc_id") === emb("vec_id"))
        .select(col("doc_id"), col("n_chars"),
          element_at(col("embedding"), 1).cast("double").as("x0"),
          element_at(col("embedding"), 2).cast("double").as("x1"),
          element_at(col("embedding"), 3).cast("double").as("x2"))
      val feats = Seq(col("x0"), col("x1"), col("x2"))
      val w = graft.scale.Probe.ridgeTrain(joined, feats, col("n_chars"),
        lambda = 0.1)
      joined.select(col("doc_id"),
        graft.scale.Probe.scoreExpr(feats, w).as("probe_score"))
        .orderBy(col("doc_id"))
    },
    Some {
      val a = Vector.tabulate(4, 4)((i, j) => s"m$i$j")
      def repl(i: Int) = a.indices.map(r => a(r).updated(i, s"b$r")).toVector
      s"""WITH j AS (
        SELECT d.doc_id, CAST(d.n_chars AS DOUBLE) AS y,
          CAST(e.embedding[1] AS DOUBLE) AS x0,
          CAST(e.embedding[2] AS DOUBLE) AS x1,
          CAST(e.embedding[3] AS DOUBLE) AS x2
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
      mom AS (SELECT
          round(SUM(x0*x0),6)+0.0 AS a00, round(SUM(x0*x1),6)+0.0 AS a01,
          round(SUM(x0*x2),6)+0.0 AS a02, round(SUM(x0*1.0),6)+0.0 AS a03,
          round(SUM(x1*x1),6)+0.0 AS a11, round(SUM(x1*x2),6)+0.0 AS a12,
          round(SUM(x1*1.0),6)+0.0 AS a13, round(SUM(x2*x2),6)+0.0 AS a22,
          round(SUM(x2*1.0),6)+0.0 AS a23, round(SUM(1.0*1.0),6)+0.0 AS a33,
          round(SUM(x0*y),6)+0.0 AS b0, round(SUM(x1*y),6)+0.0 AS b1,
          round(SUM(x2*y),6)+0.0 AS b2, round(SUM(1.0*y),6)+0.0 AS b3
        FROM j),
      am AS (SELECT
          a00 + 0.1 AS m00, a01 AS m01, a02 AS m02, a03 AS m03,
          a01 AS m10, a11 + 0.1 AS m11, a12 AS m12, a13 AS m13,
          a02 AS m20, a12 AS m21, a22 + 0.1 AS m22, a23 AS m23,
          a03 AS m30, a13 AS m31, a23 AS m32, a33 + 0.1 AS m33,
          b0, b1, b2, b3
        FROM mom),
      w AS (SELECT
          (${detSql(repl(0))}) / (${detSql(a)}) AS w0,
          (${detSql(repl(1))}) / (${detSql(a)}) AS w1,
          (${detSql(repl(2))}) / (${detSql(a)}) AS w2,
          (${detSql(repl(3))}) / (${detSql(a)}) AS w3
        FROM am)
      SELECT j.doc_id,
        round(j.x0 * w.w0 + j.x1 * w.w1 + j.x2 * w.w2 + w.w3, 6)
          AS probe_score
      FROM j CROSS JOIN w
      ORDER BY j.doc_id"""
    })

  /** Contrastive hard-negative mining (Similarity.hardNegatives): for
    * each of 8 anchor documents, the 5 most-cosine-similar embeddings
    * whose SOURCE differs from the anchor's — near-miss different-class
    * neighbors, the rows that make contrastive training batches hard.
    * The cut runs through the custom TopKPerGroup operator (per-partition
    * bounded heaps, ≤ k×anchors rows shuffle — no corpus window sort),
    * and ranking is on the 6dp-rounded similarity, an engine-portable
    * order. The oracle replays the label-mismatch join, the unrolled
    * 64-dim cosine, the round, and the (sim desc, id) rank — certifying
    * the custom operator's cut against a plain window formulation.
    */
  private val q146 = GQuery(
    (s, d) => {
      val emb = T.embeddings(s, d)
      val docs = T.documents(s, d)
      val labeled = emb.join(docs.select(col("doc_id"), col("source")),
        emb("vec_id") === col("doc_id"))
        .select(col("vec_id"), col("embedding"), col("source"))
      graft.scale.Similarity.hardNegatives(
        labeled.where(col("vec_id") < 8), labeled,
        "vec_id", "embedding", "source", k = 5)
        .orderBy(col("anchor_id"), col("rank"))
    },
    Some {
      val dot = ScaleQueries.foldSum((1 to ScaleQueries.EmbeddingDim).map(i =>
        s"q.embedding[$i]::DOUBLE * c.embedding[$i]::DOUBLE"))
      val nq = ScaleQueries.foldSum((1 to ScaleQueries.EmbeddingDim).map(i =>
        s"q.embedding[$i]::DOUBLE * q.embedding[$i]::DOUBLE"))
      val nc = ScaleQueries.foldSum((1 to ScaleQueries.EmbeddingDim).map(i =>
        s"c.embedding[$i]::DOUBLE * c.embedding[$i]::DOUBLE"))
      s"""WITH j AS (
        SELECT e.vec_id, e.embedding, d.source
        FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
      scored AS (
        SELECT q.vec_id AS anchor_id, c.vec_id AS neg_id,
          ROUND(CASE WHEN SQRT($nq) > 0 AND SQRT($nc) > 0
            THEN ($dot) / (SQRT($nq) * SQRT($nc)) ELSE 0.0 END, 6) AS sim
        FROM j q JOIN j c ON q.source <> c.source
        WHERE q.vec_id < 8),
      ranked AS (
        SELECT anchor_id, neg_id, sim,
          CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
            ORDER BY sim DESC, neg_id ASC) AS BIGINT) AS rank
        FROM scored)
      SELECT anchor_id, rank, neg_id, sim
      FROM ranked WHERE rank <= 5 ORDER BY anchor_id, rank"""
    })

  /** Directed containment join (Dedup.containmentPairs): pairs where
    * ≥ 70% of a's bigram shingles appear in b — the quote/subset/
    * template detector symmetric Jaccard can't express (a paragraph
    * inside a long doc has tiny Jaccard, containment ≈ 1). Recall-1
    * one-sided prefix filtering: probe docs post prefixes, containers
    * post all shingles, exact sorted-merge verify. The oracle enumerates
    * ALL directed pairs with exact string-shingle set containment — a
    * hash-match certifies the prefix theorem's recall and the verify
    * arithmetic end to end (hash sets and string sets agree because
    * counts, not values, enter the score).
    */
  private val q147 = GQuery(
    (s, d) => graft.scale.Dedup
      .containmentPairs(T.documents(s, d), "doc_id", "text",
        shingleSize = 2, threshold = 0.7)
      .orderBy(col("id_a"), col("id_b")),
    Some("""WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
          x -> len(x) > 0) AS t
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 2
            THEN list_distinct(list_transform(range(1, len(t)),
              i -> t[i] || ' ' || t[i+1]))
            ELSE [array_to_string(t, ' ')] END AS s
        FROM toks),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
          CAST(len(a.s) AS DOUBLE) AS na
        FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
      SELECT id_a, id_b, ROUND(inter / na, 6) AS containment
      FROM pairs
      WHERE inter / na >= 0.7
      ORDER BY id_a, id_b"""))

  /** Persisted BM25 index lifecycle (Retrieval.bm25Index / merge /
    * against-index): the lexical-retrieval sibling of q131/q136 (minhash)
    * and q143 (IVF+PQ) — the index builds on the corpus snapshot
    * (doc_id % 3 ≠ 0), a batch folds in (% 3 = 0 new docs, plus
    * % 30 = 1 RE-INGESTED with three extra 'spark' tokens — changed tf
    * of a live query term, so any stale-posting leak moves a score), and
    * the q88 query set is answered FROM the merged index with the exact
    * bm25TopK scoring tail. The oracle recomputes BM25 directly over the
    * effective corpus ((corpus ∖ batch-ids) ∪ batch) — a hash-match
    * certifies merge(build(A), B) ≡ build((A ∖ ids(B)) ∪ B) through the
    * whole query path: doclens (empty docs included in N/avgdl),
    * denormalized dl, df from postings, pinned fold, rank cut.
    */
  private val q148 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
      val corpus = docs.where(col("doc_id") % 3 =!= 0)
      val batch = docs.where(col("doc_id") % 3 === 0)
        .unionByName(docs.where(col("doc_id") % 30 === 1)
          .withColumn("text", concat(col("text"), lit(" spark spark spark"))))
      val merged = graft.scale.Retrieval.bm25IndexMerge(
        graft.scale.Retrieval.bm25Index(corpus, "doc_id", "text"), batch,
        "doc_id", "text")
      graft.scale.Retrieval
        .bm25AgainstIndex(s, merged, ScaleQueries.Bm25Queries, k = 10)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val inList = ScaleQueries.Bm25Queries.flatMap(_._2).distinct.sorted
        .map(t => s"'$t'").mkString(", ")
      val values = ScaleQueries.Bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
        .mkString(", ")
      s"""WITH batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, text || ' spark spark spark' FROM documents
        WHERE doc_id % 30 = 1),
      eff AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 3 <> 0 AND doc_id NOT IN (SELECT doc_id FROM batch)
        UNION ALL SELECT doc_id, text FROM batch),
      toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
          x -> len(x) > 0) AS t
        FROM eff),
      stats AS (
        SELECT COUNT(*)::BIGINT AS n_docs, SUM(len(t))::BIGINT AS total_len
        FROM toks),
      tf AS (
        SELECT doc_id, term, COUNT(*)::BIGINT AS tf, ANY_VALUE(dl) AS dl
        FROM (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks)
        WHERE term IN ($inList)
        GROUP BY doc_id, term),
      df AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
      q(query_id, term) AS (VALUES $values),
      w AS (
        SELECT q.query_id, tf.doc_id, tf.term,
          ln(1.0 + (stats.n_docs::DOUBLE - df.df::DOUBLE + 0.5) / (df.df::DOUBLE + 0.5))
            * (tf.tf::DOUBLE * (1.2 + 1.0))
            / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * (tf.dl::DOUBLE / (stats.total_len::DOUBLE / stats.n_docs::DOUBLE)))) AS w
        FROM tf JOIN q USING (term) JOIN df USING (term) CROSS JOIN stats),
      sc AS (
        SELECT query_id, doc_id,
          ROUND(list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY term)),
            (a, x) -> a + x), 6) AS score
        FROM w GROUP BY query_id, doc_id),
      r AS (
        SELECT CAST(query_id AS BIGINT) AS query_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS BIGINT) AS rank,
          doc_id, score
        FROM sc)
      SELECT query_id, rank, doc_id, score FROM r
      WHERE rank <= 10 ORDER BY query_id, rank"""
    })

  /** MaxSim late-interaction rerank (Retrieval.maxSimRerank): the q88
    * BM25 top-10 candidate sets reranked ColBERT-style — per query term,
    * the max cosine against the doc's distinct-token pseudo-embeddings
    * (4 affine projections of the portable hash — the certified stand-in
    * for a learned token encoder, the multimodal-stub pattern), summed
    * over terms in the pinned fold. The oracle replays the ENTIRE
    * composition: the full q88 chain to reproduce the candidates, the
    * hash→embedding projections constant for constant, the unrolled
    * 4-dim cosine, the per-term max, the fold, and the rerank cut —
    * certifying that a two-stage retrieve-then-rerank pipeline is
    * reproducible end to end. Everything past the candidate cut is
    * k×queries-bounded.
    */
  private val q149 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
      val cand = graft.scale.Retrieval.bm25TopK(s, docs, "doc_id", "text",
        ScaleQueries.Bm25Queries, k = 10)
        .select(col("query_id"), col("doc_id"))
      graft.scale.Retrieval.maxSimRerank(s, docs, "doc_id", "text",
        ScaleQueries.Bm25Queries, cand)
        .orderBy(col("query_id"), col("rank"))
    },
    Some {
      val inList = ScaleQueries.Bm25Queries.flatMap(_._2).distinct.sorted
        .map(t => s"'$t'").mkString(", ")
      val values = ScaleQueries.Bm25Queries
        .flatMap { case (qid, ts) => ts.map(t => s"($qid, '$t')") }
        .mkString(", ")
      val P = "2147483647"
      def embFromH(h: String) =
        Seq((65599L, 17L), (92821L, 29L), (31L, 41L), (131L, 53L)).map {
          case (m, a) =>
            s"2.0 * ((($h % $P) * $m + $a) % $P)::DOUBLE / 2147483647.0 - 1.0"
        }.mkString("[", ", ", "]")
      def foldSum4(f: Int => String) =
        s"((((${f(1)}) + (${f(2)})) + (${f(3)})) + (${f(4)}))"
      val dot = foldSum4(i => s"qe[$i] * de[$i]")
      val nq = foldSum4(i => s"qe[$i] * qe[$i]")
      val nc = foldSum4(i => s"de[$i] * de[$i]")
      s"""WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'),
          x -> len(x) > 0) AS t
        FROM documents),
      stats AS (
        SELECT COUNT(*)::BIGINT AS n_docs, SUM(len(t))::BIGINT AS total_len
        FROM toks),
      tf AS (
        SELECT doc_id, term, COUNT(*)::BIGINT AS tf, ANY_VALUE(dl) AS dl
        FROM (SELECT doc_id, len(t)::BIGINT AS dl, unnest(t) AS term FROM toks)
        WHERE term IN ($inList)
        GROUP BY doc_id, term),
      df AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
      q(query_id, term) AS (VALUES $values),
      w AS (
        SELECT q.query_id, tf.doc_id, tf.term,
          ln(1.0 + (stats.n_docs::DOUBLE - df.df::DOUBLE + 0.5) / (df.df::DOUBLE + 0.5))
            * (tf.tf::DOUBLE * (1.2 + 1.0))
            / (tf.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * (tf.dl::DOUBLE / (stats.total_len::DOUBLE / stats.n_docs::DOUBLE)))) AS w
        FROM tf JOIN q USING (term) JOIN df USING (term) CROSS JOIN stats),
      sc AS (
        SELECT query_id, doc_id,
          ROUND(list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY term)),
            (a, x) -> a + x), 6) AS score
        FROM w GROUP BY query_id, doc_id),
      cand AS (
        SELECT CAST(query_id AS BIGINT) AS query_id, doc_id FROM (
          SELECT query_id, doc_id, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY score DESC, doc_id) AS rk FROM sc)
        WHERE rk <= 10),
      dt AS (SELECT DISTINCT doc_id, unnest(t) AS dtok FROM toks
        WHERE doc_id IN (SELECT doc_id FROM cand)),
      dth AS (SELECT doc_id, dtok, ${ScaleQueries.h62Sql("dtok")} AS h
        FROM dt),
      dte AS (SELECT doc_id, ${embFromH("h")} AS de FROM dth),
      qth AS (SELECT CAST(query_id AS BIGINT) AS query_id, term,
        ${ScaleQueries.h62Sql("term")} AS h FROM q),
      qte AS (SELECT query_id, term, ${embFromH("h")} AS qe FROM qth),
      cs AS (
        SELECT cand.query_id, cand.doc_id, qte.term,
          CASE WHEN SQRT($nq) > 0 AND SQRT($nc) > 0
            THEN ($dot) / (SQRT($nq) * SQRT($nc)) ELSE 0.0 END AS c
        FROM cand
        JOIN qte ON qte.query_id = cand.query_id
        JOIN dte ON dte.doc_id = cand.doc_id),
      mx AS (SELECT query_id, doc_id, term, MAX(c) AS mx
        FROM cs GROUP BY query_id, doc_id, term),
      ms AS (SELECT query_id, doc_id,
          ROUND(list_reduce(list_prepend(0.0::DOUBLE, list(mx ORDER BY term)),
            (a, x) -> a + x), 6) AS maxsim
        FROM mx GROUP BY query_id, doc_id),
      r AS (SELECT query_id,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY maxsim DESC, doc_id) AS BIGINT) AS rank,
          doc_id, maxsim
        FROM ms)
      SELECT query_id, rank, doc_id, maxsim FROM r
      ORDER BY query_id, rank"""
    })

  /** Token-budget mixture realization (Sampling.realizeMixture +
    * materializeEpochs): a 10 000-token budget split 50/30/20 over three
    * sources whose corpora hold ~1.4k tokens each — so every weighted
    * source UPSAMPLES (3/2/1 full epochs plus a deterministic
    * fractional tail), the operation temperatureMix (q75) deliberately
    * lacks. The oracle recomputes per-source token availability, the
    * driver's integer targets (embedded as literals — exact by BigInt
    * construction), floor-div/mod epoch arithmetic, the portable-bucket
    * tail keep under the exact-IEEE rem/avail rate, and the epoch
    * explosion — a hash-match certifies decision table AND materialized
    * copies. Unweighted sources must vanish.
    */
  private val q150 = GQuery(
    (s, d) => {
      val weights = Seq("src1" -> 0.5, "src3" -> 0.3, "src7" -> 0.2)
      val docs = T.documents(s, d).withColumn("n_tokens",
        graft.scale.TextOps.tokenCount(col("text")).cast("long"))
      val dec = graft.scale.Sampling.realizeMixture(docs, col("doc_id"),
        col("source"), col("n_tokens"), weights, budgetTokens = 10000L)
      graft.scale.Sampling.materializeEpochs(dec)
        .select(col("doc_id"), col("source"), col("full_epochs"),
          col("keep_tail"), col("epoch"))
        .orderBy(col("doc_id"), col("epoch"))
    },
    Some {
      val wts = Seq("src1" -> 0.5, "src3" -> 0.3, "src7" -> 0.2)
        .map { case (s0, w) =>
          val t = (BigInt(10000L) * math.floor(w * 1e6).toLong / 1000000L).toLong
          s"('$s0', $t)"
        }.mkString(", ")
      val P = "2147483647"
      s"""WITH tk AS (
        SELECT doc_id, source,
          CAST(len(list_filter(string_split_regex(text, '\\s+'),
            x -> len(x) > 0)) AS BIGINT) AS n_tokens
        FROM documents),
      av AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail
        FROM tk GROUP BY source),
      wt(source, target) AS (VALUES $wts),
      m AS (SELECT av.source, avail,
          target // avail AS full_epochs, target % avail AS rem
        FROM av JOIN wt USING (source) WHERE avail > 0),
      dec AS (SELECT tk.doc_id, tk.source, m.full_epochs,
          CASE WHEN ((1103515245 * ((tk.doc_id % $P + $P) % $P) + 12345)
              % $P)::DOUBLE
            < (m.rem::DOUBLE / m.avail::DOUBLE) * 2147483647.0
            THEN 1 ELSE 0 END AS keep_tail
        FROM tk JOIN m USING (source))
      SELECT doc_id, source, full_epochs,
        CAST(keep_tail AS BIGINT) AS keep_tail, epoch
      FROM (SELECT dec.*,
          unnest(range(1, full_epochs + keep_tail + 1)) AS epoch
        FROM dec)
      ORDER BY doc_id, epoch"""
    })

  /** Persisted exact-Jaccard index lifecycle (Dedup.jaccardIndex /
    * jaccardIndexMerge / jaccardPairsAgainstIndex) — the amortization
    * round 11 flagged as missing for the q85/q147 exact-pair family,
    * with the q148 re-ingest twist: the index builds on the corpus
    * snapshot (doc_id % 3 ≠ 0), a batch folds in (% 3 = 0 new docs plus
    * % 30 = 1 RE-INGESTED with three extra tokens — changed shingle
    * sets, so a stale-array leak moves a score), and the batch is
    * scored against the merged index with the exact AllPairs prefix
    * path. Unlike the minhash lifecycle (q136) this is EXACT: recall 1
    * by the prefix theorem, so the oracle — direct Jaccard over the
    * effective corpus ((A ∖ ids(B)) ∪ B) × batch — is a theorem-backed
    * hash-match, not an LSH-recall observation. Serving never
    * re-tokenizes the corpus (DedupLifecycleSpec's tamper witness).
    */
  private val q202 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
      val corpus = docs.where(col("doc_id") % 3 =!= 0)
      val batch = docs.where(col("doc_id") % 3 === 0)
        .unionByName(docs.where(col("doc_id") % 30 === 1)
          .withColumn("text", concat(col("text"), lit(" spark spark spark"))))
      val dir = Scratch.fresh("graft_jacidx_")
      graft.scale.Dedup.jaccardIndex(corpus, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/base")
      graft.scale.Dedup.jaccardIndexMerge(
          s.read.parquet(s"$dir/base"), batch, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/merged")
      graft.scale.Dedup.jaccardPairsAgainstIndex(
          s.read.parquet(s"$dir/merged"), batch, "doc_id", "text",
          shingleSize = 3, threshold = 0.8)
        .orderBy(col("id_l"), col("id_r"))
    },
    Some("""WITH batch AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, text || ' spark spark spark' FROM documents
        WHERE doc_id % 30 = 1),
      eff AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % 3 <> 0 AND doc_id NOT IN (SELECT doc_id FROM batch)
        UNION ALL SELECT doc_id, text FROM batch),
      sh_eff AS (
        SELECT doc_id, CASE WHEN len(t) >= 3
            THEN list_distinct(list_transform(range(1, len(t)-1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
            ELSE [array_to_string(t, ' ')] END AS s
        FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
          x -> len(x) > 0) AS t FROM eff)),
      sh_b AS (
        SELECT doc_id, CASE WHEN len(t) >= 3
            THEN list_distinct(list_transform(range(1, len(t)-1),
              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
            ELSE [array_to_string(t, ' ')] END AS s
        FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
          x -> len(x) > 0) AS t FROM batch)),
      pairs AS (
        SELECT a.doc_id AS id_l, b.doc_id AS id_r,
          len(list_intersect(a.s, b.s))::DOUBLE AS inter,
          (len(a.s) + len(b.s))::DOUBLE AS tot
        FROM sh_eff a JOIN sh_b b ON true)
      SELECT id_l, id_r,
        ROUND(CASE WHEN tot - inter > 0 THEN inter / (tot - inter)
          ELSE 1.0 END, 6) AS jaccard
      FROM pairs
      WHERE (CASE WHEN tot - inter > 0 THEN inter / (tot - inter)
        ELSE 1.0 END) >= 0.8
      ORDER BY id_l, id_r"""))

  /** Directed containment against the persisted index
    * (Dedup.containmentPairsAgainstIndex): a FIXED-size ingest batch
    * (the odd docs among doc_id ≤ 100 — 50 docs at every SF) probes the
    * full even-doc [[graft.scale.Dedup.jaccardIndex]] — "is this
    * incoming document a quote/copy of something already indexed", the
    * dedup-on-ingest direction at its advertised shape: batch ≪ corpus.
    * The batch stays constant while the index scales with the corpus,
    * so the decade probe measures exactly what serving must bound —
    * cost vs INDEX size. Recall is 1 (one-sided prefix theorem + the
    * batch-Bloom posting prune has no false negatives); the oracle
    * enumerates exact directed containment for the same fixed slice.
    */
  private val q203 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
      val dir = Scratch.fresh("graft_ctidx_")
      graft.scale.Dedup
        .jaccardIndex(docs.where(col("doc_id") % 2 === 0), "doc_id", "text",
          shingleSize = 2)
        .write.mode("overwrite").parquet(s"$dir/idx")
      graft.scale.Dedup.containmentPairsAgainstIndex(
          s.read.parquet(s"$dir/idx"),
          docs.where(col("doc_id") % 2 === 1 && col("doc_id") <= 100),
          "doc_id", "text",
          shingleSize = 2, threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
          x -> len(x) > 0) AS t
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 2
            THEN list_distinct(list_transform(range(1, len(t)),
              i -> t[i] || ' ' || t[i+1]))
            ELSE [array_to_string(t, ' ')] END AS s
        FROM toks),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
          CAST(len(a.s) AS DOUBLE) AS na
        FROM sh a JOIN sh b
          ON a.doc_id % 2 = 1 AND a.doc_id <= 100 AND b.doc_id % 2 = 0)
      SELECT id_a, id_b, ROUND(inter / na, 6) AS containment
      FROM pairs
      WHERE inter / na >= 0.4
      ORDER BY id_a, id_b"""))

  /** Full lifecycle of the INVERTED POSTING STORE serve path
    * (Dedup.containmentPostingStore / …Merge / …AgainstPostingStore):
    * build the store over a STALE even-doc corpus (every doc_id % 20 = 2
    * doc carries a bogus suffix), write it partitionBy("bucket"),
    * batch-wins merge the true text back in (the re-ingest repairs the
    * store), then serve q203's EXACT batch (odd docs ≤ 100, t = 0.4,
    * 2-shingles) from the merged store. The effective corpus after the
    * merge is exactly q203's, so the oracle IS q203's exact directed-
    * containment enumeration — one hash-match certifies posting
    * construction, the by-doc batch-wins merge, bucket partition
    * pruning, the rarest-first prefix candidates, and the count-based
    * exact overlap verify in one go. Unlike q203's serve (which scans
    * every persisted array per batch), this path's container I/O is
    * bounded by the batch's shingle buckets — the store the q203
    * scaladoc named as the missing piece. DedupLifecycleSpec pins the
    * PartitionFilters plan shape; the decade probe measures the ~0
    * corpus exponent.
    */
  private val q217 = GQuery(
    (s, d) => {
      val docs = T.documents(s, d)
      val dir = Scratch.fresh("graft_ctpost_")
      val buckets = 64
      val stale = docs.where(col("doc_id") % 2 === 0)
        .withColumn("text", when(col("doc_id") % 20 === 2,
          concat(col("text"), lit(" stale stale stale")))
          .otherwise(col("text")))
      // cluster on the partition key before the partitioned write — the
      // standard layout discipline: one file per bucket instead of
      // shufflePartitions × buckets tiny files (the naive write cost 20×
      // the serve it was built to accelerate)
      graft.scale.Dedup.containmentPostingStore(
          graft.scale.Dedup.jaccardIndex(stale, "doc_id", "text",
            shingleSize = 2), buckets)
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$dir/store")
      val reingest = docs.where(col("doc_id") % 2 === 0 &&
        col("doc_id") % 20 === 2)
      graft.scale.Dedup.containmentPostingStoreMerge(
          s.read.parquet(s"$dir/store"), reingest, "doc_id", "text",
          shingleSize = 2, buckets = buckets)
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$dir/merged")
      graft.scale.Dedup.containmentAgainstPostingStore(
          s.read.parquet(s"$dir/merged"),
          docs.where(col("doc_id") % 2 === 1 && col("doc_id") <= 100),
          "doc_id", "text", shingleSize = 2, threshold = 0.4,
          buckets = buckets)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""WITH toks AS (
        SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
          x -> len(x) > 0) AS t
        FROM documents),
      sh AS (
        SELECT doc_id,
          CASE WHEN len(t) >= 2
            THEN list_distinct(list_transform(range(1, len(t)),
              i -> t[i] || ' ' || t[i+1]))
            ELSE [array_to_string(t, ' ')] END AS s
        FROM toks),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter,
          CAST(len(a.s) AS DOUBLE) AS na
        FROM sh a JOIN sh b
          ON a.doc_id % 2 = 1 AND a.doc_id <= 100 AND b.doc_id % 2 = 0)
      SELECT id_a, id_b, ROUND(inter / na, 6) AS containment
      FROM pairs
      WHERE inter / na >= 0.4
      ORDER BY id_a, id_b"""))

  val all: Map[String, GQuery] = Map(
    "q134_bpe_apply" -> q134,
    "q135_pagerank_dangling" -> q135,
    "q136_minhash_index_merge" -> q136,
    "q137_bpe_train" -> q137,
    "q138_range_join" -> q138,
    "q139_incremental_components" -> q139,
    "q140_product_quantization" -> q140,
    "q141_bpe_token_costs" -> q141,
    "q142_ivf_pq_search" -> q142,
    "q143_ivf_pq_index_merge" -> q143,
    "q144_hll_vocab_sketch" -> q144,
    "q145_ridge_probe" -> q145,
    "q146_hard_negatives" -> q146,
    "q147_containment_pairs" -> q147,
    "q148_bm25_index_lifecycle" -> q148,
    "q149_maxsim_rerank" -> q149,
    "q150_mixture_epochs" -> q150,
    "q202_jaccard_index_lifecycle" -> q202,
    "q203_containment_vs_index" -> q203,
    "q217_containment_posting_store" -> q217,
    "q222_ann_recall_eval" -> q222,
    "q224_ann_recall_curve" -> q224,
    "q205_opq_rotated_pq" -> q205,
    "q206_wordpiece_apply" -> q206,
    "q210_opq_ivfpq_search" -> q210,
    "q214_opq_ivfpq_merge" -> q214)
}
