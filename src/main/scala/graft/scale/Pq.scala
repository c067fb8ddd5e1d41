package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Product quantization — the compressed-vector path that makes
  * billion-scale ANN feasible: split each embedding into `m` contiguous
  * subspaces, train a tiny KMeans codebook per subspace, store each vector
  * as `m` small codes, and answer queries by asymmetric distance
  * computation (ADC) — per-subspace lookup tables computed ONCE per query
  * against the codebooks, scored against codes with no float vector ever
  * re-read.
  *
  * Where it sits in the engine's ANN ladder: brute-force cosine (q27) →
  * hyperplane-LSH (q39/q82-adjacent) → IVF coarse quantization (q82) →
  * IVF+PQ, which at 100 TB is the only shape whose scan state fits
  * memory: a 64-dim float vector is 256 bytes, its m=4 PQ codes are 4 —
  * a 64× compression of the candidate scan, with the codebooks (m·k·subDim
  * doubles) broadcast-sized by construction.
  *
  * Determinism (oracle-replayable, the q97 contract): per-subspace
  * training IS [[Clustering.lloydCentroids]] on the sliced vectors —
  * lowest-id seeding, first-min-wins argmin, means rounded to `roundDp`
  * between iterations; encoding is the same argmin; ADC table entries are
  * index-order squared-L2 folds of the (rounded) centroids against the
  * query, and the final distance is the left-to-right sum of the m
  * lookups, rounded to 6dp.
  *
  * Scale shape: training touches the corpus `m × iters` times through
  * narrow sliced scans + k×subDim partial aggregates (nothing corpus-sized
  * reaches the driver); encoding is ONE narrow scan emitting m codes per
  * row; ADC scoring is a narrow map over the codes table plus a
  * TakeOrdered top-k — zero shuffles, zero joins on the query path.
  */
object Pq {

  /** Project to (__id, __v array<double>), the lloyd input contract. */
  private def proj(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    graft.core.Par.ensure(corpus).select(col(idCol).as("__id"),
      transform(col(vecCol), x => x.cast("double")).as("__v"))

  private def slices(m: Int, dim: Int): Seq[(Int, Int)] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val sub = dim / m
    (0 until m).map(s => (s * sub + 1, sub)) // 1-based slice start, length
  }

  /** Train the m per-subspace codebooks: [m][k][subDim] (driver-sized by
    * construction — it is the model artifact). `dim` is the full vector
    * dimensionality (must be divisible by m).
    */
  def trainCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iters: Int,
      roundDp: Int = 6): Array[Array[Array[Double]]] = {
    require(k > 0 && iters > 0, "k and iters must be positive")
    val e = proj(corpus, idCol, vecCol).persist()
    try {
      slices(m, dim).map { case (start, len) =>
        Clustering.lloydCentroids(
          e.select(col("__id"), slice(col("__v"), start, len).as("__v")),
          k, iters, roundDp)
      }.toArray
    } finally { e.unpersist(blocking = false); () }
  }

  /** Encode every vector as its m per-subspace nearest-centroid codes
    * (0-based, first-min-wins): (idCol, codes array<int>). One narrow
    * scan, no shuffle.
    */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dim = m * codebooks.head.head.length
    val e = proj(corpus, idCol, vecCol)
    val codeCols = slices(m, dim).zip(codebooks.toIndexedSeq).map {
      case ((start, len), cb) =>
        Clustering.assignExpr(slice(col("__v"), start, len), cb)
    }
    e.select(col("__id").as(idCol), array(codeCols: _*).as("codes"))
  }

  /** ADC top-k for one query vector over an encoded table: the
    * per-subspace distance table (m × k doubles) is computed on the
    * driver once and rides into a narrow lookup-sum expression;
    * TakeOrdered keeps k rows. Returns (idCol, adc_dist, rank) ranked by
    * (distance asc, id asc).
    */
  /** The ADC scoring expression over a `codes` column: per-subspace
    * distance-table lookups (tables computed HERE, on the driver, once
    * per query — index-order squared-L2 folds against the codebooks)
    * summed left-to-right and rounded to 6dp.
    */
  private def adcScore(codebooks: Array[Array[Array[Double]]],
      query: Array[Double]): org.apache.spark.sql.Column = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    require(query.length == m * sub,
      s"query dim ${query.length} != codebook dim ${m * sub}")
    val table: Seq[Seq[Double]] = (0 until m).map { s =>
      codebooks(s).toIndexedSeq.map { c =>
        var acc = 0.0
        var d = 0
        while (d < sub) {
          val diff = query(s * sub + d) - c(d)
          acc += diff * diff
          d += 1
        }
        acc
      }
    }
    round((0 until m).map { s =>
      element_at(typedLit(table(s)),
        element_at(col("codes"), s + 1) + 1)
    }.reduceLeft(_ + _), 6)
  }

  /** Global top-k by (adc_dist asc, id asc) with a rank column:
    * TakeOrderedAndProject does the cut (per-partition heaps, no
    * single-partition sort of the corpus); the rank window then runs
    * over the k-row result only.
    */
  private def rankCut(scored: DataFrame, idCol: String, topK: Int,
      extraCols: Seq[String]): DataFrame = {
    val keep = Seq(col(idCol)) ++ extraCols.map(col) :+ col("adc_dist")
    val cut = scored.select(keep: _*)
      .orderBy(col("adc_dist"), col(idCol)).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("adc_dist"), col(idCol))
    cut.withColumn("rank", row_number().over(w).cast("long"))
  }

  def adcTopK(codes: DataFrame, idCol: String,
      codebooks: Array[Array[Array[Double]]], query: Array[Double],
      topK: Int): DataFrame =
    rankCut(codes.withColumn("adc_dist", adcScore(codebooks, query)),
      idCol, topK, Nil)

  /** Index-order squared L2 between two driver-side vectors — the same
    * fold the column expressions and the oracle use.
    */
  private def sqL2(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var d = 0
    while (d < a.length) { val x = a(d) - b(d); acc += x * x; d += 1 }
    acc
  }

  /** Build the searchable IVF+PQ index: (idCol, cell, codes) — one narrow
    * scan assigning each vector its coarse cell (first-min argmin over
    * `coarse`) and its m PQ codes. At 100 TB this table is written
    * partitioned by `cell`, so a probe reads only nprobe/k of the files.
    */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val dim = m * codebooks.head.head.length
    val e = proj(corpus, idCol, vecCol)
    val codeCols = slices(m, dim).zip(codebooks.toIndexedSeq).map {
      case ((start, len), cb) =>
        Clustering.assignExpr(slice(col("__v"), start, len), cb)
    }
    e.select(col("__id").as(idCol),
      Clustering.assignExpr(col("__v"), coarse).as("cell"),
      array(codeCols: _*).as("codes"))
  }

  /** Fold a batch of vectors into a persisted IVF+PQ index
    * ([[buildIvfPqIndex]] schema) WITHOUT rebuilding: the batch alone is
    * assigned cells and encoded against the FROZEN coarse quantizer and
    * codebooks (exactly how production ANN serves — models train on a
    * corpus snapshot and new vectors are folded in until the next
    * scheduled retrain), and re-ingested ids take the batch's row
    * (batch-wins dedup via an 8-byte-id anti-join, the q136 contract).
    * With frozen models, merge(build(A), B) ≡ build((A ∖ ids(B)) ∪ B)
    * bit for bit — AnalyticsSpec pins the equivalence, q143
    * oracle-certifies it through the composed search.
    *
    * Scale shape: the corpus-sized index is touched by ONE anti-join
    * keyed on the id (bucket-local under the q54 layout); kernels run
    * over the batch only. The index's codes length and cell range are
    * validated against the supplied models (an index built with
    * different m or k would otherwise silently mis-score).
    */
  def mergeIvfPqIndex(index: DataFrame, batch: DataFrame,
      idCol: String, vecCol: String,
      coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val m = codebooks.length
    val k = coarse.length
    val checkedCodes = when(
      size(col("codes")) === m &&
        col("cell").between(0, k - 1), col("codes"))
      .otherwise(raise_error(concat(
        lit(s"IVF+PQ index row incompatible with models (m=$m, k=$k): " +
          "codes length "),
        size(col("codes")).cast("string"), lit(", cell "),
        col("cell").cast("string"))))
      .as("codes")
    val newRows = buildIvfPqIndex(batch, idCol, vecCol, coarse, codebooks)
    Dedup.batchWins(index.select(col(idCol), col("cell"), checkedCodes),
      newRows, idCol, newRows)
  }

  /** IVF+PQ query: probe the `nprobe` cells nearest the query (driver
    * arithmetic, (distance, index) tiebreak), then ADC-rank ONLY the
    * index rows in those cells — the composed shape that makes
    * billion-scale ANN a partition-pruned scan of compressed codes:
    * candidate set ≈ nprobe/k of the corpus, candidate bytes ≈ m per
    * vector, zero joins and zero shuffles beyond the TakeOrdered cut.
    * Returns (idCol, cell, adc_dist, rank).
    */
  def ivfPqTopK(index: DataFrame, idCol: String,
      coarse: Array[Array[Double]], codebooks: Array[Array[Array[Double]]],
      query: Array[Double], nprobe: Int, topK: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= coarse.length,
      s"nprobe $nprobe out of range for ${coarse.length} cells")
    val probed = coarse.toIndexedSeq.map(c => sqL2(query, c)).zipWithIndex
      .sortBy { case (dist, j) => (dist, j) }.take(nprobe).map(_._2)
    rankCut(
      index.where(col("cell").isin(probed: _*))
        .withColumn("adc_dist", adcScore(codebooks, query)),
      idCol, topK, Seq("cell"))
  }

  /** Recall@k of the IVF+PQ serve against the EXACT L2 ground truth —
    * [[graft.scale.Dedup.lshRecallEval]]'s discipline applied to the ANN
    * family: the banding/probing/quantization config is MEASURED on the
    * corpus at hand instead of trusted (ANN recall is distribution-
    * dependent; the validation a pipeline runs before shipping an index
    * config). `found` is the ADC top-k over the supplied `index`
    * ([[ivfPqTopK]] — probe pruning included, so the number reflects the
    * SERVED path, quantization AND probe losses together); truth is the
    * exact squared-L2 top-k over `corpus`, computed with the pinned
    * left-fold (the q27/q200 convention — a DuckDB oracle replays the
    * ordering bit for bit) and cut by TakeOrdered (distributed, never a
    * single-partition window). Ties break by id on both sides. Output:
    * ONE row (nprobe, k, n_hit, recall) — bounded regardless of corpus
    * size.
    */
  def ivfPqRecallEval(corpus: DataFrame, idCol: String, vecCol: String,
      index: DataFrame, coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], query: Array[Double],
      nprobe: Int, topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    val found = ivfPqTopK(index, idCol, coarse, codebooks, query, nprobe,
      topK).select(col(idCol))
    val qlit = array(query.toIndexedSeq.map(lit): _*)
    val dist = aggregate(
      zip_with(transform(col(vecCol), x => x.cast("double")), qlit,
        (x, w) => (x - w) * (x - w)),
      lit(0.0), (acc, z) => acc + z)
    val truth = corpus.select(col(idCol), dist.as("__d"))
      .orderBy(col("__d"), col(idCol)).limit(topK).select(col(idCol))
    truth.join(found, Seq(idCol), "left_semi")
      .agg(count(lit(1)).as("n_hit"))
      .select(lit(nprobe.toLong).as("nprobe"), lit(topK.toLong).as("k"),
        col("n_hit"),
        round(col("n_hit").cast("double") / topK.toDouble, 6).as("recall"))
  }

  /** The recall/cost OPERATING CURVE [[ivfPqRecallEval]]'s single point
    * generalizes to — the config tuner a user actually needs after q222's
    * lesson (recall 0.2 at nprobe 2/8 on unclustered embeddings): one row
    * per probed config, sharing ONE exact ground-truth ranking across all
    * of them. Each row carries the config's recall@k AND its cost —
    * scanned_rows / scanned_frac, the fraction of the index the ADC scan
    * touches, which at 100 TB is the bill. The pick rule is the first row
    * (rows are nprobe-ascending, cost monotone non-decreasing) whose
    * recall meets the target: the cheapest config that is good enough.
    *
    * Driver state: the per-cell row counts (≤ |coarse| longs — the
    * k-centroids bound) and the cell ranking (same arithmetic as
    * [[ivfPqTopK]], so the curve measures the SERVED path). The exact
    * truth is the pinned left-fold + TakeOrdered cut (q27/q200
    * convention — a DuckDB oracle replays it bit for bit).
    *
    * Recall@k is NOT guaranteed monotone in nprobe, and that is the
    * point of measuring: the probed cell sets are nested, but the top-k
    * CUT is by ADC (quantized) distance, so widening the probe can admit
    * impostors whose quantized distance undercuts a true neighbor's and
    * displaces it from the cut (measured on the driver testdata: 0.3 →
    * 0.2 → 0.1 over nprobe 1 → 2 → 4 at m=4, k=4). The final
    * full-probe row isolates PURE quantization loss (probe loss is zero
    * there — AnalyticsSpec pins it equal to a whole-index ADC scan and
    * pins scanned_rows' monotonicity); if that row's recall already
    * misses the target, no nprobe can save the config — retrain with
    * more codes, don't widen the probe.
    */
  def ivfPqRecallCurve(corpus: DataFrame, idCol: String, vecCol: String,
      index: DataFrame, coarse: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], query: Array[Double],
      nprobes: Seq[Int], topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive: $topK")
    require(nprobes.nonEmpty, "nprobes must be non-empty")
    nprobes.foreach(np => require(np >= 1 && np <= coarse.length,
      s"nprobe $np out of range for ${coarse.length} cells"))
    val spark = index.sparkSession
    // cell ranking by query distance — the same driver arithmetic
    // ivfPqTopK serves with, so scanned_rows reflects the real probe sets
    val ranked = coarse.toIndexedSeq.map(c => sqL2(query, c)).zipWithIndex
      .sortBy { case (dist, j) => (dist, j) }.map(_._2)
    val cellCounts = index.groupBy(col("cell"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getAs[Number]("cell").intValue -> r.getLong(1)).toMap
    val total = cellCounts.values.sum
    require(total > 0, "empty index")
    // exact squared-L2 ground truth, computed ONCE and shared
    val qlit = array(query.toIndexedSeq.map(lit): _*)
    val dist = aggregate(
      zip_with(transform(col(vecCol), x => x.cast("double")), qlit,
        (x, w) => (x - w) * (x - w)),
      lit(0.0), (acc, z) => acc + z)
    val truth = corpus.select(col(idCol), dist.as("__d"))
      .orderBy(col("__d"), col(idCol)).limit(topK).select(col(idCol))
    val found = nprobes.map { np =>
      ivfPqTopK(index, idCol, coarse, codebooks, query, np, topK)
        .select(lit(np.toLong).as("nprobe"), col(idCol))
    }.reduce(_ unionByName _)
    val hits = found.join(truth, Seq(idCol), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hit"))
    import spark.implicits._
    val base = nprobes.map { np =>
      (np.toLong, ranked.take(np).map(j => cellCounts.getOrElse(j, 0L)).sum)
    }.toDF("nprobe", "scanned_rows")
    base.join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"), lit(topK.toLong).as("k"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / topK.toDouble,
          6).as("recall"),
        col("scanned_rows"),
        round(col("scanned_rows").cast("double") / total.toDouble, 6)
          .as("scanned_frac"))
      .orderBy(col("nprobe"))
  }
}
