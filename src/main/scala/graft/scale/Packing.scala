package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training: lay the corpus out as one virtual
  * token stream in a deterministic document order and chunk it into
  * fixed-length training sequences (GPT-style concat-and-chunk). The
  * primitive underneath is a distributed EXCLUSIVE PREFIX SUM in total
  * id order — the operation a naive plan expresses as
  * `sum(n) OVER (ORDER BY id)`, which Spark executes as a SINGLE
  * partition holding the entire corpus.
  */
object Packing {

  /** Exclusive prefix sum of `nCol` in total `idCol` order, the two-job
    * scan classic:
    *
    *   1. range-partition by id + sort within partitions (ONE shuffle of
    *      16-byte rows; range boundaries are sampled, but the result is
    *      boundary-independent — prefix(id) = Σ n over id' < id no matter
    *      where partitions split, since ranges are disjoint and ordered);
    *   2. job 1: per-partition totals (numPartitions longs to the
    *      driver);
    *   3. job 2: stream each partition once, seeding its running sum
    *      with the broadcast cumulative offset of the partitions before
    *      it.
    *
    * Both jobs consume the SAME `queryExecution.toRdd` lineage (a lazy
    * val), so job 2 reuses job 1's shuffle files — the map stage is
    * skipped, only the reduce-side read + in-partition sort reruns. No
    * persist: nothing leaks into the caller's cache lifecycle, and the
    * range boundaries (sampled once, when the shared shuffle first
    * materializes) are identical across the two jobs by construction.
    *
    * Ids must be unique (they are the total order's tiebreak-free key);
    * n must be non-negative. Returns (id, n), the `carry` columns of
    * `df` (riding the same rows unchanged), then prefix, in id ranges
    * sorted by id — an order the plan knows, so ordering the result by
    * id costs nothing. The scan runs on the rows as Spark holds them: no
    * typed view, so no encoder round trip on either side.
    */
  def prefixSum(df: DataFrame, idCol: String, nCol: String,
      carry: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val ranged = df
      .select(col(idCol).cast("long").as(idCol) +:
        col(nCol).cast("long").as(nCol) +: carry.map(col): _*)
      .repartitionByRange(col(idCol))
      .sortWithinPartitions(col(idCol))
    // shared lineage: one shuffle, two jobs
    val rangedRdd = ranged.queryExecution.toRdd
    val partials = rangedRdd
      .mapPartitionsWithIndex((pid, it) =>
        Iterator.single(pid -> it.foldLeft(0L)(_ + _.getLong(1))))
      .collect()
      .sortBy(_._1)
    val offsets = partials.map(_._2).scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rangedRdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bc.value(pid)
      val prefix = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
      val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow(null, prefix)
      it.map { r =>
        prefix.setLong(0, acc)
        acc += r.getLong(1)
        joined.withLeft(r): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.graftbridge.Bridge.rangeSortedRows(spark, out,
      ranged.schema.add("prefix", org.apache.spark.sql.types.LongType, nullable = false),
      idCol)
  }

  /** The pack MANIFEST — what a training-data writer actually consumes:
    * one row per (training sequence, document slice), telling the packer
    * exactly which token range of which document fills which part of
    * which fixed-length sequence. Derived from [[concatChunk]]'s
    * coordinates by exploding each document over the sequences it spans
    * — a pure narrow map on top of the prefix sum (documents still never
    * move; output volume is n_docs + total_tokens/seqLen rows of five
    * longs).
    *
    * Row semantics for a doc with global start s and n tokens, sequence
    * q ∈ [first_seq, last_seq]:
    *   - slice_start: first doc-local token index landing in q;
    *   - slice_len:   tokens of this doc inside q (0 only for empty
    *     docs, which occupy no cells but keep a manifest row at their
    *     position);
    *   - offset_in_seq: the cell of q where the slice begins.
    *
    * Σ slice_len over a sequence = seqLen (except the corpus tail), and
    * Σ slice_len over a document = its n_tokens — both asserted in
    * PackingSpec.
    */
  def packManifest(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Long): DataFrame = {
    val c = concatChunk(docs, idCol, textCol, seqLen)
    c.select(col("doc_id"), col("n_tokens"), col("start_token"),
        explode(expr(s"sequence(first_seq, last_seq)")).as("seq_id"))
      .select(
        col("seq_id"),
        col("doc_id"),
        greatest(col("seq_id") * seqLen - col("start_token"), lit(0L))
          .as("slice_start"),
        (least((col("seq_id") + 1) * seqLen,
          col("start_token") + col("n_tokens")) -
          greatest(col("seq_id") * seqLen, col("start_token")))
          .as("slice_len"),
        greatest(col("start_token") - col("seq_id") * seqLen, lit(0L))
          .as("offset_in_seq"))
  }

  /** Pad-efficient length-bucketed batching: assign documents to
    * fixed-size training batches of similar token length, so per-batch
    * padding (batch max − doc tokens) stays bounded by the bucket width
    * instead of the corpus-wide length spread. The naive alternative — a
    * GLOBAL sort by length — funnels the corpus through one total order;
    * this buckets first (narrow map: bucket = n_tokens ÷ bucketWidth),
    * then ranks only WITHIN each bucket, so the sort state per partition
    * is one length class, not the corpus.
    *
    * batch_id packs (bucket, salt, group) into one long
    * (bucket·2³⁹ | salt·2³² | group) — deterministic, join-free, and
    * mirrorable in plain SQL arithmetic. The group field gets 32 bits
    * (~4B batches ≈ 34B docs per (bucket, salt) at batchSize 8), so a
    * mega-bucket cannot bleed group bits into the salt field and merge
    * batches across salt groups; the salt field is 7 bits (saltBuckets
    * ≤ 128), and buckets keep the remaining 24 bits BELOW the sign bit
    * — batch_id stays non-negative for every bucket < 2²⁴, i.e. up to
    * n_tokens = 2²⁴·bucketWidth, beyond any real document (an r6 review
    * caught the previous layout going negative at bucket ≥ 2²³).
    * Batches never cross a bucket (asserted in PackingSpec), so padding
    * ≤ bucketWidth−1 per row by construction.
    *
    * A corpus where most documents share one length class concentrates
    * its rank window on one partition — the sourceQuota hazard —
    * so `saltBuckets > 1` deterministically splits each bucket into
    * salt sub-groups (portable hash of the id) that batch
    * independently: same size/coherence guarantees, window state ÷
    * saltBuckets. The default (1) keeps assignment canonical for the
    * oracle (q73); the salted path is property-tested.
    *
    * Returns (doc_id, n_tokens, bucket, batch_id, batch_max, padding)
    * — the last batch of each (bucket, salt) may be smaller than
    * batchSize.
    */
  def lengthBatches(docs: DataFrame, idCol: String, textCol: String,
      batchSize: Int, bucketWidth: Int,
      saltBuckets: Int = 1): DataFrame = {
    require(batchSize > 0 && bucketWidth > 0 && saltBuckets > 0,
      s"positive parameters required: $batchSize/$bucketWidth/$saltBuckets")
    require(saltBuckets <= 128, s"saltBuckets fits 7 bits: $saltBuckets")
    import org.apache.spark.sql.expressions.Window
    val t = docs.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
    val withBucket = t
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
      .withColumn("__salt",
        if (saltBuckets == 1) lit(0L)
        else pmod(Sampling.portableBucket(col("doc_id")), lit(saltBuckets))
          .cast("long"))
    val w = Window.partitionBy(col("bucket"), col("__salt"))
      .orderBy(col("n_tokens"), col("doc_id"))
    val assigned = withBucket
      .withColumn("__rn", row_number().over(w).cast("long") - 1L)
      .withColumn("batch_id",
        shiftleft(col("bucket"), 39)
          .bitwiseOR(shiftleft(col("__salt"), 32))
          .bitwiseOR(expr(s"__rn div $batchSize")))
    val wb = Window.partitionBy(col("batch_id"))
    assigned.select(col("doc_id"), col("n_tokens"), col("bucket"),
      col("batch_id"),
      max(col("n_tokens")).over(wb).as("batch_max"),
      (max(col("n_tokens")).over(wb) - col("n_tokens")).as("padding"))
  }

  /** Concat-and-chunk packing: with the corpus as one token stream in
    * doc_id order, report where each document lands — its global start
    * token and the first/last training sequence of length `seqLen` it
    * touches. Downstream packers slice exactly [start_token,
    * start_token + n_tokens) out of sequences first_seq..last_seq; a
    * document never moves, only its coordinates are computed — zero data
    * shuffle beyond the 16-byte prefix-sum rows.
    *
    * Zero-token docs occupy nothing: first_seq = last_seq = the sequence
    * their empty position falls in. The `carry` columns of `docs` follow
    * the coordinates, carried through the prefix sum on the same rows.
    */
  def concatChunk(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Long, carry: Seq[String] = Nil): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive: $seqLen")
    val counts = docs.select(col(idCol).as("doc_id") +:
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens") +:
      carry.map(col): _*)
    prefixSum(counts, "doc_id", "n_tokens", carry)
      .select(Seq(col("doc_id"), col("n_tokens"),
        col("prefix").as("start_token"),
        expr(s"prefix div $seqLen").as("first_seq"),
        when(col("n_tokens") > 0,
          expr(s"(prefix + n_tokens - 1) div $seqLen"))
          .otherwise(expr(s"prefix div $seqLen")).as("last_seq")) ++
        carry.map(col): _*)
  }
}
