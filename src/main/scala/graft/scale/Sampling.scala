package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, join-free sampling for training pipelines.
  *
  * `sample(fraction)` is the wrong tool for train/eval splits at scale:
  * it is seed- AND partitioning-dependent (a repartition changes the
  * sample), and two independent samples can overlap. Hashing the stable
  * document key instead gives splits that are reproducible across runs,
  * engines and partitionings, mutually disjoint, and cheap — one codegen'd
  * narrow map, no shuffle, no persisted split table to join against.
  */
object Sampling {

  private val Buckets = 1000000L

  /** Stable bucket in [0, 1e6) from the key column (id or content hash). */
  def bucket(key: Column): Column = pmod(xxhash64(key), lit(Buckets))

  /** Rows whose key falls in [lo, hi) of the unit interval. Disjoint
    * ranges → disjoint samples; the same range always returns the same
    * rows regardless of partitioning.
    */
  def hashRange(df: DataFrame, key: Column, lo: Double, hi: Double): DataFrame = {
    require(lo >= 0 && hi <= 1 && lo <= hi, "need 0 <= lo <= hi <= 1")
    val b = bucket(key)
    df.filter(b >= (lo * Buckets).toLong && b < (hi * Buckets).toLong)
  }

  /** Named splits from fractions (e.g. train 0.98 / val 0.01 / test 0.01):
    * contiguous, disjoint hash ranges covering [0, Σfractions). Returns
    * the input with a `split` column; fractions must sum to <= 1 (any
    * remainder is dropped — useful for subsampling a corpus).
    */
  def splitByHash(df: DataFrame, key: Column,
      fractions: Seq[(String, Double)]): DataFrame =
    assignSplits(df, bucket(key), Buckets, fractions)

  private val P31 = 2147483647L

  /** Engine-PORTABLE stable bucket in [0, 2^31-1): affine hash of the key
    * reduced mod P = 2^31−1 — identical on any engine (DuckDB:
    * `(1103515245 * (((k % P) + P) % P) + 12345) % P`), every intermediate
    * below 2^62. [[bucket]] (xxhash64) is the production default; this one
    * backs the oracle-verified sampling operators.
    */
  def portableBucket(key: Column): Column =
    pmod(lit(1103515245L) * pmod(key, lit(P31)) + 12345L, lit(P31))

  /** [[splitByHash]] over the portable bucket — used where the split
    * assignment itself must be verifiable cross-engine (q46's
    * cluster-coherent split oracle).
    */
  def splitByPortableHash(df: DataFrame, key: Column,
      fractions: Seq[(String, Double)]): DataFrame =
    assignSplits(df, portableBucket(key), P31, fractions)

  private def assignSplits(df: DataFrame, b: Column, buckets: Long,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.map(_._2).sum <= 1.0 + 1e-9,
      "fractions must sum to <= 1")
    val bounds = fractions.scanLeft(0.0)(_ + _._2)
    val arms = fractions.zip(bounds.zip(bounds.tail)).map {
      case ((name, _), (lo, hi)) =>
        (b >= (lo * buckets).toLong && b < (hi * buckets).toLong, name)
    }
    val split = arms.tail.foldLeft(when(arms.head._1, arms.head._2)) {
      case (acc, (cond, name)) => acc.when(cond, name)
    }
    df.withColumn("split", split).filter(col("split").isNotNull)
  }

  /** Deterministic per-stratum subsampling — the "compose a training mix
    * with per-language rates" operator: keep a row iff its portable key
    * bucket falls below rate(stratum)·P. Reproducible,
    * partitioning-invariant, one codegen'd narrow map (the rates map
    * becomes a literal CASE — no join), and subsets nest: a stratum
    * sampled at 0.1 is a subset of the same stratum sampled at 0.5.
    * Strata not in `rates` use `defaultRate` (0 = drop).
    */
  def sampleStratified(df: DataFrame, key: Column, strata: Column,
      rates: Map[String, Double], defaultRate: Double = 0.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    val thr = rates.toSeq.sortBy(_._1)
      .foldLeft(when(lit(false), lit(0L))) { case (acc, (s, r)) =>
        acc.when(strata === s, lit((r * P31).toLong))
      }.otherwise(lit((defaultRate * P31).toLong))
    df.filter(portableBucket(key) < thr)
  }

  /** Temperature-based source-mix resampling (the mT5/XLM-R move,
    * Xue et al. 2021 §3.1 / Conneau et al. 2020 §3.1): rebalance a
    * skewed stratum mix so the sampled corpus follows p_l ∝ n_l^α —
    * α = 1 keeps the natural mix, α → 0 flattens toward uniform, the
    * usual 0.2-0.7 range boosts tail languages without letting them
    * dominate. Realized as pure SUBSAMPLING (no upsampling): stratum l
    * keeps rate_l = (n_min/n_l)^(1−α), so the smallest stratum keeps
    * everything and expected kept counts are n_min^(1−α)·n_l^α ∝ n_l^α.
    *
    * Membership is the same deterministic portable-hash rule as
    * [[sampleStratified]] — reproducible across runs, engines, and
    * partitionings, and nested across α (a doc kept at α=0.3 is kept at
    * every larger α, since rate is monotone in α). Scale shape: one
    * map-side-combined count per stratum (the only shuffle, output =
    * #strata rows), collected EAGERLY — the call runs that one job —
    * so the rates are computed on the driver and ride back as one map
    * literal: the corpus side is a single narrow codegen'd projection,
    * with no join, no broadcast and no global window, and the corpus
    * itself never reshuffles.
    *
    * Exactness: n_min/n_l is an exact-IEEE quotient of two longs; at
    * α = 0.5 the rate is `sqrt` of it — correctly rounded by IEEE 754,
    * bit-identical on any engine, which is why q75's oracle pins that α.
    * Other exponents route through `pow` (libm, 1-ulp engine drift — fine
    * in production, not oracle-hashable); 0/0.5/1 get exact forms.
    *
    * Rows with a NULL stratum are dropped (no count, no rate — same as
    * an unknown stratum in [[sampleStratified]] with defaultRate 0).
    * Returns the input plus (stratum_n, rate, keep) — `keep` kept as a
    * flag, not a filter, so callers can audit the decision (q75 hashes
    * the full decision table).
    */
  def temperatureMix(df: DataFrame, key: Column, strata: Column,
      alpha: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0, 1]: $alpha")
    val e = 1.0 - alpha
    val counts = df.groupBy(strata.as("__stratum"))
      .agg(count(lit(1)).as("stratum_n")).collect()
    // the min runs over every stratum, the NULL one included; the rates
    // are the exact forms Spark's sqrt (Math.sqrt) and pow
    // (StrictMath.pow) compute
    val nmin = if (counts.isEmpty) 0L else counts.map(_.getLong(1)).min
    def rate(n: Long): Double = {
      val ratio = nmin.toDouble / n.toDouble
      if (e == 0.0) 1.0
      else if (e == 0.5) math.sqrt(ratio)
      else if (e == 1.0) ratio
      else StrictMath.pow(ratio, e)
    }
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    import org.apache.spark.sql.types._
    // stratum -> (n, rate): one map literal, whose generated code does not
    // depend on the values it holds
    val known = counts.filterNot(_.isNullAt(0))
    val rates = Literal(
      new ArrayBasedMapData(
        new GenericArrayData(known.map(r => CatalystTypeConverters.convertToCatalyst(r.get(0)))),
        new GenericArrayData(known.map(r => InternalRow(r.getLong(1), rate(r.getLong(1)))))),
      MapType(df.select(strata).schema.head.dataType,
        StructType(Seq(StructField("n", LongType, nullable = false),
          StructField("rate", DoubleType, nullable = false))),
        valueContainsNull = false))
    val info = element_at(org.apache.spark.sql.graftbridge.Bridge.column(rates), strata)
    df.where(strata.isNotNull)
      .withColumn("stratum_n", info.getField("n"))
      .withColumn("rate", info.getField("rate"))
      .withColumn("keep",
        (portableBucket(key).cast("double") <
          col("rate") * lit(P31.toDouble)).cast("long"))
  }

  /** Deterministic global corpus shuffle into training shards — the
    * WebDataset/Megatron shard-writer shape: a training run wants the
    * corpus in pseudo-random order split across N shard files, with the
    * order decorrelated from every input attribute (source, crawl time,
    * length) so sequential shard readers see an unbiased stream.
    *
    * shard_id = portable bucket of the key mod nShards; pos = rank of
    * (bucket, key) WITHIN the shard. Both derive from the key alone —
    * reproducible across runs, engines, partitionings, and appends of
    * unrelated rows never permute an existing shard's relative order
    * (stable hash, not a global row_number).
    *
    * Scale shape: one hash exchange on shard_id plus a PER-SHARD sort —
    * deliberately never a global ORDER BY (a total order funnels 100 TB
    * through a single range-partition boundary computation; here each
    * shard sorts corpus/nShards rows independently and in parallel).
    * Size nShards so a shard fits an executor's sort budget (thousands of
    * shards are normal — they are output files, not partitions of
    * compute). The window carries no frame state (row_number only).
    *
    * Returns the input plus (shard_id, pos); write with
    * `.repartition(col("shard_id")).sortWithinPartitions("pos")` +
    * partitionBy to land one ordered file per shard.
    */
  def shuffleShards(df: DataFrame, key: Column, nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("__shard")).orderBy(col("__b"), key)
    df.withColumn("__b", portableBucket(key))
      .withColumn("__shard", pmod(col("__b"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("shard_id", col("__shard").cast("int"))
      .drop("__b", "__shard")
  }

  /** Token-budget mixture realization WITH UPSAMPLING — the companion
    * [[temperatureMix]] deliberately lacks: given target mixture weights
    * and a total token budget, each stratum's docs are emitted
    * `epochs = target_tokens / available_tokens` times — full integer
    * epochs for everyone, plus a deterministic portable-hash tail for
    * the fractional remainder (the "repeat the small high-quality
    * source 3.2×, downsample the crawl to 0.4×" move every
    * mixture-weighted training run performs). Strata without a weight
    * (or weights without corpus presence) drop out.
    *
    * Exactness: per-stratum token targets are computed on the DRIVER in
    * integer arithmetic (⌊budget · ⌊w·10⁶⌋ / 10⁶⌋ via BigInt — weights
    * are rationals, never float products); full epochs and remainder
    * are integer div/mod of longs in-plan; the tail keep is the
    * [[portableBucket]] rule under an exact-IEEE rem/avail rate — all
    * engine-portable, which is how q150 hash-certifies the whole
    * decision table plus the materialized epochs.
    *
    * Scale shape: one map-side-combined token-sum per stratum (output =
    * #strata rows), the target/epoch arithmetic rides that tiny frame,
    * one broadcast join back, and a codegen'd narrow flag — the corpus
    * never shuffles; materialization ([[materializeEpochs]]) is a
    * narrow generator (`sequence` + explode), ×epochs row growth with
    * zero exchange, the q86 chunking shape.
    *
    * Returns the input plus (avail, full_epochs, keep_tail, copies).
    */
  def realizeMixture(df: DataFrame, key: Column, strata: Column,
      tokenCount: Column, weights: Seq[(String, Double)],
      budgetTokens: Long): DataFrame = {
    require(weights.nonEmpty && weights.forall(_._2 >= 0.0),
      "weights must be non-negative")
    require(budgetTokens > 0, "budget must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val targets = weights.map { case (s, w) =>
      val wNum = math.floor(w * 1e6).toLong
      (s, (BigInt(budgetTokens) * wNum / 1000000L).toLong)
    }.toDF("__stratum", "__target")
    val avail = df.groupBy(strata.as("__astratum"))
      .agg(sum(tokenCount.cast("long")).as("avail"))
    val m = broadcast(targets
      .join(avail, col("__stratum") === col("__astratum"))
      .where(col("avail") > 0)
      .select(col("__stratum"), col("avail"),
        call_function("div", col("__target"), col("avail"))
          .as("full_epochs"),
        (col("__target") % col("avail")).as("__rem")))
    df.join(m, strata === col("__stratum"))
      .withColumn("keep_tail",
        (portableBucket(key).cast("double") <
          (col("__rem").cast("double") / col("avail").cast("double")) *
            lit(P31.toDouble)).cast("long"))
      .withColumn("copies", col("full_epochs") + col("keep_tail"))
      .drop("__stratum", "__astratum", "__rem")
  }

  /** Materialize a [[realizeMixture]] decision table: one output row per
    * (doc, epoch), epoch ∈ [1, copies]; copies = 0 rows vanish. Pure
    * narrow generator — no shuffle, the controlled row-growth shape.
    */
  def materializeEpochs(decided: DataFrame): DataFrame =
    decided.withColumn("epoch",
      explode(when(col("copies") >= 1L,
        sequence(lit(1L), col("copies")))
        .otherwise(array().cast("array<long>"))))

  /** Deterministic weighted sampling WITHOUT replacement, top-k of n
    * (Efraimidis–Spirakis A-ES): each row draws u ∈ (0, 1) from its key's
    * portable bucket and scores ln(u)/w — the log-domain, strictly
    * monotone form of the classic u^(1/w) key (better double spread than
    * values clustered at 1) — and the k largest scores win. Inclusion
    * probability rises with weight w > 0; the whole draw is a pure
    * function of the key, so the sample is reproducible across runs,
    * engines, and partitionings, and stable under appends of
    * non-winning rows.
    *
    * Scale shape: one codegen'd narrow map (bucket → u → score), then
    * `orderBy(...).limit(k)` — Spark plans TakeOrderedAndProject:
    * per-partition k-heaps, only parts·k rows converge, NO global sort.
    * The rank window runs on the ≤ k survivors.
    *
    * Determinism contract: score is rounded to 6 decimals (`ln` is libm,
    * 1-ulp engine drift) and the cut is total-ordered by
    * (score desc, key asc) — the q88 precedent.
    */
  /** EXACT-count stratified split: within every stratum, exactly
    * ⌊n·p_j⌋ rows land in split j (the last split takes the remainder) —
    * the contract [[splitByPortableHash]]'s rate-based assignment only
    * approximates (binomial noise ~ √n per stratum, which an eval-set
    * budget of 500 docs cannot absorb). Rows are ordered inside each
    * stratum by (portable bucket, id) — deterministic pseudo-random,
    * partitioning-invariant — and cut at exact integer boundaries.
    * Weights are PERMILLE integers (Σ = 1000), so every count is pure
    * integer arithmetic, replayable in SQL.
    *
    * Scale shape (the q64 two-job prefix-sum pattern, NOT a per-stratum
    * window): one range exchange on (stratum, bucket, id) + in-partition
    * sort; per-(partition, stratum) counts collect to the driver
    * (partitions × strata rows); broadcast offsets seed a narrow
    * per-partition rank pass. No stratum ever serializes into one task,
    * so a 99%-one-language corpus splits at full parallelism.
    *
    * Returns (id, stratum, rank, split) — rank is the 0-based position
    * within the stratum's deterministic order.
    */
  def exactStratifiedSplit(df: DataFrame, key: Column, strata: Column,
      weights: Seq[(String, Int)]): DataFrame = {
    require(weights.nonEmpty && weights.map(_._2).sum == 1000 &&
      weights.forall(_._2 >= 0), s"permille weights must sum to 1000: $weights")
    val spark = df.sparkSession
    import spark.implicits._
    val ds: org.apache.spark.sql.Dataset[(String, Long, Long)] = df
      .select(strata.cast("string").as("_1"),
        portableBucket(key).as("_2"), key.cast("long").as("_3"))
      .as[(String, Long, Long)]
    val ranged = ds.repartitionByRange(col("_1"), col("_2"), col("_3"))
      .sortWithinPartitions(col("_1"), col("_2"), col("_3"))
    val rangedRdd = ranged.rdd // shared lineage: one shuffle, two jobs
    val partials = rangedRdd
      .mapPartitionsWithIndex((pid, it) => {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
        it.foreach { case (s, _, _) => m.update(s, m.getOrElse(s, 0L) + 1L) }
        m.iterator.map { case (s, n) => (pid, s, n) }
      })
      .collect()
    val totals = partials.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // per-(pid, stratum) start offset: rows of the same stratum in
    // earlier partitions (range partitioning keeps strata contiguous,
    // but a stratum may span partitions)
    val offsets: Map[(Int, String), Long] = {
      val byStratum = partials.groupBy(_._2)
      byStratum.flatMap { case (s, rows) =>
        val sorted = rows.sortBy(_._1)
        val starts = sorted.map(_._3).scanLeft(0L)(_ + _)
        sorted.map(_._1).zip(starts).map { case (pid, off) => (pid, s) -> off }
      }
    }
    // exact cut boundaries per stratum: floor(n·w/1000) each, last takes
    // the remainder
    val cuts: Map[String, Seq[(String, Long)]] = totals.map { case (s, n) =>
      val base = weights.init.map { case (nm, w) => nm -> n * w / 1000L }
      val cum = base.scanLeft(0L)(_ + _._2).tail
      s -> (base.map(_._1).zip(cum) :+ (weights.last._1 -> n))
    }
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcCuts = spark.sparkContext.broadcast(cuts)
    val out = rangedRdd.mapPartitionsWithIndex { (pid, it) =>
      val counters = scala.collection.mutable.HashMap.empty[String, Long]
      it.map { case (s, _, id) =>
        val r = counters.getOrElse(s,
          bcOff.value.getOrElse((pid, s), 0L))
        counters.update(s, r + 1L)
        val split = bcCuts.value(s).collectFirst {
          case (nm, cut) if r < cut => nm
        }.getOrElse(bcCuts.value(s).last._1)
        (id, s, r, split)
      }
    }
    out.toDF("id", "stratum", "rank", "split")
  }

  def weightedSampleTopK(df: DataFrame, key: Column, weight: Column,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    import org.apache.spark.sql.expressions.Window
    // bucket ∈ [0, P31) → u = (bucket+1)/2^31 ∈ (0, 1]; ln(1) = 0 is the
    // best possible score at any weight, so u = 1 needs no exclusion
    val u = (portableBucket(key) + 1L).cast("double") / lit((P31 + 1).toDouble)
    // + 0.0 collapses IEEE −0.0 (a near-1 u rounding to zero) to +0.0 —
    // engines disagree on the sign of a zero out of round()
    val score = round(log(u) / weight.cast("double"), 6) + lit(0.0)
    val w = Window.orderBy(col("__score").desc, key)
    df.withColumn("__score", score)
      .orderBy(col("__score").desc, key)
      .limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumnRenamed("__score", "score")
  }
}
