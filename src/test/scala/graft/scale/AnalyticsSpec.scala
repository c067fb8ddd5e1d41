package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit semantics for the round-9 analytics/maintenance operators:
  * time-series resample+ffill, snapshot diff, winsorization, and int8
  * embedding quantization.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  // ---- TimeSeries.resampleFfill ----------------------------------------

  test("resampleFfill: fills interior gaps with the previous bucket mean") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:10:00"), 10.0),
      (1L, ts("2024-01-01 00:50:00"), 20.0), // same hour → mean 15
      (1L, ts("2024-01-01 03:05:00"), 7.0), // hours 1,2 are gaps
      (2L, ts("2024-01-01 05:00:00"), 1.0) // single bucket, no gaps
    ).toDF("user_id", "ts", "value")
    val out = TimeSeries.resampleFfill(ev, "ts", "user_id", "value")
      .orderBy("user_id", "bucket")
      .select(col("user_id"), date_format(col("bucket"), "HH").cast("int"),
        col("value_ffill"), col("is_gap"))
      .as[(Long, Int, Double, Boolean)].collect.toSeq
    assert(out === Seq(
      (1L, 0, 15.0, false), (1L, 1, 15.0, true), (1L, 2, 15.0, true),
      (1L, 3, 7.0, false), (2L, 5, 1.0, false)))
  }

  test("resampleFfill: first bucket per key is never a gap") {
    val ev = Seq((1L, ts("2024-01-01 10:30:00"), 5.0))
      .toDF("user_id", "ts", "value")
    val out = TimeSeries.resampleFfill(ev, "ts", "user_id", "value")
      .select("is_gap").as[Boolean].collect.toSeq
    assert(out === Seq(false))
  }

  test("resampleFfill: daily unit truncates and steps by day") {
    val ev = Seq(
      (1L, ts("2024-01-01 23:00:00"), 4.0),
      (1L, ts("2024-01-04 01:00:00"), 6.0)
    ).toDF("user_id", "ts", "value")
    val out = TimeSeries.resampleFfill(ev, "ts", "user_id", "value", "day")
      .orderBy("bucket")
      .select(date_format(col("bucket"), "dd").cast("int"), col("is_gap"))
      .as[(Int, Boolean)].collect.toSeq
    assert(out === Seq((1, false), (2, true), (3, true), (4, false)))
  }

  // ---- Cdc.snapshotDiff ------------------------------------------------

  private val oldSnap = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
  ).toDF("k", "s", "x")

  test("snapshotDiff classifies I/D/U and drops unchanged keys") {
    val newSnap = Seq(
      (1L, "a", 10.0), // unchanged → dropped
      (2L, "b", 21.0), // updated
      (4L, "d", 40.0) // inserted; key 3 deleted
    ).toDF("k", "s", "x")
    val out = Cdc.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("s", "x"))
      .orderBy("k").as[(Long, String, String, Double)].collect.toSeq
    assert(out === Seq(
      (2L, "U", "b", 21.0), (3L, "D", "c", 30.0), (4L, "I", "d", 40.0)))
  }

  test("snapshotDiff: null-safe compare — null→value and value→null are U") {
    val o = Seq((1L, Option.empty[String]), (2L, Some("v")),
      (3L, Option.empty[String])).toDF("k", "s")
    val n = Seq((1L, Some("v")), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("k", "s")
    val out = Cdc.snapshotDiff(o, n, Seq("k"), Seq("s"))
      .orderBy("k").select("k", "change_type")
      .as[(Long, String)].collect.toSeq
    // key 3: null == null → unchanged, dropped
    assert(out === Seq(1L -> "U", 2L -> "U"))
  }

  test("snapshotDiff inverts upsert: old + diff-as-changes = new") {
    val newSnap = Seq((2L, "b", 21.0), (4L, "d", 40.0)).toDF("k", "s", "x")
    val diff = Cdc.snapshotDiff(oldSnap, newSnap, Seq("k"), Seq("s", "x"))
    // rewrite the diff as an upsert batch: D → delete op, I/U → upsert
    val changes = diff.withColumn("op",
      when(col("change_type") === "D", lit("D")).otherwise(lit("U")))
      .withColumn("v", lit(2L)).drop("change_type")
    val base = oldSnap.withColumn("v", lit(1L))
    val merged = Cdc.upsert(base, changes, Seq("k"), "v")
      .select("k", "s", "x").orderBy("k")
      .as[(Long, String, Double)].collect.toSeq
    assert(merged === Seq((2L, "b", 21.0), (4L, "d", 40.0)))
  }

  // ---- Features.winsorizeStats -----------------------------------------

  test("winsorizeStats clips exactly at the rounded percentile bounds") {
    // 11 values 0..100: p10 = 10, p90 = 90 exactly (interpolation lands
    // on data points), so clip counts are exactly one row per side
    val df = (0 to 10).map(i => ("g", i * 10.0)).toDF("grp", "v")
    val out = Features.winsorizeStats(df, "grp", "v", 0.10, 0.90)
      .as[(String, Long, Long, Long, Double, Double, Double)]
      .collect.toSeq
    // clipped sum: 10 + 10+20+...+90 + 90 = 550
    assert(out === Seq(("g", 11L, 1L, 1L, 10.0, 90.0, 550.0)))
  }

  test("winsorizeStats: strata are independent") {
    val df = ((1 to 100).map(i => ("a", i.toDouble)) ++
      Seq(("b", 5.0), ("b", 6.0))).toDF("grp", "v")
    val out = Features.winsorizeStats(df, "grp", "v", 0.05, 0.95)
      .orderBy("grp")
      .select("grp", "n", "n_clipped_lo", "n_clipped_hi")
      .as[(String, Long, Long, Long)].collect.toSeq
    // a: p05 = 1 + 0.05·99 = 5.95 → clips 1..5; p95 = 95.05 → clips 96..100
    // b: interpolation between the 2 points puts both ends strictly inside
    //    [5, 6] (p05 = 5.05, p95 = 5.95) → each endpoint clips
    assert(out === Seq(("a", 100L, 5L, 5L), ("b", 2L, 1L, 1L)))
  }

  // ---- Features.quantizeInt8Stats --------------------------------------

  private def emb(rows: (Long, Seq[Float])*) = rows.toDF("id", "vec")

  test("quantizeInt8: max element maps to ±127, checksums exact") {
    val out = Features.quantizeInt8Stats(
      emb(0L -> Seq(1.0f, -1.0f, 0.5f, 0.0f)), "id", "vec")
      .select("q_sum", "q_l1", "q_min", "q_max")
      .as[(Long, Long, Long, Long)].collect.head
    // scale = 1/127; codes = 127, -127, 64 (63.5 rounds half-up), 0
    assert(out === ((64L, 318L, -127L, 127L)))
  }

  test("quantizeInt8: zero vector → all-zero codes, zero error") {
    val out = Features.quantizeInt8Stats(
      emb(0L -> Seq(0f, 0f, 0f)), "id", "vec")
      .select("q_sum", "q_l1", "max_err")
      .as[(Long, Long, Double)].collect.head
    assert(out === ((0L, 0L, 0.0)))
  }

  test("quantizeInt8: reconstruction error bounded by scale/2") {
    val vecs = emb(
      0L -> Seq(0.123f, -0.456f, 0.789f, -0.001f),
      1L -> Seq(3.21f, 1.0f, -2.5f, 0.77f))
    val bad = Features.quantizeInt8Stats(vecs, "id", "vec")
      .where(col("max_err") > col("scale") * 0.5 + 1e-12)
    assert(bad.count() === 0)
  }

  // ---- TimeSeries.ewmaBounded ------------------------------------------

  test("ewma: weights newest observations most, normalizes short frames") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:00:00"), 10.0),
      (1L, ts("2024-01-01 01:00:00"), 20.0),
      (1L, ts("2024-01-01 02:00:00"), 40.0)
    ).toDF("k", "ts", "v")
    val out = TimeSeries.ewmaBounded(ev, "k", Seq("ts"), "v",
      alpha = 0.5, window = 8)
      .orderBy("ts").select("ewma").as[Double].collect.toSeq
    // row1: 10; row2: (0.5·10 + 20)/1.5 = 16.666667;
    // row3: (0.25·10 + 0.5·20 + 40)/1.75 = 52.5/1.75 = 30
    assert(out === Seq(10.0, 16.666667, 30.0))
  }

  test("ewma: window bound drops history beyond the frame") {
    val ev = (0 until 5).map(i => (1L, ts(f"2024-01-01 0$i:00:00"), i * 1.0))
      .toDF("k", "ts", "v")
    // window=2: last row sees only v=3,4 → (0.5·3+4)/1.5
    val out = TimeSeries.ewmaBounded(ev, "k", Seq("ts"), "v",
      alpha = 0.5, window = 2)
      .orderBy("ts").select("ewma").as[Double].collect.toSeq
    assert(out.last === BigDecimal((0.5 * 3 + 4) / 1.5)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  // ---- Funnel.cohortRetention ------------------------------------------

  test("cohortRetention: counts distinct users per (cohort, age)") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (1L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-03 09:00:00")),
      (2L, ts("2024-01-01 23:00:00")), (2L, ts("2024-01-03 01:00:00")),
      (3L, ts("2024-01-02 08:00:00"))
    ).toDF("user_id", "ts")
    val out = Funnel.cohortRetention(ev, "user_id", "ts")
      .select(date_format(col("cohort_day"), "dd").cast("int"),
        col("age_days"), col("n_users"))
      .orderBy(col("cohort_day"), col("age_days"))
      .as[(Int, Long, Long)].collect.toSeq
    // cohort jan-1: 2 users day0, 2 users day2 (both 1 and 2 return);
    // cohort jan-2: 1 user day0; duplicate same-day events collapse
    assert(out === Seq((1, 0L, 2L), (1, 2L, 2L), (2, 0L, 1L)))
  }

  // ---- Features.bucketizeByQuantiles -----------------------------------

  test("bucketize: distinct uniform values spread across all buckets") {
    val df = (1 to 100).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val out = Features.bucketizeByQuantiles(df, "grp", "v", nBuckets = 10)
      .orderBy("bucket").select("bucket", "n")
      .as[(Long, Long)].collect.toSeq
    assert(out.map(_._1) === (0L to 9L))
    assert(out.map(_._2).sum === 100L)
    // deciles of 1..100 give ~equal occupancy
    assert(out.map(_._2).forall(n => n >= 9 && n <= 11))
  }

  test("bucketize: ties land in one bucket (value-function semantics)") {
    val df = (Seq.fill(50)(5.0) ++ Seq.fill(50)(9.0)).map(("g", _))
      .toDF("grp", "v")
    val out = Features.bucketizeByQuantiles(df, "grp", "v", nBuckets = 4)
      .select("bucket", "n").as[(Long, Long)].collect.toSeq.sortBy(_._1)
    // only two distinct values → exactly two occupied buckets, 50 each
    assert(out.map(_._2) === Seq(50L, 50L))
    assert(out.map(_._1).distinct.length === 2)
  }

  // ---- Graph.pageRank --------------------------------------------------

  test("pageRank: symmetric cycle converges to uniform ranks") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "t")
    val out = Graph.pageRank(e, "s", "t", iters = 3)
      .orderBy("id").as[(Long, Double)].collect.toSeq
    // a 3-cycle is rank-regular: every node keeps exactly 1/3
    assert(out.map(_._1) === Seq(1L, 2L, 3L))
    out.foreach { case (_, r) => assert(math.abs(r - 1.0 / 3) < 1e-9) }
  }

  test("pageRank: sink-heavy star ranks the hub above the leaves") {
    // leaves 2..5 all point at 1; 1 points at 2
    val e = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L), (1L, 2L))
      .toDF("s", "t")
    val out = Graph.pageRank(e, "s", "t", iters = 5)
      .as[(Long, Double)].collect.toMap
    assert(out(1L) > out(2L) && out(2L) > out(3L))
    assert(out(3L) === out(4L) && out(4L) === out(5L))
  }

  test("pageRank: total mass stays ~1 when no node dangles") {
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("s", "t")
    val mass = Graph.pageRank(e, "s", "t", iters = 4)
      .agg(sum(col("rank"))).as[Double].collect.head
    assert(math.abs(mass - 1.0) < 1e-6)
  }

  test("pageRankDangling: mass conserved at depth where the leaky variant drains") {
    // chain into a sink: 1→2→3→4, node 4 dangles; half the stationary
    // mass would leak through it without redistribution
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "t")
    val conserved = Graph.pageRankDangling(e, "s", "t", iters = 12)
      .agg(sum(col("rank"))).as[Double].collect.head
    val leaky = Graph.pageRank(e, "s", "t", iters = 12)
      .agg(sum(col("rank"))).as[Double].collect.head
    // floor losses only: ≤ a few units (10^-12) per node per iteration
    assert(math.abs(conserved - 1.0) < 1e-9, s"conserved mass = $conserved")
    assert(leaky < 0.75, s"leaky variant should drain through the sink: $leaky")
  }

  test("pageRankDangling: no dangling nodes => identical to pageRank") {
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("s", "t")
    val a = Graph.pageRank(e, "s", "t", iters = 6)
      .orderBy("id").as[(Long, Double)].collect.toSeq
    val b = Graph.pageRankDangling(e, "s", "t", iters = 6)
      .orderBy("id").as[(Long, Double)].collect.toSeq
    assert(a === b)
  }

  test("pageRank: in-loop checkpoint cadence does not change results") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (2L, 4L))
      .toDF("s", "t")
    val plain = Graph.pageRankDangling(e, "s", "t", iters = 7,
      checkpointEvery = 0).orderBy("id").as[(Long, Double)].collect.toSeq
    val truncated = Graph.pageRankDangling(e, "s", "t", iters = 7,
      checkpointEvery = 2).orderBy("id").as[(Long, Double)].collect.toSeq
    assert(plain === truncated)
  }

  // ---- Pq --------------------------------------------------------------

  test("pq: k-vector corpus quantizes losslessly (codes = identity, self-dist 0)") {
    // with exactly k vectors and iters = 1, each subspace codebook IS the
    // vectors' slices, so every vector's reconstruction is exact: ADC of
    // any vector-as-query puts that vector at rank 1 with distance 0
    val vecs = Seq(
      (0L, Array(0f, 0f, 10f, 10f, 0f, 0f, 5f, 5f)),
      (1L, Array(9f, 9f, 0f, 0f, 1f, 1f, 0f, 0f)),
      (2L, Array(0f, 5f, 0f, 5f, 9f, 0f, 9f, 0f)))
      .toDF("id", "vec")
    val cb = graft.scale.Pq.trainCodebooks(vecs, "id", "vec",
      dim = 8, m = 2, k = 3, iters = 1)
    val codes = graft.scale.Pq.encode(vecs, "id", "vec", cb)
    (0 until 3).foreach { i =>
      val q = vecs.where(col("id") === i)
        .select(transform(col("vec"), x => x.cast("double")))
        .collect().head.getSeq[Double](0).toArray
      val top = graft.scale.Pq.adcTopK(codes, "id", cb, q, topK = 1)
        .collect().head
      assert(top.getLong(0) == i.toLong && top.getDouble(1) == 0.0,
        s"query $i -> (${top.getLong(0)}, ${top.getDouble(1)})")
    }
  }

  test("opq: trainRotation is orthogonal, deterministic, balanced") {
    val rnd = new scala.util.Random(205L)
    // correlated dims: latent 2D structure smeared over 8 dims
    val vecs = (0L until 60L).map { i =>
      val a = rnd.nextInt(10) * 10.0
      val b = rnd.nextInt(10) * 10.0
      (i, Array.tabulate(8)(d =>
        (a * math.cos(d * 0.7) + b * math.sin(d * 0.4)).toFloat))
    }.toDF("id", "vec")
    val r1 = graft.scale.Opq.trainRotation(vecs, "vec", dim = 8, m = 4)
    val r2 = graft.scale.Opq.trainRotation(vecs, "vec", dim = 8, m = 4)
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq, "deterministic")
    // orthogonality: R R^T = I (rows are the sign-pinned eigenbasis)
    for (i <- 0 until 8; j <- 0 until 8) {
      val dot = (0 until 8).map(k => r1(i)(k) * r1(j)(k)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-6,
        s"RR^T[$i][$j] = $dot")
    }
    // balanced allocation: with 8 eigenvalues descending into 4
    // subspaces of 2, no subspace may hold both of the top-2 eigenpairs
    val cov = graft.scale.Pca.collectMatrix(
      graft.scale.Pca.covarianceMatrix(vecs, "vec"))
    val (vals, vecsE) = graft.scale.Pca.jacobiEigen(cov)
    val rowIdx = r1.map(row => vecsE.indexWhere(_.toSeq == row.toSeq))
    assert(rowIdx.forall(_ >= 0), "rotation rows are eigenvectors")
    val top2Sub = Seq(rowIdx.indexOf(0) / 2, rowIdx.indexOf(1) / 2)
    assert(top2Sub.distinct.size == 2,
      s"top-2 eigenpairs must land in different subspaces: $top2Sub (vals ${vals.take(3).toSeq})")
  }

  test("opq: rotated PQ recall beats plain PQ on variance-concentrated vectors") {
    // ALL the information lives in dims 0-1 (a 5x5 grid scaled by 100);
    // dims 2-7 are zero. Plain PQ gives subspace (0,1) only k=4 cells
    // for 25 distinct points and wastes the other three codebooks;
    // a rotation spreads the grid over every subspace.
    val pts = for (u <- 0 until 5; v <- 0 until 5) yield (u, v)
    val vecs = pts.zipWithIndex.map { case ((u, v), i) =>
      (i.toLong, Array(u * 100f, v * 100f, 0f, 0f, 0f, 0f, 0f, 0f))
    }.toDF("id", "vec")
    val raw = pts.map { case (u, v) =>
      Array(u * 100.0, v * 100.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0) }
    def exactTopK(q: Array[Double], k: Int): Seq[Long] =
      raw.zipWithIndex.map { case (x, i) =>
        (x.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum, i.toLong)
      }.sortBy { case (d2, i) => (d2, i) }.take(k).map(_._2).toSeq
    def recallOf(rot: Option[Array[Array[Double]]]): Double = {
      val base = rot.map(r =>
        graft.scale.Opq.rotate(vecs, "id", "vec", r)).getOrElse(vecs)
      val cb = graft.scale.Pq.trainCodebooks(base, "id", "vec",
        dim = 8, m = 4, k = 4, iters = 3)
      val codes = graft.scale.Pq.encode(base, "id", "vec", cb)
      val queries = Seq(0, 6, 12, 18, 24)
      val hits = queries.map { qi =>
        val q0 = raw(qi)
        val q = rot.map(r => graft.scale.Opq.rotateVector(q0, r)).getOrElse(q0)
        val got = graft.scale.Pq.adcTopK(codes, "id", cb, q, topK = 5)
          .collect().map(_.getLong(0)).toSet
        (exactTopK(q0, 5).toSet intersect got).size
      }.sum
      hits.toDouble / (queries.size * 5)
    }
    val plain = recallOf(None)
    val had = recallOf(Some(graft.scale.Opq.hadamardRotation(8)))
    val opq = recallOf(Some(
      graft.scale.Opq.trainRotation(vecs, "vec", dim = 8, m = 4)))
    assert(had >= plain, s"hadamard $had < plain $plain")
    assert(opq >= plain, s"opq $opq < plain $plain")
    assert(math.max(had, opq) > plain,
      s"rotation must strictly improve recall here: plain=$plain had=$had opq=$opq")
  }

  test("pq: well-separated clusters retrieve their own members first") {
    // 3 clusters of 4 vectors in 8-dim, far apart; after 2 Lloyd iters
    // per subspace, every query's top-4 must be exactly its own cluster
    val base = Seq(
      Array.fill(8)(0.0), Array.fill(8)(50.0),
      Array.tabulate(8)(d => if (d % 2 == 0) 100.0 else -100.0))
    val vecs = base.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 4).map { j =>
        ((ci * 4 + j).toLong,
          c.zipWithIndex.map { case (x, d) => (x + (j + d) % 3 * 0.5).toFloat })
      }
    }.toDF("id", "vec")
    val cb = graft.scale.Pq.trainCodebooks(vecs, "id", "vec",
      dim = 8, m = 2, k = 3, iters = 2)
    val codes = graft.scale.Pq.encode(vecs, "id", "vec", cb)
    base.indices.foreach { ci =>
      val q = base(ci).clone()
      val got = graft.scale.Pq.adcTopK(codes, "id", cb, q, topK = 4)
        .collect().map(_.getLong(0)).toSet
      assert(got === (ci * 4 until ci * 4 + 4).map(_.toLong).toSet,
        s"cluster $ci retrieved $got")
    }
  }

  test("pq: ivfPqTopK with nprobe=k scans everything == plain adcTopK") {
    val rnd = new scala.util.Random(99L)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)((rnd.nextInt(200) - 100).toFloat))).toDF("id", "vec")
    val coarse = graft.scale.Clustering.lloydTrain(vecs, "id", "vec",
      k = 4, iters = 2)
    val cb = graft.scale.Pq.trainCodebooks(vecs, "id", "vec",
      dim = 8, m = 2, k = 3, iters = 2)
    val idx = graft.scale.Pq.buildIvfPqIndex(vecs, "id", "vec", coarse, cb)
    val q = Array.fill(8)(7.0)
    val full = graft.scale.Pq.ivfPqTopK(idx, "id", coarse, cb, q,
      nprobe = 4, topK = 5)
      .select("id", "adc_dist", "rank")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    val plain = graft.scale.Pq.adcTopK(idx.select(col("id"), col("codes")),
      "id", cb, q, topK = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(full === plain)
  }

  test("pq: ivfPqTopK never returns a vector from an unprobed cell") {
    val rnd = new scala.util.Random(7L)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(8)((rnd.nextInt(200) - 100).toFloat))).toDF("id", "vec")
    val coarse = graft.scale.Clustering.lloydTrain(vecs, "id", "vec",
      k = 4, iters = 2)
    val cb = graft.scale.Pq.trainCodebooks(vecs, "id", "vec",
      dim = 8, m = 2, k = 3, iters = 2)
    val idx = graft.scale.Pq.buildIvfPqIndex(vecs, "id", "vec", coarse, cb)
    val q = Array.fill(8)(0.0)
    val got = graft.scale.Pq.ivfPqTopK(idx, "id", coarse, cb, q,
      nprobe = 1, topK = 40).collect()
    assert(got.nonEmpty)
    assert(got.map(_.getInt(1)).toSet.size == 1,
      "nprobe=1 results must all come from one cell")
  }

  test("pq: ivfPqRecallCurve — monotone cost, full-probe row is pure " +
      "quantization loss, rows agree with the single-point evaluator") {
    val rnd = new scala.util.Random(13L)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(8)((rnd.nextInt(200) - 100).toFloat))).toDF("id", "vec")
    val coarse = graft.scale.Clustering.lloydTrain(vecs, "id", "vec",
      k = 4, iters = 2)
    val cb = graft.scale.Pq.trainCodebooks(vecs, "id", "vec",
      dim = 8, m = 2, k = 3, iters = 2)
    val idx = graft.scale.Pq.buildIvfPqIndex(vecs, "id", "vec", coarse, cb)
    val q = Array.fill(8)(5.0)
    val curve = graft.scale.Pq.ivfPqRecallCurve(vecs, "id", "vec", idx,
      coarse, cb, q, nprobes = Seq(1, 2, 3, 4), topK = 10).collect()
    assert(curve.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
    // cost: scanned_rows non-decreasing (nested probe sets), full probe
    // scans the whole index
    val scanned = curve.map(_.getLong(4)).toSeq
    assert(scanned.sliding(2).forall(p => p.head <= p.last), scanned)
    assert(scanned.last == 60L)
    assert(curve.last.getDouble(5) == 1.0)
    // every curve row reproduces the single-point evaluator at its nprobe
    Seq(1, 2, 3, 4).zip(curve).foreach { case (np, row) =>
      val single = graft.scale.Pq.ivfPqRecallEval(vecs, "id", "vec", idx,
        coarse, cb, q, nprobe = np, topK = 10).collect().head
      assert(row.getLong(2) == single.getLong(2), s"n_hit at nprobe $np")
      assert(row.getDouble(3) == single.getDouble(3), s"recall at nprobe $np")
    }
    // the full-probe row's found set == a whole-index ADC scan: its recall
    // shortfall is quantization loss alone, no probe loss left to tune
    val full = graft.scale.Pq.ivfPqTopK(idx, "id", coarse, cb, q,
      nprobe = 4, topK = 10).collect().map(_.getLong(0)).toSet
    val plain = graft.scale.Pq.adcTopK(idx.select(col("id"), col("codes")),
      "id", cb, q, topK = 10).collect().map(_.getLong(0)).toSet
    assert(full == plain)
  }

  test("pq: mergeIvfPqIndex == rebuild over (corpus \\ batch-ids) ∪ batch") {
    val rnd = new scala.util.Random(41L)
    def mk(ids: Seq[Long]) = ids.map(i =>
      (i, Array.fill(8)((rnd.nextInt(200) - 100).toFloat)))
    val corpusRows = mk(0L until 30L)
    // batch: 5 new ids plus 3 re-ingested ids with CHANGED vectors
    val batchRows = mk(30L until 35L) ++
      Seq(3L, 11L, 27L).map(i => (i, Array.fill(8)(77f + i)))
    val corpus = corpusRows.toDF("id", "vec")
    val batch = batchRows.toDF("id", "vec")
    val coarse = graft.scale.Clustering.lloydTrain(corpus, "id", "vec",
      k = 4, iters = 2)
    val cb = graft.scale.Pq.trainCodebooks(corpus, "id", "vec",
      dim = 8, m = 2, k = 3, iters = 2)
    val idx = graft.scale.Pq.buildIvfPqIndex(corpus, "id", "vec", coarse, cb)
    val merged = graft.scale.Pq
      .mergeIvfPqIndex(idx, batch, "id", "vec", coarse, cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
      .toSet
    val batchIds = batchRows.map(_._1).toSet
    val rebuilt = graft.scale.Pq.buildIvfPqIndex(
      (corpusRows.filterNot(r => batchIds(r._1)) ++ batchRows)
        .toDF("id", "vec"),
      "id", "vec", coarse, cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
      .toSet
    assert(merged === rebuilt)
    assert(merged.size == 35)
    // re-ingest precedence: id 3's row reflects the NEW vector, not the old
    val old3 = graft.scale.Pq
      .buildIvfPqIndex(corpus.where(col("id") === 3), "id", "vec", coarse, cb)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).head
    assert(!merged.contains(old3) || {
      // only acceptable if old and new vectors happen to encode identically
      val new3 = merged.find(_._1 == 3L).get; new3 == old3
    })
  }

  test("pq: mergeIvfPqIndex rejects an index built with different models") {
    val vecs = Seq((0L, Array.fill(8)(1f)), (1L, Array.fill(8)(60f)))
      .toDF("id", "vec")
    val coarse = graft.scale.Clustering.lloydTrain(vecs, "id", "vec",
      k = 2, iters = 1)
    val cb = graft.scale.Pq.trainCodebooks(vecs, "id", "vec",
      dim = 8, m = 2, k = 2, iters = 1)
    val cb4 = graft.scale.Pq.trainCodebooks(vecs, "id", "vec",
      dim = 8, m = 4, k = 2, iters = 1)
    val idx4 = graft.scale.Pq.buildIvfPqIndex(vecs, "id", "vec", coarse, cb4)
    val ex = intercept[Exception] {
      graft.scale.Pq.mergeIvfPqIndex(idx4, vecs.where(col("id") === 1),
        "id", "vec", coarse, cb).collect()
    }
    assert(ex.getMessage.contains("incompatible"))
  }

  test("pq: contract guards - indivisible dim and query-dim mismatch") {
    val vecs = Seq((0L, Array.fill(8)(1f)), (1L, Array.fill(8)(2f)))
      .toDF("id", "vec")
    intercept[IllegalArgumentException] {
      graft.scale.Pq.trainCodebooks(vecs, "id", "vec",
        dim = 8, m = 3, k = 2, iters = 1)
    }
    val cb = graft.scale.Pq.trainCodebooks(vecs, "id", "vec",
      dim = 8, m = 2, k = 2, iters = 1)
    intercept[IllegalArgumentException] {
      graft.scale.Pq.adcTopK(
        graft.scale.Pq.encode(vecs, "id", "vec", cb),
        "id", cb, Array.fill(6)(0.0), topK = 1)
    }
  }

  // ---- Quality.expect --------------------------------------------------

  test("quality expectations: counts violations per check in one pass") {
    val df = Seq(
      (1L, 10.0, "A"), (2L, -5.0, "B"), (3L, 0.0, "A"), (3L, 7.0, "C")
    ).toDF("id", "price", "status")
    val out = Quality.expect(df,
      Seq("positive_price" -> (col("price") > 0),
        "known_status" -> col("status").isin("A", "B")),
      uniqueKeys = Seq("id"))
      .orderBy("check")
      .as[(String, Long, Long, Boolean)].collect.toSeq
    assert(out === Seq(
      ("known_status", 4L, 1L, false), // C
      ("positive_price", 4L, 2L, false), // -5 and 0
      ("unique:id", 4L, 1L, false))) // id 3 twice
  }

  test("quality expectations: null predicate result counts as violation") {
    val df = Seq((1L, Some(5.0)), (2L, None)).toDF("id", "v")
    val out = Quality.expect(df, Seq("v_over_1" -> (col("v") > 1.0)))
      .as[(String, Long, Long, Boolean)].collect.head
    assert(out === (("v_over_1", 2L, 1L, false)))
  }

  // ---- TextOps.distinctNgramDiversity ----------------------------------

  test("ngram diversity: repeated template scores low, varied text high") {
    val docs = Seq(
      ("spam", "buy now buy now buy now buy now"),
      ("spam", "buy now buy now"),
      ("fresh", "alpha beta gamma delta"),
      ("fresh", "epsilon zeta eta theta")
    ).toDF("source", "text")
    val out = TextOps.distinctNgramDiversity(docs, "source", "text")
      .orderBy("source")
      .select("source", "uni_total", "uni_distinct", "bi_distinct")
      .as[(String, Long, Long, Long)].collect.toSeq
    // fresh: 8 tokens all distinct, 6 bigrams all distinct
    // spam: 12 tokens 2 distinct; bigrams {buy now, now buy} = 2
    assert(out === Seq(("fresh", 8L, 8L, 6L), ("spam", 12L, 2L, 2L)))
  }

  // ---- Funnel.rollingActiveStickiness ----------------------------------

  test("stickiness: WAU windows accumulate trailing distinct users") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 11:00:00")),
      (1L, ts("2024-01-02 10:00:00")),
      (3L, ts("2024-01-05 10:00:00"))
    ).toDF("user_id", "ts")
    val out = Funnel.rollingActiveStickiness(ev, "user_id", "ts", 7)
      .orderBy("day")
      .select(date_format(col("day"), "dd").cast("int"),
        col("dau"), col("wau"))
      .as[(Int, Long, Long)].collect.toSeq
    // day1: dau 2, wau 2; day2: dau 1 (u1), wau 2 (u1,u2 in window);
    // day5: dau 1 (u3), wau 3 (u1,u2,u3 all within 7 days)
    assert(out === Seq((1, 2L, 2L), (2, 1L, 2L), (5, 1L, 3L)))
  }

  // ---- Retrieval.clusterTopTerms ---------------------------------------

  test("clusterTopTerms: cluster-exclusive terms outscore shared ones") {
    val docs = Seq(
      (0, "payment payment invoice shared"),
      (0, "payment invoice shared"),
      (1, "protein enzyme shared"),
      (1, "protein enzyme shared shared")
    ).toDF("cluster", "text")
    val out = Retrieval.clusterTopTerms(docs, "cluster", "text",
      nClusters = 2, k = 2)
      .orderBy("cluster", "rank")
      .select("cluster", "term").as[(Int, String)].collect.toSeq
    // 'shared' appears in both clusters (cdf 2 → idf ln(2)); exclusive
    // terms get idf ln(3) and higher tf within their cluster
    // cluster 1: protein/enzyme tie on score → term asc puts enzyme first
    assert(out === Seq((0, "payment"), (0, "invoice"),
      (1, "enzyme"), (1, "protein")))
  }

  // ---- Profiling.embeddingDrift ----------------------------------------

  test("embeddingDrift: single group has zero drift from itself") {
    val e = Seq((0, Seq(1f, 2f)), (0, Seq(3f, 4f))).toDF("label", "vec")
    val out = Profiling.embeddingDrift(e, "label", "vec")
      .select("drift").as[Double].collect.toSeq
    assert(out === Seq(0.0))
  }

  test("embeddingDrift: orthogonal groups drift 1 − 1/√2 from the center") {
    // group 0 along x, group 1 along y → corpus mean at 45°; each group's
    // cosine to the center is 1/√2
    val e = Seq((0, Seq(1f, 0f)), (0, Seq(1f, 0f)),
      (1, Seq(0f, 1f)), (1, Seq(0f, 1f))).toDF("label", "vec")
    val out = Profiling.embeddingDrift(e, "label", "vec")
      .orderBy("label").select("drift").as[Double].collect.toSeq
    val want = BigDecimal(1.0 - 1.0 / math.sqrt(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Seq(want, want))
  }

  // ---- Features.madOutlierStats ----------------------------------------

  test("madOutliers: a gross outlier is flagged and cannot inflate MAD") {
    // 99 values near 10 plus one at 1000: median 10, MAD small, the
    // outlier flagged. A mean/stddev z-score would swallow it (stddev
    // ≈ 99 → z ≈ 10 but threshold also inflated ~99×3).
    val df = ((1 to 99).map(i => ("g", 10.0 + (i % 5) * 0.1)) :+
      (("g", 1000.0))).toDF("grp", "v")
    val out = Features.madOutlierStats(df, "grp", "v")
      .as[(String, Long, Double, Double, Long)].collect.head
    assert(out._2 === 100L)
    assert(out._3 === 10.2) // median of the bulk
    assert(out._4 <= 0.3) // MAD stays bulk-sized
    assert(out._5 === 1L) // exactly the gross outlier
  }

  test("madOutliers: clean uniform data flags nothing at k=3") {
    val df = (1 to 50).map(i => ("g", i.toDouble)).toDF("grp", "v")
    val out = Features.madOutlierStats(df, "grp", "v")
      .select("n_outliers").as[Long].collect.head
    // uniform: max dev = 24.5, MAD = 12.5, cutoff 3·1.4826·12.5 ≈ 55.6
    assert(out === 0L)
  }

  // ---- Retrieval.rrfFuse -----------------------------------------------

  test("rrfFuse: consensus items outrank single-ranking leaders") {
    // item 30 is mid-ranked by BOTH rankings; items 10/20 lead one
    // ranking each but miss the other — RRF puts the consensus first
    val a = Seq(("q", 10L, 1L), ("q", 30L, 2L), ("q", 40L, 3L))
      .toDF("g", "id", "r")
    val b = Seq(("q", 20L, 1L), ("q", 30L, 2L), ("q", 50L, 3L))
      .toDF("g", "id", "r")
    val out = Retrieval.rrfFuse(a, b, "g", "id", "r", k = 5)
      .orderBy("rank").select("id").as[Long].collect.toSeq
    // 30: 2/62 ≈ 0.0323 beats 10/20: 1/61 ≈ 0.0164
    assert(out.head === 30L)
    assert(out.toSet === Set(10L, 20L, 30L, 40L, 50L))
  }

  test("rrfFuse: score ties cut deterministically by id") {
    val a = Seq(("q", 2L, 1L), ("q", 1L, 2L)).toDF("g", "id", "r")
    val b = Seq(("q", 1L, 1L), ("q", 2L, 2L)).toDF("g", "id", "r")
    val out = Retrieval.rrfFuse(a, b, "g", "id", "r", k = 2)
      .orderBy("rank").select("id", "rank").as[(Long, Long)].collect.toSeq
    // both items score 1/61 + 1/62 → tie → id asc wins rank 1
    assert(out === Seq((1L, 1L), (2L, 2L)))
  }

  test("quantizeInt8: no code exceeds the int8 range") {
    val vecs = emb((0L to 20L).map(i =>
      i -> Seq.tabulate(8)(j => ((i * 7 + j * 3) % 11 - 5).toFloat / 3f)): _*)
    val bad = Features.quantizeInt8Stats(vecs, "id", "vec")
      .where(col("q_min") < -127 || col("q_max") > 127)
    assert(bad.count() === 0)
  }
}
