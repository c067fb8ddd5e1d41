package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit semantics for the round-9 breadth operators: KMeans training
  * (Clustering.lloydAssignments), whole-vocab TF-IDF (Retrieval.tfidfTopK),
  * and the ORC round-trip layout.
  */
class AuxSpec extends SparkSpec {
  import spark.implicits._

  // ---- Clustering.lloydAssignments -------------------------------------

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("id", "v")

  test("lloyd: iteration moves points to the converged blobs") {
    // seeds are ids 0,1 = (0,0),(0.1,0) — same blob. After one mean
    // update c1 jumps to the far-blob mean, so iteration 2 reassigns
    // point 1 back to c0: the loop genuinely trains, it doesn't just
    // assign to the seeds.
    val pts = vecs(
      0L -> Seq(0f, 0f), 1L -> Seq(0.1f, 0f),
      2L -> Seq(10f, 0f), 3L -> Seq(10.1f, 0f), 4L -> Seq(20f, 0f))
    val twoIter = Clustering.lloydAssignments(pts, "id", "v", k = 2, iters = 2)
      .orderBy("id").as[(Long, Int)].collect.toSeq
    assert(twoIter === Seq(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1, 4L -> 1))
    // one iteration = pure seed assignment (no mean update yet)
    val oneIter = Clustering.lloydAssignments(pts, "id", "v", k = 2, iters = 1)
      .orderBy("id").as[(Long, Int)].collect.toSeq
    assert(oneIter === Seq(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 1, 4L -> 1))
  }

  test("lloyd: argmin ties go to the lowest cluster index") {
    // point 2 is exactly equidistant from both seeds
    val pts = vecs(0L -> Seq(0f, 0f), 1L -> Seq(2f, 0f), 2L -> Seq(1f, 0f))
    val out = Clustering.lloydAssignments(pts, "id", "v", k = 2, iters = 1)
      .orderBy("id").as[(Long, Int)].collect.toSeq
    assert(out === Seq(0L -> 0, 1L -> 1, 2L -> 0))
  }

  test("lloyd matches a driver-side reference implementation") {
    val rnd = new scala.util.Random(7)
    val dim = 5
    val data: Seq[(Long, Seq[Float])] =
      (0L until 60L).map(i => i -> Seq.fill(dim)(rnd.nextFloat()))
    val k = 3; val iters = 3; val dp = 6
    // reference: same seeding, same rounding contract, plain Scala
    var cents: Array[Array[Double]] =
      data.sortBy(_._1).take(k).map(_._2.map(_.toDouble).toArray).toArray
    def assign(v: Array[Double]): Int = {
      val d = cents.map(c => c.zip(v).map { case (a, b) => (b - a) * (b - a) }.sum)
      d.indexOf(d.min)
    }
    for (_ <- 1 until iters) {
      val byC = data.map { case (_, v) => (assign(v.map(_.toDouble).toArray), v) }
        .groupBy(_._1)
      cents = cents.zipWithIndex.map { case (old, j) =>
        byC.get(j) match {
          case Some(members) =>
            val m = members.map(_._2.map(_.toDouble).toArray)
            val s = m.reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
            s.map(x => BigDecimal(x / m.size)
              .setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble)
          case None => old
        }
      }
    }
    val want = data.map { case (id, v) => id -> assign(v.map(_.toDouble).toArray) }
    val got = Clustering.lloydAssignments(data.toDF("id", "v"), "id", "v",
      k, iters, dp).orderBy("id").as[(Long, Int)].collect.toSeq
    assert(got === want)
  }

  test("lloydAssignments leaves no persisted RDDs behind") {
    val pts = vecs(0L -> Seq(0f, 0f), 1L -> Seq(0.1f, 0f),
      2L -> Seq(10f, 0f), 3L -> Seq(10.1f, 0f))
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Clustering.lloydAssignments(pts, "id", "v", k = 2, iters = 2).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  // ---- Retrieval.tfidfTopK ---------------------------------------------

  test("tfidf: scores, df sharing, and the (score desc, term) cut") {
    val docs = Seq(
      (1L, "a a b"),
      (2L, "A c")).toDF("doc_id", "text")   // lowercased: 'a' hits both
    val out = Retrieval.tfidfTopK(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rank")
      .as[(Long, String, Long, Long, Double, Long)].collect.toSeq
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out === Seq(
      // doc 1: b scores ln2 (tf=1, df=1); a scores 0 (df=2) — b ranks first
      (1L, "b", 1L, 1L, ln2, 1L),
      (1L, "a", 2L, 2L, 0.0, 2L),
      (2L, "c", 1L, 1L, ln2, 1L),
      (2L, "a", 1L, 2L, 0.0, 2L)))
  }

  test("tfidf: equal scores tie-break by term ascending") {
    val docs = Seq((1L, "z y x"), (2L, "w")).toDF("doc_id", "text")
    val out = Retrieval.tfidfTopK(docs, "doc_id", "text", k = 2)
      .where($"doc_id" === 1L).orderBy("rank")
      .as[(Long, String, Long, Long, Double, Long)].collect.toSeq
    assert(out.map(_._2) === Seq("x", "y"))   // x,y,z all score ln2; cut at k=2
  }

  // ---- Pca: covariance + Jacobi + projection ----------------------------

  test("covarianceMatrix matches a driver-side computation") {
    val rnd = new scala.util.Random(11)
    val data = (0L until 40L).map(i => i -> Seq.fill(4)(rnd.nextFloat()))
    val got = Pca.covarianceMatrix(data.toDF("id", "v"), "v")
      .orderBy("i", "j").as[(Int, Int, Double)].collect.toSeq
    val m = data.map(_._2.map(_.toDouble).toArray).toArray
    val n = m.length
    def cov(i: Int, j: Int): Double = {
      val sxx = m.map(r => r(i) * r(j)).sum
      val sxi = m.map(_(i)).sum; val sxj = m.map(_(j)).sum
      BigDecimal((sxx - sxi * sxj / n) / (n - 1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = for (i <- 0 until 4; j <- i until 4) yield (i, j, cov(i, j))
    assert(got.size === want.size)
    got.zip(want).foreach { case ((gi, gj, gc), (wi, wj, wc)) =>
      assert((gi, gj) === (wi, wj))
      assert(math.abs(gc - wc) < 2e-6, s"cov($gi,$gj): $gc vs $wc")
    }
  }

  test("jacobiEigen: known 2x2, orthonormality, and A·v = λ·v") {
    // [[2,1],[1,2]] -> eigenvalues 3, 1
    val (vals2, vecs2) = Pca.jacobiEigen(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals2(0) - 3.0) < 1e-10 && math.abs(vals2(1) - 1.0) < 1e-10)
    val s = 1.0 / math.sqrt(2.0)
    assert(vecs2(0).zip(Array(s, s)).forall { case (a, b) => math.abs(a - b) < 1e-10 })
    // property on a random symmetric 6x6
    val rnd = new scala.util.Random(3)
    val d = 6
    val a = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val x = rnd.nextDouble() - 0.5; a(i)(j) = x; a(j)(i) = x
    }
    val (vals, vecs) = Pca.jacobiEigen(a)
    assert(vals.sliding(2).forall(p => p(0) >= p(1) - 1e-12), "sorted desc")
    for (k <- 0 until d) {
      val av = a.map(row => row.zip(vecs(k)).map { case (x, y) => x * y }.sum)
      av.zip(vecs(k)).foreach { case (x, v) =>
        assert(math.abs(x - vals(k) * v) < 1e-8, s"A·v ≠ λ·v at $k") }
      for (l <- 0 until d) {
        val dotp = vecs(k).zip(vecs(l)).map { case (x, y) => x * y }.sum
        assert(math.abs(dotp - (if (k == l) 1.0 else 0.0)) < 1e-8)
      }
    }
  }

  test("pca train + project: driver parity and variance ordering") {
    val rnd = new scala.util.Random(5)
    // anisotropic data: dim 0 has 10x the spread, so pc1 ~ axis 0
    val data = (0L until 80L).map(i =>
      i -> Seq((rnd.nextFloat() - 0.5f) * 10f, rnd.nextFloat() - 0.5f,
        rnd.nextFloat() - 0.5f))
    val df = data.toDF("id", "v")
    val comps = Pca.train(df, "v", q = 2)
    assert(comps.length === 2 && comps.head.length === 3)
    assert(math.abs(comps(0)(0)) > 0.99, "pc1 should align with axis 0")
    val proj = Pca.project(df, "v", comps)
      .orderBy("id").select("pc1", "pc2").as[(Double, Double)].collect
    val want = data.map { case (_, v) =>
      def dot(c: Array[Double]) = BigDecimal(
        v.map(_.toDouble).zip(c).foldLeft(0.0) { case (acc, (x, w)) => acc + x * w })
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (dot(comps(0)), dot(comps(1)))
    }
    proj.zip(want).foreach { case ((g1, g2), (w1, w2)) =>
      assert(g1 === w1 && g2 === w2)
    }
    def variance(xs: Seq[Double]) = {
      val mean = xs.sum / xs.size
      xs.map(x => (x - mean) * (x - mean)).sum / (xs.size - 1)
    }
    assert(variance(proj.map(_._1).toSeq) >= variance(proj.map(_._2).toSeq))
  }

  // ---- Quantiles.exactQuantiles -----------------------------------------

  private def disc(sorted: Seq[Double], p: Double): Double =
    sorted(math.max(1, math.ceil(p * sorted.size).toInt) - 1)

  test("exactQuantiles matches rank ⌈p·n⌉ selection, duplicates included") {
    val rnd = new scala.util.Random(13)
    // heavy duplication: values from a small discrete set
    val xs = Seq.fill(500)(math.floor(rnd.nextDouble() * 20) / 4.0)
    val sorted = xs.sorted
    val ps = Seq(0.0, 0.01, 0.33, 0.5, 0.9, 1.0)
    val got = Quantiles.exactQuantiles(xs.map(Tuple1(_)).toDF("x"), "x", ps)
      .orderBy("p").as[(Double, Double)].collect.toSeq
    assert(got === ps.sorted.map(p => p -> disc(sorted, p)))
  }

  test("exactQuantiles: refinement path (tiny buckets + tiny maxCollect)") {
    val rnd = new scala.util.Random(29)
    val xs = Seq.fill(2000)(rnd.nextDouble() * 1e6 - 5e5)
    val sorted = xs.sorted
    val ps = Seq(0.25, 0.5, 0.75, 0.999)
    // buckets=8, maxCollect=10 forces several refinement levels
    val got = Quantiles.exactQuantiles(xs.map(Tuple1(_)).toDF("x"), "x", ps,
      buckets = 8, maxCollect = 10)
      .orderBy("p").as[(Double, Double)].collect.toSeq
    assert(got === ps.map(p => p -> disc(sorted, p)))
  }

  test("exactQuantiles: all-identical and single-row inputs") {
    val same = Quantiles.exactQuantiles(
      Seq.fill(50)(Tuple1(7.25)).toDF("x"), "x", Seq(0.1, 0.9))
      .orderBy("p").as[(Double, Double)].collect.toSeq
    assert(same === Seq(0.1 -> 7.25, 0.9 -> 7.25))
    val one = Quantiles.exactQuantiles(
      Seq(Tuple1(3.5)).toDF("x"), "x", Seq(0.5))
      .as[(Double, Double)].collect.toSeq
    assert(one === Seq(0.5 -> 3.5))
  }

  // ---- Fuzzy.editDistanceOnePairs ---------------------------------------

  test("fuzzy pairs: substitution, insert/delete in; transposition out") {
    val words = Seq("spark", "spork", "spar", "sparks", "stark",
      "aspark", "sprak", "zebra").toDF("w")
    val got = Fuzzy.editDistanceOnePairs(words)
      .orderBy("w1", "w2").as[(String, String, Long)].collect.toSeq
    // sprak (transposition of spark = dist 2) and zebra pair with nothing
    assert(got === Seq(
      ("aspark", "spark", 1L),   // prefix insertion
      ("spar", "spark", 1L),     // deletion
      ("spark", "sparks", 1L),   // suffix insertion
      ("spark", "spork", 1L),    // substitution
      ("spark", "stark", 1L)))   // substitution
  }

  test("fuzzy pairs match the brute-force levenshtein join") {
    val rnd = new scala.util.Random(17)
    val alphabet = "abc"
    val words = (0 until 300).map(_ =>
      (0 until (3 + rnd.nextInt(4))).map(_ => alphabet(rnd.nextInt(3))).mkString)
      .distinct
    val got = Fuzzy.editDistanceOnePairs(words.toDF("w"), maxBucket = 7)
      .as[(String, String, Long)].collect.toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- words; b <- words if a < b && lev(a, b) <= 1
    } yield (a, b, lev(a, b).toLong)).toSet
    assert(got === want)
  }

  // ---- Sampling.weightedSampleTopK --------------------------------------

  private def portableBucketRef(k: Long): Long = {
    val p = 2147483647L
    (1103515245L * (((k % p) + p) % p) + 12345L) % p
  }

  test("weighted sample: matches the driver-replayed A-ES draw") {
    val rows = (1L to 200L).map(i => (i, 10L + (i % 7) * 50L))
    val got = Sampling.weightedSampleTopK(rows.toDF("id", "w"),
      col("id"), col("w"), k = 20)
      .orderBy("rank").as[(Long, Long, Double, Long)].collect.toSeq
    val want = rows.map { case (id, w) =>
      val u = (portableBucketRef(id) + 1).toDouble / 2147483648.0
      val s = BigDecimal(math.log(u) / w)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      (id, w, s)
    }.sortBy { case (id, _, s) => (-s, id) }.take(20)
      .zipWithIndex.map { case ((id, w, s), i) => (id, w, s, i + 1L) }
    assert(got === want)
  }

  test("weighted sample: stable under appending non-winning rows") {
    val base = (1L to 100L).map(i => (i, 100L))
    val first = Sampling.weightedSampleTopK(base.toDF("id", "w"),
      col("id"), col("w"), k = 10).as[(Long, Long, Double, Long)].collect.toSet
    // appended rows get weight 1 (lowest inclusion odds); the original
    // winners' scores are unchanged, so unless an appended row WINS a
    // slot outright the sample is identical — here none do
    val losers = (1000L to 1050L).map(i => (i, 1L))
    val second = Sampling.weightedSampleTopK((base ++ losers).toDF("id", "w"),
      col("id"), col("w"), k = 10).as[(Long, Long, Double, Long)].collect.toSet
    assert(first === second)
  }

  // ---- Funnel.firstTouchFunnel ------------------------------------------

  test("funnel: strict ordering, skipped stages, same-instant no-advance") {
    def ts(m: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + m * 60000L)
    val ev = Seq(
      // u1: full funnel in order
      (1L, "view", ts(0)), (1L, "click", ts(5)), (1L, "purchase", ts(9)),
      // u2: click precedes first view -> click doesn't count, no purchase
      (2L, "click", ts(0)), (2L, "view", ts(3)), (2L, "click", ts(7)),
      // u3: same-instant click does NOT advance (strict >)
      (3L, "view", ts(1)), (3L, "click", ts(1)),
      // u4: purchase without the earlier stages
      (4L, "purchase", ts(2)),
      // u5: duplicate views collapse to the earliest; click after both
      (5L, "view", ts(8)), (5L, "view", ts(2)), (5L, "click", ts(8)))
      .toDF("user_id", "event_type", "ts")
    val got = Funnel.firstTouchFunnel(ev, "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))
      .orderBy("user_id")
      .select("user_id", "t1_us", "t2_us", "t3_us", "stage")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getLong(4))).toSeq
    def us(m: Int) = ts(m).getTime * 1000L
    assert(got === Seq(
      (1L, Some(us(0)), Some(us(5)), Some(us(9)), 3L),
      (2L, Some(us(3)), Some(us(7)), None, 2L),
      (3L, Some(us(1)), None, None, 1L),
      (4L, None, None, None, 0L),
      (5L, Some(us(2)), Some(us(8)), None, 2L)))
  }

  // ---- Curation.sourceTokenKl -------------------------------------------

  test("source KL drift: driver-replayed arithmetic and drift ordering") {
    // clean and twin have identical content AND size (smoothing makes KL
    // depend on n_s, so equality needs equal token counts too)
    val docs = Seq(
      (1L, "alpha beta gamma delta", "clean"),
      (2L, "alpha beta gamma delta", "clean"),
      (3L, "alpha beta gamma delta", "twin"),
      (4L, "alpha beta gamma delta", "twin"),
      (5L, "zzz zzz zzz zzz zzz zzz zzz zzz", "spam"))
      .toDF("doc_id", "text", "source")
    val m = 16
    val out = Curation.sourceTokenKl(docs, "source", "text", buckets = m)
      .orderBy("source").as[(String, Long, Double)].collect.toSeq
    // replay from the SAME bucket counts (hash via the operator's own
    // term pipeline), checking grid/smoothing/fold logic independently
    val counts = docs.select(col("source"),
      explode(Dedup.portableTokenHashes(TextOps.tokens(col("text")))).as("h"))
      .select(col("source"), pmod(col("h"), lit(m.toLong)).as("b"))
      .groupBy("source", "b").count()
      .as[(String, Long, Long)].collect()
    val bySrc = counts.groupBy(_._1)
    val rB = counts.groupBy(_._2).map { case (b, rs) => b -> rs.map(_._3).sum }
    val n = counts.map(_._3).sum
    val want = bySrc.toSeq.sortBy(_._1).map { case (src, rows) =>
      val cB = rows.map(r => r._2 -> r._3).toMap
      val nS = rows.map(_._3).sum
      val kl = (0L until m).foldLeft(0.0) { (acc, b) =>
        val p = (cB.getOrElse(b, 0L) + 1).toDouble / (nS + m)
        val q = (rB.getOrElse(b, 0L) + 1).toDouble / (n + m)
        acc + p * math.log(p / q)
      }
      (src, nS,
        BigDecimal(kl).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(out === want)
    val klOf = out.map(o => o._1 -> o._3).toMap
    // identical-content sources score identically; the divergent source
    // drifts the most
    assert(klOf("clean") === klOf("twin"))
    assert(klOf("spam") > klOf("clean"))
  }

  // ---- Curation.coverageCutoff ------------------------------------------

  test("coverage cutoff: crossing group kept, strict-after dropped") {
    // weights 50/30/15/5: cum shares .5, .8, .95, 1.0 — target .75 keeps
    // a(0<.75), b(.5<.75), c(.8 ≥ .75 → dropped)
    val rows = Seq(("a", 50), ("b", 30), ("c", 15), ("d", 5))
      .flatMap { case (k, n) => Seq.fill(n)((k, 1L)) }
    val out = Curation.coverageCutoff(rows.toDF("k", "unit"), "k",
      col("unit"), target = 0.75)
      .orderBy("rank").as[(String, Long, Long, Double, Long)].collect.toSeq
    assert(out === Seq(
      ("a", 50L, 1L, 0.5, 1L),
      ("b", 30L, 2L, 0.8, 1L),
      ("c", 15L, 3L, 0.95, 0L),
      ("d", 5L, 4L, 1.0, 0L)))
    // target 1.0 keeps everything (cum-before last row < total)
    val all = Curation.coverageCutoff(rows.toDF("k", "unit"), "k",
      col("unit"), target = 1.0)
      .agg(sum("kept")).head().getLong(0)
    assert(all === 4L)
  }

  test("coverage cutoff: weight ties rank by key ascending") {
    val rows = Seq(("x", 10L), ("y", 10L), ("z", 10L)).toDF("k", "w0")
    val out = Curation.coverageCutoff(rows, "k", col("w0"), target = 0.5)
      .orderBy("rank").as[(String, Long, Long, Double, Long)].collect.toSeq
    assert(out.map(_._1) === Seq("x", "y", "z"))
    assert(out.map(_._5) === Seq(1L, 1L, 0L))  // x: 0<.5, y: 1/3<.5, z: 2/3≥.5
  }

  // ---- Quantiles.exactQuantilesByGroup ----------------------------------

  test("group quantiles match per-group rank selection incl. refinement") {
    val rnd = new scala.util.Random(31)
    val rows = Seq("a", "b", "c").flatMap { g =>
      Seq.fill(400)((g, rnd.nextDouble() * (if (g == "b") 1e5 else 10)))
    }
    val ps = Seq(0.1, 0.5, 0.95)
    val got = Quantiles.exactQuantilesByGroup(rows.toDF("g", "x"), "x", "g",
      ps, buckets = 8, maxCollect = 20)
      .orderBy("group", "p").as[(String, Double, Double)].collect.toSeq
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      ps.map(p => (g, p, disc(sorted, p)))
    }
    assert(got === want)
  }

  test("group quantiles: group sizes differ, singleton group included") {
    val rows = Seq.tabulate(100)(i => ("big", i.toDouble)) :+ (("one", 42.0))
    val got = Quantiles.exactQuantilesByGroup(rows.toDF("g", "x"), "x", "g",
      Seq(0.5)).orderBy("group").as[(String, Double, Double)].collect.toSeq
    assert(got === Seq(("big", 0.5, 49.0), ("one", 0.5, 42.0)))
  }

  // ---- Cdc.mergeAdditiveAggs --------------------------------------------

  test("additive agg merge: insert, retract, vanish-at-zero, untouched") {
    val base = Seq((1L, 2L, 10L), (2L, 1L, 5L), (3L, 3L, 30L))
      .toDF("k", "n", "total")
    val delta = Seq(
      (1L, 1L, 7L),     // insert into existing key
      (2L, -1L, -5L),   // full retraction -> key vanishes
      (3L, -1L, -10L),  // partial retraction
      (9L, 2L, 4L))     // brand-new key
      .toDF("k", "n", "total")
    val out = Cdc.mergeAdditiveAggs(base, delta, Seq("k"), "n", Seq("total"))
      .orderBy("k").as[(Long, Long, Long)].collect.toSeq
    assert(out === Seq((1L, 3L, 17L), (3L, 2L, 20L), (9L, 2L, 4L)))
  }

  // ---- session_window boundary semantics (q109) -------------------------

  test("session_window boundary: merges at exactly the gap, splits past it") {
    def ts(m: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime + m * 60000L)
    def sessionsOf(rows: Seq[(Long, java.sql.Timestamp, Double)]): Seq[Long] =
      rows.toDF("user_id", "ts", "value")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("sw.start"))
        .collect().map(_.getLong(2)).toSeq
    // diff == gap merges (closed boundary — q13's strict-> rule)
    assert(sessionsOf(Seq((1L, ts(0), 1.0), (1L, ts(30), 2.0))) === Seq(2L))
    // one past the gap splits
    assert(sessionsOf(Seq((1L, ts(0), 1.0), (1L, ts(31), 2.0))) === Seq(1L, 1L))
  }

  // ---- hopping windows (q111) -------------------------------------------

  test("hopping 1h/30m window: every event lands in exactly two windows") {
    def ts(m: Int) = new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-01-01 10:17:00").getTime + m * 60000L)
    val ev = Seq((ts(0), "a", 1.0), (ts(40), "a", 2.0)).toDF("ts", "et", "value")
    val out = ev.groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("et"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").cast("string"), col("n"))
      .orderBy(col("w.start")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // 10:17 -> windows starting 09:30, 10:00; 10:57 -> 10:00, 10:30
    assert(out === Seq(
      ("2024-01-01 09:30:00", 1L),
      ("2024-01-01 10:00:00", 2L),
      ("2024-01-01 10:30:00", 1L)))
  }

  // ---- ORC round trip ---------------------------------------------------

  test("orc partitioned sink round-trips rows and prunes partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_orcspec").toString
    val src = Seq((1L, "A", 1.5), (2L, "B", 2.5), (3L, "A", 3.5))
      .toDF("k", "p", "x")
    src.write.mode("overwrite").partitionBy("p").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.select("k", "p", "x").as[(Long, String, Double)]
      .collect.toSet === Set((1L, "A", 1.5), (2L, "B", 2.5), (3L, "A", 3.5)))
    // a filter on the partition column must prune at plan time: the
    // equality lands in PartitionFilters (metadata-only), not a data Filter
    val plan = back.where($"p" === "A")
      .queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("= A)")), plan.take(800))
  }

  test("realizeMixture: epochs realize the token budget; unweighted vanish") {
    import spark.implicits._
    // source a: 10 docs x 10 tokens = 100 tokens; source b: 20 x 10 = 200
    val docs = ((0 until 10).map(i => (i.toLong, "a", 10L)) ++
      (100 until 120).map(i => (i.toLong, "b", 10L)) ++
      (200 until 205).map(i => (i.toLong, "c", 10L)))
      .toDF("id", "src", "n_tok")
    // budget 1000: a -> 600 tokens = 6.0 epochs exact; b -> 400 = 2.0
    val dec = Sampling.realizeMixture(docs, col("id"), col("src"),
      col("n_tok"), Seq("a" -> 0.6, "b" -> 0.4), budgetTokens = 1000L)
    val bySrc = dec.groupBy("src")
      .agg(sum(col("copies") * col("n_tok")).as("realized"),
        max("full_epochs").as("fe"), min("full_epochs").as("fe2"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // exact-integer epochs: realized tokens == target, zero tail
    assert(bySrc("a") == ((600L, 6L, 6L)))
    assert(bySrc("b") == ((400L, 2L, 2L)))
    assert(!bySrc.contains("c"), "unweighted source must vanish")
    // fractional case: a -> 0.35 -> 350 tokens = 3.5 epochs; the tail
    // keeps SOME but not all docs, and realized lands within one
    // stratum-max-doc of the target
    val frac = Sampling.realizeMixture(docs, col("id"), col("src"),
      col("n_tok"), Seq("a" -> 0.35), budgetTokens = 1000L)
    val tails = frac.agg(sum("keep_tail"), sum(col("copies") * col("n_tok")))
      .collect().head
    assert(tails.getLong(0) > 0 && tails.getLong(0) < 10,
      s"tail kept ${tails.getLong(0)} of 10")
    assert(math.abs(tails.getLong(1) - 350L) <= 60L,
      s"realized ${tails.getLong(1)} too far from 350")
    // materialization: one row per epoch, copies = 0 rows vanish
    val mat = Sampling.materializeEpochs(dec)
    assert(mat.count() == dec.agg(sum("copies")).collect().head.getLong(0))
    assert(mat.groupBy("id").count().agg(min("count"), max("count"))
      .collect().head.getLong(1) == 6L)
    // partitioning invariance of the tail decision
    val rep = Sampling.realizeMixture(docs.repartition(7), col("id"),
      col("src"), col("n_tok"), Seq("a" -> 0.35), budgetTokens = 1000L)
      .select("id", "keep_tail").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rep === frac.select("id", "keep_tail").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
  }
}
