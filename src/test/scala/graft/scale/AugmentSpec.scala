package graft.scale

import graft.SparkSpec
import graft.core.{Tables => T}
import org.apache.spark.sql.functions._

/** Pins the round-10 analytics family (q151–q157) against hand-built
  * fixtures and driver-side reference replays — the brute-force or
  * recursive formulation each distributed plan must reproduce exactly
  * (all outputs are integers or exact-IEEE quotients, so equality is
  * bitwise, no tolerances).
  */
class AugmentSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- q151

  test("triangleStats: handcrafted two-triangle graph, dup/self edges ignored") {
    // triangles (1,2,3) and (3,4,5), pendant 6 on 5; plus noise: a
    // reversed duplicate, an exact duplicate, and a self-loop
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L), (5L, 6L), (2L, 1L), (3L, 4L), (6L, 6L)).toDF("s", "t")
    val got = Graph.triangleStats(edges, "s", "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((4L, 2L, 2.0 * 2 / (4 * 3))), 4L -> ((2L, 1L, 1.0)),
      5L -> ((3L, 1L, 2.0 * 1 / (3 * 2))), 6L -> ((1L, 0L, 0.0))))
  }

  test("triangleStats == brute-force ordered-triple enumeration on a random graph") {
    val rnd = new scala.util.Random(151)
    val raw = (1 to 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    val und = raw.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.distinct.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val deg = nodes.map(n => n -> und.count(e => e._1 == n || e._2 == n)).toMap
    val triPerNode = scala.collection.mutable.Map.empty[Long, Long]
      .withDefaultValue(0L)
    for (Seq(x, y, z) <- nodes.combinations(3)
         if und((x, y)) && und((y, z)) && und((x, z))) {
      triPerNode(x) += 1; triPerNode(y) += 1; triPerNode(z) += 1
    }
    val got = Graph.triangleStats(raw.toDF("s", "t"), "s", "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got.keySet == nodes.toSet)
    nodes.foreach { n =>
      val d = deg(n).toLong
      val tr = triPerNode(n)
      val lcc = if (d >= 2) 2.0 * tr / (d * (d - 1)) else 0.0
      assert(got(n) == ((d, tr, lcc)), s"node $n")
    }
  }

  // ---------------------------------------------------------------- q152

  /** Driver-side synchronous LPA replay: same seed, same most-frequent /
    * smallest-label tiebreak, same per-round simultaneous update.
    */
  private def lpaRef(und: Set[(Long, Long)], iters: Int): Map[Long, Long] = {
    val adj = (und.toSeq ++ und.toSeq.map(e => (e._2, e._1)))
      .groupMap(_._1)(_._2)
    var lbl = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      lbl = adj.map { case (n, ms) =>
        val counts = ms.groupBy(lbl).view.mapValues(_.size)
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  test("labelPropagation == driver-side synchronous replay (2 and 3 rounds)") {
    val rnd = new scala.util.Random(152)
    val raw = (1 to 300).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val und = raw.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    for (iters <- Seq(2, 3)) {
      val want = lpaRef(und, iters)
      val got = Graph.labelPropagation(raw.toDF("s", "t"), "s", "t", iters)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(got.keySet == want.keySet)
      val sizes = want.values.groupBy(identity).view.mapValues(_.size.toLong)
      want.foreach { case (n, l) =>
        assert(got(n) == ((l, sizes(l))), s"node $n iters $iters")
      }
    }
  }

  test("labelPropagation: two bridged cliques keep two communities") {
    val clique = (ns: Seq[Long]) =>
      for (a <- ns; b <- ns if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) :+ ((4L, 10L))).toDF("s", "t")
    val got = Graph.labelPropagation(edges, "s", "t", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).map(got).distinct.size == 1)
    assert(Seq(11L, 12L, 13L).map(got).distinct.size == 1)
    assert(got(1L) != got(11L))
  }

  // ---------------------------------------------------------------- q153

  test("cusumChangepoints == recursive Page statistic, alarms only after the shift") {
    // 30 flat points at 10.0 then 30 shifted to 10.6; target 10, slack
    // 0.2 (in units of 1/100), threshold 200 units
    val series = (0 until 30).map(i => (1L, i.toLong, 10.0)) ++
      (30 until 60).map(i => (1L, i.toLong, 10.6)) ++
      (0 until 40).map(i => (2L, i.toLong, 10.0 + 0.001 * (i % 3)))
    val df = series.toDF("k", "i", "v")
    val got = TimeSeries.cusumChangepoints(df, "k", Seq("i"), "v",
        targetUnits = 1000L, slackUnits = 20L, thresholdUnits = 200L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    // reference: the literal recursion on the same quantized units
    series.groupBy(_._1).foreach { case (k, rows) =>
      var s = 0L
      rows.sortBy(_._2).foreach { case (_, i, v) =>
        val u = math.floor(v * 100.0 + 0.5).toLong
        s = math.max(0L, s + (u - 1000L - 20L))
        assert(got((k, i)) == ((u, s, s > 200L)), s"k=$k i=$i")
      }
    }
    // the shift key alarms, and only from some point after the shift on:
    // drift is +40 units/step against a 200-unit threshold → first alarm
    // at the 6th shifted point (i = 35)
    val alarms = series.filter(_._1 == 1L).map(r => got((1L, r._2))._3)
    assert(!alarms.take(35).exists(identity))
    assert(alarms.drop(35).forall(identity))
    assert(!series.filter(_._1 == 2L).exists(r => got((2L, r._2))._3))
  }

  // ---------------------------------------------------------------- q154

  test("rollingZscoreAnomalies == integer inequality replay; spike flagged, baseline not") {
    val vals = (0 until 40).map(i => if (i == 25) 9.0 else 1.0 + 0.01 * (i % 2))
    val df = vals.zipWithIndex.map { case (v, i) => (7L, i.toLong, v) }
      .toDF("k", "i", "v")
    val got = TimeSeries.rollingZscoreAnomalies(df, "k", Seq("i"), "v",
        window = 8, z = 3)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    // only full windows score: rows 0..7 absent
    assert(got.keySet == (8 until 40).map(_.toLong).toSet)
    val units = vals.map(v => math.floor(v * 100.0 + 0.5).toLong)
    (8 until 40).foreach { i =>
      val frame = units.slice(i - 8, i)
      val (n, sS, q) = (8L, frame.sum, frame.map(u => u * u).sum)
      val u = units(i)
      val lhs = (n * u - sS) * (n * u - sS) * (n - 1)
      val rhs = 9L * n * (n * q - sS * sS)
      assert(got(i.toLong) == ((u, lhs, rhs, lhs > rhs)), s"i=$i")
    }
    assert(got(25L)._4, "spike must flag")
    assert((8 until 25).forall(i => !got(i.toLong)._4), "baseline must not flag")
  }

  // ---------------------------------------------------------------- q155

  private def cmsRows(values: Seq[(String, String)]) =
    values.toDF("g", "tok").select(col("g"),
      explode(Dedup.portableTokenHashes(array(col("tok")))).as("h"))

  test("cms: estimate >= exact always (one-sided), exact on sparse groups") {
    val tokens = (0 until 2000).map(i => ("src", s"t${i % 97}")) ++
      (0 until 50).map(i => ("sparse", s"u$i"))
    val sk = Sketches.cmsSketch(cmsRows(tokens), "g", "h")
    val probes = (0 until 97).map(i => s"t$i") ++ (0 until 50).map(i => s"u$i")
    val est = sk.crossJoin(
        probes.toDF("tok").select(col("tok"),
          explode(Dedup.portableTokenHashes(array(col("tok")))).as("ph")))
      .select(col("g"), col("tok"),
        Sketches.cmsEstimateCol(col("counters"), col("ph")).as("e"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val exact = tokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
    probes.foreach { t =>
      Seq("src", "sparse").foreach { g =>
        val ex = exact.getOrElse((g, t), 0L)
        assert(est((g, t)) >= ex, s"$g/$t est ${est((g, t))} < exact $ex")
      }
    }
    // 50 distinct tokens over width-64 rows collide freely (p≈0.54 per
    // row); the min over 4 rows brings all-row collision to ≈0.09 — the
    // deterministic hashes land 8/50 overestimated, each by ≤ the εN
    // guarantee (ε ≈ e/w). Pin both the count and the bound.
    val sparseErr = (0 until 50).count(i => est(("sparse", s"u$i")) != 1L)
    assert(sparseErr <= 10, s"CMS min-of-4 too loose: $sparseErr/50 off")
    (0 until 50).foreach { i =>
      assert(est(("sparse", s"u$i")) <= 1L + 3L, s"u$i over eps*N")
    }
  }

  test("cms: merge of parity batches == whole-corpus sketch, counters bitwise") {
    val tokens = (0 until 3000).map(i => (s"g${i % 3}", s"w${i % 211}"))
    val (a, b) = tokens.zipWithIndex.partition(_._2 % 2 == 0)
    val merged = Sketches.cmsMerge(
        Sketches.cmsSketch(cmsRows(a.map(_._1)), "g", "h"),
        Sketches.cmsSketch(cmsRows(b.map(_._1)), "g", "h"), "g")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    val whole = Sketches.cmsSketch(cmsRows(tokens), "g", "h")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(merged == whole)
    // total mass per group = inserted tokens × depth
    merged.foreach { case (g, cs) =>
      assert(cs.sum == tokens.count(_._1 == g).toLong * Sketches.CmsDepth)
    }
  }

  // ---------------------------------------------------------------- q156

  test("phraseSearch: occurrence counts incl. overlaps, case-fold, absent docs") {
    val docs = Seq(
      (1L, "a b a b a b"),        // "a b" x3
      (2L, "A B a  b c"),         // case-fold + space run: "a b" x2, "a b a" x1
      (3L, "a b a b a"),          // "a b a" overlapping x2
      (4L, "b a c"),              // no match
      (5L, "x y z x y z x y")     // "x y z" x2
    ).toDF("doc_id", "text")
    val got = Retrieval.phraseSearch(docs, "doc_id", "text",
        Seq("a b", "a b a", "x y z"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(
      ("a b", 1L) -> 3L, ("a b", 2L) -> 2L, ("a b", 3L) -> 2L,
      ("a b a", 1L) -> 2L, ("a b a", 2L) -> 1L, ("a b a", 3L) -> 2L,
      ("x y z", 5L) -> 2L))
  }

  // ---------------------------------------------------------------- q158

  test("nearDupSurvivorship: longest doc survives (not min id), singletons survive") {
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),                       // near-dup of 2, shorter
      (2L, base + " extra tail words"), // same cluster, longest → survivor
      (3L, "completely different content here nothing shared at all")
    ).toDF("doc_id", "text")
    val got = Dedup.nearDupSurvivorship(docs, "doc_id", "text",
        threshold = 0.8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L) == ((1L, 20L, 2L, false)))
    assert(got(2L) == ((1L, 23L, 2L, true)), "longer doc must beat min id")
    assert(got(3L)._3 == 1L && got(3L)._4, "singleton survives")
    // tie on n_tokens → smallest id wins
    val tied = Seq((5L, base), (4L, base)).toDF("doc_id", "text")
    val t = Dedup.nearDupSurvivorship(tied, "doc_id", "text", threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(t == Map(4L -> true, 5L -> false))
  }

  test("nearDupSurvivors keeps exactly nearDupSurvivorship's survivors, on both components paths") {
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val other = (1 to 20).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base, "a"), (2L, base + " extra tail words", "b"), // 2 beats min id 1
      (5L, other, "c"), (4L, other, "d"),                     // tie: 4 wins
      (3L, "completely different content here nothing shared at all", "e")
    ).toDF("doc_id", "text", "tag")
    val want = Dedup.nearDupSurvivorship(docs, "doc_id", "text", threshold = 0.8)
      .where($"is_survivor").select($"id").as[Long].collect().toSet
    assert(want == Set(2L, 3L, 4L))
    for (limit <- Seq(Dedup.LocalEdgeLimit, 0L)) {
      val got = Dedup.nearDupSurvivors(docs, "doc_id", "text", threshold = 0.8,
        localEdgeLimit = limit)
      assert(got.columns.toSeq == docs.columns.toSeq, s"limit $limit")
      assert(got.select($"doc_id").as[Long].collect().toSet == want, s"limit $limit")
      assert(got.where($"doc_id" === 2L).select($"tag").as[String].collect().toSeq ==
        Seq("b"), s"limit $limit")
    }
  }

  // ---------------------------------------------------------------- q162

  test("saltedJoin == plain join on a hot-key fixture; salt shapes the plan") {
    val fact = ((1 to 500).map(_ => (7L, "hot")) ++
      (1 to 50).map(i => (i.toLong % 5, s"cold$i"))).toDF("k", "payload")
    val dim = Seq((7L, "seven"), (0L, "zero"), (2L, "two"), (99L, "unmatched"))
      .toDF("dk", "name")
    val salted = Skew.saltedJoin(fact, dim, "k", "dk", saltBuckets = 8)
    val plain = fact.join(dim, col("k") === col("dk"))
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))
    assert(salted.collect().map(key).sorted.toSeq ==
      plain.collect().map(key).sorted.toSeq)
    assert(salted.columns.toSeq == Seq("k", "payload", "dk", "name"))
    // the salt is real: dim replication + (key, salt) equi-join in the plan
    val planStr = salted.queryExecution.optimizedPlan.toString
    assert(planStr.contains("__fsalt") && planStr.contains("__dsalt"))
    assert(planStr.contains("explode") || planStr.contains("Generate"))
  }

  // ---------------------------------------------------------------- q163

  test("tokenEntropy: uniform == ln(vocab), constant == 0, replay exact") {
    val docs = Seq(
      ("uni", "a b c d a b c d"),       // uniform over 4 tokens
      ("one", "x x x x x x"),           // single token -> 0
      ("mix", "a a a b b c")
    ).toDF("source", "text")
    val got = TextOps.tokenEntropy(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    def ref(counts: Seq[Long]): Double = {
      val n = counts.sum
      // same collapse + c-sorted pinned fold as the operator
      val cm = counts.groupBy(identity).view.mapValues(_.size.toLong).toSeq
        .sortBy(_._1)
      val s = cm.foldLeft(0.0) { case (acc, (c, m)) =>
        acc + (m * c).toDouble * math.log(c.toDouble) }
      java.math.BigDecimal.valueOf(math.log(n.toDouble) - s / n.toDouble)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    assert(got("uni") == ((8L, 4L, ref(Seq(2L, 2L, 2L, 2L)))))
    assert(got("uni")._3 == java.math.BigDecimal.valueOf(math.log(4.0))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
    assert(got("one") == ((6L, 1L, 0.0)))
    assert(got("mix") == ((6L, 3L, ref(Seq(3L, 2L, 1L)))))
  }

  // ---------------------------------------------------------------- q167

  test("exactStratifiedSplit: exact counts, remainder to last, partition-invariant") {
    // 103 en / 57 de / 1 zh: exercises floor remainders and a tiny stratum
    val docs = ((1 to 103).map(i => (i.toLong, "en")) ++
      (200 to 256).map(i => (i.toLong, "de")) :+ ((999L, "zh")))
      .toDF("doc_id", "lang")
    val w = Seq("train" -> 800, "val" -> 100, "test" -> 100)
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.exactStratifiedSplit(df, col("doc_id"), col("lang"), w)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getString(3))).toSet
    val got = run(docs)
    val bySplit = got.groupBy(r => (r._2, r._4)).view.mapValues(_.size).toMap
    // en: 103 -> 82 train, 10 val, 11 test; de: 57 -> 45/5/7; zh: 1 -> test
    assert(bySplit(("en", "train")) == 82 && bySplit(("en", "val")) == 10 &&
      bySplit(("en", "test")) == 11)
    assert(bySplit(("de", "train")) == 45 && bySplit(("de", "val")) == 5 &&
      bySplit(("de", "test")) == 7)
    assert(bySplit.get(("zh", "train")).isEmpty &&
      bySplit(("zh", "test")) == 1)
    // ranks are a permutation of 0..n-1 per stratum
    assert(got.filter(_._2 == "en").map(_._3) == (0L until 103L).toSet)
    // same rows regardless of input partitioning
    assert(run(docs.repartition(7)) == got)
    assert(run(docs.coalesce(1)) == got)
  }

  // ---------------------------------------------------------------- q169

  test("mlmMask: labels reconstruct the original, rate ~ permille, deterministic") {
    val docs = T.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val run = () => TextOps.mlmMask(docs, "doc_id", "text", 150)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
      .toMap
    val got = run()
    assert(got == run(), "masking must be deterministic")
    val orig = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).split("\\s+").filter(_.nonEmpty).toSeq).toMap
    var masked = 0L; var total = 0L
    got.foreach { case (id, (n, m, tm, labels)) =>
      val toks = orig(id)
      assert(n == toks.length && m >= 0 && m <= n)
      masked += m; total += n
      val mt = tm.split(" ", -1).filter(_.nonEmpty)
      assert(mt.length == toks.length, s"doc $id length")
      val lab = if (labels.isEmpty) Map.empty[Int, String]
        else labels.split(" ").map { kv =>
          val Array(p, t) = kv.split(":", 2); p.toInt -> t
        }.toMap
      assert(lab.size.toLong == m, s"doc $id label count")
      // reconstruction: [MASK] positions filled from labels == original
      val rebuilt = mt.zipWithIndex.map { case (t, i) =>
        if (t == "[MASK]") lab(i) else t }
      assert(rebuilt.toSeq == toks, s"doc $id reconstruction")
      // non-masked positions untouched
      mt.zipWithIndex.foreach { case (t, i) =>
        if (t != "[MASK]") assert(t == toks(i)) }
    }
    val rate = masked.toDouble / total.toDouble
    assert(rate > 0.10 && rate < 0.20, s"mask rate $rate out of band")
  }

  // ---------------------------------------------------------------- q168

  /** Classic stack PAVA over (n, pos) bins — the iterative algorithm the
    * closed minimax formula must reproduce exactly.
    */
  private def pavaRef(binsNP: Seq[(Long, Long)]): Seq[Double] = {
    case class Block(n: Long, pos: Long)
    val st = scala.collection.mutable.Stack.empty[Block]
    binsNP.foreach { case (n, p) =>
      var b = Block(n, p)
      // pool while the new block's mean < the previous block's mean
      while (st.nonEmpty && st.top.pos * b.n >= b.pos * st.top.n) {
        val t = st.pop(); b = Block(t.n + b.n, t.pos + b.pos)
      }
      st.push(b)
    }
    // expand blocks back to per-bin rates
    val blocks = st.toSeq.reverse
    val out = scala.collection.mutable.ArrayBuffer.empty[Double]
    var i = 0
    blocks.foreach { b =>
      var left = b.n
      while (left > 0 && i < binsNP.length) {
        out += b.pos.toDouble / b.n.toDouble
        left -= binsNP(i)._1
        i += 1
      }
    }
    out.toSeq
  }

  test("isotonicCalibrate == classic PAVA on random bins; monotone output") {
    val rnd = new scala.util.Random(168)
    (1 to 5).foreach { trial =>
      // random per-row scores/labels over 12 bins
      val rows = (1 to 800).map { _ =>
        val sc = rnd.nextDouble()
        (sc, if (rnd.nextDouble() < math.min(1.0, sc + 0.3 * rnd.nextGaussian()))
          1L else 0L)
      }
      val got = Probe.isotonicCalibrate(rows.toDF("score", "y"),
          col("score"), col("y"), bins = 12)
        .orderBy(col("bin")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(4)))
      val iso = got.map(_._4)
      assert(iso.zip(iso.tail).forall { case (a, b) => a <= b },
        s"trial $trial not monotone: ${iso.toSeq}")
      val want = pavaRef(got.map(r => (r._2, r._3)).toSeq).map(v =>
        java.math.BigDecimal.valueOf(v)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
      assert(iso.toSeq == want, s"trial $trial minimax != PAVA")
    }
  }

  // ---------------------------------------------------------------- q166

  test("frequentPaths: per-user chains, no cross-user paths, id tie-break") {
    def t(m: Int) = new java.sql.Timestamp(m * 60000L)
    val ev = Seq(
      // user 1: a b c b c  -> a>b>c, b>c>b, c>b>c
      (1L, 1L, "a", t(1)), (2L, 1L, "b", t(2)), (3L, 1L, "c", t(3)),
      (4L, 1L, "b", t(4)), (5L, 1L, "c", t(5)),
      // user 2: a b c      -> a>b>c (no chain into user 1)
      (6L, 2L, "a", t(10)), (7L, 2L, "b", t(11)), (8L, 2L, "c", t(12)),
      // user 3: same ts, order by event_id: x y z
      (10L, 3L, "y", t(20)), (9L, 3L, "x", t(20)), (11L, 3L, "z", t(20))
    ).toDF("event_id", "user_id", "event_type", "ts")
    val got = Funnel.frequentPaths(ev, "user_id", "event_type", "ts",
        "event_id", n = 3, topN = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a>b>c" -> 2L, "b>c>b" -> 1L, "c>b>c" -> 1L,
      "x>y>z" -> 1L))
    // n = 2 pairs
    val pairs = Funnel.frequentPaths(ev, "user_id", "event_type", "ts",
        "event_id", n = 2, topN = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(pairs.head == ("b>c" -> 3L))
  }

  // ---------------------------------------------------------------- q164

  test("tokenTailStats: hapax share and simpson exact on handcrafted sources") {
    val docs = Seq(
      ("s1", "a a a b c"),        // N=5 vocab=3 hapax=2 rep=3*2=6
      ("s2", "x y z"),            // all hapax, simpson 0
      ("s3", "w")                 // N=1: simpson guard
    ).toDF("source", "text")
    val got = TextOps.tokenTailStats(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    assert(got("s1") == ((5L, 3L, 2L, 0.4, 0.3))) // 6/20
    assert(got("s2") == ((3L, 3L, 3L, 1.0, 0.0)))
    assert(got("s3") == ((1L, 1L, 1L, 1.0, 0.0)))
  }

  // ---------------------------------------------------------------- q165

  test("intervalAudit: contiguous, nested-overlap, and gap fixtures") {
    val iv = Seq(
      // key 1: contiguous chain, one overlap, one gap of 15
      (1L, 0L, 10L), (1L, 10L, 20L), (1L, 15L, 25L), (1L, 40L, 50L),
      // key 2: nested inside a long row, then a 50-gap
      (2L, 0L, 100L), (2L, 10L, 20L), (2L, 150L, 160L),
      // key 3: single pristine interval
      (3L, 5L, 8L)
    ).toDF("k", "s0", "e0")
    val got = TimeSeries.intervalAudit(iv, "k", "s0", "e0")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(got(1L) == ((4L, 1L, 1L, 15L, 50L, 35L)))
    // nested [10,20) overlaps (pmax=100); gap 100->150; span 160
    assert(got(2L) == ((3L, 1L, 1L, 50L, 160L, 110L)))
    assert(got(3L) == ((1L, 0L, 0L, 0L, 3L, 3L)))
  }

  // ---------------------------------------------------------------- q160

  test("collocationPmi: bound phrase tops the ranking, marginals exact") {
    // "new york" always collocated; "the" promiscuous (low PMI)
    val docs = Seq.fill(6)("the city of new york is the place in new york") ++
      Seq("the a b", "the b a", "the a a", "the b b")
    val got = TextOps.collocationPmi(docs.zipWithIndex.map(_.swap)
        .toDF("id", "text"), "text", minCount = 2L, topN = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
    val m = got.toMap
    // output is (pmi desc, w1, w2)-sorted
    val keys = got.toSeq.map { case ((a, b), (_, _, _, p)) => (-p, a, b) }
    assert(keys == keys.sorted, "ranking order violated")
    val (np, nh, nt, pmi) = m(("new", "york"))
    assert(np == 12L && nh == 12L && nt == 12L)
    // replay the exact rounding: ln(np*N/(nh*nt)) at N = total bigrams
    val nTotal = docs.map(_.split("\\s+").count(_.nonEmpty) - 1).sum.toLong
    val want = java.math.BigDecimal.valueOf(
      math.log(np.toDouble * nTotal / (nh.toDouble * nt.toDouble)))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    assert(pmi == want)
    // the promiscuous head scores below the bound phrase
    assert(m(("the", "a"))._4 < pmi, "promiscuous pair must score lower")
    assert(m.values.forall(_._1 >= 2L), "minCount filter")
  }

  // ---------------------------------------------------------------- q161

  /** Driver-side ExactSubstr-removal replay: same stride grams, same
    * corpus-wide dup rule, same merged-interval excision.
    */
  private def removeRef(docs: Seq[(Long, String)], g: Int,
      stride: Int): Map[Long, (Long, Long, String)] = {
    def grams(t: String) =
      (0 to math.max(t.length - g, 0) by stride).map(p => (p, t.slice(p, p + g)))
    val counts = docs.flatMap { case (_, t) => grams(t).map(_._2) }
      .groupBy(identity).view.mapValues(_.size)
    docs.map { case (id, t) =>
      val dup = grams(t).collect { case (p, s) if counts(s) > 1 => p }
      var (pos, k) = (0, 0L)
      val sb = new StringBuilder
      dup.foreach { s =>
        if (s > pos) sb.append(t.slice(pos, s))
        if (k == 0 || s > pos) k += 1
        pos = s + g
      }
      sb.append(t.slice(pos, t.length))
      id -> ((k, (t.length - sb.length).toLong, sb.toString))
    }.toMap
  }

  test("removeDuplicateSpans == driver replay: merge, passthrough, full-doc") {
    val shared = "0123456789abcdefghij" // 20 chars, >= gram size
    val docs = Seq(
      (1L, s"AAAA${shared}BBBB${shared}CCCC"), // internal repeat -> 2 islands
      (2L, s"XXXXXXXX${shared}YYYYYYYY"),      // cross-doc dup
      (3L, "totally unique text with no repeats whatsoever here"),
      (4L, shared.take(8)),                     // short, unique -> untouched
      (5L, shared.take(8)))                     // exact dup of 4 -> cleans to ""
    val got = Dedup.removeDuplicateSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", gramChars = 10, stride = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    val want = removeRef(docs, 10, 5)
    assert(got == want)
    assert(got(3L) == ((0L, 0L, docs(2)._2)), "clean doc must pass through")
    assert(got(5L)._3 == "" && got(4L)._3 == "", "full dups clean to empty")
    // alignment decides which sampled grams collide; the replay is the
    // authority — here just pin that doc 1 lost SOMETHING
    assert(got(1L)._1 >= 1L && got(1L)._2 > 0L)
  }

  test("removeDuplicateSpans == driver replay on random low-alphabet corpus") {
    val rnd = new scala.util.Random(161)
    val docs = (1L to 40L).map { id =>
      id -> (1 to (20 + rnd.nextInt(120))).map(_ => "ab"(rnd.nextInt(2))).mkString
    }
    val got = Dedup.removeDuplicateSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", gramChars = 12, stride = 4)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == removeRef(docs, 12, 4))
  }

  // ---------------------------------------------------------------- q157

  test("normalizeDocuments: idempotent, shrinking, and dirty→clean round trip") {
    val clean = T.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val dirty = clean.select(col("doc_id"),
      concat(lit("\t "), upper(col("text")), lit(" \r\n x  Y \n")).as("text"))
    val out = Curation.normalizeDocuments(dirty, "doc_id", "text")
    assert(out.filter(!col("norm_stable")).count() == 0)
    assert(out.filter(col("n_norm") > col("n_raw")).count() == 0)
    // the corpus ships canonical (lowercase, single-spaced, trimmed), so
    // normalization must recover it exactly modulo the appended tail
    val joined = out.join(clean, out("id") === clean("doc_id"))
      .filter(col("text_norm") =!= concat(col("text"), lit(" x y")))
    assert(joined.count() == 0)
  }
}
