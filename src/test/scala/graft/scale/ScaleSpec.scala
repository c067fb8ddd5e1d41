package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScaleSpec extends SparkSpec {

  test("exact dedup keeps lowest id per identical content") {
    import spark.implicits._
    val df = Seq((3L, "aaa"), (1L, "aaa"), (2L, "bbb"), (5L, "aaa"))
      .toDF("id", "text")
    val got = Dedup.exactDedup(df, "text", "id")
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "aaa"), (2L, "bbb")))
  }

  test("minhash LSH finds exactly the high-jaccard pairs on synthetic docs") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    val unrelated = (100 to 160).map(i => s"other$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.6)
      .collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L)
    assert(pairs.head.getAs[Long]("id_b") == 2L)
    assert(pairs.head.getAs[Double]("jaccard") > 0.8)
  }

  test("mega-bucket triangle split produces every pair exactly once") {
    import spark.implicits._
    // 300 identical docs all land in the same band buckets; maxBucket=32
    // forces m=10 blocks -> 55 triangle cells per band. Every unordered
    // pair must still appear exactly once, nothing may leak to the
    // unrelated doc, and jaccard is exactly 1.0 for identical content.
    val text = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = ((1 to 300).map(i => (i.toLong, text)) :+
      (900L, (50 to 80).map(i => s"zzz$i").mkString(" "))).toDF("doc_id", "text")
    val pairs = Dedup.minhashDupPairs(docs, "doc_id", "text",
      threshold = 0.9, maxBucket = 32)
    assert(pairs.count() == 300L * 299 / 2)
    assert(pairs.filter(col("id_a") === col("id_b")).count() == 0)
    assert(pairs.filter(col("id_a") === 900L || col("id_b") === 900L).count() == 0)
    assert(pairs.filter(col("jaccard") =!= 1.0).count() == 0)
    // results identical to the unsplit plan (maxBucket large -> m=1)
    val unsplit = Dedup.minhashDupPairs(docs, "doc_id", "text",
      threshold = 0.9, maxBucket = 1 << 20)
    assert(unsplit.count() == 300L * 299 / 2)
    assert(pairs.select("id_a", "id_b").except(unsplit.select("id_a", "id_b")).count() == 0)
  }

  test("cross-corpus minhash pairs == brute-force cross join; no within-side pairs") {
    import spark.implicits._
    // corpus: 25 base docs; batch: near-copies of corpus docs 0-9 (one
    // token appended -> j ~ 0.93) + 10 unrelated docs. Every qualifying
    // pair crosses sides; a self-join over the union would also pair the
    // 10 batch copies with EACH OTHER via their shared corpus source --
    // the across join must not.
    val corpus = (0 until 25).map { i =>
      (i.toLong, (i * 5 until i * 5 + 30).map(j => s"tok$j").mkString(" "))
    }.toDF("doc_id", "text")
    val batch = ((0 until 10).map { i =>
      (100L + i, (i * 5 until i * 5 + 30).map(j => s"tok$j").mkString(" ") + " extra")
    } ++ (0 until 10).map { i =>
      (200L + i, (1000 + i * 40 until 1000 + i * 40 + 30).map(j => s"zz$j").mkString(" "))
    }).toDF("doc_id", "text")
    val got = Dedup.minhashDupPairsAcross(corpus, batch, "doc_id", "text",
      shingleSize = 2, threshold = 0.8, maxBucket = 4)
      .select("id_l", "id_r", "jaccard")
    val shOf = (df: org.apache.spark.sql.DataFrame) => df.select($"doc_id",
      sort_array(array_distinct(Dedup.hashedShingles(
        Dedup.xxhashTokens(TextOps.tokens($"text")), 2))).as("sh"))
    val want = shOf(corpus).as("a").crossJoin(shOf(batch).as("b"))
      .withColumn("jaccard", Dedup.jaccard($"a.sh", $"b.sh"))
      .filter($"jaccard" >= 0.8)
      .select($"a.doc_id".as("id_l"), $"b.doc_id".as("id_r"),
        round($"jaccard", 6).as("jaccard"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    assert(got.count() == 10) // exactly the 10 near-copies
    // rectangle split (maxBucket=4 forces m_l, m_r > 1 on hot buckets)
    // produces the same pairs as the unsplit plan
    val unsplit = Dedup.minhashDupPairsAcross(corpus, batch, "doc_id", "text",
      shingleSize = 2, threshold = 0.8, maxBucket = 1 << 20)
      .select("id_l", "id_r", "jaccard")
    assert(got.except(unsplit).count() == 0 && unsplit.except(got).count() == 0)
  }

  test("cross-corpus minhash: identical hot bucket on both sides, exactly-once pairs") {
    import spark.implicits._
    // 60 identical docs on each side: ONE band bucket holds all 120 rows;
    // maxBucket=8 splits it into 8x8 rectangle cells. All 60*60 cross
    // pairs (including same-id) must appear exactly once at jaccard 1.
    val text = (1 to 20).map(i => s"tok$i").mkString(" ")
    val l = (1 to 60).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val r = (1 to 60).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val pairs = Dedup.minhashDupPairsAcross(l, r, "doc_id", "text",
      threshold = 0.9, maxBucket = 8)
    assert(pairs.count() == 60L * 60)
    assert(pairs.filter(col("jaccard") =!= 1.0).count() == 0)
  }

  test("persisted minhash index reproduces the recompute-from-text pairs") {
    import spark.implicits._
    val corpus = (0 until 20).map { i =>
      (i.toLong, (i * 5 until i * 5 + 30).map(j => s"tok$j").mkString(" "))
    }.toDF("doc_id", "text")
    val batch = (0 until 8).map { i =>
      (100L + i, (i * 5 until i * 5 + 30).map(j => s"tok$j").mkString(" ") + " x")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_mhix").toString
    Dedup.minhashIndex(corpus, "doc_id", "text", shingleSize = 2)
      .write.mode("overwrite").parquet(dir)
    val viaIndex = Dedup.minhashDupPairsAgainstIndex(
      spark.read.parquet(dir), batch, "doc_id", "text",
      shingleSize = 2, threshold = 0.8)
    val recomputed = Dedup.minhashDupPairsAcross(corpus, batch,
      "doc_id", "text", shingleSize = 2, threshold = 0.8)
    assert(viaIndex.except(recomputed).count() == 0 &&
      recomputed.except(viaIndex).count() == 0)
    assert(viaIndex.count() == 8) // each near-copy pairs with its source
  }

  test("prefix-filter jaccard join == brute-force exact pairs") {
    import spark.implicits._
    // overlapping token windows: doc i shares most bigrams with doc i±1,
    // fewer with i±2 … a graded spectrum of true Jaccards around any
    // threshold, so the filter boundary itself is exercised
    val docs = (0 until 40).map { i =>
      (i.toLong, (i * 3 until i * 3 + 30).map(j => s"tok$j").mkString(" "))
    }.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.7, 0.8)) {
      val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        shingleSize = 2, threshold = t)
        .select("id_a", "id_b", "jaccard")
      // ground truth: exact jaccard over ALL pairs via cross join
      val sh = docs.select($"doc_id",
        sort_array(array_distinct(Dedup.hashedShingles(
          Dedup.xxhashTokens(TextOps.tokens($"text")), 2))).as("sh"))
      val want = sh.as("a").crossJoin(sh.as("b"))
        .filter($"a.doc_id" < $"b.doc_id")
        .withColumn("jaccard", Dedup.jaccard($"a.sh", $"b.sh"))
        .filter($"jaccard" >= t)
        .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
          round($"jaccard", 6).as("jaccard"))
      assert(got.except(want).count() == 0 && want.except(got).count() == 0,
        s"mismatch at threshold $t")
      assert(got.count() == want.count())
    }
  }

  test("containment join == brute force; detects a quoted paragraph one-way") {
    import spark.implicits._
    val para = (0 until 20).map(j => s"quote$j").mkString(" ")
    val docs = ((0 until 30).map { i =>
      (i.toLong, (i * 3 until i * 3 + 30).map(j => s"tok$j").mkString(" "))
    } ++ Seq(
      // doc 100: the paragraph alone; doc 101: a long doc QUOTING it
      (100L, para),
      (101L, s"${(200 until 260).map(j => s"body$j").mkString(" ")} $para")))
      .toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.7, 0.9)) {
      val got = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleSize = 2, threshold = t)
      val sh = docs.select($"doc_id",
        sort_array(array_distinct(Dedup.hashedShingles(
          Dedup.xxhashTokens(TextOps.tokens($"text")), 2))).as("sh"))
      val want = sh.as("a").crossJoin(sh.as("b"))
        .filter($"a.doc_id" =!= $"b.doc_id")
        .withColumn("containment",
          size(array_intersect($"a.sh", $"b.sh")).cast("double") /
            size($"a.sh"))
        .filter($"containment" >= t)
        .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
          round($"containment", 6).as("containment"))
      assert(got.except(want).count() == 0 && want.except(got).count() == 0,
        s"mismatch at threshold $t")
    }
    // the quote is contained in the long doc, never the reverse: the
    // directed pair (100 → 101) qualifies at 0.9; (101 → 100) does not
    val strict = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.contains((100L, 101L)))
    assert(!strict.contains((101L, 100L)))
    // hot-Bloom rare-first prefix path (maxBucket = 4 makes the shared
    // quote shingles hot): results identical to the hash-order path
    val hot = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.5, maxBucket = 4)
    val plainOrder = Dedup.containmentPairs(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.5)
    assert(hot.except(plainOrder).count() == 0 &&
      plainOrder.except(hot).count() == 0)
  }

  test("prefix-filter jaccard: boilerplate-heavy corpus matches brute force") {
    import spark.implicits._
    // every doc shares an identical header+footer whose shingles have
    // df = 30 ≥ maxBucket = 8 → they are "hot" and must be reordered out
    // of the prefixes; the unique middle distinguishes docs. Exercises
    // the (hot-flag, hash) ordering path end-to-end against brute force.
    val boiler = (1 to 15).map(i => s"common$i").mkString(" ")
    val docs = (0 until 30).map { i =>
      (i.toLong, s"$boiler ${(i * 2 until i * 2 + 12).map(j => s"tok$j").mkString(" ")} $boiler")
    }.toDF("doc_id", "text")
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.5, maxBucket = 8)
      .select("id_a", "id_b", "jaccard")
    val sh = docs.select($"doc_id",
      sort_array(array_distinct(Dedup.hashedShingles(
        Dedup.xxhashTokens(TextOps.tokens($"text")), 2))).as("sh"))
    val want = sh.as("a").crossJoin(sh.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .withColumn("jaccard", Dedup.jaccard($"a.sh", $"b.sh"))
      .filter($"jaccard" >= 0.5)
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        round($"jaccard", 6).as("jaccard"))
    assert(got.except(want).count() == 0 && want.except(got).count() == 0)
    assert(got.count() == want.count() && want.count() > 0)
  }

  test("prefix-filter jaccard: hot-shingle bucket split equals unsplit plan") {
    import spark.implicits._
    // 200 identical docs: every prefix shingle is shared by all of them —
    // the exact hot-bucket case the triangle split exists for
    val text = (1 to 25).map(i => s"tok$i").mkString(" ")
    val docs = ((1 to 200).map(i => (i.toLong, text)) :+
      (900L, (50 to 90).map(i => s"zzz$i").mkString(" "))).toDF("doc_id", "text")
    val split = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.9, maxBucket = 16)
    assert(split.count() == 200L * 199 / 2)
    assert(split.filter(col("id_a") === 900L || col("id_b") === 900L).count() == 0)
    assert(split.filter(col("jaccard") =!= 1.0).count() == 0)
    val unsplit = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      shingleSize = 2, threshold = 0.9, maxBucket = 1 << 20)
    assert(split.select("id_a", "id_b").except(unsplit.select("id_a", "id_b")).count() == 0)
    assert(unsplit.count() == 200L * 199 / 2)
  }

  test("simhash: identical docs equal, near-dups close, unrelated far") {
    import spark.implicits._
    val a = (1 to 50).map(i => s"w$i").mkString(" ")
    val b = (1 to 50).map(i => if (i % 25 == 0) "x" else s"w$i").mkString(" ")
    val c = (200 to 250).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, a), (2L, a), (3L, b), (4L, c)).toDF("id", "text")
    val h = df.select(Dedup.simhash(TextOps.tokens(col("text"))).as("h"))
      .collect().map(_.getLong(0))
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(h(0) == h(1))
    assert(hamming(h(0), h(2)) < hamming(h(0), h(3)))
  }

  test("connected components propagate min labels across dup chains") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("id")
    // chain 1-2-3-4, pair 5-6, isolated 7
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("mergeComponents == full rebuild on random graphs (new nodes included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(1717L)
    (1 to 4).foreach { _ =>
      val oldPairs = (1 to 60).map(_ =>
        (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2)
      // new batch reaches into a fresh id range too (nodes 40..79)
      val newPairs = (1 to 30).map(_ =>
        (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(p => p._1 != p._2)
      val oldDf = oldPairs.toDF("id_a", "id_b")
      val newDf = newPairs.toDF("id_a", "id_b")
      def endpoints(df: org.apache.spark.sql.DataFrame) =
        df.select($"id_a".as("id")).union(df.select($"id_b".as("id"))).distinct()
      val labels = Dedup.connectedComponents(endpoints(oldDf), oldDf)
      val merged = Dedup.mergeComponents(labels, newDf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val rebuilt = Dedup.connectedComponents(
        endpoints(oldDf).union(endpoints(newDf)).distinct(),
        oldDf.union(newDf))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(merged == rebuilt)
    }
  }

  test("mergeComponents: no-op batch and pure-new-singleton batch") {
    import spark.implicits._
    val old = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val ids = Seq(1L, 2L, 3L, 4L).toDF("id")
    val labels = Dedup.connectedComponents(ids, old)
    // batch entirely within one existing component: labels unchanged
    val noop = Dedup.mergeComponents(labels, Seq((2L, 1L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(noop == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // batch among brand-new ids only, plus one bridge into the old graph
    val grown = Dedup.mergeComponents(labels,
      Seq((10L, 11L), (11L, 3L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grown == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      10L -> 3L, 11L -> 3L))
  }

  test("linear quality scoring: hand-computed margins, HOF parity, empty-doc nulls") {
    import spark.implicits._
    // tiny weight vector: bucket b -> b (so margins are readable by hand)
    val w = Array.tabulate(8)(_.toDouble)
    val docs = Seq((1L, "a a a"), (2L, "b"), (3L, "")).toDF("doc_id", "text")
    val got = TextOps.linearQualityScore(docs, "doc_id", "text", w, bias = -1.0)
      .orderBy("id").collect()
    // margin(doc) = -1 + mean(w[h mod 8]) over its tokens; doc 1 repeats
    // one token, so margin = -1 + w[b_a] exactly
    val thA = docs.filter($"doc_id" === 1L)
      .select(explode(Dedup.portableTokenHashes(TextOps.tokens($"text"))))
      .first().getLong(0)
    assert(got(0).getDouble(2) == -1.0 + w((thA % 8).toInt))
    assert(got(0).getBoolean(3) == (got(0).getDouble(2) > 0))
    assert(got(2).isNullAt(2) && !got(2).getBoolean(3)) // empty doc
    // native kernel == interpreted HOF reference, bit for bit
    val th = Dedup.portableTokenHashes(TextOps.tokens($"text"))
    val bc = spark.sparkContext.broadcast(w)
    val both = docs.filter(length($"text") > 0).select(
      graft.functions.NativeExpressions.bucket_weight_sum(th, bc).as("native"),
      aggregate(transform(th, h => element_at(typedLit(w.toSeq), (pmod(h, lit(8)) + 1).cast("int"))),
        lit(0.0), (a, v) => a + v).as("hof")).collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("shard shuffle: deterministic, partitioning-invariant, order stable under appends") {
    import spark.implicits._
    val docs = (0L until 200L).map(i => (i, s"src${i % 3}")).toDF("doc_id", "source")
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.shuffleShards(df, $"doc_id", 4)
        .select($"doc_id", $"shard_id", $"pos").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val a = run(docs).sortBy(_._1)
    val b = run(docs.repartition(7)).sortBy(_._1)
    assert(a.toSeq == b.toSeq) // partitioning-invariant
    // every shard's positions are exactly 1..n (a real output order)
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // shards are roughly balanced (hash spread, not skew-prone)
    val sizes = a.groupBy(_._2).map(_._2.length)
    assert(sizes.max - sizes.min < 60, s"shard sizes: $sizes")
    // appending unrelated rows never permutes an existing shard's
    // RELATIVE order (stable hash order, not a global row_number)
    val extra = (1000L until 1100L).map(i => (i, "new")).toDF("doc_id", "source")
    val c = run(docs.union(extra))
    def relOrder(rows: Seq[(Long, Int, Long)]) =
      rows.filter(_._1 < 200L).groupBy(_._2).map { case (s, rs) =>
        s -> rs.sortBy(_._3).map(_._1).toSeq
      }
    assert(relOrder(a.toSeq) == relOrder(c.toSeq))
  }

  test("reliable-checkpoint CC mode labels identically to localCheckpoint mode") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("cc-ckpt").toString
    val ids = (0L until 200L).toDF("id")
    // two chains + isolates: exercises propagation AND pointer doubling
    val pairs = ((0L until 99L).map(i => (i, i + 1)) ++
      (120L until 149L).map(i => (i, i + 1))).toDF("id_a", "id_b")
    // localEdgeLimit = 1 forces the distributed loop on this tiny fixture
    val local = Dedup.connectedComponents(ids, pairs, localEdgeLimit = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reliable = Dedup.connectedComponents(ids, pairs, localEdgeLimit = 1,
      checkpointDir = Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
    assert(reliable(50L) == 0L && reliable(130L) == 120L && reliable(199L) == 199L)
    // the reliable mode actually wrote checkpoint files into the dir
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "reliable mode must materialize checkpoint files")
  }

  test("pointer doubling: 1000-node path converges in <= 12 rounds, one action per round") {
    import spark.implicits._
    // A path graph is the worst case for plain propagation (diameter = n-1,
    // would need 1000 rounds); pointer doubling gives L_t(v) = v - (2^t - 1),
    // so labels reach 0 after round 10 and round 11 observes convergence.
    val n = 1000
    val ids = (0L until n.toLong).toDF("id")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // count real Spark JOBS: with AQE off (no per-stage job splitting) and
    // broadcast joins off (no side broadcast-collect jobs), one action
    // submits exactly one job — so jobs == 2 setup checkpoints + 1/round
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.sparkContext.addSparkListener(listener)
    val (labels, rounds) = try {
      val r = Dedup.ccRounds(ids, pairs, maxIter = 12)
      // listener dispatch is async — wait for the counter to go quiet
      var prev = -1
      var waited = 0
      while (jobs.get() != prev && waited < 100) {
        prev = jobs.get(); Thread.sleep(100); waited += 1
      }
      r
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
    assert(rounds <= 12, s"took $rounds rounds (pointer doubling should need ~11)")
    // one job per round + the two setup checkpoints (the old
    // checkpoint-then-isEmpty shape was 2 per round and would fail this)
    assert(jobs.get() == rounds + 2,
      s"${jobs.get()} jobs for $rounds rounds — expected one per round")
    val got = labels.collect()
    assert(got.length == n)
    assert(got.forall(_.getLong(1) == 0L), "every node labels to component min 0")
  }

  test("dedupNearDups keeps one representative per near-dup cluster") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    def variant(at: Int) = (1 to 60).map(i => if (i == at) "X" else s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, base), (11L, variant(30)), (12L, variant(31)), // one cluster
      (20L, (100 to 160).map(i => s"a$i").mkString(" ")),  // unique
      (21L, (200 to 260).map(i => s"b$i").mkString(" ")))  // unique
      .toDF("doc_id", "text")
    val kept = Dedup.dedupNearDups(docs, "doc_id", "text", threshold = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 20L, 21L))
  }

  test("simhash Hamming-ball pairs == brute-force pairs (pigeonhole recall 1)") {
    import spark.implicits._
    // 60 docs in 20 families of 3 near-identical variants + noise docs;
    // the block join must find EXACTLY the brute-force Hamming<=3 pairs.
    val docs = (0 until 20).flatMap { f =>
      (0 until 3).map { v =>
        val toks = (1 to 40).map(i =>
          if (i == v + 5) s"variant${f}_$v" else s"fam${f}_tok$i")
        ((f * 3 + v).toLong, toks.mkString(" "))
      }
    }.toDF("doc_id", "text")
    val got = Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over all simhashes
    val sigs = docs.select(col("doc_id"),
      Dedup.simhashNative(TextOps.tokens(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val expected = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(got == expected)
    assert(expected.nonEmpty, "test corpus should contain close pairs")
  }

  test("brute-force cosine top-k ranks by exact cosine") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      vecs.filter(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(1L, 2L, 3L))
    assert(out.head.getAs[Double]("sim") > 0.99)
  }

  test("hard negatives: never same-label, ranked by cosine, k-bounded") {
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    val rows = (0L until 60L).map { i =>
      (i, Array.fill(8)((rnd.nextInt(100) - 50).toFloat), s"src${i % 4}")
    }.toDF("id", "vec", "label")
    val got = Similarity.hardNegatives(rows.where(col("id") < 5), rows,
      "id", "vec", "label", k = 3).collect()
    val labelOf = (0L until 60L).map(i => i -> s"src${i % 4}").toMap
    // per anchor: exactly k rows, ranks 1..k, no same-label negative
    got.groupBy(_.getAs[Long]("anchor_id")).foreach { case (a, rs) =>
      assert(rs.length == 3)
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L))
      rs.foreach { r =>
        assert(labelOf(r.getAs[Long]("neg_id")) != labelOf(a),
          s"anchor $a got same-label negative ${r.getAs[Long]("neg_id")}")
      }
    }
    // agreement with a reference: the top negative is the max-cosine
    // different-label row (rounded-sim order, ties by id)
    val sims = Similarity.hardNegatives(rows.where(col("id") === 0), rows,
      "id", "vec", "label", k = 60).collect()
      .map(r => (r.getAs[Long]("rank"), r.getAs[Long]("neg_id"),
        r.getAs[Double]("sim")))
    assert(sims.sortBy(_._1).map(_._3).toSeq ==
      sims.map(_._3).sortBy(-_).toSeq, "ranks must follow sim desc")
    assert(sims.length == 45, "60 rows - 15 same-label = 45 candidates")
  }

  test("LSH ANN recall@5 >= 0.9 vs brute force on the weak-neighbor corpus") {
    // sf0.01 embeddings: top-5 neighbor sims are only 0.25-0.49 (the HARD
    // case for hyperplane LSH — weak angular signal). bits=5, 8 tables,
    // flip-1-bit multi-probe buys the recall back; the assertion is the
    // documented recall bound for exactly these parameters.
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter(col("vec_id") < 100)
    def neighborSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect()
        .groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val truth = neighborSets(
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5))
    val approx = neighborSets(
      Similarity.lshBucketTopK(queries, emb, "vec_id", "embedding",
        dim = 64, k = 5, bits = 5, tables = 8, multiProbe = true))
    val hits = truth.map { case (q, t) => (t intersect approx.getOrElse(q, Set.empty)).size }.sum
    val recall = hits.toDouble / (truth.size * 5)
    info(f"recall@5 = $recall%.3f over ${truth.size} queries")
    assert(recall >= 0.9, f"recall@5 $recall%.3f < 0.9")
  }

  test("BPE-ish token count segments contractions, numbers and punctuation") {
    import spark.implicits._
    val cases = Seq(
      ("don't stop", 3L),            // don | 't | _stop
      ("hello world", 2L),
      ("a1b2", 4L),                  // a | 1 | b | 2
      ("price: $9.99!", 7L),         // price | : | _$ | 9 | . | 99 | !
      ("  spaced   out  ", 2L),
      ("", 0L))
    val got = cases.map(_._1).toDF("text")
      .select(TextOps.bpeTokenCount(col("text")).as("n"))
      .collect().map(_.getInt(0).toLong).toSeq
    assert(got == cases.map(_._2), s"got $got")
  }

  private def neighborSetsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }

  private def recallAt5(truth: Map[Long, Set[Long]],
      approx: Map[Long, Set[Long]]): Double = {
    val hits = truth.map { case (q, t) =>
      (t intersect approx.getOrElse(q, Set.empty)).size }.sum
    hits.toDouble / (truth.size * 5)
  }

  test("IVF ANN on isotropic data: measured recall tracks scan fraction") {
    // The sf0.01 embeddings are isotropic (top-5 neighbors ~70 degrees
    // apart): learned cells can't concentrate neighbors, so recall ~
    // scan-fraction + modest lift — measured 0.57@25%, 0.81@50%,
    // 0.94@75%. The honest conclusion (documented on Ivf): IVF needs
    // clustered data to beat LSH; see the planted-cluster test below.
    val emb = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.01")
    val queries = emb.filter(col("vec_id") < 100)
    val cents = Ivf.trainCentroids(emb, "vec_id", "embedding", dim = 64,
      k = 16, iters = 5)
    val truth = neighborSetsOf(
      Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", k = 5))
    val approx = neighborSetsOf(Ivf.ivfTopK(queries, emb, "vec_id", "embedding",
      dim = 64, k = 5, centroids = cents, nCells = 16, nprobe = 12))
    val recall = recallAt5(truth, approx)
    info(f"isotropic IVF recall@5 = $recall%.3f (16 cells, nprobe 12 = 75%% scan)")
    assert(recall >= 0.9, f"recall@5 $recall%.3f < 0.9")
  }

  test("IVF ANN on clustered data: high recall at a small scan fraction") {
    import spark.implicits._
    // 16 planted clusters on the unit sphere, 50 members each, tight noise
    // — the corpus shape IVF is built for. nprobe=2 of 24 cells ≈ 8% scan.
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Array.fill(16)(unit(Array.fill(64)(rnd.nextGaussian())))
    val vecs = (0 until 800).map { i =>
      val c = centers(i % 16)
      (i.toLong, unit(c.zip(Array.fill(64)(rnd.nextGaussian() * 0.15))
        .map { case (a, b) => a + b }).map(_.toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 64)
    val cents = Ivf.trainCentroids(df, "vec_id", "embedding", dim = 64,
      k = 24, iters = 5)
    val truth = neighborSetsOf(
      Similarity.bruteForceTopK(queries, df, "vec_id", "embedding", k = 5))
    val approx = neighborSetsOf(Ivf.ivfTopK(queries, df, "vec_id", "embedding",
      dim = 64, k = 5, centroids = cents, nCells = 24, nprobe = 2))
    val recall = recallAt5(truth, approx)
    info(f"clustered IVF recall@5 = $recall%.3f (24 cells, nprobe 2 = ~8%% scan)")
    assert(recall >= 0.95, f"recall@5 $recall%.3f < 0.95")
  }

  test("hash splits: deterministic, disjoint, partitioning-invariant") {
    import spark.implicits._
    val df = (1L to 2000L).toDF("id")
    val split = Sampling.splitByHash(df, col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val byName = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.values.sum == 2000L) // full coverage at sum == 1
    assert(byName("train") > 1500 && byName("train") < 1700) // ~0.8 of 2000
    // disjoint by construction; same rows regardless of partitioning
    val a = split.filter($"split" === "val").select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.splitByHash(df.repartition(13), col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .filter($"split" === "val").select("id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
    // hashRange subsample equals the matching split range
    val r = Sampling.hashRange(df, col("id"), 0.8, 0.9)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(r == a)
  }

  test("stratified sampling: deterministic, nested, partitioning-invariant") {
    import spark.implicits._
    val df = (1L to 4000L).map(i => (i, if (i % 2 == 0) "en" else "zh"))
      .toDF("id", "lang")
    val s50 = Sampling.sampleStratified(df, $"id", $"lang",
      Map("en" -> 0.5, "zh" -> 0.1))
    val byLang = s50.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang("en") > 800 && byLang("en") < 1200)  // ~0.5 of 2000
    assert(byLang("zh") > 100 && byLang("zh") < 300)   // ~0.1 of 2000
    // rates nest: the 0.1 sample is a strict subset of the 0.5 sample
    val en10 = Sampling.sampleStratified(df, $"id", $"lang", Map("en" -> 0.1))
      .select("id").collect().map(_.getLong(0)).toSet
    val en50 = s50.filter($"lang" === "en")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(en10.nonEmpty && en10.subsetOf(en50))
    // same rows regardless of partitioning
    val again = Sampling.sampleStratified(df.repartition(7), $"id", $"lang",
      Map("en" -> 0.5, "zh" -> 0.1)).select("id").collect().map(_.getLong(0)).toSet
    assert(again == s50.select("id").collect().map(_.getLong(0)).toSet)
    // strata without a rate default to drop
    assert(Sampling.sampleStratified(df, $"id", $"lang", Map("en" -> 0.5))
      .filter($"lang" === "zh").count() == 0)
  }

  test("temperature mix: exact rates, flattening, nesting, invariance") {
    import spark.implicits._
    // skewed mix: en 1600, zh 400, fr 100 (nmin = 100)
    val df = (1L to 2100L).map { i =>
      (i, if (i <= 1600) "en" else if (i <= 2000) "zh" else "fr")
    }.toDF("id", "lang")
    val m = Sampling.temperatureMix(df, $"id", $"lang", alpha = 0.5)
    // rates are sqrt of exact quotients: sqrt(1/16)=0.25, sqrt(1/4)=0.5
    val rates = m.select("lang", "rate").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates == Map("en" -> 0.25, "zh" -> 0.5, "fr" -> 1.0))
    // smallest stratum keeps everything; kept counts track n^alpha
    val kept = m.filter($"keep" === 1L).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("fr") == 100L)
    assert(kept("en") > 320 && kept("en") < 480)   // ~0.25 of 1600
    assert(kept("zh") > 140 && kept("zh") < 260)   // ~0.5 of 400
    // alpha = 1 keeps the natural mix untouched
    assert(Sampling.temperatureMix(df, $"id", $"lang", 1.0)
      .filter($"keep" === 0L).count() == 0)
    // alpha = 0 flattens: every stratum's expected kept count is nmin
    val flat = Sampling.temperatureMix(df, $"id", $"lang", 0.0)
      .filter($"keep" === 1L).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(flat("fr") == 100L)
    assert(flat("en") > 60 && flat("en") < 140)
    assert(flat("zh") > 60 && flat("zh") < 140)
    // kept sets nest across alpha (rate monotone in alpha)
    def keptIds(a: Double) =
      Sampling.temperatureMix(df, $"id", $"lang", a)
        .filter($"keep" === 1L).select("id").collect()
        .map(_.getLong(0)).toSet
    val k3 = keptIds(0.3)
    assert(k3.nonEmpty && k3.subsetOf(keptIds(0.7)))
    // partitioning-invariant decision table
    val a = m.orderBy("id").collect().map(_.toSeq).toSeq
    val b = Sampling.temperatureMix(df.repartition(7), $"id", $"lang", 0.5)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("temperature mix == the in-plan join formulation, NULL stratum included") {
    import spark.implicits._
    // the NULL stratum (50 rows) is the smallest: it sets n_min, and its
    // own rows are dropped
    val df = (1L to 1250L).map { i =>
      (i, if (i <= 900) Some("en") else if (i <= 1200) Some("de") else None)
    }.toDF("id", "lang")
    for (alpha <- Seq(0.5, 0.3)) {
      val counts = df.groupBy($"lang".as("__s")).agg(count(lit(1)).as("stratum_n"))
      val nmin = counts.agg(min($"stratum_n")).head().getLong(0)
      assert(nmin == 50L)
      val ratio = lit(nmin.toDouble) / $"stratum_n".cast("double")
      val want = df.join(counts.select($"__s", $"stratum_n",
          (if (alpha == 0.5) sqrt(ratio) else pow(ratio, lit(1.0 - alpha))).as("rate")),
          $"lang" === $"__s")
        .withColumn("keep", (Sampling.portableBucket($"id").cast("double") <
          $"rate" * lit(2147483647.0)).cast("long"))
        .drop("__s").orderBy("id").collect().map(_.toSeq).toSeq
      val got = Sampling.temperatureMix(df, $"id", $"lang", alpha)
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(got.size == 1200)
      assert(got == want, s"alpha $alpha")
    }
  }

  test("semantic dedup: cluster assignment, within-cluster groups, representatives") {
    import spark.implicits._
    // two clean semantic clusters around orthogonal axes; ids 1,2 and
    // 4,5 are exact duplicates, 3 and 6 are same-cluster but distinct
    val vecs = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 0.0)),
      (2L, Seq(1.0, 0.0, 0.0, 0.0)),
      (3L, Seq(0.8, 0.0, 0.6, 0.0)),     // cluster A, below 0.95 to 1/2
      (4L, Seq(0.0, 1.0, 0.0, 0.0)),
      (5L, Seq(0.0, 1.0, 0.0, 0.0)),
      (6L, Seq(0.0, 0.8, 0.0, 0.6))      // cluster B, below 0.95 to 4/5
    ).toDF("vec_id", "embedding")
    val cents = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding", cents,
      threshold = 0.95)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(Seq(1L, 2L, 3L).forall(out(_)._1 == 1L))
    assert(Seq(4L, 5L, 6L).forall(out(_)._1 == 2L))
    // duplicate groups collapse to the min id; keep only on representatives
    assert(out(1L)._2 == 1L && out(2L)._2 == 1L && out(3L)._2 == 3L)
    assert(out(4L)._2 == 4L && out(5L)._2 == 4L && out(6L)._2 == 6L)
    assert(out.map { case (id, (_, comp, keep)) => keep == (if (id == comp) 1L else 0L) }
      .forall(identity))
    // deterministic across partitionings
    val again = Dedup.semanticDedup(vecs.repartition(5), "vec_id", "embedding",
      cents, threshold = 0.95).orderBy("id").collect().map(_.toSeq).toSeq
    val first = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      cents, threshold = 0.95).orderBy("id").collect().map(_.toSeq).toSeq
    assert(again == first)
  }

  test("cluster-coherent split never separates near-duplicates") {
    import spark.implicits._
    // 10 families of 3 near-identical docs: a per-document split would
    // scatter most families across train/eval; the cluster split may not
    val docs = (0 until 10).flatMap { f =>
      (0 until 3).map { v =>
        val toks = (1 to 50).map(i =>
          if (i == v + 3) s"var${f}_$v" else s"fam${f}_w$i")
        ((f * 10 + v).toLong, toks.mkString(" "))
      }
    }.toDF("doc_id", "text")
    val split = Dedup.splitByNearDupCluster(docs, "doc_id", "text",
      Seq("train" -> 0.5, "eval" -> 0.5), threshold = 0.5)
    assert(split.count() == 30)
    val perComp = split.select("component", "split").distinct().collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).distinct.length)
    assert(perComp.values.forall(_ == 1), "a cluster straddles splits")
    assert(perComp.size == 10, "expected one component per family")
    // the hash actually spreads clusters over both sides
    val sides = split.select("split").distinct().collect().map(_.getString(0)).toSet
    assert(sides == Set("train", "eval"))
  }

  test("langId votes deterministically; quality in [0,1]") {
    import spark.implicits._
    val df = Seq(
      (1L, "the cat and the dog of the house is in it"),
      (2L, "el perro y la casa de los gatos se ve")).toDF("id", "text")
    val got = df.select(col("id"),
      TextOps.langId(TextOps.tokens(col("text"))).as("lang"),
      TextOps.qualityScore(col("text")).as("q")).collect()
    assert(got(0).getString(1) == "en")
    assert(got(1).getString(1) == "es")
    got.foreach(r => assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }
}
