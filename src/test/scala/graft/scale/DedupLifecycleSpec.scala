package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Storage-lifecycle contract for the pair-generator family (the r6
  * review's "library callers leak storage" item): none of the dedup pair
  * operators may leave anything registered in the block manager after
  * their action completes. They achieve that by having NO persist at all
  * — each multi-consumer intermediate is materialized as ONE explicit
  * exchange whose shuffle files every consumer branch reuses
  * (ReusedExchange / the AQE stage cache), so the text/embedding kernel
  * still runs exactly once per action.
  *
  * `connectedComponents` is also covered on its local path (its edge
  * probe persists nothing); the
  * distributed path is exempt by design — its per-round localCheckpoints
  * are released by the ContextCleaner when the returned frame is dropped,
  * which is asynchronous and not assertable here.
  */
class DedupLifecycleSpec extends SparkSpec {

  private def newlyPersisted[A](body: => A): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  private def docs: DataFrame = {
    import spark.implicits._
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 30) "CHANGED" else s"tok$i").mkString(" ")
    ((1L, base) :: (2L, near) :: (3 to 40).map(i =>
      (i.toLong, (i to i + 50).map(j => s"w${i}_$j").mkString(" "))).toList)
      .toDF("doc_id", "text")
  }

  private def vecs: DataFrame = {
    import spark.implicits._
    (1 to 30).map { i =>
      val v = Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat)
      (i.toLong, v)
    }.toDF("id", "vec")
  }

  test("minhashDupPairs leaves no persisted RDDs behind") {
    val leaked = newlyPersisted {
      Dedup.minhashDupPairs(docs, "doc_id", "text", threshold = 0.6).count()
    }
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("simhashDupPairs leaves no persisted RDDs behind") {
    val leaked = newlyPersisted {
      Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 3).count()
    }
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("commonRunPairs leaves no persisted RDDs behind") {
    val leaked = newlyPersisted {
      Dedup.commonRunPairs(docs, "doc_id", "text", k = 8, w = 4).count()
    }
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("embeddingDupPairs leaves no persisted RDDs behind") {
    val leaked = newlyPersisted {
      Dedup.embeddingDupPairs(vecs, "id", "vec", dim = 8, threshold = 0.9).count()
    }
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("semanticDedup leaves no persisted RDDs behind") {
    import spark.implicits._
    val centroids = Seq(
      Seq.tabulate(8)(d => math.sin(0.3 + d)),
      Seq.tabulate(8)(d => math.sin(2.1 + d)))
    val leaked = newlyPersisted {
      Dedup.semanticDedup(vecs, "id", "vec", centroids, threshold = 0.95).count()
    }
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  test("connectedComponents (local path) releases its probe persist") {
    import spark.implicits._
    val ids = (1L to 50L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val leaked = newlyPersisted {
      Dedup.connectedComponents(ids, pairs).count()
    }
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  private def indexRows(df: DataFrame): Seq[(Long, Seq[Long], Seq[Long])] =
    df.orderBy("id").collect().toSeq.map(r =>
      (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))

  test("minhashIndexMerge(index(old), batch) == index(old union batch), bit for bit") {
    val old = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val merged = Dedup.minhashIndexMerge(
      Dedup.minhashIndex(old, "doc_id", "text"), batch, "doc_id", "text")
    val rebuilt = Dedup.minhashIndex(docs, "doc_id", "text")
    assert(indexRows(merged) === indexRows(rebuilt))
  }

  test("minhashIndexMerge: batch wins on id collision (re-ingest replaces)") {
    import spark.implicits._
    val old = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    // doc 2 re-ingested with NEW text, doc 3 brand new
    val batch = Seq((2L, "five six seven eight"), (3L, "nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val merged = Dedup.minhashIndexMerge(
      Dedup.minhashIndex(old, "doc_id", "text"), batch, "doc_id", "text")
    val expected = Dedup.minhashIndex(
      Seq((1L, "alpha beta gamma delta"), (2L, "five six seven eight"),
        (3L, "nine ten eleven twelve")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(indexRows(merged) === indexRows(expected))
  }

  private def jacRows(df: DataFrame): Seq[(Long, Seq[Long])] =
    df.orderBy("id").collect().toSeq.map(r =>
      (r.getLong(0), r.getSeq[Long](1)))

  test("jaccardIndexMerge(index(old), batch) == index(old union batch), bit for bit") {
    val old = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val merged = Dedup.jaccardIndexMerge(
      Dedup.jaccardIndex(old, "doc_id", "text"), batch, "doc_id", "text")
    assert(jacRows(merged) === jacRows(Dedup.jaccardIndex(docs, "doc_id", "text")))
  }

  test("jaccardIndexMerge: batch wins on id collision (re-ingest replaces)") {
    import spark.implicits._
    val old = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val batch = Seq((2L, "five six seven eight"), (3L, "nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val merged = Dedup.jaccardIndexMerge(
      Dedup.jaccardIndex(old, "doc_id", "text"), batch, "doc_id", "text")
    val expected = Dedup.jaccardIndex(
      Seq((1L, "alpha beta gamma delta"), (2L, "five six seven eight"),
        (3L, "nine ten eleven twelve")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(jacRows(merged) === jacRows(expected))
  }

  test("jaccardPairsAgainstIndex serves FROM the index, never from text (tamper witness)") {
    import spark.implicits._
    // doc 1 and doc 2 are near-identical (59/60 shared tokens => 57/59
    // shared trigram shingles on each side; J ~ 0.87 >= 0.8)
    val idxTrue = Dedup.jaccardIndex(docs, "doc_id", "text")
    val served = Dedup.jaccardPairsAgainstIndex(idxTrue,
      docs.filter(col("doc_id") === 2L), "doc_id", "text",
      shingleSize = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served.contains((1L, 2L)), s"expected (1,2) in $served")
    assert(served.contains((2L, 2L)), "self-pair via index must score 1.0")
    // tamper: replace doc 1's persisted shingles with garbage. If serving
    // re-derived shingles from text, (1,2) would still appear; reading
    // the tampered arrays, it must vanish while (2,2) survives.
    val tampered = idxTrue.filter(col("id") =!= 1L)
      .unionByName(Seq((1L, Seq(-999L, -998L, -997L))).toDF("id", "sh"))
    val servedT = Dedup.jaccardPairsAgainstIndex(tampered,
      docs.filter(col("doc_id") === 2L), "doc_id", "text",
      shingleSize = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!servedT.contains((1L, 2L)), "tampered index must change the result")
    assert(servedT.contains((2L, 2L)))
  }

  test("containmentPairsAgainstIndex == containmentPairs restricted to batch->index") {
    // ground truth: the certified direct operator on the full corpus,
    // filtered to odd-probe -> even-container orientation
    val direct = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleSize = 2, threshold = 0.5)
      .filter(col("id_a") % 2 === 1 && col("id_b") % 2 === 0)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaIndex = Dedup.containmentPairsAgainstIndex(
        Dedup.jaccardIndex(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", shingleSize = 2),
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        shingleSize = 2, threshold = 0.5)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaIndex === direct)
    assert(viaIndex.nonEmpty == direct.nonEmpty)
  }

  test("containmentPairsAgainstIndex: same-id batch/index pair reported, not excluded") {
    import spark.implicits._
    // index holds docs 1 (long) and 2; the batch RE-INGESTS doc 2 with
    // unchanged text and doc 3 as a quote of doc 1. The re-ingested doc
    // must pair with its own indexed version at containment 1.0 (the
    // jaccardPairsAgainstIndex self-pair convention) — the dedup-on-
    // ingest case a blanket id_a =!= id_b filter would silently drop.
    val longDoc = (1 to 40).map(i => s"w$i").mkString(" ")
    val idx = Dedup.jaccardIndex(
      Seq((1L, longDoc), (2L, "alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text"), "doc_id", "text", shingleSize = 2)
    val batch = Seq(
      (2L, "alpha beta gamma delta epsilon zeta"), // re-ingest, unchanged
      (3L, (5 to 20).map(i => s"w$i").mkString(" "))) // quote of doc 1
      .toDF("doc_id", "text")
    val served = Dedup.containmentPairsAgainstIndex(idx, batch,
        "doc_id", "text", shingleSize = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served.contains((2L, 2L, 1.0)),
      s"re-ingested doc must self-pair at 1.0: $served")
    assert(served.exists(p => p._1 == 3L && p._2 == 1L),
      s"quote containment (3 in 1) expected: $served")
  }

  test("containmentPairsAgainstIndex Bloom bound keeps recall (vs direct, cross-id)") {
    // recall witness for the batch-bounded serve path at a LOW threshold
    // (long prefixes, many postings): the Bloom prefilter must not lose
    // any pair the direct operator finds in the batch->index orientation
    val direct = Dedup.containmentPairs(docs, "doc_id", "text",
        shingleSize = 3, threshold = 0.34)
      .filter(col("id_a") % 3 === 0 && col("id_b") % 3 =!= 0)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val viaIndex = Dedup.containmentPairsAgainstIndex(
        Dedup.jaccardIndex(docs.filter(col("doc_id") % 3 =!= 0),
          "doc_id", "text", shingleSize = 3),
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text",
        shingleSize = 3, threshold = 0.34)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaIndex === direct)
  }

  test("containmentAgainstPostingStore == containmentPairsAgainstIndex") {
    // the posting-store serve must reproduce the array-scan serve exactly
    // (both are recall-1 + exact-verify, so equal output is the contract,
    // not a coincidence); low threshold = long prefixes = the hard case
    val idx = Dedup.jaccardIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", shingleSize = 2)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val viaIndex = Dedup.containmentPairsAgainstIndex(idx, batch,
        "doc_id", "text", shingleSize = 2, threshold = 0.4)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val store = Dedup.containmentPostingStore(idx, buckets = 32)
    val viaStore = Dedup.containmentAgainstPostingStore(store, batch,
        "doc_id", "text", shingleSize = 2, threshold = 0.4, buckets = 32)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(viaStore === viaIndex)
    assert(viaStore.nonEmpty)
  }

  test("containmentPostingStoreMerge == rebuild over effective corpus (batch wins)") {
    // stale store: doc 2's postings come from bogus text; the re-ingest
    // must remove EVERY stale posting (by-doc anti-join) and land the
    // true ones — row-for-row equal to a from-scratch build
    val staleDocs = docs.withColumn("text",
      when(col("doc_id") === 2, lit("stale words only here"))
        .otherwise(col("text")))
    // doc 3 is re-ingested with NULL text: it has no postings now, and
    // its old ones must go all the same
    val noText = lit(null).cast("string")
    val merged = Dedup.containmentPostingStoreMerge(
        Dedup.containmentPostingStore(
          Dedup.jaccardIndex(staleDocs, "doc_id", "text", shingleSize = 2),
          buckets = 16),
        docs.filter(col("doc_id") === 2).unionByName(
          docs.filter(col("doc_id") === 3).withColumn("text", noText)),
        "doc_id", "text", shingleSize = 2, buckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    val rebuilt = Dedup.containmentPostingStore(
        Dedup.jaccardIndex(docs.withColumn("text",
            when(col("doc_id") === 3, noText).otherwise(col("text"))),
          "doc_id", "text", shingleSize = 2),
        buckets = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(merged === rebuilt)
  }

  test("bucket-local store rewrite touches only affected partitions") {
    import spark.implicits._
    val buckets = 64
    // short docs: a re-ingest's affected-bucket footprint (old + new
    // shingle buckets) stays far below the store's bucket population
    val corpus = (1 to 30).map(i =>
      (i.toLong, (1 to 10).map(j => s"t${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val idx = Dedup.jaccardIndex(corpus, "doc_id", "text", shingleSize = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ctpbl")
      .toString + "/store"
    Dedup.containmentPostingStore(idx, buckets)
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(dir)
    def fileState(): Map[String, (Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir))
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getAbsolutePath -> ((f.length(), f.lastModified()))).toMap
    }
    val before = fileState()
    val batch = Seq((5L, "brand new replacement words only"))
      .toDF("doc_id", "text")
    val affected = Dedup.containmentPostingStoreRewriteBuckets(spark, dir,
      idx, batch, "doc_id", "text", shingleSize = 2, buckets = buckets)
    assert(affected.nonEmpty && affected.size < buckets / 2,
      s"footprint should be small: ${affected.size} buckets")
    // row semantics == the full-rewrite merge
    val expect = Dedup.containmentPostingStoreMerge(
        Dedup.containmentPostingStore(idx, buckets), batch,
        "doc_id", "text", shingleSize = 2, buckets = buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    val got = spark.read.parquet(dir)
      .select(col("id_b"), col("nb"), col("g"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3))).toSet
    assert(got === expect)
    // unaffected partitions are BYTE-identical survivors: same files,
    // same length, same mtime — never read, never rewritten
    val after = fileState()
    val affectedSet = affected.map(b => s"bucket=$b").toSet
    def bucketOf(path: String): String =
      path.split("/").find(_.startsWith("bucket=")).getOrElse("?")
    val survivors = before.keys.filterNot(p => affectedSet(bucketOf(p)))
    assert(survivors.nonEmpty, "fixture must leave unaffected buckets")
    survivors.foreach { p =>
      assert(after.get(p).contains(before(p)),
        s"unaffected file changed: $p")
    }
    // no on-disk bucket dir without expected rows (emptied buckets die)
    val expectBuckets = expect.map(_._4).toSet
    val onDisk = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName
        .stripPrefix("bucket=").toInt).toSet
    assert(onDisk.subsetOf(expectBuckets),
      s"stale bucket dirs survive: ${onDisk -- expectBuckets}")
    // and the serve path agrees end to end after the bucket-local merge
    val servedIncr = Dedup.containmentAgainstPostingStore(
        spark.read.parquet(dir),
        Seq((100L, "brand new replacement words")).toDF("doc_id", "text"),
        "doc_id", "text", shingleSize = 2, threshold = 0.5,
        buckets = buckets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(servedIncr.exists(_._2 == 5L),
      s"quote of the re-ingested text must hit doc 5: $servedIncr")
  }

  test("posting-store serve reads a bounded, partition-pruned subset") {
    val buckets = 256
    val dir = java.nio.file.Files.createTempDirectory("graft_ctpostspec")
      .toString
    Dedup.containmentPostingStore(
        Dedup.jaccardIndex(docs, "doc_id", "text", shingleSize = 2),
        buckets)
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    val back = spark.read.parquet(dir)
    val batch = docs.filter(col("doc_id") === 1) // one doc: few shingles
    val batG = Dedup.jaccardIndex(batch, "doc_id", "text", shingleSize = 2)
      .select(explode(col("sh")).as("g")).distinct()
    // the operator's own container-side scan: the bucket In-list must be
    // a PARTITION filter (metadata-only pruning), not a data Filter
    val slice = Dedup.postingStoreSlice(back, batG, buckets)
    val plan = slice.queryExecution.executedPlan.toString
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("bucket") &&
      (l.contains(" IN (") || l.contains(" INSET "))), plan.take(1500))
    // bounded: the batch touches strictly fewer buckets than the store has
    val batchBuckets = batG
      .select(pmod(col("g"), lit(buckets.toLong)).cast("int").as("b"))
      .distinct().count()
    val storeBuckets = back.select(col("bucket")).distinct().count()
    assert(batchBuckets < storeBuckets,
      s"fixture too small: batch $batchBuckets vs store $storeBuckets")
    assert(slice.select(
      pmod(col("g"), lit(buckets.toLong)).cast("int").as("b"))
      .distinct().count() <= batchBuckets)
    // and the written-store serve matches the in-memory-store serve
    val servedBack = Dedup.containmentAgainstPostingStore(back, batch,
        "doc_id", "text", shingleSize = 2, threshold = 0.4,
        buckets = buckets)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val servedMem = Dedup.containmentAgainstPostingStore(
        Dedup.containmentPostingStore(
          Dedup.jaccardIndex(docs, "doc_id", "text", shingleSize = 2),
          buckets),
        batch, "doc_id", "text", shingleSize = 2, threshold = 0.4,
        buckets = buckets)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(servedBack === servedMem)
  }
}
