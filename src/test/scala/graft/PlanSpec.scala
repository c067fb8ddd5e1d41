package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Plan-shape regression tests — the properties that decide whether a query
  * survives a 100 TB scale-up: filters reaching the parquet scan, column
  * pruning, broadcast joins for dims, single-exchange windows.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("predicate pushdown reaches the parquet scan") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]"), p)
  }

  test("column pruning: scan reads only projected columns") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("dimension joins broadcast (no shuffle of the fact table for dims)") {
    val q3 = SparkEntry.queries("q03_region_rollup")(spark, sf)
    val p = plan(q3)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("latest-per-group window plans one exchange on the partition keys") {
    val q11 = SparkEntry.queries("q11_latest_per_group")(spark, sf)
    val p = plan(q11)
    // one hashpartitioning exchange for the window (plus the final sort)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, plan:\n$p")
    assert(p.contains("user_id"), p)
  }

  test("latest-per-key pivot plans one hash exchange for window and aggregate (q18)") {
    val p = plan(SparkEntry.queries("q18_cvd_report")(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 hash exchange, plan:\n$p")
    assert("Exchange hashpartitioning\\(user_id#\\d+L?, ".r.findFirstIn(p).isDefined, p)
  }

  test("whole-stage codegen covers the banding projection") {
    val q18 = SparkEntry.queries("q18_cvd_report")(spark, sf)
    q18.collect() // AQE only materializes codegen spans in the final plan
    val p = plan(q18)
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string
    assert(p.contains("*(") , p)
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(p).isDefined, p)
  }

  test("native expressions participate in codegen (no eval fallback crash)") {
    // run with codegen fallback disabled: if doGenCode were broken this throws
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val emb = graft.core.Tables.embeddings(spark, sf).limit(10)
      val n = emb.as("a").crossJoin(emb.as("b"))
        .select(graft.functions.NativeExpressions.cosine_similarity(
          col("a.embedding"), col("b.embedding")).as("s"))
        .filter(col("s") > -2).count()
      assert(n == 100)
    }
  }

  test("BloomMightContainLong runs with codegen fallback disabled") {
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      import spark.implicits._
      val df = (1L to 1000L).toDF("g")
      val bloom = df.filter(col("g") <= 500).stat.bloomFilter("g", 500, 0.01)
      val bc = spark.sparkContext.broadcast(bloom)
      val kept = df.filter(graft.functions.NativeExpressions
        .bloom_might_contain_long(col("g"), bc)).count()
      // no false negatives; few false positives at 1% on 500 probes
      assert(kept >= 500 && kept <= 520, s"kept=$kept")
    }
  }

  test("SimHash64 and TextStats run with codegen fallback disabled") {
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      import spark.implicits._
      val docs = graft.core.Tables.documents(spark, sf).limit(50)
        .withColumn("toks", graft.scale.TextOps.tokens(col("text")))
      val n = docs.select(
        graft.scale.Dedup.simhashNative(col("toks")).as("h"),
        graft.scale.TextOps.stats(col("toks")).as("st"))
        .filter(col("h").isNotNull && size(col("st")) === 7).count()
      assert(n == 50)
    }
  }

  test("lab summary is a pure projection: no exchange beyond the pivot") {
    // labSummary itself (wide frame in -> unpivoted rows) must add NO
    // shuffle: generate from an in-memory wide frame and check the plan.
    import spark.implicits._
    val wide = Seq(("p1", 100.0, 5.0)).toDF("patient_id", "glucose_latest", "hba1c_latest")
    val p = plan(graft.wellness.LabInfo.labSummary(wide, "patient_id"))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate explode"), p)
  }

  test("near-dup pair generators never plan a cartesian product") {
    for (name <- Seq("q24_minhash_dedup_pairs", "q39_embedding_dup_pairs",
        "q40_simhash_dup_pairs")) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
    }
  }

  test("round-14 operators never plan a cartesian product") {
    // q219 is exempt by the q177 precedent: its |labels|-row stats frame
    // rides an intentional broadcast cross join (map-side label
    // expansion, collapsed by partial aggregation before any exchange).
    for (name <- Seq("q217_containment_posting_store",
        "q218_exact_duplicate_spans", "q220_time_travel")) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$name:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
    }
  }

  test("heavy family at sf0.1 with broadcast suppressed: no cartesian, no text in any exchange") {
    // At sf0.001 EVERY join broadcasts, so the audited plans never show
    // the exchange structure the 100 TB claims rest on (the r6 review's
    // point). Suppressing auto-broadcast (AQE off so the static shuffle
    // plan is inspectable) exposes that structure: assert the properties
    // that decide survival at scale — no cartesian/nested-loop pair
    // generation anywhere, and no full document text column riding any
    // exchange (ids, signatures, winnow contexts and vectors may; `text`
    // itself must stay in the scan stage). The frozen shared shuffles
    // ([[graft.scale.Dedup]]) surface as RDD scans whose output IS the
    // hidden exchange's payload — audited through the same attribute
    // check.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.RDDScanExec
    val sf01 = "/root/testdata/sf0.1"
    withSQLConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      for (name <- Seq("q24_minhash_dedup_pairs", "q39_embedding_dup_pairs",
          "q41_near_dup_clusters", "q71_common_run_pairs", "q76_semantic_dedup")) {
        val df = SparkEntry.queries(name)(spark, sf01)
        val exec = df.queryExecution.executedPlan
        val p = exec.toString
        assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
        val shuffledAttrs = exec.collect {
          case e: ShuffleExchangeExec => e.child.output.map(_.name)
        }.flatten
        assert(!shuffledAttrs.contains("text"),
          s"$name shuffles the raw text column: $shuffledAttrs")
        val frozenAttrs = exec.collect {
          case r: RDDScanExec => r.output.map(_.name)
        }.flatten
        assert(!frozenAttrs.contains("text"),
          s"$name freezes the raw text column into its shared shuffle: $frozenAttrs")
      }
    }
  }

  test("document chunking is a shuffle-free narrow generator") {
    // chunkDocuments is sequence -> posexplode -> substring, all narrow:
    // the plan must contain no Exchange at any corpus size (the 100 TB
    // claim in its scaladoc), and the generator must be codegen-friendly.
    val docs = graft.core.Tables.documents(spark, sf)
    val p = plan(graft.scale.Curation.chunkDocuments(docs, "doc_id", "text"))
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Generate posexplode"), p)
  }

  test("blocklist gate/scrub and URL canonicalization are shuffle-free narrow maps") {
    // the round-13 crawl-curation kernels must stay pure per-row maps at
    // any corpus size (their 100 TB claim): one broadcast object each,
    // no Exchange anywhere before a caller's own ordering/aggregation.
    val docs = graft.core.Tables.documents(spark, sf)
    val pats = Seq("data", "fast table")
    val pFilter = plan(graft.scale.Curation.blocklistFilter(
      docs, "text", pats))
    assert(!pFilter.contains("Exchange"), pFilter)
    val pScrub = plan(graft.scale.Curation.blocklistScrub(
      docs, "doc_id", "text", pats))
    assert(!pScrub.contains("Exchange"), pScrub)
    // counts: explode of the per-pattern array is a narrow Generate
    val pCounts = plan(graft.scale.Curation.blocklistCounts(
      docs, "doc_id", "text", pats))
    assert(!pCounts.contains("Exchange"), pCounts)
    assert(pCounts.contains("Generate posexplode"), pCounts)
    val pUrl = plan(graft.scale.Urls.canonicalize(
      docs.withColumn("url",
        concat(lit("http://"), col("source"), lit(".com/x"))), "url"))
    assert(!pUrl.contains("Exchange"), pUrl)
  }

  test("hash-split sampling is a shuffle-free narrow filter") {
    import spark.implicits._
    val df = (1L to 100L).toDF("id")
    val p = plan(graft.scale.Sampling.splitByHash(df, col("id"),
      Seq("train" -> 0.9, "eval" -> 0.1)))
    assert(!p.contains("Exchange"), p)
  }

  test("int8 quantization is a shuffle-free narrow projection") {
    // quantizeInt8Stats must stay a pure per-row map at any corpus size
    // (its 100 TB claim): no Exchange anywhere in the plan.
    val emb = graft.core.Tables.embeddings(spark, sf)
    val p = plan(graft.scale.Features.quantizeInt8Stats(emb, "vec_id", "embedding"))
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("winsorize: bounds join back by broadcast, fact side never shuffles") {
    val ev = graft.core.Tables.events(spark, sf)
      .select(col("event_type"), col("value"))
    val p = plan(graft.scale.Features.winsorizeStats(
      ev, "event_type", "value", 0.05, 0.95))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ranking-window family shares one exchange and one sort") {
    val q = SparkEntry.queries("q114_window_rank_family")(spark, sf)
    val p = plan(q)
    // one hashpartitioning exchange for the shared window spec; the only
    // rangepartitioning exchange is the presentation ORDER BY
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    // lag/percent_rank/ntile/cume_dist all ride one Window sort: Window
    // nodes may split, but every one sorts on the same (user_id, ts,
    // event_id) key and AQE plans a single sort below them
    assert("Sort \\[user_id".r.findAllIn(p).length == 1, p)
  }

  test("resample+ffill: gap expansion is generated, not joined") {
    val q = SparkEntry.queries("q115_resample_gapfill")(spark, sf)
    val p = plan(q)
    assert(!p.contains("Join"), p) // constructional fill — no grid join
    assert(p.contains("Generate posexplode"), p)
  }

  test("partition pruning: partitioned sink + partition filter prune the scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val obs = Seq(
      ("o1", "2023-01", 1.0), ("o2", "2023-02", 2.0), ("o3", "2023-03", 3.0))
      .toDF("id", "month", "v")
    graft.ingest.FhirIngest.writeParquet(obs, dir, partitions = Seq("month"))
    val scan = spark.read.parquet(dir).filter(col("month") === "2023-02")
    val p = plan(scan)
    // the scan node carries the filter as a PartitionFilter (pruned at
    // planning, not post-read); inputFiles would list the whole relation
    assert(p.contains("PartitionFilters: [isnotnull(month"), p)
    assert(p.contains("(month#") && p.contains("= 2023-02"), p)
    assert(scan.count() == 1)
  }

  test("salted aggregates agree with direct aggregates") {
    import spark.implicits._
    val df = Seq.tabulate(1000)(i => ("hot", i % 37, i.toDouble)).toDF("k", "g", "v")
    val salted = graft.scale.Skew.saltedSum(df, "k", "v").collect().head
    assert(salted.getAs[Double]("sum_v") == (0 until 1000).map(_.toDouble).sum)
    assert(salted.getAs[Long]("n") == 1000L)
    val dist = graft.scale.Skew.saltedCountDistinct(df, "k", "g").collect().head
    assert(dist.getAs[Long]("n_distinct_g") == 37L)
  }

  test("against-index scoring reads signatures from the file, never recomputes") {
    // The index schema (id, sh, sig) carries no text, so a kernel
    // recompute is structurally impossible — but "columns read from
    // parquet" deserves a BEHAVIORAL witness: tamper the persisted
    // index so even-doc 2's shingles/signature are replaced by batch
    // doc 1's, and the scorer must report (2, 1) at jaccard 1.0 even
    // though their texts are unrelated. If any part of the index side
    // were re-derived rather than read, the planted pair could not
    // surface with jaccard 1.
    import spark.implicits._
    import graft.scale.Dedup
    val even = Seq((2L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val odd = Seq((1L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val batchSigs = Dedup.minhashIndex(odd, "doc_id", "text")
      .collect().head
    val tampered = Dedup.minhashIndex(even, "doc_id", "text")
      .collect().map(r => (r.getLong(0), batchSigs.getSeq[Long](1),
        batchSigs.getSeq[Long](2)))
      .toSeq.toDF("id", "sh", "sig")
    val dir = java.nio.file.Files.createTempDirectory("graft_planidx").toString
    tampered.write.mode("overwrite").parquet(dir)
    val pairs = Dedup.minhashDupPairsAgainstIndex(
        spark.read.parquet(dir), odd, "doc_id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.toSeq == Seq((2L, 1L, 1.0)),
      s"tampered index did not drive the result: ${pairs.toSeq}")
  }

  test("binned range join plans an equi join, never a nested loop (q138)") {
    // The whole point of the operator: Spark gives a bare BETWEEN join a
    // BroadcastNestedLoopJoin; the binned formulation must plan a hash-
    // partitionable equi join at ANY size, so suppress auto-broadcast
    // and assert no nested-loop/cartesian survives.
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = SparkEntry.queries("q138_range_join")(spark, sf)
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    }
  }

  test("rrf fusion joins k-bounded ranked inputs (q133 contract)") {
    // The full-outer join must consume the rank-filtered (<= 10 per
    // group) frames, never the raw document table: both join children
    // carry the r <= 10 filter below them in the optimized plan, so the
    // join's input is k x groups rows no matter the corpus size.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    val df = SparkEntry.queries("q133_rrf_fusion")(spark, sf)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: Join => j }
    val outer = joins.filter(_.joinType.sql.contains("OUTER"))
    assert(outer.nonEmpty, s"no outer join in q133 plan:\n${df.queryExecution.optimizedPlan}")
    outer.foreach { j =>
      j.children.foreach { side =>
        val bounded = side.collect {
          case f: Filter if f.condition.toString.contains("<= 10") => f
        }
        assert(bounded.nonEmpty,
          s"join side not rank-bounded:\n$side")
      }
    }
  }

  test("hard negatives cut through TopKPerGroup, not a corpus window (q146)") {
    // the rank window must run on the operator's k×groups output; the
    // corpus-sized scored frame reaches only the bounded-heap exec nodes
    val df = SparkEntry.queries("q146_hard_negatives")(spark, sf)
    val p = plan(df)
    assert(p.contains("TopKPerGroup"), p.take(2000))
  }

  test("containment join: no nested loop even with broadcast suppressed (q147)") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val df = SparkEntry.queries("q147_containment_pairs")(spark, sf)
      val p = plan(df)
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
      assert(!p.contains("CartesianProduct"), p.take(2000))
    }
  }

  test("containment index serve: Bloom batch-bound UNDER the posting exchange (q203)") {
    // the serve path's container side explodes the persisted shingle
    // arrays; without the batch-prefix Bloom that posting frame is
    // corpus-linear per serve (r12 verdict: decade exponent 1.02). The
    // witness: a FilterExec whose condition is BloomMightContainLong
    // sits directly over the container GenerateExec with NO shuffle in
    // between — i.e. postings are pruned to batch-relevant hashes
    // before anything corpus-sized reaches an exchange.
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      import spark.implicits._
      import org.apache.spark.sql.execution.{FilterExec, GenerateExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val docs = (1 to 20).map(i =>
        (i.toLong, (i to i + 15).map(j => s"t$j").mkString(" ")))
        .toDF("doc_id", "text")
      // the round-16 candidate freeze cuts the visible serve plan at an
      // RDD scan; the Bloom witness lives INSIDE the frozen subtree, so
      // record frozen subplans via the Bridge test hook and search the
      // outer plan plus every recorded freeze
      val rec = scala.collection.mutable.Buffer
        .empty[org.apache.spark.sql.execution.SparkPlan]
      org.apache.spark.sql.graftbridge.Bridge.recordFrozenPlans.set(rec)
      val served = try graft.scale.Dedup.containmentPairsAgainstIndex(
        graft.scale.Dedup.jaccardIndex(
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          shingleSize = 2),
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        shingleSize = 2, threshold = 0.7)
      finally org.apache.spark.sql.graftbridge.Bridge.recordFrozenPlans.remove()
      val plans = served.queryExecution.executedPlan +: rec.toSeq
      val bloomFilters = plans.flatMap(_.collect {
        case f: FilterExec if f.condition
          .find(_.isInstanceOf[graft.functions.BloomMightContainLong])
          .isDefined => f
      })
      assert(bloomFilters.nonEmpty,
        s"no Bloom filter in serve plan or its freezes:\n${plans.mkString("\n---\n")}")
      val underExplodeNoShuffle = bloomFilters.exists { f =>
        f.collectFirst { case g: GenerateExec => g }.isDefined &&
          f.collect { case s: ShuffleExchangeExec => s }.isEmpty
      }
      assert(underExplodeNoShuffle,
        s"Bloom filter not narrow-under-the-explode:\n${plans.mkString("\n---\n")}")
    }
  }

  test("bm25 against-index serves from postings, never the corpus text") {
    // behavioral witness (the q131 tamper pattern): plant an absurd tf
    // for a term doc 1's text does not contain; the served score must
    // move accordingly, proving the query path reads the index tables
    // and no tokenize/count of text happens at query time
    import spark.implicits._
    import graft.scale.Retrieval
    val docs = Seq((1L, "filler filler filler filler"),
      (2L, "spark spark filler filler")).toDF("doc_id", "text")
    // doclens rows (term = NULL) pass through untouched; only postings
    // are tampered
    val tampered = Retrieval.bm25Index(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getLong(3)))
      .filterNot { case (id, t, _, _) => id == 1L && t.contains("filler") }
      .toSeq ++ Seq((1L, Some("spark"), Some(50L), 4L))
    val tp = tampered.toDF("doc_id", "term", "tf", "dl")
    val out = Retrieval.bm25AgainstIndex(spark, tp,
      Seq(9L -> Seq("spark")), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out.head == ((1L, 1L)),
      s"tampered posting did not drive the ranking: $out")
  }

  test("mixture realization: corpus path is broadcast-joined, one shuffle total") {
    // the only hash exchange feeds the #strata-row token-count aggregate;
    // the corpus reaches the output through a broadcast join + narrow flag
    import spark.implicits._
    import graft.scale.Sampling
    val docs = (0 until 100).map(i => (i.toLong, s"s${i % 3}", 10L))
      .toDF("id", "src", "n_tok")
    val dec = Sampling.realizeMixture(docs, col("id"), col("src"),
      col("n_tok"), Seq("s0" -> 0.5, "s1" -> 0.5), budgetTokens = 5000L)
    val p = plan(dec)
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val shuffles = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(shuffles <= 2, s"expected <= 2 hash exchanges, got $shuffles:\n$p")
  }

  test("survivorship picks via aggregate + join-back, never a component window") {
    val q = SparkEntry.queries("q158_near_dup_survivorship")(spark, sf)
    val p = plan(q)
    // no row_number/rank window over components — the survivor is a
    // max-of-struct aggregate (SortAggregate: struct buffers aren't
    // hash-mappable, but it still partial-combines — giant clusters must
    // not serialize through a Window sort)
    assert(!p.contains("row_number") && !p.contains("Window"), p.take(2000))
    assert(p.contains("Aggregate"), p.take(2000))
  }

  test("histogram sketch: build is one narrow projection + grouped counts") {
    import spark.implicits._
    import graft.scale.Sketches
    val rows = (0 until 1000).map(i => ("g", (i % 700).toLong)).toDF("g", "u")
    val sk = Sketches.histSketch(rows, "g", "u", 0L, 500L, 50)
    val p = plan(sk)
    assert(!p.contains("Generate"), "slot fan-out must not explode rows: " +
      p.take(1500))
    val shuffles = p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Broadcast")).size
    assert(shuffles <= 2, s"expected <= 2 exchanges, got $shuffles")
  }

  test("salted join: dim replicates through a generate, join keys carry the salt") {
    val q = SparkEntry.queries("q162_salted_join")(spark, sf)
    val p = plan(q)
    assert(p.contains("Generate") || p.contains("explode"),
      "dim replication missing: " + p.take(1500))
    assert(p.contains("__fsalt") && p.contains("__dsalt"),
      "salt not in the join keys: " + p.take(1500))
  }

  test("pmi collocations: the bigram kernel runs once behind a frozen shuffle") {
    val q = SparkEntry.queries("q160_pmi_collocations")(spark, sf)
    val p = plan(q)
    // the frozen RDD boundary: consumers scan the same shuffle output, so
    // the text scan + tokenize/bigram kernel appears exactly once
    val scans = p.linesIterator.count(_.contains("Scan ExistingRDD"))
    assert(scans >= 3, s"expected >= 3 frozen-shuffle reads, got $scans")
    val textScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("documents"))
    assert(textScans <= 1, s"bigram kernel re-ran: $textScans document scans")
  }

  test("cusum + rolling z-score share one exchange and one sort each") {
    for (name <- Seq("q153_cusum_changepoints", "q154_rolling_zscore")) {
      val p = plan(SparkEntry.queries(name)(spark, sf))
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1, s"$name: expected 1 hash exchange, got $exchanges")
    }
  }

  test("text normalize is a narrow codegen pass: no hash exchange at all") {
    val p = plan(SparkEntry.queries("q157_text_normalize")(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p.take(1500))
    assert(p.contains("normalizeascii") || p.contains("NormalizeAscii") ||
      p.contains("normalize_ascii"), "native kernel missing: " + p.take(1500))
  }

  test("phrase search filters vocabulary INSIDE the token array, before explode") {
    val q = SparkEntry.queries("q156_phrase_search")(spark, sf)
    val p = q.queryExecution.optimizedPlan.toString
    // the vocab filter must sit under the Generate (array filter), not as
    // a post-explode row filter over corpus-sized postings
    val genIdx = p.indexOf("Generate")
    assert(genIdx >= 0, p.take(1500))
    assert(p.contains("filter(") || p.contains("ArrayFilter"),
      "array-level vocab filter missing: " + p.take(1500))
  }

  test("frequent paths: one user exchange, TakeOrdered cut, no global sort") {
    val p = plan(SparkEntry.queries("q166_frequent_paths")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("feature hashing: one hash exchange, no joins (q189 contract)") {
    val p = plan(SparkEntry.queries("q189_feature_hash")(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected exactly the (id, idx) combine exchange, got $exchanges")
    assert(!p.contains("Join"), "no join belongs in a hashing vectorizer: " +
      p.take(1500))
  }

  test("loo target encode: aggregate + join-back, never a window (q185)") {
    val p = plan(SparkEntry.queries("q185_loo_target_encode")(spark, sf))
    assert(!p.contains("Window"),
      "LOO must not window the corpus: " + p.take(1500))
  }

  test("bootstrap CI: corpus windows only per-group rank; gid window is sizes-only (q196)") {
    val q = SparkEntry.queries("q196_bootstrap_ci")(spark, sf)
    val p = q.queryExecution.optimizedPlan.toString
    // the single-partition window (gid assignment) must consume the
    // |groups|-row aggregate, never corpus rows: its child plan contains
    // an Aggregate below it
    val winIdx = p.indexOf("windowspecdefinition()")
    // Spark prints a global (no-partition) window with empty partition
    // spec; locate any window without partitioning keys
    assert(p.contains("Window"), p.take(1000))
    assert(winIdx < 0 || p.indexOf("Aggregate", winIdx) >= 0, p.take(2000))
  }

  test("ppl gate: threshold joins back via broadcast, corpus scanned twice at most (q199)") {
    val p = plan(SparkEntry.queries("q199_ppl_gate")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "conformal threshold frame must broadcast: " + p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("a pinned freeze declares its real hash partitioning and size") {
    // the freeze hands the planner what its shuffle produced: the rows'
    // partition ids are the declared hash partitioning's, and an
    // aggregate on the key plans no second exchange
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val df = (1L to 500L).map(i => (i % 37, i)).toDF("k", "v")
    val frozen = graft.scale.Dedup.sharedShuffle(df, col("k"))
    val n = spark.sessionState.conf.numShufflePartitions
    frozen.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r
    } match {
      case Some(r) =>
        assert(r.outputPartitioning.isInstanceOf[HashPartitioning], r.outputPartitioning)
        assert(r.outputPartitioning.numPartitions == n)
        assert(r.stats.rowCount.contains(BigInt(500)), r.stats)
        assert(r.stats.sizeInBytes < BigInt(1L << 20), r.stats)
      case None => fail(s"no frozen scan:\n${frozen.queryExecution.optimizedPlan}")
    }
    val misplaced = frozen.select(spark_partition_id().as("p"),
        org.apache.spark.sql.graftbridge.Bridge.column(
          HashPartitioning(Seq(org.apache.spark.sql.graftbridge.Bridge.expression(col("k"))), n)
            .partitionIdExpression).as("want"))
      .where(col("p") =!= col("want")).count()
    assert(misplaced == 0)
    val agg = plan(frozen.groupBy("k").agg(sum("v")))
    assert(!agg.contains("Exchange hashpartitioning"), agg)
  }

  test("the Gopher gate evaluates its stats kernel once per plan (q68, q204's gate)") {
    // a filter gets no common-subexpression elimination: spelled as column
    // arithmetic over the stats array, the keep bit inlined ~21 kernel
    // calls once the optimizer pushed a filter on it below the projection
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def kernels(p: LogicalPlan): Int = p.collect { case n =>
      n.expressions.map(_.collect { case g: graft.functions.GopherStats => g }.size).sum
    }.sum
    val q68 = SparkEntry.queries("q68_gopher_quality")(spark, sf)
    assert(kernels(q68.queryExecution.optimizedPlan) <= 2,
      q68.queryExecution.optimizedPlan.toString)
    // q204's gate is its first freeze: witness it through the freeze hook
    val rec = scala.collection.mutable.Buffer
      .empty[org.apache.spark.sql.execution.SparkPlan]
    org.apache.spark.sql.graftbridge.Bridge.recordFrozenPlans.set(rec)
    try SparkEntry.queries("q204_curation_pipeline")(spark, sf)
    finally org.apache.spark.sql.graftbridge.Bridge.recordFrozenPlans.remove()
    val gate = rec.head match {
      case a: AdaptiveSparkPlanExec => a.context.qe.optimizedPlan
      case p => fail(s"expected an adaptive plan: $p")
    }
    assert(gate.collect { case n => n.expressions.exists(_.find(
      _.isInstanceOf[graft.functions.GopherKeep]).isDefined) }.contains(true),
      s"the first freeze is not the gate:\n$gate")
    assert(kernels(gate) <= 2, gate.toString)
  }
}
