package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class StreamingSpec extends SparkSpec {

  test("incremental ingest drains new files only (bookmark semantics)") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft_in").toString
    val out = Files.createTempDirectory("graft_out").toString
    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val schema = Seq((1L, "a")).toDF("id", "v").schema

    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$in/batch1")
    Streaming.incrementalIngest(spark, in, schema, out, ckpt,
      df => df.withColumn("v", upper(col("v"))))
    assert(spark.read.parquet(out).count() == 2)

    // second invocation with one new file: only the delta is appended
    Seq((3L, "c")).toDF("id", "v").write.parquet(s"$in/batch2")
    Streaming.incrementalIngest(spark, in, schema, out, ckpt,
      df => df.withColumn("v", upper(col("v"))))
    val rows = spark.read.parquet(out).orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getString(1)).toSeq == Seq("A", "B", "C"))

    // third invocation with nothing new: no duplicates
    Streaming.incrementalIngest(spark, in, schema, out, ckpt)
    assert(spark.read.parquet(out).count() == 3)
  }

  test("curation maps run unchanged as a streaming ingest transform") {
    import spark.implicits._
    import graft.scale.Curation
    // PII redaction then C4 line filtering are pure narrow maps, so the
    // SAME composed function serves batch and stream — the curation
    // stage of a training-data pipeline as an incremental file ingest.
    def curate(df: org.apache.spark.sql.DataFrame) = {
      val red = Curation.redactPii(df, "doc_id", "text")
      Curation.c4LineFilter(
        red.select(col("doc_id"), col("redacted").as("text")),
        "doc_id", "text", minKept = 1)
    }
    val in = Files.createTempDirectory("graft_cur_in").toString
    val out = Files.createTempDirectory("graft_cur_out").toString
    val ckpt = Files.createTempDirectory("graft_cur_ckpt").toString
    val d1 = Seq(
      (1L, "Write to bob@x.co for details.\nHome | About\nA proper line stays here."),
      (2L, "Call 555-123-4567 today!\nOk."))
      .toDF("doc_id", "text")
    val d2 = Seq(
      (3L, "Please enable javascript to continue.\nReal prose survives the filter."))
      .toDF("doc_id", "text")
    d1.write.parquet(s"$in/b1")
    Streaming.incrementalIngest(spark, in, d1.schema, out, ckpt, curate)
    d2.write.parquet(s"$in/b2")
    Streaming.incrementalIngest(spark, in, d1.schema, out, ckpt, curate)

    val streamed = spark.read.parquet(out).orderBy("doc_id").collect()
    val batch = curate(d1.union(d2)).orderBy("doc_id").collect()
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
    // the email was redacted BEFORE line filtering: the kept line of
    // doc 1 carries the placeholder, not the address
    assert(streamed(0).getString(6).contains("<EMAIL>")
      || !streamed(0).getString(6).contains("bob@x.co"))
  }

  test("blocklist scrub + URL canonicalization run unchanged as a streaming transform") {
    import spark.implicits._
    import graft.scale.Urls
    // both are pure narrow maps (broadcast automaton / suffix table +
    // codegen'd kernels), so the SAME composed function serves batch and
    // stream — the round-13 gates slot into the q44-style incremental
    // ingest exactly like the q61/q67 maps above
    val auto = new graft.functions.AcAutomaton(Array("spam", "bad apple"))
    val bc = spark.sparkContext.broadcast(auto)
    def gate(df: org.apache.spark.sql.DataFrame) =
      Urls.canonicalize(df, "url")
        .withColumn("__s",
          graft.functions.NativeExpressions.ac_scrub(col("text"), bc, "<X>"))
        .select(col("doc_id"), col("__s.n_matches").as("n_scrubbed"),
          col("__s.scrubbed").as("scrubbed"), col("canonical"),
          col("registered_domain"))
    val in = Files.createTempDirectory("graft_bl_in").toString
    val out = Files.createTempDirectory("graft_bl_out").toString
    val ckpt = Files.createTempDirectory("graft_bl_ckpt").toString
    val d1 = Seq(
      (1L, "clean text", "HTTP://A.Example.COM:80/x#f"),
      (2L, "spam and a bad apple here", "https://b.example.co.uk/%7Ey"))
      .toDF("doc_id", "text", "url")
    val d2 = Seq(
      (3L, "spamspam", "http://c.example.org"))
      .toDF("doc_id", "text", "url")
    d1.write.parquet(s"$in/b1")
    Streaming.incrementalIngest(spark, in, d1.schema, out, ckpt, gate)
    d2.write.parquet(s"$in/b2")
    Streaming.incrementalIngest(spark, in, d1.schema, out, ckpt, gate)
    val streamed = spark.read.parquet(out).orderBy("doc_id").collect()
    val batch = gate(d1.union(d2)).orderBy("doc_id").collect()
    assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
    assert(streamed(1).getLong(1) == 2L &&
      streamed(1).getString(2) == "<X> and a <X> here")
    assert(streamed(0).getString(3) == "http://a.example.com/x")
  }

  test("Misra-Gries summary aggregates incrementally over a stream") {
    import spark.implicits._
    import graft.scale.TextOps
    // the MG buffer serializes into the streaming state store like any
    // built-in aggregate, so corpus-monitoring top-token sketches run
    // unchanged as a complete-mode streaming aggregation
    val dir = Files.createTempDirectory("graft_mg").toString
    val d1 = Seq((1L, "alpha alpha alpha beta beta gamma"),
      (2L, "alpha beta delta delta"))
      .toDF("doc_id", "text")
    val d2 = Seq((3L, "alpha gamma gamma epsilon")).toDF("doc_id", "text")
    d1.write.parquet(s"$dir/b1")
    d2.write.parquet(s"$dir/b2")

    val stream = spark.readStream.schema(d1.schema)
      .option("recursiveFileLookup", "true").parquet(dir)
      .select(explode(TextOps.tokens(col("text"))).as("token"))
      .agg(graft.functions.NativeExpressions
        .misra_gries(col("token"), 16).as("mg"),
        count(lit(1)).as("n"))
    val q = stream.writeStream.format("memory").queryName("mg_stream")
      .outputMode("complete")
      .start()
    q.processAllAvailable(); q.stop()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")

    val row = spark.table("mg_stream").head()
    val summary = row.getSeq[org.apache.spark.sql.Row](0)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = row.getLong(1)
    // capacity 16 > distinct tokens: zero deficit, the summary IS the
    // exact count map of the full (multi-file) stream
    val truth = d1.union(d2)
      .select(explode(TextOps.tokens($"text")).as("token"))
      .groupBy($"token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n == truth.values.sum)
    assert(summary == truth)
  }

  test("watermarked windowed aggregation over a bounded stream") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_ev").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(minutes: Int) = new java.sql.Timestamp(base.getTime + minutes * 60000L)
    Seq(
      (ts(0), "click", 1.0), (ts(10), "click", 2.0),
      (ts(70), "click", 3.0), (ts(5), "view", 4.0))
      .toDF("ts", "event_type", "value").write.parquet(s"$dir/data")
    val schema = spark.read.parquet(s"$dir/data").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/data")
    val q = Streaming.windowedCounts(stream, "ts", "event_type")
      .writeStream.format("memory").queryName("wincounts")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("wincounts")
      .select(col("window.start").cast("string"), col("event_type"), col("n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set(
      ("2024-01-01 10:00:00", "click", 2L),
      ("2024-01-01 11:00:00", "click", 1L),
      ("2024-01-01 10:00:00", "view", 1L)))
  }

  test("windowed aggregation: stream converges to the batch twin (q94)") {
    import spark.implicits._
    // SAME function builds both plans; the stream (complete mode, all
    // data arrived) must equal the batch run row-for-row, including the
    // decimal-exact value sums
    val dir = Files.createTempDirectory("graft_evtw").toString
    val base = java.sql.Timestamp.valueOf("2024-03-05 08:00:00")
    def ts(minutes: Int) = new java.sql.Timestamp(base.getTime + minutes * 60000L)
    val rows = (0 until 40).map(i =>
      (ts(i * 7), if (i % 3 == 0) "view" else "click", i * 1.25))
    rows.toDF("ts", "event_type", "value").write.parquet(s"$dir/data")
    val batchDf = spark.read.parquet(s"$dir/data")
    val stream = spark.readStream.schema(batchDf.schema).parquet(s"$dir/data")
    val q = Streaming.windowedCounts(stream, "ts", "event_type")
      .writeStream.format("memory").queryName("wintwin")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("window.start").cast("string"), col("event_type"),
        col("n"), col("total_value"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(canon(spark.table("wintwin")) ===
      canon(Streaming.windowedCounts(batchDf, "ts", "event_type")))
  }

  test("interval join: stream-stream converges to the batch twin (q119)") {
    import spark.implicits._
    // SAME function builds both joins; streaming sides carry watermarks
    // (the caller's contract) and the time bound evicts right-side state
    val dir = Files.createTempDirectory("graft_ivj").toString
    val base = java.sql.Timestamp.valueOf("2024-03-05 08:00:00")
    def ts(minutes: Int) = new java.sql.Timestamp(base.getTime + minutes * 60000L)
    Seq((100L, 1L, ts(35)), (101L, 1L, ts(90)), (102L, 2L, ts(40)))
      .toDF("event_id", "user_id", "ts").write.parquet(s"$dir/p")
    Seq((1L, 1L, ts(10)), (2L, 1L, ts(34)), (3L, 1L, ts(50)),
      (4L, 2L, ts(39)), (5L, 3L, ts(40)))
      .toDF("click_id", "user_id", "click_ts").write.parquet(s"$dir/c")
    val pb = spark.read.parquet(s"$dir/p")
    val cb = spark.read.parquet(s"$dir/c")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select(col("l.event_id"), col("r.click_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = pairs(Streaming.intervalJoin(pb, cb, "user_id", "ts",
      "click_ts", 30))
    // purchase 100 ← clicks 10m,34m (within 30m); 101 ← none (50m is 40m
    // earlier); 102 ← click 4 same user; click 5 other user never joins
    assert(batch === Set((100L, 1L), (100L, 2L), (102L, 4L)))
    val ps = Streaming.intervalJoin(
      spark.readStream.schema(pb.schema).parquet(s"$dir/p")
        .withWatermark("ts", "10 minutes"),
      spark.readStream.schema(cb.schema).parquet(s"$dir/c")
        .withWatermark("click_ts", "10 minutes"),
      "user_id", "ts", "click_ts", 30)
      .writeStream.format("memory").queryName("ivjoin")
      .outputMode("append").start()
    ps.processAllAvailable(); ps.stop()
    assert(spark.table("ivjoin").select("event_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === batch)
  }

  test("left-outer interval join emits unmatched lefts with null rights") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-05 08:00:00")
    def ts(minutes: Int) = new java.sql.Timestamp(base.getTime + minutes * 60000L)
    val p = Seq((100L, 1L, ts(35)), (101L, 1L, ts(90)), (102L, 2L, ts(40)))
      .toDF("event_id", "user_id", "ts")
    val c = Seq((1L, 1L, ts(10)), (4L, 2L, ts(39)))
      .toDF("click_id", "user_id", "click_ts")
    val out = Streaming.intervalJoin(p, c, "user_id", "ts", "click_ts",
      30, "left_outer")
      .select(col("l.event_id"), col("r.click_id"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // 101 has no click within its window → emitted with null right
    assert(out === Set((100L, 1L), (101L, -1L), (102L, 4L)))
  }

  test("foreachBatch CDC apply maintains an upserted snapshot across batches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cdcs").toString
    val state = s"$dir/state"
    // batch 1: two inserts; batch 2: update k1, delete k2, insert k3 —
    // maxFilesPerTrigger=1 forces them through separate micro-batches
    Seq((1L, "a", 1L, "U"), (2L, "b", 1L, "U"))
      .toDF("k", "v", "ver", "op").write.parquet(s"$dir/in/b1")
    Seq((1L, "a2", 2L, "U"), (2L, "b", 2L, "D"), (3L, "c", 2L, "U"))
      .toDF("k", "v", "ver", "op").write.parquet(s"$dir/in/b2")
    val schema = spark.read.parquet(s"$dir/in/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*")
    val q = Streaming.applyCdcStream(stream, state, Seq("k"), "ver")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(state)
      .select("k", "v", "ver").as[(Long, String, Long)].collect().toSet
    // the final snapshot equals the one-shot batch upsert of all changes
    assert(got === Set((1L, "a2", 2L), (3L, "c", 2L)))
  }

  test("stream-static broadcast join enriches a file stream (q03's dim shape)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_enr").toString
    Seq((1L, 10.0), (2L, 20.0), (1L, 5.0), (3L, 7.5))
      .toDF("dim_id", "value").write.parquet(s"$dir/data")
    val dim = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("dim_id", "name")
    val schema = spark.read.parquet(s"$dir/data").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/data")
    val q = Streaming.enrichWithStatic(stream, dim, Seq("dim_id"))
      .groupBy($"name").agg(sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("enriched").as[(String, Double)].collect().toSet
    assert(got === Set(("alpha", 15.0), ("beta", 20.0), ("gamma", 7.5)))
  }

  test("streaming dedup drops within-watermark duplicate keys") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dd").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(minutes: Int) = new java.sql.Timestamp(base.getTime + minutes * 60000L)
    Seq(
      (ts(0), "k1", 1.0), (ts(5), "k1", 2.0),   // dup of k1 within watermark
      (ts(1), "k2", 3.0), (ts(8), "k3", 4.0))
      .toDF("ts", "content_key", "value").write.parquet(s"$dir/data")
    val schema = spark.read.parquet(s"$dir/data").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/data")
    val q = Streaming.dedupStream(stream, "ts", Seq("content_key"), "1 hour")
      .writeStream.format("memory").queryName("dedupstream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedupstream")
      .select("content_key").collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("k1", "k2", "k3"))
  }

  test("streaming dedup equals its batch twin on event-time-ordered input") {
    import spark.implicits._
    // one file of rows already in event-time order: the stream's
    // first-wins arbitration then matches the batch twin's
    // earliest-ts/lowest-id rule exactly (the q13 sessionize pattern)
    val dir = Files.createTempDirectory("graft_ddt").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(minutes: Int) = new java.sql.Timestamp(base.getTime + minutes * 60000L)
    val rows = Seq(
      (1L, ts(0), 10L, "click", 1.0),
      (2L, ts(2), 10L, "click", 2.0),  // dup key (10, click) -> dropped
      (3L, ts(3), 10L, "view", 3.0),
      (4L, ts(4), 11L, "click", 4.0),
      (5L, ts(6), 10L, "click", 5.0),  // still within watermark -> dropped
      (6L, ts(7), 11L, "view", 6.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    rows.coalesce(1).write.parquet(s"$dir/data")
    val schema = spark.read.parquet(s"$dir/data").schema
    val stream = spark.readStream.schema(schema).parquet(s"$dir/data")
    val q = Streaming.dedupStream(stream, "ts", Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("deduptwin")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("deduptwin")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val batch = Streaming.dedupBatchTwin(
        spark.read.parquet(s"$dir/data"), "ts", Seq("user_id", "event_type"),
        "event_id")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
    assert(batch == Set(1L, 3L, 4L, 6L))
  }

  test("streaming dedup re-emits keys recurring beyond the watermark horizon") {
    import spark.implicits._
    // dropDuplicatesWithinWatermark EVICTS key state once the watermark
    // passes — that bounded state is the point. A key recurring after the
    // horizon is therefore re-emitted by the stream while the batch twin
    // dedups it globally: the documented precondition of the q44
    // equivalence, pinned here so nobody "fixes" it into an overclaim.
    val dir = Files.createTempDirectory("graft_ddh").toString
    val ckpt = Files.createTempDirectory("graft_ddh_ck").toString
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(minutes: Int) = new java.sql.Timestamp(base.getTime + minutes * 60000L)
    // batch 1: the key at t=0, plus a later event pushing the watermark
    // (1h horizon) past t=0+1h by the end of the batch
    Seq((1L, ts(0), 10L, "click", 1.0), (2L, ts(180), 99L, "view", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/b1")
    val schema = spark.read.parquet(s"$dir/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val q = Streaming.dedupStream(stream, "ts", Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_horizon")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    // batch 2: the SAME key, 3h later — its state was evicted
    Seq((3L, ts(185), 10L, "click", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/b2")
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("dedup_horizon")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(streamed.contains(1L) && streamed.contains(3L),
      s"expected both occurrences past the horizon, got $streamed")
    // the batch twin keeps only the earliest — the twin is a HORIZON-
    // BOUNDED equivalence, not a general one
    val batch = Streaming.dedupBatchTwin(
        spark.read.parquet(s"$dir/*"), "ts", Seq("user_id", "event_type"),
        "event_id")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(batch == Set(1L, 2L))
  }

  test("streaming minhash-index maintenance converges to a from-scratch build") {
    import spark.implicits._
    val d1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"))
      .toDF("doc_id", "text")
    // doc 2 re-ingested with new text in batch 2, doc 3 brand new
    val d2 = Seq((2L, "six seven eight nine ten"),
      (3L, "red green blue cyan magenta"))
      .toDF("doc_id", "text")
    val in = Files.createTempDirectory("graft_mhin").toString
    val state = Files.createTempDirectory("graft_mhst").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_mhck").toString
    d1.coalesce(1).write.parquet(s"$in/b1")
    d2.coalesce(1).write.parquet(s"$in/b2")
    val stream = spark.readStream.schema(d1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val q = Streaming.maintainMinhashIndex(stream, state, "doc_id", "text")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    // batch-2 delivery beats batch-1 for doc 2 (re-ingest), so the final
    // snapshot equals a from-scratch index over the LATEST text per doc
    val latest = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "six seven eight nine ten"), (3L, "red green blue cyan magenta"))
      .toDF("doc_id", "text")
    assert(rows(spark.read.parquet(state)) ===
      rows(graft.scale.Dedup.minhashIndex(latest, "doc_id", "text")))
  }

  test("streaming jaccard-index maintenance converges to a from-scratch build") {
    import spark.implicits._
    val d1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"))
      .toDF("doc_id", "text")
    // doc 2 re-ingested with new text in batch 2, doc 3 brand new —
    // batch-wins must REPLACE doc 2's stale shingle array, not union it
    val d2 = Seq((2L, "six seven eight nine ten"),
      (3L, "red green blue cyan magenta"))
      .toDF("doc_id", "text")
    val in = Files.createTempDirectory("graft_jcin").toString
    val state = Files.createTempDirectory("graft_jcst").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_jcck").toString
    d1.coalesce(1).write.parquet(s"$in/b1")
    d2.coalesce(1).write.parquet(s"$in/b2")
    val stream = spark.readStream.schema(d1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val q = Streaming.maintainJaccardIndex(stream, state, "doc_id", "text")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Long](1)))
    // sh carries no corpus state, so the folded snapshot is BIT-equal to
    // a from-scratch jaccardIndex over the latest text per doc
    val latest = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "six seven eight nine ten"), (3L, "red green blue cyan magenta"))
      .toDF("doc_id", "text")
    assert(rows(spark.read.parquet(state)) ===
      rows(graft.scale.Dedup.jaccardIndex(latest, "doc_id", "text")))
  }

  test("versioned CDC stream: every batch is a time-travelable version") {
    import spark.implicits._
    val b1 = Seq((1L, "a", 1L, "I"), (2L, "b", 1L, "I"))
      .toDF("k", "v", "version", "op")
    val b2 = Seq((2L, "B", 2L, "U"), (1L, "a", 2L, "D"))
      .toDF("k", "v", "version", "op")
    val in = Files.createTempDirectory("graft_vcin").toString
    val root = Files.createTempDirectory("graft_vcrt").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vcck").toString
    b1.coalesce(1).write.parquet(s"$in/b1")
    b2.coalesce(1).write.parquet(s"$in/b2")
    def run(): Unit = {
      val stream = spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = Streaming.applyCdcStreamVersioned(stream, root,
          Seq("k"), "version")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    run()
    def snap(k: Long) = graft.scale.Versioned.readAt(spark, root, k)
      .select("k", "v", "version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(graft.scale.Versioned.versions(spark, root) == Seq(0L, 1L, 2L))
    assert(snap(0L) == Set.empty, "version 0 must be the empty table")
    assert(snap(1L) == Set((1L, "a", 1L), (2L, "b", 1L)))
    assert(snap(2L) == Set((2L, "B", 2L)))
    // re-running with the SAME checkpoint re-delivers nothing and commits
    // nothing — the manifest log is the ledger
    run()
    assert(graft.scale.Versioned.versions(spark, root) == Seq(0L, 1L, 2L))
    assert(snap(2L) == Set((2L, "B", 2L)))
    // and the streamed history composes with rollback like any versioned
    // table: branch back to version 1
    assert(graft.scale.Versioned.rollback(spark, root, 1L) == 3L)
    assert(snap(3L) == snap(1L))
  }

  test("versioned CDC stream: interleaved compaction never drops a batch") {
    import spark.implicits._
    val b1 = Seq((1L, "a", 1L, "I"), (2L, "b", 1L, "I"))
      .toDF("k", "v", "version", "op")
    val b2 = Seq((2L, "B", 2L, "U"), (3L, "c", 2L, "I"))
      .toDF("k", "v", "version", "op")
    val in = Files.createTempDirectory("graft_vcin2").toString
    val root = Files.createTempDirectory("graft_vcrt2").toString + "/t"
    val ckpt = Files.createTempDirectory("graft_vcck2").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = Streaming.applyCdcStreamVersioned(stream, root,
          Seq("k"), "version")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    }
    b1.coalesce(1).write.parquet(s"$in/b1")
    run() // v0 init + v1 = batch 0
    assert(graft.scale.Versioned.versions(spark, root) == Seq(0L, 1L))
    // a maintenance commit takes version 2 BETWEEN batches
    assert(graft.scale.Versioned.commitCompaction(spark, root,
      targetFileBytes = 1L << 30) == 2L)
    // batch 1 arrives on the SAME checkpoint: it must commit as v3 —
    // under version-number dedup it would be mistaken for re-delivered
    // (v2 exists) and silently dropped
    b2.coalesce(1).write.parquet(s"$in/b2")
    run()
    assert(graft.scale.Versioned.versions(spark, root) ==
      Seq(0L, 1L, 2L, 3L))
    val latest = graft.scale.Versioned.readLatest(spark, root)
      .select("k", "v", "version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(latest == Set((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 2L)),
      latest.toString)
    // the ledger: batch tags on the stream's commits, none on maintenance
    assert(graft.scale.Versioned.manifestMeta(spark, root, 1L) ==
      Seq("batch:0"))
    assert(graft.scale.Versioned.manifestMeta(spark, root, 2L).isEmpty)
    assert(graft.scale.Versioned.manifestMeta(spark, root, 3L) ==
      Seq("batch:1"))
    // and a re-run commits nothing
    run()
    assert(graft.scale.Versioned.versions(spark, root) ==
      Seq(0L, 1L, 2L, 3L))
  }

  test("streaming posting-store maintenance converges to a from-scratch build") {
    import spark.implicits._
    val d1 = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"))
      .toDF("doc_id", "text")
    // doc 2 re-ingested with new text (its OLD shingles' postings must
    // vanish from every bucket), doc 3 brand new
    val d2 = Seq((2L, "six seven eight nine ten"),
      (3L, "red green blue cyan magenta"))
      .toDF("doc_id", "text")
    val in = Files.createTempDirectory("graft_psin").toString
    val state = Files.createTempDirectory("graft_psst").toString + "/store"
    val ckpt = Files.createTempDirectory("graft_psck").toString
    d1.coalesce(1).write.parquet(s"$in/b1")
    d2.coalesce(1).write.parquet(s"$in/b2")
    val stream = spark.readStream.schema(d1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val q = Streaming.maintainContainmentPostingStore(stream, state,
        "doc_id", "text", shingleSize = 2, buckets = 16)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val latest = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "six seven eight nine ten"), (3L, "red green blue cyan magenta"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).sorted
    assert(rows(spark.read.parquet(state)) === rows(
      graft.scale.Dedup.containmentPostingStore(
        graft.scale.Dedup.jaccardIndex(latest, "doc_id", "text",
          shingleSize = 2), buckets = 16)))
    // serve equivalence: the folded snapshot answers containment queries
    // exactly like a from-scratch store
    val batch = Seq((10L, "six seven eight nine"),
      (11L, "totally unrelated words")).toDF("doc_id", "text")
    def served(store: org.apache.spark.sql.DataFrame) =
      graft.scale.Dedup.containmentAgainstPostingStore(store, batch,
          "doc_id", "text", shingleSize = 2, threshold = 0.5, buckets = 16)
        .orderBy("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
    val viaFold = served(spark.read.parquet(state))
    assert(viaFold === served(graft.scale.Dedup.containmentPostingStore(
      graft.scale.Dedup.jaccardIndex(latest, "doc_id", "text",
        shingleSize = 2), buckets = 16)))
    assert(viaFold.exists(p => p._1 == 10L && p._2 == 2L),
      s"quote of the RE-INGESTED doc 2 text must hit: $viaFold")
  }

  test("streaming BM25-index maintenance converges to a from-scratch build") {
    import spark.implicits._
    val d1 = Seq((1L, "alpha beta alpha gamma"),
      (2L, "one two three two two"))
      .toDF("doc_id", "text")
    // doc 2 re-ingested with CHANGED TERM FREQUENCIES and a dropped term
    // ('three' gone — its stale posting must vanish, not linger), doc 3
    // brand new, doc 4 empty (doclens row only, still counts in N/avgdl)
    val d2 = Seq((2L, "one one two"), (3L, "alpha red green"), (4L, ""))
      .toDF("doc_id", "text")
    val in = Files.createTempDirectory("graft_bmin").toString
    val state = Files.createTempDirectory("graft_bmst").toString + "/index"
    val ckpt = Files.createTempDirectory("graft_bmck").toString
    d1.coalesce(1).write.parquet(s"$in/b1")
    d2.coalesce(1).write.parquet(s"$in/b2")
    val stream = spark.readStream.schema(d1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val q = Streaming.maintainBm25Index(stream, state, "doc_id", "text")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val latest = Seq((1L, "alpha beta alpha gamma"), (2L, "one one two"),
      (3L, "alpha red green"), (4L, "")).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq
        .map(r => (r.getLong(0), Option(r.getString(1)),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).sorted
    assert(rows(spark.read.parquet(state)) === rows(
      graft.scale.Retrieval.bm25Index(latest, "doc_id", "text")))
    // the stale 'three' posting is gone and doc 2's tfs are the NEW ones
    val post = spark.read.parquet(state)
      .where(col("doc_id") === 2L && col("term").isNotNull)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(post === Map("one" -> 2L, "two" -> 1L), post.toString)
    // serve equivalence: the folded snapshot answers as a fresh build
    val qs = Seq((1L, Seq("alpha", "two")))
    def served(index: org.apache.spark.sql.DataFrame) =
      graft.scale.Retrieval.bm25AgainstIndex(spark, index, qs, k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSeq
    assert(served(spark.read.parquet(state)) === served(
      graft.scale.Retrieval.bm25Index(latest, "doc_id", "text")))
  }

  test("streaming HLL-sketch maintenance converges to a from-scratch sketch") {
    import spark.implicits._
    def hashed(vals: Seq[(String, Long)]) =
      vals.toDF("g", "v").select(col("g"),
        explode(graft.scale.Dedup.portableTokenHashes(
          array(concat(lit("w"), (col("v") * 2654435761L).cast("string")))))
          .as("h"))
    val b1 = (0L until 400L).map(i => (s"s${i % 2}", i))
    // batch 2 overlaps batch 1 (re-delivery of 100 values) + new values
    val b2 = (300L until 700L).map(i => (s"s${i % 2}", i))
    val in = Files.createTempDirectory("graft_hllin").toString
    val state = Files.createTempDirectory("graft_hllst").toString + "/sk"
    val ckpt = Files.createTempDirectory("graft_hllck").toString
    hashed(b1).coalesce(1).write.parquet(s"$in/b1")
    hashed(b2).coalesce(1).write.parquet(s"$in/b2")
    val stream = spark.readStream.schema(hashed(b1).schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val q = Streaming.maintainHllSketches(stream, state, "g", "h")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g").collect().toSeq
        .map(r => (r.getString(0), r.getSeq[Int](1)))
    assert(regs(spark.read.parquet(state)) ===
      regs(graft.scale.Sketches.hllSketch(
        hashed((b1 ++ b2).distinct), "g", "h")))
  }

  test("streaming CMS and histogram sketch folds converge to from-scratch builds") {
    import spark.implicits._
    // additive merges: batches are DISJOINT deliveries (exactly-once is
    // the foldSnapshotStream contract; overlap-absorption is HLL's story)
    def hashed(vals: Seq[(String, Long)]) =
      vals.toDF("g", "v").select(col("g"),
        explode(graft.scale.Dedup.portableTokenHashes(
          array(concat(lit("t"), (col("v") % 37L).cast("string")))))
          .as("h"))
    val b1 = (0L until 500L).map(i => (s"s${i % 2}", i))
    val b2 = (500L until 900L).map(i => (s"s${i % 2}", i))
    // CMS fold
    locally {
      val in = Files.createTempDirectory("graft_cmsin").toString
      val state = Files.createTempDirectory("graft_cmsst").toString + "/sk"
      val ckpt = Files.createTempDirectory("graft_cmsck").toString
      hashed(b1).coalesce(1).write.parquet(s"$in/b1")
      hashed(b2).coalesce(1).write.parquet(s"$in/b2")
      val stream = spark.readStream.schema(hashed(b1).schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = Streaming.maintainCmsSketches(stream, state, "g", "h")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.exception.isEmpty, s"cms stream failed: ${q.exception}")
      def cs(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("g").collect().toSeq
          .map(r => (r.getString(0), r.getSeq[Long](1)))
      assert(cs(spark.read.parquet(state)) ===
        cs(graft.scale.Sketches.cmsSketch(hashed(b1 ++ b2), "g", "h")))
    }
    // histogram fold
    locally {
      val units = (vals: Seq[(String, Long)]) =>
        vals.map { case (g, v) => (g, v % 1200L) }.toDF("g", "u")
      val in = Files.createTempDirectory("graft_histin").toString
      val state = Files.createTempDirectory("graft_histst").toString + "/sk"
      val ckpt = Files.createTempDirectory("graft_histck").toString
      units(b1).coalesce(1).write.parquet(s"$in/b1")
      units(b2).coalesce(1).write.parquet(s"$in/b2")
      val stream = spark.readStream.schema(units(b1).schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(in)
      val q = Streaming.maintainHistSketches(stream, state, "g", "u",
          0L, 1000L, 50)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      assert(q.exception.isEmpty, s"hist stream failed: ${q.exception}")
      def cs(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("g").collect().toSeq
          .map(r => (r.getString(0), r.getSeq[Long](1)))
      assert(cs(spark.read.parquet(state)) ===
        cs(graft.scale.Sketches.histSketch(units(b1 ++ b2), "g", "u",
          0L, 1000L, 50)))
    }
  }

  test("resample+ffill stream converges to the batch twin (q115)") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(minutes: Int) = new java.sql.Timestamp(base + minutes * 60000L)
    // key 1: two events in the 10h bucket, a gap at 11h, a real 12h
    // bucket; key 2: single bucket. values exercise the cents + 6dp path
    val real = Seq(
      Streaming.ResampleInput(1L, ts(5), 1.0),
      Streaming.ResampleInput(1L, ts(20), 2.345),
      Streaming.ResampleInput(1L, ts(150), 3.0),
      Streaming.ResampleInput(2L, ts(40), 4.125))
    // sentinel key: the first pushes the POST-batch-1 watermark past
    // every real bucket end; the second exists to run a batch 2 in which
    // the armed event-time timeouts fire and finalize the real buckets
    val s1 = Streaming.ResampleInput(999L, ts(600), 0.0)
    val s2 = Streaming.ResampleInput(999L, ts(630), 0.0)
    val dir = Files.createTempDirectory("graft_rsmp").toString
    (real :+ s1).toDS().coalesce(1).write.parquet(s"$dir/b1")
    Seq(s2).toDS().coalesce(1).write.parquet(s"$dir/b2")
    val stream = spark.readStream.schema(real.toDS().schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(dir)
      .as[Streaming.ResampleInput]
    val q = Streaming.resampleFfillStream(stream).writeStream
      .format("memory").queryName("rsmp").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val got = spark.table("rsmp").as[Streaming.ResampleOut].collect()
      .filter(_.key != 999L)
      .map(r => (r.key, r.bucket.getTime, r.value_ffill, r.is_gap)).toSet
    val want = graft.scale.TimeSeries
      .resampleFfill(real.toDF("key", "ts", "value"), "ts", "key", "value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getDouble(2),
        r.getBoolean(3))).toSet
    assert(want.exists(_._4), "fixture must contain a gap bucket")
    assert(got === want)
  }

  test("bounded EWMA stream converges to the batch twin (q120)") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-02-01 09:00:00").getTime
    def ts(minutes: Int) = new java.sql.Timestamp(base + minutes * 60000L)
    // 10 in-order events per key across TWO files: the second file's
    // rows must fold onto state carried from the first (window = 4 keeps
    // three prior values alive across the batch boundary)
    val all = (0 until 10).flatMap { i =>
      Seq(Streaming.EwmaInput(i * 2L, 1L, ts(i * 5), 1.0 + i * 0.37),
        Streaming.EwmaInput(i * 2L + 1L, 2L, ts(i * 5), 9.0 - i * 0.81))
    }
    val (first, second) = all.partition(e => e.event_id < 10L)
    val dir = Files.createTempDirectory("graft_ewma").toString
    first.toDS().coalesce(1).write.parquet(s"$dir/b1")
    second.toDS().coalesce(1).write.parquet(s"$dir/b2")
    val stream = spark.readStream.schema(first.toDS().schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(dir)
      .as[Streaming.EwmaInput]
    val q = Streaming.ewmaBoundedStream(stream, alpha = 0.5, window = 4)
      .writeStream.format("memory").queryName("ewmastream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    val got = spark.table("ewmastream").as[Streaming.EwmaOut].collect()
      .map(r => r.event_id -> r.ewma).toMap
    val want = graft.scale.TimeSeries
      .ewmaBounded(all.toDF("event_id", "key", "ts", "value"),
        "key", Seq("ts", "event_id"), "value", alpha = 0.5, window = 4)
      .select(col("event_id"), col("ewma"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 20)
    assert(got === want)
  }

  test("CUSUM and rolling z-score streams converge to their batch twins (q153/q154)") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-03-01 08:00:00").getTime
    def ts(minutes: Int) = new java.sql.Timestamp(base + minutes * 60000L)
    // key 1 carries a level shift at i = 12; key 2 has a spike at i = 15;
    // batch boundary at event 10 forces state carry-over for both twins
    val all = (0 until 24).flatMap { i =>
      Seq(Streaming.CusumInput(i * 2L, 1L, ts(i),
          if (i < 12) 10.0 else 10.6),
        Streaming.CusumInput(i * 2L + 1L, 2L, ts(i),
          if (i == 15) 9.0 else 1.0 + 0.01 * (i % 2)))
    }
    val (first, second) = all.partition(_.event_id < 20L)
    val dir = Files.createTempDirectory("graft_cusum").toString
    first.toDS().coalesce(1).write.parquet(s"$dir/b1")
    second.toDS().coalesce(1).write.parquet(s"$dir/b2")
    def stream = spark.readStream.schema(first.toDS().schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(dir)
      .as[Streaming.CusumInput]
    val batchDf = all.toDF("event_id", "key", "ts", "value")
    // CUSUM
    val qc = Streaming.cusumStream(stream, targetUnits = 1000L,
        slackUnits = 20L, thresholdUnits = 200L)
      .writeStream.format("memory").queryName("cusumstream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    qc.awaitTermination()
    assert(qc.exception.isEmpty, s"cusum stream failed: ${qc.exception}")
    val gotC = spark.table("cusumstream").as[Streaming.CusumOut].collect()
      .map(r => r.event_id -> ((r.units, r.s_units, r.alarm))).toMap
    val wantC = graft.scale.TimeSeries
      .cusumChangepoints(batchDf.where(col("key") === 1L), "key",
        Seq("ts", "event_id"), "value", 1000L, 20L, 200L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    wantC.foreach { case (id, v) => assert(gotC(id) == v, s"cusum id=$id") }
    assert(gotC.size == 48)
    assert(gotC.values.exists(_._3), "shift must alarm")
    // rolling z-score
    val qz = Streaming.rollingZscoreStream(stream, window = 8, z = 3)
      .writeStream.format("memory").queryName("zstream")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    qz.awaitTermination()
    assert(qz.exception.isEmpty, s"zscore stream failed: ${qz.exception}")
    val gotZ = spark.table("zstream").as[Streaming.ZscoreOut].collect()
      .map(r => r.event_id -> ((r.units, r.lhs, r.rhs, r.anomaly))).toMap
    val wantZ = graft.scale.TimeSeries
      .rollingZscoreAnomalies(batchDf, "key", Seq("ts", "event_id"),
        "value", window = 8, z = 3)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5), r.getLong(6),
        r.getBoolean(7)))).toMap
    assert(gotZ === wantZ)
    assert(gotZ.values.exists(_._4), "spike must flag")
  }

  test("streaming score-contingency fold answers the exact batch AUC") {
    import spark.implicits._
    val rnd = new scala.util.Random(183)
    def scores(ids: Range) = ids.map { i =>
      val u = rnd.nextInt(100).toLong
      (s"m${i % 2}", u, if (rnd.nextInt(100) < u) 1L else 0L)
    }
    val b1 = scores(0 until 400)
    val b2 = scores(400 until 700) // disjoint delivery (additive contract)
    val in = Files.createTempDirectory("graft_aucin").toString
    val state = Files.createTempDirectory("graft_aucst").toString + "/ct"
    val ckpt = Files.createTempDirectory("graft_aucck").toString
    b1.toDF("g", "u", "y").coalesce(1).write.parquet(s"$in/b1")
    b2.toDF("g", "u", "y").coalesce(1).write.parquet(s"$in/b2")
    val stream = spark.readStream.schema(b1.toDF("g", "u", "y").schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    val q = Streaming.maintainScoreContingency(stream, state, "g", "u", "y")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.exception.isEmpty, s"stream failed: ${q.exception}")
    def aucRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("group").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3)))
    val fromState = graft.scale.Eval.binaryAucFromContingency(
      spark.read.parquet(state))
    val fromBatch = graft.scale.Eval.binaryAuc(
      (b1 ++ b2).toDF("g", "u", "y"), col("g"), col("u"), col("y"))
    assert(aucRows(fromState) === aucRows(fromBatch))
    // the SAME persisted contingency finalizes to the batch lift table
    // too — gains/lift are streamable with zero extra state
    def liftRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("group", "bucket").collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    assert(liftRows(graft.scale.Eval.liftTableFromContingency(
        spark.read.parquet(state))) ===
      liftRows(graft.scale.Eval.liftTable((b1 ++ b2).toDF("g", "u", "y"),
        col("g"), col("u"), col("y"))))
    // ... and so do PSI and the conformal threshold: four monitoring
    // views, one maintained state table
    val all = (b1 ++ b2).toDF("g", "u", "y")
    assert(graft.scale.Eval.psiVsGlobalFromContingency(
        spark.read.parquet(state)).orderBy("group").collect().toSeq ===
      graft.scale.Eval.psiVsGlobal(all, col("g"), col("u"))
        .orderBy("group").collect().toSeq)
    assert(graft.scale.Eval.conformalThresholdFromContingency(
        spark.read.parquet(state)).orderBy("group").collect().toSeq ===
      graft.scale.Eval.conformalThreshold(all, col("g"), col("u"))
        .orderBy("group").collect().toSeq)
  }

  test("stateful sessionizer splits on gap and aggregates in order") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ts(minutes: Int) = new java.sql.Timestamp(base + minutes * 60000L)
    val events = Seq(
      Streaming.SessionInput(1L, ts(0), 1.0),
      Streaming.SessionInput(1L, ts(10), 2.0),
      Streaming.SessionInput(1L, ts(50), 3.0),   // 40 min gap -> new session
      Streaming.SessionInput(2L, ts(0), 5.0)).toDS()
    val dir = Files.createTempDirectory("graft_sess").toString
    events.write.parquet(s"$dir/data")
    val stream = spark.readStream.schema(events.schema).parquet(s"$dir/data")
      .as[Streaming.SessionInput]
    // AvailableNow: drain the bounded input then stop — processing-time
    // timeouts would otherwise keep firing empty micro-batches forever.
    val q = Streaming.sessionize(stream).writeStream
      .format("memory").queryName("sessions").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // sessions closed by the 40-min in-batch gap are emitted immediately;
    // the trailing open sessions are held in state awaiting timeout.
    val got = spark.table("sessions").as[Streaming.SessionOut].collect()
    assert(got.length == 1)
    assert(got.head.user_id == 1L && got.head.n_events == 2 &&
      got.head.total_value == 3.0)
  }
}
