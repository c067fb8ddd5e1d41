package graft.scale

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Unit semantics for the round-9 additions: CDC upsert/SCD2, duplicate-span
  * detection, bigram-LM scoring, BPE pair induction, BM25 retrieval.
  */
class CdcRetrievalSpec extends SparkSpec {
  import spark.implicits._

  // ---- Cdc.upsert -------------------------------------------------------

  private def baseDf = Seq(
    (1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L), (4L, "d", 1L))
    .toDF("k", "v", "version")

  test("upsert: update wins, delete removes, insert appears, rest pass") {
    val changes = Seq(
      (1L, "a2", 2L, "U"),  // update key 1
      (3L, "c", 2L, "D"),   // delete key 3
      (9L, "i", 2L, "I"))   // brand-new key 9
      .toDF("k", "v", "version", "op")
    val out = Cdc.upsert(baseDf, changes, Seq("k"), "version")
      .orderBy("k").as[(Long, String, Long)].collect.toSeq
    assert(out === Seq((1L, "a2", 2L), (2L, "b", 1L), (4L, "d", 1L),
      (9L, "i", 2L)))
  }

  test("upsert: batch beats base on version tie; higher version beats both") {
    val changes = Seq(
      (1L, "tie", 1L, "U"),   // same version as base -> batch wins
      (2L, "v2", 2L, "U"),
      (2L, "v3", 3L, "U"))    // two updates for one key -> highest wins
      .toDF("k", "v", "version", "op")
    val out = Cdc.upsert(baseDf, changes, Seq("k"), "version")
      .orderBy("k").as[(Long, String, Long)].collect.toSeq
    assert(out.take(2) === Seq((1L, "tie", 1L), (2L, "v3", 3L)))
  }

  test("upsert: delete at higher version beats a concurrent update") {
    val changes = Seq(
      (1L, "u", 2L, "U"),
      (1L, "u", 3L, "D"))
      .toDF("k", "v", "version", "op")
    val out = Cdc.upsert(baseDf, changes, Seq("k"), "version")
    assert(!out.select("k").as[Long].collect.contains(1L))
  }

  // ---- Cdc.scd2 ---------------------------------------------------------

  test("scd2: validity chain with is_current on the last state") {
    val log = Seq((1L, 10L, "s1"), (1L, 20L, "s2"), (1L, 30L, "s3"),
      (2L, 15L, "x"),
      (1L, 20L, "s2")) // exact duplicate delivery collapses
      .toDF("k", "ts", "state")
    val out = Cdc.scd2(log, Seq("k"), "ts")
      .select($"k", $"valid_from", $"valid_to", $"state", $"is_current")
      .orderBy("k", "valid_from")
      .as[(Long, Long, Option[Long], String, Boolean)].collect.toSeq
    assert(out === Seq(
      (1L, 10L, Some(20L), "s1", false),
      (1L, 20L, Some(30L), "s2", false),
      (1L, 30L, None, "s3", true),
      (2L, 15L, None, "x", true)))
  }

  // ---- Dedup.duplicateSpans --------------------------------------------

  test("duplicateSpans: shared spans and self-repetition are flagged") {
    val shared = "0123456789" * 6 // 60 chars, shared verbatim
    val docs = Seq(
      (1L, shared + "unique tail one zzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),
      (2L, shared + "completely different ending yyyyyyyyyyyyyyyyy"),
      (3L, "no overlap with anything else at all in this doc"),
      (4L, "tiny")) // shorter than gramChars -> one whole-doc gram
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text",
      gramChars = 40, stride = 10)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect.toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // docs 1/2 share the 60-char prefix: grams at starts 1 and 11 lie
    // fully inside it (start+40-1 <= 60) and repeat every 10 chars
    assert(byId(1L)._3 >= 2, s"doc1 should have dup grams: $out")
    assert(byId(2L)._3 >= 2)
    assert(byId(3L)._3 === 0)
    assert(byId(4L) === ((4L, 1L, 0L, 0.0))) // one whole-doc gram, unique
  }

  test("duplicateSpans: identical short docs count as duplicated") {
    val docs = Seq((1L, "same"), (2L, "same")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(docs, "doc_id", "text", 40, 10)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect.toSeq
    assert(out === Seq((1L, 1L, 1L, 1.0), (2L, 1L, 1L, 1.0)))
  }

  // ---- TextOps.bigramNll ------------------------------------------------

  test("bigramNll: add-one arithmetic on a hand-checked corpus") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"))
      .toDF("doc_id", "text")
    val out = TextOps.bigramNll(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Option[Double])].collect.toSeq
    // corpus bigrams: doc1 = [a b, b a, a b], doc2 = [a b, b c]
    // cb: (a b)->3, (b a)->1, (b c)->1 ; cu(w1): a->3, b->2 ; V=4 (a,b,c,x)
    val tAB = -math.log(4.0 / 7.0) // (3+1)/(3+4)
    val tBA = -math.log(2.0 / 6.0) // (1+1)/(2+4)
    val tBC = -math.log(2.0 / 6.0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0)._2 === 3L)
    assert(out(0)._3.get === r6((tAB + tAB + tBA) / 3.0))
    assert(out(1)._2 === 2L)
    assert(out(1)._3.get === r6((tAB + tBC) / 2.0))
    assert(out(2) === ((3L, 0L, None))) // <2 tokens: kept, null score
  }

  // ---- TextOps.bpePairCounts -------------------------------------------

  test("bpePairCounts: frequency-weighted adjacent pairs, ordered cut") {
    val docs = Seq((1L, "abc abc ab"), (2L, "abc x")).toDF("doc_id", "text")
    // wc: abc->3, ab->1, x->1 ; pairs: abc -> [ab, bc] (x3), ab -> [ab]
    // single-char x contributes nothing
    val out = TextOps.bpePairCounts(docs, "text", topN = 10)
      .as[(String, Long)].collect.toSeq
    assert(out === Seq(("ab", 4L), ("bc", 3L)))
  }

  // ---- TextOps.bpeTrain ------------------------------------------------

  test("bpeTrain: learns merges in frequency order with sequential fusion") {
    // corpus: "aab" x3, "ab" x2, "cc" x1
    // round 1 pairs: (a,a)->3, (a,b)->5, (c,c)->1  => learn (a,b)
    // round 2 state: a,ab | ab | c,c: (a,ab)->3, (c,c)->1 => learn (a,ab)
    // round 3 state: aab | ab | c,c: only (c,c)->1 => learn (c,c)
    // round 4: no pairs left anywhere -> early exhaustion
    val docs = Seq((1L, "aab aab aab ab ab cc")).toDF("doc_id", "text")
    val out = TextOps.bpeTrain(docs, "text", numMerges = 10)
      .as[(Long, String, String, Long)].collect.toSeq
    assert(out === Seq((1L, "a", "b", 5L), (2L, "a", "ab", 3L),
      (3L, "c", "c", 1L)))
  }

  test("bpeTrain output drives bpeEncodeWords (train -> apply round trip)") {
    val docs = Seq((1L, "aab aab aab ab ab cc")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(docs, "text", numMerges = 10)
      .as[(Long, String, String, Long)].collect.toSeq
      .map(m => (m._2, m._3))
    val enc = TextOps.bpeEncodeWords(docs, "text", merges)
      .as[(String, String, Long, Long)].collect.toSeq.sortBy(_._1)
    // every word collapses to one token under its own training merges
    assert(enc === Seq(("aab", "aab", 1L, 3L), ("ab", "ab", 1L, 2L),
      ("cc", "cc", 1L, 1L)))
  }

  // ---- Retrieval.bm25TopK ----------------------------------------------

  test("bm25TopK: more matching terms rank higher; k cut; doc_id tiebreak") {
    val docs = Seq(
      (1L, "spark merge window spark"), // all three terms, tf(spark)=2
      (2L, "spark merge filler filler"),
      (3L, "spark filler filler filler"),
      (4L, "nothing relevant here at"),
      (5L, "spark filler filler filler")) // identical to doc 3 -> tie
      .toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(spark, docs, "doc_id", "text",
      Seq(7L -> Seq("spark", "merge", "window")), k = 3)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect.toSeq
    assert(out.map(_._3) === Seq(1L, 2L, 3L)) // doc 3 beats equal-scored 5
    assert(out.map(_._2) === Seq(1L, 2L, 3L))
    assert(out(0)._4 > out(1)._4 && out(1)._4 > out(2)._4)
    // doc 4 matches nothing -> absent even though k allows it
    assert(!out.map(_._3).contains(4L))
  }

  test("bm25 index: against-index == direct; merge == rebuild; re-ingest wins") {
    val corpus = Seq(
      (1L, "spark merge window spark"),
      (2L, "spark merge filler filler"),
      (3L, "window table hash join"),
      (4L, "nothing relevant here at"),
      (5L, "")) // empty doc: must still count in N/avgdl
      .toDF("doc_id", "text")
    val qs = Seq(7L -> Seq("spark", "merge", "window"))
    // 1) serving from a built index reproduces the direct path exactly
    val idx = Retrieval.bm25Index(corpus, "doc_id", "text")
    val direct = Retrieval.bm25TopK(spark, corpus, "doc_id", "text", qs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val served = Retrieval.bm25AgainstIndex(spark, idx, qs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(served === direct)
    // 2) merge == rebuild, including a re-ingest that DROPS a term:
    //    doc 2 loses 'merge' entirely - its old posting must vanish
    val batch = Seq(
      (2L, "spark spark filler filler"),
      (6L, "window window merge")).toDF("doc_id", "text")
    val merged = Retrieval.bm25IndexMerge(idx, batch, "doc_id", "text")
    val effective = Seq(
      (1L, "spark merge window spark"),
      (2L, "spark spark filler filler"),
      (3L, "window table hash join"),
      (4L, "nothing relevant here at"),
      (5L, ""),
      (6L, "window window merge")).toDF("doc_id", "text")
    val rebuilt = Retrieval.bm25Index(effective, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(_.toSeq).toSet
    // the index's two row kinds: doclens rows carry term = NULL
    def doclens(t: org.apache.spark.sql.DataFrame) =
      t.where(col("term").isNull).select(col("doc_id"), col("dl"))
    def postings(t: org.apache.spark.sql.DataFrame) =
      t.where(col("term").isNotNull)
    val (mdl, mp, rdl, rp) =
      (doclens(merged), postings(merged), doclens(rebuilt), postings(rebuilt))
    assert(rows(mdl) === rows(rdl))
    assert(rows(mp) === rows(rp))
    assert(mp.where(col("doc_id") === 2 && col("term") === "merge")
      .count() == 0, "stale posting survived the re-ingest")
  }

  test("maxsim rerank: exact term hits score ~1 each; misses score lower") {
    val docs = Seq(
      (1L, "spark merge window filler filler"), // all 3 terms verbatim
      (2L, "spark spark spark other tokens"),   // only one distinct hit
      (3L, "completely unrelated words here"))
      .toDF("doc_id", "text")
    val qs = Seq(7L -> Seq("spark", "merge", "window"))
    val cand = Seq((7L, 1L), (7L, 2L), (7L, 3L)).toDF("query_id", "doc_id")
    val out = Retrieval.maxSimRerank(spark, docs, "doc_id", "text", qs, cand)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // identical tokens embed identically -> cosine 1 per matched term
    val byDoc = out.map { case (_, id, s) => id -> s }.toMap
    assert(byDoc(1L) > 2.999, s"all-terms doc scored ${byDoc(1L)}")
    assert(byDoc(1L) > byDoc(2L) && byDoc(2L) > byDoc(3L),
      s"order violated: $byDoc")
    assert(out.head._2 == 1L && out.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // doc 2's one exact hit contributes ~1; the other two terms only
    // what random pseudo-embeddings give
    assert(byDoc(2L) >= 1.0 - 1e-6)
  }

  test("bm25TopK: rejects duplicate terms within a query") {
    val docs = Seq((1L, "a b")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(spark, docs, "doc_id", "text",
        Seq(1L -> Seq("a", "a")))
    }
  }

  test("joinViewDelta: stored + delta == full join, multiset-exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(183)
    // duplicate keys on BOTH sides so multiset semantics are exercised
    val a = (1 to 200).map(i => (rnd.nextInt(30).toLong, s"a$i"))
    val b = (1 to 80).map(i => (rnd.nextInt(30).toLong, s"b$i"))
    val (aBase, aDelta) = a.partition(_._2.hashCode % 3 != 0)
    val (bBase, bDelta) = b.partition(_._2.hashCode % 2 != 0)
    def df(s: Seq[(Long, String)], v: String) = s.toDF("k", v)
    val stored = df(aBase, "av").join(df(bBase, "bv"), Seq("k"))
    val delta = Cdc.joinViewDelta(df(aBase, "av"), df(aDelta, "av"),
      df(bBase, "bv"), df(bDelta, "bv"), Seq("k"))
    val got = stored.unionByName(delta).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      .groupBy(identity).map { case (k, v) => k -> v.size }
    val want = (for ((k1, av) <- a; (k2, bv) <- b if k1 == k2)
      yield (k1, av, bv)).groupBy(identity).map { case (k, v) => k -> v.size }
    assert(got == want)
  }
}
