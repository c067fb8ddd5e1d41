package graft.scale

import graft.SparkSpec
import graft.functions.AcAutomaton
import org.apache.spark.sql.functions._

/** Blocklist (Aho–Corasick) and URL-canonicalization kernels on crafted
  * fixtures: the automaton property-tested against a naive overlapping
  * substring counter, the canonicalizer against pinned RFC 3986 §6 cases
  * plus the idempotence contract, registered-domain extraction against
  * the longest-suffix / default-rule / IP edge cases.
  */
class UrlsBlocklistSpec extends SparkSpec {

  import spark.implicits._

  /** Reference: overlapping occurrence count of each pattern — count of
    * start positions i with s[i, i+|p|) == p. Exactly the semantics the
    * automaton's dictionary-suffix links must reproduce.
    */
  private def naiveCounts(s: String, pats: Seq[String]): Seq[Long] =
    pats.map { p =>
      (0 to s.length - p.length).count(i => s.regionMatches(i, p, 0, p.length)).toLong
    }

  test("aho-corasick: counts match the naive reference on adversarial random strings") {
    // patterns nested in patterns, shared prefixes/suffixes, overlaps —
    // the cases where fail/dict link construction goes wrong first
    val pats = Seq("a", "b", "aa", "ab", "aba", "bab", "aab", "abab", "babab")
    val auto = new AcAutomaton(pats.toArray)
    val rnd = new scala.util.Random(13L)
    for (trial <- 0 until 300) {
      val s = (0 until rnd.nextInt(40)).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString
      assert(auto.counts(s).toSeq == naiveCounts(s, pats),
        s"trial $trial input '$s'")
      assert(auto.total(s) == naiveCounts(s, pats).sum, s"total, input '$s'")
    }
    // empty text, no matches
    assert(auto.counts("").toSeq == Seq.fill(pats.length)(0L))
    // non-BMP pattern matches as a char sequence
    val emoji = new AcAutomaton(Array("a😀b"))
    assert(emoji.counts("xa😀bya😀b").toSeq == Seq(2L))
  }

  test("blocklistCounts/blocklistFilter: per-pattern attribution, case fold, gate") {
    val docs = Seq(
      (1L, "Spam SPAM ham"),          // 'spam' x2 under case folding
      (2L, "clean text only"),
      (3L, "hamham")                  // overlapping-source: 'ham' x2, 'amha' x1
    ).toDF("doc_id", "text")
    val pats = Seq("spam", "ham", "amha")
    val counts = Curation.blocklistCounts(docs, "doc_id", "text", pats)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(counts == Set((1L, "spam", 2L), (1L, "ham", 1L),
      (3L, "ham", 2L), (3L, "amha", 1L)))
    val kept = Curation.blocklistFilter(docs, "text", pats)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L))
    // maxHits loosens the gate without changing attribution: doc 1 has
    // exactly 3 total hits (spam x2 + ham x1), doc 3 too (ham x2 + amha)
    val loose = Curation.blocklistFilter(docs, "text", pats, maxHits = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(loose == Set(1L, 2L, 3L))
    val mid = Curation.blocklistFilter(docs, "text", pats, maxHits = 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mid == Set(2L))
  }

  test("blocklistScrub: leftmost-longest semantics match a longest-first regex replace") {
    val pats = Seq("a", "aa", "ab", "aba", "bab", "b a")
    // reference: java regex global replace over the longest-first
    // alternation of the quoted literals — the same construction the
    // q212 oracle uses in DuckDB (both engines pick the first
    // alternative matching at the leftmost position)
    val alt = pats.sortBy(-_.length)
      .map(java.util.regex.Pattern.quote).mkString("|")
    def ref(s: String): (String, Long) = {
      val m = java.util.regex.Pattern.compile(alt).matcher(s)
      var n = 0L
      val sb = new StringBuffer
      while (m.find()) { n += 1; m.appendReplacement(sb, "<X>") }
      m.appendTail(sb)
      (sb.toString, n)
    }
    val rnd = new scala.util.Random(211L)
    val inputs = (0 until 200).map(_ =>
      (0 until rnd.nextInt(30)).map(_ =>
        "ab "(rnd.nextInt(3))).mkString) :+ "" :+ "ababab" :+ "b ab a"
    val docs = inputs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = Curation.blocklistScrub(docs, "doc_id", "text", pats, "<X>")
      .collect().map(r => r.getLong(0) -> ((r.getString(2), r.getLong(1))))
      .toMap
    inputs.zipWithIndex.foreach { case (t, i) =>
      assert(got(i.toLong) == ref(t), s"input '$t'")
    }
  }

  test("stripBoilerplate: footer stripped, threshold line split, prose kept") {
    val docs = Seq(
      // group g1: 4 docs; footer in all 4 (1000‰), nav in 2 (500‰ ≥ 400),
      // promo in 1 (250‰ < 400 → kept)
      (1L, "g1", "alpha one. all rights reserved. home about"),
      (2L, "g1", "beta two. all rights reserved. home about. special offer"),
      (3L, "g1", "gamma three. all rights reserved"),
      (4L, "g1", "delta four. all rights reserved"),
      // group g2: 2 docs; 'all rights reserved' here too but per-GROUP
      // counting keeps groups independent (2/2 = 1000‰ → stripped);
      // 'home about' appears once (500‰ but nd=1 < minDocs → kept)
      (5L, "g2", "epsilon five. all rights reserved. home about"),
      (6L, "g2", "zeta six. all rights reserved")
    ).toDF("doc_id", "grp", "text")
    val out = Curation.stripBoilerplate(docs, "doc_id", "text", "grp",
      minDocs = 2, minPermille = 400)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((3L, 1L, "alpha one")))
    assert(out(2L) == ((4L, 2L, "beta two special offer")))
    assert(out(3L) == ((2L, 1L, "gamma three")))
    assert(out(4L) == ((2L, 1L, "delta four")))
    assert(out(5L) == ((3L, 2L, "epsilon five home about")))
    assert(out(6L) == ((2L, 1L, "zeta six")))
  }

  private def canon(urls: Seq[String]): Seq[(String, Option[String], Option[String])] =
    Urls.canonicalize(urls.zipWithIndex.map { case (u, i) => (i, u) }
        .toDF("id", "url"), "url")
      .orderBy("id")
      .select("canonical", "host", "registered_domain")
      .collect().toSeq
      .map(r => (r.getString(0), Option(r.getString(1)), Option(r.getString(2))))

  test("url canonicalization: pinned RFC 3986 cases") {
    val out = canon(Seq(
      "HTTP://WWW.Example.COM:80/Path/To#frag",      // case, default port, fragment
      "https://example.com:0443/a",                  // leading-zero default port
      "http://example.com:8080/a?b=%41%7e%2f",       // decode A ~, keep %2F upper
      "https://user:P@ss@example.com./x",            // userinfo verbatim, trailing dot
      "http://example.com",                          // empty path
      "http://[2001:DB8::1]:80/x",                   // IPv6 literal, default port
      "ftp://Example.org:21/f",
      "http://example.com/%zz%4",                    // malformed escapes pass through
      "mailto:Someone@Example.com#x"                 // non-hierarchical
    ))
    assert(out(0) == (("http://www.example.com/Path/To", Some("www.example.com"), Some("example.com"))))
    assert(out(1) == (("https://example.com/a", Some("example.com"), Some("example.com"))))
    assert(out(2) == (("http://example.com:8080/a?b=A~%2F", Some("example.com"), Some("example.com"))))
    assert(out(3) == (("https://user:P@ss@example.com/x", Some("example.com"), Some("example.com"))))
    assert(out(4) == (("http://example.com/", Some("example.com"), Some("example.com"))))
    assert(out(5) == (("http://[2001:db8::1]/x", Some("[2001:db8::1]"), None)))
    assert(out(6) == (("ftp://example.org/f", Some("example.org"), Some("example.org"))))
    assert(out(7) == (("http://example.com/%zz%4", Some("example.com"), Some("example.com"))))
    assert(out(8) == (("mailto:Someone@Example.com", None, None)))
  }

  test("url canonicalization is idempotent") {
    val messy = Seq(
      "HTTP://A.B.COM:80/x%41y?q=%7e#f", "https://Example.com",
      "http://h.org:8080/%2Fa%2f", "weird stuff no scheme %4a",
      "https://u@H.NET:443/p/q?r=s&t=%55")
    val once = canon(messy).map(_._1)
    val twice = canon(once).map(_._1)
    assert(once == twice, s"not idempotent: $once vs $twice")
  }

  test("registered domain: longest suffix wins, default rule, suffix-only host") {
    val out = canon(Seq(
      "http://a.b.site.ac.uk/",   // ac.uk beats uk → site.ac.uk
      "http://site.uk/",          // plain uk → site.uk
      "http://ac.uk/",            // host IS a public suffix → null
      "http://host.unknowntld/",  // default "*" rule → host.unknowntld
      "http://192.168.0.1/",      // IPv4 → itself
      "http://single/"            // one label, not a known suffix → null
    ))
    assert(out(0)._3.contains("site.ac.uk"))
    assert(out(1)._3.contains("site.uk"))
    assert(out(2)._3.isEmpty)
    assert(out(3)._3.contains("host.unknowntld"))
    assert(out(4)._3.contains("192.168.0.1"))
    assert(out(5)._3.isEmpty)
  }

  test("perplexityTercileGate: rank terciles per language, null-score keep=false") {
    // lang A: 6 scoreable docs -> terciles 0,0,1,1,2,2 by nll order;
    // lang B: 1 scoreable + 1 unscoreable (single token -> null nll)
    val rep = (w: String, n: Int) => Seq.fill(n)(w).mkString(" ")
    val docs = Seq(
      // common bigrams -> low nll; rare chains -> high nll
      (1L, "A", rep("x", 20)),          // x->x dominates: least surprising
      (2L, "A", rep("x", 15)),
      (3L, "A", rep("x", 10) + " y " + rep("x", 5)),
      (4L, "A", "x y x y x y"),
      (5L, "A", "p q r s t u v w"),     // all-singleton bigrams
      (6L, "A", "m n o k l j i h"),
      (7L, "B", "x y z"),
      (8L, "B", "solo")                 // 1 token -> null nll
    ).toDF("doc_id", "lang", "text")
    val out = Curation.perplexityTercileGate(docs, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(4)) -1L else r.getLong(4)), r.getBoolean(5))).toMap
    assert(out.size == 8, "no doc dropped")
    // lang A: exactly two docs per tercile, keep = tercile < 2
    val aT = (1L to 6L).map(out(_)._1).sorted
    assert(aT == Seq(0L, 0L, 1L, 1L, 2L, 2L), s"lang A terciles: $aT")
    (1L to 6L).foreach(id => assert(out(id)._2 == (out(id)._1 < 2)))
    // lang A's heavy-repetition docs rank head, singleton-bigram docs tail
    assert(out(1L)._1 == 0L && out(5L)._1 == 2L && out(6L)._1 == 2L)
    // lang B: single scoreable doc -> tercile 0 kept; null doc dropped
    assert(out(7L) == ((0L, true)))
    assert(out(8L) == ((-1L, false)))
  }

  test("rotated IVF+PQ merge == rotated rebuild over the effective corpus") {
    val rnd = new scala.util.Random(214L)
    val all = (0L until 30L).map(i =>
      (i, Array.fill(8)((rnd.nextInt(200) - 100).toFloat)))
    val corpus = all.filter(_._1 % 3 != 0).toDF("id", "vec")
    // batch: new ids + a re-ingested id 3 with changed content
    val batch = (all.filter(_._1 % 3 == 0) :+
      ((3L, Array.fill(8)(77f)))).toDF("id", "vec")
    val effective = (all.filter(x => x._1 % 3 != 0 && x._1 != 3L) ++
      all.filter(_._1 % 3 == 0) :+ ((3L, Array.fill(8)(77f))))
      .toDF("id", "vec")
    val rot = Opq.trainRotation(corpus, "vec", dim = 8, m = 4)
    val rc = Opq.rotate(corpus, "id", "vec", rot)
    val coarse = Clustering.lloydTrain(rc, "id", "vec", k = 4, iters = 2)
    val cb = Pq.trainCodebooks(rc, "id", "vec", dim = 8, m = 4, k = 4,
      iters = 2)
    val merged = Pq.mergeIvfPqIndex(
      Pq.buildIvfPqIndex(rc, "id", "vec", coarse, cb),
      Opq.rotate(batch, "id", "vec", rot), "id", "vec", coarse, cb)
    val rebuilt = Pq.buildIvfPqIndex(Opq.rotate(effective, "id", "vec", rot),
      "id", "vec", coarse, cb)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
    assert(rows(merged) == rows(rebuilt))
  }

  test("rotated IVF+PQ composed search: recall >= plain on variance-concentrated vectors") {
    // the AnalyticsSpec q205 fixture shape, through the COMPOSED path:
    // all information in dims 0-1, so unrotated subspace (0,1) has k=4
    // cells for 25 points and three dead codebooks; the rotation spreads
    // the grid across subspaces AND the coarse quantizer's input space.
    val pts = for (u <- 0 until 5; v <- 0 until 5) yield (u, v)
    val vecs = pts.zipWithIndex.map { case ((u, v), i) =>
      (i.toLong, Array(u * 100f, v * 100f, 0f, 0f, 0f, 0f, 0f, 0f))
    }.toDF("id", "vec")
    val raw = pts.map { case (u, v) =>
      Array(u * 100.0, v * 100.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0) }
    def exactTopK(q: Array[Double], k: Int): Set[Long] =
      raw.zipWithIndex.map { case (x, i) =>
        (x.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum, i.toLong)
      }.sortBy { case (d2, i) => (d2, i) }.take(k).map(_._2).toSet
    def recallOf(rot: Option[Array[Array[Double]]]): Double = {
      val base = rot.map(r => Opq.rotate(vecs, "id", "vec", r)).getOrElse(vecs)
      val coarse = Clustering.lloydTrain(base, "id", "vec", k = 4, iters = 3)
      val cb = Pq.trainCodebooks(base, "id", "vec", dim = 8, m = 4, k = 4,
        iters = 3)
      val idx = Pq.buildIvfPqIndex(base, "id", "vec", coarse, cb)
      val queries = Seq(0, 6, 12, 18, 24)
      val hits = queries.map { qi =>
        val q = rot.map(Opq.rotateVector(raw(qi), _)).getOrElse(raw(qi))
        val got = Pq.ivfPqTopK(idx, "id", coarse, cb, q, nprobe = 4,
          topK = 5).collect().map(_.getLong(0)).toSet
        (exactTopK(raw(qi), 5) intersect got).size
      }.sum
      hits.toDouble / (queries.size * 5)
    }
    val plain = recallOf(None)
    val had = recallOf(Some(Opq.hadamardRotation(8)))
    val opq = recallOf(Some(Opq.trainRotation(vecs, "vec", dim = 8, m = 4)))
    assert(had >= plain, s"hadamard composed $had < plain $plain")
    assert(opq >= plain, s"opq composed $opq < plain $plain")
    assert(math.max(had, opq) > plain,
      s"rotation must strictly improve composed recall here: plain=$plain had=$had opq=$opq")
  }

  test("url canonicalization: malformed unbracketed IPv6 is not split host:port") {
    // r13 ADVICE: 'http://2001:db8::1/x' used to split at the LAST colon,
    // yielding host '2001:db8:' port '1' — a corrupted host fed to
    // registered-domain grouping. >1 unbracketed colon = whole authority
    // is the host, no port.
    val out = canon(Seq(
      "http://2001:db8::1/x",      // malformed IPv6 literal, no brackets
      "http://host:80:80/x",       // double port-ish garbage
      "http://host:8080/x"         // single colon still splits normally
    ))
    assert(out(0) == (("http://2001:db8::1/x", Some("2001:db8::1"), None)))
    assert(out(1) == (("http://host:80:80/x", Some("host:80:80"), None)))
    assert(out(2)._2.contains("host"))
    assert(out(2)._1 == "http://host:8080/x")
    // and the new form stays idempotent
    val once = canon(Seq("http://2001:db8::1/x")).map(_._1)
    assert(canon(once).map(_._1) == once)
  }

  test("blocklist: uppercase patterns under foldCase fail loudly") {
    // foldCase lowercases the TEXT, so an uppercase pattern can never
    // match — for the gate that silently PASSES pages that should drop
    val docs = Seq((1L, "some spam here")).toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException] {
      Curation.blocklistCounts(docs, "doc_id", "text", Seq("SPAM"))
    }
    assert(e1.getMessage.contains("lowercase"))
    val e2 = intercept[IllegalArgumentException] {
      Curation.blocklistFilter(docs, "text", Seq("Spam"))
    }
    assert(e2.getMessage.contains("lowercase"))
    // foldCase=false keeps case-sensitive patterns legal
    assert(Curation.blocklistFilter(docs, "text", Seq("SPAM"),
      foldCase = false).count() == 1)
  }
}
