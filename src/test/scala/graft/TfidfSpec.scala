package graft

import graft.dedup.Dedup

class TfidfSpec extends SparkSpecBase {

  test("hand-computed tfidf: common term ranks below rare term") {
    val s = spark
    import s.implicits._
    // 4 docs; "the" in all (idf=0), "cat"/"dog" in one each
    val docs = Seq(
      (1L, "the cat the cat sat"),
      (2L, "the dog ran"),
      (3L, "the bird the bird the bird"),
      (4L, "the fish")).toDF("doc_id", "text")
    val out = graft.text.TextOps.tfidfTopK(docs, "doc_id", "text", k = 2)
      .orderBy("doc_id", "term").collect()
    val d1 = out.filter(_.getLong(0) == 1L).map(r =>
      (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    // doc 1: cat tf=2 df=1 -> 2*ln(4)=2.7726; sat tf=1 df=1 -> 1.3863;
    // "the" (idf=ln(1)=0) must NOT make top-2
    assert(d1.toSeq == Seq(
      ("cat", 2L, 1L, math.rint(2 * math.log(4.0) * 10000) / 10000),
      ("sat", 1L, 1L, math.rint(math.log(4.0) * 10000) / 10000)))
    // "the" (idf=0) only surfaces where a doc has < k nonzero terms
    // (docs 3, 4); where competition exists (docs 1, 2) it never ranks
    assert(!out.exists(r =>
      r.getString(1) == "the" && (r.getLong(0) == 1L || r.getLong(0) == 2L)))
    // every doc contributes at most k rows
    assert(out.groupBy(_.getLong(0)).forall(_._2.length <= 2))
  }

  test("staged form equals the unstaged plan") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha"), (2L, "beta gamma"), (3L, "delta")
    ).toDF("doc_id", "text")
    val a = graft.text.TextOps.tfidfTopK(docs, "doc_id", "text", 2)
      .orderBy("doc_id", "term").collect().toSeq
    val b = graft.text.TextOps.tfidfTopKStaged(docs, "doc_id", "text", 2,
      tmpDir("tfidf-stage") + "/t").orderBy("doc_id", "term").collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("deterministic tie-break on term for equal tfidf") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "b a"), (2L, "z y")).toDF("doc_id", "text")
    val out = graft.text.TextOps.tfidfTopK(docs, "doc_id", "text", k = 1)
      .orderBy("doc_id").collect()
    // all four terms have tf=1, df=1 — rank 1 must be the
    // lexicographically first term of each doc
    assert(out.map(_.getString(1)).toSeq == Seq("a", "y"))
  }

  test("UrlOps: canonicalization edges beyond the oracle families") {
    val s = spark
    import s.implicits._
    import graft.functions.UrlOps
    val urls = Seq(
      "https://u:p@Host.Example.COM:8443/a?gclid=1&x=2&utm_a=3&y=4",
      "http://example.com:8080/keep-port",
      "https://example.com/?utm_only=1",
      "HTTP://EXAMPLE.COM:80",
      "nothing here",
      "https://localhost/x"
    ).toDF("url")
    val out = urls.select(
      UrlOps.canonicalizeUrl($"url").as("c"),
      UrlOps.host($"url").as("h"),
      UrlOps.registrableDomain($"url").as("d")).collect()
    // userinfo kept (canonicalization never drops credentials silently),
    // authority lowercased, non-default port kept, both trackers gone
    assert(out(0).getString(0) == "https://u:p@host.example.com:8443/a?x=2&y=4")
    assert(out(0).getString(1) == "host.example.com")
    assert(out(0).getString(2) == "example.com")
    assert(out(1).getString(0) == "http://example.com:8080/keep-port")
    assert(out(2).getString(0) == "https://example.com/")
    assert(out(3).getString(0) == "http://example.com")
    assert(out(4).getString(0) == "nothing here" && out(4).getString(1) == "")
    assert(out(5).getString(1) == "localhost" && out(5).getString(2) == "")
  }

  test("urlDedup: distinct raw fetches with one canonical form collapse") {
    val s = spark
    import s.implicits._
    import graft.functions.UrlOps
    val fetches = Seq(
      (7L, "https://Example.com/a?utm_source=x"),
      (3L, "HTTPS://example.COM:443/a#frag"),
      (9L, "https://example.com/a"),
      (5L, "https://example.com/b")
    ).toDF("doc_id", "url")
    val out = UrlOps.urlDedup(fetches, "doc_id", "url")
      .orderBy("canon_url").collect()
    assert(out.length == 2)
    assert(out(0).getString(0) == "https://example.com/a")
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 3L)
    assert(out(1).getString(0) == "https://example.com/b")
    assert(out(1).getLong(1) == 5L && out(1).getLong(2) == 1L)
  }

  test("domainFilter: one blocked registrable domain drops every host under it") {
    val s = spark
    import s.implicits._
    import graft.functions.UrlOps
    val rows = Seq(
      (1L, "https://www.spam.com/x"),
      (2L, "https://cdn.spam.com/y"),
      (3L, "https://spam.com.evil.org/z"), // domain is evil.org, NOT spam.com
      (4L, "https://good.co.uk/a"),
      (5L, "https://sub.good.co.uk/b")
    ).toDF("doc_id", "url")
    val block = Seq("spam.com", "good.co.uk").toDF("domain")
    val kept = UrlOps.domainFilter(rows, "url", block)
      .orderBy("doc_id").collect()
    assert(kept.map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("Dsir: target-like docs outscore off-target docs; empty text scores 0") {
    val s = spark
    import s.implicits._
    import graft.text.Dsir
    val raw = Seq(
      (1L, "apple banana apple banana cherry"),
      (2L, "apple banana cherry apple banana"),
      (3L, "xyzzy quux grault xyzzy quux"),
      (4L, "quux grault xyzzy grault quux"),
      (5L, "")
    ).toDF("doc_id", "text")
    val target = raw.where($"doc_id" <= 2)
    val (ratios, default) = Dsir.logRatiosMicro(target, raw, "text", 2)
    val w = Dsir.docLogWeightsMicro(raw, "doc_id", "text", ratios, default, 2)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // DSIR scores are RELATIVE (smoothing over the 256-bucket space
    // shrinks all ratios toward 0 when the corpora are tiny): target-
    // like docs must outscore off-target docs, and off-target docs —
    // whose buckets are raw-only — must land clearly negative
    assert(w(1L) > w(3L) && w(2L) > w(4L))
    assert(w(5L) == 0L)
    assert(w(3L) < 0L && w(4L) < 0L)
  }

  test("Dsir: resample is the deterministic Gumbel top-k, no dupes") {
    val s = spark
    import s.implicits._
    import graft.text.Dsir
    val raw = (0L until 40L).map(i =>
      (i, if (i % 4 == 0) "apple banana cherry" else "xyzzy quux grault"))
      .toDF("doc_id", "text")
    val target = raw.where($"doc_id" % 4 === 0)
    val (ratios, default) = Dsir.logRatiosMicro(target, raw, "text", 2)
    val w = Dsir.docLogWeightsMicro(raw, "doc_id", "text", ratios, default, 2)
    val picked = Dsir.resample(w, "doc_id", 10).collect()
    assert(picked.length == 10)
    assert(picked.map(_.getLong(0)).distinct.length == 10)
    // deterministic seed: a second draw returns identical picks
    val again = Dsir.resample(w, "doc_id", 10).collect()
    assert(picked.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
    // the upweighted minority (10 of 40 docs) should dominate the sample
    val fruity = picked.count(_.getLong(0) % 4 == 0)
    assert(fruity >= 7, s"expected mostly target-like picks, got $fruity/10")
  }

  test("LmScore: rare/OOV-heavy docs score higher perplexity; empty doc 0") {
    val s = spark
    import s.implicits._
    import graft.text.LmScore
    val docs = Seq(
      (1L, "the cat sat on the mat the cat sat again"),
      (2L, "the cat sat on the mat"),
      (3L, "zyxwv qponm lkjih gfedc"), // in vocab (learned on corpus) but rare
      (4L, "")
    ).toDF("doc_id", "text")
    val (model, oov) = LmScore.unigramLmMicro(docs, "text", 512)
    val out = LmScore.docPerplexityMicro(docs, "doc_id", "text", model, oov)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(3L)._3 > out(1L)._3, "rare-word doc must out-perplex common doc")
    assert(out(4L) == ((0L, 0L, 0L)))
    // OOV words (never seen at learn time) cost the most
    val (modelSmall, oovSmall) = LmScore.unigramLmMicro(
      docs.where($"doc_id" <= 2), "text", 512)
    val out2 = LmScore.docPerplexityMicro(docs, "doc_id", "text",
        modelSmall, oovSmall)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(out2(3L) > out2(1L) && out2(3L) > out2(2L))
    // mean NLL identity: nll_micro/n rounds to ppl_micro
    val (n1, s1, p1) = out(1L)
    assert(p1 == math.floor(s1.toDouble / n1 + 0.5).toLong)
  }

  test("substrDupStats: planted shared span flags exactly its windows") {
    val s = spark
    import s.implicits._
    import graft.dedup.Dedup
    val span = "one two three four" // shared 4-word span
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta"),     // 8 words, 5 windows(k=4)
      (2L, s"$span epsilon zeta eta theta"),     // span at the start
      (3L, "iota kappa lambda mu nu xi"),        // no overlap
      (4L, "tiny doc"),                          // < k words -> 0 windows
      (5L, "rep rep rep rep rep rep rep")        // within-doc repetition
    ).toDF("doc_id", "text")
    val out = Dedup.substrDupStats(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // docs 1 and 2 share exactly ONE window: the span itself
    assert(out(1L) == ((5L, 1L, 2000L)))
    assert(out(2L) == ((5L, 1L, 2000L)))
    assert(out(3L) == ((3L, 0L, 0L)))
    assert(out(4L) == ((0L, 0L, 0L)))
    // "rep"x7 with k=4: all 4 windows are the same key -> all duplicated
    assert(out(5L) == ((4L, 4L, 10000L)))
    // portable (md5) and hot-path (xxhash64) forms agree
    val p = Dedup.substrDupStats(docs, "doc_id", "text", k = 4,
      portable = true).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val h = Dedup.substrDupStats(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(p.toSeq == h.toSeq)
  }

  test("DsirBuckets native kernel equals the declarative formulation") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val b = 64
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "single",
      "",
      "   leading and   multi  spaces\ttabs\nnewlines  ",
      "ünïcödé wörds ALSO Mixed CASE",
      "a b", "x"
    ) ++ (0 until 50).map(i => s"doc $i body word$i tail common words here")
    val df = texts.toDF("text")
    val ws = filter(split(lower($"text"), "\\s+"), w => w =!= lit(""))
    val declUni = transform(ws, w => pmod(xxhash64(w), lit(b.toLong)).cast("int"))
    val declBi = when(size(ws) >= 2,
      transform(sequence(lit(0), size(ws) - 2),
        i => pmod(xxhash64(concat_ws(" ", slice(ws, i + 1, lit(2)))),
          lit(b.toLong)).cast("int")))
      .otherwise(array().cast("array<int>"))
    val rows = df.select(
      graft.text.Dsir.featuresFast($"text", b).as("fast"),
      concat(declUni, declBi).as("decl")).collect()
    rows.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1),
        s"mismatch for text: '$t'")
    }
  }

  test("Dsir fast path: same ordering properties as the portable form") {
    val s = spark
    import s.implicits._
    import graft.text.Dsir
    val raw = Seq(
      (1L, "apple banana apple banana cherry", "en"),
      (2L, "apple banana cherry apple banana", "en"),
      (3L, "xyzzy quux grault xyzzy quux", "xx"),
      (4L, "quux grault xyzzy grault quux", "xx"),
      (5L, "", "xx")
    ).toDF("doc_id", "text", "lang")
    val w = Dsir.dsirWeightsFast(raw, "doc_id", "text", $"lang" === "en", 256)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w(1L) > w(3L) && w(2L) > w(4L))
    assert(w(5L) == 0L)
    assert(w(3L) < 0L && w(4L) < 0L)
  }

  test("substrDedupTrim: keep-first trims later occurrences only") {
    val s = spark
    import s.implicits._
    import graft.dedup.Dedup
    val span = "one two three four"
    val docs = Seq(
      (1L, s"alpha beta $span gamma delta"),
      (2L, s"$span epsilon zeta eta theta"),
      (3L, "iota kappa lambda mu"),
      (5L, "rep rep rep rep rep rep rep")
    ).toDF("doc_id", "text")
    val out = Dedup.substrDedupTrim(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getAs[String]("text_dedup")).toMap
    // doc 1 (lowest id) keeps its copy of the span; doc 2 loses it
    assert(out(1L) == s"alpha beta $span gamma delta")
    assert(out(2L) == "epsilon zeta eta theta")
    assert(out(3L) == "iota kappa lambda mu")
    // self-repetition: first window kept, overlapping later ones trimmed
    assert(out(5L) == "rep")
    // the map-side production kernel and the oracle-replayed portable
    // form trim identically (r7: the non-portable path groups windows
    // per doc in one kernel pass instead of the explode + exchange)
    val messy = docs.union(Seq(
      (6L, s"  $span\t$span   $span "), // repeated span, messy whitespace
      (7L, "")).toDF("doc_id", "text"))
    val p = Dedup.substrDedupTrim(messy, "doc_id", "text", k = 4,
      portable = true).select("doc_id", "text_dedup")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    val h = Dedup.substrDedupTrim(messy, "doc_id", "text", k = 4)
      .select("doc_id", "text_dedup")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(p.toSeq == h.toSeq)
    // withCounts derivation (r7): n_before/n_after must equal the
    // re-tokenized truth on messy whitespace, repeated spans, empty
    // and NULL texts — for both the portable and the kernel path
    import org.apache.spark.sql.functions.col
    val withNull = messy.union(Seq((8L, null: String)).toDF("doc_id", "text"))
    for (portable <- Seq(true, false)) {
      val rows = Dedup.substrDedupTrim(withNull, "doc_id", "text", k = 4,
          portable = portable, withCounts = true)
        .select(col("doc_id"), col("n_before"), col("n_after"),
          graft.text.TextOps.tokenCount(col("text")).as("tb"),
          graft.text.TextOps.tokenCount(col("text_dedup")).as("ta"))
        .collect()
      rows.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(3) &&
          (r.isNullAt(1) || r.getLong(1) == r.getLong(3)),
          s"n_before mismatch portable=$portable: $r")
        assert(r.getLong(2) == r.getLong(4),
          s"n_after mismatch portable=$portable: $r")
      }
    }
  }

  test("gopherRules: rule booleans fire on the right pathologies") {
    val s = spark
    import s.implicits._
    // 60 words, mean length well over 3, all alphabetic, stopword hits
    val good =
      ("the quality filtering pipeline processes documents with great care " * 7)
        .trim
    val docs = Seq(
      (1L, good),                      // passes everything
      (2L, "short doc the of"),        // fails word count, has stops
      (3L, ("12345 67890 " * 30).trim), // no alpha words, no stops
      (4L, ("x " * 60).trim)           // mean word len 1 < 3
    ).toDF("doc_id", "text")
    val out = docs.select($"doc_id",
        graft.text.TextOps.gopherRules($"text").as("g"))
      .select($"doc_id", $"g.*").orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("gopher_pass"))
    assert(!out(1).getAs[Boolean]("r_words") && out(1).getAs[Boolean]("r_stop"))
    assert(!out(2).getAs[Boolean]("r_alpha") && !out(2).getAs[Boolean]("r_stop"))
    assert(!out(3).getAs[Boolean]("r_mean_len"))
    assert(out(3).getAs[Long]("mean_len_bp") == 10000L)
    // empty text is divide-safe
    val e = Seq((9L, "")).toDF("doc_id", "text")
      .select(graft.text.TextOps.gopherRules($"text").as("g"))
      .select($"g.*").collect()(0)
    assert(e.getAs[Long]("n_words") == 0L && !e.getAs[Boolean]("gopher_pass"))
  }

  test("lineDedup removes corpus-wide boilerplate, keeps structure") {
    val s = spark
    import s.implicits._
    val banner = "Accept our cookies"
    val docs = Seq(
      (1L, s"$banner\nunique one\n\nclosing one"),
      (2L, s"  accept our COOKIES \nunique two"), // normalized same key
      (3L, s"$banner\nunique three"),
      (4L, banner) // entirely boilerplate
    ).toDF("doc_id", "text")
    val out = graft.text.TextOps.lineDedup(docs, "doc_id", "text", minDup = 3)
      .orderBy("doc_id").collect()
    assert(out.length == 4)
    // banner occurs 3x across the corpus (trim+lower key) -> removed
    assert(out(0).getString(1) == "unique one\n\nclosing one") // blank kept
    assert(out(0).getLong(2) == 3L && out(0).getLong(3) == 1L)
    assert(out(1).getString(1) == "unique two")
    assert(out(2).getString(1) == "unique three")
    // all-boilerplate doc survives as a row with empty text
    assert(out(3).getString(1) == "" && out(3).getLong(2) == 0L
      && out(3).getLong(3) == 1L)
  }

  test("lineDedup below threshold removes nothing; order preserved") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "dup line\nalpha\nbeta"),
      (2L, "dup line\ngamma")
    ).toDF("doc_id", "text")
    val out = graft.text.TextOps.lineDedup(docs, "doc_id", "text", minDup = 3)
      .orderBy("doc_id").collect()
    assert(out(0).getString(1) == "dup line\nalpha\nbeta")
    assert(out(1).getString(1) == "dup line\ngamma")
    assert(out.forall(_.getLong(3) == 0L))
  }

  test("NbQuality: in-class docs score positive, off-class negative") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.text.NbQuality
    // balanced classes with disjoint vocabularies: NB must separate
    val pos = (0 until 20).map(i => (i.toLong, s"good clean prose $i", true))
    val neg = (0 until 20).map(i => (100L + i, s"spam junk noise $i", false))
    val df = (pos ++ neg).toDF("doc_id", "text", "label")
    val m = NbQuality.trainMicro(df, col("label"), "text", hexChars = 2)
    val out = NbQuality.score(df, "doc_id", "text", m, hexChars = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pos.forall { case (id, _, _) => out(id) > 0 })
    assert(neg.forall { case (id, _, _) => out(id) < 0 })
    // balanced classes -> prior ~ 0 (exactly ln(21/21) = 0)
    assert(m.priorMicro == 0L)
  }

  test("NbQuality: empty text scores the bare prior; skewed prior sign") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.text.NbQuality
    val df = Seq(
      (1L, "alpha beta", true), (2L, "alpha gamma", true),
      (3L, "alpha delta", true), (4L, "zeta eta", false),
      (5L, "", false)
    ).toDF("doc_id", "text", "label")
    val m = NbQuality.trainMicro(df, col("label"), "text", hexChars = 2)
    // prior = ln((3+1)/(2+1)) > 0
    assert(m.priorMicro == math.floor(math.log(4.0 / 3.0) * 1e6 + 0.5).toLong)
    val out = NbQuality.score(df, "doc_id", "text", m, hexChars = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(5L) == m.priorMicro)
  }

  test("NbQuality fast path: same decisions as the portable form") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import graft.text.NbQuality
    val pos = (0 until 20).map(i => (i.toLong, s"good clean prose $i", true))
    val neg = (0 until 20).map(i => (100L + i, s"spam junk noise $i", false))
    val df = (pos ++ neg).toDF("doc_id", "text", "label")
    val out = NbQuality.classifyFast(df, "doc_id", "text", col("label"), 256)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(pos.forall { case (id, _, _) => out(id) })
    assert(neg.forall { case (id, _, _) => !out(id) })
  }
}
