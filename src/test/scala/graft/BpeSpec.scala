package graft

class BpeSpec extends SparkSpecBase {
  import graft.text.Bpe

  test("train: Sennrich example merges in deterministic tie-broken order") {
    val hist = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L))
    val m = Bpe.train(hist, numMerges = 10)
    // pair counts: (e,s)=9 (s,t)=9 (t,Eow)=9 (l,o)=7 (o,w)=7 ...
    // ties break lexicographically: e<s<t, so es, then est, then
    // est+Eow, then the 7-count chain l-o, lo-w
    assert(m.merges.take(3) == Vector(("e", "s"), ("es", "t"),
      ("est", Bpe.Eow)))
    assert(m.merges.slice(3, 5) == Vector(("l", "o"), ("lo", "w")))
    // vocab: UNK first, then sorted alphabet, then merge outputs
    assert(m.vocab(Bpe.Unk) == 0)
    assert(m.vocab.contains("est" + Bpe.Eow))
  }

  test("encodeWord applies merges by rank; unseen char maps to UNK") {
    val hist = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L))
    // with exactly the first 3 merges, "newest" = n e w est+Eow
    val m3 = Bpe.train(hist, numMerges = 3)
    val est = Bpe.encodeWord("newest", m3)
    assert(est.toSeq == Seq(m3.vocab("n"), m3.vocab("e"), m3.vocab("w"),
      m3.vocab("est" + Bpe.Eow)))
    // with 10 merges the whole word fuses into one symbol
    val m = Bpe.train(hist, numMerges = 10)
    assert(Bpe.encodeWord("newest", m).length == 1)
    // 'z' never appeared in training
    assert(Bpe.encodeWord("z", m).contains(m.unkId))
  }

  test("corpus round trip: encode then decode = normalized text") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the   quick\tbrown\nfox"), // whitespace normalizes
      (3L, ""),
      (4L, "ünïcödé wörds and ASCII mixed"),
      (5L, "emoji 😀😀 survive as code points"),
      (6L, "literal </w> markup must not forge a boundary"),
      (7L, "single")
    ).toDF("doc_id", "text")
    val m = Bpe.trainOn(docs, "text", maxWords = 1000, numMerges = 50)
    val enc = Bpe.encode(docs, "doc_id", "text", m)
    val rt = Bpe.decode(enc, "doc_id", "tokens", m)
      .orderBy("doc_id").collect().map(_.getString(1))
    val expect = docs.orderBy("doc_id").collect().map(
      _.getString(1).split("\\s+").filter(_.nonEmpty).mkString(" "))
    assert(rt.toSeq == expect.toSeq)
  }

  test("histogram cut does not break lossless coverage of tail words") {
    val s = spark
    import s.implicits._
    // head words carry the mass; tail words never enter the histogram
    // but their CHARS do (full-corpus alphabet) -> still lossless
    val docs = ((0 until 30).map(i => (i.toLong, "common words repeat")) ++
      Seq((100L, "zymurgy xylophone quixotic"))).toDF("doc_id", "text")
    val m = Bpe.trainOn(docs, "text", maxWords = 3, numMerges = 20)
    val enc = Bpe.encode(docs, "doc_id", "text", m)
    val rt = Bpe.decode(enc, "doc_id", "tokens", m)
      .where($"doc_id" === 100L).collect()(0).getString(1)
    assert(rt == "zymurgy xylophone quixotic")
  }

  test("tokenTable feeds the columnar encode pipeline end-to-end") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta", "web"),
      (2L, "beta gamma delta", "web"),
      (3L, "alpha alpha alpha", "books")
    ).toDF("doc_id", "text", "source")
    val m = Bpe.trainOn(docs, "text", maxWords = 100, numMerges = 30)
    val tt = Bpe.tokenTable(docs, "doc_id", "text", "source", m)
      .as[graft.model.TokenRow]
    val out = tmpDir("bpe-enc")
    graft.encode.TokenEncoder.run(tt, out)
    val back = graft.encode.TokenDecoder.read(s, out)
      .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    val orig = tt.collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back == orig) // raw text -> BPE ids -> columnar -> back
  }
}
