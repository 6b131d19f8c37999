package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.Validators
import graft.operators.UndatumOps
import graft.sim.Similarity
import graft.text.TextOps

/** Golden tests mirroring the reference's semantics on its own fixture
  * shapes (FIXTURES.md §A), plus brute-force comparisons for the
  * dedup/similarity operators.
  */
class OpsSpec extends SparkSpecBase {
  import org.apache.spark.sql.DataFrame

  /** FIXTURES.md A1 — mirrors tests/fixtures/2cols6rows.csv. */
  private def twoColsSixRows: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(("1", "John"), ("2", "Mary"), ("3", "Michael"),
      ("4", "Anna"), ("5", "Orban"), ("6", "Lucy")).toDF("id", "name")
  }

  test("uniq returns distinct field tuples (selector.py:32-54 semantics)") {
    val s = spark
    import s.implicits._
    val df = twoColsSixRows.union(twoColsSixRows) // duplicate every row
    val u = UndatumOps.uniq(df, Seq("name")).orderBy("name").as[String].collect()
    assert(u.toSeq == Seq("Anna", "John", "Lucy", "Mary", "Michael", "Orban"))
  }

  test("frequency counts and sorts ascending (selector.py:161)") {
    val s = spark
    import s.implicits._
    val df = Seq("a", "b", "b", "c", "c", "c").toDF("k")
    val f = UndatumOps.frequency(df, Seq("k")).collect()
    assert(f.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 2L), ("c", 3L)))
  }

  test("fieldStats reproduces the stats/dictshare semantics (statistics.py:104-110)") {
    val s = spark
    import s.implicits._
    // 10 rows, 2 distinct values => share_uniq = 20 < 70 => dictkey
    val df = (1 to 10).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "parity")
    val st = UndatumOps.fieldStats(df, Seq("id", "parity"))
      .collect().map(r => r.getString(0) -> r).toMap
    val p = st("parity")
    assert(p.getAs[Long]("total") == 10 && p.getAs[Long]("n_uniq") == 2)
    assert(p.getAs[Double]("share_uniq") == 20.0)
    assert(p.getAs[Boolean]("is_dictkey") && !p.getAs[Boolean]("is_uniq"))
    val id = st("id")
    assert(id.getAs[Boolean]("is_uniq") && !id.getAs[Boolean]("is_dictkey"))
    assert(id.getAs[Long]("minlen") == 1 && id.getAs[Long]("maxlen") == 2)
  }

  test("headers enumerates nested leaf paths dot-joined (utils.py:78-103)") {
    val s = spark
    import s.implicits._
    val df = Seq((1, ("x", ("y", 2)))).toDF("a", "b")
      .select(col("a"), col("b._1").as("c"),
        struct(col("b._2._1").as("d"), col("b._2._2").as("e")).as("f"))
    assert(UndatumOps.headerPaths(df.schema) == Seq("a", "c", "f.d", "f.e"))
  }

  test("dictquery filter translation (== to =, backtick fields)") {
    val df = twoColsSixRows
    val out = UndatumOps.filterDsl(df, "`name` == 'John' OR `id` > '4'")
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(out == Seq("John", "Orban", "Lucy"))
  }

  test("split by field value writes one partition per value (selector.py:310-335)") {
    val out = tmpDir("split")
    UndatumOps.splitByField(twoColsSixRows.withColumn("g",
      expr("CASE WHEN id <= '3' THEN 'lo' ELSE 'hi' END")), "g", out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("g=hi", "g=lo"))
    val back = spark.read.parquet(out)
    assert(back.count() == 6)
    assert(back.where(col("g") === "lo").count() == 3)
  }

  test("INN/OGRN validators match the reference vectors (ruscodes.py:104-150)") {
    // valid INNs from FIXTURES.md A4
    Seq("5262128494", "6154064277", "7717129716").foreach { inn =>
      assert(Validators.isValidInn(inn), inn)
      val mutated = inn.init + ((inn.last - '0' + 1) % 10).toString
      assert(!Validators.isValidInn(mutated), mutated)
    }
    assert(Validators.isValidInn("500100732259")) // 12-digit personal
    assert(!Validators.isValidInn("500100732258"))
    assert(Validators.isValidOgrn("1027700132195")) // 13-digit
    assert(!Validators.isValidOgrn("1027700132196"))
    assert(Validators.isValidOgrn("304500116000157")) // 15-digit
    assert(!Validators.isValidOgrn("304500116000158"))
    assert(!Validators.isValidInn(null) && !Validators.isValidOgrn("12ab"))
  }

  test("email/url validators accept-reject pairs (commonrules.py:5-9)") {
    val s = spark
    import s.implicits._
    val df = Seq("a@b.com", "not-an-email", "x.y@z.co.uk", "@nope")
      .toDF("v")
    val ok = df.where(Validators.isEmailCol(col("v"))).as[String].collect().toSet
    assert(ok == Set("a@b.com", "x.y@z.co.uk"))
    val urls = Seq("https://example.com/a?b=1", "http://x.io", "htp://bad", "no").toDF("v")
    val uok = urls.where(Validators.isUrlCol(col("v"))).as[String].collect().toSet
    assert(uok == Set("https://example.com/a?b=1", "http://x.io"))
  }

  test("dictquery == inside string literals survives translation") {
    assert(UndatumOps.dictQueryToSql("`text` == 'a == b'") == "`text` = 'a == b'")
    assert(UndatumOps.dictQueryToSql("`a` == \"x==y\" AND `b` == 'z'") ==
      "`a` = \"x==y\" AND `b` = 'z'")
    val s = spark
    import s.implicits._
    val df = Seq("a == b", "a = b").toDF("text")
    assert(UndatumOps.filterDsl(df, "`text` == 'a == b'").count() == 1)
  }

  test("shingles of empty/short docs are empty; no empty-doc LSH pairs") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, ""), (2L, "   "), (3L, "one two"), (4L, ""),
      (5L, "w1 w2 w3 w4 w5")).toDF("doc_id", "text")
    val sh = df.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).length).toMap
    assert(sh(1L) == 0 && sh(2L) == 0 && sh(3L) == 0) // < 3 words
    assert(sh(5L) == 3)
    val pairs = Dedup.minhashPairs(df, "doc_id", "text", shingleN = 3,
      threshold = 0.1).collect()
    assert(pairs.isEmpty, pairs.mkString(","))
  }

  test("jaccard length-bucket boundary pairs are not dropped") {
    val s = spark
    import s.implicits._
    // A (41 words -> 40 2-shingles, log2 bucket 5) is a prefix of
    // B (71 words -> 70 shingles, bucket 6): jaccard 40/70 = 0.571
    val wordsB = (1 to 71).map(i => s"w$i")
    val a = wordsB.take(41).mkString(" ")
    val b = wordsB.mkString(" ")
    val df = Seq((1L, a, "g"), (2L, b, "g")).toDF("doc_id", "text", "grp")
    val out = Dedup.jaccardWithin(df, "doc_id", "text", "grp",
      tmpDir("jac-stage") + "/sh", shingleN = 2, threshold = 0.5).collect()
    assert(out.length == 1, out.mkString(","))
    assert(math.abs(out(0).getDouble(2) - 40.0 / 70.0) < 1e-3)
  }

  test("exact dedup keeps min id per normalized text") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"),
      (4L, " HELLO WORLD ")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(df, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 3L), (3L, 1L)))
  }

  test("minhash LSH finds the planted near-duplicates and jaccard is exact") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(5)
    val vocab = Array.tabulate(500)(i => s"w$i")
    def doc(): String = Array.fill(60)(vocab(rng.nextInt(vocab.length))).mkString(" ")
    val base = (0L until 40L).map(i => (i, doc()))
    // plant near-dups: copy with small mutation
    val dups = base.take(5).map { case (i, t) =>
      (100L + i, t.split(" ").updated(3, "MUT").mkString(" "))
    }
    val df = (base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(df, "doc_id", "text",
      shingleN = 3, k = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val found = pairs.map(p => (p._1, p._2)).toSet
    (0L until 5L).foreach { i => assert(found.contains((i, 100L + i)), s"missing pair $i") }
    // exact jaccard verification against brute force for one pair
    def sh(t: String): Set[String] =
      t.split("\\s+").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet
    pairs.find(p => p._1 == 0L && p._2 == 100L).foreach { case (_, _, j) =>
      val (a, b) = (sh(base(0)._2), sh(dups(0)._2))
      val exact = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(j - exact) < 1e-3)
    }
  }

  test("native minhash signature equals the declarative formulation") {
    val s = spark
    import s.implicits._
    graft.functions.MinHashSig.register(spark)
    val rng = new scala.util.Random(9)
    val df = (0 until 50).map(i =>
      (i.toLong, Array.fill(40)(rng.nextLong()))).toDF("id", "sh")
    val native = df.select(col("id"),
      graft.functions.MinHashSig.minhashSig(col("sh")).as("sig"))
    val declarative = df.select(col("id"),
      Dedup.minhashSignature(col("sh"), 64).as("sig"))
    assert(native.exceptAll(declarative).count() == 0)
    assert(declarative.exceptAll(native).count() == 0)
  }

  test("simhash pairs finds identical and near-identical docs") {
    val s = spark
    import s.implicits._
    val t1 = (1 to 80).map(i => s"tok$i").mkString(" ")
    val t2 = t1.replace("tok40", "tokX") // 1 word differs
    val t3 = (1 to 80).map(i => s"zzz$i").mkString(" ")
    val df = Seq((1L, t1), (2L, t2), (3L, t3), (4L, t1)).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical -> hamming 0
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("brute-force cosine topk matches driver-side brute force; LSH recalls most") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = vecs(0)._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until a.length).foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    // the operator contract orders by sim ROUNDED to 3 then id
    val expect = vecs.map { case (id, v) =>
      (id, BigDecimal(cos(q, v)).setScale(3, BigDecimal.RoundingMode.HALF_UP))
    }.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    val got = Similarity.bruteTopK(df, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(got == expect)
    // random gaussians are near-orthogonal (cos ~0.3) — the hardest
    // case for sign-LSH; 4 planes + 1-bit probing scans ~31% of rows
    val lsh = Similarity.annTopK(df, "embedding", "vec_id", q, 10, nPlanes = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = expect.count(lsh.contains).toDouble / expect.size
    assert(recall >= 0.5, s"LSH recall $recall")
  }

  test("IVF: columnar cell assignment matches local; search recalls planted clusters") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(13)
    // 4 planted clusters in 16-dim
    val centers = Array.fill(4)(Array.fill(16)(rng.nextGaussian().toFloat * 5))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.zip(Array.fill(16)(rng.nextGaussian().toFloat * 0.3f)).map(p => p._1 + p._2))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val idx = graft.sim.Ivf.train(df, "embedding", k = 4)
    // columnar argmin == driver-side argmin
    val assigned = graft.sim.Ivf.assign(df, "embedding", idx)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    vecs.foreach { case (id, v) =>
      assert(assigned(id) == graft.sim.Ivf.cellOfLocal(v, idx), s"vec $id")
    }
    // search with nprobe=1 finds cluster-mates of the query
    val q = vecs(0)._2
    val got = graft.sim.Ivf.search(graft.sim.Ivf.assign(df, "embedding", idx),
      "embedding", "vec_id", idx, q, 10, nprobe = 1)
      .collect().map(_.getLong(0))
    // all results should come from the query's planted cluster (id % 4 == 0)
    assert(got.count(_ % 4 == 0) >= 9, got.mkString(","))
  }

  test("Analyzer.report flags flatness; applyRows maps with explicit schema") {
    val s = spark
    import s.implicits._
    val flat = Seq((1, "a")).toDF("id", "v")
    val nested = Seq((1, Seq("a"))).toDF("id", "arr")
    assert(graft.operators.Analyzer.report(flat)
      .select("table_is_flat").collect()(0).getBoolean(0))
    assert(!graft.operators.Analyzer.report(nested, Seq("id"))
      .select("table_is_flat").collect()(0).getBoolean(0))
    // Row-level apply with declared output schema (transformer.py shape)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType)))
    val out = graft.operators.Transform.applyRows(flat, schema,
      r => org.apache.spark.sql.Row(r.getString(1).toUpperCase))
    assert(out.collect().map(_.getString(0)).toSeq == Seq("A"))
  }

  test("text ops: token counts, langid, fingerprint stability") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "the cat sat on the mat and it was good"),
      (2L, "Это русский текст с кириллицей для проверки"),
      (3L, "xq zv qqq www eee rrr")).toDF("id", "text")
    val out = df.select(col("id"),
      TextOps.tokenCount(col("text")).as("nt"),
      TextOps.langId(col("text")).as("lang"),
      TextOps.fingerprint(col("text")).as("fp")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("nt") == 10)
    assert(out(1L).getAs[String]("lang") == "en")
    assert(out(2L).getAs[String]("lang") == "ru")
    assert(out(3L).getAs[String]("lang") == "unknown")
    // fingerprint is whitespace-normalization-invariant
    val fp2 = df.select(TextOps.fingerprint(
      regexp_replace(col("text"), " ", "   ")).as("fp")).collect().map(_.getLong(0))
    assert(fp2.toSeq == df.select(TextOps.fingerprint(col("text")))
      .collect().map(_.getLong(0)).toSeq)
  }

  test("guessType boundaries replicate guess_int_size exactly (utils.py:106-111)") {
    val s = spark
    import s.implicits._
    val df = Seq("", "0", "254", "255", "65534", "65535", "4000000000",
      "3.14", "-2.5", "2024-01-31", "007", "abc", "12ab").toDF("v")
    val out = df.select(col("v"), UndatumOps.guessType(col("v")).as("t"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("") == "empty")
    assert(out("0") == "uint8" && out("254") == "uint8")
    // the reference uses strict < 255 / < 65535 (an off-by-one vs the
    // byte max) — replicated for fidelity
    assert(out("255") == "uint16" && out("65534") == "uint16")
    assert(out("65535") == "uint32" && out("4000000000") == "uint32")
    assert(out("3.14") == "float" && out("-2.5") == "float")
    assert(out("2024-01-31") == "date")
    assert(out("007") == "uint8") // numstr branch unreachable in the reference
    assert(out("abc") == "str" && out("12ab") == "str")
  }

  test("quality bp is integer-exact and bounded") {
    val s = spark
    import s.implicits._
    val df = Seq("", "the a of and in to is", "x" * 1000,
      "1234567890 !!!???").toDF("text")
    val bps = df.select(TextOps.qualityScoreBp(col("text"))).collect().map(_.getLong(0))
    assert(bps.forall(b => b >= 0 && b <= 10000))
  }

  test("temperature mixing upweights low-resource sources; alpha=1 is natural") {
    val s = spark
    import s.implicits._
    // big: 90 docs x 10 tokens; rare: 10 docs x 10 tokens
    val docs = ((0 until 90).map(i => (i.toLong, "big", 10L)) ++
      (90 until 100).map(i => (i.toLong, "rare", 10L)))
      .toDF("doc_id", "source", "n_tok")
    def keptShare(alpha: Double): Double = {
      val kept = graft.operators.UndatumOps.mixSampleTemperature(
        docs, "doc_id", "n_tok", "source", alpha, 300L)
      val bySrc = kept.groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      bySrc.getOrElse("rare", 0L).toDouble / math.max(1L, bySrc.values.sum)
    }
    // natural share of rare = 10%; alpha=1 keeps it, alpha=0.25 lifts it
    val natural = keptShare(1.0)
    val heated = keptShare(0.25)
    assert(math.abs(natural - 0.10) < 0.05, s"natural $natural")
    assert(heated > natural + 0.1, s"heated $heated vs natural $natural")
    // determinism
    val a = graft.operators.UndatumOps.mixSampleTemperature(
      docs, "doc_id", "n_tok", "source", 0.5, 300L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = graft.operators.UndatumOps.mixSampleTemperature(
      docs, "doc_id", "n_tok", "source", 0.5, 300L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b && a.nonEmpty)
  }
}
