package graft

import org.apache.spark.sql.functions._
import graft.operators.UndatumOps
import graft.sim.Similarity

/** Round-3 behaviors: the exact-cosine hot-block guard, kernels,
  * bucketed operators and file analysis (the round's dedup tests live
  * in DedupSpec and ConnectedComponentsSpec).
  */
class Round3Spec extends SparkSpecBase {

  private def vecs(rows: Seq[(Long, String, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "label", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private def randVecs(n: Int, label: String, dim: Int = 16,
                       seed: Long = 11L): Seq[(Long, String, Array[Float])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, label, Array.fill(dim)(rng.nextGaussian().toFloat)))
  }

  test("native type_guess matches the regex formulation value-for-value") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    // NOTE no all-digit strings past 19 chars here: the regex+ANSI
    // formulation CRASHES on those (CAST_INVALID_INPUT) — the kernel's
    // uint32 classification for them is checked separately below
    val adversarial = Seq(
      "", "0", "254", "255", "65534", "65535", "123456789",
      "9223372036854775807",
      "-1", "-1.5", "1.", ".5", "1.2.3", "-0.0", "007",
      "2021-03-04", "04.03.2021", "03/04/2021", "2021/03/04",
      "2021-3-04", "21.03.2021x", "x2021-03-04", "2021-03-044",
      "abc", "1a2", "näme", "данные", "12 34", " 12", "12 ",
      "1e5", "0x1F", "+5", "--3", "3.14", "-3.14")
    val random = (0 until 300).map { _ =>
      val pool = "0123456789.-/abc "
      (0 until (1 + rng.nextInt(12)))
        .map(_ => pool(rng.nextInt(pool.length))).mkString
    }
    val df = (adversarial ++ random).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("id", "v")
    val cmp = df.select(col("id"), col("v"),
        UndatumOps.guessType(col("v")).as("native"),
        UndatumOps.guessTypeRegex(col("v")).as("regex"))
      .collect()
    cmp.foreach { r =>
      assert(r.getString(2) == r.getString(3),
        s"value='${r.getString(1)}' native=${r.getString(2)} regex=${r.getString(3)}")
    }
    // the >19-digit case: regex+ANSI cast would overflow-crash; the
    // kernel classifies it as uint32 (documented divergence)
    val big = Seq(("99999999999999999999")).toDF("v")
      .select(UndatumOps.guessType(col("v"))).collect()(0).getString(0)
    assert(big == "uint32")
  }

  test("native vec_dot is bit-identical to the HOF fold") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val rows = (0 until 500).map { i =>
      val d = 1 + rng.nextInt(80)
      (i.toLong, Array.fill(d)(rng.nextGaussian().toFloat),
        Array.fill(d)((rng.nextGaussian() * 100).toFloat))
    }.toDF("id", "a", "b")
      .withColumn("a", col("a").cast("array<float>"))
      .withColumn("b", col("b").cast("array<float>"))
    val cmp = rows.select(col("id"),
        Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
      .collect()
    cmp.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"id=${r.getLong(0)}")
    }
    // length mismatch -> NULL, exactly like the HOF fold
    val mm = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
      .withColumn("a", col("a").cast("array<float>"))
      .withColumn("b", col("b").cast("array<float>"))
      .select(Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof"))
      .collect()(0)
    assert(mm.isNullAt(0) && mm.isNullAt(1))
  }

  test("cosinePairsWithin hot block: refuses by default, diverts on opt-in") {
    val df = vecs(randVecs(60, "hot"))
    // default contract: an exact API refuses a hot block loudly
    // instead of silently returning reduced-recall LSH results
    val err = intercept[IllegalArgumentException] {
      Similarity.cosinePairsWithin(df, "embedding", "vec_id",
        "label", 0.2, maxPerBlock = 0, autoLshBlockLimit = 20)
    }
    assert(err.getMessage.contains("divert"))
    // limit 20 < 60-row block: must take the LSH-bucketed plan —
    // result is exactly what cosinePairsLsh produces
    val auto = Similarity.cosinePairsWithin(df, "embedding", "vec_id",
      "label", 0.2, maxPerBlock = 0, autoLshBlockLimit = 20,
      onHotBlock = "divert")
      .orderBy("id_a", "id_b").collect()
    val lsh = Similarity.cosinePairsLsh(df, "embedding", "vec_id", "label", 0.2)
      .orderBy("id_a", "id_b").collect()
    assert(auto.toSeq == lsh.toSeq)
    // and the divert is a real restriction: the exact path finds at
    // least as many pairs (strictly more on random vectors)
    val exact = Similarity.cosinePairsWithin(df, "embedding", "vec_id",
      "label", 0.2, maxPerBlock = 0, autoLshBlockLimit = 0).collect()
    assert(exact.length >= auto.length)
  }

  test("cosinePairsWithin stays exact under the block limit") {
    val df = vecs(randVecs(30, "cool"))
    val auto = Similarity.cosinePairsWithin(df, "embedding", "vec_id",
      "label", 0.2).orderBy("id_a", "id_b").collect()
    val exact = Similarity.cosinePairsWithin(df, "embedding", "vec_id",
      "label", 0.2, autoLshBlockLimit = 0).orderBy("id_a", "id_b").collect()
    assert(auto.toSeq == exact.toSeq)
  }

  test("analyzeFile composes container + sniff + read + profile") {
    import spark.implicits._
    val dir = tmpDir("graft-analyze")
    val csv = s"$dir/t.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "id;name\n1;alpha\n2;beta\n3;gamma\n")
    val zip = s"$dir/t.csv.zip"
    val zo = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(zip))
    zo.putNextEntry(new java.util.zip.ZipEntry("t.csv"))
    zo.write(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(csv)))
    zo.closeEntry(); zo.close()
    val a = graft.operators.Analyzer.analyzeFile(spark, zip)
    assert(a.container == "zip")
    assert(a.format == "csv")
    assert(a.encoding == "UTF-8")
    assert(a.delimiter == ";")
    assert(a.df.count() == 3)
    assert(a.df.columns.toSeq == Seq("id", "name"))
    // text render carries the detection header + the field table
    val text = a.render("text")
    assert(text.contains("container  zip") && text.contains("name"))
    // yaml render is a parseable-looking block sequence
    val yaml = a.render("yaml")
    assert(yaml.contains("format: \"csv\"") && yaml.contains("- field: \"id\""))
  }

  test("renderReport json escapes quotes and backslashes in names") {
    import spark.implicits._
    val df = Seq(("x", 1L)).toDF("a\"b\\c", "n")
    val json = graft.operators.Analyzer.renderReport(df, "json")
    // must be machine-parseable despite the hostile field name
    val parsed = spark.read.json(Seq(json).toDS)
    assert(parsed.count() == 2)
    assert(parsed.columns.contains("field"))
  }

  test("exotic-charset csv read does not mutate the caller's session") {
    val dir = tmpDir("graft-cp1251")
    val f = s"$dir/ru.csv"
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      "id,word\n1,данные\n".getBytes("windows-1251"))
    spark.conf.unset("spark.sql.legacy.javaCharsets")
    val back = graft.sources.Converter.read(spark, f,
      graft.sources.Converter.ReadOptions("csv", encoding = "windows-1251"))
    assert(back.collect().map(_.getString(1)).toSeq == Seq("данные"))
    // the flag went to a cloned session only
    assert(spark.conf.getOption("spark.sql.legacy.javaCharsets").isEmpty
      || spark.conf.get("spark.sql.legacy.javaCharsets") == "false")
  }

  test("asofJoin carries the matched right ROW, not per-column fills") {
    import spark.implicits._
    // right: (ts=1, v=10, w="a") then (ts=2, v=NULL, w="b") — a left
    // row at ts=3 matches the ts=2 ROW: v must be NULL (not 10
    // leaking through) and w must be "b" from the SAME row
    val right = Seq((1L, 1L, Option(10L), "a"), (1L, 2L, None, "b"))
      .toDF("k", "ts", "v", "w")
    val left = Seq((1L, 3L), (1L, 1L), (2L, 5L)).toDF("k", "ts")
    val out = graft.operators.AsofJoin.asofJoin(left, right, "k", "ts")
      .orderBy("k", "ts").collect()
    // left (1,1): matches right ts=1 -> v=10, w=a
    assert(out(0).getLong(2) == 10L && out(0).getString(3) == "a")
    // left (1,3): matches right ts=2 -> v=NULL, w=b
    assert(out(1).isNullAt(2) && out(1).getString(3) == "b")
    // left (2,5): no right row for key -> both NULL
    assert(out(2).isNullAt(2) && out(2).isNullAt(3))
  }

  test("no-shuffle encode round-trips, stays partId-pure, resumes exactly") {
    import graft.encode.{TokenDecoder, TokenEncoder}
    val ds = graft.synth.TokenSynth.dataset(spark, 2000)
    val out = tmpDir("graft-noshuf")
    val cfg = TokenEncoder.EncodeConfig(targetRowsPerPart = 500, noShuffle = true)
    val lin = TokenEncoder.run(ds, out, cfg)
    assert(lin.count() > 0)
    // blocks are partId-pure by construction; checksums verify decode
    val back = TokenDecoder.read(spark, out, verifyChecksums = true)
    assert(ds.toDF().exceptAll(back.toDF()).count() == 0)
    assert(back.toDF().exceptAll(ds.toDF()).count() == 0)
    // second run: everything committed -> nothing re-encoded
    assert(TokenEncoder.run(ds, out, cfg).count() == 0)
  }

  test("no-shuffle encode on pre-clustered input emits full blocks") {
    import spark.implicits._
    import graft.encode.TokenEncoder
    val ds = graft.synth.TokenSynth.dataset(spark, 3000)
    val plan = TokenEncoder.partitionPlan(ds, 1000)
    // a previous stage wrote the table clustered by source — model it
    // with a repartition on source (untimed staging in the real flow)
    val clustered = ds.repartition(8, col("source"))
      .as[graft.model.TokenRow]
    val blocks = TokenEncoder.encodeBlocks(clustered, plan,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 1000, noShuffle = true))
    val stats = blocks.groupBy("partId")
      .agg(count(lit(1)).as("n_blocks"), sum("blockRows").as("rows"))
      .collect()
    // every partId's rows landed in O(1) blocks, not hundreds of slivers
    assert(stats.forall(r => r.getLong(1) > 0))
    val slivers = blocks.where(col("blockRows") < 10).count()
    assert(slivers <= stats.length) // at most one tail sliver per partId
  }

  test("packSequencesBucketed computes exactly the same spans as packSequences") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    // skewed ids (not uniform) + empty docs + one dominant group
    val docs = (0L until 400L).map { i =>
      val id = if (i % 3 == 0) i * 1000 else i
      (id, if (i % 5 == 0) "small" else "big",
        if (i % 17 == 0) 0L else 1L + rng.nextInt(300))
    }.toDF("id", "grp", "n_tok")
    val cols = Seq("grp", "id", "n_tok", "seq_first", "seq_last", "spans")
    for (seqLen <- Seq(64, 512)) {
      val a = graft.encode.Packing.packSequences(docs, "id", "n_tok", "grp", seqLen)
        .select(cols.map(col): _*).orderBy("grp", "id").collect().toSeq
      val b = graft.encode.Packing.packSequencesBucketed(docs, "id", "n_tok", "grp",
          seqLen, buckets = 16)
        .select(cols.map(col): _*).orderBy("grp", "id").collect().toSeq
      assert(a == b, s"seqLen=$seqLen")
    }
  }

  test("stratifiedSampleBucketed selects exactly the same rows as stratifiedSample") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val docs = (0L until 600L).map(i => (i, s"g${rng.nextInt(4)}"))
      .toDF("id", "grp")
    for (k <- Seq(1, 5, 50, 1000)) {
      val a = UndatumOps.stratifiedSample(docs, "grp", "id", k)
        .select("id").as[Long].collect().sorted.toSeq
      val b = UndatumOps.stratifiedSampleBucketed(docs, "grp", "id", k)
        .select("id").as[Long].collect().sorted.toSeq
      assert(a == b, s"k=$k")
    }
  }

  test("mixSampleBucketed selects exactly the same rows as mixSample") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val docs = (0L until 500L).map { i =>
      (i, s"s${rng.nextInt(3)}", 1L + rng.nextInt(40)) }
      .toDF("id", "src", "n_tok")
    val weights = Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2)
    for (budget <- Seq(0L, 500L, 3000L, 1000000L)) {
      val a = UndatumOps.mixSample(docs, "id", "n_tok", "src", weights, budget)
        .select("id").as[Long].collect().sorted.toSeq
      val b = UndatumOps.mixSampleBucketed(docs, "id", "n_tok", "src", weights, budget)
        .select("id").as[Long].collect().sorted.toSeq
      assert(a == b, s"budget=$budget")
    }
  }

  test("long-array kernels poison to NULL on null elements; shingles_ll rejects n<1") {
    import spark.implicits._
    graft.functions.JaccardSim.register(spark)
    graft.functions.MinHashSig.register(spark)
    graft.functions.Shingles.register(spark)
    // nullable-element arrays built in SQL: NULL element -> NULL result
    val r = spark.sql(
      """SELECT jaccard_ll(array(CAST(NULL AS BIGINT), 2L), array(0L, 2L)) a,
        |       minhash_sig(array(CAST(NULL AS BIGINT))) b""".stripMargin).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    // non-null elements through the same nullable-typed path still work
    val ok = spark.sql(
      "SELECT jaccard_ll(array(1L, 2L), array(2L, 3L)) a").collect()(0)
    assert(math.abs(ok.getDouble(0) - 1.0 / 3.0) < 1e-12)
    // n < 1 is an analysis error, not a corpus of identical pseudo-docs
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT shingles_ll('a b c', 0)").collect()
    }
  }

  test("analyzeFile dispatches gz-compressed jsonl and sniffs decompressed bytes") {
    val dir = tmpDir("gz-analyze")
    val gz = s"$dir/docs.jsonl.gz"
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    out.write("{\"id\":1,\"t\":\"данные\"}\n{\"id\":2,\"t\":\"ещё\"}\n"
      .getBytes("UTF-8"))
    out.close()
    val a = graft.operators.Analyzer.analyzeFile(spark, gz)
    assert(a.format == "jsonl", a.format)
    assert(a.df.count() == 2)
    // the csv sniff path also decompresses (raw deflate bytes used to
    // classify as cp1251)
    val gzCsv = s"$dir/t.csv.gz"
    val o2 = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gzCsv))
    o2.write("id;данные\n1;x\n".getBytes("UTF-8")); o2.close()
    val (enc, delim) = graft.sources.Sniff.sniffFile(gzCsv)
    assert(enc == "UTF-8" && delim == ";")
  }

  test("validate modes agree on NULL-evaluating rules; DSL literals keep escaped quotes") {
    import spark.implicits._
    val df = Seq((Some(25), "a"), (None, "b"), (Some(10), "c"))
      .toDF("age", "name")
    val rule = col("age") > 18
    val stats = UndatumOps.validateStats(df, rule).collect()(0)
    val invalid = UndatumOps.validateInvalid(df, rule)
    // the NULL-age row counts invalid in BOTH modes
    assert(invalid.count() == 2)
    assert(stats.getAs[Long]("invalid") == 2L)
    // an escaped quote inside a literal survives the ==-rewrite
    val q = Seq(("O'Brien == boss", 1), ("O'Brien = boss", 2)).toDF("name", "id")
    val got = UndatumOps.filterDsl(q, "`name` == 'O\\'Brien == boss'")
      .select("id").as[Int].collect().toSeq
    assert(got == Seq(1))
  }

  test("flattenCounts resolves a top-level field whose name contains a dot") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("a.b", "c")
    val got = graft.operators.UndatumOps.flattenCounts(df)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a.b" -> 1L, "c" -> 1L))
  }

  test("int8 quantization of an all-zero vector yields zero codes, both forms") {
    import spark.implicits._
    val df = Seq((1L, Array(0f, 0f, 0f)), (2L, Array(1f, -2f, 0.5f)))
      .toDF("id", "v").withColumn("v", col("v").cast("array<float>"))
    for (q <- Seq(
        df.select(col("id"), Similarity.quantizeInt8(col("v")).as("q")),
        Similarity.quantizeInt8Col(df, "v", "q").select("id", "q"))) {
      val rows = q.orderBy("id")
        .select(col("q.codes"), col("q.scale")).collect()
      assert(rows(0).getSeq[Byte](0) == Seq[Byte](0, 0, 0))
      assert(rows(0).getFloat(1) == 0f)
      assert(rows(1).getSeq[Byte](0) == Seq[Byte](64, -127, 32))
    }
  }

  test("vec_dot/vec_dist2 poison to NULL on NULL elements, like the HOF fold") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Float](1.0f, 2.0f), Seq[java.lang.Float](3.0f, 4.0f)),
      (2L, Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](3.0f, 4.0f))
    ).toDF("id", "a", "b")
      .withColumn("a", col("a").cast("array<float>"))
      .withColumn("b", col("b").cast("array<float>"))
    val got = df.select(col("id"),
        Similarity.dot(col("a"), col("b")).as("d"),
        graft.functions.VecDist2.vecDist2(col("a"), col("b")).as("d2"))
      .orderBy("id").collect()
    assert(got(0).getDouble(1) == 11.0 && got(0).getDouble(2) == 8.0)
    assert(got(1).isNullAt(1) && got(1).isNullAt(2))
    // the HOF reference form agrees
    val hof = df.where(col("id") === 2)
      .select(Similarity.dotHof(col("a"), col("b"))).collect()(0)
    assert(hof.isNullAt(0))
  }

  test("yaml render escapes control characters in string values") {
    import spark.implicits._
    val df = Seq(("v", 1L)).toDF("bad\ncol", "n")
    val out = graft.operators.Analyzer.renderReport(df, "yaml")
    // the field NAME lands as a value of the `field:` key — it must be
    // escaped, never a raw newline inside the scalar
    assert(out.contains("\"bad\\ncol\""), out)
  }

  test("rangeJoin: inclusive bounds, bucket straddle, key isolation") {
    import spark.implicits._
    import graft.operators.RangeJoin
    val points = Seq(("u", 1L, 100L), ("u", 2L, 150L), ("u", 3L, 151L),
      ("u", 4L, 99L), ("v", 5L, 120L)).toDF("k", "pid", "t")
    // interval [100, 150] for key u only; bucket 40 forces the
    // interval to straddle buckets 2..3 and points to probe their own
    val iv = Seq(("u", 100L, 150L)).toDF("k", "s", "e")
    val out = RangeJoin.rangeJoin(points, iv, "t", "s", "e",
        bucket = 40, keyCols = Seq("k"))
      .select("pid").orderBy("pid").as[Long].collect()
    // 1 (t=100, inclusive start), 2 (t=150, inclusive end);
    // 3 (151) and 4 (99) out of range; 5 wrong key
    assert(out.toSeq == Seq(1L, 2L))
    // matches a plain inequality join exactly on random data
    val rng = new scala.util.Random(5)
    val ps = (0 until 300).map(i => ("k", i.toLong, rng.nextInt(1000).toLong))
      .toDF("k", "pid", "t")
    val ivs = (0 until 20).map { i =>
      val s = rng.nextInt(900).toLong; ("k", i.toLong, s, s + rng.nextInt(200))
    }.toDF("k", "iid", "s", "e")
    val bucketed = RangeJoin.rangeJoin(ps, ivs, "t", "s", "e",
        bucket = 64, keyCols = Seq("k"))
      .select("pid", "iid").orderBy("pid", "iid").collect().toSeq
    val naive = ps.join(ivs, Seq("k"))
      .where(col("t") >= col("s") && col("t") <= col("e"))
      .select("pid", "iid").orderBy("pid", "iid").collect().toSeq
    assert(bucketed == naive && naive.nonEmpty)
  }

  test("rangeJoinDiag reports interval replica blowup") {
    import spark.implicits._
    val iv = Seq((0L, 10L), (0L, 10000L)).toDF("s", "e")
    val d = graft.operators.RangeJoin.rangeJoinDiag(iv, "s", "e", 10).collect()(0)
    assert(d.getLong(0) == 2L)
    assert(d.getLong(1) == 1001L) // the pathological interval
    assert(d.getLong(2) == 1003L)
  }

  test("IVF index round-trips through save/load") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = graft.sim.Ivf.train(emb, "embedding", k = 4)
    val dir = tmpDir("graft-ivf")
    graft.sim.Ivf.save(idx, spark, s"$dir/index")
    val back = graft.sim.Ivf.load(spark, s"$dir/index")
    assert(back.k == idx.k)
    assert(back.centroids.zip(idx.centroids).forall {
      case (a, b) => a.sameElements(b)
    })
    // a search through the reloaded index matches the original
    val q = emb.where(col("vec_id") === 7)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val a1 = graft.sim.Ivf.search(graft.sim.Ivf.assign(emb, "embedding", idx),
      "embedding", "vec_id", idx, q, 5).collect().toSeq
    val a2 = graft.sim.Ivf.search(graft.sim.Ivf.assign(emb, "embedding", back),
      "embedding", "vec_id", back, q, 5).collect().toSeq
    assert(a1 == a2)
  }

  test("asofJoinBucketed equals asofJoin on random data") {
    import spark.implicits._
    import graft.operators.AsofJoin
    val rng = new scala.util.Random(17)
    // rights unique per (key, ts); values include NULLs and a second
    // column so the matched-ROW semantics are exercised
    val right = (0 until 400).map { i =>
      (i % 5L, rng.nextInt(10000).toLong,
        if (rng.nextBoolean()) Some(rng.nextInt(100).toLong) else None,
        s"tag$i")
    }.distinctBy(r => (r._1, r._2))
      .toDF("k", "ts", "v", "w")
    val left = (0 until 300).map(i =>
      (i % 7L, rng.nextInt(11000).toLong, i.toLong)).toDF("k", "ts", "lid")
      // NULL join keys: asofJoin's window groups them together, so the
      // bucketed form must match them in the carry joins too
      .withColumn("k", when(col("lid") % 11 === 0, lit(null)).otherwise(col("k")))
    val rightN = right
      .withColumn("k", when(col("ts") % 13 === 0, lit(null)).otherwise(col("k")))
      // re-establish uniqueness per (k, ts) after the nulling merge
      .groupBy("k", "ts").agg(max("v").as("v"), max("w").as("w"))
    for (bucket <- Seq(100.0, 1000.0, 100000.0)) {
      val a = AsofJoin.asofJoin(left, rightN, "k", "ts")
        .orderBy("lid").collect().toSeq
      val b = AsofJoin.asofJoinBucketed(left, rightN, "k", "ts", bucket)
        .orderBy("lid").collect().toSeq
      assert(a == b, s"bucket=$bucket")
    }
  }

  test("Ivf.searchBatch matches per-query Ivf.search") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = graft.sim.Ivf.train(emb, "embedding", k = 4)
    val assigned = graft.sim.Ivf.assign(emb, "embedding", idx)
    val qs = emb.where(col("vec_id").isin(3L, 11L, 42L)).orderBy("vec_id")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val batch = graft.sim.Ivf.searchBatch(assigned, "embedding", "vec_id",
        idx, qs, topK = 5, nprobe = 2)
      .collect().groupBy(_.getLong(0))
    qs.foreach { case (qid, qv) =>
      val single = graft.sim.Ivf.search(assigned, "embedding", "vec_id",
          idx, qv, 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val fromBatch = batch(qid).toSeq
        .map(r => (r.getLong(1), r.getDouble(2)))
      assert(fromBatch.sortBy(x => (-x._2, x._1)) ==
        single.sortBy(x => (-x._2, x._1)), s"qid=$qid")
    }
  }

  test("readSource prunes to one source's partId band and stays exact") {
    import graft.encode.{TokenDecoder, TokenEncoder}
    val ds = graft.synth.TokenSynth.dataset(spark, 3000)
    val out = tmpDir("graft-readsrc")
    TokenEncoder.run(ds, out,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 500))
    for (src <- Seq("web", "logs")) {
      val pruned = TokenDecoder.readSource(spark, out, src,
        verifyChecksums = true).toDF()
      val full = TokenDecoder.read(spark, out).filter(col("source") === src).toDF()
      assert(pruned.exceptAll(full).count() == 0)
      assert(full.exceptAll(pruned).count() == 0)
      assert(pruned.count() > 0)
    }
    // unknown source resolves to the overflow band and returns empty
    assert(TokenDecoder.readSource(spark, out, "no-such-source").count() == 0)
  }

  test("packSequences: boundary, straddle, and empty-doc spans") {
    import spark.implicits._
    import graft.encode.Packing
    // group g: docs of 4, 4, 3, 0, 5 tokens at seqLen 4 ->
    //   doc 1 fills chunk 0 exactly; doc 2 fills chunk 1; doc 3 sits
    //   in chunk 2; doc 4 is empty (spans 0, pinned at cursor);
    //   doc 5 straddles chunks 2-3
    val docs = Seq(("g", 1L, 4L), ("g", 2L, 4L), ("g", 3L, 3L),
      ("g", 4L, 0L), ("g", 5L, 5L)).toDF("src", "id", "n")
    val out = Packing.packSequences(docs, "id", "n", "src", 4)
      .orderBy("id")
      .select("seq_first", "seq_last", "spans")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 0L, 1L), (1L, 1L, 1L), (2L, 2L, 1L),
      (2L, 2L, 0L), (2L, 3L, 2L)))
    val stats = Packing.packingStats(docs, "id", "n", "src", 4).collect()(0)
    assert(stats.getLong(1) == 4L) // ceil(16/4) sequences
    assert(stats.getLong(2) == 5L) // docs
    assert(stats.getLong(3) == 1L) // one straddler
  }

  test("repetitionBp: repeated bigrams score, short/empty docs score 0") {
    import spark.implicits._
    graft.functions.Shingles.register(spark)
    val docs = Seq(
      (1L, "a b a b a b"),          // 5 bigram slots, 2 distinct -> 6000
      (2L, "all words are unique here"), // 4 slots, 4 distinct -> 0
      (3L, "single"),               // < n words -> 0
      (4L, ""),                     // empty -> 0
      (5L, "x x x x x")             // 4 slots, 1 distinct -> 7500
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"),
        graft.text.TextOps.repetitionBp(col("text"), 2).as("rep_bp"))
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 6000L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 7500L)))
  }

  test("buildVocab ranks by frequency then word; tokenize maps OOV to the sentinel") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b a b c b a", "s1"),
      (2L, "a c zz", "s1")
    ).toDF("doc_id", "text", "source")
    // counts: b=3, a=3, c=2, zz=1 -> rank: a(0), b(1) [tie a<b], c(2)
    val vocab = graft.text.TextOps.buildVocab(docs, "text", 3)
      .as[(String, Int)].collect().toMap
    assert(vocab == Map("a" -> 0, "b" -> 1, "c" -> 2))
    val toks = graft.text.TextOps.tokenize(docs, "doc_id", "text", "source",
        graft.text.TextOps.buildVocab(docs, "text", 3), oovId = 3)
      .orderBy("doc_id")
      .select("doc_id", "tokens", "n_tok", "source")
      .as[(String, Seq[Int], Int, String)].collect().toSeq
    assert(toks == Seq(
      ("1", Seq(1, 0, 1, 2, 1, 0), 6, "s1"),
      ("2", Seq(0, 2, 3), 3, "s1")))
  }

  test("detokenize inverts tokenize up to case/whitespace/OOV") {
    import spark.implicits._
    val docs = Seq((1L, "Alpha beta  ZZ beta", "s")).toDF("doc_id", "text", "source")
    val vocab = graft.text.TextOps.buildVocab(docs, "text", 3)
    // counts: beta=2, alpha=1, zz=1 -> beta(0), alpha(1), zz(2)
    val toks = graft.text.TextOps.tokenize(docs, "doc_id", "text", "source",
      vocab, oovId = 3)
    val back = toks.select(
        graft.text.TextOps.detokenize(col("tokens"), vocab).as("t"))
      .as[String].collect()(0)
    assert(back == "alpha beta zz beta")
    // an OOV id renders as the sentinel
    val withOov = toks.select(graft.text.TextOps.detokenize(
      array_union(col("tokens"), array(lit(3))), vocab).as("t"))
      .as[String].collect()(0)
    assert(withOov == "alpha beta zz <unk>")
  }

  test("redact masks URLs before emails, repeatedly, leaves clean text alone") {
    import spark.implicits._
    val got = Seq(
      "mail me at bob.smith+tag@corp.example.com today",
      "see https://a.io/x?y=1#z and http://b.org too",
      "mixed https://c.net/mailto?x@y.com tail a@b.co",
      "nothing to hide here"
    ).toDF("text")
      .select(graft.text.TextOps.redact(col("text")).as("c"))
      .as[String].collect().toSeq
    assert(got == Seq(
      "mail me at [EMAIL] today",
      "see [URL] and [URL] too",
      "mixed [URL] tail [EMAIL]",
      "nothing to hide here"))
  }

  test("mixSample: md5-prefix per source up to the token budget, deterministic") {
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      (i, if (i % 2 == 0) "a" else "b", 10L + (i % 7))
    }.toDF("id", "src", "n_tok")
    val weights = Map("a" -> 0.75, "b" -> 0.25)
    val kept = UndatumOps.mixSample(docs, "id", "n_tok", "src", weights, 200L)
    val bySrc = kept.groupBy("src")
      .agg(sum("n_tok").as("tok"), count(lit(1)).as("n"))
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // budgets: a=150, b=50; each source's PRE-doc cum stays under
    // budget, so kept tokens < budget + max_doc_tok (16)
    assert(bySrc("a")._1 >= 150L && bySrc("a")._1 < 150L + 17L)
    assert(bySrc("b")._1 >= 50L && bySrc("b")._1 < 50L + 17L)
    // the kept set is the md5-order prefix: re-derive it independently
    val order = docs.select(col("src"), col("id"), col("n_tok"))
      .withColumn("k", md5(col("id").cast("string")))
      .as[(String, Long, Long, String)].collect()
    val expected = order.groupBy(_._1).flatMap { case (s, rows) =>
      val budget = (weights(s) / 1.0 * 200L).toLong
      var cum = 0L
      rows.sortBy(r => (r._4, r._2)).takeWhile { r =>
        val pre = cum; cum += r._3; pre < budget
      }.map(_._2).toSeq
    }.toSet
    assert(kept.select("id").as[Long].collect().toSet == expected)
    // a source with no weight contributes nothing
    val none = UndatumOps.mixSample(docs, "id", "n_tok", "src",
      Map("a" -> 1.0), 100L)
    assert(none.where(col("src") === "b").count() == 0L)
  }
}
