package graft

import org.apache.spark.sql.functions._
import graft.operators.{Analyzer, UndatumOps}
import graft.sim.Similarity

/** Round-2 regression tests: batch sessionization, date-format
  * scoring, scheme docs, and the pre-normalized cosine pair join (the
  * round's dedup tests live in DedupSpec).
  */
class Round2Spec extends SparkSpecBase {

  test("sessionizeBatch: gap splits, session stats, all sessions emitted") {
    val s = spark
    import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val ev = Seq(
      (1L, 10L, ts(1000)), (1L, 11L, ts(1200)), (1L, 12L, ts(5000)),
      (2L, 20L, ts(100))
    ).toDF("user_id", "event_id", "ts")
    val out = graft.streaming.EventStream.sessionizeBatch(ev, gapSecs = 1800)
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 1000L, 200L, 2L),  // events at 1000,1200
      (1L, 5000L, 0L, 1L),    // trailing session IS emitted (batch)
      (2L, 100L, 0L, 1L)))
  }

  test("sessionizeBatch matches stateful sessionize + trailing sessions") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(3)
    var t = 0L
    val evs = (0 until 200).map { i =>
      t += rng.nextInt(3000)
      (rng.nextInt(5).toLong, i.toLong, new java.sql.Timestamp(t * 1000))
    }
    val df = evs.toDF("user_id", "event_id", "ts")
    val batch = graft.streaming.EventStream.sessionizeBatch(df, gapSecs = 1800)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // the stateful operator never emits the final open session per user
    val streamed = graft.streaming.EventStream.sessionize(
      df.select(col("user_id"), col("ts"), lit("e").as("event_type"))
        .as[graft.streaming.EventStream.SessionEvent], gapSecs = 1800)
      .collect().map(o => (o.user_id, o.session_start, o.session_secs, o.events.toLong)).toSet
    assert(streamed.subsetOf(batch))
    // exactly one unmatched (trailing) session per active user
    val users = evs.map(_._1).toSet
    assert((batch -- streamed).map(_._1) == users)
  }

  test("dateFormatScores counts parse successes per candidate format") {
    val s = spark
    import s.implicits._
    val df = Seq("2026-08-16", "1999-01-02", "2000-12-31",
      "16.08.2026", "01.02.1999", "garbage").toDF("d")
    val scores = UndatumOps.dateFormatScores(df, "d").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scores("yyyy-MM-dd") == 3L)
    assert(scores("dd.MM.yyyy") == 2L)
    assert(scores("MM/dd/yyyy") == 0L && scores("yyyy/MM/dd") == 0L)
  }

  test("guessType classifies the widened date pattern set") {
    val s = spark
    import s.implicits._
    val df = Seq("2026-08-16", "16.08.2026", "08/16/2026", "2026/08/16",
      "20260816", "not a date").toDF("v")
    val got = df.select(UndatumOps.guessType(col("v")).as("t"))
      .as[String].collect().toSeq
    assert(got == Seq("date", "date", "date", "date", "uint32", "str"))
  }

  test("scheme walks nested structs with cerberus types; merge widens conflicts") {
    val s = spark
    import s.implicits._
    val df = spark.read.json(Seq(
      """{"a": 1, "b": {"c": "x", "d": 1.5}, "e": [1,2]}""").toDS())
    val sc = Analyzer.scheme(df).orderBy("field").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(sc == Seq(("a", "integer"), ("b", "dict"), ("b.c", "string"),
      ("b.d", "float"), ("e", "list of integer")))
    val other = spark.read.json(Seq("""{"a": "str-now", "f": true}""").toDS())
    val merged = Analyzer.schemeMerge(Analyzer.scheme(df), Analyzer.scheme(other))
      .orderBy("field").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(merged.contains(("a", "string"))) // integer vs string -> widened
    assert(merged.contains(("f", "boolean"))) // union of paths
    assert(merged.contains(("b.c", "string")))
  }

  test("asofJoin picks the latest right row at or before each left ts") {
    val s = spark
    import s.implicits._
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val left = Seq((1L, 10L, ts(100)), (2L, 10L, ts(250)), (3L, 10L, ts(50)),
      (4L, 20L, ts(500))).toDF("event_id", "user_id", "ts")
    val right = Seq((10L, ts(100), 1.0), (10L, ts(200), 2.0),
      (30L, ts(10), 9.0)).toDF("user_id", "ts", "v")
    val got = graft.operators.AsofJoin.asofJoin(left, right, "user_id", "ts")
      .orderBy("event_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) -1.0 else r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 1.0),   // tie at ts=100 matches (inclusive)
      (2L, 2.0),   // latest of the two prior views
      (3L, -1.0),  // nothing at or before ts=50
      (4L, -1.0))) // user 20 has no right rows
  }

  test("stratifiedSample takes exactly min(k,|group|) reproducible rows per stratum") {
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i => (i.toLong, s"src${i % 3}")).toDF("doc_id", "source")
    val a = UndatumOps.stratifiedSample(df, "source", "doc_id", 7)
    val counts = a.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.forall(_ == 7L) && counts.size == 3)
    // reproducible: second run picks identical rows
    val b = UndatumOps.stratifiedSample(df, "source", "doc_id", 7)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // small stratum: min(k, |group|)
    val tiny = (0 until 4).map(i => (i.toLong, "only")).toDF("doc_id", "source")
    assert(UndatumOps.stratifiedSample(tiny, "source", "doc_id", 7).count() == 4)
  }

  test("GraftExtensions exposes all native functions to plain SQL") {
    GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT size(shingles_ll('a b c', 2)) AS n_sh,
        |size(minhash_sig(shingles_ll('a b c', 1))) AS n_sig,
        |sig_agree(array(1L,2L), array(1L,3L)) AS agree,
        |jaccard_ll(array(1L,2L,3L), array(2L,3L,4L)) AS jac,
        |simhash64('hello world') AS h""".stripMargin).collect()(0)
    assert(r.getInt(0) == 2 && r.getInt(1) == 64)
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 0.5)
    // the extension class itself wires the same factories without error
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("int8 quantization roundtrip keeps cosine within 1%") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(31)
    val vecs = (0 until 50).map(i => (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "v")
    val rt = df.select(col("id"), col("v"),
        Similarity.dequantizeInt8(Similarity.quantizeInt8(col("v"))).as("vq"))
      .withColumn("cos", Similarity.cosine(col("v"), col("vq")))
      .select("cos").as[Double].collect()
    assert(rt.forall(c => c > 0.99), s"min cos ${rt.min}")
    // storage shape: byte codes + one float scale
    val q = df.select(Similarity.quantizeInt8(col("v")).as("q")).schema("q")
    assert(q.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .apply("codes").dataType.toString.contains("ByteType"))
  }

  test("renderReport emits text and json forms of the field profile") {
    val s = spark
    import s.implicits._
    val df = (1 to 10).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "parity")
    val text = Analyzer.renderReport(df)
    assert(text.contains("parity") && text.contains("dictkey"))
    assert(text.linesIterator.size == 3) // header + 2 fields
    val json = Analyzer.renderReport(df, format = "json")
    assert(json.contains("\"field\": \"parity\"") && json.contains("\"n_uniq\": 2"))
  }

  test("cosinePairsLsh recalls high-similarity pairs with bounded buckets") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(9)
    // 20 planted near-identical pairs (cos ~ 0.99) + 60 random vectors
    val base = (0 until 20).map(_ => Array.fill(16)(rng.nextGaussian().toFloat))
    val vecs = base.zipWithIndex.flatMap { case (v, i) =>
      val tweaked = v.map(x => x + 0.02f * rng.nextGaussian().toFloat)
      Seq((i * 2L, v, 0), (i * 2L + 1, tweaked, 0))
    } ++ (0 until 60).map(i => (100L + i, Array.fill(16)(rng.nextGaussian().toFloat), 0))
    val df = vecs.toDF("id", "v", "lab")
    val exact = Similarity.cosinePairsWithin(df, "v", "id", "lab", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosinePairsLsh(df, "v", "id", "lab", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact)) // never invents pairs
    assert(exact.size >= 20)
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, s"recall $recall (${lsh.size}/${exact.size})")
  }

  test("cosinePairsWithin: normalized-join values match direct cosine; cap bounds pairs") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(5)
    val vecs = (0 until 12).map(i =>
      (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat), i % 2))
    val df = vecs.toDF("id", "v", "lab")
    val got = Similarity.cosinePairsWithin(df, "v", "id", "lab", -1.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got.size == 2 * 6 * 5 / 2) // all pairs within each label
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    for (((ia, ib), sim) <- got) {
      val expect = cos(vecs(ia.toInt)._2, vecs(ib.toInt)._2)
      assert(math.abs(sim - expect) < 2e-3, s"pair $ia-$ib: $sim vs $expect")
    }
    val capped = Similarity.cosinePairsWithin(df, "v", "id", "lab", -1.0,
      maxPerBlock = 3)
    assert(capped.count() == 2 * 3) // 3 per block -> C(3,2)=3 pairs x 2 blocks
  }
}
