package graft

import org.apache.spark.sql.functions._

/** Degenerate-input hardening: empty tables and header-only files
  * through the profile/render/analyze surface.
  */
class EdgeSpec extends SparkSpecBase {

  test("report and renderReport survive an empty table") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long)].toDF("name", "n")
    val rep = graft.operators.Analyzer.report(empty).collect()
    assert(rep.length == 2) // one row per field, zero totals
    assert(rep.forall(_.getAs[Long]("total") == 0L))
    // all three render modes produce output without throwing
    for (mode <- Seq("text", "json", "yaml")) {
      val out = graft.operators.Analyzer.renderReport(empty, mode)
      assert(out.nonEmpty, mode)
    }
  }

  test("analyzeFile handles a header-only csv") {
    val dir = tmpDir("graft-headeronly")
    val f = s"$dir/h.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(f), "id,name\n")
    val a = graft.operators.Analyzer.analyzeFile(spark, f)
    assert(a.format == "csv" && a.df.count() == 0)
    assert(a.df.columns.toSeq == Seq("id", "name"))
    assert(a.render("text").nonEmpty)
  }

  test("packing and quantiles over empty inputs yield empty results") {
    import spark.implicits._
    val empty = Seq.empty[(String, Long, Long)].toDF("src", "id", "n")
    assert(graft.encode.Packing.packSequences(empty, "id", "n", "src", 16)
      .count() == 0)
    assert(graft.encode.Packing.packingStats(empty, "id", "n", "src", 16)
      .count() == 0)
  }

  test("connectedComponents over an empty pair set is empty") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(graft.dedup.Dedup.connectedComponents(none).count() == 0)
  }

  test("cosine LSH candidate generation over an empty corpus is empty") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, Array[Float])]
      .toDF("vec_id", "label", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    assert(graft.sim.Similarity.cosineLshCandidates(
      empty, "embedding", "vec_id", "label").count() == 0)
    assert(graft.sim.Similarity.cosinePairsLsh(
      empty, "embedding", "vec_id", "label", 0.5).count() == 0)
  }

  test("encode of an empty dataset completes and decodes to empty") {
    import spark.implicits._
    val empty = spark.emptyDataset[graft.model.TokenRow]
    val out = tmpDir("graft-empty-enc")
    val lineage = graft.encode.TokenEncoder.run(empty, out,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    assert(lineage.count() == 0)
    // a second run is a committed no-op, and reading back yields empty
    assert(graft.encode.TokenEncoder.run(empty, out,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 100)).count() == 0)
  }

  test("rangeJoin with no intervals returns no rows") {
    import spark.implicits._
    val pts = Seq(("k", 1L, 5L)).toDF("k", "pid", "t")
    val none = Seq.empty[(String, Long, Long)].toDF("k", "s", "e")
    assert(graft.operators.RangeJoin.rangeJoin(pts, none, "t", "s", "e",
      10, Seq("k")).count() == 0)
  }

  test("decontaminate against an empty benchmark scores zero hits") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "")).toDF("doc_id", "text")
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val scored = graft.dedup.Dedup.decontaminate(docs, none, "doc_id", "text", 2)
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(scored == Seq((1L, 2L, 0L, 0L), (2L, 0L, 0L, 0L)))
  }

  test("tokenize with an empty vocab maps every word to the OOV id") {
    import spark.implicits._
    val docs = Seq((1L, "x y", "s")).toDF("doc_id", "text", "source")
    val emptyDocs = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val vocab = graft.text.TextOps.buildVocab(emptyDocs, "text", 10)
    assert(vocab.count() == 0)
    val toks = graft.text.TextOps.tokenize(docs, "doc_id", "text", "source",
        vocab, oovId = 99)
      .select("tokens").as[Seq[Int]].collect()
    assert(toks.toSeq == Seq(Seq(99, 99)))
  }

  test("mixSample with zero budget keeps nothing; empty input stays empty") {
    import spark.implicits._
    val docs = Seq((1L, "a", 5L)).toDF("id", "src", "n_tok")
    assert(graft.operators.UndatumOps.mixSample(docs, "id", "n_tok", "src",
      Map("a" -> 1.0), 0L).count() == 0)
    val empty = Seq.empty[(Long, String, Long)].toDF("id", "src", "n_tok")
    assert(graft.operators.UndatumOps.mixSample(empty, "id", "n_tok", "src",
      Map("a" -> 1.0), 100L).count() == 0)
  }

  test("symDiffAndCount equals exceptAll-both-ways on multiset diffs") {
    // the roundtrip gate must DETECT mismatches, not vacuously return
    // 0 — pin the single-pass form against the two-exceptAll truth on
    // extra rows, missing rows, multiplicity skew, nulls, and arrays
    val s = spark
    import s.implicits._
    val a = Seq((1L, "x", Seq(1, 2)), (1L, "x", Seq(1, 2)),
      (2L, null: String, Seq.empty[Int]), (3L, "z", Seq(9)))
      .toDF("id", "name", "arr")
    val b = Seq((1L, "x", Seq(1, 2)),          // multiplicity 2 -> 1
      (2L, null: String, Seq.empty[Int]),
      (4L, "w", Seq(9)))                       // 3 missing, 4 extra
      .toDF("id", "name", "arr")
    val want = a.exceptAll(b).count() + b.exceptAll(a).count()
    val (bad, ca) = graft.SparkEntry.symDiffAndCount(a, b)
    assert(bad == want && want == 3L, s"bad=$bad want=$want")
    assert(ca == 4L) // |a|
    // identical inputs -> zero, count preserved
    val (z, n) = graft.SparkEntry.symDiffAndCount(a, a)
    assert(z == 0L && n == 4L)
    // empty vs nonempty
    val (e, en) = graft.SparkEntry.symDiffAndCount(a.limit(0), b)
    assert(e == 3L && en == 0L)
  }

  test("symDiffAndCount refuses an input that already has a __t column") {
    val s = spark
    import s.implicits._
    val t = Seq((1L, 2L)).toDF("id", "__t")
    intercept[IllegalArgumentException](graft.SparkEntry.symDiffAndCount(t, t))
  }

  test("q_bloom_incremental's folded counts equal the operator on null text") {
    val s = spark
    import s.implicits._
    import graft.dedup.Dedup
    val old = Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, null: String))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta"), (11L, "brand new"), (12L, null: String),
      (13L, "ALPHA  beta")).toDF("doc_id", "text")
    def check(flagged: org.apache.spark.sql.DataFrame): Unit = {
      val (n, missed, survive) = graft.SparkEntry.bloomIncrementalCounts(old, flagged)
      assert(n == flagged.count())
      assert(missed == 0L)
      assert(survive == Dedup.incrementalDedupFlagged(old, flagged, "text").count())
    }
    // the real probe, with null text in both the corpus and the batch
    check(Dedup.bloomFlag(old, batch, "text", expectedOldItems = 1 << 10))
    // an abstaining probe (null maybe_dup): the operator's where(maybe_dup)
    // and where(!maybe_dup) both drop such a row, so the fold must too
    check(batch.withColumn("maybe_dup",
      when(col("doc_id") === 11L, lit(null).cast("boolean"))
        .otherwise(col("doc_id") =!= 11L)))
  }
}
