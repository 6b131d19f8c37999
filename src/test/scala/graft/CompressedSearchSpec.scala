package graft

import org.apache.spark.sql.functions._
import graft.codec.{BlockCodec, CodecIds}
import graft.encode.{CompressedSearch, TokenDecoder, TokenEncoder}
import graft.model.TokenRow

/** Compressed-domain predicate evaluation: per-codec kernel parity,
  * symtab-only dict rejection, zone-map columns + pushed pruning, and
  * store-level equality against a brute-force scan of the raw rows.
  */
class CompressedSearchSpec extends SparkSpecBase {

  private def brute(vals: Array[Int], lo: Int, hi: Int): Long =
    vals.count(v => v >= lo && v <= hi).toLong

  /** Runs `body` with every store's live blocks kept as a cached frame
    * (the arm of a store over the snapshot bounds) instead of driver
    * rows.
    */
  private def inArm[T](frame: Boolean)(body: => T): T =
    if (!frame) body
    else {
      TokenDecoder.capSnapshotRows(0)
      try body finally TokenDecoder.capSnapshotRows(CompressedSearch.MaxSelectedBlockIds)
    }

  /** Rewrites `dir/blocks` with the zone-map columns dropped from the
    * files of the rows under `legacy`: the file-level schema mix
    * TokenEncoder.run's append produces when it resumes a store encoded
    * before the zone-map columns existed.
    */
  private def dropZones(dir: String, legacy: org.apache.spark.sql.Column): Unit = {
    val blocks = spark.read.parquet(s"$dir/blocks").cache()
    val old = blocks.where(legacy).drop("minTok", "maxTok")
    val modern = blocks.where(!legacy)
    assert(old.count() > 0 && modern.count() > 0, "need both halves")
    val tmp = tmpDir("graft-csearch-mixed-blocks")
    old.write.mode("append").option("compression", "uncompressed").parquet(tmp)
    modern.write.mode("append").option("compression", "uncompressed").parquet(tmp)
    blocks.unpersist()
    TokenEncoder.rmTree(new java.io.File(s"$dir/blocks"))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(s"$dir/blocks"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** One array per codec regime, engineered so each codec CAN encode it. */
  private val regimes: Seq[(String, Array[Int])] = Seq(
    "runs" -> (Array.fill(2000)(7) ++ Array.fill(500)(113) ++ Array.fill(100)(99999)),
    "lowcard" -> Array.tabulate(3000)(i => Array(3, 113, 42, 7)(i % 4)),
    "narrow" -> Array.tabulate(3000)(i => 100 + (i * 31 % 40)),
    "smooth" -> Array.tabulate(3000)(i => i * 2 + (i % 3)),
    "random" -> {
      val r = new scala.util.Random(7)
      Array.fill(3000)(r.nextInt(1 << 20))
    },
    "outliers" -> Array.tabulate(3000)(i => if (i % 500 == 0) 1 << 28 else i % 64)
  )

  test("countInRange matches a decoded scan for EVERY codec kernel") {
    for ((name, vals) <- regimes; (cid, codec) <- BlockCodec.codecs) {
      val e = codec.encode(vals, vals.length)
      if (e != null) { // null = codec can't represent this input; fine
        for ((lo, hi) <- Seq((100, 116), (7, 7), (0, Int.MaxValue),
          (Int.MinValue, Int.MaxValue), (1 << 27, Int.MaxValue), (200, 100))) {
          val got = CompressedSearch.countInRange(
            cid, 0, e.symtab, e.payload, vals.length, lo, hi)
          val want = if (lo > hi) 0L else brute(vals, lo, hi)
          assert(got == want, s"$name/${codec.name} [$lo,$hi]: $got != $want")
        }
      }
    }
  }

  test("countInRange through encodeAuto including the zstd post-pass") {
    for ((name, vals) <- regimes) {
      val be = BlockCodec.encodeAuto(vals, vals.length)
      val got = CompressedSearch.countInRange(be.codecId, be.postCodec,
        be.symtab, be.payload, vals.length, 100, 116)
      assert(got == brute(vals, 100, 116), s"$name (codec ${be.codecId})")
    }
  }

  test("dict rejection is symtab-only: payload is never touched") {
    val vals = Array.tabulate(3000)(i => Array(3, 113, 42, 7)(i % 4))
    val e = codec.DictCodec.encode(vals, vals.length)
    assert(e != null)
    // range misses every dict value -> whole-block reject; null payload
    // PROVES the payload bytes are not read on this path
    assert(CompressedSearch.dictRejects(CodecIds.Dict, e.symtab, 50, 100))
    assert(CompressedSearch.countInRange(CodecIds.Dict, 0, e.symtab,
      null, vals.length, 50, 100) == 0L)
    // hi = Int.MaxValue must not reject when a dict value is in range
    assert(!CompressedSearch.dictRejects(CodecIds.Dict, e.symtab,
      100, Int.MaxValue))
    assert(CompressedSearch.dictRejects(CodecIds.Dict, e.symtab,
      114, Int.MaxValue))
    assert(CompressedSearch.countInRange(CodecIds.Dict, 0, e.symtab,
      e.payload, vals.length, 100, Int.MaxValue) == brute(vals, 100, Int.MaxValue))
  }

  test("store: zone-map columns, pushed pruning, search/count vs brute") {
    import spark.implicits._
    val ds = graft.synth.TokenSynth.dataset(spark, 600)
    val dir = tmpDir("graft-csearch")
    TokenEncoder.run(ds, dir,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 200))

    // zone maps sealed on every block; empty blocks carry the
    // prune-always sentinels
    val blocks = spark.read.parquet(s"$dir/blocks")
    assert(blocks.columns.contains("minTok") && blocks.columns.contains("maxTok"))
    val bad = blocks.where(col("totalTokens") > 0 &&
      (col("minTok") > col("maxTok"))).count()
    assert(bad == 0L)

    val (lo, hi) = (100, 116)
    val got = CompressedSearch.searchDocs(spark, dir, lo, hi)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = ds.collect()
      .map(r => (r.doc_id, r.source) -> brute(r.tokens, lo, hi))
      .filter(_._2 > 0).toMap
    assert(got == want)

    val n = CompressedSearch.countTokens(spark, dir, lo, hi)
      .collect()(0).getLong(0)
    assert(n == want.values.sum)

    // the zone predicate reaches the parquet scan as a pushed filter
    val plan = CompressedSearch.searchDocs(spark, dir, lo, hi)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("minTok"),
      s"zone predicate not pushed:\n$plan")

    // disjoint range: zero rows, zero count
    assert(CompressedSearch.searchDocs(spark, dir, -10, -2).count() == 0L)
    assert(CompressedSearch.countTokens(spark, dir, -10, -2)
      .collect()(0).getLong(0) == 0L)

    // exact vocabulary over the store == raw distinct
    assert(CompressedSearch.distinctTokens(spark, dir)
      .collect()(0).getLong(0) ==
      ds.collect().flatMap(_.tokens).distinct.length.toLong)
    // ...and the dict-side scan is genuinely payload-free AT THE SCAN:
    // one of the plan's parquet reads projects symtab without payload
    val vplan = CompressedSearch.distinctTokens(spark, dir)
      .queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<[^>]*".r.findAllIn(vplan).toList
    assert(schemas.exists(s => s.contains("symtab") && !s.contains("payload")),
      s"no payload-free dict scan in:\n$vplan")

    // selective decode: exactly the hit rows, tokens intact
    val gotRead = CompressedSearch.readDocs(spark, dir, lo, hi)
      .collect().map(r => (r.doc_id, r.source, r.tokens.toSeq)).toSet
    val wantRead = ds.collect()
      .filter(r => brute(r.tokens, lo, hi) > 0)
      .map(r => (r.doc_id, r.source, r.tokens.toSeq)).toSet
    assert(gotRead == wantRead)

    // source-restricted search (partId band + zone maps composed) ==
    // brute per source, for EVERY source — rare sources the sampled
    // plan missed exercise the overflow-band residual-filter path
    for (src <- graft.synth.TokenSynth.sources.map(_._1)) {
      val gotS = CompressedSearch.searchDocsInSource(spark, dir, src, lo, hi)
        .collect().map(r => (r.getString(0), r.getLong(2))).toMap
      val wantS = ds.collect().filter(_.source == src)
        .map(r => r.doc_id -> brute(r.tokens, lo, hi))
        .filter(_._2 > 0).toMap
      assert(gotS == wantS, s"source $src")
    }

    // compressed-domain frequency == brute histogram of the raw rows,
    // full-vocab and range-restricted
    val allTokens = ds.collect().flatMap(_.tokens)
    val wantFreq = allTokens.groupBy(identity).map { case (t, a) => (t, a.length.toLong) }
    val gotFreq = CompressedSearch.tokenFrequency(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(gotFreq == wantFreq)
    val gotR = CompressedSearch.tokenFrequency(spark, dir, lo, hi)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(gotR == wantFreq.filter { case (t, _) => t >= lo && t <= hi })
  }

  test("pre-zone-map store backfills sentinels (correct, just unpruned)") {
    import spark.implicits._
    val ds = graft.synth.TokenSynth.dataset(spark, 300)
    val dir = tmpDir("graft-csearch-legacy")
    TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 200))
    // strip the zone-map columns, emulating a store written before them
    val stripped = spark.read.parquet(s"$dir/blocks")
      .drop("minTok", "maxTok").collect()
    val schema = spark.read.parquet(s"$dir/blocks").drop("minTok", "maxTok").schema
    val legacyBlocks = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(stripped: _*)), schema)
    val tmp = tmpDir("graft-csearch-legacy-blocks")
    legacyBlocks.write.mode("overwrite")
      .option("compression", "uncompressed").parquet(tmp)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(s"$dir/blocks"))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(s"$dir/blocks"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)

    // full decode still round-trips, and search still matches brute
    val back = graft.encode.TokenDecoder.read(spark, dir)
    assert(ds.toDF().exceptAll(back.toDF()).count() == 0L &&
      back.toDF().exceptAll(ds.toDF()).count() == 0L)
    val got = CompressedSearch.searchDocs(spark, dir, 100, 116)
      .agg(sum("n_hits")).collect()(0).getLong(0)
    val want = ds.collect().map(r => brute(r.tokens, 100, 116)).sum
    assert(got == want)
  }

  test("MIXED store (pre-zone-map files resumed by current code) stays exact") {
    import spark.implicits._
    val ds = graft.synth.TokenSynth.dataset(spark, 300)
    val dir = tmpDir("graft-csearch-mixed")
    TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    // even partIds without the zone columns (legacy files), odd partIds
    // with them
    dropZones(dir, col("partId") % 2 === 0)

    // decode boundary: legacy rows' null zone values coalesce before
    // .as[EncodedBlock]; full round trip survives
    val back = graft.encode.TokenDecoder.read(spark, dir)
    assert(ds.toDF().exceptAll(back.toDF()).count() == 0L &&
      back.toDF().exceptAll(ds.toDF()).count() == 0L)
    // zone predicate: isNull arms keep every legacy block — counts and
    // search match brute across BOTH halves
    val want = ds.collect().map(r => brute(r.tokens, 100, 116)).sum
    assert(CompressedSearch.countTokens(spark, dir, 100, 116)
      .collect()(0).getLong(0) == want)
    val gotFreq = CompressedSearch.tokenFrequency(spark, dir)
      .agg(sum("n_occ")).collect()(0).getLong(0)
    assert(gotFreq == ds.collect().map(_.tokens.length.toLong).sum)
  }

  test("sourceTokenFrequency + sourceKlDrift: pure AND mixed overflow blocks vs brute") {
    import spark.implicits._
    // pin a plan that only knows "major": 34 plan-unknown rare sources
    // pigeonhole into the 16 overflow slots, so at least one block is
    // guaranteed source-MIXED and the per-row attribution path runs
    val rows =
      (0 until 200).map(i => TokenRow(f"major-$i%04d",
        Array.tabulate(30)(k => (i + k) % 40), 30, "major")) ++
      (0 until 34).flatMap { s =>
        (0 until 2).map(i => TokenRow(f"rare$s%02d-$i",
          Array.tabulate(10)(k => 100 + (s * 3 + k) % 25), 10, f"rare$s%02d"))
      }
    val ds = spark.createDataset(rows)
    val dir = tmpDir("graft-srcfreq")
    TokenEncoder.savePlan(Map("major" -> (0, 2)), dir)
    TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    val mixed = spark.read.parquet(s"$dir/blocks")
      .select("sourcesEnc", "blockRows").collect().exists { r =>
        graft.codec.StringCols.decodeSources(
          r.getAs[Array[Byte]](0), r.getInt(1)).distinct.length > 1
      }
    assert(mixed, "expected at least one source-mixed overflow block")

    val want = rows.flatMap(r => r.tokens.map(t => (r.source, t)))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = CompressedSearch.sourceTokenFrequency(spark, dir)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == want)
    // range-restricted: only rare-source tokens live in [100, 124]
    val gotR = CompressedSearch.sourceTokenFrequency(spark, dir, 100, 110)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gotR == want.filter { case ((_, t), _) => t >= 100 && t <= 110 })

    // KL drift: replay the fixed-point formula driver-side
    val ns = want.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nt = want.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val nn = want.values.sum
    val wantKl = want.toSeq.groupBy(_._1._1).map { case (src, m) =>
      src -> m.map { case ((_, t), n) =>
        math.floor(n.toDouble / ns(src) *
          math.log(n.toDouble * nn / (ns(src).toDouble * nt(t))) * 1e6 + 0.5).toLong
      }.sum
    }
    val gotKl = CompressedSearch.sourceKlDrift(spark, dir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotKl.keySet == wantKl.keySet)
    for ((s, kl) <- wantKl) {
      assert(gotKl(s)._1 == ns(s), s"$s n_tok")
      assert(gotKl(s)._2 == kl, s"$s kl_micro: ${gotKl(s)._2} != $kl")
    }
    // the majority source hugs the pool (low drift); rare sources,
    // whose vocab is disjoint from major's, drift far above it
    val major = gotKl("major")._2
    assert(wantKl.keys.filter(_ != "major").forall(s => gotKl(s)._2 > major))
  }

  test("storePerplexity: exact fixed-point replay incl. OOV and empty docs") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val rows = (0 until 120).map { i =>
      val toks =
        if (i == 7) Array.emptyIntArray // empty doc must score (0, 0, 0)
        else Array.tabulate(20 + i % 30)(k =>
          if (k % 5 == 0) 100 + rng.nextInt(500) // long tail: OOV at topK=8
          else k % 6)                            // head: tokens 0..5
      TokenRow(f"doc-$i%04d", toks, toks.length, "s")
    }
    val ds = spark.createDataset(rows)
    val dir = tmpDir("graft-perplex")
    TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 40))
    val topK = 8
    val freq = rows.flatMap(_.tokens).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    assert(freq.size > topK, "need out-of-model tokens for the test to bite")
    val top = freq.toSeq.sortBy { case (t, n) => (-n, t) }.take(topK)
    val denom = (top.map(_._2).sum + top.length + 1).toDouble
    val nll = top.map { case (t, n) =>
      t -> math.floor(-math.log((n + 1).toDouble / denom) * 1e6 + 0.5).toLong
    }.toMap
    val oov = math.floor(-math.log(1.0 / denom) * 1e6 + 0.5).toLong
    val want = rows.map { r =>
      val s = r.tokens.map(t => nll.getOrElse(t, oov)).sum
      val mean =
        if (r.n_tok == 0) 0L
        else math.floor(s.toDouble / r.n_tok + 0.5).toLong
      r.doc_id -> ((r.n_tok.toLong, s, mean))
    }.toMap
    val got = CompressedSearch.storePerplexity(spark, dir, topK)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want)
    assert(got("doc-0007") == ((0L, 0L, 0L)))
  }

  test("storeQualityFilter: gate + rewrite keeps exactly the low-NLL docs") {
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows = (0 until 90).map { i =>
      val toks =
        if (i == 5) Array.emptyIntArray // scores 0 -> always survives
        else if (i % 3 == 0) Array.fill(40)(i % 4) // in-model, low NLL
        else Array.fill(40)(1000 + rng.nextInt(100000)) // OOV-heavy, high
      TokenRow(f"doc-$i%04d", toks, toks.length, "s")
    }
    val dir = tmpDir("graft-curin")
    TokenEncoder.run(spark.createDataset(rows), dir,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 30))
    val topK = 4
    val means = CompressedSearch.storePerplexity(spark, dir, topK)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    val thr = (means.values.min + means.values.max) / 2
    val expectKeep = means.filter(_._2 <= thr).keySet
    assert(expectKeep.nonEmpty && expectKeep.size < rows.length)
    val out = s"${tmpDir("graft-curout")}/st"
    CompressedSearch.storeQualityFilter(spark, dir, out, thr, topK,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 30))
    val back = TokenDecoder.read(spark, out).collect()
    assert(back.map(_.doc_id).toSet == expectKeep)
    assert(back.map(_.doc_id).toSet.contains("doc-0005"))
    // survivors' token payloads are byte-identical through the rewrite
    val origById = rows.map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back.forall(r => r.tokens.toSeq == origById(r.doc_id)))
    // the new store is a first-class store: compressed-domain queries run
    val mass = CompressedSearch.tokenFrequency(spark, out)
      .agg(sum("n_occ")).collect()(0).getLong(0)
    assert(mass == back.map(_.n_tok.toLong).sum)
  }

  test("phraseSearchDocs + searchDocsWithAll: brute parity incl. overlaps and dict rejection") {
    import spark.implicits._
    val rng = new scala.util.Random(47)
    val phrase = Array(7, 8, 9)
    val conj = Array(7, 500, 100000)
    val rows = (0 until 120).map { i =>
      val toks: Array[Int] =
        if (i == 0) Array.emptyIntArray
        else if (i == 1) Array(7, 8) // shorter than the phrase
        else if (i == 2) Array(7, 8, 7, 8, 9, 7, 8, 9, 9) // two matches
        else if (i == 3) Array(7, 7, 7, 8, 8, 9) // near-miss only
        else if (i == 4) Array(100000, 7, 500, 500) // conj hit, no phrase
        else if (i % 5 == 0) Array.tabulate(30)(k => Array(7, 8, 9)(k % 3)) // lowcard -> dict blocks with hits
        else if (i % 5 == 1) Array.fill(30)(rng.nextInt(40) + 20) // dict blocks, phrase tokens absent
        else Array.fill(25)(rng.nextInt(200000)) // wide regime
      TokenRow(f"doc-$i%04d", toks, toks.length, if (i % 2 == 0) "a" else "b")
    }
    val dir = tmpDir("graft-phrase")
    TokenEncoder.run(spark.createDataset(rows), dir,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 25))

    def bruteMatches(t: Array[Int]): Long = {
      var c = 0L
      var i = 0
      while (i <= t.length - phrase.length) {
        if (phrase.indices.forall(k => t(i + k) == phrase(k))) c += 1
        i += 1
      }
      c
    }
    val exp = rows.map(r => r.doc_id -> bruteMatches(r.tokens))
      .filter(_._2 > 0).toMap
    val got = CompressedSearch.phraseSearchDocs(spark, dir, phrase)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == exp)
    assert(got("doc-0002") == 2L) // overlap-adjacent double match
    assert(!got.contains("doc-0003"))

    val expConj = rows.flatMap { r =>
      val hits = r.tokens.count(conj.contains)
      if (conj.forall(r.tokens.contains)) Some(r.doc_id -> hits.toLong) else None
    }.toMap
    val gotConj = CompressedSearch.searchDocsWithAll(spark, dir, conj)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(gotConj == expConj)
    assert(gotConj.contains("doc-0004"))
    // a duplicated query token is ONE membership requirement — the
    // all-present gate must not demand an unreachable distinct count
    val dupConj = CompressedSearch.searchDocsWithAll(spark, dir,
      Array(conj(0), conj(0)) ++ conj)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(dupConj == expConj)

    // the multi-token zone predicates reach the parquet scan: the
    // containment prune (phrase/conj) and the ANY-token Or-chain
    // (bm25's blocksAny) must both show as PushedFilters on minTok
    val pplan = CompressedSearch.phraseSearchDocs(spark, dir, phrase)
      .queryExecution.executedPlan.toString
    assert(pplan.contains("PushedFilters") && pplan.contains("minTok"),
      s"zoneAll containment predicate not pushed:\n$pplan")
    val bplan = CompressedSearch.bm25TopK(spark, dir, phrase, 5)
      .queryExecution.executedPlan.toString
    assert(bplan.contains("PushedFilters") && bplan.contains("minTok"),
      s"zoneAny Or-chain predicate not pushed:\n$bplan")

    // dictRejectsAny kernel: symtab of a lowcard block lacking one
    // query token rejects; containing all, passes
    val blk = spark.read.parquet(s"$dir/blocks")
      .where(col("codecId") === CodecIds.Dict)
      .select("codecId", "symtab").collect()
    assert(blk.nonEmpty)
    blk.foreach { r =>
      val cid = r.getInt(0); val st = r.getAs[Array[Byte]](1)
      val dict = graft.codec.DictCodec.readDict(st)
      val expect = !phrase.forall(t => dict.contains(t))
      assert(CompressedSearch.dictRejectsAny(cid, st, phrase) == expect)
    }
  }

  test("proximitySearchDocs: brute parity, window edge, order independence") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val A = 7; val B = 9; val W = 3
    val rows = (0 until 100).map { i =>
      val toks: Array[Int] =
        if (i == 0) Array(A, 1, 2, B) // dist 3 == W: exact-edge match
        else if (i == 1) Array(A, 1, 2, 3, B) // dist 4 > W: no match
        else if (i == 2) Array(A, B, 5, 5, 5, 5, 5, 5, 5, 5, A, 5, B) // pairs d1+d2
        else if (i == 3) Array(B, 5, A) // b before a: order independence
        else if (i == 4) Array(A, A, A) // one side only
        else if (i == 5) Array.emptyIntArray
        else if (i % 4 == 0) Array.tabulate(40)(k => Array(A, 5, B, 6)(k % 4)) // dense
        else if (i % 4 == 1) Array.fill(30)(rng.nextInt(40) + 20) // neither token
        else Array.fill(25)(rng.nextInt(50)) // random small vocab
      TokenRow(f"nd-$i%04d", toks, toks.length, if (i % 2 == 0) "a" else "b")
    }
    val dir = tmpDir("graft-near")
    TokenEncoder.run(spark.createDataset(rows), dir,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 25))
    def brute(t: Array[Int]): Option[(Long, Long)] = {
      val pa = t.indices.filter(t(_) == A)
      val pb = t.indices.filter(t(_) == B)
      val within = for { i <- pa; j <- pb; if math.abs(i - j) <= W }
        yield math.abs(i - j)
      if (within.isEmpty) None
      else Some((within.size.toLong, within.min.toLong))
    }
    val exp = rows.flatMap(r => brute(r.tokens).map(v => r.doc_id -> v)).toMap
    val got = CompressedSearch.proximitySearchDocs(spark, dir, A, B, W)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == exp)
    // "unbounded" window: Int.MaxValue must mean no upper bound —
    // regression for the Int-overflowing `pa + window` bound, which
    // silently returned EMPTY for near-MaxValue windows
    val expAll = rows.flatMap { r =>
      val pa = r.tokens.indices.filter(r.tokens(_) == A)
      val pb = r.tokens.indices.filter(r.tokens(_) == B)
      if (pa.isEmpty || pb.isEmpty) None
      else Some(r.doc_id -> ((pa.size.toLong * pb.size,
        (for { i <- pa; j <- pb } yield math.abs(i - j)).min.toLong)))
    }.toMap
    val gotAll = CompressedSearch
      .proximitySearchDocs(spark, dir, A, B, Int.MaxValue)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(gotAll == expAll)
    assert(got("nd-0000") == ((1L, 3L)))
    assert(!got.contains("nd-0001"))
    assert(got("nd-0002") == ((2L, 1L)))
    assert(got("nd-0003") == ((1L, 2L)))
    assert(!got.contains("nd-0004"))
    // same two-tier prune as phrase/conj: containment predicate pushed
    val plan = CompressedSearch.proximitySearchDocs(spark, dir, A, B, W)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("minTok"),
      s"proximity containment predicate not pushed:\n$plan")
    intercept[IllegalArgumentException] {
      CompressedSearch.proximitySearchDocs(spark, dir, A, A, W)
    }
    intercept[IllegalArgumentException] {
      CompressedSearch.proximitySearchDocs(spark, dir, A, B, 0)
    }
  }

  test("bm25TopK: exact fixed-point replay of the Lucene-shape model") {
    import spark.implicits._
    val rng = new scala.util.Random(61)
    val query = Array(5, 77, 4242)
    val rows = (0 until 150).map { i =>
      val toks: Array[Int] =
        if (i == 0) Array.emptyIntArray
        else if (i == 1) Array(5, 5, 5, 5, 5) // tf-heavy short doc
        else if (i == 2) Array.fill(300)(5) ++ Array(77) // long doc, dl norm bites
        else if (i % 4 == 0) Array.fill(20)(rng.nextInt(10)) // many contain 5
        else if (i % 4 == 1) Array.fill(40)(rng.nextInt(100)) // some contain 77
        else Array.fill(30)(rng.nextInt(100000)) // 4242 is rare
      TokenRow(f"doc-$i%04d", toks, toks.length, "s")
    }
    val dir = tmpDir("graft-bm25")
    TokenEncoder.run(spark.createDataset(rows), dir,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 25))
    val k1 = 1.2; val b = 0.75
    val nDocs = rows.length.toLong
    val avgdl = rows.map(_.tokens.length.toLong).sum.toDouble / nDocs
    val idf = query.map { t =>
      val d = rows.count(_.tokens.contains(t)).toDouble
      math.log((nDocs - d + 0.5) / (d + 0.5) + 1)
    }
    val brute = rows.flatMap { r =>
      val terms = query.indices.flatMap { j =>
        val tf = r.tokens.count(_ == query(j)).toDouble
        if (tf == 0) None
        else Some(math.floor(idf(j) * (tf * (k1 + 1)) /
          (tf + k1 * (1 - b + b * r.tokens.length / avgdl)) * 1e6 + 0.5).toLong)
      }
      if (terms.isEmpty) None else Some(r.doc_id -> terms.sum)
    }.sortBy { case (id, s) => (-s, id) }
    val got = CompressedSearch.bm25TopK(spark, dir, query, 10)
      .collect().map(r => r.getString(0) -> r.getLong(2))
    assert(got.toSeq == brute.take(10).toSeq)
    // every hit doc scored (not just top-k): widen k past the hit count
    val all = CompressedSearch.bm25TopK(spark, dir, query, 10000)
      .collect().map(r => r.getString(0) -> r.getLong(2))
    assert(all.toMap == brute.toMap)
    // duplicate query tokens dedupe — no double-counted term
    val dup = CompressedSearch.bm25TopK(spark, dir,
      Array(query(0), query(0)) ++ query, 10)
      .collect().map(r => r.getString(0) -> r.getLong(2))
    assert(dup.toSeq == got.toSeq)
  }

  test("storeBigramFrequency + storeKnPerplexity: brute replay incl. backoff") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val rows = (0 until 100).map { i =>
      val toks =
        if (i == 3) Array.emptyIntArray     // no transitions -> (0,0,0)
        else if (i == 4) Array(42)          // 1 token, same
        else Array.tabulate(15 + i % 20) { k =>
          if (k % 4 == 0) 50 + rng.nextInt(200) // tail: out-of-model pairs
          else k % 5                            // head: heavy repeated pairs
        }
      TokenRow(f"doc-$i%04d", toks, toks.length, "s")
    }
    val ds = spark.createDataset(rows)
    val dir = tmpDir("graft-knstore")
    TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 30))

    // exact bigram counts
    val bruteBi = rows.flatMap(r => r.tokens.sliding(2).collect {
      case Array(a, b) => (a, b)
    }).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val gotBi = CompressedSearch.storeBigramFrequency(spark, dir)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gotBi == bruteBi)
    // a pathologically small flush cap forces many partial-map drains
    // per partition; the downstream groupBy must re-merge them exactly
    val gotTiny = CompressedSearch.storeBigramFrequency(spark, dir, 4)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(gotTiny == bruteBi)

    // KN with a cut small enough that backoff paths (seen-context/
    // unseen-pair AND unseen-context) both fire
    val maxPairs = 16
    assert(bruteBi.size > maxPairs)
    val top = bruteBi.toSeq.map { case ((a, b), c) => (a, b, c) }
      .sortBy { case (a, b, c) => (-c, a, b) }.take(maxPairs)
    val ctx = top.groupBy(_._1).map { case (a, ps) =>
      a -> (ps.map(_._3).sum, ps.length.toLong)
    }
    val cont = top.groupBy(_._2).map { case (b, ps) => b -> ps.length.toLong }
    val np = top.length.toLong
    val vc = cont.size.toLong
    val n1 = top.count(_._3 == 1L).toLong
    val n2 = top.count(_._3 == 2L).toLong
    val dD = if (n1 == 0) 0.5 else n1.toDouble / (n1 + 2 * n2)
    def micro(p: Double): Long = math.floor(-math.log(p) * 1e6 + 0.5).toLong
    val pm = top.map { case (a, b, c) =>
      val (cw1, n1p) = ctx(a)
      (a, b) -> micro((c.toDouble - dD) / cw1 +
        ((dD * n1p) / cw1) * ((cont(b).toDouble + 1) / (np + vc + 1)))
    }.toMap
    val lm = ctx.map { case (a, (cw1, n1p)) => a -> micro((dD * n1p) / cw1) }
    val cm = cont.map { case (b, nc) =>
      b -> micro((nc.toDouble + 1) / (np + vc + 1))
    }
    val ov = micro(1.0 / (np + vc + 1))
    val want = rows.map { r =>
      val s = r.tokens.sliding(2).collect { case Array(a, b) =>
        pm.getOrElse((a, b), lm.getOrElse(a, 0L) + cm.getOrElse(b, ov))
      }.sum
      val n = math.max(r.n_tok - 1, 0).toLong
      val mean = if (n == 0L) 0L else math.floor(s.toDouble / n + 0.5).toLong
      r.doc_id -> ((n, s, mean))
    }.toMap
    val got = CompressedSearch.storeKnPerplexity(spark, dir, maxPairs)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == want)
    assert(got("doc-0003") == ((0L, 0L, 0L)) && got("doc-0004") == ((0L, 0L, 0L)))
    // the cut really forces both backoff shapes somewhere in the corpus
    val allPairs = rows.flatMap(_.tokens.sliding(2).collect {
      case Array(a, b) => (a, b)
    })
    assert(allPairs.exists { case (a, b) => !pm.contains((a, b)) && lm.contains(a) })
    assert(allPairs.exists { case (a, _) => !lm.contains(a) })
  }

  test("storeStats: unknown codecId reports '?' (ANSI-safe map lookup)") {
    import spark.implicits._
    val ds = graft.synth.TokenSynth.dataset(spark, 120)
    val dir = tmpDir("graft-statenc-unknown")
    TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 60))
    // emulate a store written by a NEWER build: a codecId this build's
    // CodecIds.names doesn't know. Under ANSI, element_at on the name
    // map would throw MAP_KEY_DOES_NOT_EXIST — the "?" fallback is the
    // regression under test.
    val mutated = spark.read.parquet(s"$dir/blocks")
      .withColumn("codecId", lit(99).cast("int"))
    val tmp = tmpDir("graft-statenc-unknown-blocks")
    mutated.write.mode("overwrite")
      .option("compression", "uncompressed").parquet(tmp)
    TokenEncoder.rmTree(new java.io.File(s"$dir/blocks"))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(s"$dir/blocks"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val st = CompressedSearch.storeStats(spark, dir).collect()
    assert(st.nonEmpty)
    assert(st.forall(_.getAs[String]("codec") == "?"))
    assert(st.map(_.getAs[Long]("n_rows")).sum == 120L)
  }

  test("sourceStats: metadata-only per-source counts incl. the overflow band") {
    import spark.implicits._
    val full = graft.synth.TokenSynth.dataset(spark, 500)
    // pin a plan that names only TWO sources: every other source
    // routes to the overflow band, so both arms (metadata columns for
    // named bands, meta walk for overflow) must contribute
    val known = Set("web", "books")
    val dir = tmpDir("graft-srcstats")
    TokenEncoder.savePlan(TokenEncoder.partitionPlan(
      full.filter(r => known.contains(r.source)), 100), dir)
    TokenEncoder.run(full, dir,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    val exp = full.collect().groupBy(_.source).map { case (s, rs) =>
      (s, rs.length.toLong, rs.map(_.n_tok.toLong).sum)
    }.toSeq.sortBy(_._1)
    assert(exp.map(_._1).toSet.diff(known).nonEmpty,
      "corpus must actually hit the overflow band")
    val df = CompressedSearch.sourceStats(spark, dir)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == exp)
    // payload-free AT THE SCAN on both arms: no parquet read in the
    // plan projects the payload column
    val vplan = df.queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<[^>]*".r.findAllIn(vplan).toList
    assert(schemas.nonEmpty && schemas.forall(!_.contains("payload")),
      s"sourceStats must never project payload:\n$vplan")
    // legacy store (no plan): full meta walk, same answer
    assert(new java.io.File(s"$dir/plan.json").delete())
    val gotLegacy = CompressedSearch.sourceStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotLegacy == exp)
  }

  test("TokenIndex: transparent pruning, no false negatives, over-cap abstains") {
    import spark.implicits._
    val ds = graft.synth.TokenSynth.dataset(spark, 400)
    val dir = tmpDir("graft-tokidx")
    TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    // baselines BEFORE the index exists
    def collectSearch(lo: Int, hi: Int) = CompressedSearch
      .searchDocs(spark, dir, lo, hi).orderBy("doc_id").collect().toSeq
    def collectCount(lo: Int, hi: Int) = CompressedSearch
      .countTokens(spark, dir, lo, hi).collect()(0).getLong(0)
    val someTok = ds.collect().flatMap(_.tokens).groupBy(identity)
      .minBy { case (_, occ) => (occ.length, occ.head) }._1 // rarest token
    val beforePoint = collectSearch(someTok, someTok)
    val beforeRange = collectSearch(100, 116)
    val beforeCount = collectCount(someTok, someTok)
    val nIdx = graft.encode.TokenIndex.build(spark, dir)
    assert(nIdx > 0)
    // parity: the index is an accelerator, never a filter
    assert(collectSearch(someTok, someTok) == beforePoint)
    assert(collectSearch(100, 116) == beforeRange)
    assert(collectCount(someTok, someTok) == beforeCount)
    // no false negatives: every distinct token of every indexed block
    // passes its own bloom
    val idx = spark.read.parquet(graft.encode.TokenIndex.path(dir))
      .collect().map(r => r.getAs[String]("blockId") ->
        r.getAs[Array[Byte]]("bloomEnc")).toMap
    val blocks = spark.read.parquet(s"$dir/blocks")
      .select("blockId", "codecId", "postCodec", "symtab", "payload",
        "totalTokens")
      .collect()
    var rejecting = 0
    var indexedNonDict = 0
    blocks.foreach { r =>
      val bid = r.getString(0)
      if (r.getInt(1) != graft.codec.CodecIds.Dict && idx.contains(bid)) {
        indexedNonDict += 1
        val vals = graft.codec.BlockCodec.decode(r.getInt(1), r.getInt(2),
          r.getAs[Array[Byte]](3), r.getAs[Array[Byte]](4),
          r.getLong(5).toInt)
        val bloom = idx(bid)
        assert(vals.distinct.forall(t =>
          graft.codec.TokBloom.mayContain(bloom, t)),
          s"false negative in block $bid")
        if (!graft.codec.TokBloom.mayContain(bloom, someTok)) rejecting += 1
      }
    }
    assert(indexedNonDict > 0)
    // the rarest token's bloom actually PRUNES most non-dict blocks
    assert(rejecting > indexedNonDict / 2,
      s"expected most blocks to reject token $someTok: " +
        s"$rejecting/$indexedNonDict")
    // over-cap block: > MaxDistinct distinct values => null bloom, and
    // search over that store stays exact
    val wide = (0 until 20).map { i =>
      val toks = Array.tabulate(8192)(j => i * 8192 + j)
      graft.model.TokenRow(f"wide-$i%04d", toks, toks.length, "w")
    }
    val dir2 = tmpDir("graft-tokidx-wide")
    TokenEncoder.run(spark.createDataset(wide), dir2,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    graft.encode.TokenIndex.build(spark, dir2)
    val idx2 = spark.read.parquet(graft.encode.TokenIndex.path(dir2)).collect()
    assert(idx2.exists(_.getAs[Array[Byte]]("bloomEnc") == null),
      "a >MaxDistinct block must abstain with a null bloom")
    assert(CompressedSearch.searchDocs(spark, dir2, 8192, 8192)
      .collect().map(_.getString(0)).toSeq == Seq("wide-0001"))
  }

  test("storePmiTopK: brute-force PMI replay, ratio-ordered top-k") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val rows = (0 until 120).map { i =>
      // a planted frequent token (7) plus uniform noise: some pairs
      // are high-count low-PMI, some low-count high-PMI — the sort
      // must be by PMI, not by count
      val toks = Array.tabulate(20 + i % 10) { k =>
        if (k % 3 == 0) 7 else rng.nextInt(40)
      }
      TokenRow(f"pmi-$i%04d", toks, toks.length, "s")
    }
    val ds = spark.createDataset(rows)
    val dir = tmpDir("graft-pmistore")
    TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 40))
    val bi = rows.flatMap(_.tokens.sliding(2).collect {
      case Array(a, b) => (a, b)
    }).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = bi.values.sum
    val cl = bi.groupBy(_._1._1).map { case (a, m) => a -> m.values.sum }
    val cr = bi.groupBy(_._1._2).map { case (b, m) => b -> m.values.sum }
    val (minCount, k) = (3L, 12)
    val brute = bi.toSeq.collect { case ((a, b), c) if c >= minCount =>
      val ratio = (c.toDouble * n.toDouble) /
        (cl(a).toDouble * cr(b).toDouble)
      (a, b, c, ratio)
    }.sortBy { case (a, b, _, ratio) => (-ratio, a, b) }.take(k)
      .map { case (a, b, c, ratio) =>
        (a, b, c, math.floor(math.log(ratio) * 1e6 + 0.5).toLong)
      }
    assert(brute.size == k, "test corpus must overfill the top-k")
    val got = CompressedSearch.storePmiTopK(spark, dir, k, minCount)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == brute)
    // PMI order differs from count order on this corpus (the planted
    // token's pairs are frequent but low-PMI)
    assert(got.map(_._3) != got.map(_._3).sortBy(-_))
  }

  test("two-phase selection: rejected blocks' payload bytes unread at the scan") {
    import spark.implicits._
    val ds = graft.synth.TokenSynth.dataset(spark, 600)
    val dir = tmpDir("graft-twophase")
    TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 200))
    graft.encode.TokenIndex.build(spark, dir)
    val (lo, hi) = (100, 116)

    // (a) the live-block metadata both snapshot arms hold is
    // payload-FREE at the scan: no parquet read in its plan projects
    // the payload column
    val metaPlan = TokenDecoder.liveMeta(spark, dir)
      .queryExecution.executedPlan.toString
    val metaSchemas = "ReadSchema: struct<[^>]*".r.findAllIn(metaPlan).toList
    assert(metaSchemas.nonEmpty && metaSchemas.forall(!_.contains("payload")),
      s"pre-scan must not project payload:\n$metaPlan")

    // (b) the symtab/bloom tiers genuinely reject blocks the zone
    // filter keeps — the precondition for (c) to prove anything
    val meta = TokenDecoder.liveMeta(spark, dir)
      .where((col("minTok").isNull || col("minTok") <= hi) &&
        (col("maxTok").isNull || col("maxTok") >= lo))
      .select("blockId", "codecId", "symtab", "bloomEnc")
      .as[(String, Int, Array[Byte], Array[Byte])]
      .collect()
    val survivors = meta.filterNot { case (_, cid, st, bloom) =>
      CompressedSearch.dictRejects(cid, st, lo, hi) ||
        !graft.codec.TokBloom.mayIntersectRange(bloom, lo, hi)
    }
    assert(survivors.length > 0 && survivors.length < meta.length,
      s"need partial rejection to exercise the prune: " +
        s"${survivors.length} of ${meta.length} survive")

    // (c) the payload scan is pruned to the survivors by a PUSHED
    // blockId filter — a rejected block's payload bytes are never read
    val plan = CompressedSearch.searchDocs(spark, dir, lo, hi)
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(blockId") || plan.contains("blockId IN"),
      s"survivor blockId list not pushed to the payload scan:\n$plan")

    // (d) results are unchanged vs brute truth (the IN filter is an
    // accelerator, never a correctness dependency)
    val got = CompressedSearch.searchDocs(spark, dir, lo, hi)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = ds.collect()
      .map(r => (r.doc_id, r.source) -> brute(r.tokens, lo, hi))
      .filter(_._2 > 0).toMap
    assert(got == want)

    // (e) an all-rejected query (no such token anywhere, zones wide)
    // returns empty without any payload-bearing scan
    assert(CompressedSearch.countTokens(spark, dir, 424297, 424297)
      .collect()(0).getLong(0) ==
      ds.collect().map(r => brute(r.tokens, 424297, 424297)).sum)
  }

  /** BM25 scores of every hit doc, replayed on the raw rows in the
    * same fixed-point order as bm25TopK (k1 = 1.2, b = 0.75).
    */
  private def bruteBm25(rows: Seq[TokenRow], query: Array[Int]): Map[String, Long] = {
    val (k1, b) = (1.2, 0.75)
    val nDocs = rows.length.toLong
    val avgdl = rows.map(_.tokens.length.toLong).sum.toDouble / nDocs
    val idf = query.map { t =>
      val d = rows.count(_.tokens.contains(t)).toDouble
      math.log((nDocs - d + 0.5) / (d + 0.5) + 1)
    }
    rows.flatMap { r =>
      val terms = query.indices.flatMap { j =>
        val tf = r.tokens.count(_ == query(j)).toDouble
        if (tf == 0) None
        else Some(math.floor(idf(j) * (tf * (k1 + 1)) /
          (tf + k1 * (1 - b + b * r.tokens.length / avgdl)) * 1e6 + 0.5).toLong)
      }
      if (terms.isEmpty) None else Some(r.doc_id -> terms.sum)
    }.toMap
  }

  /** countTokens, searchDocs and (every hit of) bm25TopK on `dir` equal
    * brute force over `rows`.
    */
  private def assertLiveAnswers(session: org.apache.spark.sql.SparkSession,
      dir: String, rows: Seq[TokenRow], step: String): Unit = {
    val (lo, hi) = (100, 116)
    val query = Array(100, 105, 7)
    val want = rows.map(r => brute(r.tokens, lo, hi)).sum
    assert(want > 0L, s"no hits to check after $step")
    assert(CompressedSearch.countTokens(session, dir, lo, hi).first().getLong(0) ==
      want, s"countTokens after $step")
    val hits = CompressedSearch.searchDocs(session, dir, lo, hi).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(hits == rows.map(r => (r.doc_id, r.source) -> brute(r.tokens, lo, hi))
      .filter(_._2 > 0).toMap, s"searchDocs after $step")
    val ranked = CompressedSearch.bm25TopK(session, dir, query, rows.length).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(ranked == bruteBm25(rows, query), s"bm25TopK after $step")
  }

  test("the cached live-block frame follows every change to the store") {
    // both arms: driver rows, and the cached frame of a store over the
    // snapshot bounds
    for (frame <- Seq(false, true)) inArm(frame)(liveFollowsStore(frame))
  }

  /** Searches a store through a partial commit, a resume, orphan
    * blocks, an index build, a vacuum, a cache clear and a re-encode at
    * the same path: after each, the answers equal brute force, the
    * store's live-block snapshot is a new one wherever the store
    * changed, and at most the current frame stays persisted.
    */
  private def liveFollowsStore(frameArm: Boolean): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val cfg = TokenEncoder.EncodeConfig(targetRowsPerPart = 100)
    val ds = graft.synth.TokenSynth.dataset(spark, 600, parallelism = 4)
    val rows = ds.collect().toSeq
    val dir = tmpDir("graft-liveframe")
    var last: TokenDecoder.LiveBlocks = null
    def check(live: Seq[TokenRow], step: String, rebuilt: Boolean = true): Unit = {
      assertLiveAnswers(spark, dir, live, step)
      val now = TokenDecoder.liveBlocks(spark, dir)
      assert(now.isInstanceOf[TokenDecoder.LiveFrame] == frameArm, step)
      assert((now ne last) == rebuilt, s"snapshot rebuilt after $step: ${now ne last}")
      last = now
      val persisted = sc.getPersistentRDDs.keySet -- persistedBefore
      assert(persisted.size == (if (frameArm) 1 else 0),
        s"${persisted.size} frames persisted after $step")
    }
    // a half-committed store (PipelineSpec's partial-commit setup) is
    // searched, then resumed
    val plan = TokenEncoder.partitionPlan(ds, cfg.targetRowsPerPart)
    val dataParts = rows.map(TokenEncoder.partIdOf(plan, _)).toSet
    val half = dataParts.toSeq.sorted.take(dataParts.size / 2).toSet
    val written = TokenEncoder.encodeBlocks(ds, plan, cfg, Some(half))
    written.write.mode("append").parquet(s"$dir/blocks")
    val blocks = spark.read.parquet(s"$dir/blocks")
    blocks.select(lit("synthetic").as("inputFile"), col("partId"), col("blockId"),
        col("blockRows").as("rowCount"), col("totalTokens"), col("checksum"),
        col("codecId"), col("postCodec"), col("rawBytes"), col("encodedBytes"),
        lit(1.0).as("ratio"), col("encodeMillis"))
      .write.mode("append").parquet(s"$dir/lineage")
    blocks.select("partId", "runId").distinct()
      .write.mode("append").parquet(s"$dir/completed")
    check(rows.filter(r => half(TokenEncoder.partIdOf(plan, r))), "a partial commit")
    TokenEncoder.run(ds, dir, cfg)
    check(rows, "the resume")
    // orphan blocks of a run that never committed change no answer
    TokenEncoder.encodeBlocks(ds, plan, cfg, Some(half))
      .write.mode("append").parquet(s"$dir/blocks")
    check(rows, "appending orphan blocks")
    graft.encode.TokenIndex.build(spark, dir)
    check(rows, "an index build")
    assert(TokenEncoder.vacuum(spark, dir) > 0L)
    check(rows, "vacuum")
    // a frame is a Spark cache and is dropped with the others; driver
    // rows are not, and still match the unchanged store
    spark.catalog.clearCache()
    check(rows, "clearCache", rebuilt = frameArm)
    // a new encode run: different rows re-encoded at the same path
    TokenEncoder.rmTree(new java.io.File(dir))
    val shifted = rows.map(r => r.copy(tokens = r.tokens.map(_ + 3)))
    TokenEncoder.run(spark.createDataset(shifted), dir, cfg)
    check(shifted, "a re-encode at the same path")
  }

  test("a store with lineage but no commit markers throws on every search") {
    val dir = tmpDir("graft-liveframe-nomarkers")
    val ds = graft.synth.TokenSynth.dataset(spark, 400, parallelism = 4)
    TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    assert(CompressedSearch.countTokens(spark, dir, 100, 116).first().getLong(0) ==
      ds.collect().map(r => brute(r.tokens, 100, 116)).sum)
    TokenEncoder.rmTree(new java.io.File(s"$dir/completed"))
    val errs = Seq.fill(2)(intercept[IllegalStateException] {
      CompressedSearch.countTokens(spark, dir, 100, 116).collect()
    }.getMessage)
    assert(errs.forall(_.contains("lineage but no completed/ markers")), errs)
    assert(errs.distinct.size == 1, errs)
  }

  test("over-cap selection: more survivors than the driver cap skip the IN list") {
    import spark.implicits._
    val n = CompressedSearch.MaxSelectedBlockIds + 104
    // every doc holds 7, so every one-row block survives [0, 10]
    val rows = (0 until n).map { i =>
      val toks = Array(i % 50, 7, 1000 + i)
      TokenRow(f"cap-$i%05d", toks, toks.length, "s")
    }
    val dir = tmpDir("graft-overcap")
    TokenEncoder.run(spark.createDataset(rows), dir,
      TokenEncoder.EncodeConfig(blockRows = 1))
    val (lo, hi) = (0, 10)
    assert(CompressedSearch.countTokens(spark, dir, lo, hi).first().getLong(0) ==
      rows.map(r => brute(r.tokens, lo, hi)).sum)
    val search = CompressedSearch.searchDocs(spark, dir, lo, hi)
    val plan = search.queryExecution.executedPlan.toString
    assert(!plan.contains("In(blockId") && !plan.contains("blockId IN"),
      s"over-cap selection must not push a blockId list:\n$plan")
    assert(search.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ==
      rows.map(r => (r.doc_id, r.source) -> brute(r.tokens, lo, hi)).toMap)
  }

  test("over-cap selection joins the payload scan with the cached frame") {
    import spark.implicits._
    val n = CompressedSearch.MaxSelectedBlockIds + 104
    val rows = (0 until n).map { i =>
      val toks = Array(i % 50, 7, 1000 + i)
      TokenRow(f"cap-$i%05d", toks, toks.length, "s")
    }
    val dir = tmpDir("graft-overcap-frame")
    TokenEncoder.run(spark.createDataset(rows), dir,
      TokenEncoder.EncodeConfig(blockRows = 1))
    assert(TokenDecoder.liveBlocks(spark, dir).isInstanceOf[TokenDecoder.LiveFrame])
    val search = CompressedSearch.searchDocs(spark, dir, 0, 10)
    // the plan's leaves: the payload scan of blocks/ and the cached
    // frame, no second read of lineage/, completed/ or tokidx/
    val leaves = search.queryExecution.optimizedPlan.collectLeaves()
    val scanned = leaves.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.map(_.getName)
    }.flatten
    assert(scanned == Seq("blocks"), leaves)
    assert(leaves.exists(_.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryRelation]),
      leaves)
    assert(search.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap ==
      rows.map(r => (r.doc_id, r.source) -> brute(r.tokens, 0, 10)).toMap)
  }

  test("live-block frames are bounded and scoped to their session") {
    val sc = spark.sparkContext
    val bound = TokenDecoder.LiveFrameStores
    val before = sc.getPersistentRDDs.keySet
    val stores = (0 until bound + 2).map { i =>
      val ds = graft.synth.TokenSynth.dataset(spark, 40 + i, parallelism = 2)
      val dir = tmpDir(s"graft-liveframe-lru-$i")
      TokenEncoder.run(ds, dir, TokenEncoder.EncodeConfig(targetRowsPerPart = 20))
      (dir, ds.collect().toSeq)
    }
    inArm(frame = true) {
      for ((dir, rows) <- stores) {
        assert(CompressedSearch.countTokens(spark, dir, 100, 116).first().getLong(0) ==
          rows.map(r => brute(r.tokens, 100, 116)).sum)
        // evicted frames are unpersisted
        val added = sc.getPersistentRDDs.keySet -- before
        assert(added.size <= bound, s"${added.size} frames cached, bound $bound")
      }
      assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "no frame was cached")
    }
    for (frame <- Seq(false, true)) inArm(frame)(replacedUnderSessions())
  }

  /** A second session searches with snapshots of its own: after the
    * store is replaced under the first session's snapshot, no session
    * may read that snapshot's rows.
    */
  private def replacedUnderSessions(): Unit = {
    import spark.implicits._
    val dir = tmpDir("graft-liveframe-sessions")
    val rows = graft.synth.TokenSynth.dataset(spark, 600, parallelism = 4).collect().toSeq
    TokenEncoder.run(spark.createDataset(rows), dir,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    val other = spark.newSession()
    assertLiveAnswers(spark, dir, rows, "a first search")
    assertLiveAnswers(other, dir, rows, "a first search in a new session")
    // replaced the way another application's encode lands: moved into
    // place, so no Spark write in this context refreshes its cache
    val shifted = rows.map(r => r.copy(tokens = r.tokens.map(_ + 5)))
    val staged = tmpDir("graft-liveframe-staged")
    TokenEncoder.run(spark.createDataset(shifted), staged,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    TokenEncoder.rmTree(new java.io.File(dir))
    java.nio.file.Files.move(java.nio.file.Paths.get(staged), java.nio.file.Paths.get(dir))
    val fresh = spark.newSession()
    assertLiveAnswers(fresh, dir, shifted, "a replaced store, in a third session")
    assertLiveAnswers(other, dir, shifted, "a replaced store, in the second session")
    assertLiveAnswers(spark, dir, shifted, "a replaced store, in the first session")
  }

  /** The eight search families of the benchmark's query mix, on `dir`. */
  private def families(dir: String, rows: Seq[TokenRow]): Seq[(String, () => org.apache.spark.sql.DataFrame)] = {
    val rare = rows.filter(_.source == "social").flatMap(_.tokens).head
    val news = rows.filter(r => r.source == "news" && r.tokens.distinct.length >= 2).head.tokens.distinct
    val web = rows.filter(r => r.source == "web" && r.tokens.length >= 3).head.tokens
    Seq(
      "count" -> (() => CompressedSearch.countTokens(spark, dir, 100, 116)),
      "search" -> (() => CompressedSearch.searchDocs(spark, dir, 100, 116)),
      "search_src" -> (() => CompressedSearch.searchDocsInSource(spark, dir, "social", rare, rare)),
      "read" -> (() => CompressedSearch.readDocs(spark, dir, 100, 116).toDF()),
      "phrase" -> (() => CompressedSearch.phraseSearchDocs(spark, dir, web.slice(0, 3))),
      "conj" -> (() => CompressedSearch.searchDocsWithAll(spark, dir, news.take(2))),
      "bm25" -> (() => CompressedSearch.bm25TopK(spark, dir, Array(rare, news(0), web(0)), rows.length)),
      "freq" -> (() => CompressedSearch.tokenFrequency(spark, dir)))
  }

  test("driver-snapshot and frame arms give the same rows for every family") {
    import spark.implicits._
    val rows = graft.synth.TokenSynth.dataset(spark, 600, parallelism = 4).collect().toSeq
    val dir = tmpDir("graft-arms")
    TokenEncoder.run(spark.createDataset(rows), dir,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    // legacy null zone maps on the even partIds, token blooms on the
    // non-dict blocks
    dropZones(dir, col("partId") % 2 === 0)
    graft.encode.TokenIndex.build(spark, dir)
    // the store exercises every tier of the driver loop: null zones,
    // and blocks the zone keeps but the dict symtab or the bloom rejects
    val meta = TokenDecoder.liveMeta(spark, dir)
      .select("codecId", "symtab", "minTok", "maxTok", "bloomEnc")
      .as[(Int, Array[Byte], Option[Int], Option[Int], Array[Byte])].collect()
    assert(meta.exists(_._3.isEmpty) && meta.exists(_._3.nonEmpty))
    assert(meta.exists { case (cid, st, mn, mx, _) =>
      mn.forall(_ <= 116) && mx.forall(_ >= 100) &&
        CompressedSearch.dictRejects(cid, st, 100, 116) })
    val rare = rows.filter(_.source == "social").flatMap(_.tokens).head
    assert(meta.exists { case (cid, _, mn, mx, bloom) =>
      cid != CodecIds.Dict && bloom != null && mn.forall(_ <= rare) && mx.forall(_ >= rare) &&
        !graft.codec.TokBloom.mayContain(bloom, rare) })

    def answers(frame: Boolean): Map[String, Seq[String]] = inArm(frame) {
      assert(TokenDecoder.liveBlocks(spark, dir).isInstanceOf[TokenDecoder.LiveFrame] == frame)
      // the pushed survivor list reaches the payload scan in both arms
      val plan = CompressedSearch.searchDocs(spark, dir, 100, 116)
        .queryExecution.executedPlan.toString
      assert(plan.contains("In(blockId") || plan.contains("blockId IN"), plan)
      assertLiveAnswers(spark, dir, rows, if (frame) "the frame arm" else "the driver arm")
      val bySource = graft.synth.TokenSynth.sources.map(_._1).map { src =>
        s"search_src/$src" -> CompressedSearch.searchDocsInSource(spark, dir, src, 100, 116)
          .collect().map(_.toString).toSeq.sorted
      }
      (families(dir, rows).map { case (f, q) => f -> q().collect().map(_.toString).toSeq.sorted } ++
        bySource).toMap
    }
    val driver = answers(frame = false)
    val frame = answers(frame = true)
    assert(driver.keySet == frame.keySet)
    for (f <- driver.keys) {
      assert(driver(f) == frame(f), f)
      if (!f.startsWith("search_src/")) assert(driver(f).nonEmpty, s"$f: no rows to compare")
    }
  }

  test("a zone map predicate reads the same as a pushed column and as a driver check") {
    import spark.implicits._
    import CompressedSearch.Zone
    val bounds = Seq(None, Some(Int.MinValue), Some(-5), Some(0), Some(7), Some(100),
      Some(116), Some(117), Some(Int.MaxValue))
    val blocks = for (mn <- bounds; mx <- bounds) yield (mn, mx)
    val df = blocks.toDF("minTok", "maxTok")
    for (z <- Seq(Zone.intersects(100, 116), Zone.intersects(Int.MinValue, Int.MaxValue),
        Zone.intersects(7, 7), Zone.holdsAny(Array(0, 117)), Zone.holdsAll(Array(116, -5, 7)))) {
      val pushed = df.where(z.column).as[(Option[Int], Option[Int])].collect().toSeq
      val driver = blocks.filter { case (mn, mx) => z.keeps(mn, mx) }
      assert(pushed.sortBy(_.toString) == driver.sortBy(_.toString), z)
    }
  }

  test("warm search calls stay within their Spark-job budgets") {
    // measured on the driver snapshot: block selection runs no job, so
    // a warm call is its payload scan's jobs; lower these when a change
    // removes jobs, never raise them to pass
    val budget = Map("count" -> 2, "search" -> 2, "search_src" -> 2, "read" -> 1,
      "phrase" -> 2, "conj" -> 3, "bm25" -> 3, "freq" -> 2)
    import spark.implicits._
    val rows = graft.synth.TokenSynth.dataset(spark, 600, parallelism = 4).collect().toSeq
    val dir = tmpDir("graft-warm-jobs")
    TokenEncoder.run(spark.createDataset(rows), dir,
      TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    graft.encode.TokenIndex.build(spark, dir)
    for ((f, q) <- families(dir, rows)) {
      q().collect()
      val jobs = jobsOf { q().collect(); () }
      info(s"$f: $jobs warm jobs")
      assert(jobs <= budget(f), s"warm $f ran $jobs jobs, budget ${budget(f)}")
    }
  }
}
