package graft

import graft.encode.{CompressedSearch, StoreTables, TokenDecoder, TokenEncoder, TokenIndex}
import graft.encode.TokenEncoder.EncodeConfig
import graft.model.TokenRow
import graft.stats.TokenStatsAgg
import graft.synth.TokenSynth

/** End-to-end pipeline invariants (SURVEY.md §5.2 items 1, 4, 5):
  * round trip, exact resume, crash tolerance, stats-agg correctness,
  * compression-ratio gate vs zstd-parquet.
  */
class PipelineSpec extends SparkSpecBase {

  private val N = 6000L

  /** Measured Spark jobs per call: a fresh encode (plan sample, block
    * write, one lineage readback collect; the lineage and marker
    * commits are driver-written files, no jobs), then a full
    * decode and a countTokens on the committed, indexed store — first
    * cold (it builds the store's live-block snapshot), then warm (the
    * unchanged store's snapshot is reused: block selection runs on the
    * driver, so only the payload scan's jobs are left). The committed
    * block set is resolved on the driver (lineage and markers read
    * with no job), so neither decode nor the snapshot build runs a
    * join's broadcast job.
    */
  private val EncodeJobBudget = 6
  private val DecodeJobBudget = 2
  private val CountJobBudget = 4
  private val WarmCountJobBudget = 2

  private def synth = TokenSynth.dataset(spark, N, parallelism = 4)

  private def assertSameTable(a: org.apache.spark.sql.Dataset[TokenRow],
                              b: org.apache.spark.sql.Dataset[TokenRow]): Unit = {
    val da = a.toDF()
    val db = b.toDF()
    assert(da.exceptAll(db).count() == 0 && db.exceptAll(da).count() == 0)
  }

  test("synth is deterministic and independent of parallelism") {
    import spark.implicits._
    val a = TokenSynth.dataset(spark, 2000, parallelism = 2)
    val b = TokenSynth.dataset(spark, 2000, parallelism = 7)
    assertSameTable(a, b)
    // invariant from input_hint: n_tok == tokens.length
    assert(a.filter(r => r.n_tok != r.tokens.length).count() == 0)
    // every source regime appears
    assert(a.map(_.source).distinct().count() == 8)
  }

  test("encode -> decode round-trips the full table") {
    val out = tmpDir("rt")
    val lineage = TokenEncoder.run(synth, out, EncodeConfig(targetRowsPerPart = 1000))
    assert(lineage.count() > 0)
    assertSameTable(synth, TokenDecoder.read(spark, out))
    // the run commits lineage and markers as ONE file each, and an
    // inferring read of either sees the table's fixed schema
    for ((t, schema) <- Seq("lineage" -> StoreTables.Lineage,
                            "completed" -> StoreTables.Completed)) {
      assert(StoreTables.dataFiles(spark, s"$out/$t").size == 1, t)
      assert(spark.read.parquet(s"$out/$t").schema.map(f => (f.name, f.dataType)) ==
        schema.map(f => (f.name, f.dataType)), t)
    }
    assert(TokenDecoder.auditStore(spark, out).collect().forall(_.getAs[Boolean]("ok")))
    // column pruning survives the typed decode boundary (r7): the
    // blocks scan must not read the columns decode never touches —
    // docBloomEnc (real per-block bloom bytes) and the byte-count/
    // timing metadata. A `.as[EncodedBlock]` without the pruned
    // projection would pull all of them through every decode pass.
    val plan = TokenDecoder.read(spark, out)
      .queryExecution.executedPlan.toString
    // ReadSchema gets truncated in toString; the FileScan's projected
    // column list is complete — assert on that
    val blockScans = "FileScan parquet \\[[^\\]]*\\]".r.findAllIn(plan)
      .filter(_.contains("payload")).toList
    assert(blockScans.nonEmpty, s"no blocks scan found in:\n$plan")
    for (s <- blockScans; dead <- Seq("docBloomEnc", "rawBytes",
        "encodedBytes", "metaBytes", "encodeMillis"))
      assert(!s.contains(dead), s"decode scan reads dead column $dead: $s")
  }

  test("plan.json survives source names containing tabs and newlines") {
    val out = tmpDir("plan-esc")
    val plan = Map("web\tmirror" -> (0, 2), "a\nb" -> (2, 1),
      "c++docs" -> (3, 1), "100%web" -> (4, 1))
    TokenEncoder.savePlan(plan, out)
    assert(TokenEncoder.loadPlan(out).contains(plan))
    // a legacy (pre-marker) plan file reads VERBATIM — '+' and '%' in
    // old source names must not be URL-decoded
    val legacy = tmpDir("plan-legacy")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$legacy/plan.json"),
      "c++docs\t0\t2\n100%web\t2\t1")
    assert(TokenEncoder.loadPlan(legacy)
      .contains(Map("c++docs" -> (0, 2), "100%web" -> (2, 1))))
  }

  test("a run whose commit markers never landed is invisible and re-encodes cleanly") {
    import spark.implicits._
    val out = tmpDir("no-markers")
    val cfg = EncodeConfig(targetRowsPerPart = 1000)
    TokenEncoder.run(synth, out, cfg)
    // simulate a crash AFTER blocks+lineage committed but BEFORE the
    // commit markers were written
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$out/completed"))
    // without markers nothing is committed: resume sees no done parts,
    // and a DIRECT read fails LOUDLY — lineage with no markers is
    // indistinguishable from a pre-marker-protocol legacy store, and
    // silently returning zero rows for a store that visibly holds
    // data reads as data loss (ADVICE r3)
    assert(TokenEncoder.committedPartIds(spark, out).isEmpty)
    val err = intercept[IllegalStateException] {
      TokenDecoder.read(spark, out).count()
    }
    assert(err.getMessage.contains("commit-marker"))
    // ...and a resume re-encodes everything under a new runId; the
    // orphaned first attempt (full lineage AND blocks!) must not
    // produce duplicate rows on read
    TokenEncoder.run(synth, out, cfg)
    assertSameTable(synth, TokenDecoder.read(spark, out, verifyChecksums = true))
    // vacuum reclaims the orphaned attempt's blocks
    assert(TokenEncoder.vacuum(spark, out) > 0L)
    assertSameTable(synth, TokenDecoder.read(spark, out, verifyChecksums = true))
  }

  test("a metadata dir holding only _temporary reads as nothing-committed") {
    val out = tmpDir("crash-dir")
    new java.io.File(s"$out/completed/_temporary").mkdirs()
    new java.io.File(s"$out/lineage/_temporary").mkdirs()
    assert(TokenEncoder.committedPartIds(spark, out).isEmpty)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    val cfg = EncodeConfig(targetRowsPerPart = 1000)
    // completed/ holding only a killed marker write's _temporary, next
    // to committed lineage: still the loud "no markers" failure, never
    // an empty read of a store that visibly holds data
    val store = tmpDir("crash-completed")
    TokenEncoder.run(synth, store, cfg)
    rm(new java.io.File(s"$store/completed"))
    new java.io.File(s"$store/completed/_temporary/0").mkdirs()
    val err = intercept[IllegalStateException] {
      TokenDecoder.read(spark, store).count()
    }
    assert(err.getMessage.contains("lineage but no completed/ markers"))
    // tokidx/ holding only a crashed build's _temporary: no index, so
    // search degrades to the unpruned walk with the brute-force answer
    val indexed = tmpDir("crash-tokidx")
    TokenEncoder.run(synth, indexed, cfg)
    // a commit killed mid-file leaves a hidden, truncated temporary
    // next to the committed file: readers, resume and the audit all
    // skip it exactly like _temporary
    for (t <- Seq("lineage", "completed")) {
      val f = StoreTables.dataFiles(spark, s"$indexed/$t").head
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f.toUri))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$indexed/$t/.${f.getName}-killed.tmp"),
        bytes.take(bytes.length / 2))
    }
    assertSameTable(synth, TokenDecoder.read(spark, indexed))
    assert(TokenEncoder.run(synth, indexed, cfg).count() == 0)
    assert(TokenDecoder.auditStore(spark, indexed).collect().forall(_.getAs[Boolean]("ok")))
    new java.io.File(s"${TokenIndex.path(indexed)}/_temporary/0").mkdirs()
    assert(TokenIndex.load(spark, indexed).isEmpty)
    val (lo, hi) = (100, 116)
    val want = synth.collect()
      .map(_.tokens.count(t => t >= lo && t <= hi).toLong).sum
    assert(want > 0L)
    assert(CompressedSearch.countTokens(spark, indexed, lo, hi)
      .first().getLong(0) == want)
    assert(CompressedSearch.searchDocs(spark, indexed, lo, hi)
      .agg(org.apache.spark.sql.functions.sum("n_hits")).first().getLong(0) == want)
  }

  test("encode, decode and countTokens stay within their Spark-job budgets") {
    // the committed-block path reads graft's own fixed table schemas:
    // a schema-inferring read (one footer job each) or a redundant
    // shuffle on this path shows up here as extra jobs per call
    val out = tmpDir("job-budget")
    val encodeJobs = jobsOf {
      TokenEncoder.run(synth, out, EncodeConfig(targetRowsPerPart = 1000)); ()
    }
    info(s"encode: $encodeJobs jobs")
    assert(encodeJobs <= EncodeJobBudget, s"encode ran $encodeJobs jobs")
    TokenIndex.build(spark, out)
    val decodeJobs = jobsOf { TokenDecoder.read(spark, out).count(); () }
    info(s"decode: $decodeJobs jobs")
    assert(decodeJobs <= DecodeJobBudget, s"decode ran $decodeJobs jobs")
    val countJobs = jobsOf {
      CompressedSearch.countTokens(spark, out, 100, 116).collect(); ()
    }
    info(s"countTokens, cold: $countJobs jobs")
    assert(countJobs <= CountJobBudget, s"countTokens ran $countJobs jobs")
    val warmJobs = jobsOf {
      CompressedSearch.countTokens(spark, out, 100, 116).collect(); ()
    }
    info(s"countTokens, warm: $warmJobs jobs")
    assert(warmJobs <= WarmCountJobBudget, s"warm countTokens ran $warmJobs jobs")
  }

  test("savePlan refuses to replace a different pinned plan") {
    val out = tmpDir("plan-pin")
    val p1 = Map("a" -> (0, 1))
    TokenEncoder.savePlan(p1, out)
    TokenEncoder.savePlan(p1, out) // identical re-pin is a no-op
    intercept[IllegalStateException] {
      TokenEncoder.savePlan(Map("a" -> (0, 2)), out)
    }
    assert(TokenEncoder.loadPlan(out).contains(p1))
  }

  test("readMeta matches the full decode's metadata without reading payloads") {
    import spark.implicits._
    val out = tmpDir("meta")
    TokenEncoder.run(synth, out, EncodeConfig(targetRowsPerPart = 1000))
    val meta = TokenDecoder.readMeta(spark, out)
    // payload (and symtab) must be pruned out of the parquet scan
    val plan = meta.queryExecution.executedPlan.toString
    assert(!plan.contains("payload"), plan)
    val got = meta.collect().map(m => (m.doc_id, m.n_tok, m.source)).sorted.toSeq
    val want = TokenDecoder.read(spark, out).collect()
      .map(r => (r.doc_id, r.n_tok, r.source)).sorted.toSeq
    assert(got == want)
  }

  test("resume completes a partial encode exactly (no dup, no skip)") {
    import spark.implicits._
    val out = tmpDir("resume")
    val cfg = EncodeConfig(targetRowsPerPart = 500)
    val ds = synth
    val plan = TokenEncoder.partitionPlan(ds, cfg.targetRowsPerPart)
    // partitions that actually hold data (overflow slots may be empty)
    val dataParts = ds.collect().map(r => TokenEncoder.partIdOf(plan, r)).toSet
    // simulate a first run that only committed half the partitions,
    // its lineage and markers Spark write jobs (as in every store
    // written before run() committed from the driver)
    val half = dataParts.toSeq.sorted.take(dataParts.size / 2).toSet
    val blocks = TokenEncoder.encodeBlocks(ds, plan, cfg, Some(half))
    blocks.write.mode("append").parquet(s"$out/blocks")
    val written = spark.read.parquet(s"$out/blocks")
    written.select(
      org.apache.spark.sql.functions.lit("synthetic").as("inputFile"),
      $"partId", $"blockId", $"blockRows".as("rowCount"),
      $"totalTokens", $"checksum", $"codecId", $"postCodec",
      $"rawBytes", $"encodedBytes",
      org.apache.spark.sql.functions.lit(1.0).as("ratio"),
      $"encodeMillis"
    ).write.mode("append").parquet(s"$out/lineage")
    // a committed run writes its (partId, runId) markers LAST — they
    // are what makes the half count as done
    written.select($"partId", $"runId").distinct()
      .write.mode("append").parquet(s"$out/completed")
    assert(TokenEncoder.committedPartIds(spark, out) == half)
    val sparkFiles = Seq("lineage", "completed")
      .map(t => t -> StoreTables.dataFiles(spark, s"$out/$t").size).toMap
    // resume
    val resumed = TokenEncoder.run(ds, out, cfg)
    val resumedParts = resumed.select("partId").distinct().as[Int].collect().toSet
    assert(resumedParts == (dataParts -- half))
    val back = TokenDecoder.read(spark, out)
    assertSameTable(ds, back)
    // doc_ids unique => no duplicates from the overlap
    assert(back.select("doc_id").distinct().count() == back.count())
    // idempotent: a third run encodes nothing
    assert(TokenEncoder.run(ds, out, cfg).count() == 0)
    // the Spark-written first commit and the driver-written resume
    // commit (one file per table) read as one store: it audits clean
    // and merges at the row level with a store sharing its plan
    for (t <- Seq("lineage", "completed"))
      assert(StoreTables.dataFiles(spark, s"$out/$t").size ==
        sparkFiles(t) + 1, t)
    assert(TokenDecoder.auditStore(spark, out).collect().forall(_.getAs[Boolean]("ok")))
    val other = tmpDir("resume-other")
    val extra = TokenSynth.dataset(spark, 500, seed = 7L)
    TokenEncoder.savePlan(plan, other)
    TokenEncoder.run(extra, other, cfg)
    val merged = s"${tmpDir("resume-merge")}/st"
    assert(TokenEncoder.mergeStores(spark, Seq(out, other), merged).rowLevel)
    assertSameTable(ds.union(extra), TokenDecoder.read(spark, merged))
    assert(TokenDecoder.auditStore(spark, merged).collect().forall(_.getAs[Boolean]("ok")))
  }

  test("uncommitted blocks (crash between blocks and lineage) are ignored and re-encoded") {
    val out = tmpDir("crash")
    val cfg = EncodeConfig(targetRowsPerPart = 2000)
    val ds = synth
    val plan = TokenEncoder.partitionPlan(ds, cfg.targetRowsPerPart)
    val someParts = plan.values.map(_._1).take(2).toSet
    // blocks written but lineage never committed — simulated crash
    TokenEncoder.encodeBlocks(ds, plan, cfg, Some(someParts))
      .write.mode("append").parquet(s"$out/blocks")
    assert(TokenEncoder.committedPartIds(spark, out).isEmpty)
    TokenEncoder.run(ds, out, cfg)
    val back = TokenDecoder.read(spark, out)
    assertSameTable(ds, back)
    assert(back.select("doc_id").distinct().count() == back.count())
  }

  test("doc ids with newlines and odd characters survive block metadata") {
    val ids = Array("a\nb", "", "tab\there", "unicode-ид", "plain-0001")
    val enc = graft.codec.StringCols.encodeDocIds(ids, ids.length)
    assert(graft.codec.StringCols.decodeDocIds(enc, ids.length).sameElements(ids))
  }

  test("resume uses the pinned plan even when input layout changes") {
    import spark.implicits._
    val out = tmpDir("pinned")
    val cfg = EncodeConfig(targetRowsPerPart = 500)
    // first run with one layout
    val ds4 = TokenSynth.dataset(spark, N, parallelism = 4)
    TokenEncoder.run(ds4, out, cfg)
    val plan1 = TokenEncoder.loadOrCreatePlan(ds4, out, cfg.targetRowsPerPart)
    // re-run with a very different partition layout: plan must load
    // from disk, resume must do nothing, decode must stay exact
    val ds13 = TokenSynth.dataset(spark, N, parallelism = 13)
    val plan2 = TokenEncoder.loadOrCreatePlan(ds13, out, cfg.targetRowsPerPart)
    assert(plan1 == plan2)
    assert(TokenEncoder.run(ds13, out, cfg).count() == 0)
    assertSameTable(ds13, TokenDecoder.read(spark, out))
  }

  test("idempotent re-run hits the early return (overflow slots marked complete)") {
    val out = tmpDir("early")
    val cfg = EncodeConfig(targetRowsPerPart = 1000)
    TokenEncoder.run(synth, out, cfg)
    val done = TokenEncoder.committedPartIds(spark, out)
    val plan = TokenEncoder.loadOrCreatePlan(synth, out, cfg.targetRowsPerPart)
    assert(TokenEncoder.allPartIds(plan).subsetOf(done),
      s"uncommitted: ${TokenEncoder.allPartIds(plan) -- done}")
  }

  test("vacuum removes uncommitted blocks and decode is unchanged") {
    val out = tmpDir("vacuum")
    val cfg = EncodeConfig(targetRowsPerPart = 2000)
    val ds = synth
    val plan = TokenEncoder.partitionPlan(ds, cfg.targetRowsPerPart)
    // crashed attempt: blocks with no lineage
    TokenEncoder.encodeBlocks(ds, plan, cfg, Some(Set(plan.values.head._1)))
      .write.mode("append").parquet(s"$out/blocks")
    TokenEncoder.run(ds, out, cfg) // clean full run
    val before = spark.read.parquet(s"$out/blocks").count()
    val removed = TokenEncoder.vacuum(spark, out)
    assert(removed > 0)
    assert(spark.read.parquet(s"$out/blocks").count() == before - removed)
    assertSameTable(ds, TokenDecoder.read(spark, out))
    assert(TokenEncoder.vacuum(spark, out) == 0) // idempotent
  }

  test("apply transform (undatum apply) maps records with typed encoder") {
    import spark.implicits._
    // examples/script.py semantics: rename a field via row map
    val ds = Seq(("t1", 1), ("t2", 2)).toDF("title", "n").as[(String, Int)]
    val out = graft.operators.Transform.applyTyped(ds,
      (r: (String, Int)) => (r._1.toUpperCase, r._2 * 10))
    assert(out.collect().toSet == Set(("T1", 10), ("T2", 20)))
  }

  test("checksum-verified read detects a corrupted block payload") {
    import spark.implicits._
    val out = tmpDir("corrupt")
    TokenEncoder.run(synth, out, EncodeConfig(targetRowsPerPart = 2000))
    // clean read passes with verification on
    assert(TokenDecoder.read(spark, out, verifyChecksums = true).count() == N)
    // flip one payload byte in one block and rewrite the blocks table
    val blocks = spark.read.parquet(s"$out/blocks").as[graft.model.EncodedBlock].collect()
    // pick a block WITHOUT the zstd post-pass so the corruption reaches
    // our checksum rather than zstd's own frame check
    val victim = blocks.indexWhere(b => b.postCodec == 0 && b.payload.length > 100)
    assert(victim >= 0)
    val corrupted = blocks.zipWithIndex.map { case (b, i) =>
      if (i != victim) b
      else {
        val p = b.payload.clone()
        p(p.length / 2) = (p(p.length / 2) ^ 0x5A).toByte
        b.copy(payload = p)
      }
    }
    spark.createDataset(corrupted.toIndexedSeq)
      .write.mode("overwrite").option("compression", "uncompressed")
      .parquet(s"$out/blocks2")
    // swap dirs
    val f = new java.io.File(s"$out/blocks")
    val f2 = new java.io.File(s"$out/blocks2")
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles().foreach(rm)
      x.delete()
    }
    rm(f); f2.renameTo(f)
    val ex = intercept[org.apache.spark.SparkException] {
      TokenDecoder.read(spark, out, verifyChecksums = true).count()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(5)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    val msgs = chain(ex).mkString(" | ")
    assert(msgs.contains("checksum mismatch"), msgs)
  }

  test("lineage checksums match decoded content per block") {
    import spark.implicits._
    val out = tmpDir("cksum")
    TokenEncoder.run(synth, out, EncodeConfig(targetRowsPerPart = 1000))
    val blocks = spark.read.parquet(s"$out/blocks").as[graft.model.EncodedBlock]
    val bad = blocks.map { b =>
      val toks = graft.codec.BlockCodec.decode(
        b.codecId, b.postCodec, b.symtab, b.payload, b.totalTokens.toInt)
      if (graft.codec.BlockCodec.checksum(toks, toks.length) == b.checksum) 0 else 1
    }.reduce(_ + _)
    assert(bad == 0)
  }

  test("salting splits a 90%-skewed source into balanced partitions") {
    import spark.implicits._
    // adversarial skew: one source dominates
    val ds = spark.range(0, 4000, 1, 4).map { id =>
      val src = if (id % 10 < 9) "mega" else s"tiny${id % 3}"
      graft.model.TokenRow(f"$src-$id%08d", Array.fill(20)((id % 97).toInt), 20, src)
    }
    val target = 200
    val plan = TokenEncoder.partitionPlan(ds, target)
    // the dominant source must be salted into many partitions
    assert(plan("mega")._2 >= 10, plan.toString)
    val counts = ds.collect().groupBy(r => TokenEncoder.partIdOf(plan, r))
      .map(_._2.length)
    assert(counts.max <= target * 2,
      s"max partition ${counts.max} rows exceeds 2x target (skew unhandled)")
    // and the table still round-trips through the salted encode
    val out = tmpDir("skew")
    TokenEncoder.run(ds, out, EncodeConfig(targetRowsPerPart = target))
    assertSameTable(ds, TokenDecoder.read(spark, out))
  }

  test("typed stats aggregator matches brute force") {
    import spark.implicits._
    val ds = TokenSynth.dataset(spark, 500, parallelism = 3)
    val agg = ds.select(TokenStatsAgg.toColumn).collect()(0)
    val rows = ds.collect()
    val toks = rows.flatMap(_.tokens)
    assert(agg.rows == rows.length)
    assert(agg.totalTokens == toks.length)
    assert(agg.emptyDocs == rows.count(_.tokens.isEmpty))
    assert(agg.minTok == toks.min && agg.maxTok == toks.max)
    assert(agg.minLen == rows.map(_.n_tok).min && agg.maxLen == rows.map(_.n_tok).max)
    val expRuns = rows.map { r =>
      var c = 0L
      var i = 0
      while (i < r.tokens.length) {
        if (i == 0 || r.tokens(i) != r.tokens(i - 1)) c += 1
        i += 1
      }
      c
    }.sum
    assert(agg.runs == expRuns)
  }

  test("compression gate: encoded tokens <= zstd-parquet of raw tokens column") {
    import spark.implicits._
    val out = tmpDir("gate")
    val ds = TokenSynth.dataset(spark, 4000, parallelism = 4)
    val lineage = TokenEncoder.run(ds, out, EncodeConfig(targetRowsPerPart = 1000))
    val ours = lineage.agg(org.apache.spark.sql.functions.sum("encodedBytes"))
      .collect()(0).getLong(0)
    val refDir = tmpDir("gate-ref")
    ds.select("tokens").write.mode("overwrite")
      .option("compression", "zstd").parquet(refDir)
    val ref = dirSize(refDir)
    info(s"ours=$ours zstd-parquet=$ref ratio=${ref.toDouble / ours}")
    assert(ours <= ref, s"encoded $ours > zstd-parquet baseline $ref")
  }

  test("deleteDocs: surgical rewrite — clean partitions copied verbatim, targets gone") {
    import spark.implicits._
    val s = spark
    val rows = graft.synth.TokenSynth.dataset(s, 800)
    val in = tmpDir("del-in")
    graft.encode.TokenEncoder.run(rows, in,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 100))
    val all = graft.encode.TokenDecoder.read(s, in).collect()
    // pick targets from three different sources so several partitions
    // go dirty while most stay clean
    val targets = all.groupBy(_.source).toSeq.sortBy(_._1).take(3)
      .map(_._2.minBy(_.doc_id).doc_id)
    val out = s"${tmpDir("del-out")}/st"
    val (total, copied, reenc, deleted) =
      graft.encode.TokenEncoder.deleteDocs(s, in, out, targets)
    assert(deleted == targets.length.toLong)
    assert(reenc >= 1 && copied >= 1 && copied + reenc == total)
    // content: exactly the survivors, token payloads intact
    val back = graft.encode.TokenDecoder.read(s, out).collect()
    assert(back.map(_.doc_id).toSet == all.map(_.doc_id).toSet -- targets)
    val origById = all.map(r => r.doc_id -> r.tokens.toSeq).toMap
    assert(back.forall(r => r.tokens.toSeq == origById(r.doc_id)))
    // surgical: every clean partition's blocks moved VERBATIM — same
    // blockId + checksum (no re-encode); dirty partitions carry a
    // fresh runId prefix
    val inBlk = s.read.parquet(s"$in/blocks")
      .select("partId", "blockId", "checksum").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val outBlk = s.read.parquet(s"$out/blocks")
      .select("partId", "blockId", "checksum").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val dirtyParts = outBlk.map(_._1).toSet --
      outBlk.filter(b => inBlk.contains(b)).map(_._1).toSet
    val cleanIn = inBlk.filterNot(b => dirtyParts.contains(b._1)).toSet
    val cleanOut = outBlk.filterNot(b => dirtyParts.contains(b._1)).toSet
    assert(cleanIn == cleanOut && cleanIn.nonEmpty)
    // the new store is first-class: source-pruned reads and
    // compressed-domain queries run over mixed copied/re-encoded parts
    val mass = graft.encode.CompressedSearch.tokenFrequency(s, out)
      .agg(org.apache.spark.sql.functions.sum("n_occ"))
      .collect()(0).getLong(0)
    assert(mass == back.map(_.n_tok.toLong).sum)
    // point lookup on a deleted id finds nothing; a survivor resolves
    assert(graft.encode.TokenDecoder.readDocsById(s, out, targets).isEmpty)
    val survivor = back.head.doc_id
    assert(graft.encode.TokenDecoder.readDocsById(s, out, Seq(survivor))
      .collect().map(_.doc_id).toSeq == Seq(survivor))
    // fresh-dir contract: re-running into the same dir refuses
    intercept[IllegalArgumentException] {
      graft.encode.TokenEncoder.deleteDocs(s, in, out, targets)
    }
  }

  test("mergeStores: same-plan stores concatenate at the row level, zero decode") {
    val s = spark
    val full = graft.synth.TokenSynth.dataset(s, 900)
    val halfA = full.filter(r => (r.doc_id.hashCode & 1) == 0)
    val halfB = full.filter(r => (r.doc_id.hashCode & 1) == 1)
    // the ingest pattern merge exists for: both batches pin the SAME
    // master plan (sized for the full corpus) before encoding
    val plan = TokenEncoder.partitionPlan(full, targetRowsPerPart = 120)
    val (dirA, dirB) = (tmpDir("mg-a"), tmpDir("mg-b"))
    TokenEncoder.savePlan(plan, dirA)
    TokenEncoder.savePlan(plan, dirB)
    TokenEncoder.run(halfA, dirA, EncodeConfig(targetRowsPerPart = 120))
    TokenEncoder.run(halfB, dirB, EncodeConfig(targetRowsPerPart = 120))
    val out = s"${tmpDir("mg-out")}/st"
    val mr = TokenEncoder.mergeStores(s, Seq(dirA, dirB), out)
    assert(mr.rowLevel, "same-plan merge must take the zero-decode path")
    assert(mr.fallbackReason.isEmpty)
    assert(mr.rowsTotal == full.count())
    // content: the merged store reads back as exactly the union
    assertSameTable(full, TokenDecoder.read(s, out))
    // row-level means BYTE-level: every input block travels verbatim —
    // blockId+checksum set of the output is the union of the inputs
    def blkSet(d: String) = s.read.parquet(s"$d/blocks")
      .select("blockId", "checksum").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(blkSet(out) == blkSet(dirA) ++ blkSet(dirB))
    assert(mr.blocksCopied == (blkSet(dirA) ++ blkSet(dirB)).size.toLong)
    // the merged store is first-class: compressed-domain mass check,
    // source-pruned read, and run()-resume sees nothing pending
    val mass = graft.encode.CompressedSearch.tokenFrequency(s, out)
      .agg(org.apache.spark.sql.functions.sum("n_occ"))
      .collect()(0).getLong(0)
    assert(mass == full.collect().map(_.n_tok.toLong).sum)
    val src = full.collect().map(_.source).distinct.sorted.head
    assert(TokenDecoder.readSource(s, out, src).count() ==
      full.filter(_.source == src).count())
    assert(TokenEncoder.run(full, out,
      EncodeConfig(targetRowsPerPart = 120)).count() == 0,
      "merged store must read as fully committed (resume no-op)")
    // fresh-dir contract
    intercept[IllegalArgumentException] {
      TokenEncoder.mergeStores(s, Seq(dirA, dirB), out)
    }
    intercept[IllegalArgumentException] {
      TokenEncoder.mergeStores(s, Seq(dirA), tmpDir("mg-one"))
    }
    intercept[IllegalArgumentException] {
      TokenEncoder.mergeStores(s, Seq(dirA, dirB), dirB)
    }
  }

  test("mergeStores: differing plans fall back to full re-encode; duplicates preserved") {
    val s = spark
    val full = graft.synth.TokenSynth.dataset(s, 600)
    val halfA = full.filter(r => (r.doc_id.hashCode & 1) == 0)
    val halfB = full.filter(r => (r.doc_id.hashCode & 1) == 1)
    val (dirA, dirB) = (tmpDir("mgf-a"), tmpDir("mgf-b"))
    // each store computes its OWN plan (no shared pin) — plans differ
    TokenEncoder.run(halfA, dirA, EncodeConfig(targetRowsPerPart = 80))
    TokenEncoder.run(halfB, dirB, EncodeConfig(targetRowsPerPart = 200))
    val out = s"${tmpDir("mgf-out")}/st"
    val mr = TokenEncoder.mergeStores(s, Seq(dirA, dirB), out)
    assert(!mr.rowLevel && mr.blocksCopied == 0L &&
      mr.rowsTotal == full.count())
    assert(mr.fallbackReason.contains("plans differ"))
    assertSameTable(full, TokenDecoder.read(s, out))
    // same store twice: the runId-collision guard forces the re-encode
    // path (identical runIds would make blockIds ambiguous), and the
    // duplicate rows are PRESERVED like any table union — and the
    // fallback reason names the COLLISION, not a plan mismatch
    val out2 = s"${tmpDir("mgf-dup")}/st"
    val mr2 = TokenEncoder.mergeStores(s, Seq(dirA, dirA), out2)
    assert(!mr2.rowLevel && mr2.rowsTotal == 2L * halfA.count())
    assert(mr2.fallbackReason.contains("runId collision between stores"))
    val backIds = TokenDecoder.read(s, out2).collect().map(_.doc_id)
    assert(backIds.length == 2 * halfA.count().toInt)
    assert(backIds.toSet == halfA.collect().map(_.doc_id).toSet)
  }

  test("auditStore: clean / orphan / missing / corrupted states reported") {
    val s = spark
    import org.apache.spark.sql.functions.{col, concat, lit}
    val ds = graft.synth.TokenSynth.dataset(s, 300)
    val dir = tmpDir("audit-in")
    TokenEncoder.run(ds, dir, EncodeConfig(targetRowsPerPart = 100))
    // clean store: every partId ok, row masses agree, verify passes
    val a1 = TokenDecoder.auditStore(s, dir, verifyChecksums = true).collect()
    assert(a1.nonEmpty && a1.forall(_.getAs[Boolean]("ok")))
    assert(a1.map(_.getAs[Long]("rows_blocks")).sum == 300L)
    assert(a1.map(_.getAs[Long]("rows_lineage")).sum == 300L)
    assert(a1.forall(r => r.getAs[Long]("orphan_blocks") == 0L &&
      r.getAs[Long]("missing_blocks") == 0L &&
      r.getAs[Long]("checksum_fails") == 0L))
    // orphan: a block under an UNMARKED runId (a crashed run's
    // leftover) — tolerated (readers ignore it), ok stays true
    s.read.parquet(s"$dir/blocks").limit(1)
      .withColumn("runId", lit("rdeadbeefdeadbee"))
      .withColumn("blockId",
        concat(lit("rdeadbeefdeadbee-"), col("partId"), lit("-0")))
      .write.mode("append").option("compression", "uncompressed")
      .parquet(s"$dir/blocks")
    val a2 = TokenDecoder.auditStore(s, dir).collect()
    assert(a2.map(_.getAs[Long]("orphan_blocks")).sum == 1L)
    assert(a2.forall(_.getAs[Boolean]("ok")))
    // missing: drop one COMMITTED block's parquet row — its lineage
    // row now dangles; that partId (and only it) must flag
    val victim = s.read.parquet(s"$dir/lineage")
      .orderBy("blockId").limit(1)
      .select("blockId", "partId").collect()(0)
    val (vBlock, vPart) = (victim.getString(0), victim.getInt(1))
    val pruned = s.read.parquet(s"$dir/blocks")
      .where(col("blockId") =!= vBlock)
    val tmp = tmpDir("audit-pruned")
    pruned.write.mode("overwrite")
      .option("compression", "uncompressed").parquet(tmp)
    TokenEncoder.rmTree(new java.io.File(s"$dir/blocks"))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(s"$dir/blocks"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val a3 = TokenDecoder.auditStore(s, dir).collect()
    val bad = a3.filter(!_.getAs[Boolean]("ok"))
    assert(bad.map(_.getAs[Int]("partId")).toSeq == Seq(vPart))
    assert(bad.head.getAs[Long]("missing_blocks") == 1L)
    assert(bad.head.getAs[Long]("rows_blocks") <
      bad.head.getAs[Long]("rows_lineage"))
    // corrupted payload: metadata audit stays blind to it; the verify
    // audit reports it per partId instead of killing the job
    val corruptId = s.read.parquet(s"$dir/lineage")
      .where(col("blockId") =!= vBlock)
      .agg(org.apache.spark.sql.functions.min("blockId"))
      .first().getString(0)
    val flipped = s.read.parquet(s"$dir/blocks")
      .withColumn("payload",
        org.apache.spark.sql.functions.when(col("blockId") === corruptId,
          org.apache.spark.sql.functions.expr("substring(payload, 1, 5)"))
          .otherwise(col("payload")))
    val tmp2 = tmpDir("audit-flip")
    flipped.write.mode("overwrite")
      .option("compression", "uncompressed").parquet(tmp2)
    TokenEncoder.rmTree(new java.io.File(s"$dir/blocks"))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp2),
      java.nio.file.Paths.get(s"$dir/blocks"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val a4 = TokenDecoder.auditStore(s, dir, verifyChecksums = true).collect()
    assert(a4.map(_.getAs[Long]("checksum_fails")).sum >= 1L)
    assert(a4.exists(r => !r.getAs[Boolean]("ok") &&
      r.getAs[Long]("checksum_fails") > 0L))
  }

  test("auditStore verify mode reports (not throws) on a marker-less store") {
    val s = spark
    val ds = graft.synth.TokenSynth.dataset(s, 100)
    val dir = tmpDir("audit-nomark")
    TokenEncoder.run(ds, dir, EncodeConfig(targetRowsPerPart = 50))
    TokenEncoder.rmTree(new java.io.File(s"$dir/completed"))
    // the strict reader refuses this store by design...
    intercept[IllegalStateException] {
      TokenDecoder.read(s, dir).count()
    }
    // ...but the fsck exists to DIAGNOSE exactly this state: every
    // partition unmarked, every block an orphan, nothing verified
    val a = TokenDecoder.auditStore(s, dir, verifyChecksums = true).collect()
    assert(a.nonEmpty && a.forall(!_.getAs[Boolean]("ok")))
    assert(a.forall(!_.getAs[Boolean]("marked")))
    assert(a.map(_.getAs[Long]("orphan_blocks")).sum > 0L)
    assert(a.map(_.getAs[Long]("checksum_fails")).sum == 0L)
  }

  test("readHead: exactly n rows from a bounded block prefix") {
    val s = spark
    val ds = graft.synth.TokenSynth.dataset(s, 300)
    val dir = tmpDir("head-in")
    TokenEncoder.run(ds, dir, EncodeConfig(targetRowsPerPart = 60,
      blockRows = 20))
    val all = ds.collect().map(r => r.doc_id -> r).toMap
    val got = TokenDecoder.readHead(s, dir, 25).collect()
    assert(got.length == 25)
    // every previewed row is a REAL row, tokens intact
    got.foreach { r =>
      assert(all(r.doc_id).tokens.toSeq == r.tokens.toSeq)
    }
    // deterministic: same prefix both times
    assert(TokenDecoder.readHead(s, dir, 25).collect()
      .map(_.doc_id).sorted.toSeq == got.map(_.doc_id).sorted.toSeq)
    // n beyond the store: everything, once
    assert(TokenDecoder.readHead(s, dir, 100000).count() == 300L)
    intercept[IllegalArgumentException] {
      TokenDecoder.readHead(s, dir, 0)
    }
  }

  test("auditStore reports on a pre-protocol store (completed/ without runId)") {
    val s = spark
    val ds = graft.synth.TokenSynth.dataset(s, 80)
    val dir = tmpDir("audit-preproto")
    TokenEncoder.run(ds, dir, EncodeConfig(targetRowsPerPart = 40))
    // rewrite completed/ to the pre-protocol shape: partId only
    val old = s.read.parquet(s"$dir/completed").select("partId")
    val tmp = tmpDir("audit-preproto-mk")
    old.write.mode("overwrite").parquet(tmp)
    TokenEncoder.rmTree(new java.io.File(s"$dir/completed"))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp),
      java.nio.file.Paths.get(s"$dir/completed"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    // the strict reader refuses this store by design...
    intercept[IllegalStateException] {
      TokenDecoder.read(s, dir).count()
    }
    // ...the fsck reports it instead: no usable commitment claims, so
    // everything is unmarked and every block an orphan
    val a = TokenDecoder.auditStore(s, dir, verifyChecksums = true).collect()
    assert(a.nonEmpty && a.forall(!_.getAs[Boolean]("ok")))
    assert(a.forall(!_.getAs[Boolean]("marked")))
    assert(a.map(_.getAs[Long]("orphan_blocks")).sum > 0L)
  }

  test("compactStore: fragmented partitions re-encode, full ones move verbatim") {
    val s = spark
    val full = graft.synth.TokenSynth.dataset(s, 900)
    // split by SOURCE so partId bands are disjoint between the halves:
    // half A encodes with deliberately tiny blocks (fragmented), half
    // B with full ones — the merged store then has both kinds
    val sa = Set("web", "books", "code", "wiki")
    val halfA = full.filter(r => sa.contains(r.source))
    val halfB = full.filter(r => !sa.contains(r.source))
    val plan = TokenEncoder.partitionPlan(full, targetRowsPerPart = 300)
    val (dirA, dirB) = (tmpDir("cp-a"), tmpDir("cp-b"))
    TokenEncoder.savePlan(plan, dirA)
    TokenEncoder.savePlan(plan, dirB)
    TokenEncoder.run(halfA, dirA,
      EncodeConfig(targetRowsPerPart = 300, blockRows = 16))
    TokenEncoder.run(halfB, dirB, EncodeConfig(targetRowsPerPart = 300))
    val merged = s"${tmpDir("cp-m")}/st"
    assert(TokenEncoder.mergeStores(s, Seq(dirA, dirB), merged).rowLevel)
    val out = s"${tmpDir("cp-out")}/st"
    val cr = TokenEncoder.compactStore(s, merged, out)
    assert(cr.partsReencoded > 0, s"tiny-block partitions must rewrite: $cr")
    assert(cr.partsCopied > 0, s"full-block partitions must copy: $cr")
    assert(cr.blocksAfter < cr.blocksBefore, s"block count must drop: $cr")
    assert(cr.rowsTotal == full.count())
    // content survives exactly
    assertSameTable(full, TokenDecoder.read(s, out))
    // the unfragmented share moved VERBATIM: every half-B block
    // (blockId+checksum) is present untouched in the compacted store
    def blkSet(d: String) = s.read.parquet(s"$d/blocks")
      .select("blockId", "checksum").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(blkSet(dirB).subsetOf(blkSet(out)))
    // ...and the fragmented share did NOT: none of half-A's block ids
    // survive (they were consolidated under a fresh runId)
    assert(blkSet(dirA).intersect(blkSet(out)).isEmpty)
    // the compacted store is first-class: resume is a no-op, and the
    // fresh-dir contract refuses a rerun into the same dir
    assert(TokenEncoder.run(full, out,
      EncodeConfig(targetRowsPerPart = 300)).count() == 0,
      "compacted store must read as fully committed (resume no-op)")
    intercept[IllegalArgumentException] {
      TokenEncoder.compactStore(s, merged, out)
    }
  }

  test("compactStore: already-compact store copies everything, no re-encode") {
    val s = spark
    val full = graft.synth.TokenSynth.dataset(s, 400)
    val in = tmpDir("cpn-in")
    TokenEncoder.run(full, in, EncodeConfig(targetRowsPerPart = 150))
    val out = s"${tmpDir("cpn-out")}/st"
    val cr = TokenEncoder.compactStore(s, in, out)
    assert(cr.partsReencoded == 0, s"nothing is fragmented: $cr")
    assert(cr.blocksAfter == cr.blocksBefore)
    def blkSet(d: String) = s.read.parquet(s"$d/blocks")
      .select("blockId", "checksum").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(blkSet(out) == blkSet(in))
    assertSameTable(full, TokenDecoder.read(s, out))
  }

  test("compactStore: legacy store without a plan degrades to a full rewrite") {
    val s = spark
    val full = graft.synth.TokenSynth.dataset(s, 300)
    val in = tmpDir("cpl-in")
    TokenEncoder.run(full, in,
      EncodeConfig(targetRowsPerPart = 100, blockRows = 16))
    assert(new java.io.File(s"$in/plan.json").delete())
    val out = s"${tmpDir("cpl-out")}/st"
    val cr = TokenEncoder.compactStore(s, in, out)
    // the legacy arm reports the ACTUAL distinct-partition count it
    // rewrote (ADVICE r6: a hard-coded 1 understated the work)
    val partsIn = s.read.parquet(s"$in/blocks")
      .select("partId").distinct().count().toInt
    assert(cr.partsCopied == 0 && cr.partsReencoded == partsIn &&
      cr.partsTotal == partsIn && partsIn > 1)
    assert(cr.blocksAfter < cr.blocksBefore)
    assertSameTable(full, TokenDecoder.read(s, out))
  }
}
