package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end training-corpus pipeline over the documents table — the
  * composition story: every stage is one of the engine's operators,
  * all declarative, one narrow pipeline of shuffles.
  *
  *   runMain graft.tools.CorpusPipelineCli [sfDir] [outDir]
  *
  * quality filter -> PII redaction -> repetition filter -> benchmark
  * decontamination -> exact dedup -> minhash near-dup pairs ->
  * transitive cluster removal (connected components, one survivor per
  * cluster) -> per-source quota sample -> token-budget domain mixing
  * -> rank-vocab tokenize -> sequence-packing plan -> encode (salted,
  * resumable) -> checksum-verified decode -> roundtrip gate. Prints
  * one line per stage and PIPELINE-OK on a clean roundtrip.
  */
object CorpusPipelineCli {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-corpus-pipeline")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    println(s"STAGE ingest            rows=${docs.count()}")

    // 1. quality + language gate (columnar text ops): drop docs the
    // language-ID heuristic cannot place at all, and report the mix
    val scored = docs.withColumn("quality_bp",
        graft.text.TextOps.qualityScoreBp(col("text")))
      .withColumn("lang_pred", graft.text.TextOps.langId(col("text")))
    val langMix = scored.groupBy("lang_pred").count()
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(",")
    val kept0 = scored.where(col("quality_bp") >= 3000)
      .where(col("lang_pred") =!= "unknown")
      .drop("lang_pred")
    println(s"STAGE quality_gate      rows=${kept0.count()} langs=$langMix")

    // 1b. PII redaction (before any hashing, so dedup sees scrubbed
    // text) + within-doc repetition filter (Gopher duplicate-bigram
    // share; the synthetic corpus is repetitive, so the gate is loose)
    graft.functions.Shingles.register(spark)
    val kept = kept0.withColumn("text", graft.text.TextOps.redact(col("text")))
      .where(graft.text.TextOps.repetitionBp(col("text"), 2) < 9000)
    println(s"STAGE redact_repetition rows=${kept.count()}")

    // 1c. benchmark decontamination: a held-out md5-derived doc subset
    // plays the benchmark suite; docs whose EVERY bigram appears in it
    // are dropped (shared-vocab corpus -> only total containment goes)
    val isBench = substring(md5(col("doc_id").cast("string")), 1, 1) === "0"
    val decon = graft.dedup.Dedup.removeContaminated(
      kept.where(!isBench), kept.where(isBench), "doc_id", "text",
      thresholdBp = 10000L, n = 2)
      // ~6 downstream actions (stage counts, the minhash plan's
      // branches, CC's checkpoint) would each re-run the regex-heavy
      // gate->redact->decontaminate upstream from the parquet scan
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    println(s"STAGE decontaminate     rows=${decon.count()}")

    // 2. exact dedup survivors (hash-grouped shuffle)
    val survivors = graft.dedup.Dedup.exactDedup(decon, "doc_id", "text")
      .select("doc_id")
    val exactDeduped = decon.join(survivors, Seq("doc_id"), "left_semi")
    println(s"STAGE exact_dedup       rows=${exactDeduped.count()}")

    // 3. near-dup removal with CANONICAL cluster semantics: verified
    // pairs -> connected components -> keep the min id per cluster
    // (the skew cap's drops are surfaced as query metrics)
    val capObs = org.apache.spark.sql.Observation("minhash_cap")
    val nearPairs = graft.dedup.Dedup.minhashPairs(exactDeduped,
      "doc_id", "text", shingleN = 2, k = 64, bands = 0, threshold = 0.6,
      capObs = Some(capObs))
    val nearDeduped = graft.dedup.Dedup.dropClusterLosers(exactDeduped,
      "doc_id", nearPairs)
    println(s"STAGE near_dedup        rows=${nearDeduped.count()} " +
      s"cap_dropped=${capObs.get("rows_dropped")}")

    // 4. per-source quota (reproducible stratified sample), then
    // token-budget domain mixing (uniform weights here; a real run
    // up/down-weights domains)
    val sampled = graft.operators.UndatumOps.stratifiedSample(
      nearDeduped, "source", "doc_id", 20)
      .withColumn("n_tok0", graft.text.TextOps.tokenCount(col("text")))
      // the sources collect, budget agg, mixSample, vocab build and
      // tokenize below are each an action — without this persist every
      // one re-runs the whole gate->dedup->CC pipeline from scratch
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val srcs = sampled.select("source").distinct().as[String].collect()
    val budget = sampled.agg(sum("n_tok0")).as[Long].collect()(0) * 3 / 4
    val mixed = graft.operators.UndatumOps.mixSampleBucketed(sampled, "doc_id",
      "n_tok0", "source", srcs.map(_ -> 1.0).toMap, budget)
    println(s"STAGE quota_mix         rows=${mixed.count()} token_budget=$budget")

    // 5. rank-vocab tokenize (top-4096 words, OOV sentinel = 4096)
    // into the encode input shape
    val vocab = graft.text.TextOps.buildVocab(mixed, "text", 4096)
    val rows = graft.text.TextOps.tokenize(
        mixed, "doc_id", "text", "source", vocab, oovId = 4096)
      .as[graft.model.TokenRow]
      // three downstream consumers (pack plan, encode, roundtrip gate)
      // would each re-run the whole document pipeline otherwise
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 5b. sequence-packing plan: how the sampled corpus chunks into
    // fixed 512-token training sequences (per-source stats)
    val pack = graft.encode.Packing.packingStats(
      rows.toDF(), "doc_id", "n_tok", "source", 512)
      .agg(sum("n_seqs"), sum("n_docs"), sum("split_docs"))
      .as[(Long, Long, Long)].collect()(0)
    println(s"STAGE pack_plan         seqs=${pack._1} docs=${pack._2} split=${pack._3}")

    // 6. encode: salted partitions, lineage commit log
    // cacheInput=false: run()'s own persist+finally-unpersist would
    // otherwise evict the `rows` cache the roundtrip gate still needs
    val lineage = graft.encode.TokenEncoder.run(rows, outDir,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 200,
        cacheInput = false))
    val (blocks, toks, raw, enc) = lineage
      .agg(count(lit(1)), sum("totalTokens"), sum("rawBytes"), sum("encodedBytes"))
      .as[(Long, Long, Long, Long)].collect()(0)
    println(f"STAGE encode            blocks=$blocks tokens=$toks ratio=${raw.toDouble / math.max(1L, enc)}%.2fx")

    // 7. checksum-verified decode + exact roundtrip gate
    val back = graft.encode.TokenDecoder.read(spark, outDir, verifyChecksums = true)
    val bad = rows.toDF().exceptAll(back.toDF()).count() +
      back.toDF().exceptAll(rows.toDF()).count()
    println(s"STAGE decode_verify     rows=${back.count()} mismatches=$bad")
    println(if (bad == 0) "PIPELINE-OK" else "PIPELINE-MISMATCH")
    rows.unpersist(blocking = false)
    sampled.unpersist(blocking = false)
    decon.unpersist(blocking = false)
    spark.stop()
    if (bad != 0) sys.exit(1)
  }
}
