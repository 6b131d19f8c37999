package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.hadoop.fs.Path
import graft.encode.{StoreTables, TokenDecoder, TokenEncoder}
import graft.encode.TokenEncoder.EncodeConfig
import graft.model.TokenRow

/** Continuous ingestion into the encoded columnar store: a streaming
  * Dataset[TokenRow] lands via foreachBatch into one encode-pipeline
  * output dir PER micro-batch (`outDir/batch=N/`).
  *
  * Exactly-once comes from composing two at-least-once layers:
  * Structured Streaming re-runs a failed micro-batch under the SAME
  * batchId, and TokenEncoder.run's lineage commit log skips partitions
  * the previous attempt already committed — so a retried batch
  * re-encodes only its uncommitted remainder, never duplicating rows
  * (the same argument as the batch kill-and-resume test, per batch).
  * Batch dirs are independent: no cross-batch compaction is needed for
  * correctness. Periodic [[compact]]ion of many small batch dirs into
  * one store is an offline maintenance job, not part of the ingest
  * path — and because every batch pins the stream's master plan, it
  * folds at the parquet ROW level in one compactStore pass over all
  * the batch dirs: only each batch's remainder blocks re-encode, clean
  * blocks move as bytes, written once.
  */
object EncodeStream {

  /** The stream's ONE pinned partition plan, created from the first
    * nonempty micro-batch and stored at `outDir/plan.json`: every
    * batch dir pins it, so [[compact]] takes the zero-decode row-level
    * path (one compactStore over the batch dirs) instead of re-encoding
    * clean data. Sources first seen in LATER batches route to the overflow
    * band — still exact, occasionally skewed; a re-plan compaction
    * into a fresh target is the repair. Idempotent across micro-batch
    * retries: once written the plan is only ever read.
    */
  private def masterPlan(outDir: String, batch: Dataset[TokenRow],
                         cfg: EncodeConfig): Option[Map[String, (Int, Int)]] =
    TokenEncoder.loadPlan(outDir).orElse {
      if (batch.isEmpty) None
      else {
        // a tiny first batch can yield an EMPTY 5% plan sample;
        // pinning an empty plan would route the stream's whole
        // lifetime through the 16 overflow slots — resample
        // exhaustively instead (the batch is tiny precisely when the
        // sample comes back empty, so the full pass is cheap)
        val sampled = TokenEncoder.partitionPlan(batch, cfg.targetRowsPerPart)
        val p =
          if (sampled.nonEmpty) sampled
          else TokenEncoder.partitionPlan(batch, cfg.targetRowsPerPart,
            sampleFraction = 1.0)
        if (p.isEmpty) None
        else {
          TokenEncoder.savePlan(p, outDir)
          Some(p)
        }
      }
    }

  def streamingEncode(stream: Dataset[TokenRow], outDir: String,
                      cfg: EncodeConfig = EncodeConfig()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: Dataset[TokenRow], batchId: Long) =>
        val dir = s"$outDir/batch=$batchId"
        masterPlan(outDir, batch, cfg) match {
          case Some(p) =>
            TokenEncoder.savePlan(p, dir)
            TokenEncoder.run(batch, dir,
              cfg.copy(inputFile = s"batch-$batchId"))
            ()
          case None =>
            // empty batch before any data: landing it would pin an
            // EMPTY per-batch plan, which later disqualifies the
            // whole corpus from compact()'s zero-decode fast path —
            // land nothing instead (a no-dir batch holds no rows)
            ()
        }
      }
      .start()

  /** Streaming RAW-TEXT ingest: (doc_id, text, source) micro-batches
    * are quality-gated, PII-redacted, tokenized against a FIXED vocab
    * (the map ships once with the query plan — a streaming job cannot
    * re-rank the vocabulary per batch without breaking id stability),
    * then land in the columnar store via [[streamingEncode]]'s
    * exactly-once path. The whole per-batch transform is one
    * codegen'd scan: gate + redact + tokenize are all built-in
    * expressions, no joins, no shuffle before the encode exchange.
    */
  def streamingTextIngest(stream: org.apache.spark.sql.DataFrame,
                          vocab: org.apache.spark.sql.DataFrame,
                          outDir: String,
                          oovId: Int,
                          minQualityBp: Long = 0L,
                          cfg: EncodeConfig = EncodeConfig()): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    import stream.sparkSession.implicits._
    val gated = stream
      .where(graft.text.TextOps.qualityScoreBp(col("text")) >= minQualityBp)
      .withColumn("text", graft.text.TextOps.redact(col("text")))
    val rows = graft.text.TextOps.tokenize(
      gated, "doc_id", "text", "source", vocab, oovId).as[TokenRow]
    streamingEncode(rows, outDir, cfg)
  }

  /** Raw-text ingest with an INCREMENTAL vocabulary: each micro-batch
    * first grows the grow-only [[graft.text.IncrementalVocab]] store
    * at `vocabDir` (new words get fresh ids appended after all
    * existing ids — assigned ids NEVER change, so batches encoded
    * earlier stay decodable with any later vocab snapshot), then
    * tokenizes against the merged snapshot and lands through the
    * exactly-once encode path. A retried batch re-derives the SAME
    * ids (growth is idempotent — its words are already assigned), so
    * the retry re-encodes identical rows and the commit markers
    * dedupe the rest. OOV (`oovId`) appears only once the vocab hits
    * `maxVocab` — the cap that bounds driver/broadcast memory for the
    * stream's lifetime.
    *
    * The per-batch vocab maintenance is one bounded map-side-combined
    * word count + a lookup-table-sized snapshot write; the gate +
    * redact + tokenize stays the single codegen'd scan of
    * [[streamingTextIngest]].
    */
  def streamingTextIngestIncremental(stream: org.apache.spark.sql.DataFrame,
                                     vocabDir: String,
                                     outDir: String,
                                     oovId: Int,
                                     maxVocab: Int,
                                     minQualityBp: Long = 0L,
                                     cfg: EncodeConfig = EncodeConfig()): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    stream.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val gated = batch
          .where(graft.text.TextOps.qualityScoreBp(col("text")) >= minQualityBp)
          .withColumn("text", graft.text.TextOps.redact(col("text")))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val counts = graft.text.IncrementalVocab
            .batchWordCounts(gated, "text", limit = maxVocab)
          val merged = graft.text.IncrementalVocab
            .grow(spark, vocabDir, counts, maxVocab)
          val rows = graft.text.TextOps.tokenizeMap(
            gated, "doc_id", "text", "source", merged, oovId).as[TokenRow]
          val dir = s"$outDir/batch=$batchId"
          masterPlan(outDir, rows, cfg) match {
            case Some(p) =>
              TokenEncoder.savePlan(p, dir)
              TokenEncoder.run(rows, dir,
                cfg.copy(inputFile = s"batch-$batchId"))
              ()
            case None => () // empty/fully-gated batch: land nothing
          }
        } finally { gated.unpersist(blocking = false); () }
      }
      .start()
  }

  /** Offline compaction: fold the accumulated micro-batch dirs into
    * ONE store at `targetDir`, verify EVERY batch row is present in
    * the compacted store, and only then drop exactly the batch dirs
    * that were read — a batch committed by a still-running stream
    * after the listing is untouched and survives for the next
    * compaction.
    *
    * A fresh `targetDir` gets ONE compactStore over all the batch
    * dirs: when every batch pins the stream's master plan (what
    * [[streamingEncode]] arranges) the fold is ZERO-DECODE on the
    * encode side — only fragmented partitions (each batch's remainder
    * blocks) re-encode, and clean blocks move as parquet bytes straight
    * into the target, with no staging store; differing plans take
    * compactStore's full re-encode. A non-empty `targetDir` is a
    * crashed prior attempt: the classic decode + run() re-encode
    * finishes it, its resume protocol making the rerun idempotent. The
    * containment verify always decodes the target once — the
    * byte-moved fast path earns no verification discount.
    *
    * Verify-before-delete + containment (not equality) makes a crash
    * mid-delete re-runnable: the rerun reads the surviving batches,
    * run() resumes the already-complete target as a no-op,
    * containment still holds, and the remaining dirs are dropped.
    * Each compaction targets a FRESH dir; pointing a completed target
    * at genuinely NEW batches fails the containment verify and keeps
    * the batches (the new rows map to partitions the pinned plan
    * already committed, so resume would skip them — the verify
    * catches this instead of losing data).
    */
  def compact(spark: SparkSession, outDir: String, targetDir: String,
              cfg: EncodeConfig = EncodeConfig()): Long = {
    val dirs = committedBatchDirs(spark, outDir)
    if (dirs.isEmpty) return 0L
    // NOT persisted up front: only the resume branch consumes the
    // union twice (run + verify) and persists it there — compactStore
    // reads the batches itself, and the union once, for the verify
    val rows = readDirs(spark, dirs, verifyChecksums = true)
    try {
      // freshness = the same contract compactStore itself enforces; a
      // NON-empty target is a crashed prior attempt, which only the
      // run()-resume path can finish
      if (TokenEncoder.isFreshDir(targetDir)) {
        TokenEncoder.compactStore(spark, dirs, targetDir, cfg)
        ()
      } else {
        // persist here — run() and the verify below both consume the
        // union (run()'s own cacheInput stays off: one cache, not two)
        rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        TokenEncoder.run(rows, targetDir, cfg.copy(cacheInput = false))
        ()
      }
      val back = TokenDecoder.read(spark, targetDir, verifyChecksums = true)
      val missing = rows.toDF().exceptAll(back.toDF()).count()
      require(missing == 0,
        s"compaction verify failed: $missing batch rows absent from " +
          s"$targetDir — batch dirs kept")
      val n = back.count()
      dirs.foreach { d =>
        val (fs, p) = StoreTables.resolve(spark, d)
        // drop the COMMIT MARKERS first: a crash mid-delete then
        // leaves an uncommitted-looking dir that the rerun's listing
        // skips, instead of a "committed" dir with half its data gone
        fs.delete(new Path(p, "completed"), true)
        fs.delete(p, true)
      }
      n
    } finally { rows.unpersist(blocking = false); () }
  }

  /** Batch dirs whose encode run FULLY committed — every planned
    * partId carries a commit marker. Lineage existence is NOT the
    * test (the commit protocol writes markers strictly last): an
    * in-flight batch whose blocks+lineage landed but whose markers
    * have not would otherwise be listed, read as zero rows, trivially
    * "verified", and DELETED by compact while its stream still thinks
    * the batch succeeded — permanent loss. One listing: the unit
    * compact reads AND later deletes, same snapshot. Listed through the
    * Hadoop FileSystem, so a stream on any store filesystem (a `file:`
    * URI included) lists its batches; a missing `outDir` lists none.
    */
  private def committedBatchDirs(spark: SparkSession,
                                 outDir: String): Seq[String] = {
    val (fs, root) = StoreTables.resolve(spark, outDir)
    val listed =
      try fs.listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listed
      .filter(f => f.isDirectory && f.getPath.getName.startsWith("batch="))
      .map(_.getPath.toString)
      .filter { d =>
        TokenEncoder.loadPlan(d).exists { plan =>
          TokenEncoder.allPartIds(plan)
            .subsetOf(TokenEncoder.committedPartIds(spark, d))
        }
      }
  }

  private def readDirs(spark: SparkSession, dirs: Seq[String],
                       verifyChecksums: Boolean): Dataset[TokenRow] = {
    import spark.implicits._
    if (dirs.isEmpty) spark.emptyDataset[TokenRow]
    else dirs.map(d => TokenDecoder.read(spark, d, verifyChecksums))
      .reduce(_ union _)
  }

  /** Decode every committed batch dir back to rows. */
  def readAll(spark: SparkSession, outDir: String,
              verifyChecksums: Boolean = false): Dataset[TokenRow] =
    readDirs(spark, committedBatchDirs(spark, outDir), verifyChecksums)
}
