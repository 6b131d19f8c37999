package graft.encode

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.codec.{BlockCodec, ByteBuf, ByteReader}
import graft.model.{EncodedBlock, LineageRecord, TokenRow}

/** The encode pipeline (SURVEY.md §7.1 step 6, BASELINE.json
  * north_star).
  *
  * Layout on disk (`outDir/`):
  *   blocks/    — EncodedBlock rows (parquet, appended per run)
  *   lineage/   — LineageRecord rows (parquet, one driver-written file
  *                per run, renamed in AFTER the run's blocks are
  *                durably written)
  *   completed/ — (partId, runId) commit markers, one file per run,
  *                renamed in LAST
  *
  * `completed/` holds the COMMIT MARKERS: a partId is complete iff a
  * (partId, runId) marker exists, written strictly after that run's
  * blocks and lineage (lineage alone is NOT commitment — a crash
  * between the two commits leaves lineage without markers, and the
  * row-level store copies append lineage as multi-file jobs). Readers
  * keep blocks that have a lineage row AND a marked (partId, runId);
  * resume re-encodes unmarked partitions — no duplicates, no skips.
  * This emulates Iceberg snapshot semantics on plain parquet (no
  * Iceberg jar ships in this environment — SURVEY.md §7.0); the seam
  * is confined to `run`'s commit tail and `committedPartIds`.
  *
  * Partitioning: partId = base(source) + xxhash64-style(doc_id) mod
  * salts(source), where salts(source) ~ rows(source)/targetRowsPerPart
  * from a cheap count pass — explicit skew salting (a zipf `source`
  * would otherwise send 40% of rows to one task), while keeping each
  * partition source-pure so per-block codec selection sees one regime.
  * The reference's only partitioner is file-split by size or by field
  * value (undatum/cmds/selector.py:264-335); this is its scale-out
  * generalization.
  */
/** Shuffle-side row shape: tokens pre-packed as zigzag varints on the
  * map side, roughly halving shuffle volume (our regimes average ~2
  * varint bytes/token vs 4 raw) — the shuffle is the encode pipeline's
  * main memory-bandwidth consumer. Top-level: nested case classes
  * break Catalyst's generated-code constructor calls.
  */
final case class PackedRow(partId: Int, doc_id: String,
                           source: String, tok: Array[Byte], n_tok: Int)

object TokenEncoder {

  final case class EncodeConfig(
      targetRowsPerPart: Int = 50000,
      blockTokens: Int = 1 << 21, // ~2M tokens = 8MB raw per block
      blockRows: Int = 1 << 16,
      inputFile: String = "synthetic",
      // cache the input across the plan/encode passes; disable for
      // parquet-backed inputs where a pruned re-scan is cheaper than
      // materializing every column into executor memory
      cacheInput: Boolean = true,
      // skip the partId shuffle: sort WITHIN each input partition by
      // partId and chunk contiguous runs into blocks. Correct on ANY
      // layout (blocks stay partId-pure; the lineage commit is per-run
      // atomic, so a partId spanning input partitions still resumes
      // exactly) — but only FAST when the input is already
      // source-clustered (e.g. a previous stage wrote
      // partitionBy(source) or repartition(partId)): on a mixed layout
      // each input partition holds rows of many partIds, the runs are
      // short, and the blocks come out tiny (poor compression). The
      // caller asserts the layout, not this flag.
      noShuffle: Boolean = false
  )

  /** Outcome of [[mergeStores]]: `rowLevel` says whether the
    * zero-decode arm ran; when it didn't, `fallbackReason` names the
    * actual trigger (missing plan / differing plans / runId collision)
    * so operators aren't told "plans differ" for a collision.
    * `blocksCopied` is 0 on the re-encode path.
    */
  final case class MergeResult(blocksCopied: Long, rowsTotal: Long,
                               rowLevel: Boolean,
                               fallbackReason: Option[String])

  /** Outcome of [[compactStore]]. `partsCopied` partitions moved at
    * the parquet row level (payloads never decoded); `partsReencoded`
    * were fragmented and rewrote through run()'s resume protocol.
    */
  final case class CompactResult(partsTotal: Int, partsCopied: Int,
                                 partsReencoded: Int,
                                 blocksBefore: Long, blocksAfter: Long,
                                 rowsTotal: Long)

  /** Deterministic 64-bit string hash (FNV-1a) — stable across runs,
    * independent of JVM String.hashCode.
    */
  def hash64(s: String): Long = graft.codec.Hash.fnv64(s)

  /** Recursive local-FS delete — THE one copy (vacuum's swap cleanup
    * and SparkEntry's staging resets all share it). listFiles is
    * null-guarded: it returns null on an I/O error or a non-directory
    * race, which must not abort a cleanup half-way.
    */
  private[graft] def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rmTree)
    }
    f.delete(): Unit
  }

  /** The fresh-output contract every store rewrite shares
    * (deleteDocs / mergeStores / compactStore / streaming compact):
    * the target must not exist or be an empty directory — a crashed
    * attempt is retried by REMOVING the partial dir, never by
    * appending into it. ONE definition so the contract cannot drift
    * between the rewrites and the eligibility checks that mirror it.
    */
  private[graft] def isFreshDir(dir: String): Boolean = {
    val f = new java.io.File(dir)
    // listFiles returns null on an I/O error or a vanished-dir race:
    // an unlistable existing dir is NOT fresh — refuse loudly rather
    // than let a rewrite land on top of unknown contents
    val kids = if (f.isDirectory) f.listFiles() else null
    !f.exists() || (f.isDirectory && kids != null && kids.isEmpty)
  }

  private[graft] def requireFreshDir(dir: String, op: String): Unit =
    require(isFreshDir(dir),
      s"$op targets a FRESH dir; $dir exists and is non-empty " +
        s"(remove the partial dir to retry a crashed $op)")

  /** source -> (partId base, salt count), partIds globally unique.
    * Salting only needs approximate per-source counts, so the plan
    * pass samples (seeded => deterministic) instead of scanning the
    * full input — at 10^12 rows a full count pass just for the plan
    * would be a second read of the whole table.
    */
  def partitionPlan(ds: Dataset[TokenRow], targetRowsPerPart: Int,
                    sampleFraction: Double = 0.05): Map[String, (Int, Int)] = {
    val frac = math.min(1.0, math.max(sampleFraction, 0.0001))
    val counts = ds.sample(withReplacement = false, frac, seed = 42L)
      .groupBy("source").count()
      .collect().map(r => (r.getString(0), math.max(1L, (r.getLong(1) / frac).toLong)))
      .sortBy(_._1)
    var base = 0
    counts.map { case (src, n) =>
      val salts = math.max(1, math.ceil(n.toDouble / targetRowsPerPart).toInt)
      val entry = (src, (base, salts))
      base += salts
      entry
    }.toMap
  }

  /** Fixed overflow band for sources the sampled plan never saw —
    * rare sources hash deterministically into these slots, so resume
    * stays exact even when sampling misses a source entirely.
    */
  val OverflowSlots = 16

  def planSaltTotal(plan: Map[String, (Int, Int)]): Int =
    if (plan.isEmpty) 0 else plan.values.map { case (b, s) => b + s }.max

  /** Resume bookkeeping (this set, `pending`, the commit-marker read)
    * is O(#partIds) on the DRIVER — size `targetRowsPerPart` so the
    * plan stays ≤ ~10^5 partIds (each partId is a multi-block
    * resume/decode unit, not a parallelism unit; blocks subdivide it).
    */
  def allPartIds(plan: Map[String, (Int, Int)]): Set[Int] =
    (0 until (planSaltTotal(plan) + OverflowSlots)).toSet

  /** The overflow slot a plan-unknown source hashes into — one
    * formula shared by the encode partitioner and the pruned reader.
    */
  def overflowSlotOf(plan: Map[String, (Int, Int)], source: String): Int =
    planSaltTotal(plan) +
      (((hash64(source) % OverflowSlots) + OverflowSlots) % OverflowSlots).toInt

  def partIdOf(plan: Map[String, (Int, Int)], r: TokenRow): Int =
    plan.get(r.source) match {
      case Some((b, salts)) =>
        b + (((hash64(r.doc_id) % salts) + salts) % salts).toInt
      case None => overflowSlotOf(plan, r.source)
    }

  /** Encode the given logical partitions (all when `only` is None) into
    * EncodedBlock rows. One shuffle (groupByKey on partId); each group
    * is streamed and chunked into bounded blocks, so executor memory is
    * O(blockTokens), not O(partition).
    */
  def newRunId(): String =
    f"r${System.currentTimeMillis()}%011x${scala.util.Random.nextInt(0xFFFF)}%04x"

  private def packTokens(tokens: Array[Int], n: Int): Array[Byte] = {
    val out = new ByteBuf(n * 2 + 8)
    var i = 0
    while (i < n) { out.writeZigZag(tokens(i)); i += 1 }
    out.toArray
  }

  def encodeBlocks(ds: Dataset[TokenRow], plan: Map[String, (Int, Int)],
                   cfg: EncodeConfig, only: Option[Set[Int]] = None,
                   runId: String = newRunId()): Dataset[EncodedBlock] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val planB = plan // small map, captured by closure
    val cfgB = cfg
    val runIdB = runId
    // partIdOf (two string hashes + plan lookup) runs ONCE per row:
    // the resume filter and the keying map are fused, rather than
    // hashing every row twice on the resumed ingest path
    val onlyB = only
    def keep(p: Int): Boolean = onlyB.forall(_.contains(p))
    val packed = ds.flatMap { r =>
      val p = partIdOf(planB, r)
      if (keep(p))
        Some(PackedRow(p, r.doc_id, r.source, packTokens(r.tokens, r.n_tok), r.n_tok))
      else None
    }
    if (cfgB.noShuffle)
      // no exchange: a within-partition sort clusters each input
      // partition's rows by partId, then contiguous runs chunk into
      // partId-pure blocks. blockIds carry the task partition index —
      // the same partId may emit blocks from several input partitions.
      // Rows stay as raw token arrays: the varint pack exists to
      // halve SHUFFLE bytes, and with no shuffle the pack+unpack
      // passes are pure overhead
      ds.flatMap { r =>
          val p = partIdOf(planB, r)
          if (keep(p)) Some((p, r)) else None
        }
        .sortWithinPartitions("_1")
        .mapPartitions { rows =>
          val buf = rows.buffered
          val taskPid = org.apache.spark.TaskContext.getPartitionId()
          new Iterator[EncodedBlock] {
            private var blockSeq = 0
            def hasNext: Boolean = buf.hasNext
            def next(): EncodedBlock = {
              val partId = buf.head._1
              val b = fillBlockRaw(buf, cfgB, runIdB, partId,
                s"$runIdB-$partId-p$taskPid-$blockSeq", blockSeq)
              blockSeq += 1
              b
            }
          }
        }
    else packed
      .groupByKey(_.partId)
      .flatMapGroups { (partId: Int, rows: Iterator[PackedRow]) =>
        val buf = rows.buffered
        new Iterator[EncodedBlock] {
          private var blockSeq = 0
          def hasNext: Boolean = buf.hasNext
          def next(): EncodedBlock = {
            val b = fillBlock(buf, cfgB, runIdB, partId,
              s"$runIdB-$partId-$blockSeq", blockSeq)
            blockSeq += 1
            b
          }
        }
      }
  }

  /** Mutable accumulation state for one block under construction. */
  private final class BlockAcc(cfgB: EncodeConfig) {
    val t0: Long = System.nanoTime()
    val docIds = new scala.collection.mutable.ArrayBuffer[String]()
    val srcs = new scala.collection.mutable.ArrayBuffer[String]()
    val lens = new ByteBuf(4096)
    var tokBuf = new Array[Int](math.min(cfgB.blockTokens, 1 << 16))
    var nTok = 0
    var nRows = 0
    def ensure(n: Int): Unit =
      if (nTok + n > tokBuf.length) {
        var cap = math.max(tokBuf.length * 2, 1 << 16)
        while (cap < nTok + n) cap *= 2
        tokBuf = java.util.Arrays.copyOf(tokBuf, cap)
      }
    def full: Boolean = nTok >= cfgB.blockTokens || nRows >= cfgB.blockRows
  }

  /** Pull rows off `buf` into one encoded block: stops at block-size
    * limits or when the head row's partId changes (the no-shuffle
    * path's run boundary; in the grouped path every row shares the
    * partId, so the condition is vacuous there).
    */
  private def fillBlock(buf: BufferedIterator[PackedRow], cfgB: EncodeConfig,
                        runIdB: String, partId: Int, blockId: String,
                        blockSeq: Int): EncodedBlock = {
    val a = new BlockAcc(cfgB)
    while (buf.hasNext && buf.head.partId == partId && !a.full) {
      val r = buf.next()
      a.docIds += r.doc_id
      a.srcs += r.source
      a.lens.writeVarInt(r.n_tok)
      a.ensure(r.n_tok)
      val tr = new ByteReader(r.tok)
      var k = 0
      while (k < r.n_tok) { a.tokBuf(a.nTok + k) = tr.readZigZag(); k += 1 }
      a.nTok += r.n_tok
      a.nRows += 1
    }
    sealBlock(a, cfgB, runIdB, partId, blockId, blockSeq)
  }

  /** Raw-row variant for the no-shuffle path: token arrays copy
    * straight into the block buffer (no varint round trip).
    */
  private def fillBlockRaw(buf: BufferedIterator[(Int, TokenRow)],
                           cfgB: EncodeConfig, runIdB: String, partId: Int,
                           blockId: String, blockSeq: Int): EncodedBlock = {
    val a = new BlockAcc(cfgB)
    while (buf.hasNext && buf.head._1 == partId && !a.full) {
      val r = buf.next()._2
      a.docIds += r.doc_id
      a.srcs += r.source
      a.lens.writeVarInt(r.n_tok)
      a.ensure(r.n_tok)
      System.arraycopy(r.tokens, 0, a.tokBuf, a.nTok, r.n_tok)
      a.nTok += r.n_tok
      a.nRows += 1
    }
    sealBlock(a, cfgB, runIdB, partId, blockId, blockSeq)
  }

  private def sealBlock(a: BlockAcc, cfgB: EncodeConfig, runIdB: String,
                        partId: Int, blockId: String,
                        blockSeq: Int): EncodedBlock = {
    val t0 = a.t0
    val docIds = a.docIds
    val srcs = a.srcs
    val lens = a.lens
    val tokBuf = a.tokBuf
    val nTok = a.nTok
    val nRows = a.nRows
    val be = BlockCodec.encodeAuto(tokBuf, nTok)
    val lensEnc = lens.toArray
    val idsEnc = graft.codec.StringCols.encodeDocIds(docIds.toArray, nRows)
    val srcsEnc = graft.codec.StringCols.encodeSources(srcs.toArray, nRows)
    val bloomEnc = graft.codec.DocBloom.build(docIds.toArray, nRows)
    EncodedBlock(
      blockId = blockId,
      runId = runIdB,
      partId = partId,
      blockSeq = blockSeq,
      codecId = be.codecId,
      postCodec = be.postCodec,
      symtab = be.symtab,
      payload = be.payload,
      lengthsEnc = lensEnc,
      docIdsEnc = idsEnc,
      sourcesEnc = srcsEnc,
      docBloomEnc = bloomEnc,
      blockRows = nRows,
      totalTokens = nTok.toLong,
      // zone map straight from the selection stats pass (no extra scan);
      // ColumnStats.empty already carries the prune-always sentinels
      minTok = be.stats.min,
      maxTok = be.stats.max,
      rawBytes = 4L * nTok,
      encodedBytes = be.encodedBytes + lensEnc.length,
      // bloom counted with the metadata sidecar: ~10 bits/doc of real
      // on-disk growth must show up in ratio/size consumers
      metaBytes = idsEnc.length.toLong + srcsEnc.length + bloomEnc.length,
      encodeMillis = (System.nanoTime() - t0) / 1000000L,
      checksum = BlockCodec.checksum(tokBuf, nTok)
    )
  }

  /** Partitions fully processed by earlier runs: the union of
    * partitions with committed lineage and partitions recorded as
    * completed-empty (overflow slots and empty salt slots produce no
    * blocks, so they get an explicit completion marker instead —
    * otherwise every idempotent re-run would re-scan the whole input
    * just to rediscover they are empty).
    */
  /** [[auditStore]]'s tolerant read: schema INFERRED from the files,
    * so the fsck can report on stores whose tables do not fit
    * [[StoreTables]]' schemas at all. A dir that exists with NO
    * committed files (only _temporary from a killed write job) reads
    * as None. Every other reader uses the fixed schemas.
    */
  private[encode] def safeReadParquet(spark: SparkSession, path: String,
      mergeSchema: Boolean = false): Option[org.apache.spark.sql.DataFrame] =
    if (!new java.io.File(path).exists()) None
    else {
      try Some(spark.read.option("mergeSchema", mergeSchema).parquet(path))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    }

  /** A partId is complete iff a (partId, runId) COMMIT MARKER exists
    * in `completed`, written only after that run's blocks AND lineage
    * jobs fully committed. Inferring completion from lineage rows
    * (the previous rule) was unsound: a lineage append is a
    * multi-file job, so a crash mid-commit could leave SOME of a
    * partition's lineage rows visible — the partId looked done while
    * readers silently dropped its lineage-less blocks. With markers,
    * every crash window degrades to harmless re-encode: the stale
    * run's blocks and lineage are never marked and readers filter on
    * the marked (partId, runId) pair.
    */
  def committedPartIds(spark: SparkSession, outDir: String): Set[Int] =
    StoreTables.readRows(spark, s"$outDir/completed", StoreTables.Completed, Seq("partId"))
      .map(_.getInt(0)).toSet

  /** The (partId, runId) commit markers, read on the driver — the
    * reader-side filter. Not deduplicated: its consumers only test a
    * pair's existence. A legacy file's absent runId reads null.
    */
  private[encode] def completedPairs(spark: SparkSession,
                                     outDir: String): IndexedSeq[(Int, String)] =
    StoreTables.readRows(spark, s"$outDir/completed", StoreTables.Completed,
        Seq("partId", "runId"))
      .map(r => (r.getInt(0), r.getString(1)))

  /** The partition plan is pinned to the output directory: computed
    * (from a sample) on the FIRST run and persisted as plan.json, then
    * loaded verbatim on resume. A recomputed plan could differ when
    * the input's partition layout changes (sampling is
    * layout-sensitive), which would silently remap partIds and break
    * exact resume — the plan on disk is the source of truth.
    */
  def loadOrCreatePlan(ds: Dataset[TokenRow], outDir: String,
                       targetRowsPerPart: Int): Map[String, (Int, Int)] =
    loadPlan(outDir).getOrElse {
      val plan = partitionPlan(ds, targetRowsPerPart)
      savePlan(plan, outDir)
      plan
    }

  /** Parse the pinned plan.json if present — the ONE reader shared by
    * the encoder's resume path and the pruned decoder.
    */
  def loadPlan(outDir: String): Option[Map[String, (Int, Int)]] = {
    val f = new java.io.File(s"$outDir/plan.json")
    if (!f.exists()) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      // v2 files URL-encode the source (tab/newline safety); files
      // without the marker predate the escaping and are read verbatim
      // — decoding them would corrupt legacy names containing '+'/'%'
      val lines = txt.linesIterator.filter(_.nonEmpty).toSeq
      val v2 = lines.headOption.contains(PlanMarker)
      val body = if (v2) lines.tail else lines
      Some(body.map { line =>
        val Array(src, b, s) = line.split("\t")
        val name = if (v2) java.net.URLDecoder.decode(src, "UTF-8") else src
        (name, (b.toInt, s.toInt))
      }.toMap)
    }
  }

  private val PlanMarker = "#graft-plan-v2"

  /** Persist a plan as the output dir's pinned plan.json — lets a
    * caller that computed (or inherited) a plan from a previous stage
    * pin it before `run`, e.g. when the input files are already laid
    * out by that plan's partIds and the encode runs with noShuffle.
    */
  def savePlan(plan: Map[String, (Int, Int)], outDir: String): Unit = {
    // an existing pin is immutable: silently replacing it (POSIX
    // rename semantics) or silently keeping it (a failed rename that
    // "passed" because the old file existed) both remap partIds under
    // committed data — refuse loudly unless the plans are identical
    loadPlan(outDir) match {
      case Some(existing) if existing == plan => return
      case Some(_) => throw new IllegalStateException(
        s"$outDir already pins a DIFFERENT plan.json — refusing to remap partIds")
      case None => ()
    }
    val f = new java.io.File(s"$outDir/plan.json")
    f.getParentFile.mkdirs()
    val tmp = new java.io.File(s"$outDir/plan.json.tmp")
    // URL-encode the source: a name containing '\t' or '\n' would
    // corrupt the line format and silently remap partIds on resume —
    // the exact failure the pinned plan exists to prevent. The v2
    // marker line lets loadPlan read pre-escaping files verbatim.
    java.nio.file.Files.write(tmp.toPath,
      (PlanMarker +: plan.toSeq.sortBy(_._1)
        .map { case (src, (b, s)) =>
          s"${java.net.URLEncoder.encode(src, "UTF-8")}\t$b\t$s" })
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Full encode with resume: skips partitions already committed
    * (marked in `completed/`), appends this run's blocks with one Spark
    * write job, then commits from the driver in the protocol's order:
    *  1. lineage — read back from the WRITTEN block files (the runId
    *     filter leaves out stale blocks of crashed runs, column pruning
    *     leaves the payloads unread) with one `collect`, then written to
    *     `lineage/` as one file ([[StoreTables.writeFile]]);
    *  2. markers — one (partId, runId) row per pending partId, written
    *     to `completed/` as one file the same way.
    * Each file becomes visible by a rename, so no Spark write job runs
    * after the block write. A crash before the lineage rename leaves an
    * unmarked run's blocks (plus at most a hidden temporary file), and
    * one between the two renames leaves lineage without markers: either
    * way the partIds stay unmarked, readers ignore the attempt and a
    * re-run encodes them under a new runId.
    *
    * Returns exactly this run's lineage (the collected rows). Driver
    * memory: one lineage row (~150 B) per block of this run — a
    * 10^12-token run at the default 2M-token blocks has 5×10^5 blocks,
    * ~75 MB — plus the pending partIds, which the driver holds anyway.
    */
  def run(ds: Dataset[TokenRow], outDir: String,
          cfg: EncodeConfig = EncodeConfig()): Dataset[LineageRecord] = {
    val spark = ds.sparkSession
    import spark.implicits._
    // persist: the plan sample and the encode shuffle would otherwise
    // both recompute the input lineage (for a parquet-backed input
    // this is a cheap re-scan; for a computed input it is not)
    val cached =
      if (cfg.cacheInput)
        ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else ds
    try {
      val plan = loadOrCreatePlan(cached, outDir, cfg.targetRowsPerPart)
      val done = committedPartIds(spark, outDir)
      val allParts = allPartIds(plan)
      val pending = allParts -- done
      if (pending.isEmpty) return spark.emptyDataset[LineageRecord]
      val only = if (done.isEmpty) None else Some(pending)
      val runId = newRunId()
      val blocks = encodeBlocks(cached, plan, cfg, only, runId)
      // payloads are already codec+zstd compressed; parquet-level
      // recompression would only burn CPU on incompressible bytes
      blocks.write.mode("append")
        .option("compression", "uncompressed")
        .parquet(s"$outDir/blocks")
      // lineage derived from the *written* files — doubles as a
      // readback validation and avoids recomputing the encode.
      // Filtering on this run's id excludes stale blocks from crashed
      // (uncommitted) runs, so the rows are exactly this run's lineage.
      val written = StoreTables.read(spark, s"$outDir/blocks", StoreTables.Blocks)
        .where($"runId" === runId)
      val lineage = written.select(
        lit(cfg.inputFile).as("inputFile"),
        $"partId", $"blockId",
        $"blockRows".as("rowCount"),
        $"totalTokens", $"checksum", $"codecId", $"postCodec",
        $"rawBytes", $"encodedBytes",
        when($"encodedBytes" > 0, $"rawBytes".cast("double") / $"encodedBytes")
          .otherwise(lit(1.0)).as("ratio"),
        $"encodeMillis"
      ).as[LineageRecord].collect().toSeq
      StoreTables.writeFile(spark, s"$outDir/lineage", StoreTables.Lineage,
        lineage.map(Row.fromTuple))
      // COMMIT: mark every pending partId (block-producing and empty
      // alike) complete under THIS runId — renamed into place strictly
      // after the blocks and lineage, so a marker implies its data is
      // fully visible
      StoreTables.writeFile(spark, s"$outDir/completed", StoreTables.Completed,
        pending.toSeq.sorted.map(Row(_, runId)))
      spark.createDataset(lineage)
    } finally if (cfg.cacheInput) cached.unpersist(blocking = false)
  }

  /** Garbage-collect blocks from crashed (uncommitted) runs: rewrite
    * the blocks table keeping only blockIds present in lineage.
    * Readers already ignore uncommitted blocks (semi-join), so vacuum
    * is purely a space reclaim and safe to run any time after encode.
    */
  def vacuum(spark: SparkSession, outDir: String): Long = {
    import spark.implicits._
    val blocksPath = s"$outDir/blocks"
    val blocks = StoreTables.read(spark, blocksPath, StoreTables.Blocks)
    val total = blocks.count()
    // the reader's own "live" definition (lineage + commit marker), so
    // vacuum also reclaims a crashed run's blocks whose lineage landed
    // but whose markers never did
    val live = TokenDecoder.committedBlocks(spark, outDir, None)
    val keep = live.count()
    if (keep == total) return 0L
    val tmp = s"$outDir/blocks_vacuum_tmp"
    live.write.mode("overwrite").option("compression", "uncompressed").parquet(tmp)
    // readback validation BEFORE touching the live table
    require(StoreTables.read(spark, tmp, StoreTables.Blocks).count() == keep,
      "vacuum rewrite readback mismatch")
    // two renames with checked results; on a failed second rename the
    // original table is restored — committed data is never the only
    // casualty of a partial swap
    val fs = new java.io.File(blocksPath)
    val bak = new java.io.File(s"$outDir/blocks_vacuum_old")
    require(!bak.exists(), s"previous vacuum left $bak — resolve manually")
    require(fs.renameTo(bak), s"cannot rename $blocksPath aside")
    if (!new java.io.File(tmp).renameTo(fs)) {
      require(bak.renameTo(fs), s"vacuum swap failed AND restore failed: blocks at $bak")
      throw new IllegalStateException(s"vacuum swap failed; original restored at $blocksPath")
    }
    rmTree(bak)
    total - keep
  }

  /** SURGICAL document deletion (the GDPR/right-to-be-forgotten shape):
    * rewrite the store at `inDir` into a FRESH store at `outDir` with
    * every doc in `docIds` removed, re-encoding ONLY the partitions
    * whose per-block doc-id Blooms may contain a target. Everything
    * else — the overwhelming share of a 10^12-doc store for a bounded
    * delete list — is copied at the parquet ROW level: blocks,
    * lineage rows and commit markers of fully-clean partIds move
    * verbatim, their payloads never decoded (the Bloom column is the
    * only thing read to classify them).
    *
    * Protocol: the ORIGINAL plan.json is copied first, so surviving
    * rows of dirty partitions re-route to their ORIGINAL partIds
    * (partIdOf is a deterministic hash of doc_id) and the final
    * [[run]] sees exactly the dirty partIds as pending — the delete
    * rides the encoder's own commit-marker resume semantics for its
    * re-encode half. Bloom false positives only cost a needless
    * re-encode of one partition (content preserved); null-Bloom
    * legacy blocks classify as may-contain (correct, just unpruned).
    * A store with no plan.json (legacy) degrades to a full rewrite.
    *
    * `outDir` must not exist (or be empty): like EncodeStream.compact,
    * each delete targets a fresh dir — a crashed delete is retried by
    * removing the partial dir, never by appending into it. Returns
    * (parts_total, parts_copied, parts_reencoded, rows_deleted).
    */
  def deleteDocs(spark: SparkSession, inDir: String, outDir: String,
                 docIds: Seq[String],
                 cfg: EncodeConfig = EncodeConfig()): (Int, Int, Int, Long) = {
    import spark.implicits._
    require(inDir != outDir, "deleteDocs: outDir must differ from inDir")
    requireFreshDir(outDir, "deleteDocs")
    require(docIds.exists(_.nonEmpty),
      "deleteDocs: empty doc-id list (a no-op delete would still burn " +
        "a full store copy — refuse loudly instead)")
    val ids = docIds.toArray.toSeq
    val idSet = ids.toSet
    // row counts come from metadata (blockRows / the run's lineage),
    // never from extra decode passes — the only payload decode a
    // delete pays is the one run() needs for the dirty share
    def rowsOf(blocks: DataFrame): Long = blocks
      .agg(coalesce(sum("blockRows"), lit(0L))).first().getLong(0)
    def rowsEncoded(lineage: Dataset[LineageRecord]): Long = lineage
      .toDF().agg(coalesce(sum("rowCount"), lit(0L))).first().getLong(0)
    TokenEncoder.loadPlan(inDir) match {
      case None =>
        // legacy store without a plan: no partId bands to preserve —
        // honest fallback is the full decode-filter-reencode
        val before = rowsOf(TokenDecoder.committedBlocks(spark, inDir, None))
        val kept = TokenDecoder.read(spark, inDir)
          .filter(r => !idSet.contains(r.doc_id))
        val lineage = TokenEncoder.run(kept, outDir, cfg)
        (1, 0, 1, before - rowsEncoded(lineage))
      case Some(plan) =>
        TokenEncoder.savePlan(plan, outDir)
        val live = TokenDecoder.committedBlocks(spark, inDir, None)
        // classify partIds from the Bloom column alone
        val dirty = live.select("partId", "docBloomEnc")
          .as[(Int, Array[Byte])]
          .filter { case (_, bloom) =>
            graft.codec.DocBloom.mayContainAny(bloom, ids)
          }
          .map(_._1).distinct().collect().toSet
        val allParts = TokenEncoder.allPartIds(plan)
        val cleanParts = allParts -- dirty
        copyPartsVerbatim(spark, inDir, outDir, live, dirty)
        // re-encode ONLY the dirty partitions' survivors; partIdOf
        // routes them back to the same pending partIds under the
        // copied plan, and run() marks exactly those complete
        val before = rowsOf(live.where(col("partId").isInCollection(dirty)))
        val kept = TokenDecoder.readBlocks(spark, inDir, Some(dirty),
          verifyChecksums = false)
          .filter(r => !idSet.contains(r.doc_id))
        val lineage = TokenEncoder.run(kept, outDir, cfg)
        (allParts.size, cleanParts.size, dirty.size,
          before - rowsEncoded(lineage))
    }
  }

  /** Verbatim row-level copy of a store's share EXCLUDING
    * `reencodeParts`: their blocks, those blocks' lineage rows (keyed
    * by blockId, so crashed-run orphans never travel), and ALL their
    * commit markers (a marked-but-empty partId stays marked — run()
    * must not re-encode it). Shared by deleteDocs (clean share) and
    * compactStore (unfragmented share); payloads are never decoded.
    */
  private def copyPartsVerbatim(spark: SparkSession, inDir: String,
                                outDir: String, live: DataFrame,
                                reencodeParts: Set[Int]): Unit = {
    val keep =
      if (reencodeParts.isEmpty) lit(true)
      else !col("partId").isInCollection(reencodeParts)
    val cleanBlocks = live.where(keep)
    cleanBlocks.write.mode("append")
      .option("compression", "uncompressed")
      .parquet(s"$outDir/blocks")
    StoreTables.read(spark, s"$inDir/lineage", StoreTables.Lineage)
      .join(cleanBlocks.select("blockId"), Seq("blockId"), "left_semi")
      .write.mode("append").parquet(s"$outDir/lineage")
    StoreTables.read(spark, s"$inDir/completed", StoreTables.Completed)
      .where(keep)
      .write.mode("append").parquet(s"$outDir/completed")
  }

  /** Zero-decode UNION of committed stores that share one pinned
    * partition plan — the append path for periodic ingest at 10^12
    * scale: each batch pins the master plan (savePlan, which exists
    * precisely so a caller can inherit a plan before run) and encodes
    * into its own dir; merge then concatenates the stores at the
    * parquet ROW level — blocks, their lineage rows and commit
    * markers move verbatim, payloads never decoded, cost O(bytes
    * moved) with no shuffle at all. The row-level complement of
    * [[graft.streaming.EncodeStream.compact]], which pays a full
    * decode+re-encode to obtain a FRESH right-sized plan; merge keeps
    * the shared plan and just moves bytes.
    *
    * Readers are union-safe by construction: commit markers are
    * (partId, runId) pairs and blockIds are runId-prefixed, so blocks
    * of the same partId from different runs coexist exactly as a
    * resumed store's already do — readSource's band pruning,
    * CompressedSearch's zone/symtab pruning and deleteDocs' bloom
    * classification all see one consistent store. Only COMMITTED
    * blocks travel (crashed-run orphans stay behind — vacuum
    * semantics for free). Duplicate doc_ids across inputs are
    * preserved like any table union; dedup is a separate operator.
    *
    * Inputs with missing or differing plans — or the astronomically
    * rare runId collision between stores, which would make blockIds
    * ambiguous — fall back to the honest full decode+union+re-encode
    * under a fresh plan sized for the union (the compact shape).
    *
    * `outDir` must be fresh (the deleteDocs/compact contract): a
    * crashed merge is retried by removing the partial dir.
    */
  def mergeStores(spark: SparkSession, inDirs: Seq[String], outDir: String,
                  cfg: EncodeConfig = EncodeConfig()): MergeResult = {
    import spark.implicits._
    require(inDirs.size >= 2, "mergeStores: need at least two input stores")
    require(!inDirs.contains(outDir),
      "mergeStores: outDir must differ from every input store")
    requireFreshDir(outDir, "mergeStores")
    val plans = inDirs.map(loadPlan)
    // plan check first — it's free (driver-side json reads), so the
    // marker reads only run when it alone doesn't already force the
    // fallback
    val planReason =
      if (plans.exists(_.isEmpty))
        Some("an input store has no pinned plan")
      else if (!plans.forall(_ == plans.head)) Some("plans differ")
      else None
    // commit markers are tiny metadata tables (one (partId, runId)
    // pair per completed partition); read ONCE per input and
    // reused for both the collision guard and the marker copy
    val markerPairs: Seq[IndexedSeq[(Int, String)]] =
      if (planReason.isEmpty)
        inDirs.map(d => completedPairs(spark, d))
      else Seq.empty
    val reason = planReason.orElse {
      val runIdSets = markerPairs.map(_.iterator.map(_._2).toSet)
      // a runId collision between stores would make blockIds ambiguous
      if (runIdSets.map(_.size).sum != runIdSets.reduce(_ ++ _).size)
        Some("runId collision between stores")
      else None
    }
    reason match {
      case None =>
        savePlan(plans.head.get, outDir)
        inDirs.zip(markerPairs).foreach { case (d, pairs) =>
          // committedBlocks reads the fixed blocks schema, so mixed-era
          // inputs merge into one uniform schema (a legacy file's absent
          // zone/bloom columns land as null: no pruning)
          val live = TokenDecoder.committedBlocks(spark, d, None)
          // payloads are already codec+zstd compressed (same reasoning
          // as run()'s block write)
          live.write.mode("append").option("compression", "uncompressed")
            .parquet(s"$outDir/blocks")
          // lineage keyed by blockId: crashed-run orphan rows never travel
          StoreTables.read(spark, s"$d/lineage", StoreTables.Lineage)
            .join(live.select("blockId"), Seq("blockId"), "left_semi")
            .write.mode("append").parquet(s"$outDir/lineage")
          // markers from the already-collected pairs — a marked-but-empty
          // partId stays marked, so run()-resume over the merge is a no-op
          StoreTables.writeFile(spark, s"$outDir/completed",
            StoreTables.Completed, pairs.map { case (p, r) => Row(p, r) })
        }
        // counts from the COPIED lineage (one row per live block,
        // rowCount = blockRows): a single agg over the merged store's
        // small lineage table — a readback validation of the copy —
        // instead of re-executing the committedBlocks scan+joins per
        // input just to count
        val sm = StoreTables.read(spark, s"$outDir/lineage", StoreTables.Lineage)
          .agg(count(lit(1)), coalesce(sum("rowCount"), lit(0L))).first()
        MergeResult(sm.getLong(0), sm.getLong(1), rowLevel = true, None)
      case Some(why) =>
        // fallback: full decode+union+re-encode; run() sizes a fresh
        // plan for the union
        val rows = inDirs.map(d => TokenDecoder.read(spark, d))
          .reduce(_ union _)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val lineage = run(rows, outDir, cfg.copy(cacheInput = false))
          val sm = lineage.toDF()
            .agg(coalesce(sum("rowCount"), lit(0L))).first()
          MergeResult(0L, sm.getLong(0), rowLevel = false, Some(why))
        } finally { rows.unpersist(blocking = false); () }
    }
  }

  /** Selective compaction: rewrite ONLY the fragmented partitions of a
    * store into full-size blocks; everything else moves verbatim at
    * the parquet row level. Fragmentation accrues from the zero-decode
    * paths that deliberately never repack — mergeStores concatenates
    * each input's remainder blocks per partId, streaming ingest lands
    * one remainder per micro-batch — and each undersized block costs a
    * symtab + dictionary probe + task overhead per read forever after.
    *
    * Classification is METADATA-ONLY (blockRows/totalTokens per
    * partId): a partId is fragmented when its block count exceeds
    * what one sequential pack of the same content could legitimately
    * produce, floor(rows/blockRows) + floor(tokens/blockTokens) + 1
    * (each sealed block consumed a full row-cap OR token-cap, plus
    * one trailing remainder) — a remainder block is NORMAL, never a
    * compaction trigger, and re-compacting a compacted store is a
    * no-op by construction.
    * Per-partId stats collect to the driver: bounded by the partition
    * plan's size, the same envelope loadPlan already holds.
    *
    * Fragmented partitions decode ONCE and re-encode through run()'s
    * own resume protocol under the store's pinned plan (partIdOf
    * routes every row back to its own partId); a crash resumes by
    * removing the partial dir, exactly the deleteDocs/merge contract.
    * A store with no plan.json (legacy) degrades to a full rewrite.
    */
  def compactStore(spark: SparkSession, inDir: String, outDir: String,
                   cfg: EncodeConfig = EncodeConfig()): CompactResult = {
    import spark.implicits._
    require(inDir != outDir, "compactStore: outDir must differ from inDir")
    requireFreshDir(outDir, "compactStore")
    def storeShape(dir: String): (Long, Long) = {
      val live = TokenDecoder.committedBlocks(spark, dir, None)
      val r = live.agg(count(lit(1)),
        coalesce(sum("blockRows"), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    loadPlan(inDir) match {
      case None =>
        // legacy store without a plan: no partId bands to preserve —
        // honest fallback is the full decode+re-encode (run() samples
        // a fresh plan AND encodes = two passes, so its default input
        // caching stands here, unlike the pinned-plan arm below)
        val (blocksBefore, _) = storeShape(inDir)
        // report the ACTUAL partition count rewritten (operator-facing
        // compactenc output), not a hard-coded 1 — the committed scan
        // below is metadata-only and plan-bounded
        val partsIn = TokenDecoder.committedBlocks(spark, inDir, None)
          .select("partId").distinct().count().toInt
        run(TokenDecoder.read(spark, inDir), outDir, cfg)
        val (blocksAfter, rows) = storeShape(outDir)
        CompactResult(math.max(partsIn, 1), 0, math.max(partsIn, 1),
          blocksBefore, blocksAfter, rows)
      case Some(plan) =>
        savePlan(plan, outDir)
        val live = TokenDecoder.committedBlocks(spark, inDir, None)
        val perPart = live.groupBy("partId")
          .agg(count(lit(1)).as("k"),
            coalesce(sum("blockRows"), lit(0L)).as("rows"),
            coalesce(sum("totalTokens"), lit(0L)).as("toks"))
          .as[(Int, Long, Long, Long)].collect()
        // sequential packing seals a block when EITHER cap is reached,
        // so a fresh encode can legitimately produce up to
        // floor(rows/blockRows) + floor(tokens/blockTokens) + 1 blocks
        // (each sealed block consumed a full row-cap OR a full
        // token-cap, plus one trailing remainder). Only counts ABOVE
        // that bound are true fragmentation — a tighter max(ceil,ceil)
        // bound would re-flag alternating-seal partitions forever and
        // compaction would never converge. Caveat (ADVICE r6): a
        // store encoded with noShuffle=true legitimately emits one
        // remainder block per task partition per partId, so such
        // stores exceed this bound and compact fully on the FIRST
        // pass (correct output; the no-op-by-construction convergence
        // holds from the second compaction on, once the store is
        // sequentially packed).
        val frag = perPart.filter { case (_, k, rows, toks) =>
          k > rows / cfg.blockRows.toLong +
            toks / cfg.blockTokens.toLong + 1L
        }.map(_._1).toSet
        val allParts = allPartIds(plan)
        copyPartsVerbatim(spark, inDir, outDir, live, frag)
        if (frag.nonEmpty) {
          // decode ONLY the fragmented partitions; checksums are
          // re-derived by the re-encode, so skip the verify decode
          val rows = TokenDecoder.readBlocks(spark, inDir, Some(frag),
            verifyChecksums = false)
          // the pinned plan is already saved, so run() never samples:
          // the decode stream has exactly ONE consumer — caching it
          // would materialize the fragmented share for nothing
          run(rows, outDir, cfg.copy(cacheInput = false))
          ()
        }
        val (blocksAfter, rowsTotal) = storeShape(outDir)
        CompactResult(allParts.size, (allParts -- frag).size, frag.size,
          perPart.map(_._2).sum, blocksAfter, rowsTotal)
    }
  }
}

/** Symmetric decode: blocks -> TokenRow, ignoring uncommitted blocks. */
object TokenDecoder {

  def decodeBlock(b: EncodedBlock): Iterator[TokenRow] =
    rows(b, BlockCodec.decode(b.codecId, b.postCodec, b.symtab, b.payload,
      b.totalTokens.toInt))

  private def rows(b: EncodedBlock, tokens: Array[Int]): Iterator[TokenRow] = {
    val docIds = graft.codec.StringCols.decodeDocIds(b.docIdsEnc, b.blockRows)
    val sources = graft.codec.StringCols.decodeSources(b.sourcesEnc, b.blockRows)
    val lens = new ByteReader(b.lengthsEnc)
    var off = 0
    (0 until b.blockRows).iterator.map { i =>
      val n = lens.readVarInt()
      val arr = java.util.Arrays.copyOfRange(tokens, off, off + n)
      off += n
      TokenRow(docIds(i), arr, n, sources(i))
    }
  }

  /** Read an encode output dir back into rows (committed blocks only).
    * With `verifyChecksums` every block's decoded token stream is
    * re-hashed against the checksum sealed at encode time — bit rot or
    * a codec defect surfaces as an exception naming the block, not as
    * silently wrong tokens.
    */
  def read(spark: SparkSession, outDir: String,
           verifyChecksums: Boolean = false): Dataset[TokenRow] =
    readBlocks(spark, outDir, None, verifyChecksums)

  /** Bounded preview: decode only enough blocks to yield `n` rows —
    * the quick peek a 10^12-row store needs at O(n) cost, not
    * O(store). Block choice is by blockId order (deterministic, not
    * semantically meaningful, like any head). The metadata pull is
    * bounded BEFORE the driver: at most `n` nonempty blocks' (id,
    * rows) pairs come back (TakeOrdered — every nonempty block yields
    * ≥1 row, so `n` blocks always suffice), then a cumulative prefix
    * picks the ones that actually decode.
    */
  def readHead(spark: SparkSession, outDir: String,
               n: Int): Dataset[TokenRow] = {
    import spark.implicits._
    require(n > 0, "readHead: n must be positive")
    val metaPairs = committedBlocks(spark, outDir, None)
      .where(col("blockRows") > 0)
      .select("blockId", "blockRows")
      .as[(String, Int)]
      .orderBy("blockId")
      .limit(n)
      .collect()
    var acc = 0L
    val picked = metaPairs.takeWhile { case (_, rows) =>
      val keep = acc < n
      acc += rows
      keep
    }.map(_._1).toSet
    if (picked.isEmpty) spark.emptyDataset[TokenRow]
    else readBlocks(spark, outDir, None, verifyChecksums = false,
      blockIds = Some(picked)).limit(n)
  }

  /** Store integrity audit — the fsck a resumable 10^12-row store
    * wants before a merge/delete/compaction is trusted. Cross-checks
    * the three metadata tables per partId: commit markers (who CLAIMS
    * commitment), lineage (what each committed run SAYS it wrote),
    * blocks (what is actually there). One row per partId seen in any
    * of the three:
    *
    *  - `missing_blocks`: committed lineage rows whose block is absent
    *    — data loss, `ok = false`.
    *  - `orphan_blocks`: blocks of uncommitted runs — crash leftovers
    *    readers already ignore and vacuum reclaims; `ok` stays true.
    *  - `checksum_fails`: only with `verifyChecksums = true`, which
    *    decodes every committed block and re-hashes it against the
    *    checksum sealed at encode time (full-scan cost; the default
    *    audit is METADATA-ONLY — block payloads unread).
    *
    * ok = marked && missing_blocks == 0 && rows_blocks == rows_lineage
    * (&& checksum_fails == 0 when verified). Everything is exact
    * per-partId aggregation — no driver-side listing beyond the plan.
    */
  def auditStore(spark: SparkSession, outDir: String,
                 verifyChecksums: Boolean = false): DataFrame = {
    import spark.implicits._
    // a pre-marker-protocol completed/ (no runId column) carries no
    // usable commitment claims — the fsck treats it as marker-LESS
    // (everything unmarked/orphaned, ok=false) and REPORTS, where the
    // strict reader deliberately throws
    val markers = TokenEncoder.safeReadParquet(spark, s"$outDir/completed")
      .filter(_.columns.contains("runId"))
      .map(_.select(col("partId").cast("int").as("partId"), col("runId")))
      .getOrElse(Seq.empty[(Int, String)].toDF("partId", "runId"))
    val blocks = TokenEncoder
      .safeReadParquet(spark, s"$outDir/blocks", mergeSchema = true)
      .filter(df => Seq("partId", "runId", "blockId", "blockRows")
        .forall(df.columns.contains))
      .map(_.select(col("partId").cast("int").as("partId"), col("runId"),
        col("blockId"), col("blockRows").cast("long").as("blockRows")))
      .getOrElse(Seq.empty[(Int, String, String, Long)]
        .toDF("partId", "runId", "blockId", "blockRows"))
    // lineage lacks a runId column; blockIds are "$runId-$partId-…",
    // so derive the runId by splitting at the FIRST '-' — width-
    // independent (a hard-coded substring(1,16) silently broke the
    // lineage↔marker join if the runId format ever widened)
    val lineage = TokenEncoder.safeReadParquet(spark, s"$outDir/lineage")
      .map(_.select(col("partId").cast("int").as("partId"),
        col("blockId"), col("rowCount").cast("long").as("rowCount"))
        .withColumn("runId", substring_index(col("blockId"), "-", 1)))
      .getOrElse(Seq.empty[(Int, String, Long, String)]
        .toDF("partId", "blockId", "rowCount", "runId"))
    val linC = lineage.join(markers, Seq("partId", "runId"), "left_semi")
    val blkC = blocks.join(markers, Seq("partId", "runId"), "left_semi")
    val marked = markers.groupBy("partId")
      .agg(count(lit(1)).as("n_markers"))
    val blkAgg = blkC.groupBy("partId")
      .agg(count(lit(1)).as("n_blocks"),
        coalesce(sum("blockRows"), lit(0L)).as("rows_blocks"))
    val linAgg = linC.groupBy("partId")
      .agg(coalesce(sum("rowCount"), lit(0L)).as("rows_lineage"))
    val missing = linC.join(blocks.select("blockId"), Seq("blockId"),
        "left_anti")
      .groupBy("partId").agg(count(lit(1)).as("missing_blocks"))
    val orphans = blocks.join(markers, Seq("partId", "runId"), "left_anti")
      .groupBy("partId").agg(count(lit(1)).as("orphan_blocks"))
    val fails =
      if (!verifyChecksums)
        Seq.empty[(Int, Long)].toDF("partId", "checksum_fails")
      else TokenEncoder
        // self-contained committed-block join, NOT committedBlocks:
        // that reader fails loudly on marker-less / pre-protocol
        // stores by design, but an fsck must still REPORT on exactly
        // those stores (its metadata arms already do, via the same
        // safeReadParquet tolerance)
        .safeReadParquet(spark, s"$outDir/blocks", mergeSchema = true)
        .filter(df => Seq("partId", "runId", "codecId", "postCodec",
          "symtab", "payload", "totalTokens", "checksum")
          .forall(df.columns.contains))
        .map(_.join(markers, Seq("partId", "runId"), "left_semi")
          // a mixed-era row missing its checksum or payload (nulls
          // under mergeSchema) cannot be verified — the metadata arms
          // still flag its partition via the row-mass comparison
          .where(col("checksum").isNotNull && col("payload").isNotNull)
          .select(col("partId").cast("int"), col("codecId"),
            col("postCodec"), col("symtab"), col("payload"),
            col("totalTokens"), col("checksum")))
        .getOrElse(Seq
          .empty[(Int, Int, Int, Array[Byte], Array[Byte], Long, Long)]
          .toDF("partId", "codecId", "postCodec", "symtab", "payload",
            "totalTokens", "checksum"))
        .as[(Int, Int, Int, Array[Byte], Array[Byte], Long, Long)]
        .map { case (partId, cid, post, st, pay, nTok, chk) =>
          // an audit REPORTS corruption — a payload mangled badly
          // enough to blow up its codec must count as a failure, not
          // kill the job the way the strict read path deliberately does
          val failed =
            try {
              val tokens = BlockCodec.decode(cid, post, st, pay, nTok.toInt)
              BlockCodec.checksum(tokens, tokens.length) != chk
            } catch { case scala.util.control.NonFatal(_) => true }
          (partId, if (failed) 1L else 0L)
        }
        .toDF("partId", "fail")
        .groupBy("partId").agg(sum("fail").as("checksum_fails"))
    marked.join(blkAgg, Seq("partId"), "full_outer")
      .join(linAgg, Seq("partId"), "full_outer")
      .join(missing, Seq("partId"), "full_outer")
      .join(orphans, Seq("partId"), "full_outer")
      .join(fails, Seq("partId"), "full_outer")
      .select(col("partId"),
        (coalesce(col("n_markers"), lit(0L)) > 0L).as("marked"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("rows_blocks"), lit(0L)).as("rows_blocks"),
        coalesce(col("rows_lineage"), lit(0L)).as("rows_lineage"),
        coalesce(col("missing_blocks"), lit(0L)).as("missing_blocks"),
        coalesce(col("orphan_blocks"), lit(0L)).as("orphan_blocks"),
        coalesce(col("checksum_fails"), lit(0L)).as("checksum_fails"))
      .withColumn("ok",
        col("marked") && col("missing_blocks") === 0L &&
          col("rows_blocks") === col("rows_lineage") &&
          col("checksum_fails") === 0L)
      .orderBy("partId")
  }

  /** Partition-pruned decode of ONE source: the pinned partition plan
    * maps the source to its contiguous partId band (plus the overflow
    * band for plan-unknown sources), so the parquet `partId` filter
    * prunes every other source's blocks at the scan — decode cost is
    * O(that source), not O(table). Overflow-band blocks can hold
    * several rare sources, so a residual row filter keeps exactness.
    */
  def readSource(spark: SparkSession, outDir: String, source: String,
                 verifyChecksums: Boolean = false): Dataset[TokenRow] = {
    import spark.implicits._
    val plan = TokenEncoder.loadPlan(outDir)
      .getOrElse(throw new IllegalArgumentException(s"no plan.json in $outDir"))
    val ids: Seq[Int] = plan.get(source) match {
      case Some((base, salts)) => base until (base + salts)
      case None => Seq(TokenEncoder.overflowSlotOf(plan, source))
    }
    readBlocks(spark, outDir, Some(ids.toSet), verifyChecksums)
      .filter(_.source == source)
  }

  /** Metadata-only decode: (doc_id, n_tok, source) per row WITHOUT
    * touching the token payload — the select below reaches the
    * parquet scan as column pruning, so the store's heaviest column
    * (payload, ~95% of bytes) is never read. Stats/mixing/packing
    * queries over an encoded corpus run at metadata cost — the
    * classic columnar projection win applied to our own format.
    */
  def readMeta(spark: SparkSession, outDir: String): Dataset[graft.model.TokenMeta] = {
    import spark.implicits._
    committedBlocks(spark, outDir, None)
      .select("blockId", "docIdsEnc", "sourcesEnc", "lengthsEnc", "blockRows")
      .as[(String, Array[Byte], Array[Byte], Array[Byte], Int)]
      .flatMap { case (_, dEnc, sEnc, lEnc, nRows) =>
        val docIds = graft.codec.StringCols.decodeDocIds(dEnc, nRows)
        val sources = graft.codec.StringCols.decodeSources(sEnc, nRows)
        val lens = new ByteReader(lEnc)
        (0 until nRows).iterator.map(i =>
          graft.model.TokenMeta(docIds(i), lens.readVarInt(), sources(i)))
      }
  }

  /** Point lookup: full TokenRows for exactly the requested doc ids.
    * Two phases so rejected blocks' PAYLOAD BYTES are never read:
    * (1) a metadata-only scan of (blockId, docBloomEnc) — a few
    * hundred bytes per block — keeps blocks whose Bloom filter may
    * contain any requested id (no false negatives; ~1% false
    * positives at the build parameters); (2) only those blocks are
    * re-read in full and decoded, with an exact row filter on top.
    * The surviving-block list passes through the driver, which is
    * what bounds it: |ids| true locations + the Bloom's fp share of
    * the store — a point-lookup-sized set by construction, NOT
    * O(store) (a range/frequency scan must never use this shape; see
    * CompressedSearch for those). Legacy blocks with a null filter
    * are kept — correct, just unpruned.
    */
  /** Driver cap on the may-contain list: past it (a degenerate store —
    * null-bloom legacy blocks, or a bloom fp share at 10^9 blocks) the
    * survivor set stays DISTRIBUTED as a semi-join on blockId, so the
    * driver never holds a list proportional to store size.
    */
  private[encode] val MaxPointLookupBlockIds = 65536

  def readDocsById(spark: SparkSession, outDir: String,
                   docIds: Seq[String]): Dataset[TokenRow] = {
    import spark.implicits._
    val wanted = docIds.toArray
    val hit = committedBlocks(spark, outDir, None)
      .select("blockId", "docBloomEnc")
      .as[(String, Array[Byte])]
      .filter { case (_, bloom) =>
        graft.codec.DocBloom.mayContainAny(bloom, wanted.toSeq)
      }
      .map(_._1)
    val idSet = wanted.toSet
    // bounded collect: |ids| true locations + the bloom's fp share —
    // point-sized on a healthy store, so take() normally returns the
    // full set and the blockId list is pushed to the parquet scan
    val ids0 = hit.take(MaxPointLookupBlockIds + 1)
    if (ids0.length <= MaxPointLookupBlockIds)
      readBlocks(spark, outDir, None, verifyChecksums = false,
        blockIds = Some(ids0.toSet))
        .filter(r => idSet.contains(r.doc_id))
    else
      readBlocksSemi(spark, outDir, hit.toDF("blockId"))
        .filter(r => idSet.contains(r.doc_id))
  }

  /** Committed blocks, optionally partId-pruned — the ONE definition
    * of "live block" every decode path (and vacuum) shares: the block
    * has a lineage row AND its (partId, runId) carries a commit
    * marker. The marker filter excludes a crashed run's orphans even
    * when that crash happened AFTER its lineage landed but before its
    * markers did (the resume then re-encoded those partIds — without
    * this filter readers would see both copies).
    *
    * The live set is resolved on the driver, with no Spark job, when
    * `lineage/` holds at most [[CompressedSearch.MaxSelectedBlockIds]]
    * rows ([[StoreTables.readRows]] stops at one past that): `blocks/`
    * is then scanned once with `blockId IN (lineage ids)` pushed and
    * the block row's own (partId, runId) checked against the markers
    * of the lineage rows' partIds. A lineage row carries the partId of
    * the block row it describes (`run` reads it back from the written
    * blocks; the store copies move both verbatim), so those markers
    * are all the ones the block rows can match, and the filter keeps
    * exactly the rows the two left-semi joins keep. Above the bound
    * the joins themselves run.
    */
  private[graft] def committedBlocks(spark: SparkSession, outDir: String,
                              partIds: Option[Set[Int]]): DataFrame = {
    // fail LOUDLY on a store whose lineage exists but whose commit
    // markers don't fit the (partId, runId) protocol — silently
    // decoding such a store as zero rows would read as data loss (and
    // vacuum would delete every block as "uncommitted"). Two shapes:
    // a `completed` dir missing the runId column is definitively a
    // pre-marker-protocol store; lineage with NO committed `completed`
    // file at all is either legacy or a first run crashed before its
    // markers — both need the same answer (re-encode / resume), never
    // an empty read. Both checks are driver-side: a listing, one footer
    // read, and the lineage rows read here.
    val lineagePath = s"$outDir/lineage"
    val lineage = StoreTables.readRows(spark, lineagePath, StoreTables.Lineage,
      Seq("partId", "blockId"), limit = CompressedSearch.MaxSelectedBlockIds + 1)
    StoreTables.dataFiles(spark, s"$outDir/completed").headOption match {
      case Some(f) if !StoreTables.footerHasColumn(spark, f, "runId") =>
        throw new IllegalStateException(
          s"token store at $outDir predates the commit-marker protocol: " +
          "completed/ lacks the runId column. Re-encode the store (or " +
          "backfill (partId, runId) markers from lineage) before reading.")
      case None if lineage.nonEmpty =>
        throw new IllegalStateException(
          s"token store at $outDir has lineage but no completed/ markers — " +
          "either it predates the commit-marker protocol or its first " +
          "encode run crashed before committing. Resume the encode " +
          "(TokenEncoder.run) or re-encode; reading it now would return " +
          "zero rows for real data.")
      case _ => ()
    }
    // fixed schema: a legacy file's absent zone-map / doc-bloom columns
    // read NULL = no pruning. They are never coalesced here — that
    // would wrap the columns in coalesce() and kill filter pushdown.
    // Consumers stay null-safe instead: CompressedSearch's zone
    // predicate keeps null rows (isNull OR compare, still
    // parquet-pushable), DocBloom/TokBloom treat a null filter as "may
    // contain anything", and the decode boundary (readBlocks) coalesces
    // to the sentinels just before .as[EncodedBlock].
    val blocks = StoreTables.read(spark, s"$outDir/blocks", StoreTables.Blocks)
    val pruned = partIds.fold(blocks)(ids =>
      blocks.where(col("partId").isInCollection(ids.map(Int.box))))
    if (lineage.length <= CompressedSearch.MaxSelectedBlockIds) {
      val parts = lineage.map(_.getInt(0)).toSet
      // a null runId (a legacy marker file) never matches a block row
      val marked = TokenEncoder.completedPairs(spark, outDir).collect {
        case (p, r) if r != null && parts(p) => struct(lit(p), lit(r))
      }
      pruned.where(col("blockId").isInCollection(lineage.map(_.getString(1)).distinct) &&
        struct(col("partId"), col("runId")).isInCollection(marked))
    } else
      // over the bound, lineage is non-empty, so the checks above found
      // committed markers. Left-semi right sides only test existence: no
      // distinct needed
      pruned
        .join(StoreTables.read(spark, lineagePath, StoreTables.Lineage)
          .select("blockId"), Seq("blockId"), "left_semi")
        .join(broadcast(StoreTables.read(spark, s"$outDir/completed", StoreTables.Completed)),
          Seq("partId", "runId"), "left_semi")
  }

  /** Stores whose [[liveBlocks]] snapshot stays cached; the least
    * recently used one past this is dropped (a frame arm is
    * unpersisted).
    */
  private[graft] val LiveFrameStores = 8

  /** Per-store byte bound on a driver snapshot: the rows' `symtab` and
    * `bloomEnc` bytes plus [[SnapshotRowBytes]] each. A dict symtab
    * reaches ~200 KB at `DictCodec.maxCard`, so the row bound alone
    * would allow ~800 MB; at 16 MB, [[LiveFrameStores]] snapshots hold
    * at most 128 MB of driver heap.
    */
  private[graft] val SnapshotMaxBytes: Long = 16L << 20

  /** Driver charge per snapshot row for its blockId and fixed-width
    * fields.
    */
  private val SnapshotRowBytes = 128

  // the row bound of a driver snapshot; specs lower it to 0 to keep
  // every store in the frame arm
  @volatile private var snapshotRowCap = CompressedSearch.MaxSelectedBlockIds

  /** Sets the row bound of a driver snapshot (specs set 0 to force the
    * frame arm) and drops every store's snapshot, so the next call
    * rebuilds under the new bound.
    */
  private[graft] def capSnapshotRows(cap: Int): Unit = liveSnapshots.synchronized {
    snapshotRowCap = cap
    liveSnapshots.values.forEach(_.blocks.release())
    liveSnapshots.clear()
  }

  /** One live block's selection metadata. A null zone bound (a
    * pre-zone-map file) reads as None and keeps the block.
    */
  private[graft] final case class LiveBlock(blockId: String, partId: Int,
      codecId: Int, symtab: Array[Byte], minTok: Option[Int],
      maxTok: Option[Int], blockRows: Int, totalTokens: Long,
      bloomEnc: Array[Byte])

  /** A store's live blocks as of one signature: driver rows when they
    * fit the snapshot bounds, else a cached frame of the same columns.
    */
  private[graft] sealed trait LiveBlocks {
    // a frame dropped under us (e.g. by spark.catalog.clearCache())
    // no longer answers from the cache
    def live: Boolean = this match {
      case LiveFrame(f) => f.storageLevel != StorageLevel.NONE
      case LiveRows(_) => true
    }
    def release(): Unit = this match {
      case LiveFrame(f) => f.unpersist(blocking = false); ()
      case LiveRows(_) => ()
    }
  }
  private[graft] final case class LiveRows(rows: Array[LiveBlock]) extends LiveBlocks
  private[graft] final case class LiveFrame(frame: DataFrame) extends LiveBlocks

  private final case class LiveEntry(signature: Seq[(String, Long, Long)],
                                     blocks: LiveBlocks)

  // keyed by (session, outDir); access order = LRU
  private val liveSnapshots =
    new java.util.LinkedHashMap[(SparkSession, String), LiveEntry](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), LiveEntry]): Boolean =
        size > LiveFrameStores && { e.getValue.blocks.release(); true }
    }
  // one lock per store while it is being built: concurrent cold calls
  // on one store build it once, and no call waits on another store's
  // build
  private val building =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), AnyRef]()
  private val frameSeq = new java.util.concurrent.atomic.AtomicLong()

  /** The store's live-block METADATA: [[committedBlocks]] with the
    * token index's `bloomEnc` adjoined, projected to `blockId, partId,
    * codecId, symtab, minTok, maxTok, blockRows, totalTokens, bloomEnc`
    * ([[liveMeta]]) — the snapshot a table format keeps between
    * queries (Delta's log snapshot, Iceberg's cached manifests), so a
    * search selects blocks without re-running the lineage/marker/index
    * joins per call. It IS committedBlocks plus the bloom, not a second
    * liveness rule.
    *
    * Kept in one of two arms, per (session, outDir), for at most
    * [[LiveFrameStores]] stores:
    *  - [[LiveRows]]: the rows on the driver, when the store has at
    *    most [[CompressedSearch.MaxSelectedBlockIds]] live blocks and
    *    they fit [[SnapshotMaxBytes]]. Block selection then runs as a
    *    driver loop, with no Spark job. Nothing stays persisted.
    *  - [[LiveFrame]]: otherwise, the projection cached
    *    (MEMORY_AND_DISK), and selection is a scan of it.
    * A build persists the projection and runs one job over it
    * ([[fitRows]]), which fills the cache and decides the arm; a store
    * that fits then drops the cache. So a store over the bounds reads
    * its metadata once per snapshot, as the pre-scan that filled the
    * cache did before the driver arm existed.
    *
    * Every call re-lists the store's [[StoreTables.signature]] first; a
    * changed signature (or a frame dropped under it, e.g. by
    * `spark.catalog.clearCache()`) rebuilds, and the new entry replaces
    * (and unpersists) the old, so committedBlocks' protocol checks run
    * again on any change to `completed/` or `lineage/` and a build that
    * throws keeps nothing. A build holds only its own store's lock,
    * not the one that guards the entries: concurrent cold calls on one
    * store wait for one build, and no call waits on another store's.
    * Each frame's plan carries its own `frameId` literal: the cache manager
    * is shared by every session of the context and matches plans, not
    * Datasets, so another build over the same paths (a newer snapshot,
    * another session) must never resolve to this one's rows.
    *
    * Both arms read through a sibling of `spark` ([[frameSession]]):
    * the same runtime conf with adaptive execution off. Under AQE, a
    * scan of a cached plan that holds exchanges (the commit joins'
    * broadcasts) first materializes the whole cache in a job of its
    * own; without it the build's job fills the cache as it reads.
    */
  private[graft] def liveBlocks(spark: SparkSession, outDir: String): LiveBlocks = {
    val sig = StoreTables.signature(spark, outDir)
    val key = (spark, outDir)
    def current: Option[LiveBlocks] =
      Option(liveSnapshots.get(key)).filter(e => e.signature == sig && e.blocks.live)
        .map(_.blocks)
    liveSnapshots.synchronized(current).getOrElse {
      val lock = building.computeIfAbsent(key, _ => new AnyRef)
      try lock.synchronized {
        liveSnapshots.synchronized(current).getOrElse {
          val built = buildLive(frameSession(spark), outDir)
          liveSnapshots.synchronized {
            Option(liveSnapshots.put(key, LiveEntry(sig, built))).foreach(_.blocks.release())
          }
          built
        }
      } finally building.remove(key, lock)
    }
  }

  /** The payload-free projection both [[liveBlocks]] arms hold. */
  private[graft] def liveMeta(spark: SparkSession, outDir: String): DataFrame =
    TokenIndex.withBloom(spark, outDir, committedBlocks(spark, outDir, None))
      .select("blockId", "partId", "codecId", "symtab", "minTok", "maxTok",
        "blockRows", "totalTokens", "bloomEnc")

  /** One snapshot of the store: [[liveMeta]] persisted under a fresh
    * `frameId`, then kept as rows if [[fitRows]] finds they fit (the
    * cache dropped), else as the cached frame. A build that throws
    * leaves nothing persisted.
    */
  private def buildLive(spark: SparkSession, outDir: String): LiveBlocks = {
    val frame = liveMeta(spark, outDir)
      .withColumn("frameId", lit(frameSeq.incrementAndGet()))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rows = try fitRows(frame) catch {
      case e: Throwable => frame.unpersist(blocking = false); throw e
    }
    rows match {
      case Some(r) => frame.unpersist(blocking = false); LiveRows(r)
      case None => LiveFrame(frame)
    }
  }

  /** `frame`'s rows if there are at most [[snapshotRowCap]] of them
    * within [[SnapshotMaxBytes]], else None. One job over the persisted
    * frame, which fills its cache: each of its P partitions returns its
    * row and byte counts, plus its rows when they fit a 1/P share of
    * the bytes, so the result never holds more than the byte bound. A
    * store that fits but whose bytes sit in few partitions takes its
    * rows in a second job, a read of the cache.
    */
  private def fitRows(frame: DataFrame): Option[Array[LiveBlock]] = {
    val enc = org.apache.spark.sql.Encoders.product[LiveBlock]
    val rdd = frame.as[LiveBlock](enc).rdd
    val share = SnapshotMaxBytes / math.max(rdd.getNumPartitions, 1)
    val cap = snapshotRowCap
    val parts = rdd.mapPartitions { it =>
      var n = 0L
      var bytes = 0L
      var kept = scala.collection.mutable.ArrayBuffer[LiveBlock]()
      // the cache holds the whole partition already; reading stops
      // once the partition alone is over a bound
      def fits = n <= cap && bytes <= SnapshotMaxBytes
      while (fits && it.hasNext) {
        val r = it.next()
        n += 1
        bytes += SnapshotRowBytes + Option(r.symtab).fold(0)(_.length) +
          Option(r.bloomEnc).fold(0)(_.length)
        if (kept != null) {
          if (bytes <= share) kept += r else kept = null
        }
      }
      Iterator.single((n, bytes, Option(kept).filter(_ => fits).map(_.toArray)))
    }.collect()
    if (parts.map(_._1).sum > cap || parts.map(_._2).sum > SnapshotMaxBytes) None
    else if (parts.forall(_._3.isDefined)) Some(parts.flatMap(_._3.get))
    else Some(frame.as[LiveBlock](enc).collect())
  }

  // one per caller session (weak keys), reused by every build: a new
  // session's first analysis costs ~100 ms of a cold call
  private val frameSessions = new java.util.WeakHashMap[SparkSession, SparkSession]()

  /** `spark`'s sibling with its current runtime conf (so the frame
    * reads the store exactly as `spark` would) and adaptive execution
    * off.
    */
  private def frameSession(spark: SparkSession): SparkSession = frameSessions.synchronized {
    val s = frameSessions.computeIfAbsent(spark, _ => spark.newSession())
    spark.conf.getAll.foreach { case (k, v) =>
      if (!s.conf.getOption(k).contains(v)) s.conf.set(k, v)
    }
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** The typed decode boundary, with column pruning preserved (r7):
    * `.as[EncodedBlock]` alone forces EVERY store column through the
    * scan — including `docBloomEnc` (real per-block bloom bytes a
    * decode never touches) and the byte-count/timing metadata — so
    * each decode pass paid I/O for columns it provably ignores.
    * Selecting only what [[decodeBlock]]/checksum-verify read and
    * stubbing the rest with literals keeps the case-class boundary
    * (nothing downstream sees the stubs; the Dataset is flatMapped to
    * TokenRow immediately) while letting the parquet scan's
    * ReadSchema drop the dead columns. The minTok/maxTok coalesce is
    * the legacy-store sentinel backfill (EncodedBlock's Int fields
    * cannot hold the nulls a pre-zone-map file's rows read as).
    */
  private def decodeProjection(df: org.apache.spark.sql.DataFrame)(
      implicit enc: org.apache.spark.sql.Encoder[EncodedBlock]): Dataset[EncodedBlock] =
    df.select(col("blockId"), col("runId"), col("partId"), col("blockSeq"),
        col("codecId"), col("postCodec"), col("symtab"), col("payload"),
        col("lengthsEnc"), col("docIdsEnc"), col("sourcesEnc"),
        lit(null).cast("binary").as("docBloomEnc"),
        col("blockRows"), col("totalTokens"),
        coalesce(col("minTok"), lit(Int.MinValue)).as("minTok"),
        coalesce(col("maxTok"), lit(Int.MaxValue)).as("maxTok"),
        lit(0L).as("rawBytes"), lit(0L).as("encodedBytes"),
        lit(0L).as("metaBytes"), lit(0L).as("encodeMillis"),
        col("checksum"))
      .as[EncodedBlock]

  private[encode] def readBlocks(spark: SparkSession, outDir: String,
                         partIds: Option[Set[Int]],
                         verifyChecksums: Boolean,
                         blockIds: Option[Set[String]] = None): Dataset[TokenRow] = {
    import spark.implicits._
    val committed = committedBlocks(spark, outDir, partIds)
    val live = decodeProjection(blockIds.fold(committed)(ids =>
      committed.where(col("blockId").isInCollection(ids))))
    if (!verifyChecksums) live.flatMap(decodeBlock)
    else live.flatMap { b =>
      val tokens = BlockCodec.decode(b.codecId, b.postCodec, b.symtab, b.payload,
        b.totalTokens.toInt)
      val got = BlockCodec.checksum(tokens, tokens.length)
      if (got != b.checksum)
        throw new IllegalStateException(
          s"checksum mismatch in block ${b.blockId}: got $got expected ${b.checksum}")
      rows(b, tokens)
    }
  }

  /** [[readBlocks]] with the block restriction kept DISTRIBUTED: a
    * left-semi join on blockId instead of a driver-collected IN list —
    * the overflow arm of [[readDocsById]] for survivor sets past the
    * driver cap. Prunes the decode (not the parquet byte read, which
    * only a pushed filter can); at that survivor cardinality the scan
    * reads most blocks regardless.
    */
  private[encode] def readBlocksSemi(spark: SparkSession, outDir: String,
      blockIds: DataFrame): Dataset[TokenRow] = {
    import spark.implicits._
    decodeProjection(committedBlocks(spark, outDir, None)
        .join(blockIds.select("blockId"), Seq("blockId"), "left_semi"))
      .flatMap(decodeBlock)
  }
}
