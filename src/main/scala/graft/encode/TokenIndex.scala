package graft.encode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.{BlockCodec, CodecIds, TokBloom}

/** Secondary token-membership index over an encoded store: one
  * [[graft.codec.TokBloom]] per committed NON-dict block, persisted as
  * a small parquet table at `store/tokidx` (blockId, n_distinct,
  * bloomEnc). The gap it closes: zone maps prune by RANGE, so a
  * "smooth"/"random" regime block whose zone spans most of the value
  * space survives every point predicate even though any specific
  * token is almost never in it — the bloom rejects those blocks
  * before their payload is DECODED. Dict blocks are deliberately not
  * indexed: their symtab rejection is exact and already payload-free.
  *
  * The index is an ACCELERATOR, never a correctness dependency:
  * readers treat a missing index, a missing row (new blocks since the
  * last build), a null bloom (over-cap block) and a legacy store
  * identically — no pruning, full correctness. That makes build()
  * idempotent and rebuild-any-time (one decode pass, mode=overwrite;
  * a crash mid-overwrite degrades to "no pruning" on the next read,
  * exactly like DocBloom's null-filter convention). Since round 7 a
  * bloom rejection also saves the parquet READ of the block's
  * payload, not just its decode: CompressedSearch's two-phase
  * selection evaluates the bloom in a payload-free pre-scan and the
  * payload scan is pruned to survivors by a pushed blockId filter.
  *
  * `MaxDistinct` caps the per-block filter at ~160 KB (10 bits/key):
  * a block with more distinct values than that rejects almost
  * nothing and would only bloat the index — it stores a null bloom.
  */
object TokenIndex {

  val MaxDistinct: Int = 1 << 17

  def path(outDir: String): String = s"$outDir/tokidx"

  /** Build/refresh the index: one decode pass over committed non-dict
    * blocks. Returns the number of blocks indexed (over-cap blocks
    * included — they carry a null bloom so readers see one row per
    * non-dict block, present-but-abstaining).
    */
  def build(spark: SparkSession, outDir: String): Long = {
    import spark.implicits._
    val rows = TokenDecoder.committedBlocks(spark, outDir, None)
      .where(col("codecId") =!= CodecIds.Dict)
      .select("blockId", "codecId", "postCodec", "symtab", "payload",
        "totalTokens")
      .as[(String, Int, Int, Array[Byte], Array[Byte], Long)]
      .map { case (bid, cid, post, st, pay, nTokL) =>
        val n = nTokL.toInt
        val vals = BlockCodec.decode(cid, post, st, pay, n)
        val seen = new graft.codec.IntSet(4096)
        var i = 0
        while (i < n && seen.size <= MaxDistinct) {
          seen.add(vals(i))
          i += 1
        }
        if (seen.size > MaxDistinct) (bid, seen.size, null: Array[Byte])
        else (bid, seen.size, TokBloom.build(seen.toSortedArray, seen.size))
      }
      .toDF("blockId", "n_distinct", "bloomEnc")
    rows.write.mode("overwrite").parquet(path(outDir))
    StoreTables.read(spark, path(outDir), StoreTables.TokIdx).count()
  }

  /** The index table if it holds committed files; None (no index, or
    * only a crashed build's `_temporary`) degrades every consumer to
    * the unpruned walk.
    */
  def load(spark: SparkSession, outDir: String): Option[DataFrame] =
    StoreTables.readCommitted(spark, path(outDir), StoreTables.TokIdx)
      .map(_.select("blockId", "bloomEnc"))

  /** An index bigger than this opts OUT of pruning: the adjoin below
    * must be a BROADCAST join (the blocks side carries payload bytes —
    * a sort-merge join would shuffle the store's heaviest columns on
    * every search, costing far more than unpruned decode). Past this
    * size the right move at 10^12 blocks is embedding the bloom as a
    * block column at encode time, not a side table.
    */
  val MaxBroadcastBytes: Long = 256L << 20

  /** Left-adjoin `bloomEnc` to a committed-blocks frame: the index's
    * one integration point, shared by every block walk so a missing
    * index, an oversized index, a missing row and a null bloom all
    * collapse to the same null — "may contain anything".
    */
  private[encode] def withBloom(spark: SparkSession, outDir: String,
                                blocks: DataFrame): DataFrame =
    load(spark, outDir)
      .filter(_ => indexBytes(spark, outDir) <= MaxBroadcastBytes)
      match {
        case Some(idx) =>
          blocks.join(broadcast(idx), Seq("blockId"), "left_outer")
        case None => blocks.withColumn("bloomEnc", lit(null).cast("binary"))
      }

  /** Index size through the Hadoop FileSystem API, so the 256 MB
    * broadcast gate holds on EVERY store filesystem (HDFS/S3A, not
    * just file:// — a java.io.File walk reads 0 bytes there, which
    * would trivially pass the gate and broadcast an arbitrarily large
    * index). An unmeasurable path answers Long.MaxValue: the safe
    * degradation is NO pruning, never an ungated broadcast
    * (TokenIndexSpec).
    */
  private[graft] def indexBytes(spark: SparkSession, outDir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path(outDir))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
    } catch { case _: Exception => Long.MaxValue }
}
