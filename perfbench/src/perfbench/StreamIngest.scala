package perfbench

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.encode.TokenDecoder
import graft.model.TokenRow
import graft.streaming.EncodeStream
import graft.synth.TokenSynth

/** The streaming ingest of the traced `encode_roundtrip` run: one
  * writer pushes a few small micro-batches through
  * `EncodeStream.streamingEncode` from a `MemoryStream`, each only after
  * the previous one committed, then compacts them into a fresh store
  * with `EncodeStream.compact`. This is the encode layer at batch sizes
  * where per-run fixed cost dominates. A compaction costs several
  * seconds however few the batches, more than every run can spend, so
  * its numbers are the `streaming.*` layer only.
  */
final class StreamIngest(env: Env) {
  import Workload._
  val BatchRows = 500
  val Batches = 3

  private var ingests = 0

  /** Pushes `Batches` fresh micro-batches, then, with `compact`,
    * compacts them. The compacted store must hold exactly the rows
    * pushed.
    */
  def run(tr: Option[Tracer], log: OpLog, compact: Boolean): Unit = {
    val spark = env.spark
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    ingests += 1
    val first = ingests.toLong * Batches * BatchRows
    val batches = (0 until Batches).map { b =>
      (0 until BatchRows).map(i => TokenSynth.row(first + b.toLong * BatchRows + i, env.seed))
    }
    val out = freshDir(env, "stream")
    val target = freshDir(env, "compacted")
    val mem = MemoryStream[TokenRow]
    val query = EncodeStream.streamingEncode(mem.toDS(), out.getPath)
    try batches.foreach { rows =>
      log.record("batch") {
        val (_, s) = seconds(Tracer.span(tr, "EncodeStream.batch") {
          mem.addData(rows)
          query.processAllAvailable()
        })
        (s, rows.map(_.n_tok.toLong).sum, query.exception.isEmpty, Map.empty)
      }
    } finally query.stop()
    if (compact) {
      val sent = batches.flatten
      val blocksBefore = out.listFiles().filter(_.getName.startsWith("batch="))
        .map(d => spark.read.parquet(s"${d.getPath}/lineage").count()).sum
      log.record("compact") {
        val (n, s) = seconds(Tracer.span(tr, "EncodeStream.compact") {
          EncodeStream.compact(spark, out.getPath, target.getPath)
        })
        val back = TokenInput.fingerprint(TokenDecoder.read(spark, target.getPath))
        val ref = TokenInput.fingerprint(spark.createDataset(sent))
        val (tok, raw, enc, blocks, _, _) = TokenInput.lineage(env, target)
        (s, 0L, n == sent.size && back == ref && tok == sent.map(_.n_tok.toLong).sum,
          Map("ratio" -> raw.toDouble / enc, "store_bpr" -> du(target).toDouble / (4.0 * tok),
            "blocks_before" -> blocksBefore.toDouble, "blocks_after" -> blocks.toDouble))
      }
    }
    rm(out)
    rm(target)
  }

  def layers(log: OpLog, tr: Tracer, ls: LayerListener): Map[String, Double] = {
    val m = Layers.median _
    val batchSpans = tr.spans.filter(_.name == "EncodeStream.batch").toSeq
    val batchViews = batchSpans.map(Layers.view(tr, ls, _))
    val compactSpans = tr.spans.filter(_.name == "EncodeStream.compact").toSeq
    val compact = log.ok("compact").lastOption.map(_.extra).getOrElse(Map.empty)
    Map(
      "streaming.batch_s" -> m(batchSpans.map(_.seconds)),
      "streaming.batch_jobs" -> m(batchViews.map(_.jobs.toDouble)),
      "streaming.batch_driver_s" -> m(batchViews.map(_.driver)),
      "streaming.compact_s" -> m(compactSpans.map(_.seconds)),
      "streaming.compact_bytes_written" ->
        m(compactSpans.map(Layers.view(tr, ls, _).outputBytes.toDouble)),
      "streaming.blocks_before" -> compact.getOrElse("blocks_before", 0.0),
      "streaming.blocks_after" -> compact.getOrElse("blocks_after", 0.0),
      "streaming.compression_ratio" -> compact.getOrElse("ratio", 0.0),
      "streaming.store_bytes_per_raw_byte" -> compact.getOrElse("store_bpr", 0.0))
  }
}
