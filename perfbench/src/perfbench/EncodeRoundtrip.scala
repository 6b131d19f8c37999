package perfbench

import java.io.File
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.codec.CodecIds
import graft.encode.{TokenDecoder, TokenEncoder}
import graft.encode.TokenEncoder.EncodeConfig
import graft.model.TokenRow
import graft.synth.TokenSynth

/** The synthetic token table both store workloads start from: zipf
  * sources with one token regime each, so every codec gets picked.
  */
object TokenInput {
  def write(env: Env, dir: File, rows: Long): Unit =
    TokenSynth.dataset(env.spark, rows, env.seed, parallelism = 2 * env.cores)
      .write.parquet(dir.getPath)

  def read(env: Env, dir: File): Dataset[TokenRow] = {
    import env.spark.implicits._
    env.spark.read.parquet(dir.getPath).as[TokenRow]
  }

  /** The rows as graft must give them back. */
  def fingerprint(ds: Dataset[TokenRow]): Fp = Fp.of(ds.select("doc_id", "tokens", "source"))

  /** Enough encode partitions for every core, salted out of the big sources. */
  def encodeConfig(env: Env, rows: Long): EncodeConfig =
    EncodeConfig(targetRowsPerPart = (rows / (4 * env.cores)).toInt, cacheInput = false)

  /** (tokens, rawBytes, encodedBytes, blocks, encodeMillis, blocks per codec) of a store. */
  def lineage(env: Env, store: File): (Long, Long, Long, Long, Long, Map[String, Double]) = {
    val lin = env.spark.read.parquet(s"${store.getPath}/lineage")
    val r = lin.agg(sum("totalTokens"), sum("rawBytes"), sum("encodedBytes"),
      count(lit(1)), sum("encodeMillis")).first()
    val codecs = lin.groupBy("codecId").count().collect()
      .map(x => s"codec.blocks.${CodecIds.names(x.getInt(0))}" -> x.getLong(1).toDouble).toMap
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), codecs)
  }
}

/** Encode the table into a fresh store, then decode all of it. The
  * traced pass then also ingests micro-batches ([[StreamIngest]]).
  */
final class EncodeRoundtrip(env: Env) extends Workload {
  import Workload._
  val name = "encode_roundtrip"
  val Rows = 16000L
  val primaryKind = "roundtrip"
  val WarmupOps = 3

  private val stream = new StreamIngest(env)

  private var inputDir: File = _
  private var ref: Fp = _
  private var tokens = 0L

  def build(dir: File): Unit = TokenInput.write(env, new File(dir, "input"), Rows)

  def prepare(dir: File): Unit = {
    inputDir = new File(dir, "input")
    val ds = TokenInput.read(env, inputDir)
    ref = TokenInput.fingerprint(ds)
    tokens = ds.agg(sum("n_tok")).first().getLong(0)
  }

  def warmup(): Unit = {
    val log = new OpLog
    (0 until WarmupOps).foreach { _ => roundtrip(None, log); control(log) }
  }

  /** Roundtrips, each followed by its control, until `seconds` have
    * passed; when traced, then an uncompacted ingest to warm the
    * streaming path up and one that compacts.
    */
  def measure(seconds: Double, tr: Option[Tracer], log: OpLog): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) { roundtrip(tr, log); control(log) }
    if (tr.isDefined) {
      stream.run(None, new OpLog, compact = false)
      stream.run(tr, log, compact = true)
    }
  }

  /** The same rows through plain Spark: rewritten as parquet through a
    * shuffle, then read back whole and checked.
    */
  private def control(log: OpLog): Op = log.record(ControlKind) {
    val store = freshDir(env, "control")
    try {
      val ((), w) = seconds(TokenInput.read(env, inputDir).repartition(2 * env.cores, col("doc_id"))
        .write.parquet(store.getPath))
      val (back, r) = seconds(TokenInput.fingerprint(TokenInput.read(env, store)))
      (w + r, tokens, back == ref, Map.empty)
    } finally rm(store)
  }

  private def roundtrip(tr: Option[Tracer], log: OpLog): Op = log.record(primaryKind) {
    val store = freshDir(env, "store")
    try {
      val ds = TokenInput.read(env, inputDir)
      val (back, encS, decS) = Tracer.span(tr, "roundtrip") {
        val (_, encS) = seconds(Tracer.span(tr, "TokenEncoder.run") {
          TokenEncoder.run(ds, store.getPath, TokenInput.encodeConfig(env, Rows))
        })
        val (back, decS) = seconds(Tracer.span(tr, "TokenDecoder.read") {
          TokenInput.fingerprint(TokenDecoder.read(env.spark, store.getPath))
        })
        (back, encS, decS)
      }
      val (tok, raw, enc, blocks, encMs, codecs) = TokenInput.lineage(env, store)
      val ok = back == ref && tok == tokens
      (encS + decS, tokens, ok, codecs ++ Map(
        "encode_s" -> encS, "decode_s" -> decS,
        "ratio" -> raw.toDouble / enc, "store_bpr" -> du(store).toDouble / (4.0 * tokens),
        "blocks" -> blocks.toDouble, "encode_ms" -> encMs.toDouble))
    } finally rm(store)
  }

  def report(log: OpLog): Seq[(String, Double, String)] = {
    val ok = log.ok(primaryKind)
    val last = ok.last.extra
    Seq(
      ("encode_tok_per_s", tokens / Stats.median(ok.map(_.extra("encode_s"))), "tok/s"),
      ("decode_tok_per_s", tokens / Stats.median(ok.map(_.extra("decode_s"))), "tok/s"),
      ("compression_ratio", last("ratio"), "x"),
      ("store_bytes_per_raw_byte", last("store_bpr"), "ratio"),
      ("tokens", tokens.toDouble, "tok"))
  }

  def layers(log: OpLog, tr: Tracer, ls: LayerListener): Map[String, Double] = {
    val ok = log.ok(primaryKind)
    val last = ok.last.extra
    val enc = tr.spans.filter(_.name == "TokenEncoder.run").map(Layers.encodeSplit(tr, ls, _)).toSeq
    val dec = tr.spans.filter(_.name == "TokenDecoder.read").map(Layers.view(tr, ls, _)).toSeq
    val m = Layers.median _
    val encodeMs = m(ok.map(_.extra("encode_ms")))
    stream.layers(log, tr, ls) ++
    Catalog.codecs.map(c => s"codec.blocks.$c" -> last.getOrElse(s"codec.blocks.$c", 0.0)).toMap ++
      Layers.encode(enc, tokens, last("blocks"), env.cores) ++ Map(
      "codec.encode_ms" -> encodeMs,
      "codec.kernel_share" -> m(enc.map(s => if (s.assembleTaskSec > 0) encodeMs / 1000.0 / s.assembleTaskSec else 0.0)),
      "decode.wall_s" -> m(dec.map(_.wall)),
      "decode.scan_bytes" -> m(dec.map(_.inputBytes.toDouble)),
      "decode.busy_frac" -> m(dec.map(v => v.taskSec / (v.wall * env.cores))),
      "decode.driver_s" -> m(dec.map(_.driver)),
      "decode.jobs" -> m(dec.map(_.jobs.toDouble)))
  }
}
