package perfbench

import graft.codec.BlockCodec
import graft.synth.TokenSynth

/** Host-noise yardstick: single-thread `BlockCodec.encodeAuto` and
  * `decode` over fixed blocks cut from the token table of one fixed
  * seed, one block per source regime, the same in every run. It involves no Spark, so when it moves
  * together with the end-to-end numbers the host got slower, not the
  * program.
  */
object Kernel {
  private val BlockTokens = 1 << 15

  private val Seed = 0L

  private def blocks: Seq[Array[Int]] =
    TokenSynth.sources.toSeq.map { case (src, _, _) =>
      val buf = Array.newBuilder[Int]
      var n = 0
      Iterator.from(0).map(i => TokenSynth.row(i.toLong, Seed))
        .filter(_.source == src).takeWhile(_ => n < BlockTokens)
        .foreach { r => buf ++= r.tokens; n += r.tokens.length }
      buf.result().take(BlockTokens)
    }

  /** (encode tok/s, decode tok/s): medians over repeated passes. */
  def yardstick(reps: Int = 5): (Double, Double) = {
    val bs = blocks
    val tokens = bs.map(_.length.toLong).sum
    def pass(f: Int => Any): Double = {
      val t0 = System.nanoTime()
      bs.indices.foreach(f)
      tokens / ((System.nanoTime() - t0) / 1e9)
    }
    val enc = bs.map(b => BlockCodec.encodeAuto(b, b.length))
    val encode = (i: Int) => BlockCodec.encodeAuto(bs(i), bs(i).length)
    val decode = (i: Int) => {
      val e = enc(i)
      BlockCodec.decode(e.codecId, e.postCodec, e.symtab, e.payload, bs(i).length)
    }
    (1 to 2).foreach { _ => pass(encode); pass(decode) }
    (Stats.median((1 to reps).map(_ => pass(encode))), Stats.median((1 to reps).map(_ => pass(decode))))
  }
}
