package graft.tools

import graft.codec._
import graft.synth.TokenSynth

/** Tiny CLI over the codec kernels: encodes deterministic sample
  * regimes (FIXTURES.md §C) and reports codec choice / ratio /
  * round-trip, then times `encodeAuto` on one thread over a block of
  * each `TokenSynth` source regime. Serves as the library's runnable
  * demo surface and as a quick timing of a codec change:
  *   sbt "runMain graft.tools.CodecCli"
  */
object CodecCli {
  def main(args: Array[String]): Unit = {
    val rng = new scala.util.Random(7)
    var failed = false
    def show(name: String, data: Array[Int], encodeTokPerS: Double = Double.NaN): Unit = {
      val be = BlockCodec.encodeAuto(data, data.length)
      val back = BlockCodec.decode(be.codecId, be.postCodec, be.symtab, be.payload, data.length)
      val ok = back.sameElements(data)
      if (!ok) failed = true
      val ratio =
        if (data.length == 0) 1.0 else (4.0 * data.length) / math.max(1, be.encodedBytes)
      println(f"$name%-14s codec=${CodecIds.names(be.codecId)}%-8s zstd=${be.postCodec} " +
        f"raw=${4L * data.length}%9d enc=${be.encodedBytes}%9d ratio=$ratio%7.2fx roundtrip=$ok" +
        (if (encodeTokPerS.isNaN) "" else f" encode_tok_per_s=${encodeTokPerS / 1e6}%.1fM"))
    }
    show("runs", Array.fill(50)(rng.nextInt(20)).flatMap(v => Array.fill(1000)(v)))
    show("smallValues", Array.fill(100000)(rng.nextInt(256)))
    show("narrowRange", Array.fill(100000)((1 << 28) + rng.nextInt(1024)))
    val phrases = Array.fill(30)(Array.fill(3 + rng.nextInt(6))(rng.nextInt(30000)))
    show("phrases", Array.fill(20000)(phrases(rng.nextInt(30))).flatten)
    show("lowCard", { val v = Array.fill(100)(rng.nextInt(1 << 20)); Array.fill(100000)(v(rng.nextInt(100))) })
    show("random", Array.fill(100000)(rng.nextInt(Int.MaxValue)))
    show("sortedIds", Array.tabulate(100000)(i => i * 3 + rng.nextInt(3)))
    show("empty", Array.emptyIntArray)
    show("single", Array(42))
    show("negatives", Array.fill(10000)(rng.nextInt()))
    show("intmax", Array.fill(100)(Int.MaxValue) ++ Array(Int.MinValue, 0, -1))
    show("escape-heavy", Array.fill(50000)(if (rng.nextBoolean()) 0x7F else 0xFF))
    val blocks = sourceBlocks(BlockTokens, seed = 0L)
    val timed = Seq.fill(Warmups + Reps)(blocks.map { case (_, b) =>
      val t0 = System.nanoTime()
      BlockCodec.encodeAuto(b, b.length)
      System.nanoTime() - t0
    }).drop(Warmups)
    blocks.zipWithIndex.foreach { case ((name, b), i) =>
      val ns = timed.map(_(i)).sorted.apply(Reps / 2)
      show(name, b, b.length / (ns / 1e9))
    }
    if (failed) { println("ROUNDTRIP-FAILURES"); sys.exit(1) }
    println("ALL-OK")
  }

  /** Tokens per timed block: about the encode workloads' block size. */
  private val BlockTokens = 163840
  private val Warmups = 3
  private val Reps = 5

  /** One block per `TokenSynth` source, named `source/regime`: its
    * rows' tokens in id order, cut at `n`.
    */
  private def sourceBlocks(n: Int, seed: Long): Seq[(String, Array[Int])] = {
    val bufs = TokenSynth.sources.map { case (src, _, _) => src -> new IntBuf(n) }.toMap
    var id = 0L
    while (bufs.values.exists(_.size < n)) {
      val r = TokenSynth.row(id, seed)
      val b = bufs(r.source)
      var i = 0
      while (i < r.tokens.length && b.size < n) { b.add(r.tokens(i)); i += 1 }
      id += 1
    }
    TokenSynth.sources.toSeq.map { case (src, _, regime) =>
      s"$src/$regime" -> java.util.Arrays.copyOf(bufs(src).raw, n)
    }
  }
}
