package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.codec._

/** Round-trip losslessness for every codec over the trigger-space
  * regimes named in FIXTURES.md §C (SURVEY.md §5.2 item 1).
  */
class CodecSpec extends AnyFunSuite {

  /** Deterministic forAll: 200 samples from a ScalaCheck Gen. */
  private def forAllDet[T](gen: Gen[T])(f: T => Unit): Unit = {
    var seed = Seed(42L)
    var i = 0
    while (i < 200) {
      gen.apply(Gen.Parameters.default.withSize(1 + i % 100), seed)
        .foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private val rng = new scala.util.Random(42)

  def lowCard(n: Int): Array[Int] = {
    val vocab = Array.fill(100)(rng.nextInt(1 << 20))
    Array.fill(n)(vocab(rng.nextInt(vocab.length)))
  }
  def runs(n: Int): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int](n)
    while (out.length < n) {
      val v = rng.nextInt(50)
      val len = 10 + rng.nextInt(990)
      var i = 0
      while (i < len && out.length < n) { out += v; i += 1 }
    }
    out.toArray
  }
  def narrowRange(n: Int): Array[Int] = {
    val base = 1 << 28
    Array.fill(n)(base + rng.nextInt(1 << 10))
  }
  def smallValues(n: Int): Array[Int] = Array.fill(n)(rng.nextInt(1 << 8))
  def phrases(n: Int): Array[Int] = {
    val phraseSet = Array.fill(20)(Array.fill(3 + rng.nextInt(6))(rng.nextInt(30000)))
    val out = new scala.collection.mutable.ArrayBuffer[Int](n)
    while (out.length < n) {
      val p = phraseSet(rng.nextInt(phraseSet.length))
      p.foreach { t => if (out.length < n) out += t }
    }
    out.toArray
  }
  def random(n: Int): Array[Int] = Array.fill(n)(rng.nextInt(Int.MaxValue))
  def withNegatives(n: Int): Array[Int] = Array.fill(n)(rng.nextInt())
  def mixedWidth(n: Int): Array[Int] = {
    // doc-clustered widths: 4-, 8-, 12-bit runs with a rare 31-bit outlier
    val out = new scala.collection.mutable.ArrayBuffer[Int](n)
    while (out.length < n) {
      val k = 4 + 4 * rng.nextInt(3)
      val len = 200 + rng.nextInt(400)
      var i = 0
      while (i < len && out.length < n) { out += rng.nextInt(1 << k); i += 1 }
      if (rng.nextInt(20) == 0 && out.length < n) out += Int.MaxValue
    }
    out.toArray
  }
  def sorted(n: Int): Array[Int] = random(n).sorted
  def zipfOutliers(n: Int): Array[Int] =
    // scattered long-tail: ~99% narrow token ids, ~1% wide ids spread
    // uniformly (NOT position-clustered like mixedWidth) — the PFOR
    // exception-patch layout
    Array.fill(n)(if (rng.nextInt(100) == 0) (1 << 26) + rng.nextInt(1 << 26)
                  else rng.nextInt(1 << 9))

  val regimes: Map[String, Int => Array[Int]] = Map(
    "lowCard" -> lowCard, "runs" -> runs, "narrowRange" -> narrowRange,
    "smallValues" -> smallValues, "phrases" -> phrases, "random" -> random,
    "negatives" -> withNegatives, "sorted" -> sorted,
    "mixedWidth" -> mixedWidth, "zipfOutliers" -> zipfOutliers)

  val edges: Seq[Array[Int]] = Seq(
    Array.emptyIntArray,
    Array(0),
    Array(Int.MaxValue),
    Array(Int.MinValue),
    Array.fill(100)(7),
    Array(0, Int.MaxValue, 0, Int.MinValue, 1, -1),
    (0 until 8192).toArray
  )

  val allCodecs: Seq[IntCodec] = Seq(
    PlainCodec, DictCodec, RleCodec, BitPackCodec, ForCodec, DeltaForCodec, FsstCodec, MiniPackCodec, PforCodec)

  for (codec <- allCodecs; (rname, gen) <- regimes) {
    test(s"${codec.name} round-trips $rname") {
      val data = gen(5000)
      val e = codec.encode(data, data.length)
      if (e != null) {
        val back = codec.decode(e.symtab, e.payload, data.length)
        assert(back.sameElements(data), s"${codec.name} failed on $rname")
      }
    }
  }

  for (codec <- allCodecs) {
    test(s"${codec.name} round-trips edge cases") {
      edges.foreach { data =>
        val e = codec.encode(data, data.length)
        if (e != null) {
          val back = codec.decode(e.symtab, e.payload, data.length)
          assert(back.sameElements(data))
        }
      }
    }
  }

  test("encodeAuto round-trips every regime and edge, and compresses") {
    (regimes.values.map(_(5000)) ++ edges).foreach { data =>
      val be = BlockCodec.encodeAuto(data, data.length)
      val back = BlockCodec.decode(be.codecId, be.postCodec, be.symtab, be.payload, data.length)
      assert(back.sameElements(data))
    }
    // compressibility sanity: each structured regime must beat raw 4B/token
    Seq("lowCard", "runs", "narrowRange", "smallValues", "phrases").foreach { r =>
      val data = regimes(r)(20000)
      val be = BlockCodec.encodeAuto(data, data.length)
      val raw = 4L * data.length
      assert(be.encodedBytes < raw / 2,
        s"$r: ${be.encodedBytes} vs raw $raw (codec ${be.codecId})")
    }
  }

  test("encodeAuto picks sensible codecs per regime") {
    def pick(d: Array[Int]): Int = BlockCodec.encodeAuto(d, d.length).codecId
    assert(pick(runs(20000)) == CodecIds.Rle)
    val small = pick(smallValues(20000))
    assert(small == CodecIds.BitPack || small == CodecIds.Dict || small == CodecIds.Fsst)
    val nr = pick(narrowRange(20000))
    assert(nr == CodecIds.For || nr == CodecIds.Dict)
    // random full-width data: bitpack's guaranteed 31/32 beats plain
    assert(pick(random(20000)) == CodecIds.BitPack)
    // doc-clustered widths: the per-miniblock pack pays the local width
    assert(pick(mixedWidth(40000)) == CodecIds.MiniPack)
  }

  test("pfor beats bitpack and minipack on scattered-outlier data") {
    val data = zipfOutliers(40000)
    val pf = PforCodec.encode(data, data.length)
    val bp = BitPackCodec.encode(data, data.length)
    val mp = MiniPackCodec.encode(data, data.length)
    assert(pf.payload.length + pf.symtab.length < bp.payload.length + bp.symtab.length)
    // a 1-in-100 scattered outlier taints most 128-value miniblocks,
    // so the patch list wins where miniblock-local widths cannot
    assert(pf.payload.length + pf.symtab.length < mp.payload.length + mp.symtab.length)
    val auto = BlockCodec.encodeAuto(data, data.length)
    assert(auto.codecId == CodecIds.Pfor, s"auto picked ${auto.codecId}")
  }

  test("minipack beats global bitpack on width-clustered data") {
    val data = mixedWidth(40000)
    val mp = MiniPackCodec.encode(data, data.length)
    val bp = BitPackCodec.encode(data, data.length)
    assert(mp.payload.length < bp.payload.length)
  }

  test("scalacheck: encodeAuto round-trips arbitrary int arrays") {
    forAllDet(Gen.containerOf[Array, Int](Gen.chooseNum(Int.MinValue, Int.MaxValue))) {
      (data: Array[Int]) =>
        val be = BlockCodec.encodeAuto(data, data.length)
        val back = BlockCodec.decode(be.codecId, be.postCodec, be.symtab, be.payload, data.length)
        assert(back.sameElements(data))
    }
  }

  test("scalacheck: per-codec round-trip on non-negative arrays") {
    forAllDet(Gen.containerOf[Array, Int](Gen.chooseNum(0, Int.MaxValue))) {
      (data: Array[Int]) =>
        allCodecs.foreach { c =>
          val e = c.encode(data, data.length)
          if (e != null)
            assert(c.decode(e.symtab, e.payload, data.length).sameElements(data), c.name)
        }
    }
  }

  test("scalacheck: StringCols round-trips arbitrary unicode id lists") {
    forAllDet(Gen.listOf(Gen.asciiPrintableStr)) { (ids0: List[String]) =>
      val ids = ids0.toArray
      val enc = graft.codec.StringCols.encodeDocIds(ids, ids.length)
      assert(graft.codec.StringCols.decodeDocIds(enc, ids.length).sameElements(ids))
      val se = graft.codec.StringCols.encodeSources(ids, ids.length)
      assert(graft.codec.StringCols.decodeSources(se, ids.length).sameElements(ids))
    }
    // non-ascii, embedded delimiters, empties
    val nasty = Array("", "\n", "проверка", "a\tb\nc", "🙂🙃", "\u0000x", "dup", "dup")
    val enc = graft.codec.StringCols.encodeDocIds(nasty, nasty.length)
    assert(graft.codec.StringCols.decodeDocIds(enc, nasty.length).sameElements(nasty))
    val se = graft.codec.StringCols.encodeSources(nasty, nasty.length)
    assert(graft.codec.StringCols.decodeSources(se, nasty.length).sameElements(nasty))
    // pureSource: O(1) purity answer from the leading dict varint —
    // Some(src) iff the dict collapsed to one entry, incl. unicode
    assert(graft.codec.StringCols.pureSource(se).isEmpty)
    val pure = Array("прว🙂", "прว🙂", "прว🙂")
    val pe = graft.codec.StringCols.encodeSources(pure, pure.length)
    assert(graft.codec.StringCols.pureSource(pe).contains("прว🙂"))
    val one = graft.codec.StringCols.encodeSources(Array("s"), 1)
    assert(graft.codec.StringCols.pureSource(one).contains("s"))
  }

  test("fsst: a block within the estimate's sample reuses the estimate's encoding") {
    Seq(1, 100, 5000, 16384).foreach { n =>
      val data = phrases(n)
      val e = FsstCodec.encode(data, n)
      val (est, whole) = FsstCodec.estimate(data, n)
      assert(whole != null, s"n=$n")
      assert(whole.symtab.sameElements(e.symtab) && whole.payload.sameElements(e.payload), s"n=$n")
      // the estimate is that encoding's size, up to the ceil of its
      // per-token extrapolation (payload / n * n can round up past payload)
      val size = e.symtab.length.toLong + e.payload.length
      assert(est == FsstCodec.estimateBytes(data, n))
      assert(est == math.ceil(e.payload.length.toDouble / n * n).toLong + e.symtab.length, s"n=$n")
      assert(est >= size && est <= size + 1, s"n=$n: $est vs $size")
      // when auto-selection picks FSST it stores exactly that encoding
      val auto = BlockCodec.encodeAuto(data, n)
      if (auto.codecId == CodecIds.Fsst) {
        val pay = if (auto.postCodec == 1) BlockCodec.unzstd(auto.payload) else auto.payload
        assert(auto.symtab.sameElements(e.symtab) && pay.sameElements(e.payload), s"n=$n")
      }
    }
    assert(BlockCodec.encodeAuto(phrases(5000), 5000).codecId == CodecIds.Fsst)
    val big = phrases(16385)
    assert(FsstCodec.estimate(big, big.length)._2 == null)
  }

  test("stats are exact on a known stream") {
    val data = Array(5, 5, 5, 1, 1, 9, 9, 9, 9)
    val s = BlockCodec.stats(data, data.length)
    assert(s.n == 9 && s.min == 1 && s.max == 9 && s.card == 3 && s.runs == 3 && s.maxRun == 4)
  }
}
