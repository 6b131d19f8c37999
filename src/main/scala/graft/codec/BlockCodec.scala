package graft.codec

import graft.model.ColumnStats

/** Single-pass statistics + codec auto-selection + encode for one
  * block's concatenated token stream.
  *
  * The selection policy is the Spark-native generalization of the
  * reference's statistics-driven decisions:
  *  - dictionary when distinct-share is low — undatum's
  *    `share_uniq < dictshare` (default 70) rule,
  *    undatum/cmds/statistics.py:104-110, undatum/constants.py:5
  *  - minimal integer width — undatum/utils.py:106-111 (its `<255`
  *    off-by-one is documented there; we use exact bit width instead)
  *  - RLE when run-length mass is high, FOR when the value range is
  *    narrow relative to magnitude, FSST when 4-gram repetition is
  *    high (both new here; the reference has no sub-file codecs)
  *
  * Selection computes cheap stats and narrows to <=5 candidate codecs.
  * BitPack/FOR/Dict/Plain are sized by formula and only the smallest of
  * them is encoded; RLE/DeltaFor/MiniPack/Pfor are trial-encoded; FSST
  * is trial-encoded only when a sampled estimate says it can win. The
  * smallest encoding is kept — deterministic and near-optimal.
  */
object BlockCodec {

  val codecs: Map[Int, IntCodec] = Map(
    CodecIds.Plain -> PlainCodec,
    CodecIds.Dict -> DictCodec,
    CodecIds.Rle -> RleCodec,
    CodecIds.BitPack -> BitPackCodec,
    CodecIds.For -> ForCodec,
    CodecIds.Fsst -> FsstCodec,
    CodecIds.DeltaFor -> DeltaForCodec,
    CodecIds.MiniPack -> MiniPackCodec,
    CodecIds.Pfor -> PforCodec
  )

  private val CardCap = 1 << 16

  /** zstd post-pass level, shared by every zstd-wrapped column. */
  val ZstdLevel: Int = 3

  /** One pass over the block: min/max, capped exact cardinality, runs,
    * sampled 4-gram repetition share.
    */
  def stats(values: Array[Int], n: Int): ColumnStats = {
    if (n == 0) return ColumnStats.empty
    var min = values(0); var max = values(0)
    var runs = 1L; var maxRun = 1; var curRun = 1
    val seen = new IntSet(4096)
    var cardCapped = false
    seen.add(values(0))
    var i = 1
    while (i < n) {
      val v = values(i)
      if (v < min) min = v
      if (v > max) max = v
      if (v == values(i - 1)) { curRun += 1; if (curRun > maxRun) maxRun = curRun }
      else { runs += 1; curRun = 1 }
      if (!cardCapped && seen.add(v) && seen.size > CardCap) cardCapped = true
      i += 1
    }
    // sampled 4-gram repetition: hash rolling windows over a prefix
    val sampleN = math.min(n, 4096)
    var rep = 0.0
    // 95th-percentile zigzag-delta width: robust to occasional wide
    // jumps (doc boundaries) that the miniblock DeltaFor format absorbs
    var deltaW = 0
    // 90th-percentile RAW width: p90 far below width(max) means widths
    // are position-clustered (mixed doc regimes / lone outliers) and
    // the per-miniblock pack pays the local width — MiniPack signal
    var w90 = 0
    if (sampleN >= 1) {
      val whist = new Array[Int](34)
      var neg = false
      var j = 0
      while (j < sampleN) {
        val v = values(j)
        if (v < 0) neg = true else whist(Bits.widthInt(v)) += 1
        j += 1
      }
      if (neg) w90 = 33
      else {
        val target = math.ceil(0.9 * sampleN).toInt
        var cum = 0
        var w = 0
        while (w < whist.length && cum < target) { cum += whist(w); if (cum < target) w += 1 }
        w90 = math.min(w, 33)
      }
    }
    if (sampleN >= 2) {
      val hist = new Array[Int](35)
      var j = 1
      while (j < sampleN) {
        val d = values(j).toLong - values(j - 1).toLong
        val z = (d << 1) ^ (d >> 63)
        hist(Bits.width(z)) += 1
        j += 1
      }
      val target = math.ceil(0.95 * (sampleN - 1)).toInt
      var cum = 0
      var w = 0
      while (w < hist.length && cum < target) { cum += hist(w); if (cum < target) w += 1 }
      deltaW = math.min(w, 34)
    }
    if (sampleN >= 8) {
      val grams = new java.util.HashSet[java.lang.Long](sampleN)
      var repeats = 0
      var j = 0
      while (j + 4 <= sampleN) {
        var h = 1125899906842597L
        var k = 0
        while (k < 4) { h = h * 31 + values(j + k); k += 1 }
        if (!grams.add(h)) repeats += 1
        j += 1
      }
      rep = repeats.toDouble / math.max(1, sampleN - 3)
    }
    ColumnStats(n.toLong, min, max, seen.size.toLong, !cardCapped, runs, maxRun, rep, deltaW, w90)
  }

  /** Stats -> ordered candidate codec ids. */
  def candidates(s: ColumnStats): Seq[Int] = {
    if (s.n == 0) return Seq(CodecIds.Plain)
    val out = scala.collection.mutable.ArrayBuffer[Int]()
    val avgRun = s.avgRun
    if (avgRun >= 3.0) out += CodecIds.Rle
    // dict: distinct-share rule (undatum dictshare) + representable card
    if (s.cardExact && s.card <= DictCodec.maxCard && s.uniqShare < 70.0)
      out += CodecIds.Dict
    val range = s.max.toLong - s.min.toLong
    val wFor = Bits.width(range)
    val wRaw = if (s.min >= 0) Bits.widthInt(s.max) else 33
    // sampled p90 width well under width(max): mixed-regime docs or a
    // lone outlier — the per-miniblock pack pays the local width
    // p90 width well under width(max): the same long-tail signal
    // feeds both miniblock-local widths (MiniPack, position-clustered
    // regimes) and patched global width (Pfor, scattered outliers) —
    // the trial encode picks whichever the outlier LAYOUT favors
    if (s.min >= 0 && s.sampleW90 + 2 < wRaw) {
      out += CodecIds.MiniPack
      out += CodecIds.Pfor
    }
    if (s.repeat4Share > 0.25 && s.min >= 0) out += CodecIds.Fsst
    // sorted / smoothly-varying streams: sampled deltas far narrower
    // than both the raw and FOR widths
    if (s.sampleDeltaW + 4 < math.min(wRaw, wFor)) out += CodecIds.DeltaFor
    if (wFor + 4 < wRaw) out += CodecIds.For
    // any non-negative stream bit-packs at width(max) <= 31 — on
    // incompressible random data this is still a guaranteed 1/32 cut
    // over Plain, which zstd cannot match
    if (s.min >= 0) out += CodecIds.BitPack
    if (out.isEmpty || s.min < 0) out += CodecIds.Plain
    out.distinct.take(5).toSeq
  }

  final case class BlockEncoded(
      codecId: Int,
      postCodec: Int,
      symtab: Array[Byte],
      payload: Array[Byte],
      stats: ColumnStats
  ) {
    def encodedBytes: Long = symtab.length.toLong + payload.length.toLong
  }

  /** Closed-form encoded sizes from stats — BitPack and FOR are exact
    * (their payloads are pure functions of n and the min/max widths);
    * Dict is exact on the payload with a small symtab estimate. Lets
    * selection skip full trials of codecs that provably lose.
    */
  private def sizeEstimate(cid: Int, s: ColumnStats): Long = {
    val n = s.n
    cid match {
      case CodecIds.BitPack if s.min >= 0 =>
        (n * Bits.widthInt(s.max) + 7) / 8 + 1
      case CodecIds.For =>
        (n * Bits.width(s.max.toLong - s.min.toLong) + 7) / 8 + 5
      case CodecIds.Dict if s.cardExact =>
        val w = Bits.widthInt(math.max(s.card.toInt - 1, 0))
        (n * w + 7) / 8 + s.card * 3 + 4 // ~3B/entry delta-varint symtab
      case CodecIds.Plain => 4L * n
      case _ => Long.MaxValue
    }
  }

  /** Encode with auto-selection, then zstd the winning payload where
    * that makes it smaller.
    */
  def encodeAuto(values: Array[Int], n: Int): BlockEncoded = {
    val s = stats(values, n)
    var bestId = CodecIds.Plain
    var best: Encoded = null
    var bestSize = Long.MaxValue
    // BitPack/FOR/Dict sizes are (near-)exact from stats: fully encode
    // only the best of those three; RLE/DeltaFor/MiniPack/Pfor are
    // cheap single-pass trials; FSST gets a sampled estimate gate
    val cands = candidates(s)
    val (fsstCands, rest) = cands.partition(_ == CodecIds.Fsst)
    val (formulaCands, trialCands) = rest.partition(c =>
      c == CodecIds.BitPack || c == CodecIds.For || c == CodecIds.Dict ||
        c == CodecIds.Plain)
    val formulaBest = formulaCands.sortBy(sizeEstimate(_, s)).headOption
    (formulaBest.toSeq ++ trialCands).foreach { cid =>
      val e = codecs(cid).encode(values, n)
      if (e != null) {
        val size = e.symtab.length.toLong + e.payload.length.toLong
        if (size < bestSize) { bestSize = size; best = e; bestId = cid }
      }
    }
    if (fsstCands.nonEmpty) {
      val (est, whole) = FsstCodec.estimate(values, n)
      if (est < bestSize) {
        // a block no larger than the estimate's sample was encoded whole
        // by the estimate: reuse that encoding instead of a second trial
        val e = if (whole != null) whole else FsstCodec.encode(values, n)
        if (e != null) {
          val size = e.symtab.length.toLong + e.payload.length.toLong
          if (size < bestSize) { bestSize = size; best = e; bestId = CodecIds.Fsst }
        }
      }
    }
    if (best == null) { best = PlainCodec.encode(values, n); bestId = CodecIds.Plain }
    var finalId = bestId
    var finalPost = 0
    var finalSym = best.symtab
    var finalPay = best.payload
    if (best.payload.length > 64) {
      val z = com.github.luben.zstd.Zstd.compress(best.payload, ZstdLevel)
      if (z.length < finalPay.length) { finalPost = 1; finalPay = z }
    }
    // blocks the old wRaw>24 rule gave to Plain now win as BitPack
    // PRE-zstd — but packing at >24 bits destroys byte alignment, and
    // zstd over byte-aligned raw values can beat zstd over the packed
    // stream on STRUCTURED wide data (e.g. high-card hashed ids with
    // byte-level regularity). Compare the two FINAL on-disk sizes.
    if (finalId == CodecIds.BitPack && n > 16 &&
        Bits.widthInt(s.max) > 24) {
      val p = PlainCodec.encode(values, n)
      val pz = com.github.luben.zstd.Zstd.compress(p.payload, ZstdLevel)
      if (pz.length < finalSym.length.toLong + finalPay.length) {
        finalId = CodecIds.Plain; finalPost = 1
        finalSym = Array.emptyByteArray; finalPay = pz
      }
    }
    BlockEncoded(finalId, finalPost, finalSym, finalPay, s)
  }

  /** Inverse of the zstd post-pass — the ONE frame unwrap shared by
    * every decode path (int blocks, compressed-domain search, float
    * blocks).
    */
  def unzstd(payload: Array[Byte]): Array[Byte] = {
    val size = com.github.luben.zstd.Zstd.getFrameContentSize(payload)
    com.github.luben.zstd.Zstd.decompress(payload, size.toInt)
  }

  def decode(codecId: Int, postCodec: Int, symtab: Array[Byte],
             payload: Array[Byte], n: Int): Array[Int] = {
    val raw = if (postCodec == 1) unzstd(payload) else payload
    codecs(codecId).decode(symtab, raw, n)
  }

  /** Order-sensitive 64-bit checksum of a token stream (FNV-1a). */
  def checksum(values: Array[Int], n: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < n) {
      var v = values(i)
      var k = 0
      while (k < 4) { h ^= (v & 0xFF); h *= 0x100000001b3L; v >>>= 8; k += 1 }
      i += 1
    }
    h
  }
}
