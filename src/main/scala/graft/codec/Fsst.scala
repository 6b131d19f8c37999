package graft.codec

import java.nio.{ByteBuffer, ByteOrder}

/** Simplified FSST-style symbol-table compression over token streams.
  *
  * Real FSST (Boncz/Neumann/Leis, PVLDB 13(11), 2020 — public paper;
  * see PAPERS.md) compresses strings with a 255-entry table of 1-8 byte
  * symbols plus an escape code. Tokens are ints, not strings, so we
  * first serialize the block's token stream as unsigned LEB128 varints
  * and run FSST-style training/encoding over that byte stream —
  * repeated 3-8-token phrases become repeated byte substrings the
  * symbol table captures. This is the re-targeting of the reference's
  * "repeated subsequences" compression opportunity (BASELINE.json);
  * the reference itself only picked whole-file codecs
  * (undatum/cmds/converter.py:362-414).
  *
  * Codes 0..254 = symbols, 255 = escape (next byte is a literal).
  * Training: 4 rounds of greedy parse + pair-concatenation candidate
  * generation, keep top-255 by gain = freq * length (deterministic
  * tie-break on `Arrays.toString` of the symbol bytes).
  *
  * As in the paper, counting is over fixed-size arrays: singles in a
  * 512-slot array, adjacent pairs in a dense 512 x 512 array reset
  * through the list of pairs a round touched. A symbol is at most 8
  * bytes, so candidates are (length, packed little-endian bytes)
  * values, never strings or boxed keys.
  */
object FsstCodec extends IntCodec {
  val id = CodecIds.Fsst
  val name = "fsst"

  private val MaxSymbols = 255
  private val Escape = 255
  private val MaxSymLen = 8
  private val SampleBytes = 1 << 16
  private val Rounds = 4
  /** Parse codes: 0..254 symbols, 256 + b the literal byte b. */
  private val CodeSpace = 512
  /** Tokens of the prefix `estimateBytes` encodes. */
  private val EstimateSample = 16384

  private val Masks: Array[Long] = Array.tabulate(MaxSymLen + 1)(l =>
    if (l == 8) -1L else (1L << (8 * l)) - 1L)

  /** Continuation bits of a k-byte varint, by k. */
  private val VarintCont: Array[Long] = Array.tabulate(6)(k =>
    (0 until math.max(k - 1, 0)).foldLeft(0L)((m, j) => m | (0x80L << (8 * j))))

  /** Tokens -> unsigned LEB128 bytes, valid up to the returned length
    * and followed by at least 8 zero bytes, so a parse can always load
    * an 8-byte window. Each token is one 8-byte store of its 7-bit
    * groups, advanced by its varint length.
    */
  private def toVarintBytes(values: Array[Int], n: Int): (Array[Byte], Int) = {
    val out = new Array[Byte](n * 5 + 8)
    val view = littleEndian(out)
    var len = 0
    var i = 0
    while (i < n) {
      val v = values(i).toLong
      val k = 1 + (31 - Integer.numberOfLeadingZeros(values(i) | 1)) / 7
      val groups = (v & 0x7FL) | ((v & 0x3F80L) << 1) | ((v & 0x1FC000L) << 2) |
        ((v & 0xFE00000L) << 3) | ((v & 0xF0000000L) << 4)
      view.putLong(len, groups | VarintCont(k))
      len += k
      i += 1
    }
    (out, len)
  }

  private def packKey(b: Array[Byte], off: Int, len: Int): Long = {
    var k = 0L
    var i = 0
    while (i < len) { k |= (b(off + i) & 0xFFL) << (8 * i); i += 1 }
    k
  }

  /** A trained table. Greedy parse takes the longest symbol that
    * matches at a position: symbols of 2+ bytes are grouped by their
    * first two bytes, longest first, and each 2-byte prefix indexes its
    * group directly; a position no group matches falls back to the
    * 1-byte symbol of its first byte, else the escape.
    */
  private final class Table(val syms: Array[Array[Byte]]) {
    val symKeys: Array[Long] = syms.map(s => packKey(s, 0, s.length))
    /** per byte: the parse result of its 1-byte symbol, else its literal */
    private val single: Array[Int] = Array.tabulate(256)(b => (256 + b) | (1 << 9))
    /** per 2-byte prefix: its group number (1-based), 0 = none */
    private val group = new Array[Byte](1 << 16)
    /** group g spans multi*(groupEnd(g - 1) until groupEnd(g)) */
    private val groupEnd = new Array[Int](MaxSymbols + 1)
    private val multiKeys = new Array[Long](syms.count(_.length >= 2))
    private val multiLens = new Array[Int](multiKeys.length)
    private val multiCodes = new Array[Int](multiKeys.length)
    locally {
      // (prefix, longest first, code) in one sortable long
      val order = new Array[Long](multiKeys.length)
      var j = 0
      var c = 0
      while (c < syms.length) {
        val l = syms(c).length
        if (l == 1) single(syms(c)(0) & 0xFF) = c | (1 << 9)
        else { order(j) = ((symKeys(c) & 0xFFFF) << 16) | ((MaxSymLen - l) << 8) | c; j += 1 }
        c += 1
      }
      java.util.Arrays.sort(order)
      var g = 0
      j = 0
      while (j < order.length) {
        val code = (order(j) & 0xFF).toInt
        multiKeys(j) = symKeys(code); multiLens(j) = syms(code).length; multiCodes(j) = code
        val pfx = (order(j) >>> 16).toInt
        if (group(pfx) == 0) { g += 1; group(pfx) = g.toByte }
        groupEnd(g) = j + 1
        j += 1
      }
    }

    /** Parse step at `p < n`: `code | length << 9`, where a literal
      * byte b is code 256 + b of length 1.
      */
    def next(view: ByteBuffer, p: Int, n: Int): Int = {
      val w = view.getLong(p)
      val g = group((w & 0xFFFF).toInt) & 0xFF
      if (g != 0) {
        val avail = n - p
        var i = groupEnd(g - 1)
        val end = groupEnd(g)
        while (i < end) {
          val l = multiLens(i)
          if (l <= avail && (w & Masks(l)) == multiKeys(i)) return multiCodes(i) | (l << 9)
          i += 1
        }
      }
      single((w & 0xFF).toInt)
    }
  }

  private def littleEndian(bytes: Array[Byte]): ByteBuffer =
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  /** Per-thread counting arrays, allocated once: a round resets only
    * the pair slots it touched.
    */
  private final class Counts {
    val singles = new Array[Int](CodeSpace)
    val pairs = new Array[Int](CodeSpace * CodeSpace)
    var touched = new Array[Int](4096)
    var nTouched = 0
  }
  private val counts = ThreadLocal.withInitial[Counts](() => new Counts)

  /** Greedy-parse `bytes(0 until n)` with `table`, counting each code
    * and each adjacent pair of codes.
    */
  private def countParse(bytes: Array[Byte], n: Int, table: Table, cs: Counts): Unit = {
    val view = littleEndian(bytes)
    val singles = cs.singles
    val pairs = cs.pairs
    var prev = -1
    var p = 0
    while (p < n) {
      val r = table.next(view, p, n)
      val c = r & (CodeSpace - 1)
      singles(c) += 1
      if (prev >= 0) {
        val k = prev * CodeSpace + c
        if (pairs(k) == 0) {
          if (cs.nTouched == cs.touched.length)
            cs.touched = java.util.Arrays.copyOf(cs.touched, cs.touched.length * 2)
          cs.touched(cs.nTouched) = k
          cs.nTouched += 1
        }
        pairs(k) += 1
      }
      prev = c
      p += r >>> 9
    }
  }

  /** Candidate symbols of one round, deduplicated by content with the
    * maximum gain kept: parallel (gain, length, packed bytes) arrays.
    */
  private final class Candidates(capacity: Int) {
    val gains = new Array[Long](capacity)
    val lens = new Array[Int](capacity)
    val keys = new Array[Long](capacity)
    var size = 0
    private val bits = 32 - Integer.numberOfLeadingZeros(math.max(2 * capacity - 1, 1))
    private val slots = new Array[Int](1 << bits) // candidate index + 1; 0 = empty

    def add(gain: Long, len: Int, key: Long): Unit = {
      val h = (key * 0x9E3779B97F4A7C15L) ^ len
      var slot = ((h ^ (h >>> 32)).toInt * 0x9E3779B1) >>> (32 - bits)
      while (slots(slot) != 0) {
        val i = slots(slot) - 1
        if (lens(i) == len && keys(i) == key) {
          if (gains(i) < gain) gains(i) = gain
          return
        }
        slot = (slot + 1) & ((1 << bits) - 1)
      }
      gains(size) = gain; lens(size) = len; keys(size) = key
      size += 1
      slots(slot) = size
    }

    def bytes(i: Int): Array[Byte] = {
      val b = new Array[Byte](lens(i))
      var j = 0
      while (j < b.length) { b(j) = (keys(i) >>> (8 * j)).toByte; j += 1 }
      b
    }

    private val names = new Array[String](capacity)
    /** `Arrays.toString` of the symbol bytes, built on first use. */
    private def name(i: Int): String = {
      if (names(i) == null) names(i) = java.util.Arrays.toString(bytes(i))
      names(i)
    }

    /** The table order: gain descending, then name ascending. */
    def before(a: Int, b: Int): Boolean =
      gains(a) > gains(b) || (gains(a) == gains(b) && name(a).compareTo(name(b)) < 0)

    /** The first `k` candidates in table order, through a bounded
      * heap whose head is the last one kept.
      */
    def top(k: Int): Array[Int] = {
      val heap = new java.util.PriorityQueue[Integer](k, (a: Integer, b: Integer) =>
        if (a.intValue == b.intValue) 0 else if (before(a, b)) 1 else -1)
      var c = 0
      while (c < size) {
        if (heap.size < k) heap.add(c)
        else if (before(c, heap.peek)) { heap.poll(); heap.add(c) }
        c += 1
      }
      heap.toArray(Array.empty[Integer]).map(_.intValue).sortWith(before)
    }
  }

  /** Candidates from one round's counts — every code used, and every
    * pair seen at least twice that fits in 8 bytes — resetting the
    * counts on the way.
    */
  private def candidates(table: Table, cs: Counts): Candidates = {
    val cands = new Candidates(CodeSpace + cs.nTouched)
    def len(c: Int): Int = if (c >= 256) 1 else table.syms(c).length
    def key(c: Int): Long = if (c >= 256) (c - 256).toLong else table.symKeys(c)
    var c = 0
    while (c < CodeSpace) {
      val cnt = cs.singles(c)
      if (cnt > 0) { cands.add(cnt.toLong * len(c), len(c), key(c)); cs.singles(c) = 0 }
      c += 1
    }
    var t = 0
    while (t < cs.nTouched) {
      val k = cs.touched(t)
      val cnt = cs.pairs(k)
      cs.pairs(k) = 0
      if (cnt >= 2) {
        val c1 = k / CodeSpace
        val c2 = k % CodeSpace
        val l1 = len(c1)
        val l = l1 + len(c2)
        if (l <= MaxSymLen) cands.add(cnt.toLong * l, l, key(c1) | (key(c2) << (8 * l1)))
      }
      t += 1
    }
    cs.nTouched = 0
    cands
  }

  private def train(bytes: Array[Byte], n: Int): Table = {
    val sampleN = math.min(n, SampleBytes)
    val cs = counts.get()
    var table = new Table(Array.empty)
    var round = 0
    while (round < Rounds) {
      countParse(bytes, sampleN, table, cs)
      val cands = candidates(table, cs)
      table = new Table(cands.top(MaxSymbols).map(cands.bytes))
      round += 1
    }
    table
  }

  /** Cheap size estimate: encode only a prefix sample and extrapolate
    * bytes-per-token. Used by auto-selection to skip the (expensive)
    * full FSST trial when another codec is already clearly smaller.
    */
  def estimateBytes(values: Array[Int], n: Int): Long = estimate(values, n)._1

  /** `estimateBytes`, and the block's own encoding when the sample is
    * the whole block (`n <= 16384`), else null.
    */
  def estimate(values: Array[Int], n: Int): (Long, Encoded) = {
    val sampleN = math.min(n, EstimateSample)
    if (sampleN == 0) return (1L, null)
    val e = encode(values, sampleN)
    if (e == null) return (Long.MaxValue, null)
    // extrapolate payload only; the symbol table is a fixed cost, not
    // a per-token one
    val perTok = e.payload.length.toDouble / sampleN
    (math.ceil(perTok * n).toLong + e.symtab.length, if (sampleN == n) e else null)
  }

  def encode(values: Array[Int], n: Int): Encoded = {
    var i = 0
    while (i < n) { if (values(i) < 0) return null; i += 1 }
    val (bytes, len) = toVarintBytes(values, n)
    if (len == 0)
      return Encoded(Array[Byte](0), Array.emptyByteArray)
    val table = train(bytes, len)
    val view = littleEndian(bytes)
    val out = new Array[Byte](2 * len)
    var o = 0
    var p = 0
    while (p < len) {
      val r = table.next(view, p, len)
      val c = r & (CodeSpace - 1)
      if (c >= 256) { out(o) = Escape.toByte; out(o + 1) = (c - 256).toByte; o += 2 }
      else { out(o) = c.toByte; o += 1 }
      p += r >>> 9
    }
    val st = new ByteBuf(300)
    st.writeByte(table.syms.length)
    table.syms.foreach { s => st.writeByte(s.length); st.writeBytes(s) }
    Encoded(st.toArray, java.util.Arrays.copyOf(out, o))
  }

  def decode(symtab: Array[Byte], payload: Array[Byte], n: Int): Array[Int] = {
    val r = new ByteReader(symtab)
    val k = r.readByte()
    val syms = new Array[Array[Byte]](k)
    var i = 0
    while (i < k) {
      val len = r.readByte()
      val b = new Array[Byte](len)
      System.arraycopy(symtab, r.pos, b, 0, len)
      r.pos += len
      syms(i) = b
      i += 1
    }
    // expand codes -> byte stream
    val bytes = new ByteBuf(payload.length * 3 + 16)
    var p = 0
    while (p < payload.length) {
      val c = payload(p) & 0xFF
      if (c == Escape) { bytes.writeByte(payload(p + 1) & 0xFF); p += 2 }
      else { bytes.writeBytes(syms(c)); p += 1 }
    }
    val br = new ByteReader(bytes.toArray)
    val out = new Array[Int](n)
    i = 0
    while (i < n) { out(i) = br.readVarInt(); i += 1 }
    out
  }
}
