package graft.encode

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.{Bits, BlockCodec, ByteReader, CodecIds, DictCodec}

/** Predicate evaluation over the ENCODED token store — the classic
  * "query execution on compressed data" win (Abadi et al., SIGMOD'06
  * "Integrating Compression and Execution in Column-Oriented Database
  * Systems"), applied to our own block format. The reference engine
  * has no sub-file codecs, so this whole layer is an extension; its
  * closest ancestor is undatum's frequency/stats scans over raw
  * streams (undatum/cmds/statistics.py), here answered without
  * reconstructing the rows.
  *
  * Three pruning tiers, cheapest first:
  *
  *  1. ZONE MAPS — every block row carries (minTok, maxTok) sealed
  *     from the codec-selection stats pass. The intersects-[lo,hi]
  *     predicate is an ordinary parquet filter on tiny int columns,
  *     so it reaches the scan as a pushed filter: non-intersecting
  *     blocks' payload bytes (~95% of the store) are never read.
  *     At 10^12 sequences the store is partId-clustered and each
  *     source is one value regime (TokenSynth mirrors this), so a
  *     selective token range prunes most blocks at the metadata tier.
  *  2. SYMBOL TABLES — a Dict block's sorted dictionary (<= 2^16
  *     entries, a few KB) decides membership without DECODING the
  *     payload: no dict value in [lo,hi] => whole block rejected from
  *     the symtab alone (no bit-unpack, no zstd inflate, no token
  *     walk). Since round 7 the symtab (and token-bloom) rejection
  *     also saves the parquet READ, not just the decode: every
  *     selective walk runs a TWO-PHASE selection ([[selectBlocks]]) —
  *     a payload-free pre-selection evaluates tiers 1-2 (plus the
  *     tokidx bloom) over the store's live-block metadata (for a small
  *     store a driver snapshot, so no Spark job) and chooses surviving
  *     blockIds, then the payload scan carries a pushed `blockId IN`
  *     filter, so rejected blocks' payload bytes are never read
  *     (plan-asserted in CompressedSearchSpec). Walks whose survivor
  *     set exceeds the bounded driver cap fall back to the single
  *     scan — they read most payloads by definition.
  *     [[distinctTokens]] additionally answers dict blocks from
  *     symtabs ALONE via its payload-FREE split scan.
  *  3. COMPRESSED-DOMAIN COUNTING — Dict blocks count index codes
  *     against the dictionary's [lo,hi] index span (sorted dict =>
  *     contiguous code range, one unsigned compare per token); RLE
  *     blocks walk (value, run) pairs, so a length-r run costs O(1).
  *     Other codecs decode their value stream and scan — still no
  *     row materialization (doc ids, sources and lengths stay
  *     encoded; no TokenRow allocation).
  *
  * Everything is embarrassingly parallel per block — no shuffle until
  * the final (tiny) aggregate over matches.
  */
object CompressedSearch {

  private def rawPayload(postCodec: Int, payload: Array[Byte]): Array[Byte] =
    if (postCodec == 1) BlockCodec.unzstd(payload) else payload

  /** First index with dict(i) >= v (sorted input). */
  private def lowerBound(dict: Array[Int], v: Int): Int = {
    var lo = 0
    var hi = dict.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (dict(mid) < v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Dict-coded block whose dictionary has NO value in [lo, hi] —
    * decided from the symtab alone; the payload is never touched
    * (callers may pass payload = null for such blocks).
    */
  /** Exclusive upper index of [lo, hi] in a sorted dict; hi+1 would
    * overflow at Int.MaxValue, where the span runs to dict.length.
    */
  private def upperIndex(dict: Array[Int], hi: Int): Int =
    if (hi == Int.MaxValue) dict.length else lowerBound(dict, hi + 1)

  def dictRejects(codecId: Int, symtab: Array[Byte], lo: Int, hi: Int): Boolean =
    codecId == CodecIds.Dict && {
      val dict = DictCodec.readDict(symtab)
      lowerBound(dict, lo) >= upperIndex(dict, hi)
    }

  /** Count tokens with value in [lo, hi] in one encoded block,
    * compressed-domain where the codec allows (see object doc).
    */
  def countInRange(codecId: Int, postCodec: Int, symtab: Array[Byte],
                   payload: Array[Byte], n: Int, lo: Int, hi: Int): Long = {
    if (n == 0 || lo > hi) return 0L
    codecId match {
      case CodecIds.Dict =>
        val dict = DictCodec.readDict(symtab)
        val iLo = lowerBound(dict, lo)
        val iHi = upperIndex(dict, hi)
        if (iLo >= iHi) return 0L // symtab-only rejection: payload not decoded
        val codes = Bits.unpack(
          new ByteReader(rawPayload(postCodec, payload)), n,
          DictCodec.indexWidth(symtab))
        var c = 0L
        var i = 0
        while (i < n) {
          val x = codes(i)
          if (x >= iLo && x < iHi) c += 1
          i += 1
        }
        c
      case CodecIds.Rle =>
        val r = new ByteReader(rawPayload(postCodec, payload))
        var c = 0L
        var i = 0
        while (i < n) {
          val v = r.readZigZag()
          val run = r.readVarInt()
          if (v >= lo && v <= hi) c += run
          i += run
        }
        c
      case _ =>
        val vals = BlockCodec.decode(codecId, postCodec, symtab, payload, n)
        var c = 0L
        var i = 0
        while (i < n) {
          val v = vals(i)
          if (v >= lo && v <= hi) c += 1
          i += 1
        }
        c
    }
  }

  /** The zone-map predicate every store-level scan shares, defined
    * once and rendered both as the pushed scan filter ([[column]]) and
    * as the driver check ([[keeps]]), so the two cannot diverge. A
    * block is kept when, for at least one `(minAtMost, maxAtLeast)`
    * bound, minTok <= minAtMost and maxTok >= maxAtLeast. On new
    * stores minTok/maxTok are real parquet columns, so the column
    * prunes at the scan (PushedFilters); empty blocks carry (MaxValue,
    * MinValue) and meet no bound short of the whole int range. A null
    * minTok/maxTok (the legacy rows of a mixed, resumed pre-zone-map
    * store) keeps the block — Or(IsNull, Le) is still parquet-pushable,
    * and row groups without nulls prune exactly as before.
    */
  private[graft] final case class Zone(bounds: Seq[(Int, Int)]) {
    def column: Column = bounds.map { case (minAtMost, maxAtLeast) =>
      (col("minTok").isNull || col("minTok") <= minAtMost) &&
        (col("maxTok").isNull || col("maxTok") >= maxAtLeast)
    }.reduce(_ || _)

    def keeps(minTok: Option[Int], maxTok: Option[Int]): Boolean =
      bounds.exists { case (minAtMost, maxAtLeast) =>
        minTok.forall(_ <= minAtMost) && maxTok.forall(_ >= maxAtLeast)
      }
  }

  private[graft] object Zone {
    /** The block's token range intersects [lo, hi]. */
    def intersects(lo: Int, hi: Int): Zone = Zone(Seq((hi, lo)))

    /** The block's range holds at least one of `ts` — an Or-chain of
      * pushable point containments.
      */
    def holdsAny(ts: Array[Int]): Zone = Zone(ts.toSeq.map(t => (t, t)))

    /** The block's range holds every one of `ts` (minTok <= min(ts) &&
      * maxTok >= max(ts)) — necessary for any of its docs to hold all
      * of `ts`, and strictly stronger than [[intersects]].
      */
    def holdsAll(ts: Array[Int]): Zone = Zone(Seq((ts.min, ts.max)))
  }

  /** One block probe shape: the [[Zone]] a block's token range must
    * meet (pushed to the parquet scan) paired with the `reject` that
    * drops a block from its (codecId, symtab, bloomEnc) metadata
    * alone. [[selectBlocks]] applies both before the payload scan, and
    * the decode walks re-check `reject`, so each shape is written once.
    */
  private final case class Probe(zone: Zone,
      reject: (Int, Array[Byte], Array[Byte]) => Boolean)

  private object Probe {
    /** Some token of the block lies in [lo, hi]. */
    def range(lo: Int, hi: Int): Probe = Probe(Zone.intersects(lo, hi),
      (cid, st, bloom) => dictRejects(cid, st, lo, hi) ||
        !graft.codec.TokBloom.mayIntersectRange(bloom, lo, hi))

    /** The block may hold every one of `ts`. */
    def all(ts: Array[Int]): Probe = Probe(Zone.holdsAll(ts),
      (cid, st, bloom) => dictRejectsAny(cid, st, ts) ||
        !graft.codec.TokBloom.mayContainAll(bloom, ts))

    /** The block may hold at least one of `ts`. */
    def any(ts: Array[Int]): Probe = Probe(Zone.holdsAny(ts),
      (cid, st, bloom) => dictRejectsEvery(cid, st, ts) ||
        !graft.codec.TokBloom.mayContainAny(bloom, ts))
  }

  /** Total number of tokens with value in [lo, hi] across the store —
    * one row (n_in_range). No row materialization anywhere: zone maps
    * prune blocks at the parquet scan, dict symtabs reject without
    * decoding the payload (see the object doc's precision note on
    * what parquet still reads), dict/RLE blocks count in the
    * compressed domain.
    */
  def countTokens(spark: SparkSession, outDir: String,
                  lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    selectBlocks(spark, outDir, TokenDecoder.liveBlocks(spark, outDir), None,
        Probe.range(lo, hi))
      .select("codecId", "postCodec", "symtab", "payload", "totalTokens",
        "bloomEnc")
      .as[(Int, Int, Array[Byte], Array[Byte], Long, Array[Byte])]
      .map { case (cid, post, st, pay, nTok, bloom) =>
        if (!graft.codec.TokBloom.mayIntersectRange(bloom, lo, hi)) 0L
        else countInRange(cid, post, st, pay, nTok.toInt, lo, hi)
      }
      .toDF("c")
      .agg(coalesce(sum("c"), lit(0L)).as("n_in_range"))
  }

  /** Per-token occurrence counts over the encoded store — the
    * reference's `frequency` command (undatum/cmds/selector.py uniq /
    * frequency surface) re-targeted at the compressed corpus.
    * Compressed-domain per block: Dict blocks histogram index codes
    * straight into a dense array over the dictionary (O(n) + O(card)),
    * RLE blocks read (value, run) pairs so a length-r run costs O(1),
    * other codecs decode their value stream and histogram locally.
    * Every block emits PRE-AGGREGATED (token, n_occ) pairs, so the
    * shuffle carries at most `card` rows per block, never `n` — at
    * 10^12 tokens the exchange is proportional to vocabulary size,
    * not corpus size.
    */
  def tokenFrequency(spark: SparkSession, outDir: String,
                     lo: Int = Int.MinValue,
                     hi: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    selectBlocks(spark, outDir, TokenDecoder.liveBlocks(spark, outDir), None,
        Probe.range(lo, hi))
      .select("codecId", "postCodec", "symtab", "payload", "totalTokens")
      .as[(Int, Int, Array[Byte], Array[Byte], Long)]
      .flatMap { case (cid, post, st, pay, nTokL) =>
        val n = nTokL.toInt
        if (n == 0 || dictRejects(cid, st, lo, hi)) Iterator.empty
        else blockHistogram(cid, post, st, pay, n, lo, hi)
      }
      .toDF("token", "n_occ")
      .groupBy("token")
      .agg(sum("n_occ").as("n_occ"))
  }

  /** One block's (token, count) histogram in the compressed domain
    * where the codec allows: Dict blocks histogram index codes into a
    * dense array over the dictionary (O(n) + O(card)), RLE blocks
    * read (value, run) pairs so a length-r run costs O(1), other
    * codecs decode their value stream and histogram locally. Callers
    * zone-prune and dict-reject before asking.
    */
  private def blockHistogram(cid: Int, post: Int, st: Array[Byte],
                             pay: Array[Byte], n: Int,
                             lo: Int, hi: Int): Iterator[(Int, Long)] =
    cid match {
      case CodecIds.Dict =>
        val dict = DictCodec.readDict(st)
        val iLo = lowerBound(dict, lo)
        val iHi = upperIndex(dict, hi)
        val codes = Bits.unpack(
          new ByteReader(rawPayload(post, pay)), n,
          DictCodec.indexWidth(st))
        val counts = new Array[Long](dict.length)
        var i = 0
        while (i < n) { counts(codes(i).toInt) += 1; i += 1 }
        (iLo until iHi).iterator
          .filter(counts(_) > 0L)
          .map(j => (dict(j), counts(j)))
      case CodecIds.Rle =>
        val r = new ByteReader(rawPayload(post, pay))
        val m = new scala.collection.mutable.LongMap[Long]()
        var i = 0
        while (i < n) {
          val v = r.readZigZag()
          val run = r.readVarInt()
          if (v >= lo && v <= hi) m(v.toLong) = m.getOrElse(v.toLong, 0L) + run
          i += run
        }
        m.iterator.map { case (v, c) => (v.toInt, c) }
      case _ =>
        val vals = BlockCodec.decode(cid, post, st, pay, n)
        val m = new scala.collection.mutable.LongMap[Long]()
        var i = 0
        while (i < n) {
          val v = vals(i)
          if (v >= lo && v <= hi) m(v.toLong) = m.getOrElse(v.toLong, 0L) + 1L
          i += 1
        }
        m.iterator.map { case (v, c) => (v.toInt, c) }
    }

  /** Per-(source, token) occurrence counts over the encoded store.
    * Encode partitions are source-pure by construction (the pinned
    * plan assigns each source its own partId band), so nearly every
    * block takes the fast path: the sources dict collapses to one
    * entry and the whole block's compressed-domain histogram (dict
    * codes / RLE runs — `blockHistogram`) attributes to that single
    * source with no per-row work. Only overflow-band blocks (several
    * rare sources sharing one band) decode their value stream and
    * attribute token spans row by row. Every block emits
    * PRE-AGGREGATED (source, token, n) triples, so the exchange is
    * bounded by |sources-in-block| × card, never by token count.
    */
  def sourceTokenFrequency(spark: SparkSession, outDir: String,
                           lo: Int = Int.MinValue,
                           hi: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    TokenDecoder.committedBlocks(spark, outDir, None)
      .where(Zone.intersects(lo, hi).column)
      .select("codecId", "postCodec", "symtab", "payload", "totalTokens",
        "blockRows", "sourcesEnc", "lengthsEnc")
      .as[(Int, Int, Array[Byte], Array[Byte], Long, Int,
        Array[Byte], Array[Byte])]
      .flatMap { case (cid, post, st, pay, nTokL, nRows, srcEnc, lenEnc) =>
        val n = nTokL.toInt
        if (n == 0 || dictRejects(cid, st, lo, hi)) Iterator.empty
        else graft.codec.StringCols.pureSource(srcEnc) match {
          // purity read from the sources dict's leading varint — the
          // per-row array is never materialized on this (dominant) path
          case Some(src) =>
            blockHistogram(cid, post, st, pay, n, lo, hi)
              .map { case (t, c) => (src, t, c) }
          case None =>
            val sources = graft.codec.StringCols.decodeSources(srcEnc, nRows)
            // overflow band: several rare sources in one block — decode
            // once, walk the per-row lengths, histogram per source
            val vals = BlockCodec.decode(cid, post, st, pay, n)
            val lens = new ByteReader(lenEnc)
            val per = new scala.collection.mutable.HashMap[
              String, scala.collection.mutable.LongMap[Long]]()
            var off = 0
            var r = 0
            while (r < nRows) {
              val m = per.getOrElseUpdate(sources(r),
                new scala.collection.mutable.LongMap[Long]())
              val len = lens.readVarInt()
              var k = off
              while (k < off + len) {
                val v = vals(k)
                if (v >= lo && v <= hi)
                  m(v.toLong) = m.getOrElse(v.toLong, 0L) + 1L
                k += 1
              }
              off += len
              r += 1
            }
            per.iterator.flatMap { case (src, m) =>
              m.iterator.map { case (v, c) => (src, v.toInt, c) }
            }
        }
      }
      .toDF("source", "token", "n_occ")
      .groupBy("source", "token")
      .agg(sum("n_occ").as("n_occ"))
  }

  /** Per-source unigram-distribution drift vs the whole corpus:
    * KL(P_source ‖ P_corpus) in MICRO-NATS (the repo's fixed-point
    * oracle convention — each (source, token) term is floored to an
    * integer before the sum, so a SQL oracle reproduces the exact
    * value with no float-order hazard). The curation use is mixing
    * QA: a source whose token distribution drifts far from the pool
    * (or from a target domain) gets its temperature/budget revisited.
    *
    * Built entirely on `sourceTokenFrequency`, so the corpus pass is
    * compressed-domain and the joins that follow are vocabulary-sized
    * (source totals broadcast, global token counts shuffle at most
    * |vocab| rows) — nothing downstream of the block scan is
    * proportional to corpus size. Returns (source, n_tok, kl_micro).
    */
  def sourceKlDrift(spark: SparkSession, outDir: String): DataFrame = {
    val st = sourceTokenFrequency(spark, outDir)
    val srcTot = st.groupBy("source").agg(sum("n_occ").as("__ns"))
    val glob = st.groupBy("token").agg(sum("n_occ").as("__nt"))
    val tot = st.agg(sum("n_occ").as("__nn"))
    st.join(broadcast(srcTot), "source")
      .join(glob, "token")
      .crossJoin(broadcast(tot))
      .withColumn("__term", floor(
        (col("n_occ").cast("double") / col("__ns")) *
          log((col("n_occ").cast("double") * col("__nn")) /
            (col("__ns").cast("double") * col("__nt"))) * lit(1e6)
          + lit(0.5)).cast("long"))
      .groupBy("source")
      // clamp at 0: true KL >= 0, but per-term fixed-point flooring
      // rounds positive and negative terms asymmetrically, so a source
      // nearly identical to the pool could otherwise sum to e.g. -1
      .agg(max(col("__ns")).cast("long").as("n_tok"),
        greatest(lit(0L), sum(col("__term")).cast("long")).as("kl_micro"))
  }

  /** Unigram-LM perplexity gate over the ENCODED corpus — the CCNet
    * quality-gate shape (LmScore.docPerplexityMicro) without ever
    * materializing a raw copy: the model trains from
    * `tokenFrequency`'s compressed-domain histogram (dict codes / RLE
    * runs; vocabulary-sized, payloads of dict blocks histogrammed
    * without row materialization), the top-`topK` add-one-smoothed
    * token NLLs (micro-nats, the repo's fixed-point convention)
    * broadcast as a few KB, and ONE decode pass scores every
    * document. Returns (doc_id, n_tok, nll_micro, mean_nll_micro) —
    * integer columns end to end, so a SQL oracle replays the exact
    * model and scores.
    */
  def storePerplexity(spark: SparkSession, outDir: String,
                      topK: Int = 512): DataFrame = {
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      unigramStoreModel(spark, outDir, topK))
    TokenDecoder.read(spark, outDir).map { r =>
      val (m, oov) = bc.value
      val (s, mean) = docNllMicro(m, oov, r.tokens, r.n_tok)
      (r.doc_id, r.n_tok.toLong, s, mean)
    }.toDF("doc_id", "n_tok", "nll_micro", "mean_nll_micro")
  }

  /** The per-doc scoring kernel shared VERBATIM by [[storePerplexity]]
    * and [[storeQualityFilter]] — one source of truth for the sum and
    * the micro-nat mean rounding, so the rewrite gate can never drift
    * from the report it is documented to match.
    * Returns (nll_micro_sum, mean_nll_micro); empty docs mean 0.
    */
  private def docNllMicro(m: scala.collection.mutable.LongMap[Long],
      oov: Long, tokens: Array[Int], nTok: Int): (Long, Long) = {
    var s = 0L
    var i = 0
    while (i < nTok) {
      s += m.getOrElse(tokens(i).toLong, oov)
      i += 1
    }
    val mean = if (nTok == 0) 0L
      else math.floor(s.toDouble / nTok + 0.5).toLong
    (s, mean)
  }

  /** The store-trained unigram model [[storePerplexity]] scores with:
    * top-`topK` add-one-smoothed token NLLs in micro-nats (keyed by
    * token) plus the OOV cost. Bounded by topK at any corpus size.
    */
  private def unigramStoreModel(spark: SparkSession, outDir: String,
      topK: Int): (scala.collection.mutable.LongMap[Long], Long) = {
    val top = tokenFrequency(spark, outDir)
      .orderBy(col("n_occ").desc, col("token")).limit(topK).collect()
    val t = top.map(_.getLong(1)).sum
    val v = top.length.toLong
    val denom = (t + v + 1).toDouble
    val nll = new scala.collection.mutable.LongMap[Long](top.length * 2)
    top.foreach { r =>
      nll(r.getInt(0).toLong) =
        math.floor(-math.log((r.getLong(1) + 1).toDouble / denom) * 1e6 + 0.5).toLong
    }
    (nll, math.floor(-math.log(1.0 / denom) * 1e6 + 0.5).toLong)
  }

  /** Quality-gated REWRITE: the full curation loop without ever
    * leaving the compressed domain. Scores every document with the
    * store-trained unigram model (exactly [[storePerplexity]]'s gate:
    * same model, same micro-nat rounding) and re-encodes ONLY the
    * keepers (mean NLL ≤ `maxMeanNllMicro`; empty docs score 0 and
    * survive) into a NEW committed store at `outDir`. ONE decode pass
    * feeds both the gate and the encoder — no intermediate raw table
    * is ever written — and the encoder's commit-marker protocol makes
    * the rewrite atomic and resumable like any other encode. Returns
    * the new store's lineage (this run's rows only, per run()'s
    * contract).
    */
  def storeQualityFilter(spark: SparkSession, inDir: String, outDir: String,
      maxMeanNllMicro: Long, topK: Int = 512,
      cfg: TokenEncoder.EncodeConfig = TokenEncoder.EncodeConfig())
      : Dataset[graft.model.LineageRecord] = {
    val bc = spark.sparkContext.broadcast(
      unigramStoreModel(spark, inDir, topK))
    val kept = TokenDecoder.read(spark, inDir).filter { r =>
      val (m, ov) = bc.value
      docNllMicro(m, ov, r.tokens, r.n_tok)._2 <= maxMeanNllMicro
    }
    TokenEncoder.run(kept, outDir, cfg)
  }

  /** Adjacent-token bigram frequency over the ENCODED corpus — the
    * order-aware sibling of `tokenFrequency`. Token ORDER forces one
    * decode pass (zone maps and symtabs carry no adjacency), but each
    * partition histograms its pairs into a local LongMap keyed by the
    * packed (a<<32 | b) long first, so the exchange carries only
    * DISTINCT pairs, never token count. The map is CAPPED: when a
    * high-entropy partition (distinct pairs ~ token count) fills it,
    * the partial counts are emitted and the map cleared — the
    * downstream groupBy re-merges them exactly, so memory is bounded
    * at ~48 MB per task regardless of partition size (the executor
    * OOM a single unbounded per-partition map would hit at 10^9
    * tokens cannot occur; Spark's own hash agg spills the merge).
    * Emits (tok_a, tok_b, n_occ); pairs never cross doc boundaries.
    */
  def storeBigramFrequency(spark: SparkSession, outDir: String,
      flushCap: Int = 1 << 21 // ~2M live pairs at ~24 B/entry => ~48 MB
      ): DataFrame = {
    import spark.implicits._
    val cap = math.max(flushCap, 1)
    TokenDecoder.read(spark, outDir)
      .mapPartitions { it =>
        val m = new scala.collection.mutable.LongMap[Long]()
        def drain(): Iterator[(Int, Int, Long)] = {
          val out = m.toArray
          m.clear()
          out.iterator.map { case (k, n) => ((k >> 32).toInt, k.toInt, n) }
        }
        it.flatMap { r =>
          var i = 1
          while (i < r.n_tok) {
            val k = (r.tokens(i - 1).toLong << 32) |
              (r.tokens(i).toLong & 0xFFFFFFFFL)
            m(k) = m.getOrElse(k, 0L) + 1L
            i += 1
          }
          if (m.size >= cap) drain() else Iterator.empty
        } ++ drain()
      }
      .toDF("tok_a", "tok_b", "n_occ")
      .groupBy("tok_a", "tok_b").agg(sum("n_occ").as("n_occ"))
  }

  private def packPair(a: Int, b: Int): Long =
    (a.toLong << 32) | (b.toLong & 0xFFFFFFFFL)

  /** Top-k collocations by pointwise mutual information of ADJACENT
    * token pairs, computed entirely from the encoded store's bigram
    * table (one decode pass, map-side pre-aggregated):
    * PMI(a,b) = ln(c(a,b)·N / (cl(a)·cr(b))) with the left/right
    * margins and total mass N all taken from the SAME pair table, so
    * the score is self-consistent. `minCount` floors c(a,b) — the
    * rare-pair blowup is Church & Hanks 1990's own caveat.
    *
    * Scale shape: the pair table (distinct adjacent pairs, never token
    * mass) persists across the margin aggregations; ln is MONOTONE, so
    * top-k orders by the raw ratio — pure IEEE mult/div, bit-identical
    * in any engine — via TakeOrdered (partitions ship local top-k).
    * Only the k winners reach the driver, where the micro-int PMI is
    * computed with math.log (the JVM/DuckDB-parity path every LM score
    * in this engine uses).
    */
  def storePmiTopK(spark: SparkSession, outDir: String, k: Int = 30,
                   minCount: Long = 5L): DataFrame = {
    import spark.implicits._
    val bi = storeBigramFrequency(spark, outDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = bi.agg(coalesce(sum("n_occ"), lit(0L))).first().getLong(0)
      val cl = bi.groupBy("tok_a").agg(sum("n_occ").as("c_left"))
      val cr = bi.groupBy("tok_b").agg(sum("n_occ").as("c_right"))
      val top = bi.where(col("n_occ") >= minCount)
        .join(cl, "tok_a").join(cr, "tok_b")
        .withColumn("ratio",
          (col("n_occ").cast("double") * lit(n).cast("double")) /
            (col("c_left").cast("double") * col("c_right").cast("double")))
        .orderBy(col("ratio").desc, col("tok_a"), col("tok_b"))
        .limit(k)
        .select("tok_a", "tok_b", "n_occ", "ratio")
        .collect()
        .map { r =>
          (r.getInt(0), r.getInt(1), r.getLong(2),
            math.floor(math.log(r.getDouble(3)) * 1e6 + 0.5).toLong)
        }.toSeq
      top.toDF("tok_a", "tok_b", "n_occ", "pmi_micro")
    } finally { bi.unpersist(blocking = false); () }
  }

  /** Interpolated Kneser-Ney bigram LM trained FROM the encoded store
    * and scored in one decode pass — the higher-order companion of
    * [[storePerplexity]], completing the CCNet gate family without a
    * raw-corpus copy. Model math IS text/LmScore.knTermsMicro (the
    * one shared KN core; same pruned-ARPA cut: top-`maxPairs` pairs
    * by (count desc, pair asc)) instantiated at Int tokens, so the
    * DuckDB oracle replays every doc score exactly. The driver holds only the
    * maxPairs-bounded model (TakeOrdered cut — partitions ship their
    * local top-k, never the full pair table); scoring is shuffle-free.
    * Returns (doc_id, n_bigrams, nll_micro, ppl_micro); docs with
    * fewer than 2 tokens score 0 (no transitions to evaluate).
    */
  def storeKnPerplexity(spark: SparkSession, outDir: String,
                        maxPairs: Int = 4096): DataFrame = {
    import spark.implicits._
    val pairs = storeBigramFrequency(spark, outDir)
      .orderBy(col("n_occ").desc, col("tok_a"), col("tok_b"))
      .limit(maxPairs)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    // model math lives ONCE in LmScore.knTermsMicro (generic key);
    // here the maxPairs-bounded maps are just re-keyed to packed longs
    // for the allocation-free scoring loop below
    val (pmG, lmG, cmG, oovCont) = graft.text.LmScore.knTermsMicro(pairs)
    val pairM = new scala.collection.mutable.LongMap[Long](pmG.size * 2)
    pmG.foreach { case ((a, b), v) => pairM(packPair(a, b)) = v }
    val lamM = new scala.collection.mutable.LongMap[Long](lmG.size * 2)
    lmG.foreach { case (a, v) => lamM(a.toLong) = v }
    val contM = new scala.collection.mutable.LongMap[Long](cmG.size * 2)
    cmG.foreach { case (b, v) => contM(b.toLong) = v }
    val bc = spark.sparkContext.broadcast((pairM, lamM, contM, oovCont))
    TokenDecoder.read(spark, outDir).map { r =>
      val (pm, lm, cm, ov) = bc.value
      var s = 0L
      var i = 1
      while (i < r.n_tok) {
        val a = r.tokens(i - 1); val b = r.tokens(i)
        s += pm.getOrElse(packPair(a, b),
          lm.getOrElse(a.toLong, 0L) + cm.getOrElse(b.toLong, ov))
        i += 1
      }
      val n = math.max(r.n_tok - 1, 0).toLong
      val mean = if (n == 0L) 0L
        else math.floor(s.toDouble / n + 0.5).toLong
      (r.doc_id, n, s, mean)
    }.toDF("doc_id", "n_bigrams", "nll_micro", "ppl_micro")
  }

  /** Exact distinct-token count (vocabulary size) over the encoded
    * store. Per-block local distinct first, so the shuffle carries at
    * most `card` values per block: Dict blocks contribute their SORTED
    * SYMTAB VALUES — the payload column is never read for them (for a
    * dict-heavy store the scan is metadata-sized); RLE blocks dedup
    * run values without expansion; other codecs decode and dedup
    * locally through the same IntSet the encoder's stats pass uses.
    */
  def distinctTokens(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    val blocks = TokenDecoder.committedBlocks(spark, outDir, None)
    // the payload-unread property must hold at the SCAN, not just in
    // the JVM: dict blocks get their own payload-FREE projection (the
    // readMeta pattern — an ignored `pay` argument would still make
    // the parquet reader decode every payload byte), split from the
    // payload-bearing scan by a pushed codecId filter
    val dictVals = blocks
      .where(col("codecId") === CodecIds.Dict && col("totalTokens") > 0)
      .select("symtab").as[Array[Byte]]
      .flatMap(st => DictCodec.readDict(st).iterator)
    val otherVals = blocks
      .where(col("codecId") =!= CodecIds.Dict && col("totalTokens") > 0)
      .select("codecId", "postCodec", "symtab", "payload", "totalTokens")
      .as[(Int, Int, Array[Byte], Array[Byte], Long)]
      .flatMap { case (cid, post, st, pay, nTokL) =>
        val n = nTokL.toInt
        val seen = new graft.codec.IntSet(4096)
        cid match {
          case CodecIds.Rle =>
            val r = new ByteReader(rawPayload(post, pay))
            var i = 0
            while (i < n) {
              val v = r.readZigZag()
              val run = r.readVarInt()
              seen.add(v)
              i += run
            }
          case _ =>
            val vals = BlockCodec.decode(cid, post, st, pay, n)
            var i = 0
            while (i < n) { seen.add(vals(i)); i += 1 }
        }
        seen.toSortedArray.iterator
      }
    dictVals.union(otherVals)
      .toDF("token")
      .agg(count_distinct(col("token")).as("n_distinct"))
  }

  /** Documents containing a token in [lo, hi], with per-document hit
    * counts: (doc_id, source, n_hits), only matches emitted. Block
    * scan is zone-map pruned and dict-rejected first; surviving blocks
    * decode once and walk rows via the encoded lengths. The final
    * aggregate shuffles ONLY the matching docs (a selective predicate
    * at 10^12 rows shuffles a sliver of the corpus).
    */
  def searchDocs(spark: SparkSession, outDir: String,
                 lo: Int, hi: Int): DataFrame =
    searchBlocks(spark, outDir, None, lo, hi)

  /** Source-restricted search: composes BOTH metadata prunes — the
    * pinned partition plan maps the source to its contiguous partId
    * band (TokenDecoder.readSource's prune: every other source's
    * blocks drop at the scan), and the zone maps prune the surviving
    * band by token range. The overflow band can hold several rare
    * sources, so a residual source filter on the emitted rows keeps
    * exactness — cost is O(that source's matching blocks), not
    * O(table).
    */
  def searchDocsInSource(spark: SparkSession, outDir: String, source: String,
                         lo: Int, hi: Int): DataFrame = {
    val plan = TokenEncoder.loadPlan(outDir)
      .getOrElse(throw new IllegalArgumentException(s"no plan.json in $outDir"))
    val ids: Set[Int] = plan.get(source) match {
      case Some((base, salts)) => (base until (base + salts)).toSet
      case None => Set(TokenEncoder.overflowSlotOf(plan, source))
    }
    searchBlocks(spark, outDir, Some(ids), lo, hi)
      .where(col("source") === source)
  }

  /** Selective decode: full TokenRows for ONLY the documents holding a
    * token in [lo, hi] — the pruned-read family's predicate member
    * (read / readSource / readMeta / readDocs). Zone maps prune blocks
    * at the scan, dict symtabs reject without decoding the payload, hit blocks
    * decode once and emit only matching rows — at a selective
    * predicate the decode (and everything downstream) is O(hits),
    * not O(corpus).
    */
  def readDocs(spark: SparkSession, outDir: String,
               lo: Int, hi: Int): org.apache.spark.sql.Dataset[graft.model.TokenRow] = {
    import spark.implicits._
    scanRows(spark, outDir, None, Probe.range(lo, hi)) { (docId, source, tokens, off, n) =>
      var hit = false
      var k = off
      while (!hit && k < off + n) {
        val v = tokens(k)
        if (v >= lo && v <= hi) hit = true
        k += 1
      }
      if (hit)
        Iterator.single(graft.model.TokenRow(docId,
          java.util.Arrays.copyOfRange(tokens, off, off + n), n, source))
      else Iterator.empty
    }
  }

  /** Dict-coded block whose symtab lacks AT LEAST ONE of `ts` —
    * a block that cannot contain every query token, decided from the
    * sorted dictionary alone (one binary search per query token; the
    * payload is not decoded). The multi-token prune behind
    * [[phraseSearchDocs]] and [[searchDocsWithAll]].
    */
  def dictRejectsAny(codecId: Int, symtab: Array[Byte], ts: Array[Int]): Boolean =
    codecId == CodecIds.Dict && {
      val dict = DictCodec.readDict(symtab)
      var i = 0
      while (i < ts.length) {
        val p = lowerBound(dict, ts(i))
        if (p >= dict.length || dict(p) != ts(i)) return true
        i += 1
      }
      false
    }

  /** Dict-coded block whose symtab holds NONE of `ts` — the ANY-token
    * sibling of [[dictRejectsAny]] (one readDict, one binary search
    * per token), used by [[blocksAny]]'s ranked-retrieval prune.
    */
  def dictRejectsEvery(codecId: Int, symtab: Array[Byte], ts: Array[Int]): Boolean =
    codecId == CodecIds.Dict && {
      val dict = DictCodec.readDict(symtab)
      var i = 0
      while (i < ts.length) {
        val p = lowerBound(dict, ts(i))
        if (p < dict.length && dict(p) == ts(i)) return false
        i += 1
      }
      true
    }

  /** Documents containing the EXACT CONTIGUOUS token phrase, with
    * per-document occurrence counts (overlapping occurrences all
    * count; phrases never cross document boundaries). Returns
    * (doc_id, source, n_matches), only matching docs emitted.
    *
    * The compressed-domain wins compose: `Zone.holdsAll` demands the block
    * RANGE contain every phrase token (pushed to the parquet scan),
    * dict symtabs reject any block missing one (binary searches only
    * — no payload decode), and only surviving blocks decode for the
    * positional walk, which zone maps and symtabs cannot answer. At a
    * selective phrase the decode and the shuffle are O(hit docs), not
    * O(corpus).
    */
  def phraseSearchDocs(spark: SparkSession, outDir: String,
                       phrase: Array[Int]): DataFrame = {
    import spark.implicits._
    require(phrase.nonEmpty, "phraseSearchDocs: empty phrase")
    scanRows(spark, outDir, None, Probe.all(phrase)) { (docId, source, tokens, off, n) =>
      var c = 0L
      var i = off
      val last = off + n - phrase.length
      while (i <= last) {
        var k = 0
        while (k < phrase.length && tokens(i + k) == phrase(k)) k += 1
        if (k == phrase.length) c += 1
        i += 1
      }
      if (c > 0) Iterator.single((docId, source, c)) else Iterator.empty
    }
      .toDF("doc_id", "source", "n_matches")
      .groupBy("doc_id", "source")
      .agg(sum("n_matches").as("n_matches"))
  }

  /** Conjunctive containment search: documents holding EVERY token in
    * `ts` (any order, any position), with the total occurrence count
    * of the query tokens. Returns (doc_id, source, n_hits).
    *
    * Same two-tier prune as [[phraseSearchDocs]] (zone containment +
    * symtab membership). Each row emits at most |ts| pre-aggregated
    * (doc, token, count) triples — only for tokens actually present —
    * and the ALL-present gate is a countDistinct over those, so the
    * exchange is bounded by |ts| x docs-with-any-hit and the
    * semantics stay exact even if a doc_id spans several rows.
    */
  def searchDocsWithAll(spark: SparkSession, outDir: String,
                        ts0: Array[Int]): DataFrame = {
    import spark.implicits._
    require(ts0.nonEmpty, "searchDocsWithAll: empty token set")
    // dedupe: a repeated query token is one membership requirement —
    // without this the countDistinct gate below could never reach
    // ts.length and every doc would silently drop
    val ts = ts0.distinct
    scanRows(spark, outDir, None, Probe.all(ts)) { (docId, source, tokens, off, n) =>
      val counts = new Array[Long](ts.length)
      var i = off
      while (i < off + n) {
        val v = tokens(i)
        var j = 0
        while (j < ts.length) { // |ts| is tiny: linear probe beats a map
          if (ts(j) == v) counts(j) += 1
          j += 1
        }
        i += 1
      }
      ts.indices.iterator.filter(counts(_) > 0)
        .map(j => (docId, source, ts(j), counts(j)))
    }
      .toDF("doc_id", "source", "token", "n")
      .groupBy("doc_id", "source")
      .agg(sum("n").as("n_hits"), countDistinct("token").as("__k"))
      .where(col("__k") === ts.length)
      .drop("__k")
  }

  /** Per-source document and token counts WITHOUT decoding any
    * payload. The pinned plan maps every partId below the overflow
    * band to exactly one source, so that share aggregates from the
    * (blockRows, totalTokens) METADATA columns alone — zero bytes of
    * block content read beyond the stats parquet already stores. Only
    * the overflow band (several plan-unknown sources share its
    * partIds) walks its sources/lengths META columns (a few bytes per
    * row; the payload column is never projected, so parquet never
    * reads it). A store with no plan degrades to the meta walk for
    * every block. Returns (source, n_docs, n_tok) ordered by source —
    * the observability call that tells a 10^12-row ingest what it
    * holds per source at metadata cost.
    */
  def sourceStats(spark: SparkSession, outDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.typedLit
    val blocks = TokenDecoder.committedBlocks(spark, outDir, None)
    // meta walk: per-block pre-aggregation so the exchange carries
    // (source, counts) pairs per block, never per row
    def metaWalk(sel: DataFrame): DataFrame = sel
      .select("sourcesEnc", "lengthsEnc", "blockRows")
      .as[(Array[Byte], Array[Byte], Int)]
      .flatMap { case (sEnc, lEnc, nRows) =>
        val sources = graft.codec.StringCols.decodeSources(sEnc, nRows)
        val lens = new ByteReader(lEnc)
        val m = scala.collection.mutable.HashMap[String, (Long, Long)]()
        var i = 0
        while (i < nRows) {
          val t = lens.readVarInt().toLong
          val cur = m.getOrElse(sources(i), (0L, 0L))
          m(sources(i)) = (cur._1 + 1L, cur._2 + t)
          i += 1
        }
        m.iterator.map { case (s, (d, t)) => (s, d, t) }
      }
      .toDF("source", "n_docs", "n_tok")
    val perSource = TokenEncoder.loadPlan(outDir) match {
      case None => metaWalk(blocks)
      case Some(plan) =>
        val saltTotal = TokenEncoder.planSaltTotal(plan)
        val named: Map[Int, String] = plan.toSeq.flatMap {
          case (src, (base, salts)) => (base until base + salts).map(_ -> src)
        }.toMap
        // named bands: metadata columns only; try_element_at so a
        // stray partId surfaces as "?" instead of an ANSI throw
        val namedAgg = blocks.where(col("partId") < saltTotal)
          .select(
            coalesce(try_element_at(typedLit(named), col("partId")),
              lit("?")).as("source"),
            col("blockRows").cast("long").as("n_docs"),
            col("totalTokens").as("n_tok"))
        namedAgg.union(metaWalk(blocks.where(col("partId") >= saltTotal)))
    }
    perSource.groupBy("source")
      .agg(sum("n_docs").as("n_docs"), sum("n_tok").as("n_tok"))
      .orderBy("source")
  }

  /** Store-level statistics from block METADATA alone: one row per
    * (codec, postCodec) with block/row/token counts, raw/encoded/meta
    * byte totals and the aggregate compression ratio. The payload and
    * symtab columns are never projected, so the parquet scan reads a
    * few numeric columns per block regardless of store size — the
    * ops-surface answer to "what did codec auto-selection decide and
    * what did it buy" without touching a single compressed byte.
    */
  def storeStats(spark: SparkSession, outDir: String): DataFrame = {
    import org.apache.spark.sql.functions.typedLit
    graft.encode.TokenDecoder.committedBlocks(spark, outDir, None)
      .groupBy("codecId", "postCodec")
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("blockRows").cast("long")).as("n_rows"),
        sum("totalTokens").as("n_tokens"),
        sum("rawBytes").as("raw_bytes"),
        sum("encodedBytes").as("encoded_bytes"),
        sum("metaBytes").as("meta_bytes"))
      .withColumn("codec",
        // try_element_at: ANSI element_at throws on a missing map key,
        // which would kill statenc on a store from a newer code version
        // carrying a codecId this build doesn't know — "?" is the point.
        coalesce(try_element_at(typedLit(graft.codec.CodecIds.names),
          col("codecId")), lit("?")))
      .withColumn("ratio",
        round(col("raw_bytes").cast("double") /
          greatest(col("encoded_bytes"), lit(1L)).cast("double"), 3))
      .select("codec", "codecId", "postCodec", "n_blocks", "n_rows",
        "n_tokens", "raw_bytes", "encoded_bytes", "meta_bytes", "ratio")
      .orderBy("codecId", "postCodec")
  }

  /** Proximity (NEAR) search: documents where token `a` and token `b`
    * co-occur within `window` positions, with the number of qualifying
    * position pairs and the closest distance. Returns
    * (doc_id, source, n_pairs, min_dist); only matching docs emitted.
    * A pair is (i, j) with tokens(i)=a, tokens(j)=b and
    * 1 <= |i-j| <= window; `a` and `b` must differ (self-proximity is
    * repetition analysis, a different operator family).
    *
    * Same two-tier prune as [[phraseSearchDocs]]: zone containment of
    * BOTH tokens reaches the parquet scan, dict symtabs reject blocks
    * missing either without payload decode, and only survivors decode
    * for the positional walk. Per row the walk is a linear two-pointer
    * merge over the two (sorted by construction) position lists —
    * O(n_tok) per doc, never |posA| x |posB|.
    */
  def proximitySearchDocs(spark: SparkSession, outDir: String,
                          a: Int, b: Int, window: Int): DataFrame = {
    import spark.implicits._
    require(window >= 1, "proximitySearchDocs: window must be >= 1")
    require(a != b,
      "proximitySearchDocs: tokens must differ (for self-proximity use " +
        "the repetition operators)")
    scanRows(spark, outDir, None, Probe.all(Array(a, b))) { (docId, source, tokens, off, n) =>
      // collect positions (0-based within the doc) of each target
      var nA = 0; var nB = 0
      var i = off
      while (i < off + n) {
        val v = tokens(i)
        if (v == a) nA += 1 else if (v == b) nB += 1
        i += 1
      }
      if (nA == 0 || nB == 0) Iterator.empty
      else {
        val posA = new Array[Int](nA); val posB = new Array[Int](nB)
        var ia = 0; var ib = 0
        i = off
        while (i < off + n) {
          val v = tokens(i)
          if (v == a) { posA(ia) = i - off; ia += 1 }
          else if (v == b) { posB(ib) = i - off; ib += 1 }
          i += 1
        }
        // two-pointer sliding window: for each a-position, b-positions
        // in [pa-window, pa+window]; lo/hi only ever advance, so the
        // count is O(nA + nB) regardless of window size
        var pairs = 0L
        var lo = 0; var hi = 0
        ia = 0
        while (ia < nA) {
          // Long bounds: pa + window overflows Int for a near-MaxValue
          // "unbounded" window, silently emptying the result
          val pa = posA(ia).toLong
          while (lo < nB && posB(lo) < pa - window) lo += 1
          if (hi < lo) hi = lo
          while (hi < nB && posB(hi) <= pa + window) hi += 1
          if (hi > lo) pairs += (hi - lo).toLong
          ia += 1
        }
        // min distance: one merge over the two sorted lists — the
        // global minimum, which any within-window pair bounds by
        // `window`, so pairs > 0 implies minDist <= window
        var minDist = Int.MaxValue
        var x = 0; var y = 0
        while (x < nA && y < nB) {
          val d = math.abs(posA(x) - posB(y))
          if (d < minDist) minDist = d
          if (posA(x) < posB(y)) x += 1 else y += 1
        }
        if (pairs > 0)
          Iterator.single((docId, source, pairs, minDist.toLong))
        else Iterator.empty
      }
    }
      .toDF("doc_id", "source", "n_pairs", "min_dist")
      .groupBy("doc_id", "source")
      .agg(sum("n_pairs").as("n_pairs"), min("min_dist").as("min_dist"))
  }

  /** BM25 ranked retrieval over the ENCODED store: top-`k` documents
    * for a bag-of-tokens query, scored in FIXED POINT (each per-term
    * BM25 contribution floored to micro-nats before the sum) so a SQL
    * oracle replays every score bit-for-bit. Lucene-shape formula:
    * idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1),
    * term(d,t) = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
    *
    * Scale shape: N and avgdl come from block METADATA only (the
    * live blocks' blockRows/totalTokens, [[TokenDecoder.liveBlocks]]:
    * a driver sum over a snapshot, one agg over a frame); document
    * frequencies come from a pruned pass that pre-aggregates per
    * block (the exchange is |query| rows per surviving block); scoring is a
    * second pruned pass emitting one row per MATCHING doc, and the
    * global top-k is orderBy+limit — Catalyst's TakeOrdered, a
    * per-partition heap + driver merge of k rows, never a full sort.
    * Both passes prune: zone maps must intersect at least one query
    * token (pushed to the scan) and a dict block whose symtab holds
    * none of the query tokens rejects without payload decode.
    *
    * CONTRACT: docs are scored per store ROW — doc_ids must be unique
    * across rows (true of every store this engine writes; enforcing it
    * here would cost a corpus-wide distinct, the opposite of this
    * query's shape). Under violated uniqueness each row ranks
    * independently with its own length normalization. Duplicate query
    * tokens dedupe (one requirement, not a double-counted term).
    */
  def bm25TopK(spark: SparkSession, outDir: String, query0: Array[Int],
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    require(query0.nonEmpty, "bm25TopK: empty query")
    val query = query0.distinct
    val live = TokenDecoder.liveBlocks(spark, outDir)
    val (nDocs, nTok) = liveTotals(live)
    require(nDocs > 0,
      s"bm25TopK: no committed blocks in $outDir (empty store, or an " +
        "encode that never committed — resume it before querying)")
    val avgdl = nTok.toDouble / nDocs
    // ONE two-phase block selection shared by both passes
    val blocks = blocksAny(spark, outDir, live, query)
    // pass 1: per-token document frequencies, pre-aggregated per block
    val df = blocks
      .flatMap { case (cid, post, st, pay, lensEnc, _, _, nRows, nTok) =>
        val counts = new Array[Long](query.length)
        val tokens = BlockCodec.decode(cid, post, st, pay, nTok.toInt)
        val lens = new ByteReader(lensEnc)
        val seen = new Array[Boolean](query.length)
        var off = 0
        var r = 0
        while (r < nRows) {
          val n = lens.readVarInt()
          java.util.Arrays.fill(seen, false)
          var i = off
          while (i < off + n) {
            var j = 0
            while (j < query.length) {
              if (query(j) == tokens(i) && !seen(j)) {
                seen(j) = true; counts(j) += 1
              }
              j += 1
            }
            i += 1
          }
          off += n
          r += 1
        }
        query.indices.iterator.filter(counts(_) > 0)
          .map(j => (j, counts(j)))
      }
      .toDF("qi", "df").groupBy("qi").agg(sum("df").as("df"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val idf = Array.tabulate(query.length) { j =>
      val d = df.getOrElse(j, 0L).toDouble
      math.log((nDocs - d + 0.5) / (d + 0.5) + 1)
    }
    val bcIdf = spark.sparkContext.broadcast(idf)
    // pass 2: score matching docs; one output row per hit doc
    blocks
      .flatMap { case (cid, post, st, pay, lensEnc, dEnc, sEnc, nRows, nTok) =>
        val w = bcIdf.value
        val tokens = BlockCodec.decode(cid, post, st, pay, nTok.toInt)
        val docIds = graft.codec.StringCols.decodeDocIds(dEnc, nRows)
        val sources = graft.codec.StringCols.decodeSources(sEnc, nRows)
        val lens = new ByteReader(lensEnc)
        val tf = new Array[Long](query.length)
        var off = 0
        (0 until nRows).iterator.flatMap { r =>
          val n = lens.readVarInt()
          java.util.Arrays.fill(tf, 0L)
          var i = off
          while (i < off + n) {
            var j = 0
            while (j < query.length) {
              if (query(j) == tokens(i)) tf(j) += 1
              j += 1
            }
            i += 1
          }
          off += n
          var s = 0L
          var any = false
          var j = 0
          while (j < query.length) {
            if (tf(j) > 0) {
              any = true
              val t = tf(j).toDouble
              // formula order frozen: the SQL oracle replays it
              s += math.floor(w(j) * (t * (k1 + 1)) /
                (t + k1 * (1 - b + b * n / avgdl)) * 1e6 + 0.5).toLong
            }
            j += 1
          }
          if (any) Iterator.single((docIds(r), sources(r), s))
          else Iterator.empty
        }
      }
      .toDF("doc_id", "source", "score_micro")
      .orderBy(col("score_micro").desc, col("doc_id"))
      .limit(k)
  }

  /** (rows, tokens) summed over the live blocks: a driver sum over a
    * snapshot, one aggregate job over a frame.
    */
  private def liveTotals(live: TokenDecoder.LiveBlocks): (Long, Long) = live match {
    case TokenDecoder.LiveRows(rows) =>
      (rows.iterator.map(_.blockRows.toLong).sum, rows.iterator.map(_.totalTokens).sum)
    case TokenDecoder.LiveFrame(frame) =>
      val m = frame.agg(coalesce(sum("blockRows").cast("long"), lit(0L)),
        coalesce(sum("totalTokens").cast("long"), lit(0L))).first()
      (m.getLong(0), m.getLong(1))
  }

  /** ANY-token block scan feeding [[bm25TopK]]'s two passes: zone
    * maps must hold at least one query token and a dict block whose
    * symtab holds NONE of the query tokens rejects from the symtab
    * alone.
    */
  private def blocksAny(spark: SparkSession, outDir: String,
      live: TokenDecoder.LiveBlocks,
      ts: Array[Int]): Dataset[(Int, Int, Array[Byte], Array[Byte],
      Array[Byte], Array[Byte], Array[Byte], Int, Long)] = {
    import spark.implicits._
    val probe = Probe.any(ts)
    val reject = probe.reject
    selectBlocks(spark, outDir, live, None, probe)
      .select("codecId", "postCodec", "symtab", "payload", "lengthsEnc",
        "docIdsEnc", "sourcesEnc", "blockRows", "totalTokens", "bloomEnc")
      .as[(Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte],
        Array[Byte], Int, Long, Array[Byte])]
      .filter(r => !reject(r._1, r._3, r._10))
      .map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9))
  }

  private def searchBlocks(spark: SparkSession, outDir: String,
                           partIds: Option[Set[Int]],
                           lo: Int, hi: Int): DataFrame = {
    import spark.implicits._
    scanRows(spark, outDir, partIds, Probe.range(lo, hi)) { (docId, source, tokens, off, n) =>
      var c = 0L
      var k = off
      while (k < off + n) {
        val v = tokens(k)
        if (v >= lo && v <= hi) c += 1
        k += 1
      }
      if (c > 0) Iterator.single((docId, source, c)) else Iterator.empty
    }
      .toDF("doc_id", "source", "n_hits")
      // blocks never split a row, but a doc_id is not REQUIRED to be
      // unique across rows — aggregate for exact semantics either way
      // (partial aggregation keeps this map-side for the common case)
      .groupBy("doc_id", "source")
      .agg(sum("n_hits").as("n_hits"))
  }

  /** Driver cap on the two-phase survivor list: blockIds are ~40-byte
    * strings, so 4096 keeps the pushed IN filter small and the driver
    * footprint in the hundreds of KB regardless of store size (the
    * bounded-collect convention every metadata pull in this engine
    * follows). It also bounds a driver snapshot's rows
    * ([[TokenDecoder.liveBlocks]]).
    */
  private[graft] val MaxSelectedBlockIds = 4096

  /** TWO-PHASE block selection (the Abadi-style late-materialization
    * move applied to our own store): a payload-free pre-selection
    * evaluates the partId restriction, the zone map and the
    * symtab/token-bloom rejection tiers over the store's live-block
    * metadata ([[TokenDecoder.liveBlocks]]) and chooses surviving
    * blockIds; when few enough, the payload scan is pruned to the
    * survivors with a pushed `blockId IN (...) && zone` filter — a
    * dict/bloom-rejected block's payload BYTES are never read, not
    * merely never decoded. The JVM-side rejection stays in the decode
    * path either way, so the IN filter is an accelerator, never a
    * correctness dependency.
    *
    * The pre-selection reads the store's snapshot, so an unchanged
    * store pays no marker read or index join per call:
    *  - over driver rows ([[TokenDecoder.LiveRows]], a store within
    *    the snapshot bounds) it is a driver loop, with no Spark job;
    *    there are at most [[MaxSelectedBlockIds]] rows, so the
    *    survivors always fit the IN list;
    *  - over a cached frame ([[TokenDecoder.LiveFrame]]) it is a frame
    *    scan, the `reject` filter and a bounded `take`. A
    *    non-selective predicate (survivors exceed the driver cap) falls
    *    back to joining the payload scan with the frame's rows under
    *    the zone — such a walk reads most payloads anyway — so the
    *    frame still carries the live set and the bloom.
    *
    * The pruned payload scan reads `blocks` ALONE: the survivors are
    * live blocks already, and a runId-prefixed blockId names exactly
    * one block row. Its `bloomEnc` is null ("may contain"): every
    * survivor already passed the bloom. No survivor gives an empty IN
    * list, so that arm scans nothing.
    */
  private def selectBlocks(spark: SparkSession, outDir: String,
      live: TokenDecoder.LiveBlocks, partIds: Option[Set[Int]],
      probe: Probe): DataFrame = {
    import spark.implicits._
    val zone = probe.zone
    val reject = probe.reject
    // the partId restriction and the zone, on the metadata or the payloads
    def restrict(df: DataFrame): DataFrame =
      partIds.fold(df)(ids => df.where(col("partId").isInCollection(ids.map(Int.box))))
        .where(zone.column)
    val blocks = StoreTables.read(spark, s"$outDir/blocks", StoreTables.Blocks)
    def survivorScan(ids: Iterable[String]): DataFrame =
      blocks.where(col("blockId").isInCollection(ids) && zone.column)
        .withColumn("bloomEnc", lit(null).cast("binary"))
    live match {
      case TokenDecoder.LiveRows(rows) =>
        survivorScan(rows.collect {
          case b if partIds.forall(_.contains(b.partId)) &&
            zone.keeps(b.minTok, b.maxTok) &&
            !reject(b.codecId, b.symtab, b.bloomEnc) => b.blockId
        })
      case TokenDecoder.LiveFrame(frame) =>
        val kept = restrict(frame)
        val ids = kept.select("blockId", "codecId", "symtab", "bloomEnc")
          .as[(String, Int, Array[Byte], Array[Byte])]
          .filter { case (_, cid, st, bloom) => !reject(cid, st, bloom) }
          .map(_._1)
          .take(MaxSelectedBlockIds + 1)
        if (ids.length <= MaxSelectedBlockIds) survivorScan(ids)
        // over the cap: the cached frame's live rows, bloom included,
        // restrict the payload scan
        else restrict(blocks).join(kept.select("blockId", "bloomEnc"), Seq("blockId"))
    }
  }

  /** The ONE zone-pruned, dict-rejected block walk behind every
    * per-row consumer (range search and selective decode; phrase,
    * conjunctive and proximity search): blocks `probe` keeps decode
    * once, then each row is handed to `row` as (docId, source,
    * blockTokens, off, n) — its tokens are blockTokens[off until
    * off+n]. Keeping the 9-column select and the tuple decode in a
    * single place means an EncodedBlock schema change cannot silently
    * diverge the search and selective-decode paths.
    */
  private def scanRows[T](spark: SparkSession, outDir: String,
                          partIds: Option[Set[Int]], probe: Probe)(
      row: (String, String, Array[Int], Int, Int) => Iterator[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]): org.apache.spark.sql.Dataset[T] = {
    import spark.implicits._
    val reject = probe.reject
    selectBlocks(spark, outDir, TokenDecoder.liveBlocks(spark, outDir), partIds,
        probe)
      .select("codecId", "postCodec", "symtab", "payload", "lengthsEnc",
        "docIdsEnc", "sourcesEnc", "blockRows", "totalTokens", "bloomEnc")
      .as[(Int, Int, Array[Byte], Array[Byte], Array[Byte], Array[Byte],
        Array[Byte], Int, Long, Array[Byte])]
      .flatMap { case (cid, post, st, pay, lensEnc, dEnc, sEnc, nRows, nTok,
                       bloom) =>
        if (reject(cid, st, bloom)) Iterator.empty
        else {
          val tokens = BlockCodec.decode(cid, post, st, pay, nTok.toInt)
          val docIds = graft.codec.StringCols.decodeDocIds(dEnc, nRows)
          val sources = graft.codec.StringCols.decodeSources(sEnc, nRows)
          val lens = new ByteReader(lensEnc)
          var off = 0
          (0 until nRows).iterator.flatMap { i =>
            val n = lens.readVarInt()
            val out = row(docIds(i), sources(i), tokens, off, n)
            off += n
            out
          }
        }
      }
  }
}
