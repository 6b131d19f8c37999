package perfbench

/** Every metric the result line can carry, with its unit. The lists
  * must equal `end_to_end` and `per_layer` in BENCHMARK.json; the
  * benchmark's tests check that.
  */
object Catalog {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_rel" -> "x")

  val searchFamilies: Seq[String] =
    Seq("count", "search", "search_src", "read", "phrase", "conj", "bm25", "freq")

  val codecs: Seq[String] =
    Seq("plain", "dict", "rle", "bitpack", "for", "fsst", "deltafor", "minipack", "pfor")

  val perLayer: Seq[(String, String)] = Seq(
    "encode.wall_s" -> "s",
    "encode.plan_s" -> "s",
    "encode.shuffle_map_s" -> "s",
    "encode.shuffle_bytes_per_tok" -> "B/tok",
    "encode.assemble_write_s" -> "s",
    "encode.busy_frac" -> "frac",
    "encode.commit_s" -> "s",
    "encode.driver_s" -> "s",
    "encode.jobs" -> "count",
    "encode.blocks" -> "count",
    "encode.tok_per_block" -> "tok",
    "encode.attributed_frac" -> "frac",
    "codec.encode_ms" -> "ms",
    "codec.kernel_share" -> "frac",
    "codec.kernel_encode_tok_per_s" -> "tok/s",
    "codec.kernel_decode_tok_per_s" -> "tok/s") ++
    codecs.map(c => s"codec.blocks.$c" -> "count") ++ Seq(
    "decode.wall_s" -> "s",
    "decode.scan_bytes" -> "B",
    "decode.busy_frac" -> "frac",
    "decode.driver_s" -> "s",
    "decode.jobs" -> "count") ++
    searchFamilies.flatMap(f => Seq(
      s"search.$f.p50_s" -> "s",
      s"search.$f.jobs" -> "count",
      s"search.$f.blocks_read" -> "count",
      s"search.$f.bytes_read" -> "B")) ++ Seq(
    "search.driver_frac" -> "frac",
    "search.rows_per_block_read" -> "rows/block",
    "index.build_s" -> "s",
    "index.bytes" -> "B",
    "streaming.batch_s" -> "s",
    "streaming.batch_jobs" -> "count",
    "streaming.batch_driver_s" -> "s",
    "streaming.compact_s" -> "s",
    "streaming.compact_bytes_written" -> "B",
    "streaming.blocks_before" -> "count",
    "streaming.blocks_after" -> "count",
    "streaming.compression_ratio" -> "x",
    "streaming.store_bytes_per_raw_byte" -> "ratio",
    "dedup.minhash_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "frac",
    "dedup.cc_s" -> "s",
    "dedup.substr_s" -> "s",
    "dedup.shuffle_bytes" -> "B",
    "spark.gc_frac" -> "frac",
    "spark.jobs" -> "count",
    "spark.heap_peak_mb" -> "MB",
    "trace.overhead.latency_rel" -> "x")
}
