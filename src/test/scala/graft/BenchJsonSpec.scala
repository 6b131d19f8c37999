package graft

import org.scalatest.funsuite.AnyFunSuite
import com.fasterxml.jackson.databind.ObjectMapper

/** Round-4 regressions. The bench-JSON tests exist because round 3's
  * bench signal was LOST: the single-line JSON with 71 per-query
  * timings outgrew the driver's 2000-char stdout tail capture and the
  * driver recorded `parsed: null`. The stdout line is now a compact
  * summary with a hard length guarantee; the full per-query map lives
  * in a sibling file.
  */
class BenchJsonSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  // worst case: a full-size query surface with long names, large
  // timing values, several failures, and max-width encode numbers
  private val manyQueries = (1 to 120).map(i =>
    f"q_long_descriptive_query_name_$i%03d" -> 12345.678)
  private val failures = Seq("q_failed_one", "q_failed_two", "q_failed_three")
  private val encodeJson =
    """{"rows":600000,"tokens":119987654,"cpus_lo":8,"cpus_hi":32,""" +
    """"tokens_per_sec_lo":27654321,"tokens_per_sec_hi":42876543,"reps":2,""" +
    """"inversion_retries":2,"inversion_unresolved":false,""" +
    """"pair_scaling_efficiency_best":0.388,""" +
    """"decode_retries":1,"scaling_efficiency":0.388,""" +
    """"tokens_per_sec_c2":9876543,"tokens_per_sec_c8":24765432,""" +
    """"scaling_efficiency_2_8":0.627,"noshuffle_tokens_per_sec_lo":33456789,""" +
    """"noshuffle_tokens_per_sec_hi":44765432,"kernel_tokens_per_sec_1":12345678,""" +
    """"kernel_tokens_per_sec_8":76543210,"kernel_scaling_1_8":0.775,""" +
    """"decode_tokens_per_sec":130456789,"decode_tokens_per_sec_lo":98765432,""" +
    """"decode_scaling_efficiency":0.330,"ann_recall_lsh":0.938,""" +
    """"ann_scanned_lsh":0.038,"ann_recall_ivf":0.972,""" +
    """"ann_scanned_ivf":0.125,"ann_queries":32,"ann_k":10,""" +
    """"vector_compression_ratio":1.234,"vector_encode_mb_per_sec":1234,""" +
    """"vector_kernel_mb_per_sec":1234,""" +
    """"compression_ratio":5.080}"""
  private val sfDir = "/root/testdata/sf0.1"
  private val qFile = "/root/repo/BENCH_QUERIES.json"

  test("bench summary line fits the driver's stdout tail capture") {
    val line = Bench.renderSummary(98765.432, manyQueries, failures,
      sfDir, qFile, encodeJson)
    assert(!line.contains("\n"))
    assert(line.length <= 1800,
      s"summary line is ${line.length} chars — would fall outside the " +
      "driver's 2000-char tail capture")
  }

  test("bench summary line is valid JSON with the driver-contract keys") {
    val line = Bench.renderSummary(98765.432, manyQueries, failures,
      sfDir, qFile, encodeJson)
    val root = mapper.readTree(line)
    assert(root.get("metric").asText() == "total")
    assert(root.get("unit").asText() == "sec")
    assert(root.get("value").asDouble() > 0)
    assert(root.get("queries").isObject)
    assert(root.get("queries").size() <= 8)
    assert(root.get("queries_count").asInt() == manyQueries.size)
    assert(root.get("queries_file").asText() == qFile)
    assert(root.get("queries_failed").size() == failures.size)
    assert(root.get("encode").get("compression_ratio").asDouble() == 5.080)
    assert(root.get("encode").get("ann_recall_lsh").asDouble() == 0.938)
  }

  test("bench summary headline subset is the slowest queries") {
    val times = Seq("q_fast" -> 0.1, "q_slow" -> 9.0, "q_mid" -> 1.0)
    val line = Bench.renderSummary(10.1, times, Nil, sfDir, qFile, encodeJson)
    val qs = mapper.readTree(line).get("queries")
    val names = qs.fieldNames()
    assert(names.next() == "q_slow")
  }

  test("bench summary shrinks headline under a tighter budget instead of overflowing") {
    // 1110 sits just above the zero-query floor (the encode record is
    // not shrinkable — it IS the driver contract), so this asserts the
    // headline subset actually EMPTIES before the line overflows; if
    // the encode record grows past the budget, fail here consciously
    val line = Bench.renderSummary(98765.432, manyQueries, failures,
      sfDir, qFile, encodeJson, maxLen = 1110)
    assert(line.length <= 1110)
    assert(mapper.readTree(line).get("queries").size() == 0,
      "expected the headline subset to shrink to empty at this budget")
    assert(mapper.readTree(line).get("queries_count").asInt() == manyQueries.size)
  }

  test("bench full record carries every query and escapes JSON strings") {
    val full = Bench.renderFull(12.3,
      Seq("q_a" -> 1.0, "q_b\"quote" -> 2.0), Seq("q_c\\back"),
      "/tmp/sf \"x\"", encodeJson)
    val root = mapper.readTree(full)
    assert(root.get("queries").size() == 2)
    assert(root.get("queries").get("q_b\"quote").asDouble() == 2.0)
    assert(root.get("queries_failed").get(0).asText() == "q_c\\back")
    assert(root.get("sf").asText() == "/tmp/sf \"x\"")
  }
}
