package graft

/** Incremental-vocab streaming tokenizer (round-4 ask #8): ids must
  * be STABLE across micro-batches — a word keeps its first-assigned
  * id forever, new words append after all existing ids.
  */
class IncrementalVocabSpec extends SparkSpecBase {
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  test("grow is idempotent, append-only, and capped") {
    val dir = tmpDir("graft-ivocab")
    val v1 = graft.text.IncrementalVocab.grow(spark, dir,
      Seq(("the", 10L), ("cat", 5L), ("sat", 5L)), maxVocab = 4)
    assert(v1 == Map("the" -> 0, "cat" -> 1, "sat" -> 2))
    // idempotent: same words, nothing changes, no new version
    val again = graft.text.IncrementalVocab.grow(spark, dir,
      Seq(("cat", 99L), ("the", 1L)), maxVocab = 4)
    assert(again == v1)
    // append-only: a later, more frequent word cannot displace an id
    val v2 = graft.text.IncrementalVocab.grow(spark, dir,
      Seq(("zebra", 1000L), ("ant", 1000L)), maxVocab = 4)
    assert(v2("the") == 0 && v2("cat") == 1 && v2("sat") == 2)
    assert(v2("ant") == 3) // one slot left; 'ant' < 'zebra' at equal count
    assert(!v2.contains("zebra"))
    assert(graft.text.IncrementalVocab.load(spark, dir) == v2)
  }

  test("two-batch streaming ingest keeps ids stable and decodes exactly") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val vocabDir = tmpDir("graft-ivocab-stream")
    val outDir = tmpDir("graft-ivocab-out")
    val mem = MemoryStream[(String, String, String)]
    val q = graft.streaming.EncodeStream.streamingTextIngestIncremental(
      mem.toDF().toDF("doc_id", "text", "source"),
      vocabDir, outDir, oovId = -1, maxVocab = 100,
      cfg = graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 10))
    try {
      mem.addData(("d1", "the cat sat", "web"))
      q.processAllAvailable()
      val after1 = graft.text.IncrementalVocab.load(spark, vocabDir)
      // batch 2 reuses old words and introduces new ones
      mem.addData(("d2", "the dog sat quietly", "web"))
      q.processAllAvailable()
      val after2 = graft.text.IncrementalVocab.load(spark, vocabDir)
      // every batch-1 id survives batch 2 unchanged
      after1.foreach { case (w, id) => assert(after2(w) == id, s"id of '$w' moved") }
      assert(Set("dog", "quietly").subsetOf(after2.keySet))
      // the encoded store decodes to the ids of the FINAL vocab for
      // both batches — proof the early batch's ids were never remapped
      val decoded = Seq(0L, 1L).flatMap { b =>
        graft.encode.TokenDecoder.read(spark, s"$outDir/batch=$b").collect()
      }.map(r => r.doc_id -> r.tokens.toSeq).toMap
      def ids(text: String) = text.split(" ").map(after2).toSeq
      assert(decoded("d1") == ids("the cat sat"))
      assert(decoded("d2") == ids("the dog sat quietly"))
    } finally q.stop()
  }
}
