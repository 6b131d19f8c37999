package graft

/** Encode-store protocol regressions from ADVICE r3. */
class StoreProtocolSpec extends SparkSpecBase {
  import graft.encode.{TokenDecoder, TokenEncoder}
  import graft.encode.TokenEncoder.EncodeConfig
  import org.apache.spark.sql.functions._

  private def synth = graft.synth.TokenSynth.dataset(spark, 400, parallelism = 4)

  test("a legacy completed/ dir without runId fails loudly, not with a raw select error") {
    val out = tmpDir("legacy-completed")
    TokenEncoder.run(synth, out, EncodeConfig(targetRowsPerPart = 100))
    // simulate a pre-marker-protocol store: completed rows lack runId
    val s = spark
    import s.implicits._
    val legacy = Seq(0, 1).toDF("partId")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$out/completed"))
    legacy.write.parquet(s"$out/completed")
    val err = intercept[IllegalStateException] {
      TokenDecoder.read(spark, out).count()
    }
    assert(err.getMessage.contains("runId"))
  }

  test("run() returns ONLY this run's lineage — orphan rows don't double-count") {
    val out = tmpDir("orphan-lineage")
    val cfg = EncodeConfig(targetRowsPerPart = 100)
    val first = TokenEncoder.run(synth, out, cfg)
    val total = first.agg(sum("totalTokens")).head().getLong(0)
    // crash AFTER lineage landed, BEFORE markers: the orphan lineage
    // stays on disk under the old runId
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(s"$out/completed"))
    val resumed = TokenEncoder.run(synth, out, cfg)
    // the resume re-encodes everything; its RETURN must aggregate to
    // the corpus total once, not once per attempt (ADVICE r3: callers
    // like Bench sum the returned lineage)
    assert(resumed.agg(sum("totalTokens")).head().getLong(0) == total)
  }
}
