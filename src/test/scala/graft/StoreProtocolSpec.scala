package graft

/** Encode-store protocol regressions (ADVICE r3), the driver-side
  * table reader, and the committed-block set against its two-join
  * definition.
  */
class StoreProtocolSpec extends SparkSpecBase {
  import graft.encode.{CompressedSearch, StoreTables, TokenDecoder, TokenEncoder}
  import graft.encode.TokenEncoder.EncodeConfig
  import graft.model.TokenRow
  import org.apache.spark.sql.{DataFrame, Row}
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

  test("readRows round-trips writeFile and Spark-written tables, skips leftovers") {
    val dir = tmpDir("read-rows")
    val rows = Seq(
      Row("in.parquet", 3, "r1-3-0", 10, 40L, -7L, 2, 1, 160L, 48L, 3.25, 5L),
      Row(null, -1, "r1-x-1", 0, 0L, Long.MaxValue, 0, 0, 0L, 0L, 1.0, 0L))
    StoreTables.writeFile(spark, s"$dir/lineage", StoreTables.Lineage, rows)
    val names = StoreTables.Lineage.fieldNames.toSeq
    assert(StoreTables.readRows(spark, s"$dir/lineage", StoreTables.Lineage, names) == rows)
    // only the requested columns, in the requested order; `limit` stops early
    assert(StoreTables.readRows(spark, s"$dir/lineage", StoreTables.Lineage,
      Seq("blockId", "partId")) == Seq(Row("r1-3-0", 3), Row("r1-x-1", -1)))
    assert(StoreTables.readRows(spark, s"$dir/lineage", StoreTables.Lineage,
      Seq("blockId"), limit = 1) == Seq(Row("r1-3-0")))
    // a missing dir reads as no rows; a column a file lacks reads null
    assert(StoreTables.readRows(spark, s"$dir/absent", StoreTables.Completed,
      Seq("partId")).isEmpty)
    val s = spark
    import s.implicits._
    Seq(4, 5).toDF("partId").coalesce(1).write.parquet(s"$dir/completed")
    assert(StoreTables.readRows(spark, s"$dir/completed", StoreTables.Completed,
      Seq("partId", "runId")) == Seq(Row(4, null), Row(5, null)))
    assert(StoreTables.readRows(spark, s"$dir/completed", StoreTables.Completed,
      Seq("runId")) == Seq(Row(null), Row(null)))
    // a Spark-written multi-file lineage: a same-plan merge's
    val full = graft.synth.TokenSynth.dataset(spark, 300, parallelism = 2)
    val plan = TokenEncoder.partitionPlan(full, targetRowsPerPart = 60)
    val ins = Seq(0, 1).map { h =>
      val d = tmpDir(s"read-rows-in-$h")
      TokenEncoder.savePlan(plan, d)
      TokenEncoder.run(full.filter(r => (r.doc_id.hashCode & 1) == h), d,
        EncodeConfig(targetRowsPerPart = 60))
      d
    }
    val merged = s"${tmpDir("read-rows-merged")}/st"
    assert(TokenEncoder.mergeStores(spark, ins, merged).rowLevel)
    val lineage = s"$merged/lineage"
    assert(StoreTables.dataFiles(spark, lineage).size > 1)
    def sparkRows = StoreTables.read(spark, lineage, StoreTables.Lineage).collect()
      .map(_.toString).sorted.toSeq
    def driverRows = StoreTables.readRows(spark, lineage, StoreTables.Lineage, names)
      .map(_.toString).sorted
    assert(sparkRows.nonEmpty && driverRows == sparkRows)
    // a killed write job's _temporary, a killed writeFile's hidden
    // temporary and _SUCCESS hold no committed rows
    val first = StoreTables.dataFiles(spark, lineage).head
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(first.toUri))
    val leftovers = Seq(s"_temporary/0/task/${first.getName}",
      s".${first.getName}-killed.tmp", "_SUCCESS")
    for (f <- leftovers) {
      val p = java.nio.file.Paths.get(s"$lineage/$f")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, if (f == "_SUCCESS") Array.emptyByteArray else bytes)
    }
    assert(driverRows == sparkRows)
  }

  /** The live-block set as its definition spells it: blocks ⋉ lineage
    * on blockId, then ⋉ the completed/ markers on (partId, runId).
    */
  private def joinedBlocks(dir: String, partIds: Option[Set[Int]]): DataFrame = {
    val blocks = StoreTables.read(spark, s"$dir/blocks", StoreTables.Blocks)
    partIds.fold(blocks)(ids => blocks.where(col("partId").isInCollection(ids)))
      .join(StoreTables.read(spark, s"$dir/lineage", StoreTables.Lineage).select("blockId"),
        Seq("blockId"), "left_semi")
      .join(StoreTables.read(spark, s"$dir/completed", StoreTables.Completed),
        Seq("partId", "runId"), "left_semi")
  }

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select(StoreTables.Blocks.fieldNames.toSeq.map(col): _*).collect().toSeq
      .map(_.toSeq.map {
        case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
        case v => String.valueOf(v)
      }.mkString("|"))
      .sorted

  /** committedBlocks(dir, partIds) holds the two joins' rows, row for
    * row, and runs as a single filtered scan exactly when lineage holds
    * at most MaxSelectedBlockIds rows. Returns the live row count.
    */
  private def sameAsJoins(dir: String, step: String,
                          partIds: Option[Set[Int]] = None): Int = {
    val lineageRows = spark.read.parquet(s"$dir/lineage").count()
    val driverArm = lineageRows <= CompressedSearch.MaxSelectedBlockIds
    val got = TokenDecoder.committedBlocks(spark, dir, partIds)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("Join") != driverArm,
      s"$step ($lineageRows lineage rows) took the wrong form:\n$plan")
    val want = rowsOf(joinedBlocks(dir, partIds))
    assert(rowsOf(got) == want, s"$step: committed blocks differ from the two-join form")
    want.size
  }

  /** Builds a store through every shape the live-block set must read
    * exactly, comparing committedBlocks with the two joins after each.
    */
  private def eachStoreShape(rows: Seq[TokenRow], cfg: EncodeConfig): Unit = {
    val s = spark
    import s.implicits._
    val ds = spark.createDataset(rows)
    val dir = tmpDir("live-shapes")
    val plan = TokenEncoder.partitionPlan(ds, cfg.targetRowsPerPart)
    TokenEncoder.savePlan(plan, dir)
    val parts = rows.map(TokenEncoder.partIdOf(plan, _)).distinct.sorted
    val (half, rest) = parts.splitAt(parts.size / 2)
    assert(half.nonEmpty && rest.nonEmpty)
    // one run's blocks of `only`, with Spark-written (multi-file)
    // lineage and markers when asked: the shapes crashes leave behind
    def land(only: Seq[Int], lineage: Boolean, markers: Boolean): Unit = {
      val runId = TokenEncoder.newRunId()
      TokenEncoder.encodeBlocks(ds, plan, cfg, Some(only.toSet), runId)
        .write.mode("append").parquet(s"$dir/blocks")
      val mine = StoreTables.read(spark, s"$dir/blocks", StoreTables.Blocks)
        .where(col("runId") === runId)
      if (lineage) mine.select(lit("synthetic").as("inputFile"), col("partId"),
          col("blockId"), col("blockRows").as("rowCount"), col("totalTokens"),
          col("checksum"), col("codecId"), col("postCodec"), col("rawBytes"),
          col("encodedBytes"), lit(1.0).as("ratio"), col("encodeMillis"))
        .write.mode("append").parquet(s"$dir/lineage")
      if (markers) mine.select("partId", "runId").distinct()
        .write.mode("append").parquet(s"$dir/completed")
    }
    land(half, lineage = true, markers = true)
    assert(sameAsJoins(dir, "a half-committed store") > 0)
    land(rest, lineage = true, markers = false)
    sameAsJoins(dir, "a stale run of the other half, its lineage landed without markers")
    TokenEncoder.run(ds, dir, cfg)
    val all = sameAsJoins(dir, "the resume, which re-encoded the stale run's partIds")
    land(half, lineage = false, markers = false)
    assert(sameAsJoins(dir, "orphan blocks of an unmarked run") == all)
    land(rest, lineage = true, markers = false)
    assert(sameAsJoins(dir, "a later run whose lineage landed without markers") == all)
    for (ids <- Seq(half.toSet, rest.take(1).toSet, Set(-1)))
      sameAsJoins(dir, s"a read pruned to partIds $ids", Some(ids))
    assert(TokenEncoder.vacuum(spark, dir) > 0L)
    assert(sameAsJoins(dir, "a vacuumed store") == all)
    val deleted = s"${tmpDir("live-shapes-del")}/st"
    TokenEncoder.deleteDocs(spark, dir, deleted, rows.take(2).map(_.doc_id), cfg)
    sameAsJoins(deleted, "a store with documents deleted")
    val other = tmpDir("live-shapes-other")
    TokenEncoder.savePlan(plan, other)
    TokenEncoder.run(ds.filter(r => TokenEncoder.partIdOf(plan, r) == rest.head), other, cfg)
    val merged = s"${tmpDir("live-shapes-merged")}/st"
    assert(TokenEncoder.mergeStores(spark, Seq(dir, other), merged, cfg).rowLevel)
    sameAsJoins(merged, "a merged store")
    val compacted = s"${tmpDir("live-shapes-compacted")}/st"
    TokenEncoder.compactStore(spark, merged, compacted)
    sameAsJoins(compacted, "a compacted store")
  }

  test("committedBlocks = the two-join form on every store shape, within the bound") {
    val rows = graft.synth.TokenSynth.dataset(spark, 600, parallelism = 4).collect().toSeq
    eachStoreShape(rows, EncodeConfig(targetRowsPerPart = 100))
  }

  test("committedBlocks = the two-join form on every store shape, over the bound") {
    // one-row blocks: the resumed store holds more than
    // MaxSelectedBlockIds lineage rows, the half-committed one fewer
    val n = CompressedSearch.MaxSelectedBlockIds + 104
    val rows = (0 until n).map { i =>
      val toks = Array(i % 50, 7, 1000 + i)
      TokenRow(f"cap-$i%05d", toks, toks.length, "s")
    }
    eachStoreShape(rows, EncodeConfig(targetRowsPerPart = 1000, blockRows = 1))
  }

  test("a within-bound full decode plans one filtered scan: no join, no broadcast") {
    val out = tmpDir("decode-plan")
    val ds = synth
    TokenEncoder.run(ds, out, EncodeConfig(targetRowsPerPart = 100))
    val read = TokenDecoder.read(spark, out)
    assert(read.count() == ds.count())
    val plan = read.queryExecution.executedPlan.toString
    for (op <- Seq("Join", "BroadcastExchange"))
      assert(!plan.contains(op), s"full decode plans a $op:\n$plan")
  }
}
