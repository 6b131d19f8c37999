package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStream
import graft.streaming.EventStream.SessionEvent

class StreamingSpec extends SparkSpecBase {

  private def ts(min: Int): java.sql.Timestamp =
    new java.sql.Timestamp(1700000000000L + min * 60000L)

  test("windowedCounts over a MemoryStream matches the batch result") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val rows = Seq(
      (1L, ts(0), "click", 1.0), (2L, ts(10), "click", 2.0),
      (3L, ts(65), "view", 3.0), (4L, ts(70), "click", 4.0),
      (5L, ts(130), "view", 5.0))
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    mem.addData(rows: _*)
    val streamDf = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = EventStream.windowedCounts(streamDf)
      .writeStream.format("memory").queryName("wincounts")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("wincounts")
      .orderBy("win_start", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = EventStream.windowedCounts(
        rows.toDF("event_id", "ts", "event_type", "value"))
      .orderBy("win_start", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.toSeq == batch.toSeq)
    assert(batch.length == 4) // 3 windows, one with 2 types
  }

  test("late events beyond the watermark are dropped in append mode") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val q = EventStream.windowedCounts(
        mem.toDF().toDF("event_id", "ts", "event_type", "value"),
        windowDur = "10 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("latewin")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), "click", 1.0), (2L, ts(5), "click", 1.0))
      q.processAllAvailable()
      // advance the watermark far past the first window
      mem.addData((3L, ts(120), "view", 1.0))
      q.processAllAvailable()
      // this event is 2 hours late -> must be dropped
      mem.addData((4L, ts(2), "click", 99.0))
      q.processAllAvailable()
      mem.addData((5L, ts(180), "view", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("latewin").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSet
    // first window closed with exactly the 2 on-time clicks; the
    // 2-hours-late third click (value 99) never re-opened it
    assert(out.contains(("click", 2L)), out.mkString(","))
    assert(!out.contains(("click", 3L)), out.mkString(","))
  }

  test("sessionizeStream emits open sessions once the watermark passes the gap") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[SessionEvent]
    val q = EventStream.sessionizeStream(mem.toDS(), gapSecs = 1800,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessout")
      .outputMode("append").start()
    try {
      mem.addData(SessionEvent(1L, ts(0), "a"), SessionEvent(1L, ts(5), "b"))
      q.processAllAvailable()
      assert(spark.table("sessout").count() == 0) // session still open
      // watermark jumps far past last+gap (ts(5)+30min) via user 2
      mem.addData(SessionEvent(2L, ts(300), "x"))
      q.processAllAvailable()
      // one more micro-batch so the timeout fires after the watermark advance
      mem.addData(SessionEvent(2L, ts(301), "y"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("sessout").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(out.toSet == Set((1L, 300L, 2))) // user 1's session, 5 min, 2 events
  }

  test("streaming encode lands micro-batches in the columnar store exactly") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val outDir = tmpDir("enc-stream")
    val mem = MemoryStream[graft.model.TokenRow]
    val rows1 = (0 until 50).map(i =>
      graft.model.TokenRow(s"d$i", Array.tabulate(20)(j => (i + j) % 97), 20, s"s${i % 3}"))
    val rows2 = (50 until 90).map(i =>
      graft.model.TokenRow(s"d$i", Array.fill(15)(i % 11), 15, s"s${i % 3}"))
    val q = graft.streaming.EncodeStream.streamingEncode(mem.toDS(), outDir,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 20))
    try {
      mem.addData(rows1: _*)
      q.processAllAvailable()
      mem.addData(rows2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val back = graft.streaming.EncodeStream.readAll(spark, outDir,
      verifyChecksums = true)
    val want = (rows1 ++ rows2).toDS()
    assert(back.count() == 90)
    assert(want.toDF().exceptAll(back.toDF()).count() == 0)
    assert(back.toDF().exceptAll(want.toDF()).count() == 0)
    // re-running an already-committed batch dir is a no-op (the
    // exactly-once argument: retried micro-batches resume, not re-add)
    val again = graft.encode.TokenEncoder.run(rows1.toDS(), s"$outDir/batch=0",
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 20))
    assert(again.count() == 0)
    assert(graft.streaming.EncodeStream.readAll(spark, outDir).count() == 90)
  }

  test("a late in-gap event across batches never regresses the session window") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    import graft.streaming.EventStream.{SessionEvent, SessionOut}
    def ev(t: Long) = SessionEvent(1L, new java.sql.Timestamp(t * 1000), "e")
    val mem = MemoryStream[SessionEvent]
    val q = graft.streaming.EventStream.sessionize(mem.toDS(), gapSecs = 30)
      .writeStream.format("memory").queryName("late_sess")
      .outputMode("append").start()
    try {
      // batch 1 carries the session to last=120; batch 2 delivers a
      // LATE in-gap event t=110 — state must keep last=120 (the buggy
      // last=t regression made the next event at 145 falsely split,
      // since 145-110 > gap while 145-120 is within it), then t=10000
      // closes the session
      mem.addData(ev(100), ev(120)); q.processAllAvailable()
      mem.addData(ev(110), ev(145), ev(10000)); q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("late_sess").as[SessionOut].collect().toSeq
    assert(out == Seq(SessionOut(1L, 100L, 45L, 4)))
  }

  test("streamingTextIngest gates, redacts, tokenizes and lands batches") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val outDir = tmpDir("txt-stream")
    // fixed vocab built OFFLINE (id stability across batches)
    val vocabSrc = Seq((0L, "alpha beta beta gamma", "s")).toDF("doc_id", "text", "source")
    val vocab = graft.text.TextOps.buildVocab(vocabSrc, "text", 3)
    // beta(0) alpha(1) gamma(2); OOV -> 3
    val mem = MemoryStream[(Long, String, String)]
    val q = graft.streaming.EncodeStream.streamingTextIngest(
      mem.toDF().toDF("doc_id", "text", "source"), vocab, outDir,
      oovId = 3, minQualityBp = 0L,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 10))
    try {
      mem.addData((1L, "alpha beta zz mail me a@b.co", "s1"))
      q.processAllAvailable()
      mem.addData((2L, "gamma gamma", "s2"))
      q.processAllAvailable()
    } finally q.stop()
    val back = graft.streaming.EncodeStream.readAll(spark, outDir,
        verifyChecksums = true)
      .collect().map(r => r.doc_id -> r.tokens.toSeq).toMap
    // redact runs before tokenize: the email collapses to one OOV word
    assert(back == Map(
      "1" -> Seq(1, 0, 3, 3, 3, 3),
      "2" -> Seq(2, 2)))
  }

  test("compact folds batch dirs into one store, verifies, then drops them") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val outDir = tmpDir("cmp-stream")
    val mem = MemoryStream[graft.model.TokenRow]
    val rows1 = (0 until 30).map(i =>
      graft.model.TokenRow(s"c$i", Array.tabulate(12)(j => (i * 7 + j) % 89), 12, s"s${i % 2}"))
    val rows2 = (30 until 50).map(i =>
      graft.model.TokenRow(s"c$i", Array.fill(9)(i % 13), 9, s"s${i % 2}"))
    val q = graft.streaming.EncodeStream.streamingEncode(mem.toDS(), outDir,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 10))
    try {
      mem.addData(rows1: _*); q.processAllAvailable()
      mem.addData(rows2: _*); q.processAllAvailable()
    } finally q.stop()
    val target = tmpDir("cmp-target")
    val n = graft.streaming.EncodeStream.compact(spark, outDir, target,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 50))
    assert(n == 50)
    // batch dirs are gone; the compacted store holds the exact union
    assert(!new java.io.File(outDir).listFiles().exists(_.getName.startsWith("batch=")))
    val back = graft.encode.TokenDecoder.read(spark, target, verifyChecksums = true)
    val want = (rows1 ++ rows2).toDS()
    assert(want.toDF().exceptAll(back.toDF()).count() == 0)
    assert(back.toDF().exceptAll(want.toDF()).count() == 0)
  }

  test("a tiny first batch never pins an empty master plan") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val outDir = tmpDir("mp-tiny")
    val mem = MemoryStream[graft.model.TokenRow]
    // 5 rows: the default 5% plan sample is almost surely empty — the
    // resample guard must keep the pinned plan NONEMPTY, else every
    // later batch of the stream's lifetime lands in the overflow band
    val tiny = (0 until 5).map(i =>
      graft.model.TokenRow(s"t$i", Array.fill(6)(i % 7), 6, "sOnly"))
    val q = graft.streaming.EncodeStream.streamingEncode(mem.toDS(), outDir)
    try {
      mem.addData(tiny: _*); q.processAllAvailable()
    } finally q.stop()
    val master = graft.encode.TokenEncoder.loadPlan(outDir)
    assert(master.exists(_.nonEmpty),
      s"master plan must be pinned and nonempty, got $master")
    assert(master.get.contains("sOnly"))
  }

  test("compact takes the zero-decode path when batches share the master plan") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val outDir = tmpDir("cmp-fast")
    val mem = MemoryStream[graft.model.TokenRow]
    // batch 0: one source, tiny blocks => its partition is FRAGMENTED;
    // batch 1: a later source (routes to the overflow band of the
    // master plan batch 0 created) small enough for a single block =>
    // its partition is CLEAN and must move verbatim
    val rows1 = (0 until 30).map(i =>
      graft.model.TokenRow(s"f$i", Array.tabulate(10)(j => (i * 3 + j) % 61), 10, "sA"))
    val rows2 = (30 until 36).map(i =>
      graft.model.TokenRow(s"f$i", Array.fill(7)(i % 17), 7, "sB"))
    val q = graft.streaming.EncodeStream.streamingEncode(mem.toDS(), outDir,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 100,
        blockRows = 8))
    try {
      mem.addData(rows1: _*); q.processAllAvailable()
      mem.addData(rows2: _*); q.processAllAvailable()
    } finally q.stop()
    val master = graft.encode.TokenEncoder.loadPlan(outDir)
    assert(master.isDefined, "streamingEncode must pin a master plan")
    assert(master == graft.encode.TokenEncoder.loadPlan(s"$outDir/batch=0"))
    assert(master == graft.encode.TokenEncoder.loadPlan(s"$outDir/batch=1"))
    def blkSet(d: String) = s.read.parquet(s"$d/blocks")
      .select("blockId", "checksum").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val (b0, b1) = (blkSet(s"$outDir/batch=0"), blkSet(s"$outDir/batch=1"))
    assert(b0.size > 1, "batch 0 must be fragmented for this test")
    assert(b1.size == 1, "batch 1 must be a single clean block")
    val target = tmpDir("cmp-fast-target")
    assert(graft.streaming.EncodeStream.compact(spark, outDir, target,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 100)) == 36)
    // fast path evidence: the target keeps the MASTER plan (the legacy
    // re-encode would have sized a fresh one), the clean block moved
    // verbatim, and the fragmented batch's blocks were consolidated
    assert(graft.encode.TokenEncoder.loadPlan(target) == master)
    val tb = blkSet(target)
    assert(b1.subsetOf(tb), "clean single-block partition must move verbatim")
    assert(b0.intersect(tb).isEmpty, "fragmented partition must re-encode")
    assert(tb.size < b0.size + b1.size)
    val back = graft.encode.TokenDecoder.read(spark, target, verifyChecksums = true)
    val want = (rows1 ++ rows2).toDS()
    assert(want.toDF().exceptAll(back.toDF()).count() == 0)
    assert(back.toDF().exceptAll(want.toDF()).count() == 0)
  }

  test("compact rerun after a crash mid-delete completes cleanly") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val outDir = tmpDir("cmp-crash")
    val mem = MemoryStream[graft.model.TokenRow]
    val rows1 = (0 until 20).map(i =>
      graft.model.TokenRow(s"x$i", Array.fill(8)(i % 19), 8, "sA"))
    val rows2 = (20 until 40).map(i =>
      graft.model.TokenRow(s"x$i", Array.fill(6)(i % 23), 6, "sB"))
    val q = graft.streaming.EncodeStream.streamingEncode(mem.toDS(), outDir,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 10))
    try {
      mem.addData(rows1: _*); q.processAllAvailable()
      mem.addData(rows2: _*); q.processAllAvailable()
    } finally q.stop()
    // snapshot batch=0, compact, then put batch=0 back — the state a
    // crash between the two dir deletes leaves behind
    val b0 = new java.io.File(s"$outDir/batch=0")
    val saved = new java.io.File(tmpDir("cmp-saved"), "batch=0")
    def cp(from: java.io.File, to: java.io.File): Unit = {
      if (from.isDirectory) {
        to.mkdirs()
        from.listFiles().foreach(f => cp(f, new java.io.File(to, f.getName)))
      } else java.nio.file.Files.copy(from.toPath, to.toPath)
    }
    cp(b0, saved)
    val target = tmpDir("cmp-crash-target")
    assert(graft.streaming.EncodeStream.compact(spark, outDir, target,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 40)) == 40)
    cp(saved, new java.io.File(outDir, "batch=0")) // "crash" restored one dir
    // rerun: target already complete, containment holds, leftover drops
    assert(graft.streaming.EncodeStream.compact(spark, outDir, target,
      graft.encode.TokenEncoder.EncodeConfig(targetRowsPerPart = 40)) == 40)
    assert(!new java.io.File(outDir).listFiles().exists(_.getName.startsWith("batch=")))
    val back = graft.encode.TokenDecoder.read(spark, target, verifyChecksums = true)
    assert(back.count() == 40)
  }

  test("streamingDedup drops within-watermark duplicates, bounds state") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = EventStream.streamingDedup(
        mem.toDF().toDF("doc_id", "ts", "text"),
        Seq("doc_id"), watermark = "10 minutes")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), "a"), (2L, ts(1), "b"))
      q.processAllAvailable()
      // duplicate of doc 1 inside the watermark delay -> dropped
      mem.addData((1L, ts(2), "a-dup"), (3L, ts(3), "c"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sdedup").select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 2L, 3L))
    // batch degradation: plain dropDuplicates
    val b = EventStream.streamingDedup(
      Seq((1L, ts(0), "a"), (1L, ts(2), "a-dup"), (2L, ts(1), "b"))
        .toDF("doc_id", "ts", "text"), Seq("doc_id"))
    assert(b.count() == 2)
  }

  test("sessionize groups events by inactivity gap (batch mode)") {
    val s = spark
    import s.implicits._
    val evs = Seq(
      SessionEvent(1L, ts(0), "a"), SessionEvent(1L, ts(5), "b"),
      SessionEvent(1L, ts(90), "c"), // 85-min gap -> new session
      SessionEvent(2L, ts(0), "x")).toDS()
    val sessions = EventStream.sessionize(evs, gapSecs = 1800)
      .collect().sortBy(r => (r.user_id, r.session_start))
    // user 1's first session emitted (5 min long, 2 events); the
    // in-progress sessions stay in state (streaming semantics)
    assert(sessions.length == 1)
    assert(sessions(0).user_id == 1L && sessions(0).events == 2 &&
      sessions(0).session_secs == 300)
  }

  test("one compactStore over the batch dirs equals merge-to-staging then compact") {
    val s = spark
    import graft.encode.{TokenDecoder, TokenEncoder}
    import graft.encode.TokenEncoder.EncodeConfig
    val full = graft.synth.TokenSynth.dataset(s, 900, parallelism = 4)
    val plan = TokenEncoder.partitionPlan(full, targetRowsPerPart = 300)
    // three batch dirs pinned to one master plan: batches 0 and 2 split
    // four sources' rows in tiny blocks (those partIds fragment), batch
    // 1 holds the other sources in full blocks (those stay clean)
    val sa = Set("web", "books", "code", "wiki")
    val src = tmpDir("fold-src")
    val shares = Seq(
      (full.filter(r => sa.contains(r.source) && (r.doc_id.hashCode & 1) == 0), 16),
      (full.filter(r => !sa.contains(r.source)), 1 << 16),
      (full.filter(r => sa.contains(r.source) && (r.doc_id.hashCode & 1) == 1), 16))
    val dirs = shares.zipWithIndex.map { case ((rows, blockRows), b) =>
      val d = s"$src/batch=$b"
      TokenEncoder.savePlan(plan, d)
      TokenEncoder.run(rows, d, EncodeConfig(targetRowsPerPart = 300, blockRows = blockRows))
      d
    }
    // the same batch dirs twice: a byte copy keeps every blockId
    val copy = tmpDir("fold-copy")
    java.nio.file.Files.walk(java.nio.file.Paths.get(src)).forEach { p =>
      val to = java.nio.file.Paths.get(copy).resolve(java.nio.file.Paths.get(src).relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(p, to)
    }
    val t1 = s"${tmpDir("fold-one")}/st"
    val fused = TokenEncoder.compactStore(s, dirs, t1)
    val staging = s"${tmpDir("fold-staging")}/m"
    assert(TokenEncoder.mergeStores(s, dirs.map(_.replace(src, copy)), staging).rowLevel)
    val t2 = s"${tmpDir("fold-two")}/st"
    val staged = TokenEncoder.compactStore(s, Seq(staging), t2)
    assert(fused == staged)
    assert(fused.partsCopied > 0 && fused.partsReencoded > 0, s"both paths must engage: $fused")
    val (r1, r2) = (TokenDecoder.read(s, t1).toDF(), TokenDecoder.read(s, t2).toDF())
    assert(r1.exceptAll(r2).count() == 0 && r2.exceptAll(r1).count() == 0)
    assert(r1.count() == full.count())
    def blkSet(d: String) = s.read.parquet(s"$d/blocks")
      .select("blockId", "checksum").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val batchBlocks = dirs.map(blkSet).reduce(_ ++ _)
    val verbatim = blkSet(t1).intersect(batchBlocks)
    assert(verbatim.nonEmpty && verbatim == blkSet(t2).intersect(batchBlocks))
  }
}
