package graft

/** The store's commit protocol under injected crashes. Every store write
  * goes through the Hadoop FileSystem, so the stores here live under the
  * `faulty:` scheme ([[StoreFaultSpec.FaultFs]]): the local filesystem,
  * crashing once at a chosen `create` or `rename` of a chosen store
  * table. A rehearsal of each operation counts its commit steps per
  * table; the operation is then re-run, on a fresh store, crashing at
  * each table's first and last step of each kind: a task's block file,
  * the block append's commit renames, the lineage and marker files and
  * their renames, and vacuum's two renames.
  *
  * In every crash state:
  *  - the committed block set (a block row's (partId, runId) is marked)
  *    equals the two-join reference (blocks ⋉ lineage ⋉ markers), or
  *    it fails loudly and so does a read;
  *  - a read returns exactly the input rows of the marked partIds;
  *  - the resume commits exactly the unmarked partIds and keeps every
  *    live block live;
  *  - after the resume and a vacuum, a checksum-verified read returns
  *    the operation's rows and `auditStore` is all `ok`, with no
  *    orphans.
  * A truncated or corrupted block file fails the read loudly and the
  * audit flags its partIds.
  */
class StoreFaultSpec extends SparkSpecBase {
  import StoreFaultSpec._
  import StoreProtocolSpec.{joinedBlocks, rowsOf}
  import graft.encode.{StoreTables, TokenDecoder, TokenEncoder}
  import graft.encode.TokenEncoder.EncodeConfig
  import graft.model.TokenRow
  import graft.streaming.EncodeStream
  import org.apache.spark.sql.Dataset
  import scala.util.{Failure, Success, Try}

  private val cfg = EncodeConfig(targetRowsPerPart = 60)
  private lazy val rows: Seq[TokenRow] =
    graft.synth.TokenSynth.dataset(spark, 240, parallelism = 4).collect().toSeq
  private lazy val registered: Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[FaultFs].getName)
  private def ds(rs: Seq[TokenRow]): Dataset[TokenRow] = {
    val s = spark
    import s.implicits._
    s.createDataset(rs)
  }
  private lazy val plan = TokenEncoder.partitionPlan(ds(rows), cfg.targetRowsPerPart)

  /** A fresh store path under the `faulty:` scheme. */
  private def faultyDir(tag: String): String = {
    registered
    s"$Scheme://${tmpDir(tag)}/st"
  }

  /** A row multiset, order-free. */
  private def bag(rs: Seq[TokenRow]): Seq[String] =
    rs.map(r => s"${r.doc_id}\u0000${r.source}\u0000${r.tokens.mkString(",")}").sorted

  private def markers(dir: String): Set[(Int, String)] =
    StoreTables.readRows(spark, s"$dir/completed", StoreTables.Completed,
      Seq("partId", "runId")).map(r => (r.getInt(0), r.getString(1))).toSet

  /** The two-join live set; nothing is live while a table holds no
    * committed file (the joins cannot resolve a dir that is missing).
    */
  private def reference(dir: String): Seq[String] =
    if (Seq("blocks", "lineage", "completed")
        .exists(t => StoreTables.dataFiles(spark, s"$dir/$t").isEmpty)) Nil
    else rowsOf(joinedBlocks(spark, dir, None))

  /** A store that fails where a read fails today: lineage with no marker
    * file, or no `blocks/` dir at all.
    */
  private def loud(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { t =>
      val m = String.valueOf(t.getMessage)
      m.contains("no completed/ markers") || m.contains("PATH_NOT_FOUND")
    }

  /** Checks one crash state of the store at `dir`, whose finished
    * operation holds `want`, then resumes it and checks the result.
    * Returns whether committedBlocks answered (rather than failing
    * loudly).
    */
  private def crashState(what: String, dir: String, want: Seq[TokenRow])
                        (resume: => Unit): Boolean = {
    val live = Try(rowsOf(TokenDecoder.committedBlocks(spark, dir, None)))
    val read = Try(bag(TokenDecoder.read(spark, dir).collect().toSeq))
    val before = markers(dir)
    live match {
      case Success(got) =>
        assert(got == reference(dir), s"$what: the marker rule differs from the two-join rule")
        val p = TokenEncoder.loadPlan(dir).get
        val marked = before.map(_._1)
        assert(read.get == bag(want.filter(r => marked(TokenEncoder.partIdOf(p, r)))),
          s"$what: a read is not exactly the marked partIds' rows")
      case Failure(e) =>
        assert(loud(e), s"$what: committedBlocks failed unexpectedly: $e")
        assert(read.isFailure, s"$what: committedBlocks fails but a read does not")
    }
    resume
    val p = TokenEncoder.loadPlan(dir).get
    val added = (markers(dir) -- before).map(_._1)
    assert(added == TokenEncoder.allPartIds(p) -- before.map(_._1),
      s"$what: the resume committed partIds other than the unmarked ones")
    live.foreach(got => assert(got.toSet.subsetOf(
      rowsOf(TokenDecoder.committedBlocks(spark, dir, None)).toSet),
      s"$what: the resume dropped a live block"))
    TokenEncoder.vacuum(spark, dir)
    assert(bag(TokenDecoder.read(spark, dir, verifyChecksums = true).collect().toSeq) ==
      bag(want), s"$what: the resumed store does not hold the operation's rows")
    val audit = TokenDecoder.auditStore(spark, dir).collect()
    assert(audit.forall(r => r.getAs[Boolean]("ok") && r.getAs[Long]("orphan_blocks") == 0L),
      s"$what: audit after resume and vacuum:\n${audit.mkString("\n")}")
    live.isSuccess
  }

  /** Rehearses `op` on a fresh store from `fresh` (it must hold `want`),
    * then crashes it on another fresh store at the first and last step
    * of each kind on each commit table, checking every crash state with
    * `resume`.
    */
  private def everyCrash(fresh: String => String, want: Seq[TokenRow])(op: String => Unit)
                        (resume: String => Unit): Unit = {
    val rehearsal = fresh("fault-rehearsal")
    val steps = watch(rehearsal, None)(op(rehearsal))._1
    assert(bag(TokenDecoder.read(spark, rehearsal).collect().toSeq) == bag(want))
    val points = steps.toSeq.sorted.collect {
      case ((kind, table), n) if CommitTables(table) => Seq(1, n).distinct.map((kind, table, _))
    }.flatten
    assert(points.nonEmpty)
    val answered = points.map { case at @ (kind, table, n) =>
      val dir = fresh("fault-crash")
      val (_, fired) = watch(dir, Some(at))(op(dir))
      val what = s"crash at $kind #$n of ${steps((kind, table))} under $table"
      assert(fired, s"$what: the step was never reached")
      crashState(what, dir, want)(resume(dir))
    }
    info(s"${points.size} crash states (${points.map(p => s"${p._1} ${p._2} #${p._3}")
      .mkString(", ")}); committedBlocks answered in ${answered.count(identity)} " +
      "and failed loudly in the rest")
  }

  private def resumeRun(want: Seq[TokenRow])(dir: String): Unit = {
    TokenEncoder.run(ds(want), dir, cfg); ()
  }

  /** Copies the local store tree `from` to a fresh `faulty:` store. */
  private def copyOf(from: String)(tag: String): String = {
    val to = faultyDir(tag)
    copyTree(java.nio.file.Paths.get(from), java.nio.file.Paths.get(local(to)))
    to
  }

  /** Two same-plan stores of the even and odd rows. */
  private lazy val halves: (String, String, Seq[TokenRow]) = {
    val (a, b) = rows.partition(r => (r.doc_id.hashCode & 1) == 0)
    val dirs = Seq(a, b).map { part =>
      val d = tmpDir("fault-half")
      TokenEncoder.savePlan(plan, d)
      TokenEncoder.run(ds(part), d, cfg)
      d
    }
    (dirs(0), dirs(1), a ++ b)
  }

  test("run(): every commit-step crash reads as committed or fails loudly, and resumes exactly") {
    everyCrash(faultyDir, rows)(dir => TokenEncoder.run(ds(rows), dir, cfg))(resumeRun(rows))
  }

  test("deleteDocs: every commit-step crash reads as committed or fails loudly, and resumes exactly") {
    val src = tmpDir("fault-del-src")
    TokenEncoder.run(ds(rows), src, cfg)
    val gone = rows.take(3).map(_.doc_id)
    val want = rows.filterNot(r => gone.contains(r.doc_id))
    everyCrash(faultyDir, want)(dir => TokenEncoder.deleteDocs(spark, src, dir, gone, cfg))(
      resumeRun(want))
  }

  test("mergeStores: every commit-step crash reads as committed or fails loudly, and resumes exactly") {
    val (a, b, want) = halves
    everyCrash(faultyDir, want)(dir => TokenEncoder.mergeStores(spark, Seq(a, b), dir, cfg))(
      resumeRun(want))
  }

  test("compactStore: every commit-step crash reads as committed or fails loudly, and resumes exactly") {
    // the merged halves: partIds holding a block of each half are
    // fragmented and re-encode, the rest are copied
    val (a, b, want) = halves
    val merged = s"${tmpDir("fault-merged")}/st"
    TokenEncoder.mergeStores(spark, Seq(a, b), merged, cfg)
    everyCrash(faultyDir, want)(dir => TokenEncoder.compactStore(spark, Seq(merged), dir, cfg))(
      resumeRun(want))
  }

  test("EncodeStream.compact: every commit-step crash reads as committed or fails loudly, and resumes exactly") {
    val s = spark
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val stream = tmpDir("fault-stream")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TokenRow]
    val q = EncodeStream.streamingEncode(mem.toDS(), stream, cfg)
    try {
      mem.addData(rows.take(100): _*); q.processAllAvailable()
      mem.addData(rows.drop(100): _*); q.processAllAvailable()
    } finally q.stop()
    // each state compacts its own copy of the stream: compaction drops
    // the batch dirs it folded
    val copies = scala.collection.mutable.Map[String, String]()
    def fresh(tag: String): String = {
      val target = faultyDir(tag)
      copies(target) = copyOf(stream)("fault-stream-copy")
      target
    }
    def compact(target: String): Unit = {
      EncodeStream.compact(spark, copies(target), target, cfg); ()
    }
    everyCrash(fresh, rows)(compact) { target =>
      compact(target)
      assert(EncodeStream.readAll(spark, copies(target)).isEmpty)
    }
  }

  test("vacuum: every commit-step crash reads as committed or fails loudly, and resumes exactly") {
    // a store holding a crashed run's orphan blocks next to a clean run
    val store = tmpDir("fault-vacuum-src")
    TokenEncoder.savePlan(plan, store)
    TokenEncoder.encodeBlocks(ds(rows), plan, cfg, Some(Set(plan.values.head._1)))
      .write.mode("append").parquet(s"$store/blocks")
    TokenEncoder.run(ds(rows), store, cfg)
    // a crash between the swap's two renames leaves blocks/ moved aside
    // to blocks_vacuum_old: every read, and vacuum itself, fails until
    // it is renamed back by hand, which this resume does first
    def resume(dir: String): Unit = {
      val (fs, _) = StoreTables.resolve(spark, dir)
      val (cur, old) = (new org.apache.hadoop.fs.Path(s"$dir/blocks"),
        new org.apache.hadoop.fs.Path(s"$dir/blocks_vacuum_old"))
      if (!fs.exists(cur)) assert(fs.rename(old, cur))
      TokenEncoder.vacuum(spark, dir); ()
    }
    everyCrash(copyOf(store), rows)(dir => { TokenEncoder.vacuum(spark, dir); () })(resume)
  }

  test("a truncated or corrupted block file fails the read loudly and the audit flags its partIds") {
    import org.apache.spark.sql.functions.{col, input_file_name}
    val clean = tmpDir("fault-damage-src")
    TokenEncoder.run(ds(rows), clean, cfg)
    def flagged(dir: String, verify: Boolean): Set[Int] =
      TokenDecoder.auditStore(spark, dir, verifyChecksums = verify).collect()
        .filterNot(_.getAs[Boolean]("ok")).map(_.getAs[Int]("partId")).toSet
    def blockFiles(dir: String) = StoreTables.read(spark, s"$dir/blocks", StoreTables.Blocks)
      .select(input_file_name().as("file"), col("partId"), col("postCodec"), col("payload"))
      .collect().map(r => (new java.net.URI(r.getString(0)).getPath, r.getInt(1), r.getInt(2),
        r.getAs[Array[Byte]](3)))

    // corrupted: one payload byte flipped in place, the file still valid
    // parquet. A block without the zstd post-pass, so the flip reaches
    // the block checksum rather than zstd's frame check
    val corrupt = copyOf(clean)("fault-corrupt")
    val (file, part, _, payload) = blockFiles(corrupt)
      .find { case (_, _, post, pay) => post == 0 && pay.length > 16 }.get
    val path = java.nio.file.Paths.get(file)
    val bytes = java.nio.file.Files.readAllBytes(path)
    val at = bytes.indexOfSlice(payload.toSeq) + payload.length / 2
    assert(at > payload.length / 2)
    bytes(at) = (bytes(at) ^ 0x5A).toByte
    java.nio.file.Files.write(path, bytes)
    assert(rowsOf(TokenDecoder.committedBlocks(spark, corrupt, None)) == reference(corrupt))
    assert(Try(TokenDecoder.read(spark, corrupt, verifyChecksums = true).count()).isFailure)
    assert(flagged(corrupt, verify = false).isEmpty, "the metadata audit reads no payload")
    assert(flagged(corrupt, verify = true) == Set(part))

    // truncated: one block file cut to half its length
    val truncated = copyOf(clean)("fault-truncated")
    val files = blockFiles(truncated)
    val victim = files.head._1
    val parts = files.collect { case (f, p, _, _) if f == victim => p }.toSet
    val whole = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(victim))
    java.nio.file.Files.write(java.nio.file.Paths.get(victim), whole.take(whole.length / 2))
    assert(Try(TokenDecoder.committedBlocks(spark, truncated, None).count()).isFailure)
    assert(Try(joinedBlocks(spark, truncated, None).count()).isFailure)
    assert(Try(TokenDecoder.read(spark, truncated).count()).isFailure)
    assert(flagged(truncated, verify = false) == parts)
    assert(flagged(truncated, verify = true) == parts)
  }
}

object StoreFaultSpec {
  import java.util.concurrent.ConcurrentHashMap
  import java.util.concurrent.atomic.AtomicInteger
  import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
  import org.apache.hadoop.fs.permission.FsPermission
  import scala.jdk.CollectionConverters._

  private val Scheme = "faulty"
  private val Uri = java.net.URI.create(s"$Scheme:///")

  /** The tables whose writes are commit steps: the three store tables
    * and vacuum's rewrite and swap dirs.
    */
  private val CommitTables: Set[String] =
    Set("blocks", "lineage", "completed", "blocks_vacuum_tmp", "blocks_vacuum_old")

  /** The local filesystem under `faulty:`. Each `create` (by the
    * created file) and `rename` (by its destination) under the watched
    * store counts as a step of the table its path names.
    */
  final class FaultFs extends RawLocalFileSystem {
    override def getUri: java.net.URI = Uri
    override def getScheme: String = Scheme
    override protected def createOutputStreamWithMode(f: Path, append: Boolean,
        permission: FsPermission): java.io.OutputStream = {
      step("create", f)
      super.createOutputStreamWithMode(f, append, permission)
    }
    override def rename(src: Path, dst: Path): Boolean = {
      step("rename", dst)
      super.rename(src, dst)
    }
  }

  @volatile private var watched: Option[String] = None
  @volatile private var crash: Option[(String, String, Int)] = None
  @volatile private var fired = false
  private val counts = new ConcurrentHashMap[(String, String), AtomicInteger]()

  private def step(kind: String, p: Path): Unit = watched.foreach { root =>
    val path = p.toUri.getPath
    if (path.startsWith(root + "/")) {
      val table = path.substring(root.length + 1).takeWhile(_ != '/')
      val n = counts.computeIfAbsent((kind, table), _ => new AtomicInteger()).incrementAndGet()
      if (crash.contains((kind, table, n))) {
        crash = None
        fired = true
        throw new java.io.IOException(s"injected crash at $kind #$n under $table")
      }
    }
  }

  /** The local path of a `faulty:` store. */
  private def local(dir: String): String = new Path(dir).toUri.getPath

  /** Runs `op` watching the store at `dir`, crashing at `at` (kind,
    * table, nth step) when given. Returns the steps taken per (kind,
    * table) and whether the crash happened; an exception `op` throws
    * after the crash is the crash.
    */
  private def watch(dir: String, at: Option[(String, String, Int)])(op: => Unit)
      : (Map[(String, String), Int], Boolean) = synchronized {
    counts.clear()
    fired = false
    crash = at
    watched = Some(local(dir))
    try {
      try op catch { case _: Throwable if fired => () }
      (counts.asScala.map { case (k, n) => k -> n.get }.toMap, fired)
    } finally { watched = None; crash = None }
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(from)
    try walk.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally walk.close()
  }
}
