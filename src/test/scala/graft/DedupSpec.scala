package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** graft.dedup.Dedup: shingling, exact Jaccard within a blocking key,
  * MinHash/SimHash pairs and their skew-cap reports, near-dup removal
  * over connected components, benchmark decontamination and
  * ExactSubstr span scoring. Connected components and semantic dedup
  * have suites of their own.
  */
class DedupSpec extends SparkSpecBase {

  private def words(n: Int, offset: Int = 0): String =
    (offset until offset + n).map(i => f"t$i%04d").mkString(" ")

  /** A fresh stage path for [[Dedup.jaccardWithin]]'s shingle table. */
  private def stage(): String = tmpDir("jac-stage") + "/sh"

  private def canon(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    d.orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("native shingle kernel equals the declarative formulation bit-for-bit") {
    val s = spark
    import s.implicits._
    graft.functions.Shingles.register(spark)
    val rng = new scala.util.Random(13)
    val alphabet = "abc XYZ   0189 \t\n кирилл ürsچ .,;!? \r "
    val docs = (0 until 200).map { i =>
      val len = rng.nextInt(120)
      (i.toLong, (0 until len).map(_ => alphabet(rng.nextInt(alphabet.length))).mkString)
    } ++ Seq((200L, ""), (201L, "one"), (202L, "  two words  "),
      (203L, "ПРИВЕТ Мир ПРИВЕТ мир"), (204L, "a b a b a b"))
    val df = docs.toDF("id", "text")
    for (n <- Seq(1, 2, 3)) {
      val native = df.select(col("id"),
        graft.functions.Shingles.shinglesNative(col("text"), n).as("sh"))
      val decl = df.select(col("id"), Dedup.shingles(col("text"), n).as("sh"))
      val diff = native.exceptAll(decl).count() + decl.exceptAll(native).count()
      assert(diff == 0, s"n=$n differs")
    }
  }

  test("jaccardWithin at t<0.5 keeps pairs spanning distant length buckets") {
    val s = spark
    import s.implicits._
    // |A| = 16 bigram shingles, |B| = 320, intersection 16 =>
    // j = 16/320 = 0.05 >= t; buckets floor(log2)=4 vs 8 (gap 4) —
    // exactly the pair round 1's +1 probing dropped
    val a = words(17)
    val b = words(321)
    val df = Seq((1L, a, "blk"), (2L, b, "blk")).toDF("id", "text", "src")
    val got = canon(Dedup.jaccardWithin(df, "id", "text", "src", stage(),
      shingleN = 2, threshold = 0.05, lengthBucket = true))
    val exact = canon(Dedup.jaccardWithin(df, "id", "text", "src", stage(),
      shingleN = 2, threshold = 0.05, lengthBucket = false))
    assert(got == exact)
    assert(got == Seq((1L, 2L, 0.05)))
  }

  test("jaccardWithin bucketed equals exact on a mixed-size corpus (t=0.05)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    // overlapping docs of wildly different lengths within one block
    val docs = (0 until 40).map { i =>
      val len = 5 + rng.nextInt(200)
      val off = rng.nextInt(30) // shared vocabulary => nonzero overlaps
      (i.toLong, words(len, off), s"b${i % 2}")
    }
    val df = docs.toDF("id", "text", "src")
    val bucketed = canon(Dedup.jaccardWithin(df, "id", "text", "src", stage(),
      shingleN = 2, threshold = 0.05, lengthBucket = true))
    val exact = canon(Dedup.jaccardWithin(df, "id", "text", "src", stage(),
      shingleN = 2, threshold = 0.05, lengthBucket = false))
    assert(bucketed == exact && exact.nonEmpty)
  }

  test("jaccardWithin equals a brute-force all-pairs Jaccard over Dedup.shingles (t=0.05)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(17)
    // lengths 5..400 words: shingle-set sizes span log2 buckets 2..8,
    // so qualifying pairs sit up to maxGap = 5 buckets apart; docs 0
    // and 2 are the edge case, 16 of 320 shingles shared (j = 0.05,
    // buckets 4 and 8)
    val docs = (0 until 30).map { i =>
      val (len, off) = i match {
        case 0 => (17, 0)
        case 2 => (321, 0)
        case _ => (5 + rng.nextInt(400), rng.nextInt(20))
      }
      (i.toLong, words(len, off), s"b${i % 2}")
    }
    val df = docs.toDF("id", "text", "src")
    val got = canon(Dedup.jaccardWithin(df, "id", "text", "src", stage(),
      shingleN = 2, threshold = 0.05))
    // the declarative reference: every pair within a block, collected
    // and compared locally, over the Spark-SQL shingle formulation
    val sets = df.select(col("id"), col("src"), Dedup.shingles(col("text"), 2).as("sh"))
      .as[(Long, String, Seq[Long])].collect()
    val want = (for {
      (a, ba, sa) <- sets.toSeq; (b, bb, sb) <- sets.toSeq
      if a < b && ba == bb
      j = (sa.toSet & sb.toSet).size.toDouble / (sa.toSet | sb.toSet).size
      if j >= 0.05
    } yield (a, b, j)).sortBy(p => (p._1, p._2))
    assert(got.map(p => (p._1, p._2)) == want.map(p => (p._1, p._2)))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 1e-4, (g, w)) }
    assert(want.contains((0L, 2L, 0.05)) && want.size > 20, want.size)
  }

  test("jaccardWithin shingles each page once, at the stage write") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(31)
    val path = tmpDir("jac-pages") + "/pages"
    (0 until 40).map { i =>
      (i.toLong, words(5 + rng.nextInt(60), rng.nextInt(20)), s"b${i % 2}")
    }.toDF("id", "text", "src").write.parquet(path)
    val pages = spark.read.parquet(path)
    // the stage write is the path's one eager execution: capture the
    // executed plans of every execution that reads the pages; a marker
    // query run afterwards drains the listener bus
    val written = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = written.add(qe.executedPlan.toString): Unit
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    val marker = java.util.UUID.randomUUID().toString
    spark.listenerManager.register(listener)
    val out = try {
      val out = Dedup.jaccardWithin(pages, "id", "text", "src", stage(),
        shingleN = 2, threshold = 0.05)
      spark.range(1).select(lit(marker)).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!written.stream().anyMatch((p: String) => p.contains(marker)) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      out
    } finally spark.listenerManager.unregister(listener)
    val writes = written.toArray(Array.empty[String]).toSeq.filter(_.contains(path))
    assert(writes.size == 1, writes)
    val calls = "shingleexpr\\(".r
    assert(calls.findAllIn(writes.head).size == 1, writes.head)
    assert("FileScan parquet".r.findAllIn(writes.head).size == 1, writes.head)
    // blocking and verification read the stage, never the pages
    val plan = out.queryExecution.executedPlan.toString
    assert(calls.findAllIn(plan).isEmpty && !plan.contains(path), plan)
    assert(out.count() > 0)
  }

  test("jaccardBlockDiag counts the exact candidate pairs a join makes") {
    import spark.implicits._
    graft.functions.Shingles.register(spark)
    val docs = (0L until 12L)
      .map(i => ("blkA", i, s"shared words plus token$i more shared filler"))
      .toDF("blk0", "id", "text")
      .select(col("blk0"), col("id"),
        graft.functions.Shingles.shinglesNative(col("text"), 2).as("sh"))
    val diag = Dedup.jaccardBlockDiag(docs, threshold = 0.05).collect()(0)
    assert(diag.getLong(0) >= 1L)           // blocks
    assert(diag.getLong(1) <= 12L)          // hottest block
    assert(diag.getLong(2) >= 1L)           // candidate pairs
    // with bucketing off, one block of 12 -> exactly 66 pairs
    val flat = Dedup.jaccardBlockDiag(docs, threshold = 0.05,
      lengthBucket = false).collect()(0)
    assert(flat.getLong(0) == 1L && flat.getLong(1) == 12L
      && flat.getLong(2) == 66L)
  }

  test("bandsForThreshold picks the most selective >=95%-recall banding") {
    // t=0.3, k=64: r=2 gives recall 1-(1-0.09)^32 ~ 0.951; r=4 ~ 0.12
    assert(Dedup.bandsForThreshold(64, 0.3) == 32)
    // t=0.7: r=4 -> 1-(1-0.24)^16 ~ 0.988; r=8 -> ~0.38
    assert(Dedup.bandsForThreshold(64, 0.7) == 16)
    // very low thresholds degrade to 1-row bands
    assert(Dedup.bandsForThreshold(64, 0.05) == 64)
  }

  test("minhash recall property: >=95% of true j>=t+0.1 pairs found (seeded)") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    // 30 planted near-dup pairs: ~55% of words shared within a pair,
    // every pair drawn from a disjoint vocabulary region (no
    // cross-pair similarity)
    val docs = (0 until 30).flatMap { p =>
      val base = (0 until 40).map(_ => f"v${p}_${rng.nextInt(60)}%03d")
      val variant = base.map(w =>
        if (rng.nextDouble() < 0.25) f"v${p}_x${rng.nextInt(999)}%03d" else w)
      Seq((p * 2L, base.mkString(" ")), (p * 2L + 1, variant.mkString(" ")))
    }
    val df = docs.toDF("id", "text")
    // ground truth: exact jaccard on every planted pair
    val truth = Dedup.jaccardWithin(
      df.withColumn("blk", col("id") / 2 cast "int"),
      "id", "text", "blk", stage(), shingleN = 2, threshold = 0.4,
      lengthBucket = false).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assume(truth.size >= 10, s"need enough strong pairs, got ${truth.size}")
    val found = Dedup.minhashPairs(df, "id", "text",
      shingleN = 2, k = 64, bands = 0, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truth.count(found.contains).toDouble / truth.size
    assert(recall >= 0.95, s"recall $recall over ${truth.size} true pairs")
  }

  test("staged minhash step chain equals the unstaged pipeline") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(23)
    val docs = (0 until 20).flatMap { p =>
      val base = (0 until 30).map(_ => f"w${p}_${rng.nextInt(40)}%02d")
      val variant = base.map(w =>
        if (rng.nextDouble() < 0.2) f"w${p}_x${rng.nextInt(99)}%02d" else w)
      Seq((p * 2L, base.mkString(" ")), (p * 2L + 1, variant.mkString(" ")))
    }
    val df = docs.toDF("id", "text")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // q_minhash_pairs' chain: stage once, band off the stage, verify
    // off the stage
    val sig = Dedup.stageSignatures(df, "id", "text", 2,
      tmpDir("mh-stage") + "/sig")
    val staged = canon(Dedup.minhashVerifyShingled(sig,
      Dedup.minhashCandidatesSigned(sig, threshold = 0.3), threshold = 0.3))
    val direct = canon(Dedup.minhashPairs(df, "id", "text",
      shingleN = 2, threshold = 0.3))
    assert(staged == direct && direct.nonEmpty)
  }

  test("minhashPairs shingles each page once per scan") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(29)
    val docs = (0 until 40).map { i =>
      val text =
        if (i == 0) null
        else if (i == 1) ""
        else if (i == 2) "single"
        else (0 until 20).map(_ => f"w${i / 2}_${rng.nextInt(30)}%02d").mkString(" ")
      (i.toLong, text)
    }
    val path = tmpDir("mh-pages") + "/pages"
    docs.toDF("id", "text").write.parquet(path)
    val pages = spark.read.parquet(path)
    // Catalyst would push `size(sh) > 0` below the projection and
    // inline `sh`: two shingle calls per scan
    val plan = Dedup.minhashPairs(pages, "id", "text", shingleN = 2, threshold = 0.3)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).size
    val calls = "shingleexpr\\(".r.findAllIn(plan).size
    assert(scans >= 3 && calls == scans, s"$calls shingle calls over $scans scans:\n$plan")
    // the same rows survive: exactly the pages with at least one shingle
    val want = pages.where(size(graft.functions.Shingles.shinglesNative(col("text"), 2)) > 0)
      .select("id").as[Long].collect().toSet
    val got = Dedup.stageSignatures(pages, "id", "text", 2, tmpDir("mh-once") + "/sig")
      .select("id").as[Long].collect().toSet
    assert(got == want && !got.contains(0L) && !got.contains(1L))
  }

  test("minhash cap drops are reported from the query itself") {
    import spark.implicits._
    // 100 IDENTICAL docs flood every (band, bucket) past maxBucket=16;
    // plus distinct docs that stay under the cap
    val flood = (0L until 100L).map(i => (i, "common prefix words repeated " * 5))
    val distinct = (100L until 110L).map(i => (i, s"unique document $i with words ${i * 7}"))
    val docs = (flood ++ distinct).toDF("doc_id", "text")
    val obs = Observation("minhash_cap")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", shingleN = 2,
      threshold = 0.3, maxBucket = 16, capObs = Some(obs))
    pairs.count() // any action over the plan materializes the metrics
    val m = obs.get
    assert(m("rows_dropped").asInstanceOf[Long] > 0L)
    assert(m("max_bucket_rows").asInstanceOf[Long] >= 100L)
  }

  test("minhash cap reports zero drops on an uncapped corpus") {
    import spark.implicits._
    val docs = (0L until 20L)
      .map(i => (i, s"every doc here is fully distinct $i ${i * 13} ${i * 31}"))
      .toDF("doc_id", "text")
    val obs = Observation("minhash_cap_zero")
    Dedup.minhashPairs(docs, "doc_id", "text", shingleN = 2,
      threshold = 0.3, maxBucket = 64, capObs = Some(obs)).count()
    assert(obs.get("rows_dropped").asInstanceOf[Long] == 0L)
  }

  test("minhash cap reports every row over the cap, per band") {
    val s = spark
    import s.implicits._
    // 120 identical docs flood one bucket in every band; cap at 16
    val df = (0 until 120).map(i => (i.toLong, words(30))).toDF("id", "text")
    val obs = Observation("minhash_cap_flood")
    Dedup.minhashPairs(df, "id", "text", shingleN = 2,
      threshold = 0.3, maxBucket = 16, capObs = Some(obs)).count()
    val bands = Dedup.bandsForThreshold(64, 0.3)
    assert(obs.get("rows_dropped").asInstanceOf[Long] == (120L - 16) * bands)
    assert(obs.get("max_bucket_rows").asInstanceOf[Long] == 120L)
  }

  test("simhash cap drops are reported from the query itself") {
    import spark.implicits._
    val flood = (0L until 50L).map(i => (i, "same text every time " * 8))
    val docs = flood.toDF("doc_id", "text")
    val obs = Observation("simhash_cap")
    Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3,
      maxBucket = 8, capObs = Some(obs)).count()
    val m = obs.get
    assert(m("rows_dropped").asInstanceOf[Long] > 0L)
    assert(m("max_bucket_rows").asInstanceOf[Long] == 50L)
  }

  test("dropClusterLosers keeps one representative per near-dup group") {
    val s = spark
    import s.implicits._
    val base = (0 until 40).map(i => f"tok$i%03d").mkString(" ")
    val near = base.replace("tok001", "changed")
    val df = Seq((1L, base), (2L, near), (3L, words(40, 500)))
      .toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text", shingleN = 2, threshold = 0.5)
    val kept = Dedup.dropClusterLosers(df, "id", pairs)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L)) // 2 lost to 1; 3 unrelated survives
  }

  test("dropClusterLosers drops every non-minimum cluster member") {
    val s = spark
    import s.implicits._
    // (1,3),(2,3) is ONE cluster {1,2,3}: only 1 survives, although 2
    // never paired with 1 (a pair-loser rule would keep 1 and 2)
    val df = Seq((4L, "d", 40), (3L, "c", 30), (2L, "b", 20), (1L, "a", 10))
      .toDF("id", "text", "n")
    val pairs = Seq((1L, 3L), (2L, 3L)).toDF("id_a", "id_b")
    val out = Dedup.dropClusterLosers(df, "id", pairs)
    assert(out.columns.toSeq == df.columns.toSeq)
    assert(out.orderBy("id").as[(Long, String, Int)].collect().toSeq ==
      Seq((1L, "a", 10), (4L, "d", 40)))
  }

  test("dropClusterLosers keeps exactly one survivor per cluster") {
    import spark.implicits._
    // three near-identical docs forming a transitive cluster + one
    // distinct doc; CC keeps the min id of the cluster and the loner
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (9L, "completely different content about columnar token encoding"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleN = 2, threshold = 0.5)
    val kept = Dedup.dropClusterLosers(docs, "doc_id", pairs)
      .select("doc_id").orderBy("doc_id").as[Long].collect()
    assert(kept.toSeq == Seq(1L, 9L))
  }

  test("decontaminate counts benchmark n-gram overlap; removal drops flagged docs") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the quick brown fox jumps"), // 4 bigrams, 3 hit -> 7500
      (2L, "quick brown cow"),           // 2 bigrams, 1 hit -> 5000
      (3L, "nothing shared at all"),     // 0 hits
      (4L, "one")                        // no bigrams -> 0/0 -> 0
    ).toDF("doc_id", "text")
    val scored = Dedup.decontaminate(docs, bench, "doc_id", "text", 2)
      .orderBy("id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(scored == Seq(
      (1L, 4L, 3L, 7500L), (2L, 2L, 1L, 5000L),
      (3L, 3L, 0L, 0L), (4L, 0L, 0L, 0L)))
    val kept = Dedup.removeContaminated(docs, bench, "doc_id", "text",
      thresholdBp = 5000L, n = 2)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("substrDedupTrim: planted hot boilerplate, no Window node in the plan") {
    val s = spark
    import s.implicits._
    // one 8-gram planted in 50% of docs — the boilerplate hot key that
    // killed the round-5 window form at scale
    val boiler = "subscribe to our newsletter for more updates today"
    val docs = (1 to 200).map { i =>
      val body = s"doc $i words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
      (i.toLong, if (i % 2 == 0) s"$body $boiler" else body)
    }.toDF("doc_id", "text")
    val out = Dedup.substrDedupTrim(docs, "doc_id", "text", k = 8)
    // AQE splits skewed join partitions, never window partitions: the
    // plan must contain NO Window node (keep-first is a groupBy min)
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      s"substrDedupTrim must not rank via a window over raw keys: $windows")
    val m = out.collect()
      .map(r => r.getLong(0) -> r.getAs[String]("text_dedup")).toMap
    // the lowest-id carrier (doc 2) keeps the boilerplate; every later
    // carrier loses exactly that span; non-carriers are untouched
    assert(m(2L).contains(boiler))
    (4 to 200 by 2).foreach(i => assert(!m(i.toLong).contains(boiler)))
    assert(m(4L) == "doc 4 words alpha4 beta4 gamma4 delta4 epsilon4 zeta4")
    assert(m(1L) == "doc 1 words alpha1 beta1 gamma1 delta1 epsilon1 zeta1")
  }

  test("substrDedupTrim: overlapping duplicate positions merge into spans") {
    val s = spark
    import s.implicits._
    // doc 1 owns the first occurrences of two OVERLAPPING 4-gram
    // windows (pos 0 and 1 of a 5-token run); doc 2 carries the run
    // plus a second disjoint copy — dup positions (1,2) merge into one
    // span [1,5], the far copy stays its own span, survivors keep
    val docs = Seq(
      (1L, "one two three four five"),
      (2L, "x one two three four five pad one two three four y")
    ).toDF("doc_id", "text")
    val m = Dedup.substrDedupTrim(docs, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) -> r.getAs[String]("text_dedup")).toMap
    assert(m(1L) == "one two three four five")
    assert(m(2L) == "x pad y")
  }
}
