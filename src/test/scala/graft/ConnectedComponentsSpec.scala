package graft

/** connectedComponents regressions: the round-3 convergence test
  * summed labels cast to decimal(38,0), which reads every STRING id
  * as NULL — the sum was zero each sweep and the loop declared
  * convergence after ONE sweep, silently returning under-propagated
  * clusters for any string-id component with diameter > 1.
  */
class ConnectedComponentsSpec extends SparkSpecBase {
  import graft.dedup.Dedup

  private def chainPairs = {
    val s = spark
    import s.implicits._
    // a-b-c-d: diameter 3, needs 2+ sweeps — one sweep leaves
    // c->b, d->c instead of the correct all->a
    Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("id_a", "id_b")
  }

  test("connectedComponents propagates fully over STRING ids (diameter > 1)") {
    val cc = Dedup.connectedComponents(chainPairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a"))
  }

  test("connectedComponents refuses non-convergence for string ids too") {
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chainPairs, maxIter = 1,
        smallGraphCap = 0).collect()
    }
  }

  // smallGraphCap = 0 forces the iterative pointer-jumping arm; the
  // default cap takes the exact driver union-find on graphs this small.
  // The two tests below keep the names they had when they checked the
  // alternating-star form; that form is gone, and the same graphs now
  // exercise the iterative arm against the union-find.
  private def iterativeAndDriver(pairs: org.apache.spark.sql.DataFrame) =
    (Dedup.connectedComponents(pairs, smallGraphCap = 0).collect().toSet,
      Dedup.connectedComponents(pairs).collect().toSet)

  test("alternating-star CC equals label propagation on random graphs") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rng = new scala.util.Random(seed)
      val pairs = Seq.fill(120)((rng.nextInt(150).toLong, rng.nextInt(150).toLong))
        .filter { case (a, b) => a != b }
        .toDF("id_a", "id_b")
      val (iterative, driver) = iterativeAndDriver(pairs)
      assert(iterative.nonEmpty && iterative == driver, s"seed $seed")
    }
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(none, smallGraphCap = 0).count() == 0)
  }

  test("alternating-star CC handles a hot vertex and string ids") {
    val s = spark
    import s.implicits._
    // one hub paired with everyone (the skew shape: the hub's label
    // fans into one reduce group every sweep) plus a separate chain
    val hub = (1 to 200).map(i => ("hub", f"doc_$i%03d"))
    val chain = Seq(("x1", "x2"), ("x2", "x3"), ("x3", "x4"))
    val pairs = (hub ++ chain).toDF("id_a", "id_b")
    val (iterative, driver) = iterativeAndDriver(pairs)
    val cc = iterative.map(r => (r.getString(0), r.getString(1))).toMap
    assert(cc("hub") == "doc_001" && cc("doc_200") == "doc_001")
    assert(cc("x1") == "x1" && cc("x4") == "x1")
    assert(iterative == driver)
  }

  test("reliable-checkpoint CC equals the localCheckpoint default") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    // random graph over 200 vertices: several multi-hop components
    val pairs = Seq.fill(150)((rng.nextInt(200).toLong, rng.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    val dir = tmpDir("graft-cc-ckpt")
    // smallGraphCap = 0: this test exercises the ITERATIVE arm's
    // checkpoint plumbing, which the exact small-graph solve skips
    val local = Dedup.connectedComponents(pairs, smallGraphCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reliable = Dedup.connectedComponents(pairs, checkpointDir = Some(dir),
        smallGraphCap = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reliable == local)
    // and the exact small-graph solve (default cap) matches both
    val fast = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == local)
    // the reliable path actually wrote checkpoint files
    assert(new java.io.File(dir).listFiles().nonEmpty)
  }

  test("connectedComponents resolves chains and separate components") {
    import spark.implicits._
    // two components: a chain 1-2-3-4 and a pair 10-11; 99 is isolated
    // (absent from pairs, so absent from output)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents converges on a component needing exactly maxIter sweeps") {
    import spark.implicits._
    // path 1-2-3-4: the min label needs 3 propagation sweeps to reach
    // node 4, and convergence is only observable as a 4th unchanged
    // sweep — maxIter=3 must still succeed (regression: the loop used
    // to count the confirming sweep against the budget and refuse)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, maxIter = 3).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.toSeq == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // a genuinely over-budget diameter still refuses — with the r7
    // pointer-jumping hop reach roughly doubles per sweep, so the
    // refusal chain must be long enough that 3 sweeps (maxIter=2 + the
    // confirming one) cannot cover it
    // smallGraphCap = 0 pins the ITERATIVE arm: the exact small-graph
    // solve has no convergence budget to refuse on
    val longChain = (1L until 64L).map(i => (i, i + 1L)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(longChain, maxIter = 2,
        smallGraphCap = 0).collect()
    }
  }
}
