package graft

import java.io.File

import org.apache.spark.sql.DataFrame

/** The driver contract's one query map in its two modes: `queries`
  * (oracle on, what Verify checks) and `benchQueries` (oracle off, what
  * Bench times) share every body, so the bench times the plans the
  * oracle verifies.
  */
class QueryMapSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"
  private val BrotliFixture = "/root/reference/tests/fixtures/2cols6rows.csv.br"

  // names whose bench form was once a separate hand-written body; the
  // oracle switch must leave their rows unchanged
  private val sameRows = Seq(
    "q_encoded_search", "q_encoded_count", "q_encoded_search_src",
    "q_encoded_read", "q_encoded_vocab", "q_encoded_frequency",
    "q_minhash_pairs", "q_simhash_pairs", "q_cosine_lsh",
    "q_ann_lsh", "q_ann_pq", "q_ann_pq_batch", "q_ann_ivfpq",
    "q_ann_ivfpq_batch", "q_ann_ivf", "q_ann_ivf_batch",
    "q_analyze_file", "q_stats_by_source", "q_substr_dup", "q_substr_trim")
  // md5 buckets for the oracle, xxhash64 buckets in bench: bucket
  // collisions differ, so only the shape and the documents agree.
  // q_dsir_sample draws its top 50 off those differing weights, so
  // there only the schema and the sample size agree
  private val hashForms = Seq("q_dsir_weights", "q_nb_quality")

  test("bench and verify maps hold the same 129 query names") {
    assert(SparkEntry.queries.size == 129)
    assert(SparkEntry.benchQueries.keySet == SparkEntry.queries.keySet)
  }

  // column names and types; a side dump's parquet re-read makes every
  // column nullable, so nullability is no part of the contract
  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  test("bench forms return the verified rows") {
    sameRows.foreach { q =>
      val bench = SparkEntry.benchQueries(q)(spark, dir)
      val verify = SparkEntry.queries(q)(spark, dir)
      assert(shape(bench) == shape(verify), q)
      val (bad, n) = SparkEntry.symDiffAndCount(bench, verify)
      assert(bad == 0, s"$q: $bad of $n rows differ")
    }
  }

  test("a staged query built twice still runs its first frame") {
    // each build stages under a dir of its own: the second build must
    // not rewrite the stage the first frame reads lazily
    for (q <- Seq("q_minhash_pairs", "q_jaccard_within", "q_dedup_clusters")) {
      val first = SparkEntry.benchQueries(q)(spark, dir)
      val second = SparkEntry.benchQueries(q)(spark, dir)
      val (bad, n) = SparkEntry.symDiffAndCount(first, second)
      assert(bad == 0 && n > 0, s"$q: $bad of $n rows differ")
    }
    // and every stage is deleted when the JVM exits
    val side = new org.apache.hadoop.fs.Path(sys.props("graft.side.dir"))
    val fs = side.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stages = fs.listStatus(side).map(_.getPath)
      .filter(_.getName.matches("(minhash|jaccard)_stage(_cc)?_\\d+"))
    assert(stages.length >= 6, stages.toSeq)
    stages.foreach { p =>
      assert(fs.cancelDeleteOnExit(p), s"$p is not deleted on exit")
      fs.deleteOnExit(p)
    }
  }

  test("bench hash forms keep the verified schema and documents") {
    def ids(df: DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    hashForms.foreach { q =>
      val bench = SparkEntry.benchQueries(q)(spark, dir)
      val verify = SparkEntry.queries(q)(spark, dir)
      assert(shape(bench) == shape(verify), q)
      val b = ids(bench)
      assert(b.nonEmpty && b == ids(verify), q)
    }
    val bench = SparkEntry.benchQueries("q_dsir_sample")(spark, dir)
    val verify = SparkEntry.queries("q_dsir_sample")(spark, dir)
    assert(shape(bench) == shape(verify))
    assert(bench.count() == 50 && verify.count() == 50)
  }

  test("bench forms write no oracle dump") {
    // side dumps are eager (written when the query is built), so
    // building every bench form is enough to catch one. Staging may
    // write here: the signature/shingle stages, the encoded stores and
    // the store's token table, which both modes share
    val fresh = tmpDir("graft-bench-forms-side")
    val prev = sys.props("graft.side.dir")
    sys.props("graft.side.dir") = fresh
    // q_brotli_fixture reads a reference fixture that may be absent
    val built = SparkEntry.benchQueries.filter { case (q, _) =>
      q != "q_brotli_fixture" || new File(BrotliFixture).exists() }
    try built.foreach { case (_, fn) => fn(spark, dir) }
    finally sys.props("graft.side.dir") = prev
    val written = new File(fresh).list().toSeq.sorted
    val dumps = written.filterNot(n => n.contains("_stage") ||
      n.startsWith("graft-qencstore-") || n == "encsearch_tokens")
    assert(dumps.isEmpty, s"bench forms dumped: ${dumps.mkString(", ")}")
  }

  test("encoded-store queries stage their store under the side dir") {
    // a fresh side dir keys a fresh store; it must land there, never
    // directly under java.io.tmpdir, where nothing would remove it
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def stores = tmp.list().filter(_.startsWith("graft-qencstore-z2-")).toSet
    val before = stores
    val fresh = tmpDir("graft-encstore-side")
    val prev = sys.props("graft.side.dir")
    sys.props("graft.side.dir") = fresh
    try assert(SparkEntry.benchQueries("q_encoded_count")(spark, dir).count() == 1)
    finally sys.props("graft.side.dir") = prev
    assert((stores -- before).isEmpty, stores -- before)
    assert(new File(fresh).list().exists(_.startsWith("graft-qencstore-z2-")))
  }
}
