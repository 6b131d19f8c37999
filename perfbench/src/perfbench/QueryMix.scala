package perfbench

import java.io.File
import scala.util.Random
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.encode.{CompressedSearch, TokenEncoder, TokenIndex}

/** One query call: a `CompressedSearch` family with its parameters.
  * `reference` answers it from the input table with plain Spark SQL,
  * never through graft.
  */
final case class Query(family: String, selective: Boolean, lo: Int, hi: Int,
                       source: String, toks: Seq[Int]) {

  def run(spark: SparkSession, store: String): DataFrame = family match {
    case "count" => CompressedSearch.countTokens(spark, store, lo, hi)
    case "search" => CompressedSearch.searchDocs(spark, store, lo, hi)
    case "search_src" => CompressedSearch.searchDocsInSource(spark, store, source, lo, hi)
    case "read" => CompressedSearch.readDocs(spark, store, lo, hi)
        .select("doc_id", "tokens", "n_tok", "source")
    case "phrase" => CompressedSearch.phraseSearchDocs(spark, store, toks.toArray)
    case "conj" => CompressedSearch.searchDocsWithAll(spark, store, toks.toArray)
    case "bm25" => CompressedSearch.bm25TopK(spark, store, toks.toArray, Query.K)
    case "freq" => CompressedSearch.tokenFrequency(spark, store)
  }

  def reference(inp: DataFrame): DataFrame = {
    val tokens = col("tokens")
    def hits(p: Column => Column) = size(filter(tokens, p)).cast("long")
    val inRange = (x: Column) => x.between(lo, hi)
    family match {
      case "count" =>
        inp.select(explode(tokens).as("t")).where(inRange(col("t")))
          .agg(count(lit(1)).as("n_in_range"))
      case "search" | "search_src" =>
        val r = inp.select(col("doc_id"), col("source"), hits(inRange).as("n_hits"))
          .where(col("n_hits") > 0)
        if (family == "search") r else r.where(col("source") === source)
      case "read" =>
        inp.where(exists(tokens, inRange)).select("doc_id", "tokens", "n_tok", "source")
      case "phrase" =>
        val at = (i: Column) => toks.zipWithIndex
          .map { case (t, k) => element_at(tokens, i + (k + 1)) === t }.reduce(_ && _)
        val n = size(filter(sequence(lit(0), size(tokens) - toks.length), at)).cast("long")
        inp.where(size(tokens) >= toks.length)
          .select(col("doc_id"), col("source"), n.as("n_matches")).where(col("n_matches") > 0)
      case "conj" =>
        val ts = toks.distinct
        inp.where(ts.map(t => array_contains(tokens, t)).reduce(_ && _))
          .select(col("doc_id"), col("source"), hits(x => x.isin(ts: _*)).as("n_hits"))
      case "bm25" => Query.bm25Reference(inp, toks.distinct)
      case "freq" =>
        inp.select(explode(tokens).as("token")).groupBy("token").agg(count(lit(1)).as("n_occ"))
    }
  }
}

object Query {
  val K = 10
  private val K1 = 1.2
  private val B = 0.75

  /** BM25 top-k with per-term scores floored to micro-units, in the
    * same floating-point operation order as `CompressedSearch.bm25TopK`.
    */
  def bm25Reference(inp: DataFrame, q: Seq[Int]): DataFrame = {
    val st = inp.agg(count(lit(1)), sum("n_tok")).first()
    val nDocs = st.getLong(0)
    val avgdl = st.getLong(1).toDouble / nDocs
    val tokens = col("tokens")
    val idf = q.map { t =>
      val d = inp.where(array_contains(tokens, t)).count().toDouble
      math.log((nDocs - d + 0.5) / (d + 0.5) + 1)
    }
    val dl = col("n_tok").cast("double")
    val terms = q.zip(idf).map { case (t, w) =>
      val tf = size(filter(tokens, x => x === t)).cast("double")
      when(tf > 0, floor(lit(w) * (tf * lit(K1 + 1)) /
        (tf + lit(K1) * (lit(1 - B) + lit(B) * dl / lit(avgdl))) * lit(1e6) + lit(0.5))
        .cast("long")).otherwise(lit(0L))
    }
    val any = q.map(t => array_contains(tokens, t)).reduce(_ || _)
    inp.where(any)
      .select(col("doc_id"), col("source"), terms.reduce(_ + _).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(K)
  }

  /** One call per family, half of them selective (they prune to few
    * blocks) and half wide. `tokenFrequency` has no pruned form, so it
    * reads the whole store: the control a pruning change must leave
    * unchanged. Parameters come from the table's own rows.
    */
  def draw(inp: DataFrame, seed: Long): Seq[Query] = {
    val rnd = new Random(seed * 1000003L + 17)
    def rowsOf(src: String): Array[Array[Int]] = inp.where(col("source") === src && col("n_tok") >= 8)
      .orderBy("doc_id").limit(400).select("tokens").collect().map(_.getSeq[Int](0).toArray)
    val random = rowsOf("social") // uniform 31-bit tokens: almost every value is rare
    val lowcard = rowsOf("news") // a 100-token vocabulary
    def pick(rows: Array[Array[Int]]): Array[Int] = rows(rnd.nextInt(rows.length))
    def span(rows: Array[Array[Int]], n: Int): Seq[Int] = {
      val r = pick(rows)
      val i = rnd.nextInt(r.length - n + 1)
      r.slice(i, i + n).toSeq
    }
    def rare(): Int = { val r = pick(random); r(rnd.nextInt(r.length)) }
    def distinctFrom(rows: Array[Array[Int]], n: Int): Seq[Int] =
      Iterator.continually(span(rows, n)).find(_.distinct.length == n).get
    def point(family: String, src: String = "") = { val t = rare(); Query(family, true, t, t, src, Nil) }
    Seq(
      point("count"),
      Query("search", false, 0, 63, "", Nil),
      point("search_src", "social"),
      Query("read", false, 1 << 27, (1 << 27) + 4095, "", Nil),
      Query("phrase", true, 0, 0, "", span(random, 3)),
      Query("conj", false, 0, 0, "", distinctFrom(lowcard, 2)),
      Query("bm25", true, 0, 0, "", distinctFrom(random, 3)),
      Query("freq", false, 0, 0, "", Nil))
  }
}

/** One client sends a seeded mix of requests, one at a time: the
  * eight `CompressedSearch` families against a store built and indexed
  * in set-up, and one dedup pass over seeded web pages. Requests go in
  * whole rounds of one each, in a fresh seeded order per round, so
  * every run weighs the kinds alike; every request is one operation.
  */
final class QueryMix(env: Env) extends Workload {
  import Workload._
  val name = "query_mix"
  val primaryKind = "request"
  /** Query latency is mostly per-call fixed cost, so the store is small. */
  val Rows = 4000L

  private val dedup = new DedupPass(env)
  private var store: String = _
  private var inputDir: String = _
  private var queries: Seq[(Query, Fp)] = Nil
  private val indexBuild = scala.collection.mutable.ArrayBuffer[Double]()
  private var indexBytes = 0L

  def build(dir: File): Unit = {
    val input = new File(dir, "input")
    TokenInput.write(env, input, Rows)
    val st = new File(dir, "store").getPath
    TokenEncoder.run(TokenInput.read(env, input), st, TokenInput.encodeConfig(env, Rows))
    indexBuild += seconds(TokenIndex.build(env.spark, st))._2
    indexBytes = du(new File(TokenIndex.path(st)))
    dedup.build(dir)
  }

  /** Computes the references side by side with one untimed call of
    * each query and one dedup pass: cold calls are mostly
    * single-threaded planning, code generation and compilation, so the
    * cores would idle otherwise.
    */
  def prepare(dir: File): Unit = {
    store = new File(dir, "store").getPath
    inputDir = new File(dir, "input").getPath
    dedup.prepare(dir)
    val inp = env.spark.read.parquet(inputDir).cache()
    val qs = Query.draw(inp, env.seed)
    val refs: Seq[() => Option[Fp]] = qs.map(q => () => Some(Fp.of(q.reference(inp))))
    val calls: Seq[() => Option[Fp]] = qs.map(q => () => { Fp.of(q.run(env.spark, store)); None }) ++
      Seq(() => { dedup.run(None); None }, () => { dedup.prepareControl(); None })
    queries = qs.zip(inParallel(env.cores, refs ++ calls).take(qs.size).map(_.get))
    inp.unpersist()
    ()
  }

  /** The untimed call of every request in [[prepare]] is the warm-up. */
  def warmup(): Unit = ()

  /** Whole rounds until `seconds` have passed; every request is
    * followed by the control.
    */
  def measure(seconds: Double, tr: Option[Tracer], log: OpLog): Unit = {
    val rnd = new Random(env.seed)
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) round(tr, log, rnd)
  }

  /** Every request is followed by its control: the same question
    * answered by plain Spark from the input table (for the dedup pass,
    * [[DedupPass.control]]), checked against its answer in set-up.
    */
  private def round(tr: Option[Tracer], log: OpLog, rnd: Random): Unit =
    rnd.shuffle(queries.map(Some(_)) :+ None).foreach {
      case Some((q, ref)) =>
        log.record(primaryKind, q.family) {
          val (fp, s) = seconds(Tracer.span(tr, s"search.${q.family}") {
            Fp.of(q.run(env.spark, store))
          })
          if (fp != ref) System.err.println(s"perfbench: search.${q.family} answer differs")
          (s, 1L, fp == ref, Map("rows" -> fp.rows.toDouble))
        }
        log.record(ControlKind, q.family) {
          val (fp, s) = seconds(Fp.of(q.reference(env.spark.read.parquet(inputDir))))
          (s, 1L, fp == ref, Map.empty)
        }
      case None =>
        log.record(primaryKind, "dedup") {
          val (s, ok, pairs) = dedup.run(tr)
          (s, 1L, ok, Map("pairs" -> pairs))
        }
        log.record(ControlKind, "dedup") {
          val (s, ok) = dedup.control()
          (s, 1L, ok, Map.empty)
        }
    }

  private def latencies(log: OpLog, tag: String => Boolean): Seq[Double] =
    log.ok(primaryKind).filter(o => tag(o.tag)).map(_.seconds)

  def report(log: OpLog): Seq[(String, Double, String)] = {
    val lat = latencies(log, _ != "dedup")
    val (tail, pct) = Stats.tail(lat).getOrElse((Double.NaN, Double.NaN))
    val passes = latencies(log, _ == "dedup")
    Seq(
      ("query_p50_s", Stats.median(lat), "s"),
      ("query_tail_s", tail, "s"),
      ("query_tail_pct", pct, "%"),
      ("query_samples", lat.length.toDouble, "count"),
      ("index_build_s", Stats.median(indexBuild.toSeq), "s"),
      ("dedup_docs_per_s", dedup.pages / Stats.median(passes), "docs/s"),
      ("verified_pairs", log.ok(primaryKind).filter(_.tag == "dedup").last.extra("pairs"), "count")) ++
      Catalog.searchFamilies.map(f => (s"query.$f.p50_s", Stats.median(latencies(log, _ == f)), "s"))
  }

  def layers(log: OpLog, tr: Tracer, ls: LayerListener): Map[String, Double] = {
    val m = Layers.median _
    val views = Catalog.searchFamilies.map { f =>
      f -> tr.spans.filter(_.name == s"search.$f").map(Layers.view(tr, ls, _)).toSeq
    }.toMap
    val all = views.values.flatten.toSeq
    val rows = log.ok(primaryKind).filter(_.tag != "dedup").map(_.extra("rows")).sum
    val blocksRead = all.map(_.blockRows).sum
    val verified = log.ok(primaryKind).filter(_.tag == "dedup").lastOption
      .map(_.extra("pairs")).getOrElse(0.0)
    Catalog.searchFamilies.flatMap { f =>
      val v = views(f)
      Seq(s"search.$f.p50_s" -> m(v.map(_.wall)),
        s"search.$f.jobs" -> m(v.map(_.jobs.toDouble)),
        s"search.$f.blocks_read" -> m(v.map(_.blockRows.toDouble)),
        s"search.$f.bytes_read" -> m(v.map(_.inputBytes.toDouble)))
    }.toMap ++ Map(
      "search.driver_frac" -> all.map(_.driver).sum / all.map(_.wall).sum,
      "search.rows_per_block_read" -> (if (blocksRead > 0) rows / blocksRead else 0.0),
      "index.build_s" -> Stats.median(indexBuild.toSeq),
      "index.bytes" -> indexBytes.toDouble) ++
      dedup.layers(tr, ls, verified)
  }
}
