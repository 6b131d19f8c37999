package perfbench

import java.io.File
import scala.util.Random
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.synth.WebDocSynth

/** Seeded web pages: each is a `WebDocSynth` page plus a paragraph of
  * its own. Some pages are copies of another with a few words changed
  * (planted near-duplicate pairs); every tenth page carries one of a
  * few shared paragraphs (planted repeated spans).
  */
final class WebCorpus(seed: Long) {
  val Pages = 2000
  val Copies = 100
  val SpanEvery = 10
  val SpanWords = 40
  val Threshold = 0.7
  private val Vocab = 20000

  private def rng(id: Long, salt: Long) =
    new Random(graft.codec.Hash.splitmix64(seed ^ (id * 0x9E3779B97F4A7C15L) ^ salt))

  private def words(r: Random, n: Int): Seq[String] =
    Seq.fill(n)("w" + Integer.toString(r.nextInt(Vocab), 36))

  private val spans: IndexedSeq[String] =
    (0 until 5).map(i => words(rng(i, 0x5BA7L), SpanWords).mkString(" "))

  def hasSpan(id: Int): Boolean = id % SpanEvery == 0

  private def pageWords(id: Int): Seq[String] = {
    val r = rng(id, 0xD0CL)
    words(r, 80 + r.nextInt(60))
  }

  private def page(id: Int, own: Seq[String]): String =
    WebDocSynth.doc(id.toLong, seed).text + "\n" + own.mkString(" ") +
      (if (hasSpan(id)) "\n" + spans(id / SpanEvery % spans.length) else "")

  def pageId(id: Int): String = f"web-$id%08d"

  /** (copy id, id of the page it copies, text) with exact shingle
    * Jaccard at least 0.85, well above the 0.7 threshold, so a correct
    * near-duplicate search cannot miss it.
    */
  lazy val copies: Seq[(String, String, String)] = (0 until Copies).map { c =>
    val r = rng(c, 0xC0B1L)
    val src = r.nextInt(Pages)
    val own = pageWords(src)
    val edited = Iterator.continually {
      val w = own.toArray
      (0 until 1 + r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = words(r, 1).head)
      page(src, w.toSeq)
    }.find(t => WebCorpus.jaccard(t, page(src, own)) >= 0.85).get
    (f"dup-$c%06d", pageId(src), edited)
  }

  lazy val docs: Seq[(String, String)] =
    (0 until Pages).map(i => (pageId(i), page(i, pageWords(i)))) ++ copies.map(c => (c._1, c._3))

  /** Planted pairs as the search reports them: smaller id first. */
  lazy val planted: Set[(String, String)] =
    copies.map { case (c, s, _) => if (c < s) (c, s) else (s, c) }.toSet

  lazy val spanDocs: Set[String] = (0 until Pages).filter(hasSpan).map(pageId).toSet
}

object WebCorpus {
  /** Distinct lower-cased word 3-grams, as graft's shingling defines them. */
  def shingles(text: String): Set[String] = {
    val w = text.toLowerCase.split("[ \\t\\n\\x0B\\f\\r]+").filter(_.nonEmpty)
    w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val union = (x | y).size
    if (union == 0) 0.0 else (x & y).size.toDouble / union
  }
}

/** One dedup request: near-duplicate pairs, then their clusters, then
  * substring-duplicate statistics, over the seeded web pages, with
  * every answer checked against what the corpus planted.
  */
final class DedupPass(env: Env) {
  import Workload._
  private val corpus = new WebCorpus(env.seed)
  private val SubstrK = 8

  private var docsDir: String = _
  private lazy val texts: Map[String, String] = corpus.docs.toMap

  def pages: Int = texts.size

  def build(dir: File): Unit = {
    import env.spark.implicits._
    corpus.docs.toDF("doc_id", "text")
      .repartition(2 * env.cores).write.parquet(new File(dir, "docs").getPath)
  }

  private var controlRef: Fp = _

  def prepare(dir: File): Unit = docsDir = new File(dir, "docs").getPath

  private def docs: DataFrame = env.spark.read.parquet(docsDir)

  /** Plain Spark over the same pages: every word that two or more
    * pages share, with its page count.
    */
  private def shared: DataFrame =
    docs.select(explode(array_distinct(split(lower(col("text")), "\\s+"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("pages")).where(col("pages") > 1)

  /** The control's answer, computed once in set-up. */
  def prepareControl(): Unit = controlRef = Fp.of(shared)

  /** (seconds, passed) of the control: [[shared]], checked against
    * its answer in set-up.
    */
  def control(): (Double, Boolean) = {
    val (fp, s) = seconds(Fp.of(shared))
    (s, fp == controlRef)
  }

  /** (seconds, passed, verified pairs) of one pass. */
  def run(tr: Option[Tracer]): (Double, Boolean, Double) = {
    val spark = env.spark
    import spark.implicits._
    val d = docs
    val ((pairs, clusters, substr), s) = seconds(Tracer.span(tr, "dedup") {
      val pairs = Tracer.span(tr, "Dedup.minhashPairs") {
        Dedup.minhashPairs(d, "doc_id", "text", threshold = corpus.Threshold)
          .select("id_a", "id_b").as[(String, String)].collect()
      }
      val cc = Tracer.span(tr, "Dedup.connectedComponentsCounted") {
        Dedup.connectedComponentsCounted(pairs.toSeq.toDF("id_a", "id_b"))._1
          .select("id", "cluster").as[(String, String)].collect().toMap
      }
      val substr = Tracer.span(tr, "Dedup.substrDupStats") {
        Dedup.substrDupStats(d, "doc_id", "text", SubstrK)
          .select("doc_id", "dup_windows").as[(String, Long)].collect().toMap
      }
      (pairs, cc, substr)
    })
    val found = pairs.toSet
    val ok = corpus.planted.subsetOf(found) &&
      found.forall { case (a, b) => WebCorpus.jaccard(texts(a), texts(b)) >= corpus.Threshold } &&
      corpus.planted.forall { case (a, b) => clusters.get(a).exists(clusters.get(b).contains) } &&
      substr.size == texts.size &&
      corpus.spanDocs.forall(id => substr(id) >= corpus.SpanWords - SubstrK + 1)
    (s, ok, pairs.length.toDouble)
  }

  /** The `dedup.*` layer from the traced passes; `verified` is the
    * pair count of a passing one.
    */
  def layers(tr: Tracer, ls: LayerListener, verified: Double): Map[String, Double] = {
    val m = Layers.median _
    def wall(n: String) = m(tr.spans.filter(_.name == n).map(_.seconds).toSeq)
    val candidates = Dedup.minhashCandidates(docs, "doc_id", "text", threshold = corpus.Threshold).count()
    Map(
      "dedup.minhash_s" -> wall("Dedup.minhashPairs"),
      "dedup.candidate_pairs" -> candidates.toDouble,
      "dedup.verified_pairs" -> verified,
      "dedup.verify_yield" -> (if (candidates > 0) verified / candidates else 0.0),
      "dedup.cc_s" -> wall("Dedup.connectedComponentsCounted"),
      "dedup.substr_s" -> wall("Dedup.substrDupStats"),
      "dedup.shuffle_bytes" -> m(tr.spans.filter(_.name == "dedup")
        .map(s => Layers.view(tr, ls, s).shuffleWrite.toDouble).toSeq))
  }
}
