package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.dedup.Dedup

/** Round-5 additions: SemDeDup-style semantic dedup over an embedding
  * column (planted-structure correctness; the value-for-value path is
  * the q_semantic_dedup oracle row).
  */
class SemanticDedupSpec extends SparkSpecBase {

  /** `n` vectors near `center` (tiny deterministic jitter) + the rest
    * far away on distinct axes.
    */
  private def df(rows: Seq[(Long, Array[Float])]) = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType), nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v.toSeq) }),
      schema)
  }

  private def axis(dim: Int, i: Int, scale: Float = 1f): Array[Float] = {
    val a = new Array[Float](dim); a(i) = scale; a
  }

  test("planted semantic clusters: min id survives, isolated points kept") {
    val dim = 8
    // cluster A: ids 10,11,12 all ≈ e0; cluster B: ids 20,21 ≈ e1;
    // isolated: ids 30 (e2), 31 (e3)
    def jitter(base: Array[Float], eps: Float, at: Int): Array[Float] = {
      val v = base.clone(); v(at) = v(at) + eps; v
    }
    val e0 = axis(dim, 0); val e1 = axis(dim, 1)
    val rows = Seq(
      10L -> e0, 11L -> jitter(e0, 0.05f, 4), 12L -> jitter(e0, -0.04f, 5),
      20L -> e1, 21L -> jitter(e1, 0.06f, 6),
      30L -> axis(dim, 2), 31L -> axis(dim, 3))
    // k=1: one cell — no boundary effects; threshold 0.9 separates the
    // planted clusters (within-cluster cos ≈ 0.998, cross ≈ 0)
    val out = Dedup.semanticDedup(df(rows), "id", "vec",
      threshold = 0.9, k = 1)
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 20L, 30L, 31L))
  }

  test("cell boundaries bound the comparison set (documented recall trade)") {
    val dim = 4
    // two far-apart clumps force k=2 k-means to split them; a planted
    // near-dup PAIR straddling nothing (both in one clump) is pruned,
    // while the clumps themselves never cross-compare
    val e0 = axis(dim, 0); val e1 = axis(dim, 1)
    val rows = Seq(
      1L -> e0, 2L -> { val v = e0.clone(); v(2) = 0.03f; v },
      5L -> e1, 6L -> { val v = e1.clone(); v(3) = 0.02f; v })
    val out = Dedup.semanticDedup(df(rows), "id", "vec",
      threshold = 0.9, k = 2)
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 5L))
  }

  test("no pairs above threshold -> everything survives") {
    val dim = 6
    val rows = (0 until 5).map(i => i.toLong -> axis(dim, i))
    val out = Dedup.semanticDedup(df(rows), "id", "vec",
      threshold = 0.5, k = 2)
    assert(out.count() == 5)
  }

  test("multi-probe p=2 recovers a boundary-straddling near-dup pair") {
    val dim = 4
    def unit(a: Float, b: Float, j: Float): Array[Float] = {
      val v = Array(a, b, j, 0f)
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val e0 = axis(dim, 0); val e1 = axis(dim, 1)
    // two clumps pin the k=2 centroids near e0/e1; the planted
    // near-dup pair (cos ≈ 0.999) sits between them with 300 argmin
    // on the e0 cell and 301 on the e1 cell — invisible at p=1
    val clumpA = (0 until 4).map(i =>
      (100L + i) -> { val v = e0.clone(); v(3) = 0.01f * i; v })
    val clumpB = (0 until 4).map(i =>
      (200L + i) -> { val v = e1.clone(); v(3) = 0.01f * i; v })
    val rows = clumpA ++ clumpB ++ Seq(
      300L -> unit(0.72f, 0.69f, 0.001f),
      301L -> unit(0.69f, 0.72f, -0.001f))
    val p1 = Dedup.semanticDedup(df(rows), "id", "vec",
      threshold = 0.97, k = 2, probes = 1)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(p1 == Seq(100L, 200L, 300L, 301L)) // pair straddles, missed
    val p2 = Dedup.semanticDedup(df(rows), "id", "vec",
      threshold = 0.97, k = 2, probes = 2)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(p2 == Seq(100L, 200L, 300L)) // runner-up cell meets the pair
    // assignTop contract: first element IS the argmin cell; distances
    // ascend, so p=1 semantics embed in the multi-probe assignment
    val idx = graft.sim.Ivf.train(df(rows), "vec", 2)
    val one = graft.sim.Ivf.assign(df(rows), "vec", idx)
      .select("id", "ivf_cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    graft.sim.Ivf.assignTop(df(rows), "vec", idx, 2)
      .select("id", "ivf_cells").collect().foreach { r =>
        val cs = r.getSeq[Int](1)
        assert(cs.length == 2 && cs.distinct.length == 2)
        assert(cs.head == one(r.getLong(0)))
      }
  }

  test("SemDeDup cross-cell recall on planted clusters >= 0.9") {
    val s = spark
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // 16 tight clusters on orthogonal axes (cross-cluster cosine ~ 0),
    // 5 members each — every true pair (>= 0.35) is within-cluster, so
    // cell assignment should capture nearly all of them
    val dim = 16
    val rows = for (c <- 0 until 16; m <- 0 until 5) yield {
      val v = new Array[Float](dim)
      v(c) = 1f
      v((c + 1) % dim) = 0.01f * m // tiny member jitter
      Row((c * 5 + m).toLong, v.toSeq)
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType), nullable = false)))
    val emb = s.createDataFrame(s.sparkContext.parallelize(rows), schema)
    val exact = graft.sim.Similarity.cosinePairsWithin(
      emb.withColumn("__all", org.apache.spark.sql.functions.lit(0)),
      "embedding", "vec_id", "__all", 0.35)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 16 * 10) // all within-cluster pairs found
    val idx = graft.sim.Ivf.train(emb, "embedding", 8)
    val cell = graft.sim.Ivf.assign(emb, "embedding", idx)
      .select("vec_id", "ivf_cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val captured = exact.count { case (a, b) => cell(a) == cell(b) }
    val recall = captured.toDouble / exact.size
    assert(recall >= 0.9, s"semdedup cross-cell recall $recall < 0.9")
  }
}
