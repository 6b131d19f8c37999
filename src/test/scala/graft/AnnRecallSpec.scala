package graft

/** Measured ANN recall@10 at the DEFAULT settings Bench reports.
  *
  * Planted near-dup structure (each query's true neighbors at cosine
  * ~0.999 — the regime the pipeline uses ANN for) must give >= 0.9
  * recall. On isotropic random vectors no sublinear index can do
  * well (mean true-neighbor cosine ~0.35 => sign-LSH same-bucket
  * probability ~0.61^nPlanes); there the honest claim is
  * CONCENTRATION — recall strictly above the scanned fraction, which
  * is exactly the recall a random subset of the same size would get.
  */
class AnnRecallSpec extends SparkSpecBase {
  import graft.sim.{Ivf, Recall, Similarity}
  import org.apache.spark.sql.functions._

  private val dim = 64

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  private def randVec(rng: scala.util.Random): Array[Float] =
    unit(Array.fill(dim)(rng.nextGaussian().toFloat))

  test("ANN recall@10 >= 0.9 at default settings on planted near-dup clusters") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(42)
    val bases = (0 until 60).map(_ => randVec(rng))
    val rows = for {
      b <- bases.indices
      c <- 0 until 10
    } yield {
      val noisy = bases(b).map(x => x + (rng.nextGaussian() * 0.02).toFloat)
      ((b * 10 + c).toLong, unit(noisy).toSeq)
    }
    val corpus = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .cache()
    val queries = bases.take(24).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val truth = Recall.truthAtK(corpus, "embedding", "vec_id", queries, 10)

    val lshGot = queries.map { case (qid, qv) =>
      qid -> Similarity.annTopK(corpus, "embedding", "vec_id", qv, 10)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    }.toMap
    val lshRecall = Recall.recallOf(truth, lshGot)
    assert(lshRecall >= 0.9, s"LSH recall@10 = $lshRecall at defaults")

    val idx = Ivf.train(corpus, "embedding")
    val assigned = Ivf.assign(corpus, "embedding", idx).cache()
    val ivfGot = Ivf.searchBatch(assigned, "embedding", "vec_id", idx, queries, 10)
      .select(col("qid"), col("vec_id").cast("long").as("id"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val ivfRecall = Recall.recallOf(truth, ivfGot)
    assert(ivfRecall >= 0.9, s"IVF recall@10 = $ivfRecall at defaults")
    assigned.unpersist(); corpus.unpersist()
  }

  test("multi-probe radius trades scan fraction for recall monotonically") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    val rows = (0 until 400).map(i => (i.toLong, randVec(rng).toSeq))
    val corpus = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .cache()
    val queries = rows.take(12).map { case (i, v) => (i, v.toArray) }
    val truth = Recall.truthAtK(corpus, "embedding", "vec_id", queries, 10)
    val nPlanes = 6
    val recalls = (0 to 2).map { radius =>
      val got = queries.map { case (qid, qv) =>
        qid -> Similarity.annTopK(corpus, "embedding", "vec_id", qv, 10,
            nPlanes = nPlanes, probeRadius = radius)
          .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
      }.toMap
      Recall.recallOf(truth, got)
    }
    assert(recalls(0) <= recalls(1) && recalls(1) <= recalls(2),
      s"recall must grow with radius: $recalls")
    // radius = nPlanes probes every bucket => identical to brute force
    val full = queries.map { case (qid, qv) =>
      qid -> Similarity.annTopK(corpus, "embedding", "vec_id", qv, 10,
          nPlanes = nPlanes, probeRadius = nPlanes)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    }.toMap
    assert(Recall.recallOf(truth, full) == 1.0)
    corpus.unpersist()
  }

  test("ANN on random vectors still concentrates: recall > scanned fraction") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0 until 500).map(i => (i.toLong, randVec(rng).toSeq))
    val corpus = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .cache()
    val queries = rows.take(16).map { case (i, v) => (i, v.toArray) }
    val truth = Recall.truthAtK(corpus, "embedding", "vec_id", queries, 10)
    val got = queries.map { case (qid, qv) =>
      qid -> Similarity.annTopK(corpus, "embedding", "vec_id", qv, 10)
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
    }.toMap
    val recall = Recall.recallOf(truth, got)
    val frac = queries.map { case (_, qv) =>
      Similarity.annScan(corpus, "embedding", qv).count().toDouble / 500
    }.sum / queries.size
    assert(recall > frac,
      s"recall $recall should beat the random-scan floor $frac")
    corpus.unpersist()
  }
}
