package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-by-stage noop timing of the ExactSubstr trim pipeline:
  *   runMain graft.dedup.SubstrProbe <sfDir>
  * Times (cold, warm) each sub-plan of the production (non-portable)
  * substrDedupTrim at k=8 so the residual cost named in
  * OPTIMIZATION_r07.md ("Not yet optimized") is attributable to a
  * stage, not guessed.
  */
object SubstrProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.tools.Sessions.create("graft-substr-probe", defaultCpus = "32")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val k = 8

    def time(name: String)(mk: => DataFrame): Unit = {
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROBE $name%-28s cold=${ts(0)}%6.2fs warm=${ts(1)}%6.2fs")
    }

    // stage 0: raw corpus scan + tokenCount only (the floor)
    time("scan+tokencount") {
      docs.select(col("doc_id"), graft.text.TextOps.tokenCount(col("text")))
    }
    // stage 1: the map-side window-group kernel (scan + UDF + explode)
    val fn = udf((t: String) => Dedup.windowGroupKernel(t, k))
    def perDoc0 = docs.where(col("doc_id").isNotNull)
      .select(col("doc_id"), explode(fn(col("text"))).as("__g"))
      .select(col("doc_id"), col("__g._1").as("__wk"), col("__g._2").as("__poss"))
    time("windowGroups(kernel)")(perDoc0)
    // stage 2: + firsts aggregation (the key-count exchange)
    def perDoc = perDoc0
      .withColumn("__minp", element_at(col("__poss"), 1))
      .withColumn("__n", size(col("__poss")).cast("long"))
    def firsts = perDoc.groupBy(col("__wk"))
      .agg(min(struct(col("doc_id").as("id"), col("__minp").as("p"))).as("__first"),
        sum(col("__n")).as("__tot"))
      .where(col("__tot") >= 2)
      .select(col("__wk"), col("__first"))
    time("firsts(agg)")(firsts)
    // stage 3: + rejoin + per-doc dup rollup
    def dup = perDoc.join(firsts, "__wk")
      .select(col("doc_id"),
        when(col("doc_id") === col("__first")("id"),
          filter(col("__poss"), p => p =!= col("__first")("p")))
          .otherwise(col("__poss")).as("__dupp"))
      .where(size(col("__dupp")) > 0)
      .groupBy(col("doc_id"))
      .agg(sort_array(flatten(collect_list(col("__dupp")))).as("__dups"))
    time("dup(rejoin+rollup)")(dup)
    // stage 4: the full trim
    time("full trim")(Dedup.substrDedupTrim(docs, "doc_id", "text", k))
    // stage 5: full trim + the q_substr_trim projection incl tokenCounts
    time("full query body") {
      Dedup.substrDedupTrim(docs, "doc_id", "text", k)
        .select(col("doc_id"), col("text_dedup"),
          graft.text.TextOps.tokenCount(col("text")).as("n_before"),
          graft.text.TextOps.tokenCount(col("text_dedup")).as("n_after"))
        .orderBy("doc_id")
    }
    spark.stop()
  }
}
