package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Per-query timing and plan dumps of the SparkEntry queries — the
  * iterate-fast complement to the full Bench:
  *   runMain graft.tools.QueryProbe <time|plan|final> <sfDir> [q,...]
  *
  *  - `time`:  runs each query twice and prints one `QTIME` line with
  *             the cold and warm seconds.
  *  - `plan`:  prints the formatted pre-execution physical plan —
  *             pushed filters, read schemas, exchanges and codegen
  *             spans (PlanSpec asserts the load-bearing ones).
  *  - `final`: executes the query and prints its final adaptive plan,
  *             where the runtime stage reuse and coalescing that AQE
  *             hides before execution are visible.
  *
  * Without a query list every query runs, in name order.
  * SPARK_GRAFT_BENCH_MODE=1 runs the bench mode (`benchQueries`): the
  * same query bodies with the oracle switch off, so nothing is dumped.
  */
object QueryProbe {
  private val Modes = Set("time", "plan", "final")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Modes(args(0)),
      "usage: QueryProbe <time|plan|final> <sfDir> [q,...]")
    val mode = args(0)
    val sfDir = args(1)
    // building a query in oracle mode already writes its side-channel
    // dumps (they are eager; bench mode dumps nothing), and both modes
    // write signature/shingle stages and the encoded stores there, so
    // keep them away from Verify's oracle side files; the dir goes
    // when the probe ends
    val side = java.nio.file.Files.createTempDirectory("graft-qprobe-side").toFile
    sys.props("graft.side.dir") = side.toString
    val spark = Sessions.create("graft-qprobe", defaultCpus = "32",
      shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try probe(spark, mode, sfDir, args.drop(2).headOption)
    finally {
      spark.stop()
      graft.encode.TokenEncoder.rmTree(side)
    }
  }

  private def probe(spark: org.apache.spark.sql.SparkSession, mode: String,
                    sfDir: String, only: Option[String]): Unit = {
    val qmap = if (sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("1"))
      graft.SparkEntry.benchQueries else graft.SparkEntry.queries
    val names = only.fold(qmap.keys.toSeq.sorted)(_.split(",").toSeq)
    val unknown = names.filterNot(qmap.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    names.foreach { n =>
      val fn = qmap(n)
      mode match {
        case "time" =>
          val times = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            // toRdd, not count(): count() injects an aggregate that lets
            // Catalyst prune the very expressions being timed (same
            // methodology as the official Bench)
            fn(spark, sfDir).queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"QTIME $n%-24s cold=${times(0)}%7.2fs warm=${times(1)}%7.2fs")
        case "plan" =>
          print(s"\n===== $n =====\n")
          try print(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
          catch { case e: Throwable => print(s"(explain failed: ${e.getMessage})\n") }
        case "final" =>
          print(s"\n===== $n =====\n")
          try {
            val df = fn(spark, sfDir)
            df.queryExecution.toRdd.count()
            print(df.queryExecution.executedPlan.toString)
          } catch { case e: Throwable => print(s"(failed: ${e.getMessage})\n") }
      }
    }
  }
}
