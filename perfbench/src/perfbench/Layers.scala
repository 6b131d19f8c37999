package perfbench

/** What the listener saw inside one span (and the spans nested in
  * it): wall time, Spark jobs, time no job covered, summed task
  * metrics.
  */
final case class SpanView(wall: Double, jobs: Int, driver: Double,
                          taskSec: Double, gcSec: Double,
                          shuffleWrite: Long, shuffleRead: Long,
                          inputBytes: Long, outputBytes: Long,
                          blockRows: Long)

/** The four steps of `TokenEncoder.run`, told apart by stage metrics
  * because AQE gives most stages the same call-site name:
  *  - plan: jobs that finished before the encode shuffle began (the
  *    partition-plan sample);
  *  - shuffle map: the stage writing the most shuffle bytes (scan,
  *    pack, shuffle write);
  *  - assemble/write: the stage that reads a shuffle and writes the
  *    most output (block fill, codec, parquet write);
  *  - commit: jobs started after that stage ended (lineage, markers,
  *    readback).
  * Seconds not covered by any job are driver time; `attributed`
  * leaves it out, so it is the share the four steps explain.
  */
final case class EncodeSplit(wall: Double, plan: Double, shuffleMap: Double,
                             assembleWrite: Double, commit: Double,
                             driver: Double, jobs: Int, shuffleBytes: Long,
                             assembleTaskSec: Double, taskSec: Double) {
  def attributed: Double = plan + shuffleMap + assembleWrite + commit
}

object Layers {

  private def jobIntervals(tr: Tracer, ls: LayerListener, s: Span): Seq[(Double, Double)] =
    ls.jobsIn(tr.subtree(s.id)).map { j =>
      (math.max(j.start, s.start), math.min(if (j.end.isNaN) s.end else j.end, s.end))
    }

  def view(tr: Tracer, ls: LayerListener, s: Span): SpanView = {
    val js = ls.jobsIn(tr.subtree(s.id))
    val st = ls.stagesOf(js)
    SpanView(
      wall = s.seconds,
      jobs = js.size,
      driver = Stats.uncovered((s.start, s.end), jobIntervals(tr, ls, s)) / 1000.0,
      taskSec = st.map(_.runMs).sum / 1000.0,
      gcSec = st.map(_.gcMs).sum / 1000.0,
      shuffleWrite = st.map(_.shuffleWrite).sum,
      shuffleRead = st.map(_.shuffleRead).sum,
      inputBytes = st.map(_.inputBytes).sum,
      outputBytes = st.map(_.outputBytes).sum,
      blockRows = st.map(_.blockRows).sum)
  }

  def encodeSplit(tr: Tracer, ls: LayerListener, s: Span): EncodeSplit = {
    val js = ls.jobsIn(tr.subtree(s.id))
    val st = ls.stagesOf(js).filter(_.tasks > 0)
    val shuffleMap = st.filter(_.shuffleWrite > 0).sortBy(-_.shuffleWrite).headOption
    val assemble = st.filter(a => a.shuffleRead > 0 && a.outputBytes > 0)
      .sortBy(-_.outputBytes).headOption
    val iv = jobIntervals(tr, ls, s)
    val mapStart = shuffleMap.map(_.first).getOrElse(s.end)
    val asmEnd = assemble.map(_.last).getOrElse(s.end)
    val union = (xs: Seq[(Double, Double)]) => Stats.unionLength(xs) / 1000.0
    EncodeSplit(
      wall = s.seconds,
      plan = union(iv.filter(_._2 <= mapStart)),
      shuffleMap = shuffleMap.map(_.seconds).getOrElse(0.0),
      assembleWrite = assemble.map(_.seconds).getOrElse(0.0),
      commit = union(iv.filter(_._1 >= asmEnd)),
      driver = Stats.uncovered((s.start, s.end), iv) / 1000.0,
      jobs = js.size,
      shuffleBytes = shuffleMap.map(_.shuffleWrite).getOrElse(0L),
      assembleTaskSec = assemble.map(_.runMs / 1000.0).getOrElse(0.0),
      taskSec = st.map(_.runMs).sum / 1000.0)
  }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** The `encode.*` layer: medians over the traced encode runs. */
  def encode(splits: Seq[EncodeSplit], tokens: Long, blocks: Double,
             cores: Int): Map[String, Double] = {
    val m = (f: EncodeSplit => Double) => median(splits.map(f))
    Map(
      "encode.wall_s" -> m(_.wall),
      "encode.plan_s" -> m(_.plan),
      "encode.shuffle_map_s" -> m(_.shuffleMap),
      "encode.shuffle_bytes_per_tok" -> m(_.shuffleBytes.toDouble / tokens),
      "encode.assemble_write_s" -> m(_.assembleWrite),
      "encode.busy_frac" -> m(s => s.taskSec / (s.wall * cores)),
      "encode.commit_s" -> m(_.commit),
      "encode.driver_s" -> m(_.driver),
      "encode.jobs" -> m(_.jobs.toDouble),
      "encode.blocks" -> blocks,
      "encode.tok_per_block" -> (if (blocks > 0) tokens / blocks else 0.0),
      "encode.attributed_frac" -> m(s => s.attributed / s.wall))
  }
}
