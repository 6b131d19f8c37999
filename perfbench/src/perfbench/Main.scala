package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up, warm up, measure one workload for a
  * fixed time with tracing off, and with `--trace 1` measure it again
  * traced. Prints a report line of the workload's own metrics and then,
  * last, the result line: {"correct", "attempted", "failed", "metrics"}.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. The session start and
    * the first, cold set-up are reported beside it (`session_s`,
    * `setup_cold_s`): they mostly measure the JVM and the host.
    */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, trace,
      new File(get("work")).getAbsoluteFile)
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.names.contains(a.workload),
      s"unknown workload '${a.workload}' (one of ${Workload.names.mkString(", ")})")
    require(a.seconds > 0, "--seconds must be positive")
    val code = try run(a) catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run failed: $e")
        e.printStackTrace()
        1
    }
    sys.exit(code)
  }

  private def run(a: Args): Int = {
    val cores = Runtime.getRuntime.availableProcessors
    val runDir = new File(a.work, s"run-${ProcessHandle.current().pid()}")
    Workload.rm(runDir)
    runDir.mkdirs()
    val (spark, sessionS) = Workload.seconds(session(cores, a.work))
    try {
      val env = Env(spark, cores, a.seed, runDir)
      val wl = Workload.make(a.workload, env)

      // set-up, several times; the first build is the run's input
      val input = new File(runDir, "setup-0")
      val setups = (0 until SetupReps).map { i =>
        val d = new File(runDir, s"setup-$i")
        val s = Workload.seconds(wl.build(d))._2
        if (i > 0) Workload.rm(d)
        s
      }
      val setupS = Stats.median(setups)
      val prepS = Workload.seconds(wl.prepare(input))._2

      val warmS = Workload.seconds(wl.warmup())._2
      val ((kEnc, kDec), kernelS) = Workload.seconds(Kernel.yardstick())
      System.err.println(f"perfbench: session $sessionS%.2fs, set-ups ${setups.map(x => f"$x%.2f").mkString(" ")}s, " +
        f"references $prepS%.2fs, warm-up $warmS%.2fs, yardstick $kernelS%.2fs")

      val log = new OpLog
      val (steal0, total0) = Workload.hostJiffies()
      wl.measure(a.seconds, None, log)
      val (steal1, total1) = Workload.hostJiffies()
      val stealFrac = (steal1 - steal0).toDouble / math.max(1L, total1 - total0)
      val e2e = endToEnd(wl, log, setupS)
      System.err.println(f"perfbench: host steal $stealFrac%.3f, timed operations (wall/cpu s): " +
        log.ops.map(o => f"${o.kind}${if (o.tag.isEmpty) "" else "." + o.tag}=${o.seconds}%.3f/${o.cpu}%.3f")
          .mkString(" "))

      val (resultMetrics, tracedOps) =
        if (a.trace) tracedPass(a, env, wl, e2e, (kEnc, kDec)) else (e2e, Nil)
      val all = log.ops.toSeq ++ tracedOps

      val report = Seq(("setup_s", setupS, "s"), ("session_s", sessionS, "s"),
        ("setup_cold_s", sessionS + setups.head, "s"),
        ("ops_failed_frac", log.failed.toDouble / log.ops.size, "ratio"),
        ("codec.kernel_encode_tok_per_s", kEnc, "tok/s"), ("codec.kernel_decode_tok_per_s", kDec, "tok/s"),
        ("host_steal_frac", stealFrac, "frac"),
        ("op_cpu_s", Stats.median(log.ok(wl.primaryKind).map(_.cpu)), "s"),
        ("cores", cores.toDouble, "count")) ++
        e2e.filterNot(_._1 == "setup_s") ++ absolute(wl, log) ++ wl.report(log)
      println("perfbench-report " + Json.obj(Seq(
        "workload" -> Json.str(wl.name), "seed" -> a.seed.toString,
        "metrics" -> Json.metrics(report.filterNot(_._2.isNaN)))))

      val failed = all.count(!_.ok)
      println(Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> all.size.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.metrics(resultMetrics))))
      0
    } finally {
      spark.stop()
      Workload.rm(runDir)
    }
  }

  /** Every operation with the control that ran right after it. */
  private def paired(wl: Workload, log: OpLog): Seq[(Op, Op)] =
    log.ops.zip(log.ops.drop(1)).collect {
      case (o, c) if o.kind == wl.primaryKind && c.kind == Workload.ControlKind => (o, c)
    }.toSeq

  /** The result line's metrics: `latency_rel` is each operation's time
    * over its control's, as a median per kind of operation (the request
    * family), then a geometric mean over the kinds, so every kind weighs
    * the same however many of it a run made.
    */
  private def endToEnd(wl: Workload, log: OpLog, setupS: Double): Seq[(String, Double, String)] = {
    val ok = paired(wl, log).filter { case (o, c) => o.ok && c.ok }
    require(ok.nonEmpty, s"no ${wl.primaryKind} operation and its control passed their checks")
    val perKind = ok.groupBy(_._1.tag).values.map(ps => Stats.median(ps.map { case (o, c) => o.seconds / c.seconds }))
    val units = Catalog.endToEnd.toMap
    Seq(
      ("setup_s", setupS, units("setup_s")),
      ("latency_rel", math.exp(perKind.map(math.log).sum / perKind.size), units("latency_rel")))
  }

  /** The operations' own times, for the report line. */
  private def absolute(wl: Workload, log: OpLog): Seq[(String, Double, String)] = {
    val primary = log.ops.filter(_.kind == wl.primaryKind)
    Seq(
      ("op_p50_s", Stats.median(log.ok(wl.primaryKind).map(_.seconds)), "s"),
      ("items_per_s", primary.map(_.items).sum / primary.map(_.seconds).sum, "items/s"),
      ("control_p50_s", Stats.median(log.ok(Workload.ControlKind).map(_.seconds)), "s"))
  }

  /** The same measurement with spans and the listener on; returns the
    * per-layer metrics and the operations of the traced pass. The
    * tracing overhead is the traced value minus the untraced one.
    */
  private def tracedPass(a: Args, env: Env, wl: Workload, untraced: Seq[(String, Double, String)],
                         kernel: (Double, Double)): (Seq[(String, Double, String)], Seq[Op]) = {
    val sc = env.spark.sparkContext
    val tr = new Tracer(sc, s"${wl.name}-${a.seed}-${ProcessHandle.current().pid()}")
    val ls = new LayerListener(tr)
    sc.addSparkListener(ls)
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    val log = new OpLog
    wl.measure(a.seconds, Some(tr), log)
    val heapPeak = pools.map(_.getPeakUsage.getUsed).sum / 1e6
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(ls)

    val before = untraced.map(m => m._1 -> m._2).toMap
    val tracedE2e = endToEnd(wl, log, before("setup_s"))
    val traced = tracedE2e.map(m => m._1 -> m._2).toMap
    val tops = tr.spans.filter(_.parent < 0).toSeq
    val views = tops.map(Layers.view(tr, ls, _))
    val measured = wl.layers(log, tr, ls) ++ Map(
      "codec.kernel_encode_tok_per_s" -> kernel._1,
      "codec.kernel_decode_tok_per_s" -> kernel._2,
      "spark.gc_frac" -> views.map(_.gcSec).sum / math.max(1e-9, views.map(_.taskSec).sum),
      "spark.jobs" -> views.map(_.jobs).sum.toDouble / math.max(1, log.ops.count(_.kind != Workload.ControlKind)),
      "spark.heap_peak_mb" -> heapPeak,
      "trace.overhead.latency_rel" -> (traced("latency_rel") - before("latency_rel")))
    val layers = Catalog.perLayer.map { case (n, u) => (n, measured.getOrElse(n, 0.0), u) }

    val out = new File(a.work, "out")
    out.mkdirs()
    val stem = s"${wl.name}-seed${a.seed}"
    Workload.writeLines(new File(out, s"$stem.spans.jsonl"), tr.toJsonLines)
    Workload.writeLines(new File(out, s"$stem.layers.json"), Seq(Json.obj(Seq(
      "workload" -> Json.str(wl.name), "seed" -> a.seed.toString, "run_id" -> Json.str(tr.runId),
      "untraced" -> Json.metrics(untraced),
      "traced" -> Json.metrics(tracedE2e),
      "layers" -> Json.metrics(layers),
      "other_layers" -> Json.metrics(measured.toSeq.sorted
        .collect { case (n, v) if !Catalog.perLayer.exists(_._1 == n) => (n, v, "") })))))
    (layers, log.ops.toSeq)
  }
}
