package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class Env(spark: SparkSession, cores: Int, seed: Long, runDir: File)

/** One timed operation. `items` is the work it did (tokens,
  * requests); a failed operation keeps its time but counts no items.
  * `tag` tells operations of one kind apart (the request family).
  */
final case class Op(kind: String, seconds: Double, items: Long, ok: Boolean,
                    extra: Map[String, Double] = Map.empty, cpu: Double = 0.0, tag: String = "")

final class OpLog {
  val ops = mutable.ArrayBuffer[Op]()

  /** Runs `body`, which returns (seconds timed, items, passed check,
    * extras). An exception counts as a failed operation.
    */
  def record(kind: String, tag: String = "")(body: => (Double, Long, Boolean, Map[String, Double])): Op = {
    val t0 = System.nanoTime()
    val c0 = Workload.cpuNanos()
    val op =
      try {
        val (s, n, ok, ex) = body
        Op(kind, s, if (ok) n else 0L, ok, ex, (Workload.cpuNanos() - c0) / 1e9, tag)
      } catch {
        case NonFatal(e) =>
          System.err.println(s"perfbench: $kind $tag failed: $e")
          e.printStackTrace()
          Op(kind, (System.nanoTime() - t0) / 1e9, 0L, ok = false, tag = tag)
      }
    if (!op.ok) System.err.println(s"perfbench: $kind $tag failed its output check")
    ops += op
    op
  }

  def ok(kind: String): Seq[Op] = ops.filter(o => o.kind == kind && o.ok).toSeq
  def failed: Int = ops.count(!_.ok)
}

/** Order-insensitive fingerprint of a result: row count, xor and
  * modular sum of a 64-bit hash of every row.
  */
final case class Fp(rows: Long, xor: Long, sum: Long)

object Fp {
  def of(df: DataFrame): Fp = {
    val h = xxhash64(df.columns.map(c => df.col(c)).toIndexedSeq: _*)
    val r = df.select(h.as("__h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("__h")), lit(0L)),
        coalesce(sum(pmod(col("__h"), lit(1000000007L))), lit(0L)))
      .first()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

trait Workload {
  def name: String
  /** One complete set-up: generate the inputs (and any store) under `dir`. */
  def build(dir: File): Unit
  /** Adopt `dir`, built by [[build]], as the inputs and compute the
    * reference answers.
    */
  def prepare(dir: File): Unit
  /** Untimed operations before the timed region, so that JIT and code
    * generation are past their first, steepest part. A fixed count, not
    * a fixed time: a slow host then starts the timed region from the
    * same compiled state as a fast one.
    */
  def warmup(): Unit
  /** The timed region: operations until `seconds` have passed, each
    * followed by one of kind [[Workload.ControlKind]]: a job of the same
    * shape in plain Spark, never through graft, over the same input. An
    * operation's time relative to its control's cancels the speed of the
    * shared host, which drifts from minute to minute.
    */
  def measure(seconds: Double, tr: Option[Tracer], log: OpLog): Unit
  /** The kind of the timed operations; their controls are [[Workload.ControlKind]]. */
  def primaryKind: String
  /** Workload metrics under their descriptive names, from the untimed log. */
  def report(log: OpLog): Seq[(String, Double, String)]
  /** Per-layer metrics from the traced pass. */
  def layers(log: OpLog, tr: Tracer, ls: LayerListener): Map[String, Double]
}

object Workload {
  val ControlKind = "control"

  val names: Seq[String] = Seq("encode_roundtrip", "query_mix")

  def make(name: String, env: Env): Workload = name match {
    case "encode_roundtrip" => new EncodeRoundtrip(env)
    case "query_mix" => new QueryMix(env)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used, all threads. */
  def cpuNanos(): Long = os.getProcessCpuTime

  /** (steal, total) jiffies of the host's CPUs so far, from /proc/stat. */
  def hostJiffies(): (Long, Long) = {
    val f = new File("/proc/stat")
    if (!f.isFile) (0L, 0L)
    else {
      val cols = readLines(f).get.head.trim.split("\\s+").drop(1).map(_.toLong)
      (if (cols.length > 7) cols(7) else 0L, cols.sum)
    }
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def du(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)

  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
    ()
  }

  /** Runs the tasks on `threads` threads; results in task order. */
  def inParallel[T](threads: Int, tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      .map(_.get())
    finally pool.shutdown()
  }

  private val fresh = new java.util.concurrent.atomic.AtomicInteger()

  /** A path under the run directory that does not exist yet. */
  def freshDir(env: Env, prefix: String): File =
    new File(env.runDir, s"$prefix-${fresh.incrementAndGet()}")

  def writeLines(f: File, lines: Seq[String]): Unit = {
    val tmp = new File(f.getPath + ".tmp")
    java.nio.file.Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, f.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def readLines(f: File): Option[Seq[String]] =
    if (!f.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty))
}
