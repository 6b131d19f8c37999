package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all Spark-touching specs (one JVM,
  * one session — sbt forks a single test JVM).
  */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  /** A fresh temp dir, removed when the test JVM exits. */
  def tmpDir(prefix: String): String = SparkSpecBase.tmpDir(prefix)
  def dirSize(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else if (f.isDirectory) f.listFiles().map(c => dirSize(c.getPath)).sum
    else 0L
  }

  /** Spark jobs launched by `body`. The listener counts jobs carrying a
    * per-call local property (broadcast threads inherit it); a marker
    * job run afterwards drains the asynchronous listener bus — its
    * start event is delivered after every event `body` posted.
    */
  protected def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobs"
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case `tag` => n.incrementAndGet(); ()
          case v if v == s"$tag-marker" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, s"$tag-marker")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    n.get
  }
}

object SparkSpecBase {
  // every dir tmpDir made, the side dir included; one shutdown hook
  // removes them all
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  sys.addShutdownHook(
    made.forEach(d => graft.encode.TokenEncoder.rmTree(new java.io.File(d))))

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    made.add(d)
    d
  }

  // tests exercising SparkEntry queries must not clobber the oracle
  // side-channel a pending Verify->DuckDB compare may still read
  sys.props("graft.side.dir") = tmpDir("graft-test-side")

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
