package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable
import scala.util.control.NonFatal

/** What one op returns: the result frame (kept for the first pass's
  * checks), a checksum computed by the op's final action, and the number
  * of supersteps it ran (0 for non-iterative ops). */
final case class Out(result: DataFrame, checksum: Seq[Double],
    rounds: Int = 0)

/** A timed op, as the closed loop saw it. A failed op (it threw) keeps
  * its span but has no result: `out` is [[Out.failed]]. */
final case class OpRun(name: String, span: Span, out: Out) {
  def failed: Boolean = out eq Out.failed
}

object Out {
  val failed: Out = Out(null, Nil)
}

/** The single client of the closed loop: it owns the session, issues one
  * op at a time on the driver thread, times it from outside and, in a
  * traced run, tags its Spark jobs with a job group named after the op
  * span so [[Tracer]] can attribute them. */
final class Harness(val work: Path, val traced: Boolean, val runId: String) {

  val cores: Int = Runtime.getRuntime.availableProcessors()
  var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private val allJobs = mutable.ArrayBuffer[JobRec]()
  val spans = mutable.ArrayBuffer[Span]()
  val failedOps = mutable.LinkedHashMap[String, String]()
  var attempted = 0
  private var parent = runId
  private var seq = 0

  def dir(name: String): Path = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p
  }

  /** A fresh single-process session: local[cores], shuffle partitions =
    * cores, AQE off (SimpleGraph.preparedEdges relies on the cached
    * partitioning surviving into every superstep's plan). */
  def startSession(): SparkSession = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$runId")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) attach()
    spark
  }

  def stopSession(): Unit =
    if (spark != null) {
      detach()
      spark.stop()
      spark = null
    }

  /** Install the listener; its jobs are harvested on [[detach]]. */
  def attach(): Unit =
    if (tracer.isEmpty) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      tracer = Some(t)
    }

  /** Remove the listener once the asynchronous listener bus has delivered
    * every event of the finished jobs. */
  def detach(): Unit = tracer.foreach { t =>
    val deadline = System.nanoTime() + 3000000000L
    var last = -1
    while ((t.openJobs > 0 || t.jobs.size != last) &&
        System.nanoTime() < deadline) {
      last = t.jobs.size
      Thread.sleep(50)
    }
    spark.sparkContext.removeSparkListener(t)
    allJobs ++= t.jobs
    tracer = None
  }

  def jobs: Seq[JobRec] = allJobs.toSeq

  private def nextId(name: String): String = {
    seq += 1
    s"$parent/$name.$seq"
  }

  /** A span around `body` whose ops become its children. */
  def group[T](name: String, kind: String)(body: => T): (T, Span) = {
    val id = nextId(name)
    val saved = parent
    parent = id
    val t0 = System.currentTimeMillis()
    try {
      val r = body
      val s = Span(id, name, kind, saved, t0, System.currentTimeMillis())
      spans += s
      (r, s)
    } finally parent = saved
  }

  /** One op of the closed loop. An op that throws is recorded as failed,
    * with its time up to the throw, and the loop goes on: later ops and
    * checks that need its result skip it or fail in turn. */
  def op(name: String)(body: => Out): OpRun = {
    val id = nextId(name)
    attempted += 1
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    val out =
      try body
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          failedOps(id) = s"$name threw ${e.getClass.getSimpleName}: " +
            e.getMessage
          Out.failed
      } finally sc.clearJobGroup()
    val ms = (System.nanoTime() - t0) / 1000000
    val s = Span(id, name, "op", parent, w0, w0 + ms)
    spans += s
    OpRun(name, s, out)
  }

  /** Record a failed correctness check against the op that produced it. */
  def check(run: OpRun, ok: => Boolean, what: => String): Unit =
    if (!run.failed && !ok && !failedOps.contains(run.span.id))
      failedOps(run.span.id) = s"${run.name}: $what"

  /** Bytes the block manager holds for live cached RDDs. Blocks of
    * superstep states no longer referenced stay until the ContextCleaner
    * sees them collected, so collect first and wait for the count to
    * settle; otherwise the figure depends on when the JVM last ran a GC. */
  def cachedBytes: Long = {
    def now = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    System.gc()
    var last = -1L
    var cur = now
    var tries = 0
    while (cur != last && tries < 20) {
      Thread.sleep(200)
      last = cur
      cur = now
      tries += 1
    }
    cur
  }
}

/** File-tree helpers for pass directories. */
object Fs {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.delete(q))
      finally s.close()
    }

  /** (files, bytes) under `p`, counting only names that pass `keep`. */
  def usage(p: Path, keep: String => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        var n, b = 0L
        s.filter(q => Files.isRegularFile(q) && keep(q.getFileName.toString))
          .forEach { q => n += 1; b += Files.size(q) }
        (n, b)
      } finally s.close()
    }
}
