package perfbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One traced interval. Ops and passes are recorded by the harness around
  * calls into graft's public functions; jobs are recorded by [[Tracer]]
  * from the scheduler. `parent` is the id of the enclosing span. */
final case class Span(id: String, name: String, kind: String, parent: String,
    startMs: Long, endMs: Long) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Stage-level counters, summed over the stage's tasks. */
final case class StageStats(shuffleReadB: Long, shuffleWriteB: Long,
    spillB: Long, gcMs: Long, tasks: Int, taskMs: Seq[Long])

/** A finished Spark job attributed to an op (through the job group the
  * harness sets around each call) and to a layer (through its call site).
  */
final case class JobRec(id: Int, group: String, layer: String,
    callSite: String, startMs: Long, endMs: Long, stages: Seq[StageStats]) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** Layer attribution from a job's call site. Spark reports as call site
  * the innermost frame outside its own packages, so the first `graft.`
  * frame of the long form names the program function that ran the job:
  *
  *   - `graft.sources.SnapshotTable` -> `sources.validate` when the frame
  *     chain passes through `validate`, else `sources.commit`;
  *   - `graft.pregel.Iterate` -> `pregel.materialize` for its
  *     `localCheckpoint` lineage cuts, `pregel.converge` for the
  *     convergence `agg`/`head` actions;
  *   - `graft.graph.SimpleGraph` / `graft.graph.EdgeBlocks` ->
  *     `graph.prepare` (the memoized edge partitioning and CSR packing);
  *   - `graft.graphbuild.` -> `graphbuild`;
  *   - any other `graft.` frame -> `app` (the algorithm's own actions);
  *   - a `perfbench.` frame only -> `harness` (the checksum actions);
  *   - neither -> `broadcast`: Spark collects a broadcast join's small
  *     side on its own thread pool, so the job carries no caller frame
  *     (the job group still names the op).
  */
object Layers {
  def of(shortForm: String, longForm: String): String = {
    val frames = longForm.linesIterator.map(_.trim)
      .filter(_.startsWith("graft.")).toSeq
    frames.headOption match {
      case None =>
        if (longForm.contains("perfbench.")) "harness" else "broadcast"
      case Some(f) if f.startsWith("graft.sources.SnapshotTable") =>
        if (frames.exists(_.contains("SnapshotTable$.validate")))
          "sources.validate"
        else "sources.commit"
      case Some(f) if f.startsWith("graft.pregel.Iterate") =>
        if (shortForm.startsWith("localCheckpoint")) "pregel.materialize"
        else "pregel.converge"
      case Some(f) if f.startsWith("graft.graph.SimpleGraph") ||
          f.startsWith("graft.graph.EdgeBlocks") => "graph.prepare"
      case Some(f) if f.startsWith("graft.graphbuild.") => "graphbuild"
      case Some(_) => "app"
    }
  }
}

/** A SparkListener that keeps every job, its stages' counters and its task
  * durations in memory. Installed only in traced runs. */
final class Tracer extends SparkListener {
  private final class Open(val id: Int, val group: String, val layer: String,
      val callSite: String, val startMs: Long, val stageIds: Seq[Int])

  private val open = mutable.Map[Int, Open]()
  private val stageDone = mutable.Map[Int, StageStats]()
  private val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val done = mutable.ArrayBuffer[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    // The result stage is created last; its call site is the action's.
    val last = e.stageInfos.maxBy(_.stageId)
    open(e.jobId) = new Open(e.jobId, group, Layers.of(last.name, last.details),
      last.name, e.time, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
        e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stageDone(i.stageId) =
        if (m == null) StageStats(0, 0, 0, 0, i.numTasks, Nil)
        else StageStats(m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime,
          i.numTasks, taskMs.remove(i.stageId).map(_.toSeq).getOrElse(Nil))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      // Stages skipped because an earlier job already computed their
      // shuffle output never complete and carry no counters.
      done += JobRec(o.id, o.group, o.layer, o.callSite, o.startMs, e.time,
        o.stageIds.flatMap(stageDone.remove))
    }
  }

  def jobs: Seq[JobRec] = synchronized(done.toSeq)
  def openJobs: Int = synchronized(open.size)
}
