package perfbench

/** End-to-end aggregates over the warm passes, and the per-layer metrics
  * of a traced run, computed from the op spans and the attributed jobs. */
final class Metrics(h: Harness, b: Built, reps: Seq[Main.Rep]) {
  private val MB = 1024.0 * 1024.0
  private val jobsByGroup = h.jobs.groupBy(_.group)
  private def jobsOf(s: Span): Seq[JobRec] = jobsByGroup.getOrElse(s.id, Nil)

  def opMedian(n: String): Double =
    Stats.median(reps.flatMap(_.ops.filter(_.name == n).map(_.span.seconds)))

  /** Edge visits per second over the pass's PageRank and WCC supersteps:
    * edges x rounds / time, with `edges` the graph's edge rows. */
  def edgesPerSec: Double = Stats.median(reps.map { r =>
    val it = r.ops.filter(o => o.name == "pagerank" || o.name == "wcc")
    b.edges.toDouble * it.map(_.out.rounds).sum / it.map(_.span.seconds).sum
  })

  /** Op wall time covered by none of its jobs: Catalyst planning, driver
    * loops and result handling. */
  def unattributed(s: Span): Double = {
    val iv = jobsOf(s).map(j =>
      (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, z) => z > a }.sortBy(_._1)
    var covered, end = 0L
    var start = -1L
    iv.foreach { case (a, z) =>
      if (start < 0 || a > end) {
        if (start >= 0) covered += end - start
        start = a; end = z
      } else end = math.max(end, z)
    }
    if (start >= 0) covered += end - start
    s.seconds - covered / 1000.0
  }

  /** Per-round wall times: a round ends with the last superstep-layer job
    * (lineage cut, convergence check, durable commit) before the next
    * round's lineage cut; the first cut is the initial state's. */
  def roundTimes(s: Span): Seq[Double] = {
    val js = jobsOf(s).sortBy(_.startMs)
    val cuts = js.filter(_.layer == "pregel.materialize").map(_.startMs)
    val ends = cuts.indices.map { i =>
      val hi = if (i + 1 < cuts.size) cuts(i + 1) else Long.MaxValue
      js.filter(j => j.startMs >= cuts(i) && j.startMs < hi &&
          (j.layer.startsWith("pregel.") || j.layer.startsWith("sources.")))
        .map(_.endMs).max
    }
    ends.sliding(2).collect { case Seq(a, z) => (z - a) / 1000.0 }.toSeq
  }

  private def sumLayer(js: Seq[JobRec], layer: String): Double =
    js.filter(_.layer == layer).map(_.seconds).sum

  def layers(setup: Span, first: Span, graphMb: Double)
      : Seq[(String, Double)] = {
    val traced = reps.filter(_.traced)
    val untraced = reps.filterNot(_.traced)
    // Seals run in the (traced) setups, every other op in the warm passes.
    def samples(op: String) =
      if (op == "seal") h.spans.filter(s => s.kind == "op" && s.name == op)
        .map(s => OpRun(op, s, null)).toSeq
      else traced.flatMap(_.ops.filter(_.name == op))
    def med(op: String)(f: OpRun => Double) = Stats.median(samples(op).map(f))

    val apps = Seq("pagerank", "wcc", "cdlp", "triangles").flatMap { a =>
      def stages(r: OpRun) = jobsOf(r.span).flatMap(_.stages)
      def tasks(r: OpRun) = stages(r).flatMap(_.taskMs).map(_ / 1000.0)
      Seq(
        "wall_s" -> med(a)(_.span.seconds),
        "shuffle_read_mb" -> med(a)(stages(_).map(_.shuffleReadB).sum / MB),
        "shuffle_write_mb" -> med(a)(stages(_).map(_.shuffleWriteB).sum / MB),
        "spill_mb" -> med(a)(stages(_).map(_.spillB).sum / MB),
        "task_s_p50" -> med(a)(r => Stats.median(tasks(r))),
        "task_s_max" -> med(a)(r => Stats.max(tasks(r))),
        "tasks" -> med(a)(stages(_).map(_.tasks).sum.toDouble),
        "stages" -> med(a)(stages(_).size.toDouble),
        "gc_s" -> med(a)(stages(_).map(_.gcMs).sum / 1000.0))
        .map { case (k, v) => s"apps.$a.$k" -> v }
    }
    val pregel = Seq("pagerank", "wcc", "cdlp").flatMap { a =>
      Seq(
        "rounds" -> med(a)(_.out.rounds.toDouble),
        "jobs_per_round" -> med(a)(r =>
          jobsOf(r.span).size.toDouble / math.max(1, r.out.rounds)),
        "converge_s" -> med(a)(r => sumLayer(jobsOf(r.span),
          "pregel.converge")),
        "materialize_s" -> med(a)(r => sumLayer(jobsOf(r.span),
          "pregel.materialize")),
        "round_s_p50" -> med(a)(r => Stats.median(roundTimes(r.span))),
        "round_s_max" -> med(a)(r => Stats.max(roundTimes(r.span))))
        .map { case (k, v) => s"pregel.$k.$a" -> v }
    }
    val driver = Seq("pagerank", "wcc", "cdlp", "triangles", "seal", "resume")
      .map(op => s"driver.unattributed_s.$op" -> med(op)(r =>
        unattributed(r.span)))

    val firstJobs = h.spans.filter(_.parent == first.id).flatMap(jobsOf)
    val graph = Seq(
      "graph.prepare_s" -> sumLayer(firstJobs.toSeq, "graph.prepare"),
      "graph.prepare_jobs" ->
        firstJobs.count(_.layer == "graph.prepare").toDouble,
      "graph.cached_mb" -> graphMb)

    def perRep(f: Main.Rep => Double) = Stats.median(traced.map(f))
    def repJobs(r: Main.Rep) = r.ops.flatMap(o => jobsOf(o.span))
    val sources = Seq(
      "sources.commit_s" -> perRep(r => sumLayer(repJobs(r), "sources.commit")),
      "sources.validate_s" ->
        perRep(r => sumLayer(repJobs(r), "sources.validate")),
      "sources.commits" -> perRep(_.usage.commits.toDouble),
      "sources.files_written" -> perRep(_.usage.files.toDouble),
      "sources.bytes_written_mb" -> perRep(_.usage.bytes / MB),
      "sources.seal_s" -> med("seal")(_.span.seconds),
      "sources.resume_s" -> med("resume")(_.span.seconds))

    val build = h.spans.find(s => s.parent == setup.id && s.name == "build")
      .get
    val buildJobs = jobsOf(build)
    val graphbuild = Seq(
      "graphbuild.build_s" -> build.seconds,
      "graphbuild.shuffle_write_mb" ->
        buildJobs.flatMap(_.stages).map(_.shuffleWriteB).sum / MB,
      "graphbuild.vertices" -> b.vertices.toDouble,
      "graphbuild.edges" -> b.edges.toDouble)

    val overhead = Seq("trace.overhead_ratio" ->
      Stats.median(traced.map(_.span.seconds)) /
        Stats.median(untraced.map(_.span.seconds)))

    pregel ++ driver ++ graph ++ apps ++ sources ++ graphbuild ++ overhead
  }
}
