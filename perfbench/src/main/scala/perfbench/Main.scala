package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** Runs one workload in one JVM and writes its measurements as JSON:
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                  --trace <0|1> --data <dir> --work <dir>
  *                  --out <file.json>
  * }}}
  *
  * `--data` holds the benchmark's fixtures; inputs generated from the seed
  * are cached under `--work`. Order of a run: CPU probe; a warm-up
  * session that makes the inputs if missing and sets up once, untimed;
  * then timed setups, each a fresh
  * session up to a cached graph, until `SetupSeconds` have passed (at
  * least `MinSetups`); the first pass on the last graph;
  * warm passes until `--seconds` have passed (at least `MinReps`, three
  * when traced); the cached bytes; the checks; CPU probe again. In a
  * traced run the
  * listener is attached to every other warm pass, so the traced and
  * untraced passes of one process give the tracing overhead.
  */
object Main {
  val MinSetups = 3
  val SetupSeconds = 8.0
  val MinReps = 1
  private val MB = 1024.0 * 1024.0

  final case class Rep(ops: Seq[OpRun], span: Span, traced: Boolean,
      usage: Usage)
  /** What a pass left on disk: manifests committed, data files and bytes
    * written, and bytes under its checkpoint directory. */
  final case class Usage(commits: Long, files: Long, bytes: Long,
      ckptBytes: Long)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val w = Workloads.named(a("workload"))
    val seed = a("seed").toLong
    val h = new Harness(Paths.get(a("work")).toAbsolutePath,
      a.getOrElse("trace", "0") == "1",
      s"${w.name}-s$seed-${System.currentTimeMillis()}")
    val json = try run(w, h, Paths.get(a("data")).toAbsolutePath, seed,
      a("seconds").toDouble)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        Json.obj(Seq("error" -> Json.str(e.toString),
          "attempted" -> h.attempted.toString,
          "failed_ops" -> failures(h)))
    } finally h.stopSession()
    Files.writeString(Paths.get(a("out")), json)
    System.exit(0)
  }

  private def failures(h: Harness): String =
    Json.obj(h.failedOps.toSeq.map { case (k, v) => k -> Json.str(v) })

  /** Logs how far into the JVM's life a phase of the run ended. */
  private def phase(what: String): Unit = System.err.println(
    f"[perfbench] $what%-12s done at ${java.lang.management
      .ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.2f s")

  def run(w: Workload, h: Harness, data: Path, seed: Long, seconds: Double)
      : String = {
    val cpu0 = Probe.cpuOpsPerSec(h.cores)
    phase("probe")
    // The first session in a JVM loads and JIT-compiles Spark and graft:
    // it makes the inputs, if this seed has none cached yet, and sets up
    // once, uncounted, so setup_s is a warm session's set-up.
    val (in, _) = h.group("warm_up", "setup") {
      h.startSession()
      val in = w.inputs(h, data, seed)
      w.setup(h, in)
      in
    }
    phase("warm-up")

    def setup() = {
      h.stopSession()
      h.group("setup", "setup") { h.startSession(); w.setup(h, in) }
    }
    // A cheap setup is repeated more often: set-up time keeps falling
    // over the first few sessions, and more samples steady the median.
    val setups = mutable.ArrayBuffer(setup())
    while (setups.size < MinSetups ||
        setups.map(_._2.seconds).sum < SetupSeconds) setups += setup()
    phase("setups")
    val built = setups.last._1
    val graphBytes = if (h.traced) h.cachedBytes else 0L
    val (first, firstSpan) = h.group("first_pass", "pass") {
      w.pass(h, built, in, "first")
    }
    phase("first pass")
    val firstUsage = usage(w.passDir(h, "first"))
    Fs.deleteTree(w.passDir(h, "first"))

    // The warm passes follow the first pass directly, as a second query
    // would; the checks run after them so their jobs and JIT work do not
    // land inside a measured pass.
    val reps = mutable.ArrayBuffer[Rep]()
    val t0 = System.nanoTime()
    // A traced run alternates traced and untraced passes, T U T: the
    // untraced one sits between, so warm-up drift cancels in the ratio.
    val minReps = if (h.traced) 3 else MinReps
    while (reps.size < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tracedRep = h.traced && reps.size % 2 == 0
      if (h.traced) { if (tracedRep) h.attach() else h.detach() }
      val tag = s"warm${reps.size}"
      val (ops, span) = h.group("warm_pass", "pass") {
        w.pass(h, built, in, tag)
      }
      Workloads.checkRepeat(h, first, ops)
      // Keep only the checksums: a warm result left reachable would hold
      // its cached blocks and inflate cache_mb.
      reps += Rep(ops.map(o =>
          if (o.failed) o else o.copy(out = o.out.copy(result = null))),
        span, tracedRep, usage(w.passDir(h, tag)))
      Fs.deleteTree(w.passDir(h, tag))
    }
    phase("warm passes")
    val cacheBytes = h.cachedBytes
    phase("cache")
    w.check(h, built, in, first)
    phase("checks")
    h.stopSession()
    val cpu1 = Probe.cpuOpsPerSec(h.cores)
    phase("end")
    h.spans.foreach(s => System.err.println(
      f"[perfbench] ${s.kind}%-6s ${s.seconds}%8.3f s  ${s.id}"))

    val m = new Metrics(h, built, reps.toSeq)
    val e2e = Seq(
      "setup_s" -> Stats.median(setups.map(_._2.seconds).toSeq),
      "first_pass_s" -> firstSpan.seconds,
      "pagerank_s" -> m.opMedian("pagerank"),
      "warm_pass_s" -> Stats.median(reps.map(_.span.seconds).toSeq),
      "edges_per_s" -> m.edgesPerSec,
      "cache_mb" -> cacheBytes / MB)
    val seals = h.spans.filter(s => s.kind == "op" && s.name == "seal")
      .map(_.seconds).toSeq
    val extra = Seq(
      "wcc_s" -> m.opMedian("wcc"),
      "cdlp_s" -> m.opMedian("cdlp"),
      "triangles_s" -> m.opMedian("triangles"),
      "seal_s" -> Stats.median(seals),
      "resume_s" -> m.opMedian("resume"),
      "checkpoint_mb" -> firstUsage.ckptBytes / MB,
      "host.cpu_ops_per_s.before" -> cpu0,
      "host.cpu_ops_per_s.after" -> cpu1,
      "warm_passes" -> reps.size.toDouble,
      "vertices" -> built.vertices.toDouble,
      "edges" -> built.edges.toDouble)
    val layers =
      if (!h.traced) Nil
      else m.layers(setups.last._2, firstSpan, graphBytes / MB) ++ Seq(
        "host.cpu_ops_per_s" -> math.min(cpu0, cpu1),
        "sources.checkpoint_mb" -> firstUsage.ckptBytes / MB)
    val traceFile =
      if (!h.traced) ""
      else {
        val f = h.dir("traces").resolve(s"${h.runId}.json")
        Files.writeString(f, Json.spans(h.runId, h.spans.toSeq, h.jobs))
        f.toString
      }
    Json.obj(Seq(
      "attempted" -> h.attempted.toString,
      "failed_ops" -> failures(h),
      "metrics" -> Json.nums(e2e),
      "extra" -> Json.nums(extra),
      "layers" -> Json.nums(layers),
      "trace_file" -> Json.str(traceFile)))
  }

  def usage(dir: Path): Usage = {
    val (commits, _) = Fs.usage(dir, n => n.startsWith("v") &&
      n.endsWith(".json"))
    val (files, bytes) = Fs.usage(dir, _.endsWith(".parquet"))
    val (_, ckpt) = Fs.usage(dir.resolve("ckpt"))
    Usage(commits, files, bytes, ckpt)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def max(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.max
}

/** A pure-JVM arithmetic probe on every core, best of three: a run on a
  * host that loses CPU to other tenants shows it here next to its
  * numbers. */
object Probe {
  @volatile private var sink = 0L
  def cpuOpsPerSec(threads: Int, work: Long = 100000000L): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val ts = (0 until threads).map { _ =>
        new Thread(() => {
          var x = 0L
          var i = 0L
          while (i < work) { x += i * i; i += 1 }
          sink += x
        })
      }
      ts.foreach(_.start())
      ts.foreach(_.join())
      threads * work / ((System.nanoTime() - t0) / 1e9)
    }.max
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def nums(kv: Seq[(String, Double)]): String =
    obj(kv.map { case (k, v) => k -> num(v) })

  def spans(runId: String, spans: Seq[Span], jobs: Seq[JobRec]): String = {
    def one(id: String, name: String, kind: String, parent: String,
        start: Long, end: Long) = obj(Seq("run" -> str(runId),
      "id" -> str(id), "name" -> str(name), "kind" -> str(kind),
      "parent" -> str(parent), "start_ms" -> start.toString,
      "end_ms" -> end.toString))
    (spans.map(s => one(s.id, s.name, s.kind, s.parent, s.startMs, s.endMs)) ++
      jobs.map(j => one(s"job-${j.id}", s"${j.layer} ${j.callSite}", "job",
        j.group, j.startMs, j.endMs)))
      .mkString("[\n", ",\n", "\n]\n")
  }
}
