package perfbench

import java.nio.file.{Files, Path}

import graft.apps.{CDLP, PageRank, Triangles, WCC}
import graft.graph.SimpleGraph
import graft.graphbuild.{CoPurchase, GraphBuilder}
import graft.model.SourceFiles
import graft.pregel.CheckpointConfig
import graft.sources.SnapshotTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A graph ready for the apps, with its size. */
final case class Built(g: SimpleGraph, vertices: Long, edges: Long)

/** One workload over the files in its input directory: a setup that ends
  * in a cached graph, and the sequence of ops one pass issues. */
trait Workload {
  def name: String
  /** The input directory for `seed`, made outside timing in the running
    * session if missing. `data` is the benchmark's own fixture directory.
    */
  def inputs(h: Harness, data: Path, seed: Long): Path
  /** Everything from a started session to a cached graph. */
  def setup(h: Harness, in: Path): Built
  /** One pass over the op sequence. `tag` names the pass's scratch dir. */
  def pass(h: Harness, b: Built, in: Path, tag: String): Seq[OpRun]
  /** Correctness checks on the first pass's results. Outside timing. */
  def check(h: Harness, b: Built, in: Path, first: Seq[OpRun]): Unit
  /** Files written by a pass (checkpoints and seals), removed after it. */
  def passDir(h: Harness, tag: String): Path = h.dir(s"passes/$tag")
}

object Workloads {
  val all: Seq[Workload] = Seq(CoPurchaseW, CatalogW)
  def named(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (one of ${all.map(_.name).mkString(", ")})"))

  val PrRounds = 10
  val Damping = 0.85
  val CdlpRounds = 10
  val WccCap = 200

  // ------------------------------------------------------------ the apps

  def pagerank(h: Harness, g: SimpleGraph,
      ck: CheckpointConfig = CheckpointConfig(), name: String = "pagerank")
      : OpRun = h.op(name) {
    val r = PageRank.run(g, Damping, PrRounds, checkpoint = ck)
    val row = r.agg(sum("rank"), count(lit(1))).head()
    Out(r, Seq(row.getDouble(0), row.getLong(1).toDouble), PrRounds)
  }

  def wcc(h: Harness, g: SimpleGraph): OpRun = h.op("wcc") {
    val (r, rounds) = WCC.runWithRounds(g, WccCap)
    val row = r.agg(sum("comp"), count(lit(1))).head()
    Out(r, Seq(row.getLong(0).toDouble, row.getLong(1).toDouble), rounds)
  }

  def cdlp(h: Harness, g: SimpleGraph): OpRun = h.op("cdlp") {
    val r = CDLP.run(g, maxRound = CdlpRounds)
    val row = r.agg(sum("label"), count(lit(1))).head()
    Out(r, Seq(row.getLong(0).toDouble, row.getLong(1).toDouble), CdlpRounds)
  }

  def triangles(h: Harness, g: SimpleGraph): OpRun = h.op("triangles") {
    val r = Triangles.run(g)
    val row = r.agg(sum("triangles"), count(lit(1))).head()
    Out(r, Seq(row.getLong(0).toDouble, row.getLong(1).toDouble))
  }

  // ----------------------------------------------------------- the checks

  /** PageRank's invariants under graft's semantics (a sink's rank is the
    * round's base, pagerank.h:158): every sink holds exactly the base the
    * driver-side recurrence gives, every other vertex at least that, and
    * the mass is 1 when no sink has in-edges (undirected graphs), at most
    * 1 otherwise (the in-flow of sinks is dropped, not redistributed). */
  def checkPageRank(h: Harness, r: OpRun, b: Built): Unit = if (!r.failed) {
    val Seq(mass, n) = r.out.checksum
    val withDeg = r.out.result.join(b.g.outDegrees, "vid")
    val sinks = withDeg.where(col("deg") === 0L).count()
    var dangling = sinks.toDouble / n
    var base = 0.0
    for (_ <- 1 to r.out.rounds) {
      base = (1 - Damping) / n + Damping * dangling / n
      dangling = base * sinks
    }
    val row = withDeg.agg(
      max(when(col("deg") === 0L, abs(col("rank") - base))),
      min(when(col("deg") > 0L, col("rank")))).head()
    val sinkOff = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    val low = if (row.isNullAt(1)) base else row.getDouble(1)
    val massOk = if (b.g.directed) mass <= 1.0 + 1e-9
      else math.abs(mass - 1.0) <= 1e-9
    h.check(r, n == b.vertices && sinkOff <= 1e-15 && low >= base - 1e-15 &&
        massOk,
      f"mass $mass%.12f over ${n.toLong} of ${b.vertices} vertices; sinks " +
        f"off their base $base%.3e by $sinkOff%.3e; lowest rank $low%.3e")
  }

  /** Every edge joins two vertices of one component, every label is its
    * component's minimum vid, and an app that stopped at its round cap
    * must have converged anyway (a silent stop at the cap fails here). */
  def checkWcc(h: Harness, r: OpRun, b: Built): Unit = if (!r.failed) {
    val lab = r.out.result
    val e = b.g.edges.select("src", "dst")
    val split = e
      .join(lab.select(col("vid").as("src"), col("comp").as("a")), "src")
      .join(lab.select(col("vid").as("dst"), col("comp").as("c")), "dst")
      .where(col("a") =!= col("c")).count()
    val notMin = lab.groupBy("comp").agg(min("vid").as("m"))
      .where(col("m") =!= col("comp")).count()
    h.check(r, split == 0 && notMin == 0 &&
        r.out.checksum(1).toLong == b.vertices,
      s"$split edges span two components, $notMin labels are not their " +
        s"component's min vid after ${r.out.rounds} rounds" +
        (if (r.out.rounds >= WccCap) s" (stopped at the $WccCap-round cap)"
         else ""))
  }

  def checkTriangles(h: Harness, r: OpRun): Unit =
    h.check(r, r.out.checksum(0).toLong % 3 == 0,
      s"per-vertex triangle sum ${r.out.checksum(0).toLong} is not 3x a count")

  /** Warm passes must reproduce the first pass's checksums. */
  def checkRepeat(h: Harness, first: Seq[OpRun], again: Seq[OpRun]): Unit =
    for (a <- again; f <- first.find(_.name == a.name)
        if !a.failed && !f.failed) {
      val same = a.out.checksum.zip(f.out.checksum).forall { case (x, y) =>
        math.abs(x - y) <= 1e-9
      } && a.out.rounds == f.out.rounds
      h.check(a, same, s"checksum ${a.out.checksum} after ${a.out.rounds} " +
        s"rounds differs from the first pass's ${f.out.checksum} after " +
        s"${f.out.rounds}")
    }
}

/** The part co-purchase graph over the TPC-H-ish sf0.01 lineitem table
  * (a verbatim copy of the repository's oracle fixture, so every seed
  * reads the same file): short, overhead-bound supersteps on the
  * broadcast tier, and the one graph whose four apps have exact DuckDB
  * oracles (graft.oracle.OracleSql). */
object CoPurchaseW extends Workload {
  val name = "copurchase"

  def inputs(h: Harness, data: Path, seed: Long): Path = data.resolve("sf0.01")

  def setup(h: Harness, in: Path): Built = {
    var g: SimpleGraph = null
    h.op("build") {
      g = CoPurchase.graph(h.spark, in.toString)
      Out(null, Nil)
    }
    Built(g, g.vertices.count(), g.edges.count())
  }

  def pass(h: Harness, b: Built, in: Path, tag: String): Seq[OpRun] = Seq(
    Workloads.pagerank(h, b.g), Workloads.wcc(h, b.g),
    Workloads.cdlp(h, b.g), Workloads.triangles(h, b.g))

  /** The exact oracle replay runs in DuckDB after the JVM exits, over the
    * results and SQL written to `oracle/`; only the invariants the oracles
    * cannot name run here (WCC's round cap, the triangle sum). */
  def check(h: Harness, b: Built, in: Path, first: Seq[OpRun]): Unit = {
    import graft.oracle.OracleSql
    val out = h.dir("oracle")
    def dump(r: OpRun, sql: String): Unit = {
      r.out.result.write.mode("overwrite")
        .parquet(out.resolve(s"${r.name}.parquet").toString)
      Files.writeString(out.resolve(s"${r.name}.sql"),
        OracleSql.materialize(sql))
      Files.writeString(out.resolve(s"${r.name}.op"), r.span.id)
    }
    first.filterNot(_.failed).foreach { r =>
      r.name match {
        case "pagerank" => dump(r, OracleSql.pagerank(Workloads.PrRounds))
        case "wcc" =>
          Workloads.checkWcc(h, r, b)
          // Unrolled past the rounds Spark ran: a premature stop differs.
          dump(r, OracleSql.wcc(r.out.rounds + 2))
        case "cdlp" => dump(r, OracleSql.cdlp(Workloads.CdlpRounds))
        case "triangles" =>
          Workloads.checkTriangles(h, r)
          dump(r, OracleSql.triangles)
      }
    }
    Files.writeString(out.resolve("lineitem.path"),
      in.resolve("lineitem.parquet").toString)
  }
}

/** The paper's pipeline: a seeded source-file catalog sealed as a snapshot
  * table, read back into the repo link graph, then PageRank with durable
  * snapshot checkpoints, a resume after a simulated crash, and a seal of
  * the results. Durable writes sit beside the reads on every step. */
object CatalogW extends Workload {
  val name = "repo-catalog"

  val NFiles = 8000L
  val NRepos = 800

  /** The seed's catalog from `SourceFiles.generate`, written once as
    * parquet and reused by every run with that seed. A temp dir is renamed
    * into place, so a killed run leaves no half input. */
  def inputs(h: Harness, data: Path, seed: Long): Path = {
    val d = h.dir("inputs").resolve(s"repo-catalog-s$seed-f$NFiles-r$NRepos")
    if (!Files.exists(d.resolve("files.parquet/_SUCCESS"))) {
      val tmp = d.resolveSibling(d.getFileName.toString + ".tmp")
      Fs.deleteTree(tmp)
      SourceFiles.generate(h.spark, NFiles, NRepos, seed = seed)
        .write.parquet(tmp.resolve("files.parquet").toString)
      Fs.deleteTree(d)
      Files.move(tmp, d)
    }
    d
  }

  private def files(h: Harness, in: Path): DataFrame =
    h.spark.read.parquet(in.resolve("files.parquet").toString)

  /** The last setup's sealed catalog, read back by the checks. */
  private var sealedTable: Path = _
  private var lastSeal: OpRun = _
  private var setups = 0

  /** Session to cached graph: seal the catalog as a snapshot table, read
    * the snapshot back and derive the link graph from it. */
  def setup(h: Harness, in: Path): Built = {
    setups += 1
    sealedTable = h.dir(s"catalog-$setups").resolve("files")
    Fs.deleteTree(sealedTable)
    lastSeal = h.op("seal") {
      val v = SnapshotTable.create(files(h, in), sealedTable.toString)
      Out(null, Seq(SnapshotTable.manifest(h.spark, sealedTable.toString, v)
        .rows.toDouble))
    }
    var g: SimpleGraph = null
    val run = h.op("build") {
      val rg = GraphBuilder.build(
        SnapshotTable.read(h.spark, sealedTable.toString))
      val v = rg.vertices.select("vid").persist()
      val e = rg.edges.persist()
      val counts = Seq(v.count().toDouble, e.count().toDouble)
      g = SimpleGraph(v, e, directed = true)
      Out(null, counts)
    }
    Built(g, run.out.checksum(0).toLong, run.out.checksum(1).toLong)
  }

  /** Durable snapshot checkpoints every `CkptEvery` rounds. */
  def ckpt(dir: Path, runId: String): CheckpointConfig =
    CheckpointConfig(dir = Some(dir.resolve("ckpt").toString),
      runId = runId, every = CkptEvery, snapshot = true)
  val CkptEvery = 2

  /** PageRank with a checkpoint every `CkptEvery` rounds; then the last
    * commit's manifest is deleted, as if the run had died after writing
    * the round's data but before publishing it, and a resume recomputes
    * the lost rounds from the newest surviving snapshot. The resume must
    * add exactly one snapshot, the final round's: a run that silently
    * started again from round 0 would add one per checkpointed round and
    * still reach the same ranks. */
  def pass(h: Harness, b: Built, in: Path, tag: String): Seq[OpRun] = {
    val dir = passDir(h, tag)
    val table = dir.resolve("ckpt/pagerank").toString
    val pr = Workloads.pagerank(h, b.g, ck = ckpt(dir, "pagerank"))
    if (!pr.failed) {
      val meta = dir.resolve("ckpt/pagerank/metadata")
      val manifests = scala.util.Using.resource(Files.list(meta))(
        _.toArray.map(_.asInstanceOf[Path]).toSeq)
      Files.delete(manifests
        .filter(_.getFileName.toString.matches("v\\d+\\.json")).max)
    }
    val before = SnapshotTable.retainedVersions(h.spark, table)
    val resumed = Workloads.pagerank(h, b.g, ck = ckpt(dir, "pagerank"),
      name = "resume")
    val added = SnapshotTable.retainedVersions(h.spark, table).diff(before)
    h.check(resumed, added.size == 1 && SnapshotTable.manifest(h.spark,
        table, added.head).summary.get("iteration")
        .contains(Workloads.PrRounds.toString),
      s"the resume from the snapshots ${before.mkString(",")} committed " +
        s"${added.mkString(",")}, not one snapshot of round " +
        s"${Workloads.PrRounds}: it did not start from the newest snapshot")
    val results = h.op("seal_results") {
      val t = dir.resolve("results").toString
      val v = SnapshotTable.create(resumed.out.result, t)
      Out(null, Seq(SnapshotTable.manifest(h.spark, t, v).rows.toDouble))
    }
    Seq(pr, resumed, results)
  }

  def check(h: Harness, b: Built, in: Path, first: Seq[OpRun]): Unit = {
    def run(n: String) = first.find(_.name == n).get
    Workloads.checkPageRank(h, run("pagerank"), b)
    // The resumed run must land exactly where the uninterrupted one did.
    if (!run("pagerank").failed) h.check(run("resume"), {
      val drift = run("resume").out.result
        .join(run("pagerank").out.result.withColumnRenamed("rank", "r2"),
          "vid")
        .agg(max(abs(col("rank") - col("r2"))), count(lit(1))).head()
      drift.getLong(1) == b.vertices && drift.getDouble(0) <= 1e-12
    }, "resumed ranks drift from the uninterrupted run's")
    // Content sha256 survives the seal row for row.
    def shas(df: DataFrame) = df.select(sha2(col("content"), 256).as("s"))
    val src = shas(files(h, in))
    val back = shas(SnapshotTable.read(h.spark, sealedTable.toString))
    val lost = src.exceptAll(back).count() + back.exceptAll(src).count()
    h.check(lastSeal, lost == 0, s"$lost content sha256 rows differ " +
      "between the catalog and its sealed snapshot")
    h.check(run("seal_results"),
      run("seal_results").out.checksum.head.toLong == b.vertices,
      s"sealed results hold ${run("seal_results").out.checksum.head} rows " +
        s"for ${b.vertices} vertices")
  }
}
