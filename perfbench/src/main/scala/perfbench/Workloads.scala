package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.GraphEm
import graft.gen.Generators
import graft.influence.Influence
import graft.layout.{Layout, LayoutConfig}
import graft.metrics.Centralities
import graft.model.GraphOps
import Main.Check

/** One workload: `setup` builds the inputs (it may run several times),
  * `timed` is the measured part, and `check` verifies its outputs after
  * timing has stopped. Every layer call in `timed` is one top-level
  * span; a call that throws is recorded as failed. */
trait Workload {
  def setup(): Unit
  def timed(): Unit
  def check(): Seq[Check]
  /** IC spread of the radial top-10 seeds on the workload's BA graph. */
  def seedSpread(): Double
}

/** The paper's pipeline steps shared by the two graph workloads. */
abstract class GraphWorkload(spark: SparkSession, tr: Tracer) extends Workload {
  import spark.implicits._

  /** The paper's influence parameters: p = 0.1, 100 rounds, top-10 seeds. */
  val P = 0.1
  val Rounds = 100
  val K = 10
  /** `Influence.independentCascade`'s default driver-route cap. */
  val DriverRouteMaxEdges = 500000L

  protected var edges: DataFrame = _
  protected var seeds: Seq[Long] = Nil
  protected var spread = -1L

  /** A graph from the engine's generator, held as a driver-local edge
    * list: the timed part starts from plain data, nothing persisted. */
  protected def generate(gen: => DataFrame): DataFrame =
    gen.select(col("src").cast("long"), col("dst").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("src", "dst")

  /** A layer call; None when it threw (the span records the failure). */
  protected def op[T](layer: String)(body: => T): Option[T] =
    try Some(tr.span(layer)(body))
    catch { case NonFatal(e) => e.printStackTrace(); None }

  protected def cascade(cfgSeed: Long, localMaxEdges: Long): Set[Long] =
    Influence.independentCascade(spark, GraphOps.undirect(edges), seeds.toDF("id"), P,
      Rounds, cfgSeed, localMaxEdges).collect().map(_.getLong(0)).toSet

  /** The cascade from the selected seeds is the same vertex set on the
    * driver and the distributed route, and its size is the spread the
    * pipeline reported. `dist` is the distributed route's set, or None to
    * check the driver route's replay against the spread alone. */
  protected def cascadeCheck(cfgSeed: Long, dist: Option[Set[Long]]): Check = {
    val local = cascade(cfgSeed, DriverRouteMaxEdges)
    Check("cascade_routes_equal", dist.forall(_ == local) && local.size == spread,
      s"reported $spread; driver route ${local.size}, distributed route " +
        dist.map(_.size.toString).getOrElse("not run"))
  }

  def seedSpread(): Double = if (spread < 0) Double.NaN else spread.toDouble
}

/** `graphem_routed`: the paper's pipeline exactly as a user calls it
  * through `GraphEm` with default routes, on a BA n=1000, m=22 graph
  * (~21.5k edges; the reference's facebook_combined point, n=4039, does
  * not fit a run) with that point's L_min=4 and 30 layout iterations.
  * Every operator takes its driver kernel at this size, so the time is
  * in driver kernels and the JIT. */
final class GraphemRouted(spark: SparkSession, tr: Tracer, seed: Long, traced: Boolean)
    extends GraphWorkload(spark, tr) {
  import spark.implicits._

  val N = 1000
  private val cfg = LayoutConfig(nComponents = 3, LMin = 4.0, kAttr = 0.5,
    kInter = 0.1, nNeighbors = 15, sampleSize = 512, numIterations = 30, seed = seed)
  private var report: Array[Row] = Array.empty

  def setup(): Unit =
    edges = tr.span("gen")(generate(Generators.barabasiAlbert(spark, N, 22, seed)))

  def timed(): Unit = for {
    em <- op("api.GraphEm")(GraphEm(spark, edges, cfg))
    _ <- op("linalg.EigenInit")(em.initialPositions.count())
    _ <- op("layout.driver")(em.runLayout().count())
    s <- op("influence.selectSeeds")(em.selectSeeds(K).collect().map(_.getLong(0)).toSeq)
    _ = seeds = s
    n <- op("influence.cascade")(em.estimateInfluence(s.toDF("id"), P, Rounds))
    _ = spread = n
    r <- op("metrics.Correlation")(em.correlationReport().collect())
  } report = r

  def check(): Seq[Check] = {
    if (report.isEmpty) return Seq(Check("pipeline_complete", ok = false, "a layer call failed"))
    // The CSR centralities run inside correlationReport; a traced run
    // times the same call alone for the metrics.Centralities layer. The
    // distributed cascade replay costs ~5 s of per-round jobs, so only
    // the traced run compares the two routes; every run replays the
    // driver route against the reported spread.
    if (traced) tr.span("metrics.Centralities")(Centralities.all(spark, edges, N).collect())
    val dist = if (traced) Some(cascade(cfg.seed, 0L)) else None
    val rhos = report.map(r => if (r.isNullAt(1)) Double.NaN else r.getDouble(1))
    Seq(cascadeCheck(cfg.seed, dist),
      Check("correlation_report", report.length == 6 && rhos.forall(r => math.abs(r) <= 1.0),
        report.map(r => s"${r.get(0)}=${r.get(1)}").mkString(" ")))
  }
}

/** `graphem_distributed`: the pipeline on a BA n=256, m=22 graph with
  * every dual-path operator forced onto its distributed route: the
  * exact-kNN layout loop, the grid-ANN layout loop and the distributed
  * cascade in the timed part. Distributed centralities (~200 jobs,
  * 20-35 s on 4 cores) do not fit the run; a traced run times them
  * after the timed part and checks the whole table against the CSR
  * route. At n = 256 (the distributed BFS measures' source cap) every
  * distributed centrality is exact, so that check is exact too. */
final class GraphemDistributed(spark: SparkSession, tr: Tracer, seed: Long, traced: Boolean)
    extends GraphWorkload(spark, tr) {

  val N = 256
  val Iters = 1
  private val exact = LayoutConfig(nComponents = 3, LMin = 10.0, kAttr = 0.5,
    kInter = 0.1, nNeighbors = 15, sampleSize = 512, numIterations = Iters,
    seed = seed, localMaxEdges = 0)
  private val measures = Seq("degree_centrality", "pagerank", "eigenvector",
    "closeness", "betweenness", "load")
  private var layouts: Seq[(String, DataFrame)] = Nil
  private var infected: Set[Long] = Set.empty

  def setup(): Unit =
    edges = tr.span("gen")(generate(Generators.barabasiAlbert(spark, N, 22, seed)))

  def timed(): Unit = for {
    em <- op("api.GraphEm")(GraphEm(spark, edges, exact))
    _ <- op("linalg.EigenInit")(em.initialPositions.count())
    x <- op("layout.exact")({ val p = em.runLayout(); p.count(); p })
    a <- op("layout.grid_ann")({
      val p = Layout.run(spark, edges, em.initialPositions, exact.copy(exactKnnMaxRef = 0))
      p.count(); p })
    _ = layouts = Seq("exact" -> x, "grid_ann" -> a)
    s <- op("influence.selectSeeds")(em.selectSeeds(K).collect().map(_.getLong(0)).toSeq)
    _ = seeds = s
    inf <- op("influence.cascade")(cascade(exact.seed, localMaxEdges = 0L))
  } { infected = inf; spread = inf.size.toLong }

  def check(): Seq[Check] = {
    if (infected.isEmpty) return Seq(Check("pipeline_complete", ok = false, "a layer call failed"))
    val positions = layouts.map { case (name, pos) =>
      val rows = pos.collect()
      val finite = rows.forall(_.getAs[Seq[Double]]("pos").forall(x => !x.isNaN && !x.isInfinite))
      Check(s"positions.$name", rows.length == N && finite, s"${rows.length} rows, finite=$finite")
    }
    Seq(cascadeCheck(exact.seed, Some(infected))) ++ positions ++
      (if (traced) Seq(centralityCheck()) else Nil)
  }

  /** Distributed centralities agree with the CSR route, measure by measure. */
  private def centralityCheck(): Check = {
    val dist = tr.span("metrics.Centralities")(
      Centralities.all(spark, edges, N, broadcastEdgeMax = 0).collect())
    val csr = Centralities.all(spark, edges, N).collect()
    def byId(rs: Array[Row]) = rs.map(r => r.getAs[Long]("id") -> r).toMap
    val (d, c) = (byId(dist), byId(csr))
    val worst = measures.map(m => m -> (if (d.keySet != c.keySet) Double.PositiveInfinity
      else d.keys.map(id => math.abs(d(id).getAs[Double](m) - c(id).getAs[Double](m))).max))
    // MetricsSpec pins the routes to 1e-9. The distributed eigenvector
    // loop stops once successive iterates are within 1e-8 (L2) while the
    // CSR loop runs all 50 iterations, so that measure gets the loop's
    // own stopping tolerance.
    def tol(m: String) = if (m == "eigenvector") 1e-8 else 1e-9
    Check("centralities_routes_agree", worst.forall { case (m, x) => x <= tol(m) },
      worst.map { case (m, x) => s"$m=$x" }.mkString("max |diff| vs CSR: ", " ", ""))
  }
}

/** `query_mix`: one query at a time from the engine's query surface over
  * generated tables, in the order of the plan file (module, name per
  * line). Each result is written to `results/<name>` for the oracle
  * compare, done outside this process. */
final class QueryMix(spark: SparkSession, tr: Tracer, data: String, planFile: String,
                     results: String, seed: Long) extends Workload {
  private val queries = Main.modules.flatMap(_._2).toMap
  private val plan: Seq[(String, String)] = scala.io.Source.fromFile(planFile)
    .getLines().filter(_.nonEmpty).map { l => val Array(m, q) = l.split('\t'); (m, q) }.toSeq

  /** The tables are generated before the driver starts, and the queries
    * read them by path: nothing to set up in the session. */
  def setup(): Unit = ()

  def timed(): Unit = plan.foreach { case (m, q) =>
    try tr.span(s"queries.$m", q) {
      queries(q)(spark, data).write.mode("overwrite").parquet(s"$results/$q")
    } catch { case NonFatal(e) => e.printStackTrace() }
  }

  def check(): Seq[Check] = Nil

  /** Seed quality on a small BA graph through `GraphEm` with default
    * routes, probed after the timed queries, so this workload carries
    * the same quality gate as the graph workloads. */
  def seedSpread(): Double = {
    import spark.implicits._
    val g = Generators.barabasiAlbert(spark, 256, 22, seed)
      .select(col("src").cast("long"), col("dst").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("src", "dst")
    val em = GraphEm(spark, g, LayoutConfig(numIterations = 10, seed = seed))
    em.runLayout()
    em.estimateInfluence(em.selectSeeds(10), 0.1, 100).toDouble
  }
}
