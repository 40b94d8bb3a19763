package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, Quality,
  TriangleCount}
import graft.graph.EdgeOps
import graft.queries.Queries
import graft.run.MetricsSink
import graft.source.{CodeTableSynth, Ingest}
import graft.util.Ckpt

/** `graph_dist`: ingest, the graph analytics at their default distributed
  * settings, then a driver segment of `SparkEntry.queries` that runs the
  * same algorithms through their driver-local gates plus the dedup, ANN
  * and text operators.
  *
  * Inputs, all from the seed: `SourceRows` rows of
  * `CodeTableSynth.sourceTable`; an SBM graph of `Vertices` vertices (32
  * blocks, 0.1% hubs at 50x degree); the
  * driver tables of [[DriverTables]]. A round's first result is the
  * ingest stage, distributed PageRank, connected components, label
  * propagation, the triangle total and the modularity of the LPA labels;
  * its steps are `DriverPasses` passes of the driver queries.
  */
final class GraphDist(spark: SparkSession, seed: Long, work: String)
    extends Workload {
  import spark.implicits._
  import GraphDist._

  private val tables = s"$work/tables"
  private var source: DataFrame = _
  private var graph: DataFrame = _
  private var canon: DataFrame = _

  // per-round outputs, checked after the window
  private val checks = mutable.ArrayBuffer.empty[(String, Any)]
  private var lpaQ = Double.NaN
  private var labels: Option[DataFrame] = None
  private var prSupersteps = 0
  private var ccIterations = 0
  private var lpaIterations = 0

  def prepare(): Unit = {
    source = Ckpt(CodeTableSynth.sourceTable(spark, SourceRows, seed = seed))
    graph = Ckpt(CodeTableSynth.sbmEdges(spark, Vertices, 32,
      hubFraction = 0.001, seed = seed))
    canon = Ckpt(EdgeOps.compress(graph))
    DriverTables.write(spark, tables, seed, LineitemRows, Docs, Vectors)
  }

  def round(rec: Recorder): Unit = {
    rec.call(spark, "ingest", "source.Ingest") {
      val verts = Ingest.vertices(source)
      Ingest.coCommitEdges(source).count()
      Ingest.checkInvariant(source, verts)
    }.foreach(b => checks += "ingest_bad_rows" -> b)
    rec.call(spark, "pagerank", "algo.PageRank") {
      val r = PageRank.run(graph, numIter = PageRankIterations, tol = 0.0)
      (r.iterations, r.ranks.agg(sum("rank")).as[Double].head())
    }.foreach { case (it, mass) =>
      prSupersteps = it; checks += "pagerank_mass" -> mass
    }
    rec.call(spark, "cc", "algo.ConnectedComponents") {
      val r = ConnectedComponents.run(graph)
      (r.iterations, r.components.select("component").distinct().count())
    }.foreach { case (it, c) => ccIterations = it; checks += "cc" -> c }
    labels = rec.call(spark, "lpa", "algo.LabelPropagation") {
      val r = LabelPropagation.run(graph, maxIter = LpaIterations)
      (r.iterations, Ckpt(r.labels))
    }.map { case (it, l) => lpaIterations = it; l }
    rec.call(spark, "triangles", "algo.TriangleCount") {
      TriangleCount.total(graph)
    }.foreach(t => checks += "triangles" -> t)
    labels.foreach { l =>
      rec.call(spark, "quality", "algo.Quality") {
        Quality.modularity(canon,
          l.select(col("v"), col("label").as("community")))
      }.foreach(lpaQ = _)
    }
    rec.followUp()
    for (_ <- 1 to DriverPasses; (q, layer) <- DriverSegment)
      rec.call(spark, q, layer)(SparkEntry.queries(q)(spark, tables).collect())
        .foreach(rows => checks += q -> rows)
  }

  def abStep(rec: Recorder): Unit = labels.foreach { l =>
    rec.call(spark, "ab_quality", "algo.Quality") {
      Quality.modularity(canon,
        l.select(col("v"), col("label").as("community")))
    }
  }

  def check(rec: Recorder): Unit = {
    // independent driver-side oracles over the same inputs
    def simple(df: DataFrame) = df.where(col("src") =!= col("dst"))
      .select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].collect()
    val (wantTri, wantComp) = Oracle.trianglesAndComponents(simple(canon))
    val queryGraph = Queries.lineitemGraph(spark, tables)
    val (_, wantQComp) = Oracle.trianglesAndComponents(simple(queryGraph))
    def rows(v: Any) = v.asInstanceOf[Array[Row]]
    checks.foreach {
      case ("ingest_bad_rows", b: Long) =>
        rec.check(b == 0, s"checkInvariant found $b bad rows")
      case ("pagerank_mass", m: Double) =>
        rec.check(math.abs(m - 1.0) <= 1e-9, s"PageRank mass $m is not 1")
      case ("cc", c: Long) =>
        rec.check(c == wantComp, s"$c components, oracle $wantComp")
      case ("triangles", t: Long) =>
        rec.check(t == wantTri, s"$t triangles, oracle $wantTri")
      case ("q_cc", v) =>
        val c = rows(v).map(_.getAs[Long]("component")).distinct.length
        rec.check(c == wantQComp, s"q_cc: $c components, oracle $wantQComp")
      case ("q_dedup_exact", v) =>
        val total = rows(v).map(_.getAs[Long]("n")).sum
        rec.check(total == Docs, s"q_dedup_exact covers $total of $Docs docs")
      case ("q_langid", v) =>
        rec.check(rows(v).length == Docs, "q_langid: not one row per doc")
      case ("q_minhash_lsh", v) =>
        rec.check(rows(v).nonEmpty, "q_minhash_lsh found no planted pair")
      case ("q_ann_lsh", v) =>
        val k = rows(v).length
        rec.check(k > 0 && k <= 50, s"q_ann_lsh returned $k rows")
      case (k, _) => rec.check(ok = false, s"unchecked output $k")
    }
    checks.clear()
  }

  def modularity: Double = lpaQ

  def ownMetrics(rec: Recorder): Seq[(String, Double, String)] = {
    val analytics = Seq("pagerank", "cc", "lpa", "triangles", "quality")
    val driver = DriverSegment.map(_._1)
    def med(k: String) = Stats.median(rec.secs(k))
    Seq(("ingest_s", med("ingest"), "s"),
      ("analytics_s", analytics.map(med).sum, "s"),
      ("queries_total_s", driver.map(med).sum, "s"),
      ("queries_geomean_s", Stats.geomean(driver.map(med)), "s"),
      ("lpa_modularity", lpaQ, "ratio")) ++
      (analytics ++ driver).map(k => (s"${k}_s", med(k), "s"))
  }

  def counters(rec: Recorder): Seq[(String, Double, String)] = Seq(
    ("algo.PageRank.supersteps", prSupersteps.toDouble, "count"),
    ("algo.ConnectedComponents.iterations", ccIterations.toDouble, "count"),
    ("algo.LabelPropagation.iterations", lpaIterations.toDouble, "count"))
}

object GraphDist {
  val SourceRows = 20000L
  val Vertices = 3000L
  val PageRankIterations = 5
  val LpaIterations = 10
  val LineitemRows = 30000L
  val Docs = 1000L
  val Vectors = 1000L
  /** Passes of the driver segment per round: one pass is a few short
    * calls, too few to time steadily on their own. */
  val DriverPasses = 2

  /** Driver queries of the round, each with the layer whose lazily
    * returned result the benchmark forces when it collects the rows. */
  val DriverSegment: Seq[(String, String)] = Seq(
    "q_cc" -> "algo.ConnectedComponents",
    "q_dedup_exact" -> "queries.Queries",
    "q_minhash_lsh" -> "dedup.Dedup",
    "q_ann_lsh" -> "ann.Ann",
    "q_langid" -> "text.TextOps")

  /** Median distributed PageRank superstep seconds on the workload's
    * graph, first superstep (codegen) dropped. */
  def prSuperstepSeconds(spark: SparkSession, seed: Long): Double = {
    val g = Ckpt(CodeTableSynth.sbmEdges(spark, Vertices, 32,
      hubFraction = 0.001, seed = seed))
    val sink = new MetricsSink
    PageRank.run(g, numIter = 10, tol = 0.0, sink = sink).ranks.count()
    Stats.median(sink.all.filter(_.algo == "pagerank").map(_.seconds).drop(1))
  }
}

/** Driver-side reference answers for the checks: triangle total and
  * connected-component count of a simple undirected graph. */
object Oracle {
  def trianglesAndComponents(edges: Array[(Long, Long)]): (Long, Long) = {
    val simple = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val ids = simple.flatMap(e => Array(e._1, e._2)).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val nV = ids.length
    val parent = Array.tabulate(nV)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    // forward adjacency (lower index -> higher index), sorted
    val fwd = Array.fill(nV)(mutable.ArrayBuffer.empty[Int])
    simple.foreach { case (a, b) =>
      val (i, j) = (idx(a), idx(b))
      fwd(i) += j
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(ri) = rj
    }
    val adj = fwd.map(_.sorted.toArray)
    var tri = 0L
    for (i <- 0 until nV; j <- adj(i)) {
      val a = adj(i); val b = adj(j)
      var p = 0; var q = 0
      while (p < a.length && q < b.length) {
        if (a(p) == b(q)) { tri += 1; p += 1; q += 1 }
        else if (a(p) < b(q)) p += 1
        else q += 1
      }
    }
    (tri, (0 until nV).count(i => find(i) == i).toLong)
  }
}
