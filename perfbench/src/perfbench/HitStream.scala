package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{Incremental, Quality}
import graft.graph.EdgeOps
import graft.run.{Engine, IterMetric, Validate}
import graft.source.CodeTableSynth

/** `hit_stream`: the paper's scenario through the `Engine` facade.
  *
  * Input: an SBM graph of `n` vertices (`CodeTableSynth.sbmEdges`, 32
  * blocks) split by
  * `Incremental.paperSplit` into an 80% initial graph and a held-out 20%.
  * A round is one cold `Engine.run` (default throughput config, state
  * checkpointed under the run's work directory: its first result), then
  * two signed `Engine.update` batches (its steps): the first pays the
  * upper re-solve, the second is a steady one. Each batch is 80 held-out
  * insertions and 20 deletions of initial edges, so the refinement-split
  * and repair paths run too. All of it is
  * a pure function of the seed.
  */
final class HitStream(spark: SparkSession, seed: Long, work: String,
    n: Long = 2000)
    extends Workload {
  import spark.implicits._

  private val blocks = 32
  private val nBatches = 2
  private val nIns = 80
  private val nDel = 20
  private var initial: DataFrame = _
  private var batches: Seq[DataFrame] = Nil
  private var roundNo = 0
  private var applied = 0
  private var cfg: Engine.Config = _

  // outputs of the last round, for the checks and the counters
  private var coldQ = Double.NaN
  private var finalQ = Double.NaN
  private var finalAssign: DataFrame = _
  private val updateMetrics = mutable.ArrayBuffer.empty[Seq[IterMetric]]
  private val ckptBytes = mutable.ArrayBuffer.empty[Double]

  def prepare(): Unit = {
    val edges = graft.util.Ckpt(
      CodeTableSynth.sbmEdges(spark, n, blocks, seed = seed))
    val (init, inserts) =
      Incremental.paperSplit(edges, 0.8, nIns, nBatches, seed)
    // deletions: disjoint slices of the initial graph in seeded-hash order
    val dels = init
      .withColumn("_h", xxhash64(lit("del"), col("src"), col("dst"),
        lit(seed)))
      .orderBy("_h", "src", "dst").limit(nBatches * nDel)
      .select("src", "dst").as[(Long, Long)].collect()
    initial = init
    batches = inserts.zipWithIndex.map { case (ins, i) =>
      val d = dels.slice(i * nDel, (i + 1) * nDel).toSeq
        .map { case (s, t) => (s, t, -1.0) }.toDF("src", "dst", "weight")
      graft.util.Ckpt(ins.select("src", "dst", "weight").unionByName(d))
    }
  }

  private def root = s"$work/ckpt"

  def round(rec: Recorder): Unit = {
    roundNo += 1
    // keep only the newest round's state on disk
    deleteTree(Paths.get(s"$root/round-${roundNo - 1}"))
    cfg = Engine.Config(checkpointRoot = Some(root), runId = s"round-$roundNo")
    applied = 0
    updateMetrics.clear(); ckptBytes.clear()
    rec.call(spark, "cold", "run.Engine")(Engine.run(initial, cfg))
      .foreach { o => coldQ = o.quality; finalQ = o.quality }
    rec.followUp()
    update(rec, "update_first")
    update(rec, "update_second")
  }

  def abStep(rec: Recorder): Unit =
    rec.call(spark, "ab_quality", "algo.Quality") {
      Quality.modularity(EdgeOps.compress(initial), finalAssign)
    }

  private def update(rec: Recorder, kind: String): Unit = {
    val b = batches(applied)
    applied += 1
    rec.call(spark, kind, "run.Engine")(Engine.update(spark, b, cfg))
      .foreach { o =>
        finalQ = o.quality
        finalAssign = o.assignment
        updateMetrics += o.metrics
        ckptBytes += dirBytes(Paths.get(
          s"$root/${cfg.runId}/iter=${o.batch}"))
      }
  }

  /** Largest quality loss the warm stream may show against the cold
    * partition before the run counts as failed. */
  private val QualityTolerance = 0.05

  def check(rec: Recorder): Unit = {
    rec.check(finalAssign != null, "hit_stream: no final assignment")
    if (finalAssign == null) return
    // incremental-aware invariants: split communities take fresh ids
    // above the vertex-id watermark, at most one per vertex per batch
    val maxV = initial.agg(max(greatest(col("src"), col("dst")))).as[Long]
      .head()
    val inv = Validate.invariants(finalAssign, maxV + (nBatches + 1) * n)
    rec.check(inv.ok, s"hit_stream: invariants: ${inv.reason}")
    val live = EdgeOps.vertices(EdgeOps.compress(batches.take(applied)
      .foldLeft(initial.select("src", "dst", "weight"))(_ union _)))
    val missing = live.join(finalAssign, Seq("v"), "left_anti").count()
    rec.check(missing == 0,
      s"hit_stream: $missing live vertices have no community")
    rec.check(finalQ >= coldQ - QualityTolerance,
      f"hit_stream: final modularity $finalQ%.4f < cold $coldQ%.4f - " +
        f"$QualityTolerance")
  }

  def modularity: Double = finalQ

  def ownMetrics(rec: Recorder): Seq[(String, Double, String)] = Seq(
    ("cold_s", Stats.median(rec.secs("cold")), "s"),
    ("update_first_s", Stats.median(rec.secs("update_first")), "s"),
    ("update_second_s", Stats.median(rec.secs("update_second")), "s"),
    ("cold_modularity", coldQ, "ratio"),
    ("final_modularity", finalQ, "ratio"))

  def counters(rec: Recorder): Seq[(String, Double, String)] = {
    def perBatch(f: Seq[IterMetric] => Double): Double =
      if (updateMetrics.isEmpty) 0.0 else Stats.median(updateMetrics.map(f).toSeq)
    def mv(ms: Seq[IterMetric]) = ms.filter(_.algo == "leiden.movement")
    Seq(
      ("algo.Leiden.movement_sweeps", perBatch(mv(_).size.toDouble), "count"),
      ("algo.Leiden.movement_moves",
        perBatch(mv(_).map(_.movesAccepted.toDouble).sum), "count"),
      ("algo.Leiden.movement_frontier",
        perBatch(mv(_).map(_.frontier.toDouble).sum), "count"),
      ("algo.Leiden.refinement_rounds",
        perBatch(_.count(_.algo == "leiden.refinement").toDouble), "count"),
      ("state.Checkpointer.bytes_written",
        if (ckptBytes.isEmpty) 0.0 else Stats.median(ckptBytes.toSeq),
        "bytes"))
  }

  private def dirBytes(p: Path): Double =
    if (!Files.exists(p)) 0.0
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        .toDouble
      finally s.close()
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(Files.delete(_))
      finally s.close()
    }
}
