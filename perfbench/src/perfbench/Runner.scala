package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop with one client. */
trait Workload {
  /** Builds this run's inputs from the seed. Timed three times: setup_s. */
  def prepare(): Unit

  /** One round of the closed loop. Its calls up to `rec.followUp()` make
    * the round's first result; the calls after it are its steps. Every
    * call into the program goes through `rec.call`. */
  def round(rec: Recorder): Unit

  /** A short warm unit of work (a modularity scoring: a dozen Spark
    * jobs), repeated with tracing off and on to measure the overhead. */
  def abStep(rec: Recorder): Unit

  /** Output checks on what the rounds produced, recorded on `rec`. */
  def check(rec: Recorder): Unit

  /** The workload's own metrics of the timed window, by the names the
    * benchmark doc uses: (name, value, unit). */
  def ownMetrics(rec: Recorder): Seq[(String, Double, String)]

  /** Program counters of the last round, read from public return values
    * (`Engine.Outcome.metrics`, `IterMetric` rows, algorithm `Result`s). */
  def counters(rec: Recorder): Seq[(String, Double, String)]

  /** Quality of the last round's final community partition. */
  def modularity: Double
}

object Runner {

  /** Every layer the per-layer metrics name; others fold into `other`. */
  val Layers: Seq[String] = Seq(
    "source.Ingest", "graph.EdgeOps", "algo.Leiden", "algo.LocalLeiden",
    "algo.Incremental", "algo.IncAggregation", "algo.PageRank",
    "algo.ConnectedComponents", "algo.LabelPropagation",
    "algo.TriangleCount", "algo.Quality", "run.Engine",
    "state.Checkpointer", "queries.Queries", "dedup.Dedup", "ann.Ann",
    "text.TextOps")

  /** Program counters some workload reports; 0 where it does not run. */
  val Counters: Seq[(String, String)] = Seq(
    "algo.Leiden.movement_sweeps" -> "count",
    "algo.Leiden.movement_moves" -> "count",
    "algo.Leiden.movement_frontier" -> "count",
    "algo.Leiden.refinement_rounds" -> "count",
    "state.Checkpointer.bytes_written" -> "bytes",
    "algo.PageRank.supersteps" -> "count",
    "algo.ConnectedComponents.iterations" -> "count",
    "algo.LabelPropagation.iterations" -> "count",
    "algo.PageRank.scale_eff_1to4" -> "ratio",
    "algo.PageRank.scale_load1" -> "load")

  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  final case class Outcome(attempted: Long, failures: Seq[String],
      metrics: Metrics, own: Seq[(String, Double, String)])

  private def now(): Double = System.nanoTime() / 1e9

  /** Closed-loop rounds until `seconds` have passed (at least one). */
  def window(wl: Workload, seconds: Int): Recorder = {
    val rec = new Recorder
    val deadline = now() + seconds
    while (rec.rounds.isEmpty || now() < deadline) {
      val r0 = now()
      rec.newRound()
      wl.round(rec)
      rec.rounds += now() - r0
    }
    rec
  }

  def run(spark: SparkSession, wl: Workload, a: Main.Args): Outcome = {
    val setups = (1 to 3).map { _ =>
      val t0 = now(); wl.prepare(); now() - t0
    }
    System.err.println(s"[perfbench] setup ${setups.mkString(" ")}")
    val m: Metrics = mutable.LinkedHashMap.empty
    val trace = new Tracing(spark)
    if (a.trace) trace.on()
    val rec = window(wl, a.seconds)
    if (a.trace) {
      m ++= perLayer(trace.off(), rec)
      Counters.foreach { case (k, u) => m(k) = (0.0, u) }
      wl.counters(rec).foreach { case (k, v, u) => m(k) = (v, u) }
      // tracing overhead: after one untimed step, warm steps untraced and
      // traced in ABBA order, so a warming JVM favours neither side
      wl.abStep(new Recorder)
      val plain = new Recorder
      val traced = new Recorder
      for (traceThis <- Seq(false, true, true, false, false, true, true, false)) {
        if (traceThis) { trace.on(); wl.abStep(traced); trace.off() }
        else wl.abStep(plain)
      }
      val base = Stats.median(plain.calls.map(_.seconds).toSeq)
      m("trace_overhead_pct") = (100.0 *
        (Stats.median(traced.calls.map(_.seconds).toSeq) - base) / base, "%")
      rec.failures ++= plain.failures
      rec.failures ++= traced.failures
      rec.attempted += plain.attempted + traced.attempted
    } else {
      m("setup_s") = (Stats.median(setups), "s")
      m("first_result_s") = (Stats.median(rec.stage(first = true)), "s")
      m("steps_s") = (Stats.median(rec.stage(first = false)), "s")
    }
    val own = wl.ownMetrics(rec)
    val c0 = now()
    wl.check(rec)
    System.err.println(s"[perfbench] checks ${now() - c0}")
    if (!a.trace) m("modularity") = (wl.modularity, "ratio")
    Outcome(rec.attempted, rec.failures.toSeq, m, own)
  }

  /** The benchmark's listener, switched on and off around traced work.
    * While on, Spark records deep call sites so the program frame under a
    * long Spark SQL stack is still inside the long-form call site. */
  final class Tracing(spark: SparkSession) {
    private val sc = spark.sparkContext
    private val trace = new JobTrace
    def on(): Unit = {
      System.setProperty("spark.callstack.depth", "200")
      trace.clear(sc)
      sc.addSparkListener(trace)
    }
    def off(): Seq[JobTrace#Acc] = {
      val jobs = trace.jobs(sc)
      sc.removeSparkListener(trace)
      System.clearProperty("spark.callstack.depth")
      jobs
    }
  }

  /** Per-layer job numbers, averaged per round of the traced window. */
  def perLayer(jobs: Seq[JobTrace#Acc], rec: Recorder): Metrics = {
    val rounds = rec.rounds.size.toDouble
    val m: Metrics = mutable.LinkedHashMap.empty
    val named = Layers.toSet
    def group(l: String) =
      if (named(l) || l == JobTrace.Unattributed) l else "other"
    val by = jobs.groupBy(j => group(j.layer))
    for (l <- Layers :+ "other") {
      val js = by.getOrElse(l, Seq.empty)
      m(s"$l.jobs") = (js.size / rounds, "count")
      m(s"$l.job_s") = (js.map(j => (j.end - j.start) / 1e3).sum / rounds, "s")
      m(s"$l.task_s") = (js.map(_.taskMs / 1e3).sum / rounds, "s")
      m(s"$l.shuffle_bytes") = (js.map(_.shuffleBytes.toDouble).sum / rounds,
        "bytes")
      m(s"$l.collect_bytes") = (js.map(_.collectBytes.toDouble).sum / rounds,
        "bytes")
    }
    val total = jobs.map(j => (j.end - j.start).toDouble).sum
    def share(p: JobTrace#Acc => Boolean) =
      if (total <= 0) 0.0
      else jobs.filter(p).map(j => (j.end - j.start).toDouble).sum / total
    m("unattributed_share") =
      (share(_.layer == JobTrace.Unattributed), "ratio")
    m("callsite_share") = (share(_.via != "span"), "ratio")
    // Engine.update driver time: call wall time minus the part of it that
    // the call's jobs cover
    val upd = rec.calls.filter(c => c.kind.startsWith("update"))
    val driverS = upd.map { c =>
      val covered = union(jobs.map(j => (math.max(j.start, c.startMs),
        math.min(j.end, c.endMs))).filter(iv => iv._2 > iv._1))
      (c.endMs - c.startMs - covered) / 1e3
    }
    m("run.Engine.update_driver_s") =
      (if (driverS.isEmpty) 0.0 else Stats.median(driverS.toSeq), "s")
    m
  }

  /** Total length of a set of [start, end) intervals. */
  def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- ivs.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
