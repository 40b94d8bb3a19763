package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point, launched by `perfbench/run.py`.
  *
  * {{{
  * java ... perfbench.Main --workload hit_stream --seed 1 --seconds 15 \
  *   --trace 0 --work perfbench/.work/hit_stream-1
  * }}}
  *
  * One run = Spark start, `prepare` three times (median = `setup_s`), then
  * closed-loop rounds (one client) until `--seconds` have passed, at least
  * one, then the output checks. With `--trace 1` the same window runs with
  * [[JobTrace]] installed and the per-layer numbers come from it; the
  * tracing overhead comes from an ABBA comparison after it. The result is
  * one `PERFBENCH_RESULT <json>` line on stdout.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String)

  /** Spark cores of a run: the 4-core box the numbers are for. */
  val Cores = 4

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.defaultSizeInBytes", (128L << 20).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(Cores, a.work)
    try {
      val wl: Workload = a.workload match {
        case "hit_stream" => new HitStream(spark, a.seed, a.work)
        case "graph_dist" => new GraphDist(spark, a.seed, a.work)
        case other => throw new IllegalArgumentException(
          s"unknown workload $other")
      }
      val out = Runner.run(spark, wl, a)
      val metrics = out.metrics
      if (a.trace && a.workload == "graph_dist") {
        spark.stop()
        scaling(a).foreach { case (k, v, u) => metrics(k) = (v, u) }
      }
      def triples(xs: Iterable[(String, Double, String)]) = xs.map {
        case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u)
      }
      println("PERFBENCH_RESULT " + Json.obj(Map(
        "attempted" -> out.attempted,
        "failures" -> out.failures,
        "metrics" -> triples(metrics.map { case (k, (v, u)) => (k, v, u) }),
        "workload_metrics" -> triples(out.own))))
    } finally spark.stop()
  }

  /** Scaling diagnostic: distributed PageRank supersteps on the
    * `graph_dist` graph at local[1] and local[4], each in a fresh
    * session; efficiency = speedup / cores. Load average beside it,
    * because on a shared box the ratio moves with other tenants. */
  def scaling(a: Args): Seq[(String, Double, String)] = {
    def leg(cores: Int): Double = {
      val s = session(cores, a.work)
      try GraphDist.prSuperstepSeconds(s, a.seed) finally s.stop()
    }
    val load0 = loadAverage()
    val t1 = leg(1)
    val tN = leg(Cores)
    Seq(("algo.PageRank.scale_eff_1to4", t1 / tN / Cores, "ratio"),
      ("algo.PageRank.scale_load1", (load0 + loadAverage()) / 2, "load"))
  }

  def loadAverage(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
}

/** Minimal JSON writer for the result line (numbers, strings, nested maps
  * and sequences). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      obj(m.asInstanceOf[collection.Map[String, Any]])
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(m: collection.Map[String, Any]): String =
    m.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Call timings of one window, plus the failures seen in it. */
final class Recorder {
  final case class Call(kind: String, layer: String, startMs: Long,
      endMs: Long, seconds: Double, round: Int, first: Boolean)
  val calls = mutable.ArrayBuffer.empty[Call]
  val rounds = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  private var firstStage = false
  private var roundNo = 0

  /** Starts a new round; its calls up to `followUp` make its first result. */
  def newRound(): Unit = { roundNo += 1; firstStage = true }

  /** Marks the round's first result as complete: later calls are steps. */
  def followUp(): Unit = firstStage = false

  /** Times one call into `layer`; a call that throws counts as failed. */
  def call[T](spark: SparkSession, kind: String, layer: String)
      (body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    try {
      val r = JobTrace.span(spark.sparkContext, layer)(body)
      val c = Call(kind, layer, w0, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9, roundNo, first = firstStage)
      calls += c
      System.err.println(f"[perfbench] $kind%-16s ${c.seconds}%.3f s")
      Some(r)
    } catch {
      case e: Exception =>
        failures += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** Records a failed output check against an attempted operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += what
  }

  def secs(kind: String): Seq[Double] =
    calls.filter(_.kind == kind).map(_.seconds).toSeq

  /** Per round, the summed seconds of the calls that make its first
    * result (`first`), or of the steps after it. */
  def stage(first: Boolean): Seq[Double] =
    calls.filter(_.first == first).groupBy(_.round).values
      .map(_.map(_.seconds).sum).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
