package perfbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Per-layer accounting of Spark jobs, measured from outside the program.
  *
  * Every job is attributed to a program layer, in this order:
  *  1. the first `graft.*` frame outside `graft.util` in the long call
  *     site Spark records on the job's result stage (`StageInfo.details`);
  *  2. the same search over the call site of the job's SQL execution
  *     (jobs started from broadcast or other helper threads carry only
  *     the execution id);
  *  3. the benchmark's span: the layer whose lazily returned result the
  *     benchmark was forcing when the job ran (a local property set
  *     around each call, see [[JobTrace.span]]).
  * A job none of these name is `unattributed`.
  *
  * `graft.util` is skipped so `Ckpt` materialisations count against their
  * caller. A layer is the class path under `graft.` with inner-class and
  * object suffixes cut: `graft.algo.Leiden$.movement` -> `algo.Leiden`.
  */
final class JobTrace extends SparkListener {
  import JobTrace._

  final class Acc(val layer: String, val via: String, val start: Long) {
    var end: Long = start
    var taskMs: Long = 0L
    var shuffleBytes: Long = 0L
    var collectBytes: Long = 0L
  }

  private val sqlSites = mutable.HashMap.empty[Long, String]
  private val stageJob = mutable.HashMap.empty[Int, Acc]
  private val open = mutable.HashMap.empty[Int, Acc]
  private val finished = mutable.ArrayBuffer.empty[Acc]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlSites(s.executionId) = s.details
    }
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val props = Option(js.properties).getOrElse(new Properties)
    val stageSite = js.stageInfos.sortBy(-_.stageId).headOption
      .map(_.details).flatMap(layerOf)
    val sqlSite = Option(props.getProperty(ExecIdKey))
      .flatMap(id => sqlSites.get(id.toLong)).flatMap(layerOf)
    val spanLayer = Option(props.getProperty(SpanKey))
    val (layer, via) = stageSite.map(_ -> "stage")
      .orElse(sqlSite.map(_ -> "sql"))
      .orElse(spanLayer.map(_ -> "span"))
      .getOrElse(Unattributed -> "none")
    val acc = new Acc(layer, via, js.time)
    open(js.jobId) = acc
    js.stageIds.foreach(s => stageJob(s) = acc)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    val m = te.taskMetrics
    if (m != null) stageJob.get(te.stageId).foreach { acc =>
      acc.taskMs += m.executorRunTime
      acc.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      if (te.taskType == "ResultTask") acc.collectBytes += m.resultSize
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    open.remove(je.jobId).foreach { acc =>
      acc.end = je.time
      finished += acc
    }
  }

  /** Finished jobs so far; drains the listener bus first. */
  def jobs(sc: SparkContext): Seq[Acc] = {
    org.apache.spark.perfbench.BusFlush(sc)
    synchronized(finished.toSeq)
  }

  def clear(sc: SparkContext): Unit = {
    org.apache.spark.perfbench.BusFlush(sc)
    synchronized {
      finished.clear(); stageJob.clear(); sqlSites.clear()
    }
  }
}

object JobTrace {
  val SpanKey = "perfbench.span"
  val ExecIdKey = "spark.sql.execution.id"
  val Unattributed = "unattributed"

  private val Frame = """(?:^|/)(graft\.[\w.$]+)\.[^.(]+\(""".r

  /** The layer named by the first `graft.*` frame outside `graft.util`. */
  def layerOf(callSite: String): Option[String] =
    Option(callSite).flatMap { s =>
      s.split('\n').iterator.flatMap(l => Frame.findFirstMatchIn(l.trim))
        .map(_.group(1))
        .find(c => !c.startsWith("graft.util."))
        .map(c => c.stripPrefix("graft.").takeWhile(_ != '$'))
    }

  /** Runs `body` with the benchmark's span property naming `layer`, so
    * jobs that carry no program call site (the benchmark forcing a lazily
    * returned DataFrame) still count against the layer that built it. */
  def span[T](sc: SparkContext, layer: String)(body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, layer)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }
}
