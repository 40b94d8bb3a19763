package perfbench

import graft.algo.{ConnectedComponents, PageRank}

/** Class-loading training run for the JVM class-data-sharing archive that
  * `perfbench/build.py` makes: touches the Spark, Catalyst and program
  * classes both workloads load, so each benchmark JVM maps them from the
  * archive instead of loading and verifying them again. Not timed. */
object Train {
  def main(argv: Array[String]): Unit = {
    val work = argv(0)
    val spark = Main.session(4, work)
    try {
      new HitStream(spark, 1L, work, n = 256).prepare()
      val edges = graft.source.CodeTableSynth.sbmEdges(spark, 256, 8)
      PageRank.run(edges, numIter = 1).ranks.count()
      ConnectedComponents.run(edges, maxIter = 1).components.count()
    } finally spark.stop()
  }
}
