package perfbench

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the driver tables `SparkEntry.queries` read:
  * `lineitem`, `documents` and `embeddings`, with the driver schema for
  * every column a query reads, written as Parquet under `dir`. */
object DriverTables {
  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Seq("en", "de", "fr", "es", "zh")

  def write(spark: SparkSession, dir: String, seed: Long, lineitemRows: Long,
      docs: Long, vectors: Long): Unit = {
    val s = lit(seed)
    spark.range(lineitemRows).select(
      (pmod(xxhash64(lit("o"), col("id"), s), lit(lineitemRows / 4)) + 1)
        .as("l_orderkey"),
      (pmod(xxhash64(lit("p"), col("id"), s), lit(20000L)) + 1)
        .as("l_partkey"),
      (pmod(xxhash64(lit("s"), col("id"), s), lit(1000L)) + 1)
        .as("l_suppkey"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

    // 7..94 words; every 40th document repeats its predecessor's words
    // plus a marker, so the dedup operators have positives
    val words = array(vocab.map(lit): _*)
    def text(id: Column) = concat_ws(" ", transform(
      sequence(lit(0), pmod(xxhash64(lit("len"), id, s), lit(88)) + 7),
      i => element_at(words, (pmod(xxhash64(lit("w"), id, i, s),
        lit(vocab.size)) + 1).cast("int"))))
    val dup = pmod(col("id"), lit(40)) === 39
    spark.range(docs).select(col("id").as("doc_id"),
      when(dup, concat(text(col("id") - 1), lit(" dup")))
        .otherwise(text(col("id"))).as("text"),
      element_at(array(langs.map(lit): _*),
        (pmod(xxhash64(lit("lang"), col("id"), s), lit(langs.size)) + 1)
          .cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // 64-dim vectors: a cluster centre per label plus per-vector noise
    def unif(tag: String, key: Column, j: Column) =
      pmod(xxhash64(lit(tag), key, j, s), lit(2001L)).cast("double") /
        1000.0 - 1.0
    spark.range(vectors).select(col("id").as("vec_id"),
      pmod(xxhash64(lit("label"), col("id"), s), lit(10L)).cast("int")
        .as("label"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(63)), j =>
          (unif("c", col("label"), j) * 0.4 + unif("n", col("vec_id"), j))
            .cast("float")).as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
