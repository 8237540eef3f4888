package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Direct calls of graft's native functions over the workload's own
  * tables, each consumed by a hash-sum so nothing is pruned. The input
  * is replicated to at least `minRows` rows so the kernel, not the job
  * launch, dominates; the figure is the median of `Reps` runs divided
  * by the rows the kernel saw. */
object Kernels {
  private val Reps = 3

  private def replicated(df: DataFrame, minRows: Long): (DataFrame, Long) = {
    val n = math.max(1L, df.count())
    val copies = math.max(1L, (minRows + n - 1) / n)
    (df.withColumn("_copy", explode(sequence(lit(1L), lit(copies))))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .cache(), n * copies)
  }

  private def median(f: () => Unit): Double = {
    val ts = (1 to Reps).map { _ =>
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0).toDouble
    }.sorted
    ts(Reps / 2)
  }

  private def nsPerRow(df: DataFrame, rows: Long, kernel: org.apache.spark.sql.Column): Double = {
    val q = df.select(kernel.as("k"))
    median(() => q.agg(sum(xxhash64(col("k")))).collect()) / rows
  }

  def time(s: SparkSession, dir: String): Map[String, Double] = {
    val emb = graft.sources.Tables.embeddings(s, dir)
    val book = emb.orderBy("vec_id").limit(16).select("embedding").collect()
      .map(_.getSeq[Float](0))
    val (e, en) = replicated(emb.select("embedding"), 200000L)
    e.count()
    val tokens = "transform(split(text, ' '), x -> xxhash64(x))"
    val (d, dn) = replicated(graft.sources.Tables.documents(s, dir)
      .select(expr(tokens).as("tokens")), 50000L)
    d.count()
    val out = Map(
      "cosine" -> nsPerRow(e, en, call_function("graft_cosine", col("embedding"),
        typedLit(book.head))),
      "lsh_sigs" -> nsPerRow(e, en, expr("graft_lsh_sigs(embedding, 8, 12)")),
      "pq_codes" -> nsPerRow(e, en, call_function("graft_pq_codes", col("embedding"),
        typedLit(book.toSeq), typedLit(book.indices.map(_.toLong)), lit(4))),
      "minhash" -> nsPerRow(d, dn, expr("graft_minhash(tokens, 64)")),
      "simhash64" -> nsPerRow(d, dn, expr("graft_simhash64(tokens)")))
    e.unpersist(); d.unpersist()
    out
  }
}
