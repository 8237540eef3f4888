package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.plans.{ConfigJson, Pipeline}

/** One op of a workload mix.
  *  - `build` is what the timed loop runs: the key's function, eager
  *    jobs included, returning the frame whose every column the timed
  *    action consumes;
  *  - `verify` produces the frame checked against `oracleSql` (DuckDB)
  *    once per run, outside the timing. It differs from `build` only
  *    where SparkEntry times a production shape in place of the
  *    oracle-checked audit (`SparkEntry.benchOverrides`);
  *  - `transfer` marks ops that write through the transfer path. */
final case class Op(key: String, build: (SparkSession, String) => DataFrame,
    verify: (SparkSession, String) => DataFrame, oracleSql: String,
    transfer: Boolean = false) {
  def verifiedDirectly: Boolean = build eq verify
}

/** Rows, time and bytes of the last transfer an op ran. */
final case class TransferStats(ms: Double, rows: Long, attempts: Int,
    sourceBytes: Long, outputBytes: Long)

object Workloads {
  // Every run's set-up executes the whole mix cold, so the mixes are
  // kept small. Their key counts are odd: the median op then falls
  // inside one key's samples, not on the gap between two keys.

  /** Read-only analytics and index serving on the small tree: ops whose
    * time is Catalyst, the scheduler and artifact-header consults. */
  val Serve: Seq[String] = Seq(
    "q1_agg", "q3_join", "q6_selective", "q14_promo_share", "q_topk",
    "sim_ivf_index_topk", "sim_brute_topk")

  /** Data-bound work on the larger tree (its documents and embeddings
    * sized apart from the TPC-H tables): a whole-table transfer, a
    * stateful stream, and corpus operators whose time is executor
    * kernels and shuffle. */
  val Corpus: Seq[String] = Seq(
    "stream_windowed_agg", "dedup_simhash", "mm_phash_dedup", "sim_knn_graph")

  def keyOp(key: String): Op = {
    val verify = SparkEntry.queries.getOrElse(key,
      throw new IllegalArgumentException(s"unknown key $key"))
    val build = SparkEntry.benchOverrides.getOrElse(key, verify)
    Op(key, build, verify, SparkEntry.oracleSql(key))
  }

  def mix(workload: String, tree: String, runDir: String): Seq[Op] = workload match {
    case "serve" => Serve.map(keyOp)
    case "corpus" => Transfers.op(tree, runDir) +: Corpus.map(keyOp)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The benchmark's own transfer: the events table as whole-table
  * ndjson drops, parsed from a config document by `ConfigJson`, given a
  * dimension enrich (a config document cannot carry one, so it is
  * attached to the parsed spec) and run through `Pipeline.runAll`, the
  * batch path `ConfigJson.run` takes. It filters, transforms, enriches
  * and routes by `<mod:4>` and a daily `<dateFormat>` into partitioned
  * parquet. The DuckDB oracle evaluates the same filter, transforms,
  * enrich and routes over the same drops. */
object Transfers {
  val Key = "xfer_events_daily"
  @volatile var last: Option[TransferStats] = None

  private val Schema =
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"
  private val Filter = "event_type <> 'error' AND value >= 1.0"
  private val Shards = 4
  // name, Spark SQL, DuckDB SQL
  private val Transforms = Seq(
    ("value_cents", "CAST(round(value * 100) AS BIGINT)", "CAST(round(value * 100) AS BIGINT)"),
    ("kind", "upper(event_type)", "upper(event_type)"),
    ("k", "CAST(get_json_object(props, '$.k') AS INT)",
      "CAST(json_extract_string(props, '$.k') AS INTEGER)"))
  private val Select = Seq("event_id", "user_id", "kind", "value_cents", "k",
    "segment", "nation", "shard", "dt")

  private def doc(src: String, target: String): String = Json.obj(
    "Transfers" -> Json.Raw(Seq(Json.obj(
      "Source" -> Json.Raw(Json.obj("Path" -> src, "Format" -> "ndjson", "Schema" -> Schema)),
      "Target" -> target,
      "Filter" -> Filter,
      "Transforms" -> Json.Raw(Transforms.map { case (n, e, _) =>
        Json.obj("Name" -> n, "Expr" -> e) }.mkString("[", ",", "]")),
      "Routes" -> Json.Raw(Seq(
        Json.obj("Type" -> "mod", "Name" -> "shard", "Src" -> "user_id", "N" -> Shards),
        Json.obj("Type" -> "date", "Name" -> "dt", "Src" -> "ts", "Fmt" -> "yyyy-MM-dd")
      ).mkString("[", ",", "]")),
      "Select" -> Select,
      "FailRetry" -> 1)).mkString("[", ",", "]")))

  private def oracle(drops: String): String =
    s"""SELECT ${Select.mkString(", ")} FROM (
       |  SELECT e.*, ${Transforms.map { case (n, _, e) => s"$e AS $n" }.mkString(", ")},
       |    c.c_mktsegment AS segment, c.c_nationkey AS nation,
       |    CAST(e.user_id % $Shards AS INTEGER) AS shard,
       |    strftime(e.ts, '%Y-%m-%d') AS dt
       |  FROM read_json('$drops/*.json', format = 'newline_delimited', columns = {
       |    'event_id': 'BIGINT', 'ts': 'TIMESTAMP', 'user_id': 'BIGINT',
       |    'event_type': 'VARCHAR', 'value': 'DOUBLE', 'props': 'VARCHAR'}) e
       |  LEFT JOIN customer c ON e.user_id = c.c_custkey
       |  WHERE $Filter)""".stripMargin

  private def bytesUnder(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  private def run(runDir: String)(s: SparkSession, dir: String): DataFrame = {
    val target = s"$runDir/out/$Key"
    val src = s"$dir/drops"
    val customer = graft.sources.Tables.customer(s, dir)
    val specs = ConfigJson.parseTransfers(doc(src, target)).map { case (spec, t) =>
      spec.copy(enrich = Some(Pipeline.EnrichSpec(customer, "user_id" -> "c_custkey",
        Seq("c_mktsegment" -> "segment", "c_nationkey" -> "nation")))) -> t
    }
    val t0 = System.nanoTime()
    val res = Pipeline.runAll(s, specs, maxParallel = 1)
    val ms = (System.nanoTime() - t0) / 1e6
    val attempts = Pipeline.BatchTasks.status(target).map(_.state) match {
      case Some(Pipeline.BatchTasks.Finished(_, _, n)) => n
      case _ => 0
    }
    last = Some(TransferStats(ms, res.map(_._1).sum, attempts,
      bytesUnder(s, src), bytesUnder(s, target)))
    // partition values come back typed by inference; pin them to the
    // types the routes produce
    s.read.parquet(target)
      .withColumn("shard", col("shard").cast("int"))
      .withColumn("dt", col("dt").cast("string"))
      .select(Select.map(col): _*)
  }

  def op(tree: String, runDir: String): Op = {
    val f = run(runDir) _
    Op(Key, f, f, oracle(s"$tree/drops"), transfer = true)
  }
}
