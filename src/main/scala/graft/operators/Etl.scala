package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** The Spark re-expression of the reference's transfer pipeline
  * (reference: transfer.go:15 transferRecord — decode → enrich →
  * filter → transform → route-by-target-key → encode).
  *
  * In Spark each stage is a narrow, codegen'd DataFrame op — no
  * per-record callbacks, no driver loops. Routing keys (`<mod:N>`,
  * `<dateFormat:…>` — reference util.go:18-20) become computed columns
  * consumed by `write.partitionBy`, so "dynamic targets" are dynamic
  * partition dirs written in one distributed job.
  */
object Etl {

  /** Transformer analog (reference transformer.go:7): a record-level
    * projection Log1→Log2. Narrow op, stays in WholeStageCodegen. */
  def transform(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(
      col("event_id"),
      col("user_id"),
      upper(col("event_type")).as("event_type_uc"),
      (col("value").cast("decimal(18,2)") * 100).cast("long").as("value_cents"),
      get_json_object(col("props"), "$.k").cast("int").as("prop_k"))

  /** Filter analog (reference filter.go, README SourceLogFilter: keep
    * only "click" logs). Pushed to the parquet scan. */
  def filterOp(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("event_type") === "click" && col("value") > 5.0)
      .select(col("event_id"), col("user_id"), col("value"))

  /** ContentEnricher analog (reference content_enricher.go:9): enrich
    * each record with reference data. The nation side is BOUNDED (25
    * rows at every sf) so it carries a broadcast hint; the
    * customer-derived dim GROWS with sf, so it carries no hint — AQE's
    * size-based choice still broadcasts it at small SF but degrades to
    * a shuffle join instead of an OOM at 100×. */
  def enrich(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val enrichedDim = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("n_name").as("nation_name"))
    Tables.orders(s, dir)
      .join(enrichedDim, col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"), col("nation_name"))
      .filter(col("o_orderkey") <= 2000)
  }

  /** `<mod:N>` routing (reference util.go:19 modVarableExpr,
    * transfer.go getTargetKey): hash-mod routing key as a column.
    * Uses a portable mod (key % N) rather than an engine-specific hash
    * so the oracle can reproduce it; pmod keeps it non-negative. */
  def routeMod(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("shard", pmod(col("user_id"), lit(8)).cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_records"),
           sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))

  /** `<dateFormat:yyyy-MM-dd>` routing (reference util.go:18): date
    * partition key derived from the record timestamp. */
  def routeDate(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .groupBy(col("dt"), col("event_type"))
      .agg(count(lit(1)).as("n_records"))

  /** VariableExtraction analog (reference config.go:26,
    * variable_provider.go): extract a variable from a record field via
    * regex and use it downstream. */
  def varExtract(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("src_num", regexp_extract(col("source"), "src(\\d+)", 1).cast("int"))
      .groupBy(col("src_num"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))

  /** Small-file compaction — the lake-maintenance transfer every
    * file-based pipeline runs (the reference's re-runnable transfers
    * imply it: many per-window objects → fewer, larger ones). Stage a
    * fragmented source (16 files), compact with repartition(2) +
    * overwrite, report before/after file counts and the preserved row
    * count. File counts are deterministic: repartition round-robins
    * rows so every target partition is non-empty. */
  def compactSmallFiles(s: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_compact_${ProcessHandle.current().pid()}"
    val src = Tables.orders(s, dir).filter(col("o_orderkey") <= 2000)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    src.repartition(16).write.mode("overwrite").parquet(s"$base/frag")
    val frag = s.read.parquet(s"$base/frag")
    val nBefore = frag.inputFiles.length
    frag.repartition(2).write.mode("overwrite").parquet(s"$base/compact")
    val compacted = s.read.parquet(s"$base/compact")
    val nAfter = compacted.inputFiles.length
    compacted.agg(count(lit(1)).as("n_rows"))
      .select(lit(nBefore.toLong).as("files_before"),
        lit(nAfter.toLong).as("files_after"), col("n_rows"))
  }

  /** VariableExtraction from the source PATH (reference
    * variable_provider.go's "source" mode + util.go:190
    * buildVariableMasterServiceMap — variables pulled from the source
    * object's URL, not its records). Spark analog: `input_file_name()`
    * + regexp over the path. The staged source is written partitioned
    * (value lives only in the directory name) and read back with
    * recursiveFileLookup — which disables partition inference — so the
    * ONLY way to recover the value is genuine path extraction. */
  def varExtractPath(s: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_pathvar_${ProcessHandle.current().pid()}"
    Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("event_type"), col("value"))
      .write.partitionBy("event_type").mode("overwrite").parquet(base)
    s.read.option("recursiveFileLookup", "true").parquet(base)
      .withColumn("src_type",
        regexp_extract(input_file_name(), "event_type=([^/]+)/", 1))
      .groupBy(col("src_type"))
      .agg(count(lit(1)).as("n_records"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("sum_cents"))
  }

  /** `<file>` target-key routing (reference transfer_service.go:713
    * `<file>` replacement; util.go:122 extractFileNameFromURL): the
    * file-mirror transfer shape — each source object's rows land under
    * a target partition named after the source file. Stages four
    * deterministically-NAMED source files (part-file names are
    * nondeterministic, so each shard is written alone and renamed —
    * driver-side, 4 bounded FS calls), then runs the REAL
    * Pipeline.run path with a FileKey route: one distributed
    * partitioned write replaces the reference's per-file copy loop.
    * The aggregation reads the written target back, so the gate proves
    * the key survives partitionBy round-trip (non-empty, decoded). */
  def routeFile(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Pipeline
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_routefile_${ProcessHandle.current().pid()}"
    stageRouteShards(s, dir, base)
    val spec = Pipeline.TransferSpec(
      source = Pipeline.SourceSpec(s"$base/src", Pipeline.Parquet),
      routes = Seq(Pipeline.FileKey("src_file")))
    Pipeline.run(s, spec, s"$base/out")
    s.read.parquet(s"$base/out")
      .groupBy(col("src_file"))
      .agg(count(lit(1)).as("n_records"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("sum_cents"))
  }

  /** The four named source shards of [[routeFile]], under `base/src`. */
  private[graft] def stageRouteShards(s: SparkSession, dir: String,
      base: String): Unit = {
    import org.apache.hadoop.fs.Path
    val ev = Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"), col("value"))
    val fs = new Path(base).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)
    fs.mkdirs(new Path(s"$base/src"))
    (0 until 4).foreach { shard =>
      val stage = s"$base/stage_$shard"
      ev.filter(pmod(col("user_id"), lit(4)) === shard)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = fs.globStatus(new Path(s"$stage/part-*"))(0).getPath
      // a refused rename returns false: going on would drop the
      // shard's rows from the transfer
      require(fs.rename(part, new Path(s"$base/src/events_$shard.parquet")),
        s"could not stage $part as shard $shard")
    }
  }

  /** DataTypeMatch dispatch (reference config.go:247,
    * transfer_object_service.go:180-193): one source directory holding
    * MIXED record shapes — event records, document records, and
    * corrupt records — routed per-record by content fragment to
    * different schemas (and to exclusion). Stages the mixed ndjson from
    * the base tables, runs the REAL Pipeline read path with TypeMatch
    * rules, and aggregates the union-by-name frame per record kind so
    * the oracle can verify both the routing and the exclusion exactly. */
  def dataTypeMatch(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Pipeline
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_dtm_${ProcessHandle.current().pid()}"
    // three record shapes in one directory: events (default schema),
    // documents (matched by the "doc_id" fragment), corrupt lines
    // (matched by the "corrupt" fragment → excluded)
    val ev = Tables.events(s, dir).filter(col("event_id") < 1500)
      .select(to_json(struct(col("event_id"), col("user_id"), col("value"))).as("value"))
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 300)
      .select(to_json(struct(col("doc_id"), col("n_chars"), col("source"))).as("value"))
    val junk = Tables.events(s, dir).filter(col("event_id") >= 1500 && col("event_id") < 1600)
      .select(concat(lit("""{"corrupt":true,"payload":"""),
        col("event_id"), lit("}")).as("value"))
    ev.unionAll(docs).unionAll(junk).write.mode("overwrite").text(s"$base/src")
    val spec = Pipeline.TransferSpec(
      source = Pipeline.SourceSpec(s"$base/src", Pipeline.NdJson,
        schemaDdl = Some("event_id LONG, user_id LONG, value DOUBLE"),
        typeMatches = Seq(
          Pipeline.TypeMatch("\"doc_id\"",
            Some("doc_id LONG, n_chars LONG, source STRING")),
          Pipeline.TypeMatch("\"corrupt\"", None))))
    val mixed = Pipeline.plan(s, spec)
    mixed
      .withColumn("kind", when(col("doc_id").isNotNull, "doc").otherwise("event"))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_records"),
        sum(col("event_id")).as("sum_event_id"),
        sum(col("n_chars")).as("sum_chars"))
  }

  /** Meta/progress analog (reference meta.go ObjectMeta: per-source
    * RecordProcessed / RecordSkipped): one aggregation computing both
    * counters, instead of mutexed driver-side counters. */
  def meta(s: SparkSession, dir: String): DataFrame = {
    val processedPred = col("event_type") =!= "error"
    Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("record_total"),
        count(when(processedPred, 1)).as("record_processed"),
        count(when(!processedPred, 1)).as("record_skipped"))
  }

  /** `datastore` SQL-text source (reference config.go:115 Source.Type
    * "datastore", test/transfer_config2.json `"Name": "SELECT * FROM
    * apps"`): the source IS a SQL string — in Spark, tables register as
    * views and the query goes through spark.sql, fully optimized by
    * Catalyst like any DataFrame plan. */
  def sqlTextSource(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    s.sql("""
      SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders_v JOIN customer_v ON o_custkey = c_custkey
      WHERE o_orderdate >= '1998-01-01'
      GROUP BY c_mktsegment, o_orderstatus""")
  }

  /** Schema mapping analog (reference pkg/bigquery/big_query_schema.go:
    * app type → table schema): explicit cast/rename projection. */
  def schemaMap(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(
        col("l_orderkey").cast("long").as("order_id"),
        col("l_linenumber").cast("long").as("line_no"),
        col("l_quantity").cast("int").as("qty"),
        col("l_extendedprice").cast("decimal(18,2)").cast("string").as("price_str"),
        col("l_returnflag").as("flag"))
      .filter(col("order_id") <= 500)

  /** ndjson source+sink roundtrip (reference encoding.go ndjson +
    * gzip): write a slice of lineitem as gzipped ndjson, read it back,
    * aggregate. The aggregate matches the oracle's direct parquet
    * aggregate, proving the codec path is lossless. */
  def ndjsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_ndjson_rt_${ProcessHandle.current().pid()}"
    val src = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") <= 1000)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    src.write.mode("overwrite").option("compression", "gzip").json(tmp)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_quantity", DoubleType),
      StructField("l_returnflag", StringType)))
    s.read.schema(schema).json(tmp)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
           sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  }

  /** csv datastore source roundtrip (reference dsc csv driver,
    * test/transfer_config2.json). */
  def csvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_csv_rt_${ProcessHandle.current().pid()}"
    val src = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    src.write.mode("overwrite").option("header", "true").csv(tmp)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType), StructField("c_name", StringType),
      StructField("c_mktsegment", StringType), StructField("c_acctbal", DoubleType)))
    s.read.schema(schema).option("header", "true").csv(tmp)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
           sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_acctbal"))
  }

  /** ORC datastore roundtrip — the columnar sibling of the parquet
    * path (reference storage providers are format-agnostic URLs;
    * Spark's ORC source gets the same pushdown/pruning treatment as
    * parquet). Write a slice as zlib ORC, read it back, aggregate; the
    * aggregate matches the oracle's direct parquet aggregate, proving
    * the format path is lossless. */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_orc_rt_${ProcessHandle.current().pid()}"
    val src = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    src.write.mode("overwrite").option("compression", "zlib").orc(tmp)
    s.read.orc(tmp)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
           sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
  }

  /** MaxErrorCounts analog (reference config.go:27, transfer.go:19
    * decodingError): corrupt records tolerated up to a budget — in
    * Spark, PERMISSIVE json parsing + a corrupt-record column, with the
    * clean/corrupt split computed distributed. */
  def errorTolerance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lines = Tables.events(s, dir).filter(col("event_id") < 1000)
      .select(col("event_id"), col("props"))
      .withColumn("raw",
        // every 7th record gets corrupted json, mirroring a dirty feed
        when(col("event_id") % 7 === 0, concat(lit("{bad"), col("props")))
          .otherwise(col("props")))
    val parsed = lines.select(col("event_id"),
      from_json(col("raw"), StructType(Seq(StructField("k", IntegerType))),
        Map.empty[String, String]).as("p"))
    parsed.select(
        when(col("p").isNull || col("p.k").isNull, lit("corrupt"))
          .otherwise(lit("ok")).as("status"))
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
  }

  /** Partition pruning on read: the payoff of dynamic-partitioned
    * sinks — a dt-filtered read touches ONLY the matching partition
    * directories (PartitionFilters in the scan; asserted in EtlSpec).
    * At 100 TB this is the difference between scanning a day and
    * scanning a decade. */
  /** Retention cutoff for [[retentionSweep]] — keep the final week of
    * the 30-day event window. */
  val RetentionCutoff = "2024-01-24"

  /** Partition RETENTION sweep — the other lake-maintenance transfer
    * next to [[compactSmallFiles]] (TTL/GDPR expiry: "keep 7 days"):
    * stage a dt-partitioned table, then DROP whole partition
    * directories below the cutoff. The sweep itself reads no data and
    * shuffles nothing — it is a partition LISTING plus unlink per
    * expired partition, which is what makes date-partitioned layouts
    * the retention answer at 100 TB (row-level deletes would rewrite
    * the table). The read-back aggregate proves exactly the retained
    * window survives; the oracle filters the source to the same
    * window, so the row is hash-exact. */
  def retentionSweep(s: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_retain_${ProcessHandle.current().pid()}"
    Tables.events(s, dir)
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      // explicit width (see Similarity.writeIndex): exempt
      // from AQE coalescing; each dt still lands whole in one task, so
      // the one-file-per-day layout is unchanged
      .repartition(s.sparkContext.defaultParallelism, col("dt"))
      .write.mode("overwrite").partitionBy("dt").parquet(base)
    def del(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(del)
      f.delete(); ()
    }
    new java.io.File(base).listFiles()
      .filter(f => f.getName.startsWith("dt=") &&
        f.getName.stripPrefix("dt=") < RetentionCutoff)
      .foreach(del)
    s.read.parquet(base)
      .groupBy(col("dt").cast("string").as("dt"))
      .agg(count(lit(1)).as("n_records"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  def partitionPruning(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_prune_${ProcessHandle.current().pid()}"
    Tables.events(s, dir)
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      // explicit width (r17): exempt from AQE coalescing — see above
      .repartition(s.sparkContext.defaultParallelism, col("dt"))
      .write.mode("overwrite").partitionBy("dt").parquet(tmp)
    s.read.parquet(tmp)
      .filter(col("dt") === "2024-01-03")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_records"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** Incremental upsert-merge: a changes batch overrides the base per
    * key — latest-wins by (version, key) row_number. The idempotent
    * incremental-load primitive every scheduled transfer needs
    * (reference transfer.go re-runs a window; this collapses re-runs).
    * Changes batch derived deterministically so the oracle can rebuild
    * the same merge. */
  def upsertMerge(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit(0).as("version"))
    val changes = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") + 1).cast("double").as("o_totalprice"),
        lit(1).as("version"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("version").desc)
    base.union(changes)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
  }

  /** CDC change-feed apply (the Debezium/DMS shape downstream of any
    * reference "datastore" source, config.go:115): a feed of versioned
    * INSERT/UPDATE/DELETE operations collapses onto the base snapshot.
    * Latest-wins per key via `max_by(_, version)` — a PARTIAL-
    * AGGREGATABLE election (map-side combine, no per-key window sort,
    * only the winning row's columns cross the exchange), which is the
    * shape that survives a 100 TB change log where a window + filter
    * would sort every key group. DELETE tombstones drop the row
    * entirely — the leg `etl_upsert_merge` (type-1 overwrite) doesn't
    * carry. Feed is derived deterministically (mod-key legs, unique
    * version per key) so the oracle rebuilds the identical apply. */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val base = o.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"), lit("I").as("op"), lit(0).as("version"))
    val updates = o.filter(col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") + 10).cast("double")
          .as("o_totalprice"),
        lit("U").as("op"), lit(1).as("version"))
    val deletes = o.filter(col("o_orderkey") % 13 === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit("D").as("op"), lit(2).as("version"))
    // new-key inserts offset past max(o_orderkey) (ADVICE r7 #4): a
    // fixed 1e8 offset collides with real keys once SF ≳ 17, making
    // versions non-unique per key and the max_by election
    // nondeterministic; the oracle derives the identical offset. The
    // offset stays INSIDE the plan as a broadcast 1-row aggregate
    // (ADVICE r8 #4): an eager head() at plan-construction ran a
    // driver round-trip per plan build and NPE'd without context on an
    // empty orders table — the cross join costs nothing (1 row) and an
    // empty table now yields an empty insert leg instead of a crash
    val mx = o.agg((max(col("o_orderkey")) + lit(1L)).as("__graft_key_offset"))
    val inserts = o.filter(col("o_orderkey") % 11 === 0)
      .crossJoin(broadcast(mx))
      .select((col("o_orderkey") + col("__graft_key_offset")).as("o_orderkey"),
        lit("N").as("o_orderstatus"), col("o_totalprice"),
        lit("I").as("op"), lit(1).as("version"))
    base.union(updates).union(deletes).union(inserts)
      .groupBy(col("o_orderkey"))
      .agg(max_by(col("op"), col("version")).as("op"),
        max_by(col("o_orderstatus"), col("version")).as("o_orderstatus"),
        max_by(col("o_totalprice"), col("version")).as("o_totalprice"))
      .filter(col("op") =!= "D")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
  }

  /** JDBC datastore roundtrip (reference config.go:115 "datastore"
    * source; pkg/bigquery/big_query.go DB target with schema mapping +
    * post-load verify): schema-mapped load into an embedded Derby
    * database, loaded TWICE to prove the idempotent-retry contract
    * (truncate-overwrite converges instead of duplicating), then a
    * partitioned parallel JDBC read back and an aggregate that must
    * match the oracle's direct parquet aggregate. */
  def jdbcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Jdbc
    val dbDir = s"${System.getProperty("java.io.tmpdir")}/graft_derby_${ProcessHandle.current().pid()}"
    val url = Jdbc.derbyUrl(dbDir)
    val src = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_acctbal"))
    val types = "c_name VARCHAR(64), c_mktsegment VARCHAR(16)"
    Jdbc.load(src, url, "customer_t", Some(types))
    Jdbc.load(src, url, "customer_t", Some(types)) // retried load: same state
    Jdbc.read(s, url, "customer_t", Some(("c_custkey", 0L, 1000000L, 4)))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_acctbal"))
  }

  /** Schema evolution across source batches (sources grow columns over
    * a transfer's lifetime — the reference re-reads per window and
    * would break on drift): an old batch without `o_channel` and a new
    * batch with it, read together via mergeSchema; missing values
    * surface as NULL and are handled declaratively. */
  def schemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_evo_${System.nanoTime}"
    graft.TmpDirs.register(base)
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderkey") <= 1000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .write.parquet(s"$base/b1")
    o.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 2000)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        concat(lit("ch"), pmod(col("o_orderkey"), lit(3))).as("o_channel"))
      .write.parquet(s"$base/b2")
    s.read.option("mergeSchema", "true").parquet(s"$base/b1", s"$base/b2")
      .groupBy(coalesce(col("o_channel"), lit("(legacy)")).as("channel"),
        col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))
  }

  /** TimeWindow source selection (reference config.go:20 TimeWindow:
    * only source objects whose modification time falls in the window
    * are transferred): Spark's file sources take `modifiedAfter` /
    * `modifiedBefore`, which prune at FILE LISTING time — out-of-window
    * objects are never opened, the exact semantics of the reference's
    * windowed polling. The gate stages two batches with controlled
    * mtimes and transfers only the in-window one. */
  def timeWindow(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_tw_${System.nanoTime}"
    graft.TmpDirs.register(base)
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 2000).coalesce(1)
      .write.parquet(s"$base/src")
    o.filter(col("o_orderkey") <= 1000).coalesce(1)
      .write.parquet(s"$base/old")
    def parquets(d: String) = Files.list(Paths.get(d)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    // in-window batch: mtime 2025-01-01
    parquets(s"$base/src").foreach(
      Files.setLastModifiedTime(_, FileTime.fromMillis(1735689600000L)))
    // out-of-window batch: back-dated to 2024-01-01, then moved in
    parquets(s"$base/old").foreach { p =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(1704067200000L))
      Files.move(p, Paths.get(s"$base/src", "old_" + p.getFileName.toString))
    }
    s.read
      .option("modifiedAfter", "2024-06-01T00:00:00")
      .parquet(s"$base/src")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Declarative error-policy transfer (reference config.go:27
    * MaxErrorCounts + quarantine routing): rows failing the spec's
    * validity predicate are diverted to a quarantine sink while good
    * rows flow to the target; the error count is observed on the write
    * job and checked against the budget. Output: per-disposition counts
    * read back from BOTH sinks, so the oracle verifies placement. */
  def policyRoute(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Pipeline._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_policy_${ProcessHandle.current().pid()}"
    val spec = TransferSpec(
      source = SourceSpec(s"$dir/orders.parquet", Parquet),
      filterExpr = Some("o_orderkey <= 2000"),
      validExpr = Some("o_orderkey % 7 != 0"),
      policy = ErrorPolicy(maxErrors = Long.MaxValue,
        onError = RouteQuarantine(s"$base/quarantine")))
    run(s, spec, s"$base/target")
    val ok = s.read.parquet(s"$base/target")
      .agg(count(lit(1)).as("n")).select(lit("ok").as("status"), col("n"))
    val quarantined = s.read.parquet(s"$base/quarantine")
      .agg(count(lit(1)).as("n")).select(lit("quarantined").as("status"), col("n"))
    ok.union(quarantined)
  }

  /** Persisted-meta incremental transfer (reference meta.go +
    * service.go:201 getMetaObject): three runs over a growing source —
    * batch 1, batch 1+2, then nothing new. Run 3 must process ZERO new
    * rows purely from the persisted `_graft_meta.json`, and the target
    * must hold each batch exactly once (no reprocessing duplicates). */
  def metaIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.{Pipeline, TransferMeta}
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_meta_${System.nanoTime}"
    graft.TmpDirs.register(base)
    val spec = Pipeline.TransferSpec(
      source = Pipeline.SourceSpec(s"$base/src", Pipeline.Parquet))
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderkey") <= 1000).repartition(2)
      .write.mode("append").parquet(s"$base/src")
    val (_, rows1) = TransferMeta.runIncremental(s, spec, s"$base/target")
    o.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 2000).repartition(2)
      .write.mode("append").parquet(s"$base/src")
    val (_, rows2) = TransferMeta.runIncremental(s, spec, s"$base/target")
    val (files3, rows3) = TransferMeta.runIncremental(s, spec, s"$base/target")
    val total = s.read.parquet(s"$base/target").count()
    import s.implicits._
    Seq((rows1, rows2, files3.toLong, rows3, total))
      .toDF("rows_run1", "rows_run2", "files_run3", "rows_run3", "n_total")
  }

  /** MaxTransfers + Repeat (reference config.go:23,32;
    * transfer_service.go:513 caps objects per run, service.go:116
    * decrements Repeat and goes again): the bounded backfill drain.
    * Five deterministic source files (one per orderkey band, each its
    * own dir so the sorted listing is the band order), drained by
    * `runRepeated(repeat = 4, maxTransfers = 2)`: passes must process
    * 2+2+1 files, then a drained 0-file pass stops the loop early —
    * the per-run cap resumes from the persisted meta, so no file is
    * reprocessed or skipped. Output: one row per pass with its file and
    * row counts (row counts are orderkey-band counts, SQL-expressible),
    * plus the final target total proving each row landed exactly once. */
  def maxTransfersDrain(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Pipeline
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_maxt_${System.nanoTime}"
    graft.TmpDirs.register(base)
    val o = Tables.orders(s, dir)
    (0 until 5).foreach { i =>
      o.filter(col("o_orderkey") > i * 400 && col("o_orderkey") <= (i + 1) * 400)
        .repartition(1).write.mode("overwrite").parquet(s"$base/src/b$i")
    }
    val spec = Pipeline.TransferSpec(
      source = Pipeline.SourceSpec(s"$base/src/b*", Pipeline.Parquet))
    val passes = Pipeline.runRepeated(s, spec, s"$base/target",
      repeat = 4, maxTransfers = 2)
    val total = s.read.parquet(s"$base/target").count()
    import s.implicits._
    passes.zipWithIndex.map { case ((files, rows), i) =>
      ((i + 1).toLong, files.toLong, rows, total)
    }.toDF("pass", "n_files", "n_rows", "n_total")
  }

  /** Config-file-driven transfer (reference config.go:15 + the JSON
    * documents under test/: the reference's entire UX is a JSON config)
    * — the document below is parsed by plans.ConfigJson into a
    * TransferSpec and run through the same runAll machinery, proving a
    * reference-style deployment ports by translating its config file
    * and nothing else. Filter + transform + mod-route come FROM the
    * JSON; the gate reads the partitioned sink back and aggregates per
    * shard (floor keeps the band arithmetic truncation-identical
    * between Spark and the oracle). */
  def configJsonTransfer(s: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_cfg_${System.nanoTime}"
    graft.TmpDirs.register(base)
    val cfg = s"""{"Transfers": [{
      |  "Source": {"Path": "$dir/orders.parquet", "Format": "parquet"},
      |  "Target": "$base/out",
      |  "Filter": "o_orderkey <= 2000",
      |  "Transforms": [{"Name": "band",
      |                  "Expr": "CAST(FLOOR(o_totalprice / 100000) AS INT)"}],
      |  "Routes": [{"Type": "mod", "Name": "shard", "Src": "o_custkey", "N": 4}],
      |  "MaxErrorCounts": 0
      |}]}""".stripMargin
    graft.plans.ConfigJson.run(s, cfg)
    s.read.parquet(s"$base/out")
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n"), sum(col("band")).as("sum_band"))
  }

  /** Config-driven SCHEDULED transfer (reference config.go:21
    * Frequency + scheduleNextRun): the one-key config escalation from
    * batch to periodic — the same declarative document, plus a
    * Frequency duration, drives a ProcessingTime streaming query
    * through the identical stage chain (filter → transform → mod
    * route → partitioned sink). Gate stages an ndjson slice, runs the
    * document, and aggregates the partitioned sink — hash-exact
    * against the direct batch SQL, proving the trigger mechanics
    * change nothing about the data contract. */
  def configScheduledTransfer(s: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_cfgsched_${System.nanoTime}"
    graft.TmpDirs.register(base)
    Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.json(s"$base/src")
    val cfg = s"""{"Transfers": [{
      |  "Source": {"Path": "$base/src", "Format": "ndjson",
      |    "Schema": "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"},
      |  "Target": "$base/out",
      |  "Filter": "event_type <> 'error'",
      |  "Transforms": [{"Name": "value_cents",
      |                  "Expr": "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"}],
      |  "Routes": [{"Type": "mod", "Name": "shard", "Src": "user_id", "N": 4}],
      |  "Frequency": {"Duration": 100, "Unit": "milli"}
      |}]}""".stripMargin
    graft.plans.ConfigJson.run(s, cfg)
    s.read.parquet(s"$base/out")
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"))
  }

  /** Config-driven TimeWindow transfer (reference config.go:20): the
    * document declares a rolling mtime window and only in-window
    * source objects transfer — pruned at LISTING time (the out-of-
    * window batch is never opened), the exact semantics of the
    * reference's windowed polling, now reachable from the config file.
    * Gate stages a fresh batch (mtime = now) and a back-dated one
    * (now − 10 days) in the same directory; a 1-day window transfers
    * only the fresh rows — deterministic regardless of wall clock. */
  def configTimeWindowTransfer(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_cfgtw_${System.nanoTime}"
    graft.TmpDirs.register(base)
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderkey") <= 1000).coalesce(1).write.parquet(s"$base/fresh")
    o.filter(col("o_orderkey") > 1000 && col("o_orderkey") <= 2000).coalesce(1)
      .write.parquet(s"$base/stale")
    def parquets(d: String) = Files.list(Paths.get(d)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).toSeq
    val backdated = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    parquets(s"$base/stale").foreach { p =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(backdated))
      Files.move(p, Paths.get(s"$base/fresh", "stale_" + p.getFileName.toString))
    }
    val cfg = s"""{"Transfers": [{
      |  "Source": {"Path": "$base/fresh", "Format": "parquet",
      |    "TimeWindow": {"Duration": 24, "Unit": "hour"}},
      |  "Target": "$base/out"
      |}]}""".stripMargin
    graft.plans.ConfigJson.run(s, cfg)
    s.read.parquet(s"$base/out")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"))
  }

  /** Dynamic-partitioned sink (reference transfer.go getTargetKey →
    * per-key target files): one distributed write, partition dirs are
    * the dynamic targets. Returns the read-back per-partition counts so
    * the oracle can verify content placement. */
  def dynamicPartitionWrite(s: SparkSession, dir: String): DataFrame = {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_dynpart_${ProcessHandle.current().pid()}"
    Tables.events(s, dir)
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      .withColumn("shard", pmod(col("user_id"), lit(4)).cast("int"))
      // co-locate rows with their partition dir: 1 file per (dt, shard)
      // instead of tasks × dirs small files
      .repartition(s.sparkContext.defaultParallelism, col("dt"), col("shard"))
      .write.mode("overwrite").partitionBy("dt", "shard").parquet(tmp)
    s.read.parquet(tmp)
      .groupBy(col("dt").cast("string").as("dt"), col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_records"))
  }

  /** Type-2 slowly-changing-dimension history build — the warehouse
    * side of upsert_merge: orders are the change stream of each
    * customer's priority attribute; consecutive repeats collapse (lag),
    * each retained change opens an interval closed by the next change
    * (lead), and the open interval is the current row. Both windows
    * partition by the customer key, so the build is one shuffle on the
    * dimension key and scales with customers, not history length per
    * se; ties inside a day break on the order key so replays are
    * deterministic. Complements etl_upsert_merge (type-1 overwrite)
    * with the full-history contract real dimension tables need. */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_orderpriority"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
    changes
      .withColumn("next_from", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        col("o_orderdate").as("valid_from"),
        // open intervals close on the standard far-future sentinel
        // (keeps range predicates sargable and the row non-null)
        // stay TIMESTAMP_NTZ end-to-end: o_orderdate is NTZ and a plain
        // timestamp literal would coerce the whole column to LTZ
        coalesce(col("next_from"), lit("9999-12-31").cast("timestamp_ntz"))
          .as("valid_to"),
        col("next_from").isNull.as("is_current"))
  }

  /** Incremental AGGREGATE maintenance — the nightly-rollup contract
    * (reference transfer_service.go's incremental transfers move files;
    * warehouses additionally maintain derived aggregates without
    * rescanning history). Spark's partial-aggregation contract applied
    * ACROSS runs: a per-user (count, exact-decimal sum) state is a
    * commutative monoid, so snapshot ⊎ delta — union + one re-agg —
    * equals the full recompute bit-for-bit (decimal sums are
    * order-independent; this is why the state carries decimal, never
    * raw doubles). Each run reads the previous snapshot (bounded by
    * distinct users, not history length) plus ONLY the new day-band's
    * partitions — the dt range predicate prunes at file listing, so a
    * year of history costs one day of scan per night (spec-gated:
    * the delta scan's PartitionFilters carry the dt band). Day bands
    * derive from the staged data's own distinct dt list (a bounded
    * driver set, the centroid contract), so the operator is
    * SF-agnostic. Gate output: the final per-user state after three
    * incremental runs, hash-exact vs the oracle's one-pass full-scan
    * aggregate — the merge-equals-recompute theorem made a gate row. */
  def incrementalAgg(s: SparkSession, dir: String): DataFrame = {
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_incagg_${ProcessHandle.current().pid()}"
    Tables.events(s, dir)
      .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
      // explicit width (r17): exempt from AQE coalescing — see above
      .repartition(s.sparkContext.defaultParallelism, col("dt"))
      .write.mode("overwrite").partitionBy("dt").parquet(s"$base/events")
    val staged = s.read.parquet(s"$base/events")
    // bounded driver set: one dt string per staged day
    val days = staged.select(col("dt").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    val bandOf = days.zipWithIndex.map { case (d, i) => d -> i * 3 / days.length }.toMap
    (0 until 3).foreach { band =>
      val inBand = bandOf.collect { case (d, b) if b == band => d }.toSeq
      val delta = deltaScan(staged, inBand)
      val merged =
        if (band == 0) delta
        else s.read.parquet(s"$base/snap/${band - 1}").union(delta)
          .groupBy(col("user_id"))
          .agg(sum(col("n_events")).as("n_events"),
            // re-pin the state's decimal type: sum() widens precision
            // per Spark's rules, and union demands a stable schema
            // across runs (the cast is exact — the values fit)
            sum(col("sv")).cast(DecimalType(30, 6)).as("sv"))
      merged.write.mode("overwrite").parquet(s"$base/snap/$band")
    }
    s.read.parquet(s"$base/snap/2")
      .select(col("user_id"), col("n_events"),
        col("sv").cast("double").as("total_value"))
  }

  /** Opaque-blob ingest via Spark's `binaryFile` source — the seam a
    * multimodal corpus actually enters through (image/audio/video
    * arrive as FILES; the mm_* operators consume binary COLUMNS — this
    * gate is the step between: distributed listing + whole-file read
    * into (path, length, content) rows, no driver loop). Staging is
    * itself distributed: a partitionBy(doc_id) text write puts each
    * document's bytes in its own partition directory (each row lands
    * terminated by '\n' — the text sink's framing, which the oracle
    * accounts for), so no corpus bytes ever pass through the driver.
    * The read proves three production knobs at once: partition-column
    * recovery from directory names (doc_id comes back without parsing
    * paths), `pathGlobFilter` restricting the LISTING to the sink's
    * data files (Spark's file index already hides underscore-prefixed
    * markers like _SUCCESS; the glob is the defense against stray
    * non-data files a real landing zone accumulates), and content
    * fidelity (byte length + md5 of the exact bytes, hash-checked
    * against the oracle's independent utf8 rendering of the same
    * documents). The staged landing zone is a FIXED 100-file sample
    * (doc_id < 100), not the whole corpus: whole-file formats pay one
    * task + one commit PER FILE, so a file-per-document corpus scales
    * with document count, not byte count — the gate measured 64 s for
    * 5 000 staged files vs ~1 s for 100, which is exactly why at
    * 100 TB blob corpora are compacted into container files (parquet
    * binary columns, the mm_* shape) and per-file ingest is reserved
    * for bounded landing zones like this audit. */
  /** Stage the bounded 100-file text landing zone the blob gates
    * ingest from. Each caller names its own zone so gates running
    * concurrently in one JVM never race a mode(overwrite) write
    * against another gate's binaryFile read (ADVICE r7 #1). */
  private def stageLandingZone(s: SparkSession, dir: String,
      name: String): String = {
    val staged = s"${System.getProperty("java.io.tmpdir")}/graft_${name}_${ProcessHandle.current().pid()}"
    Tables.documents(s, dir)
      .filter(col("doc_id") < 100)
      .select(col("doc_id"), col("text"))
      // explicit width (r17): exempt from AQE coalescing — 100 doc
      // dirs written from one task otherwise
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .write.mode("overwrite").partitionBy("doc_id").text(staged)
    staged
  }

  def binaryIngest(s: SparkSession, dir: String): DataFrame = {
    val staged = stageLandingZone(s, dir, "blob")
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .load(staged)
      .select(col("doc_id").cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        md5(col("content")).as("content_md5"))
  }

  /** Landing-zone → container compaction — the at-scale answer
    * [[binaryIngest]]'s doc-comment promises: whole-file blob corpora
    * pay one task + one commit per FILE, so the production move is one
    * distributed pass that folds the many small files into parquet
    * rows with a binary `content` column (the mm_* shape), after which
    * every downstream op scans splittable, batched, column-pruned
    * parquet instead of re-listing a million inodes. The gate stages
    * the same bounded 100-file zone as binaryIngest, compacts it to a
    * single-file container (coalesce(1) — file-count control IS the
    * point; a larger zone would target ~128 MB files), reads the
    * CONTAINER back and proves bytes survived both hops (md5 + length
    * vs the oracle's independent rendering) plus the file-count
    * collapse (n_container_files=1 for 100 inputs, data-independent). */
  def blobCompact(s: SparkSession, dir: String): DataFrame = {
    // distinct staging suffix (ADVICE r7 #1): sharing binaryIngest's
    // zone would let two concurrent gates race an overwrite-write
    // against a binaryFile read of the same path
    val staged = stageLandingZone(s, dir, "blobcomp")
    val container = s"${System.getProperty("java.io.tmpdir")}/graft_cont_${ProcessHandle.current().pid()}"
    s.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(staged)
      .select(col("doc_id").cast("long").as("doc_id"), col("content"))
      .coalesce(1)
      .write.mode("overwrite").parquet(container)
    val back = s.read.parquet(container)
    val nFiles = back.inputFiles.length.toLong
    back.select(col("doc_id"),
      length(col("content")).cast("long").as("n_bytes"),
      md5(col("content")).as("content_md5"),
      lit(nFiles).as("n_container_files"))
  }

  /** Declarative data-quality suite over orders (the Deequ/dbt-tests
    * face — see [[graft.plans.Constraints]]): six rules spanning every
    * rule class. All four row-level rules share ONE aggregate scan; the
    * uniqueness rule is one groupBy; the FK rule one left-anti join
    * against customer. The suite mixes passing rules (key unique, FK
    * intact, keys non-null) with genuinely-violated ones on this data
    * (price cap, status set, one-customer-one-order), so the gate pins
    * both zero and non-zero exact counts. */
  def qualityConstraints(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.Constraints._
    val o = Tables.orders(s, dir)
    val rules = Seq(
      NotNull("key_not_null", "o_orderkey"),
      InRange("price_cap", "o_totalprice", 0.0, 100000.0),
      InSet("status_known", "o_orderstatus", Seq("O", "F")),
      Satisfies("priority_format", "o_orderpriority LIKE '%-%'"),
      Unique("key_unique", Seq("o_orderkey")),
      Unique("one_order_per_customer", Seq("o_custkey")),
      RefIntegrity("customer_fk", "o_custkey", Tables.customer(s, dir), "c_custkey"))
    check(o, rules).orderBy(col("rule"))
  }

  /** Dynamic partition OVERWRITE — the selective-replacement semantics
    * a nightly re-statement needs (reference transfer targets
    * overwrite whole objects; a partitioned warehouse must replace
    * ONLY the partitions the new batch touches). With
    * `partitionOverwriteMode=dynamic`, mode("overwrite") deletes just
    * the partition directories present in the incoming frame — here
    * the LAST day is re-stated with its click events only, and every
    * earlier day must survive untouched (STATIC mode would wipe them:
    * the gate distinguishes the two behaviors by value). Gate output:
    * per-type accounting of the final table — earlier days complete,
    * last day clicks-only — hash-exact. */
  def partitionOverwrite(s: SparkSession, dir: String): DataFrame = {
    val tgt = s"${System.getProperty("java.io.tmpdir")}/graft_dynover_${ProcessHandle.current().pid()}"
    val ev = Tables.events(s, dir)
      .withColumn("dt", to_date(col("ts")))
      .select(col("dt"), col("event_type"), col("value"))
    // explicit width (r17): exempt from AQE coalescing — see above
    ev.repartition(s.sparkContext.defaultParallelism, col("dt"))
      .write.mode("overwrite").partitionBy("dt").parquet(tgt)
    val maxDt = ev.agg(max(col("dt"))).head().getDate(0)
    val restated = ev.filter(col("dt") === lit(maxDt) && col("event_type") === "click")
    // data invariant made loud (ADVICE r7 #2): an EMPTY restatement
    // under dynamic mode rewrites no partitions, silently keeping the
    // whole last day and diverging from the oracle
    require(!restated.isEmpty,
      s"partitionOverwrite: no click events on last day $maxDt — " +
        "dynamic overwrite would be a no-op")
    graft.GraftSession.withSqlConfs(s,
      "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      restated.repartition(s.sparkContext.defaultParallelism, col("dt"))
        .write.mode("overwrite").partitionBy("dt").parquet(tgt)
    }
    s.read.parquet(tgt)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  /** The per-run delta: a dt-IN-band partition-pruned scan reduced to
    * the mergeable per-user state. Factored out so the spec can assert
    * the pruning on exactly the frame the operator runs. */
  def deltaScan(staged: DataFrame, days: Seq[String]): DataFrame =
    staged.filter(col("dt").isin(days: _*))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast(DecimalType(30, 6)).as("sv"))
}
