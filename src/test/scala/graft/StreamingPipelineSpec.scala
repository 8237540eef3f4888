package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.Windows
import graft.sources.Tables
import graft.streaming.Streams
import graft.streaming.Event

class StreamingPipelineSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}

  private def eventSlice(n: Int): Seq[Event] = {
    import spark.implicits._
    Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id").limit(n).as[Event].collect().toSeq
  }

  test("streaming windowed counts match the batch tumbling aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = eventSlice(500)
    val mem = MemoryStream[Event]
    mem.addData(events)
    val q = Streams.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Complete()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("win_counts")
      .select("win_start_s", "event_type", "n_events", "sum_value")
      .collect().map(_.toSeq).toSet
    // recompute batch on the same 500-event slice for exact comparison
    val sliceDf = events.toDF()
    val batchSlice = sliceDf
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("win.start")).as("win_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batchSlice)
  }

  test("flatMapGroupsWithState sessionization matches batch gaps-and-islands (closed sessions)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = eventSlice(2000)
    val mem = MemoryStream[Event]
    mem.addData(events)
    val q = Streams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sessions")
      .select("user_id", "n_events", "start_us", "end_us")
      .collect().map(_.toSeq).toSet

    // batch truth on the same slice: all sessions minus each user's last
    // (still open in streaming state)
    val sliceDf = events.toDF()
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val sessions = sliceDf
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 30L * 60 * 1000000, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        unix_micros(min(col("ts"))).as("start_us"),
        unix_micros(max(col("ts"))).as("end_us"))
    val lastPerUser = sessions.groupBy("user_id")
      .agg(max("session_seq").as("session_seq"))
    val closed = sessions.join(lastPerUser, Seq("user_id", "session_seq"), "left_anti")
      .select("user_id", "n_events", "start_us", "end_us")
      .collect().map(_.toSeq).toSet
    assert(streamed == closed)
  }

  test("streaming last-touch attribution matches the batch LOCF window exactly") {
    val got = Streams.streamAttribution(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val exp = Tables.events(spark, sf).filter(col("event_id") < 2000)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("direct")).as("channel"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("rev"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == exp, s"stream $got != batch $exp")
    assert(got.nonEmpty, "gate slice must contain attributed purchases")
  }

  test("streaming ANN serving equals the batch LSH retrieval bit-for-bit") {
    val served = Streams.streamAnnServing(spark, sf)
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.Similarity.lshTopK(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(served == batch,
      "a query served from the stream must rank identically to the batch retrieval")
    assert(served.nonEmpty)
  }

  test("checkpoint resume: each staged event lands exactly once across a query restart") {
    val got = Streams.streamResume(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exp = Tables.events(spark, sf).filter(col("event_id") < 2000)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("cents"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == exp,
      s"resumed stream must process each event exactly once: $got vs $exp")
  }

  test("stream-stream interval join matches the batch interval join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = eventSlice(1500)
    val memC = MemoryStream[Event]; val memE = MemoryStream[Event]
    memC.addData(events.filter(_.event_type == "click"))
    memE.addData(events.filter(_.event_type == "error"))
    val q = Streams.clickErrorIntervalJoin(memC.toDF(), memE.toDF())
      .writeStream.format("memory").queryName("ij")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ij").collect().map(_.toSeq).toSet

    val all = events.toDF()
    val bc = all.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
    val be = all.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
    val batch = be.join(bc, expr(
        "c_user = e_user AND c_ts >= e_ts - interval 30 minutes AND c_ts <= e_ts"))
      .select(col("error_id"), col("click_id"), col("e_user").as("user_id"),
        unix_micros(col("e_ts")).as("error_us"), unix_micros(col("c_ts")).as("click_us"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("state-sized partitions: store count tracks the conf, output unchanged (VERDICT r3 #3)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = eventSlice(1500)
    val memC = MemoryStream[Event]; val memE = MemoryStream[Event]
    memC.addData(events.filter(_.event_type == "click"))
    memE.addData(events.filter(_.event_type == "error"))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    val q = Streams.withShufflePartitions(spark, Streams.StateSizedPartitions) {
      Streams.clickErrorIntervalJoin(memC.toDF(), memE.toDF())
        .writeStream.format("memory").queryName("ij_sized")
        .outputMode(OutputMode.Append()).start()
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prev,
      "withShufflePartitions must restore the session setting")
    q.processAllAvailable()
    val stateOps = q.lastProgress.stateOperators
    q.stop()
    // one state store per shuffle partition (per side): the conf IS the
    // store count, and 4 stores hold this state as correctly as 32
    assert(stateOps.nonEmpty &&
      stateOps.forall(_.numShufflePartitions == Streams.StateSizedPartitions),
      s"expected ${Streams.StateSizedPartitions} state partitions, got " +
        stateOps.map(_.numShufflePartitions).mkString(","))
    val sized = spark.table("ij_sized").collect().map(_.toSeq).toSet
    // identical rows to the 32-partition run of the same join above
    val batch = {
      val all = events.toDF()
      val bc = all.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"), col("ts").as("c_ts"))
      val be = all.filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
      be.join(bc, expr(
          "c_user = e_user AND c_ts >= e_ts - interval 30 minutes AND c_ts <= e_ts"))
        .select(col("error_id"), col("click_id"), col("e_user").as("user_id"),
          unix_micros(col("e_ts")).as("error_us"), unix_micros(col("c_ts")).as("click_us"))
        .collect().map(_.toSeq).toSet
    }
    assert(sized == batch && batch.nonEmpty)
  }

  test("state-store sizing UP: per-store state rows track volume / partition count (SURVEY §8)") {
    // The other direction of the r3 #3 rule: when live state is LARGE,
    // shuffle partitions size UP — partitions ≈ state rows / target
    // rows-per-store. Proven observably: the same unbounded streaming
    // dedup (1000 live keys — no watermark, so nothing evicts and the
    // live-state count is exact) run at 4 vs 16 partitions, then the
    // state read BACK from each checkpoint via the state-reader source,
    // counting rows per store. The production (watermarked) form sizes
    // with the identical lever; unbounded state just makes the
    // arithmetic deterministic here.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = eventSlice(1000)
    def run(nParts: Int): (String, Set[Long]) = {
      val base = java.nio.file.Files.createTempDirectory(s"graft_sizing_$nParts").toString
      val mem = MemoryStream[Event]
      mem.addData(events)
      val q = Streams.withShufflePartitions(spark, nParts) {
        mem.toDF().dropDuplicates("event_id")
          .writeStream.format("memory").queryName(s"sizing_$nParts")
          .option("checkpointLocation", s"$base/cp")
          .outputMode(OutputMode.Append()).start()
      }
      q.processAllAvailable(); q.stop()
      val out = spark.table(s"sizing_$nParts")
        .select("event_id").collect().map(_.getLong(0)).toSet
      (s"$base/cp", out)
    }
    val (cp4, out4) = run(4)
    val (cp16, out16) = run(16)
    val ids = events.map(_.event_id).toSet
    assert(out4 == ids && out16 == ids, "partition count must not change output")
    def perStore(cp: String): Map[Int, Long] =
      spark.read.format("statestore").load(cp)
        .groupBy("partition_id").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val s4 = perStore(cp4); val s16 = perStore(cp16)
    // every live key is in exactly one store; store count == partitions
    assert(s4.values.sum == 1000 && s16.values.sum == 1000,
      s"state rows: ${s4.values.sum} / ${s16.values.sum}")
    assert(s4.size == 4 && s16.size == 16,
      s"store counts: ${s4.size} / ${s16.size}")
    // hash-partitioned keys spread evenly (≤2× the mean), so the
    // per-store load is controllable by the partition count alone —
    // 4× the stores materially shrinks the biggest store
    assert(s4.values.max <= 2 * 1000 / 4, s"skewed 4-store spread: $s4")
    assert(s16.values.max <= 2 * 1000 / 16, s"skewed 16-store spread: $s16")
    assert(s16.values.max < s4.values.max,
      s"sizing up must shrink the max store: ${s16.values.max} vs ${s4.values.max}")
  }

  test("watermarked streaming dedup collapses duplicate deliveries") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = eventSlice(300)
    val mem = MemoryStream[Event]
    mem.addData(events ++ events.take(100)) // re-deliver a prefix
    val q = Streams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_s")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("dedup_s").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(got.length == 300 && got.toSet == events.map(_.event_id).toSet)
  }

  test("maxFilesPerTrigger: AvailableNow drains in bounded micro-batches, same sink") {
    // streaming face of the reference's MaxTransfers cap: 4 staged
    // source files under a 1-file budget must take ≥4 data batches
    // (uncapped: 1) and land byte-identical sink contents
    def stage(base: String): Unit = (0 until 4).foreach { i =>
      Tables.events(spark, sf)
        .filter(col("event_id") >= i * 250 && col("event_id") < (i + 1) * 250)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("append").json(s"$base/src")
    }
    val ddl = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"
    val capped = s"${System.getProperty("java.io.tmpdir")}/graft_mft_${System.nanoTime}"
    stage(capped)
    val nCapped = Streams.fileTransferAvailableNow(spark, s"$capped/src", ddl,
      s"$capped/dst", s"$capped/cp", maxFilesPerTrigger = Some(1))
    val open = s"${System.getProperty("java.io.tmpdir")}/graft_mft_u_${System.nanoTime}"
    stage(open)
    val nOpen = Streams.fileTransferAvailableNow(spark, s"$open/src", ddl,
      s"$open/dst", s"$open/cp")
    assert(nCapped >= 4, s"1-file budget over 4 files must take ≥4 batches, took $nCapped")
    assert(nOpen == 1, s"uncapped AvailableNow should drain in one batch, took $nOpen")
    val a = spark.read.parquet(s"$capped/dst").orderBy("event_id").collect()
    val b = spark.read.parquet(s"$open/dst").orderBy("event_id").collect()
    assert(a.nonEmpty && a.sameElements(b), "cap must not change sink contents")
  }

  test("pipeline run() writes dynamic partitions routed by mod and date keys") {
    import graft.plans.Pipeline._
    val out = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val spec = TransferSpec(
      source = SourceSpec(s"$sf/orders.parquet", Parquet),
      filterExpr = Some("o_totalprice > 100000"),
      routes = Seq(ModKey("shard", "o_custkey", 4), DateKey("yr", "o_orderdate", "yyyy")))
    graft.plans.Pipeline.run(spark, spec, out)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("shard=")))
    val back = spark.read.parquet(out)
    assert(back.count() == plan(spark, spec).count())
    assert(back.columns.contains("yr"))
  }

  test("streaming anomaly scoring equals the batch row across real micro-batches") {
    import org.apache.spark.sql.Row
    // counting against static offline stats is additive, so 4 staged
    // files × maxFilesPerTrigger=1 must sum to exactly the batch result
    val streamed = graft.streaming.Streams.streamAnomaly(spark, sf).collect().toSet
    val batch = graft.operators.TimeSeries.anomaly(spark, sf).collect().toSet
    def key(r: Row) = (r.getString(0), r.getLong(1), r.getDouble(2),
      r.getDouble(3), r.getLong(4))
    assert(streamed.map(key) == batch.map(key),
      s"streamed ${streamed.map(key)} != batch ${batch.map(key)}")
    assert(streamed.nonEmpty)
  }

  test("streaming upsert: per-batch keyed merge converges to version-wins over all waves") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.Streams.streamUpsert(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // batch recompute: all three waves at once, highest version per key
    val o = graft.sources.Tables.orders(spark, sf)
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val all = o.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), lit(0).as("version"))
      .union(o.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), lit("X"),
          (col("o_totalprice").cast(dec) + 1).cast("double"), lit(1)))
      .union(o.filter(col("o_orderkey") % 20 === 0)
        .select(col("o_orderkey"), lit("Y"),
          (col("o_totalprice").cast(dec) + 2).cast("double"), lit(2)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("version").desc)
    val expected = all.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast(dec)).cast("double").as("tp"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got == expected, s"$got != $expected")
    // the double-update keys must show wave-2's status: Y present, and
    // X holds only the %10-but-not-%20 keys
    assert(got.contains("Y") && got.contains("X"))
  }

  test("streaming trending: every real window emits its closed top-3, sentinel stays open") {
    import org.apache.spark.sql.functions._
    val got = graft.streaming.Streams.streamTrending(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    // batch recompute: top-3 per hour with the same (count desc, type asc) rank
    val ev = graft.sources.Tables.events(spark, sf).filter(col("event_id") < 2000)
      .select(expr("unix_micros(ts) div 3600000000 * 3600").as("win_start_s"),
        col("event_type"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("win_start_s")).orderBy(col("n_events").desc, col("event_type"))
    val expected = ev.groupBy("win_start_s", "event_type")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected, "in-stream timeout emission must equal the closed-window batch rank")
    // the sentinel's window (3h past max ts) must never appear
    val maxReal = graft.sources.Tables.events(spark, sf).filter(col("event_id") < 2000)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    assert(got.forall(_._1 <= maxReal / 1000000L), "an unclosed window leaked an emission")
    assert(got.groupBy(_._1).forall(_._2.size <= 3))
  }

  test("streaming upsert replay: re-merging the same batch id is byte-idempotent") {
    import org.apache.spark.sql.functions._
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_replay_${System.nanoTime}"
    val o = graft.sources.Tables.orders(spark, sf).limit(200)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), lit(0).as("version")).cache()
    val batch1 = o.filter(col("o_orderkey") % 3 === 0)
      .withColumn("version", lit(1))
    val snap0 = graft.streaming.Streams.mergeBatch(spark, s"$base/snap", None, o, 0L)
    def rowsOf(p: String) = spark.read.parquet(p).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3))).toSet
    val snap1 = graft.streaming.Streams.mergeBatch(spark, s"$base/snap", Some(snap0), batch1, 1L)
    val first = rowsOf(snap1)
    // the replay: same bid, same prev snapshot, same immutable batch
    val replayed = graft.streaming.Streams.mergeBatch(spark, s"$base/snap", Some(snap0), batch1, 1L)
    assert(replayed == snap1, "a replayed batch must rewrite its own directory")
    assert(rowsOf(replayed) == first, "replay must be value-idempotent")
    assert(first.count(_._4 == 1) == batch1.count(), "every update key upgraded once")
  }

  test("streaming index append serves bit-equal to the batch incremental path") {
    // two maintenance topologies, one result: micro-batched appends
    // against the frozen quantizer must land the identical postings
    // set, so serving matches the batch sim_ivf_index_incremental gate
    val streamed = Streams.streamIndexAppend(graft.operators.Similarity.Ivf)(spark, sf)
      .collect().map(_.toString).toSet
    val batch = graft.operators.Similarity.incTopK(graft.operators.Similarity.Ivf)(spark, sf)
      .collect().map(_.toString).toSet
    assert(streamed == batch,
      "stream-maintained index serving must equal the batch-maintained one")
  }

  test("streaming BM25 append serves bit-equal to the batch incremental path") {
    // the lexical twin: micro-batched tokenize-and-append under frozen
    // collection stats must land the identical postings set
    val streamed = Streams.streamIndexAppend(graft.operators.Similarity.Bm25)(spark, sf)
      .collect().map(_.toString).toSet
    val batch = graft.operators.Similarity.incTopK(graft.operators.Similarity.Bm25)(spark, sf)
      .collect().map(_.toString).toSet
    assert(streamed == batch,
      "stream-maintained lexical index serving must equal the batch-maintained one")
  }

  test("streaming PQ index append serves bit-equal to the batch incremental path") {
    // the compressed-index twin: micro-batched encode-and-append under
    // the frozen quantizer+codebook must land the identical code set
    val streamed = Streams.streamIndexAppend(graft.operators.Similarity.IvfPq)(spark, sf)
      .collect().map(_.toString).toSet
    val batch = graft.operators.Similarity.incTopK(graft.operators.Similarity.IvfPq)(spark, sf)
      .collect().map(_.toString).toSet
    assert(streamed == batch,
      "stream-maintained PQ index serving must equal the batch-maintained one")
  }
}
