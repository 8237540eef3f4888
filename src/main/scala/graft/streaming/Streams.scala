package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import java.sql.Timestamp
import graft.operators.Similarity
import graft.operators.Similarity.IndexFamily

/** Structured Streaming transfers — the streaming form of the
  * reference's scheduled Transfer loop (reference: config.go:20-21
  * TimeWindow/Frequency; service.go scheduling). Where the reference
  * polls sources on a timer, Spark incrementalizes the same
  * declarative plan: file sources discover new objects per
  * micro-batch, watermarks bound state, and the sink is transactional.
  */
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
  event_type: String, value: Double)

final case class SessionAgg(user_id: Long, n_events: Long,
  start_us: Long, end_us: Long)

final case class SessionState(n: Long, startUs: Long, lastUs: Long)

final case class AttribState(touch: String)

final case class Attribution(user_id: Long, event_id: Long,
  channel: String, value: Double)

object Streams {

  /** State-store sizing rule (VERDICT r3 #3, SURVEY §4): a stateful
    * streaming operator keeps ONE state store per shuffle partition
    * (per join side), so `spark.sql.shuffle.partitions` IS the
    * state-store count — and the right value tracks STATE VOLUME
    * (rows the watermark keeps live), not the batch compute default.
    * The gates below hold ~tens of rows of state, so they run with
    * [[StateSizedPartitions]] stores instead of inheriting the batch
    * setting (32): 8× fewer store instantiations, commits and
    * checkpoint files per micro-batch, identical output — join/agg
    * results never depend on the partition count. At production rates
    * the same rule sizes UP: partitions ≈ live state / target store
    * size, decided per query, which is why this is a per-query conf
    * scope and not a global. */
  val StateSizedPartitions = 4

  /** Named conf bounding how many query ids one serving micro-batch
    * may carry ([[streamHybridServing]], VERDICT r11 #3): the fusion
    * collects the batch's ids to build static pruning filters, which
    * is only sound while the batch is genuinely bounded — this conf
    * makes that contract enforceable instead of prose. */
  val MaxBatchQueriesConf = "spark.graft.serving.maxBatchQueries"

  /** Runs `body` with the session's shuffle partitions pinned to `n` —
    * the single-key form of [[graft.GraftSession.withSqlConfs]].
    * Streaming queries capture the setting at `start()` (it is then
    * pinned by the checkpoint), so the scope must cover query start —
    * termination may fall outside it. */
  def withShufflePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    graft.GraftSession.withSqlConfs(
      s, "spark.sql.shuffle.partitions" -> n.toString)(body)

  /** Shared gate scaffold: stages a bounded slice as ONE ndjson file
    * and opens it as a file-stream source. Timestamps must be staged
    * as unix micros in a `ts_us` column (json rendering drops sub-ms);
    * `tsFromUs` restores a `ts` timestamp from it. The single staged
    * file guarantees the whole source lands in ONE AvailableNow
    * micro-batch regardless of the file source's per-trigger caps —
    * several gate oracles (dedup's no-duplicate-behind-watermark,
    * sessionize's no-backward-timestamps-across-batches) rely on
    * exactly that, so the guarantee lives here rather than being an
    * undocumented property of how few files the staging write happens
    * to produce. Gate slices are ≤2000 rows; the coalesce costs
    * nothing. */
  private def stageStream(s: SparkSession, slice: org.apache.spark.sql.DataFrame,
      dir: String, schemaDdl: String, tsFromUs: Boolean): DataFrame = {
    slice.coalesce(1).write.json(dir)
    val in = s.readStream.schema(schemaDdl).json(dir)
    if (tsFromUs) in.withColumn("ts", timestamp_micros(col("ts_us"))) else in
  }

  /** Fresh per-call artifact dir, registered with the boundary janitor
    * (graft.TmpDirs) so a bench sweep cannot accumulate one copy per
    * rep. */
  private def callDir(tag: String): String = {
    val p = System.getProperty("java.io.tmpdir") + "/graft_" + tag + "_" + System.nanoTime
    graft.TmpDirs.register(p)
    p
  }

  /** Stages a slice as ONE named json file with a controlled mtime —
    * the multi-file gates (late data, checkpoint resume) order their
    * micro-batches by source-file modification time. */
  private def stageNamedFile(df: DataFrame, tmpDir: String, dest: String,
      mtime: Long): Unit = {
    df.coalesce(1).write.json(tmpDir)
    val part = new java.io.File(tmpDir).listFiles()
      .filter(_.getName.endsWith(".json")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dest))
    assert(new java.io.File(dest).setLastModified(mtime))
  }

  /** Streaming file transfer: ndjson in → filter/transform → parquet
    * out, Trigger.AvailableNow (process-everything-then-stop — the
    * batch-parity mode used by the correctness gate).
    * `maxFilesPerTrigger` is the streaming face of the reference's
    * MaxTransfers object cap (config.go:23; the batch face is
    * TransferMeta.runIncremental's maxTransfers): AvailableNow drains
    * everything but honors the per-micro-batch file budget, bounding
    * each commit's size/memory no matter how large the backlog.
    * Returns the number of data micro-batches the drain took. */
  def fileTransferAvailableNow(s: SparkSession, srcDir: String, schemaDdl: String,
      dstDir: String, checkpoint: String,
      maxFilesPerTrigger: Option[Int] = None): Long = {
    val rdr = s.readStream.schema(schemaDdl)
    val in = maxFilesPerTrigger
      .map(n => rdr.option("maxFilesPerTrigger", n)).getOrElse(rdr).json(srcDir)
    val out = in.filter(col("event_type") =!= "error")
      .withColumn("value_cents", (col("value").cast("decimal(18,2)") * 100).cast("long"))
    // Count data micro-batches via the listener bus, not
    // `recentProgress` (ADVICE r5): recentProgress is a ring buffer
    // (spark.sql.streaming.numRecentProgressUpdates, default 100), so a
    // long drain — a big backlog under a small maxFilesPerTrigger —
    // would silently undercount past 100 batches. The bus delivers
    // every progress event; per-query events are ordered, so once the
    // termination event for this query id arrives the count is final.
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val dataBatches = new java.util.concurrent.atomic.AtomicLong(0)
    val terminated = new java.util.concurrent.CountDownLatch(1)
    @volatile var queryId: java.util.UUID = null
    val counter = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == queryId && e.progress.numInputRows > 0)
          dataBatches.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == queryId) terminated.countDown()
    }
    s.streams.addListener(counter)
    try {
      val q = out.writeStream
        .format("parquet")
        .option("path", dstDir)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      queryId = q.id
      q.awaitTermination()
      terminated.await(30, java.util.concurrent.TimeUnit.SECONDS)
      // recentProgress is complete (no wraparound) for ≤100 batches and
      // covers the hairline race of a progress event dispatched before
      // queryId was assigned; past 100 the listener count is the larger
      // and the authoritative one.
      math.max(dataBatches.get(),
        q.recentProgress.count(_.numInputRows > 0).toLong)
    } finally s.streams.removeListener(counter)
  }

  /** End-to-end streaming transfer for the correctness gate: stage a
    * slice of events as ndjson, stream it through the transfer with
    * Trigger.AvailableNow, read the sink back and aggregate to a
    * stable oracle-comparable shape. */
  def streamFileTransfer(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("stream")
    graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.json(s"$base/src")
    fileTransferAvailableNow(s, s"$base/src",
      "event_id LONG, user_id LONG, event_type STRING, value DOUBLE",
      s"$base/dst", s"$base/cp")
    s.read.parquet(s"$base/dst")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"))
  }

  /** Scheduled (Frequency) transfer — the reference's periodic Run loop
    * (reference config.go:21 Frequency; service.go:131) as a
    * Trigger.ProcessingTime streaming query: the source is re-polled
    * every interval, each discovered batch flows through the same
    * declarative transform, and the sink commits transactionally.
    * Registers in TaskRegistry via the listener bus; runs until all
    * currently-available data is processed (processAllAvailable), then
    * stops — so the gate output is deterministic while the trigger
    * mechanics are the real periodic scheduler. */
  def scheduledTransfer(s: SparkSession, srcDir: String, schemaDdl: String,
      dstDir: String, checkpoint: String, queryName: String,
      intervalMs: Long = 100L): Unit = {
    val in = s.readStream.schema(schemaDdl).json(srcDir)
    val out = in.filter(col("event_type") =!= "error")
      .withColumn("value_cents", (col("value").cast("decimal(18,2)") * 100).cast("long"))
    val q = out.writeStream
      .queryName(queryName)
      .format("parquet")
      .option("path", dstDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(intervalMs))
      .start()
    try {
      q.processAllAvailable()
      // the final DATA batch's progress is created (and its listener
      // event posted) by the stream thread just after the commit that
      // processAllAvailable waits on; stopping in that gap would lose
      // the event. Once the batch's progress object shows up in
      // recentProgress the post has happened — the listener bus keeps
      // delivering after stop — so wait for the progress sum to go
      // STABLE across two polls instead of sleeping a fixed interval
      // (stateless streams emit no idle ticks to wait for).
      def totalRows = q.recentProgress.map(_.numInputRows).sum
      val deadline = System.currentTimeMillis() + 3000
      var prev = -1L
      var cur = totalRows
      while ((cur != prev || q.recentProgress.isEmpty)
          && System.currentTimeMillis() < deadline) {
        prev = cur; Thread.sleep(50); cur = totalRows
      }
    } finally q.stop()
  }

  /** Gate query: scheduled transfer end-to-end (staged ndjson slice →
    * ProcessingTime stream → parquet sink → stable aggregate). Same
    * oracle shape as streamFileTransfer, different trigger mechanics. */
  def streamScheduledTransfer(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("sched")
    graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.json(s"$base/src")
    scheduledTransfer(s, s"$base/src",
      "event_id LONG, user_id LONG, event_type STRING, value DOUBLE",
      s"$base/dst", s"$base/cp", s"graft_sched_${System.nanoTime}")
    s.read.parquet(s"$base/dst")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"))
  }

  /** Streaming → database sink with per-batch idempotency — the
    * reference's stream-to-datastore path (pkg/bigquery load jobs per
    * transfer window) as foreachBatch + JDBC: every micro-batch first
    * DELETEs its own batch_id's rows then appends, so a batch REPLAYED
    * after a failure converges instead of duplicating (exactly-once
    * effect on an at-least-once channel). */
  def streamJdbcSink(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Jdbc
    val base = callDir("sjdbc")
    graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.json(s"$base/src")
    val dbDir = s"${System.getProperty("java.io.tmpdir")}/graft_derby_${ProcessHandle.current().pid()}"
    val url = Jdbc.derbyUrl(dbDir)
    val table = "stream_events"
    // ignores ONLY Derby's table-does-not-exist states (42X05 statement /
    // 42Y55 DDL) — any real failure (lock timeout, connection error) must
    // propagate, or a failed per-batch DELETE would silently break the
    // replay idempotency this sink exists to provide
    def execIgnoreMissing(sql: String): Unit = {
      val c = java.sql.DriverManager.getConnection(url)
      try { val st = c.createStatement(); try st.execute(sql) finally st.close() }
      catch {
        case e: java.sql.SQLException
            if e.getSQLState == "42X05" || e.getSQLState == "42Y55" => ()
      }
      finally c.close()
    }
    execIgnoreMissing(s"DROP TABLE $table")
    val in = s.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .json(s"$base/src")
    val q = in.filter(col("event_type") =!= "error")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        execIgnoreMissing(s"DELETE FROM $table WHERE batch_id = $bid") // replay-safe
        batch.withColumn("batch_id", lit(bid))
          .write.format("jdbc")
          .option("url", url).option("dbtable", table)
          .option("driver", Jdbc.DerbyDriver)
          .mode("append").save()
      }
      .option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    Jdbc.read(s, url, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("sum_cents"))
  }

  /** Stream-static enrichment join — the ContentEnricher analog inside
    * a streaming transfer (reference content_enricher.go applied per
    * polled batch): each micro-batch joins the static dim table; Spark
    * re-plans the static side per batch, so a small dim broadcasts.
    * Gate query: staged events stream ⋈ customer, AvailableNow,
    * aggregated per segment from the sink. */
  def streamEnrichTransfer(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("senrich")
    graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .write.json(s"$base/src")
    val dim = graft.sources.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val in = s.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .json(s"$base/src")
    val enriched = in.join(dim, col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("event_type"),
        coalesce(col("c_mktsegment"), lit("(none)")).as("segment"))
    val q = enriched.writeStream.format("parquet")
      .option("path", s"$base/dst").option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(s"$base/dst")
      .groupBy(col("segment"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Watermarked tumbling-window aggregation (streaming q analog of
    * operators.Windows.tumbling). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join: each error event joined to the click
    * events of the same user in the preceding 30 minutes. Watermarks on
    * BOTH sides bound the join state — without them a stream-stream
    * join buffers forever at 100 TB/day rates. */
  def clickErrorIntervalJoin(clicks: DataFrame, errors: DataFrame): DataFrame = {
    val c = clicks.select(col("event_id").as("click_id"), col("user_id").as("c_user"),
      col("ts").as("c_ts")).withWatermark("c_ts", "1 hour")
    val e = errors.select(col("event_id").as("error_id"), col("user_id").as("e_user"),
      col("ts").as("e_ts")).withWatermark("e_ts", "1 hour")
    e.join(c, expr(
      "c_user = e_user AND c_ts >= e_ts - interval 30 minutes AND c_ts <= e_ts"))
      .select(col("error_id"), col("click_id"), col("e_user").as("user_id"),
        unix_micros(col("e_ts")).as("error_us"), unix_micros(col("c_ts")).as("click_us"))
  }

  /** Gate query: REAL streaming windowed aggregation end-to-end —
    * events staged as an ndjson stream source (ts as unix micros),
    * tumbling 1 h windows aggregated in COMPLETE output mode into a
    * memory sink, AvailableNow. Complete mode makes the final table
    * the full aggregate regardless of watermark progress, so the
    * streamed result equals the batch tumbling oracle exactly (Append
    * mode would emit nothing for a single batch — the watermark never
    * passes the last window). */
  def streamWindowedAgg(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("swin")
    val in = stageStream(s,
      graft.sources.Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us")),
      s"$base/src", "event_id LONG, event_type STRING, value DOUBLE, ts_us LONG",
      tsFromUs = true)
    val agg = in
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("win.start")).as("win_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))
    val name = s"graft_swin_${System.nanoTime}"
    // same state-store sizing rule as the interval join: one window×type
    // aggregate state store per partition, and the state is tiny
    val q = withShufflePartitions(s, StateSizedPartitions) {
      agg.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Complete())
        .option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    // memory-sink table → stable frame (tiny: one row per window×type)
    s.table(name)
  }

  /** Gate query: stream-stream interval join end-to-end. Clicks and
    * errors are staged as TWO separate ndjson stream sources (ts as
    * unix micros — the default json timestamp format drops sub-ms
    * precision), joined with two-sided watermarks via
    * clickErrorIntervalJoin, written AvailableNow to a parquet sink.
    * The staged slice fits one micro-batch, so no valid match is ever
    * beyond the watermark and the result equals the batch join the
    * oracle runs. */
  def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("sij")
    val ev = graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val schema = "event_id LONG, user_id LONG, event_type STRING, ts_us LONG"
    val joined = clickErrorIntervalJoin(
      stageStream(s, ev.filter(col("event_type") === "click"),
        s"$base/clicks", schema, tsFromUs = true),
      stageStream(s, ev.filter(col("event_type") === "error"),
        s"$base/errors", schema, tsFromUs = true))
    // state-sized stores: 4 partitions ⇒ 4 state stores per join side
    // instead of 32, for the same output (see StateSizedPartitions)
    val q = withShufflePartitions(s, StateSizedPartitions) {
      joined.writeStream.format("parquet")
        .option("path", s"$base/dst").option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    s.read.parquet(s"$base/dst")
  }

  /** Gate query: WATERMARK LATE-DATA semantics across REAL
    * micro-batches — the one streaming behavior a single-batch gate
    * cannot exercise. The slice splits THREE hours after its first
    * event, hour-aligned (a fixed offset from the data, NOT a calendar
    * boundary — a UTC-day cut broke at sf0.1 where the 2000-event
    * slice spans only 14 hours and the on-time side came up empty):
    * the newer rows stage as the first TWO source files (halved by
    * event parity), the first-three-hours rows as the THIRD
    * (mtime-ordered — the file source processes oldest mtime first
    * under maxFilesPerTrigger=1, so each file is its own
    * micro-batch). The late slice must arrive at batch THREE because
    * Spark filters late events with the PREVIOUS trigger's watermark
    * (one batch of grace): the filter wm for batch N is the one
    * computed after batch N−2, so batch 2's late rows meet the
    * batch-0 watermark — max(on-time even) − 30 min, hours past them
    * at every SF — and drop (empirically:
    * numRowsDroppedByWatermark covers the whole late batch, nothing
    * late reaches the sink). Append mode then emits exactly the
    * on-time windows the final watermark passed. The oracle
    * replicates both rules in SQL (late slice excluded, trailing
    * windows behind max−30min excluded), making watermark drop/emit
    * semantics themselves hash-gated. */
  def streamLateData(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("slate")
    val ev = graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    val minS = ev.agg(min(expr("ts_us div 1000000"))).head().getLong(0)
    // hour-aligned so no window straddles the late/on-time boundary
    val cutS = minS / 3600 * 3600 + 3 * 3600
    new java.io.File(s"$base/src").mkdirs()
    def stageFile(df: DataFrame, tmpDir: String, dest: String, mtime: Long): Unit =
      stageNamedFile(df, tmpDir, dest, mtime)
    val t0 = System.currentTimeMillis()
    val onTime = ev.filter(expr(s"ts_us div 1000000 >= $cutS"))
    stageFile(onTime.filter(col("event_id") % 2 === 0),
      s"$base/t0", s"$base/src/a_even.json", t0 - 120000)
    stageFile(onTime.filter(col("event_id") % 2 === 1),
      s"$base/t1", s"$base/src/b_odd.json", t0 - 60000)
    stageFile(ev.filter(expr(s"ts_us div 1000000 < $cutS")),
      s"$base/t2", s"$base/src/c_late.json", t0)
    val in = s.readStream
      .schema("event_id LONG, event_type STRING, value DOUBLE, ts_us LONG")
      .option("maxFilesPerTrigger", 1).json(s"$base/src")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val agg = in.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_timestamp(col("win.start")).as("win_start_s"),
        col("event_type"), col("n_events"), col("sum_value"))
    val q = withShufflePartitions(s, StateSizedPartitions) {
      agg.writeStream.format("parquet")
        .option("path", s"$base/dst").option("checkpointLocation", s"$base/cp")
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    s.read.parquet(s"$base/dst")
  }

  /** Gate query: checkpoint RECOVERY exactly-once — the transactional
    * property the reference's persisted transfer meta provides
    * (meta.go: processed objects are never re-read), here carried by
    * the streaming checkpoint. Run 1 stages half the slice and drains
    * it AvailableNow; run 2 starts a FRESH query from the SAME
    * checkpoint after the second half lands — the committed offsets
    * skip everything run 1 processed, so the sink holds each event
    * exactly once across the restart. The oracle aggregates the whole
    * slice once; any reprocessing doubles counts and fails the hash. */
  def streamResume(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("sres")
    val ev = graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("event_type"), col("value"))
    new java.io.File(s"$base/src").mkdirs()
    def drain(): Unit = {
      val in = s.readStream
        .schema("event_id LONG, event_type STRING, value DOUBLE")
        .json(s"$base/src")
      val q = in.writeStream.format("parquet")
        .option("path", s"$base/dst").option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val t0 = System.currentTimeMillis()
    stageNamedFile(ev.filter(col("event_id") % 2 === 0),
      s"$base/t0", s"$base/src/a_first.json", t0 - 60000)
    drain() // run 1: processes the first half, commits its offsets
    stageNamedFile(ev.filter(col("event_id") % 2 === 1),
      s"$base/t1", s"$base/src/b_second.json", t0)
    drain() // run 2: resumes from the checkpoint — only the new file
    s.read.parquet(s"$base/dst")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("sum_cents"))
  }

  /** Gate query: streaming ANN SERVING — the retrieval shape where
    * queries ARRIVE as a stream and the corpus is a static index. The
    * corpus-side LSH signature index is built ONCE outside the stream
    * (at 100 TB it is the persisted index a serving fleet mounts);
    * each micro-batch of query vectors signs itself (tiny side),
    * equi-joins the index on (table, sig), exact-ranks its candidates
    * through the bounded-buffer top-k, and appends results to the
    * sink. Query embeddings survive the ndjson hop bit-exactly (Java
    * float→string is shortest-roundtrip), so the gate hash-matches
    * the BATCH LSH oracle for the same query set — serving a query
    * stream and running the batch retrieval are the same answer. */
  def streamAnnServing(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Planes
    import graft.operators.Similarity.{LshTables, LshPlanesPerTable, K}
    val base = callDir("sann")
    val emb = graft.sources.Tables.embeddings(s, dir)
    emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .coalesce(1).write.json(s"$base/src")
    val dims = Planes.dimsOf(emb, "embedding")
    val corpusSigs = Planes.withSigs(
      graft.sources.Tables.embeddingsParallel(s, dir).filter(col("vec_id") >= 10)
        .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb")),
      "c_emb", LshTables, LshPlanesPerTable, dims)
    val in = s.readStream.schema("query_id LONG, q_emb ARRAY<FLOAT>").json(s"$base/src")
    val q = in.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val qs = Planes.withSigs(batch, "q_emb", LshTables, LshPlanesPerTable, dims)
      val cands = broadcast(qs).join(corpusSigs, Seq("table", "sig"))
        .select(col("query_id"), col("cand_id"), col("q_emb"), col("c_emb"))
        .dropDuplicates("query_id", "cand_id")
      val scored = cands.select(col("query_id"), col("cand_id"),
        expr("graft_cosine(q_emb, c_emb)").as("cosine"))
      graft.functions.TopK.perGroup(scored, "query_id", "cand_id", "cosine", K)
        .write.mode("append").parquet(s"$base/dst")
      ()
    }.option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(s"$base/dst")
  }

  /** Gate query: streaming retrieval against the PERSISTED IVF index
    * (the [[streamAnnServing]] shape moved onto the on-disk index):
    * the index — centroids + cent_id-partitioned postings — is built
    * ONCE (session-staged, a fresh serving process would read the same
    * files), queries arrive as a stream, and every micro-batch probes
    * the static index through the same dynamic-partition-pruned join
    * the batch gate uses. Retrieval is per-query (no cross-batch
    * state), so micro-batch boundaries cannot change results and the
    * stream output is bit-equal to batch `sim_ivf_topk` — the gate
    * shares its oracle verbatim. */
  def streamIvfServing(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("sivf")
    graft.sources.Tables.embeddings(s, dir).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .coalesce(1).write.json(s"$base/src")
    val in = s.readStream.schema("query_id LONG, q_emb ARRAY<FLOAT>").json(s"$base/src")
    val q = in.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      Similarity.serveIndex(Similarity.Ivf)(s, dir,
          Similarity.stagedIndex(Similarity.Ivf)(s, dir), Some(batch))
        .write.mode("append").parquet(s"$base/dst")
      ()
    }.option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(s"$base/dst")
  }

  /** Gate query: STREAMING hybrid retrieval — queries arrive as a
    * stream, BOTH persisted arms static (the [[streamIvfServing]]
    * topology applied to the fusion over the BM25 postings index and
    * the IVF index): [[graft.operators.Similarity.HybridStreamDocs]]
    * query ids land in ONE micro-batch and the whole batch fuses in
    * ONE pass of each arm — the `sim_hybrid_index_batch_topk` shape
    * run per micro-batch, NOT a per-query driver loop (VERDICT r10
    * #1: at production query rates the sequential N+1 loop serialized
    * one Spark job chain per query on the driver; the batched fusion
    * serves Q queries for one pruned postings scan + one DPP list
    * join). The queries arrive as TWO real micro-batches
    * (maxFilesPerTrigger=1 over two staged slices, widths 2 and 1):
    * fusion is per-query arithmetic over per-query candidate sets, so
    * micro-batch boundaries cannot change results — each query's
    * slice is bit-equal to the single-query fusion regardless of
    * which batch carried it (spec-asserted; shared partitioned
    * oracle), and the spec's fusion odometer proves one batched pass
    * PER MICRO-BATCH, not per query. Each micro-batch publishes under
    * its deterministic bid so a replayed batch lands exactly-once
    * (ADVICE r10 #3 — the blind append duplicated rows on replay). At
    * 100 TB this is the RAG serving loop: a query stream fans out
    * over two persisted artifacts, per-batch I/O = probed buckets +
    * probed lists + O(Q·depth) fusion. */
  def streamHybridServing(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("shyb")
    import s.implicits._
    val qdf = graft.operators.Similarity.HybridStreamDocs.toDF("query_doc")
    new java.io.File(s"$base/src").mkdirs()
    val t0 = System.currentTimeMillis()
    stageNamedFile(qdf.filter(col("query_doc") < 2),
      s"$base/t0", s"$base/src/a_batch.json", t0 - 60000)
    stageNamedFile(qdf.filter(col("query_doc") >= 2),
      s"$base/t1", s"$base/src/b_batch.json", t0)
    val in = s.readStream.schema("query_doc LONG")
      .option("maxFilesPerTrigger", 1).json(s"$base/src")
    // the serving-batch boundedness contract, ENFORCED (VERDICT r11
    // #3): "a batch of query ids is bounded" was prose — a
    // misconfigured source landing 10^6 ids in one micro-batch would
    // silently materialize them on the driver and build a 10^6-element
    // isInCollection filter. The limit(cap+1) bounds what can ever
    // reach the driver (never more than cap+1 rows regardless of batch
    // width), and the require turns an over-cap batch into a loud,
    // named-conf failure instead of a quiet scale-killer.
    val cap = s.conf.get(MaxBatchQueriesConf, "1024").toInt
    val q = in.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      // collect the IDS only — the fusion itself is one batched Spark
      // plan per micro-batch
      val qds = batch.select(col("query_doc")).limit(cap + 1)
        .as[Long].collect().toSeq.sorted
      require(qds.size <= cap,
        s"serving micro-batch $bid carries more than $cap query ids " +
          s"($MaxBatchQueriesConf) — refusing to materialize an " +
          "unbounded id set on the driver; shrink the source batches " +
          "or raise the cap")
      if (qds.nonEmpty)
        graft.operators.Similarity.hybridIndexBatchTopKFor(s, dir, qds)
          // bid-keyed overwrite: a replay rewrites ITS OWN partition,
          // never duplicating rows (idempotent in effect)
          .write.mode("overwrite").parquet(s"$base/dst/bid=$bid")
      ()
    }.option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the replay key is commit topology, never a result column
    s.read.parquet(s"$base/dst").drop("bid")
  }

  /** Gate query: STREAMING index maintenance — the nightly append as a
    * stream, for any index family: the snapshot index (frozen quantizer
    * [+ codebook], or frozen collection statistics, and snapshot
    * postings) stages once per corpus version; tonight's arrivals land
    * in TWO real micro-batches (maxFilesPerTrigger=1 over two staged
    * slices), each assigning [and encoding] against the frozen artifact
    * headers, or tokenizing only its batch, and appending its postings
    * files into a per-call DELTA — exactly-once via the checkpoint.
    * Assignment and tokenizing are stateless and appends are additive,
    * so micro-batch boundaries cannot change the final postings SET:
    * serving snapshot ∪ delta after the drain is bit-equal to the
    * family's batch incremental gate and shares its oracle verbatim.
    * This is the production topology — last night's immutable artifact
    * plus tonight's arrivals, a continuous crawl feeding list
    * partitions while serving reads a consistent snapshot of them; the
    * compactor ([[graft.operators.Similarity.compactIndex]]) absorbs
    * the per-batch small files, and a bench rep pays only the marginal
    * append, not a rebuild. Float arrays and doc text survive the
    * ndjson hop bit-exactly (shortest-roundtrip rendering, as
    * streamAnnServing; string escaping). */
  def streamIndexAppend(f: IndexFamily)(
      s: SparkSession, dir: String): DataFrame = {
    val snap = Similarity.stagedSnapshot(f)(s, dir)
    val delta = callDir(s"s${f.name}idx")
    runIndexAppendStream(f)(s, dir, delta, snap)
    f.serveFrom(s, dir, snap, Some(delta))
  }

  /** The nightly-batch append STREAM against an existing snapshot
    * index at `base` — two real micro-batches, each publishing
    * idempotently under the frozen headers of `artifactBase` (default:
    * `base`; bid-keyed: a replayed micro-batch purges its own files
    * first, so the append is exactly-once in effect). Shared by the
    * streaming gate and the composite lifecycle gate, so both drive the
    * SAME topology. */
  private[graft] def runIndexAppendStream(f: IndexFamily)(
      s: SparkSession, dir: String, base: String,
      artifactBase: String = null): Unit = {
    val art = Option(artifactBase).getOrElse(base)
    val batch = f.arrivals(s, dir)
    val id = col(batch.columns.head)
    new java.io.File(s"$base/src").mkdirs()
    val t0 = System.currentTimeMillis()
    stageNamedFile(batch.filter(id % 20 === 3),
      s"$base/t0", s"$base/src/a_slice.json", t0 - 60000)
    stageNamedFile(batch.filter(id % 20 =!= 3),
      s"$base/t1", s"$base/src/b_slice.json", t0)
    val in = s.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).json(s"$base/src")
    val q = in.writeStream.foreachBatch { (mb: DataFrame, bid: Long) =>
      f.appendIdempotent(s, base, mb, bid, art)
      ()
    }.option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Gate query: streaming ANOMALY SCORING — the monitoring shape
    * where robust stats are TRAINED OFFLINE (TimeSeries.robustStats:
    * exact median/MAD over the full history) and events arrive as a
    * stream scored against the static broadcast stats. Four staged
    * files under maxFilesPerTrigger=1 force four REAL micro-batches;
    * each batch appends its per-type partial counts and the terminal
    * read re-sums them — counting is additive, so the result
    * hash-matches the batch q_anomaly row REGARDLESS of micro-batch
    * boundaries (value doubles survive the ndjson hop bit-exactly:
    * shortest-roundtrip rendering). At scale the stats frame is the
    * persisted model a monitoring fleet refreshes offline; the stream
    * side is one broadcast join + one partial agg per batch — no
    * state store, no shuffle wider than |event types|. */
  def streamAnomaly(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("sanom")
    val stats = graft.operators.TimeSeries.robustStats(s, dir)
      .select(col("event_type"), col("med"), col("mad"))
    val ev = graft.sources.Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    new java.io.File(s"$base/src").mkdirs()
    val t0 = System.currentTimeMillis()
    for (i <- 0 until 4)
      stageNamedFile(ev.filter(col("event_id") % 4 === i),
        s"$base/t$i", s"$base/src/${('a' + i).toChar}_slice.json", t0 - (3 - i) * 60000)
    val in = s.readStream.schema("event_id LONG, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 1).json(s"$base/src")
    val madK = graft.operators.TimeSeries.MadK
    val q = in.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      batch.join(broadcast(stats), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(when(abs(col("value") - col("med")) > lit(madK) * col("mad"), 1))
            .as("n_outliers"))
        .write.mode("append").parquet(s"$base/dst")
      ()
    }.option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(s"$base/dst")
      .groupBy(col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("n_outliers")).as("n_outliers"))
      .join(broadcast(stats), "event_type")
      .select(col("event_type"), col("n_events"), col("med"), col("mad"),
        col("n_outliers"))
  }

  /** Streaming exact dedup bounded by watermark: the streaming form of
    * Dedup.exactKeyed (idempotent re-delivery collapsing). */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Gate query: REAL watermarked streaming dedup end-to-end — the
    * at-least-once replay pattern a transfer channel produces. The
    * staged source holds the events slice PLUS a re-delivered prefix
    * (every event_id < 500 appears twice); the stream collapses the
    * replays with dropDuplicatesWithinWatermark, so the sink holds
    * each event exactly once and the batch aggregate over the
    * UN-duplicated slice is the oracle. The single-file staging
    * (stageStream) guarantees one AvailableNow micro-batch, so no
    * duplicate can arrive behind the watermark; state stores are
    * state-sized like the other stateful gates. */
  def streamDedupTransfer(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("sdedup")
    val ev = graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    val in = stageStream(s, ev.union(ev.filter(col("event_id") < 500)),
      s"$base/src", "event_id LONG, event_type STRING, value DOUBLE, ts_us LONG",
      tsFromUs = true)
    val q = withShufflePartitions(s, StateSizedPartitions) {
      dedupStream(in)
        .select(col("event_id"), col("event_type"), col("value"))
        .writeStream.format("parquet")
        .option("path", s"$base/dst").option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    s.read.parquet(s"$base/dst")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum((col("value").cast("decimal(18,2)") * 100).cast("long")).as("sum_cents"))
  }

  /** Gate query: the flatMapGroupsWithState sessionization end-to-end
    * as a REAL stream — events staged as an ndjson source, sessionized
    * with the 30-minute gap logic, closed sessions written AvailableNow
    * to a parquet sink. Append mode emits a session only when its gap
    * closes, so each user's LAST session stays in state and the oracle
    * is the batch gaps-and-islands result minus every user's final
    * session. The single-file staging (stageStream) guarantees one
    * micro-batch — a later batch could deliver a user's
    * earlier-timestamped events, which the per-batch sort cannot
    * reorder. Custom-state operators are the one streaming tier the
    * other gates don't exercise under the oracle. */
  def streamSessionize(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("ssess")
    val in = stageStream(s,
      graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us")),
      s"$base/src",
      "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts_us LONG",
      tsFromUs = true)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    import s.implicits._
    val q = withShufflePartitions(s, StateSizedPartitions) {
      sessionize(in.as[Event]).toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/dst").option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    s.read.parquet(s"$base/dst")
  }

  /** Streaming last-touch attribution — the real-time twin of
    * Analytics3.qAttribution: per user, the most recent non-purchase
    * event is carried as state, and every purchase emits immediately
    * with the channel it credits (no window over history — the state
    * IS the LOCF carry, so attribution latency is one micro-batch and
    * per-user state is ONE string regardless of history length).
    * Events are sorted (ts, event_id) within each batch group for
    * batch-order parity; cross-batch order is the file source's
    * responsibility (the gate stages one file = one batch). */
  def attribute(events: Dataset[Event]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttribState, Attribution](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[AttribState]) =>
          def micros(t: Timestamp): Long =
            t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var touch = state.getOption.map(_.touch).getOrElse("")
          val out = scala.collection.mutable.ArrayBuffer[Attribution]()
          sorted.foreach { e =>
            if (e.event_type == "purchase")
              out += Attribution(uid, e.event_id,
                if (touch.isEmpty) "direct" else touch, e.value)
            else touch = e.event_type
          }
          state.update(AttribState(touch))
          out.iterator
      }
  }

  /** Gate query: streaming attribution end-to-end — events staged as an
    * ndjson stream, attributed purchases written AvailableNow to a
    * parquet sink, rolled up to the same (channel, n_purchases,
    * revenue) contract as the batch q_attribution; the oracle is the
    * batch LOCF window over the same slice, so the stream's per-event
    * state carry is verified hash-exact against the declarative form. */
  def streamAttribution(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("sattr")
    val in = stageStream(s,
      graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("ts_us")),
      s"$base/src",
      "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts_us LONG",
      tsFromUs = true)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    import s.implicits._
    val q = withShufflePartitions(s, StateSizedPartitions) {
      attribute(in.as[Event]).toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/dst").option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    s.read.parquet(s"$base/dst")
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("revenue"))
  }

  /** Custom stateful sessionization with flatMapGroupsWithState —
    * 30-minute inactivity gap, emits a session row when the gap closes.
    * The streaming twin of Windows.session's gaps-and-islands. */
  def sessionize(events: Dataset[Event]): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000000
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionAgg](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[SessionState]) =>
          // deterministic order within the group for batch-mode parity
          def micros(t: Timestamp): Long =
            t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000
          val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          var st = state.getOption.getOrElse(SessionState(0, 0, Long.MinValue))
          val closed = scala.collection.mutable.ArrayBuffer[SessionAgg]()
          sorted.foreach { e =>
            val us = micros(e.ts)
            if (st.n == 0) st = SessionState(1, us, us)
            else if (us - st.lastUs > gapUs) {
              closed += SessionAgg(uid, st.n, st.startUs, st.lastUs)
              st = SessionState(1, us, us)
            } else st = SessionState(st.n + 1, st.startUs, us)
          }
          state.update(st)
          closed.iterator
      }
  }

  /** Gate query: streaming UPSERT sink — the foreachBatch keyed-merge
    * pattern (the Delta-Lake MERGE recipe on a plain parquet snapshot;
    * reference transfer_service.go's overwrite targets are the batch
    * face). A change stream of order rows (base load, then two update
    * waves touching overlapping key sets) arrives as three mtime-ordered
    * files under maxFilesPerTrigger=1 — three REAL micro-batches; each
    * batch merges into the current snapshot by keeping the highest
    * version per key and writes the NEXT snapshot directory (named by
    * batch id, so a replayed batch rewrites its own directory from the
    * same immutable inputs — idempotent, the exactly-once contract on
    * an at-least-once channel that streamJdbcSink provides with
    * per-batch DELETEs). The merge is one keyed shuffle over snapshot
    * ∪ batch — scales with live keys, not history; at 100 TB the
    * snapshot would be bucketed by key so the merge co-locates without
    * reshuffling the accumulated state. Gate output: per-status
    * accounting of the FINAL snapshot, hash-exact vs the oracle's
    * version-wins recompute of all three waves. */
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("supsert")
    val o = graft.sources.Tables.orders(s, dir)
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val baseLoad = o.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"), lit(0).as("version"))
    val wave1 = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("X").as("o_orderstatus"),
        (col("o_totalprice").cast(dec) + 1).cast("double").as("o_totalprice"),
        lit(1).as("version"))
    val wave2 = o.filter(col("o_orderkey") % 20 === 0)
      .select(col("o_orderkey"), lit("Y").as("o_orderstatus"),
        (col("o_totalprice").cast(dec) + 2).cast("double").as("o_totalprice"),
        lit(2).as("version"))
    new java.io.File(s"$base/src").mkdirs()
    val t0 = System.currentTimeMillis()
    Seq(baseLoad, wave1, wave2).zipWithIndex.foreach { case (df, i) =>
      stageNamedFile(df, s"$base/t$i", s"$base/src/${('a' + i).toChar}_wave.json",
        t0 - (2 - i) * 60000)
    }
    val in = s.readStream
      .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, version INT")
      .option("maxFilesPerTrigger", 1).json(s"$base/src")
    // driver-held pointer to the latest committed snapshot directory
    var current: Option[String] = None
    val q = in.writeStream.foreachBatch { (batch: DataFrame, bid: Long) =>
      current = Some(mergeBatch(s, s"$base/snap", current, batch, bid))
      ()
    }.option("checkpointLocation", s"$base/cp")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(current.getOrElse(sys.error("no batch committed a snapshot")))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(dec)).cast("double").as("total_price"))
  }

  /** Per-window top-k state for [[trending]]: event-type counts. */
  final case class TrendState(counts: Map[String, Long])
  /** One trending row: an hour window's rank-k event type. */
  final case class Trend(win_start_s: Long, event_type: String,
    n_events: Long, rank: Long)

  /** In-stream windowed TOP-K — trending detection with EVENT-TIME
    * TIMEOUT state (the one GroupStateTimeout face the session/attrib
    * operators don't exercise): each hour window accumulates a bounded
    * per-type count map as custom state and EMITS ITS FINAL TOP-3 only
    * when the watermark passes the window end (hasTimedOut) — the
    * aggregate-then-rank-then-emit-on-close shape a windowed
    * `groupBy().count()` in Append mode cannot express (ranking needs
    * the whole closed window). State per window is |event types|
    * counters; emission is k rows; nothing ever holds raw events.
    * Ties rank deterministically (count desc, type asc). */
  def trending(events: Dataset[Event], k: Int = 3): Dataset[Trend] = {
    import events.sparkSession.implicits._
    def micros(t: Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000
    events
      .withWatermark("ts", "30 minutes")
      .groupByKey(e => micros(e.ts) / 3600000000L)
      .flatMapGroupsWithState[TrendState, Trend](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (hour, rows, state: GroupState[TrendState]) =>
          if (state.hasTimedOut) {
            // the window closed: rank and emit, then drop the state
            val top = state.get.counts.toSeq
              .sortBy { case (t, c) => (-c, t) }.take(k)
            state.remove()
            top.zipWithIndex.map { case ((t, c), i) =>
              Trend(hour * 3600L, t, c, i + 1L) }.iterator
          } else {
            val m = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
            val upd = rows.foldLeft(m) { (acc, e) =>
              acc + (e.event_type -> (acc.getOrElse(e.event_type, 0L) + 1L)) }
            state.update(TrendState(upd))
            // fire when the watermark passes the window END (ms epoch)
            state.setTimeoutTimestamp((hour + 1L) * 3600000L)
            Iterator.empty
          }
      }
  }

  /** Gate query: streaming trending end-to-end. The real slice stages
    * as file ONE; file TWO (later mtime) holds a single SENTINEL event
    * 3 hours past the slice's max ts, whose only job is to push the
    * final watermark beyond every real window end so every real window
    * times out and emits (the sentinel's own window stays in state and
    * never emits — exactly how a production stream works, where the
    * current hour is always still open). A final no-data micro-batch
    * under AvailableNow flushes the timeouts. Hash-exact vs the batch
    * top-3-per-hour oracle over the real slice. */
  def streamTrending(s: SparkSession, dir: String): DataFrame = {
    val base = callDir("strend")
    val ev = graft.sources.Tables.events(s, dir).filter(col("event_id") < 2000)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("ts_us"))
    val maxUs = ev.agg(max(col("ts_us"))).head().getLong(0)
    val sentinel = ev.limit(1).select(lit(-1L).as("event_id"), col("user_id"),
      lit("click").as("event_type"), lit(0.0).as("value"),
      lit(maxUs + 3L * 3600000000L).as("ts_us"))
    new java.io.File(s"$base/src").mkdirs()
    val t0 = System.currentTimeMillis()
    stageNamedFile(ev, s"$base/t0", s"$base/src/a_real.json", t0 - 60000)
    stageNamedFile(sentinel, s"$base/t1", s"$base/src/b_sentinel.json", t0)
    val in = s.readStream
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts_us LONG")
      .option("maxFilesPerTrigger", 1).json(s"$base/src")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    import s.implicits._
    val q = withShufflePartitions(s, StateSizedPartitions) {
      trending(in.as[Event]).toDF()
        .writeStream.format("parquet")
        .option("path", s"$base/dst").option("checkpointLocation", s"$base/cp")
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    s.read.parquet(s"$base/dst")
  }

  /** The per-batch keyed merge behind [[streamUpsert]], factored out so
    * the replay-idempotency claim is spec-provable: merging the SAME
    * batch id twice from the same previous snapshot rewrites the same
    * directory from the same immutable inputs — byte-identical result,
    * which is exactly what happens when a failed micro-batch is
    * re-delivered by the checkpoint. Returns the new snapshot path. */
  private[graft] def mergeBatch(s: SparkSession, snapBase: String,
      prev: Option[String], batch: DataFrame, bid: Long): String = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("version").desc)
    val merged = prev match {
      case None => batch
      case Some(p) => s.read.parquet(p).union(batch)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
    }
    merged.write.mode("overwrite").parquet(s"$snapBase/$bid")
    s"$snapBase/$bid"
  }
}
