package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table (SURVEY.md
  * §2.2 row 49).
  *
  * The same windowed aggregation runs in batch (oracle-checkable) and
  * as a stream with a watermark (late-data bound) — Spark guarantees
  * the two agree for finite input, which `StreamingSpec` asserts via
  * `Trigger.AvailableNow`.
  */
object Streaming {

  /** events raw schema (TESTDATA.md): ts is parquet timestamp[us],
    * read by Spark as TIMESTAMP_NTZ. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** events.ts → proper event-time timestamp. The driver's testdata
    * has carried ts as int64 NANOS (pre-r5, read as long via
    * nanosAsLong) and as parquet timestamp[us] (r5 regeneration, read
    * as TIMESTAMP_NTZ): branch on the read dtype so either vintage
    * works. Sessions run with timeZone=UTC, so the NTZ→TIMESTAMP cast
    * is instant-preserving. */
  def withEventTime(events: DataFrame): DataFrame = {
    val et = events.schema("ts").dataType match {
      case LongType => F.expr("timestamp_micros(ts div 1000)")
      case _        => F.col("ts").cast(TimestampType)
    }
    events.select(F.col("event_id"), et.as("event_time"),
      F.col("user_id"), F.col("event_type"), F.col("value"))
  }

  /** Hourly tumbling-window counts + value sums per event type.
    * Output bucket as epoch seconds: engine-neutral, no timestamp
    * rendering ambiguity in the oracle compare. */
  def windowedCounts(events: DataFrame): DataFrame =
    withEventTime(events)
      .groupBy(F.window(F.col("event_time"), "1 hour"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), F.round(F.sum("value"), 2).as("sum_value"))
      .selectExpr("cast(window.start as bigint) as bucket_start",
        "event_type", "n", "sum_value")

  /** Per-user sessionization with a 30-minute inactivity gap, via
    * Spark's native session windows: sessions merge/extend as events
    * arrive; a new session starts when the gap to the previous event
    * is >= the timeout. Shuffles on user_id — the natural 100 TB
    * partitioning. Output times as epoch seconds (engine-neutral). */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    withEventTime(events)
      .groupBy(F.session_window(F.col("event_time"), s"$gapMinutes minutes"),
               F.col("user_id"))
      .agg(F.count(F.lit(1)).as("n"), F.round(F.sum("value"), 2).as("sum_value"))
      .selectExpr("user_id", "cast(session_window.start as bigint) as session_start",
        "n", "sum_value")

  /** Streaming sessionization: same session windows under a
    * watermark, so session state is bounded on unbounded input. */
  def streamingSessionize(spark: SparkSession, path: String,
                          gapMinutes: Int = 30): DataFrame = {
    val stream = spark.readStream.schema(eventsSchema).parquet(path)
    withEventTime(stream)
      .withWatermark("event_time", "1 hour")
      .groupBy(F.session_window(F.col("event_time"), s"$gapMinutes minutes"),
               F.col("user_id"))
      .agg(F.count(F.lit(1)).as("n"), F.round(F.sum("value"), 2).as("sum_value"))
      .selectExpr("user_id", "cast(session_window.start as bigint) as session_start",
        "n", "sum_value")
  }

  /** Streaming exact dedup: drops events whose event_id was already
    * seen, keeping state only within the watermark horizon — the
    * streaming face of `Dedup.exactDuplicates` (bounded state on
    * unbounded input; at-least-once sources become effectively-once). */
  def streamingDedup(spark: SparkSession, path: String): DataFrame =
    dedupStream(spark.readStream.schema(eventsSchema).parquet(path))

  private[streaming] def dedupStream(stream: DataFrame): DataFrame =
    withEventTime(stream)
      .withWatermark("event_time", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** documents raw schema (TESTDATA.md). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming NEAR-dup dedup: each arriving document is reduced to
    * its 60-bit simhash signature (graft.functions.SimHash, one pass,
    * no shuffle) and dropped if a document with the same signature was
    * already seen — streaming state is one signature per distinct doc
    * cluster, bounded by the ingest-time column's watermark horizon.
    * Signature equality (hamming 0) is the streaming-safe tier of the
    * batch hamming-banded pipeline (`Dedup.simhashPairs`): banded
    * candidate joins need the full corpus, while signature identity
    * needs only per-key state — the standard exact/near split for
    * online vs offline dedup. */
  def streamingNearDedup(spark: SparkSession, path: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val stream = spark.readStream.schema(documentsSchema).parquet(path)
    stream
      .selectExpr("doc_id", "text",
        "graft_simhash(split(lower(text), ' '), 60) as simhash",
        "current_timestamp() as ingest_time")
      .withWatermark("ingest_time", "1 hour")
      .dropDuplicatesWithinWatermark("simhash")
  }

  /** Streaming near-dup TIER 2 (r8): per-batch MinHash banding
    * against a PERSISTED corpus signature table — the streaming
    * spelling of the incremental batch-vs-corpus near-dup. Each
    * arriving document computes its banded minhash signature inline
    * (one projection, the same 2×4 banding as `Dedup`), then one
    * stream-static LEFT ANTI join PER BAND drops any document
    * sharing a band hash with the corpus (band columns, not an
    * explode — the dup test is ANY-band, so each band gets its own
    * stateless anti join; exploding would test per-band rows).
    * Survivors then dedup against EACH OTHER on full-signature
    * identity with watermark-bounded state (the tier-1 semantics).
    * The corpus side is the `Dedup.writeSignatureTable` artifact —
    * the same amortization table the batch incremental path reads;
    * at 100 TB the anti joins shuffle only the band hashes, never
    * the text. Batch-equivalent by StreamingSpec (same survivors as
    * the batch anti-join + signature dedup). */
  def streamingNearDedupVsCorpus(spark: SparkSession, path: String,
                                 signaturePath: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    nearDedupVsCorpusStream(
      spark.readStream.schema(documentsSchema).parquet(path),
      spark.read.parquet(signaturePath))
  }

  private[streaming] def nearDedupVsCorpusStream(stream: DataFrame,
                                                 sig: DataFrame): DataFrame = {
    import graft.ops.Dedup
    val banded = Dedup.withBandCols(stream, keep = Seq("text"))
    val survivors = (0 until Dedup.numBands).foldLeft(banded) { (df, b) =>
      df.join(Dedup.bandHashes(sig, b), Seq(s"__band$b"), "left_anti")
    }
    val sigAll = (0 until Dedup.numBands).map(b => s"__band$b")
      .mkString("concat(", ", ", ")")
    survivors
      .selectExpr("doc_id", "text", s"$sigAll as __sig",
        "current_timestamp() as ingest_time")
      .withWatermark("ingest_time", "1 hour")
      .dropDuplicatesWithinWatermark("__sig")
      .select("doc_id", "text")
  }

  /** Stream-static enrichment join: every arriving event picks up the
    * matching dimension row. The static side is broadcast to each
    * micro-batch (stateless — no streaming state at all, unlike
    * stream-stream joins), so the dimension can be re-read per batch
    * and the stream never blocks on it; left_outer keeps events whose
    * key has no dimension row yet. The canonical shape for decorating
    * a 100 TB/day event stream with slowly-changing reference data. */
  def streamingEnrich(spark: SparkSession, path: String,
                      dim: DataFrame, key: String): DataFrame = {
    val stream = spark.readStream.schema(eventsSchema).parquet(path)
    withEventTime(stream).join(F.broadcast(dim), Seq(key), "left_outer")
  }

  /** Stream-stream interval join (r5): each purchase joins the SAME
    * user's views from the preceding hour. Both sides carry
    * watermarks and the join condition bounds event time on both
    * ends, so Spark can expire join state: a view is droppable once
    * the purchase-side watermark passes its time + 1 hour — state is
    * bounded by rate × interval, never the stream's history. This is
    * the canonical attribution shape (conversions ← impressions
    * within a window) and the stateful tier above the stream-static
    * enrichment join. Inner join: unmatched purchases drop (use the
    * batch form for outer semantics — streaming outer needs BOTH
    * watermarks to emit nulls, with the same state contract). */
  def streamingIntervalJoin(spark: SparkSession, path: String): DataFrame = {
    val p = withEventTime(spark.readStream.schema(eventsSchema).parquet(path))
      .filter("event_type = 'purchase'")
      .selectExpr("event_id as p_id", "user_id", "event_time as p_time",
        "value")
      .withWatermark("p_time", "1 hour")
    val v = withEventTime(spark.readStream.schema(eventsSchema).parquet(path))
      .filter("event_type = 'view'")
      .selectExpr("event_id as v_id", "user_id as v_user",
        "event_time as v_time")
      .withWatermark("v_time", "2 hours")
    joinPurchasesToViews(p, v)
  }

  /** The same join on batch frames — the spec's equivalence oracle. */
  def batchIntervalJoin(events: DataFrame): DataFrame = {
    val e = withEventTime(events)
    val p = e.filter("event_type = 'purchase'")
      .selectExpr("event_id as p_id", "user_id", "event_time as p_time",
        "value")
    val v = e.filter("event_type = 'view'")
      .selectExpr("event_id as v_id", "user_id as v_user",
        "event_time as v_time")
    joinPurchasesToViews(p, v)
  }

  private def joinPurchasesToViews(p: DataFrame, v: DataFrame): DataFrame =
    p.join(v, F.expr(
        """user_id = v_user
           and v_time between p_time - interval 1 hour and p_time"""))
      .selectExpr("p_id", "user_id",
        "cast(p_time as bigint) as p_sec", "v_id",
        "cast(v_time as bigint) as v_sec", "value")

  /** Per-user running totals via arbitrary stateful processing
    * (flatMapGroupsWithState): the custom-state escape hatch for
    * logic windows/sessions can't express. State is one small case
    * class per key — bounded by |users|, partitioned by the group
    * key. Emits one updated (user_id, n_events, sum_value) row per
    * input event batch per user. */
  final case class UserTotals(n_events: Long, sum_value: Double)

  def streamingUserTotals(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stream = spark.readStream.schema(eventsSchema).parquet(path)
    val typed = withEventTime(stream)
      .selectExpr("user_id", "value").as[(Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[UserTotals, (Long, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          rows.foreach { case (_, v) => n += 1; s += v }
          state.update(UserTotals(n, s))
          Iterator((user, n, s))
      }
      .toDF("user_id", "n_events", "sum_value")
      .selectExpr("user_id", "n_events", "round(sum_value, 2) as sum_value")
  }

  /** Like [[withEventTime]] but keeps every column (props included). */
  def withEventTimeKeepAll(events: DataFrame): DataFrame = {
    val et = events.schema("ts").dataType match {
      case LongType => F.expr("timestamp_micros(ts div 1000)")
      case _        => F.col("ts").cast(TimestampType)
    }
    events.withColumn("event_time", et)
  }

  /** Per-window Misra–Gries sketch state for [[streamingTopKeys]]. */
  final case class SketchState(nSeen: Long, counts: Map[String, Long])

  /** Streaming heavy hitters (r5b): per hourly window, the top-k
    * event property keys via the bounded Misra–Gries sketch
    * (graft.functions.HeavyHitters) held in flatMapGroupsWithState
    * state — at most `sketch` counters per window NO MATTER the key
    * cardinality, the streaming analogue of approxTopNgrams. Each
    * micro-batch folds its rows into the window's sketch and emits
    * the current top-k as (bucket_start, n_seen, key, est); the
    * emission with the window's largest n_seen is the final answer
    * (est values are MG lower bounds — exact when `sketch` exceeds
    * the window's distinct keys). State is bounded by
    * |windows| × sketch; with a watermark + timeout closed windows
    * would age out (NoTimeout here — finite AvailableNow inputs). */
  def streamingTopKeys(spark: SparkSession, path: String, k: Int = 5,
                       sketch: Int = 256,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    var reader = spark.readStream.schema(eventsSchema)
    maxFilesPerTrigger.foreach(n =>
      reader = reader.option("maxFilesPerTrigger", n.toString))
    val stream = reader.parquet(path)
    val et = stream.schema("ts").dataType match {
      case LongType => F.expr("timestamp_micros(ts div 1000)")
      case _        => F.col("ts").cast(TimestampType)
    }
    val typed = stream
      .select(F.date_trunc("hour", et).cast("long").as("w"),
        F.get_json_object(F.col("props"), "$.k").as("pk"))
      .as[(Long, String)]
    val mg = new graft.functions.HeavyHitters.MisraGries(sketch)
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SketchState, (Long, Long, String, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (w: Long, rows: Iterator[(Long, String)],
         state: org.apache.spark.sql.streaming.GroupState[SketchState]) =>
          val prev = state.getOption.getOrElse(SketchState(0L, Map.empty))
          var counts = prev.counts
          var n = prev.nSeen
          rows.foreach { case (_, pk) =>
            if (pk != null) { counts = mg.reduce(counts, pk); n += 1 }
          }
          state.update(SketchState(n, counts))
          counts.toSeq.sortBy(t => (-t._2, t._1)).take(k)
            .map { case (key, c) => (w, n, key, c) }.iterator
      }
      .toDF("bucket_start", "n_seen", "key", "est")
  }

  /** Streaming throughput bench: drives the windowed aggregation and
    * the exact-dedup streams under Trigger.AvailableNow into a noop
    * sink, at TWO input scales (1× and 2× the events table), each
    * split into one file per micro-batch (maxFilesPerTrigger=1) so a
    * run has ≥12 batches and a STEADY-STATE number exists: the first
    * batch carries stream/JVM startup and is excluded from the
    * steady block, which reports its own rows/s plus mean/max batch
    * latency from the engine's progress telemetry. Comparing the two
    * scales' steady rows/s shows whether per-row cost is flat as
    * state grows (watermark-bounded state ⇒ it should be). Returns
    * ONE JSON object string (embedded in Bench's output line);
    * failures degrade to an "error" field rather than killing the
    * batch bench.
    *
    * State lives in RocksDB (Spark's RocksDBStateStoreProvider — the
    * 100 TB streaming posture: state spills to local SSD instead of
    * executor heap, so watermark-bounded-but-large state no longer
    * competes with shuffle memory; StreamingSpec pins result parity
    * with the default provider). The provider is a session conf
    * consumed at stream START, set for the run and restored after. */
  def benchJson(spark: SparkSession, sfDir: String): String = {
    val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try benchJsonImpl(spark, sfDir)
    finally priorProvider match {
      case Some(p) => spark.conf.set(ProviderConf, p)
      case None    => spark.conf.unset(ProviderConf)
    }
  }

  private def benchJsonImpl(spark: SparkSession, sfDir: String): String = {
    import org.apache.spark.sql.streaming.Trigger
    import java.nio.file.{Files, Path}
    def errJson(name: String, e: Throwable): String = {
      val msg = Option(e.getMessage).getOrElse("")
        .linesIterator.toSeq.headOption.getOrElse("")
        .replaceAll("[\"\\\\]", "'").take(120)
      s""""$name":{"error":"${e.getClass.getSimpleName}: $msg"}"""
    }
    def run(stage: Path)(name: String, df: => DataFrame): String =
      try {
        val ckpt = stage.resolve(s"ckpt_$name").toString
        val t0 = System.nanoTime()
        val q = df.writeStream.format("noop")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val sec = (System.nanoTime() - t0) / 1e9
        val progress = q.recentProgress.filter(_.numInputRows > 0)
        val rows = progress.map(_.numInputRows).sum
        val batches = progress.length
        val rps = if (sec > 0) (rows / sec).round else 0L
        // steady state: drop the first (startup-loaded) batch
        val steady = progress.drop(1)
        val sRows = steady.map(_.numInputRows).sum
        val sMs = steady.map(_.batchDuration).sum
        val sRps = if (sMs > 0) (sRows * 1000.0 / sMs).round else 0L
        val sMean = if (steady.isEmpty) 0.0 else sMs.toDouble / steady.length
        val sMax = if (steady.isEmpty) 0L else steady.map(_.batchDuration).max
        // state-store footprint from the final progress: live rows
        // and provider-reported bytes (heap for hdfs, native/SST for
        // rocksdb) — the number that must stay watermark-bounded for
        // the 100 TB posture, published so flat throughput can't mask
        // unbounded state
        val ops = progress.lastOption.map(_.stateOperators)
          .getOrElse(Array.empty)
        val stRows = ops.map(_.numRowsTotal).sum
        val stBytes = ops.map(_.memoryUsedBytes).sum
        s""""$name":{"rows":$rows,"sec":$sec,"rows_per_sec":$rps,""" +
          s""""batches":$batches,"state_rows":$stRows,""" +
          s""""state_bytes":$stBytes,"steady":{"batches":${steady.length},""" +
          s""""rows_per_sec":$sRps,"mean_batch_ms":$sMean,"max_batch_ms":$sMax}}"""
      } catch { case e: Throwable => errJson(name, e) }
    // the file streaming source requires a DIRECTORY of files and the
    // per-batch split needs one file per batch — stage the events
    // table as 12 (1×) and 24 (2×, self-unioned with offset ids)
    // parquet files in a temp dir that also holds the checkpoints, so
    // ONE recursive delete cleans up. Staging failure degrades to
    // error fields — it must never kill the batch bench results
    // Bench prints after this call.
    val staged =
      try {
        val stage = Files.createTempDirectory("graft_stream_bench")
        try {
          val ev = spark.read.parquet(s"$sfDir/events.parquet")
          ev.repartition(12).write.mode("overwrite")
            .parquet(stage.resolve("data1").toString)
          ev.union(ev.selectExpr("event_id + 1000000000 as event_id",
              "ts", "user_id", "event_type", "value", "props"))
            .repartition(24).write.mode("overwrite")
            .parquet(stage.resolve("data2").toString)
          Right(stage)
        } catch { case e: Throwable => deleteRecursively(stage); Left(e) }
      } catch { case e: Throwable => Left(e) }
    val store = """"state_store":"rocksdb""""
    staged match {
      case Left(e) =>
        (store +: Seq(errJson("windowed_counts_1x", e), errJson("dedup_1x", e)))
          .mkString("{", ",", "}")
      case Right(stage) =>
        try {
          def src(scale: Int): String =
            stage.resolve(s"data$scale").toString
          def oneFilePerBatch(path: String): DataFrame =
            spark.readStream.schema(eventsSchema)
              .option("maxFilesPerTrigger", "1").parquet(path)
          Seq(
            store,
            run(stage)("windowed_counts_1x", windowedStream(oneFilePerBatch(src(1)))),
            run(stage)("windowed_counts_2x", windowedStream(oneFilePerBatch(src(2)))),
            run(stage)("dedup_1x", dedupStream(oneFilePerBatch(src(1)))),
            run(stage)("dedup_2x", dedupStream(oneFilePerBatch(src(2))))
          ).mkString("{", ",", "}")
        } finally deleteRecursively(stage)
    }
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  /** Streaming flavor of `windowedCounts` with a 1-hour watermark —
    * state for a window is dropped once event time passes its end by
    * the watermark, bounding memory on unbounded input. */
  def streamingWindowedCounts(spark: SparkSession, path: String): DataFrame =
    windowedStream(spark.readStream.schema(eventsSchema).parquet(path))

  private[streaming] def windowedStream(stream: DataFrame): DataFrame =
    withEventTime(stream)
      .withWatermark("event_time", "1 hour")
      .groupBy(F.window(F.col("event_time"), "1 hour"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), F.round(F.sum("value"), 2).as("sum_value"))
      .selectExpr("cast(window.start as bigint) as bucket_start",
        "event_type", "n", "sum_value")
}
