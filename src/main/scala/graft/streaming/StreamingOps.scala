package graft.streaming

import graft.{OwnedSession, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode,
  StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger,
  TTLConfig, ValueState}

/** Stream-shaped operators over the `events` table.
  *
  * The transformations are defined once and reused in two modes:
  *   - batch mode (the oracle-checked `queries` entries) — `window()` /
  *     `session_window()` group-bys over the static table;
  *   - true Structured Streaming — `readStream` file source feeding the same
  *     expressions with a watermark, plus a `foreachBatch` incremental sink
  *     reproducing the reference's chunked-load semantics
  *     (challenge.py:317-325: per-chunk append + progress accounting).
  */
object StreamingOps {

  /** Tumbling-window counts + value sums per event type. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Session windows per user: a session closes after `gap` of inactivity. */
  def sessionize(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("n_events"))

  /** True streaming variant of [[hourlyAgg]]: file-source readStream with
    * watermarking, memory sink for tests. `maxFilesPerTrigger=1` gives the
    * reference's observable micro-batch progression (S4/S6).
    *
    * @param eventsDir a directory containing ONLY event parquet files (the
    *                  file stream source tails a directory, as a real event
    *                  landing zone would be laid out)
    */
  def streamingHourlyAgg(spark: SparkSession, eventsDir: String,
      queryName: String): StreamingQuery = {
    val events = Tables.normalizeTs(landing(spark, eventsDir))
      .withWatermark("ts", "2 hours")
    hourlyAgg(events)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class UserTotals(user_id: Long, n_events: Long, total_value: Double,
      last_ts: java.sql.Timestamp)
  case class RunState(n: Long, sum: Double, last: java.sql.Timestamp)

  /** Custom keyed state via `mapGroupsWithState`: running per-user event
    * totals. In streaming (Update mode) each micro-batch folds new events
    * into the persisted per-key state and re-emits that user's totals; in
    * batch mode the same code runs once per key (equivalent to a group-by,
    * which the oracle checks). State is O(1) per key — the scalable shape
    * for arbitrary custom accumulators that windowed aggs can't express.
    */
  def runningUserTotals(events: Dataset[_]): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.toDF()
      .select(col("user_id"), col("ts"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState[RunState, UserTotals](
        GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        var s = state.getOption.getOrElse(
          RunState(0L, 0.0, new java.sql.Timestamp(Long.MinValue)))
        it.foreach { e =>
          s = RunState(s.n + 1, s.sum + e.value,
            if (e.ts.after(s.last)) e.ts else s.last)
        }
        state.update(s)
        UserTotals(uid, s.n, s.sum, s.last)
      }
  }

  case class UserTick(user_id: Long, ts: java.sql.Timestamp)
  case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)
  case class OpenSession(start: Long, last: Long, n: Long)

  /** Streaming gap-sessionizer via `flatMapGroupsWithState` + event-time
    * timeout: per-user state holds the open session; an event within `gap`
    * of the last extends it, a later event closes it (emitting the closed
    * session) and opens a new one, and the watermark passing
    * `last + gap` fires the timeout that closes an idle session. This is
    * the Append-mode-correct form `session_window` can't express when the
    * close action needs custom logic (e.g. emitting exactly-once session
    * records to a downstream log). Streaming-only by design: in batch the
    * timeout never fires, so open sessions would be silently dropped —
    * batch sessionization is [[sessionize]] (oracle-checked).
    *
    * Caller must `withWatermark` the input; state is O(1) per active user.
    */
  def statefulSessionize(events: Dataset[UserTick], gap: String)
  : Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String
        .fromString(gap)) match {
      case i =>
        // month-bearing gaps have no fixed millisecond width — converting
        // from days+micros alone would silently sessionize with gap 0
        require(i.months == 0,
          s"session gap must be a fixed duration (days/hours/...), got '$gap'")
        i.days * 86400000L + i.microseconds / 1000L
    }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid, it, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.last), s.n))
          } else {
            val ticks = it.map(_.ts.getTime).toArray.sorted
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            ticks.foreach { t =>
              cur = cur match {
                // strict <: an event exactly `gap` after the last starts a
                // NEW session, matching session_window ([start, last+gap)
                // windows don't overlap at t = last+gap) so streaming and
                // batch sessionization agree on boundary events
                case Some(s) if t - s.last < gapMs =>
                  Some(OpenSession(s.start, t, s.n + 1))
                case Some(s) =>
                  closed ::= ClosedSession(uid,
                    new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n)
                  Some(OpenSession(t, t, 1))
                case None => Some(OpenSession(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // clamp to the watermark: a session already overdue (its
              // user's ticks arrived in a batch whose watermark passed
              // last+gap) times out at the next instant instead of
              // throwing "timeout earlier than watermark"
              state.setTimeoutTimestamp(math.max(s.last + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.reverse.iterator
          }
      }
  }

  /** Event-time interval join: each left row matched to the same key's
    * right rows within [left.ts − lookback, left.ts]; right columns come
    * back `r_`-prefixed. One definition, two modes:
    *   - batch — an equi-join on the key with a time-range residual
    *     condition (the oracle-checked `st4` catalog shape);
    *   - streaming — the canonical watermarked stream-stream join: with a
    *     watermark on BOTH inputs, the bounded time condition is exactly
    *     what lets Spark expire buffered per-key state once the watermark
    *     passes `ts + lookback` — state stays proportional to the lookback
    *     window, not the stream length.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, lookback: String): DataFrame = {
    val r = right.toDF(right.columns.map(c => s"r_$c"): _*)
    left.join(r,
      col(keyCol) === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(tsCol) - expr(s"INTERVAL $lookback") &&
        col(s"r_$tsCol") <= col(tsCol))
  }

  /** Drive [[intervalJoin]] as a TRUE watermarked stream-stream join over
    * two parquet landing zones (AvailableNow, memory sink): both sides get
    * an event-time watermark, and the bounded time condition lets Spark
    * expire buffered per-key state once the watermark passes
    * `ts + lookback` — the production shape where join state is
    * proportional to the lookback window, not the stream length. Returns
    * the joined rows; the driver-visible batch-equivalence proof is the
    * `st4b_interval_join_stream_equiv` catalog entry.
    */
  def streamIntervalJoin(spark: SparkSession, leftDir: String,
      rightDir: String, keyCol: String, tsCol: String, lookback: String,
      watermark: String, queryName: String): DataFrame = {
    def src(dir: String): DataFrame =
      Tables.normalizeTs(landing(spark, dir), tsCol)
        .withWatermark(tsCol, watermark)
    drain(intervalJoin(src(leftDir), src(rightDir), keyCol, tsCol,
      lookback), OutputMode.Append, queryName)
  }

  /** Stream-static enrichment: every micro-batch of the event stream
    * broadcast-joins a STATIC dimension — the Structured Streaming shape
    * for slowly-changing lookups (catalog attributes, per-domain
    * metadata). The static side is a plain batch relation re-planned per
    * batch: no state, no watermark, and at cluster scale the broadcast
    * means no stream-side shuffle either. Aggregated per
    * (`attrCol`, event_type) in Complete mode; the `st9` entry proves
    * the result equals the batch join + aggregate exactly.
    */
  def streamStaticEnrich(spark: SparkSession, eventsDir: String,
      dim: DataFrame, keyCol: String, attrCol: String, queryName: String)
  : DataFrame = {
    drain(landing(spark, eventsDir)
      .join(broadcast(dim), Seq(keyCol), "left")
      .groupBy(col(attrCol), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value")),
      OutputMode.Complete, queryName)
  }

  /** Ingest-time decontamination: documents stream in and any doc sharing
    * a word n-gram with the benchmark set is dropped BEFORE landing — the
    * streaming form of [[graft.ops.Dedup.decontaminate]]. The bench gram
    * set is bounded by nature (eval suites, not corpora — the same
    * argument as [[graft.ops.Dedup.contaminationReport]]'s broadcast), so
    * it ships into the plan as a literal array and the whole gate is ONE
    * row-local projection filter: per doc, build the distinct gram array
    * ([[graft.ops.Dedup.wordGrams]]) and `arrays_overlap` it against the
    * set. Stateless — no watermark, no state store, no shuffle; Append
    * mode trivially correct.
    *
    * The gram set is SIZE-GATED before it ever reaches the driver (the
    * [[graft.ops.Dedup.spanContaminationReport]] `broadcastMaxSpans`
    * pattern): a distributed count runs first. A set within `maxGrams`
    * ships as an exact plan literal — the form the `st10` entry proves
    * equal to the batch pass. PAST the cap the gate degrades gracefully
    * to a Bloom filter of the gram set (the
    * [[graft.ops.Dedup.incrementalDedup]] pre-filter pattern): one
    * binary scalar of `optimalNumOfBits(nGrams, fpp)/8` bytes instead of
    * a corpus-sized literal. Bloom false positives over-drop (~fpp of
    * clean docs) but never under-drop — every truly contaminated doc
    * still goes (no false negatives), the direction decontamination
    * wants. A gram set too big even for the Bloom form (`maxBloomBytes`)
    * fails loudly — at that point the gate needs the shuffled-join batch
    * pass ([[graft.ops.Dedup.decontaminate]]), not a stream-side filter.
    */
  def streamDecontaminate(spark: SparkSession, docsDir: String,
      bench: DataFrame, idCol: String, textCol: String, n: Int,
      queryName: String, maxGrams: Long = 1000000L, fpp: Double = 0.01,
      maxBloomBytes: Long = 256L << 20): DataFrame = {
    import graft.ops.Dedup
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    val gramSet = Dedup
      .docShingles(bench, idCol, textCol, n)
      .select(col("shingle")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nGrams = gramSet.count()
    // fused gram build + distinct (r16 — GramStrings replays
    // array_distinct(wordGrams(...)) element-exact, one compiled pass)
    val grams = graft.functions.GramStrings(
      Dedup.tokens(col(textCol)), n, distinct = true)
    val contaminated: org.apache.spark.sql.Column =
      if (nGrams <= maxGrams) {
        val benchGrams = gramSet.collect().map(_.getString(0)).toSeq
        arrays_overlap(grams, typedlit(benchGrams))
      } else {
        val numBits = org.apache.spark.util.sketch.BloomFilter
          .optimalNumOfBits(nGrams, fpp)
        require(numBits / 8 <= maxBloomBytes,
          s"streamDecontaminate: bench gram set has $nGrams grams — " +
            s"even its Bloom form needs ${numBits / 8} bytes > " +
            s"maxBloomBytes=$maxBloomBytes; run the shuffled-join batch " +
            "decontamination pass instead of a stream-side filter")
        val bloom = gramSet
          .select(Bridge.column(new BloomFilterAggregate(
              Bridge.expression(xxhash64(col("shingle"))),
              Literal(nGrams), Literal(numBits))
            .toAggregateExpression()).as("bf"))
          .head.getAs[Array[Byte]](0)
        exists(grams, g => Bridge.column(BloomFilterMightContain(
          Bridge.expression(lit(bloom)),
          Bridge.expression(xxhash64(g)))))
      }
    gramSet.unpersist()
    drain(landing(spark, docsDir).filter(!contaminated).select(col(idCol)),
      OutputMode.Append, queryName)
  }

  /** Drive [[statefulSessionize]] over a parquet landing zone with
    * `AvailableNow` and return the CLOSED sessions it emitted (memory
    * sink). The driver-visible batch-equivalence proof for S4/S6 lives in
    * the `st2b_stream_batch_equiv` catalog entry, which checks these
    * against [[sessionize]]'s batch result.
    */
  def streamClosedSessions(spark: SparkSession, eventsDir: String,
      gap: String, queryName: String): DataFrame = {
    import spark.implicits._
    val ticks = Tables.normalizeTs(landing(spark, eventsDir))
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), col("ts")).as[UserTick]
    drain(statefulSessionize(ticks, gap).toDF(), OutputMode.Append,
      queryName)
  }

  case class SourcedDoc(source: String, doc_id: Long)

  /** Per-key ingestion quota on the NEW arbitrary-state API
    * (`transformWithState`, Spark 4): admit at most `maxPerKey` rows per
    * key across the whole stream — the per-domain contribution cap every
    * large-scale corpus curation applies (Common-Crawl-style dominance
    * control), enforced at ingest so over-quota documents never land.
    * State is ONE counter per key in RocksDB; `TTLConfig` is where a
    * production feed would age quotas out (daily windows).
    */
  class PerKeyQuota(maxPerKey: Long)
      extends StatefulProcessor[String, SourcedDoc, SourcedDoc] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong,
        TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[SourcedDoc],
        timers: TimerValues): Iterator[SourcedDoc] = {
      var n = if (count.exists()) count.get() else 0L
      val admitted = scala.collection.mutable.ArrayBuffer.empty[SourcedDoc]
      rows.foreach { r =>
        if (n < maxPerKey) { admitted += r; n += 1 }
      }
      count.update(n)
      admitted.iterator
    }
  }

  /** Drive [[PerKeyQuota]] over a documents landing zone (AvailableNow,
    * memory sink). transformWithState requires the RocksDB state store, so
    * the stream runs in an [[OwnedSession]] with that provider; the
    * admitted rows come back as a frame of the caller's session.
    */
  def streamPerKeyQuota(spark: SparkSession, docsDir: String,
      maxPerKey: Long, queryName: String): DataFrame = {
    val schema = Tables.parquetSchema(spark, docsDir)
    val sink = OwnedSession(spark, rocksDb) { owned =>
      import owned.implicits._
      drain(owned.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(docsDir)
        .select(col("source"), col("doc_id")).as[SourcedDoc]
        .groupByKey(_.source)
        .transformWithState(new PerKeyQuota(maxPerKey), TimeMode.None(),
          OutputMode.Append(), Encoders.product[SourcedDoc]).toDF(),
        OutputMode.Append, queryName).queryExecution.analyzed
    }
    org.apache.spark.sql.graft.Bridge.ofRows(spark, sink)
  }

  private val rocksDb = Map("spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Streaming ingest dedup: exactly-once event delivery on top of an
    * at-least-once feed — `dropDuplicatesWithinWatermark` keys state by
    * `idCol` and expires it once the watermark passes the key's event
    * time + delay, so state is bounded by the duplicate-arrival horizon
    * (the redelivery window), NOT the stream length. The unbounded
    * `dropDuplicates` alternative never forgets a key; this is the shape
    * a 100 TB/day feed needs. Returns the deduplicated rows collected in
    * a memory sink after an AvailableNow pass.
    */
  def streamDedup(spark: SparkSession, eventsDir: String, idCol: String,
      queryName: String): DataFrame = {
    val src = Tables.normalizeTs(landing(spark, eventsDir))
      .withWatermark("ts", "2 hours")
    drain(src.dropDuplicatesWithinWatermark(idCol), OutputMode.Append,
      queryName)
  }

  /** Streaming Count-Min sketch: the CMS build is ONE commutative cell
    * count ([[graft.functions.CountMin.sketch]]), so the identical code
    * runs unchanged as a complete-mode streaming aggregation — each
    * micro-batch folds its events into the persisted cell state, which is
    * O(depth·width) FOREVER regardless of the stream's key cardinality
    * (the always-on frequency monitor exact per-key counting state can't
    * be). Counting is order-blind, so no watermark is needed and the
    * final cells are BIT-EQUAL to the batch sketch over the same data —
    * the property the st14 entry enforces.
    */
  def streamCountMin(spark: SparkSession, eventsDir: String,
      keyCol: String, depth: Int, width: Int, queryName: String)
  : DataFrame = {
    val src = Tables.normalizeTs(landing(spark, eventsDir))
    drain(graft.functions.CountMin
      .sketch(src.select(col(keyCol)), keyCol, depth, width),
      OutputMode.Complete, queryName)
  }

  /** Chunked incremental load with progress accounting (S6): stream the
    * source in micro-batches, append each batch to a parquet sink, log
    * cumulative rows + elapsed — the reference's chunked to_sql loop.
    */
  def chunkedLoad(spark: SparkSession, srcDir: String, outPath: String)
  : StreamingQuery = {
    val src = landing(spark, srcDir)
    val t0 = System.nanoTime()
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val n = batch.count()
        batch.write.mode("append").parquet(outPath)
        val done = total.addAndGet(n)
        println(f"imported batch $batchId: $n rows ($done total, " +
          f"${(System.nanoTime() - t0) / 1e9}%.1f s elapsed)")
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** A file stream over the landing zone `dir`, one file per micro-batch,
    * read under [[Tables.parquetSchema]].
    */
  private def landing(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(Tables.parquetSchema(spark, dir))
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** `stream` run over all its input (AvailableNow) into a memory sink:
    * the sink's rows, as a frame of the stream's session. The frame keeps
    * the sink's resolved plan, so the sink's view `queryName` is dropped
    * and no view is left in that session.
    */
  private def drain(stream: DataFrame, mode: OutputMode,
      queryName: String): DataFrame = {
    val spark = stream.sparkSession
    stream.writeStream.outputMode(mode).format("memory")
      .queryName(queryName).trigger(Trigger.AvailableNow()).start()
      .awaitTermination()
    val rows = spark.table(queryName)
    spark.catalog.dropTempView(queryName)
    rows
  }
}
