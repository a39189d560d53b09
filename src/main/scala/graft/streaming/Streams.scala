package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface — SURVEY.md §2.11 / §7.2 M5.
  *
  * The reference's streaming story is custreamz: streamz pipelines over
  * cudf batches plus an accelerated Kafka reader
  * [python/custreamz/custreamz/kafka.py :: Consumer.read_gdf], with
  * processing-time windows only and no late-data handling. Structured
  * Streaming strictly supersedes it: event-time windows + watermarks
  * give deterministic results under replay, which is exactly what the
  * differential gate needs.
  *
  * Tests replay `events.parquet` through the file-stream source; in
  * production the same plans run unchanged on `readStream.format("kafka")`.
  * At 100 TB/day the state store is the scaling concern: every query here
  * keys state by (window, key) with a watermark bounding state size —
  * nothing accumulates unboundedly.
  *
  * Determinism contract used by the DuckDB oracles: with the file source
  * drained via `processAllAvailable()` (no-data micro-batches enabled,
  * the default), the final watermark is max(ts) - delay, and append mode
  * has emitted exactly the windows/sessions whose end <= that watermark.
  * The oracles re-state that emission rule in SQL.
  */
object Streams {

  /** File-stream source over the events fixture. Streaming requires an
    * explicit schema, so we snapshot it from a batch read; `ts` has
    * shipped as either raw nanos (legacy ns conf, see Tables.events) or
    * native timestamp[us] across fixture generations — adapt on the
    * snapshotted type, normalizing to µs TimestampType exactly like the
    * batch path.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.withNanosAsLong(spark) {
      val path = s"$dir/events.parquet"
      val schema = spark.read.parquet(path).schema
      val raw = spark.readStream.schema(schema).parquet(stageDir(path))
      schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case _ =>
          raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    }

  /** FileStreamSource requires a directory; the fixtures are single
    * files. Stage a per-source temp dir holding a symlink to the file
    * (read-only view — the fixture itself is never touched).
    */
  private val staged = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def stageDir(file: String): String =
    staged.computeIfAbsent(file, { f =>
      import java.nio.file.{Files, Paths}
      val d = Files.createTempDirectory("graft-stream-")
      Files.createSymbolicLink(d.resolve(Paths.get(f).getFileName), Paths.get(f))
      d.toString
    })

  /** File-stream source over the documents fixture — the corpus-ingest
    * replay (documents arrive as files land; at 100 TB/day the same
    * plan runs on a cloud-storage file source or Kafka).
    */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/documents.parquet"
    val schema = spark.read.parquet(path).schema
    spark.readStream.schema(schema).parquet(stageDir(path))
  }

  /** Kafka source — the production entry the reference's custreamz
    * Consumer.read_gdf analog maps to. Builds the standard
    * spark-sql-kafka reader: value is the payload (cast to string for
    * JSON/CSV decode downstream), event time from the `ts` field after
    * from_json. This container ships no spark-sql-kafka connector jar
    * (verified: /opt/spark/jars has none), so the path cannot execute
    * here; StreamingSpec pins the failure to DataSource provider lookup
    * — i.e. the wiring is type-checked and the only missing piece is
    * the (public, version-matched) connector artifact at deploy time.
    */
  def kafkaStream(spark: SparkSession, brokers: String, topic: String,
                  payloadSchema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()
      .select(from_json(col("value").cast("string"), payloadSchema).as("j"),
        col("timestamp").as("kafka_ts"))
      .select(col("j.*"), col("kafka_ts"))

  /** Tumbling event-time window aggregate with watermark (append mode). */
  def tumblingAgg(events: DataFrame, size: String = "5 minutes",
                  delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_val"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n"), col("sum_val"))

  /** Exact distinct users per tumbling window — the chained-stateful
    * composition Spark's docs bless for streaming COUNT(DISTINCT):
    * windowed `dropDuplicates` (state keyed by (window, user), evicted
    * once the watermark passes the window) feeding a windowed count.
    * Plain `count_distinct` is unsupported in streaming aggregation;
    * this is the exact formulation, not the approx_count_distinct
    * fallback (which no oracle could gate). Two stateful operators,
    * both watermark-bounded — state is O(active windows × distinct
    * users in them), never historical.
    */
  def distinctUsersPerWindow(events: DataFrame, size: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .select(window(col("ts"), size).as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n_users"))

  /** Stream-static enrichment join: the static dimension is a plain
    * batch DataFrame joined into every micro-batch (Spark re-plans the
    * broadcast per batch; stateless — no watermark requirement for the
    * inner equi-join itself). THE canonical serving shape: enrich an
    * event stream with a dimension table with zero stream-side shuffle
    * and zero state store.
    */
  def staticEnrich(stream: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    stream.join(org.apache.spark.sql.functions.broadcast(dim), Seq(key))

  /** Sliding window: each event lands in size/slide overlapping windows. */
  def slidingAgg(events: DataFrame, size: String = "10 minutes",
                 slide: String = "5 minutes", delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"))

  /** Per-user session windows (gap-merged), watermarked. Session end =
    * last event + gap; emitted once the watermark passes it.
    */
  def sessionAgg(events: DataFrame, gap: String = "5 minutes",
                 delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_val"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
        col("n"), col("sum_val"))

  /** Stream-stream interval join (view → click attribution): for every
    * view, the same user's clicks within `gap` after it. Both sides are
    * watermarked and the join condition is a time RANGE on the two
    * event-time columns — exactly what lets Spark expire join state
    * (a view older than watermark − gap can never match again), so
    * state stays bounded on an infinite stream. custreamz has no
    * stream-stream join at all. Inner join + full drain ⇒ the emitted
    * set is the complete batch join (watermarks only bound state, they
    * drop nothing on replay), which is what the DuckDB oracle computes.
    */
  def viewClickJoin(left: DataFrame, right: DataFrame,
                    gap: String = "1 hour", delay: String = "10 minutes"): DataFrame = {
    val views = left.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("view_id"))
      .withWatermark("v_ts", delay)
    val clicks = right.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", delay)
    views.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr(s"INTERVAL $gap"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
  }

  /** Stream-stream LEFT OUTER interval join: views left-join clicks on
    * user within [v_ts, v_ts + gap]. Spark emits the null-extended row
    * for an unmatched view only via watermark-driven state EVICTION —
    * once no future click can possibly match — so at drain the emitted
    * set is deterministic exactly for views whose decision horizon
    * (v_ts + gap + delay) the final watermark passed. Gating callers
    * must restrict to that region (q119 filters v_ts < max_ts − gap −
    * delay with a safety margin); rows past the horizon are
    * undecided-by-construction, not wrong.
    */
  def viewClickLeftOuter(left: DataFrame, right: DataFrame,
      gap: String = "1 hour", delay: String = "10 minutes"): DataFrame = {
    val views = left.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("view_id"))
      .withWatermark("v_ts", delay)
    val clicks = right.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", delay)
    views.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr(s"INTERVAL $gap"),
        "left_outer")
      .select(col("user_id"), col("view_id"), col("v_ts"), col("click_id"))
  }

  /** Streaming SCD type-2 change capture: the streaming twin of
    * [[graft.ops.FrameOps.scd2Intervals]], as flatMapGroupsWithState.
    * State is ONE (attribute, since) pair per key; each arriving
    * change CLOSES the previous interval and emits it, the open
    * interval stays in state (a stream can never know its own close).
    * The emitted set therefore equals the batch op's closed intervals
    * — gated by q191 against the same SQL kernel the batch op
    * replays, and by StreamingSpec's direct batch==stream equality.
    *
    * Ordering contract: rows are sorted by (ts, event_id) within each
    * micro-batch group; the file-replay source delivers time-ordered
    * batches (the same in-order contract every q110–q119 replay uses).
    * In production the sort still applies per batch and a watermark
    * bounds how late a change may arrive.
    *
    * 100 TB posture: state is O(|keys|) pairs — not per-event — and
    * each micro-batch shuffles only its own rows once, keyed by the
    * dimension key. By default state is per-key lifetime (an SCD2
    * dimension's open interval never expires); pass `idleTimeout =
    * Some("90 days")` to evict keys idle past the timeout via
    * event-time eviction — the expiring open interval is emitted with
    * `valid_to = NULL` (the "current row" marker a warehouse SCD2
    * table uses) and the key is forgotten; a key that reappears later
    * starts a fresh interval chain, and the earlier NULL-close row
    * remains in the sink (downstream compaction keeps the latest row
    * per (key, valid_from), the standard CDC-sink fold). Setting
    * `idleTimeout` watermarks `ts` by `delay`, so changes later than
    * that are dropped as late data — the retention trade a bounded
    * deployment makes explicitly.
    */
  def scd2Stream(events: DataFrame, idleTimeout: Option[String] = None,
      delay: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val idleMs = idleTimeout.map(durationMs)
    val timeoutConf = if (idleMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val src = if (idleMs.isDefined) events.withWatermark("ts", delay)
      else events
    src
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
         st: GroupState[(String, java.sql.Timestamp, Long)]) =>
          if (st.hasTimedOut) {
            // idle eviction: surface the open interval as the current
            // row (valid_to NULL) and forget the key
            val (pt, pf, _) = st.get
            st.remove()
            Iterator.single((uid, pt, pf,
              null.asInstanceOf[java.sql.Timestamp]))
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
            var cur = st.getOption.map { case (pt, pf, _) => (pt, pf) }
            val seen0 = st.getOption.map(_._3).getOrElse(0L)
            val out = Seq.newBuilder[(Long, String, java.sql.Timestamp, java.sql.Timestamp)]
            sorted.foreach { case (_, ts, _, tpe) =>
              cur match {
                case Some((pt, pf)) if pt != tpe =>
                  out += ((uid, pt, pf, ts))
                  cur = Some((tpe, ts))
                case None => cur = Some((tpe, ts))
                case _ => () // same attribute value: interval continues
              }
            }
            // idle clock = the key's TRUE last activity: max of the
            // stored high-water mark and this batch's max event time —
            // a batch of older (but in-watermark) changes must not pull
            // the eviction timestamp earlier than idleTimeout promises
            val seen1 = (seen0 +: sorted.map(_._2.getTime)).max
            cur.foreach { case (pt, pf) => st.update((pt, pf, seen1)) }
            idleMs.foreach { ms =>
              val lastSeenMs =
                if (seen1 > 0L) seen1 else st.getCurrentWatermarkMs()
              st.setTimeoutTimestamp(
                math.max(lastSeenMs + ms, st.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
      .toDF("user_id", "event_type", "valid_from", "valid_to")
  }

  /** Streaming dedup on a derived key with bounded state
    * (dropDuplicatesWithinWatermark). Projects the key columns only, so
    * the result is the deterministic distinct key set regardless of
    * which physical row was kept first.
    */
  def dedupKeys(events: DataFrame, delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** "5 minutes"-style duration → milliseconds, for computing state
    * eviction timestamps from window-start keys. Month-based units are
    * rejected (not a fixed millisecond span).
    */
  private def durationMs(s: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(s))
    require(iv.months == 0, s"month-based durations unsupported here: $s")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  /** Parse a "yyyy-MM-dd HH:mm:ss" window-start key back to epoch ms
    * (UTC — the session timezone everywhere in this engine).
    */
  private def windowStartMs(w: String): Long =
    java.time.LocalDateTime
      .parse(w, java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  /** Drain a streaming DataFrame through the memory sink and return the
    * collected result as a batch DataFrame. `Trigger.AvailableNow`
    * processes everything the source has, runs the trailing no-data
    * micro-batch (advancing the watermark and flushing final windows —
    * verified: row counts identical to a processAllAvailable drain for
    * tumbling/sliding/session), then terminates itself.
    */
  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Offset/commit/state logs go to tmpfs when available: the drain
    * writes dozens of small checkpoint files whose fsync latency is
    * pure overhead for a replay that never restarts (measured ~0.3 s
    * per query at sf0.1). A real deployment points this at durable
    * storage instead.
    */
  private def ckptRoot: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base = if (java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    // per-JVM discriminator (r16 ADVICE 3): sinkName is only unique
    // per-process (runCounter), so without the pid two CONCURRENT
    // suite JVMs with the same call order would generate the same
    // path and the unconditional pre-clean could delete the other
    // JVM's LIVE checkpoint at query start. Stale pid-dirs from
    // crashed JVMs accumulate in tmpfs at ~KBs each — acceptable; a
    // reboot clears /dev/shm.
    base.resolve(s"graft-stream-ckpt-${ProcessHandle.current().pid()}")
  }
  /** Best-effort recursive delete (see the cleanup note in
    * [[runToBatch]] for why IO errors are swallowed). */
  private def deleteTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    try {
      if (java.nio.file.Files.exists(p)) {
        val walk = java.nio.file.Files.walk(p)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    } catch { case _: java.io.IOException | _: java.io.UncheckedIOException => () }
  }

  def runToBatch(spark: SparkSession, stream: DataFrame, name: String,
                 outputMode: String = "append"): DataFrame = {
    val sinkName = s"${name}_${runCounter.incrementAndGet()}"
    val ckpt = ckptRoot.resolve(sinkName)
    // PRE-clean: a DESIGNED-ABORT replay (the state-cap fail-fast
    // gates) can lose the post-run cleanup race to in-flight
    // state-store maintenance and leave a poisoned checkpoint in
    // tmpfs; a later JVM with the same call order regenerates the
    // same name and AvailableNow refuses to "recover" a memory-sink
    // checkpoint (caught as a deterministic suite-order failure, r16)
    deleteTree(ckpt)
    // State-store task count is frozen from shuffle.partitions at query
    // start; micro-batch overhead scales with it, so size it to the
    // replayed fixture rather than the batch-engine setting (a real
    // deployment sizes it to state volume instead). Measured warm at
    // sf0.1: 8 partitions ≈ 3.4 s, 2 ≈ 2.2 s per query — per-partition
    // state-store open/commit dominates at replay size.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    // r13 A/B over 8 streaming gates at sf0.1 (min-of-2 each):
    // parts=2 -> 20.3 s, parts=1 -> 21.4 s, parts=4 -> 21.3 s — 2 is
    // the measured sweet spot (1 serializes multi-series state work,
    // 4 pays extra per-partition store open/commit).
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val q =
      try stream.writeStream
        .format("memory")
        .queryName(sinkName)
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    try q.awaitTermination()
    finally {
      q.stop()
      // replay checkpoints are throwaway — delete so repeated runs
      // (bench loops, test suites) don't accumulate in tmpfs. The
      // cleanup is BEST-EFFORT: when the query is failing, state-store
      // maintenance tasks can still be writing under `ckpt`, and a
      // DirectoryNotEmptyException thrown from this finally block would
      // REPLACE the real streaming failure from awaitTermination — so
      // deleteTree swallows IO errors (leaking at most one tmpfs dir,
      // which the pre-clean above reaps on the next same-name run).
      deleteTree(ckpt)
    }
    spark.table(sinkName)
  }

  /** Streaming approximate distinct per tumbling window via KMV state
    * — the O(k)-state alternative to [[distinctUsersPerWindow]], whose
    * dedup state grows with the TRUE distinct count per window (the
    * thing that explodes on a high-cardinality key at 100 TB). State
    * per window = the k smallest scrambled poly hashes (a sorted
    * array, exactly [[graft.ops.Sketches.kmvSketch]]'s contract), so
    * the estimate is deterministic and IDENTICAL to the batch sketch
    * over the same rows — the gate replays it bucket-for-bucket in
    * SQL, no tolerance needed.
    *
    * Emits the running (w_start, n_events, n_sketch, est_distinct)
    * per micro-batch in update mode; consumers keep the row with the
    * highest n_events per window (the q114 pattern).
    */
  def kmvDistinctStream(events: DataFrame, k: Int,
      keyCol: String = "user_id", size: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame =
    kmvDistinctCore(events, k, keyCol, size, None, delay)

  /** SLIDING-window streaming distinct — [[kmvDistinctStream]] over
    * overlapping windows (`size` long, advancing every `slide`): the
    * rolling active-key series q236 computes batch-side, live. The
    * window generator fans each event into size/slide open windows —
    * the STREAMING spelling of q236's pair-explode kernel (the blowup
    * factor is the overlap count, never data volume) — and each open
    * window holds the same O(k) sorted-hash state, evicted by event-
    * time timeout once the watermark passes its end: total state is
    * O(k · open windows) where open windows ≈ (size/slide + delay/
    * slide), a constant. The per-window estimate is byte-identical to
    * the batch [[graft.ops.Sketches.kmvSketch]] over the same rows,
    * so the oracle replays every window with NO tolerance.
    *
    * Emits running rows in update mode; consumers keep the
    * max-n_events row per window (the q114/q220 pattern).
    */
  def kmvDistinctSlidingStream(events: DataFrame, k: Int,
      keyCol: String = "user_id", size: String = "10 minutes",
      slide: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame = {
    require(durationMs(size) % durationMs(slide) == 0,
      s"size ($size) must be a multiple of slide ($slide) — Spark " +
        "window alignment semantics")
    kmvDistinctCore(events, k, keyCol, size, Some(slide), delay)
  }

  private def kmvDistinctCore(events: DataFrame, k: Int,
      keyCol: String, size: String, slide: Option[String],
      delay: String): DataFrame = {
    require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val p = graft.expressions.HashSpec.P
    val mixA = graft.ops.Sketches.kmvMixA
    val mixB = graft.ops.Sketches.kmvMixB
    val win = slide.map(s => window(col("ts"), size, s))
      .getOrElse(window(col("ts"), size))
    events
      .withWatermark("ts", delay)
      .select(
        date_format(win.getField("start"),
          "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col(keyCol).cast("string").as("key"),
        // the WATERMARKED event-time attribute must stay in scope for
        // EventTimeTimeout (the checker wants the tagged column, not
        // just a watermark node upstream); the fold ignores it
        col("ts"))
      .as[(String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      // EventTimeTimeout: per-window state is EVICTED once the
      // watermark passes window_end + delay (no more rows can arrive —
      // the watermark filter would drop them), so total state is
      // O(k · open windows), not O(k · windows ever seen). The
      // timed-out invocation re-emits the window's final row, which the
      // consumer's max(n_events)-fold collapses — output is unchanged.
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (w: String, rows: Iterator[(String, String, java.sql.Timestamp)],
         st: GroupState[(Long, Array[Long])]) =>
          def emit(n: Long, arr: Array[Long]): (String, Long, Long, Long) = {
            val est = if (arr.length < k) arr.length.toLong
                      else (k - 1).toLong * p / arr(k - 1)
            (w, n, arr.length.toLong, est)
          }
          if (st.hasTimedOut) {
            val (n, arr) = st.get
            st.remove()
            emit(n, arr)
          } else {
            val (n0, arr0) = st.getOption.getOrElse((0L, Array.empty[Long]))
            val set = scala.collection.mutable.SortedSet.empty[Long] ++ arr0
            var n = n0
            rows.foreach { case (_, key, _) =>
              n += 1
              // null keys count toward n_events but never enter the
              // sketch — kmvSketch's isNotNull filter, mirrored (a null
              // key must not NPE the stream)
              if (key != null) {
                val raw = graft.expressions.HashSpec.polyHash(
                  org.apache.spark.unsafe.types.UTF8String.fromString(key))
                val h = (raw * mixA + mixB) % p
                set += h
                if (set.size > k) set -= set.last
              }
            }
            val arr = set.toArray
            st.update((n, arr))
            st.setTimeoutTimestamp(math.max(
              windowStartMs(w) + durationMs(size) + durationMs(delay),
              st.getCurrentWatermarkMs() + 1))
            emit(n, arr)
          }
      }
      .toDF("w_start", "n_events", "n_sketch", "est_distinct")
  }

  /** Streaming KMV contamination monitor: per-window overlap estimate
    * of a live stream against a FROZEN reference sketch — "how much of
    * this window's traffic is already in the blessed corpus", live.
    * The reference enters as ≤ k literal longs
    * ([[graft.ops.Sketches.kmvSketchValues]] is the compute-once
    * producer; NO reference scan anywhere in the streaming query — the
    * q214 frozen-literal pattern), state per window is the same k
    * smallest scrambled hashes as [[kmvDistinctStream]], and every
    * emitted estimate replays [[graft.ops.Sketches.kmvOverlap]]'s
    * integer arithmetic exactly — a fully hash-gated streaming sketch.
    *
    * Emits running (w_start, n_events, n_sketch, jaccard_bp,
    * est_union, est_intersect) per micro-batch in update mode;
    * consumers keep the max-n_events row per window (q114 pattern).
    */
  def kmvOverlapStream(events: DataFrame, refSketch: Seq[Long], k: Int,
      keyCol: String = "user_id", size: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame = {
    require(k >= 2 && k <= 65536, s"k must be in [2, 65536], got $k")
    require(refSketch.length <= k,
      s"reference sketch has ${refSketch.length} values, expected <= $k")
    require(refSketch == refSketch.sorted && refSketch.distinct == refSketch,
      "reference sketch must be sorted distinct hashes (kmvSketchValues output)")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val p = graft.expressions.HashSpec.P
    val mixA = graft.ops.Sketches.kmvMixA
    val mixB = graft.ops.Sketches.kmvMixB
    val refSet = refSketch.toSet
    events
      .withWatermark("ts", delay)
      .select(
        date_format(window(col("ts"), size).getField("start"),
          "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col(keyCol).cast("string").as("key"),
        // the WATERMARKED event-time attribute must stay in scope for
        // EventTimeTimeout (the checker wants the tagged column, not
        // just a watermark node upstream); the fold ignores it
        col("ts"))
      .as[(String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      // EventTimeTimeout eviction — see kmvDistinctStream: state dies
      // once the watermark passes window_end + delay; the timed-out
      // re-emission collapses under the consumer's max-fold.
      .mapGroupsWithState(GroupStateTimeout.EventTimeTimeout) {
        (w: String, rows: Iterator[(String, String, java.sql.Timestamp)],
         st: GroupState[(Long, Array[Long])]) =>
          // kmvOverlap's arithmetic verbatim, over the state + the
          // frozen literal — all non-negative 64-bit integers
          def emit(n: Long, arr: Array[Long])
              : (String, Long, Long, Long, Long, Long) = {
            val curSet = arr.toSet
            val merged = (curSet ++ refSet).toArray.sorted.take(k)
            val kUsed = merged.length.toLong
            val nBoth = merged.count(h => curSet(h) && refSet(h)).toLong
            val jaccardBp = if (kUsed == 0) 0L else 10000L * nBoth / kUsed
            val estUnion =
              if (kUsed < k) kUsed else (k - 1).toLong * p / merged.last
            val estInter = jaccardBp * estUnion / 10000L
            (w, n, arr.length.toLong, jaccardBp, estUnion, estInter)
          }
          if (st.hasTimedOut) {
            val (n, arr) = st.get
            st.remove()
            emit(n, arr)
          } else {
            val (n0, arr0) = st.getOption.getOrElse((0L, Array.empty[Long]))
            val set = scala.collection.mutable.SortedSet.empty[Long] ++ arr0
            var n = n0
            rows.foreach { case (_, key, _) =>
              n += 1
              // null keys count toward n_events but never enter the
              // sketch — kmvSketch's isNotNull filter, mirrored (a null
              // key must not NPE the stream)
              if (key != null) {
                val raw = graft.expressions.HashSpec.polyHash(
                  org.apache.spark.unsafe.types.UTF8String.fromString(key))
                val h = (raw * mixA + mixB) % p
                set += h
                if (set.size > k) set -= set.last
              }
            }
            val arr = set.toArray
            st.update((n, arr))
            st.setTimeoutTimestamp(math.max(
              windowStartMs(w) + durationMs(size) + durationMs(delay),
              st.getCurrentWatermarkMs() + 1))
            emit(n, arr)
          }
      }
      .toDF("w_start", "n_events", "n_sketch", "jaccard_bp",
        "est_union", "est_intersect")
  }

  /** Streaming LSH-banded NEAR-duplicate monitor — the live fuzzy
    * complement of [[kmvOverlapStream]]'s exact-sketch contamination
    * alert: flag each arriving document that (a) shares a MinHash band
    * with an EARLIER document of the same ingest window (near-dup at
    * the door) and/or (b) shares a band with a FROZEN reference band
    * table (eval-set / blocklist contamination). Band arithmetic is
    * [[graft.ops.Dedup.bandKeyArray]] over
    * [[graft.expressions.TextHashes.minhash_sig]] — exactly the batch
    * q92 construction — and the reference enters as literal
    * (band, bkey) pairs from [[graft.ops.Dedup.bandKeyValues]] (the
    * q224 frozen-literal pattern: NO reference scan in the stream).
    *
    * Determinism contract (what lets the result hash-gate): docs carry
    * the synthetic monotone event time timestamp_seconds(doc_id) (the
    * ingest-replay clock), each micro-batch's rows fold in ascending
    * doc_id order, and state holds the MIN doc_id per (band, bkey) —
    * so "earlier" means smaller doc_id and the emitted set equals the
    * batch SQL "exists d' < d in the same window sharing a band".
    *
    * State per window is one entry per DISTINCT (band, bkey) —
    * bounded by bands · docs-per-window, evicted by EventTimeTimeout
    * once the watermark passes window_end + delay. `maxStateBands` is
    * a fail-fast valve (op-domain error, never silent degradation).
    *
    * Emits one row per FLAGGED doc, in the micro-batch where it
    * arrived: (w_start, doc_id, n_dup_bands, peer = min colliding
    * earlier doc id or -1, n_ref_bands).
    */
  def nearDupBandStream(docs: DataFrame, refBands: Seq[(Int, String)],
      k: Int = 5, n: Int = 16, bands: Int = 4,
      windowSecs: Int = 1000, delay: String = "2000 seconds",
      maxStateBands: Int = 4000000): DataFrame = {
    require(n % bands == 0, s"bands=$bands must divide n=$n")
    require(refBands.forall { case (b, _) => b >= 0 && b < bands },
      s"reference band indices must be in [0, $bands)")
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val refSet = refBands.map { case (b, bk) => s"$b:$bk" }.toSet
    val sized = s"$windowSecs seconds"
    docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      // +1e6 s (window-aligned): doc_id 0 would otherwise sit exactly
      // ON the initial watermark (epoch 0) and be dropped as late
      .select(col("doc_id"),
        timestamp_seconds(col("doc_id") + lit(1000000L)).as("ts"),
        graft.ops.Dedup.bandKeyArray(
          graft.expressions.TextHashes.minhash_sig(
            graft.ops.Dedup.normText(col("text")), k, n), n, bands)
          .as("bks"))
      .withWatermark("ts", delay)
      .select(
        date_format(window(col("ts"), sized).getField("start"),
          "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("doc_id"), col("bks"), col("ts"))
      .as[(String, Long, Seq[String], java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (w: String, rows: Iterator[(String, Long, Seq[String], java.sql.Timestamp)],
         st: GroupState[Map[String, Long]]) =>
          if (st.hasTimedOut) { st.remove(); Iterator.empty }
          else {
            var state = st.getOption.getOrElse(Map.empty[String, Long])
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(String, Long, Int, Long, Int)]
            // ascending doc_id within the batch — see the determinism
            // contract in the scaladoc
            rows.toSeq.sortBy(_._2).foreach { case (_, id, bks, _) =>
              val keys = bks.zipWithIndex.map { case (bk, b) => s"$b:$bk" }
              val earlier = keys.flatMap(state.get).filter(_ < id)
              val nDup = keys.count(kk => state.get(kk).exists(_ < id))
              val peer = if (earlier.nonEmpty) earlier.min else -1L
              val nRef = keys.count(refSet)
              if (nDup > 0 || nRef > 0) out += ((w, id, nDup, peer, nRef))
              keys.foreach { kk =>
                if (state.get(kk).forall(_ > id)) state = state.updated(kk, id)
              }
            }
            if (state.size > maxStateBands)
              throw new IllegalStateException(
                s"nearDupBandStream: window $w exceeds $maxStateBands " +
                  "distinct band keys — raise maxStateBands or shrink " +
                  "the window")
            st.update(state)
            st.setTimeoutTimestamp(math.max(
              windowStartMs(w) + windowSecs * 1000L + durationMs(delay),
              st.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
      .toDF("w_start", "doc_id", "n_dup_bands", "peer", "n_ref_bands")
  }

  /** Streaming ordered-sequence FUNNEL — the live twin of
    * [[graft.ops.ScaleJoins.funnelSteps]]: per-user conversion depth
    * maintained in mapGroupsWithState, greedy semantics identical to
    * batch: advance from depth i exactly when an event of type
    * steps(i) arrives with ts STRICTLY AFTER the current chain time.
    *
    * Out-of-order contract (the part a naive per-batch greedy fold
    * gets wrong): a greedy chain folded eagerly cannot absorb a
    * late-but-within-watermark event that lands BEFORE an already
    * consumed hop. So events are BUFFERED in state and only folded
    * into the compact (depth, t_first, t_chain) triple once their
    * event time falls STRICTLY below the query watermark — Spark's
    * late-row filter drops only rows strictly below it, so an event
    * exactly AT the watermark can still arrive in a later batch; past
    * the strict bound the folded prefix is complete and the fold is
    * final. Events at or above the watermark stay buffered and are
    * re-folded provisionally on every emission.
    * Each emission therefore equals batch [[graft.ops.ScaleJoins
    * .funnelSteps]] over ALL events received so far, in ANY arrival
    * order across micro-batches (ties at equal ts break by step
    * index, matching the batch min-per-hop chain) — the q191/q114
    * replay contract, gated against the SAME SQL as q227.
    *
    * State = 3 longs + the buffer of not-yet-final events, bounded by
    * the per-user event rate over the watermark horizon (fail-fast at
    * `maxBufferedEvents`). WITHOUT `idleTimeout` the compact triple is
    * per-user lifetime (a funnel has no window to expire) — unbounded
    * in users BY DESIGN, like q114's per-user machine. Pass
    * `idleTimeout = Some("30 days")` to evict via event-time timeout:
    * a user idle past the timeout emits a final fold of any remaining
    * buffer and is removed — the retention-policy knob a production
    * deployment wants (a re-appearing user simply restarts at depth 0).
    *
    * Emits (user_id, depth, t_first, t_last, span_sec, rev) per
    * touched user per micro-batch in update mode; `rev` increments
    * per state revision, so consumers keep the max-rev row per user
    * (depth is monotone, but t_first can move EARLIER when a late
    * first-step event arrives — max-depth alone is not enough).
    */
  def funnelStream(events: DataFrame, steps: Seq[String],
      userCol: String = "user_id", typeCol: String = "event_type",
      delay: String = "10 minutes", idleTimeout: Option[String] = None,
      maxBufferedEvents: Int = 100000): DataFrame = {
    require(steps.nonEmpty && steps.size <= 16,
      s"steps must be 1..16 entries, got ${steps.size}")
    require(steps.distinct == steps, "funnel steps must be distinct")
    require(maxBufferedEvents >= 16,
      s"maxBufferedEvents must be >= 16, got $maxBufferedEvents")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val stepIdx = steps.zipWithIndex.toMap
    val nSteps = steps.size
    val idleMs = idleTimeout.map(durationMs)
    val timeoutConf = if (idleMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    // greedy min-per-hop chain over (tus, stepIdx)-sorted events
    def fold(d0: Int, tf0: Long, tc0: Long,
        evs: Seq[(Long, Int)]): (Int, Long, Long) = {
      var d = d0; var tf = tf0; var tc = tc0
      evs.foreach { case (tus, si) =>
        if (d == 0) {
          if (si == 0) { d = 1; tf = tus; tc = tus }
        } else if (d < nSteps && si == d && tus > tc) {
          d += 1; tc = tus
        }
      }
      (d, tf, tc)
    }
    events
      .withWatermark("ts", delay)
      .filter(col(typeCol).isin(steps: _*) && col(userCol).isNotNull)
      .select(col(userCol).cast("long").as("u"), col(typeCol).as("et"),
        unix_micros(col("ts")).as("tus"),
        // the watermark column must ride into the grouped Dataset for
        // getCurrentWatermarkMs/EventTimeTimeout to resolve (q225)
        col("ts"))
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf) {
        (u: Long, rows: Iterator[(Long, String, Long, java.sql.Timestamp)],
         st: GroupState[(Int, Long, Long, Seq[(Long, Int)], Long, Long)]) =>
          if (st.hasTimedOut) {
            // idle eviction: finalize whatever is buffered and forget
            // the user (a later re-appearance restarts at depth 0)
            val (d0, tf0, tc0, buf, rev, _) = st.get
            val (d, tf, tc) = fold(d0, tf0, tc0, buf.sorted)
            st.remove()
            (u, d, tf, tc, rev + 1)
          } else {
            val (d0, tf0, tc0, buf, rev, seen0) =
              st.getOption.getOrElse((0, 0L, 0L, Seq.empty[(Long, Int)], 0L, 0L))
            val merged =
              (buf ++ rows.map(r => (r._3, stepIdx(r._2)))).sorted
            if (merged.size > maxBufferedEvents)
              throw new IllegalStateException(
                s"funnelStream: user $u has ${merged.size} events inside " +
                  s"the watermark horizon — raise maxBufferedEvents " +
                  s"($maxBufferedEvents) or shrink the watermark delay")
            // events STRICTLY below the watermark are FINAL (Spark's
            // late-row filter drops only rows strictly below it, so an
            // event AT the watermark can still arrive in a later batch)
            // — fold them in for good; events at or above the watermark
            // stay buffered for deterministic re-fold
            val wmUs = st.getCurrentWatermarkMs() * 1000L
            val (ripe, young) = merged.partition(_._1 < wmUs)
            val (d1, tf1, tc1) = fold(d0, tf0, tc0, ripe)
            // idle clock = the key's true last activity: max of the
            // stored high-water mark and this batch (a batch of OLDER
            // but in-watermark events must not pull eviction earlier)
            val seen1 = (seen0 +: merged.map(_._1 / 1000L)).max
            st.update((d1, tf1, tc1, young, rev + 1, seen1))
            idleMs.foreach { ms =>
              val lastSeenMs =
                if (seen1 > 0L) seen1 else st.getCurrentWatermarkMs()
              st.setTimeoutTimestamp(
                math.max(lastSeenMs + ms, st.getCurrentWatermarkMs() + 1))
            }
            // provisional emission = batch result over everything seen
            val (d2, tf2, tc2) = fold(d1, tf1, tc1, young)
            (u, d2, tf2, tc2, rev + 1)
          }
      }
      .filter(col("_2") > 0)
      .select(col("_1").as("user_id"), col("_2").as("depth"),
        timestamp_micros(col("_3")).as("t_first"),
        timestamp_micros(col("_4")).as("t_last"),
        ((col("_4") - col("_3")) / 1000000L).cast("long").as("span_sec"),
        col("_5").as("rev"))
  }

  /** Streaming exact per-window TOP-K — the live "who is hammering the
    * system this window" monitor ([[graft.ops.Sketches.heavyHitters]]'
    * streaming sibling). One [[flatMapGroupsWithState]] group per open
    * window holds the exact per-key count map; each micro-batch emits
    * ONE row per touched window carrying the current top-k as a
    * deterministic "key:cnt,…" string (ranked cnt DESC, key ASC) plus
    * the monotone n_events — so sink traffic is O(k) per window per
    * batch, never one row per key, and the final state per window is
    * the max-n_events emission (counts are ORDER-FREE, so no fold-order
    * contract is needed at all — stronger than the q225 ascending-id
    * clock contract; any arrival order yields the same counts).
    *
    * State honesty: EXACT top-k requires the full per-window key→count
    * map — state is O(distinct keys in window), capped by
    * `maxStateKeys` with fail-fast (the q225 posture), and evicted by
    * event-time timeout after the watermark passes the window.
    * For vocabulary-scale cardinality where that map cannot fit, run
    * the batch Misra-Gries tier ([[graft.ops.Sketches.heavyHitters]])
    * over closed windows instead — the streaming tier's job is
    * low-latency alerting on windows whose key set fits in memory
    * (users, hosts, tenants).
    *
    * @return (w_start, n_events, n_keys, top_k) per window per batch,
    *         update mode; fold max(struct(n_events, …)) per window
    */
  def topKStream(events: DataFrame, k: Int, windowSecs: Int = 300,
      delay: String = "10 minutes", keyCol: String = "user_id",
      maxStateKeys: Int = 4000000): DataFrame = {
    require(k >= 1 && k <= 10000, s"k must be in [1, 10000], got $k")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sized = s"$windowSecs seconds"
    events
      .filter(col(keyCol).isNotNull)
      .withWatermark("ts", delay)
      .select(
        date_format(window(col("ts"), sized).getField("start"),
          "yyyy-MM-dd HH:mm:ss").as("w"),
        col(keyCol).cast("long").as("u"),
        // the watermark column must ride into the grouped Dataset for
        // EventTimeTimeout to resolve (q225 contract)
        col("ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (w: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
         st: GroupState[Map[Long, Long]]) =>
          if (st.hasTimedOut) { st.remove(); Iterator.empty }
          else {
            var state = st.getOption.getOrElse(Map.empty[Long, Long])
            rows.foreach { case (_, u, _) =>
              state = state.updated(u, state.getOrElse(u, 0L) + 1L)
            }
            if (state.size > maxStateKeys)
              throw new IllegalStateException(
                s"topKStream: window $w exceeds $maxStateKeys distinct " +
                  "keys — raise maxStateKeys, shrink the window, or use " +
                  "the batch Misra-Gries tier")
            st.update(state)
            st.setTimeoutTimestamp(math.max(
              windowStartMs(w) + windowSecs * 1000L + durationMs(delay),
              st.getCurrentWatermarkMs() + 1))
            val top = state.toSeq.map { case (u, c) => (-c, u) }
              .sorted.take(k)
              .map { case (nc, u) => s"$u:${-nc}" }.mkString(",")
            Iterator.single((w, state.valuesIterator.sum,
              state.size.toLong, top))
          }
      }
      .toDF("w_start", "n_events", "n_keys", "top_k")
  }

  /** Streaming HEAVY HITTERS via Misra-Gries state — the UNCAPPED
    * sibling of [[topKStream]] for vocabulary-scale key cardinality:
    * state per open window is k COUNTERS (the MG summary) plus one
    * exact event count, independent of how many distinct keys the
    * window sees — the op an ingest door actually runs at 100 TB,
    * where q241's exact map (and its `maxStateKeys` fail-fast) cannot
    * fit.
    *
    * The MG decrement argument survives micro-batching untouched:
    * feeding batches incrementally IS processing the window's events
    * in one arrival order, and for ANY order every value with
    * freq > N/k keeps a positive counter — so each emission's
    * candidate list is a SUPERSET of the window's true heavy hitters
    * (no false negatives, ever). The candidate list itself is
    * order-DEPENDENT (which extra sub-threshold survivors ride along
    * depends on arrival order), so the deterministic, hash-gatable
    * artifact is one recount downstream: stream proposes ≤ k
    * candidates per window, a single batch recount over the closed
    * window disposes — exactly the two-pass shape of the batch op
    * ([[graft.ops.Sketches.heavyHitters]]), with pass 1 live. The
    * recounted output {v : cnt·k > N} is a pure function of the
    * window multiset by the superset guarantee, absorbing the
    * candidate nondeterminism entirely (q243 gates on it).
    *
    * Emits (w_start, n_events, candidates) per touched window per
    * micro-batch in update mode; n_events strictly increases per
    * emission, so consumers keep the max-n_events row per window.
    * State is evicted by event-time timeout once the watermark passes
    * the window (the q225/q241 pattern).
    */
  def heavyHittersStream(events: DataFrame, k: Int, windowSecs: Int = 300,
      delay: String = "10 minutes", keyCol: String = "user_id"): DataFrame = {
    require(k >= 2 && k <= 100000, s"k must be in [2, 100000], got $k")
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sized = s"$windowSecs seconds"
    events
      .filter(col(keyCol).isNotNull)
      .withWatermark("ts", delay)
      .select(
        date_format(window(col("ts"), sized).getField("start"),
          "yyyy-MM-dd HH:mm:ss").as("w"),
        col(keyCol).cast("long").as("u"),
        col("ts"))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (w: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
         st: GroupState[(Map[Long, Long], Long)]) =>
          if (st.hasTimedOut) { st.remove(); Iterator.empty }
          else {
            var (m, n) = st.getOption.getOrElse((Map.empty[Long, Long], 0L))
            rows.foreach { case (_, u, _) =>
              n += 1L
              m.get(u) match {
                case Some(c) => m = m.updated(u, c + 1L)
                case None if m.size < k => m = m.updated(u, 1L)
                case None =>
                  // decrement-all admission: removes k units of mass,
                  // so triggers <= n/k and freq > n/k survives
                  m = m.flatMap { case (kk, c) =>
                    if (c == 1L) None else Some(kk -> (c - 1L)) }
              }
            }
            st.update((m, n))
            st.setTimeoutTimestamp(math.max(
              windowStartMs(w) + windowSecs * 1000L + durationMs(delay),
              st.getCurrentWatermarkMs() + 1))
            Iterator.single((w, n, m.keysIterator.toSeq.sorted))
          }
      }
      .toDF("w_start", "n_events", "candidates")
  }

  /** Streaming PSI drift monitor — the production posture for
    * [[graft.ops.Validate.psiDrift]]: a per-tumbling-window population
    * stability index of the live stream against a FROZEN reference
    * distribution (the deploy-time snapshot a drift alert is defined
    * against). Emits one row per closed window: (w_start, n_events,
    * t_cur, psi_nano).
    *
    * Single stateful operator: the window aggregation computes one
    * conditional count per ladder bucket IN-ROW (ladder-width columns,
    * not rows), so totals, Laplace floors, and the floor-nano PSI sum
    * are a stateless projection after the agg — no chained-stateful
    * machinery, state is O(open windows · ladder width). The reference
    * enters as INTEGER literals (ladder-bounded, computed batch-side),
    * and every term uses the shared
    * [[graft.ops.Validate.psiTermExprOf]] arithmetic, so the DuckDB
    * replay matches bit-for-bit on the decidable windows.
    *
    * @param refCounts RAW reference bucket counts in ladder order
    *                  (boundaries labels then overflow); Laplace +1 is
    *                  applied here, mirroring the batch op
    */
  /** Streaming FK-ORPHAN monitor — [[graft.ops.Validate.fkCheck]]'s
    * live twin: per tumbling window, how many stream rows carry a
    * foreign key with no match in the (broadcast) dimension snapshot,
    * split NULL-FK vs DANGLING-FK (different defects, the batch op's
    * contract). Stateless except the window agg: the dimension joins
    * per micro-batch as a broadcast left join, matched-ness folds into
    * in-row conditional counts, orphan rate in floor basis points.
    *
    * The dimension is the deploy-time SNAPSHOT by design (the frozen-
    * reference monitor pattern, README "bless → freeze → monitor") —
    * a row dangling against the snapshot but matched by a later
    * dimension version is exactly what the alert should surface.
    *
    * @return (w_start, n_rows, n_null_fk, n_orphans, orphan_bp) per
    *         closed window, append mode
    */
  def fkOrphanStream(events: DataFrame, dim: DataFrame, fkCol: String,
      dimKey: String, size: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame = {
    val keys = dim.select(col(dimKey).cast("long").as("__pk"))
      .filter(col("__pk").isNotNull).distinct()
    events
      .select(col("ts"), col(fkCol).cast("long").as("__fk"))
      .join(broadcast(keys), col("__fk") === col("__pk"), "left")
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__fk").isNull, 1L).otherwise(0L)).as("n_null_fk"),
        sum(when(col("__fk").isNotNull && col("__pk").isNull, 1L)
          .otherwise(0L)).as("n_orphans"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n_rows"), col("n_null_fk"), col("n_orphans"),
        expr("(10000 * n_orphans) div n_rows").as("orphan_bp"))
  }

  /** Streaming BENFORD first-digit monitor — the live fraud/corrupted-
    * feed alarm ([[graft.ops.Validate.benfordDigits]]' windowed twin):
    * per tumbling window, in-row counts of the nine first significant
    * digits (+ the out-of-range exclusions) via the SAME digit ladder
    * as the batch op, then a stateless integer projection emits each
    * digit share in basis points, the digit-1 share, and the total
    * absolute deviation from the Benford expectation. State per open
    * window is 10 longs — the psiDriftStream/quantileStream shape —
    * and every closed row replays bit-for-bit (obs_bp = n_d·10000 div
    * t on non-negative operands, dev = Σ|obs − exp|).
    *
    * @return (w_start, n_valid, n_excluded, d1_bp, dev_bp) per closed
    *         window, append mode
    */
  def benfordStream(events: DataFrame, valueCol: String = "value",
      size: String = "5 minutes", delay: String = "10 minutes"): DataFrame = {
    val e = events
      .select(col("ts"), abs(col(valueCol).cast("double")).as("v"))
      .filter(col("v").isNotNull)
      .withColumn("__d", expr(
        "CASE WHEN v >= 0.001 AND v < 10000000.0 THEN " +
          graft.ops.Validate.benfordDigitExpr + " ELSE -1 END"))
    val aggCols = (1 to 9).map(d =>
      sum(when(col("__d") === d, 1L).otherwise(0L)).as(s"n$d")) :+
      sum(when(col("__d") === -1, 1L).otherwise(0L)).as("n_excluded")
    val counts = e.withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("t", (1 to 9).map(d => col(s"n$d")).reduce(_ + _))
    val exp = graft.ops.Validate.benfordExpBp
    def obsBp(d: Int) = when(col("t") === 0, lit(0L))
      .otherwise(expr(s"(n$d * 10000) div t"))
    val dev = (1 to 9).map(d => abs(obsBp(d) - lit(exp(d - 1))))
      .reduce(_ + _)
    counts.select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
      col("t").as("n_valid"), col("n_excluded"),
      obsBp(1).as("d1_bp"), dev.as("dev_bp"))
  }

  /** Streaming OOV-rate monitor — the live companion of
    * [[graft.ops.Features.categorify]]: a feature pipeline whose
    * embedding tables were built against a frozen vocabulary needs the
    * out-of-vocabulary rate WATCHED — new categories (schema drift, a
    * new client version, an upstream rename) silently funnel into the
    * OOV bucket and degrade the model. Per closed tumbling window:
    * row/known/OOV/null counts against a broadcast reference
    * vocabulary and the OOV share in basis points. State is 4 longs
    * per open window (the conditional-sum posture); the vocabulary
    * rides a broadcast join, so the stream never shuffles by category.
    *
    * @param refVocab one-column frame of known category values
    * @return (w_start, n, n_known, n_oov, n_null, oov_bp) per closed
    *         window, append mode
    */
  def oovRateStream(events: DataFrame, catCol: String, refVocab: DataFrame,
      size: String = "5 minutes", delay: String = "10 minutes"): DataFrame = {
    val vocab = refVocab.toDF("__v").filter(col("__v").isNotNull).distinct()
    events
      .select(col("ts"), col(catCol).as("__c"))
      .join(broadcast(vocab), col("__c") === col("__v"), "left")
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__v").isNotNull, 1L).otherwise(0L)).as("n_known"),
        sum(when(col("__c").isNotNull && col("__v").isNull, 1L)
          .otherwise(0L)).as("n_oov"),
        sum(when(col("__c").isNull, 1L).otherwise(0L)).as("n_null"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n"), col("n_known"), col("n_oov"), col("n_null"),
        expr("(10000 * n_oov) div n").as("oov_bp"))
  }

  /** Streaming z-score anomaly monitor — the live SERVE-TIME path of
    * [[graft.ops.Features.standardScale]] (q280's fit/transform split,
    * applied to a stream): scoring stats (mean, std in cents) are
    * FROZEN at fit time and passed in as literals — exactly how a
    * feature store serves a scaler — and each closed window reports
    * how much of the live traffic the frozen scaler now calls
    * anomalous. A drifting feed shows up as a rising `anom_bp` /
    * `max_abs_z` long before any model metric moves (and when the rate
    * jumps, q280 re-fit is the action). Same integer z spelling as the
    * batch op (positive-mod floor at 10⁴), so closed rows replay
    * bit-for-bit in any arrival order; NULL values are COUNTED
    * (`n_null`), never scored — a monitor survives bad rows.
    *
    * State per open window: 4 longs (n, n_null, n_anom, max|z|) — the
    * q246b O(1) posture, no event buffering, never shuffles by value.
    *
    * @param meanC  frozen center in cents (from the fit)
    * @param stdC   frozen scale in cents (> 0 — a scaler with no scale
    *               has no anomaly definition; fail at build time)
    * @param threshBp |z| threshold in basis points (3σ = 30000)
    * @return (w_start, n, n_null, n_anom, anom_bp, max_abs_z) per
    *         closed window, append mode
    */
  def zscoreAnomalyStream(events: DataFrame,
      value: org.apache.spark.sql.Column, meanC: Long, stdC: Long,
      threshBp: Long = 30000L, size: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame = {
    require(stdC > 0, s"zscoreAnomalyStream: stdC must be > 0, got $stdC")
    require(threshBp > 0,
      s"zscoreAnomalyStream: threshBp must be > 0, got $threshBp")
    val e = events.select(col("ts"),
      round(value * 100).cast("long").as("__c"))
    val z = expr(
      s"""CASE WHEN __c IS NULL THEN NULL ELSE
         |  ((__c - ${meanC}L) * 10000
         |    - pmod((__c - ${meanC}L) * 10000, ${stdC}L)) div ${stdC}L
         |END""".stripMargin)
    e.select(col("ts"), z.as("__z"))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(count(lit(1)).as("n"),
        sum(when(col("__z").isNull, 1L).otherwise(0L)).as("n_null"),
        sum(when(abs(col("__z")) >= threshBp, 1L).otherwise(0L))
          .as("n_anom"),
        max(abs(col("__z"))).as("max_abs_z"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n"), col("n_null"), col("n_anom"),
        expr("CASE WHEN n - n_null = 0 THEN 0L " +
          "ELSE (10000 * n_anom) div (n - n_null) END").as("anom_bp"),
        col("max_abs_z"))
  }

  /** Streaming calibration (ECE) monitor — the live twin of
    * [[graft.ops.Validate.calibrationBins]] at tumbling-window
    * granularity (r13 verdict item 6): a production quality classifier
    * whose scores gate a corpus needs its calibration WATCHED, not
    * measured once. Per closed window: the count-weighted expected
    * calibration error over `nBins` fixed equi-width probability
    * buckets, the worst bucket and its gap — from 3·nBins longs of
    * in-row state (count, positives, Σ micro-prob per bucket), the
    * q246b O(buckets) posture, no event buffering.
    *
    * Determinism: probabilities quantize to integer micro-units BEFORE
    * summation and every emitted number is an integer div, so closed
    * rows replay bit-for-bit in any arrival order. Unlike the batch op
    * (which fail-fasts), out-of-[0,1] scores are COUNTED (`n_oob`),
    * never raised — a monitor must survive bad rows and report them.
    * The worst bucket is the (gap, lowest bin) lexicographic max via
    * greatest-over-packed-structs (empty buckets sentinel at −1).
    *
    * @return (w_start, n, n_oob, ece_bp, max_gap_bp, worst_bin) per
    *         closed window, append mode
    */
  def eceStream(events: DataFrame, prob: org.apache.spark.sql.Column,
      label: org.apache.spark.sql.Column,
      nBins: Int = 10, size: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame = {
    require(nBins >= 2 && nBins <= 64,
      s"eceStream: nBins must be in [2, 64] (state is 3*nBins longs " +
        s"per open window), got $nBins")
    val e = events
      .select(col("ts"), prob.cast("double").as("v"),
        label.cast("long").as("y"))
      .filter(col("v").isNotNull && col("y").isNotNull)
    val inRange = col("v") >= 0.0 && col("v") <= 1.0
    val binned = e.select(col("ts"),
      when(inRange,
        least(floor(col("v") * nBins).cast("long"), lit(nBins - 1L)))
        .otherwise(lit(-1L)).as("b"),
      when(inRange, floor(col("v") * 1e6).cast("long"))
        .otherwise(lit(0L)).as("vm"),
      col("y"))
    val aggCols = (0 until nBins).flatMap(b => Seq(
      sum(when(col("b") === b, 1L).otherwise(0L)).as(s"n$b"),
      sum(when(col("b") === b, col("y")).otherwise(0L)).as(s"p$b"),
      sum(when(col("b") === b, col("vm")).otherwise(0L)).as(s"m$b"))) :+
      sum(when(col("b") === -1, 1L).otherwise(0L)).as("n_oob")
    val counts = binned.withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(aggCols.head, aggCols.tail: _*)
    def gapB(b: Int) = abs(
      expr(s"m$b div (100 * n$b)") - expr(s"(10000 * p$b) div n$b"))
    val n = (0 until nBins).map(b => col(s"n$b")).reduce(_ + _)
    val wg = (0 until nBins)
      .map(b => when(col(s"n$b") === 0, 0L).otherwise(col(s"n$b") * gapB(b)))
      .reduce(_ + _)
    // lexicographic (gap, -bin) max via greatest over packed structs —
    // NOT a when/otherwise accumulator fold (those double the tree per
    // step); empty buckets carry gap −1 so they never win a non-empty
    // window
    val worst = greatest((0 until nBins).map(b => struct(
      when(col(s"n$b") === 0, lit(-1L)).otherwise(gapB(b)).as("g"),
      lit(-b.toLong).as("nb"))): _*)
    counts
      .withColumn("__n", n).withColumn("__wg", wg)
      .withColumn("__worst", worst)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("__n").as("n"), col("n_oob"),
        when(col("__n") === 0, -1L).otherwise(expr("__wg div __n"))
          .as("ece_bp"),
        when(col("__n") === 0, -1L).otherwise(col("__worst.g"))
          .as("max_gap_bp"),
        when(col("__n") === 0, -1L).otherwise(-col("__worst.nb"))
          .as("worst_bin"))
  }

  /** Streaming CUSUM change-point monitor — the live twin of
    * [[graft.ops.FrameOps.cusumChangePoint]] at (tumbling window ×
    * series key) granularity: per series, the position whose
    * cross-multiplied CUSUM deviation dev_k = n·prefix_k − k·total is
    * largest in magnitude (the mean-shift vertex), in pure 64-bit
    * integers over values quantized to cents.
    *
    * The statistic is a function of the WHOLE series (n and total
    * multiply every term), so this is the buffered-fold shape
    * ([[funnelStream]]'s r12 contract, taken to window granularity):
    * events buffer in state, every micro-batch re-folds the sorted
    * buffer and emits the current vertex with its n_points — the
    * emission with the highest n_points per (window, key) is the
    * complete-series answer, equal to the batch fold in ANY arrival
    * order (ties at equal |dev| break to the earliest position, order
    * pinned by (ts, event_id)). State is O(events per window per
    * series), the honest cost of an exact whole-series statistic —
    * fail-fast at `maxBufferedEvents`, evicted by event-time timeout
    * once the watermark passes the window.
    *
    * @return (w_start, series, n_points, change_pos, change_at_us,
    *         dev_n) per touched (window, series) per batch, update
    *         mode; fold max-n_points per (w_start, series)
    */
  def cusumStream(events: DataFrame, keyCol: String = "event_type",
      valueCol: String = "value", windowSecs: Int = 3600,
      delay: String = "10 minutes",
      maxBufferedEvents: Int = 1000000): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sized = s"$windowSecs seconds"
    events
      .filter(col(keyCol).isNotNull && col(valueCol).isNotNull &&
        col("event_id").isNotNull)
      .withWatermark("ts", delay)
      .select(
        // the "yyyy-MM-dd HH:mm:ss" window prefix is FIXED-WIDTH (19
        // chars), so the packed (window, series) group key needs no
        // separator: splitAt(19) recovers both halves exactly, and a
        // series key containing ANY byte cannot corrupt the split
        concat(
          date_format(window(col("ts"), sized).getField("start"),
            "yyyy-MM-dd HH:mm:ss"),
          col(keyCol)).as("wk"),
        unix_micros(col("ts")).as("tus"),
        col("event_id").cast("long").as("eid"),
        round(col(valueCol) * 100).cast("long").as("cents"),
        col("ts"))
      .as[(String, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (wk: String, rows: Iterator[(String, Long, Long, Long, java.sql.Timestamp)],
         st: GroupState[Seq[(Long, Long, Long)]]) =>
          if (st.hasTimedOut) { st.remove(); Iterator.empty }
          else {
            val buf = st.getOption.getOrElse(Seq.empty) ++
              rows.map(r => (r._2, r._3, r._4))
            if (buf.size > maxBufferedEvents)
              throw new IllegalStateException(
                s"cusumStream: series $wk has ${buf.size} events in one " +
                  s"window — raise maxBufferedEvents ($maxBufferedEvents), " +
                  "shrink the window, or use a finer series key")
            st.update(buf)
            val (w, key) = wk.splitAt(19)
            st.setTimeoutTimestamp(math.max(
              windowStartMs(w) + windowSecs * 1000L + durationMs(delay),
              st.getCurrentWatermarkMs() + 1))
            // exact whole-series fold over the (ts, event_id) order
            val sorted = buf.sorted
            val n = sorted.size.toLong
            val total = sorted.iterator.map(_._3).sum
            var prefix = 0L; var k = 0L
            var bestAbs = -1L; var bestK = 0L; var bestDev = 0L
            var bestT = 0L
            sorted.foreach { case (tus, _, cents) =>
              k += 1; prefix += cents
              val dev = n * prefix - k * total
              val a = math.abs(dev)
              if (a > bestAbs) {
                bestAbs = a; bestK = k; bestDev = dev; bestT = tus
              }
            }
            Iterator.single((w, key, n, bestK, bestT, bestDev))
          }
      }
      .toDF("w_start", "series", "n_points", "change_pos",
        "change_at_us", "dev_n")
  }

  /** Exact-AT-CLOSE tier of [[cusumStream]] (r13 verdict item 5): the
    * same whole-series CUSUM vertex, but the buffered state is folded
    * exactly ONCE — when the event-time timer fires after the
    * watermark passes (window end + delay) — instead of re-sorted and
    * re-folded on every micro-batch a series is touched in. Data
    * batches only APPEND to the buffer and re-arm the (fixed) timer;
    * the close-time work is one sort + one linear scan per (window,
    * series) LIFETIME, and emission is true append semantics: exactly
    * one final row per closed series, no max-n_points consumer fold.
    *
    * Cap math (the r13 tier-selection contract): state is three longs
    * = 24 bytes/event, so the default cap of 4M events bounds a
    * (window, series) buffer at ~96 MB — a deliberate ceiling for an
    * executor-resident state row; the fail-fast names the series.
    * Past the cap, the right move is not a bigger buffer but the
    * O(buckets) [[cusumBucketStream]] tier below (vertex at bucket
    * resolution, no growth with event count). [[cusumStream]] remains
    * the live-progress variant: same exactness, provisional vertex
    * every batch, at O(n log n) re-fold per touched batch.
    *
    * Emission decidability (what the oracle replays): a series emits
    * iff windowStart + windowSecs + delay < finalWatermark, where
    * finalWatermark = max event-time (ms) − delay; Spark fires
    * event-time timers on the strict-less comparison in the batch
    * after the watermark advances (AvailableNow runs that final
    * sweep).
    *
    * @return (w_start, series, n_points, change_pos, change_at_us,
    *         dev_n) — one row per CLOSED (window, series), append mode
    */
  def cusumStreamAtClose(events: DataFrame, keyCol: String = "event_type",
      valueCol: String = "value", windowSecs: Int = 3600,
      delay: String = "10 minutes",
      maxBufferedEvents: Int = 4000000): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sized = s"$windowSecs seconds"
    events
      .filter(col(keyCol).isNotNull && col(valueCol).isNotNull &&
        col("event_id").isNotNull)
      .withWatermark("ts", delay)
      .select(
        concat(
          date_format(window(col("ts"), sized).getField("start"),
            "yyyy-MM-dd HH:mm:ss"),
          col(keyCol)).as("wk"),
        unix_micros(col("ts")).as("tus"),
        col("event_id").cast("long").as("eid"),
        round(col(valueCol) * 100).cast("long").as("cents"),
        col("ts"))
      .as[(String, Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (wk: String, rows: Iterator[(String, Long, Long, Long, java.sql.Timestamp)],
         st: GroupState[Seq[(Long, Long, Long)]]) =>
          if (st.hasTimedOut) {
            // THE fold: once per series lifetime, at close
            val sorted = st.get.sorted
            st.remove()
            val (w, key) = wk.splitAt(19)
            val n = sorted.size.toLong
            val total = sorted.iterator.map(_._3).sum
            var prefix = 0L; var k = 0L
            var bestAbs = -1L; var bestK = 0L; var bestDev = 0L
            var bestT = 0L
            sorted.foreach { case (tus, _, cents) =>
              k += 1; prefix += cents
              val dev = n * prefix - k * total
              val a = math.abs(dev)
              if (a > bestAbs) {
                bestAbs = a; bestK = k; bestDev = dev; bestT = tus
              }
            }
            Iterator.single((w, key, n, bestK, bestT, bestDev))
          } else {
            val buf = st.getOption.getOrElse(Seq.empty) ++
              rows.map(r => (r._2, r._3, r._4))
            if (buf.size > maxBufferedEvents)
              throw new IllegalStateException(
                s"cusumStreamAtClose: series $wk has ${buf.size} events " +
                  s"in one window (~${buf.size * 24L / (1 << 20)} MB of " +
                  s"state) — past maxBufferedEvents ($maxBufferedEvents) " +
                  "use cusumBucketStream (O(buckets) state) or a finer " +
                  "series key")
            st.update(buf)
            val (w, _) = wk.splitAt(19)
            st.setTimeoutTimestamp(math.max(
              windowStartMs(w) + windowSecs * 1000L + durationMs(delay),
              st.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
      .toDF("w_start", "series", "n_points", "change_pos",
        "change_at_us", "dev_n")
  }

  /** The SCALE tier of [[cusumStream]] — CUSUM at BUCKET granularity
    * with O(2·nBuckets) in-row state per open (window, series), the
    * [[quantileStream]] posture applied to change-point detection.
    *
    * Each event folds into per-bucket (count, cent-sum) pairs, where
    * bucket = the event's position among `nBuckets` equal sub-spans of
    * its tumbling window (pure integer: ((tus mod windowUs)·nBuckets)
    * div windowUs). The cross-multiplied CUSUM statistic
    * dev = n·prefix − k·total evaluated at a BUCKET BOUNDARY depends
    * only on the bucket prefix sums — within-bucket order cancels — so
    * the boundary-resolution vertex is EXACT, not approximate: it is
    * the true dev_k at k = (events in buckets before the boundary).
    * What the tier gives up vs [[cusumStream]] is only vertex
    * granularity (boundary j of nBuckets instead of the exact event
    * position) — the trade a 100 TB deployment makes, because state no
    * longer grows with the event count and the whole op is ONE
    * windowed aggregation + a stateless projection (no
    * flatMapGroupsWithState, no buffer, no fail-fast cap needed).
    *
    * Append mode: one row per (window, series) once the watermark
    * closes the window; ties at equal |dev| break to the SMALLEST
    * boundary index, mirroring [[cusumStream]]'s earliest-position rule.
    *
    * @return (w_start, series, n_points, change_bucket, dev_n) —
    *         change_bucket ∈ [1, nBuckets] is the 1-based boundary
    *         (prefix = buckets 0..change_bucket-1) with max |dev|
    */
  def cusumBucketStream(events: DataFrame, keyCol: String = "event_type",
      valueCol: String = "value", windowSecs: Int = 3600,
      nBuckets: Int = 16, delay: String = "10 minutes"): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 64,
      s"nBuckets must be in [2, 64], got $nBuckets")
    val windowUs = windowSecs * 1000000L
    val e = events
      .filter(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col("ts"), col(keyCol).as("series"),
        round(col(valueCol) * 100).cast("long").as("cents"))
      .withColumn("__b",
        expr(s"((unix_micros(ts) % ${windowUs}L) * $nBuckets) div ${windowUs}L"))
    val aggCols = (0 until nBuckets).flatMap(i => Seq(
      sum(when(col("__b") === i, 1L).otherwise(0L)).as(s"k$i"),
      sum(when(col("__b") === i, col("cents")).otherwise(0L)).as(s"s$i")))
    val counts = e.withWatermark("ts", delay)
      .groupBy(window(col("ts"), s"$windowSecs seconds"), col("series"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("n", (0 until nBuckets).map(i => col(s"k$i")).reduce(_ + _))
      .withColumn("t", (0 until nBuckets).map(i => col(s"s$i")).reduce(_ + _))
    // stateless boundary walk: dev_j over cumulative bucket prefixes;
    // argmax |dev| with first-boundary tie-break = greatest() over
    // (|dev|, -j, dev) structs — struct comparison is lexicographic,
    // so the max has the largest |dev| and, on ties, the smallest j.
    // (A when-chain fold would embed each step's accumulator twice per
    // comparison and blow up exponentially in nBuckets.)
    var kPre: org.apache.spark.sql.Column = lit(0L)
    var sPre: org.apache.spark.sql.Column = lit(0L)
    val packed = (1 to nBuckets).map { j =>
      kPre = kPre + col(s"k${j - 1}")
      sPre = sPre + col(s"s${j - 1}")
      val dev = col("n") * sPre - kPre * col("t")
      struct(abs(dev).as("a"), lit(-j.toLong).as("nj"), dev.as("dev"))
    }
    val best = greatest(packed: _*)
    counts.select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
      col("series"), col("n").as("n_points"),
      (-best.getField("nj")).as("change_bucket"),
      best.getField("dev").as("dev_n"))
  }

  /** Streaming per-window QUANTILE monitor — live p50/p95/p99 of a
    * numeric column per tumbling window (the latency/size/score
    * dashboard every serving door runs). Same single-stateful-operator
    * shape as [[psiDriftStream]]: the windowed aggregation folds each
    * event into ladder-width IN-ROW bucket counts (one COLUMN per
    * bucket — state per open window is B longs, independent of event
    * count or value cardinality), and the quantile walk is a stateless
    * projection over the closed row via
    * [[graft.ops.Sketches.histLadderQuantileExpr]] — the identical
    * integer/double arithmetic as the batch histogram tier
    * (q192/q203), so every emitted row replays bit-for-bit in the
    * oracle. Estimates are histogram-grade: exact bucket, linear
    * inside — the documented trade of the mergeable-histogram family.
    *
    * Append mode: one row per window once the watermark closes it.
    *
    * @return (w_start, n_events, p<q1>, p<q2>, …)
    */
  def quantileStream(events: DataFrame, lo: Double, hi: Double,
      nBuckets: Int, qs: Seq[Double], valueCol: String = "value",
      size: String = "5 minutes", delay: String = "10 minutes"): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 64,
      s"nBuckets must be in [2, 64], got $nBuckets")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must be in (0, 1]")
    val labels = qs.map(q => s"p${math.round(q * 100)}")
    require(labels.distinct == labels,
      s"quantile labels collide after rounding to percent: $labels")
    val e = events
      .select(col("ts"), col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("__b",
        expr(graft.ops.Sketches.histBucketExpr(lo, hi, nBuckets)))
    val aggCols = (0 until nBuckets).map(i =>
      sum(when(col("__b") === i, 1L).otherwise(0L)).as(s"n$i"))
    val counts = e.withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("n", (0 until nBuckets).map(i => col(s"n$i")).reduce(_ + _))
    val ests = qs.zip(labels).map { case (q, l) =>
      expr(graft.ops.Sketches.histLadderQuantileExpr(lo, hi, nBuckets, q))
        .as(l)
    }
    counts.select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start")
        +: col("n").as("n_events") +: ests: _*)
  }

  /** Streaming QUANTILE-MAP drift CORRECTION — the live composition
    * of detect ([[psiDriftStream]], q214) and correct
    * ([[graft.ops.Validate.quantileMapHist]], q216b): per closed
    * tumbling window, every populated histogram bucket of the window
    * is mapped onto a FROZEN reference ladder by the same integer
    * cross-multiplied CDF inversion the batch op runs —
    *
    *   mapped_bucket(b) = min { rb : cumRef(rb)·nWin ≥ cumWin(b)·nRef }
    *
    * — no float ratios, no state beyond the window's B in-row bucket
    * counts ([[quantileStream]]'s ladder state), and the inversion is
    * a STATELESS projection over the closed row: the ≤ B-entry frozen
    * cumulative ladder is baked into the plan as literals (the q214 /
    * q224 frozen-reference pattern — compute the reference batch-side
    * once, freeze, stream against it). A drifted window is thereby
    * both detected (bucket ≠ mapped_bucket) and corrected (the mapped
    * midpoint restores the reference distribution) in the same row.
    *
    * Integer bound, stated honestly: the cross-products cumRef·nWin
    * and cumWin·nRef must fit int64 — fine to ~3e9 rows on EACH side;
    * beyond that, pre-scale the reference counts (the mapping is
    * ratio-invariant under common scaling of the reference ladder).
    *
    * Append mode: one row per (window, populated bucket) at
    * watermark close.
    *
    * @param refCounts frozen per-bucket reference counts
    *                  ([[graft.ops.Sketches.histReferenceCounts]])
    * @return (w_start, n_events, bucket, n_b, cume, mapped_bucket,
    *         mapped)
    */
  def quantileMapStream(events: DataFrame, refCounts: Seq[Long],
      lo: Double, hi: Double, nBuckets: Int,
      valueCol: String = "value", size: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 64,
      s"nBuckets must be in [2, 64], got $nBuckets")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    require(refCounts.size == nBuckets,
      s"refCounts must have $nBuckets entries, got ${refCounts.size}")
    require(refCounts.forall(_ >= 0) && refCounts.sum > 0,
      "reference ladder must be non-negative with positive mass")
    val cumRef = refCounts.scanLeft(0L)(_ + _).tail
    val e = events
      .select(col("ts"), col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("__b",
        expr(graft.ops.Sketches.histBucketExpr(lo, hi, nBuckets)))
    val aggCols = (0 until nBuckets).map(i =>
      sum(when(col("__b") === i, 1L).otherwise(0L)).as(s"n$i"))
    val counts = e.withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("n",
        (0 until nBuckets).map(i => col(s"n$i")).reduce(_ + _))
    val rows = (0 until nBuckets).map { b =>
      val cw = (0 to b).map(i => col(s"n$i")).reduce(_ + _)
      struct(lit(b).as("bucket"), col(s"n$b").as("n_b"), cw.as("cume"))
    }
    counts.select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("w_start"),
        col("n").as("n_events"), explode(array(rows: _*)).as("r"))
      .select(col("w_start"), col("n_events"),
        col("r.bucket").as("bucket"), col("r.n_b").as("n_b"),
        col("r.cume").as("cume"))
      .filter(col("n_b") > 0)
      .withColumn("mapped_bucket",
        expr(cdfInvertExpr(cumRef, "cume", "n_events")))
      .withColumn("mapped",
        expr(graft.ops.Validate.histMidExpr(lo, hi, nBuckets)))
  }

  /** Streaming per-window ROC-AUC monitor — [[graft.ops.Validate
    * .aucBy]]'s live twin at BUCKET granularity: scores land in
    * `nBuckets` equi-width in-row cells per label (2·B longs of state
    * per open window — the [[quantileStream]] ladder posture), and the
    * closed-row projection computes the same midrank rank-sum
    * arithmetic over the bucket cells:
    *
    *   2U = Σ_b pos_b · (2·cumNegBelow_b + neg_b)
    *   auc_micro = floor(10⁶·2U / (2·P·N)),  NULL if P = 0 or N = 0
    *
    * — the EXACT AUC of the bucket-quantized scores (the documented
    * granularity trade of the histogram family: within-bucket order
    * is invisible, every tied-bucket pair counts ½). A model whose
    * separability collapses mid-deploy shows up in the first closed
    * window, not the nightly eval.
    *
    * Append mode: one row per window at watermark close. Overflow
    * bound: the rank-sum terms and the 2·P·N denominator ride
    * DECIMAL(38,0), good to ~10¹⁶ events per window (the int64
    * spelling wrapped above ~3·10⁹ — r15 verdict item 6).
    *
    * @param score column expression in [0, 1] (clip upstream)
    * @param label 0/1 column expression
    * @return (w_start, n_pos, n_neg, auc_micro)
    */
  def aucStream(events: DataFrame, score: Column, label: Column,
      nBuckets: Int = 16, size: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 64,
      s"nBuckets must be in [2, 64], got $nBuckets")
    val e = events
      .select(col("ts"), score.cast("double").as("v"),
        label.cast("long").as("y"))
      .filter(col("v").isNotNull && col("y").isNotNull)
      .withColumn("__b",
        expr(graft.ops.Sketches.histBucketExpr(0.0, 1.0, nBuckets)))
    val aggCols = (0 until nBuckets).flatMap(i => Seq(
      sum(when(col("__b") === i && col("y") === 1, 1L).otherwise(0L))
        .as(s"p$i"),
      sum(when(col("__b") === i && col("y") === 0, 1L).otherwise(0L))
        .as(s"n$i")))
    val counts = e.withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(aggCols.head, aggCols.tail: _*)
    def cumNeg(b: Int) =
      if (b == 0) "0L"
      else (0 until b).map(i => s"n$i").mkString("(", " + ", ")")
    // each TERM rides DECIMAL(38,0) (r15 verdict item 6): p_b and
    // (2·cumNeg+n_b) are each window-event-bounded, so the old BIGINT
    // product wrapped (ANSI: threw) above ~3·10⁹ events/window; the
    // decimal hoist — and the decimal denominator — push the documented
    // bound to ~10¹⁶ events/window (u2·10⁶ ≤ E²/2·10⁶ < 10³⁸), the
    // same discipline as aucBy's in-comment u2 note
    val u2 = (0 until nBuckets)
      .map(b => s"CAST(p$b AS DECIMAL(38,0)) * (2 * ${cumNeg(b)} + n$b)")
      .mkString(" + ")
    val pTot = (0 until nBuckets).map(i => s"p$i").mkString(" + ")
    val nTot = (0 until nBuckets).map(i => s"n$i").mkString(" + ")
    counts.select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
        .as("w_start"),
      expr(pTot).as("n_pos"), expr(nTot).as("n_neg"),
      expr(s"""CASE WHEN ($pTot) = 0 OR ($nTot) = 0 THEN NULL
              |  ELSE CAST((($u2) * 1000000)
              |    div (2 * CAST(($pTot) AS DECIMAL(38,0)) * ($nTot))
              |    AS BIGINT)
              |END""".stripMargin).as("auc_micro"))
  }

  /** Streaming SEASONAL-BASELINE anomaly monitor — the detect-side
    * twin of [[quantileMapStream]]'s correction: per closed tumbling
    * window, the window's floor-mean cents are compared against the
    * FROZEN per-phase seasonal-naive baseline
    * ([[graft.ops.DatetimeOps.seasonalProfile]] — computed batch-side
    * once, baked into the plan as `period` literals, the q214/q294
    * frozen-reference pattern), emitting the signed residual and an
    * |resid| > threshold flag. A metric that drifts from its OWN
    * hour-of-day shape alerts in the first closed window — the
    * seasonally-adjusted alarm a plain threshold can't express
    * (3 AM traffic is not 3 PM traffic).
    *
    * State per open window: 2 longs (count + cent sum); the baseline
    * lookup and the floor-mean are stateless projections over the
    * closed row. All arithmetic integer (positive-mod floor-mean, the
    * q298 spelling).
    *
    * Append mode: one row per window at watermark close.
    *
    * @param profile per-phase baseline cents (length = period)
    * @return (w_start, n_events, v_c, base_c, resid_c, anomaly)
    */
  def seasonalBaselineStream(events: DataFrame, profile: Seq[Long],
      thresholdCents: Long, valueCol: String = "value",
      bucketSeconds: Long = 3600L,
      delay: String = "10 minutes"): DataFrame = {
    require(profile.nonEmpty && profile.size <= 10000,
      s"profile must have 1..10000 phases, got ${profile.size}")
    require(thresholdCents > 0, "thresholdCents must be > 0")
    val period = profile.size
    val size = s"$bucketSeconds seconds"
    val baseExpr = "CAST(CASE " + profile.zipWithIndex.map { case (b, p) =>
      s"WHEN ph = $p THEN $b "
    }.mkString + "END AS BIGINT)"
    val e = events
      .select(col("ts"),
        round(col(valueCol).cast("double") * 100).cast("long").as("c"))
      .filter(col("c").isNotNull)
    e.withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      .withColumn("v_c", expr("(s - pmod(s, n)) div n"))
      .withColumn("ph", expr(
        s"pmod(unix_micros(window.start) div 1000000 div $bucketSeconds," +
          s" $period)"))
      .withColumn("base_c", expr(baseExpr))
      .withColumn("resid_c", col("v_c") - col("base_c"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("w_start"),
        col("n").as("n_events"), col("v_c"), col("base_c"),
        col("resid_c"),
        (abs(col("resid_c")) > thresholdCents).as("anomaly"))
  }

  /** The frozen-ladder CDF inversion as ONE expression string: the
    * smallest reference bucket whose cumulative count, cross-
    * multiplied against the window total, reaches the window's
    * cumulative count times the reference total. The ELSE arm is
    * unreachable (cumRef.last = nRef and cume ≤ n make the final WHEN
    * always true) but keeps the CASE total. Plain integer literals —
    * parseable by Spark and any SQL engine alike.
    */
  private[graft] def cdfInvertExpr(cumRef: Seq[Long], cume: String,
      n: String): String = {
    val nRef = cumRef.last
    "CAST(CASE " + cumRef.init.zipWithIndex.map { case (cr, rb) =>
      s"WHEN $cr * $n >= $cume * $nRef THEN $rb "
    }.mkString +
      s"ELSE ${cumRef.size - 1} END AS INTEGER)"
  }

  /** Streaming SRM monitor — [[graft.ops.Validate.srmCheck]]'s live
    * twin: per closed tumbling window, each expected arm's observed
    * count vs its weight share (signed deviation in floor ppm, the
    * cross-multiplied chi-square term as one ROUND(…, 6) double — the
    * q257 arithmetic verbatim), plus the window's unexpected-arm
    * count. A broken splitter shows up in the FIRST window it ships
    * in, not at the end-of-day batch audit. State per open window:
    * |arms|+1 longs (in-row conditional counts).
    *
    * Append mode: |arms| rows per window at watermark close.
    *
    * @return (w_start, arm, n, expected_ppm, observed_ppm, dev_ppm,
    *         chi2_term, n_unexpected)
    */
  def srmStream(events: DataFrame, armCol: String,
      arms: Seq[(String, Long)], size: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame = {
    require(arms.nonEmpty, "need at least one arm")
    require(arms.map(_._1).distinct.size == arms.size, "duplicate arms")
    require(arms.forall(_._2 > 0), "arm weights must be positive")
    val d = arms.map(_._2).sum
    val aggCols = arms.zipWithIndex.map { case ((a, _), i) =>
      sum(when(col("__arm") === a, 1L).otherwise(0L)).as(s"n$i")
    } :+ sum(when(!col("__arm").isin(arms.map(_._1): _*), 1L)
      .otherwise(0L)).as("n_unexpected")
    val counts = events
      .filter(col(armCol).isNotNull)
      .select(col("ts"), col(armCol).cast("string").as("__arm"))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("n_assigned",
        arms.indices.map(i => col(s"n$i")).reduce(_ + _))
    val rows = arms.zipWithIndex.map { case ((a, w), i) =>
      struct(lit(a).as("arm"), col(s"n$i").as("n"),
        expr(s"(${w}L * 1000000) div ${d}L").as("expected_ppm"),
        expr(s"CASE WHEN n_assigned = 0 THEN 0" +
          s" ELSE (n$i * 1000000) div n_assigned END").as("observed_ppm"),
        expr(s"CASE WHEN n_assigned = 0 THEN CAST(0.0 AS DOUBLE) ELSE" +
          s" ROUND(CAST((n$i * ${d}L - ${w}L * n_assigned)" +
          s" * (n$i * ${d}L - ${w}L * n_assigned) AS DOUBLE)" +
          s" / CAST(${w}L * ${d}L * n_assigned AS DOUBLE), 6) END")
          .as("chi2_term"))
    }
    counts.select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("w_start"),
        explode(array(rows: _*)).as("r"), col("n_unexpected"))
      .select(col("w_start"), col("r.arm").as("arm"), col("r.n").as("n"),
        col("r.expected_ppm"),
        col("r.observed_ppm"),
        (col("r.observed_ppm") - col("r.expected_ppm")).as("dev_ppm"),
        col("r.chi2_term"), col("n_unexpected"))
  }

  /** Streaming INTEGRITY fingerprint — [[graft.ops.Validate
    * .auditFingerprint]]'s live twin at tumbling-window granularity:
    * per window, the row count plus XOR and SUM of the shared
    * polynomial row hash over the caller's audit columns. Both folds
    * are commutative/associative, so the closed-window fingerprint is
    * identical to the batch fold over the same rows in ANY arrival
    * order — the at-least-once/duplicate-delivery detector an ingest
    * door runs continuously (a replayed batch shifts n_rows and sum_h
    * but leaves xor_h of the duplicated rows cancelled — the classic
    * dup signature). State per open window: 3 longs.
    *
    * Append mode: one row per window at watermark close.
    *
    * @param cols pre-derived audit columns (cast/derive upstream —
    *             e.g. integer cents, never raw doubles, so the string
    *             serialization is engine-portable)
    * @return (w_start, n_rows, xor_h, sum_h)
    */
  def fingerprintStream(events: DataFrame, cols: Seq[String],
      size: String = "5 minutes", delay: String = "10 minutes"): DataFrame = {
    require(cols.nonEmpty, "need at least one audited column")
    val packed = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0002"))): _*)
    events
      .filter(col("ts").isNotNull)
      .select(col("ts"),
        graft.expressions.TextHashes.poly_hash(packed).as("h"))
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor_h"),
        sum(col("h")).as("sum_h"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("n_rows"), col("xor_h"), col("sum_h"))
  }

  /** Per-SERIES streaming quantile monitor — [[quantileStream]] keyed
    * by a series column (the latency dashboard users actually run is
    * per (endpoint, window), not corpus-global). Same in-row ladder
    * state, now per open (window, series): B longs each, independent
    * of event count — the `histBuildBy` posture taken live. The
    * quantile walk stays a stateless projection over the closed row
    * via the identical batch histogram arithmetic (q192/q203), so
    * every emitted row replays bit-for-bit in the oracle.
    *
    * Append mode: one row per (window, series) at watermark close.
    *
    * @return (w_start, series, n_events, p<q1>, p<q2>, …)
    */
  def quantileStreamBy(events: DataFrame, keyCol: String, lo: Double,
      hi: Double, nBuckets: Int, qs: Seq[Double],
      valueCol: String = "value", size: String = "5 minutes",
      delay: String = "10 minutes"): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 64,
      s"nBuckets must be in [2, 64], got $nBuckets")
    require(lo < hi, s"need lo < hi, got [$lo, $hi]")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      "quantiles must be in (0, 1]")
    val labels = qs.map(q => s"p${math.round(q * 100)}")
    require(labels.distinct == labels,
      s"quantile labels collide after rounding to percent: $labels")
    val e = events
      .filter(col(keyCol).isNotNull)
      .select(col("ts"), col(keyCol).as("series"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("__b",
        expr(graft.ops.Sketches.histBucketExpr(lo, hi, nBuckets)))
    val aggCols = (0 until nBuckets).map(i =>
      sum(when(col("__b") === i, 1L).otherwise(0L)).as(s"n$i"))
    val counts = e.withWatermark("ts", delay)
      .groupBy(window(col("ts"), size), col("series"))
      .agg(aggCols.head, aggCols.tail: _*)
      .withColumn("n", (0 until nBuckets).map(i => col(s"n$i")).reduce(_ + _))
    val ests = qs.zip(labels).map { case (q, l) =>
      expr(graft.ops.Sketches.histLadderQuantileExpr(lo, hi, nBuckets, q))
        .as(l)
    }
    counts.select(
      date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start")
        +: col("series") +: col("n").as("n_events") +: ests: _*)
  }

  def psiDriftStream(events: DataFrame, refCounts: Seq[Long],
      boundaries: Seq[Double], valueCol: String = "value",
      size: String = "5 minutes", delay: String = "10 minutes"): DataFrame = {
    val labels = boundaries.map(b => s"le_$b") :+ "overflow"
    require(refCounts.length == labels.length,
      s"need ${labels.length} reference counts (one per ladder bucket), " +
        s"got ${refCounts.length}")
    val nRef = refCounts.map(_ + 1L)
    val tRef = nRef.sum
    val e = events
      .select(col("ts"), col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .withColumn("__b", expr(graft.ops.Validate.psiBucketExpr(boundaries)))
    val aggCols = labels.zipWithIndex.map { case (l, i) =>
      sum(when(col("__b") === l, 1L).otherwise(0L)).as(s"n$i")
    }
    val counts = e.withWatermark("ts", delay)
      .groupBy(window(col("ts"), size))
      .agg(aggCols.head, aggCols.tail: _*)
    val tCur = labels.indices.map(i => col(s"n$i") + lit(1L)).reduce(_ + _)
    val psi = labels.indices.map(i =>
        expr(graft.ops.Validate.psiTermExprOf(
          s"n$i", "t_cur", nRef(i).toString, tRef.toString)))
      .reduce(_ + _)
    counts.withColumn("t_cur", tCur)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        (col("t_cur") - lit(labels.length.toLong)).as("n_events"),
        col("t_cur"), psi.as("psi_nano"))
  }
}
