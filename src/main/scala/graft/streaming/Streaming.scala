package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming slice (SURVEY.md §2.9 / M5).
  *
  * The reference's unbounded execution model (StreamingTableExec —
  * physical-plan/src/streaming.rs:63; StreamTable catalog/src/stream.rs:302)
  * maps to `spark.readStream`; its SymmetricHashJoinExec with interval-based
  * state pruning (joins/symmetric_hash_join.rs:174, doc 100-160) maps to a
  * stream-stream join with an event-time range condition + watermarks —
  * Spark prunes join state exactly the way the reference's cp_solver-driven
  * interval analysis does.
  *
  * Local runs drive a bounded parquet directory through the streaming
  * engine with `processAllAvailable` (micro-batches over the same files a
  * batch query would read), so results are comparable against a batch/SQL
  * oracle.
  */
object Streaming {

  case class Ev(user_id: Long, value: Double)
  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  /** Unbounded view of the events table (nanos ts → µs, like Tables.load).
    * The file stream source requires a directory, so the single fixture file
    * is staged into a scratch dir once. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stage = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_stream_src", dir.replaceAll("[^A-Za-z0-9]", "_"))
    Files.createDirectories(stage)
    Files.copy(Paths.get(s"$dir/events.parquet"), stage.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = graft.Tables.readParquet(spark, s"$dir/events.parquet").schema
    graft.Tables.normalizeEventsTs(
      spark.readStream.schema(schema).parquet(stage.toString))
  }

  /** Tumbling-window aggregation, run to completion over the bounded input;
    * returns the materialized result (memory sink, complete mode). */
  def runTumblingAgg(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("val_sum"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("val_sum"))
    spark.streams.active.filter(_.name == queryName).foreach(_.stop())
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Sliding (overlapping) windows: 1-hour windows every 30 minutes — each
    * event contributes to exactly window/slide = 2 buckets. Spark expands
    * the assignment at the source (no self-join); state per key is bounded
    * by (#open windows × groups). */
  def runSlidingAgg(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("val_sum"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
        col("event_type"), col("n"), col("val_sum"))
    spark.streams.active.filter(_.name == queryName).foreach(_.stop())
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Stream-static enrichment join: the unbounded event stream joined to a
    * bounded dimension table (customer) — the standard "enrich events
    * against a slowly-changing dim" pipeline stage. The static side is
    * planned per micro-batch as an ordinary broadcast-able batch relation;
    * no state store is involved (unlike stream-stream joins), so at scale
    * this costs exactly one broadcast per micro-batch. */
  def runStreamStaticJoin(spark: SparkSession, dir: String,
                          queryName: String): DataFrame = {
    val dim = graft.Tables.readParquet(spark, s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = eventsStream(spark, dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("val_sum"))
    spark.streams.active.filter(_.name == queryName).foreach(_.stop())
    val q = joined.writeStream.outputMode("complete")
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Arbitrary stateful processing with flatMapGroupsWithState — the custom
    * per-key state surface (Spark's answer to hand-rolled streaming
    * operators): count events and accumulate value per user, emitting one
    * update per user per micro-batch run. */
  def runStatefulUserStats(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val events = eventsStream(spark, dir)
      .select(col("user_id"), col("value")).as[Ev]
    def update(user: Long, evs: Iterator[Ev],
        state: GroupState[UserStats]): Iterator[UserStats] = {
      val prev = state.getOption.getOrElse(UserStats(user, 0L, 0.0))
      val batch = evs.toSeq
      val next = UserStats(user, prev.n_events + batch.size,
        prev.total_value + batch.map(_.value).sum)
      state.update(next)
      Iterator.single(next)
    }
    val stats = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
    spark.streams.active.filter(_.name == queryName).foreach(_.stop())
    val q = stats.toDF().writeStream.outputMode("update")
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    // keep the final state per user (several micro-batches may have emitted):
    // n_events is strictly increasing across emissions, so the row with the
    // max count IS the last state — max_by keeps total_value correct even
    // when event values are negative (plain max(total_value) would not).
    val t = spark.table(queryName)
    t.groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max(col("n_events")).as("n_events"),
        expr("max_by(total_value, n_events)").as("total_value"))
  }

  /** Streaming deduplication: dropDuplicatesWithinWatermark on the event
    * key — the bounded-state "dedup at ingest" shape: key state is evicted
    * once the watermark passes it (plain dropDuplicates would hold every
    * key forever). On the bounded fixture (one micro-batch) the result
    * equals batch DISTINCT. */
  def runStreamDedup(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val deduped = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"))
    spark.streams.active.filter(_.name == queryName).foreach(_.stop())
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Session-window aggregation: dynamic gap-merged windows — events of one
    * user within a 30-minute gap merge into one session (an event exactly at
    * the previous session's end starts a new one: merge iff gap < 30 min).
    * The reference's streaming model only has date_bin tumbling; session
    * windows are the shape a clickstream/training-data ingest actually
    * needs, so this exceeds the reference deliberately. */
  def runSessionWindow(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    spark.streams.active.filter(_.name == queryName).foreach(_.stop())
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Stream-stream inner join with event-time range condition + watermarks:
    * views joined to purchases by the same user within [0, 30 min] after
    * the view. State on both sides is pruned by the watermark + range. */
  def runStreamStreamJoin(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val views = eventsStream(spark, dir)
      .where(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"), col("event_id").as("v_id"))
      .withWatermark("v_ts", "1 hour")
    val purchases = eventsStream(spark, dir)
      .where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_value"))
      .withWatermark("p_ts", "1 hour")
    val joined = views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 30 MINUTES"))
    spark.streams.active.filter(_.name == queryName).foreach(_.stop())
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  case class EvFull(user_id: Long, event_type: String, value: Double,
      ts: java.sql.Timestamp)
  case class UserProfile(user_id: Long, n_events: Long, total_value: Double,
      span_ms: Long, n_types: Long)
  // NOT private: a private case class gets a private constructor, which
  // Spark's generated encoder code (janino) cannot invoke — the state
  // encoder then silently falls back to interpreted eval per micro-batch.
  case class ProfileState(n: Long, sum: Double, minMs: Long, maxMs: Long)

  /** Arbitrary stateful processing on the transformWithState API (the
    * successor to flatMapGroupsWithState: typed composite state — here a
    * ValueState profile plus a MapState of seen event types — on the
    * RocksDB state store). Maintains an order-insensitive per-user profile
    * (count, value sum, event-time span in ms, distinct type count), so
    * the result is deterministic regardless of row order within a
    * micro-batch and comparable to a batch GROUP BY oracle. */
  def runTwsUserProfile(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues}
    class ProfileProcessor extends StatefulProcessor[Long, EvFull, UserProfile] {
      @transient private var profile:
        org.apache.spark.sql.streaming.ValueState[ProfileState] = _
      @transient private var types:
        org.apache.spark.sql.streaming.MapState[String, Boolean] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
        profile = getHandle.getValueState[ProfileState]("profile",
          implicitly[org.apache.spark.sql.Encoder[ProfileState]],
          org.apache.spark.sql.streaming.TTLConfig.NONE)
        types = getHandle.getMapState[String, Boolean]("types",
          implicitly[org.apache.spark.sql.Encoder[String]],
          implicitly[org.apache.spark.sql.Encoder[Boolean]],
          org.apache.spark.sql.streaming.TTLConfig.NONE)
      }
      override def handleInputRows(key: Long, rows: Iterator[EvFull],
          timerValues: TimerValues): Iterator[UserProfile] = {
        var st = Option(profile.get()).filter(_ => profile.exists())
          .getOrElse(ProfileState(0L, 0.0, Long.MaxValue, Long.MinValue))
        rows.foreach { e =>
          val ms = e.ts.getTime
          st = ProfileState(st.n + 1, st.sum + e.value,
            math.min(st.minMs, ms), math.max(st.maxMs, ms))
          types.updateValue(e.event_type, true)
        }
        profile.update(st)
        Iterator.single(UserProfile(key, st.n, st.sum, st.maxMs - st.minMs,
          types.keys().size.toLong))
      }
    }
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = eventsStream(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"), col("ts"))
        .as[EvFull]
      val out = events.groupByKey(_.user_id)
        .transformWithState(new ProfileProcessor,
          TimeMode.None(), OutputMode.Update())
      spark.streams.active.filter(_.name == queryName).foreach(_.stop())
      val q = out.toDF().writeStream.outputMode("update")
        .format("memory").queryName(queryName).start()
      q.processAllAvailable()
      q.stop()
      // n_events is strictly increasing across emissions; the max-n row is
      // the final state (same convention as runStatefulUserStats)
      spark.table(queryName).groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          expr("max_by(total_value, n_events)").as("total_value"),
          expr("max_by(span_ms, n_events)").as("span_ms"),
          expr("max_by(n_types, n_events)").as("n_types"))
    } finally prevProvider match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
}

/** Minimal transformWithState processor (per-key running count) used by
  * StreamingSpec's cross-micro-batch state test. */
class CountProcessor extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, Long, (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues}
  @transient private var n: org.apache.spark.sql.streaming.ValueState[Long] = _
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    n = getHandle.getValueState[Long]("n",
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.streaming.TTLConfig.NONE)
  override def handleInputRows(key: Long, rows: Iterator[Long],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    val next = (if (n.exists()) n.get() else 0L) + rows.size
    n.update(next)
    Iterator.single((key, next))
  }
}
