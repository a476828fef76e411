package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StateOperatorProgress, StreamingQuery, Trigger}

import graft.sources.KafkaSource
import graft.streaming.{AdaptiveAgg, StreamingParity}
import graft.streaming.StreamingParity.{PwEvent, SlotMs, ZxEvent}

/** The open-loop stream workloads. `stream_group_drift` runs
  * KafkaSource.portWordRecords into AdaptiveAgg.adaptiveWindowedCount;
  * `stream_join_uniform` runs KafkaSource.keyedZxRecords, split into three
  * relations, into StreamingParity.streamStarJoin in append mode. A rung
  * is fed from one generator thread on a fixed schedule, drained, and every
  * emitted row is checked against a batch recomputation over the generated
  * events.
  */
object Streams {

  val DrainTimeoutMs = 60000L
  /** A burst is sent only this long or longer before the next trigger. */
  val BurstMarginMs = 300L

  /** One processed micro-batch: it read ticks (`fromTick`, `toTick`]. */
  final case class Batch(
      id: Long, startMs: Long, durations: Map[String, Long], fromTick: Int,
      toTick: Int, state: Seq[StateOperatorProgress], watermarkMs: Option[Long])

  final case class Sunk(batchId: Long, startMs: Long, endMs: Long, rows: Array[Row])

  /** Per batch, in trigger order: `events` read, `triggerMs` trigger
    * execution time, `lags` read lag at the trigger's start.
    */
  final case class RungResult(
      rate: Int, latencies: Array[Double], attempted: Long, failed: Long,
      layers: Map[String, Double], events: Seq[Long], triggerMs: Seq[Double], lags: Seq[Double],
      watermarkLags: Seq[Double]) {
    def processingRate: Double = Stats.processingRate(events, triggerMs)
    def triggers: Int = events.size
  }

  /** What a rung's emitted rows amount to: latency samples (ms), the
    * expected row count, the rows that were wrong or missing, and the
    * workload's own layer readings.
    */
  private final case class Checked(latencies: Array[Double], expected: Long, failed: Long,
      layers: Map[String, Double])

  private def isoMs(s: String): Long = Instant.parse(s).toEpochMilli

  private def offset(o: String): Long = Option(o).map(_.toLong).getOrElse(-1L)

  def generate(workload: String, seed: Long, rate: Int, seconds: Int, phase: Int): Rung =
    workload match {
      case "stream_group_drift" => Gen.groupDrift(seed, rate, seconds, phase)
      case "stream_join_uniform" => Gen.starJoin(seed, rate, seconds, phase)
    }

  /** One running query of a stream workload. Rungs run on it one after
    * another, each fed, drained and checked before the next starts, so a
    * rung's batches read only its own ticks and the query plans, compiles
    * and opens its state once, before the first rung.
    */
  final class Query(spark: SparkSession, workload: String, triggerMs: Long, workDir: String) {
    require(triggerMs % 1000 == 0, s"trigger interval $triggerMs ms is not whole seconds")
    import spark.implicits._
    private implicit val sqlContext: org.apache.spark.sql.SQLContext = spark.sqlContext
    // One input partition per task slot, as a Kafka topic with that many
    // partitions gives; by default a MemoryStream makes one per send.
    private val input = MemoryStream[WireRow](spark.sparkContext.defaultParallelism)
    private val sunk = new ConcurrentLinkedQueue[Sunk]()
    private val control = new AdaptiveAgg.ControlState
    /** Ticks sent so far: the next rung's tick `t` is offset `sent + t`. */
    private var sent = 0L

    private def sink(df: DataFrame, batchId: Array[Row] => Long): Unit = {
      val t0 = System.currentTimeMillis()
      val rows = df.collect()
      sunk.add(Sunk(batchId(rows), t0, System.currentTimeMillis(), rows))
    }

    private var query: StreamingQuery = _

    private def start(): StreamingQuery = {
      val writer: DataStreamWriter[_] = workload match {
        case "stream_group_drift" =>
          val events = KafkaSource.portWordRecords(input.toDF()).as[PwEvent]
          AdaptiveAgg.adaptiveWindowedCount(events, control,
            sink(_, rows => if (rows.isEmpty) -1L else rows.head.getAs[Long]("batch_id")))
        case "stream_join_uniform" =>
          val parsed = KafkaSource.keyedZxRecords(input.toDF())
          def rel(i: Int): Dataset[ZxEvent] = parsed.where(col("relation") === i)
            .select(col("event_time"), col("z"), col("x")).as[ZxEvent]
          StreamingParity.streamStarJoin(rel(0), rel(1), rel(2)).writeStream
            .outputMode(OutputMode.Append())
            .foreachBatch((df: DataFrame, id: Long) => sink(df, _ => id))
      }
      writer
        .trigger(Trigger.ProcessingTime(triggerMs))
        .option("checkpointLocation", s"$workDir/checkpoint-$workload")
        .queryName(workload)
        .start()
    }

    def stop(): Unit = if (query != null) query.stop()

    /** Feeds `rung` on its schedule, or as a `burst` (all at once: a
      * backlog), waits until the query has read it, and checks and measures
      * what it emitted.
      */
    def run(rung: Rung, tag: String, tracer: Option[Tracer], burst: Boolean = false): RungResult = {
      val first = sent
      val (wallStart, late) =
        if (query == null) {
          // The first rung is a burst sent before the query starts, so the
          // query's first trigger reads it at once.
          require(burst, s"$tag: the first rung of a query must be a burst")
          val t = System.currentTimeMillis()
          val l = feed(rung, t, burst)
          query = start()
          (t, l)
        } else {
          awaitIdle()
          val t =
            if (burst) {
              // A burst lands between two triggers, so one batch reads it all.
              def toNext = triggerMs - System.currentTimeMillis() % triggerMs
              if (toNext < BurstMarginMs) Thread.sleep(toNext + 50)
              System.currentTimeMillis()
            } else {
              // Triggers fire on whole multiples of the interval, a whole
              // number of seconds. Starting the rung half a second before a
              // trigger gives every rung the same batch boundaries, each half
              // a window away from a window boundary.
              val now = System.currentTimeMillis() + 200
              now + Math.floorMod(triggerMs - 500 - now, triggerMs)
            }
          (t, feed(rung, t, burst))
        }
      val lastTick = rung.ticks - 1
      require(drain(first + lastTick), s"$tag: the query did not read the last tick within $DrainTimeoutMs ms")
      val batches = query.recentProgress.toSeq.flatMap { p =>
        val src = p.sources.head
        val from = offset(src.startOffset) - first
        val to = offset(src.endOffset) - first
        if (to > from && to >= 0 && to <= lastTick) Some(Batch(p.batchId, isoMs(p.timestamp),
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, from.toInt, to.toInt,
          p.stateOperators.toSeq, Option(p.eventTime.get("watermark")).map(isoMs)))
        else None
      }
      require(batches.nonEmpty && batches.head.fromTick == -1,
        s"$tag: trigger history does not reach back to the rung's first batch")
      val byId = batches.map(b => b.id -> b).toMap
      val out = Iterator.continually(sunk.poll()).takeWhile(_ != null).toSeq
        .filter(s => byId.contains(s.batchId))
      def dueWall(i: Int): Long = wallStart + rung.dueMs(i)
      val checked = workload match {
        case "stream_group_drift" => checkGroup(rung, out.filter(_.rows.nonEmpty), byId, dueWall, control)
        case "stream_join_uniform" => checkJoin(rung, out, dueWall)
      }
      measure(rung, wallStart, late, batches, out, checked, tracer, tag)
    }

    /** Waits until no trigger is running. */
    private def awaitIdle(): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      while (query.status.isTriggerActive ||
          query.lastProgress == null && !query.status.message.startsWith("Waiting")) {
        if (System.currentTimeMillis() > deadline) sys.error(s"query ${query.name} did not settle")
        Thread.sleep(10)
      }
    }

    /** Sends tick `t` when its last event is due, never waiting on the
      * engine, and returns how late each send ran (ms); a `burst` sends
      * every tick at once. The join stream carries the part (the relation
      * id) as the message key.
      */
    private def feed(rung: Rung, wallStart: Long, burst: Boolean): Array[Long] = {
      val late = new Array[Long](rung.ticks)
      val keyed = workload == "stream_join_uniform"
      val keys = Array.tabulate(Gen.Parts)(p => if (keyed) p.toString.getBytes("UTF-8") else null)
      val first = sent
      val t = new Thread(() => {
        for (i <- 0 until rung.ticks) {
          val due = wallStart + (i + 1L) * Gen.TickMs
          val wait = due - System.currentTimeMillis()
          if (wait > 0 && !burst) Thread.sleep(wait)
          val stamp = new java.sql.Timestamp(rung.timeBase + i.toLong * Gen.TickMs)
          input.addData(rung.messages(i).indices.filter(rung.messages(i)(_) != null).map { p =>
            WireRow(keys(p), rung.messages(i)(p), "perfbench", p, first + i, stamp, 0)
          })
          late(i) = System.currentTimeMillis() - due
        }
      }, "perfbench-generator")
      t.setDaemon(true)
      t.start()
      t.join()
      sent += rung.ticks
      late
    }

    /** Waits until a batch has read up to `last`; false on timeout. */
    private def drain(last: Long): Boolean = {
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      def done = Option(query.lastProgress).exists(p => offset(p.sources.head.endOffset) == last)
      while (!done && query.isActive && System.currentTimeMillis() < deadline) Thread.sleep(5)
      query.exception.foreach(e => throw e)
      done
    }
  }

  /** Newest event (highest index) per (window, word) among events
    * [from, until); keys are `window << 32 | word`.
    */
  def newestByWindowWord(rung: Rung, from: Int, until: Int): mutable.LongMap[Int] = {
    val m = mutable.LongMap.empty[Int]
    var i = from
    while (i < until) {
      m(windowKey(rung.window(i), rung.key(i))) = i
      i += 1
    }
    m
  }

  /** Newest event of a joined row: x is the event index, so the largest
    * of the three.
    */
  def newestOfJoined(xa: Long, xb: Long, xc: Long): Int = math.max(xa, math.max(xb, xc)).toInt

  private def windowKey(window: Long, key: Int): Long = window << 32 | key.toLong

  /** Grouping check: per (ltw, word), the cnt summed over every batch
    * equals the generated count. Latency runs from the due time of the
    * newest event of the row's (ltw, word) in its batch.
    */
  private def checkGroup(rung: Rung, sunk: Seq[Sunk], byId: Map[Long, Batch], dueWall: Int => Long,
      control: AdaptiveAgg.ControlState): Checked = {
    val baseLtw = rung.timeBase / SlotMs
    val lat = mutable.ArrayBuilder.make[Double]
    var failed = 0L
    val emitted = mutable.LongMap.empty[Long]
    for (s <- sunk) {
      val b = byId(s.batchId)
      val newest = newestByWindowWord(rung, rung.tickStart(b.fromTick + 1), rung.tickStart(b.toTick + 1))
      for (r <- s.rows) {
        val k = windowKey(r.getAs[Long]("ltw") - baseLtw, r.getAs[String]("word").drop(1).toInt)
        emitted(k) = emitted.getOrElse(k, 0L) + r.getAs[Long]("cnt")
        newest.get(k) match {
          case Some(i) => lat += (s.endMs - dueWall(i)).toDouble
          case None => failed += 1
        }
      }
    }
    val expected = mutable.LongMap.empty[Long]
    for (i <- 0 until rung.events) {
      val k = windowKey(rung.window(i), rung.key(i))
      expected(k) = expected.getOrElse(k, 0L) + 1
    }
    failed += expected.count { case (k, n) => emitted.getOrElse(k, 0L) != n }
    failed += emitted.keys.count(k => !expected.contains(k))
    // The control state spans the query; this rung's windows are its own.
    val ltws = baseLtw until baseLtw + rung.seconds * 1000L / SlotMs
    val strategies = control.strategies.filter(e => ltws.contains(e._1)).values
    val decisions = control.decisions.filter(d => ltws.contains(d.ltw))
    val salted = decisions.filter(_.strategy == 1)
    Checked(lat.result(), expected.size.toLong, failed, Map(
      "adaptive.windows" -> strategies.size.toDouble,
      "adaptive.salted_windows" -> strategies.count(_ == 1).toDouble,
      "adaptive.hh_windows" -> strategies.count(_ == 0).toDouble,
      "adaptive.d_sum" -> salted.map(_.d.toDouble).sum,
      "adaptive.d_count" -> salted.size.toDouble,
      "adaptive.driver_state_rows" -> (control.strategies.size +
        control.headSets.values.map(_.size).sum + control.decisions.size).toDouble))
  }

  /** Star-join check: the emitted rows equal the batch inner join of the
    * generated rows on (z, ltw). Every emitted row must name one event of
    * each relation with the row's z and window, no row may repeat, and the
    * distinct valid rows must number the join's size. Latency runs from
    * the due time of the newest of the three events.
    */
  private def checkJoin(rung: Rung, sunk: Seq[Sunk], dueWall: Int => Long): Checked = {
    val baseLtw = rung.timeBase / SlotMs
    val lat = mutable.ArrayBuilder.make[Double]
    val seen = mutable.ArrayBuilder.make[Long]
    var failed = 0L
    for (s <- sunk; r <- s.rows) {
      val z = r.getAs[String]("z").drop(1).toInt
      val w = r.getAs[Long]("ltw") - baseLtw
      val xs = Seq("x_a", "x_b", "x_c").map(r.getAs[Long])
      val ok = xs.zipWithIndex.forall { case (x, p) =>
        x >= 0 && x < rung.events && rung.part(x.toInt) == p && rung.key(x.toInt) == z &&
          rung.window(x.toInt) == w
      }
      if (ok) {
        seen += (xs(0) << 42 | xs(1) << 21 | xs(2))
        lat += (s.endMs - dueWall(newestOfJoined(xs(0), xs(1), xs(2)))).toDouble
      } else failed += 1
    }
    val rows = seen.result().sorted
    val distinct = if (rows.isEmpty) 0 else 1 + (1 until rows.length).count(i => rows(i) != rows(i - 1))
    failed += rows.length - distinct
    val per = mutable.LongMap.empty[Array[Long]]
    for (i <- 0 until rung.events)
      per.getOrElseUpdate(windowKey(rung.window(i), rung.key(i)), new Array[Long](Gen.Parts))(rung.part(i)) += 1
    val expected = per.values.map(n => n(0) * n(1) * n(2)).sum
    failed += math.abs(expected - distinct)
    Checked(lat.result(), expected, failed, Map.empty)
  }

  private def measure(rung: Rung, wallStart: Long, late: Array[Long], batches: Seq[Batch],
      sunk: Seq[Sunk], checked: Checked, tracer: Option[Tracer], tag: String): RungResult = {
    def dueWall(i: Int): Long = wallStart + rung.dueMs(i)
    val dropped = batches.flatMap(_.state).map(_.numRowsDroppedByWatermark).sum
    val lags = batches.map(b => (b.startMs - dueWall(rung.tickStart(b.fromTick + 1))).toDouble)
    val trig = batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
    val events = batches.map(b => (rung.tickStart(b.toTick + 1) - rung.tickStart(b.fromTick + 1)).toLong)
    // A rung's first batches may still run on the watermark the previous
    // rung left; the lag counts from this rung's own event times on.
    val wmLags = batches.flatMap(b => b.watermarkMs.filter(_ >= rung.timeBase).map { wm =>
      (rung.timeBase + (b.startMs - wallStart) - wm).toDouble
    })
    def dsum(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    def ssum(f: StateOperatorProgress => Long) = batches.map(_.state.map(f).sum).sum.toDouble
    def smax(f: StateOperatorProgress => Long) = batches.map(_.state.map(f).sum).max.toDouble
    val gaps = batches.sliding(2).collect { case Seq(a, b) =>
      math.max(0L, b.startMs - a.startMs - a.durations.getOrElse("triggerExecution", 0L))
    }.sum.toDouble
    val layers = checked.layers ++ Map(
      "sources.messages" -> rung.messages.map(_.count(_ != null)).sum.toDouble,
      "sources.records" -> rung.events.toDouble,
      "sources.backlog_max_events" -> events.max.toDouble,
      "sources.gen_late_ms_max" -> late.max.toDouble,
      "streaming.triggers" -> batches.size.toDouble,
      "streaming.add_batch_ms_sum" -> dsum("addBatch"),
      "streaming.query_planning_ms_sum" -> dsum("queryPlanning"),
      "streaming.latest_offset_ms_sum" -> dsum("latestOffset"),
      "streaming.wal_commit_ms_sum" -> dsum("walCommit"),
      "streaming.commit_offsets_ms_sum" -> dsum("commitOffsets"),
      "streaming.between_triggers_ms_sum" -> gaps,
      "streaming.sink_ms_sum" -> sunk.map(s => s.endMs - s.startMs).sum.toDouble,
      "streaming.rows_out" -> sunk.map(_.rows.length.toLong).sum.toDouble,
      "state.rows_total_max" -> smax(_.numRowsTotal),
      "state.memory_bytes_max" -> smax(_.memoryUsedBytes),
      "state.rows_updated_sum" -> ssum(_.numRowsUpdated),
      "state.rows_removed_sum" -> ssum(_.numRowsRemoved),
      "state.commit_ms_sum" -> ssum(_.commitTimeMs),
      "state.updates_ms_sum" -> ssum(_.allUpdatesTimeMs),
      "state.removals_ms_sum" -> ssum(_.allRemovalsTimeMs),
      "state.dropped_by_watermark" -> dropped.toDouble)
    tracer.foreach { t =>
      // Trigger phases in MicroBatchExecution order; progress gives only
      // their durations, so each starts where the previous one ended.
      val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      for (b <- batches) {
        val trace = s"$tag/batch-${b.id}"
        t.add(trace, "trigger", "", b.startMs, b.startMs + b.durations.getOrElse("triggerExecution", 0L))
        var at = b.startMs
        for (p <- phases; d <- b.durations.get(p)) {
          t.add(trace, p, "trigger", at, at + d)
          at += d
        }
      }
      for (s <- sunk) t.add(s"$tag/batch-${s.batchId}", "sink", "addBatch", s.startMs, s.endMs)
    }
    RungResult(rung.rate, checked.latencies, checked.expected + dropped, checked.failed + dropped,
      layers, events, trig, lags, wmLags)
  }
}
