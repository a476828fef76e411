package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.io.Source
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and prints, as its last stdout line, the
  * run's result: `{"correct", "attempted", "failed", "metrics"}` with the
  * end-to-end metrics (untraced) or the per-layer metrics (traced).
  * Workload settings and the session settings come from the config file
  * (`perfbench/workloads.json`); `perfbench/run.py` builds the classpath
  * and adds units.
  *
  * Usage: perfbench.Main --config FILE --workload W --seed N --seconds S
  *   --trace 0|1 --slots K --work DIR --spans FILE
  * or perfbench.Main --dump-oracle FILE --queries q1,q2
  *
  * A traced stream run ends with `baseline.local1_latency_p50_ms`: the
  * warm rungs and the base rung, untraced, in a second session of the same
  * JVM with one task slot.
  */
object Main {

  /** Per-layer metric names every traced run reports (0 where the
    * workload does not run the layer).
    */
  val LayerNames: Seq[String] = Seq(
    "sources.messages", "sources.records", "sources.backlog_max_events",
    "sources.read_lag_ms_p50", "sources.read_lag_ms_max", "sources.gen_late_ms_max",
    "streaming.triggers", "streaming.trigger_ms_p50", "streaming.trigger_ms_p99",
    "streaming.add_batch_ms_sum", "streaming.query_planning_ms_sum",
    "streaming.latest_offset_ms_sum", "streaming.wal_commit_ms_sum",
    "streaming.commit_offsets_ms_sum", "streaming.between_triggers_ms_sum",
    "streaming.watermark_lag_ms_p50", "streaming.sink_ms_sum", "streaming.rows_out",
    "state.rows_total_max", "state.memory_bytes_max", "state.rows_updated_sum",
    "state.rows_removed_sum", "state.commit_ms_sum", "state.updates_ms_sum",
    "state.removals_ms_sum", "state.dropped_by_watermark",
    "adaptive.windows", "adaptive.salted_windows", "adaptive.hh_windows",
    "adaptive.d_mean", "adaptive.driver_state_rows", "adaptive.jobs_per_trigger",
    "operators.build_s_sum", "operators.build_jobs",
    "plan.analysis_s_sum", "plan.optimization_s_sum", "plan.planning_s_sum",
    "plan.force_s_sum", "plan.exec_s_sum",
    "codegen.compiles", "codegen.compile_s_sum", "codegen.bytecode_bytes",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.empty_tasks",
    "sched.task_run_s_sum", "sched.task_cpu_s_sum", "sched.task_deser_s_sum",
    "sched.scheduler_delay_s_sum", "sched.slot_busy_ratio",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s_sum",
    "shuffle.spill_memory_bytes", "shuffle.spill_disk_bytes", "shuffle.task_read_skew_max",
    "scan.input_bytes", "scan.input_rows",
    "cache.persisted_rdds", "cache.memory_bytes", "cache.disk_bytes",
    "jvm.gc_s_sum", "jvm.heap_used_peak_mb", "jvm.rss_peak_mb",
    "trace.overhead_latency_p50_ms", "trace.spans", "trace.latency_samples",
    "baseline.local1_latency_p50_ms")

  final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Double])

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("dump-oracle")) {
      val sql = graft.SparkEntry.oracleSql
      val names = a("queries").split(",").toSeq
      val body = names.map(n => s"${Json.str(n)}:${Json.str(sql(n))}").mkString("{", ",", "}\n")
      Files.write(Paths.get(a("dump-oracle")), body.getBytes(UTF_8))
      return
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val config = new ObjectMapper().readTree(new File(a("config")))
    val w = Option(config.get("workloads").get(a("workload")))
      .getOrElse(sys.error(s"unknown workload ${a("workload")}"))
    val slots = a("slots").toInt
    val trace = a("trace") == "1"
    val stream = w.get("loop").asText == "open"
    def within[T](n: Int, work: String)(body: SparkSession => T): T = {
      val spark = session(n, work, config.get("session"))
      try body(spark) finally spark.stop()
    }
    val o = within(slots, a("work")) { spark =>
      if (stream) runStream(spark, a, w, a("work"), trace, jvmStart, slots, baseline = false)
      else runBatch(spark, a, w, trace, jvmStart, slots)
    }
    val out =
      if (trace && stream) {
        // The one-slot baseline: a session of its own in the same JVM.
        val work = s"${a("work")}/local1"
        val b = within(1, work) { spark =>
          runStream(spark, a, w, work, trace = false, jvmStart, 1, baseline = true)
        }
        Outcome(o.attempted + b.attempted, o.failed + b.failed,
          o.metrics + ("baseline.local1_latency_p50_ms" -> b.metrics("latency_p50_ms")))
      } else o
    val ms = out.metrics.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
    println(s"""{"correct":${out.failed == 0},"attempted":${out.attempted},"failed":${out.failed},""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
  }

  /** The session graft.Bench uses: all slots, shuffle partitions = slots,
    * and the config's fixed settings (AQE on among them), with graft
    * functions registered. Scratch and warehouse files stay inside the
    * run's work directory.
    */
  def session(slots: Int, work: String, settings: JsonNode): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val b = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    settings.properties().asScala.foreach(e => b.config(e.getKey, e.getValue.asText))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark)
    spark
  }

  private def secondsSince(ms: Long): Double = (System.currentTimeMillis() - ms) / 1e3

  /** End-to-end metrics every workload reports under the same names. */
  private def endToEnd(setupS: Double, lat: Array[Double], tailPm: Int, throughput: Double) = {
    require(Stats.tailPercentile(lat.length).exists(_ >= tailPm),
      s"${lat.length} latency samples do not support percentile ${tailPm / 10.0}")
    Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(lat),
      "latency_tail_ms" -> Stats.percentile(lat, tailPm),
      "throughput_per_s" -> throughput)
  }

  private def layerMap(measured: Map[String, Double]): Map[String, Double] = {
    val unknown = measured.keySet -- LayerNames
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(", ")}")
    LayerNames.map(n => n -> measured.getOrElse(n, 0.0)).toMap
  }

  private def tailPm(w: JsonNode): Int = math.round(w.get("tail_percentile").asDouble * 10).toInt

  def runBatch(spark: SparkSession, a: Map[String, String], w: JsonNode, trace: Boolean,
      jvmStart: Long, slots: Int): Outcome = {
    val data = w.get("data").asText
    val names = w.get("queries").asScala.map(_.asText).toSeq
    val expected = Source.fromFile(w.get("manifest").asText, "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t")).map(f => f(0) -> f(1).toLong).toMap
    val seconds = a("seconds").toInt
    val pm = tailPm(w)
    Batch.warm(spark, data, names, slots)
    val setupS = secondsSince(jvmStart)
    if (!trace) {
      val (plain, _) = Batch.loop(spark, data, names, expected, seconds, pm, None)
      Outcome(plain.runs.size, plain.failed,
        endToEnd(setupS, plain.latencies, pm, names.size / plain.suiteSeconds))
    } else {
      val t = new Traced(spark, slots)
      val (plain, loop) = Batch.loop(spark, data, names, expected, seconds, pm, Some(t))
      val layers = t.layers ++ Batch.layers(loop, t.probe)
      t.tracer.write(a("spans"))
      Outcome(plain.runs.size + loop.runs.size, plain.failed + loop.failed,
        layerMap(layers ++ Map(
          "trace.overhead_latency_p50_ms" ->
            (Stats.median(loop.latencies) - Stats.median(plain.latencies)),
          "trace.latency_samples" -> loop.runs.size.toDouble)))
    }
  }

  /** A stream run: one query, and on it untimed warm bursts (in
    * `setup_s`): one second at the base rate, on which the query plans,
    * compiles and opens its state, and, where `warm_events` > 0, a backlog
    * of that many events, which warms the JIT. Then the base rung, fed on
    * its schedule for the measured seconds (latency), and `bursts` backlogs
    * of `burst_events` events (the processing rate: the median over the
    * bursts of events read per second of trigger time). A traced run runs
    * the base rung traced between two untraced ones, so the tracing
    * overhead compares equally warm stretches.
    */
  def runStream(spark: SparkSession, a: Map[String, String], w: JsonNode, work: String,
      trace: Boolean, jvmStart: Long, slots: Int, baseline: Boolean): Outcome = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val baseEps = w.get("base_eps").asInt
    def secondsOf(events: String) = w.get(events).asInt / baseEps
    val pm = tailPm(w)
    val query = new Streams.Query(spark, workload, w.get("trigger_ms").asLong, work)
    def rung(r: Rung, tag: String, tracer: Option[Tracer], burst: Boolean = false) = {
      val res = query.run(r, tag, tracer, burst)
      System.err.println(f"[perfbench] ${secondsSince(jvmStart)}%.1f s $tag ${r.events} events: batches=${res.events.mkString(",")} " +
        f"p50=${if (res.latencies.isEmpty) 0.0 else Stats.median(res.latencies)}%.0f ms " +
        f"samples=${res.latencies.length} failed=${res.failed}/${res.attempted} " +
        f"trigger_ms=${res.triggerMs.mkString(",")} read_lag_ms=${res.lags.mkString(",")}")
      res
    }
    // Rungs run in phase order on one query; each has event times of its own.
    var phase = 0
    def gen(s: Int) = { phase += 1; Streams.generate(workload, seed + phase, baseEps, s, phase) }
    def bursts(tracer: Option[Tracer]) =
      (1 to w.get("bursts").asInt).map(i => rung(gen(secondsOf("burst_events")), s"burst-$i", tracer, burst = true))
    def rate(bs: Seq[Streams.RungResult]) = Stats.median(bs.map(_.processingRate).toArray)
    def outcome(rs: Seq[Streams.RungResult], metrics: Map[String, Double]) =
      Outcome(rs.map(_.attempted).sum, rs.map(_.failed).sum, metrics)

    try {
      // The one-slot baseline runs after the main session in the same JVM,
      // whose JIT is already warm.
      val warm = rung(gen(1), "warm-compile", None, burst = true) +:
        (if (w.get("warm_events").asInt > 0 && !baseline)
          Seq(rung(gen(secondsOf("warm_events")), "warm-jit", None, burst = true))
        else Nil)
      if (baseline) {
        val b = rung(gen(seconds), "base-local", None)
        outcome(warm :+ b, Map("latency_p50_ms" -> Stats.median(b.latencies)))
      } else if (!trace) {
        val setupS = secondsSince(jvmStart)
        val b = rung(gen(seconds), "base", None)
        val bs = bursts(None)
        outcome(warm ++ (b +: bs), endToEnd(setupS, b.latencies, pm, rate(bs)))
      } else {
        val t = new Traced(spark, slots)
        val u1 = rung(gen(seconds), "base-untraced-1", None)
        val tb = t(tr => rung(gen(seconds), "base-traced", Some(tr)))
        val u2 = rung(gen(seconds), "base-untraced-2", None)
        val bs = t(tr => bursts(Some(tr)))
        val common = t.layers
        t.tracer.write(a("spans"))
        val rs = tb +: bs
        outcome(warm ++ Seq(u1, tb, u2) ++ bs, layerMap(common ++ streamLayers(rs) ++ Map(
          "adaptive.jobs_per_trigger" -> common.getOrElse("sched.jobs", 0.0) / rs.map(_.triggers).sum,
          "trace.overhead_latency_p50_ms" ->
            (Stats.median(tb.latencies) - Stats.median(u1.latencies ++ u2.latencies)),
          "trace.latency_samples" -> tb.latencies.length.toDouble)))
      }
    } finally query.stop()
  }

  /** Combines the traced rungs' layer readings: maxima and the driver
    * state size, which the query carries from rung to rung, take the
    * largest; percentiles are taken over every trigger; the rest add up.
    */
  private def streamLayers(rs: Seq[Streams.RungResult]): Map[String, Double] = {
    val keys = rs.flatMap(_.layers.keys).distinct
    val combined = keys.map { k =>
      val vs = rs.flatMap(_.layers.get(k))
      k -> (if (k.contains("_max") || k == "adaptive.driver_state_rows") vs.max else vs.sum)
    }.toMap
    def p(xs: Seq[Double], pm: Int) = if (xs.isEmpty) 0.0 else Stats.percentile(xs.toArray, pm)
    val lags = rs.flatMap(_.lags)
    val trig = rs.flatMap(_.triggerMs)
    val dCount = combined.getOrElse("adaptive.d_count", 0.0)
    combined -- Seq("adaptive.d_sum", "adaptive.d_count") ++ Map(
      "sources.read_lag_ms_p50" -> p(lags, 500),
      "sources.read_lag_ms_max" -> (if (lags.isEmpty) 0.0 else lags.max),
      "streaming.trigger_ms_p50" -> p(trig, 500),
      "streaming.trigger_ms_p99" -> p(trig, 990),
      "streaming.watermark_lag_ms_p50" -> p(rs.flatMap(_.watermarkLags), 500),
      "adaptive.d_mean" -> (if (dCount > 0) combined("adaptive.d_sum") / dCount else 0.0))
  }
}
