package perfbench

import java.util.concurrent.Executors

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The closed-loop batch workload: one client runs the named
  * `SparkEntry.queries` entries in sorted order, pass after pass, and
  * checks each timed `toRdd.count()` against the oracle's row count.
  */
object Batch {

  /** One timed query: build (the `SparkEntry` call), plan (forcing
    * `executedPlan`) and exec (`toRdd.count()`), wall-clock ms.
    */
  final case class Run(name: String, t0: Long, t1: Long, t2: Long, t3: Long,
      phases: Map[String, (Long, Long)], ok: Boolean)

  final case class Loop(runs: Seq[Run]) {
    def latencies: Array[Double] = runs.map(r => (r.t3 - r.t0).toDouble).toArray
    def failed: Int = runs.count(!_.ok)
    /** One pass over the queries, each at its median time. */
    def suiteSeconds: Double = runs.groupBy(_.name).values
      .map(rs => Stats.median(rs.map(r => (r.t3 - r.t0).toDouble).toArray)).sum / 1e3
  }

  def queries(names: Seq[String]) = names.sorted.map { n =>
    n -> SparkEntry.queries.getOrElse(n, sys.error(s"no SparkEntry query named $n"))
  }

  /** Untimed sweep: runs every query once, `threads` at a time, so
    * codegen, caches and the JIT are warm before timing starts.
    */
  def warm(spark: SparkSession, dataDir: String, names: Seq[String], threads: Int): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      queries(names).map { case (n, f) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try f(spark, dataDir).queryExecution.toRdd.count()
            catch { case NonFatal(e) => System.err.println(s"[perfbench] warm $n failed: $e") }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  /** Whole passes over the queries until `seconds` have elapsed and the
    * samples support the `tailPm` percentile. With `traced`, passes
    * alternate between untraced and traced, so both halves of the loop see
    * the same warm-up; the result is (untraced runs, traced runs).
    */
  def loop(spark: SparkSession, dataDir: String, names: Seq[String],
      expected: Map[String, Long], seconds: Int, tailPm: Int,
      traced: Option[Traced]): (Loop, Loop) = {
    val qs = queries(names)
    val plain, inTrace = mutable.ArrayBuffer.empty[Run]
    def enough(rs: mutable.ArrayBuffer[Run]) = Stats.tailPercentile(rs.size).exists(_ >= tailPm)
    val start = System.currentTimeMillis()
    var pass = 0
    while (System.currentTimeMillis() - start < seconds * 1000L ||
        !enough(plain) || traced.nonEmpty && !enough(inTrace)) {
      traced match {
        case Some(t) if pass % 2 == 1 => inTrace ++= t(tr => runPass(spark, dataDir, qs, expected, pass, Some(tr)))
        case _ => plain ++= runPass(spark, dataDir, qs, expected, pass, None)
      }
      pass += 1
    }
    (Loop(plain.toSeq), Loop(inTrace.toSeq))
  }

  private def runPass(spark: SparkSession, dataDir: String,
      qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)],
      expected: Map[String, Long], pass: Int, tracer: Option[Tracer]): Seq[Run] =
    for ((name, f) <- qs) yield {
      val t0 = System.currentTimeMillis()
      var t1, t2 = t0
      var phases = Map.empty[String, (Long, Long)]
      val ok = try {
        val qe = f(spark, dataDir).queryExecution
        t1 = System.currentTimeMillis()
        qe.executedPlan
        t2 = System.currentTimeMillis()
        val n = qe.toRdd.count()
        phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
        n == expected.getOrElse(name, sys.error(s"no oracle row count for $name"))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          false
      }
      val t3 = System.currentTimeMillis()
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t3
      tracer.foreach { t =>
        val trace = s"$name#$pass"
        t.add(trace, "query", "", t0, t3)
        t.add(trace, "build", "query", t0, t1)
        t.add(trace, "plan", "query", t1, t2)
        t.add(trace, "exec", "query", t2, t3)
        for ((p, (s, e)) <- phases) t.add(trace, p, "plan", s, e)
      }
      Run(name, t0, t1, t2, t3, phases, ok)
    }

  /** Per-layer sums of a traced loop (`operators` and `plan`). */
  def layers(l: Loop, probe: TaskProbe): Map[String, Double] = {
    def phase(k: String) = l.runs.flatMap(_.phases.get(k)).map { case (s, e) => e - s }.sum / 1e3
    Map(
      "operators.build_s_sum" -> l.runs.map(r => r.t1 - r.t0).sum / 1e3,
      "operators.build_jobs" -> probe.jobsWithin(l.runs.map(r => (r.t0, r.t1))).toDouble,
      "plan.analysis_s_sum" -> phase("analysis"),
      "plan.optimization_s_sum" -> phase("optimization"),
      "plan.planning_s_sum" -> phase("planning"),
      "plan.force_s_sum" -> l.runs.map(r => r.t2 - r.t1).sum / 1e3,
      "plan.exec_s_sum" -> l.runs.map(r => r.t3 - r.t2).sum / 1e3)
  }
}
