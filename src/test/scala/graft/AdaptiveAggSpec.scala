package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.RefQueries
import graft.streaming.AdaptiveAgg
import graft.streaming.StreamingParity.PwEvent

/** The adaptive-strategy feedback loop as demonstrated behavior
  * (VERDICT r11 #1): the per-batch cost-model decision must (a) match the
  * reference cost model on planted skewed/uniform batches, (b) actually
  * switch the executed aggregation, (c) ratchet and carry heavy-hitter
  * sets across batches of the same window, and (d) produce identical
  * counts regardless of which plan ran.
  *
  * Planted arithmetic (windows are 1000 ms → ltw = event_time div 1000;
  * m = 12, λ = 0.01, head replication m−2 = 10):
  *
  * UNIFORM batch (window 10): 40 words × 3 events → M=120, K=40, p1=1/40,
  *   every key heavy (3·60 > 120) → head=40, single=0:
  *   costHH = (13.26/40 + 1.02)·10 = 13.515
  *   costAPK = 10 + 0.01·(40 + 400) = 14.4        → HH (0), plain.
  *
  * SKEWED batch (window 20): HOT×100 + 20 singles → M=120, K=21, p1=5/6,
  *   head=1 (only HOT: 100·60 > 120), single=20:
  *   costHH = (13.26·5/6 + 1.02)·10 = 120.7
  *   costAPK = 10 + 0.01·(21 + 10 − 20) = 10.11   → APK (1), salted.
  *
  * FOLLOW-UP batch (window 20 again, uniform 40×3): raw decision is HH
  *   even with the carried head (head=41 → costAPK = 14.5 > 13.515), but
  *   the ratchet keeps the window on APK — the reference's
  *   "strategy priority" (DGrouping.scala:277).
  */
class AdaptiveAggSpec extends SparkSpec {

  private def uniform(ltw: Long, words: Int, each: Int, prefix: String) =
    for (w <- 0 until words; i <- 0 until each)
      yield PwEvent(ltw * 1000 + (w * each + i) % 1000, (w + i) % 3, s"$prefix$w")

  private def skewed(ltw: Long) =
    (0 until 100).map(i => PwEvent(ltw * 1000 + i % 1000, i % 3, "HOT")) ++
      (0 until 20).map(i => PwEvent(ltw * 1000 + i, i % 3, s"u$i"))

  private val uniformBatch = uniform(10, 40, 3, "w")
  private val skewedBatch = skewed(20)
  private val followUpBatch = uniform(20, 40, 3, "v")

  test("per-batch cost-model decision switches the executed plan, ratchets, and keeps counts exact") {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[PwEvent]
    val state = new AdaptiveAgg.ControlState
    val out = mutable.ArrayBuffer.empty[(Long, String, Long, Long, Long)]
    val sink = (df: DataFrame) => {
      out ++= df.collect().map(r => (r.getAs[Long]("ltw"),
        r.getAs[String]("word"), r.getAs[Long]("cnt"),
        r.getAs[Long]("strategy"), r.getAs[Long]("batch_id").toLong))
      ()
    }
    val query = AdaptiveAgg
      .adaptiveWindowedCount(input.toDS(), state, sink).start()
    try {
      input.addData(uniformBatch); query.processAllAvailable()
      input.addData(skewedBatch); query.processAllAvailable()
      input.addData(followUpBatch); query.processAllAvailable()
    } finally query.stop()

    // (a) Decisions match the planted cost-model arithmetic.
    val d = state.decisions.toSeq
    assert(d.map(x => (x.batchId, x.ltw, x.rawStrategy, x.strategy)) ===
      Seq((0L, 10L, 0, 0), (1L, 20L, 1, 1), (2L, 20L, 0, 1)))
    val Seq(d0, d1, d2) = d
    assert((d0.mTotal, d0.kKeys, d0.maxCnt, d0.headNum, d0.singleNum) ===
      ((120L, 40L, 3L, 40L, 0L)))
    assert((d1.mTotal, d1.kKeys, d1.maxCnt, d1.headNum, d1.singleNum) ===
      ((120L, 21L, 100L, 1L, 20L)))
    // Dynamic d per decision (Salting.dynamicD, m=12): uniform batches
    // floor(3·12/120)+1 = 1 → clamp 2; skewed floor(100·12/120)+1 = 11.
    // The follow-up batch re-derives d from ITS OWN increment (the
    // reference updates dTables every batch), so window 20 salts at
    // d=11 in batch 1 and d=2 in batch 2.
    assert(d.map(_.d) === Seq(2, 11, 2))
    // (c) head carry-over: follow-up sees HOT ∪ its own 40 heavy keys,
    // and the ratchet overrides its raw HH decision.
    assert(d2.headNum === 41L)
    assert(state.headSets(20L).contains("HOT"))
    assert(state.strategies === mutable.Map(10L -> 0, 20L -> 1))

    // (b) The executed plan followed the decision: every window-10 row
    // ran plain, every window-20 row (both batches) ran salted.
    assert(out.nonEmpty)
    assert(out.filter(_._1 == 10L).forall(_._4 == 0L))
    assert(out.filter(_._1 == 20L).forall(_._4 == 1L))

    // (d) Counts are exact either way: summing the per-batch emissions
    // per (ltw, word) equals a plain batch groupBy over all input.
    val all = uniformBatch ++ skewedBatch ++ followUpBatch
    val expected = all.groupBy(e => (e.event_time / 1000, e.word))
      .view.mapValues(_.size.toLong).toMap
    val got = out.groupBy(r => (r._1, r._2))
      .view.mapValues(_.map(_._3).sum).toMap
    assert(got === expected)
  }

  test("driver cost model agrees with the gated skewStatsPlan strategy column") {
    val s = spark
    import s.implicits._
    for (batch <- Seq(uniformBatch, skewedBatch, followUpBatch)) {
      val counts = batch.toDF("event_time", "port", "word")
        .withColumn("ltw", expr("event_time div 1000"))
        .groupBy(col("ltw"), col("word").as("z"))
        .agg(count(lit(1)).as("cnt"))
      RefQueries.skewStatsPlan(counts).collect().foreach { r =>
        assert(AdaptiveAgg.decideStrategy(
          r.getAs[Long]("m_total"), r.getAs[Long]("k_keys"),
          r.getAs[Long]("max_cnt"), r.getAs[Long]("head_num"),
          r.getAs[Long]("single_num")) === r.getAs[Long]("strategy").toInt,
          s"row $r")
      }
    }
  }

  /** Runs `batch` as the one micro-batch of a fresh adaptive query;
    * returns the decisions, every emitted (ltw, word, cnt, strategy) row,
    * and the optimized plan of the DataFrame handed to the sink (taken
    * inside the sink, while the batch's counts are still cached).
    */
  private def runBatch(batch: Seq[PwEvent]) = {
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val input = MemoryStream[PwEvent]
    val state = new AdaptiveAgg.ControlState
    val out = mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val plans = mutable.ArrayBuffer.empty[LogicalPlan]
    val sink = (df: DataFrame) => {
      plans += df.queryExecution.optimizedPlan
      out ++= df.collect().map(r => (r.getAs[Long]("ltw"),
        r.getAs[String]("word"), r.getAs[Long]("cnt"), r.getAs[Long]("strategy")))
      ()
    }
    val query = AdaptiveAgg
      .adaptiveWindowedCount(input.toDS(), state, sink).start()
    try { input.addData(batch); query.processAllAvailable() }
    finally query.stop()
    val Seq(plan) = plans.toSeq
    (state.decisions.toSeq, out.toSeq, plan)
  }

  private def readsCachedCounts(p: LogicalPlan): Boolean =
    p.collectFirst { case r: InMemoryRelation => r }.nonEmpty

  private def plansSalt(p: LogicalPlan): Boolean =
    p.collect { case a: Aggregate => a }
      .exists(_.groupingExpressions.exists(_.references.exists(_.name == "salt")))

  test("one batch with a uniform and a skewed window: HH from the cached counts, APK salted, counts exact") {
    val s = spark
    import s.implicits._
    val mixed = uniform(30, 40, 3, "m") ++ skewed(40)
    val (d, out, p) = runBatch(mixed)
    // The two windows carry the planted arithmetic of the class doc.
    assert(d.map(x => (x.ltw, x.rawStrategy, x.strategy, x.d)) ===
      Seq((30L, 0, 0, 2), (40L, 1, 1, 11)))
    assert(out.filter(_._1 == 30L).map(_._4).distinct === Seq(0L))
    assert(out.filter(_._1 == 40L).map(_._4).distinct === Seq(1L))
    val expected = mixed.toDF()
      .groupBy(expr("event_time div 1000").as("ltw"), col("word"))
      .agg(count(lit(1)).as("cnt")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = out.map(r => (r._1, r._2) -> r._3)
    assert(got.size === expected.size, "one row per (window, word)")
    assert(got.toMap === expected)
    // Both parts are in the one plan: the cached counts and the salt.
    assert(readsCachedCounts(p) && plansSalt(p), p.treeString)
  }

  test("an all-HH batch is served from the cached counts and plans no salted aggregation") {
    val (d, out, p) = runBatch(uniformBatch)
    assert(d.map(_.strategy) === Seq(0))
    assert(out.size === 40 && out.forall(r => r._3 == 3L && r._4 == 0L))
    assert(readsCachedCounts(p), s"HH rows must come from the cached counts:\n${p.treeString}")
    assert(!plansSalt(p), s"no salted aggregation for an all-HH batch:\n${p.treeString}")
  }
}
