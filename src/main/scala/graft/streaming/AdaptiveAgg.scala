package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

import graft.operators.{RefQueries, Salting}
import graft.streaming.StreamingParity.PwEvent

/** The reference's adaptive-partitioning feedback loop as BEHAVIOR
  * (SURVEY.md §2.6 T7 + §2.7 C1/C2): every micro-batch the driver
  * evaluates the per-window cost model
  *
  *   costHH  = (13.26·p1 + 1.02)·M/m                         (HH, id 0)
  *   costAPK = M/m + λ·(K + head·(m−2) − single)             (APK, id 1)
  *
  * (one-group-state/src/main/scala/cluster/DGrouping.scala:51-70, m = 12,
  * λ = 0.01) and the chosen strategy actually SWITCHES the executed
  * aggregation for that window's rows in that batch: plain two-phase
  * groupBy for HH, salted two-stage (Salting.scala's d-replica split,
  * the PKG/APK analogue) for APK — with the replica count d re-derived
  * per window per batch from the measured skew via the reference's
  * dynamic-d formula ([[graft.operators.Salting.dynamicD]], T4).
  *
  * The reference's feedback details are reproduced (DGrouping.scala:
  * 214-288):
  *   - decisions are PER WINDOW (etw-keyed), evaluated on each batch's
  *     incremental load (the reference uses `mm − oldM`; a micro-batch's
  *     own stats are exactly that increment);
  *   - heavy-hitter sets CARRY OVER — a window's previously-observed
  *     heads union into the new batch's head set before the decision
  *     ("heavy hitter priority", :269-274);
  *   - the strategy RATCHETS — `max(newDecision, oldStrategy)` — once a
  *     window has gone APK it never reverts (:277).
  *
  * Where the reference re-broadcast the decision map to its partitioners
  * via BroadcastWrapper (C1) and executor-singleton side tables (C2),
  * Structured Streaming's foreachBatch hands the driver the batch as a
  * DataFrame, so the decision feeds the NEXT plan directly — driver
  * state here is a plain map ([[ControlState]]), and the per-batch
  * decisions enter the plan as |windows|-entry literals (no decision
  * table to broadcast, so no broadcast job per batch).
  *
  * Scale shape: the driver receives |windows| stat rows, each carrying at
  * most 59 heavy keys, in one collect (the share > 1/60 threshold bounds
  * the set size — same argument as heavyHitterBatchStats); the batch's
  * data rows never leave the executors. The stats come from
  * [[RefQueries.skewStatsPlan]] — the SAME plan the gated q3_skew_stats
  * query is oracle-checked against — so the streaming decision and the
  * batch-gated decision cannot drift.
  */
object AdaptiveAgg {

  /** Reference worker count m (DGrouping.scala:51-70; stream.json:6),
    * read through the typed config (S5) so a deployment overriding
    * `spark.graft.numMappers` moves the cost model with it. λ is a code
    * constant in the reference (DGrouping.scala:64), not config.
    */
  val NumWorkers: Int = graft.EngineConfig.default.numMappers
  val Lambda: Double = 0.01

  /** One per-window decision record: the cost-model inputs, the raw
    * cost-model output for THIS batch's increment, the ratcheted
    * strategy that was actually executed (0 = plain/HH, 1 = salted/APK),
    * and the salt replica count `d` used when salted — the reference's
    * dynamic-d formula over this batch's measured skew
    * ([[graft.operators.Salting.dynamicD]]; the reference re-derives d
    * every batch too, PartialKeyDynamicConfig.updateDTables).
    */
  case class WindowDecision(
      batchId: Long, ltw: Long, mTotal: Long, kKeys: Long, maxCnt: Long,
      headNum: Long, singleNum: Long, rawStrategy: Int, strategy: Int,
      d: Int)

  /** Driver-side feedback state — the BroadcastWrapper analogue. One
    * instance per query; foreachBatch bodies run serially per query, so
    * plain mutable maps suffice.
    */
  final class ControlState {
    val strategies = mutable.Map.empty[Long, Int]
    val headSets = mutable.Map.empty[Long, Set[String]]
    val decisions = mutable.ArrayBuffer.empty[WindowDecision]
  }

  /** Scala mirror of skewStatsPlan's strategy column (same constants,
    * same expression shape) — needed driver-side because the head-set
    * carry-over changes `headNum` after the plan has run.
    * KernelParitySpec-style agreement with the column is asserted by
    * AdaptiveAggSpec on carry-over-free batches.
    */
  def costHH(mTotal: Long, maxCnt: Long): Double =
    (13.26 * (maxCnt.toDouble / mTotal) + 1.02) * mTotal / NumWorkers.toDouble

  def costAPK(mTotal: Long, kKeys: Long, headNum: Long, singleNum: Long): Double =
    mTotal / NumWorkers.toDouble +
      Lambda * (kKeys + headNum * (NumWorkers - 2) - singleNum)

  def decideStrategy(mTotal: Long, kKeys: Long, maxCnt: Long,
      headNum: Long, singleNum: Long): Int =
    if (costHH(mTotal, maxCnt) <= costAPK(mTotal, kKeys, headNum, singleNum)) 0
    else 1

  /** The adaptive per-batch windowed count. Each batch:
    *   1. per-(window, word) counts, persisted — the one plain
    *      aggregation over the batch's raw rows;
    *   2. skewStatsPlan over the counts, with each window's heavy keys as
    *      one more aggregate column → |windows| rows in ONE collect;
    *   3. per-window decision: merge carried heads, re-evaluate, ratchet;
    *   4. execute — strategy-0 (HH) windows are the cached counts,
    *      filtered to those windows (no shuffle); only when some window
    *      is strategy 1 is the salted two-stage aggregation planned, over
    *      that window's raw rows with its own d; the two parts union,
    *      tagged with the strategy and batch id;
    *   5. hand the result DataFrame to `sink` (a real writer in
    *      production; the spec collects).
    */
  def adaptiveWindowedCount(
      events: Dataset[PwEvent],
      state: ControlState,
      sink: DataFrame => Unit,
      slotMs: Long = StreamingParity.SlotMs): DataStreamWriter[PwEvent] = {
    events.writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[PwEvent], batchId: Long) =>
        val withLtw = batch.toDF()
          .withColumn("ltw", expr(s"event_time div $slotMs"))
        val counts = withLtw
          .groupBy(col("ltw"), col("word").as("z"))
          .agg(count(lit(1)).as("cnt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // One collect: the stats plus each window's heavy keys (share
          // > 1/60, so at most 59 per window) as one more aggregate.
          val stats = RefQueries.skewStatsPlan(counts, Seq(
            collect_list(when(col("cnt") * 60 > col("total"), col("z")))
              .as("heavy"))).collect()
          val decisions = stats.map { r: Row =>
            val ltw = r.getAs[Long]("ltw")
            val mTotal = r.getAs[Long]("m_total")
            val kKeys = r.getAs[Long]("k_keys")
            val maxCnt = r.getAs[Long]("max_cnt")
            val singleNum = r.getAs[Long]("single_num")
            val mergedHeads = state.headSets.getOrElse(ltw, Set.empty) ++
              r.getAs[scala.collection.Seq[String]]("heavy")
            val raw = decideStrategy(mTotal, kKeys, maxCnt,
              mergedHeads.size.toLong, singleNum)
            val ratcheted = math.max(raw, state.strategies.getOrElse(ltw, 0))
            state.strategies(ltw) = ratcheted
            state.headSets(ltw) = mergedHeads
            WindowDecision(batchId, ltw, mTotal, kKeys, maxCnt,
              mergedHeads.size.toLong, singleNum, raw, ratcheted,
              Salting.dynamicD(maxCnt, mTotal, NumWorkers))
          }
          state.decisions ++= decisions
          val (hh, apk) = decisions.toSeq.partition(_.strategy == 0)
          // HH windows are the plain aggregation `counts` already holds:
          // read them from the cache, no second pass over the raw rows.
          val plain = counts
            .where(array_contains(typedLit(hh.map(_.ltw)), col("ltw")))
            .select(col("ltw"), col("z").as("word"), col("cnt"),
              lit(0L).as("strategy"))
          // Strategy-1 windows salt by THEIR OWN measured-skew d (the
          // dynamic-d policy): a heavily-skewed window spreads over more
          // replicas than a mildly-skewed one in the same batch.
          val result = if (apk.isEmpty) plain else {
            val d = element_at(typedLit(apk.map(x => x.ltw -> x.d.toLong).toMap),
              col("ltw"))
            val salted = withLtw.where(d.isNotNull)
              .withColumn("salt", pmod(col("event_time") + col("port"), d))
              .groupBy("ltw", "word", "salt")
              .agg(count(lit(1)).as("pcnt"))
              .groupBy("ltw", "word")
              .agg(sum("pcnt").as("cnt"))
            plain.unionByName(salted.withColumn("strategy", lit(1L)))
          }
          sink(result.withColumn("batch_id", lit(batchId)))
        } finally {
          counts.unpersist()
          ()
        }
      }
  }
}
