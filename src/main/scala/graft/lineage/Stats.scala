package graft.lineage

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * A6 statistics / accounting — the Spark re-expression of the reference's
 * StatisticsHandler: ~30 monotonic counters (created/modified/deleted per
 * entity kind), per-phase timers, and the store-reported insert/delete
 * count cross-check treated as a correctness GUARD, not an option
 * (reference: src/osm/StatisticsHandler.cpp:31-250, cross-check :134-152,
 * consumed src/osm/OsmChangeHandler.cpp:414-418).
 *
 * Spark vehicles, chosen to avoid perturbing the measured plans:
 *  - the post-merge row count is the sum of the snapshot's lineage rows
 *    (SnapshotStore.writeRanged), which are collected anyway;
 *  - per-action wall/plan timings come from a QueryExecutionListener
 *    attached for the lifetime of the run, attributed to the phase during
 *    which the action STARTED (an interval log makes this robust to the
 *    listener bus's asynchronous delivery);
 *  - batch composition counters (created/modified/deleted x type) come from
 *    one tiny aggregation per sequence (<= 9 rows);
 *  - the MERGE cross-check asserts `after == before - deleted + upserted`
 *    — the same invariant the reference checks against QLever's reported
 *    counts — and records the four numbers in the lineage stats table.
 *
 * All collected values land in one long-format DataFrame
 * (applied_seq, kind, name, value) written with each snapshot commit, so
 * the north rule's "per-partition lineage + metrics" carries real phase
 * metrics, not just row counts.
 */
final class RunStatistics(spark: SparkSession) {

  // Phase attribution must survive the listener bus's ASYNCHRONOUS delivery:
  // onSuccess often arrives after time()'s finally block has already moved
  // currentPhase on (usually to 'idle'), so reading the mutable field at
  // delivery misattributed actions systematically (review finding). Instead
  // the driver keeps a log of closed phase intervals plus the open one, and
  // each delivered action is attributed to the phase that was live at the
  // action's measured START time (now - durationNs): exact up to listener
  // lag on the END estimate, which is milliseconds against second-scale
  // phases.
  private var currentPhase: String = "init"
  private var phaseStartNs: Long = System.nanoTime()
  private val phaseIntervals = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val phaseMs = mutable.LinkedHashMap.empty[String, Long]
  private val counters = mutable.LinkedHashMap.empty[String, Long]
  private val actionNs = mutable.ArrayBuffer.empty[(String, Long)]

  private def phaseAt(t: Long): String = phaseIntervals.synchronized {
    if (t >= phaseStartNs) currentPhase
    else phaseIntervals.reverseIterator
      .find(iv => t >= iv._2 && t < iv._3).map(_._1).getOrElse("idle")
  }

  private val listener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phase = phaseAt(System.nanoTime() - durationNs)
      actionNs.synchronized { actionNs += ((phase, durationNs)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }
  spark.listenerManager.register(listener)

  def close(): Unit = spark.listenerManager.unregister(listener)

  /** Time a phase (driver wall clock); listener actions whose execution
   * STARTED inside it are attributed to it (see the interval log above). */
  def time[T](phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    phaseIntervals.synchronized { currentPhase = phase; phaseStartNs = t0 }
    try f
    finally {
      val t1 = System.nanoTime()
      phaseIntervals.synchronized {
        phaseIntervals += ((phase, t0, t1))
        currentPhase = "idle"
        phaseStartNs = t1
      }
      phaseMs.updateWith(phase)(v => Some(v.getOrElse(0L) + (t1 - t0) / 1000000))
    }
  }

  def inc(name: String, delta: Long): Unit =
    counters.updateWith(name)(v => Some(v.getOrElse(0L) + delta))

  /** Batch composition counters from one tiny agg (the reference's
   * countCreatedNode/countModifiedWay/... family). */
  def countBatch(classified: DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    classified.groupBy(col("obj_type"), col("action2")).count()
      .collect().foreach { r =>
        inc(s"${r.getString(1)}_${r.getString(0)}s", r.getLong(2))
      }
  }

  /**
   * The exactly-once MERGE guard: `after` must equal
   * `before - deleted + upserted` (DeltaApply.applyChangeBatch's set
   * algebra makes this an identity when nothing was lost or double-applied;
   * the reference warns on the analogous QLever count mismatch, here it
   * throws). The four numbers are recorded per sequence.
   */
  def crossCheckMerge(seq: Long, before: Long, after: Long,
                      deleted: Long, upserted: Long): Unit = {
    inc(s"seq_${seq}_rows_before", before)
    inc(s"seq_${seq}_rows_after", after)
    inc(s"seq_${seq}_rows_deleted", deleted)
    inc(s"seq_${seq}_rows_upserted", upserted)
    require(after == before - deleted + upserted,
      s"MERGE count cross-check failed at seq=$seq: " +
        s"after=$after != before=$before - deleted=$deleted + upserted=$upserted")
  }

  /** Long-format stats rows: (applied_seq, kind, name, value). */
  def toDF(seq: Long): DataFrame = {
    import spark.implicits._
    val phaseRows = phaseMs.toSeq.map { case (p, ms) => ("phase_ms", p, ms) }
    val actionRows = actionNs.synchronized {
      actionNs.groupBy(_._1).map { case (p, xs) =>
        ("action_ns", p, xs.map(_._2).sum)
      }.toSeq
    }
    val counterRows = counters.toSeq.map { case (n, v) => ("counter", n, v) }
    (phaseRows ++ actionRows ++ counterRows)
      .toDF("kind", "name", "value")
      .withColumn("applied_seq", org.apache.spark.sql.functions.lit(seq))
  }
}
