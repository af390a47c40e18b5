package graft.lineage

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/**
 * Per-partition lineage + watermarked snapshot store (FIXTURES.md §5; north
 * rule: "resumable from checkpoint with per-partition lineage + metrics").
 *
 * The reference persists its watermark *in the store itself* as
 * `updatesCompleteUntil` metadata triples and resumes at watermark + 1
 * (reference: src/osm/OsmUpdater.cpp:169-236, 356-399;
 * src/osm/OsmDataFetcherQLever.cpp:414-442). Here each applied change
 * sequence commits one snapshot directory:
 *
 *   root/seq=N/<table>/          parquet, range-partitioned by cell
 *   root/seq=N/lineage/          parquet (stage, partition_id, cell_lo,
 *                                cell_hi, row_count, applied_seq)
 *   root/seq=N/_COMMITTED        atomic marker (temp-file + move)
 *
 * Resume = max committed N; a killed job re-runs only uncommitted sequences,
 * never recomputing clean snapshots (idempotent because the change pipeline
 * is deterministic and compaction is last-writer-wins).
 *
 * Because snapshots are range-partitioned on the Z-order `cell` column, each
 * task's rows form a contiguous cell range, so (min, max) per partition is a
 * faithful coverage descriptor — the property CellIndex's Morton layout was
 * chosen for.
 */
class SnapshotStore(val root: String) {

  // Markers/watermark go through the Hadoop FileSystem resolved FROM the
  // root URI — the same filesystem the table parquet uses — so a non-local
  // root (hdfs://, s3a://) works instead of silently never resuming
  // (java.nio on such a root saw no markers, so every run reprocessed all
  // seqs — review finding). Rename is atomic on HDFS/local; on S3 the
  // single-object PUT of the marker is itself atomic.
  private val hconf = new org.apache.hadoop.conf.Configuration()
  private def fs: FileSystem = new Path(root).getFileSystem(hconf)

  private def seqDir(seq: Long) = s"$root/seq=$seq"
  private def marker(seq: Long) = new Path(s"${seqDir(seq)}/_COMMITTED")

  def isCommitted(seq: Long): Boolean = fs.exists(marker(seq))

  /** Highest committed sequence number, if any (the resume watermark). */
  def watermark(): Option[Long] = {
    val p = new Path(root)
    if (!fs.exists(p)) return None
    var max = Option.empty[Long]
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith("seq=")) {
        val seq = name.stripPrefix("seq=").toLong
        if (isCommitted(seq) && max.forall(_ < seq)) max = Some(seq)
      }
    }
    max
  }

  /** Range-partition by cell and write one table + its lineage rows. */
  def writeTable(df: DataFrame, seq: Long, table: String, cellCol: String,
                 partitions: Int): Unit =
    writeRanged(rangePartition(df, cellCol, partitions), seq, table, cellCol)

  /** Range-partition by `cellCol`, materialized ONCE: a second execution
   * would re-sample RangePartitioner bounds (seeded per RDD), so the
   * lineage could describe ranges other than the files written, and the
   * upstream plan would run twice (review finding). */
  private[graft] def rangePartition(df: DataFrame, cellCol: String, partitions: Int): DataFrame =
    df.repartitionByRange(partitions, col(cellCol)).localCheckpoint()

  /** Write a [[rangePartition]]ed frame and its per-partition lineage rows,
   * collected once and written from the driver; returns their row sum.
   * Lineage lands under lineage/stage=<table> with OVERWRITE, so a resumed
   * re-run of an uncommitted seq replaces its own stage's rows instead of
   * appending duplicates (review finding); readers see `stage` as a
   * partition column. */
  private[graft] def writeRanged(parted: DataFrame, seq: Long, table: String,
                                 cellCol: String): Long = {
    parted.write.mode("overwrite").parquet(s"${seqDir(seq)}/$table")
    val ranges = parted
      .groupBy(spark_partition_id().as("partition_id"))
      .agg(
        min(col(cellCol)).as("cell_lo"),
        max(col(cellCol)).as("cell_hi"),
        count(lit(1)).as("row_count"))
      .withColumn("applied_seq", lit(seq))
    val rows = ranges.collect()
    parted.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), ranges.schema)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${seqDir(seq)}/lineage/stage=$table")
    rows.map(_.getAs[Long]("row_count")).sum
  }

  /** A6: per-sequence statistics rows (kind, name, value, applied_seq) from
   * RunStatistics — committed with the snapshot so lineage carries phase
   * timings and counters, not just row counts. */
  def writeStats(stats: DataFrame, seq: Long): Unit =
    stats.write.mode("overwrite").parquet(s"${seqDir(seq)}/stats")

  def readStats(spark: SparkSession, seq: Long): DataFrame =
    spark.read.parquet(s"${seqDir(seq)}/stats")

  /** Atomic commit marker: temp file + rename, so a killed writer never
   * leaves a half-committed sequence looking committed. */
  def commit(seq: Long): Unit = {
    val tmp = new Path(s"${seqDir(seq)}/_COMMITTING")
    fs.mkdirs(new Path(seqDir(seq)))
    val out = fs.create(tmp, true)
    try out.write(s"""{"applied_seq":$seq}""".getBytes("UTF-8"))
    finally out.close()
    fs.delete(marker(seq), false) // re-commit after replay stays renameable
    require(fs.rename(tmp, marker(seq)),
      s"commit marker rename failed for seq=$seq under $root")
  }

  def readTable(spark: SparkSession, seq: Long, table: String): DataFrame =
    spark.read.parquet(s"${seqDir(seq)}/$table")

  def readLineage(spark: SparkSession, seq: Long): DataFrame =
    spark.read.parquet(s"${seqDir(seq)}/lineage")
}

/**
 * The incremental update job: apply change batches seq-by-seq against the
 * node snapshot, recomputing way geometry only for dirty ways — the full
 * OsmChangeHandler::run dataflow (reference: src/osm/OsmChangeHandler.cpp:
 * 60-178) as one resumable Spark pipeline.
 */
object UpdateJob {
  import graft.ops.{ChangeBatch, DeltaApply, GeometryBuild}

  case class RunReport(appliedSeqs: Seq[Long], skippedSeqs: Seq[Long])

  private def emptyRelMembers(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("rel_id", LongType), StructField("member_id", LongType),
        StructField("member_type", StringType), StructField("role", StringType),
        StructField("pos", IntegerType))))
  }

  /** Empty way-membership table for node-only streams (ChangeStream.ingest
   * callers without way data): dependency closure + dirty-way rebuild then
   * run over zero ways through the same shared code path. */
  private[graft] def emptyWayMembers(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("way_id", LongType), StructField("node_id", LongType),
        StructField("pos", IntegerType))))
  }

  /**
   * Apply ONE change sequence on top of `snapshot0` and COMMIT it — the
   * shared per-seq body of the batch [[run]] and the streaming
   * [[graft.streaming.ChangeStream.ingest]], so streaming and batch
   * semantics cannot drift.
   *
   * Each per-seq intermediate is computed once, as a localCheckpoint that
   * every later consumer reads: `classify` materializes the compacted batch
   * (batch counters, closure, MERGE expectations, merge); `closure` the
   * dirty way ids (way rebuild); `merge` the post-merge snapshot with its
   * `cell`, range-partitioned (the node_geoms write, its lineage — whose
   * row sum the MERGE cross-check tests before the commit — the way
   * rebuild's member coordinates, and the next seq's `snapshot0`). Stats
   * are written after the `write` phase closes, so they include it.
   *
   * @param compacted  classified + last-writer-wins-compacted rows of `seq`
   * @param beforeRows row count of `snapshot0`: the previous seq's
   *                   lineage row sum, or the initial snapshot's count
   * @return (post-merge checkpointed snapshot, its lineage row sum)
   */
  private[graft] def applySeq(spark: SparkSession, store: SnapshotStore,
      stats: RunStatistics, seq: Long, compacted: DataFrame,
      snapshot0: DataFrame, wayMembers: DataFrame, beforeRows: Long,
      cellRes: Int, partitions: Int): (DataFrame, Long) = {
    val batch = stats.time("classify") {
      val b = compacted.localCheckpoint()
      stats.countBatch(b)
      b
    }
    val nodeBatch = batch.filter(col("obj_type") === "node")
      .select(col("id"), col("action"), col("lon"), col("lat"))

    // dependency closure against the PRE-merge snapshot: locationDiff
    // must compare incoming coords to the STORED ones — post-merge the
    // just-upserted nodes are self-equal, `moved` is always empty, and
    // ways of moved nodes would never be rebuilt (the reference fetches
    // referencing ways before applying the batch,
    // src/osm/OsmChangeHandler.cpp:96-117)
    val dirtyWays = stats.time("closure")(ChangeBatch.dependencyClosure(
      batch, snapshot0, wayMembers, emptyRelMembers(spark))._1.localCheckpoint())

    // expected MERGE effect — the reference's QLever-reported
    // insert/delete counts, computed store-side here
    val (expDeleted, expUpserted) =
      stats.time("merge_expect")(DeltaApply.mergeMetrics(snapshot0, nodeBatch))
    val merged = stats.time("merge")(store.rangePartition(
      DeltaApply.applyChangeBatch(snapshot0, nodeBatch).select("id", "lon", "lat")
        .withColumn("cell", cell_encode(col("lon"), col("lat"), lit(cellRes))),
      "cell", partitions))

    val afterRows = stats.time("write") {
      // dirty-geometry recompute, scoped to affected ways only; member
      // coords come from the POST-merge snapshot (new locations)
      val dirtyMembers = wayMembers.join(dirtyWays.hint("broadcast"), Seq("way_id"), "left_semi")
      val rebuiltGeoms = GeometryBuild.buildWayGeoms(dirtyMembers, merged, withDerived = false)
        .withColumn("cell", cell_encode(st_x(col("wkt")), st_y(col("wkt")), lit(cellRes)))
      store.writeTable(rebuiltGeoms, seq, "dirty_way_geoms", "cell", partitions)
      store.writeRanged(merged, seq, "node_geoms", "cell")
    }
    stats.crossCheckMerge(seq, beforeRows, afterRows, expDeleted, expUpserted)
    store.writeStats(stats.toDF(seq), seq)
    store.commit(seq)
    (merged.select("id", "lon", "lat"), afterRows)
  }

  /**
   * @param changes   full changes table (seq, eid, obj_type, id, ...)
   * @param nodeGeoms initial node snapshot (id, lon, lat) — used only when
   *                  no committed snapshot exists yet
   */
  def run(spark: SparkSession, store: SnapshotStore, changes: DataFrame,
          nodeGeoms: DataFrame, wayMembers: DataFrame,
          fromSeq: Long, toSeq: Long,
          cellRes: Int = 12, partitions: Int = 8): RunReport = {
    var applied = List.empty[Long]
    var skipped = List.empty[Long]
    var snapshot = store.watermark() match {
      case Some(w) if w >= fromSeq - 1 =>
        store.readTable(spark, w, "node_geoms").select("id", "lon", "lat")
      case _ => nodeGeoms
    }
    val startSeq = math.max(fromSeq, store.watermark().map(_ + 1).getOrElse(fromSeq))
    (fromSeq until startSeq).foreach(s => skipped ::= s)

    // A6 accounting for the whole run (counters, phase timers, MERGE guard)
    val stats = new RunStatistics(spark)
    var beforeRows = stats.time("init")(snapshot.count())
    try {
      var seq = startSeq
      while (seq <= toSeq) {
        val compacted = ChangeBatch.dedupLatestVersion(
          ChangeBatch.classify(changes.filter(col("seq") === seq)))
        val (snap2, afterRows) = applySeq(spark, store, stats, seq, compacted,
          snapshot, wayMembers, beforeRows, cellRes, partitions)
        snapshot = snap2
        beforeRows = afterRows
        applied ::= seq
        seq += 1
      }
    } finally stats.close()
    RunReport(applied.reverse, skipped.reverse)
  }
}
