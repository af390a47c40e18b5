package graft.lineage

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSparkSession
import graft.ops.ChangeBatch

/**
 * North-rule resumability: kill + resume from the last committed snapshot
 * using per-partition lineage, without recomputing clean sequences.
 */
class CheckpointSpec extends AnyFunSuite {
  lazy val spark = GraftSparkSession.spark
  import spark.implicits._

  def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  /** change batches seq 0..3: each seq moves node (seq+1) and deletes node (seq+10). */
  def changes = (0L to 3L).flatMap { s =>
    Seq(
      (s, s * 10 + 1, "node", s + 1, 2, 0, "modify", ts(s), s + 0.5, s + 0.5),
      (s, s * 10 + 2, "node", s + 10, 2, 1, "delete", ts(s), 0.0, 0.0))
  }.toDF("seq", "eid", "obj_type", "id", "version", "deleted", "action", "ts", "lon", "lat")

  def nodeGeoms = (1L to 20L).map(i => (i, i / 10.0, i / 20.0)).toDF("id", "lon", "lat")
  def wayMembers = Seq((100L, 1L, 1), (100L, 2L, 2), (101L, 15L, 1), (101L, 16L, 2))
    .toDF("way_id", "node_id", "pos")

  test("watermark commits atomically; resume skips committed sequences") {
    val root = Files.createTempDirectory("graft-ckpt").toString
    val store = new SnapshotStore(root)
    assert(store.watermark().isEmpty)

    val r1 = UpdateJob.run(spark, store, changes, nodeGeoms, wayMembers, 0, 1)
    assert(r1.appliedSeqs === Seq(0L, 1L) && r1.skippedSeqs.isEmpty)
    assert(store.watermark() === Some(1L))

    // "killed and restarted": a fresh store over the same root resumes at 2
    val store2 = new SnapshotStore(root)
    val r2 = UpdateJob.run(spark, store2, changes, nodeGeoms, wayMembers, 0, 3)
    assert(r2.skippedSeqs === Seq(0L, 1L))
    assert(r2.appliedSeqs === Seq(2L, 3L))
    assert(store2.watermark() === Some(3L))

    // resumed final state == from-scratch final state (deterministic replay)
    val scratchRoot = Files.createTempDirectory("graft-ckpt2").toString
    val scratch = new SnapshotStore(scratchRoot)
    UpdateJob.run(spark, scratch, changes, nodeGeoms, wayMembers, 0, 3)
    val resumed = store2.readTable(spark, 3, "node_geoms")
      .select("id", "lon", "lat").as[(Long, Double, Double)].collect().toSet
    val fromScratch = scratch.readTable(spark, 3, "node_geoms")
      .select("id", "lon", "lat").as[(Long, Double, Double)].collect().toSet
    assert(resumed === fromScratch)
    // deletes applied: nodes 10..13 gone; moved nodes present at new locations
    assert(!resumed.exists(_._1 == 10L))
    assert(resumed.contains((1L, 0.5, 0.5)))

    // the MOVED node dirties its referencing way: seq 0 moved node 1, way 100
    // references it, so dirty_way_geoms(0) must rebuild way 100 with the NEW
    // coordinate. (Regression guard: the closure must run against the
    // PRE-merge snapshot — post-merge, locationDiff is self-comparison,
    // `moved` is always empty, and this rebuild never happens.)
    val dirty0 = scratch.readTable(spark, 0, "dirty_way_geoms")
      .select("way_id", "wkt").as[(Long, String)].collect().toMap
    assert(dirty0.contains(100L), s"way 100 not rebuilt at seq 0: $dirty0")
    assert(dirty0(100L).contains("0.5000000 0.5000000"),
      s"way 100 rebuilt with stale coords: ${dirty0(100L)}")
  }

  test("lineage records contiguous cell ranges and true row counts") {
    val root = Files.createTempDirectory("graft-lineage").toString
    val store = new SnapshotStore(root)
    UpdateJob.run(spark, store, changes, nodeGeoms, wayMembers, 0, 0, partitions = 4)
    val lineage = store.readLineage(spark, 0)
      .filter($"stage" === "node_geoms")
      .select("partition_id", "cell_lo", "cell_hi", "row_count")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._2)
    val total = store.readTable(spark, 0, "node_geoms").count()
    assert(lineage.map(_._4).sum === total)
    // range partitioning on cell => per-partition [lo, hi] are non-overlapping
    lineage.sliding(2).foreach {
      case Array(a, b) => assert(a._3 <= b._2, s"overlap: $a vs $b")
      case _ =>
    }
    assert(lineage.forall { case (_, lo, hi, n) => lo <= hi && n > 0 })
  }

  test("A6: committed stats carry phase timings, batch counters and the MERGE cross-check") {
    val root = Files.createTempDirectory("graft-stats").toString
    val store = new SnapshotStore(root)
    UpdateJob.run(spark, store, changes, nodeGeoms, wayMembers, 0, 1)
    val stats = store.readStats(spark, 1)
      .select("kind", "name", "value").as[(String, String, Long)].collect()
    val kinds = stats.map(_._1).toSet
    assert(kinds.contains("phase_ms") && kinds.contains("counter"))
    // phases actually timed
    val phases = stats.filter(_._1 == "phase_ms").map(_._2).toSet
    assert(Set("merge", "write", "classify").subsetOf(phases))
    // batch composition counters: each seq modifies 1 node + deletes 1 node
    val c = stats.filter(_._1 == "counter").map(t => t._2 -> t._3).toMap
    assert(c.get("modify_nodes").contains(2L)) // seq 0 + seq 1
    assert(c.get("delete_nodes").contains(2L))
    // cross-check numbers recorded and consistent: after = before - del + ups
    for (s <- Seq(0L, 1L)) {
      val before = c(s"seq_${s}_rows_before"); val after = c(s"seq_${s}_rows_after")
      val del = c(s"seq_${s}_rows_deleted"); val ups = c(s"seq_${s}_rows_upserted")
      assert(after === before - del + ups)
    }
    // listener captured at least one action timing
    assert(stats.exists(_._1 == "action_ns"))
  }

  test("a seq's committed stats hold its own write phase and the closure's execution") {
    val root = Files.createTempDirectory("graft-stats-own").toString
    val store = new SnapshotStore(root)
    UpdateJob.run(spark, store, changes, nodeGeoms, wayMembers, 0, 0)
    val stats = store.readStats(spark, 0)
      .select("kind", "name").as[(String, String)].collect().toSet
    assert(stats.contains(("phase_ms", "write")), s"no write phase in seq 0: $stats")
    assert(stats.contains(("phase_ms", "closure")))
    // the closure is materialized inside its own phase, so an action
    // started there; a lazily built closure would run later, in `write`
    assert(stats.contains(("action_ns", "closure")), s"closure ran outside its phase: $stats")
  }

  test("a wrong beforeRows fails the MERGE cross-check before the commit") {
    val root = Files.createTempDirectory("graft-guard").toString
    val store = new SnapshotStore(root)
    UpdateJob.run(spark, store, changes, nodeGeoms, wayMembers, 0, 0)
    val snapshot = store.readTable(spark, 0, "node_geoms").select("id", "lon", "lat")
    val compacted = ChangeBatch.dedupLatestVersion(
      ChangeBatch.classify(changes.filter($"seq" === 1L)))
    val stats = new RunStatistics(spark)
    val e = try intercept[IllegalArgumentException] {
      UpdateJob.applySeq(spark, store, stats, 1L, compacted, snapshot, wayMembers,
        beforeRows = snapshot.count() + 1, cellRes = 12, partitions = 8)
    } finally stats.close()
    assert(e.getMessage.contains("MERGE count cross-check failed at seq=1"), e.getMessage)
    assert(!store.isCommitted(1L))
    assert(store.watermark() === Some(0L))
  }

  test("a seq that dirties no way still writes dirty_way_geoms and its lineage") {
    val root = Files.createTempDirectory("graft-empty").toString
    val store = new SnapshotStore(root)
    // seq 2 moves node 3 and deletes node 12; no way references either
    UpdateJob.run(spark, store, changes, nodeGeoms, wayMembers, 2, 2)
    assert(store.readTable(spark, 2, "dirty_way_geoms").count() === 0L)
    val lineage = store.readLineage(spark, 2)
    assert(lineage.filter($"stage" === "dirty_way_geoms").count() === 0L)
    assert(lineage.filter($"stage" === "node_geoms").count() > 0L)
    def stageSchema(stage: String) =
      spark.read.parquet(s"$root/seq=2/lineage/stage=$stage").schema
    assert(stageSchema("dirty_way_geoms") === stageSchema("node_geoms"))
    assert(stageSchema("dirty_way_geoms").fieldNames.toSeq ===
      Seq("partition_id", "cell_lo", "cell_hi", "row_count", "applied_seq"))
  }

  test("uncommitted sequence directory is not treated as a watermark") {
    val root = Files.createTempDirectory("graft-uncommitted").toString
    val store = new SnapshotStore(root)
    UpdateJob.run(spark, store, changes, nodeGeoms, wayMembers, 0, 0)
    // simulate a crash mid-write of seq 1: directory exists, no marker
    Files.createDirectories(java.nio.file.Paths.get(s"$root/seq=1/node_geoms"))
    assert(store.watermark() === Some(0L))
    val r = UpdateJob.run(spark, store, changes, nodeGeoms, wayMembers, 0, 1)
    assert(r.appliedSeqs === Seq(1L)) // seq 1 re-runs, seq 0 does not
  }
}
