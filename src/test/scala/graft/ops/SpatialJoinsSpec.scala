package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSparkSession

class SpatialJoinsSpec extends AnyFunSuite {
  lazy val spark = GraftSparkSession.spark
  import spark.implicits._

  test("pipJoin matches brute-force containment on a rectangle mix") {
    val pts = (0 until 400).map { i =>
      (i.toLong, (i * 7919 % 2000) / 10.0 - 100.0, (i * 104729 % 1000) / 10.0 - 50.0)
    }
    val points = pts.toDF("pid", "lon", "lat")
    val rects = Seq( // (poly_id, x0, y0, x1, y1)
      (1L, -50.0, -20.0, -30.0, 5.0), (2L, 0.0, 0.0, 40.0, 30.0), (3L, 80.0, -45.0, 99.0, 45.0))
    val polys = rects.map { case (id, x0, y0, x1, y1) =>
      (id, s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))")
    }.toDF("poly_id", "wkt")
    val got = SpatialJoins.pipJoin(points, polys)
      .select("pid", "poly_id").as[(Long, Long)].collect().toSet
    val want = (for {
      (pid, lon, lat) <- pts
      (id, x0, y0, x1, y1) <- rects
      if lon >= x0 && lon <= x1 && lat >= y0 && lat <= y1
    } yield (pid, id)).toSet
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("knnJoin is exact vs Scala brute force (incl. residual fallback)") {
    val spread = (0 until 300).map { i =>
      (i.toLong, (i * 31 % 360) - 180.0 + i * 1e-4, (i * 57 % 170) - 85.0 + i * 1e-4)
    }
    // k above the target count, and no query has a target in its rings:
    // every query has no proof row and must still reach the brute backstop
    val few = Seq((0L, 100.0, -30.0), (1L, 100.5, -30.5), (2L, 101.0, -29.0))
    val queries = Seq((1L, 0.5, 0.5), (2L, -179.9, -84.9), (3L, 10.0, 40.0))
    Seq((spread, 4), (few, 5)).foreach { case (targets, k) =>
      val got = SpatialJoins.knnJoin(queries.toDF("qid", "qlon", "qlat"),
          targets.toDF("pid", "lon", "lat"), k = k)
        .select("qid", "pid", "rank").as[(Long, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
      queries.foreach { case (qid, qlon, qlat) =>
        val want = targets.sortBy { case (pid, lon, lat) =>
          (math.sqrt((lon - qlon) * (lon - qlon) + (lat - qlat) * (lat - qlat)), pid)
        }.take(k).map(_._1)
        assert(got(qid) === want, s"k=$k qid=$qid")
      }
    }
  }

  test("knnJoin deep co-located stack (forces the gated dedup path) stays exact") {
    // 200 points stacked on ONE coordinate: finest-cell occupancy 200 >
    // proofFactor*k = 32*3 = 96, so prepareKnnTargets takes the stack-dedup
    // branch (the occupancy gate added after r02 skips it for shallow
    // stacks); top-k at the stack must be the k smallest pids regardless
    val stacked = (0 until 200).map(i => (500L + i, 3.0, 3.0)) ++
      (0 until 100).map(i => (i.toLong, (i % 10) - 5.0, (i % 7) - 3.5))
    val targets = stacked.toDF("pid", "lon", "lat")
    val queries = Seq((1L, 3.0, 3.0)).toDF("qid", "qlon", "qlat")
    val got = SpatialJoins.knnJoin(queries, targets, k = 3)
      .select("pid", "rank").as[(Long, Long)].collect().sortBy(_._2).map(_._1)
    assert(got.toSeq === Seq(500L, 501L, 502L))
  }

  test("tileHistogram (salted two-phase) equals plain groupBy count") {
    val points = (0 until 1000).map(i => (i.toLong, (i % 100) / 10.0, (i % 50) / 10.0))
      .toDF("pid", "lon", "lat")
    val salted = SpatialJoins.tileHistogram(points, z = 6)
      .as[(Long, Long)].collect().toMap
    val plain = SpatialJoins.tileAssign(points, z = 6)
      .groupBy("tile_id").count().as[(Long, Long)].collect().toMap
    assert(salted === plain)
  }

  test("tileCoverJoin matches brute-force tile-range cover; WKT overload agrees") {
    val z = 6
    val n = 1L << z
    val boxesRaw = Seq( // (gid, xmin, ymin, xmax, ymax) incl. a clamped edge box
      (1L, -10.0, -5.0, 12.0, 3.0), (2L, 170.0, 80.0, 200.0, 95.0),
      (3L, 0.1, 0.1, 0.2, 0.2))
    val boxes = boxesRaw.toDF("gid", "xmin", "ymin", "xmax", "ymax")
    def tx(v: Double) = math.min(n - 1, math.max(0L, math.floor((v + 180.0) / 360.0 * n).toLong))
    def ty(v: Double) = math.min(n - 1, math.max(0L, math.floor((v + 90.0) / 180.0 * n).toLong))
    val allTiles = (for {
      (gid, x0, y0, x1, y1) <- boxesRaw
      x <- tx(x0) to tx(x1); y <- ty(y0) to ty(y1)
    } yield (gid, x * n + y)).toSet
    // inventory = every other covered tile, so the join filters some out
    val inv = allTiles.map(_._2).toSeq.sorted.zipWithIndex
      .collect { case (t, i) if i % 2 == 0 => t }
    val tiles = inv.toDF("tile_id")
    val got = SpatialJoins.tileCoverJoin(boxes, tiles, z)
      .select("gid", "tile_id").as[(Long, Long)].collect().toSet
    assert(got === allTiles.filter(p => inv.contains(p._2)))
    assert(got.nonEmpty)
    // WKT overload: rectangles rendered as POLYGON rings give the same pairs
    val geoms = boxesRaw.map { case (gid, x0, y0, x1, y1) =>
      (gid, s"POLYGON(($x0 $y0,$x1 $y0,$x1 $y1,$x0 $y1,$x0 $y0))")
    }.toDF("gid", "wkt")
    val gotWkt = SpatialJoins.tileCoverJoinWkt(geoms, tiles, z)
      .select("gid", "tile_id").as[(Long, Long)].collect().toSet
    assert(gotWkt === got)
  }

  test("dirtyTileReassign emits only moved nodes whose tile changes") {
    val snap = Seq((1L, 0.0, 0.0), (2L, 10.0, 10.0), (3L, 20.0, 20.0))
      .toDF("id", "lon", "lat")
    val batch = Seq(
      (1L, 0.0, 0.0),     // unmoved -> dropped
      (2L, 10.1, 10.1),   // moved within one z=6 tile (5.6x2.8 deg) -> dropped
      (3L, -20.0, -20.0), // moved across tiles -> kept
      (4L, 5.0, 5.0))     // absent from snapshot (a create) -> dropped
      .toDF("id", "lon", "lat")
    val got = SpatialJoins.dirtyTileReassign(batch, snap, z = 6)
      .as[(Long, Long, Long)].collect().toSeq
    def t(lon: Double, lat: Double): Long =
      math.floor((lon + 180.0) / 360.0 * 64).toLong * 64 +
        math.floor((lat + 90.0) / 180.0 * 64).toLong
    assert(got === Seq((3L, t(20.0, 20.0), t(-20.0, -20.0))))
  }

  test("dirtyTileReassign above the broadcast gate: same rows, no forced broadcast") {
    // a "backfill-sized" batch (threshold 2 rows here) must not carry the
    // broadcast hint — the join still plans and answers identically
    // (VERDICT.md r03 #7: an unconditional hint would broadcast a
    // corpus-scale replay batch)
    val snap = (0L until 50L).map(i => (i, i.toDouble, 0.0)).toDF("id", "lon", "lat")
    val batch = (0L until 50L).map(i => (i, -i.toDouble, 0.0)).toDF("id", "lon", "lat")
    val gated = SpatialJoins.dirtyTileReassign(batch, snap, z = 6, broadcastThreshold = 2L)
    val hinted = SpatialJoins.dirtyTileReassign(batch, snap, z = 6)
    // self-validating pair: the under-threshold plan must SHOW the hint
    // marker this assertion greps for, so the gated negative isn't vacuous
    def planStr(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString
    assert(planStr(hinted).contains("ResolvedHint"))
    assert(!planStr(gated).contains("ResolvedHint"))
    val g = gated.as[(Long, Long, Long)].collect().toSet
    assert(g === hinted.as[(Long, Long, Long)].collect().toSet)
    assert(g.nonEmpty)
  }

  test("tileJoin keeps only points whose tile is in the inventory") {
    val points = Seq((1L, 0.05, 0.05), (2L, 100.0, 50.0)).toDF("pid", "lon", "lat")
    val t1 = SpatialJoins.tileAssign(points, z = 6)
      .filter($"pid" === 1).select("tile_id").as[Long].head()
    val tiles = Seq(t1).toDF("tile_id")
    val got = SpatialJoins.tileJoin(points, tiles, z = 6).select("pid").as[Long].collect().toSeq
    assert(got === Seq(1L))
  }

  test("distJoin matches brute force, incl. cell-boundary and negative coords") {
    val eps = 0.5
    // deterministic scatter with points ON cell edges (multiples of eps),
    // negative coordinates, and near-eps pairs in both axes
    val tgt = (0 until 500).map { i =>
      (i.toLong, (i * 7919 % 400) / 20.0 - 10.0, (i * 104729 % 400) / 20.0 - 10.0)
    }
    val qs = (0 until 60).map { i =>
      (i.toLong, (i * 131 % 400) / 20.0 - 10.0 + 0.013 * (i % 3),
        (i * 173 % 400) / 20.0 - 10.0 - 0.013 * (i % 5))
    }
    val got = SpatialJoins.distJoin(
        qs.toDF("qid", "qlon", "qlat"), tgt.toDF("pid", "lon", "lat"), eps)
      .select("qid", "pid").as[(Long, Long)].collect().toSet
    val want = (for {
      (qid, qx, qy) <- qs
      (pid, x, y) <- tgt
      if math.sqrt((x - qx) * (x - qx) + (y - qy) * (y - qy)) < eps
    } yield (qid, pid)).toSet
    assert(got === want)
    assert(want.nonEmpty)
    // straddling pair: query at a cell corner, target in the diagonal cell
    val corner = SpatialJoins.distJoin(
      Seq((1L, 1.0, 1.0)).toDF("qid", "qlon", "qlat"),
      Seq((9L, 0.9, 0.9)).toDF("pid", "lon", "lat"), eps = 0.5)
    assert(corner.count() === 1)
    // extra caller columns colliding with the other side's names must not
    // make the refine ambiguous (inputs are narrowed to the contract)
    val noisy = SpatialJoins.distJoin(
      Seq((1L, 1.0, 1.0, 99.0)).toDF("qid", "qlon", "qlat", "lon"),
      Seq((9L, 0.9, 0.9, 77.0)).toDF("pid", "lon", "lat", "qlat"), eps = 0.5)
    assert(noisy.select("qid", "pid").as[(Long, Long)].collect().toSeq === Seq((1L, 9L)))
  }

  test("epsCluster matches driver-side brute force, both CC paths, boundary coords") {
    // deterministic scatter including points ON cell edges (multiples of
    // eps) and negative coords — the half-stencil's cross-cell uniqueness
    // and same-cell qid<pid dedup are exactly what boundary points stress
    val eps = 0.5
    val pts = (0 until 300).map { i =>
      (i.toLong, (i * 7919 % 200) / 10.0 - 10.0, (i * 104729 % 200) / 10.0 - 10.0)
    }
    // brute-force expected clusters: union-find over all pairs dist < eps
    val parent = scala.collection.mutable.Map((0 until 300).map(i => (i.toLong, i.toLong)): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      (a, ax, ay) <- pts; (b, bx, by) <- pts
      if a < b && math.sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by)) < eps
    } {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = pts.map { case (p, _, _) => p -> find(p) }.toMap
    val df = pts.toDF("pid", "lon", "lat")
    val fast = SpatialJoins.epsCluster(df, eps).as[(Long, Long)].collect().toMap
    assert(fast === want)
    // the >gate distributed CC loop (threshold 0 forces it) must agree
    val dist = SpatialJoins.epsCluster(df, eps, ccDriverThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(dist === want)
    assert(want.values.toSet.size > 1 && want.exists { case (k, v) => k != v })
  }

  test("epsCluster: multi-location pid bridges clusters, no self-loops, one row per pid") {
    // pid 5 sits at BOTH (0,0) and (10,0): it bridges the two chains into
    // one component even though no single hop crosses the gap
    val pts = Seq(
      (1L, 0.0, 0.0), (2L, 0.3, 0.0),
      (5L, 0.0, 0.1), (5L, 10.0, 0.0),
      (8L, 10.3, 0.0), (9L, 10.6, 0.0)).toDF("pid", "lon", "lat")
    val got = SpatialJoins.epsCluster(pts, eps = 0.5).as[(Long, Long)].collect()
    assert(got.length === 5) // one row per DISTINCT pid
    assert(got.toMap === Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 8L -> 1L, 9L -> 1L))
  }

  test("epsCluster: chains merge, gaps split, isolated points self-label") {
    // chain 10..14 spaced 0.4 < eps; blob {20,21} far away; isolated 30
    val pts = Seq(
      (10L, 0.0, 0.0), (11L, 0.4, 0.0), (12L, 0.8, 0.0), (13L, 1.2, 0.0),
      (14L, 1.6, 0.0),
      (20L, 50.0, 10.0), (21L, 50.3, 10.0),
      (30L, -120.0, -40.0)).toDF("pid", "lon", "lat")
    val got = SpatialJoins.epsCluster(pts, eps = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      14L -> 10L, 20L -> 20L, 21L -> 20L, 30L -> 30L))
  }
}
