package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.gen.DerivedTables
import graft.ops.{ChangeBatch, DeltaApply, GeometryBuild, KnnIndex, SpatialJoins}

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2, with matching DuckDB `oracleSql` over the same parquet
 * tables (derivations shared verbatim via DerivedTables).
 */
object SparkEntry {

  /** Register functions + input views; returns the session for chaining. */
  private def prep(spark: SparkSession, dir: String): SparkSession = {
    GraftFunctions.register(spark)
    DerivedTables.register(spark, dir)
    spark
  }

  private def W(names: String*): String = DerivedTables.withClause(names: _*)

  /** Filesystem-safe tag for an sf dir: sanitized path PLUS an md5 prefix
   * of the exact path. Sanitization alone still collides ('/' and '.' both
   * map to '_', so /sf0.1 and /sf0_1 shared a tag — review finding), and a
   * colliding tag silently shares tmp stores/streams/indexes across dirs;
   * the digest disambiguates while the sanitized prefix stays readable. */
  private def pathTag(dir: String): String = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    dir.replaceAll("[^A-Za-z0-9_]", "_") + "_" + md5
  }

  /** Stream-source scratch dirs are keyed by (sf dir, PROCESS): the write
   * memo is per-JVM, so two concurrent JVMs (Verify alongside a Bench
   * child) would otherwise rm-and-rewrite one shared dir while the other's
   * FileStreamSource lists it — the same torn-read hazard ADVICE.md flagged
   * for batch.osc, where single-file ATOMIC_MOVE sufficed but a 3-file dir
   * has no atomic publish. Per-pid dirs cost nothing extra (each JVM
   * already re-wrote the shared dir; contents are tiny and deterministic). */
  private def streamTag(dir: String): String = {
    streamScratchHousekeeping // idempotent: hook + dead-pid prune, once per JVM
    pathTag(dir) + "_p" + ProcessHandle.current().pid()
  }

  /** Housekeeping for the pid-keyed scratch dirs (ADVICE.md r04): without
   * it every JVM run leaks one small dir per (sf dir, stream source) into
   * java.io.tmpdir. Two belts: a shutdown hook deletes THIS pid's dirs, and
   * once per JVM, on first use, we prune the dirs of dead pids
   * (covers kill -9'd bench children whose hooks never ran). */
  private lazy val streamScratchHousekeeping: Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    val myPid = ProcessHandle.current().pid()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Option(tmp.listFiles()).foreach(_.foreach { f =>
        if (f.getName.startsWith("graft_") && f.getName.endsWith("_p" + myPid))
          rmTree(f)
      })))
    pruneDeadScratch(tmp, myPid, System.currentTimeMillis())
  }

  private def rmTree(p: java.io.File): Unit = {
    if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(rmTree))
    p.delete(); ()
  }

  /** A scratch dir is only pruned once it is this old (mtime): its owner
   * may be alive in another PID namespace sharing the tmpdir, where its pid
   * looks dead to this JVM, and it writes the dir at startup. */
  private[graft] val scratchPruneMinAgeMs: Long = 10 * 60 * 1000L

  /** Deletes the `graft_*_p<pid>` dirs under `tmpDir` whose pid is not
   * `myPid`, is not alive, and whose mtime is at least
   * [[scratchPruneMinAgeMs]] before `nowMs`. */
  private[graft] def pruneDeadScratch(tmpDir: java.io.File, myPid: Long,
                                      nowMs: Long): Unit = {
    val deadPid = "^graft_.*_p(\\d+)$".r
    Option(tmpDir.listFiles()).foreach(_.foreach { f =>
      f.getName match {
        case deadPid(pid) if pid.toLong != myPid &&
          nowMs - f.lastModified() >= scratchPruneMinAgeMs &&
          !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false) =>
          rmTree(f)
        case _ => ()
      }
    })
  }

  /** kNN index built at most once per (JVM, sf dir) — within one run the
   * input is immutable, so rebuilds would only re-time identical work.
   * Keyed on the COLLISION-FREE pathTag (a collision between two sf dirs
   * would silently reuse the wrong index — VERDICT.md), and a path only
   * stays marked built if the build+save SUCCEEDED (a marked-but-failed
   * build would make every later call skip the build and fail at load with
   * a confusing missing-index error — ADVICE.md). */
  private val builtKnnIndexes = new java.util.HashSet[String]()

  /** Stream-source tmp dirs written this JVM (see the streaming-source
   * scaffolding note in `baseQueries`); un-marked on failure so a partial
   * write is never treated as present. The whole check-and-write holds one
   * lock so a concurrent second caller BLOCKS until the first write
   * completes instead of streaming a half-written directory (review
   * finding); stream-source writes are rare and small, so the coarse lock
   * costs nothing. */
  private val writtenStreamSrcs = new java.util.HashSet[String]()
  private def writeStreamSrcOnce(path: String)(write: => Unit): Unit =
    writtenStreamSrcs.synchronized {
      if (!writtenStreamSrcs.contains(path)) {
        write
        writtenStreamSrcs.add(path)
        ()
      }
    }
  /** Write `src` as THREE single-parquet files keyed by doc_id % 3 with
   * strictly increasing mtimes, so a maxFilesPerTrigger=1 file stream
   * processes them as three deterministic micro-batches (oldest-first is
   * the FileStreamSource default). Shared by the multibatch and TTL
   * streaming-dedup queries. */
  private def writeThreeBatchFiles(src: DataFrame, tmp: String): Unit = {
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm)
      p.delete(); ()
    }
    rm(new java.io.File(tmp))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
    (0 until 3).foreach { b =>
      val stage = s"${tmp}_stage"
      src.filter(col("doc_id") % 3 === b)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = java.nio.file.Paths.get(tmp, f"batch_$b%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // strictly increasing mtimes pin micro-batch order (oldest-first);
      // the pin is load-bearing for the oracle's batch-index arithmetic,
      // so a filesystem that refuses it must fail loudly, not reorder
      require(dst.toFile.setLastModified(1700000000000L + b * 60000L),
        s"setLastModified failed for $dst — micro-batch order would be undefined")
      rm(new java.io.File(stage))
    }
  }

  private def ensureKnnIndex(s: SparkSession, dir: String): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_knn_index_" +
      pathTag(dir)
    // check-and-build under one lock (the writeStreamSrcOnce discipline): a
    // non-blocking memo let a concurrent second caller skip the build and
    // load a not-yet-written index (review finding); builds are rare and
    // per-JVM-once, so the coarse lock costs nothing
    builtKnnIndexes.synchronized {
      if (!builtKnnIndexes.contains(path)) {
        KnnIndex.save(KnnIndex.build(s.table("points"), kMax = 8), path)
        builtKnnIndexes.add(path)
        ()
      }
    }
    path
  }

  /** Untimed setup Bench runs before timing the named query: catalog/view
   * registration (a deployed system reads from an existing catalog — and
   * DerivedTables.register memoizes, so the in-attempt prep() call becomes
   * free) and index builds a deployed system pays out-of-band, not per
   * query batch. The derived-view COMPUTE stays in the timed path: each
   * attempt's scan executes the view SQL. */
  def benchPrepare: Map[String, (SparkSession, String) => Unit] =
    queries.keysIterator
      .map(n => n -> ((s: SparkSession, dir: String) => { prep(s, dir); () }))
      .toMap +
      ("knn_join_indexed" ->
        ((s: SparkSession, dir: String) => { prep(s, dir); ensureKnnIndex(s, dir); () }))

  /** Rectangles as WKT polygons (engine side of the PIP build input). */
  private def rectPolys(spark: SparkSession): DataFrame =
    spark.table("rects").selectExpr(
      "poly_id",
      """concat('POLYGON((',
         format_string('%.7f %.7f', cx - hw, cy - hh), ',',
         format_string('%.7f %.7f', cx + hw, cy - hh), ',',
         format_string('%.7f %.7f', cx + hw, cy + hh), ',',
         format_string('%.7f %.7f', cx - hw, cy + hh), ',',
         format_string('%.7f %.7f', cx - hw, cy - hh), '))') AS wkt""")

  /** Flagship query (driver smoke test at sf0.001): the PIP join. */
  def entry(spark: SparkSession): DataFrame = {
    prep(spark, "/root/testdata/sf0.001")
    SpatialJoins.pipJoin(spark.table("points"), rectPolys(spark))
  }

  // ------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    baseQueries ++ TrainingQueries.queries ++ CoverageQueries.queries

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- spatial suite (north rule operators) ---
    "pip_join" -> ((s, dir) => {
      prep(s, dir)
      SpatialJoins.pipJoin(s.table("points"), rectPolys(s))
        .select(col("pid").cast("long"), col("poly_id").cast("long"))
    }),
    "knn_join" -> ((s, dir) => {
      prep(s, dir)
      SpatialJoins.knnJoin(s.table("query_points"), s.table("points"), k = 5)
        .select(col("qid").cast("long"), col("pid").cast("long"), col("rank").cast("long"))
    }),
    "knn_join_indexed" -> ((s, dir) => {
      // the warehouse-scale kNN shape: corpus-side prep persisted once as a
      // cell-clustered parquet index, the query batch reopens + probes it —
      // same oracle as knn_join (results are identical by construction).
      // The build runs at most once per JVM+dir (ensureKnnIndex); Bench
      // triggers it via benchPrepare so the timed path is probe-only —
      // matching how the operator is actually deployed (index maintained
      // out-of-band, query batches pay only the probe).
      prep(s, dir)
      val path = ensureKnnIndex(s, dir)
      SpatialJoins.knnJoinIndexed(s.table("query_points"), KnnIndex.load(s, path), k = 5)
        .select(col("qid").cast("long"), col("pid").cast("long"), col("rank").cast("long"))
    }),
    "tile_assign" -> ((s, dir) => {
      prep(s, dir)
      SpatialJoins.tileAssign(s.table("points"), z = 6)
        .select(col("pid").cast("long"), col("tile_id"))
    }),
    // the north rule's range-partitioned shuffle shape, measured + oracled:
    // same rows as tile_assign, but repartitionByRange(tile_id) so
    // downstream writes get contiguous tile ranges (VERDICT.md missing #5 —
    // previously only covered via s8_lineage's writeTable)
    "tile_assign_ranged" -> ((s, dir) => {
      prep(s, dir)
      SpatialJoins.tileAssign(s.table("points"), z = 6, partitions = 32)
        .select(col("pid").cast("long"), col("tile_id"))
    }),
    "tile_join" -> ((s, dir) => {
      prep(s, dir)
      SpatialJoins.tileJoin(s.table("points"), s.table("raster_tiles"), z = 6)
        .select(col("pid").cast("long"), col("tile_id"))
    }),
    "tile_histogram" -> ((s, dir) => {
      prep(s, dir)
      SpatialJoins.tileHistogram(s.table("points"), z = 6)
        .select(col("tile_id"), col("cnt").cast("long"))
    }),
    // raster-tile <-> vector-GEOMETRY join (the north star's raster join on
    // the polygon side): rect envelopes against the tile inventory. Numeric
    // boxes straight from the rects view so Spark and DuckDB floor the
    // identical doubles (see tileCoverJoinWkt's round-trip caveat).
    "tile_cover_join" -> ((s, dir) => {
      prep(s, dir)
      val boxes = s.table("rects").select(col("poly_id"),
        (col("cx") - col("hw")).as("xmin"), (col("cy") - col("hh")).as("ymin"),
        (col("cx") + col("hw")).as("xmax"), (col("cy") + col("hh")).as("ymax"))
      SpatialJoins.tileCoverJoin(boxes, s.table("raster_tiles"), z = 6)
        .select(col("poly_id").cast("long"), col("tile_id"))
    }),
    // the north rule's "tile reassignments recomputed only for dirty cells":
    // moved nodes from the compacted change batch -> (old tile, new tile)
    // delta, clean tiles untouched
    "tile_reassign_dirty" -> ((s, dir) => {
      prep(s, dir)
      val moved = ChangeBatch.dedupLatestVersion(s.table("changes"))
        .filter(col("obj_type") === "node" && col("action") === "modify")
        .select("id", "lon", "lat")
      SpatialJoins.dirtyTileReassign(moved, s.table("node_geoms"), z = 6)
        .select(col("id"), col("tile_old"), col("tile_new"))
    }),
    "cell_index" -> ((s, dir) => {
      prep(s, dir)
      s.table("points").select(col("pid").cast("long"),
        GraftFunctions.cell_encode(col("lon"), col("lat"), lit(12)).as("cell"))
    }),
    // fixed-radius sibling of knn_join: everything within eps, cell-stencil
    // equi-join + exact refine (the primitive under DBSCAN neighborhoods and
    // POI conflation). eps=0.05 keeps a hot-box probe's output to its ~1e4
    // genuine neighbors instead of the whole box.
    "dist_join" -> ((s, dir) => {
      prep(s, dir)
      SpatialJoins.distJoin(s.table("query_points"), s.table("points"), eps = 0.05)
        .select(col("qid").cast("long"), col("pid").cast("long"), col("dist"))
    }),
    // ε-connectivity clustering over the UNIFORM points only ((pid div 10) %
    // 10 >= 3 is the generator's hot-box complement — the hot box at any eps
    // is one dense blob whose ε-edge list is quadratic by definition, which
    // is a property of the input, not the plan). Oracle: recursive-CTE
    // min-label propagation over the identical edge set.
    "geo_cluster" -> ((s, dir) => {
      prep(s, dir)
      val uniform = s.table("points").filter(expr("(pid div 10) % 10 >= 3"))
      SpatialJoins.epsCluster(uniform, eps = 0.3)
        .select(col("pid").cast("long"), col("cluster_id").cast("long"))
    }),

    // --- change-batch pipeline (reference OsmChangeHandler semantics) ---
    "p1_classify" -> ((s, dir) => {
      prep(s, dir)
      ChangeBatch.classify(s.table("changes"))
        .select(col("eid"), col("obj_type"), col("id"), col("action2"))
    }),
    "p2_area_rels" -> ((s, dir) => {
      prep(s, dir)
      ChangeBatch.areaRelations(
        ChangeBatch.classify(ChangeBatch.dedupLatestVersion(s.table("changes"))))
        .select(col("id"), col("rel_type"))
    }),
    "o1_dedup_latest" -> ((s, dir) => {
      prep(s, dir)
      ChangeBatch.dedupLatestVersion(s.table("changes"))
        .select(col("obj_type"), col("id"), col("eid"), col("version").cast("long"))
    }),
    "j2_location_diff" -> ((s, dir) => {
      prep(s, dir)
      val modified = ChangeBatch.dedupLatestVersion(s.table("changes"))
        .filter(col("obj_type") === "node" && col("action") === "modify")
        .select("id", "lon", "lat")
      ChangeBatch.locationDiff(modified, s.table("node_geoms"))
        .select(col("id"), col("status"))
    }),
    "j3_dirty_ways" -> ((s, dir) => {
      prep(s, dir)
      val compacted = ChangeBatch.dedupLatestVersion(s.table("changes"))
      val (dirtyWays, _) = ChangeBatch.dependencyClosure(compacted,
        s.table("node_geoms"), s.table("way_members"), s.table("rel_members"))
      dirtyWays.select(col("way_id"))
    }),
    "j45_dirty_rels" -> ((s, dir) => {
      prep(s, dir)
      val compacted = ChangeBatch.dedupLatestVersion(s.table("changes"))
      val (_, dirtyRels) = ChangeBatch.dependencyClosure(compacted,
        s.table("node_geoms"), s.table("way_members"), s.table("rel_members"))
      dirtyRels.select(col("rel_id"))
    }),
    "j7_referenced_nodes" -> ((s, dir) => {
      prep(s, dir)
      val compacted = ChangeBatch.dedupLatestVersion(s.table("changes"))
      val changeWayIds = compacted.filter(col("obj_type") === "way").select("id")
        .withColumnRenamed("id", "way_id")
      val changeNodeIds = compacted.filter(col("obj_type") === "node").select("id")
      ChangeBatch.referencedNodesOfWays(changeWayIds, s.table("way_members"), changeNodeIds)
        .select(col("node_id"))
    }),
    "j8_rel_member_split" -> ((s, dir) => {
      prep(s, dir)
      val compacted = ChangeBatch.dedupLatestVersion(s.table("changes"))
      val changeRelIds = compacted.filter(col("obj_type") === "relation")
        .select(col("id").as("rel_id"))
      val (nodeIds, wayIds) = ChangeBatch.relationMemberSplit(changeRelIds, s.table("rel_members"))
      nodeIds.withColumn("member_type", lit("node"))
        .withColumnRenamed("node_id", "member_id")
        .unionByName(wayIds.withColumn("member_type", lit("way"))
          .withColumnRenamed("way_id", "member_id"))
    }),
    "merge_upsert" -> ((s, dir) => {
      prep(s, dir)
      val compacted = ChangeBatch.dedupLatestVersion(s.table("changes"))
        .filter(col("obj_type") === "node")
        .select(col("id"), col("action"), col("lon"), col("lat"))
      DeltaApply.applyChangeBatch(s.table("node_geoms"), compacted)
    }),

    // --- geometry build (osm2rdf replacement) ---
    "way_geoms" -> ((s, dir) => {
      prep(s, dir)
      GeometryBuild.buildWayGeoms(s.table("way_members"), s.table("node_geoms"),
        withDerived = false)
        .select(col("way_id"), col("wkt"), col("n_points").cast("long"))
    }),
    "node_points" -> ((s, dir) => {
      prep(s, dir)
      GeometryBuild.buildNodeGeoms(s.table("node_geoms"))
        .select(col("id"), col("wkt"), col("cell"))
    }),

    // --- watermark / meta aggregations ---
    "a1_max_timestamp" -> ((s, dir) => {
      prep(s, dir)
      s.table("events").agg(max(col("ts")).as("max_ts"))
    }),
    "a5_latest_state" -> ((s, dir) => {
      prep(s, dir)
      s.table("changes").orderBy(col("ts").desc, col("seq").desc)
        .select(col("seq"), col("ts")).limit(1)
    }),

    // --- S8/A6: the resumable UpdateJob end-to-end, oracled through its
    // LINEAGE table — per-(seq, stage) row counts and global cell bounds of
    // each committed snapshot are recomputed independently in DuckDB by
    // replaying the same last-writer-wins + dirty-closure semantics in SQL.
    // This puts the checkpoint/lineage surface (watermark, per-partition
    // lineage rows, A6 counters' row-count cross-check inputs) under the
    // oracle gate, not just CheckpointSpec ---
    "s8_lineage" -> ((s, dir) => {
      prep(s, dir)
      val tag = pathTag(dir)
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_s8_store_$tag"
      // fresh store every run: resume-from-watermark is CheckpointSpec's
      // job; this query oracles WHAT the committed lineage describes
      def rm(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles().foreach(rm)
        p.delete(); ()
      }
      rm(new java.io.File(root))
      val store = new graft.lineage.SnapshotStore(root)
      graft.lineage.UpdateJob.run(s, store, s.table("changes"),
        s.table("node_geoms").select("id", "lon", "lat"),
        s.table("way_members"), fromSeq = 0L, toSeq = 2L,
        cellRes = 12, partitions = 8)
      (0L to 2L).map(store.readLineage(s, _)).reduce(_ unionByName _)
        .groupBy(col("applied_seq"), col("stage"))
        .agg(sum("row_count").as("row_count"),
          min("cell_lo").as("cell_min"), max("cell_hi").as("cell_max"))
    }),

    // --- streaming-source scaffolding: the file-stream queries read a tmp
    // parquet dir derived deterministically from the sf dir. Writing it is
    // TEST SCAFFOLDING (in deployment the stream's source files already
    // exist), so it runs once per (JVM, path): Bench's warm attempt then
    // times the streaming query itself, while every fresh JVM (each bench
    // child, Verify) still (re)writes — no stale cross-version files.
    // ---
    // --- streaming surface (§2.7): event-time windowed tile counts driven
    // through a REAL file stream (readStream -> watermark -> windowed agg ->
    // memory sink, Trigger.AvailableNow) — the oracle is the batch-SQL
    // equivalent (tumbling 1h window == date_trunc hour), so the streaming
    // path itself is under the DuckDB gate, not just a spec ---
    "s27_stream_tile_counts" -> ((s, dir) => {
      prep(s, dir)
      val tag = pathTag(dir)
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_stream_src_${streamTag(dir)}"
      // watermarks require TIMESTAMP (ltz); the parquet round-trip yields
      // TIMESTAMP_NTZ — cast under the session's UTC zone (lossless)
      val src = s.table("changes").filter(col("obj_type") === "node")
        .select(col("ts").cast("timestamp").as("ts"), col("lon"), col("lat"))
      writeStreamSrcOnce(tmp)(src.write.mode("overwrite").parquet(tmp))
      val stream = s.readStream.schema(src.schema).parquet(tmp)
      val qn = s"s27_mem_$tag"
      s.catalog.dropTempView(qn) // re-runnable within one session (Bench attempts)
      val q = graft.streaming.ChangeStream.tileCounts(stream, z = 6)
        .writeStream.outputMode("complete").format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qn).select(
        col("window.start").as("window_start"),
        col("tile_id"),
        col("cnt").cast("long").as("cnt"))
    }),

    // --- T19: streaming exact dedup driven through a REAL file stream
    // (readStream -> flatMapGroupsWithState -> memory sink, AvailableNow) —
    // the batch dedup_exact keeper SQL is the oracle, closing the one
    // spec-only operator (VERDICT.md #5). The source is written as ONE file
    // so the whole stream lands in one micro-batch, where first-seen-across-
    // batches == min-within-batch == the batch keeper policy (the parity
    // precondition documented on CorpusStream.streamingExactDedup) ---
    "s19_stream_dedup" -> ((s, dir) => {
      prep(s, dir)
      val tag = pathTag(dir)
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_stream_docs_${streamTag(dir)}"
      import s.implicits._
      val src = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      writeStreamSrcOnce(tmp)(src.coalesce(1).write.mode("overwrite").parquet(tmp))
      val stream = s.readStream.schema(src.schema).parquet(tmp)
        .as[graft.streaming.CorpusStream.StreamDoc]
      val qn = s"s19_mem_$tag"
      s.catalog.dropTempView(qn) // re-runnable within one session (Bench attempts)
      val q = graft.streaming.CorpusStream.streamingExactDedup(stream)
        .writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qn).select(col("content_hash"), col("doc_id"))
    }),

    // --- T19 multi-micro-batch variant (VERDICT.md r03 #6): the SAME
    // streaming dedup driven through THREE source files with
    // maxFilesPerTrigger=1, so the cross-batch first-seen semantics
    // (CorpusStream.scala header) is itself under the DuckDB gate, not just
    // spec-tested. The source is stream_docs (documents + injected clones —
    // raw documents has NO duplicate texts, which would make this gate
    // trivial; the clones' id offsets shift them into different batches, so
    // first-seen genuinely diverges from min(doc_id)). Batch order is
    // deterministic: FileStreamSource processes oldest-first
    // (latestFirst=false default) and the three files get strictly
    // increasing mtimes; file b holds the doc_id % 3 == b slice, so the
    // oracle's keeper is rank-1 by (doc_id % 3, doc_id) per hash ---
    "s19_stream_dedup_multibatch" -> ((s, dir) => {
      prep(s, dir)
      val tag = pathTag(dir)
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_stream_docs_mb_${streamTag(dir)}"
      import s.implicits._
      val src = s.table("stream_docs")
      writeStreamSrcOnce(tmp)(writeThreeBatchFiles(src, tmp))
      val stream = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
        .as[graft.streaming.CorpusStream.StreamDoc]
      val qn = s"s19mb_mem_$tag"
      s.catalog.dropTempView(qn) // re-runnable within one session (Bench attempts)
      val q = graft.streaming.CorpusStream.streamingExactDedup(stream)
        .writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qn).select(col("content_hash"), col("doc_id"))
    }),

    // --- T19 BOUNDED-STATE variant: the same three-micro-batch stream, but
    // keeper state expires 300 s of EVENT TIME after the keeper (event-time
    // timeout eviction) — the 10^12-scale shape where state is bounded by
    // the dedup horizon instead of all history. Event times are derived
    // from doc_id with integer arithmetic (batch b at base + b*600 s, ±47 s
    // in-batch spread), so batch 0's keepers are LIVE at batch 1's
    // watermark (~base+46) and EXPIRED at batch 2's (~base+646): a dup one
    // batch later is dropped, a dup two batches later is re-kept. The
    // DuckDB oracle replays the watermark recurrence exactly (recursive
    // per-hash walk over batches) ---
    "s19_stream_dedup_ttl" -> ((s, dir) => {
      prep(s, dir)
      val tag = pathTag(dir)
      val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_stream_docs_ttl_${streamTag(dir)}"
      import s.implicits._
      val src = s.table("stream_docs").select(col("doc_id"), col("text"),
        (lit(1704067200L) + (col("doc_id") % 3) * 600 + col("doc_id") % 47)
          .as("ts_s"))
      writeStreamSrcOnce(tmp)(writeThreeBatchFiles(src, tmp))
      val stream = s.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
        .select(col("doc_id"), col("text"),
          col("ts_s").cast("timestamp").as("ts"))
        .as[graft.streaming.CorpusStream.TsDoc]
      val qn = s"s19ttl_mem_$tag"
      s.catalog.dropTempView(qn) // re-runnable within one session (Bench attempts)
      val q = graft.streaming.CorpusStream
        .streamingExactDedupTtl(stream, ttlMs = 300000L)
        .writeStream.outputMode("append").format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qn).select(col("content_hash"), col("doc_id"))
    }),

    // --- span invariant over the interleaved docs table (input_hint) ---
    "span_fingerprint" -> ((s, dir) => {
      prep(s, dir)
      val docs = s.table("doc_spans")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("span_pos"), col("kind"),
          col("text"), col("media_ref")))).as("spans"))
      docs.select(col("doc_id"),
        md5(array_join(transform(col("spans"),
          sp => concat_ws("|", sp.getField("kind"), sp.getField("text"),
            sp.getField("media_ref"))), ";")).as("fp"))
    }),
  )

  // ------------------------------------------------------------- oracles

  /** Morton cell id SQL (DuckDB side of cell_encode): res<<56 | interleave. */
  private def mortonOracle(res: Int, lonCol: String, latCol: String): String = {
    val n = 1L << res
    val x = s"LEAST(GREATEST(CAST(FLOOR((($lonCol + 180.0) / 360.0) * $n.0) AS BIGINT), 0), ${n - 1})"
    val y = s"LEAST(GREATEST(CAST(FLOOR((($latCol + 90.0) / 180.0) * $n.0) AS BIGINT), 0), ${n - 1})"
    val terms = (0 until res).flatMap { b =>
      Seq(s"((xx >> $b) & 1) * ${1L << (2 * b)}", s"((yy >> $b) & 1) * ${1L << (2 * b + 1)}")
    }
    s"(SELECT ${res.toLong << 56} + ${terms.mkString(" + ")} FROM (SELECT $x AS xx, $y AS yy) mm)"
  }

  /** z=6 flat tile id from arbitrary lon/lat SQL expressions (the DuckDB
   * side of tile_id; shared by every tile oracle). */
  private def tileXySqlOf(lonE: String, latE: String): String =
    s"""LEAST(GREATEST(CAST(FLOOR((($lonE + 180.0) / 360.0) * 64.0) AS BIGINT), 0), 63) * 64
     + LEAST(GREATEST(CAST(FLOOR((($latE + 90.0) / 180.0) * 64.0) AS BIGINT), 0), 63)"""
  private val tileXySql = tileXySqlOf("lon", "lat")

  /** The O1 compaction window, shared by several oracles. */
  private val dedupSql = """
    SELECT * FROM (
      SELECT c.*, ROW_NUMBER() OVER (
        PARTITION BY obj_type, id
        ORDER BY version DESC, deleted DESC, ts DESC, eid DESC) AS rn
      FROM changes c) t WHERE rn = 1"""

  def oracleSql: Map[String, String] = Map(
    "pip_join" -> s"""${W("points", "rects")}
      SELECT CAST(p.pid AS BIGINT) AS pid, CAST(r.poly_id AS BIGINT) AS poly_id
      FROM points p JOIN (
        SELECT poly_id,
               CAST(printf('%.7f', cx - hw) AS DOUBLE) AS x0,
               CAST(printf('%.7f', cx + hw) AS DOUBLE) AS x1,
               CAST(printf('%.7f', cy - hh) AS DOUBLE) AS y0,
               CAST(printf('%.7f', cy + hh) AS DOUBLE) AS y1
        FROM rects) r
        ON p.lon >= r.x0 AND p.lon <= r.x1
       AND p.lat >= r.y0 AND p.lat <= r.y1""",

    "knn_join" -> s"""${W("query_points", "points")}
      SELECT CAST(qid AS BIGINT) AS qid, CAST(pid AS BIGINT) AS pid,
             CAST(rank AS BIGINT) AS rank
      FROM (
        SELECT q.qid, p.pid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY sqrt((p.lon - q.qlon) * (p.lon - q.qlon)
                             + (p.lat - q.qlat) * (p.lat - q.qlat)), p.pid) AS rank
        FROM query_points q CROSS JOIN points p) t
      WHERE rank <= 5""",

    "knn_join_indexed" -> s"""${W("query_points", "points")}
      SELECT CAST(qid AS BIGINT) AS qid, CAST(pid AS BIGINT) AS pid,
             CAST(rank AS BIGINT) AS rank
      FROM (
        SELECT q.qid, p.pid,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY sqrt((p.lon - q.qlon) * (p.lon - q.qlon)
                             + (p.lat - q.qlat) * (p.lat - q.qlat)), p.pid) AS rank
        FROM query_points q CROSS JOIN points p) t
      WHERE rank <= 5""",

    "tile_assign" -> s"""${W("points")}
      SELECT CAST(pid AS BIGINT) AS pid, $tileXySql AS tile_id FROM points""",

    // identical rows — the range partitioning changes layout, not content
    "tile_assign_ranged" -> s"""${W("points")}
      SELECT CAST(pid AS BIGINT) AS pid, $tileXySql AS tile_id FROM points""",

    // rect-envelope tile ranges with the same clamped floor arithmetic the
    // engine's tileCoverJoin writes as Spark SQL expressions; two unnest
    // levels because DuckDB zips multiple unnests in one SELECT
    "tile_cover_join" -> s"""${W("rects", "raster_tiles")},
      b AS (SELECT poly_id,
        LEAST(GREATEST(CAST(FLOOR(((cx - hw + 180.0) / 360.0) * 64.0) AS BIGINT), 0), 63) AS x0,
        LEAST(GREATEST(CAST(FLOOR(((cx + hw + 180.0) / 360.0) * 64.0) AS BIGINT), 0), 63) AS x1,
        LEAST(GREATEST(CAST(FLOOR(((cy - hh + 90.0) / 180.0) * 64.0) AS BIGINT), 0), 63) AS y0,
        LEAST(GREATEST(CAST(FLOOR(((cy + hh + 90.0) / 180.0) * 64.0) AS BIGINT), 0), 63) AS y1
      FROM rects),
      xs AS (SELECT poly_id, unnest(generate_series(x0, x1)) AS tx, y0, y1 FROM b),
      ys AS (SELECT poly_id, tx, unnest(generate_series(y0, y1)) AS ty FROM xs)
      SELECT CAST(ys.poly_id AS BIGINT) AS poly_id, tx * 64 + ty AS tile_id
      FROM ys JOIN raster_tiles t ON tx * 64 + ty = t.tile_id""",

    // moved nodes only (same J2 'moved' predicate as j2_location_diff),
    // tiles from the same clamped floor arithmetic as tile_assign, kept
    // only when the assignment actually changes
    "tile_reassign_dirty" -> s"""${W("changes", "node_geoms")}
      SELECT m.id AS id,
             ${tileXySqlOf("g.lon", "g.lat")} AS tile_old,
             ${tileXySqlOf("m.lon", "m.lat")} AS tile_new
      FROM ($dedupSql) m JOIN node_geoms g ON m.id = g.id
      WHERE m.obj_type = 'node' AND m.action = 'modify'
        AND NOT (g.lon = m.lon AND g.lat = m.lat)
        AND (${tileXySqlOf("g.lon", "g.lat")}) <> (${tileXySqlOf("m.lon", "m.lat")})""",

    "s19_stream_dedup" -> """
      WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents)
      SELECT content_hash, min(doc_id) AS doc_id FROM h GROUP BY content_hash""",

    // first-seen-ACROSS-batches keeper: batch index = doc_id % 3 (file
    // order), min doc_id within the earliest batch holding the hash
    "s19_stream_dedup_multibatch" -> s"""${W("stream_docs")},
      h AS (SELECT doc_id, md5(text) AS content_hash FROM stream_docs),
      r AS (SELECT content_hash, doc_id, ROW_NUMBER() OVER (
              PARTITION BY content_hash ORDER BY doc_id % 3, doc_id) AS rn
            FROM h)
      SELECT content_hash, doc_id FROM r WHERE rn = 1""",

    // TTL keeper replay: with watermark delay 0, the watermark entering
    // batch b is the running max event time over batches < b; a keeper with
    // event time T is live while T + 300 > wm. The per-hash recursive walk
    // is the exact streaming recurrence: rn=1 always keeps; rn>1 keeps iff
    // the carried expiry <= the batch's entry watermark, and only a KEEP
    // re-anchors the expiry (dropped dups never extend the horizon) —
    // mirroring CorpusStream.streamingExactDedupTtl line for line.
    "s19_stream_dedup_ttl" -> s"""${W("stream_docs")
        .replaceFirst("^WITH ", "WITH RECURSIVE ")},
      h AS (SELECT doc_id, md5(text) AS content_hash,
                   CAST(doc_id % 3 AS BIGINT) AS b,
                   1704067200 + (doc_id % 3) * 600 + (doc_id % 47) AS ts_s
            FROM stream_docs),
      bmax AS (SELECT b, max(ts_s) AS mx FROM h GROUP BY b),
      wm AS (SELECT b, max(mx) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm_s
             FROM bmax),
      cand AS (SELECT content_hash, b, min(doc_id) AS doc_id
               FROM h GROUP BY content_hash, b),
      cand2 AS (SELECT c.content_hash, c.b, c.doc_id, h.ts_s, w.wm_s,
                       ROW_NUMBER() OVER (PARTITION BY c.content_hash
                                          ORDER BY c.b) AS rn
                FROM cand c
                JOIN h ON h.content_hash = c.content_hash AND h.doc_id = c.doc_id
                JOIN wm w ON w.b = c.b),
      walk AS (
        SELECT content_hash, rn, doc_id, TRUE AS kept, ts_s + 300 AS expiry
        FROM cand2 WHERE rn = 1
        UNION ALL
        SELECT c.content_hash, c.rn, c.doc_id,
               (w.expiry <= c.wm_s) AS kept,
               CASE WHEN w.expiry <= c.wm_s THEN c.ts_s + 300
                    ELSE w.expiry END AS expiry
        FROM walk w
        JOIN cand2 c ON c.content_hash = w.content_hash AND c.rn = w.rn + 1)
      SELECT content_hash, doc_id FROM walk WHERE kept""",

    "tile_join" -> s"""${W("points", "raster_tiles")}
      SELECT CAST(p.pid AS BIGINT) AS pid, t.tile_id AS tile_id
      FROM (SELECT pid, $tileXySql AS tile_id FROM points) p
      JOIN raster_tiles t ON p.tile_id = t.tile_id""",

    "tile_histogram" -> s"""${W("points")}
      SELECT tile_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT $tileXySql AS tile_id FROM points) p GROUP BY tile_id""",

    "cell_index" -> s"""${W("points")}
      SELECT CAST(pid AS BIGINT) AS pid, ${mortonOracle(12, "lon", "lat")} AS cell
      FROM points""",

    // dist expression mirrors planar_dist's evaluation order exactly
    // (dx = target - query, dx*dx + dy*dy, sqrt) so the doubles are
    // bit-identical IEEE on both engines; the band predicates only speed
    // DuckDB up (IEJoin) — the sqrt < eps refine decides membership.
    "dist_join" -> s"""${W("query_points", "points")}
      SELECT CAST(q.qid AS BIGINT) AS qid, CAST(p.pid AS BIGINT) AS pid,
             sqrt((p.lon - q.qlon) * (p.lon - q.qlon)
                + (p.lat - q.qlat) * (p.lat - q.qlat)) AS dist
      FROM query_points q JOIN points p
        ON p.lon > q.qlon - 0.05 AND p.lon < q.qlon + 0.05
       AND p.lat > q.qlat - 0.05 AND p.lat < q.qlat + 0.05
      WHERE sqrt((p.lon - q.qlon) * (p.lon - q.qlon)
               + (p.lat - q.qlat) * (p.lat - q.qlat)) < 0.05""",

    // min-label propagation as a recursive CTE: `lab` accumulates every
    // smaller label reachable over the symmetric ε-edge set (the `label <
    // id` prune only drops non-minimal propagation — the component minimum
    // is below every other member, so it always reaches them); GROUP BY min
    // then collapses to the component minimum, matching epsCluster's
    // min-id canonical labels. Edge membership uses the identical sqrt
    // expression as dist_join (squares are direction-exact under IEEE).
    "geo_cluster" -> s"""${W("points").replaceFirst("^WITH ", "WITH RECURSIVE ")},
      up AS (SELECT pid, lon, lat FROM points WHERE (pid // 10) % 10 >= 3),
      e AS (
        SELECT a.pid AS src, b.pid AS dst FROM up a JOIN up b
          ON b.lon > a.lon - 0.3 AND b.lon < a.lon + 0.3
         AND b.lat > a.lat - 0.3 AND b.lat < a.lat + 0.3
        WHERE a.pid <> b.pid
          AND sqrt((b.lon - a.lon) * (b.lon - a.lon)
                 + (b.lat - a.lat) * (b.lat - a.lat)) < 0.3),
      lab AS (
        SELECT pid AS id, pid AS label FROM up
        UNION
        SELECT e.dst AS id, lab.label FROM lab JOIN e ON e.src = lab.id
        WHERE lab.label < e.dst)
      SELECT CAST(id AS BIGINT) AS pid, CAST(min(label) AS BIGINT) AS cluster_id
      FROM lab GROUP BY id""",

    "p1_classify" -> s"""${W("changes")}
      SELECT eid, obj_type, id,
             CASE WHEN deleted = 1 THEN 'delete'
                  WHEN version = 1 THEN 'create'
                  ELSE 'modify' END AS action2
      FROM changes""",

    "p2_area_rels" -> s"""${W("changes")}
      SELECT id, rel_type FROM ($dedupSql) d
      WHERE obj_type = 'relation' AND deleted = 0 AND version <> 1
        AND rel_type IN ('multipolygon', 'boundary')""",

    "o1_dedup_latest" -> s"""${W("changes")}
      SELECT obj_type, id, eid, CAST(version AS BIGINT) AS version
      FROM ($dedupSql) d""",

    "j2_location_diff" -> s"""${W("changes", "node_geoms")}
      SELECT m.id AS id,
             CASE WHEN g.id IS NULL THEN 'create'
                  WHEN g.lon = m.lon AND g.lat = m.lat THEN 'modified'
                  ELSE 'moved' END AS status
      FROM ($dedupSql) m LEFT OUTER JOIN node_geoms g ON m.id = g.id
      WHERE m.obj_type = 'node' AND m.action = 'modify'""",

    "j3_dirty_ways" -> s"""${W("changes", "node_geoms", "way_members")},
      compacted AS ($dedupSql),
      dirty_nodes AS (
        SELECT m.id FROM compacted m LEFT OUTER JOIN node_geoms g ON m.id = g.id
        WHERE m.obj_type = 'node' AND m.action = 'modify'
          AND NOT (g.id IS NOT NULL AND g.lon = m.lon AND g.lat = m.lat)
          AND g.id IS NOT NULL
        UNION
        SELECT id FROM compacted WHERE obj_type = 'node' AND action = 'delete')
      SELECT DISTINCT w.way_id AS way_id
      FROM way_members w JOIN dirty_nodes d ON w.node_id = d.id
      WHERE w.way_id NOT IN (SELECT id FROM compacted WHERE obj_type = 'way')""",

    "j45_dirty_rels" -> s"""${W("changes", "node_geoms", "way_members", "rel_members")},
      compacted AS ($dedupSql),
      dirty_nodes AS (
        SELECT m.id FROM compacted m LEFT OUTER JOIN node_geoms g ON m.id = g.id
        WHERE m.obj_type = 'node' AND m.action = 'modify'
          AND NOT (g.id IS NOT NULL AND g.lon = m.lon AND g.lat = m.lat)
          AND g.id IS NOT NULL
        UNION
        SELECT id FROM compacted WHERE obj_type = 'node' AND action = 'delete'),
      dirty_ways AS (
        SELECT DISTINCT w.way_id
        FROM way_members w JOIN dirty_nodes d ON w.node_id = d.id
        WHERE w.way_id NOT IN (SELECT id FROM compacted WHERE obj_type = 'way')),
      updated_ways AS (
        SELECT way_id FROM dirty_ways
        UNION SELECT id AS way_id FROM compacted WHERE obj_type = 'way')
      SELECT rel_id FROM (
        SELECT DISTINCT r.rel_id
        FROM rel_members r JOIN dirty_nodes d
          ON r.member_id = d.id AND r.member_type = 'node'
        UNION
        SELECT DISTINCT r.rel_id
        FROM rel_members r JOIN updated_ways u
          ON r.member_id = u.way_id AND r.member_type = 'way') x
      WHERE rel_id NOT IN (SELECT id FROM compacted WHERE obj_type = 'relation')""",

    "j7_referenced_nodes" -> s"""${W("changes", "way_members")},
      compacted AS ($dedupSql)
      SELECT DISTINCT w.node_id AS node_id
      FROM way_members w
      WHERE w.way_id IN (SELECT id FROM compacted WHERE obj_type = 'way')
        AND w.node_id NOT IN (SELECT id FROM compacted WHERE obj_type = 'node')""",

    "j8_rel_member_split" -> s"""${W("changes", "rel_members")},
      compacted AS ($dedupSql)
      SELECT DISTINCT r.member_id AS member_id, r.member_type AS member_type
      FROM rel_members r
      WHERE r.rel_id IN (SELECT id FROM compacted WHERE obj_type = 'relation')
        AND r.member_type IN ('node', 'way')""",

    "merge_upsert" -> s"""${W("changes", "node_geoms")},
      compacted AS ($dedupSql),
      node_batch AS (SELECT id, action, lon, lat FROM compacted WHERE obj_type = 'node')
      SELECT g.id AS id, g.lon AS lon, g.lat AS lat
      FROM node_geoms g WHERE g.id NOT IN (SELECT id FROM node_batch)
      UNION ALL
      SELECT id, lon, lat FROM node_batch WHERE action <> 'delete'""",

    "way_geoms" -> s"""${W("way_members", "node_geoms")}
      SELECT w.way_id AS way_id,
             'LINESTRING(' || string_agg(printf('%.7f %.7f', g.lon, g.lat), ',' ORDER BY w.pos, w.node_id) || ')' AS wkt,
             CAST(COUNT(*) AS BIGINT) AS n_points
      FROM way_members w JOIN node_geoms g ON w.node_id = g.id
      GROUP BY w.way_id""",

    "node_points" -> s"""${W("node_geoms")}
      SELECT id, 'POINT(' || printf('%.7f %.7f', lon, lat) || ')' AS wkt,
             ${mortonOracle(12, "lon", "lat")} AS cell
      FROM node_geoms""",

    "a1_max_timestamp" -> "SELECT MAX(ts) AS max_ts FROM events",

    "a5_latest_state" -> s"""${W("changes")}
      SELECT seq, ts FROM changes ORDER BY ts DESC, seq DESC LIMIT 1""",

    // Independent SQL replay of UpdateJob seqs 0..2: cumulative last-writer-
    // wins node snapshot per seq (cross-batch: later seq wins; within batch:
    // the dedup comparator), pre-merge moved/deleted closure for dirty ways,
    // first-point cells of rebuilt way linestrings.
    "s8_lineage" -> s"""${W("changes", "node_geoms", "way_members")},
      seqs AS (SELECT CAST(0 AS BIGINT) AS n UNION ALL SELECT 1 UNION ALL SELECT 2),
      node_winners AS (
        SELECT s.n, c.*, ROW_NUMBER() OVER (
          PARTITION BY s.n, c.id
          ORDER BY c.seq DESC, c.version DESC, c.deleted DESC, c.ts DESC, c.eid DESC) AS rn
        FROM seqs s JOIN changes c ON c.obj_type = 'node' AND c.seq <= s.n),
      snap AS (
        SELECT s.n, g.id, g.lon, g.lat
        FROM seqs s CROSS JOIN node_geoms g
        LEFT JOIN (SELECT n, id FROM node_winners WHERE rn = 1) w
          ON w.n = s.n AND w.id = g.id
        WHERE w.id IS NULL
        UNION ALL
        SELECT n, id, lon, lat FROM node_winners WHERE rn = 1 AND action <> 'delete'),
      node_rows AS (
        SELECT n AS applied_seq, 'node_geoms' AS stage,
               CAST(COUNT(*) AS BIGINT) AS row_count,
               MIN(${mortonOracle(12, "lon", "lat")}) AS cell_min,
               MAX(${mortonOracle(12, "lon", "lat")}) AS cell_max
        FROM snap GROUP BY n),
      batch AS (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY seq, obj_type, id
          ORDER BY version DESC, deleted DESC, ts DESC, eid DESC) AS brn
        FROM changes WHERE seq <= 2),
      pre_snap AS (
        SELECT s.n, p.id, p.lon, p.lat FROM seqs s JOIN snap p ON p.n = s.n - 1
        UNION ALL
        SELECT CAST(0 AS BIGINT), id, lon, lat FROM node_geoms),
      dirty_nodes AS (
        SELECT DISTINCT n, id FROM (
          SELECT b.seq AS n, b.id
          FROM batch b JOIN pre_snap p ON p.n = b.seq AND p.id = b.id
          WHERE b.brn = 1 AND b.obj_type = 'node' AND b.action = 'modify'
            AND (b.lon <> p.lon OR b.lat <> p.lat)
          UNION ALL
          SELECT seq AS n, id FROM batch
          WHERE brn = 1 AND obj_type = 'node' AND action = 'delete') d),
      change_ways AS (
        SELECT DISTINCT seq AS n, id AS way_id FROM batch WHERE obj_type = 'way'),
      dirty_ways AS (
        SELECT DISTINCT d.n, m.way_id
        FROM way_members m JOIN dirty_nodes d ON m.node_id = d.id
        WHERE NOT EXISTS (SELECT 1 FROM change_ways cw
                          WHERE cw.n = d.n AND cw.way_id = m.way_id)),
      way_pts AS (
        SELECT dw.n, dw.way_id, g.lon, g.lat, ROW_NUMBER() OVER (
          PARTITION BY dw.n, dw.way_id ORDER BY m.pos, m.node_id) AS prn
        FROM dirty_ways dw
        JOIN way_members m ON m.way_id = dw.way_id
        JOIN snap g ON g.n = dw.n AND g.id = m.node_id),
      way_rows AS (
        SELECT n AS applied_seq, 'dirty_way_geoms' AS stage,
               CAST(COUNT(*) AS BIGINT) AS row_count,
               MIN(${mortonOracle(12, "lon", "lat")}) AS cell_min,
               MAX(${mortonOracle(12, "lon", "lat")}) AS cell_max
        FROM way_pts WHERE prn = 1 GROUP BY n)
      SELECT * FROM node_rows UNION ALL SELECT * FROM way_rows""",

    "s27_stream_tile_counts" -> s"""${W("changes")}
      SELECT date_trunc('hour', ts) AS window_start, tile_id,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT ts, $tileXySql AS tile_id
            FROM changes WHERE obj_type = 'node') t
      GROUP BY 1, 2""",

    "span_fingerprint" -> s"""${W("doc_spans")}
      SELECT doc_id,
             md5(string_agg(kind || '|' || text || '|' || media_ref, ';' ORDER BY span_pos)) AS fp
      FROM doc_spans GROUP BY doc_id""",
  ) ++ TrainingQueries.oracleSql ++ CoverageQueries.oracleSql
}
