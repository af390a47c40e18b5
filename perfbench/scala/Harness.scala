package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.GraftFunctions.{cell_encode, st_x, st_y}
import graft.lineage.{SnapshotStore, UpdateJob}
import graft.ops.{ChangeBatch, DeltaApply, GeometryBuild}

/** One timed interval. `parent` is -1 for a root; spans of one operation
 * share `op`; `run` identifies the benchmark process. */
final case class Span(id: Int, parent: Int, op: Int, run: String, name: String,
                      layer: String, startNs: Long, endNs: Long)

/** Task-level counters the listener sums per span. */
final class SpanCounters {
  var jobs = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/**
 * Spans kept in memory and written out at the end. While a span is open its
 * id rides the Spark local property `perfbench.span`, so the listener can
 * charge each job's tasks to the innermost open span. Likewise a timed
 * operation's index rides `perfbench.op`, and the listener sums the CPU time
 * of its tasks.
 */
final class Tracer(spark: SparkSession, val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val opCpuNs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val counters = new java.util.concurrent.ConcurrentHashMap[Int, SpanCounters]()
  @volatile var events = 0L

  private def counter(span: Int): SpanCounters =
    counters.computeIfAbsent(span, _ => new SpanCounters)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events += 1
      def prop(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
      prop("perfbench.span").foreach { s =>
        val span = s.toInt
        counter(span).synchronized(counter(span).jobs += 1)
        e.stageIds.foreach(st => stageSpan.put(st, span))
      }
      prop("perfbench.op").foreach(op => e.stageIds.foreach(st => stageOp.put(st, op.toInt)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events += 1
      val m = e.taskMetrics
      if (m != null) {
        val span = stageSpan.getOrDefault(e.stageId, -1)
        if (span >= 0) {
          val c = counter(span)
          c.synchronized {
            c.taskRunMs += m.executorRunTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
        val op = stageOp.getOrDefault(e.stageId, -1)
        if (op >= 0) opCpuNs.merge(op, m.executorCpuTime, _ + _)
      }
    }
  }

  /** Run `f` as timed operation `op`: its jobs' task CPU is summed. */
  def op[T](op: Int)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.op", op.toString)
    try f
    finally sc.setLocalProperty("perfbench.op", null)
  }

  /** CPU time of the tasks of operation `op`, once drained. */
  def taskCpuMs(op: Int): Double = opCpuNs.getOrDefault(op, 0L) / 1e6

  def span[T](op: Int, name: String, layer: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.span", id.toString)
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, parent, op, run, name, layer, t0, System.nanoTime())
      stack = stack.tail
      sc.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Listener delivery is asynchronous: wait until no event arrives for a
   * while before reading the counters. */
  def drain(): Unit = {
    var last = -1L
    var waited = 0
    while (last != events && waited < 10000) {
      last = events
      Thread.sleep(250)
      waited += 250
    }
  }

  def write(path: String): Unit = {
    val lines = spans.map { s =>
      Harness.json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "run" -> s.run, "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs))
    }
    Files.write(Paths.get(path), lines.asJava)
  }
}

/**
 * Benchmark loop inside the JVM: runs one workload closed-loop with a
 * single client, checks what it can only see from inside (committed
 * snapshot, lineage, query results), and writes raw samples as JSON for
 * perfbench/run.py to summarise.
 *
 * Arguments are key=value: mode (update|query), data, work, cores, seconds,
 * min_ops, trace (0|1), warmup, out, spans; update mode adds seqs (the last
 * generated seq), query mode adds queries (comma list of name:layer in
 * pass order). Operations run while `seconds` have not passed, and at
 * least `min_ops` of them.
 */
object Harness {
  /** Output records are Maps; Options become a value or null. */
  type Obj = Map[String, Any]
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** CPU time of the client thread; Spark tasks run on other threads. */
  private def threadCpuNs(): Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  private def vmHwmKb(): Long = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toLong).getOrElse(0L)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Force a frame to be computed in full without keeping or writing it. */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** splitmix64 finalizer; perfbench/gen.py node_checksum is the same. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def main(args: Array[String]): Unit = {
    val conf = args.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    val work = conf("work")
    val cores = conf("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark, s"${conf("mode")}-${ProcessHandle.current().pid()}")
    spark.sparkContext.addSparkListener(tracer.listener)
    val result = try {
      conf("mode") match {
        case "update" => new UpdateBench(spark, conf, tracer).run()
        case "query" => new QueryBench(spark, conf, tracer).run()
      }
    } finally {
      tracer.write(conf("spans"))
    }
    val out = result ++ Map("session_ready_ms" -> sessionReadyMs, "vm_hwm_kb" -> vmHwmKb())
    Files.writeString(Paths.get(conf("out")), json.writeValueAsString(out))
    spark.stop()
  }

  /** Wall, client-thread CPU and GC time of one timed call. */
  final case class Cost(wallMs: Double, clientCpuMs: Double, gcMs: Long) {
    def fields: Obj = Map("wall_ms" -> wallMs, "client_cpu_ms" -> clientCpuMs, "gc_ms" -> gcMs)
  }

  /** Per-operation record of the update mode. */
  final case class Op(index: Int, traced: Boolean, cost: Cost, error: Option[String],
                      extra: Seq[(String, Any)]) {
    def fields: Obj = Map("i" -> index, "traced" -> traced, "error" -> error) ++ cost.fields ++ extra
  }

  private def timed[T](f: => T): (Either[Throwable, T], Cost) = {
    val g0 = gcMs()
    val c0 = threadCpuNs()
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Throwable => Left(e) }
    (r, Cost((System.nanoTime() - t0) / 1e6, (threadCpuNs() - c0) / 1e6, gcMs() - g0))
  }

  /** A traced run needs an untraced operation on each side of a traced one. */
  private def minOpsOf(conf: Map[String, String]): Int =
    if (conf("trace") == "1") math.max(3, conf("min_ops").toInt) else conf("min_ops").toInt

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private def countersJson(tracer: Tracer, span: Int): Obj = {
    val c = Option(tracer.counters.get(span)).getOrElse(new SpanCounters)
    Map("jobs" -> c.jobs, "task_run_ms" -> c.taskRunMs,
      "shuffle_write_bytes" -> c.shuffleWriteBytes, "spill_bytes" -> c.spillBytes)
  }

  // ------------------------------------------------------------ update

  /** One `UpdateJob.run(s, s)` per seq, as a live service applies each
   * diff when it arrives. Traced seqs are replayed afterwards through each
   * module's public functions into a scratch store. */
  final class UpdateBench(spark: SparkSession, conf: Map[String, String], tracer: Tracer) {
    private val data = conf("data")
    private val root = s"${conf("work")}/store"
    private val store = new SnapshotStore(root)
    private val changes = spark.read.parquet(s"$data/changes.parquet")
    private val nodeGeoms = spark.read.parquet(s"$data/node_geoms.parquet")
    private val wayMembers = spark.read.parquet(s"$data/way_members.parquet")
    private val emptyRels = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("rel_id", LongType), StructField("member_id", LongType),
        StructField("member_type", StringType), StructField("role", StringType),
        StructField("pos", IntegerType))))
    private val cellRes = 12
    private val partitions = 8

    private def applySeq(s: Long): Unit = {
      val report = UpdateJob.run(spark, store, changes, nodeGeoms, wayMembers, s, s)
      require(report.appliedSeqs == Seq(s),
        s"seq=$s: applied ${report.appliedSeqs}, skipped ${report.skippedSeqs}")
    }

    /** Re-run seq `s`'s inputs through each public function on the
     * pre-seq snapshot, materializing every result inside its span. */
    private def replay(op: Int, s: Long): Seq[(String, Any)] = {
      val scratch = new SnapshotStore(s"${conf("work")}/replay-store")
      val keep = spark.sparkContext.getPersistentRDDs.keySet
      def sp[T](name: String, layer: String)(f: => T): T = tracer.span(op, name, layer)(f)
      val out = tracer.span(op, "replay", "perfbench") {
        sp("SnapshotStore.watermark", "lineage")(store.watermark())
        val prev = store.readTable(spark, s - 1, "node_geoms").select("id", "lon", "lat")
        sp("SnapshotStore.readTable", "lineage")(materialize(prev))
        val compacted = sp("ChangeBatch.compact", "ops.ChangeBatch") {
          ChangeBatch.dedupLatestVersion(ChangeBatch.classify(changes.filter(col("seq") === s)))
            .localCheckpoint(true)
        }
        val dirtyWays = sp("ChangeBatch.dependencyClosure", "ops.ChangeBatch") {
          ChangeBatch.dependencyClosure(compacted, prev, wayMembers, emptyRels)._1
            .localCheckpoint(true)
        }
        val nDirty = dirtyWays.count()
        val nodeBatch = compacted.filter(col("obj_type") === "node")
          .select(col("id"), col("action"), col("lon"), col("lat"))
        sp("DeltaApply.mergeMetrics", "ops.DeltaApply")(DeltaApply.mergeMetrics(prev, nodeBatch))
        val merged = sp("DeltaApply.applyChangeBatch", "ops.DeltaApply") {
          DeltaApply.applyChangeBatch(prev, nodeBatch).select("id", "lon", "lat")
            .localCheckpoint(true)
        }
        val rebuilt = sp("GeometryBuild.buildWayGeoms", "ops.GeometryBuild") {
          val members = wayMembers.join(dirtyWays.hint("broadcast"), Seq("way_id"), "left_semi")
          GeometryBuild.buildWayGeoms(members, merged, withDerived = false)
            .withColumn("cell", cell_encode(st_x(col("wkt")), st_y(col("wkt")), lit(cellRes)))
            .localCheckpoint(true)
        }
        sp("SnapshotStore.writeTable.node_geoms", "lineage") {
          scratch.writeTable(
            merged.withColumn("cell", cell_encode(col("lon"), col("lat"), lit(cellRes))),
            s, "node_geoms", "cell", partitions)
        }
        sp("SnapshotStore.writeTable.dirty_way_geoms", "lineage") {
          scratch.writeTable(rebuilt, s, "dirty_way_geoms", "cell", partitions)
        }
        sp("SnapshotStore.commit", "lineage")(scratch.commit(s))
        Seq("dirty_ways" -> nDirty)
      }
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => keep(id) }.values.foreach(_.unpersist(false))
      rmTree(Paths.get(s"${conf("work")}/replay-store"))
      out
    }

    def run(): Obj = {
      val seconds = conf("seconds").toDouble
      val trace = conf("trace") == "1"
      val lastSeq = conf("seqs").toLong
      val warmup = conf("warmup").toInt
      val minOps = minOpsOf(conf)
      val ops = mutable.ArrayBuffer.empty[Op]
      val warmupErrors = mutable.ArrayBuffer.empty[String]
      var s = 1L
      while (s <= warmup) {
        val (r, _) = timed(applySeq(s))
        r.left.foreach(e => warmupErrors += s"seq=$s ${errText(e)}")
        s += 1
      }
      val firstOpMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var k = 0
      while (((System.nanoTime() - t0) / 1e9 < seconds || k < minOps) && s <= lastSeq) {
        val traced = trace && k % 2 == 1
        val (r, cost) = timed(tracer.op(k) {
          if (traced) tracer.span(k, s"UpdateJob.run(seq=$s)", "lineage.UpdateJob")(applySeq(s))
          else applySeq(s)
        })
        val replayed = if (traced && r.isRight) timed(replay(k, s))._1 else Right(Nil)
        val error = r.left.toOption.orElse(replayed.left.toOption).map(errText)
        ops += Op(k, traced, cost, error, Seq("seq" -> s) ++ replayed.getOrElse(Nil))
        s += 1
        k += 1
      }
      val measuredSec = (System.nanoTime() - t0) / 1e9
      tracer.drain()
      val appliedLast = s - 1

      // lineage row counts and per-table bytes of every committed seq
      val lineageRows = spark.read.parquet(s"$root/seq=*/lineage/stage=node_geoms")
        .groupBy("applied_seq").agg(sum("row_count").as("rows")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val phases = spark.read.parquet(s"$root/seq=*/stats")
        .filter(col("kind") === "phase_ms").select("applied_seq", "name", "value").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(r => r.getString(1) -> r.getLong(2)).toMap }
      val seqInfo = (1L to appliedLast).map { q =>
        val dir = Paths.get(s"$root/seq=$q")
        Map("seq" -> q, "lineage_rows" -> lineageRows.get(q),
          "bytes" -> Map(Seq("node_geoms", "dirty_way_geoms", "lineage", "stats")
            .map(t => t -> dirBytes(dir.resolve(t))): _*),
          "bytes_total" -> dirBytes(dir),
          "phase_ms" -> phases.getOrElse(q, Map.empty[String, Long]))
      }
      // the final committed snapshot, checksummed like gen.node_checksum
      val wm = store.watermark()
      val finalRows = wm.map(w => store.readTable(spark, w, "node_geoms")
        .select("id", "lon", "lat").collect()).getOrElse(Array.empty)
      var checksum = 0L
      finalRows.foreach { r =>
        checksum += mix(r.getLong(0) ^ mix(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ^
          mix(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
      }
      val opJson = ops.map { o =>
        val spanId = tracer.all.find(sp => sp.op == o.index && sp.layer == "lineage.UpdateJob").map(_.id)
        val c = spanId.map(countersJson(tracer, _))
        o.fields ++ Map("counters" -> c, "task_cpu_ms" -> tracer.taskCpuMs(o.index))
      }
      Map(
        "first_op_ms" -> firstOpMs,
        "measured_s" -> measuredSec,
        "ops" -> opJson,
        "warmup_errors" -> warmupErrors,
        "seqs" -> seqInfo,
        "watermark" -> wm,
        "final_rows" -> finalRows.length.toLong,
        "final_checksum" -> f"$checksum%016x",
        "cores" -> conf("cores").toInt)
    }
  }

  // ------------------------------------------------------------- query

  /** Full passes over a fixed query list through `SparkEntry.queries`; each
   * result is computed in full as its row count and an order-independent
   * checksum (sum of xxhash64 over every output column). */
  final class QueryBench(spark: SparkSession, conf: Map[String, String], tracer: Tracer) {
    private val data = conf("data")
    private val layerOf = conf("queries").split(",").toSeq.map { q =>
      val Array(name, layer) = q.split(":", 2)
      name -> layer
    }.toMap
    private val names = conf("queries").split(",").toSeq.map(_.takeWhile(_ != ':'))

    private def query(name: String): (Long, String) = {
      val df = SparkEntry.queries(name)(spark, data)
      val h = xxhash64(df.columns.map(c => df.col(c)).toIndexedSeq: _*).cast("decimal(20,0)")
      val r = df.agg(count(lit(1)), sum(h).cast("string")).head()
      (r.getLong(0), Option(r.getString(1)).getOrElse("0"))
    }

    private def pass(index: Int, traced: Boolean): (Seq[Obj], Cost) = {
      val keep = spark.sparkContext.getPersistentRDDs.keySet
      val (rows, cost) = timed(tracer.op(index)(names.map { q =>
        val (r, c) =
          if (traced) timed(tracer.span(index, q, layerOf(q))(query(q))) else timed(query(q))
        Map("q" -> q, "wall_ms" -> c.wallMs, "rows" -> r.toOption.map(_._1),
          "checksum" -> r.toOption.map(_._2), "error" -> r.left.toOption.map(errText))
      }))
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => keep(id) }.values.foreach(_.unpersist(false))
      (rows.getOrElse(Nil), cost)
    }

    def run(): Obj = {
      val seconds = conf("seconds").toDouble
      val trace = conf("trace") == "1"
      val minOps = minOpsOf(conf)
      (0 until conf("warmup").toInt).foreach(i => pass(-1 - i, traced = false))
      val firstOpMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val ops = mutable.ArrayBuffer.empty[Obj]
      var k = 0
      while ((System.nanoTime() - t0) / 1e9 < seconds || k < minOps) {
        val traced = trace && k % 2 == 1
        val (rows, cost) = pass(k, traced)
        ops += Map("i" -> k, "traced" -> traced, "queries" -> rows) ++ cost.fields
        k += 1
      }
      val measuredSec = (System.nanoTime() - t0) / 1e9
      tracer.drain()
      val opJson = ops.map(o => o + ("task_cpu_ms" -> tracer.taskCpuMs(o("i").asInstanceOf[Int])))
      val counters = tracer.all.map(sp => Map("span" -> sp.id, "op" -> sp.op,
        "name" -> sp.name, "counters" -> countersJson(tracer, sp.id)))
      Map("first_op_ms" -> firstOpMs, "measured_s" -> measuredSec, "ops" -> opJson,
        "span_counters" -> counters, "cores" -> conf("cores").toInt)
    }
  }
}
