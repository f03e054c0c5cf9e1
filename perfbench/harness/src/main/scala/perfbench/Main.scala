package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measuring half of the benchmark: one JVM, one client thread,
  * one `local[k]` session. It runs what the plan names — set-up, one
  * cold pass, then the steady passes — and writes what it saw as raw
  * JSON. The plan (inputs, order, sizes) and every statistic are made by
  * `perfbench/run.py`.
  *
  * Usage: `perfbench.Main <plan.json> <raw.json>` */
object Main {
  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val plan = mapper.readTree(Files.readString(Paths.get(args(0))))
    val raw = new Harness(plan, mapper).run()
    Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(raw))
    sys.exit(0)
  }
}

final class Harness(plan: JsonNode, mapper: ObjectMapper) {
  import Harness._

  private def str(k: String): String = plan.get(k).asText
  private def strs(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
  private def obj(): ObjectNode = mapper.createObjectNode()

  private val workload = str("workload")
  private val isStore = workload == "store"
  private val dataDir = str("data_dir")
  private val workDir = str("work_dir")
  private val traceRun = plan.get("trace").asBoolean
  private val expected: Map[String, String] =
    plan.get("expected").properties.asScala.map(e => e.getKey -> e.getValue.asText).toMap
  private val store = plan.get("store")

  // one clock for every span: nanoseconds since the harness started;
  // listener times (epoch ms) are mapped onto it
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  private def now(): Long = System.nanoTime() - t0Ns
  private def fromMs(ms: Long): Long = (ms - t0Ms) * 1000000L

  private var spark: SparkSession = _
  private val recorder = new Recorder
  private val streams = new StreamRecorder
  private val heap = new HeapWatch
  private val spans = ArrayBuffer.empty[Span]
  private var storeInputs: (DataFrame, graft.NdArray) = _

  private def span(parent: Int, name: String, label: String, start: Long, end: Long): Int = {
    spans += Span(spans.size + 1, parent, name, label, start, end)
    spans.size
  }

  // ---- set-up -------------------------------------------------------

  /** Session, native functions, the streaming listener and, on `store`,
    * the seeded input arrays. The job/stage/task listener is registered
    * only for traced passes, so untraced passes run without it. */
  private def setUp(): Unit = {
    val b = SparkSession.builder().master(str("master")).appName("perfbench")
    plan.get("confs").properties.asScala.foreach(e => b.config(e.getKey, e.getValue.asText))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    spark.streams.addListener(streams)
    if (isStore) storeInputs = makeStoreInputs()
  }

  /** The seeded arrays. The value of every cell is a pure SQL function
    * of its index that the plan supplies; both arrays are computed and
    * cached here, so a write reads them from memory. */
  private def makeStoreInputs(): (DataFrame, graft.NdArray) = {
    val flat = spark.range(store.get("cells").asLong)
      .selectExpr("id AS idx", s"${store.get("value_sql").asText} AS v").cache()
    val shape = store.get("nd_shape").elements.asScala.map(_.asLong).toSeq
    val Seq(_, d1, d2) = shape
    val nd = spark.range(shape.product)
      .selectExpr(s"id DIV ${d1 * d2} AS c0", s"(id DIV $d2) % $d1 AS c1", s"id % $d2 AS c2")
      .selectExpr("c0", "c1", "c2", s"${store.get("nd_value_sql").asText} AS v").cache()
    flat.count()
    nd.count()
    (flat, new graft.NdArray(nd, shape))
  }

  // ---- operations ---------------------------------------------------

  private def phase(p: String): Unit = spark.sparkContext.setLocalProperty(Recorder.PhaseKey, p)

  private def runOp(pass: Int, name: String, traced: Boolean, passSpan: Int): ObjectNode = {
    val rec = obj().put("name", name)
    val start = now()
    try {
      if (isStore) storeOp(name, pass, rec, traced, passSpan, start)
      else queryOp(name, rec, traced, passSpan, start)
    } catch {
      case NonFatal(e) =>
        rec.put("ok", false)
        rec.put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally {
      phase("")
      if (!isStore) spark.catalog.clearCache()
    }
    if (traced) {
      org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
      collectEvents(rec, traced = true)
    }
    rec
  }

  private def queryOp(name: String, rec: ObjectNode, traced: Boolean, passSpan: Int,
      start: Long): Unit = {
    val fn = graft.SparkEntry.queries(name)
    phase("build")
    val df = fn(spark, dataDir)
    val built = now()
    phase("action")
    val rows = df.collect()
    val end = now()
    phase("check")
    val hash = graft.CanonicalHash.ofRows(rows, df.schema)
    val ok = expected.get(name).contains(hash)
    rec.put("ok", ok)
    if (!ok) rec.put("error", s"answer hash $hash, expected ${expected.getOrElse(name, "none pinned")}")
    rec.put("rows", rows.length)
    rec.put("wall_s", (end - start) / 1e9)
    rec.put("build_s", (built - start) / 1e9)
    rec.put("action_s", (end - built) / 1e9)
    if (traced) {
      val op = span(passSpan, "op", name, start, end)
      span(op, "build", name, start, built)
      span(op, "action", name, built, end)
      traceWindows(rec, op, start, end, Seq(built -> end))
      planStats(df, rec)
    }
  }

  private def window(a: ArrayNode, from: Long, to: Long): Unit = a.addArray().add(from).add(to)

  /** The operation's extent and the windows in which it ran engine
    * actions, for the scheduling-gap and utilization arithmetic. */
  private def traceWindows(rec: ObjectNode, op: Int, start: Long, end: Long,
      actions: Seq[(Long, Long)]): Unit = {
    rec.put("op_span", op)
    val extent = rec.putArray("span")
    extent.add(start).add(end)
    val windows = rec.putArray("windows")
    actions.foreach { case (a, b) => window(windows, a, b) }
  }

  /** Catalyst's own phase timings and the shape of the physical plan of
    * the operation's final action (read after it ran, so the plan is
    * the adaptive plan's final form). */
  private def planStats(df: DataFrame, rec: ObjectNode): Unit = {
    val qe = df.queryExecution
    val phases = qe.tracker.phases
    def phaseMs(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    rec.putObject("catalyst")
      .put("analysis_ms", phaseMs("analysis"))
      .put("optimization_ms", phaseMs("optimization"))
      .put("planning_ms", phaseMs("planning"))
    val shape = rec.putObject("plan")
    PlanShape.count(qe.executedPlan).foreach { case (k, v) => shape.put(k, v) }
  }

  private def storeOp(name: String, pass: Int, rec: ObjectNode, traced: Boolean,
      passSpan: Int, start: Long): Unit = {
    val dir = s"$workDir/store/$name-$pass"
    val (flat, nd) = storeInputs
    val cells = store.get("cells").asLong
    val chunk = store.get("chunk").asLong
    val inner = store.get("inner").asLong
    val ndChunks = store.get("nd_chunks").elements.asScala.map(_.asLong).toSeq
    val ndInner = store.get("nd_inner").elements.asScala.map(_.asLong).toSeq
    import graft.sources._
    phase("write")
    name match {
      case "zarr2_blosc" => Zarr.write1d(flat, dir, cells, chunk, compressor = Some("blosc"))
      case "zarr3_sharded_zstd" =>
        Zarr.write1dSharded(flat, dir, cells, chunk, inner, compressor = Some("zstd"))
      case "npy_stack" => NpyStack.write(flat, dir, chunk, cells)
      case "tiledb" =>
        TileDb.createArray(spark, dir, TileDb.Schema(Seq(cells), Seq(chunk)))
        TileDb.write(flat, dir, ts = 1L, blockCells = chunk)
      case "hdf5_stack" => Hdf5.writeStack(flat, dir, chunk, cells)
      case "nd_zarr3_sharded_zstd" =>
        Zarr.writeNd(nd, dir, ndChunks, compressor = Some("zstd"), format = 3, shard = Some(ndInner))
    }
    val written = now()
    phase("build")
    val back: DataFrame = name match {
      case "zarr2_blosc" | "zarr3_sharded_zstd" => Zarr.read1d(spark, dir)
      case "npy_stack" => NpyStack.read(spark, dir)
      case "tiledb" => TileDb.read(spark, dir)
      case "hdf5_stack" => Hdf5.readStack(spark, dir)
      case "nd_zarr3_sharded_zstd" => Zarr.readNd(spark, dir).elements
    }
    val isNd = name.startsWith("nd_")
    // the read is forced by the aggregate that verifies it: every cell
    // read back is compared with the value its index was written with
    val expect = store.get(if (isNd) "nd_value_sql" else "value_sql").asText
    val index = if (isNd) s"c0 * ${nd.shape(1) * nd.shape(2)} + c1 * ${nd.shape(2)} + c2" else "idx"
    val verify = back.selectExpr(s"$index AS i", s"v = ($expect) AS same")
      .selectExpr("count(*) AS n", "sum(i) AS s", "min(i) AS lo", "max(i) AS hi",
        "sum(pmod(xxhash64(i), 1000003)) AS h", "sum(IF(same, 0, 1)) AS bad")
    val readBuilt = now()
    phase("action")
    val got = verify.collect()(0)
    val read = now()
    phase("check")
    val n = if (isNd) nd.shape.product else cells
    val want = Seq(n, n * (n - 1) / 2, 0L, n - 1, indexHash(n), 0L)
    val have = (0 until 6).map(got.getLong)
    val end = now()
    val ok = have == want
    rec.put("ok", ok)
    if (!ok) rec.put("error",
      s"read back (count, sum, min, max, hash, mismatches) = $have, expected $want")
    rec.put("wall_s", (read - start) / 1e9)
    rec.put("write_s", (written - start) / 1e9)
    rec.put("read_s", (read - written) / 1e9)
    rec.put("build_s", (readBuilt - written) / 1e9)
    rec.put("check_s", (end - read) / 1e9)
    rec.put("raw_bytes", n * 8.0)
    val files = Files.walk(Paths.get(dir)).iterator.asScala.filter(Files.isRegularFile(_)).toSeq
    rec.put("stored_bytes", files.map(Files.size).sum.toDouble)
    rec.put("objects", files.size)
    if (traced) {
      val op = span(passSpan, "op", name, start, end)
      span(op, "write", name, start, written)
      val rd = span(op, "read", name, written, read)
      span(rd, "build", name, written, readBuilt)
      span(rd, "action", name, readBuilt, read)
      span(op, "check", name, read, end)
      traceWindows(rec, op, start, read, Seq(start -> written, readBuilt -> read))
      planStats(verify, rec)
    }
    deleteTree(Paths.get(dir))
  }

  private val indexHashes = scala.collection.mutable.Map.empty[Long, Long]

  /** Order-free fingerprint of the index set 0 until n. */
  private def indexHash(n: Long): Long = indexHashes.getOrElseUpdate(n,
    spark.range(n).selectExpr("sum(pmod(xxhash64(id), 1000003))").collect()(0).getLong(0))

  /** Attach the micro-batches and, on traced passes, the jobs, stages and
    * tasks drained from the listeners to the record they belong to. */
  private def collectEvents(rec: ObjectNode, traced: Boolean): Unit = {
    val batches = rec.putArray("batches")
    streams.drain().foreach { b =>
      val x = batches.addObject().put("run", b.run).put("batch", b.batchId)
        .put("start", fromMs(b.startMs)).put("commit_ms", b.commitMs).put("state_rows", b.stateRows)
      val d = x.putObject("durations")
      b.durations.foreach { case (k, v) => d.put(k, v) }
    }
    if (!traced) return
    val (jobs, stages, tasks) = recorder.drain()
    val js = rec.putArray("jobs")
    jobs.foreach { j =>
      val x = js.addArray().add(j.id).add(j.phase).add(fromMs(j.startMs)).add(fromMs(j.endMs))
      val ids = x.addArray()
      j.stageIds.foreach(i => ids.add(i))
    }
    val ss = rec.putArray("stages")
    stages.foreach(s => ss.addArray().add(s.id).add(fromMs(s.submitMs)).add(fromMs(s.endMs)))
    val ts = rec.putArray("tasks")
    tasks.foreach(t => ts.addArray().add(t.stageId).add(fromMs(t.launchMs)).add(fromMs(t.finishMs))
      .add(t.cpuNs).add(t.gcMs).add(t.shuffleWrite).add(t.shuffleRead).add(t.spill).add(t.input))
  }

  /** One pass. `wall_s` runs from its first operation's start to its last
    * one's end, so on a traced pass it includes the tracing work: the
    * listener, the per-operation listener-bus drain and the collection
    * of events and plan statistics. */
  private def runPass(index: Int, kind: String, traced: Boolean, order: Seq[String]): ObjectNode = {
    if (traced) spark.sparkContext.addSparkListener(recorder)
    val start = now()
    val passSpan = if (traced) span(0, "pass", s"$kind-$index", start, start) else 0
    val ops = order.map(name => runOp(index, name, traced, passSpan))
    val end = now()
    if (traced) {
      spans(passSpan - 1) = spans(passSpan - 1).copy(end = end)
      spark.sparkContext.removeSparkListener(recorder)
    }
    val pass = obj().put("index", index).put("kind", kind).put("traced", traced)
      .put("wall_s", (end - start) / 1e9)
    pass.putArray("ops").addAll(ops.asJava)
    if (!traced) {
      org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
      collectEvents(pass, traced = false)
    }
    pass
  }

  // ---- the run ------------------------------------------------------

  def run(): ObjectNode = {
    val out = obj().put("workload", workload).put("trace", traceRun)
    setUp()
    out.put("k", spark.sparkContext.defaultParallelism)

    // set-up ends here: run.py counts it from the launch of this process
    val coldStart = java.time.Instant.now()
    out.put("cold_start_epoch_ns", coldStart.getEpochSecond * 1000000000L + coldStart.getNano)
    val passes = ArrayBuffer.empty[ObjectNode]
    passes += runPass(0, "cold", traceRun, strs(plan.get("cold")))
    out.set[JsonNode]("jvm_cold", jvmCounters())
    out.put("jit_drain_s", drainJit())

    // warm-up passes (not measured; the code they run is still being
    // compiled), then a fixed number of steady passes, so that every
    // commit measures the same work. A traced run compares traced (T)
    // with untraced (U) passes in the order U T T U ..., so that drift
    // falls evenly on both sides.
    val warm = plan.get("warm_passes").asInt
    val order = plan.get("passes").elements.asScala.map(strs).toIndexedSeq
    val steadyStart = now()
    order.indices.foreach { i =>
      if (i == warm) heap.reset()
      val kind = if (i < warm) "warm" else "steady"
      val traced = traceRun && i >= warm && ((i - warm) % 4 == 1 || (i - warm) % 4 == 2)
      passes += runPass(i + 1, kind, traced, order(i))
    }
    out.put("measured_s", (now() - steadyStart) / 1e9)
    out.put("heap_live_peak_mb", heap.peakMb)
    out.putArray("passes").addAll(passes.asJava)
    spark.stop()

    val (probe, probePar) = Probe.run()
    out.put("probe_ms", probe)
    out.put("probe_par_ms", probePar)
    if (traceRun) {
      val all = out.putArray("spans")
      spans.foreach(s => all.addArray().add(s.id).add(s.parent).add(s.name).add(s.label)
        .add(s.start).add(s.end))
    }
    out
  }

  /** Wait, untimed, until the JIT compiler has been idle for a few
    * samples in a row (bounded), so that steady passes do not time
    * methods still queued for compilation after the cold pass. */
  private def drainJit(): Double = {
    val start = now()
    val mx = ManagementFactory.getCompilationMXBean
    if (mx != null && mx.isCompilationTimeMonitoringSupported) {
      var last = mx.getTotalCompilationTime
      var stable = 0
      while (stable < JitStableSamples && (now() - start) / 1e9 < JitDrainMaxS) {
        Thread.sleep(JitSampleMs)
        val t = mx.getTotalCompilationTime
        if (t == last) stable += 1 else { stable = 0; last = t }
      }
    }
    (now() - start) / 1e9
  }

  private def jvmCounters(): ObjectNode = {
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val codeCache = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum
    val compile = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    obj().put("jit_ms", jit).put("gc_ms", gc).put("codecache_mb", codeCache / 1e6)
      .put("codegen_compiles", compile.getCount)
      .put("codegen_compile_ms", compile.getCount * compile.getSnapshot.getMean)
  }
}

object Harness {
  private val JitStableSamples = 3
  private val JitSampleMs = 100L
  private val JitDrainMaxS = 6.0

  final case class Span(id: Int, parent: Int, name: String, label: String, start: Long, end: Long)

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
}
