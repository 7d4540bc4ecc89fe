package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, MapType}

import graft.{SparkEntry, Tables}
import graft.streaming.{EventPipelines, ReplicationPipeline}
import graft.streaming.EventPipelines.Event

/** One benchmark run inside one JVM: starts the session, runs the untimed
  * warm-up, runs timed passes for the requested seconds, checks outputs and
  * writes everything it measured to a JSON file that `run.py` turns into
  * metrics. Usage (normally through run.py):
  *
  * {{{
  * graftbench.Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --out FILE [--inject-failure]
  * }}}
  *
  * A traced run also writes its spans, per-layer self time and per-entry
  * census to `trace.json` in the work directory.
  */
object Harness {

  /** Entries of the two batch workloads, in canonical (warm-up) order. */
  val workloads: Map[String, Seq[String]] = Map(
    // the reference's replication surface: scan/projection, writetime,
    // tiling, snapshot diff, snapshot store + DSv2 time travel, delta
    // apply, PK reconcile, hashing, LZ4 compression, LOB offload and CQL
    // rendering
    "cdc_replication" -> Seq("source_scan_project", "writetime_greatest", "tile_assign",
      "snapshot_diff_updates", "snapshot_store_changes", "snapshot_dsv2_timetravel",
      "delta_merge_apply", "pk_reconcile_missing", "transform_hash_sha256",
      "compress_columns", "large_object_offload", "cql_insert_render"),
    // iterative, kernel-heavy operators: MinHash/LSH near-duplicate pairs
    // closed by a connected-components fixpoint, and connected components
    // over a cosine kNN graph of the embeddings
    // (not in BENCHMARK.json: see the README)
    "curation_dedup" -> Seq("dedup_clusters", "knn_components"))

  val streamWorkload = "replication_stream"
  /** Events fed in the stream's warm-up and in each stream pass, in
    * micro-batches of 1 500-2 500 events (2 000 on average).
    */
  val warmupEvents = 6000
  val passEvents = 8000
  /** Leading timed passes that still run measurably slower than later ones
    * (JIT and codegen warm-up: cdc_replication's passes 0 and 1 take about
    * 5.0 and 4.2 s, later ones 3.5 s). Their operations are checked and
    * counted, but run.py leaves them out of every time, and a traced run
    * leaves them out of its layers.
    */
  val warmPasses = 2
  /** Timed passes a run makes however short the window. A traced run
    * alternates untraced and traced passes, so its first two measured
    * passes are one of each.
    */
  val minPasses = warmPasses + 2
  /** No pass starts this long after the JVM started, whatever the window. */
  val hardCapS = 120.0

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, work: String, out: String,
                        injectFailure: Boolean)

  /** The JVM's CPU time and the machine's stolen CPU time (all cores) at
    * one moment, in milliseconds; differences give an interval's share.
    * run.py takes set-up and pass times net of steal with them.
    */
  final case class Cpu(cpuMs: Double, stealMs: Double) {
    def -(o: Cpu): Cpu = Cpu(cpuMs - o.cpuMs, stealMs - o.stealMs)
    def json: Map[String, Double] = Map("cpu_s" -> cpuMs / 1e3, "steal_s" -> stealMs / 1e3)
  }

  /** One timed operation. Times are milliseconds since the JVM started. */
  final case class Op(id: Int, name: String, startMs: Double, buildEndMs: Double,
                      endMs: Double, ok: Boolean, rows: Long, error: String)

  final case class Pass(index: Int, traced: Boolean, startMs: Double, endMs: Double,
                        ops: Seq[Op], cpu: Cpu)

  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - t0Ns) / 1e6
  def epochMs(ms: Double): Long = t0EpochMs + ms.toLong

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("data"), req("work"), req("out"),
      argv.contains("--inject-failure"))
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the codec Bench pins (see graft.Bench)
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(a.workload == streamWorkload || workloads.contains(a.workload),
      s"unknown workload ${a.workload}")
    val atStart = Cpu(0, stealMs)
    HeapAfterGc.install()
    val spark = session(a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = nowMs
    val tracer = new Tracer(spark)
    if (a.trace) tracer.install()
    val conf = Map(
      "master" -> spark.sparkContext.master,
      "cpus" -> Runtime.getRuntime.availableProcessors,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "codec" -> spark.conf.get("spark.io.compression.codec"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "session" -> conf, "warm_passes" -> warmPasses)
    try {
      val w: Workload =
        if (a.workload == streamWorkload) new StreamWorkload(spark, a, tracer)
        else new BatchWorkload(spark, a, tracer, workloads(a.workload))
      result("warmup") = w.warmup()
      val firstTimedMs = nowMs
      val setupCpu = cpu() - atStart
      val passes = timedLoop(a, w)
      result("check") = w.check()
      result("setup") = Map("session_s" -> sessionMs / 1e3,
        "warmup_s" -> (firstTimedMs - sessionMs) / 1e3,
        "first_timed_epoch_ms" -> epochMs(firstTimedMs)) ++ setupCpu.json
      result("passes") = passes.map(p => Map("index" -> p.index, "traced" -> p.traced,
        "dur_s" -> (p.endMs - p.startMs) / 1e3,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "dur_s" -> (o.endMs - o.startMs) / 1e3,
          "ok" -> o.ok, "rows" -> o.rows, "error" -> o.error))) ++ p.cpu.json)
      if (a.trace) {
        val t = TraceReport(passes.filter(p => p.traced && p.index >= warmPasses), tracer,
          w.censusByEntry)
        result("layers") = t.layers + ("jvm.peak_heap_mb" -> HeapAfterGc.peakMb)
        write(new File(a.work, "trace.json").getPath, Json.render(Map("workload" -> a.workload,
          "seed" -> a.seed, "spans" -> t.spans, "census" -> t.census,
          "self_s" -> t.selfSeconds, "layers" -> t.layers)))
      }
    } catch {
      case NonFatal(e) => result("fatal") = s"${e.getClass.getName}: ${e.getMessage}"
    } finally {
      result("peak_rss_mb") = peakRssMb
      write(a.out, Json.render(result))
      spark.stop()
    }
  }

  /** Runs passes until the window closes (at least [[minPasses]]). In a
    * traced run every second pass is traced, so the untraced passes of
    * the same run measure what tracing costs.
    */
  def timedLoop(a: Args, w: Workload): Seq[Pass] = {
    val deadline = nowMs + a.seconds * 1e3
    val passes = mutable.ArrayBuffer[Pass]()
    var more = true
    while (more && (passes.size < minPasses || nowMs < deadline) &&
        nowMs < hardCapS * 1e3) {
      val traced = a.trace && passes.size % 2 == 1
      if (traced) w.tracer.attach()
      val (cpu0, start) = (cpu(), nowMs)
      val ops = w.pass(passes.size, traced)
      val used = cpu() - cpu0
      if (traced) w.tracer.detach()
      if (ops.isEmpty) more = false
      else passes += Pass(passes.size, traced, start, ops.last.endMs, ops, used)
      more = more && !w.exhausted
    }
    passes.toSeq
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this JVM (all threads) and stolen time so far. */
  def cpu(): Cpu = Cpu(os.getProcessCpuTime / 1e6, stealMs)

  /** CPU time the hypervisor gave to other guests while this machine's
    * cores wanted to run (the `steal` column of /proc/stat), all cores.
    */
  def stealMs: Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      l.trim.split("\\s+")(8).toDouble * 1000.0 / 100 // USER_HZ ticks
    }.getOrElse(0.0)
    finally src.close()
  }

  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  def errorMessage(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  def write(path: String, text: String): Unit = {
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, text.getBytes(UTF_8))
  }
}

/** A workload: an untimed warm-up, then timed passes of operations. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer) {
  protected var nextOp = 0
  def warmup(): Seq[Map[String, Any]]
  /** Runs pass `index`; an empty result means there was nothing left to run. */
  def pass(index: Int, traced: Boolean): Seq[Harness.Op]
  def exhausted: Boolean = false
  def check(): Map[String, Any] = Map.empty
  /** Whether census counts are kept per entry (batch) or not (stream). */
  def censusByEntry: Boolean
}

/** Entries of `graft.SparkEntry.queries`, one at a time, each materialised
  * through the `noop` sink. The seed permutes the entry order of every
  * pass. The warm-up runs every entry once in canonical order and takes an
  * order-independent digest of each result.
  */
final class BatchWorkload(spark: SparkSession, a: Harness.Args, tracer: Tracer,
                          entries: Seq[String]) extends Workload(spark, tracer) {
  import Harness.{nowMs, epochMs, errorMessage, Op}
  private val rng = new Random(a.seed)
  private val sc = spark.sparkContext
  val censusByEntry = true

  def build(name: String): DataFrame = SparkEntry.queries(name)(spark, a.data)

  def warmup(): Seq[Map[String, Any]] = entries.map { name =>
    val start = nowMs
    val r = try {
      val (rows, digest) = Digest.of(build(name))
      Map("name" -> name, "ok" -> true, "rows" -> rows, "digest" -> digest)
    } catch {
      case NonFatal(e) => Map("name" -> name, "ok" -> false, "error" -> errorMessage(e))
    }
    r + ("dur_s" -> (nowMs - start) / 1e3)
  }

  def pass(index: Int, traced: Boolean): Seq[Op] = {
    val order = rng.shuffle(entries)
    order.zipWithIndex.map { case (name, i) =>
      // --inject-failure: the first entry of the first pass whose time
      // counts fails
      execute(name, traced, fail = a.injectFailure && index == Harness.warmPasses && i == 0)
    }
  }

  private def execute(name: String, traced: Boolean, fail: Boolean): Op = {
    val id = nextOp
    nextOp += 1
    val start = nowMs
    if (traced) {
      tracer.opStarted(id, epochMs(start))
      sc.setJobGroup(s"graftbench:$id:build", name)
    }
    var buildEnd = start
    var rows = -1L
    var error = ""
    try {
      if (fail) throw new IllegalStateException("deliberate failure (--inject-failure)")
      val df = build(name)
      buildEnd = nowMs
      if (traced) {
        // the returned DataFrame was analysed eagerly, inside the build
        tracer.counters(id).analysisMs +=
          df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        tracer.runPhaseStarted(id, epochMs(buildEnd))
        sc.setJobGroup(s"graftbench:$id:run", name)
      }
      val obs = Observation()
      df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
      rows = obs.get("rows").asInstanceOf[Long]
    } catch {
      case NonFatal(e) => error = errorMessage(e)
    } finally {
      if (traced) sc.clearJobGroup()
    }
    val end = nowMs
    if (traced) tracer.opEnded(id, epochMs(end) + 1)
    Op(id, name, start, buildEnd, end, error.isEmpty, rows, error)
  }
}

/** `ReplicationPipeline.start` fed by a `MemoryStream` in a closed loop:
  * the next micro-batch is offered only after the previous one committed.
  * The seed shuffles the event order (out-of-order arrival) and draws the
  * micro-batch boundaries.
  */
final class StreamWorkload(spark: SparkSession, a: Harness.Args, tracer: Tracer)
    extends Workload(spark, tracer) {
  import Harness.{nowMs, epochMs, errorMessage, Op}
  import spark.implicits._
  val censusByEntry = false

  private val outDir = new File(a.work, "stream-out").getAbsolutePath
  private val events: IndexedSeq[Event] = {
    val all = Tables.events(spark, a.data)
      .select("event_id", "ts", "user_id", "event_type", "value").as[Event].collect()
    new Random(a.seed).shuffle(all.toIndexedSeq)
  }
  private val sizes = new Random(a.seed ^ 0x5eedL)
  private var fed = 0
  private val input = MemoryStream[Event](spark)
  private var query: StreamingQuery = _

  override def exhausted: Boolean = fed + Harness.passEvents > events.size

  /** Cuts the next `n` events into `n / 2000` micro-batches, each cut
    * drawn within 250 events of an even split. A pass's cost grows with
    * its micro-batch count, so the count is fixed and only the boundaries
    * vary with the seed.
    */
  private def nextEvents(n: Int): Seq[Seq[Event]] = {
    val slice = events.slice(fed, fed + n)
    fed += slice.size
    val k = n / 2000
    val cuts = (1 until k).map(i => i * slice.size / k - 250 + sizes.nextInt(501))
    ((0 +: cuts) :+ slice.size).sliding(2).map { case Seq(s, e) => slice.slice(s, e) }.toSeq
  }

  def warmup(): Seq[Map[String, Any]] = {
    query = ReplicationPipeline.start(input.toDS(), outDir,
      new File(a.work, "stream-checkpoint").getAbsolutePath)
    val start = nowMs
    val batches = nextEvents(Harness.warmupEvents)
    batches.foreach(b => feed(b))
    Seq(Map("name" -> "micro_batch", "ok" -> true, "rows" -> batches.map(_.size).sum,
      "dur_s" -> (nowMs - start) / 1e3))
  }

  private def feed(b: Seq[Event]): Unit = {
    input.addData(b)
    query.processAllAvailable()
  }

  def pass(index: Int, traced: Boolean): Seq[Op] = {
    if (exhausted) return Seq.empty
    val ops = mutable.ArrayBuffer[Op]()
    val it = nextEvents(Harness.passEvents).iterator
    while (it.hasNext && (ops.isEmpty || ops.last.ok)) {
      val b = it.next()
      val id = nextOp
      nextOp += 1
      val start = nowMs
      if (traced) tracer.opStarted(id, epochMs(start))
      val error = try { feed(b); "" } catch { case NonFatal(e) => errorMessage(e) }
      val end = nowMs
      if (traced) tracer.opEnded(id, epochMs(end) + 1)
      ops += Op(id, "micro_batch", start, start, end, error.isEmpty, b.size, error)
    }
    ops.toSeq
  }

  /** Replaying the per-batch deltas in epoch order, last write per key
    * wins, must give `EventPipelines.latestPerKeyBatch` over every event
    * fed (warm-up included).
    */
  override def check(): Map[String, Any] = {
    query.stop()
    val deltas = spark.read.parquet(s"$outDir/batch_*")
      .withColumn("epoch", regexp_extract(input_file_name(), "batch_(\\d+)", 1).cast("long"))
    val replayed = deltas
      .withColumn("rk", row_number().over(
        Window.partitionBy("user_id", "event_type").orderBy(col("epoch").desc)))
      .filter(col("rk") === 1)
    def rows(df: DataFrame) = df.select("user_id", "event_type", "event_id", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val got = rows(replayed)
    val want = rows(EventPipelines.latestPerKeyBatch(events.take(fed).toDF()))
    Map("ok" -> (got == want), "keys" -> want.size, "events" -> fed,
      "missing" -> (want -- got).size, "unexpected" -> (got -- want).size)
  }
}

/** Order-independent result digests: the row count and the decimal sum of
  * a 64-bit hash of every row. Maps are hashed as key-sorted entry arrays.
  */
object Digest {
  def of(result: DataFrame): (Long, String) = {
    // positional names: results may repeat a column name
    val df = result.toDF(result.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.map { f =>
      val c = col(f.name)
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"),
        sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))).as("digest"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("rows").asInstanceOf[Long], String.valueOf(m("digest")))
  }

}

/** The largest heap occupancy right after a garbage collection, over all
  * heap pools: the data the JVM still held when it last cleaned up, without
  * the garbage a large heap lets pile up between collections. With the
  * fixed 2 GiB heap a pass sees only a few young collections, so this
  * samples the live heap coarsely (it moves 15-20% between runs); it is
  * reported with the per-layer metrics.
  */
object HeapAfterGc {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter}
  import javax.management.openmbean.CompositeData
  import scala.jdk.CollectionConverters._
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var peakBytes = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peakBytes = math.max(peakBytes, used) }
      }, null, null)
    case _ =>
  }

  def peakMb: Double = peakBytes / 1048576.0
}
