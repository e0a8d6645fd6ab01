package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command-line options; `run.py` passes them after building. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, root: String, data: String, record: String, cpus: Int)

/** What every workload shares: the session, the recorder, the seed's
  * random stream and the run's scratch root. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val opts: Opts) {
  val rnd = new scala.util.Random(opts.seed)
  def dir(sub: String): String = s"${opts.root}/$sub"
}

/** One benchmark workload. The harness calls `setup`, `warmup`, then
  * `timed` until the deadline, then `check`.
  *
  * Set-up runs once: `bi_serve` can start its JDBC server only once
  * per JVM, and a second set-up would not fit the run's time budget in
  * the others. */
trait Workload {
  def setup(ctx: Ctx, dir: String): Unit
  def warmup(ctx: Ctx): Unit
  def timed(ctx: Ctx, deadlineNs: Long): Unit
  /** Correctness checks outside the timed window: one message per wrong
    * answer. */
  def check(ctx: Ctx): Seq[String]
  def attempted: Int
  def failed: Int
  /** (p50 ms of the workload's op, items per second) of the timed
    * window, plus its own named metrics (with percentiles and sample
    * counts) for the record. */
  def endToEnd(ctx: Ctx, windowS: Double): (Double, Double, Map[String, Double])
  def perLayer(ctx: Ctx, windowS: Double): Map[String, Double]
  def info: Map[String, Any]
  def close(): Unit = ()
}

object Main {

  /** Writes the run record (Jackson with its Scala module, both on
    * Spark's classpath). NaN is written bare, as Python's json reads it. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  /** Evaluate every cell of every row: hash each row across all output
    * columns, then aggregate to one row (the same forcing `graft.Bench`
    * uses; `count()` would let projections be pruned). */
  def force(df: DataFrame): Long = {
    val r = df.agg(count(lit(1)), sum(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))))
      .collect()(0)
    r.getLong(0)
  }

  /** Unpersist every cached or checkpointed RDD a previous op left
    * behind, as `graft.Bench` does between queries: otherwise how many
    * blocks are still held, and so memory pressure on the next op,
    * depends on when the cleaner last ran. */
  def dropCachedBlocks(ctx: Ctx): Unit =
    ctx.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = p * (s.size - 1)
      val lo = rank.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (rank - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def copyDir(src: String, dst: String): Unit = {
    new java.io.File(dst).mkdirs()
    new java.io.File(src).listFiles().filter(_.isFile).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(dst, f.getName).toPath)
    }
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.getName.endsWith(".crc")) 0L
    else f.length()

  /** One row per span, with the Spark work its op ran. */
  def opRows(ctx: Ctx, spans: Seq[Span]): Seq[Map[String, Any]] = {
    val all = ctx.rec.allStats
    spans.map { s =>
      val st = all.getOrElse(s.op, new OpStats)
      Map("op" -> s.op, "kind" -> s.kind, "name" -> s.name,
        "parent" -> s.parent, "wall_s" -> s.wallS, "jobs" -> st.jobs,
        "stages" -> st.stages, "tasks" -> st.tasks,
        "task_s" -> st.taskMs / 1e3, "gc_s" -> st.gcMs / 1e3,
        "shuffle_read_mb" -> st.shuffleRead / 1e6,
        "shuffle_write_mb" -> st.shuffleWrite / 1e6,
        "spill_mb" -> st.spill / 1e6, "input_mb" -> st.input / 1e6,
        "output_mb" -> st.output / 1e6,
        "peak_exec_mem_mb" -> st.peakMem / 1e6)
    }
  }

  /** The spark-runtime layer over a set of top-level ops. */
  def sparkLayer(ctx: Ctx, ops: Seq[Span], windowS: Double): Map[String, Double] = {
    val all = ctx.rec.allStats
    val st = ops.map(s => all.getOrElse(s.op, new OpStats))
    // jobs of nested spans are attributed to the innermost op: gather them
    val nested = ctx.rec.spans.filter(s => ops.exists(_.id == s.parent))
      .map(s => all.getOrElse(s.op, new OpStats))
    val every = st ++ nested
    val n = math.max(1, ops.size).toDouble
    val taskS = every.map(_.taskMs).sum / 1e3
    val gapMs = ops.map { s =>
      val jobs = (s +: ctx.rec.spans.filter(_.parent == s.id))
        .flatMap(c => all.get(c.op).map(_.jobSpans.toSeq).getOrElse(Nil))
      Recorder.uncoveredMs(s.startMs, s.endMs, jobs)
    }
    Map(
      "spark.jobs_per_op" -> every.map(_.jobs).sum / n,
      "spark.tasks_per_op" -> every.map(_.tasks).sum / n,
      "spark.task_run_s" -> taskS,
      "spark.slot_busy_frac" -> taskS / (windowS * ctx.opts.cpus),
      "spark.driver_gap_s" -> gapMs.sum / 1e3,
      "spark.shuffle_read_mb" -> every.map(_.shuffleRead).sum / 1e6,
      "spark.shuffle_write_mb" -> every.map(_.shuffleWrite).sum / 1e6,
      "spark.spill_mb" -> every.map(_.spill).sum / 1e6,
      "spark.input_mb" -> every.map(_.input).sum / 1e6,
      "spark.output_mb" -> every.map(_.output).sum / 1e6,
      "spark.gc_s" -> every.map(_.gcMs).sum / 1e3,
      "spark.peak_exec_mem_mb" ->
        (if (every.isEmpty) 0.0 else every.map(_.peakMem).max / 1e6))
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("root"), m("data"), m("record"), m("cpus").toInt)
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .config("spark.sql.warehouse.dir", s"${o.root}/warehouse")
      .config("spark.local.dir", s"${o.root}/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Engine.configure(spark)
    spark
  }

  /** Fixed reference workloads, the two legs `graft.Bench` times (CPU:
    * hash-aggregate over a range; IO: a parquet scan plus a written
    * and fsynced file), at a size that fits one run. Context for the
    * record, not a normaliser. */
  private def calibration(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val rows = 200000000L
    val cpu = {
      val t0 = System.nanoTime()
      spark.range(rows).select(sum(xxhash64(col("id")))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val buf = new Array[Byte](1 << 20)
    new java.util.Random(42).nextBytes(buf)
    val io = {
      val t0 = System.nanoTime()
      force(spark.read.parquet(s"${ctx.opts.data}/lineitem.parquet"))
      val f = new java.io.File(ctx.dir("calib_io.bin"))
      val out = new java.io.FileOutputStream(f)
      try {
        (1 to 32).foreach(_ => out.write(buf))
        out.getFD.sync()
      } finally out.close()
      f.delete()
      (System.nanoTime() - t0) / 1e9
    }
    Map("cpu_s" -> cpu, "cpu_rows" -> rows, "io_s" -> io, "io_write_mb" -> 32)
  }

  private def machine(o: Opts): Map[String, Any] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Map("nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_mb" -> os.getTotalMemorySize / 1048576L,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "spark_master" -> s"local[${o.cpus}]",
      "java" -> System.getProperty("java.version"))
  }

  private val IngestLayers = Seq("streaming.", "versioned.", "index.", "read.")

  /** The ingest workload's write-path layers, probed inside curation's
    * traced run: four workloads of end-to-end runs do not fit the
    * benchmark's time budget, so `ingest` is not a timed workload of
    * its own, but its layers are still measured (outside curation's
    * window, on the same session). */
  private def ingestProbe(ctx: Ctx): (Map[String, Double], Map[String, Any], Seq[String]) = {
    val w = new Ingest
    try {
      w.setup(ctx, ctx.dir("ingest_probe"))
      w.warmup(ctx)
      ctx.rec.reset()
      val start = System.nanoTime()
      w.timed(ctx, start + ctx.opts.seconds * 1000000000L)
      val windowS = (System.nanoTime() - start) / 1e9
      val (_, _, named) = w.endToEnd(ctx, windowS)
      val layers = w.perLayer(ctx, windowS).filter { case (k, _) => IngestLayers.exists(k.startsWith) }
      val errors = w.check(ctx)
      (layers, Map("named" -> named, "info" -> w.info), errors)
    } finally w.close()
  }

  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    // the context cleaner frees blocks of collected RDDs after a GC
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w: Workload = o.workload match {
      case "catalog" => new Catalog
      case "bi_serve" => new BiServe
      case "curation" => new Curation
      case "ingest" => new Ingest
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t0 = System.nanoTime()
    val spark = session(o)
    val ctx = new Ctx(spark, new Recorder(spark.sparkContext), o)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    w.setup(ctx, ctx.dir("setup"))
    val t2 = System.nanoTime()
    w.warmup(ctx)
    val warmupS = (System.nanoTime() - t2) / 1e9
    val dataS = (t2 - t1) / 1e9
    val setupS = sessionS + dataS + warmupS

    ctx.rec.reset()
    val start = System.nanoTime()
    w.timed(ctx, start + o.seconds * 1000000000L)
    val windowS = (System.nanoTime() - start) / 1e9
    val heapMb = retainedHeapMb()
    val (p50, rate, named) = w.endToEnd(ctx, windowS)
    val ops = opRows(ctx, ctx.rec.spans)
    val layers = if (o.trace) w.perLayer(ctx, windowS) else Map.empty[String, Double]
    val spans = if (o.trace) ctx.rec.spans.map(s => Map("id" -> s.id,
      "name" -> s"${s.kind}/${s.name}", "start_ms" -> s.startMs,
      "end_ms" -> s.endMs, "parent" -> s.parent, "op" -> s.op)) else Nil

    val kernels = if (o.trace) Kernels.measure(ctx) else Map.empty[String, Double]
    val (probeLayers, probe, probeErrors) =
      if (o.trace && o.workload == "curation") ingestProbe(ctx)
      else (Map.empty[String, Double], Map.empty[String, Any], Nil)
    val errors = probeErrors ++ (try w.check(ctx) catch {
      case e: Throwable => Seq(s"check threw: ${e.getClass.getSimpleName}: ${e.getMessage}")
    })
    errors.foreach(e => System.err.println(s"[perfbench] WRONG: $e"))
    val calib = calibration(ctx)
    w.close()
    val attempted = math.max(1, w.attempted)
    val failed = w.failed + errors.size
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "p50_ms" -> p50, "items_per_s" -> rate, "retained_heap_mb" -> heapMb,
      "error_rate" -> failed.toDouble / attempted)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cpus" -> o.cpus,
      "trace" -> o.trace, "seconds" -> o.seconds, "window_s" -> windowS,
      "attempted" -> attempted, "failed" -> failed,
      "correct" -> errors.isEmpty, "errors" -> errors.take(50),
      "end_to_end" -> e2e, "named" -> named,
      "per_layer" -> (layers ++ kernels ++ probeLayers), "ingest_probe" -> probe,
      "setup" -> Map("session_s" -> sessionS, "data_s" -> dataS, "warmup_s" -> warmupS),
      "info" -> w.info, "calibration" -> calib, "machine" -> machine(o),
      "ops" -> ops, "spans" -> spans)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(o.record),
      json.writeValueAsString(record))
    spark.stop()
  }
}
