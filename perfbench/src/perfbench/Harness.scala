package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, PerfbenchBridge, SparkSession}

import graft.SparkEntry
import graft.util.{Artifacts, HostTelemetry, Views}

/** Closed-loop benchmark client: one query at a time, in one JVM, calling
  * `SparkEntry.queries` from outside the engine.
  *
  * A run is one set-up (session start, then a warm-up pass over the
  * workload that builds every stored artifact into a fresh warehouse),
  * then timed passes until `seconds` have elapsed (at least [[MinPasses]]),
  * then one untimed pass that writes each result for the oracle check.
  * Every timed execution is `fn(spark, sfDir)` plus a write of every row
  * to Spark's `noop` sink, which computes every output column and the
  * final ORDER BY. The seed sets the query order of each pass.
  *
  * With `--trace 1` half the timed passes are traced (listeners on), in
  * the order traced, untraced, untraced, traced, ... so that a linear
  * warm-up trend cancels out of the tracing overhead the untraced passes
  * give.
  *
  * Writes `result.json` (and `spans.json` when traced) under `--out`.
  */
object Harness {
  type Fn = (SparkSession, String) => DataFrame

  final case class Conf(sf: String, out: Path, seed: Long, seconds: Double,
                        trace: Boolean, queries: Seq[String], cores: Int)

  /** Timed passes a run makes even when `seconds` has run out. Passes are
    * still getting faster as the JIT warms, so a pass count that varied
    * from run to run would move the medians; an odd count makes the
    * median one pass. */
  val MinPasses = 5

  val Tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(
      sf = a("sf"), out = Paths.get(a("out")), seed = a("seed").toLong,
      seconds = a("seconds").toDouble, trace = a("trace") == "1",
      queries = a("queries").split(",").map(_.trim).filter(_.nonEmpty).toSeq,
      cores = a("cores").toInt)
    val code =
      try run(c)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def session(c: Conf, warehouse: Path): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[${c.cores}]")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "30min")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toAbsolutePath.toString)
      .config("spark.local.dir", c.out.resolve("spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The timed unit of work: construct the query, then materialise every
    * row. Returns the construct end time in epoch milliseconds. */
  def execute(spark: SparkSession, fn: Fn, sf: String): Long = {
    val df = fn(spark, sf)
    val constructed = System.currentTimeMillis()
    df.write.format("noop").mode("overwrite").save()
    constructed
  }

  /** End-of-query reclaim, as the engine's own harnesses do it. */
  def reclaim(spark: SparkSession): Unit = {
    Views.unpersistAll()
    spark.catalog.clearCache()
  }

  final case class Sample(query: String, pass: Int, seconds: Double, error: Option[String])
  final case class Pass(index: Int, traced: Boolean, wallS: Double,
                        samples: Seq[Sample], shuffleMb: Double,
                        layers: Seq[(String, Double)])

  def run(c: Conf): Int = {
    val (load0, cpu0) = (HostTelemetry.loadavg(), HostTelemetry.cpuLine())
    Files.createDirectories(c.out)
    val all = SparkEntry.queries
    val fns: Seq[(String, Fn)] = c.queries.map(q =>
      q -> all.getOrElse(q, throw new IllegalArgumentException(s"unknown query $q")))
    val rng = new scala.util.Random(c.seed)
    def order(): Seq[(String, Fn)] = rng.shuffle(fns)
    val shuffle = new ShuffleCounter
    val tracer = new Tracer
    val setupErrors = ArrayBuffer.empty[String]

    // Set-up: the session, then a warm-up pass that builds every stored
    // artifact into this run's fresh warehouse.
    val sf = c.sf
    val warehouse = c.out.resolve("warehouse")
    val t0 = System.nanoTime()
    val spark = session(c, warehouse)
    val b0 = Artifacts.builds.get
    var buildNs, buildBytes = 0L
    order().foreach { case (q, fn) =>
      val (q0, bq, d0) = (System.nanoTime(), Artifacts.builds.get, dirBytes(warehouse))
      try execute(spark, fn, sf)
      catch { case e: Throwable => setupErrors += s"$q: ${e.getMessage}" }
      reclaim(spark)
      if (Artifacts.builds.get > bq) {
        buildNs += System.nanoTime() - q0
        buildBytes += dirBytes(warehouse) - d0
      }
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupBuilds = Artifacts.builds.get - b0
    val sc = spark.sparkContext
    sc.addSparkListener(shuffle)
    if (c.trace) sc.addSparkListener(tracer)
    System.gc()

    // Timed passes.
    val timedBuilders = ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    val passes = ArrayBuffer.empty[Pass]
    val spans = ArrayBuffer.empty[(Span, Double)]
    var nextId = 0
    // Traced runs end on a whole traced/untraced/untraced/traced block.
    while (passes.size < MinPasses || System.nanoTime() < deadline ||
           (c.trace && passes.size % 4 != 0)) {
      val p = passes.size
      val traced = c.trace && (p % 4 == 0 || p % 4 == 3)
      PerfbenchBridge.drain(sc)
      tracer.take()
      tracer.on = traced
      val (sh0, cg0, cgNs0, gc0, jit0) =
        (shuffle.written.get, codegenCompiles, codegenNs, gcMs, jitMs)
      // Latencies come from the monotonic clock. Query windows are also
      // stamped in whole epoch milliseconds, the clock and resolution of
      // Spark's listener events, so that spans compare on one grid.
      val t0 = System.nanoTime()
      var lastEndMs = 0L
      val windows = order().map { case (q, fn) =>
        // Start on a later millisecond than the last query ended, so every
        // listener event falls in exactly one query window.
        if (traced) while (System.currentTimeMillis() <= lastEndMs) Thread.onSpinWait()
        val b0 = Artifacts.builds.get
        val (s, sMs) = (System.nanoTime(), System.currentTimeMillis())
        val (ce, err) =
          try (execute(spark, fn, sf), None)
          catch { case e: Throwable =>
            (System.currentTimeMillis(), Some(String.valueOf(e.getMessage))) }
        val (e, eMs) = (System.nanoTime(), System.currentTimeMillis())
        lastEndMs = eMs
        if (Artifacts.builds.get != b0) timedBuilders += s"$q (pass $p)"
        val (nCached, cachedMb) = if (traced) cachedViews(spark) else (0, 0.0)
        reclaim(spark)
        (QueryWindow(q, sMs, ce, eMs, nCached, cachedMb), Sample(q, p, (e - s) / 1e9, err))
      }
      val t1 = System.nanoTime()
      val (cg1, cgNs1, gc1, jit1) = (codegenCompiles, codegenNs, gcMs, jitMs)
      PerfbenchBridge.drain(sc)
      tracer.on = false
      val ev = tracer.take()
      val samples = windows.map(_._2)
      val layers =
        if (!traced) Seq.empty
        else {
          val ps = windows.flatMap { case (w, _) =>
            Trace.spans(w, p, ev, () => { nextId += 1; nextId })
          }
          val self = Trace.selfTimes(ps)
          spans ++= ps.map(sp => sp -> self(sp.id))
          passLayers(c, windows.map(_._1), ps, self, ev, (t1 - t0) / 1e9) ++ Seq(
            "codegen.compiles" -> (cg1 - cg0).toDouble,
            "codegen.compile_s" -> (cgNs1 - cgNs0) / 1e9,
            "jvm.gc_s" -> (gc1 - gc0) / 1e3,
            "jvm.jit_s" -> (jit1 - jit0) / 1e3,
            "sources.table_probe_s" -> tableProbeS(spark, sf))
        }
      passes += Pass(p, traced, (t1 - t0) / 1e9, samples,
        (shuffle.written.get - sh0) / 1e6, layers)
      System.gc()
    }
    val storedMb = dirBytes(warehouse) / 1e6
    val peakRssMb = vmHwmKb / 1e3

    // Untimed: dump each result for the oracle check.
    val verifyDir = c.out.resolve("verify")
    val verifyErrors = fns.flatMap { case (q, fn) =>
      val err =
        try { fn(spark, sf).coalesce(1).write.mode("overwrite")
                .parquet(verifyDir.resolve(q).toString); None }
        catch { case e: Throwable => Some(q -> String.valueOf(e.getMessage)) }
      reclaim(spark)
      err
    }
    val oracles = SparkEntry.oracleSql
    Files.writeString(c.out.resolve("oracle_sql.json"),
      Json.obj(c.queries.flatMap(q => oracles.get(q).map(s => q -> Json.str(s)))))
    spark.stop()
    val (load1, cpu1) = (HostTelemetry.loadavg(), HostTelemetry.cpuLine())

    val plain = passes.filterNot(_.traced)
    val ok = passes.toSeq.flatMap(_.samples).filter(_.error.isEmpty)
    val lat = ok.map(_.seconds)
    val (tailP, tailV) = tail(lat, MinPasses * c.queries.size)
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(plain.map(_.wallS).toSeq),
      "query_p50_s" -> Stats.median(lat),
      "query_tail_s" -> tailV,
      "shuffle_mb" -> Stats.median(plain.map(_.shuffleMb).toSeq),
      "stored_mb" -> storedMb,
      "peak_rss_mb" -> peakRssMb)
    val traced = passes.filter(_.traced)
    val perLayer =
      if (!c.trace) Seq.empty
      else {
        val names = traced.head.layers.map(_._1)
        names.map(n => n -> Stats.median(traced.map(_.layers.toMap.apply(n)).toSeq)) ++ Seq(
          "artifacts.builds" -> setupBuilds.toDouble,
          "artifacts.build_s" -> buildNs / 1e9,
          "artifacts.disk_mb" -> buildBytes / 1e6,
          "trace.overhead_pct" -> 100 * (Stats.median(traced.map(_.wallS).toSeq) /
            Stats.median(plain.map(_.wallS).toSeq) - 1))
      }
    val result = Json.obj(Seq(
      "seed" -> c.seed.toString,
      "sf" -> Json.str(c.sf),
      "cores" -> c.cores.toString,
      "seconds" -> Json.num(c.seconds),
      "trace" -> Json.bool(c.trace),
      "queries" -> Json.arr(c.queries.map(Json.str)),
      "host" -> HostTelemetry.json(load0, cpu0, load1, cpu1),
      "setup_builds" -> setupBuilds.toString,
      "setup_errors" -> Json.arr(setupErrors.toSeq.map(Json.str)),
      "passes" -> Json.arr(passes.toSeq.map(p => Json.obj(Seq(
        "index" -> p.index.toString, "traced" -> Json.bool(p.traced),
        "wall_s" -> Json.num(p.wallS), "shuffle_mb" -> Json.num(p.shuffleMb),
        "layers" -> Json.obj(p.layers.map { case (k, v) => k -> Json.num(v) }))))),
      "samples" -> Json.arr(passes.toSeq.flatMap(_.samples).map(s => Json.obj(Seq(
        "query" -> Json.str(s.query), "pass" -> s.pass.toString,
        "seconds" -> Json.num(s.seconds),
        "error" -> s.error.map(Json.str).getOrElse("null"))))),
      "tail" -> Json.obj(Seq("percentile" -> Json.num(tailP),
        "samples" -> lat.size.toString,
        "beyond" -> lat.count(_ > tailV).toString)),
      "timed_artifact_builds" -> Json.arr(timedBuilders.toSeq.map(Json.str)),
      "verify_errors" -> Json.obj(verifyErrors.map { case (q, e) => q -> Json.str(e) }),
      "end_to_end" -> Json.obj(endToEnd.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) })))
    Files.writeString(c.out.resolve("result.json"), result)
    if (c.trace)
      Files.writeString(c.out.resolve("spans.json"), Json.arr(spans.toSeq.map { case (s, self) =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "query" -> Json.str(s.query), "pass" -> s.pass.toString,
          "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
          "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
          "outside_parent_ms" -> Json.num(s.outsideParentMs), "self_ms" -> Json.num(self)))
      }))
    if (timedBuilders.nonEmpty) {
      System.err.println("[perfbench] stored-artifact build inside a timed pass: " +
        timedBuilders.mkString(", "))
      3
    } else 0
  }

  /** Per-layer figures of one traced pass. */
  def passLayers(c: Conf, windows: Seq[QueryWindow], spans: Seq[Span],
                 self: Map[Int, Double], ev: Events,
                 wallS: Double): Seq[(String, Double)] = {
    val jobs = spans.filter(_.layer == "job")
    val jobWallS = Trace.unionMs(jobs.map(j => (j.start, j.end))) / 1e3
    val construct = windows.map(w => (w.start, w.constructEnd))
    val inConstruct = jobs.filter(j => construct.exists { case (s, e) => j.start >= s && j.start < e })
    val schemaJobs = jobs.filter(_.name.contains("Sources.scala"))
    val agg = ev.stages.values
    def sum(f: StageAgg => Long) = agg.iterator.map(f).sum.toDouble
    def selfOf(layers: String*) =
      spans.filter(s => layers.contains(s.layer)).map(s => self(s.id)).sum / 1e3
    val taskRunS = sum(_.runMs) / 1e3
    Seq(
      "registry.construct_s" -> construct.map { case (s, e) => e - s }.sum / 1e3,
      "registry.construct_jobs" -> inConstruct.size.toDouble,
      "sources.schema_jobs" -> schemaJobs.size.toDouble,
      "sources.schema_s" -> schemaJobs.map(_.ms).sum / 1e3,
      "catalyst.analysis_s" -> phaseS(ev, "analysis"),
      "catalyst.optimization_s" -> phaseS(ev, "optimization"),
      "catalyst.planning_s" -> phaseS(ev, "planning"),
      "catalyst.actions" -> ev.execs.values.count(x => x.root == x.id).toDouble,
      "driver.outside_jobs_s" -> (wallS - jobWallS),
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> ev.completedStages.toDouble,
      "exec.tasks" -> sum(_.tasks),
      "exec.job_wall_s" -> jobWallS,
      "exec.task_run_s" -> taskRunS,
      "exec.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.task_gc_s" -> sum(_.gcMs) / 1e3,
      "exec.task_deser_s" -> sum(_.deserMs) / 1e3,
      "exec.shuffle_read_mb" -> sum(_.shuffleRead) / 1e6,
      "exec.shuffle_write_mb" -> sum(_.shuffleWrite) / 1e6,
      "exec.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "exec.spill_mb" -> sum(_.spill) / 1e6,
      "exec.task_failures" -> sum(_.failures),
      "exec.core_busy_ratio" -> (if (jobWallS > 0) taskRunS / (jobWallS * c.cores) else 0.0),
      "views.cached_rdds" -> windows.map(_.cachedRdds).max.toDouble,
      "views.cached_mb" -> windows.map(_.cachedMb).max,
      "self.driver_s" -> selfOf("query"),
      "self.construct_s" -> selfOf("construct"),
      "self.catalyst_s" -> selfOf("phase"),
      "self.action_s" -> selfOf("action"),
      "self.job_s" -> selfOf("job"),
      "trace.outside_parent_ms" -> spans.map(_.outsideParentMs).sum)
  }

  def phaseS(ev: Events, phase: String): Double =
    ev.execs.values.flatMap(_.phases.get(phase)).map { case (s, e) => e - s }.sum / 1e3

  /** One direct `Sources.table` call per table, timed together. */
  def tableProbeS(spark: SparkSession, sf: String): Double = {
    val t0 = System.nanoTime()
    Tables.foreach(t => graft.Sources.table(spark, sf, t))
    (System.nanoTime() - t0) / 1e9
  }

  def cachedViews(spark: SparkSession): (Int, Double) = {
    val cached = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (cached.length, cached.map(r => r.memSize + r.diskSize).sum / 1e6)
  }

  /** The highest percentile with at least ten samples beyond it, sized
    * from the sample count every run reaches (`minSamples`) so that it is
    * the same percentile in every run of a workload; the median when no
    * percentile at or above it qualifies. */
  def tail(xs: Seq[Double], minSamples: Int): (Double, Double) = {
    val p = math.max(0.5, 1 - 10.0 / minSamples)
    (100 * p, Stats.quantile(xs, p))
  }

  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def vmHwmKb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Just enough JSON writing for the result files. Values are pre-rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
