package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload in one JVM at local[min(4, cores)]:
  * a closed loop of repetitions, one job at a time.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --dir D
  *        [--expected digests.json] [--trace-out spans.jsonl] [--commit C]
  *
  * Prints an environment line and then, as the last line, one JSON
  * object {correct, attempted, failed, metrics}: the end-to-end metrics
  * when untraced, the per-layer metrics when traced.
  */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, dir: File = new File("."), expected: Option[File] = None,
      traceOut: Option[File] = None, commit: String = "unknown")

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--dir" :: v :: t => parse(t, o.copy(dir = new File(v)))
    case "--expected" :: v :: t => parse(t, o.copy(expected = Some(new File(v))))
    case "--trace-out" :: v :: t => parse(t, o.copy(traceOut = Some(new File(v))))
    case "--commit" :: v :: t => parse(t, o.copy(commit = v))
    case Nil => o
    case other => throw new IllegalArgumentException(s"bad arguments: $other")
  }

  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  val SetupRounds = 3
  val RepLimitSec = 120

  def session(dir: File): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // a repetition generates ~150 distinct classes; with Spark's
      // default 100-entry LRU codegen cache they evict each other in
      // order, so every repetition would recompile all of them and the
      // JIT would compile the new classes again: a cost of repeating
      // the pipeline in one JVM, not of running it
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Expected digest for (workload, seed) from the committed file: a
    * flat JSON object of "workload/seed": "digest" entries. */
  def expectedDigest(f: Option[File], key: String): Option[String] =
    f.filter(_.isFile).flatMap { file =>
      val text = new String(java.nio.file.Files.readAllBytes(file.toPath), "UTF-8")
      ("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*\"([^\"]+)\"").r
        .findFirstMatchIn(text).map(_.group(1))
    }

  /** Cancel every Spark job if a repetition outlives the limit. */
  def withWatchdog[A](spark: SparkSession)(f: => A): A = {
    val timer = new java.util.Timer(true)
    timer.schedule(new java.util.TimerTask {
      def run(): Unit = spark.sparkContext.cancelAllJobs()
    }, RepLimitSec * 1000L)
    try f finally timer.cancel()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val wl = Workloads(o.workload)
    o.dir.mkdirs()
    val problems = ArrayBuffer.empty[String]
    val tally = new Tally

    // set-up, several times over: session start, input generation and
    // materialization; the last round's state is measured. A seeded
    // workload then builds its seed state once, and one untimed warm-up
    // pass loads classes, compiles generated code and warms the JIT.
    val roundSecs = ArrayBuffer.empty[Double]
    var ctx: Ctx = null
    for (r <- 0 until (if (o.trace) 1 else SetupRounds)) {
      if (ctx != null) ctx.spark.stop()
      val t0 = System.nanoTime()
      val dir = new File(o.dir, s"round$r")
      val spark = session(dir)
      val probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      ctx = new Ctx(spark, probe, dir)
      wl.setup(ctx, o.seed)
      roundSecs += (System.nanoTime() - t0) / 1e9
    }
    val spark = ctx.spark
    var t0 = System.nanoTime()
    wl.seedState(ctx)
    val seedSecs = (System.nanoTime() - t0) / 1e9
    val setupSecs = Stats.median(roundSecs) + seedSecs
    // the warm-up starts from the state every repetition starts from,
    // so it builds (and compiles) the same plans they do
    ctx.reset()
    t0 = System.nanoTime()
    wl.warmup(ctx)
    ctx.reset()
    System.err.println(f"[perfbench] set-up rounds ${roundSecs.map(x => f"$x%.3f").mkString(",")}%s s, " +
      f"seed state $seedSecs%.3f s, warm-up ${(System.nanoTime() - t0) / 1e9}%.3f s")

    var repNo = 0
    final case class Sample(wallNs: Long, batchNs: Seq[Long], cost: Totals,
        retainedMb: Double, digest: String)

    /** One repetition: untimed preparation, the timed run, then the
      * output check, the retained-storage reading, release and reset. */
    def repetition(tracer: Option[Tracer]): Either[String, Sample] = {
      repNo += 1
      try {
        wl.prepare(ctx, repNo)
        ctx.probe.drain(spark)
        val before = ctx.probe.snapshot
        val k0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val c0 = processCpuNs
        val j0 = jitMs
        val t0 = System.nanoTime()
        val out = withWatchdog(spark) {
          tracer.fold(wl.run(ctx))(t => wl.traced(ctx, t))
        }
        val wall = System.nanoTime() - t0
        // process CPU (all threads), JIT compile time and code-gen
        // compiles of the repetition: logged to show where time goes
        val cpu = processCpuNs - c0
        val jit = jitMs - j0
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - k0
        ctx.probe.drain(spark)
        val cost = ctx.probe.snapshot - before
        val digest = wl.digest(out)
        out.outputs.foreach(ctx.release)
        val retained = ctx.retainedMb
        System.err.println(f"[perfbench] rep $repNo%d ${if (tracer.isDefined) "traced" else "untraced"}%s " +
          f"wall ${wall / 1e9}%.3f s cpu ${cpu / 1e9}%.3f s jit ${jit / 1e3}%.3f s codegen $compiles%d " +
          f"batches ${out.batchNs.map(_ / 1e9).map(x => f"$x%.3f").mkString(",")}%s " +
          f"jobs ${cost.jobs}%d shuffle ${cost.shuffleWriteBytes / 1e6}%.3f MB retained $retained%.3f MB digest $digest%s")
        Right(Sample(wall, out.batchNs, cost, retained, digest))
      } catch {
        case e: Exception =>
          Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      } finally {
        ctx.reset()
        ctx.probe.reset()
      }
    }

    // the committed digest for this seed, else the first repetition's
    val key = s"${wl.name}/${o.seed}"
    val expected = expectedDigest(o.expected, key)
    var reference: Option[String] = expected

    val untraced = ArrayBuffer.empty[Sample]
    val traced = ArrayBuffer.empty[Sample]
    val tracers = ArrayBuffer.empty[Tracer]

    /** Records one repetition; every batch it ran is one attempt. */
    def record(tracer: Option[Tracer], into: ArrayBuffer[Sample]): Unit =
      repetition(tracer) match {
        case Right(s) =>
          if (reference.isEmpty) reference = Some(s.digest)
          val ok = reference.contains(s.digest)
          if (!ok) problems += s"rep $repNo digest ${s.digest} != ${reference.get}"
          s.batchNs.foreach(_ => tally.record(ok))
          into += s
        case Left(err) =>
          problems += s"rep $repNo failed: $err"
          tally.record(false)
      }

    val census = if (o.trace) wl.census(ctx) else Map.empty[String, Double]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def typical = Stats.median(untraced.map(_.wallNs / 1e9) ++ traced.map(_.wallNs / 1e9))
    // at least one repetition (traced: alternate untraced and traced, at
    // least one of each), then more while another one fits
    while (untraced.isEmpty || (o.trace && traced.isEmpty) ||
        elapsed + typical * (if (o.trace) 2 else 1) <= o.seconds) {
      if (repNo >= 4 && untraced.isEmpty) throw new IllegalStateException(
        s"no repetition succeeded: ${problems.mkString("; ")}")
      record(None, untraced)
      if (o.trace) {
        val t = new Tracer(s"${wl.name}-s${o.seed}-rep${repNo + 1}")
        val before = traced.size
        record(Some(t), traced)
        if (traced.size > before) tracers += t
      }
    }
    if (untraced.nonEmpty) {
      val t0 = System.nanoTime()
      wl.finalCheck(ctx, untraced.last.digest).foreach(problems += _)
      System.err.println(f"[perfbench] final check ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }

    problems.foreach(p => System.err.println(s"[perfbench] $p"))
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val walls = untraced.map(_.wallNs / 1e9)
        Seq(
          ("setup_s", setupSecs, "s"),
          ("wall_s", Stats.median(walls), "s"),
          ("batch_s_p50", Stats.median(untraced.flatMap(_.batchNs).map(_ / 1e9)), "s"),
          ("shuffle_write_mb", Stats.median(untraced.map(_.cost.shuffleWriteBytes / 1e6)), "MB"),
          ("retained_storage_mb", Stats.median(untraced.map(_.retainedMb)), "MB"),
          ("ok_frac", 1.0 - tally.failedFrac, "frac"))
      } else {
        val layer = if (tracers.isEmpty) Map.empty[String, Double]
          else wl.layers(tracers.toSeq, census)
        def med(f: Sample => Double) = Stats.median(untraced.map(f).toSeq)
        val wall = med(_.wallNs / 1e9)
        val spark = Map(
          "spark.task_cpu_s" -> med(_.cost.cpuNs / 1e9),
          "spark.gc_s" -> med(_.cost.gcMs / 1e3),
          "spark.spill_mb" -> med(_.cost.spillBytes / 1e6),
          "spark.jobs" -> med(_.cost.jobs.toDouble),
          "spark.busy_frac" -> med(s => s.cost.runMs / 1e3 / (s.wallNs / 1e9 * ctx.cores)),
          "trace.overhead_frac" ->
            (if (traced.isEmpty) 0.0 else Stats.median(traced.map(_.wallNs / 1e9).toSeq) / wall - 1))
        PerLayer.all.map { case (n, unit) =>
          (n, (layer ++ spark).getOrElse(n, 0.0), unit)
        }
      }

    o.traceOut.foreach { f =>
      f.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(f, "UTF-8")
      try tracers.foreach(_.jsonLines.foreach(w.println)) finally w.close()
    }
    val env = Json.obj("env" -> Json.Raw(Json.obj(
      "workload" -> wl.name, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "cores_used" -> ctx.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
      "spark" -> spark.version, "commit" -> o.commit,
      "reps_untraced" -> untraced.size, "reps_traced" -> traced.size,
      "digest" -> reference.getOrElse("none"), "digest_expected" -> expected.getOrElse("none"),
      "problems" -> problems.toSeq)))
    println(env)
    val correct = problems.isEmpty && tally.failed == 0 && untraced.nonEmpty
    println(Json.obj(
      "correct" -> correct,
      "attempted" -> math.max(1, tally.attempted),
      "failed" -> (if (tally.attempted == 0) 1 else tally.failed),
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj("value" -> v, "unit" -> u))
      }: _*))))
    spark.stop()
  }
}

/** Every per-layer metric the traced run reports, with its unit; a
  * layer a workload does not run reads 0. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "extract.s" -> "s", "extract.rows_out" -> "count",
    "normalize.s" -> "s", "normalize.distinct_ratio" -> "ratio",
    "normalize.dropped_rows" -> "count", "normalize.names_per_s" -> "1/s",
    "keying.s" -> "s", "keying.keys_per_name" -> "ratio", "keying.names_per_s" -> "1/s",
    "blockjoin.s" -> "s", "blockjoin.raw_pairs" -> "count",
    "blockjoin.salted_pairs" -> "count", "blockjoin.hot_keys" -> "count",
    "blockjoin.runaway_keys" -> "count", "blockjoin.runaway_rows_dropped" -> "count",
    "blockjoin.shuffle_mb" -> "MB",
    "dedup.pairs_out" -> "count", "dedup.useful_ratio" -> "ratio", "dedup.shuffle_mb" -> "MB",
    "hydrate.s" -> "s", "hydrate.rows" -> "count",
    "prefilter.pairs_in" -> "count", "prefilter.pass_ratio" -> "ratio",
    "cascade.pairs_in" -> "count", "cascade.accept_ratio" -> "ratio",
    "score.s" -> "s", "cascade.pairs_per_s" -> "1/s",
    "cc.s" -> "s", "cc.jobs" -> "count", "cc.edges_in" -> "count", "cc.components" -> "count",
    "absorb.census.s" -> "s", "absorb.pairs.s" -> "s", "absorb.hydrate-restrict.s" -> "s",
    "absorb.score.s" -> "s", "absorb.labels.s" -> "s", "absorb.append.s" -> "s",
    "absorb.census.shuffle_mb" -> "MB", "absorb.pairs.shuffle_mb" -> "MB",
    "absorb.append.shuffle_mb" -> "MB", "absorb.jobs_per_batch" -> "count",
    "absorb.files_per_bucket_max" -> "count", "absorb.batch_growth" -> "ratio",
    "absorb.batch_s_tail" -> "s", "absorb.batch_s_tail_pct" -> "pct", "absorb.batch_s_n" -> "count",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.spill_mb" -> "MB",
    "spark.jobs" -> "count", "spark.busy_frac" -> "frac",
    "trace.overhead_frac" -> "frac")
}
