package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's entry point: one workload, one seed, one JVM.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Set-up (session start, the untimed first pass and the brute-force
  * reference check) runs three times and reports its median; the first
  * round also starts the Spark context. After two untimed warm-up
  * iterations the timed loop runs the workload's query to the noop sink,
  * one job at a time, until `--seconds` have passed; every iteration's row
  * count and order-independent digest must equal the first pass's. The last
  * line of stdout is the result JSON; the raw samples with their weather go
  * to an artifact file under perfbench/target/artifacts.
  */
object Main {
  val cores = 4
  val setupRounds = 3
  val minIterations = 5
  val warmups = 2
  /** Measurement weather: the host is shared, so every timed sample carries
    * the 1-minute load average and a fixed CPU-bound calibration run (this
    * many xorshift steps per thread) before and after it. They go into the
    * artifact only; no metric is adjusted by them. */
  val calibrationSteps = 20000000L

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  final case class Sample(wall: Double, rows: Long, digest: Long, totals: SpanTotals,
                          error: Option[String], traced: Boolean,
                          load: Double = 0, calPre: Double = 0, calPost: Double = 0,
                          ok: Boolean = true) {
    def artifact: Map[String, Any] = Map("wall_s" -> wall, "rows" -> rows,
      "digest" -> digest, "ok" -> ok, "error" -> error, "traced" -> traced,
      "task_cpu_s" -> totals.cpuNs / 1e9, "gc_s" -> totals.gcMs / 1e3, "loadavg_1m" -> load,
      "calibration_pre_s" -> calPre, "calibration_post_s" -> calPost)
  }

  val endToEndUnits: Seq[(String, String)] = Seq(
    "rows_per_s" -> "1/s", "cpu_us_per_row" -> "us", "setup_s" -> "s")

  val perLayerUnits: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.parse_s" -> "s", "functions.cellid_s" -> "s",
    "ops.probe_refine_s" -> "s", "ops.output_s" -> "s",
    "core.cellid_ns" -> "ns", "ops.probe_ns" -> "ns", "core.refine_ns" -> "ns",
    "ops.candidates_per_row" -> "count", "ops.interior_frac" -> "fraction",
    "ops.refines_per_row" -> "count", "ops.refine_hit_frac" -> "fraction",
    "ops.index_build_s" -> "s", "core.covering_s" -> "s", "core.cells_per_polygon" -> "count",
    "ops.join_level" -> "level", "ops.dim_rows" -> "count", "ops.candidate_pairs" -> "count",
    "ops.knn.ring_pairs" -> "count", "ops.knn.candidates_per_query" -> "count",
    "ops.knn.leftover_r0" -> "count", "ops.knn.leftover_r1" -> "count",
    "ops.knn.leftover_r2" -> "count", "ops.knn.brute_queries" -> "count",
    "ops.knn.persist_disk_mb" -> "MB",
    "queries_per_s" -> "1/s",
    "spark.task_cpu_s" -> "s", "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.persist_disk_mb" -> "MB", "spark.temp_mb" -> "MB",
    "spark.peak_exec_mem_mb" -> "MB", "spark.task_skew" -> "ratio",
    "scaling_eff_1to4" -> "ratio", "failed_frac" -> "fraction",
    "trace_overhead" -> "ratio", "fixture_s" -> "s")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.getOrElse("trace", "0") == "1")
  }

  def startSession(root: File, threads: Int): SparkSession = {
    val target = new File(root, "perfbench/target")
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(target, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(target, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val observations = new java.util.concurrent.atomic.AtomicInteger()

  /** One closed-loop iteration: build the query (its eager jobs included)
    * and run every output column to the noop sink, observing the row count
    * and the digest in-line. Cached blocks of the previous iteration are
    * dropped first, untimed. */
  def iterate(spark: SparkSession, w: Workload, tracer: Tracer, span: String,
              traced: Boolean): Sample = runQuery(spark, w, tracer, span, traced, sample = false)._1

  /** `iterate`, optionally also collecting the digest columns of the
    * workload's seeded sample rows in the same observation. */
  def runQuery(spark: SparkSession, w: Workload, tracer: Tracer, span: String,
               traced: Boolean, sample: Boolean): (Sample, Set[Seq[Any]]) = {
    spark.catalog.clearCache()
    val obs = Observation(s"perfbench_${observations.incrementAndGet()}")
    val observed = Seq(count(lit(1)).as("rows"),
      sum(xxhash64(w.digestCols: _*).bitwiseAND(lit(0xFFFFFFFFL))).as("digest")) ++
      (if (sample) Seq(collect_list(when(w.inSample, struct(w.digestCols: _*))).as("sample"))
       else Nil)
    val (res, wall, totals) = tracer.spanned(span, Try {
      w.query(spark).observe(obs, observed.head, observed.tail: _*)
        .write.format("noop").mode("overwrite").save()
      obs.get
    })
    res match {
      case Success(m) =>
        val rows = m("rows").asInstanceOf[Long]
        val digest = Option(m("digest")).fold(0L)(_.asInstanceOf[Long])
        val got = m.get("sample").fold(Set.empty[Seq[Any]])(
          _.asInstanceOf[Seq[org.apache.spark.sql.Row]].map(_.toSeq).toSet)
        (Sample(wall, rows, digest, totals, None, traced), got)
      case Failure(e) =>
        (Sample(wall, -1, 0, totals, Some(e.toString), traced, ok = false), Set.empty)
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val root = new File(".").getCanonicalFile
    val w = Workload(a.workload, a.seed)
    val fixtures = new File(root, "perfbench/target/fixtures")
    fixtures.mkdirs()
    val problems = mutable.ArrayBuffer[String]()
    def problem(msg: String): Unit = {
      System.err.println(s"[perfbench] CHECK FAILED: $msg")
      problems += msg
    }

    var spark: SparkSession = null
    val listener = new SpanListener
    var tracer: Tracer = null
    var fixtureS = 0.0
    var reference: Option[(Long, Long)] = None
    var sampleOk = true
    val firstPasses = mutable.ArrayBuffer[Sample]()

    // ---- set-up, repeated: round 0 starts the Spark context and session
    // (and generates the seed's fixture, timed apart); later rounds start a
    // fresh session on the running context
    val setupWalls = (0 until setupRounds).map { r =>
      val t0 = System.nanoTime()
      var excluded = 0.0
      if (spark == null) {
        spark = startSession(root, cores)
        spark.sparkContext.addSparkListener(listener)
        tracer = new Tracer(spark, Some(listener))
        val tf = System.nanoTime()
        val (path, secs) = Fixtures.pagesParquet(spark, fixtures, w.pageRows, a.seed, 2 * cores)
        w.pagesPath = path
        fixtureS = secs
        excluded = (System.nanoTime() - tf) / 1e9
      } else spark = spark.newSession()
      val (first, got) = runQuery(spark, w, tracer, s"setup$r.first_pass",
        traced = true, sample = true)
      first.error.foreach(e => problem(s"setup round $r first pass failed: $e"))
      reference match {
        case None if first.ok => reference = Some((first.rows, first.digest))
        case Some(ref) if first.ok && ref != ((first.rows, first.digest)) =>
          problem(s"setup round $r output (${first.rows}, ${first.digest}) differs from round 0 $ref")
        case _ =>
      }
      val sampleCheck = Try(w.expectedSample(spark)) match {
        case Success(exp) if exp.isEmpty => Some("empty sample")
        case Success(exp) if exp != got => Some(s"sample: expected ${exp.size} rows, got " +
          s"${got.size}; missing ${(exp -- got).take(3)}; extra ${(got -- exp).take(3)}")
        case Success(_) => None
        case Failure(e) => Some(s"sample reference threw $e")
      }
      sampleCheck.foreach(msg => problem(s"setup round $r: $msg"))
      sampleOk &&= sampleCheck.isEmpty
      firstPasses += first.copy(ok = first.ok && sampleCheck.isEmpty)
      (System.nanoTime() - t0) / 1e9 - excluded
    }
    if (reference.isEmpty) problem("no successful first pass")

    // ---- untimed warm-up iterations on the final session, then the timed
    // loop; in a traced run every other iteration detaches the listener, so
    // the tracing overhead is measured on the same run. An iteration passes
    // when it reproduces the first pass's output and that output passed the
    // brute-force sample check.
    for (i <- 0 until warmups) {
      val warm = iterate(spark, w, tracer, s"warmup$i", traced = true)
      val warmOk = warm.ok && sampleOk && reference.contains((warm.rows, warm.digest))
      if (!warmOk) problem(s"warm-up $i: rows ${warm.rows} digest ${warm.digest} " +
        warm.error.getOrElse(""))
      firstPasses += warm.copy(ok = warmOk)
    }
    val samples = mutable.ArrayBuffer[Sample]()
    val untraced = new Tracer(spark, None)
    val tm = System.nanoTime()
    while (samples.size < minIterations || (System.nanoTime() - tm) / 1e9 < a.seconds) {
      val traced = !a.trace || samples.size % 2 == 1
      if (!traced) spark.sparkContext.removeSparkListener(listener)
      val load = graft.Bench.loadavg1m()
      val calPre = graft.Bench.calibrationSecs(cores, calibrationSteps)
      val s = iterate(spark, w, if (traced) tracer else untraced, s"iter${samples.size}", traced)
      val calPost = graft.Bench.calibrationSecs(cores, calibrationSteps)
      if (!traced) spark.sparkContext.addSparkListener(listener)
      val ok = s.ok && sampleOk && reference.contains((s.rows, s.digest))
      if (!ok) problem(s"iteration ${samples.size}: rows ${s.rows} digest ${s.digest} " +
        s"expected $reference ${s.error.getOrElse("")}")
      samples += s.copy(load = load, calPre = calPre, calPost = calPost, ok = ok)
    }

    val attempted = firstPasses.size + samples.size
    val failed = (firstPasses ++ samples).count(!_.ok)
    val tracedSamples = samples.filter(_.traced).toSeq
    val medWall = Stats.median(samples.map(_.wall).toSeq)

    val metrics: Map[String, Double] =
      if (!a.trace) Map(
        "rows_per_s" -> w.pageRows / medWall,
        "cpu_us_per_row" -> Stats.median(tracedSamples.map(_.totals.cpuNs / 1e3 / w.pageRows)),
        "setup_s" -> Stats.median(setupWalls))
      else traced(spark, root, w, tracer, tracedSamples, samples.filterNot(_.traced).toSeq) ++
        Map("failed_frac" -> failed.toDouble / attempted, "fixture_s" -> fixtureS)

    val units = (if (a.trace) perLayerUnits else endToEndUnits).toMap
    val missing = units.keySet -- metrics.keySet
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    require(metrics.values.forall(v => !v.isNaN && !v.isInfinite), s"non-finite metric in $metrics")
    val correct = problems.isEmpty

    val artifactDir = new File(root, "perfbench/target/artifacts")
    artifactDir.mkdirs()
    val artifact = new File(artifactDir, s"${w.name}-s${a.seed}-t${if (a.trace) 1 else 0}.json")
    java.nio.file.Files.writeString(artifact.toPath, Json(Map(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "cores" -> cores, "sizes" -> w.sizes, "correct" -> correct, "problems" -> problems,
      "setup_rounds_s" -> setupWalls, "fixture_s" -> fixtureS,
      "first_passes" -> firstPasses.map(_.artifact), "samples" -> samples.map(_.artifact),
      "spans" -> tracer.spans, "metrics" -> metrics)))
    println(s"[perfbench] artifact ${root.toPath.relativize(artifact.toPath)}")
    spark.stop()

    val ordered = (if (a.trace) perLayerUnits else endToEndUnits).map { case (k, u) =>
      k -> Map("value" -> metrics(k), "unit" -> u)
    }
    println(Json(mutable.LinkedHashMap("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> mutable.LinkedHashMap(ordered: _*))))
    if (!correct) sys.exit(1)
  }

  /** The traced run's per-layer metrics: listener totals of the traced
    * iterations, the tracing overhead, the prefix peel, the kernel timings,
    * the workload's own layer counts and the 1-to-4-thread scaling. */
  def traced(spark: SparkSession, root: File, w: Workload, tracer: Tracer,
             on: Seq[Sample], off: Seq[Sample]): Map[String, Double] = {
    def med(f: SpanTotals => Double) = Stats.median(on.map(s => f(s.totals)))
    val medOn = Stats.median(on.map(_.wall))
    val spark4 = Map(
      "spark.task_cpu_s" -> med(_.cpuNs / 1e9), "spark.task_run_s" -> med(_.runMs / 1e3),
      "spark.gc_s" -> med(_.gcMs / 1e3), "spark.spill_mb" -> med(t => t.mb(t.spillBytes)),
      "spark.input_mb" -> med(t => t.mb(t.inputBytes)),
      "spark.shuffle_write_mb" -> med(t => t.mb(t.shuffleWriteBytes)),
      "spark.shuffle_read_mb" -> med(t => t.mb(t.shuffleReadBytes)),
      "spark.persist_disk_mb" -> med(t => t.mb(t.persistDiskBytes)),
      "spark.temp_mb" -> med(t => t.mb(t.tempBytes)),
      "spark.peak_exec_mem_mb" -> on.map(s => s.totals.mb(s.totals.peakExecBytes)).max,
      "spark.task_skew" -> med(_.taskSkew),
      "trace_overhead" -> medOn / Stats.median(off.map(_.wall)))
    val layers = Layers.peel(spark, w, tracer) ++ Layers.kernels(spark, w, tracer)
    val notApplicable = perLayerUnits.map(_._1)
      .filter(k => k.startsWith("ops.") || k == "queries_per_s").map(_ -> 0.0).toMap
    val own = notApplicable ++ w.layerMetrics(spark, tracer)
    val scaling = scalingEfficiency(spark, root, w, medOn)
    own ++ layers ++ spark4 ++ Map("scaling_eff_1to4" -> scaling)
  }

  /** (throughput at local[4] / throughput at local[1]) / 4: stops the
    * session, reruns the workload's query on one task thread (warm once,
    * then the median of two), and compares against the traced median. */
  def scalingEfficiency(spark: SparkSession, root: File, w: Workload, medWall4: Double): Double = {
    spark.stop()
    val one = startSession(root, 1)
    try {
      val tracer = new Tracer(one, None)
      iterate(one, w, tracer, "scaling.warm", traced = false)
      val walls = (0 until 2).map(i => iterate(one, w, tracer, s"scaling.$i", traced = false).wall)
      Stats.median(walls) / (4 * medWall4)
    } finally one.stop()
  }
}
