package graft.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, monotonically_increasing_id}

final case class Metric(name: String, value: Double, unit: String)

/** One operation of a workload pass. `timed` runs the measured call and
  * returns the correctness check, which runs outside the timed region and
  * yields an error message when the op's output is wrong.
  */
final case class Op(name: String, timed: () => () => Option[String])

/** What every workload gives the harness. */
trait Workload {
  /** Generate the inputs and do any setup conversion; called more than
    * once per run so its time can be reported as a median.
    */
  def prepare(rep: Int): Unit
  /** One pass: the ops in the order they run. */
  def ops: Seq[Op]
  /** Input sizes for the record's stamp. */
  def stamp: Seq[(String, String)]
  /** Metrics this workload adds, from the timed op executions. */
  def metrics(execs: Seq[Exec]): Seq[Metric] = Nil
  /** Traced run only: single-layer measurements made after the passes. */
  def probe(): Seq[Metric] = Nil
}

final case class Exec(op: String, pass: Int, seconds: Double, error: Option[String])

/** `query`: the osm-query and surface op lists run as one pass, so one
  * run measures every read-side layer (OsmQueries, OSC apply, Tables,
  * SparkEntry, Caches) while the PBF decode path stays idle.
  */
final class QueryWorkload(parts: Seq[Workload]) extends Workload {
  def prepare(rep: Int): Unit = parts.foreach(_.prepare(rep))
  lazy val ops: Seq[Op] = parts.flatMap(_.ops)
  def stamp: Seq[(String, String)] = parts.flatMap(_.stamp)
  override def metrics(execs: Seq[Exec]): Seq[Metric] = parts.flatMap(_.metrics(execs))
  override def probe(): Seq[Metric] = parts.flatMap(_.probe())
}

/** Settings shared by the workloads of one run. */
final case class Ctx(spark: SparkSession, seed: Long, work: Path, tiny: Boolean,
    plant: Boolean, tracer: Tracer) {
  def dir(name: String): String = work.resolve(name).toString

  /** The planted wrong answer the benchmark's own tests use: one row of
    * the program's output goes missing before it is checked.
    */
  def planted(df: DataFrame): DataFrame =
    if (!plant) df
    else df.withColumn("__plant", monotonically_increasing_id())
      .where(col("__plant") =!= 0).drop("__plant")

  /** Materialize `df` through the noop sink while Spark computes the
    * `observe`d aggregates in the same job; returns them in order.
    */
  def runObserved(df: DataFrame, name: String, exprs: Seq[Column]): Seq[Any] = {
    val obs = Observation(name)
    val named = exprs.zipWithIndex.map { case (e, i) => e.as(s"m$i") }
    planted(df).observe(obs, named.head, named.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    exprs.indices.map(i => m(s"m$i"))
  }
}

object Main {
  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`key`, v) => v }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
  }

  /** `--workload ingest|query --seed <n> --seconds <s> --trace <0|1>
    * --work <dir> [--expected <file>] [--surface-data <dir>]`; prints the
    * result record as one JSON line. `--surface-data` names the surface
    * tables written by `SurfaceData.main`.
    */
  def main(args: Array[String]): Unit = {
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work is required"))).toAbsolutePath
    Files.createDirectories(work)
    println(run(
      workloadName = arg(args, "--workload").getOrElse(sys.error("--workload is required")),
      seed = arg(args, "--seed").map(_.toLong).getOrElse(1L),
      seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0),
      trace = arg(args, "--trace").contains("1"), work = work, tiny = false, plant = false,
      cpus = Runtime.getRuntime.availableProcessors, setupReps = 3, minPasses = 3,
      expected = arg(args, "--expected").map(Paths.get(_)),
      surfaceData = arg(args, "--surface-data").map(Paths.get(_))))
  }

  /** Runs one workload and returns the result record as one JSON line.
    * Timed passes run until `seconds` have passed and at least `minPasses`
    * are done (in a traced run: that many untraced and that many traced).
    */
  def run(workloadName: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
      tiny: Boolean, plant: Boolean, cpus: Int, setupReps: Int, minPasses: Int,
      expected: Option[Path], surfaceData: Option[Path] = None): String = {
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"osmbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer
    val ctx = Ctx(spark, seed, work, tiny, plant, tracer)
    val workload: Workload = workloadName match {
      case "ingest" => new IngestWorkload(ctx)
      case "query" => new QueryWorkload(Seq(new OsmQueryWorkload(ctx),
        new SurfaceWorkload(ctx, expected, surfaceData)))
      case other => sys.error(s"unknown workload: $other")
    }

    val prepS = (0 until setupReps).map { rep =>
      val p0 = System.nanoTime()
      workload.prepare(rep)
      val s = (System.nanoTime() - p0) / 1e9
      System.err.println(f"[osmbench] prepare $rep: $s%.2f s")
      s
    }
    val execs = mutable.ArrayBuffer.empty[Exec]
    var checkCounts = Snapshot.Zero
    // a pass's time is the sum of its ops' times: checks are not timed
    def pass(p: Int): Double = workload.ops.map { op =>
      tracer.op = execs.size
      val o0 = System.nanoTime()
      val (secs, error) = try {
        val check = tracer.span(s"op.${op.name}")(op.timed())
        val s = (System.nanoTime() - o0) / 1e9
        // checks run Spark jobs too: keep them out of the layer counters
        if (tracer.enabled) {
          org.apache.spark.graftbench.ListenerDrain(spark.sparkContext)
          val c0 = counters.snapshot()
          val r = check()
          org.apache.spark.graftbench.ListenerDrain(spark.sparkContext)
          checkCounts = checkCounts + (counters.snapshot() - c0)
          (s, r)
        } else (s, check())
      } catch {
        case e: Throwable =>
          ((System.nanoTime() - o0) / 1e9, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      error.foreach(m => System.err.println(s"[osmbench] ${op.name} failed: ${m.take(500)}"))
      System.err.println(f"[osmbench] pass $p ${op.name}: $secs%.3f s")
      execs += Exec(op.name, p, secs, error)
      secs
    }.sum
    // warm-up: one untimed pass, so JIT and codegen are hot before timing
    val w0 = System.nanoTime()
    pass(-1)
    val warmS = (System.nanoTime() - w0) / 1e9
    val warmFailures = execs.count(_.error.nonEmpty)
    execs.clear()
    val setupS = sessionS + median(prepS) + warmS

    // closed loop, whole passes: the next op starts when the previous ends
    val passTimes = mutable.ArrayBuffer.empty[Double]
    val tracedPassTimes = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - start) / 1e9
    val untracedBudget = if (trace) seconds / 2 else seconds
    while (passTimes.size < minPasses || elapsed < untracedBudget)
      passTimes += pass(passTimes.size)
    val layerMetrics = mutable.ArrayBuffer.empty[Metric]
    if (trace) {
      org.apache.spark.graftbench.ListenerDrain(spark.sparkContext)
      val before = counters.snapshot()
      val firstTraced = execs.size
      tracer.enabled = true
      while (tracedPassTimes.size < minPasses || elapsed < seconds)
        tracedPassTimes += pass(passTimes.size + tracedPassTimes.size)
      org.apache.spark.graftbench.ListenerDrain(spark.sparkContext)
      val d = counters.snapshot() - before - checkCounts
      val n = math.max(1, execs.size - firstTraced).toDouble
      layerMetrics ++= Seq(
        Metric("spark.jobs", d.jobs / n, "count"),
        Metric("spark.stages", d.stages / n, "count"),
        Metric("spark.tasks", d.tasks / n, "count"),
        Metric("spark.task_cpu_s", d.taskCpuNs / 1e9 / n, "s"),
        Metric("spark.shuffle_read_bytes", d.shuffleRead / n, "bytes"),
        Metric("spark.shuffle_write_bytes", d.shuffleWrite / n, "bytes"),
        Metric("spark.spill_bytes", d.spill / n, "bytes"),
        Metric("catalyst.analysis_s", d.analysisMs / 1e3 / n, "s"),
        Metric("catalyst.optimization_s", d.optimizationMs / 1e3 / n, "s"),
        Metric("catalyst.planning_s", d.planningMs / 1e3 / n, "s"),
        Metric("tables.load_jobs", d.loadJobs / n, "count"),
        Metric("tables.load_s", d.loadMs / 1e3 / n, "s"),
        Metric("trace.overhead_s", median(tracedPassTimes.toSeq) - median(passTimes.toSeq), "s"))
      // mean self time of one call into each layer the spans wrap
      tracer.selfSecondsPerCall.toSeq.sortBy(_._1).collect {
        case (name, secs) if !name.startsWith("op.") => layerMetrics += Metric(s"${name}_s", secs, "s")
      }
      layerMetrics ++= workload.probe()
      tracer.enabled = false
    }

    val ok = execs.filter(_.error.isEmpty).map(_.seconds).toSeq
    val failed = execs.count(_.error.nonEmpty) + warmFailures
    val attempted = execs.size + warmFailures
    val e2e = mutable.ArrayBuffer(
      Metric("setup_s", setupS, "s"),
      Metric("session_s", sessionS, "s"),
      Metric("prepare_s", median(prepS), "s"),
      Metric("warmup_s", warmS, "s"),
      Metric("pass_s", median(passTimes.toSeq), "s"),
      Metric("passes", passTimes.size.toDouble, "count"),
      Metric("ops", execs.size.toDouble, "count"),
      Metric("failed_ops_ratio", failed.toDouble / math.max(1, attempted), "ratio"))
    if (ok.nonEmpty) e2e += Metric("op_p50_s", median(ok), "s")
    // the median op's latency: stable where op latencies fall into a few
    // clusters (ingest's two ops), where op_p50_s lies between clusters
    val opMedians = execs.filter(_.error.isEmpty).groupBy(_.op).values
      .map(es => median(es.map(_.seconds).toSeq)).toSeq
    if (opMedians.nonEmpty) e2e += Metric("op_median_s", median(opMedians), "s")
    if (ok.size >= 100) e2e += Metric("op_p90_s", percentile(ok, 0.9), "s")
    e2e ++= workload.metrics(execs.filter(_.error.isEmpty).toSeq)
    e2e += Metric("peak_rss_mb", peakRssMb(), "MB")

    val stamp = Seq(
      "workload" -> workloadName, "seed" -> seed.toString, "trace" -> trace.toString,
      "cpus" -> cpus.toString, "heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "seconds" -> seconds.toString, "min_passes" -> minPasses.toString,
      "setup_reps" -> setupReps.toString,
      "tiny" -> tiny.toString) ++ workload.stamp

    // per-op latency summary and spans go to the record, not stdout
    val perOp = execs.groupBy(_.op).toSeq.sortBy(_._1).map { case (n, es) =>
      val good = es.filter(_.error.isEmpty).map(_.seconds).toSeq
      s""""$n":{"n":${es.size},"failed":${es.count(_.error.nonEmpty)},""" +
        s""""p50_s":${if (good.isEmpty) "null" else median(good)}}"""
    }.mkString("{", ",", "}")
    if (trace) {
      val spans = work.resolve("spans.jsonl")
      Files.write(spans, tracer.toJsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    spark.stop()

    def metricsJson(ms: Seq[Metric]): String = ms.map(m =>
      s""""${m.name}":{"value":${jsonNum(m.value)},"unit":"${m.unit}"}""").mkString("{", ",", "}")
    val stampJson = stamp.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    s"""{"correct":${failed == 0},"attempted":${math.max(1, attempted)},"failed":$failed,""" +
      s""""metrics":${metricsJson(e2e.toSeq ++ layerMetrics)},"stamp":$stampJson,""" +
      s""""per_op":$perOp}"""
  }

  private def jsonNum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
