package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** What one measured window produced.
  *
  * @param throughput work items per second (queries, events or documents)
  * @param latenciesMs one sample per operation (a query, a replay pass, a
  *                    live event, a pipeline run)
  * @param ops        operations the per-layer values are normalised by
  */
final case class Measured(throughput: Double, latenciesMs: Seq[Double], ops: Int,
                          attempted: Long, failed: Long)

/** A named workload. `prepare` makes the inputs from the seed; `warmUp`
  * runs the workload's operations once; `measure` runs for the given
  * seconds. The first two are the set-up. */
trait Workload {
  def prepare(): Unit
  def warmUp(spark: SparkSession): Unit
  def measure(spark: SparkSession, seconds: Double): Measured
  /** Output checks made outside the timed window: (attempted, failed). */
  def check(spark: SparkSession): (Long, Long)
  /** Per-layer values for a traced run, normalised per operation. */
  def layers(spark: SparkSession, m: Measured, out: Layers): Unit
  /** Extra fields of the run's artifact, as rendered JSON values. */
  def artifact: Seq[(String, String)] = Nil
}

/** Context shared by a run's workload code. */
final class Ctx(val seed: Long, val seconds: Double, val outDir: String,
                val dataDir: String, val cpus: Int, val trace: Trace) {
  def newSession(extra: Map[String, String] = Map.empty): SparkSession = {
    val b = graft.core.Tables.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toString)
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$outDir/checkpoints")
    extra.foldLeft(b) { case (x, (k, v)) => x.config(k, v) }.getOrCreate()
  }
  def tmp(name: String): String = {
    val d = new File(s"$outDir/tmp/$name")
    Files.createDirectories(d.toPath)
    d.getPath
  }
}

/** Entry point: `perfbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --out <dir> --data <fixture dir>`. Prints one line
  * `PERFBENCH_RESULT {json}` on success and writes the run's artifact
  * (per-layer values and spans) to `<out>/result.json`. */
object Main {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val outDir = new File(a("out")).getAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()
    val trace = new Trace(traced)
    val ctx = new Ctx(seed, seconds, outDir, new File(a("data")).getAbsolutePath, cpus, trace)
    if (traced) graft.CodegenGate.install()

    val wl: Workload = workload match {
      case "suite" => new SuiteWorkload(ctx)
      case "replay" => new ReplayWorkload(ctx)
      case "live" => new LiveWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionConf = wl match {
      case _: LiveWorkload => LiveWorkload.sessionConf
      case _ => Map.empty[String, String]
    }

    // ---- set-up: JVM start through warm-up end
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = trace.span("setup") {
      wl.prepare()
      val s = ctx.newSession(sessionConf)
      s.sparkContext.setLogLevel("WARN")
      trace.attach(s)
      log(s"session up at ${(System.currentTimeMillis() - jvmStartMs) / 1e3}s")
      wl.warmUp(s)
      s
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(s"set-up done at ${setupS}s")

    // ---- measured window
    System.gc()
    trace.resetCounters()
    val fallbacks0 = if (traced) graft.CodegenGate.warnCount else 0L
    val gc0 = trace.gcMs
    val jit0 = trace.jitMs
    val compile0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    val classes0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val w0 = trace.uptimeMs
    val m = trace.span("measure", workload)(wl.measure(spark, seconds))
    val w1 = trace.uptimeMs
    log(s"measured ${m.ops} operations")
    val heapPeakMb = trace.oldPeakBetween(w0, w1) / 1048576.0

    val layers = new Layers
    if (traced) {
      trace.recordJobSpans()
      val per = math.max(m.ops, 1).toDouble
      layers("jvm.gc_ms") = (trace.gcMs - gc0) / per
      layers("jvm.jit_ms") = (trace.jitMs - jit0) / per
      layers("jvm.heap_after_gc_mb") = trace.oldAfterLastGc / 1048576.0
      layers("spark.codegen.compile_ms") =
        (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - compile0) / 1e6 / per
      layers("spark.codegen.classes") =
        (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0) / per
      layers("functions.codegen_fallbacks") = (graft.CodegenGate.warnCount - fallbacks0).toDouble
      SparkLayers.fill(trace, per, layers)
      wl.layers(spark, m, layers)
    }
    // after the layers, so the checks' own Spark jobs are not counted in them
    val (ca, cf) = trace.span("check", workload)(wl.check(spark))
    spark.stop()

    val attempted = m.attempted + ca
    val failed = m.failed + cf
    val e2e = Seq(
      "setup_s" -> setupS,
      "throughput_per_s" -> m.throughput,
      "latency_p50_ms" -> Stats.median(m.latenciesMs),
      "heap_peak_mb" -> heapPeakMb)
    val units = Map("setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms",
      "heap_peak_mb" -> "MB")
    val artifact = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> Json.num(seed.toDouble),
      "seconds" -> Json.num(seconds), "trace" -> (if (traced) "true" else "false"),
      "cpus" -> Json.num(cpus),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "units" -> Json.obj(units.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "samples" -> Json.num(m.latenciesMs.size), "ops" -> Json.num(m.ops),
      "latencies_ms" -> m.latenciesMs.take(1000).map(Json.num).mkString("[", ",", "]"),
      "attempted" -> Json.num(attempted.toDouble), "failed" -> Json.num(failed.toDouble),
      "failed_ratio" -> Json.num(failed.toDouble / math.max(attempted, 1L)),
      "per_layer" -> Json.obj(layers.values.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> trace.spansJson) ++ wl.artifact)
    Files.write(Paths.get(outDir, "result.json"), artifact.getBytes(UTF_8))
    val metrics =
      if (traced) SparkLayers.names.map(n => n -> layers.values.getOrElse(n, 0.0))
      else e2e
    val line = Json.obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> Json.num(attempted.toDouble),
      "failed" -> Json.num(failed.toDouble),
      "metrics" -> Json.obj(metrics.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v),
          "unit" -> Json.str(units.getOrElse(k, LayerUnits.of(k)))))
      })))
    println("PERFBENCH_RESULT " + line)
  }
}

/** Units of the per-layer metrics, from their name. */
object LayerUnits {
  def of(name: String): String =
    if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_ms") || name.contains("_ms_")) "ms"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_ns")) "ns"
    else if (name.endsWith("_bytes")) "bytes"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("skew")) "ratio"
    else "count"
}
