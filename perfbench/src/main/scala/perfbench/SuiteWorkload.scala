package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `suite`: registry queries over the committed fixture, one at a time in a
  * closed loop into the noop sink, with the session reset between queries
  * as `graft.Bench` does. The seed orders the queries of each pass. */
final class SuiteWorkload(ctx: Ctx) extends Workload {
  import SuiteWorkload._
  private val registry = graft.SparkEntry.queries
  private val oracleBacked = graft.SparkEntry.oracleSql.keySet
  private var expected = Map.empty[String, String]
  private val got = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private var checked = (0L, 0L)
  private val rng = new scala.util.Random(ctx.seed)
  private val samples = mutable.ArrayBuffer.empty[(String, Double, Double)] // name, build ms, wall ms

  /** `data/suite_expected.tsv`: one line per query, `name\trows\thash`,
    * with `-` as the hash of a `rowsOnly` query. */
  def prepare(): Unit = {
    val path = Paths.get(ctx.dataDir, "suite_expected.tsv")
    if (Files.exists(path)) expected = Files.readAllLines(path, UTF_8).asScala
      .filterNot(_.startsWith("#")).map { l => val (n, fp) = l.span(_ != '\t'); n -> fp.drop(1) }
      .toMap
  }

  private def resetSessionState(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  /** Row count, and for oracle-backed queries an order-independent hash,
    * in the expected file's `rows\thash` form. */
  private def fingerprint(name: String, df: DataFrame): String =
    if (!oracleBacked(name)) s"${df.count()}\t-"
    else { val (n, h) = Pair.fingerprint(df); s"$n\t$h" }

  def warmUp(spark: SparkSession): Unit = {
    // queries warm concurrently, as in graft.Bench; the timed loop is serial.
    // Each query is fingerprinted once, then run once into the noop sink.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cpus)
    try {
      Queries.map { name =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val fp = try fingerprint(name, registry(name)(spark, ctx.dataDir))
              catch { case e: Exception => e.toString }
            got.put(name, fp)
            try registry(name)(spark, ctx.dataDir).write.format("noop").mode("overwrite").save()
            catch { case e: Exception => System.err.println(s"[perfbench] warm-up $name: $e") }
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    resetSessionState(spark)
    // then serially, as the timed loop runs, so the JIT has settled on it
    for (_ <- 1 to WarmPasses; name <- Queries) {
      try registry(name)(spark, ctx.dataDir).write.format("noop").mode("overwrite").save()
      catch { case e: Exception => System.err.println(s"[perfbench] warm-up $name: $e") }
      resetSessionState(spark)
    }
    val bad = Queries.filterNot(n => expected.get(n).contains(got.get(n)))
    bad.foreach(n => System.err.println(
      s"[perfbench] $n fingerprint ${got.get(n)} differs from expected ${expected.get(n)}"))
    checked = (Queries.size.toLong, bad.size.toLong)
  }

  /** Each query's computed fingerprint, in the expected file's form. */
  override def artifact: Seq[(String, String)] = Seq("suite_fingerprints" ->
    Json.obj(Queries.map(n => n -> Json.str(s"$n\t${got.get(n)}"))))

  private var passes = 0

  def measure(spark: SparkSession, seconds: Double): Measured = {
    val start = System.nanoTime()
    var failed = 0L
    var lastPass = 0.0
    def elapsed = (System.nanoTime() - start) / 1e9
    // whole passes: at least MinPasses, then while the next one is expected
    // to end inside the window. One collection before each pass (graft.Bench
    // collects every 8 queries) keeps it out of the timed queries.
    while (passes < MinPasses || elapsed + lastPass <= seconds) {
      System.gc()
      val p0 = System.nanoTime()
      rng.shuffle(Queries).foreach { name =>
        val tag = s"$name#$passes"
        val t0 = System.nanoTime()
        try {
          val df = ctx.trace.op(spark, "queries.build", name, tag, "build")(registry(name)(spark, ctx.dataDir))
          val t1 = System.nanoTime()
          ctx.trace.op(spark, "query.run", name, tag, "run")(
            df.write.format("noop").mode("overwrite").save())
          samples += ((name, (t1 - t0) / 1e6, (System.nanoTime() - t0) / 1e6))
          Main.log(f"$name%-22s build ${samples.last._2}%8.1f ms  total ${samples.last._3}%8.1f ms")
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          failed += 1
          samples += ((name, 0.0, (System.nanoTime() - t0) / 1e6))
        }
        resetSessionState(spark)
      }
      lastPass = (System.nanoTime() - p0) / 1e9
      passes += 1
    }
    // each query's fastest pass, as graft.Bench reports: interference on a
    // shared machine only ever adds time
    val best = samples.groupBy(_._1).values.map(_.map(_._3).min).toSeq
    Measured(best.size / (best.sum / 1e3), best, samples.size, samples.size.toLong, failed)
  }

  def check(spark: SparkSession): (Long, Long) = checked

  def layers(spark: SparkSession, m: Measured, out: Layers): Unit = {
    val per = math.max(m.ops, 1).toDouble
    out("queries.build_ms") = samples.map(_._2).sum / per
    val jobs = ctx.trace.jobs.asScala.toSeq
    out("queries.build_jobs") = jobs.count(_.phase == "build") / per
    val tasks = ctx.trace.tasks.asScala.toSeq
    def cpuOf(names: Set[String]): Double =
      tasks.filter(t => names(t.op.takeWhile(_ != '#'))).map(_.cpuNs).sum / 1e6 / per
    out("functions.kernel_task_cpu_ms") = cpuOf(Kernels.toSet)
    out("queries.Relational.task_cpu_ms") = cpuOf(graft.queries.Relational.specs.map(_.name).toSet)
    out("queries.AspSemantics.task_cpu_ms") = cpuOf(graft.queries.AspSemantics.specs.map(_.name).toSet)
    out("llm.LlmQueries.task_cpu_ms") = cpuOf(graft.llm.LlmQueries.specs.map(_.name).toSet)
    // the pipeline's stages and Compaction, after the window
    val (pa, pf) = pipelineLayers(spark, out)
    checked = (checked._1 + pa, checked._2 + pf)
  }

  /** `PipelineDemo.run` over the committed fixture (ingest → compact → dedup
    * → scrub → index → train-mix), writing Parquet under the run's work
    * directory; its stage `require`s are the output checks. It runs twice,
    * a warm-up and a timed run, whose stages fill the `pipeline.*` layers.
    * Returns the checks made: (attempted, failed). */
  private def pipelineLayers(spark: SparkSession, out: Layers): (Long, Long) = {
    def once(id: String): Option[(Seq[graft.PipelineDemo.Stage], Long, Long)] = {
      val work = ctx.tmp(s"pipeline-$id")
      val t0 = System.nanoTime()
      try {
        val st = ctx.trace.op(spark, "PipelineDemo.run", id, s"pipeline#$id", "run")(
          graft.PipelineDemo.run(spark, ctx.dataDir, work))
        val files = graft.sources.Compaction.countFiles(spark, s"$work/tables/documents.parquet")
        graft.Materialize.cleanup(spark)
        Some((st, files, t0))
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] pipeline run $id failed: $e"); None
      } finally deleteRecursively(new java.io.File(work))
    }
    val warm = once("warmup")
    val timed = once("timed")
    timed.foreach { case (st, files, t0) =>
      var t = t0
      st.foreach { s =>
        out(s"pipeline.${s.name.replace('-', '_')}_s") = s.secs
        val e = t + (s.secs * 1e9).toLong
        ctx.trace.record("pipeline.stage", s.name, "PipelineDemo.run:timed", t, e)
        t = e
      }
      out("sources.Compaction.files_out") = files.toDouble
    }
    (2L, Seq(warm, timed).count(_.isEmpty).toLong)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }
}

object SuiteWorkload {
  val WarmPasses = 2
  val MinPasses = 3
  /** Queries whose stages run the native Catalyst kernels of `graft.functions`
    * (q120, q129, q134 and q151 run them too but cost 0.9–2.4 s each on 4
    * cores, more than MinPasses passes in the window can hold). */
  val Kernels: Seq[String] = Seq("q36_resample", "q88_interpolate", "q108_pq_ann")
  /** The timed set: the kernel queries plus representatives of the other
    * registry modules, chosen so MinPasses passes fit the window. */
  val Queries: Seq[String] = Kernels ++ Seq("q1_pricing_summary", "q115_pagerank",
    "q135_cart_machine")
}
