package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.GraftFeed
import graft.streaming.{AspStream, Crossover, KeyedStateMachine, Replay}
import graft.streaming.Machines.{CartOpQ, MarketTick}

/** `live`: the generated stream through GraftFeed → `AspStream.run`
  * (RocksDB state), started with `Crossover.run`: a preloaded backlog is
  * drained with AvailableNow, then a ProcessingTime trigger takes over and
  * one generator thread pushes events in an open loop at a fixed rate,
  * each at its due time. Every event is two feed records, a tick for the
  * as-of query and an operation for the cart query, as in StreamBench. A
  * traced run then steps the rate up to find the highest one the path
  * sustains. */
final class LiveWorkload(ctx: Ctx) extends Workload {
  import LiveWorkload._
  private val traced = ctx.trace.enabled
  private var backlog: Array[GenEvent] = _
  private var live: Array[GenEvent] = _
  private var ladder: Seq[(Int, Array[GenEvent])] = Nil
  private var expiry = 0L
  private var warmChecked = (0L, 0L)
  private var result: Run = _

  def prepare(): Unit = {
    val n = (Rate * ctx.seconds).toInt
    val g = new Gen(ctx.seed, StreamParams(), Backlog + n)
    expiry = g.cartExpiryUs
    backlog = g.next(Backlog)
    live = g.next(n)
    if (traced) ladder = LadderRates.map(r => r -> g.next(r * StepSeconds))
  }

  /** Everything one streaming run observed. Latency bookkeeping is kept in
    * primitive arrays, so the harness adds little to the heap it measures. */
  final class Run(timed: Array[GenEvent]) {
    val timedCount: Int = timed.length
    val pushed = new AtomicLong()
    val outRows = new AtomicLong()
    val outHash = new AtomicLong()
    /** `timed` sorted by (key, ts): the sink finds an output's event here. */
    private val order: Array[Int] = timed.indices.sortBy(i => (timed(i).key, timed(i).ts)).toArray
    private val oKey = order.map(timed(_).key)
    private val oTs = order.map(timed(_).ts)
    /** Due time (ns) of each event in `timed`, set as it is pushed. */
    val dueNs = new Array[Long](timed.length)
    /** Latency samples (ms), at most two outputs per event. */
    val latMs = new Array[Double](2 * timed.length)
    val nLat = new AtomicInteger()
    val lateMs = new Array[Double](timed.length)
    var pushNs = 0L
    var pushes = 0L
    var drainS = 0.0
    var handoverStartMs = 0L
    var queries: Seq[StreamingQuery] = Nil
    var liveRunIds = Set.empty[java.util.UUID]
    val steps = mutable.ArrayBuffer.empty[(Int, Boolean)]
    val lags = mutable.ArrayBuffer.empty[Long]
    var windowSamples = 0

    /** Index in `timed` of the event with this key and time, or -1. */
    def find(key: Long, ts: Long): Int = {
      var lo = 0
      var hi = order.length - 1
      while (lo <= hi) {
        val m = (lo + hi) >>> 1
        val c = if (oKey(m) != key) java.lang.Long.compare(oKey(m), key)
                else java.lang.Long.compare(oTs(m), ts)
        if (c == 0) return order(m)
        if (c < 0) lo = m + 1 else hi = m - 1
      }
      -1
    }
    def latencies(from: Int, until: Int): Seq[Double] = latMs.slice(from, until).toSeq
  }

  private def feeds(name: String) = (0 until Shards).map(i => s"perfbench-$name-$i")

  /** Pushes both records of `e`. */
  private def push(r: Run, e: GenEvent): Unit = {
    val shard = (e.key % Shards).toInt
    val t = System.nanoTime()
    GraftFeed.push(feeds("asof")(shard), e.ts, e.tickRecord)
    GraftFeed.push(feeds("cart")(shard), e.ts, e.cartRecord)
    r.pushNs += System.nanoTime() - t
    r.pushes += 2
    r.pushed.addAndGet(2); ()
  }

  private def start[I, O: Encoder](spark: SparkSession, r: Run, name: String,
      parse: DataFrame => Dataset[I], key: I => Long, ts: I => Long, tie: I => Long,
      machine: Long => KeyedStateMachine[Long, I, O], id: String): StreamingQuery = {
    import spark.implicits._
    val src = spark.readStream.format("graft-feed")
      .option("shards", feeds(name).mkString(","))
      .option("maxPerTrigger", MaxPerTrigger.toString)
      .load()
      .withWatermark("ts", "1 hour")
    val out = AspStream.run(parse(src))(key, ts, tie)(machine)
    val ckpt = ctx.tmp(s"ckpt-$name-$id")
    def begin(trigger: Trigger): StreamingQuery = out.toDF().writeStream
      .foreachBatch { (ds: DataFrame, _: Long) =>
        val rows = ds.select(pmod(xxhash64(ds.columns.map(col).toSeq: _*), lit(1000000007L)),
          col("user_id"), col("ts_us")).collect()
        val now = System.nanoTime()
        rows.foreach { row =>
          r.outRows.incrementAndGet()
          r.outHash.addAndGet(row.getLong(0))
          val i = r.find(row.getLong(1), row.getLong(2))
          if (i >= 0 && r.dueNs(i) != 0L) r.latMs(r.nLat.getAndIncrement()) = (now - r.dueNs(i)) / 1e6
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .start()
    val t0 = System.nanoTime()
    val q = Crossover.run(begin, Crossover.Hooks(onLiveStart = () => {
      r.drainS += (System.nanoTime() - t0) / 1e9
      if (r.handoverStartMs == 0L) r.handoverStartMs = System.currentTimeMillis()
    }), liveTrigger = Trigger.ProcessingTime(TriggerMs))
    r.liveRunIds += q.runId
    q
  }

  private def parseTicks(spark: SparkSession)(df: DataFrame): Dataset[MarketTick] = {
    import spark.implicits._
    df.select(split($"value", ",").as("f"), unix_micros($"ts").as("ts_us"))
      .select($"f"(0).cast("long").as("user_id"), $"ts_us", $"f"(1).cast("long").as("seq"),
        $"f"(2).as("kind"), $"f"(3).cast("double").as("value")).as[MarketTick]
  }
  private def parseCarts(spark: SparkSession)(df: DataFrame): Dataset[CartOpQ] = {
    import spark.implicits._
    df.select(split($"value", ",").as("f"), unix_micros($"ts").as("ts_us"))
      .select($"f"(0).cast("long").as("user_id"), $"ts_us", $"f"(1).cast("long").as("event_id"),
        $"f"(2).as("name"), $"f"(3).cast("long").as("cost"), $"f"(4).cast("int").as("qty"),
        $"f"(5).cast("boolean").as("add")).as[CartOpQ]
  }

  /** Pushes `timed(from until from + count)` at `rate` events/s from now,
    * each at its due time. */
  private def openLoop(r: Run, timed: Array[GenEvent], from: Int, count: Int, rate: Int,
                       backlogRecords: Long): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < count) {
      val dueNs = t0 + (i * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
      r.lateMs(from + i) = (now - dueNs) / 1e6
      r.dueNs(from + i) = dueNs
      push(r, timed(from + i))
      // records pushed but not yet consumed, ten times a second
      if (traced && i % math.max(rate / 10, 1) == 0)
        r.lags += r.pushed.get - backlogRecords - consumed(r)
      i += 1
    }
  }

  /** Records consumed by the live phase of the run's queries. The session
    * keeps every progress update (see [[LiveWorkload.sessionConf]]). */
  private def consumed(r: Run): Long =
    r.queries.map(q => q.recentProgress.filter(p => r.liveRunIds(p.runId)).map(_.numInputRows).sum).sum

  private def awaitConsumed(r: Run, n: Long, timeoutS: Double): Boolean = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (consumed(r) < n && System.nanoTime() < end) Thread.sleep(20)
    consumed(r) >= n
  }

  /** One full streaming run: drain `bl`, hand over, push `lv` at [[Rate]],
    * then each ladder step at its rate. */
  private def runStream(spark: SparkSession, bl: Array[GenEvent], lv: Array[GenEvent],
                        id: String, steps: Seq[(Int, Array[GenEvent])], expiry: Long): Run = {
    import spark.implicits._
    val timed = lv ++ steps.flatMap(_._2)
    val r = new Run(timed)
    val backlogRecords = 2L * bl.length
    (feeds("asof") ++ feeds("cart")).foreach(GraftFeed.clear)
    try {
      bl.foreach(push(r, _))
      ctx.trace.span("live.drain", id) {
        val qa = start(spark, r, "asof", parseTicks(spark), (t: MarketTick) => t.user_id,
          (t: MarketTick) => t.ts_us, (t: MarketTick) => t.seq, Pair.asof(traced), id)
        val qc = start(spark, r, "cart", parseCarts(spark), (o: CartOpQ) => o.user_id,
          (o: CartOpQ) => o.ts_us, (o: CartOpQ) => o.event_id, Pair.cart(traced, expiry), id)
        r.queries = Seq(qa, qc)
      }
      ctx.trace.span("live.open_loop", id) {
        val lag0 = r.pushed.get - backlogRecords - consumed(r)
        openLoop(r, timed, 0, lv.length, Rate, backlogRecords)
        val lag1 = r.pushed.get - backlogRecords - consumed(r)
        // a run that does not catch up shows as lost events in the checks
        awaitConsumed(r, 2L * lv.length, 60)
        r.windowSamples = r.nLat.get
        if (lv.nonEmpty) r.steps += ((Rate, sustained(Rate, lag1 - lag0, r.latencies(0, r.windowSamples))))
      }
      var from = lv.length
      steps.foreach { case (rate, evs) =>
        ctx.trace.span("live.step", rate.toString) {
          val lat0 = r.nLat.get
          val lag0 = r.pushed.get - backlogRecords - consumed(r)
          openLoop(r, timed, from, evs.length, rate, backlogRecords)
          val lag1 = r.pushed.get - backlogRecords - consumed(r)
          awaitConsumed(r, r.pushed.get - backlogRecords, 60)
          r.steps += ((rate, sustained(rate, lag1 - lag0, r.latencies(lat0, r.nLat.get))))
        }
        from += evs.length
      }
    } finally {
      r.queries.foreach(_.stop())
      (feeds("asof") ++ feeds("cart")).foreach(GraftFeed.clear)
    }
    r
  }

  /** A rate is sustained when its step left less than one second of input
    * behind and its p99 latency stayed under the limit. */
  private def sustained(rate: Int, lagGrowth: Long, lat: Seq[Double]): Boolean =
    lagGrowth <= 2L * rate && lat.nonEmpty && Stats.pct(lat, 99) <= LatencyLimitMs

  /** Batch replay of the same input, fingerprinted like the sink. */
  private def expected(spark: SparkSession, evs: Seq[GenEvent], expiry: Long): (Long, Long) = {
    import spark.implicits._
    val t = evs.map(_.tick).toDS()
    val c = evs.map(_.cart).toDS()
    val a = Pair.fingerprint(Replay.run(t, "user_id", "ts_us", "seq")(_.user_id, _.ts_us)(Pair.asof(false)).toDF())
    val b = Pair.fingerprint(Replay.run(c, "user_id", "ts_us", "event_id")(_.user_id, _.ts_us)(Pair.cart(false, expiry)).toDF())
    (a._1 + b._1, a._2 + b._2)
  }

  /** Streamed output against batch replay, and records pushed against
    * records consumed: (attempted, failed) over the run's records. */
  private def verify(spark: SparkSession, r: Run, evs: Seq[GenEvent], expiry: Long,
                     what: String): (Long, Long) = {
    val exp = expected(spark, evs, expiry)
    val lost = r.pushed.get - 2L * (evs.size - r.timedCount) - consumed(r)
    val parity = (r.outRows.get, r.outHash.get) == exp
    if (!parity) System.err.println(s"[perfbench] live $what output " +
      s"(${r.outRows.get}, ${r.outHash.get}) differs from batch replay $exp")
    if (lost != 0) System.err.println(s"[perfbench] live $what lost $lost records")
    (r.pushed.get, math.abs(lost) + (if (parity) 0L else 1L))
  }

  def warmUp(spark: SparkSession): Unit = {
    // a first streaming run over its own events (RocksDB native load,
    // codegen, the JIT on both triggers), checked like the measured one
    val n = Rate * WarmupLiveSeconds
    val g = new Gen(ctx.seed + 1, StreamParams(), WarmupBacklog + n)
    val bl = g.next(WarmupBacklog)
    val lv = g.next(n)
    val r = runStream(spark, bl, lv, "warmup", Nil, g.cartExpiryUs)
    warmChecked = verify(spark, r, (bl ++ lv).toSeq, g.cartExpiryUs, "warm-up")
  }

  def measure(spark: SparkSession, seconds: Double): Measured = {
    MachineClock.reset()
    result = runStream(spark, backlog, live, "measure", ladder, expiry)
    val lat = result.latencies(0, result.windowSamples)
    Measured(2.0 * Backlog / result.drainS, lat, 1, 0L, 0L)
  }

  def check(spark: SparkSession): (Long, Long) = {
    val (a, f) = verify(spark, result, (backlog ++ live ++ ladder.flatMap(_._2)).toSeq, expiry,
      "measured")
    (warmChecked._1 + a, warmChecked._2 + f)
  }

  def layers(spark: SparkSession, m: Measured, out: Layers): Unit = {
    import scala.jdk.CollectionConverters._
    val r = result
    val prog = ctx.trace.progress.asScala.toSeq
    val livePs = prog.filter(p => r.liveRunIds(p.runId))
    val data = prog.filter(_.numInputRows > 0)
    def dur(k: String) = if (data.isEmpty) 0.0
      else data.map(p => p.durationMs.getOrDefault(k, 0L).toDouble).sum / data.size
    out("spark.stream.batches") = prog.size.toDouble
    if (data.nonEmpty) {
      val trig = data.map(_.durationMs.getOrDefault("triggerExecution", 0L).toDouble)
      out("spark.stream.batch_ms_p50") = Stats.median(trig)
      out("spark.stream.batch_ms_max") = trig.max
    }
    out("spark.stream.latest_offset_ms") = dur("latestOffset")
    out("spark.stream.query_planning_ms") = dur("queryPlanning")
    out("spark.stream.add_batch_ms") = dur("addBatch")
    out("spark.stream.wal_commit_ms") = dur("walCommit")
    out("spark.stream.commit_offsets_ms") = dur("commitOffsets")
    val ops = data.flatMap(_.stateOperators.toSeq)
    def custom(k: String) = ops.map(o => Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0))
    if (ops.nonEmpty) {
      out("state.rows_total") = prog.flatMap(_.stateOperators.map(_.numRowsTotal)).max.toDouble
      out("state.memory_bytes") = ops.map(_.memoryUsedBytes).max.toDouble
      out("state.commit_ms") = ops.map(_.commitTimeMs).sum.toDouble / data.size
      out("state.rocksdb_checkpoint_ms") = custom("rocksdbCommitCheckpointLatency").sum / data.size
      out("state.rocksdb_sst_bytes") = custom("rocksdbSstFileSize").max
    }
    // handover: backlog drained to the first live batch committed
    val firstLive = livePs.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.getOrDefault("triggerExecution", 0L)).sorted.headOption
    firstLive.foreach(t => out("streaming.Crossover.handover_ms") = (t - r.handoverStartMs).toDouble)
    out("sources.GraftFeed.push_ns") = r.pushNs.toDouble / math.max(r.pushes, 1L)
    val liveData = livePs.filter(_.numInputRows > 0)
    if (liveData.nonEmpty)
      out("sources.GraftFeed.admitted_per_batch") = liveData.map(_.numInputRows).sum.toDouble / liveData.size
    out("sources.GraftFeed.lag_records_max") = if (r.lags.isEmpty) 0.0 else r.lags.max.toDouble
    if (r.timedCount > 0) out("generator.late_ms_p99") = Stats.pct(r.lateMs.toSeq, 99)
    out("live.drain_events_per_s") = m.throughput
    if (m.latenciesMs.nonEmpty) out("live.latency_p99_ms") = Stats.pct(m.latenciesMs, 99)
    out("live.sustained_events_per_s") = (0 +: r.steps.filter(_._2).map(_._1).toSeq).max.toDouble
    out("streaming.Machines.self_ms") = MachineClock.nanos.get / 1e6
  }
}

object LiveWorkload {
  /** Events preloaded before the query starts (drained with AvailableNow). */
  val Backlog = 30000
  /** The fixed rate at which live latency is measured, events/s (each
    * event is two records). */
  val Rate = 1000
  /** Rates the traced run steps through after the measured window. */
  val LadderRates: Seq[Int] = Seq(2000, 4000, 8000, 16000)
  val StepSeconds = 3
  /** p99 latency a sustained rate must stay under. */
  val LatencyLimitMs = 3000.0
  /** StreamSoak's trigger interval, shard count and admission cap. */
  val TriggerMs = 500L
  val Shards = 8
  val MaxPerTrigger = 25000L
  val WarmupBacklog = 10000
  val WarmupLiveSeconds = 2
  val sessionConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
    // consumed records are counted from recentProgress, which keeps only
    // the last 100 updates per query by default
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000")
}
