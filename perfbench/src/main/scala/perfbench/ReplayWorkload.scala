package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.streaming.{KeyedStateMachine, Machines, Replay, ReplayCtx}
import graft.streaming.Machines.{AsOfRow, CartOpQ, CartTotalQ, MarketTick}

/** Self time of the state machines, summed over the whole JVM (the
  * benchmark runs at local[n], so executors share it). */
object MachineClock {
  val nanos = new AtomicLong()
  val events = new AtomicLong()
  val timers = new AtomicLong()
  def reset(): Unit = { nanos.set(0); events.set(0); timers.set(0) }
}

/** Delegating machine that times every callback of `inner`. Used on traced
  * runs only, so untraced runs execute the program's machines unwrapped. */
final class Timed[I, O](inner: KeyedStateMachine[Long, I, O])
    extends KeyedStateMachine[Long, I, O] {
  private def timed(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    MachineClock.nanos.addAndGet(System.nanoTime() - t); ()
  }
  override def onStart(key: Long, ctx: ReplayCtx[O]): Unit = timed(inner.onStart(key, ctx))
  override def onEvent(ts: Long, v: I, ctx: ReplayCtx[O]): Unit = {
    MachineClock.events.incrementAndGet()
    timed(inner.onEvent(ts, v, ctx))
  }
  override def onTimer(ts: Long, tag: String, ctx: ReplayCtx[O]): Unit = {
    MachineClock.timers.incrementAndGet()
    timed(inner.onTimer(ts, tag, ctx))
  }
  override def onFinish(ctx: ReplayCtx[O]): Unit = timed(inner.onFinish(ctx))
}

/** The StreamBench machine pair over the generated stream: factories,
  * an independent sequential reference, and the output fingerprint. */
object Pair {
  def asof(traced: Boolean): Long => KeyedStateMachine[Long, MarketTick, AsOfRow] =
    if (traced) k => new Timed(new Machines.AsOfMachine(k)) else k => new Machines.AsOfMachine(k)
  def cart(traced: Boolean, expiry: Long): Long => KeyedStateMachine[Long, CartOpQ, CartTotalQ] =
    if (traced) k => new Timed(new Machines.CartMachineQ(k, expiry))
    else k => new Machines.CartMachineQ(k, expiry)

  /** Order-independent fingerprint: row count and Σ pmod(xxhash64(row), p)
    * (StreamBench's pattern), computed distributed. Map columns, which
    * xxhash64 rejects, are hashed through their JSON form. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (f.dataType.isInstanceOf[MapType]) to_json(col(f.name)) else col(f.name)
    }
    val r = df.agg(count(lit(1)), coalesce(
      sum(pmod(xxhash64(cols: _*), lit(1000000007L))), lit(0L))).head
    (r.getLong(0), r.getLong(1))
  }

  /** Sequential reference of the as-of book: each trade sees the last
    * quote at or before it, per key in (ts, seq) order. */
  def asofReference(ticks: Seq[MarketTick]): Seq[AsOfRow] =
    ticks.groupBy(_.user_id).toSeq.flatMap { case (k, ts) =>
      var last: Option[Double] = None
      ts.sortBy(t => (t.ts_us, t.seq)).flatMap { t =>
        t.kind match {
          case "quote" => last = Some(t.value); None
          case "trade" => Some(AsOfRow(k, t.ts_us, t.value, last))
          case _ => None
        }
      }
    }

  /** Sequential reference of the integer cart: lots are discounted by 10%
    * (floor) before the expiry instant, removal is FIFO across the lots of
    * the same name, and a total is emitted per operation. Totals are kept
    * incrementally, so a hot key's long cart stays cheap to check. */
  def cartReference(ops: Seq[CartOpQ], expiry: Long): Seq[CartTotalQ] =
    ops.groupBy(_.user_id).toSeq.flatMap { case (k, os) =>
      val names = mutable.ArrayBuffer.empty[String]
      val costs = mutable.ArrayBuffer.empty[Long]
      val qtys = mutable.ArrayBuffer.empty[Int]
      var total = 0L
      var units = 0L
      os.sortBy(o => (o.ts_us, o.event_id)).map { o =>
        if (o.add) {
          val c = if (o.ts_us < expiry) Math.floorDiv(o.cost * 9, 10) else o.cost
          names += o.name; costs += c; qtys += o.qty
          total += c * o.qty; units += o.qty
        } else {
          var left = o.qty
          var i = 0
          while (left > 0 && i < names.size) {
            if (names(i) == o.name) {
              val take = math.min(left, qtys(i))
              total -= costs(i) * take; units -= take; left -= take
              if (take == qtys(i)) { names.remove(i); costs.remove(i); qtys.remove(i) }
              else { qtys(i) -= take; i += 1 }
            } else i += 1
          }
        }
        CartTotalQ(k, o.ts_us, o.event_id, total, units)
      }
    }
}

/** `replay`: `Replay.run` over the generated stream, every event both an
  * as-of tick and a cart operation (as in StreamBench), written to Parquet
  * once at set-up and read back per pass. */
final class ReplayWorkload(ctx: Ctx) extends Workload {
  import ReplayWorkload._
  private var expiry = 0L
  private var rows = 0L
  private var checked = (0L, 0L)
  private val traced = ctx.trace.enabled
  private def ticksPath = s"${ctx.outDir}/tmp/replay/ticks.parquet"
  private def cartsPath = s"${ctx.outDir}/tmp/replay/carts.parquet"

  private var genTicks: Seq[MarketTick] = Nil
  private var genCarts: Seq[CartOpQ] = Nil

  def prepare(): Unit = {
    val g = new Gen(ctx.seed, StreamParams(), Events)
    val evs = g.next(Events)
    genTicks = evs.map(_.tick).toVector
    genCarts = evs.map(_.cart).toVector
    expiry = g.cartExpiryUs
    rows = genTicks.size.toLong + genCarts.size
  }

  private def inputs(spark: SparkSession): (Dataset[MarketTick], Dataset[CartOpQ]) = {
    import spark.implicits._
    (spark.read.parquet(ticksPath).as[MarketTick], spark.read.parquet(cartsPath).as[CartOpQ])
  }

  private def outputs(spark: SparkSession, ticks: Dataset[MarketTick], carts: Dataset[CartOpQ])
      : (Dataset[AsOfRow], Dataset[CartTotalQ]) = {
    import spark.implicits._
    (Replay.run(ticks, "user_id", "ts_us", "seq")(_.user_id, _.ts_us)(Pair.asof(traced)),
     Replay.run(carts, "user_id", "ts_us", "event_id")(_.user_id, _.ts_us)(Pair.cart(traced, expiry)))
  }

  def warmUp(spark: SparkSession): Unit = {
    import spark.implicits._
    def ds[T: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](xs: Seq[T]) =
      spark.sparkContext.parallelize(xs, ctx.cpus).toDS()
    ds(genTicks).write.mode("overwrite").parquet(ticksPath)
    ds(genCarts).write.mode("overwrite").parquet(cartsPath)
    Main.log("replay inputs written")
    val expected = (Pair.fingerprint(ds(Pair.asofReference(genTicks)).toDF()),
                    Pair.fingerprint(ds(Pair.cartReference(genCarts, expiry)).toDF()))
    Main.log("replay reference computed")
    genTicks = Nil; genCarts = Nil
    val (t, c) = inputs(spark)
    val (a, b) = outputs(spark, t, c)
    val got = (Pair.fingerprint(a.toDF()), Pair.fingerprint(b.toDF()))
    if (got != expected)
      System.err.println(s"[perfbench] replay output $got differs from the reference $expected")
    checked = (2L, (if (got._1 == expected._1) 0L else 1L) + (if (got._2 == expected._2) 0L else 1L))
    Main.log(s"replay check: as-of ${got._1} vs ${expected._1}, cart ${got._2} vs ${expected._2}")
    // warm passes for WarmSeconds, so the JIT has settled on the timed path
    val w0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - w0) / 1e9 < WarmSeconds) { pass(spark, s"warmup$i"); i += 1 }
  }

  private def pass(spark: SparkSession, id: String): Unit = {
    val (t, c) = inputs(spark)
    val (a, b) = outputs(spark, t, c)
    ctx.trace.op(spark, "streaming.Replay.run", id, "replay", "run") {
      a.write.format("noop").mode("overwrite").save()
      b.write.format("noop").mode("overwrite").save()
    }
  }

  def measure(spark: SparkSession, seconds: Double): Measured = {
    MachineClock.reset()
    val lat = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var failed = 0L
    // whole passes, while the next one is expected to end inside the window
    while (lat.isEmpty || (System.nanoTime() - start) / 1e9 + lat.last / 1e3 <= seconds) {
      val t0 = System.nanoTime()
      try pass(spark, lat.size.toString)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] replay pass failed: $e"); failed += 1
      }
      lat += (System.nanoTime() - t0) / 1e6
    }
    Measured(rows / (Stats.median(lat.toSeq) / 1e3), lat.toSeq, lat.size, lat.size.toLong, failed)
  }

  def check(spark: SparkSession): (Long, Long) = checked

  def layers(spark: SparkSession, m: Measured, out: Layers): Unit = {
    import scala.jdk.CollectionConverters._
    val per = math.max(m.ops, 1).toDouble
    out("streaming.Replay.events") = MachineClock.events.get / per
    out("streaming.Replay.timers_fired") = MachineClock.timers.get / per
    out("streaming.Machines.self_ms") = MachineClock.nanos.get / 1e6 / per
    val (t, c) = inputs(spark)
    val (a, b) = outputs(spark, t, c)
    out("streaming.Replay.outputs") = (Pair.fingerprint(a.toDF())._1 + Pair.fingerprint(b.toDF())._1).toDouble
    // the machine loop runs in the result stage of each replay job
    val resultStages = ctx.trace.jobs.asScala.filter(_.op == "replay").map(_.resultStage).toSet
    val replayTasks = ctx.trace.tasks.asScala.filter(_.op == "replay").toSeq
    out("streaming.Replay.task_cpu_ms") = replayTasks.map(_.cpuNs).sum / 1e6 / per
    val loop = replayTasks.filter(t => resultStages.contains(t.stageId)).map(_.runMs.toDouble)
    if (loop.nonEmpty) {
      // per-stage max, then median over the passes' stages
      val byStage = replayTasks.filter(t => resultStages.contains(t.stageId)).groupBy(_.stageId)
      out("streaming.Replay.max_task_ms") = Stats.median(byStage.values.map(_.map(_.runMs.toDouble).max).toSeq)
      out("streaming.Replay.median_task_ms") = Stats.median(loop)
    }
    out("streaming.Replay.single_core_events_per_s") = singleCore()
  }

  /** The same passes at local[1], on a session of its own. */
  private def singleCore(): Double = {
    val one = new Ctx(ctx.seed, ctx.seconds, ctx.outDir, ctx.dataDir, 1, new Trace(false))
    val active = SparkSession.active
    active.stop()
    val s = one.newSession()
    try {
      val (t, c) = inputs(s)
      val (a, b) = outputs(s, t, c)
      def once(): Double = {
        val t0 = System.nanoTime()
        a.write.format("noop").mode("overwrite").save()
        b.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      rows / Stats.median(Seq(once(), once(), once()))
    } finally s.stop()
  }
}

object ReplayWorkload {
  /** Generated events; each is one tick and one cart operation. */
  val Events = 300000
  /** Warm passes after the check, so the JIT has settled on the timed path. */
  val WarmSeconds = 6
}
