package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.streaming.Machines._

/** The reference's core guarantee restated for Spark: replaying the past
  * (batch) and processing it live (Structured Streaming micro-batches)
  * produce THE SAME results from THE SAME state machine — including a
  * timer that fires between micro-batches (the cart discount expiry at
  * t+60 s, with events at 45 s and 75 s straddling it).
  */
class StreamingParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  import Fixtures.{T0, s}

  import Fixtures.{cartUpdates => updates}

  test("W4/W8: streaming (transformWithState) ≡ batch replay, timer across micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val batchOut = Replay.run(sp.createDataset(updates), "user_id", "ts_us", "seq", Some(T0))(
        _.user_id, _.ts_us)(Fixtures.cartFactory)
      .collect().toSeq.sortBy(_.ts_us)

    val mem = MemoryStream[CartUpdate]
    val withWm = mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[CartUpdate]
    val out = AspStream.run(withWm)(_.user_id, _.ts_us, _.seq)(
      Fixtures.cartFactory)

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("cart_stream")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      // batch 1: events before the 60 s discount expiry
      mem.addData(updates(0), updates(1), updates(2))
      q.processAllAvailable()
      // batch 2: the 75 s event — the 60 s timer must fire FIRST (inline
      // path), so Z is added undiscounted
      mem.addData(updates(3))
      q.processAllAvailable()

      val streamOut = sp.sql("SELECT * FROM cart_stream").as[CartTotal]
        .collect().toSeq.sortBy(_.ts_us)
      assert(streamOut == batchOut)
      assert(streamOut.map(t => math.round(t.total * 100) / 100.0)
        == Seq(9.00, 36.00, 22.50, 42.50))
    } finally q.stop()
  }

  test("W8 typed-state cart (native ListState/ValueState/timers) ≡ machine replay") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val batchOut = Replay.run(sp.createDataset(updates), "user_id", "ts_us", "seq", Some(T0))(
        _.user_id, _.ts_us)(Fixtures.cartFactory)
      .collect().toSeq.sortBy(_.ts_us)

    val mem = MemoryStream[CartUpdate]
    val withWm = mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[CartUpdate]
    val out = withWm.groupByKey(_.user_id)
      .transformWithState(new TypedCartProcessor(Fixtures.DiscountExpiryUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("typed_cart")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      mem.addData(updates(0), updates(1), updates(2))
      q.processAllAvailable()
      mem.addData(updates(3))
      q.processAllAvailable()
      val streamOut = sp.sql("SELECT * FROM typed_cart").as[CartTotal]
        .collect().toSeq.sortBy(_.ts_us)
      assert(streamOut == batchOut)
    } finally q.stop()
  }

  test("restart recovery: machine state + pending timer survive a stop/start from checkpoint") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val batchOut = Replay.run(sp.createDataset(updates), "user_id", "ts_us", "seq", Some(T0))(
        _.user_id, _.ts_us)(Fixtures.cartFactory)
      .collect().toSeq.sortBy(_.ts_us)

    val mem = MemoryStream[CartUpdate]
    val got = java.util.Collections.synchronizedList(new java.util.ArrayList[CartTotal]())
    def start(ckpt: String) = {
      val withWm = mem.toDS()
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .withWatermark("ts", "0 seconds")
        .as[CartUpdate]
      AspStream.run(withWm)(_.user_id, _.ts_us, _.seq)(Fixtures.cartFactory)
        .writeStream // memory sink can't recover a checkpoint; foreachBatch can
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[CartTotal], _: Long) =>
          ds.collect().foreach(got.add)
        }
        .option("checkpointLocation", ckpt).outputMode("append").start()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q1 = start(ckpt)
    try {
      mem.addData(updates(0), updates(1), updates(2))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the checkpoint: the serialized (machine, pending
    // timers, clock floor) blob must round-trip — the 60 s discount
    // expiry timer was registered BEFORE the stop and must still fire
    // before the 75 s event after the restart
    val q2 = start(ckpt)
    try {
      mem.addData(updates(3))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val streamOut = got.asScala.toSeq.sortBy(_.ts_us)
      assert(streamOut == batchOut)
      assert(streamOut.map(t => math.round(t.total * 100) / 100.0)
        == Fixtures.expectedTotals) // 42.50 ⇒ Z added UNdiscounted post-restart
    } finally q2.stop()
  }

  test("q135 integer cart machine: live ≡ batch replay on fixture ops, expiry timer mid-stream") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import graft.streaming.Machines.{CartOpQ, CartTotalQ}

    // the gate's own op derivation (ONE definition — AspSemantics.cartOps),
    // restricted to 3 users so the MemoryStream feed stays small
    val (evAll, expiry) = graft.queries.AspSemantics.cartOps(sp, "/root/testdata/sf0.001")
    val ops = evAll.filter(col("user_id") < 3).collect().toSeq
      .sortBy(o => (o.ts_us, o.event_id))
    assert(ops.exists(_.ts_us < expiry) && ops.exists(_.ts_us >= expiry),
      "fixture subset must straddle the discount expiry")

    val batchOut = Replay.run(sp.createDataset(ops), "user_id", "ts_us", "event_id")(
        _.user_id, _.ts_us)(uid => new Machines.CartMachineQ(uid, expiry))
      .collect().toSeq.sortBy(t => (t.user_id, t.ts_us, t.event_id))

    val mem = MemoryStream[CartOpQ]
    val withWm = mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[CartOpQ]
    val out = AspStream.run(withWm)(_.user_id, _.ts_us, _.event_id)(
      uid => new Machines.CartMachineQ(uid, expiry))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("cartq_stream")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      // feed in two micro-batches split AT the expiry so the discount
      // timer fires between them (the inline/registered timer rule)
      val (before, after) = ops.partition(_.ts_us < expiry)
      mem.addData(before)
      q.processAllAvailable()
      mem.addData(after)
      q.processAllAvailable()
      val streamOut = sp.sql("SELECT * FROM cartq_stream").as[CartTotalQ]
        .collect().toSeq.sortBy(t => (t.user_id, t.ts_us, t.event_id))
      assert(streamOut == batchOut)
    } finally q.stop()
  }

  test("q135 cart machine: partial lots of several names cross six micro-batches of one hot key") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import graft.streaming.Machines.{CartOpQ, CartTotalQ}

    // Per batch, per name, ten cycles of "add a 3-unit lot, remove 3
    // units" (the first cycle of the first batch removes 1). After the
    // first cycle each name holds one lot with 2 of its 3 units left,
    // and every later removal spans two lots: the 2 left of the old lot,
    // then 1 of the new one. So every batch ends with a partially
    // consumed lot of each of the three names in the serialized state.
    // The last batch also over-removes one name and removes an absent
    // one; the discount expires in the middle of batch 4.
    val names = Seq("a", "b", "c")
    val gap = 1000000L
    var i = 0L
    def op(name: String, qty: Int, add: Boolean) = {
      i += 1
      CartOpQ(9L, T0 + i * gap, i, name, 1000L + 37L * i, qty, add)
    }
    val batches = (0 until 6).map { b =>
      (0 until 10).flatMap { c =>
        names.flatMap(n => Seq(op(n, 3, add = true),
          op(n, if (b == 0 && c == 0) 1 else 3, add = false)))
      } ++ (if (b == 5) Seq(op("a", 5, add = false), op("zz", 1, add = false)) else Nil)
    }
    val ops = batches.flatten
    val expiry = batches(3)(30).ts_us + gap / 2

    val batchOut = Replay.run(sp.createDataset(ops), "user_id", "ts_us", "event_id")(
        _.user_id, _.ts_us)(uid => new Machines.CartMachineQ(uid, expiry))
      .collect().toSeq.sortBy(_.event_id)
    assert(batchOut == CartMachineQEquivalenceSpec.drive(new VectorCartMachineQ(9L, expiry), ops))
    // each batch boundary leaves 2 of 3 units of every name's front lot
    batches.init.map(_.last.event_id).foreach { id =>
      assert(batchOut.find(_.event_id == id).get.n_items == 2L * names.size)
    }

    val mem = MemoryStream[CartOpQ]
    val withWm = mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[CartOpQ]
    val out = AspStream.run(withWm)(_.user_id, _.ts_us, _.event_id)(
      uid => new Machines.CartMachineQ(uid, expiry))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("cartq_hot_stream")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b); q.processAllAvailable() }
      val streamOut = sp.sql("SELECT * FROM cartq_hot_stream").as[CartTotalQ]
        .collect().toSeq.sortBy(_.event_id)
      assert(streamOut == batchOut)
    } finally q.stop()
  }

  test("sub-ms timer precision: event in [floor-ms(due), due) in a LATER batch stays before the timer") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    import graft.streaming.Machines.{CartOpQ, CartTotalQ}

    // expiry NOT ms-aligned: a ms-floored persisted due (the pre-r6 blob
    // layout) would restore as expiry−500 µs and fire BEFORE the
    // expiry−300 µs event below, turning the discount off early — the
    // exact window ADVICE r5 flagged. µs-precision dues keep replay ≡ live.
    val expiry = T0 + 60L * 1000000L + 500L
    val ops = Seq(
      CartOpQ(7L, s(10), 1L, "A", 1000L, 1, add = true),     // batch 1: registers the timer
      CartOpQ(7L, expiry - 300L, 2L, "B", 1000L, 1, add = true), // batch 2: still discounted
      CartOpQ(7L, expiry + 700L, 3L, "C", 1000L, 1, add = true)) // batch 2: undiscounted

    val batchOut = Replay.run(sp.createDataset(ops), "user_id", "ts_us", "event_id")(
        _.user_id, _.ts_us)(uid => new Machines.CartMachineQ(uid, expiry))
      .collect().toSeq.sortBy(_.event_id)
    // ground truth: A and B at 900 milli-cost each, C at full 1000
    assert(batchOut.map(_.total_milli) == Seq(900L, 1800L, 2800L))

    val mem = MemoryStream[CartOpQ]
    val withWm = mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[CartOpQ]
    val out = AspStream.run(withWm)(_.user_id, _.ts_us, _.event_id)(
      uid => new Machines.CartMachineQ(uid, expiry))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("subms_stream")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      mem.addData(ops(0)); q.processAllAvailable()
      mem.addData(ops(1), ops(2)); q.processAllAvailable()
      val streamOut = sp.sql("SELECT * FROM subms_stream").as[CartTotalQ]
        .collect().toSeq.sortBy(_.event_id)
      assert(streamOut == batchOut)
    } finally q.stop()
  }

  test("W12 dynamic demux: a key first seen mid-stream spawns its machine on the fly") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val mem = MemoryStream[CartUpdate]
    val withWm = mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[CartUpdate]
    val out = AspStream.run(withWm)(_.user_id, _.ts_us, _.seq)(Fixtures.cartFactory)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("dyn_stream")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      mem.addData(updates(0)) // only user 42 exists
      q.processAllAvailable()
      // user 99 appears later — new subgraph, no restart (e1_dynamic.py)
      mem.addData(updates(1).copy(user_id = 99L))
      q.processAllAvailable()
      val byUser = sp.sql("SELECT * FROM dyn_stream").as[CartTotal]
        .collect().groupBy(_.user_id)
      assert(byUser.keySet == Set(42L, 99L))
      assert(byUser(99L).map(_.total).toSeq == Seq(27.0)) // 2×15 × 0.9 discount
    } finally q.stop()
  }

  test("W7 as-of: streaming machine ≡ batch AsOfJoin operator on the events fixture") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val ev = graft.core.Tables.events(sp, "/root/testdata/sf0.001")

    // batch: the declarative operator (union + last-value window)
    val trades = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value").as("trade_value"))
    val quotes = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("value").as("quote_value"))
    val batch = graft.operators.AsOfJoin
      .asOf(trades, quotes, Seq("user_id"), "ts", "ts", Seq("quote_value"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("trade_value"), col("quote_value"))
      .as[(Long, Long, Double, Option[Double])].collect().toSeq.sorted

    // streaming: the same merged stream through the keyed machine
    // (quotes tie-break before trades, matching the operator's tag order)
    val ticks = ev.filter(col("event_type").isin("purchase", "view"))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        (col("event_id") * 2 + when(col("event_type") === "view", 0).otherwise(1)).as("seq"),
        when(col("event_type") === "view", "quote").otherwise("trade").as("kind"),
        col("value")).as[Machines.MarketTick].collect().toSeq

    val mem = MemoryStream[Machines.MarketTick]
    val withWm = mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "0 seconds")
      .as[Machines.MarketTick]
    val out = AspStream.run(withWm)(_.user_id, _.ts_us, _.seq)(uid => new Machines.AsOfMachine(uid))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("asof_stream")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      val (first, rest) = ticks.sortBy(t => (t.ts_us, t.seq)).splitAt(ticks.size / 2)
      mem.addData(first: _*); q.processAllAvailable()
      mem.addData(rest: _*); q.processAllAvailable()
      val streamed = sp.sql("SELECT * FROM asof_stream").as[Machines.AsOfRow]
        .collect().toSeq
        .map(r => (r.user_id, r.ts_us, r.trade_value, r.quote_value)).sorted
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("cross-batch late row: monotone clock delivers it late (reference semantics), no rewind") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val mem = MemoryStream[Machines.MarketTick]
    val withWm = mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "10 minutes") // late rows NOT dropped by Spark
      .as[Machines.MarketTick]
    val out = AspStream.run(withWm)(_.user_id, _.ts_us, _.seq)(uid => new Machines.AsOfMachine(uid))
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = out.writeStream.format("memory").queryName("late_stream")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      mem.addData(Fixtures.lateTicks1: _*); q.processAllAvailable()
      // batch 2 carries a quote whose ts regresses behind batch 1's trade:
      // it must be delivered LATE (updating the book for FUTURE trades)
      // rather than rewinding the per-key clock (ADVICE r1 / class doc)
      mem.addData(Fixtures.lateTicks2: _*); q.processAllAvailable()
      val rows = sp.sql("SELECT * FROM late_stream").as[Machines.AsOfRow]
        .collect().toSeq.sortBy(_.ts_us)
      // trade@60 saw quote@10 (the late quote@30 had not arrived yet);
      // trade@90 sees the late quote@30's value — exactly the reference's
      // no-reorder-buffer late delivery
      assert(rows.map(r => (r.ts_us, r.trade_value, r.quote_value)) ==
        Seq((Fixtures.s(60), 100.0, Some(1.0)), (Fixtures.s(90), 200.0, Some(2.0))))
    } finally q.stop()
  }

  test("stream-stream interval join (watermarked both sides) ≡ batch range join") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val ev = graft.core.Tables.events(sp, "/root/testdata/sf0.001")

    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Fixtures.IvEv].collect().toSeq
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[Fixtures.IvEv].collect().toSeq

    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(col("p_uid"), unix_micros(col("p_ts")).as("p_us"),
        unix_micros(col("v_ts")).as("v_us"), col("p_val"), col("v_val"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq.sorted

    // batch reference: range join, view within [purchase - 10 min, purchase]
    val pB = sp.createDataset(purchases).select(col("user_id").as("p_uid"),
      timestamp_micros(col("ts_us")).as("p_ts"), col("value").as("p_val"))
    val vB = sp.createDataset(views).select(col("user_id").as("v_uid"),
      timestamp_micros(col("ts_us")).as("v_ts"), col("value").as("v_val"))
    val cond = col("p_uid") === col("v_uid") &&
      col("v_ts") >= col("p_ts") - expr("interval 10 minutes") &&
      col("v_ts") <= col("p_ts")
    val batch = shape(pB.join(vB, cond))

    // streaming: same condition, both sides watermarked — Spark derives
    // the state-eviction bound from the interval (stream-stream inner
    // join state is bounded, the scale-correct shape)
    val pMem = MemoryStream[Fixtures.IvEv]
    val vMem = MemoryStream[Fixtures.IvEv]
    val pS = pMem.toDS().select(col("user_id").as("p_uid"),
        timestamp_micros(col("ts_us")).as("p_ts"), col("value").as("p_val"))
      .withWatermark("p_ts", "1 minute")
    val vS = vMem.toDS().select(col("user_id").as("v_uid"),
        timestamp_micros(col("ts_us")).as("v_ts"), col("value").as("v_val"))
      .withWatermark("v_ts", "1 minute")
    val joined = pS.join(vS, cond)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = joined.writeStream.format("memory").queryName("iv_join")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      // ts-ordered halves: batch-2 rows stay ahead of the global watermark
      val (p1, p2) = purchases.sortBy(_.ts_us).splitAt(purchases.size / 2)
      val (v1, v2) = views.sortBy(_.ts_us).splitAt(views.size / 2)
      pMem.addData(p1: _*); vMem.addData(v1: _*); q.processAllAvailable()
      pMem.addData(p2: _*); vMem.addData(v2: _*); q.processAllAvailable()
      val streamed = shape(sp.sql("SELECT * FROM iv_join"))
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("W1 streaming dedup: dropDuplicatesWithinWatermark keeps first-seen, state is watermark-bounded") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    val mem = MemoryStream[Fixtures.IvEv]
    // the scale-correct streaming W1: per-key dedup state is EVICTED once
    // the watermark passes (unbounded dropDuplicates state would OOM a
    // long-running 100 TB stream); within the watermark the first seen
    // row wins, matching batch Windows.firstSeen on ordered arrival
    val deduped = mem.toDS()
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("user_id")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = deduped.writeStream.format("memory").queryName("dedup_stream")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      mem.addData(Fixtures.IvEv(1L, Fixtures.s(10), 1.0),
        Fixtures.IvEv(1L, Fixtures.s(20), 2.0), // dup key, same batch
        Fixtures.IvEv(2L, Fixtures.s(15), 3.0))
      q.processAllAvailable()
      mem.addData(Fixtures.IvEv(1L, Fixtures.s(30), 4.0)) // dup key, later batch, within watermark
      q.processAllAvailable()
      val rows = sp.sql("SELECT user_id, value FROM dedup_stream ORDER BY user_id")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(rows == Seq((1L, 1.0), (2L, 3.0))) // first-seen only, across batches
    } finally q.stop()
  }

  test("session windows: batch session_window agg ≡ AvailableNow streaming with watermark") {
    val sp = spark
    import sp.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q30_session_window")(sp, dir)
      .collect().map(_.toSeq).toSeq

    val schema = graft.core.Tables.table(sp, dir, "events").schema
    val srcDir = java.nio.file.Files.createTempDirectory("graft-sess-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val streamEv = sp.readStream.schema(schema)
      .parquet(srcDir.toString)
      .transform(graft.core.Tables.normalizeEventTs)
      .withWatermark("ts", "0 seconds")
    val agg = streamEv
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("session_start_us"),
        unix_micros(col("session_window.end")).as("session_end_us"),
        col("n_events"), col("total_value"))

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = agg.writeStream.format("memory").queryName("sess_stream")
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()

    // append mode holds back sessions not yet closed by the watermark (the
    // final session per user) — the emitted prefix must match batch exactly
    val streamed = sp.sql(
      "SELECT * FROM sess_stream ORDER BY user_id, session_start_us")
      .collect().map(_.toSeq).toSeq
    val batchSet = batch.toSet
    assert(streamed.nonEmpty)
    assert(streamed.forall(batchSet.contains), "every emitted session matches batch")
    assert(streamed.size >= batch.size - 200) // only watermark-open tails held back
  }

  test("W10 VWAP: batch window aggregation ≡ AvailableNow streaming with watermark") {
    val sp = spark
    import sp.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q28_vwap_tumbling")(sp, dir)
      .collect().map(_.toSeq).toSeq

    // same plan over a file STREAM, drained with AvailableNow; the raw
    // parquet schema (ts as nanos long) feeds the same µs conversion
    val schema = graft.core.Tables.table(sp, dir, "events").schema
    val srcDir = java.nio.file.Files.createTempDirectory("graft-vwap-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet")) // file stream sources read directories
    val streamEv = sp.readStream.schema(schema)
      .parquet(srcDir.toString)
      .transform(graft.core.Tables.normalizeEventTs)
      .withWatermark("ts", "0 seconds")
      .withColumn("weight", get_json_object(col("props"), "$.k").cast("long"))
    val agg = graft.operators.Windows.hoppingAgg(streamEv, "1 day", "1 day", Nil,
        Seq((sum((col("value") * col("weight")).cast("decimal(18,2)")).cast("double") /
          sum(col("weight")).cast("double")).as("vwap"),
          sum(col("weight")).cast("long").as("total_weight"),
          count(lit(1)).as("n_events")))
      .select(unix_micros(col("window.start")).as("w_start_us"),
        col("vwap"), col("total_weight"), col("n_events"))

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = agg.writeStream.format("memory").queryName("vwap_stream")
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()

    // append mode finalizes a window only once the watermark passes its
    // end; the stream's final (incomplete-by-watermark) day stays held
    // back — compare the completed prefix, which must match batch exactly
    val streamed = sp.sql(
      "SELECT * FROM vwap_stream WHERE total_weight > 0 ORDER BY w_start_us")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch.take(streamed.size))
    assert(batch.size - streamed.size <= 1)
  }

  test("OHLC bars: chained stateful aggs (tie-dedup → hourly bars) ≡ batch q113") {
    val sp = spark
    import sp.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.SparkEntry.queries("q113_ohlc_bars")(sp, dir)
      .collect().map(_.toSeq).toSeq

    val schema = graft.core.Tables.table(sp, dir, "events").schema
    val srcDir = java.nio.file.Files.createTempDirectory("graft-ohlc-src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      srcDir.resolve("events.parquet"))
    val streamEv = sp.readStream.schema(schema)
      .parquet(srcDir.toString)
      .transform(graft.core.Tables.normalizeEventTs)
      .withWatermark("ts", "0 seconds")
    // two CHAINED stateful aggregations in one append-mode query (the
    // Spark 4 multi-stateful-operator path): the q36 tie rule first
    // (event-time key — finalizes as the watermark passes each ts),
    // then the hourly tumbling bar over the deduped ticks
    val ticks = streamEv
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("value"))
    val bars = ticks
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(min_by(col("value"), col("ts")).as("open_v"),
        max(col("value")).as("high_v"), min(col("value")).as("low_v"),
        max_by(col("value"), col("ts")).as("close_v"),
        count(lit(1)).as("n_ticks"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_v"))
      .select(col("user_id"), unix_micros(col("window.start")).as("bar_us"),
        col("open_v"), col("high_v"), col("low_v"), col("close_v"),
        col("n_ticks"), col("sum_v"))

    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val q = bars.writeStream.format("memory").queryName("ohlc_stream")
      .option("checkpointLocation", ckpt).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()

    // append holds back bars the watermark hasn't closed; the finalized
    // set must be row-identical to the batch query's matching bars
    val streamed = sp.sql(
      "SELECT * FROM ohlc_stream ORDER BY user_id, bar_us")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    val batchKeyed = batch.map(r => (r.head, r(1)) -> r).toMap
    streamed.foreach { r =>
      assert(batchKeyed((r.head, r(1))) == r, s"bar mismatch: $r")
    }
    assert(batch.size - streamed.size <= batchKeyed.keys.map(_._1).toSet.size,
      "more than one open bar per user held back")
  }
}
