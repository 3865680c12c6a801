package graft.streaming

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Machines.{CartMachineQ, CartOpQ, CartTotalQ}
import scala.collection.mutable

/** The q135 integer cart machine, written the direct way: the whole lot
  * list in one `Vector`, removal through [[Machines.removeFifo]], and
  * both totals re-summed in lot order after every operation (O(cart) per
  * operation). It is the oracle [[CartMachineQ]]'s running totals and
  * per-name FIFO queues must match output for output. */
final class VectorCartMachineQ(userId: Long, discountExpiryUs: Long)
    extends KeyedStateMachine[Long, CartOpQ, CartTotalQ] {
  import VectorCartMachineQ.Lot
  private var items = Vector.empty[Lot]
  private var discounted = true

  override def onStart(key: Long, ctx: ReplayCtx[CartTotalQ]): Unit =
    ctx.callAt(discountExpiryUs, "discount_off")

  override def onTimer(ts: Long, tag: String, ctx: ReplayCtx[CartTotalQ]): Unit =
    if (tag == "discount_off") discounted = false

  override def onEvent(ts: Long, u: CartOpQ, ctx: ReplayCtx[CartTotalQ]): Unit = {
    if (u.add) {
      val c = if (discounted) Math.floorDiv(u.cost * 9, 10) else u.cost
      items :+= Lot(u.name, c, u.qty)
    } else {
      items = Machines.removeFifo(items, u.qty)(
        _.name == u.name, _.qty, (l, q) => l.copy(qty = q))
    }
    ctx.emit(CartTotalQ(userId, u.ts_us, u.event_id,
      items.map(l => l.cost * l.qty).sum, items.map(_.qty.toLong).sum))
  }
}

object VectorCartMachineQ {
  final case class Lot(name: String, cost: Long, qty: Int)
}

/** [[CartMachineQ]] ≡ [[VectorCartMachineQ]] on random single-key
  * operation sequences, both driven through a [[ReplayCtx]] the way
  * [[Replay.run]] drives one key. */
class CartMachineQEquivalenceSpec extends AnyFunSuite {
  import CartMachineQEquivalenceSpec._

  test("running totals + per-name FIFO lots ≡ Vector + removeFifo on random op sequences") {
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    val prop = Prop.forAllNoShrink(genCase) { c =>
      val (ops, expiry, cases) = c.build()
      cases.foreach(k => seen(k) += 1)
      val got = drive(new CartMachineQ(Key, expiry), ops)
      val want = drive(new VectorCartMachineQ(Key, expiry), ops)
      Prop(got == want) :| s"$c: first difference at output ${
        got.zip(want).indexWhere { case (a, b) => a != b }} of ${want.size}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, Pretty.pretty(res))
    // the sequences really did reach every branch the rewrite must keep
    Seq("long", "partial", "spans lots", "over-remove", "absent name",
        "timer mid-stream").foreach(k => assert(seen(k) > 0, s"no sequence covered: $k"))
  }
}

object CartMachineQEquivalenceSpec {
  val Key = 7L
  val T0 = 1577836800000000L
  val GapUs = 1000000L

  /** One run's parameters; `build` expands them into operations from
    * `seed`, so a failure prints a short, replayable case. */
  final case class Case(names: Int, ops: Int, addShare: Double,
                        expiryStep: Int, onTick: Boolean, seed: Long) {
    /** The operations, the discount expiry, and which branches the
      * removals hit (tracked on a per-name shadow of lot quantities). */
    def build(): (Vector[CartOpQ], Long, Set[String]) = {
      val r = new java.util.SplittableRandom(seed)
      val shadow = mutable.Map.empty[String, mutable.ArrayDeque[Int]]
      val cases = mutable.Set.empty[String]
      if (ops >= 4000) cases += "long"
      val out = Vector.tabulate(ops) { i =>
        val ts = T0 + i * GapUs
        if (r.nextDouble() < addShare) {
          val name = "n" + r.nextInt(names)
          val qty = 1 + r.nextInt(3)
          // a few huge costs: the Long sums must wrap identically
          val cost = if (r.nextInt(50) == 0) r.nextLong() >>> 2 else r.nextLong(200000L)
          shadow.getOrElseUpdate(name, mutable.ArrayDeque.empty) += qty
          CartOpQ(Key, ts, i, name, cost, qty, add = true)
        } else {
          // one name past the added ones is never added: always absent
          val name = "n" + r.nextInt(names + 1)
          val qty = if (r.nextInt(8) == 0) 4 + r.nextInt(9) else 1 + r.nextInt(3)
          val q = shadow.getOrElse(name, mutable.ArrayDeque.empty[Int])
          if (q.isEmpty) cases += "absent name"
          else {
            if (q.sum < qty) cases += "over-remove"
            var rem = qty; var lotsTouched = 0
            while (rem > 0 && q.nonEmpty) {
              lotsTouched += 1
              if (q.head > rem) { q(0) = q.head - rem; rem = 0; cases += "partial" }
              else rem -= q.removeHead()
            }
            if (lotsTouched > 1) cases += "spans lots"
          }
          CartOpQ(Key, ts, i, name, r.nextLong(200000L), qty, add = false)
        }
      }
      // on a tick the timer and an operation share a timestamp (the
      // timer fires first); otherwise it falls between two operations
      val expiry = T0 + expiryStep * GapUs + (if (onTick) 0L else GapUs / 2)
      if (expiryStep > 0 && expiryStep < ops - 1) cases += "timer mid-stream"
      (out, expiry, cases.toSet)
    }
  }

  val genCase: Gen[Case] = for {
    names <- Gen.choose(1, 6)
    ops <- Gen.frequency(4 -> Gen.choose(0, 300), 1 -> Gen.choose(300, 5000))
    addShare <- Gen.choose(0.3, 0.8)
    expiryStep <- Gen.choose(-1, ops + 1)
    onTick <- Gen.oneOf(true, false)
    seed <- Gen.long
  } yield Case(names, ops, addShare, expiryStep, onTick, seed)

  /** One key through `m` exactly as [[Replay.run]]'s per-key loop does:
    * due timers fire before each event, the rest drain at the end. */
  def drive(m: KeyedStateMachine[Long, CartOpQ, CartTotalQ],
            ops: Seq[CartOpQ]): Seq[CartTotalQ] = {
    val ctx = new ReplayCtx[CartTotalQ](ops.headOption.fold(T0)(_.ts_us))
    m.onStart(Key, ctx)
    ops.foreach { u =>
      Replay.fireDueTracked(m, ctx, upTo = u.ts_us)
      ctx.nowMicros = u.ts_us
      m.onEvent(u.ts_us, u, ctx)
    }
    Replay.fireDueTracked(m, ctx, upTo = Long.MaxValue)
    m.onFinish(ctx)
    ctx.drain()
  }
}
