package perfbench

import graft.streaming.Machines.{CartOpQ, MarketTick}

/** Parameters of the generated event stream shared by `replay` and `live`.
  * The defaults reproduce the shape of the sf0.1 `events` fixture that
  * `graft.StreamBench` and q135 read (100,000 events, 1,500 users, 30 days),
  * except for the key skew, which that fixture does not have; see
  * perfbench/README.md for where each value comes from.
  *
  * @param eventsPerKey events per key: the key count is the stream length
  *                     divided by this (fixture: 100,000 / 1,500)
  * @param zipfS        Zipf exponent of key popularity (0 = uniform, as in
  *                     the fixture; the default is the smallest exponent
  *                     Breslau et al. measured on web request traces)
  * @param gapUs        event-time step between consecutive events
  *                     (fixture: 30 days / 100,000 events)
  * @param expiryShare  where the cart discount expires, as a share of the
  *                     stream's event-time span (q135: first event + 7 days
  *                     of the 30-day fixture); every cart key arms this
  *                     timer on its first event
  * @param oooShare     share of events stamped earlier than their place in
  *                     the stream (fixture: none); never earlier than the
  *                     key's previous event, so each key's own order holds
  * @param oooMaxUs     how much earlier, at most
  */
final case class StreamParams(eventsPerKey: Double = 100000.0 / 1500, zipfS: Double = 0.64,
                              gapUs: Long = 25920000L, expiryShare: Double = 7.0 / 30,
                              oooShare: Double = 0.0, oooMaxUs: Long = 0L)

/** One generated fixture-shaped event. Like StreamBench, every event feeds
  * both machines: the as-of book as a tick and the cart as an operation. */
final case class GenEvent(eventId: Long, key: Long, ts: Long, eventType: Int, value: Double) {
  import GenEvent._
  /** StreamBench's mapping: view → quote, purchase → trade, else other. */
  def tick: MarketTick = MarketTick(key, ts, eventId,
    if (eventType == View) "quote" else if (eventType == Purchase) "trade" else "other", value)
  /** q135's mapping (`AspSemantics.cartOps`): a purchase removes one unit,
    * every other event type adds one or two. */
  def cart: CartOpQ = {
    val add = eventType != Purchase
    CartOpQ(key, ts, eventId, "i" + eventId % 5, (value * 1000).toLong,
      if (add) (eventId % 2 + 1).toInt else 1, add)
  }
  /** The feed records the live path parses back (StreamBench's layout). */
  def tickRecord: String = { val t = tick; s"${t.user_id},${t.seq},${t.kind},${t.value}" }
  def cartRecord: String = {
    val c = cart; s"${c.user_id},${c.event_id},${c.name},${c.cost},${c.qty},${c.add}"
  }
}

object GenEvent {
  /** The fixture's five event types, drawn uniformly (19.8–20.3% each). */
  val Types: Seq[String] = Seq("click", "purchase", "error", "signup", "view")
  val Purchase: Int = Types.indexOf("purchase")
  val View: Int = Types.indexOf("view")
}

/** Seeded event generator: the same seed, parameters and stream length give
  * the same events, in the same order. Event times advance by `gapUs` per
  * event from a fixed origin, so they do not depend on the wall clock.
  *
  * @param total the stream's length, which sets the key count and the
  *              discount-expiry instant; `next` may run past it
  */
final class Gen(seed: Long, p: StreamParams, total: Int) {
  val T0: Long = 1767225600000000L // 2026-01-01T00:00:00Z in µs
  val keys: Int = math.max(1, math.round(total / p.eventsPerKey).toInt)
  /** The discount-expiry instant every cart key arms on its first event. */
  val cartExpiryUs: Long = T0 + (p.expiryShare * total).toLong * p.gapUs
  private val rng = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(keys)(i => 1.0 / math.pow(i + 1, p.zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  // popularity rank -> key id, spreading the hottest keys over the id space.
  // Fixed, not seeded: every seed puts its hottest keys in the same shuffle
  // partitions, so the seed changes the events but not the partition skew.
  private val keyOfRank: Array[Int] = {
    val r = new java.util.SplittableRandom(0x5eed1L)
    val a = Array.range(0, keys)
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a
  }
  private def zipfRank(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, keys - 1)
  }
  private val lastTs = new java.util.HashMap[java.lang.Long, java.lang.Long]()
  private var n = 0L

  /** The next `count` events. */
  def next(count: Int): Array[GenEvent] = Array.fill(count) {
    val key: Long = keyOfRank(zipfRank())
    var ts = T0 + n * p.gapUs
    if (p.oooShare > 0 && rng.nextDouble() < p.oooShare) ts -= rng.nextLong(p.oooMaxUs + 1)
    val prev = lastTs.get(key)
    if (prev != null && ts <= prev) ts = prev + 1
    lastTs.put(key, ts)
    // the fixture's values: exponential with mean 50, two decimals
    val value = math.round(-50.0 * math.log(1.0 - rng.nextDouble()) * 100) / 100.0
    val e = GenEvent(n, key, ts, rng.nextInt(GenEvent.Types.size), value)
    n += 1
    e
  }
}
