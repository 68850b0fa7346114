package graft.operators

import java.math.BigDecimal

import scala.collection.mutable

import graft.model.{Change, Level}

/** Where a book event's level writes land: a live [[Book]], or a
  * [[BookEffect]] that records them. Snapshot and diff semantics are
  * defined here once, as `clear` plus per-level writes, so a recorded
  * run of events replays onto a book exactly as the events themselves
  * would have. Both kinds are Java-serializable: effects travel to the
  * batch fold as seeds, and a book is the stream fold's per-asset state.
  */
sealed abstract class Levels extends Serializable {

  /** Empty both sides. */
  private[operators] def clear(): Unit

  /** Set the level `price` of one side to `size`; a null `size`
    * deletes the level.
    */
  private[operators] def write(bid: Boolean, price: BigDecimal, size: BigDecimal): Unit

  /** Snapshot semantics: clear both sides, rebuild
    * (`tick_generator.rs:241-254`). A zero-size snapshot level is kept
    * at size 0; only a diff deletes on zero.
    */
  def resetFromSnapshot(askLvls: Seq[Level], bidLvls: Seq[Level]): this.type = {
    clear()
    def put(bid: Boolean, lvls: Seq[Level]): Unit =
      if (lvls != null)
        lvls.foreach(l =>
          if (l != null && l.price != null && l.size != null)
            write(bid, new BigDecimal(l.price), new BigDecimal(l.size)))
    put(bid = false, askLvls)
    put(bid = true, bidLvls)
    this
  }

  /** Diff semantics: upsert level; size == 0 deletes it
    * (`tick_generator.rs:256-272`, delete-on-zero `:264-267`). Wire
    * side is BUY(bid)/SELL(ask) (`tick_generator.rs:407-413`).
    */
  def updateFromDiff(changes: Seq[Change]): this.type = {
    if (changes != null) changes.foreach { c =>
      // incomplete entries (missing price/size) and unknown sides are
      // skipped rather than NPE-ing or silently mutating the ask side
      // — serde's Side enum admits only BUY/SELL
      // (`tick_generator.rs:407-413`), so anything else is dirty data
      // the strict parse gate would have rejected
      if (c != null && c.price != null && c.size != null &&
        (c.side == "BUY" || c.side == "SELL")) {
        val size = new BigDecimal(c.size)
        write(c.side == "BUY", new BigDecimal(c.price), if (size.signum() == 0) null else size)
      }
    }
    this
  }
}

object Levels {

  /** Exact-decimal price order: `"0.55"` and `"0.550"` are one level. */
  object PriceOrder extends Ordering[BigDecimal] {
    def compare(a: BigDecimal, b: BigDecimal): Int = a.compareTo(b)
  }
}

/** Per-asset limit order book: price → size, both sides sorted by
  * price. Mirrors the reference's
  * `Book { asks: BTreeMap<Decimal,Decimal>, bids: ... }`
  * (`cli/src/tick_generator.rs:233-281`), keyed on exact decimals —
  * `BigDecimal` compared by `compareTo` so `"0.55"` and `"0.550"` hit
  * the same level, exactly like `rust_decimal` keys. Doubles appear
  * only in the emitted tick (the reference's one lossy cast,
  * `tick_generator.rs:89-90`).
  */
final class Book extends Levels {
  val asks: mutable.TreeMap[BigDecimal, BigDecimal] = mutable.TreeMap()(Levels.PriceOrder)
  val bids: mutable.TreeMap[BigDecimal, BigDecimal] = mutable.TreeMap()(Levels.PriceOrder)

  private[operators] def clear(): Unit = {
    asks.clear()
    bids.clear()
  }

  private[operators] def write(bid: Boolean, price: BigDecimal, size: BigDecimal): Unit = {
    val side = if (bid) bids else asks
    if (size == null) side.remove(price) else side.update(price, size)
  }

  /** Best ask = lowest ask; (0,0) when the side is empty
    * (`tick_generator.rs:274-281`).
    */
  def topAsk: (Double, Double) =
    asks.headOption
      .map { case (p, s) => (p.doubleValue, s.doubleValue) }
      .getOrElse((0.0, 0.0))

  /** Best bid = highest bid; (0,0) when the side is empty. */
  def topBid: (Double, Double) =
    bids.lastOption
      .map { case (p, s) => (p.doubleValue, s.doubleValue) }
      .getOrElse((0.0, 0.0))
}

/** The net effect of a run of book events on one asset's book: whether
  * the run resets the book (it holds a snapshot) and the last write per
  * (side, price) since the last reset, a null size marking a delete.
  * A write is a last-writer-wins assignment and a reset discards what
  * came before, so effects compose associatively: recording `e2` onto a
  * copy of `e1` ([[applyTo]]) gives the effect of `e1` then `e2`. That
  * is what lets the batch replay fold each of an asset's partitions from
  * a seed, the exclusive prefix of its partitions before it (see
  * `BookReplay`).
  */
final class BookEffect extends Levels {
  private var reset = false
  private val asks = mutable.TreeMap.empty[BigDecimal, BigDecimal](Levels.PriceOrder)
  private val bids = mutable.TreeMap.empty[BigDecimal, BigDecimal](Levels.PriceOrder)

  private[operators] def clear(): Unit = {
    reset = true
    asks.clear()
    bids.clear()
  }

  private[operators] def write(bid: Boolean, price: BigDecimal, size: BigDecimal): Unit =
    (if (bid) bids else asks).update(price, size)

  /** Replay this effect onto `target`: a book, or another effect (which
    * then holds the composition). Reads this effect only.
    */
  def applyTo[L <: Levels](target: L): L = {
    if (reset) target.clear()
    asks.foreach { case (p, s) => target.write(bid = false, p, s) }
    bids.foreach { case (p, s) => target.write(bid = true, p, s) }
    target
  }
}
