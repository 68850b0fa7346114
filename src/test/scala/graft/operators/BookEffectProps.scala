package graft.operators

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.model.{Change, FeedMsg, Level, Tick}

/** ScalaCheck property for the ordered replay's effect algebra (pure
  * JVM, no Spark): cutting a message sequence into contiguous runs and
  * folding each run from the exclusive prefix of the runs' composed
  * [[BookEffect]]s emits exactly the ticks of the sequential fold.
  */
object BookEffectProps extends Properties("BookEffect") {

  private val priceGen: Gen[String] =
    Gen.chooseNum(1, 30).map(c => f"0.${c}%02d")
  // "0.55" and "0.550" are one level
  private val scaledPriceGen: Gen[String] =
    Gen.oneOf(priceGen, priceGen.map(_ + "0"))
  // zero sizes: kept at 0 by a snapshot, a delete in a diff
  private val sizeGen: Gen[String] =
    Gen.frequency(3 -> Gen.chooseNum(1, 99).map(_.toString), 1 -> Gen.oneOf("0", "0.0", "0.00"))

  private val levelGen: Gen[Level] = Gen.frequency(
    8 -> (for { p <- scaledPriceGen; s <- sizeGen } yield Level(p, s)),
    1 -> sizeGen.map(Level(null, _)),
    1 -> scaledPriceGen.map(Level(_, null)),
  )

  // dirty entries: a null price, a null size, a side that is neither
  // BUY nor SELL
  private val changeGen: Gen[Change] = Gen.frequency(
    8 -> (for { p <- scaledPriceGen; s <- sizeGen; sd <- Gen.oneOf("BUY", "SELL") }
      yield Change(p, s, sd)),
    1 -> sizeGen.map(Change(null, _, "BUY")),
    1 -> scaledPriceGen.map(Change(_, null, "SELL")),
    1 -> (for { p <- scaledPriceGen; s <- sizeGen; sd <- Gen.oneOf("HOLD", null) }
      yield Change(p, s, sd)),
  )

  private def event(eventType: String) =
    FeedMsg(null, 0L, 0, eventType, "0xM", null, null, null, null, null, null, null, null)

  private val eventGen: Gen[FeedMsg] = Gen.frequency(
    2 -> (for { a <- Gen.listOf(levelGen); b <- Gen.listOf(levelGen) }
      yield event("book").copy(asks = a, bids = b)),
    5 -> Gen.listOf(changeGen).map(cs => event("price_change").copy(changes = cs)),
    2 -> (for { sd <- Gen.oneOf("BUY", "SELL"); p <- Gen.option(priceGen); s <- sizeGen }
      yield event("last_trade_price").copy(side = sd, price = p.orNull, size = s)),
    1 -> Gen.const(event("tick_size_change")),
  )

  /** Messages in arrival order, two per line. Assets A/B/C anywhere;
    * asset L only in the last third, so it is first seen in a late run.
    */
  private val msgsGen: Gen[Vector[FeedMsg]] = for {
    n <- Gen.chooseNum(0, 60)
    events <- Gen.listOfN(n, eventGen)
    assets <- Gen.listOfN(n, Gen.oneOf("A", "B", "C"))
    late <- Gen.listOfN(n, Gen.oneOf(true, false))
  } yield events.indices.map { i =>
    val asset = if (late(i) && 3 * i >= 2 * n) "L" else assets(i)
    events(i).copy(fileHour = if (i < n / 2) "2025-07-01-10" else "2025-07-01-11",
      lineNo = (i / 2).toLong, msgIdx = i % 2, assetId = asset, ts = i.toString)
  }.toVector

  /** Cut points in [0, n], repeats allowed: runs may be empty. */
  private def runsGen(msgs: Vector[FeedMsg]): Gen[Seq[Vector[FeedMsg]]] =
    Gen.listOf(Gen.chooseNum(0, msgs.size)).map { cuts =>
      val bounds = (0 +: cuts.sorted :+ msgs.size)
      bounds.zip(bounds.tail).map { case (a, b) => msgs.slice(a, b) }
    }

  private def key(t: Tick) = (t.file_hour, t.line_no, t.msg_idx, t.emit_idx)

  property("runs folded from prefix-composed seeds equal the sequential fold") =
    forAll(msgsGen.flatMap(m => runsGen(m).map(m -> _))) { case (msgs, runs) =>
      val sequential = BookReplay.foldPartition(msgs.sortBy(_.assetId).iterator)
        .toSeq.sortBy(key)
      val seeds = BookReplay.seedsOf(runs.map(r => BookReplay.summarize(r.iterator)))
      val folded = runs.flatMap(r => BookReplay.foldRun(seeds, r.iterator))
      folded == sequential
    }
}
