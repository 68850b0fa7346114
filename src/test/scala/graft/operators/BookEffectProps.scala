package graft.operators

import scala.collection.mutable
import scala.util.Random

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.model.{Change, FeedMsg, Level, Tick}

/** ScalaCheck properties for the book fold's effect algebra (pure JVM,
  * no Spark): cutting messages into runs, each asset's runs ascending
  * and disjoint, and folding every run from the exclusive prefix of its
  * asset's composed [[BookEffect]]s emits exactly the ticks of one
  * fold over the whole arrival-ordered sequence.
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

  /** Each asset's messages cut into contiguous runs, each run sent to a
    * partition that holds no other run of that asset, and every
    * partition a random interleaving of its runs: the per-asset contract
    * holds, while a partition's keys need not ascend across assets.
    */
  private def spreadGen(msgs: Vector[FeedMsg]): Gen[Seq[Vector[FeedMsg]]] = for {
    nParts <- Gen.chooseNum(1, 5)
    seed <- Gen.long
  } yield {
    val rnd = new Random(seed)
    val parts = Vector.fill(nParts)(mutable.ArrayBuffer.empty[Iterator[FeedMsg]])
    msgs.groupBy(_.assetId).values.foreach { own =>
      val cuts = Seq.fill(rnd.nextInt(nParts))(rnd.nextInt(own.size + 1)).sorted
      val bounds = 0 +: cuts :+ own.size
      rnd.shuffle(parts.indices.toVector).zip(bounds.zip(bounds.tail)).foreach {
        case (p, (a, b)) => parts(p) += own.slice(a, b).iterator
      }
    }
    parts.map { runs =>
      val out = Vector.newBuilder[FeedMsg]
      val left = runs.filter(_.hasNext)
      while (left.nonEmpty) {
        val i = rnd.nextInt(left.size)
        out += left(i).next()
        if (!left(i).hasNext) left.remove(i)
      }
      out.result()
    }
  }

  private def key(t: Tick) = (t.file_hour, t.line_no, t.msg_idx, t.emit_idx)

  /** One seedless fold over the arrival-ordered sequence. */
  private def sequential(msgs: Vector[FeedMsg]) =
    BookReplay.foldRun(None, msgs.iterator).toSeq.sortBy(key)

  private def folded(parts: Seq[Vector[FeedMsg]]) = {
    val seeds = BookReplay.seedsOf(parts.map(p => BookReplay.summarize(p.iterator)))
    parts.flatMap(p => BookReplay.foldRun(Some(seeds), p.iterator))
  }

  property("runs folded from prefix-composed seeds equal the sequential fold") =
    forAll(msgsGen.flatMap(m => runsGen(m).map(m -> _))) { case (msgs, runs) =>
      folded(runs) == sequential(msgs)
    }

  property("per-asset runs spread over partitions in any interleaving fold " +
    "like the sequential fold") =
    forAll(msgsGen.flatMap(m => spreadGen(m).map(m -> _))) { case (msgs, parts) =>
      folded(parts).sortBy(key) == sequential(msgs)
    }
}
