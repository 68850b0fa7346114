package graft.queries

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The replay oracle's dumps: one directory per JVM. */
class FixtureOracleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("two sessions' dump directories differ, and each dump stays " +
    "readable while the other is rewritten") {
    // `mine` and `theirs` stand for the dumps of two JVMs
    val mine = new FixtureOracle.Dumps(graft.Scratch.newRoot())
    val theirs = new FixtureOracle.Dumps(graft.Scratch.newRoot())
    assert(Set(FixtureOracle.fixtureMsgsPath, mine.fixtureMsgsPath, theirs.fixtureMsgsPath)
      .size == 3)
    mine.write(spark)
    val rows = spark.read.parquet(mine.fixtureMsgsPath).count()
    assert(rows > 0)
    val other = spark.newSession()
    val reads = Future(Seq.fill(4)(spark.read.parquet(mine.fixtureMsgsPath).count()))
    theirs.write(other)
    theirs.write(other)
    assert(Await.result(reads, 5.minutes).forall(_ == rows))
    assert(other.read.parquet(theirs.fixtureMsgsPath).count() == rows)
  }
}
