package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** fnv63: the codegen'd expression agrees with an independent BigInt
  * re-derivation (mod-2⁶³ arithmetic, no Long bit-twiddling shared
  * with the implementation), stays non-negative, and handles
  * nulls/unicode/empty strings.
  */
class Fnv63Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ref(v: String): BigInt = {
    val m = BigInt(1) << 63
    var h = BigInt("14695981039346656037") % m
    v.getBytes("UTF-8").foreach { b =>
      h = ((h ^ BigInt(b & 0xff)) * BigInt("1099511628211")) % m
    }
    h = ((h ^ (h >> 31)) * (BigInt("18397679294719823053") % m)) % m
    h = ((h ^ (h >> 29)) * (BigInt("14181476777654086739") % m)) % m
    h ^ (h >> 32)
  }

  test("expression matches the BigInt re-derivation on a value mix") {
    import spark.implicits._
    val vals = Seq("", "a", "hello", "user_9999", "über", "🎉xyz", "0", "-1")
    val got = vals.toDF("v")
      .select($"v", call_function(Fnv63Hash.name, $"v").as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    vals.foreach { v =>
      assert(BigInt(got(v)) === ref(v), s"fnv63('$v')")
      assert(got(v) >= 0L, s"fnv63('$v') must stay in [0, 2^63)")
    }
  }

  test("500 seeded-random strings (incl. high code points) agree and stay non-negative") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val ss = (0 until 500).map { i =>
      val len = rnd.nextInt(24)
      new String((0 until len).map { _ =>
        rnd.nextInt(4) match {
          case 0 => (32 + rnd.nextInt(95)).toChar // printable ASCII
          case 1 => (' ' + rnd.nextInt(0x500)).toChar // 2-byte UTF-8
          case 2 => ('一' + rnd.nextInt(0x1000)).toChar // 3-byte UTF-8
          case _ => ('0' + rnd.nextInt(10)).toChar
        }
      }.toArray) + s"_$i" // suffix keeps values distinct
    }
    val rows = ss.toDF("v")
      .select($"v", call_function(Fnv63Hash.name, $"v").as("h"))
      .collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      assert(BigInt(r.getLong(1)) === ref(r.getString(0)), s"fnv63('${r.getString(0)}')")
      assert(r.getLong(1) >= 0L)
    }
  }

  test("null in, null out") {
    import spark.implicits._
    val r = Seq[String](null).toDF("v")
      .select(call_function(Fnv63Hash.name, $"v")).head()
    assert(r.isNullAt(0))
  }

  test("non-string input fails analysis") {
    import spark.implicits._
    val e = intercept[Exception] {
      Seq(1L).toDF("v").select(call_function(Fnv63Hash.name, $"v")).head()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }
}
