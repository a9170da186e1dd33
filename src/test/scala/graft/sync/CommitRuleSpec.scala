package graft.sync

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** [[SyncRunner.commit]], the one commit rule of the lake and wire
  * passes, checked as properties over random watermarks, row counts
  * and failure counts — for the wire's string watermarks in Spark's
  * order and for the lake's µs watermarks.
  */
class CommitRuleSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(500), p)
    assert(r.passed, r.status.toString)
  }

  // ASCII, a BMP private-use char (U+E000) and a supplementary one
  // (U+1F600): the two string orders disagree between the last two
  private val str: Gen[String] =
    Gen.listOf(Gen.oneOf("a", "z", "0", "\u00E9", "\uE000", "\uD83D\uDE00")).map(_.mkString)
  private val marks: Gen[Seq[String]] = Gen.listOfN(2, str)
  private val old: Gen[Seq[String]] = marks
  private val rows: Gen[Long] = Gen.frequency(1 -> Gen.const(0L), 3 -> Gen.choose(1L, 1L << 40))
  private val failed: Gen[Long] = Gen.frequency(1 -> Gen.const(0L), 1 -> Gen.choose(1L, 1000L))
  private val us: Gen[Long] = Gen.oneOf(Gen.const(Long.MinValue), Gen.choose(0L, 1L << 52))
  private val ord = SyncRunner.Utf8Order

  test("a batch with failed rows never advances and never appends state") {
    check(Prop.forAll(old, marks, rows, Gen.choose(1L, 1000L)) { (o, m, n, f) =>
      SyncRunner.commit(o, m, n, f)(ord) == ((o, false))
    })
  }

  test("returned watermarks are never lower than the old ones, and are the old or the batch max") {
    check(Prop.forAll(old, marks, rows, failed) { (o, m, n, f) =>
      val (next, _) = SyncRunner.commit(o, m, n, f)(ord)
      next.size == o.size && next.indices.forall { i =>
        ord.gteq(next(i), o(i)) && (next(i) == o(i) || next(i) == m(i))
      }
    })
    check(Prop.forAll(Gen.listOfN(2, us), Gen.listOfN(2, us), rows) { (o, m, n) =>
      SyncRunner.commit(o, m, n, 0L)._1 == o.zip(m).map { case (a, b) => math.max(a, b) }
    })
  }

  test("a column without a maximum reports the floor, which keeps the old watermark") {
    check(Prop.forAll(old, rows) { (o, n) =>
      SyncRunner.commit(o, Seq("", ""), n, 0L)(ord) == ((o, n > 0))
    })
    check(Prop.forAll(Gen.listOfN(2, us), rows) { (o, n) =>
      SyncRunner.commit(o, Seq(Long.MinValue, Long.MinValue), n, 0L) == ((o, n > 0))
    })
  }

  test("a state row is due exactly when rows landed without a failure") {
    check(Prop.forAll(old, marks, rows, failed) { (o, m, n, f) =>
      SyncRunner.commit(o, m, n, f)(ord)._2 == (n > 0 && f == 0)
    })
  }

  test("string watermarks compare in Spark's UTF-8 order, not Java's UTF-16 order") {
    val bmp = new String(Character.toChars(0xE000))
    val supp = new String(Character.toChars(0x1F600))
    assert(bmp.compareTo(supp) > 0) // Java's order would keep the old watermark
    assert(SyncRunner.commit(Seq(bmp, ""), Seq(supp, ""), 1L, 0L)(ord) == ((Seq(supp, ""), true)))
    assert(SyncRunner.commit(Seq(supp, ""), Seq(bmp, ""), 1L, 0L)(ord) == ((Seq(supp, ""), true)))
  }
}
