package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** SHA-256 over a sequence of inputs, byte for byte. */
  private def fingerprint(parts: Seq[Any]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def put(x: Any): Unit = x match {
      case a: Array[Float] =>
        val b = ByteBuffer.allocate(a.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        a.foreach(b.putFloat); md.update(b.array())
      case a: Array[Int] =>
        val b = ByteBuffer.allocate(a.length * 4).order(ByteOrder.LITTLE_ENDIAN)
        a.foreach(b.putInt); md.update(b.array())
      case a: Array[_] => md.update(s"[${a.length}".getBytes); a.foreach(put)
      case s: Seq[_] => md.update(s"(${s.size}".getBytes); s.foreach(put)
      case p: Product => md.update(s"<${p.productArity}".getBytes); p.productIterator.foreach(put)
      case other => md.update(other.toString.getBytes("UTF-8")); md.update(0.toByte)
    }
    parts.foreach(put)
    md.digest().map("%02x".format(_)).mkString
  }

  /** Every kind of input a run hands the engine, at reduced sizes. */
  private def inputs(seed: Long): String = {
    val g = new Gen(seed)
    val corpus = g.mixture("routed.corpus", 500, 16, 8)
    val exact = g.mixture("exact.corpus", 300, 32, 8)
    fingerprint(Seq(
      corpus,
      g.ints("routed.stars", 500, 1000),
      g.queriesNear("routed.queries", corpus, 20),
      g.rangeFilters("routed.filters", 20, 1000).toSeq,
      exact,
      g.queriesNear("exact.queries", exact, 32)))
  }

  test("the same seed gives byte-identical inputs") {
    assert(inputs(7) == inputs(7))
  }

  test("another seed gives other inputs") {
    assert(inputs(7) != inputs(8))
  }

  test("input streams are independent of each other") {
    val a = new Gen(3).mixture("routed.corpus", 10, 4, 2)
    val g = new Gen(3)
    g.ints("routed.stars", 1000, 10) // draws from another stream first
    assert(fingerprint(Seq(a)) == fingerprint(Seq(g.mixture("routed.corpus", 10, 4, 2))))
  }

  test("half the routed requests filter, each with its own selectivity") {
    val fs = new Gen(5).rangeFilters("routed.filters", 400, 1000)
    assert(fs.count(_.isDefined) == 200)
    fs.flatten.foreach { case (lo, hi) =>
      assert(lo >= 0 && hi <= 1000 && hi - lo >= 50 && hi - lo <= 500)
    }
    assert(fs.flatten.map { case (lo, hi) => hi - lo }.distinct.size > 100)
  }

  test("exact top-k equals a full sort of the filtered rows") {
    val g = new Gen(9)
    val corpus = g.mixture("c", 400, 8, 4)
    val q = g.queriesNear("q", corpus, 1).head
    val keep = (i: Int) => i % 3 != 0
    val want = corpus.indices.filter(keep).map(i => (i, Truth.l2(corpus(i), q)))
      .sortBy { case (i, d) => (d, i) }.take(10)
    assert(Truth.topK(corpus, q, 10, keep).toSeq == want)
  }

  test("brute-force top-k allows ties at the boundary only") {
    val want = Seq((1, 0.5), (2, 1.0), (3, 2.0))
    assert(Truth.sameTopK(want, want))
    // a different row tied at the boundary score is accepted
    assert(Truth.sameTopK(Seq((1, 0.5), (2, 1.0), (9, 2.0)), want))
    // a different row inside the boundary is not
    assert(!Truth.sameTopK(Seq((1, 0.5), (9, 1.0), (3, 2.0)), want))
    assert(!Truth.sameTopK(want.take(2), want))
  }
}
