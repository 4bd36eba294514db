package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def draws(g: Gen) = Vector.fill(200)(g.long(1000000L))

  test("one seed yields one input sequence, another seed a different one") {
    assert(draws(new Gen(7L)) == draws(new Gen(7L)))
    assert(draws(new Gen(7L)) != draws(new Gen(8L)))
    assert(draws(new Gen(7L).stream(3)) == draws(new Gen(7L).stream(3)))
    assert(draws(new Gen(7L).stream(3)) != draws(new Gen(7L).stream(4)))
  }

  test("pre-loaded values are a pure function of seed and key") {
    assert((0L until 1000L).map(Gen.seedCents(5L, _)) == (0L until 1000L).map(Gen.seedCents(5L, _)))
    assert((0L until 1000L).map(Gen.seedCents(5L, _)) != (0L until 1000L).map(Gen.seedCents(6L, _)))
    assert((0L until 1000L).forall(k => (0L until 100000L).contains(Gen.seedCents(5L, k))))
  }

  test("zipf keys are deterministic, in range, and skewed") {
    val z = new Zipf(100000, 0.99)
    val a = { val g = new Gen(1L); Vector.fill(20000)(z.key(g)) }
    val b = { val g = new Gen(1L); Vector.fill(20000)(z.key(g)) }
    assert(a == b)
    assert(a.forall(k => k >= 0 && k < 100000))
    val top = a.groupBy(identity).values.map(_.size).toVector.sorted.reverse
    assert(top.take(100).sum > a.size / 4, "the 100 hottest keys should carry a large share")
  }

  test("owned keys partition the key space between writers") {
    val n = 1000L
    for (k <- 0L until n; o <- 0 until 4) {
      val owned = Gen.ownKey(k, o, 4, n)
      assert(owned >= 0 && owned < n && owned % 4 == o)
    }
  }

  test("the statement mix holds its exact proportions in every full round") {
    val mix = new Mix(Seq("point" -> 83, "write" -> 15, "fold_agg" -> 2))
    (1 to 3).foreach { _ =>
      val round = Vector.fill(100)(mix.next())
      assert(round.count(_ == "point") == 83 && round.count(_ == "write") == 15 &&
        round.count(_ == "fold_agg") == 2)
    }
  }
}
