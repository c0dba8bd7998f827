package etlbench

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {

  test("E2 expected state on PipelinesSpec's three-key case: one update, one insert, one unchanged") {
    // stored: task 1 at an old version, task 2 current; incoming:
    // task 1 newer, task 2 the same version, task 3 new
    val v = (s: String) => java.time.Instant.parse(s).getEpochSecond - Gen.Epoch
    val stored = Map(1L -> v("2025-04-01T04:00:00Z"), 2L -> v("2025-04-04T14:05:00Z"))
    val incoming = Seq(1L -> v("2025-04-05T04:00:00Z"), 2L -> v("2025-04-04T14:05:00Z"),
      3L -> v("2025-04-06T04:00:00Z"))

    assert(Gen.e2Split(stored, incoming) == ((Seq(3L), Seq(1L), Seq(2L))))
    val (table, inserted, updated) = Gen.e2Expected(stored, incoming)
    assert(inserted == 1 && updated == 1)
    assert(table == Map(1L -> v("2025-04-05T04:00:00Z"), 2L -> v("2025-04-04T14:05:00Z"),
      3L -> v("2025-04-06T04:00:00Z")))
  }

  test("an incoming version older than the stored one leaves the key unchanged") {
    val (table, inserted, updated) = Gen.e2Expected(Map(5L -> 100L), Seq(5L -> 99L))
    assert(table == Map(5L -> 100L) && inserted == 0 && updated == 0)
  }

  test("the checksum is order-independent and sees a key paired with another key's version") {
    val pairs = Seq(1L -> 10L, 2L -> 20L, 3L -> 30L)
    assert(Gen.KeyVersionSum.of(pairs) == Gen.KeyVersionSum.of(pairs.reverse))
    assert(Gen.KeyVersionSum.of(pairs) != Gen.KeyVersionSum.of(Seq(1L -> 20L, 2L -> 10L, 3L -> 30L)))
  }

  test("lake model: updates keep their month, inserts land in the newest month, tombstones delete") {
    val m = new Gen.KeyedModel(Seq((1L, 5L, "2019-01"), (2L, 5L, "2019-02"), (3L, 5L, "2019-03")))
    Gen.applyIncrement(m, Gen.Increment(Vector(1L), Vector(4L), Vector(2L), 9L), _ => "2020-12")
    assert(m.state.toMap == Map(1L -> (9L, "2019-01"), 3L -> (5L, "2019-03"), 4L -> (9L, "2020-12")))
    assert(m.nextKey == 5L)
  }
}
