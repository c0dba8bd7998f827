package etlbench

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Digest of every input the workloads generate for `seed`, at the
    * sizes the workloads use.
    */
  private def inputsDigest(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
    val e1w = new E1Reload
    val e1 = Gen.e1(seed, e1w.Displays, e1w.Contents, e1w.RowsPerContent)
    add(e1.displaysJson); add(e1.contentsJson)
    e1.served.foreach(c => add(e1.reportJson(c.id)))
    add(e1.failing.toSeq.sorted.mkString(","))

    val e2w = new E2CdcUpsert
    val e2 = new Gen.E2Data(e2w.Tasks, e2w.Customers, seed)
    add(e2.tasksJson((1 to e2w.Tasks).map(k => (k.toLong, e2.baseVersion(k - 1)))))
    add(e2.turnsJson); add(e2.projectsJson); add(e2.elementsJson)

    val lw = new LakeMerge
    val lake = new Gen.LakeData(lw.Orders, seed)
    add(lake.baseVersion.mkString(",")); add(lake.cust.mkString(",")); add(lake.price.mkString(","))
    val m = new Gen.KeyedModel((1 to lw.Orders).map(k => (k.toLong, lake.baseVersion(k - 1), lake.monthOf(k.toLong))))
    for (i <- 0 to 3) {
      val inc = Gen.increment(seed, i, m, lw.UpdatePct, lw.InsertPct, lw.TombstonePerMille, 1000000L + i)
      add(inc.toString)
      Gen.applyIncrement(m, inc, _ => lake.months.last)
    }

    val cw = new CorpusBuild
    Gen.corpus(seed, cw.BaseDocs, cw.Replicas).foreach(d => add(d.toString))
    md.digest().map("%02x".format(_)).mkString
  }

  test("the same seed gives byte-identical inputs; another seed gives different ones") {
    val a = inputsDigest(7L)
    assert(inputsDigest(7L) == a)
    assert(inputsDigest(8L) != a)
  }

  test("increments follow the stated mix: 5 % updates, 80 % of them among the newest 10 %") {
    val m = new Gen.KeyedModel((1 to 10000).map(k => (k.toLong, 1L, "m")))
    val inc = Gen.increment(3L, 1, m, 5.0, 1.0, 5.0, 2L)
    assert(inc.updates.size == 500 && inc.updates.distinct.size == 500)
    assert(inc.updates.count(_ > 9000) == 400)
    assert(inc.inserts == (10001L to 10100L).toVector)
    assert(inc.tombstones.size == 50 && inc.tombstones.forall(k => !inc.updates.contains(k)))
  }
}
