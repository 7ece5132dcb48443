package qbench

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  test("QBO generator: the same seed gives identical bytes, the held-out seed different ones") {
    val a = new QboGen(1, rowsPerEntity = 300)
    assert(a.digest == new QboGen(1, rowsPerEntity = 300).digest)
    assert(a.digest != new QboGen(Seeds.HeldOut, rowsPerEntity = 300).digest)
  }

  test("QBO generator: truths follow the pages it rendered") {
    val g = new QboGen(3, rowsPerEntity = 250)
    assert(g.entityPages("Bill").length == 3)
    assert(g.truth("bills").rows == 250)
    assert(g.truth("journalentries").rows >= 250)
    assert(g.plantedMalformed > 0)
    assert(g.truth("pnl").rows == QboGen.PnlMonths * 2 * (QboGen.PnlLeaves + 2))
  }

  test("corpus generator: the same seed gives identical bytes, the held-out seed different ones") {
    val a = new CorpusGen(1, docs = 2000)
    assert(a.digest == new CorpusGen(1, docs = 2000).digest)
    assert(a.digest != new CorpusGen(Seeds.HeldOut, docs = 2000).digest)
  }

  test("corpus generator: plants are disjoint and near copies sit above the threshold") {
    val g = new CorpusGen(5, docs = 2000)
    val text = g.all.toMap
    assert(g.all.map(_._1).distinct.size == g.docs)
    val exactIds = g.exactGroups.flatten.toSet
    assert(g.nearPairs.forall { case (a, b) => !exactIds(a) && !exactIds(b) })
    g.exactGroups.foreach(m => assert(m.map(text).distinct.size == 1))
    assert(g.nearPairs.forall { case (a, b) =>
      CorpusGen.jaccard(text(a), text(b)) >= CorpusGen.Threshold
    })
  }
}
