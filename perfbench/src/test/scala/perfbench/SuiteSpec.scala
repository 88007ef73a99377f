package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SuiteSpec extends AnyFunSuite {

  private def rows(seed: Long) = (0L until 60L).map { i =>
    (SuiteData.document(seed, i), SuiteData.embedding(seed, i).embedding.toSeq,
      SuiteData.lineItem(seed, i))
  }

  test("the same seed gives the same suite tables, another seed different ones") {
    assert(rows(7).toString == rows(7).toString)
    assert(rows(7).map(_._1.text) != rows(8).map(_._1.text))
    assert(rows(7).map(_._2) != rows(8).map(_._2))
  }

  test("documents and embeddings have the shape the operators expect") {
    val docs = (0L until SuiteData.Docs.toLong).map(SuiteData.document(3, _))
    for (d <- docs) {
      val ws = d.text.split(' ')
      assert(ws.length >= 10 && ws.length < 100)
      assert(ws.forall(SuiteData.Words.contains))
      assert(d.n_chars == d.text.length)
      assert(d.source == s"src${d.doc_id % 20}")
    }
    // near-duplicates exist: some pair differs in one word only
    val byLen = docs.groupBy(_.text.split(' ').length).values
    assert(byLen.exists(g => g.combinations(2).exists { case Seq(a, b) =>
      a.text.split(' ').zip(b.text.split(' ')).count { case (x, y) => x != y } <= 1
    }))
    val e = SuiteData.embedding(3, 0).embedding
    assert(e.length == SuiteData.Dim)
    assert(math.abs(e.map(x => x.toDouble * x).sum - 1.0) < 1e-5)
  }

  test("one query per operators module, q61 included, each a SparkEntry query") {
    val modules = new java.io.File("../src/main/scala/graft/operators").listFiles()
      .map(_.getName.stripSuffix(".scala")).toSet - "AnnStore" // storage behind Similarity
    assert(Suite.Picks.map(_._2).toSet == modules)
    assert(Suite.Picks.map(_._2).distinct.size == Suite.Picks.size)
    assert(Suite.Picks.exists(_ == ("q61_bpe_merges" -> "BpeTrainer")))
    assert(Suite.Picks.forall(p => graft.SparkEntry.queries.contains(p._1)))
  }

  test("the order is a seed-dependent permutation of the picks") {
    assert(Suite.order(1).sorted == Suite.Picks.map(_._1).sorted)
    assert(Suite.order(1) == Suite.order(1))
    assert(Suite.order(1) != Suite.order(2))
  }
}
