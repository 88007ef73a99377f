package perfbench

import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  private def corpus(seed: Long) = (0L until 40L).map(i => Corpus.doc(seed, i))

  private val vocab = Queries.vocabulary(
    (0 until 3000).map(i => graft.corpus.Synth.coldTerm(i) -> (3000L - i)))

  test("the same seed gives a byte-identical corpus, another seed a different one") {
    assert(corpus(7).toString == corpus(7).toString)
    assert(corpus(7).map(_.content) != corpus(8).map(_.content))
    assert(corpus(7).forall(d => d.content_sha256 == Corpus.sha256(d.content)))
    assert(corpus(7).map(_.doc_id) == (0L until 40L))
  }

  test("the same seed gives the same query set, another seed a different one") {
    for (kind <- Main.Workloads) {
      val a = Queries.mix(kind, 7, vocab, 500)
      assert(a == Queries.mix(kind, 7, vocab, 500), kind)
      assert(a != Queries.mix(kind, 8, vocab, 500), kind)
    }
  }

  test("mixes have the stated shape: uniform 1-4 terms, AND and typo shares, hot/cold") {
    val hotcold = Queries.mix("hotcold", 3, vocab, 4000)
    val wide = Queries.mix("wide", 3, vocab, 4000)
    for (qs <- Seq(hotcold, wide)) {
      val lengths = qs.groupBy(_.text.split(' ').length).map { case (k, v) => k -> v.size / 4000.0 }
      assert(lengths.keySet == Set(1, 2, 3, 4))
      assert(lengths.values.forall(s => math.abs(s - 0.25) < 0.03), lengths)
      val and = qs.count(_.and) / 4000.0
      val typo = qs.count(_.misspelled) / 4000.0
      assert(math.abs(and - Queries.AndShare) < 0.03, and)
      assert(typo > 0.05 && typo <= Queries.MisspellShare + 0.03, typo)
    }
    // hotcold: half the draws from the hot terms, the rest from a fixed
    // set of cold ones; wide: uniform over the vocabulary
    val hot = vocab.take(Queries.HotTerms).toSet
    def terms(qs: Seq[Query]) = qs.filterNot(_.misspelled).flatMap(_.text.split(' '))
    val hotShare = terms(hotcold).count(hot).toDouble / terms(hotcold).size
    assert(math.abs(hotShare - 0.5) < 0.03, hotShare)
    assert(terms(hotcold).toSet.size == Queries.HotTerms + Queries.ColdTerms)
    assert(terms(wide).toSet.size > 1000)
  }

  test("a misspelling is one edit away and never a vocabulary term") {
    val known = vocab.toSet
    val r = new graft.corpus.Synth.Rng(1)
    for (t <- vocab.take(200); m <- Queries.misspell(t, r, known)) {
      assert(!known(m))
      assert(m.length == t.length || m.length == t.length - 1)
    }
  }
}
