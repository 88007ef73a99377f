package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analysis.Tokenizer
import graft.corpus.Synth

/** One source-code document of the benchmark corpus (the `docs` table
  * shape the engine ingests). */
final case class Doc(doc_id: Long, repo: String, path: String, commit: String,
                     lang: String, content: String, content_sha256: String,
                     ingest_ts: Long)

/** The seeded synthetic code corpus. Document i draws its text from
  * Synth's pure per-docId generator at `offset(seed) + i`, so every seed
  * selects a different, reproducible slice of the same distribution,
  * while doc ids stay dense (0 until n) as a snapshot build assigns them. */
object Corpus {

  def offset(seed: Long): Long = Synth.mix(seed ^ 0x5EED0FF5E7L) >>> 24

  def doc(seed: Long, docId: Long): Doc = {
    val src = offset(seed) + docId
    val r = new Synth.Rng(Synth.mix(src ^ 0x9A7FL))
    val lang = Synth.lang(src)
    val content = Synth.content(src)
    Doc(docId,
      s"org${Math.floorMod(src, 37L)}/repo${Math.floorMod(src, 211L)}",
      s"src/dir${r.nextInt(13)}/File${r.nextInt(997)}.$lang",
      f"${Synth.mix(src ^ 0xC0117L)}%016x${Synth.mix(src ^ 0xC0118L)}%016x".take(40),
      lang, content, sha256(content),
      1500000000L + (Synth.mix(src ^ 0x7153L) >>> 34))
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Docs [from, until) as a DataFrame, generated on the executors. */
  def frame(spark: SparkSession, seed: Long, from: Long, until: Long,
            parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1, parts).map(id => doc(seed, id)).toDF()
  }
}

/** One benchmark query: text as a user types it, its retrieval mode, and
  * whether one of its terms was misspelled on purpose. */
final case class Query(text: String, and: Boolean, misspelled: Boolean)

/** Seeded query mixes over an index's live vocabulary.
  *
  * The vocabulary is every term with df >= 2 that a user can type, i.e.
  * that the query tokenizer maps to itself, ordered by (df desc, term).
  * Each parameter has a source in the repository:
  *  - 1-4 terms per query, uniform, and the hot/cold draw of `hotcold`:
  *    `BuildBench.mixedQueries`, the mix behind the repository's latency
  *    sample and distributed batch. Each term is, with even odds, one of
  *    [[HotTerms]] hot terms (here the highest-df ones) or one of
  *    [[ColdTerms]] cold terms (here a seeded draw from the rest), so a
  *    few dozen posting records serve the whole mix;
  *  - `wide` draws each term uniformly from the whole vocabulary (the
  *    live df >= 2 vocabulary of `term_stats`), so the records touched
  *    keep growing with the number of queries;
  *  - [[MisspellShare]] = 3/29: the misspelled share of the BASELINE.md
  *    round-2 latency protocol (`BuildBench`: 25 mixed queries, one
  *    10-term query and 3 misspelled ones);
  *  - [[AndShare]] is an assumption: the repository documents no share
  *    of conjunctive traffic. */
object Queries {

  val HotTerms = 6
  val ColdTerms = 60
  val MisspellShare: Double = 3.0 / 29
  val AndShare = 0.15
  val MaxTerms = 4

  /** Typeable live vocabulary from (term, df) rows. */
  def vocabulary(termDf: Iterable[(String, Long)]): IndexedSeq[String] =
    termDf.iterator
      .filter { case (t, df) => df >= 2 && Tokenizer.tokenizeQuery(t) == Map(t -> 1) }
      .toIndexedSeq.sortBy { case (t, df) => (-df, t) }.map(_._1)

  def mix(kind: String, seed: Long, vocab: IndexedSeq[String], n: Int): IndexedSeq[Query] = {
    require(vocab.length > HotTerms + ColdTerms, "query vocabulary too small")
    val r = new Synth.Rng(Synth.mix(seed ^ kind.hashCode.toLong ^ 0x0E7E5L))
    val known = vocab.toSet
    val draw: () => String = kind match {
      case "hotcold" =>
        val hot = vocab.take(HotTerms)
        val rest = vocab.drop(HotTerms)
        val cold = Iterator.continually(rest(r.nextInt(rest.length))).distinct
          .take(ColdTerms).toIndexedSeq
        () => if (r.nextInt(2) == 0) hot(r.nextInt(hot.length)) else cold(r.nextInt(cold.length))
      case "wide" => () => vocab(r.nextInt(vocab.length))
      case other => throw new IllegalArgumentException(s"unknown query mix $other")
    }
    (0 until n).map { _ =>
      val terms = Vector.fill(1 + r.nextInt(MaxTerms))(draw())
      val and = r.nextDouble() < AndShare
      val typo =
        if (r.nextDouble() < MisspellShare) {
          val i = r.nextInt(terms.length)
          misspell(terms(i), r, known).map(m => terms.updated(i, m))
        } else None
      Query(typo.getOrElse(terms).mkString(" "), and, typo.isDefined)
    }
  }

  /** A one-edit typo of `t` (a dropped or transposed inner letter) that is
    * typeable and not itself a vocabulary term; None when `t` has none. */
  def misspell(t: String, r: Synth.Rng, known: Set[String]): Option[String] = {
    if (t.length < 4 || !t.forall(_.isLetter)) return None
    val edits = (1 until t.length - 1).flatMap { i =>
      Seq(t.substring(0, i) + t.substring(i + 1),
        t.substring(0, i) + t.charAt(i + 1) + t.charAt(i) + t.substring(i + 2))
    }.distinct.filter(m => m != t && !known(m) &&
      Tokenizer.tokenizeQuery(m) == Map(m -> 1))
    if (edits.isEmpty) None else Some(edits(r.nextInt(edits.length)))
  }
}
