package graft.query

import org.apache.spark.sql.SparkSession
import graft.analysis.Tokenizer
import graft.index.{CorpusStats, SegmentStore}

/** Query service over a built index: dictionary lookup → pruned segment
  * block fetch → BM25 scoring with block-max WAND top-k (north rule Δ of
  * the reference's full-union cosine loop, searcher.py:133-159 +
  * ranker.py:13-54 — SURVEY.md Q5-Q11).
  *
  * This is the DRIVER face of the engine: it wires index storage (parquet
  * stats/dict reads — preloaded maps or per-query pushdown scans) into an
  * [[EngineCore]], which owns every query-time semantic (spell, WAND,
  * tiebreaks, pruning) over plain data. The same core rides a broadcast
  * to executors in [[DistributedRunner]] — one implementation, two
  * deployments, and every rank-identity suite pins both.
  *
  * Rank identity (hard-part 3): WAND skips a candidate only when its
  * upper bound is <= the current kth score with a FULL heap; traversal is
  * in increasing docId and ties prefer smaller docId, so a tied candidate
  * can never displace an incumbent — skipping on equality is exact.
  */
final class Engine(spark: SparkSession, indexDir: String,
                   tokCfg: Tokenizer.Config = Tokenizer.default,
                   pruneSingletons: Boolean = true,
                   preload: Boolean = false,
                   spell: Boolean = true,
                   eagerSpell: Boolean = false) {
  import spark.implicits._

  private val stats = CorpusStats.read(spark, indexDir)
  def nDocs: Long = stats.nDocs
  def avgdl: Double = stats.avgdl
  // merged indexes carry a bound inflation factor (Merge scaladoc)
  def boundScale: Double = stats.boundScale

  /** Preloaded dictionary (test/bench scale — the reference loads its
    * whole pickled dict at startup, search_engine.py:62-71; at cluster
    * scale `preload=false` keeps per-query pushdown scans instead). */
  private val resolver: TermResolver =
    if (preload) Engine.loadResolver(spark, indexDir)
    else new TermResolver { // driver-only: pushdown scans per query
      def dfBatch(cands: Seq[String]): Map[String, Long] =
        if (cands.isEmpty) Map.empty
        else spark.read.parquet(s"$indexDir/term_stats")
          .filter($"term".isin(cands: _*))
          .select($"term", $"df").collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      def dictEntries(terms: Seq[String]): Array[SegmentStore.DictEntry] =
        if (terms.isEmpty) Array.empty
        else spark.read.parquet(s"$indexDir/dict")
          .filter($"term".isin(terms: _*))
          .as[SegmentStore.DictEntry].collect()
      // first unknown-term miss pays ONE (term, df) load so scan
      // engines correct identically to preloaded ones (an earlier build
      // truncated the scan path's edit-2 reach to a 5000-candidate
      // prefix — a silent preload/scan divergence). Single pass: the
      // limit over-fetches by one row so an oversized vocab is detected
      // from the same scan (a count() pre-check would read term_stats
      // twice); the core separately guards the DELETE-INDEX entry
      // budget, which is the allocation that can actually hurt
      lazy val allStats: Option[Map[String, Long]] = {
        val rows = spark.read.parquet(s"$indexDir/term_stats")
          .select($"term", $"df").limit(Engine.MaxSpellVocab + 1).collect()
        if (rows.length > Engine.MaxSpellVocab) None
        else Some(rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
      }
    }

  private val core = new EngineCore(nDocs, avgdl, boundScale,
    stats.tieAware, Engine.tsSourceFor(indexDir, stats), resolver,
    s"$indexDir/segments",
    tokCfg, pruneSingletons, spell, spellDir = s"$indexDir/spell")
  // eagerSpell: pay the artifact load (or build) at construction so no
  // user query hides a multi-second first-miss spike (round-2 advice)
  if (eagerSpell) core.warmSpell()

  def lookup(queryTerms: Map[String, Int]): Seq[TermPostings] =
    core.lookup(queryTerms)
  def searchWand(query: String, k: Int): Array[(Long, Double)] =
    core.searchWand(query, k)
  def searchWandQuery(queryTerms: Map[String, Int], k: Int): Array[(Long, Double)] =
    core.searchWandQuery(queryTerms, k)
  def searchExhaustive(query: String, k: Int): Array[(Long, Double)] =
    core.searchExhaustive(query, k)
  def searchConjunctive(query: String, k: Int): Array[(Long, Double)] =
    core.searchConjunctive(query, k)
  def searchConjunctiveQuery(queryTerms: Map[String, Int], k: Int): Array[(Long, Double)] =
    core.searchConjunctiveQuery(queryTerms, k)
  def close(): Unit = {
    maxTfReader.foreach(_.close())
    maxTfReader = None
    core.close()
  }

  /** Parity-mode max_tf source: the same keyed point-read artifact shape
    * as the recency TsStore, built once per index on the first parity
    * query (a range shuffle of 16 B rows) and binary-searched per doc —
    * the doc-count-sized driver map this replaced was the last of its
    * kind (round-4 review #4; TsStore removed the recency twin a round
    * earlier). Docs absent from the store read as the parity default
    * max_tf = 1 (the Reader's 0 sentinel can't collide: max_tf >= 1 for
    * every stored doc). */
  @volatile private var maxTfReader: Option[graft.index.TsStore.Reader] = None
  private lazy val maxTf: Long => Int = {
    val mtDir = s"$indexDir/maxtf"
    if (!graft.index.TsStore.exists(mtDir))
      graft.index.TsStore.write(spark,
        spark.read.parquet(s"$indexDir/doc_stats"), mtDir,
        spark.sparkContext.defaultParallelism, valueCol = "max_tf")
    val r = new graft.index.TsStore.Reader(mtDir)
    maxTfReader = Some(r)
    id => { val v = r.tsOf(id); if (v == 0L) 1 else v.toInt }
  }

  /** Reference-parity ranking mode: tf-idf vectors + query-dim cosine
    * exactly as the reference scores (SURVEY Q6-Q8; Parity scaladoc has
    * the per-rule citations). BM25/WAND is the production path; this
    * mode exists to replay reference semantics end-to-end. */
  def searchCosineParity(query: String, k: Int): Array[(Long, Double)] = {
    val tps = lookup(Tokenizer.tokenizeQuery(query, tokCfg))
    val termVecs = tps.map(tp => Parity.TermVec(tp.term, tp.qtf, tp.df,
      graft.index.Codec.decode(tp.blocks.toSeq)))
    Parity.rank(termVecs, nDocs, maxTf, k)
  }
}

object Engine {
  /** Scan-mode spell stats cap (rows): above this the one-time
    * (term, df) load is refused and correction degrades to the bounded
    * generate-and-probe path. This bounds the MAP; the delete index
    * built from it is ~100x larger and carries its own entry budget
    * (EngineCore.MaxSpellIndexEntries). */
  val MaxSpellVocab: Int = 2000000
  /** Load the whole dictionary + term stats into maps (the broadcast
    * payload of DistributedRunner, and the preload=true resolver). */
  def loadResolver(spark: SparkSession, indexDir: String): PreloadedResolver = {
    import spark.implicits._
    val stats = spark.read.parquet(s"$indexDir/term_stats")
      .select($"term", $"df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dict = spark.read.parquet(s"$indexDir/dict")
      .as[SegmentStore.DictEntry].collect().groupBy(_.term)
    new PreloadedResolver(stats, dict)
  }

  /** Recency-tiebreak source: the keyed point-read ts artifact on a
    * tie-aware index ([[CorpusStats.read]] has checked it exists; it
    * serializes as a directory string, so the broadcast stays
    * vocab-bound), else nothing — all timestamps are equal, so no tie
    * can differ by recency. The core opens it lazily, on the first tie. */
  def tsSourceFor(indexDir: String, stats: CorpusStats): TsSource =
    if (stats.tieAware) new StoreTsSource(s"$indexDir/ts") else NoTsSource
}
