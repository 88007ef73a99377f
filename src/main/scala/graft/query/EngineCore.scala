package graft.query

import graft.analysis.Tokenizer
import graft.index.{Codec, SegmentStore}
import scala.collection.mutable

/** Term resolution seam between the query core and index storage:
  * driver engines resolve via preloaded maps or pushdown parquet scans
  * (Engine), executor-resident cores via broadcast maps
  * (PreloadedResolver). */
trait TermResolver extends Serializable {
  def dfBatch(cands: Seq[String]): Map[String, Long]
  def dictEntries(terms: Seq[String]): Array[SegmentStore.DictEntry]
  /** Full term->df map for the SymSpell delete index. Preloaded
    * resolvers return their resident map; scan resolvers may load it
    * ONCE on the first unknown-term miss (vocab is sublinear in corpus
    * size, and spell correction fundamentally needs vocab-wide argmax)
    * but return None above `maxTerms` — the core then degrades to the
    * bounded generate-and-probe fallback instead of OOMing on an
    * extreme vocabulary. */
  def allStats: Option[Map[String, Long]]
}

/** Map-backed resolver: what a broadcast dictionary looks like. */
final class PreloadedResolver(stats: Map[String, Long],
                              dict: Map[String, Array[SegmentStore.DictEntry]])
    extends TermResolver {
  def dfBatch(cands: Seq[String]): Map[String, Long] =
    cands.iterator.flatMap(c => stats.get(c).map(c -> _)).toMap
  def dictEntries(terms: Seq[String]): Array[SegmentStore.DictEntry] =
    terms.toArray.flatMap(t => dict.getOrElse(t, Array.empty[SegmentStore.DictEntry]))
  def allStats: Option[Map[String, Long]] = Some(stats)
}

/** Point lookup of doc_id -> ingest_ts, consulted ONLY on exact score
  * ties. Implementations must be safe to call from multiple task
  * threads sharing one broadcast core. */
trait TsLookup {
  def tsOf(id: Long): Long
  def close(): Unit = ()
}

/** Lazy provider of a [[TsLookup]]; materialized per JVM on the first
  * tie-aware comparison. What serializes (and so what rides the
  * DistributedRunner broadcast) is THIS object — the file-backed
  * [[StoreTsSource]] is just a directory string, keeping the broadcast
  * vocab-bound on tie-aware indexes. */
trait TsSource extends Serializable {
  def open(): TsLookup
}

/** The source of an index with no recency signal (every ingest_ts
  * equal): never consulted, since such a core is not tie-aware. */
object NoTsSource extends TsSource {
  def open(): TsLookup = new TsLookup { def tsOf(id: Long): Long = 0L }
}

/** File-backed source over the index's ts artifact
  * (graft.index.TsStore): O(log n) positioned page reads on exact ties,
  * nothing doc-count-sized in memory or in the broadcast. A per-JVM
  * memo makes repeated heap-sift lookups of the same doc free; the
  * underlying reader is single-threaded, so misses serialize on it —
  * ties are rare by construction (exact double equality), so this is
  * off the hot loop. Open file handles are ts-file-count-bounded. */
final class StoreTsSource(tsDir: String) extends TsSource {
  def open(): TsLookup = new TsLookup {
    private var r: graft.index.TsStore.Reader = null
    private val memo =
      new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
    def tsOf(id: Long): Long = {
      val hit = memo.get(id)
      if (hit != null) return hit.longValue
      val v = this.synchronized {
        if (r == null) r = new graft.index.TsStore.Reader(tsDir)
        r.tsOf(id)
      }
      if (memo.size > 65536) memo.clear()
      memo.put(id, v)
      v
    }
    override def close(): Unit = this.synchronized {
      if (r != null) { r.close(); r = null }
    }
  }
}

/** A query term's resolved postings: query tf, document frequency, and
  * the term's (possibly salted-run-concatenated) block list. */
final case class TermPostings(term: String, qtf: Int, df: Long,
                              blocks: Array[Codec.Block])

/** The complete query-side core — dictionary lookup, default-on spell
  * correction, BM25 scoring, block-max WAND top-k, exhaustive oracle —
  * over PLAIN data: corpus stats, a TermResolver, a segments directory.
  * No SparkSession anywhere, so an instance rides a broadcast to
  * executors (DistributedRunner) as readily as it serves a driver
  * Engine; the segment reader, spell index and memo are @transient
  * lazy and re-materialize per JVM.
  *
  * All semantics (rank identity incl. the recency tiebreak, spell
  * policy, singleton pruning, case-fold fallback) are the Engine
  * semantics — Engine delegates here, so the WAND≡exhaustive and
  * golden suites pin this class. */
object EngineCore {
  /** Delete-variant entry budget for the spell index (~7 B/entry once
    * built, ~25 B/entry at the build's peak → ~0.75 GB at this cap; a
    * 150k natural-language vocab needs ~6M). Vocabularies whose variant count exceeds it get
    * the bounded generate-and-probe fallback instead of an OOM inside
    * the first corrected query. */
  val MaxSpellIndexEntries: Long = 30000000L
}

final class EngineCore(
    val nDocs: Long, val avgdl: Double, val boundScale: Double,
    val tieAware: Boolean, tsSource: TsSource,
    resolver: TermResolver, segmentsDir: String,
    tokCfg: Tokenizer.Config, pruneSingletons: Boolean, spell: Boolean,
    spellDir: String = "")
    extends Serializable {

  /** Per-thread segment readers: one broadcast core instance serves all
    * of an executor's task threads concurrently, and SegmentReader's
    * stream-handle cache + seek/read pattern is single-threaded state.
    * Bounded by the executor's task-thread pool; every materialized
    * reader is tracked so close() releases ALL of them, not just the
    * calling thread's (round-2 review: a multi-threaded driver leaked
    * the other threads' handles). */
  @transient private lazy val allReaders =
    new java.util.concurrent.ConcurrentLinkedQueue[graft.index.SegmentReader]()
  @transient private lazy val readerTL =
    new ThreadLocal[graft.index.SegmentReader]()
  private def reader: graft.index.SegmentReader = {
    var r = readerTL.get()
    // O(1) closed check: close() drains allReaders but can only clear
    // the CALLING thread's ThreadLocal slot — another thread's cached
    // reader would otherwise come back closed (use-after-close) instead
    // of being recreated. (A membership scan of allReaders did the same
    // job at O(#threads) per record fetch on the query hot path.)
    if (r == null || r.isClosed) {
      r = new graft.index.SegmentReader(segmentsDir)
      allReaders.add(r)
      readerTL.set(r)
    }
    r
  }

  /** Close and drop the CALLING thread's reader (if any) — hooked to
    * task completion by DistributedRunner so executor task threads don't
    * accumulate one handle set per broadcast core across jobs; the next
    * task on this thread re-opens its (few, segment-count-bounded)
    * streams. */
  def closeThreadReader(): Unit = {
    val r = readerTL.get()
    if (r != null) {
      readerTL.remove()
      allReaders.remove(r)
      r.close()
    }
  }

  /** Release the ts lookup's file handles (executor task-completion
    * hook, beside closeThreadReader): a broadcast core would otherwise
    * pin one ts-reader handle set per executor JVM until broadcast GC.
    * Safe under concurrency — StoreTsSource lookups reopen lazily on
    * the next exact-score tie, and ties are rare by construction, so
    * the churn is off the hot loop. */
  def releaseTsHandles(): Unit = {
    val l = tsOpened
    if (l != null) { try l.close() catch { case _: Exception => () } }
  }

  // materialized-or-not tracked separately so close() only touches a
  // lookup that actually opened (a lazy val can't be probed)
  @transient @volatile private var tsOpened: TsLookup = null
  @transient private lazy val tsLookup: TsLookup = {
    val l = tsSource.open()
    tsOpened = l
    l
  }

  private def tsOf(id: Long): Long =
    if (!tieAware) 0L else tsLookup.tsOf(id)

  /** True ranking order: candidate beats incumbent on higher score, then
    * newer ingest_ts, then smaller docId. Explicit and iteration-order
    * independent (exact ties in a HashMap sweep resolve identically). */
  private def better(candId: Long, candScore: Double,
                     incId: Long, incScore: Double): Boolean =
    candScore > incScore || (candScore == incScore && {
      val ct = tsOf(candId); val it = tsOf(incId)
      ct > it || (ct == it && candId < incId)
    })

  /** Spell machinery for unknown terms: the SymSpell-style delete-variant
    * index, resolved in preference order —
    *  1. the persisted BUILD artifact (`$indexDir/spell`, written once at
    *     index-build time): one sequential read, so a cold executor's
    *     first-miss correction latency ≈ warm latency;
    *  2. lazily built from the resolver's stats (pre-artifact indexes;
    *     generating the full edit-2 string neighborhood per miss measured
    *     50-190 ms on a 150k vocab — the index answers in ~1 ms);
    *  3. a resolver that refuses the stats load (extreme vocab) degrades
    *     to the bounded generate-and-probe fallback.
    * Corrections are memoized per JVM — pure given the frozen dict. */
  @transient private lazy val deleteIdx: Option[Spell.DeleteIndex] = {
    val fromArtifact =
      if (spellDir.nonEmpty) SpellStore.load(spellDir) else None
    fromArtifact.orElse(resolver.allStats.flatMap { m =>
      // guard on the INDEX size, not the stats-map size: the delete
      // index holds ~1 + len + len²/2 variant entries per term, two
      // orders of magnitude more than the (term, df) map — a vocab that
      // loads fine can still be unbuildable, and the guard must catch
      // that before allocation, falling back to bounded probing
      val entries = Spell.DeleteIndex.entryEstimate(
        m.keysIterator, EngineCore.MaxSpellIndexEntries)
      if (entries > EngineCore.MaxSpellIndexEntries) None
      else Some(Spell.DeleteIndex.build(m))
    })
  }

  /** Force spell-index materialization now (artifact load or build) so
    * the cost lands at a predictable moment instead of inside the first
    * corrected query's latency. */
  def warmSpell(): Unit = if (spell) { deleteIdx; () }
  @transient private lazy val spellMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def correctionOf(t: String): String = {
    val hit = spellMemo.get(t)
    if (hit != null) return hit
    val c = deleteIdx match {
      case Some(ix) => ix.correct(t)
      // extreme-vocab fallback only: a deterministic PREFIX of the
      // edit-2 neighborhood (documented bounded behavior — the full
      // neighborhood would hand a pushdown scan a quarter-million-term
      // predicate); every realistic vocabulary takes the index path
      // above, which is policy-identical to unbounded correct2
      case None => Spell.correct2(t, resolver.dfBatch, maxEdit2 = 5000)
    }
    if (spellMemo.size() > 100000) spellMemo.clear()
    spellMemo.put(t, c)
    c
  }

  /** Resolution half of [[lookup]]: query tokens → live dictionary terms
    * (case-fold fallback, optional spell correction, singleton pruning),
    * their df stats, and the count of query tokens that resolved to
    * NOTHING (case variants missing, spell found no correction, or the
    * term was pruned). The disjunctive paths ignore the last value; the
    * conjunctive path refuses to answer on it — the AND of a missing
    * term is the empty set, not the AND of whatever remained. */
  private def resolveTerms(queryTerms: Map[String, Int])
      : (Map[String, Int], Map[String, Long], Int) = {
    if (queryTerms.isEmpty) return (Map.empty, Map.empty, 0)
    val variants = queryTerms.keys.flatMap(t =>
      Seq(t, t.toLowerCase, t.toUpperCase)).toSeq.distinct
    var stats: Map[String, Long] = resolver.dfBatch(variants)
    var resolved: Map[String, Int] = queryTerms.flatMap { case (t, qtf) =>
      val hit =
        if (stats.contains(t)) Some(t)
        else if (stats.contains(t.toLowerCase)) Some(t.toLowerCase)
        else if (stats.contains(t.toUpperCase)) Some(t.toUpperCase)
        else None
      hit.map(_ -> qtf)
    }
    var unresolved = 0
    val missing = queryTerms.filter { case (t, _) =>
      !(stats.contains(t) || stats.contains(t.toLowerCase) ||
        stats.contains(t.toUpperCase)) }
    if (spell) {
      missing.foreach { case (t, qtf) =>
        val c = correctionOf(t)
        if (c != t) {
          stats ++= resolver.dfBatch(Seq(c))
          resolved = resolved.updatedWith(c)(q =>
            Some(q.getOrElse(0) + qtf))
        } else unresolved += 1
      }
    } else unresolved += missing.size
    val live = resolved.filter { case (t, _) =>
      !pruneSingletons || stats(t) > 1 }
    unresolved += resolved.size - live.size
    (live, stats, unresolved)
  }

  /** Posting fetch half of [[lookup]]: live terms → docId-sorted block
    * lists, through the executor-local SegmentCache. */
  private def fetchPostings(live: Map[String, Int],
                            stats: Map[String, Long]): Seq[TermPostings] = {
    val dict = resolver.dictEntries(live.keys.toSeq)
    live.toSeq.sortBy(_._1).flatMap { case (t, qtf) => // Q4: sorted terms
      val entries = dict.filter(_.term == t)
      if (entries.isEmpty) None
      else {
        // hot records come from the executor-local SegmentCache (Zipf
        // workloads re-fetch the same few terms constantly); a miss
        // falls through to this thread's byte-addressed reader
        val blocks = entries.flatMap(e =>
            graft.index.SegmentCache.record(segmentsDir, e)(reader.record(e))._2)
          .sortBy(_.firstDocId)
        Some(TermPostings(t, qtf, stats(t), blocks))
      }
    }
  }

  /** Dictionary + stats lookup for a parsed query, with the reference's
    * case-fold fallback (searcher.py:46-55, SURVEY Q3), default-on spell
    * correction for still-unknown terms (the reference corrects EVERY
    * query, searcher.py:44, incl. the edit-2 candidates() fallback,
    * searcher.py:94-95), and query-time singleton pruning
    * (indexer.py:604-615, SURVEY A7). */
  def lookup(queryTerms: Map[String, Int]): Seq[TermPostings] = {
    val (live, stats, _) = resolveTerms(queryTerms)
    if (live.isEmpty) Nil else fetchPostings(live, stats)
  }

  /** Boolean-AND (conjunctive) retrieval: only documents containing
    * EVERY resolved query term, BM25-scored over the intersection,
    * top-k under the same rank order as [[searchWand]].
    *
    * Postings are docId-sorted, so the intersection is a leapfrog merge
    * driven by the largest current docId; a term whose remaining blocks
    * all end before the candidate skips them metadata-only (the same
    * block-skip machinery WAND's advanceTo uses), so a rare term drags
    * the scan cost toward its own df, not the common terms'. The
    * reference engine is disjunctive-only (searcher.py scores the
    * union); conjunctive mode is the classic inverted-index AND query
    * added as first-class engine surface. Any query token that resolves
    * to no live dictionary term (even after case-fold + spell) makes
    * the result empty — AND semantics, not best-effort. */
  def searchConjunctive(query: String, k: Int): Array[(Long, Double)] =
    searchConjunctiveQuery(Tokenizer.tokenizeQuery(query, tokCfg), k)

  /** [[searchConjunctive]] over pre-tokenized terms (the batch-runner
    * entry, mirroring searchWandQuery). */
  def searchConjunctiveQuery(q: Map[String, Int], k: Int): Array[(Long, Double)] = {
    if (q.isEmpty) return Array.empty
    val (live, stats, unresolved) = resolveTerms(q)
    if (unresolved > 0 || live.isEmpty) return Array.empty
    val tps = fetchPostings(live, stats)
    if (tps.size < live.size) return Array.empty // a live term lost its record
    val cs = tps.map(tp =>
      new Cursor(BM25.termConst(nDocs, tp.df, tp.qtf), tp.blocks)).toArray
    if (cs.exists(_.exhausted)) return Array.empty
    val hits = new scala.collection.AbstractIterator[(Long, Double)] {
      private var done = false
      private var has = false
      private var cur: (Long, Double) = null
      private def seek(): Unit = {
        while (!has && !done) {
          // candidate = max of current docIds; exhaustion anywhere ends it
          var max = 0L; var i = 0
          while (i < cs.length) {
            val d = cs(i).curDoc
            if (d == Long.MaxValue) { done = true; return }
            if (d > max) max = d
            i += 1
          }
          var agree = true
          i = 0
          while (i < cs.length) {
            cs(i).advanceTo(max)
            val d = cs(i).curDoc
            if (d == Long.MaxValue) { done = true; return }
            if (d != max) agree = false
            i += 1
          }
          if (agree) {
            // term-sorted cursor order (fetchPostings sorts) keeps the
            // double accumulation order identical to searchExhaustive's
            var s = 0.0; i = 0
            while (i < cs.length) { s += cs(i).curScore; i += 1 }
            cur = (max, s); has = true
            i = 0
            while (i < cs.length) { cs(i).next(); i += 1 }
          }
        }
      }
      def hasNext: Boolean = { seek(); has }
      def next(): (Long, Double) = { seek(); has = false; cur }
    }
    topK(hits, k)
  }

  def close(): Unit = {
    var r = allReaders.poll()
    while (r != null) {
      try r.close() catch { case _: Exception => () }
      r = allReaders.poll()
    }
    readerTL.remove()
    val l = tsOpened
    if (l != null) {
      tsOpened = null
      try l.close() catch { case _: Exception => () }
    }
  }

  /** Exhaustive BM25: decode every posting of every query term, score all
    * matching docs, exact top-k. The oracle for WAND rank identity. */
  def searchExhaustive(query: String, k: Int): Array[(Long, Double)] = {
    val tps = lookup(Tokenizer.tokenizeQuery(query, tokCfg))
    val acc = mutable.HashMap.empty[Long, Double]
    tps.foreach { tp =>
      val c = BM25.termConst(nDocs, tp.df, tp.qtf)
      Codec.decode(tp.blocks.toSeq).foreach { p =>
        acc.updateWith(p.docId)(s =>
          Some(s.getOrElse(0.0) + c * BM25.normPart(p.tf, p.dl, avgdl)))
      }
    }
    topK(acc.iterator, k)
  }

  /** Max-heap ordering whose head is the WORST kept entry under the
    * full rank order (score desc, ts desc, docId asc). Implemented as a
    * three-stage compare so the timestamp lookup happens ONLY on exact
    * score ties — a tuple-key ordering consulted tsOf on every heap
    * sift and regressed warm query p50 5x. */
  private def worstFirstOrd: Ordering[(Long, Double)] =
    new Ordering[(Long, Double)] {
      def compare(x: (Long, Double), y: (Long, Double)): Int = {
        // greater = worse: lower score, then older ts, then larger id
        val c = java.lang.Double.compare(y._2, x._2)
        if (c != 0) return c
        val ct = java.lang.Long.compare(tsOf(y._1), tsOf(x._1))
        if (ct != 0) return ct
        java.lang.Long.compare(x._1, y._1)
      }
    }

  private def topK(it: Iterator[(Long, Double)], k: Int): Array[(Long, Double)] = {
    val heap = mutable.PriorityQueue.empty[(Long, Double)](worstFirstOrd)
    it.foreach { e =>
      if (heap.size < k) heap.enqueue(e)
      else if (better(e._1, e._2, heap.head._1, heap.head._2)) {
        heap.dequeue(); heap.enqueue(e)
      }
    }
    heap.dequeueAll.reverse.toArray
  }

  // ---- block-max WAND -------------------------------------------------

  private final class Cursor(val const: Double, blocks: Array[Codec.Block]) {
    // bounds (not scores) inflated by boundScale — exact 1.0 on fresh
    // builds, conservative on metadata-merged indexes
    val globalUB: Double = const * boundScale *
      (if (blocks.isEmpty) 0.0 else blocks.map(_.maxScore).max)
    private var bi = 0
    private var pi = 0
    private var decoded: Array[Codec.Posting] =
      if (blocks.nonEmpty) Codec.decodeBlock(blocks(0)) else Array.empty
    def exhausted: Boolean = bi >= blocks.length
    def curDoc: Long = if (exhausted) Long.MaxValue else decoded(pi).docId
    def curScore: Double = {
      val p = decoded(pi)
      const * BM25.normPart(p.tf, p.dl, avgdl)
    }
    def next(): Unit = {
      pi += 1
      if (pi >= decoded.length) { bi += 1; pi = 0
        if (!exhausted) decoded = Codec.decodeBlock(blocks(bi)) }
    }
    def advanceTo(target: Long): Unit = {
      if (exhausted || curDoc >= target) return
      if (blocks(bi).lastDocId < target) { // block skip: metadata only
        while (bi < blocks.length && blocks(bi).lastDocId < target) bi += 1
        pi = 0
        if (exhausted) return
        decoded = Codec.decodeBlock(blocks(bi))
      }
      while (pi < decoded.length && decoded(pi).docId < target) pi += 1
      if (pi >= decoded.length) { bi += 1; pi = 0
        if (!exhausted) decoded = Codec.decodeBlock(blocks(bi)) }
    }
    /** Max score of the block that would contain `doc` (metadata only). */
    def blockUBFor(doc: Long): Double = {
      var j = bi
      while (j < blocks.length && blocks(j).lastDocId < doc) j += 1
      if (j >= blocks.length) 0.0
      else const * boundScale * blocks(j).maxScore
    }
    def blockLastFor(doc: Long): Long = {
      var j = bi
      while (j < blocks.length && blocks(j).lastDocId < doc) j += 1
      if (j >= blocks.length) Long.MaxValue else blocks(j).lastDocId
    }
  }

  /** Block-max WAND top-k; provably rank-identical to searchExhaustive.
    *
    * Tie exactness: with the docId tiebreak alone, traversal in
    * increasing docId means an equal-score candidate can never displace
    * an incumbent (its id is larger), so pruning may skip on bound ==
    * theta. With the recency tiebreak a tied candidate CAN displace
    * (newer ingest_ts), so on tie-aware indexes the pivot condition
    * admits equality and the skip condition is strictly-less — bounds at
    * exactly theta are evaluated instead of pruned.
    *
    * The cursor set is kept in an array ordered by curDoc, repaired by
    * insertion sort each round (cursors move monotonically, so the array
    * is nearly sorted) — no per-iteration filter/sortBy allocation
    * (round-1 advice: O(t log t) alloc per pivot step at 10+ terms). */
  def searchWand(query: String, k: Int): Array[(Long, Double)] = {
    val tps = lookup(Tokenizer.tokenizeQuery(query, tokCfg))
    searchWandTerms(tps, k)
  }

  /** Terms-level entry: search an already-normalized term -> qtf map
    * (no re-tokenization — normalized terms like "15.6K" would otherwise
    * re-expand through the identifier split and drift the query). */
  def searchWandQuery(queryTerms: Map[String, Int], k: Int): Array[(Long, Double)] =
    searchWandTerms(lookup(queryTerms), k)

  private[query] def searchWandTerms(tps: Seq[TermPostings], k: Int)
      : Array[(Long, Double)] = {
    if (tps.isEmpty || k <= 0) return Array.empty
    val cursors = tps.map(tp =>
      new Cursor(BM25.termConst(nDocs, tp.df, tp.qtf), tp.blocks)).toArray

    val heap = mutable.PriorityQueue.empty[(Long, Double)](worstFirstOrd)
    def theta: Double = if (heap.size < k) Double.NegativeInfinity
                        else heap.head._2

    val live = cursors.clone()
    var liveN = live.length
    // repair order by curDoc on live(0 until liveN); exhausted cursors
    // swap out past liveN. Insertion sort: nearly-sorted between rounds.
    def resort(): Unit = {
      var i = 0
      while (i < liveN) {
        if (live(i).exhausted) {
          liveN -= 1
          val t = live(i); live(i) = live(liveN); live(liveN) = t
        } else i += 1
      }
      i = 1
      while (i < liveN) {
        val c = live(i)
        val d = c.curDoc
        var j = i - 1
        while (j >= 0 && live(j).curDoc > d) { live(j + 1) = live(j); j -= 1 }
        live(j + 1) = c
        i += 1
      }
    }

    while (true) {
      resort()
      if (liveN == 0) return heap.dequeueAll.reverse.toArray
      // pivot: first prefix whose global UB sum reaches theta (ties at
      // theta can still displace on tie-aware indexes)
      var acc = 0.0
      var p = -1
      var i = 0
      while (i < liveN && p < 0) {
        acc += live(i).globalUB
        if (acc > theta || (tieAware && acc == theta && heap.size >= k)) p = i
        i += 1
      }
      if (p < 0) return heap.dequeueAll.reverse.toArray
      val pivotDoc = live(p).curDoc
      // extend the pivot prefix over every cursor sitting on pivotDoc —
      // the block bound must cover ALL of the pivot's contributions
      while (p + 1 < liveN && live(p + 1).curDoc == pivotDoc) p += 1
      // refine with block maxes at the pivot
      var blockBound = 0.0
      var j = 0
      while (j <= p) { blockBound += live(j).blockUBFor(pivotDoc); j += 1 }
      val prunable =
        if (tieAware) blockBound < theta else blockBound <= theta
      if (heap.size >= k && prunable) {
        // no doc in [pivotDoc, d') can beat theta; skip whole blocks
        var dNext = if (p + 1 < liveN) live(p + 1).curDoc
                    else Long.MaxValue
        j = 0
        while (j <= p) {
          val bl = live(j).blockLastFor(pivotDoc)
          if (bl != Long.MaxValue && bl + 1 < dNext) dNext = bl + 1
          j += 1
        }
        if (dNext == pivotDoc) dNext = pivotDoc + 1 // safety: always progress
        j = 0
        while (j <= p) { live(j).advanceTo(dNext); j += 1 }
      } else if (live(0).curDoc == pivotDoc) {
        // fully evaluate the pivot — iterating the ORIGINAL cursor array
        // (sorted-term construction order), not the curDoc-ordered live
        // array: float addition is order-sensitive at the ulp, the
        // exhausted-cursor swap-removal permutes `live`, and exhaustive
        // sums per doc in sorted-term order, so summing in any other
        // order can drift scores by an ulp and break exact rank identity
        var score = 0.0
        j = 0
        while (j < cursors.length) {
          val c = cursors(j)
          if (!c.exhausted && c.curDoc == pivotDoc) { score += c.curScore; c.next() }
          j += 1
        }
        if (heap.size < k) heap.enqueue((pivotDoc, score))
        else if (better(pivotDoc, score, heap.head._1, heap.head._2)) {
          heap.dequeue(); heap.enqueue((pivotDoc, score))
        }
      } else {
        // align earlier cursors onto the pivot
        j = 0
        while (j < p) { live(j).advanceTo(pivotDoc); j += 1 }
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
