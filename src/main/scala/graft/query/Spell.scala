package graft.query

/** Spell correction for unknown query terms (reference searcher.py:32,
  * 76-119 / SURVEY Q2): generate all edit-distance-1 candidates over a
  * bounded alphabet and pick the candidate with MAX document frequency
  * in the index — exactly the reference's argmax-df policy, minus its
  * latent mutate-while-iterating bug (we operate on a copy; SURVEY Q2
  * note).
  */
object Spell {

  val Alphabet: Array[Char] = ('a' to 'z').toArray :+ '_'

  /** All distinct edit-distance-1 variants: deletes, transposes,
    * replaces, inserts. Bounded: O(len * |alphabet|). */
  def edits1(w: String): Iterator[String] = {
    val n = w.length
    val deletes = (0 until n).iterator.map(i => w.take(i) + w.drop(i + 1))
    val transposes = (0 until n - 1).iterator.map(i =>
      w.take(i) + w(i + 1) + w(i) + w.drop(i + 2))
    val replaces = for {
      i <- (0 until n).iterator; c <- Alphabet.iterator if c != w(i)
    } yield w.take(i) + c + w.drop(i + 1)
    val inserts = for {
      i <- (0 to n).iterator; c <- Alphabet.iterator
    } yield w.take(i) + c + w.drop(i)
    (deletes ++ transposes ++ replaces ++ inserts).distinct
  }

  /** Correct `term` against a df lookup: known terms pass through;
    * unknown terms become the edit-1 candidate with max df (ties by
    * lexicographic order for determinism); no candidate → unchanged. */
  def correct(term: String, df: String => Option[Long]): String = {
    if (df(term).isDefined) return term
    val cands = edits1(term)
      .flatMap(c => df(c).map(d => (c, d)))
      .toSeq
    if (cands.isEmpty) term
    else cands.minBy { case (c, d) => (-d, c) }._1
  }

  /** Full reference policy incl. the edit-2 fallback (pyspellchecker's
    * candidates() reaches edit distance 2, searcher.py:94-95): known →
    * unchanged; else argmax-df over known edit-1s; else over known
    * edit-2s; else unchanged. `dfBatch` resolves many candidates in one
    * lookup so a non-preloaded engine pays ONE dictionary scan per
    * stage, not one per candidate. `maxEdit2` bounds the second stage's
    * candidate set (deterministic prefix of the generation order) so a
    * pushdown-scan dictionary isn't handed a quarter-million-term
    * predicate. */
  def correct2(term: String, dfBatch: Seq[String] => Map[String, Long],
               maxEdit2: Int = Int.MaxValue): String = {
    if (dfBatch(Seq(term)).contains(term)) return term
    val e1 = edits1(term).toSeq
    def best(known: Map[String, Long]): String =
      known.toSeq.minBy { case (c, d) => (-d, c) }._1
    val known1 = dfBatch(e1)
    if (known1.nonEmpty) return best(known1)
    val seen = scala.collection.mutable.HashSet(term)
    seen ++= e1
    val e2 = e1.iterator.flatMap(edits1).filter(seen.add).take(maxEdit2).toSeq
    val known2 = dfBatch(e2)
    if (known2.nonEmpty) best(known2) else term
  }

  /** Exact membership test: is `b` in `edits1(a)`? One delete,
    * adjacent transpose, alphabet replace, or alphabet insert — checked
    * in O(len) without generating the neighborhood. Deletes/transposes
    * are alphabet-free; a replace or insert may only INTRODUCE a char
    * from `Alphabet` (the reference's corrector never invents
    * digits/punctuation, so "15.6K" must not "correct" to a nearby
    * number term). */
  def isOneEdit(a: String, b: String): Boolean = {
    val n = a.length; val m = b.length
    def alpha(c: Char): Boolean = (c >= 'a' && c <= 'z') || c == '_'
    if (m == n - 1) { // delete
      var i = 0
      while (i < m && a.charAt(i) == b.charAt(i)) i += 1
      var j = i
      while (j < m && a.charAt(j + 1) == b.charAt(j)) j += 1
      j == m
    } else if (m == n + 1) { // insert (the new char must be alphabet)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (!alpha(b.charAt(i))) return false
      var j = i
      while (j < n && a.charAt(j) == b.charAt(j + 1)) j += 1
      j == n
    } else if (m == n) {
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      if (i == n) return false // identical: zero edits, not one
      // transpose at i?
      if (i + 1 < n && a.charAt(i) == b.charAt(i + 1) &&
          a.charAt(i + 1) == b.charAt(i)) {
        var j = i + 2
        while (j < n && a.charAt(j) == b.charAt(j)) j += 1
        if (j == n) return true
      }
      // replace at i (introduced char must be alphabet)
      if (!alpha(b.charAt(i))) return false
      var j = i + 1
      while (j < n && a.charAt(j) == b.charAt(j)) j += 1
      j == n
    } else false
  }

  /** Distance of candidate `b` from query `q` under correct2's EXACT
    * composed-edit model (b in edits1? 1; b in edits1 of some edits1
    * variant? 2) — `e1` is the precomputed edits1(q) array, generated
    * once per correction and shared across candidates. Composed Norvig
    * edits reach some strings an OSA metric calls distance 3 (e.g.
    * "ca" -> "ac" -> "abc"), so a metric-based verifier would silently
    * diverge from the generate-and-probe path. */
  def composedDist2(q: String, b: String, e1: Array[String]): Int = {
    if (q == b) 0
    else if (isOneEdit(q, b)) 1
    else {
      var i = 0
      while (i < e1.length) {
        if (isOneEdit(e1(i), b)) return 2
        i += 1
      }
      3
    }
  }

  /** SymSpell-style delete-variant index (Garbe's publicly documented
    * symmetric-delete algorithm): every vocabulary term is indexed under
    * the 64-bit hashes of itself and all of its 1- and 2-char-delete
    * variants; a query term generates ITS ≤2-delete variants, unions the
    * posting lists, and verifies exact composed-edit membership
    * (composedDist2 — the same edit model correct2 generates) — O(len²) hash
    * lookups per correction instead of generating the O(len² · |Σ|²)
    * edit-2 string neighborhood (measured 50-190 ms per unknown term on
    * a 150k vocabulary; this path is <1 ms).
    *
    * Hash collisions are harmless: every candidate is distance-verified.
    * Per-variant lists are built in df-descending term order and capped,
    * so crowded variants keep exactly the candidates an argmax-df policy
    * could pick.
    *
    * Layout: flat primitive arrays, looked up by binary search.
    *  - `terms`/`dfs`: the vocabulary sorted df-descending, then
    *    lexicographically; a term id is a position here.
    *  - `keys`: the distinct variant hashes, sorted ascending.
    *  - `offsets`: bucket k is `ids(offsets(k) until offsets(k + 1))`.
    *  - `ids`: every bucket's term ids, ascending — which IS the
    *    df-descending insertion order — capped at `MaxListLen`.
    *  - `truncated`: the sorted hashes of the buckets that hit the cap.
    * That is about 7 B per entry beside the term strings; the boxed
    * `HashMap[java.lang.Long, Array[Int]]` it replaces held about 22 B
    * (seed-1 benchmark vocabulary, 89,484 terms: 17.0 MiB against
    * 54.0 MiB without the term strings, 21.2 MiB against 58.3 MiB as
    * loaded from the artifact). */
  final class DeleteIndex private (terms: Array[String], dfs: Array[Long],
                                   keys: Array[Long], offsets: Array[Int],
                                   ids: Array[Int], truncated: Array[Long]) {

    /** Buckets that hit the list cap at build time. A truncated bucket
      * keeps its 4096 HIGHEST-df members, but the sole distance-1
      * candidate for some query could in principle be the evicted one —
      * queries whose variant set touches a truncated bucket therefore
      * take the exact generate-and-probe fallback below instead of
      * silently diverging from the argmax-df-at-min-distance policy. */
    def nTruncatedBuckets: Int = truncated.length

    private def touchesTruncated(vs: Array[Long]): Boolean = {
      if (truncated.isEmpty) return false
      var i = 0
      while (i < vs.length) {
        if (java.util.Arrays.binarySearch(truncated, vs(i)) >= 0) return true
        i += 1
      }
      false
    }

    /** Self-contained vocab lookup for the exact fallback (the index
      * already carries every (term, df)). */
    @transient private lazy val byTerm: java.util.HashMap[String, java.lang.Long] = {
      val m = new java.util.HashMap[String, java.lang.Long](terms.length * 2)
      var i = 0
      while (i < terms.length) { m.put(terms(i), dfs(i)); i += 1 }
      m
    }

    private def exactFallback(q: String): String =
      Spell.correct2(q, cands => {
        val out = Map.newBuilder[String, Long]
        cands.foreach { c =>
          val d = byTerm.get(c)
          if (d != null) out += c -> d.longValue()
        }
        out.result()
      })

    /** Term ids of every bucket the variants `vs` hit, sorted, with
      * duplicates (a term reached through several variants) kept. */
    private def candidates(vs: Array[Long]): Array[Int] = {
      val slots = new Array[Int](vs.length)
      var total = 0
      var i = 0
      while (i < vs.length) {
        val k = java.util.Arrays.binarySearch(keys, vs(i))
        slots(i) = k
        if (k >= 0) total += offsets(k + 1) - offsets(k)
        i += 1
      }
      val out = new Array[Int](total)
      var w = 0
      i = 0
      while (i < slots.length) {
        val k = slots(i)
        if (k >= 0) {
          val len = offsets(k + 1) - offsets(k)
          System.arraycopy(ids, offsets(k), out, w, len)
          w += len
        }
        i += 1
      }
      java.util.Arrays.sort(out)
      out
    }

    /** Reference policy over the index: known → unchanged; else argmax
      * df among distance-1 candidates; else among distance-2; ties
      * lexicographic; none → unchanged. Queries touching a truncated
      * bucket route to the exact generate-and-probe path (same policy,
      * immune to capped-list eviction). */
    def correct(q: String): String = {
      val vs = DeleteIndex.variants(q)
      if (touchesTruncated(vs)) return exactFallback(q)
      val cands = candidates(vs)
      var best: String = null
      var bestDf = -1L
      var bestDist = 3
      lazy val e1 = edits1(q).toArray // shared across candidate checks
      var i = 0
      while (i < cands.length) {
        val idx = cands(i)
        if (i == 0 || idx != cands(i - 1)) {
          val t = terms(idx)
          if (t == q) return q
          val d = composedDist2(q, t, e1)
          if (d <= 2) {
            val df = dfs(idx)
            if (d < bestDist ||
                (d == bestDist && (df > bestDf || (df == bestDf && (best == null || t < best))))) {
              best = t; bestDf = df; bestDist = d
            }
          }
        }
        i += 1
      }
      if (best == null) q else best
    }

    /** Binary artifact dump, format `DeleteIndex.Magic` ("GSP2"); all
      * integers big-endian:
      * {{{
      *   int magic, int nTerms, int nKeys, int nIds, int nTruncated
      *   nTerms × writeUTF(term)            -- df-desc, then lexicographic
      *   nKeys × long key                   -- sorted variant hashes
      *   nTruncated × long key              -- sorted capped-bucket hashes
      *   int nBytes, nBytes of varbyte:     -- Codec.varbyteEncode coding
      *     nTerms × df
      *     nKeys × bucket length
      *     per bucket: first term id, then the gaps to the next id
      * }}}
      * Written once at index-build time; an engine materializes the
      * whole structure with one sequential read instead of re-hashing
      * every vocab term's O(len²) delete neighborhood per JVM. The
      * bytes are a pure function of the index, so two builds of one
      * vocabulary, or a load followed by a save, write identical
      * files. */
    def save(out: java.io.DataOutputStream): Unit = {
      out.writeInt(DeleteIndex.Magic)
      out.writeInt(terms.length)
      out.writeInt(keys.length)
      out.writeInt(ids.length)
      out.writeInt(truncated.length)
      terms.foreach(out.writeUTF)
      DeleteIndex.writeLongs(out, keys)
      DeleteIndex.writeLongs(out, truncated)
      val vb = new DeleteIndex.VarbyteWriter(terms.length + keys.length + ids.length)
      dfs.foreach(vb.put)
      var k = 0
      while (k < keys.length) { vb.put(offsets(k + 1) - offsets(k)); k += 1 }
      k = 0
      while (k < keys.length) {
        var j = offsets(k)
        var prev = 0
        while (j < offsets(k + 1)) { vb.put(ids(j) - prev); prev = ids(j); j += 1 }
        k += 1
      }
      out.writeInt(vb.len)
      out.write(vb.buf, 0, vb.len)
    }
  }

  object DeleteIndex {
    val Magic = 0x47535032 // "GSP2"
    /** Longest term that gets 2-delete variants (len²/2 of them); longer
      * terms index only 1-deletes — so queries beyond this length have
      * edit-1 reach only (a DOCUMENTED approximation: correcting a
      * 30+-char identifier at distance 2 is not a realistic query need,
      * and the cap bounds index memory). */
    val MaxLen2 = 24
    /** Safety valve only: total index entries are bounded by the sum of
      * per-term variant counts regardless of this cap, so it is set far
      * above any realistic per-variant crowd — a tight cap (64 in an
      * earlier build) could evict the sole distance-1 candidate from a
      * crowded variant list and silently change the correction. */
    val MaxListLen = 4096

    private def fnv(s: CharSequence): Long = {
      var h = -3750763034362895579L // FNV-1a 64 offset basis
      var i = 0
      while (i < s.length) {
        h ^= s.charAt(i)
        h *= 1099511628211L
        i += 1
      }
      h
    }

    /** fnv of s with the chars at original positions skip1 (and skip2,
      * when >= 0) removed — the hash of a delete-variant WITHOUT
      * materializing the variant string (the StringBuilder-per-variant
      * form made the build-time artifact phase allocation-bound:
      * vocab × len²/2 builders). Must stay bit-identical to
      * fnv(variant). */
    private def fnvSkip(s: String, skip1: Int, skip2: Int): Long = {
      var h = -3750763034362895579L
      var i = 0
      val n = s.length
      while (i < n) {
        if (i != skip1 && i != skip2) {
          h ^= s.charAt(i)
          h *= 1099511628211L
        }
        i += 1
      }
      h
    }

    /** Hashes of s and its distinct 1- and 2-delete variants, sorted. */
    private[Spell] def variants(s: String): Array[Long] = {
      val n = s.length
      val two = n <= MaxLen2
      val cap = 1 + n + (if (two) n * (n - 1) / 2 else 0)
      val buf = new Array[Long](cap)
      var c = 0
      buf(c) = fnv(s); c += 1
      var i = 0
      while (i < n) {
        buf(c) = fnvSkip(s, i, -1); c += 1
        if (two) {
          var j = i + 1
          while (j < n) { buf(c) = fnvSkip(s, i, j); c += 1; j += 1 }
        }
        i += 1
      }
      // distinct: deleting either of two equal adjacent chars collides
      java.util.Arrays.sort(buf, 0, c)
      unique(buf, c)
    }

    /** The distinct values of the sorted prefix `buf(0 until n)`,
      * compacted in place; `buf` itself when nothing was dropped. */
    private def unique(buf: Array[Long], n: Int): Array[Long] = {
      var w = 0
      var r = 0
      while (r < n) {
        if (w == 0 || buf(r) != buf(w - 1)) { buf(w) = buf(r); w += 1 }
        r += 1
      }
      if (w == buf.length) buf else java.util.Arrays.copyOf(buf, w)
    }

    /** Upper bound on delete-index entries for a vocabulary — the SAME
      * formula the lazy engine guard and the build-time artifact phase
      * apply (1 + len + len²/2 for 2-delete-eligible terms), stopping
      * early once `budget` is exceeded. */
    def entryEstimate(terms: Iterator[String], budget: Long): Long = {
      var entries = 0L
      while (terms.hasNext && entries <= budget) {
        val n = terms.next().length.toLong
        entries += 1 + n + (if (n <= MaxLen2) n * (n - 1) / 2 else 0L)
      }
      entries
    }

    /** Run `body(from, until)` over `[0, n)` in contiguous chunks on a
      * small pool (one chunk inline when `n` is small). */
    private def inChunks(n: Int)(body: (Int, Int) => Unit): Unit = {
      val nThreads =
        if (n < 4096) 1 else math.min(8, Runtime.getRuntime.availableProcessors())
      if (nThreads == 1) body(0, n)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
        try {
          val chunk = (n + nThreads - 1) / nThreads
          (0 until nThreads).map { t =>
            pool.submit(new Runnable {
              def run(): Unit =
                body(math.min(n, t * chunk), math.min(n, (t + 1) * chunk))
            })
          }.foreach(_.get())
        } finally pool.shutdown()
      }
    }

    /** Count → prefix-sum → fill over the per-term variant arrays. Term
      * ids are assigned in df-descending order and each bucket is filled
      * term-major, so a capped bucket keeps its `maxListLen`
      * highest-df members. */
    def build(vocab: Iterable[(String, Long)],
              maxListLen: Int = MaxListLen): DeleteIndex = {
      val sorted = vocab.toArray.sortWith { (a, b) =>
        a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)
      }
      val terms = sorted.map(_._1)
      val dfs = sorted.map(_._2)
      val n = terms.length
      // variant hashing is the CPU of the build and embarrassingly
      // parallel; determinism is unaffected (every later pass is keyed
      // by term id, not by completion order)
      val varr = new Array[Array[Long]](n)
      inChunks(n) { (from, until) =>
        var i = from
        while (i < until) { varr(i) = variants(terms(i)); i += 1 }
      }
      // term t's entries are flat(start(t) until start(t + 1))
      val start = new Array[Int](n + 1)
      var total = 0L
      var t = 0
      while (t < n) {
        total += varr(t).length
        require(total < Int.MaxValue - 8, s"delete index too large: $total+ entries")
        start(t + 1) = total.toInt
        t += 1
      }
      val flat = new Array[Long](start(n))
      t = 0
      while (t < n) {
        System.arraycopy(varr(t), 0, flat, start(t), varr(t).length)
        varr(t) = null // release as consumed
        t += 1
      }
      val keys = {
        val a = flat.clone()
        java.util.Arrays.parallelSort(a)
        unique(a, a.length)
      }
      val slot = new Array[Int](flat.length)
      inChunks(flat.length) { (from, until) =>
        var e = from
        while (e < until) { slot(e) = java.util.Arrays.binarySearch(keys, flat(e)); e += 1 }
      }
      val count = new Array[Int](keys.length)
      slot.foreach(k => count(k) += 1)
      val offsets = new Array[Int](keys.length + 1)
      val trunc = Array.newBuilder[Long]
      var k = 0
      while (k < keys.length) {
        // observable: these route to the exact fallback
        if (count(k) > maxListLen) trunc += keys(k)
        offsets(k + 1) = offsets(k) + math.min(count(k), maxListLen)
        count(k) = offsets(k) // from here on: bucket k's fill cursor
        k += 1
      }
      val ids = new Array[Int](offsets(keys.length))
      t = 0
      while (t < n) {
        var e = start(t)
        while (e < start(t + 1)) {
          val b = slot(e)
          if (count(b) < offsets(b + 1)) { ids(count(b)) = t; count(b) += 1 }
          e += 1
        }
        t += 1
      }
      new DeleteIndex(terms, dfs, keys, offsets, ids, trunc.result())
    }

    private def writeLongs(out: java.io.DataOutputStream, a: Array[Long]): Unit = {
      val bb = java.nio.ByteBuffer.allocate(a.length * 8)
      bb.asLongBuffer().put(a)
      out.write(bb.array())
    }

    private def readLongs(in: java.io.DataInputStream, n: Int): Array[Long] = {
      val bytes = new Array[Byte](n * 8)
      in.readFully(bytes)
      val a = new Array[Long](n)
      java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(a)
      a
    }

    /** Growable byte buffer with `Codec.varbyteEncode`'s coding (7 bits
      * per byte, low group first, high bit = more follows), minus its
      * boxed `ArrayBuffer[Byte]`. */
    private final class VarbyteWriter(sizeHint: Int) {
      var buf = new Array[Byte](math.max(16, sizeHint))
      var len = 0
      def put(v0: Long): Unit = {
        require(v0 >= 0, s"varbyte requires non-negative, got $v0")
        if (len + 10 > buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        var v = v0
        while ((v & ~0x7FL) != 0) {
          buf(len) = ((v & 0x7F) | 0x80).toByte; len += 1
          v >>>= 7
        }
        buf(len) = v.toByte; len += 1
      }
    }

    /** `Codec.varbyteDecode`'s loop, one value at a time, with the
      * bound check that keeps a corrupt id out of the term arrays. */
    private final class VarbyteReader(buf: Array[Byte]) {
      var pos = 0
      def next(): Long = {
        var v = 0L
        var shift = 0
        var b = buf(pos); pos += 1
        while ((b & 0x80) != 0) {
          v |= (b & 0x7FL) << shift
          shift += 7
          b = buf(pos); pos += 1
        }
        v | ((b & 0x7FL) << shift)
      }
      def nextInt(bound: Int): Int = {
        val v = next()
        require(v >= 0 && v < bound, s"corrupt spell index: $v not below $bound")
        v.toInt
      }
    }

    /** Load an artifact written by [[DeleteIndex.save]]; any other
      * format, or a truncated or inconsistent file, throws. */
    def load(in: java.io.DataInputStream): DeleteIndex = {
      val magic = in.readInt()
      require(magic == Magic, f"bad spell-index magic 0x$magic%08x")
      val nTerms = in.readInt()
      val nKeys = in.readInt()
      val nIds = in.readInt()
      val nTrunc = in.readInt()
      require(nTerms >= 0 && nKeys >= 0 && nIds >= 0 && nTrunc >= 0 &&
        nKeys <= Int.MaxValue / 8 && nTrunc <= nKeys,
        s"corrupt spell index header: $nTerms/$nKeys/$nIds/$nTrunc")
      val terms = Array.fill(nTerms)(in.readUTF())
      val keys = readLongs(in, nKeys)
      val truncated = readLongs(in, nTrunc)
      val vb = new VarbyteReader({
        val a = new Array[Byte](in.readInt()); in.readFully(a); a
      })
      val dfs = Array.fill(nTerms)(vb.next())
      val offsets = new Array[Int](nKeys + 1)
      var k = 0
      while (k < nKeys) {
        offsets(k + 1) = offsets(k) + vb.nextInt(nIds - offsets(k) + 1)
        k += 1
      }
      require(offsets(nKeys) == nIds, s"corrupt spell index: ${offsets(nKeys)} ids, header says $nIds")
      val ids = new Array[Int](nIds)
      k = 0
      while (k < nKeys) {
        var j = offsets(k)
        var prev = 0
        while (j < offsets(k + 1)) {
          prev += vb.nextInt(nTerms - prev)
          ids(j) = prev
          j += 1
        }
        k += 1
      }
      new DeleteIndex(terms, dfs, keys, offsets, ids, truncated)
    }
  }
}
