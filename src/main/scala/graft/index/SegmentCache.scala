package graft.index

/** Executor-local posting-record cache (round-3 review #8): a bounded
  * per-JVM LRU over PARSED (term, salt) records, sitting in front of
  * [[SegmentReader.record]]'s positioned FS read.
  *
  * Why: distributed serving re-reads posting blocks through per-thread
  * readers over the shared FS; query workloads are Zipf-skewed, so a
  * handful of hot terms account for most record fetches — an
  * executor-resident cache turns those into pointer returns. This is
  * the reference's segment-cache locality idea (searcher.py:59-70)
  * taken one level deeper: not "reload the segment only when it
  * changes" but "keep the hot records' decoded block lists resident".
  *
  * Design constraints:
  *  - ONE cache per JVM, shared by every task thread and every engine
  *    (the hot set is a property of the workload, not of one query
  *    thread); a synchronized access-ordered LinkedHashMap — the
  *    critical section is a map get/put, nanoseconds against the
  *    microseconds of the FS read it replaces, and each query term
  *    touches it once (block DECODE, the per-posting hot loop, happens
  *    on private Cursor state outside any lock).
  *  - Bounded in BYTES (`graft.segcache.mb`, default 64 MiB, 0 =
  *    disabled) by the on-disk record length — the parsed form is the
  *    same varbyte payload plus fixed per-block headers.
  *  - Values are immutable: Codec.Block is read-only to every consumer
  *    (Cursors decode COPIES), so sharing one Array across threads is
  *    safe.
  *  - Keys carry (dir, file, offset, length, df, cf). Index dirs are
  *    immutable by construction (builds write fresh dirs; merges
  *    hard-link into new generation dirs; the StreamIndexer flips a
  *    CURRENT pointer), so aliasing requires rebuilding a DIFFERENT
  *    corpus into the SAME path with a record of identical file, offset,
  *    length, df and cf — the df/cf fold makes the residual window
  *    content-equal for practical purposes.
  *
  * Rank identity is free — a hit returns the exact bytes the miss
  * parsed — and gated anyway (EngineSpec cache-on ≡ cache-off).
  */
object SegmentCache {

  /** Capacity in bytes; resolved once per JVM (`graft.segcache.mb`,
    * default 64). 0 disables the cache; perfbench sets 1 MiB to match its
    * few-MiB index. */
  @volatile var capacityBytes: Long =
    java.lang.Long.getLong("graft.segcache.mb", 64L) << 20

  val hits = new java.util.concurrent.atomic.AtomicLong
  val misses = new java.util.concurrent.atomic.AtomicLong

  private final case class Ent(df: Int, blocks: Array[Codec.Block], bytes: Long)

  private var resident = 0L
  private val lru =
    new java.util.LinkedHashMap[String, Ent](1024, 0.75f, /*accessOrder=*/ true)

  private def key(dir: String, e: SegmentStore.DictEntry): String =
    s"$dir/${e.file}@${e.offset}:${e.length}:${e.df}:${e.cf}"

  /** Fetch a record through the cache; `miss` runs OUTSIDE the lock (it
    * does IO), so two threads racing on one cold key may both read —
    * benign: last insert wins, bytes stay accounted. */
  def record(dir: String, e: SegmentStore.DictEntry)
            (miss: => (Int, Array[Codec.Block])): (Int, Array[Codec.Block]) = {
    val cap = capacityBytes
    if (cap <= 0L) return miss
    val k = key(dir, e)
    lru.synchronized {
      val hit = lru.get(k) // touches access order
      if (hit != null) { hits.incrementAndGet(); return (hit.df, hit.blocks) }
    }
    misses.incrementAndGet()
    val v = miss
    val bytes = e.length.toLong + 64L * (v._2.length + 1)
    if (bytes <= cap) lru.synchronized {
      if (!lru.containsKey(k)) {
        lru.put(k, Ent(v._1, v._2, bytes))
        resident += bytes
        val it = lru.entrySet().iterator()
        while (resident > cap && it.hasNext) {
          resident -= it.next().getValue.bytes
          it.remove()
        }
      }
    }
    v
  }

  def residentBytes: Long = lru.synchronized(resident)
  def entryCount: Int = lru.synchronized(lru.size())

  def clear(): Unit = lru.synchronized { lru.clear(); resident = 0L }
}
