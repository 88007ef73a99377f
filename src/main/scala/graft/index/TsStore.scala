package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Keyed point-read store for the recency-tiebreak timestamps, written
  * by every build whose corpus carries a nonzero ingest_ts: nothing
  * doc-count-sized is collected or broadcast on tie-aware indexes. The
  * reference materializes its whole docs_dict at startup
  * (search_engine.py:65-69); at 10^12 docs that habit is ~16 TB through
  * the driver, so ingest_ts instead becomes a BUILD ARTIFACT of
  * fixed-width binary files consulted only on exact score ties:
  *
  *   $indexDir/ts/ts-<k>.bin     16-byte big-endian (doc_id, ingest_ts)
  *                               records, doc_id-sorted, range-partitioned
  *   $indexDir/ts/manifest.json  [(name, firstId, lastId, count)] sorted
  *
  * A lookup binary-searches the manifest (file-count-bound, in memory)
  * then the file's records via positioned 4 KiB page reads through a
  * bounded LRU page cache — O(log n) cold, ~0 warm; per-serving-JVM
  * memory is the page cache (≤4 MiB), never O(corpus). Ties are rare by
  * construction (exact double score equality), and EngineCore
  * additionally memoizes per-doc results, so the seek path is off the
  * hot loop. Writes are distributed (range shuffle of 16 B rows — tiny
  * next to the posting shuffle) and go through Hadoop FileSystem with
  * tmp+rename like the posting segments.
  */
object TsStore {

  final case class TsFile(name: String, firstId: Long, lastId: Long,
                          count: Long)

  private def mapper = SegmentStore.mapper

  def manifestPath(tsDir: String): Path = new Path(s"$tsDir/manifest.json")

  def exists(tsDir: String): Boolean =
    try SegmentStore.fs(tsDir).exists(manifestPath(tsDir))
    catch { case _: Exception => false }

  def readManifest(tsDir: String): Option[Seq[TsFile]] =
    try {
      val fs = SegmentStore.fs(tsDir)
      val p = manifestPath(tsDir)
      if (!fs.exists(p)) None
      else {
        val in: java.io.InputStream = fs.open(p)
        try Some(mapper.readValue(in, classOf[Array[TsFile]]).toSeq)
        finally in.close()
      }
    } catch { case _: Exception => None }

  def writeManifest(tsDir: String, files: Seq[TsFile]): Unit = {
    val fs = SegmentStore.fs(tsDir)
    fs.mkdirs(new Path(tsDir))
    val p = manifestPath(tsDir)
    val tmp = new Path(p.toString + s".tmp-${java.util.UUID.randomUUID()}")
    val out: java.io.OutputStream = fs.create(tmp, true)
    try mapper.writeValue(out, files.sortBy(_.firstId).toArray)
    finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** Write the store from a (doc_id, `valueCol`)-bearing frame (normally
    * the just-written doc_stats). Range-partitioned so each file owns a
    * contiguous doc_id interval; empty partitions emit nothing. The
    * store is value-agnostic — ingest_ts is the primary use (recency
    * ties), and the parity path keeps a second instance for max_tf
    * (same fixed-width point-read shape, Engine.maxTf). */
  def write(spark: SparkSession, docStats: DataFrame, tsDir: String,
            numFiles: Int, valueCol: String = "ingest_ts"): Unit = {
    import org.apache.spark.sql.functions.col
    val fs = SegmentStore.fs(tsDir)
    fs.mkdirs(new Path(tsDir))
    val rows = docStats.select(col("doc_id").cast("long"),
        col(valueCol).cast("long"))
      .repartitionByRange(math.max(1, numFiles), col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
    val metas = rows.queryExecution.toRdd.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = TaskContext.getPartitionId()
        val name = s"ts-$pid.bin"
        val f = SegmentStore.fs(tsDir)
        val tmp = new Path(s"$tsDir/$name.tmp-${java.util.UUID.randomUUID()}")
        val out = new java.io.DataOutputStream(
          new java.io.BufferedOutputStream(f.create(tmp, true), 1 << 16))
        var first = Long.MinValue
        var last = Long.MinValue
        var n = 0L
        try {
          while (it.hasNext) {
            val r = it.next()
            val id = r.getLong(0)
            val ts = r.getLong(1)
            if (n == 0L) first = id
            last = id
            out.writeLong(id); out.writeLong(ts)
            n += 1
          }
        } finally out.close()
        val fin = new Path(s"$tsDir/$name")
        if (f.exists(fin)) f.delete(fin, false)
        f.rename(tmp, fin)
        Iterator.single(TsFile(name, first, last, n))
      }
    }.collect() // file-count-bound
    writeManifest(tsDir, metas.toSeq)
  }

  /** Point reader. NOT thread-safe — callers wrap in their own
    * synchronization/memo (EngineCore does). Missing ids return 0L, the
    * engine's "oldest" default for docs without a recency signal.
    *
    * Construction FAILS if the manifest can't be read: a Reader is only
    * built after [[exists]] confirmed the store, so an unreadable
    * manifest here is corruption or a transient FS error — degrading to
    * an empty file list would silently rank every tie by docId instead
    * of ingest_ts (results diverging from the driver engine and across
    * task retries with no log anywhere; the array-path predecessor
    * failed loudly, and so does this). */
  final class Reader(tsDir: String) {
    private val files: Array[TsFile] =
      readManifest(tsDir).getOrElse(throw new java.io.IOException(
        s"ts store at $tsDir: manifest missing or unreadable " +
          "(existed at engine construction — corrupt store or transient FS failure)"))
        .sortBy(_.firstId).toArray
    private val firstIds: Array[Long] = files.map(_.firstId)
    private val fs = SegmentStore.fs(tsDir)
    private val handles = scala.collection.mutable.HashMap
      .empty[Int, org.apache.hadoop.fs.FSDataInputStream]

    private val PageBytes = 4096
    private val RecordsPerPage = PageBytes / 16
    private val MaxPages = 1024 // ≤4 MiB resident
    private val pages = new java.util.LinkedHashMap[Long, Array[Byte]](
      256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Array[Byte]]): Boolean =
        size() > MaxPages
    }

    private def page(fi: Int, pi: Long): Array[Byte] = {
      val key = fi.toLong << 32 | pi
      val hit = pages.get(key)
      if (hit != null) return hit
      val in = handles.getOrElseUpdate(fi,
        fs.open(new Path(s"$tsDir/${files(fi).name}")))
      val total = files(fi).count * 16
      val off = pi * PageBytes
      val len = math.min(PageBytes.toLong, total - off).toInt
      val buf = new Array[Byte](len)
      in.readFully(off, buf, 0, len)
      pages.put(key, buf)
      buf
    }

    private def recAt(fi: Int, rec: Long): (Long, Long) = {
      val b = page(fi, rec / RecordsPerPage)
      val o = (rec % RecordsPerPage).toInt * 16
      def l(p: Int): Long = {
        var v = 0L
        var i = 0
        while (i < 8) { v = (v << 8) | (b(p + i) & 0xffL); i += 1 }
        v
      }
      (l(o), l(o + 8))
    }

    def tsOf(id: Long): Long = {
      if (files.isEmpty) return 0L
      // file whose range may contain id: greatest firstId <= id
      var fi = java.util.Arrays.binarySearch(firstIds, id)
      if (fi < 0) fi = -fi - 2
      if (fi < 0 || id > files(fi).lastId) return 0L
      var lo = 0L
      var hi = files(fi).count - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val (d, t) = recAt(fi, mid)
        if (d == id) return t
        else if (d < id) lo = mid + 1
        else hi = mid - 1
      }
      0L
    }

    def close(): Unit = {
      handles.values.foreach(h => try h.close() catch { case _: Exception => () })
      handles.clear()
      pages.clear()
    }
  }
}
