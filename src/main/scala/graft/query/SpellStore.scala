package graft.query

import org.apache.hadoop.fs.Path
import graft.index.SegmentStore

/** Persistence for the SymSpell delete-variant index as a BUILD
  * artifact beside `term_stats` (round-2 review: each executor JVM was
  * re-deriving the whole index — re-hashing every vocab term's O(len²)
  * delete neighborhood — on its first unknown-term miss, and scan-mode
  * driver engines paid a 2M-row collect for the same privilege).
  *
  * The file is `delete_index.bin` in the one format that
  * [[Spell.DeleteIndex.save]] documents ("GSP2"): the flat arrays in
  * bulk, with bucket lengths and each bucket's ascending term ids
  * delta-varbyte coded. There is no reader for any other format: a
  * file with another magic (an older index) loads as None, and engines
  * rebuild the index from `term_stats`.
  *
  * Goes through Hadoop FileSystem like the posting segments, so the
  * artifact rides file://, HDFS or S3A; writes are tmp + rename for the
  * same crash-visibility story as the segment markers. A cold engine
  * (driver or executor) materializes the structure with ONE sequential
  * read — first-miss correction latency ≈ warm latency. */
object SpellStore {

  def path(spellDir: String): Path = new Path(s"$spellDir/delete_index.bin")

  def write(spellDir: String, idx: Spell.DeleteIndex): Unit = {
    val fs = SegmentStore.fs(spellDir)
    fs.mkdirs(new Path(spellDir))
    val p = path(spellDir)
    val tmp = new Path(p.toString + s".tmp-${java.util.UUID.randomUUID()}")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(tmp, true), 1 << 16))
    try idx.save(out) finally out.close()
    if (fs.exists(p)) fs.delete(p, false)
    fs.rename(tmp, p)
  }

  /** None when no artifact exists (pre-artifact indexes, or builds whose
    * vocabulary exceeded the entry budget), when it is in another
    * format, or when it is corrupt — callers keep their lazy fallback, so correction degrades
    * gracefully instead of failing the query path. */
  def load(spellDir: String): Option[Spell.DeleteIndex] =
    try {
      val fs = SegmentStore.fs(spellDir)
      val p = path(spellDir)
      if (!fs.exists(p)) None
      else {
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(fs.open(p), 1 << 16))
        try Some(Spell.DeleteIndex.load(in)) finally in.close()
      }
    } catch { case _: Exception => None }
}
