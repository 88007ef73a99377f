package perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.corpus.Synth

/** The seeded input tables of the operator suite, in the shape of the
  * `sfN` test-data directories (TESTDATA.md; same table names, columns
  * and types):
  * `documents` (short texts over the 30-word vocabulary the operators'
  * fixed queries use), `embeddings` (unit vectors with labels) and
  * `lineitem`. Row i of each table is a pure function of (seed, i). */
object SuiteData {

  val Docs = 500
  val Vecs = 500
  val Lines = 6000
  val Dim = 64

  /** The documents' vocabulary: the 30 words of the `sfN` tables,
    * which the operators' built-in queries ("spark join stream",
    * "table scan", ...) are written against. */
  val Words: IndexedSeq[String] = ("scan column window order sort part agg value " +
    "line key join merge group query a vector hash slow stream filter fast " +
    "the batch spark table small data big customer row").split(' ').toIndexedSeq
  private val Langs = Array("en", "en", "fr", "es", "zh", "de")

  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)
  final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                            l_linenumber: Int, l_quantity: Double,
                            l_extendedprice: Double, l_discount: Double,
                            l_tax: Double, l_returnflag: String,
                            l_linestatus: String, l_shipdate: Timestamp)

  private def rng(seed: Long, table: Long, i: Long) =
    new Synth.Rng(Synth.mix(seed ^ Synth.mix(table ^ Synth.mix(i))))

  /** 10-99 words; one document in 20 repeats an earlier one with one word
    * changed, so the dedup and clustering operators find near-duplicates. */
  def document(seed: Long, i: Long): Document = {
    val r = rng(seed, 0xD0C5L, i)
    val text =
      if (i >= 20 && r.nextInt(20) == 0) {
        val ws = words(seed, r.nextInt(i.toInt)).toArray
        ws(r.nextInt(ws.length)) = Words(r.nextInt(Words.length))
        ws.mkString(" ")
      } else words(seed, i).mkString(" ")
    Document(i, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}", text.length.toLong)
  }

  private def words(seed: Long, i: Long): Seq[String] = {
    val r = rng(seed, 0x70C5L, i)
    Seq.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.length)))
  }

  def embedding(seed: Long, i: Long): Embedding = {
    val r = rng(seed, 0xE3BL, i)
    val v = Array.fill(Dim)(r.nextDouble() - 0.5)
    val norm = math.sqrt(v.map(x => x * x).sum)
    Embedding(i, v.map(x => (x / norm).toFloat), r.nextInt(10))
  }

  private val Day0 = Timestamp.valueOf("1995-01-01 00:00:00").getTime

  def lineItem(seed: Long, i: Long): LineItem = {
    val r = rng(seed, 0x11E5L, i)
    val flags = Array("A", "N", "R")
    LineItem(i / 4, r.nextInt(200), r.nextInt(10), (i % 4).toInt + 1,
      1 + r.nextInt(50), (90000 + r.nextInt(10400000)) / 100.0,
      r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, flags(r.nextInt(3)),
      if (r.nextInt(2) == 0) "F" else "O",
      new Timestamp(Day0 + r.nextInt(2500) * 86400000L))
  }

  /** Write the three tables under `dir` as `<table>.parquet`. */
  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    spark.range(0, Docs, 1, 2).map(i => document(seed, i))
      .write.parquet(s"$dir/documents.parquet")
    spark.range(0, Vecs, 1, 2).map(i => embedding(seed, i))
      .write.parquet(s"$dir/embeddings.parquet")
    spark.range(0, Lines, 1, 2).map(i => lineItem(seed, i))
      .write.parquet(s"$dir/lineitem.parquet")
  }
}

/** The operator suite: one `SparkEntry.queries` entry per operators
  * module, q61 (the BPE trainer) included, in a seed-permuted order.
  * IndexOps and DupClusters first build a per-JVM artifact
  * (`IndexOps.indexFor`, a `Build.run` over the documents, and
  * `DupClusters.labels`); the harness builds both before the first
  * round and times them apart. */
object Suite {

  /** (query name, operators module). The set is fixed so that the suite's
    * wall does not change with the seed; the seed changes the data and
    * the order. */
  val Picks: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "Relational",
    "q05_term_tf" -> "TextRelational",
    "q09_index_bm25" -> "IndexOps",
    "q12_dedup_minhash" -> "Dedup",
    "q15_ann_brute" -> "Similarity",
    "q17_lang_id" -> "TextAnalysis",
    "q21_multimodal" -> "Multimodal",
    "q30_stratified_sample" -> "Assembly",
    "q32_dup_clusters" -> "DupClusters",
    "q33_trigram_novelty" -> "LmScore",
    "q49_snapshot_diff" -> "Versioning",
    "q53_hybrid_rrf" -> "Retrieval",
    "q58_quality_clf" -> "Classifier",
    "q61_bpe_merges" -> "BpeTrainer")

  def order(seed: Long): Seq[String] = {
    val r = new Synth.Rng(Synth.mix(seed ^ 0x5017EL))
    Picks.map(_._1).map(q => (r.nextLong(), q)).sortBy(_._1).map(_._2)
  }

  /** SHA-256 over the result's rows in the order the query returns them. */
  def digest(df: DataFrame): (Long, String) = {
    val rows = df.collect()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
