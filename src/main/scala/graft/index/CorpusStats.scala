package graft.index

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** An index's corpus-level row (`corpus_stats`), as every reader needs
  * it: the driver Engine, DistributedRunner, and Merge's per-part
  * validation all open an index through [[CorpusStats.read]].
  *
  * `boundScale` is 1 for a fresh build (the column is written only by
  * Merge, whose block-max bounds are inflated) and `tieAware` means exact
  * score ties are broken by recency, served from the `ts/` artifact. */
final case class CorpusStats(nDocs: Long, avgdl: Double, boundScale: Double,
                             tsMin: Long, tsMax: Long, tokCfg: String) {
  def tieAware: Boolean = tsMin != tsMax
  /** Build writes the ts artifact exactly when this holds. */
  def carriesTs: Boolean = tsMin != 0L || tsMax != 0L
}

object CorpusStats {
  private val Required = Seq("n_docs", "avgdl", "ts_min", "ts_max", "tok_cfg")

  private def rebuild(indexDir: String, what: String): String =
    s"index $indexDir $what — it predates the current index format; " +
      "rebuild it with Build.run"

  /** One `head()` job. Fails, naming the dir and what is missing, on an
    * index written before the recency and analysis-fingerprint columns
    * or before the ts artifact. */
  def read(spark: SparkSession, indexDir: String): CorpusStats = {
    val cs = spark.read.parquet(s"$indexDir/corpus_stats")
    val missing = Required.filterNot(cs.columns.contains)
    require(missing.isEmpty,
      rebuild(indexDir, s"has no ${missing.mkString(", ")} in corpus_stats"))
    val hasScale = cs.columns.contains("bound_scale")
    val r = cs.select((if (hasScale) Required :+ "bound_scale" else Required)
      .map(col): _*).head()
    val stats = CorpusStats(r.getLong(0), r.getDouble(1),
      if (hasScale) r.getDouble(5) else 1.0, r.getLong(2), r.getLong(3),
      r.getString(4))
    require(!stats.carriesTs || TsStore.exists(s"$indexDir/ts"),
      rebuild(indexDir, "carries ingest_ts (nonzero ts_min/ts_max) but has no ts/ artifact"))
    stats
  }
}
