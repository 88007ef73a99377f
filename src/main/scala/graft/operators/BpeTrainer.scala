package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** q61: distributed BPE tokenizer training (Sennrich et al. 2016) —
  * learn a byte-pair-encoding merge table from the corpus, the
  * vocabulary-induction step every LLM data pipeline runs before
  * anything is tokenized. Complements q19 (token COUNTING under a
  * fixed scheme) and q59 (collocation DISCOVERY): this one produces
  * the subword vocabulary itself.
  *
  * The algorithm is the standard two-phase trainer every production
  * implementation uses (HuggingFace tokenizers, SentencePiece BPE):
  *
  *  1. word-level pre-tokenization: ONE partial-agg shuffle reduces the
  *     corpus to a (word, count) table — VOCAB-sized by Heaps' law, the
  *     whole reason corpus size stops mattering after this line. Words
  *     become symbol sequences (chars + a word-end marker).
  *  2. merge loop: per round, count adjacent symbol pairs WEIGHTED by
  *     word count (a flatMap + partial-agg groupBy over the vocab-sized
  *     table), take the argmax under the total order
  *     (count DESC, left ASC, right ASC) — integer counts + lexical
  *     tiebreak, so the learned table is deterministic on any engine or
  *     cluster size — and apply the merge executor-side.
  *
  * Scale shape: the corpus is touched exactly once (phase 1); every
  * merge round runs on the vocab-sized table, CHECKPOINTED per round
  * (localCheckpoint, or the reliable dir when configured — the same
  * switch as DupClusters' star contraction) so the plan is truncated
  * to the materialized generation. Persist-only chaining was measured
  * pathological here: each generation's cached plan EMBEDS its
  * predecessor's whole plan, so by round ~25 Spark's plan-string
  * bookkeeping (SQL-listener descriptions walk the tree per job) costs
  * minutes and tens of GB — the exact lineage blow-up the contraction
  * loop's roundCkpt comment warns about, now pinned by a BpeSpec
  * 40-round runtime gate. Superseded generations unpersist as
  * successors materialize, so live state is ≤ 2 vocab tables. The
  * driver holds only the O(NumMerges) merge list — the argmax comes
  * back through a 1-row `limit(1)` collect, never the pair table.
  * Production trainers keep incremental pair-delta updates per merge;
  * the recount here is the Spark-first trade — each round is one
  * partial-agg job over a table that no longer depends on the corpus
  * at all.
  *
  * Like q58 (iterative fixpoint), not SQL-expressible — no DuckDB
  * oracle; BpeSpec pins the table against a from-first-principles
  * in-memory BPE replay on real data, a hand-verifiable planted
  * corpus, and bit-identical retraining. Output rows are all-integer /
  * string (rank, left, right, pair_count) — zero float surface.
  */
object BpeTrainer {

  /** Merge rounds. 40 at sf0.01 captures the head; a production run
    * uses 30k-100k — same per-round cost, still vocab-sized. */
  val NumMerges = 40
  /** A pair must occur this often (word-count-weighted) to merge —
    * below it the loop stops early (the tail is noise). */
  val MinPairCount = 2L
  /** Word-end marker symbol (distinguishes "er"+end from mid-word
    * "er"; the classic BPE formulation). No single corpus character
    * equals it, but symbols grow by merging: a corpus word that contains
    * the literal text "</w>" can have '<', '/', 'w', '>' merged into a
    * symbol string-equal to this marker, and from then on that mid-word
    * symbol and the word end share pair counts. The collision is
    * accepted, not prevented: it needs that literal in the text, often
    * enough to win the three merge rounds that build it. */
  val EndMark = "</w>"

  private[operators] final case class WordSyms(syms: Array[String], cnt: Long)

  /** Phase 1: corpus → (word, count) → symbol sequences. The ONLY
    * corpus-sized computation in the trainer. */
  private[operators] def initialSyms(spark: SparkSession, dir: String)
      : Dataset[WordSyms] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(lower($"text"), "\\s+")).as("w"))
      .filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt"))
      .as[(String, Long)]
      .map { case (w, c) =>
        WordSyms(w.map(_.toString).toArray :+ EndMark, c)
      }
  }

  /** Apply one merge (l, r) -> l+r to a symbol sequence, left to right
    * (matches are consumed greedily; "aaa" under merge (a,a) becomes
    * ["aa", "a"] — the reference BPE behavior). */
  private[operators] def applyMerge(syms: Array[String], l: String,
                                    r: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** The merge loop; returns (rank, left, right, pair_count) rows. */
  private[operators] def train(spark: SparkSession, dir: String,
                               numMerges: Int = NumMerges)
      : Seq[(Int, String, String, Long)] = {
    import spark.implicits._
    // per-round plan truncation (see scaladoc): localCheckpoint by
    // default, reliable checkpoint when a dir is configured — the
    // DupClusters roundCkpt switch
    def ckpt(ds: Dataset[WordSyms]): Dataset[WordSyms] =
      if (spark.sparkContext.getCheckpointDir.isDefined) ds.checkpoint()
      else ds.localCheckpoint()
    var cur = ckpt(initialSyms(spark, dir))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    try {
      var round = 0
      var stop = false
      while (round < numMerges && !stop) {
        // pair counts: flatMap + partial-agg groupBy on the vocab table;
        // the argmax total order (cnt DESC, l ASC, r ASC) makes the
        // learned table independent of partitioning and engine
        val best = cur.flatMap { ws =>
          (0 until ws.syms.length - 1).iterator
            .map(i => (ws.syms(i), ws.syms(i + 1), ws.cnt))
        }.toDF("l", "r", "c")
          .groupBy($"l", $"r").agg(sum($"c").as("cnt"))
          .orderBy($"cnt".desc, $"l", $"r")
          .limit(1).as[(String, String, Long)].collect().headOption
        best match {
          case Some((l, r, c)) if c >= MinPairCount =>
            merges += ((round + 1, l, r, c))
            val prev = cur
            // eager checkpoint materializes AND truncates the plan to
            // the new generation in one job
            cur = ckpt(prev.map(ws => WordSyms(applyMerge(ws.syms, l, r), ws.cnt)))
            prev.unpersist(blocking = false) // drop the superseded blocks
            round += 1
          case _ => stop = true
        }
      }
      merges.toSeq
    } finally cur.unpersist(blocking = false)
  }

  /** q61 entry: the learned merge table, rank-ordered. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    train(spark, dir).toDF("rank", "left", "right", "pair_count")
      .orderBy($"rank")
  }
}
