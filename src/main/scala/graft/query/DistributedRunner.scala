package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.analysis.Tokenizer

/** Distributed batch query service: the scale-out form of the
  * reference's serial batch runner (search_engine.py:84-98 loops
  * queries one at a time in one process; QueryRunner replays that
  * driver-side).
  *
  * Queries are embarrassingly parallel at serving scale, so the plan is
  * one narrow mapPartitions: the dictionary, term stats, corpus stats
  * and tie-break timestamps ride ONE broadcast inside an [[EngineCore]]
  * — the exact object the driver [[Engine]] runs, so every WAND /
  * spell / tiebreak semantic is pinned by the same suites — and each
  * executor task scores its query slice with block-max WAND, reading
  * posting blocks byte-addressed from the shared filesystem through a
  * per-thread segment reader. No shuffle anywhere: results stream
  * straight out of the map.
  *
  * Scale shape: the broadcast is vocab-bound (dict + stats) — doc-sized
  * state (postings) stays on disk and is block-pruned per query.
  * Recency tiebreaks on tie-aware indexes ride the same discipline: the
  * index's ts artifact (graft.index.TsStore) serializes as a directory
  * string and executors point-read it only on exact score ties, so
  * NOTHING doc-count-sized crosses the driver or the broadcast.
  * 10^6 queries against a 10^12-doc index fan out to however
  * many executors exist with zero coordination. */
object DistributedRunner {

  /** Score every (query_num, query) row; returns
    * (query_num, doc_id, rank, score) rows, ranked per query.
    *
    * Broadcast lifecycle: the returned DataFrame is LAZY, so the core
    * broadcast must outlive any action the caller runs on it — eager
    * unpersist here would break the plan. Once the result goes
    * unreferenced the ContextCleaner reclaims the broadcast; the
    * executor-side file handles (the leak that matters) are released
    * per task by the completion hook below. */
  def run(spark: SparkSession, indexDir: String, queries: DataFrame,
          k: Int = 250,
          tokCfg: Tokenizer.Config = Tokenizer.default,
          pruneSingletons: Boolean = true,
          spell: Boolean = true,
          mode: String = "or"): DataFrame = {
    import spark.implicits._
    val cs = graft.index.CorpusStats.read(spark, indexDir)
    val core = new EngineCore(cs.nDocs, cs.avgdl, cs.boundScale,
      cs.tieAware, Engine.tsSourceFor(indexDir, cs),
      Engine.loadResolver(spark, indexDir), s"$indexDir/segments",
      tokCfg, pruneSingletons, spell, spellDir = s"$indexDir/spell")
    val bc = spark.sparkContext.broadcast(core)
    val kc = math.min(k, 2000) // reference hard cap (ranker.py:48-49)
    queries.select($"query_num".cast("int"), $"query".cast("string"))
      .as[(Int, String)]
      .mapPartitions[(Int, Long, Int, Double)] { (it: Iterator[(Int, String)]) =>
        val eng = bc.value
        // release this task thread's segment-reader handles at task end:
        // repeated run() calls broadcast fresh cores, and without the
        // hook each core would pin one handle set per task thread for
        // the executor's lifetime (round-2 advice). Within the task the
        // handle cache still amortizes across the query slice.
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            eng.closeThreadReader(); eng.releaseTsHandles()
          })
        it.flatMap { case (qn, q) =>
          val hits =
            if (mode == "and") eng.searchConjunctive(q, kc)
            else eng.searchWand(q, kc)
          hits.iterator.zipWithIndex.map {
            case ((id, s), i) => (qn, id, i + 1, s)
          }
        }
      }
      .toDF("query_num", "doc_id", "rank", "score")
  }

  /** Phrase-mode batch serving: the same zero-shuffle broadcast-core
    * fan-out with a [[PhraseCore]] — the batch's positional dictionary
    * entries (vocab-bounded, computed by a distributed distinct over
    * the query tokens, never by collecting the raw queries) ride the
    * broadcast; each task leapfrogs its query slice against a
    * per-thread byte-addressed reader. `score` = occurrence count (a
    * phrase has no BM25 surface), ranked (n_matches DESC, doc_id ASC) —
    * integer-exact, so ranks are engine- and cluster-size-independent
    * by construction. */
  def runPhrase(spark: SparkSession, indexDir: String, queries: DataFrame,
                k: Int = 250,
                tokCfg: Tokenizer.Config = Tokenizer.default): DataFrame = {
    import spark.implicits._
    val core = PhraseCore.forBatch(spark, indexDir, queries, tokCfg)
    val bc = spark.sparkContext.broadcast(core)
    val kc = math.min(k, 2000)
    queries.select($"query_num".cast("int"), $"query".cast("string"))
      .as[(Int, String)]
      .mapPartitions[(Int, Long, Int, Double)] { (it: Iterator[(Int, String)]) =>
        val eng = bc.value
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => eng.closeThreadReader()))
        it.flatMap { case (qn, q) =>
          eng.search(q)
            .sortBy { case (id, n, _) => (-n, id) }.take(kc)
            .iterator.zipWithIndex.map {
              case ((id, n, _), i) => (qn, id, i + 1, n.toDouble)
            }
        }
      }
      .toDF("query_num", "doc_id", "rank", "score")
  }
}
