package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Physical-plan gates: the properties that make these operators hold up
  * at scale (pushdown, pruning, broadcast, partial aggregation) are
  * asserted, not assumed — a regression that silently de-optimizes a
  * plan fails CI, not the 100 TB run. */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q03: ONLY the customer dimension carries a broadcast hint; top-k stays heap-based") {
    val df = Relational.topRevenue(spark, dir)
    // exactly one explicit broadcast hint — on customer; orders is a
    // fact table and an explicit broadcast of it is a 100x-scale OOM
    val opt = df.queryExecution.optimizedPlan.toString
    val hints = "strategy=broadcast".r.findAllIn(opt).size
    assert(hints == 1, s"expected exactly 1 broadcast hint (customer), got $hints:\n${opt.take(1200)}")
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p.take(500))
    assert(p.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("q03: filters push into the parquet scans") {
    val p = plan(Relational.topRevenue(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"))
  }

  test("q05: scan prunes to (doc_id, text); aggregation is partial+final") {
    val p = plan(TextRelational.termTf(spark, dir))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "column pruning lost: scan reads more than doc_id+text")
    assert(p.contains("partial_count"), "map-side partial aggregation missing")
  }

  test("q01: pricing summary keeps whole-stage codegen and partial aggregation") {
    val df = Relational.pricingSummary(spark, dir)
    val p = plan(df)
    assert(p.contains("partial_sum"))
    // codegen spans only materialize in the AQE final plan — execute first
    df.collect()
    // codegen spans render as "*(n)" prefixes in the final plan string
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("*(") , "q01 dropped out of whole-stage codegen")
  }

  test("index build postings scan prunes to the tokenizer's columns") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text".as("content"))
    val ds = graft.index.Build.postingsOf(spark, docs.toDF(),
      graft.analysis.Tokenizer.plainCfg)
    val p = ds.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p.take(800))
  }

  test("engine dictionary lookup pushes the term predicate into parquet") {
    import spark.implicits._
    val docs = Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "content")
    val idx = tmpDir("graft-plan-idx")
    graft.index.Build.run(spark, docs, idx, graft.index.Build.Config(
      numPartitions = 2, verifySha = false,
      tokenizer = graft.analysis.Tokenizer.plainCfg))
    val lookup = spark.read.parquet(s"$idx/term_stats")
      .filter($"term".isin("alpha", "beta"))
    val p = lookup.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [In(term"), p.take(800))
  }

  test("q11 ngram dedup: hot-shingle cap is partial-agg + anti-join, not a row-sorting window") {
    // inspect the LAZY pair plan (identity pin): the served q11
    // materializes it through jaccardPairsAll, whose checkpoint hides
    // the kernel from the outer plan; the shuffle-record gate below
    // pins the materialized path's single-execution property
    val df = Dedup.jaccardPairsPlan(spark, dir)
    val p = plan(df)
    // a count window over sh would sort-shuffle every (doc_id, sh) row;
    // the cap must instead shuffle only partially-aggregated counts and
    // anti-join the (small) hot set back
    assert(!p.contains("Window"), "hot-shingle cap regressed to a window")
    assert(p.toLowerCase.contains("leftanti"), s"anti-join missing:\n${p.take(800)}")
    assert(p.contains("partial_count"), "hot-set aggregation is not map-side partial")
  }

  test("q11 pair kernel shuffles the shingle relation ONCE: total " +
    "shuffle records bounded by 2.5x the distinct shingle rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The ladder's round-5 finding: without the persist pin in
    // jaccardPairsAll, Catalyst re-executed the scan->explode->dedup
    // exchange up to 3x (PushDownLeftSemiAntiJoin rewrites the
    // anti-join's copy, so ReusedExchange can't collapse it) — a
    // phantom 12x shuffle-record read on the 4x corpus rung. This gate
    // pins the fix: one dedup exchange + the combined hot-set agg +
    // cap-bounded pair shuffles must stay under 2.5x the shingle rows
    // (the old recompute plan measured >= 3x + extras).
    val d = tmpDir("datascale-q11-gate")
    val docs = (0 until 300).map { i =>
      // 40 tokens per doc: unique spine + a shared boilerplate tail so
      // the hot-set path (df > 50) is exercised too
      val spine = (0 until 30).map(j => s"w${i}_$j").mkString(" ")
      val boiler = "the quick brown fox jumps over the lazy dog again"
      (i.toLong, s"$spine $boiler", "en", "web", 0L)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")

    val recs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        recs.addAndGet(
          sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val shingleRows = spark.read.parquet(s"$d/documents.parquet")
      .select($"doc_id", split(lower($"text"), "\\s+").as("toks"))
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(toks)-2), i -> concat(toks[i], ' ', toks[i+1]))"
      )).as("sh")).distinct().count()
    org.apache.spark.graftshim.CoreShim
      .waitListenerBusEmpty(spark.sparkContext, 30000)
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = graft.operators.Dedup.ngramJaccard(spark, d).count()
      assert(rows >= 0)
      org.apache.spark.graftshim.CoreShim
        .waitListenerBusEmpty(spark.sparkContext, 30000)
      assert(recs.get() <= (shingleRows * 2.5).toLong,
        s"q11 shuffled ${recs.get()} records for $shingleRows shingle rows " +
          "— the shingle relation is being recomputed/reshuffled")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("q14 embedding dedup is distributed: parquet-scan sourced, no driver-side vector table") {
    val df = Dedup.embeddingCosine(spark, dir)
    val p = plan(df)
    // the round-1 anti-pattern collected vectors to the driver and
    // re-parallelized spark.range over them — its plan had a Range
    // source and no scan of the embeddings table
    assert("Scan parquet".r.findAllIn(p).size >= 2,
      s"expected both join sides to scan embeddings.parquet:\n${p.take(800)}")
    assert(!p.contains("Range ("), "driver-side materialization crept back in")
    assert(df.count() > 0)
  }

  test("q15/q16/q24 score with the native codegen cosine, not interpreted HOFs") {
    val p = plan(Similarity.annBruteForce(spark, dir))
    assert(p.contains("graft_cosine"),
      "native CosineSimilarity expression missing from the ANN plan")
    assert(!p.contains("aggregate(zip_with"),
      "interpreted HOF cosine regressed into the hot path")
  }

  test("native cosine == HOF cosine bit-for-bit on the real embeddings table") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val hof = expr(
      """aggregate(zip_with(embedding, qe, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
        | / (sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))
        |  * sqrt(aggregate(transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))""".stripMargin)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qe"))
    val n = e.crossJoin(broadcast(q))
      .select(hof.as("a"),
        graft.functions.CosineSimilarity.cosine($"embedding", $"qe").as("b"))
      .filter($"a" =!= $"b").count()
    assert(n == 0, s"$n rows differ between native and HOF cosine")
  }

  test("native cosine: zero-norm vector yields NaN, not a mid-job ANSI failure") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (Array(0f, 0f, 0f), Array(1f, 2f, 3f)),
      (Array.empty[Float], Array(1f, 2f, 3f)),
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f))
    ).toDF("embedding", "qe")
    val got = df.select(
      graft.functions.CosineSimilarity.cosine($"embedding", $"qe")).collect()
      .map(_.getDouble(0))
    assert(got(0).isNaN && got(1).isNaN, "undefined similarity must be NaN")
    assert(got(2) == 1.0)
  }

  test("native cosine: NULL array element yields NULL (like the HOF), never a silent 0.0") {
    import org.apache.spark.sql.functions._
    // array() literals carry containsNull=true -> the checked loop path
    val df = spark.sql(
      """SELECT array(cast(1.0 as float), cast(null as float)) AS embedding,
        |       array(cast(1.0 as float), cast(2.0 as float)) AS qe
        |UNION ALL
        |SELECT array(cast(1.0 as float), cast(0.0 as float)),
        |       array(cast(1.0 as float), cast(null as float))
        |UNION ALL
        |SELECT array(cast(3.0 as float), cast(0.0 as float)),
        |       array(cast(2.0 as float), cast(0.0 as float))""".stripMargin)
    val got = df.select(
      graft.functions.CosineSimilarity.cosine(col("embedding"), col("qe")).as("c"))
      .collect()
    assert(got(0).isNullAt(0), "null element in left must yield NULL")
    assert(got(1).isNullAt(0), "null element in right must yield NULL")
    assert(got(2).getDouble(0) == 1.0)
  }

  test("q15 ANN: query side broadcasts; big side has no shuffle before top-k") {
    val p = plan(Similarity.annBruteForce(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q16/q24 query-vector fetch pushes the vec_id point predicate into parquet") {
    // the round-2 version filtered above a typed .map — no pushdown, so
    // fetching ONE row ran the signature kernel corpus-wide; the fetch
    // must stay a pushdown point read on the RAW table
    val p = plan(Similarity.queryFetch(spark, dir))
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,0)]"),
      s"query fetch lost parquet pushdown:\n${p.take(800)}")
  }

  test("q16 probe read is partition-pruned on bucket and free of query-time kernels") {
    val p = plan(Similarity.annLsh(spark, dir))
    // (i) candidates come from the materialized bucket-partitioned
    // layout with the multi-probe set as PartitionFilters — at 10^11
    // vectors this is the difference between probing ~14% of the index
    // and scanning all of it
    assert(p.contains("graft-lsh-layout"), s"not reading the layout:\n${p.take(800)}")
    assert(p.contains("PartitionFilters: [bucket#"),
      s"bucket probe is not partition-pruned:\n${p.take(800)}")
    // (ii) the query plan is scan->filter->cosine->top-k: no typed-map
    // signature kernel runs at query time (that's build-time work)
    assert(!p.contains("DeserializeToObject"),
      s"query-time kernel pass crept back into the ANN plan:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q24 probe read is partition-pruned on list and free of query-time kernels") {
    val p = plan(Similarity.annIvf(spark, dir))
    assert(p.contains("graft-ivf-layout"), s"not reading the layout:\n${p.take(800)}")
    assert(p.contains("PartitionFilters: [list#"),
      s"list probe is not partition-pruned:\n${p.take(800)}")
    assert(!p.contains("DeserializeToObject"),
      s"query-time kernel pass crept back into the ANN plan:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q34 serves from the compressed layout: pruned partitions, packed-code columns, zero kernels") {
    val p = plan(Similarity.annIvfPq(spark, dir))
    assert(p.contains("graft-ivfpq-layout"), s"not reading the PQ layout:\n${p.take(800)}")
    assert(p.contains("PartitionFilters: [list#"),
      s"probe is not partition-pruned:\n${p.take(800)}")
    // the serving scan must read ONLY (vec_id, code, norm) — reading an
    // embedding column would mean the 16x compression isn't real
    assert(p.contains("ReadSchema: struct<vec_id:bigint,code:bigint,norm:float>"),
      s"scan reads more than the compressed columns:\n${p.take(800)}")
    // ADC is a pure column expression: no object kernel, no HOF lambda
    assert(!p.contains("DeserializeToObject") && !p.contains("LambdaFunction"),
      s"non-columnar scoring crept into the ADC plan:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q30 stratified sample is map-only: the only exchange is the output sort") {
    val p = plan(Assembly.stratifiedSample(spark, dir))
    // the keep/drop decision is a pure hash of the row — no shuffle, no
    // RNG state, no aggregation may appear
    assert(!p.contains("Exchange hashpartitioning"), p.take(800))
    assert(!p.contains("Exchange SinglePartition"), p.take(800))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      "scan must prune to (doc_id, source)")
  }

  test("q39 temperature mix: threshold table broadcast, no sort-merge join, text never scanned") {
    val p = plan(Assembly.temperatureMix(spark, dir))
    // the per-source threshold table is source-count rows: it must ride
    // a broadcast, never a corpus-wide shuffle join
    assert(p.contains("BroadcastHashJoin"), s"threshold join not broadcast:\n${p.take(800)}")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a tiny dim:\n${p.take(800)}")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      "keep-scan must prune to (doc_id, source) — text may never scan")
  }

  test("q41 paragraph dedup: first-occurrence min is map-side partial, no window, pruned scan") {
    val p = plan(Dedup.paraDedup(spark, dir))
    // the argmin over a hot block must combine BEFORE the shuffle — a
    // banner repeated 10^9 times is one row per map task, not 10^9
    assert(p.contains("partial_min"), s"first-occurrence agg lost map-side combine:\n${p.take(800)}")
    // the oracle uses a window rank; the plan must NOT (a per-block
    // window funnels every copy of a hot block through one task)
    assert(!p.contains("Window"), "first-occurrence selection regressed to a window")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to (doc_id, text)")
  }

  test("q33 scoring: partial aggregation everywhere, no windows, pruned scan") {
    val p = plan(LmScore.trigramNovelty(spark, dir))
    // model counts and per-doc score aggs must both be map-side partial
    assert(p.contains("partial_count"), s"model/count agg lost map-side combine:\n${p.take(800)}")
    assert(!p.contains("Window"), "a window crept into the scoring plan")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to (doc_id, text)")
  }

  test("q35 span coverage: doc-partitioned windows only, partial-agg dup set, pruned scan") {
    val p = plan(Dedup.dupSpans(spark, dir))
    // the island merge must window BY DOC (bounded by one doc's token
    // count) — an unpartitioned window funnels the corpus into one task
    assert(p.contains("windowspecdefinition(doc_id#"),
      s"island window lost its doc_id partitioning:\n${p.take(1200)}")
    assert(!p.contains("Exchange SinglePartition"),
      s"q35 must have no single-partition exchange:\n${p.take(1200)}")
    // duplicated-gram membership partial-aggregates map-side (hot
    // boilerplate grams combine before the shuffle)
    assert(p.contains("partial_count"), "dup-gram count lost map-side combine")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan must prune to (doc_id, text)")
  }

  test("q31 packing: partitioned window over docs, single-partition only on the bucket ledger") {
    val df = Assembly.packSequences(spark, dir)
    val p = plan(df)
    // the per-doc running sum must be windowed BY BUCKET (bounded
    // partitions) — a global window over the corpus is the q14-class
    // single-task funnel this operator exists to avoid
    assert(p.contains("windowspecdefinition(bucket#"),
      s"docs-side window lost its bucket partitioning:\n${p.take(1200)}")
    // exactly one single-partition exchange: the metadata-sized ledger
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"unexpected single-partition exchanges:\n${p.take(1200)}")
    // ledger offsets join back via broadcast; text never enters the scan
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      "scan must prune to (doc_id, n_chars) — text must not be read")
  }

  test("q44 bloom dedup: scans prune to (doc_id, text); confirm + tag joins both broadcast; no sort-merge join") {
    val df = Dedup.bloomDedup(spark, dir)
    df.collect() // AQE finalizes the join strategies
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan reads more than doc_id+text")
    // the exact-confirm semi join streams the corpus against the
    // broadcast candidate digests; the seen-tag join broadcasts the
    // matched digests against the feed — neither shuffles a big side
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"expected 2 broadcast joins (confirm semi + seen tag):\n${p.take(1500)}")
    assert(!p.contains("SortMergeJoin"),
      "a sort-merge join appeared: a big side is being shuffled")
    // the bloom membership prefilter survives into the physical plan
    assert(p.contains("might_contain"), "bloom prefilter missing from plan")
  }

  test("q38 budget cut: hash-prefix-partitioned window, single-partition only on the ledger, pruned scan") {
    val df = Assembly.tokenBudget(spark, dir)
    val p = plan(df)
    assert(p.contains("windowspecdefinition(bucket#"),
      s"docs-side window lost its bucket partitioning:\n${p.take(1200)}")
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"unexpected single-partition exchanges:\n${p.take(1200)}")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      "scan must prune to (doc_id, n_chars) — text must not be read")
  }

  test("q45 source filter: partial-agg ledger, ledger-only single partition, broadcast verdict join, pruned scans") {
    val df = Assembly.sourceQualityFilter(spark, dir)
    val p = plan(df)
    // the per-source aggregate must partial-aggregate map-side so the
    // shuffle carries source-count rows per task, not doc-count rows
    assert(p.contains("partial_sum") || p.contains("partial sum"),
      s"ledger aggregate lost its map-side partial:\n${p.take(1200)}")
    // ranking runs on the sources-sized ledger only: exactly one
    // single-partition exchange in the whole plan
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"single-partition work beyond the ledger:\n${p.take(1200)}")
    // the verdict joins back as a broadcast; a sort-merge join here
    // would shuffle every document row
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"),
      s"documents must not shuffle for the verdict join:\n${p.take(1200)}")
    // two column-pruned scans: quality pass (source, text), join pass
    // (doc_id, source) — neither reads the other's columns
    assert(p.contains("ReadSchema: struct<source:string,text:string>") ||
           p.contains("ReadSchema: struct<text:string,source:string>"),
      "quality scan must prune to (source, text)")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      "join scan must prune to (doc_id, source) — text read twice")
  }
}
