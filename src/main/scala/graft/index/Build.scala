package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.analysis.Tokenizer
import graft.query.BM25

/** The index build: the Spark-native replacement of the reference's whole
  * `run_engine` pipeline (reference search_engine.py:18-59 →
  * indexer.py:59-224). SURVEY.md §3.1 maps the stages:
  *
  *   scan (columnar, pruned to doc_id+content)
  *   → tokenizer flatMap (narrow; the one generator) emitting posting
  *     rows PLUS one null-term sentinel row per doc carrying the doc's
  *     stats (dl, maxTf, uniq, ts) — all known inside the tokenize call
  *   → staging postings parquet (ONE tokenize pass feeds all consumers;
  *     deleted once the build commits)
  *   → doc_stats = narrow filter over the sentinel rows (NO shuffle —
  *     the groupBy(docId) re-shuffle of the full posting set is gone)
  *   → heavy-term detection over a seeded sample     [tiny shuffle]
  *   → salted repartition by (term, salt) + sortWithinPartitions,
  *     all-Tungsten (the salt is a Catalyst expression, no object
  *     deser/reser on the map side; replaces the manual spill +
  *     external k-way merge, indexer.py:154-168, 376-554 — Spark's
  *     sort-merge shuffle IS the k-way merge)   [the ONE big shuffle]
  *   → mapPartitions segment writer (narrow, per-partition checkpoint)
  *   → term_stats = vocab-sized agg over the writer's dict entries
  *     (df/cf fall out of the (term,salt) runs — the groupBy(term)
  *     full-posting shuffle is gone too)
  *
  * Net: the posting set crosses the network ONCE. At 10^12-file scale
  * the two eliminated shuffles are each as large as the index itself.
  *
  * Skew (north rule): terms with df ≥ saltDfThreshold (code stopwords,
  * license boilerplate) are salted by docId RANGE, so per-salt block runs
  * are docId-disjoint and concatenate without re-encoding (SURVEY.md M3;
  * hard-part 4). The heavy-term set is tiny by construction (head of the
  * Zipf curve), so it rides the task closure at any corpus scale.
  */
object Build {

  /** `heavySampleFraction`: heavy-term detection reads this fraction of
    * the postings (seeded, deterministic given the staged layout) and
    * scales the df threshold down with a 2x safety margin — salting is a
    * performance heuristic, so over-selecting near the boundary is
    * harmless (salted≡unsalted is proven in IndexSpec) while exact df
    * would cost a full aggregation pass. 1.0 = exact (the default;
    * small-corpus tests pin specific salting outcomes).
    *
    * Staging is not configurable: the tokenize pass is materialized once
    * as an uncompressed parquet dir (snappy's JNI critical sections
    * stalled allocation-heavy tokenizer threads; staging is transient),
    * the sha gate runs as soon as it lands, and the dir is deleted once
    * the build commits (no reader of a built index needs it). */
  final case class Config(
      numPartitions: Int = 32,
      nSalts: Int = 8,
      saltDfThreshold: Long = 100000,
      verifySha: Boolean = true,
      heavySampleFraction: Double = 1.0,
      tokenizer: Tokenizer.Config = Tokenizer.default,
      spellIndex: Boolean = true,
      shuffleMode: String = "rows") {
    require(Set("rows", "runs")(shuffleMode),
      s"unknown shuffleMode $shuffleMode")
  }

  final case class Result(indexDir: String, nDocs: Long, avgdl: Double,
                          totalPostings: Long, shaViolations: Long,
                          lineage: String)

  /** One staged row. Regular postings have `uniq = 0`. Each doc with at
    * least one posting ALSO emits one null-term sentinel row carrying
    * the doc-level stats — (tf = maxTf, dl, ts, uniq = distinct terms)
    * — so doc_stats is a narrow filter instead of a full-posting
    * shuffle. `ts` is the doc's deterministic ingest timestamp (0 when
    * the corpus has no `ingest_ts` column); per-doc-constant columns
    * are nearly free in staging under parquet RLE. */
  final case class PostingRow(term: String, docId: Long, tf: Int, dl: Int,
                              ts: Long, uniq: Int)

  def postingsOf(spark: SparkSession, docs: DataFrame,
                 cfg: Tokenizer.Config): Dataset[PostingRow] =
    postingsVerified(spark, docs, cfg, None)

  /** Tokenize; when `shaViolations` is given, verify the per-row sha256
    * ingest invariant IN the same pass (north rule) — the corpus is
    * scanned once, not once per concern. */
  def postingsVerified(spark: SparkSession, docs: DataFrame,
                       cfg: Tokenizer.Config,
                       shaViolations: Option[org.apache.spark.util.LongAccumulator])
      : Dataset[PostingRow] = {
    import spark.implicits._
    val withSha = shaViolations.isDefined && docs.columns.contains("content_sha256")
    val tsCol =
      if (docs.columns.contains("ingest_ts")) $"ingest_ts".cast("long")
      else lit(0L).as("ingest_ts")
    // column pruning: only the needed columns reach the scan
    val src =
      if (withSha) docs.select($"doc_id".cast("long"), $"content",
        $"content_sha256", tsCol)
      else docs.select($"doc_id".cast("long"), $"content",
        lit(null).cast("string").as("content_sha256"), tsCol)
    src.as[(Long, String, String, Long)].flatMap { case (id, text, sha, ts) =>
      if (withSha && sha != null) {
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if (!shaHexEquals(digest, sha)) shaViolations.get.add(1)
      }
      // raw counter path: no per-doc Map / boxed-entry allocation —
      // tokenize dominates build CPU and memory bandwidth (BASELINE.md)
      val (counter, docLen) = Tokenizer.tokenizeRaw(text, cfg)
      val rows = new scala.collection.mutable.ArrayBuffer[PostingRow](counter.size + 1)
      counter.foreachEntry((t, tf) => rows += PostingRow(t, id, tf, docLen, ts, 0))
      // doc-stats sentinel: only docs that emit postings appear in
      // doc_stats (a doc whose tokens all stopword away is absent —
      // identical to the former groupBy(docId) semantics)
      if (counter.size > 0)
        rows += PostingRow(null, id, counter.maxTf, docLen, ts, counter.size)
      rows
    }
  }

  /** digest == hex string, allocation-free (String.format per byte was
    * ~2s of driver-invisible executor CPU per 60k docs). */
  private def shaHexEquals(digest: Array[Byte], hex: String): Boolean = {
    if (hex.length != digest.length * 2) return false
    var i = 0
    while (i < digest.length) {
      val b = digest(i) & 0xff
      def nib(c: Char): Int =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else -1
      if ((nib(hex.charAt(2 * i)) << 4 | nib(hex.charAt(2 * i + 1))) != b)
        return false
      i += 1
    }
    true
  }

  private val verbose = sys.env.contains("GRAFT_BUILD_VERBOSE")
  private def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    if (verbose) System.err.println(
      f"[build] $name: ${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  /** Best-effort spell-artifact build from an index's term_stats: the
    * same guards as the engine's lazy path (vocab row cap, then the
    * exact delete-variant entry estimate), persisted via SpellStore.
    * NEVER throws — the artifact is an optional optimization with a
    * graceful SpellStore.load→None fallback at query time, so a
    * transient FS failure here must not fail an otherwise-complete
    * index build (or merge). Shared by the build's overlapped future
    * and by [[Merge.disjoint]], so merged/streamed indexes carry the
    * artifact too instead of each serving JVM re-deriving it. */
  def trySpellArtifact(spark: SparkSession, indexDir: String): Unit =
    try {
      import spark.implicits._
      // one scan: the limit over-fetches by one row, so an oversized vocab
      // is detected by the same read that collects it (Engine.allStats)
      val vocab = spark.read.parquet(s"$indexDir/term_stats")
        .select($"term", $"df").limit(graft.query.Engine.MaxSpellVocab + 1)
        .as[(String, Long)].collect()
      if (vocab.length <= graft.query.Engine.MaxSpellVocab) {
        val budget = graft.query.EngineCore.MaxSpellIndexEntries
        val est = graft.query.Spell.DeleteIndex.entryEstimate(
          vocab.iterator.map(_._1), budget)
        if (est <= budget)
          graft.query.SpellStore.write(s"$indexDir/spell",
            graft.query.Spell.DeleteIndex.build(vocab))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[build] spell-artifact skipped (${e.getClass.getSimpleName}: " +
            s"${e.getMessage}); engines fall back to lazy/bounded paths")
    }

  def run(spark: SparkSession, docs: DataFrame, indexDir: String,
          cfg: Config = Config()): Result = {
    import spark.implicits._

    val hadDocId = docs.columns.contains("doc_id")
    val docsWithId = graft.corpus.Ingest.withDocId(docs)
    if (!hadDocId) phase("docid-collision-check") {
      // doc_id was derived via xxhash64(repo,path,commit) — a collision
      // would silently merge two documents' postings (Ingest scaladoc)
      val r = docsWithId.agg(countDistinct($"doc_id"), count(lit(1))).head()
      require(r.getLong(0) == r.getLong(1),
        s"doc_id hash collision: ${r.getLong(1) - r.getLong(0)} duplicates")
    }

    // ---- one tokenize pass: sha verify + staging postings ------------
    val shaAcc =
      if (cfg.verifySha) Some(spark.sparkContext.longAccumulator("shaViolations"))
      else None
    val stagingDir = s"$indexDir/staging_postings"
    phase("tokenize+verify+stage") {
      postingsVerified(spark, docsWithId, cfg.tokenizer, shaAcc)
        .write.mode(SaveMode.Overwrite)
        .option("compression", "uncompressed")
        .parquet(stagingDir)
    }
    // sha gate: the accumulator is final the moment the staging write
    // lands, so a violating corpus aborts HERE — before any stats/dict/
    // segment file exists in indexDir — rather than leaving a
    // complete-looking index behind and then throwing
    val shaViol = shaAcc.map(_.value.toLong).getOrElse(0L)
    require(shaViol == 0, s"$shaViol rows fail the sha256 ingest invariant")
    val res = runFromPostings(spark, spark.read.parquet(stagingDir),
      indexDir, cfg, shaViol)
    SegmentStore.fs(stagingDir)
      .delete(new org.apache.hadoop.fs.Path(stagingDir), true)
    res
  }

  /** The post-tokenize build stages over an existing postings frame —
    * (term, docId, tf, dl, ts) plus optionally the sentinel `uniq`
    * column — so alternative tokenize profiles (e.g. the tweet
    * capital/entity fold, analysis/TweetIndex) reuse the stats + salted
    * shuffle + segment machinery unchanged. Frames WITHOUT sentinel
    * rows fall back to the groupBy(docId) doc-stats aggregation. */
  def runFromPostings(spark: SparkSession, postingsAll: DataFrame,
                      indexDir: String, cfg: Config = Config(),
                      shaViol: Long = 0L): Result = {
    import spark.implicits._

    val hasSentinels = postingsAll.columns.contains("uniq")
    val postings =
      if (hasSentinels) postingsAll.filter($"term".isNotNull)
      else postingsAll

    // ---- doc stats + heavy-term detection: two small independent jobs
    // over the staged postings, run concurrently (both are dwarfed by
    // the tokenize and segment stages; neither shuffles the posting set).
    // Corpus-level stats ride the doc-stats write via observe() — no
    // extra job. ---------------------------------------------------------
    val obs = new org.apache.spark.sql.Observation("corpus_stats")
    val docStatsF = scala.concurrent.Future {
      phase("doc-stats") {
        val docStats =
          if (hasSentinels)
            postingsAll.filter($"term".isNull) // narrow: NO shuffle
              .select($"docId".as("doc_id"), $"dl", $"tf".as("max_tf"),
                $"uniq".as("uniq_terms"), $"ts".as("ingest_ts"))
          else
            postingsAll.groupBy($"docId".as("doc_id"))
              .agg(first($"dl").as("dl"), max($"tf").as("max_tf"),
                count(lit(1)).as("uniq_terms"), first($"ts").as("ingest_ts"))
        docStats
          .observe(obs, count(lit(1)).as("n"), avg($"dl").as("avgdl"),
            max($"doc_id").as("maxId"), min($"doc_id").as("minId"),
            min($"ingest_ts").as("tsMin"), max($"ingest_ts").as("tsMax"))
          .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/doc_stats")
      }
    }(scala.concurrent.ExecutionContext.global)

    val heavy: Set[String] = phase("heavy-terms") {
      if (cfg.saltDfThreshold == Long.MaxValue) Set.empty
      else {
        val frac = cfg.heavySampleFraction
        val (src, cut) =
          if (frac >= 1.0) (postings, cfg.saltDfThreshold)
          else (postings.sample(withReplacement = false, frac, seed = 42L),
            math.max(1L, (cfg.saltDfThreshold * frac * 0.5).toLong))
        src.groupBy($"term").agg(count(lit(1)).as("df"))
          .filter($"df" >= cut)
          .select($"term").as[String].collect().toSet
      }
    }

    scala.concurrent.Await.result(docStatsF,
      scala.concurrent.duration.Duration.Inf)
    val obsRow = obs.get
    val n = obsRow("n").asInstanceOf[Long]
    val av = obsRow("avgdl").asInstanceOf[Double]
    val maxId = obsRow("maxId").asInstanceOf[Long]
    val tsMin = obsRow("tsMin").asInstanceOf[Long]
    val tsMax = obsRow("tsMax").asInstanceOf[Long]
    require(obsRow("minId").asInstanceOf[Long] >= 0,
      "doc_id must be non-negative (varbyte codec encodes absolute first ids)")

    val nSalts = cfg.nSalts
    val lineage = s"docs=$n|avgdl=$av|salts=$nSalts|P=${cfg.numPartitions}|" +
      s"stem=${cfg.tokenizer.stem}|v3" +
      (if (cfg.shuffleMode == "runs") "|runs" else "")

    // ---- the ONE full-posting shuffle: salted term repartition →
    // sorted runs → segment writer. The salt is a Catalyst expression
    // (heavy set is a tiny InSet literal), so rows stay in Tungsten
    // format from the staging scan through the shuffle write and sort —
    // no per-posting object churn on the map side. -----------------------
    val segDir = s"$indexDir/segments"
    SegmentStore.fs(segDir).mkdirs(new org.apache.hadoop.fs.Path(s"$segDir/_markers"))
    // docId/(maxId+1) in double space: ids may span the full 63-bit
    // hashed range, where integer `maxId + 1` arithmetic overflowed
    val saltExpr =
      if (heavy.isEmpty) lit(0)
      else when($"term".isInCollection(heavy),
        least(lit(nSalts - 1), greatest(lit(0),
          (($"docId".cast("double") / lit(maxId.toDouble + 1.0)) * nSalts)
            .cast("int"))))
        .otherwise(lit(0))
    val salted = postings.select($"term".as("_1"), saltExpr.as("_2"),
      $"docId".as("_3"), $"tf".as("_4"), $"dl".as("_5"))

    if (cfg.shuffleMode == "runs") {
      // ---- runs mode (SURVEY §4 item 4 experiment): the shuffle ships
      // per-(term,salt) delta-gap varbyte-packed runs built by map-side
      // partial aggregation (PostingRunAgg) instead of raw posting rows
      // — the term string crosses the network once per map partition,
      // postings at ~3-6 B each. The aggregation exchange is pinned to
      // numPartitions with AQE coalescing off so marker pids stay
      // stable for resume; both modes then run the SAME segment-writer
      // core, emitting byte-identical files (IndexSpec gate).
      import org.apache.spark.sql.graftshim.SqlShim
      val conf = spark.conf
      val oldP = conf.get("spark.sql.shuffle.partitions")
      val oldC = conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
      conf.set("spark.sql.shuffle.partitions", cfg.numPartitions.toString)
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      try {
        val runCol = SqlShim.column(PostingRunAgg(
          SqlShim.expression($"_3"), SqlShim.expression($"_4"),
          SqlShim.expression($"_5")).toAggregateExpression())
        val runs = salted.groupBy($"_1", $"_2").agg(runCol.as("run"))
          .sortWithinPartitions($"_1", $"_2")
        val entriesRdd = runs.queryExecution.toRdd.mapPartitions { rows =>
          val pid = TaskContext.getPartitionId()
          val grouped = rows.map { r =>
            (r.getUTF8String(0).toString, r.getInt(1),
              RunBuf.postings(r.getBinary(2)))
          }
          SegmentStore.writePartitionRuns(segDir, pid, lineage, grouped,
            (tf, dl) => BM25.normPart(tf, dl, av)).entries.iterator
        }
        phase("segments+dict") {
          spark.createDataset(entriesRdd).toDF()
            .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/dict")
        }
      } finally {
        conf.set("spark.sql.shuffle.partitions", oldP)
        conf.set("spark.sql.adaptive.coalescePartitions.enabled", oldC)
      }
    } else {
      val sorted = salted
        .repartition(cfg.numPartitions, $"_1", $"_2")
        .sortWithinPartitions($"_1", $"_2", $"_3")
      // consume the sorted shuffle output as InternalRows: the term string
      // is decoded ONCE per (term, salt) run, not once per posting — the
      // typed-encoder path allocated a String + tuple per row, and at
      // millions of postings per partition that deserialization was a
      // measurable slice of the reduce stage (memory bandwidth is the
      // single-box scaling ceiling, BASELINE.md)
      val entriesRdd = sorted.queryExecution.toRdd.mapPartitions { rows =>
        val pid = TaskContext.getPartitionId()
        var curU: org.apache.spark.unsafe.types.UTF8String = null
        var curS: String = null
        val mapped = rows.map { r =>
          val t = r.getUTF8String(0)
          if (curU == null || !curU.equals(t)) { curU = t.copy(); curS = curU.toString }
          (curS, r.getInt(1), Codec.Posting(r.getLong(2), r.getInt(3), r.getInt(4)))
        }
        val marker = SegmentStore.writePartition(segDir, pid, lineage,
          mapped, (tf, dl) => BM25.normPart(tf, dl, av)) // maxU: idf-independent
        marker.entries.iterator
      }
      phase("segments+dict") {
        spark.createDataset(entriesRdd).toDF()
          .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/dict")
      }
    }

    // ---- term stats from the writer's dict entries: df/cf summed over
    // each term's (salt, partition) runs — a vocab-sized aggregation;
    // the posting set is NOT re-shuffled (reference indexer.py:572
    // semantics: df == posting-list length). -----------------------------
    phase("term-stats") {
      spark.read.parquet(s"$indexDir/dict")
        .groupBy($"term")
        .agg(sum($"df").cast("long").as("df"), sum($"cf").cast("long").as("cf"))
        .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/term_stats")
    }

    // ---- spell artifact: the SymSpell delete-variant index, built ONCE
    // here (the vocab is already in hand as term_stats) and persisted
    // beside it — engines load it with one sequential read instead of
    // each driver/executor JVM re-deriving it on its first unknown-term
    // miss (and scan-mode engines paying a vocab collect). Guards:
    // vocab ROW count from parquet metadata caps the driver collect
    // (same 2M budget as the scan resolver), then the exact entry
    // estimate runs in memory on the collected rows — the same check
    // the engine's lazy path applies, moved to build time; an extreme
    // vocabulary skips the artifact and engines keep their bounded
    // fallback. Runs as a FUTURE overlapped with the remaining small
    // phases (A9 counter, corpus_stats, marker reads) — the artifact
    // build is driver-side CPU while those are Spark jobs.
    val spellF = scala.concurrent.Future {
      if (cfg.spellIndex) phase("spell-index") {
        trySpellArtifact(spark, indexDir)
      }
    }(scala.concurrent.ExecutionContext.global)

    // ts artifact: the keyed point-read store behind recency tiebreaks
    // (TsStore scaladoc) — written whenever the corpus carries ANY
    // nonzero ingest_ts (a constant-ts part still needs it so a later
    // disjoint merge with newer parts can tiebreak across parts without
    // regenerating); an all-zero corpus pays nothing. Tiny next to the
    // posting shuffle: a range repartition of 16 B rows.
    if (tsMin != 0L || tsMax != 0L) phase("ts-artifact") {
      TsStore.write(spark, spark.read.parquet(s"$indexDir/doc_stats"),
        s"$indexDir/ts", cfg.numPartitions)
    }

    // A9: numbers-in-corpus counter (reference persists
    // AMOUNT_OF_NUMBERS_IN_CORPUS, parser_module.py:18 + 519-521,
    // search_engine.py:57) — total emitted number-term occurrences,
    // materialized from the vocab-sized term_stats, not a corpus rescan
    val nNumbers = spark.read.parquet(s"$indexDir/term_stats")
      .filter($"term".rlike(
        "^\\d+(\\.\\d+)?[KMB%$]?$|^\\d+/\\d+$|^\\d+ \\d+/\\d+$"))
      .agg(coalesce(sum($"cf"), lit(0L))).head().getLong(0)

    // ts_min/ts_max let the engine skip loading the per-doc timestamp
    // map entirely when the corpus has no recency signal (all equal).
    // tok_cfg is the analysis-chain fingerprint Merge.disjoint compares
    // across parts — merging a stemmed index into an unstemmed one
    // unions incompatible term spaces and must fail loudly, not serve
    // silently-wrong df/idf. The stopword set enters via an MD5 of the
    // SORTED word list: collection hashCode (MurmurHash3) is only stable
    // within one Scala release, so identical stopword sets built before
    // and after a toolchain upgrade would refuse to merge — and a hash
    // collision could let genuinely different sets merge (round-4
    // advice); a content digest has neither failure mode.
    val swDigest = java.security.MessageDigest.getInstance("MD5")
      .digest(cfg.tokenizer.stopwords.toSeq.sorted
        .mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val tokCfg = s"stem=${cfg.tokenizer.stem}|plain=${cfg.tokenizer.plain}" +
      s"|sw=$swDigest"
    Seq((n, av, tsMin, tsMax, nNumbers, tokCfg))
      .toDF("n_docs", "avgdl", "ts_min", "ts_max", "n_number_tokens",
        "tok_cfg")
      .write.mode(SaveMode.Overwrite).parquet(s"$indexDir/corpus_stats")

    // manifest markers already carry per-partition rows — no extra job
    val totalPostings = (0 until cfg.numPartitions)
      .flatMap(p => SegmentStore.readMarker(segDir, p)).map(_.rows).sum

    // the overlapped spell-artifact future must land before the build
    // reports complete (a reader may open the index the moment run()
    // returns)
    scala.concurrent.Await.result(spellF,
      scala.concurrent.duration.Duration.Inf)

    Result(indexDir, n, av, totalPostings, shaViol, lineage)
  }

  /** OPT-IN positional sidecar build ([[PosStore]] scaladoc): a second
    * tokenize pass with position tracking feeding a second salted
    * (term, salt) shuffle whose payload is each doc's varbyte-packed
    * position list — positions roughly double an index's size, which is
    * why every production engine makes them a schema-level choice; here
    * they are a sidecar artifact so existing indexes/queries are
    * untouched and `buildPosStore` can be run AFTER the fact on a
    * corpus whose main index already serves.
    *
    * Scale shape is the main build's (its whole point): the position
    * set crosses the network exactly once, heavy terms are salted by
    * docId range with the same formula (salt runs stay docId-disjoint,
    * so a term's blocks concatenate across salts without re-encoding),
    * and the writer streams one (term, salt) run at a time with the
    * same per-partition checkpoint/resume markers. Returns total
    * positional postings written. */
  def buildPosStore(spark: SparkSession, docs: DataFrame, indexDir: String,
                    cfg: Config = Config()): Long = {
    import spark.implicits._
    val tokCfg = cfg.tokenizer.copy(positions = true)
    val docsWithId = graft.corpus.Ingest.withDocId(docs)
    val rows = docsWithId.select($"doc_id".cast("long"), $"content")
      .as[(Long, String)].flatMap { case (id, text) =>
        Tokenizer.tokenize(text, tokCfg).positions.iterator.map {
          case (t, ps) => (t, id, PosStore.packPositions(ps.toArray))
        }
      }.toDF("term", "docId", "posBytes")

    // same staging discipline as the main build's cache mode: the frame
    // feeds three jobs (heavy detection, maxId, the shuffle)
    rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      val heavy: Set[String] =
        if (cfg.saltDfThreshold == Long.MaxValue) Set.empty
        else rows.groupBy($"term").agg(count(lit(1)).as("df"))
          .filter($"df" >= cfg.saltDfThreshold)
          .select($"term").as[String].collect().toSet
      val agg = rows.agg(max($"docId"), count(lit(1))).head()
      val maxId = if (agg.isNullAt(0)) 0L else agg.getLong(0)
      val total = agg.getLong(1)
      val nSalts = cfg.nSalts
      // the analysis fragment (stem|plain|sw) doubles as the sidecar's
      // merge-compatibility fingerprint (Merge reads it back from any
      // marker): stopwords shift POSITIONS on the rule pipeline (dropped
      // tokens don't emit), so two sidecars differing in any of the
      // three cannot union into one phrase space — same failure mode the
      // main index's corpus_stats.tok_cfg guards
      val swDigest = java.security.MessageDigest.getInstance("MD5")
        .digest(tokCfg.stopwords.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val lineage = s"pos|rows=$total|salts=$nSalts|P=${cfg.numPartitions}|" +
        s"stem=${tokCfg.stem}|plain=${tokCfg.plain}|sw=$swDigest|v2"

      val posDir = PosStore.posDir(indexDir)
      SegmentStore.fs(posDir).mkdirs(
        new org.apache.hadoop.fs.Path(s"$posDir/_markers"))
      val saltExpr =
        if (heavy.isEmpty) lit(0)
        else when($"term".isInCollection(heavy),
          least(lit(nSalts - 1), greatest(lit(0),
            (($"docId".cast("double") / lit(maxId.toDouble + 1.0)) * nSalts)
              .cast("int"))))
          .otherwise(lit(0))
      val sorted = rows.select($"term".as("_1"), saltExpr.as("_2"),
          $"docId".as("_3"), $"posBytes".as("_4"))
        .repartition(cfg.numPartitions, $"_1", $"_2")
        .sortWithinPartitions($"_1", $"_2", $"_3")
      val entriesRdd = sorted.queryExecution.toRdd.mapPartitions { rs =>
        val pid = TaskContext.getPartitionId()
        var curU: org.apache.spark.unsafe.types.UTF8String = null
        var curS: String = null
        val mapped = rs.map { r =>
          val t = r.getUTF8String(0)
          if (curU == null || !curU.equals(t)) { curU = t.copy(); curS = curU.toString }
          (curS, r.getInt(1),
            PosStore.PosPosting(r.getLong(2),
              PosStore.unpackPositions(r.getBinary(3))))
        }
        PosStore.writePartition(posDir, pid, lineage, mapped).entries.iterator
      }
      phase("pos-segments+dict") {
        spark.createDataset(entriesRdd).toDF()
          .write.mode(SaveMode.Overwrite).parquet(PosStore.dictDir(indexDir))
      }
      total
    } finally rows.unpersist(blocking = false)
  }
}
