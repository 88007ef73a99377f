package graft.index

import graft.SparkSpec
import graft.corpus.Synth
import graft.query.{BM25, Engine}
import graft.analysis.Tokenizer
import org.apache.hadoop.fs.Path
import scala.util.Random

/** End-to-end index build + query tests (SURVEY.md §5 items 2, 3, 6, 7).
  * One shared 400-doc synthetic corpus; salting forced low so the salted
  * path is exercised everywhere. */
class IndexSpec extends SparkSpec {

  private lazy val corpusDir = {
    val d = tmpDir("graft-corpus")
    Synth.write(spark, 400, d)
    s"$d/snapshot-0"
  }

  private lazy val built: (String, Build.Result) = {
    val idx = tmpDir("graft-index")
    val res = Build.run(spark, spark.read.parquet(corpusDir), idx,
      Build.Config(numPartitions = 8, nSalts = 4, saltDfThreshold = 50))
    (idx, res)
  }

  test("sha256 ingest invariant holds on the synthetic corpus (north rule)") {
    val viol = graft.corpus.Ingest
      .shaViolations(spark.read.parquet(corpusDir)).count()
    assert(viol == 0)
  }

  test("build produces consistent corpus stats") {
    val (_, res) = built
    assert(res.nDocs == 400)
    assert(res.avgdl > 0)
    assert(res.totalPostings > 0)
    import org.apache.spark.sql.functions._
    // totalPostings == number of distinct (term, doc) pairs; the
    // tokenize pass additionally emits one null-term doc-stats sentinel
    // row per doc. The build deletes its staged copy of those rows when
    // it commits, so they are re-derived here from the same corpus.
    assert(!new java.io.File(s"${res.indexDir}/staging_postings").exists(),
      "staging postings are deleted once the build commits")
    val stagedAll = Build.postingsOf(spark,
      graft.corpus.Ingest.withDocId(spark.read.parquet(corpusDir)),
      Tokenizer.default).toDF()
    val staged = stagedAll.filter(col("term").isNotNull)
    assert(res.totalPostings == staged.count())
    assert(stagedAll.filter(col("term").isNull).count() == res.nDocs,
      "one doc-stats sentinel row per doc")
    // A9: the numbers-in-corpus counter is materialized and equals the
    // number-term occurrence total recomputed from the staged postings
    val fromStats = spark.read.parquet(s"${res.indexDir}/corpus_stats")
      .select(col("n_number_tokens")).head().getLong(0)
    val pat = "^\\d+(\\.\\d+)?[KMB%$]?$|^\\d+/\\d+$|^\\d+ \\d+/\\d+$"
    val recomputed = staged.filter(col("term").rlike(pat))
      .agg(coalesce(sum(col("tf")), lit(0L))).head().getLong(0)
    assert(fromStats == recomputed)
    assert(fromStats > 0, "synth corpus emits number terms (F7)")
  }

  test("df in term_stats equals posting-list length (reference indexer.py:572 semantics)") {
    val (idx, _) = built
    import org.apache.spark.sql.functions._
    val ts = spark.read.parquet(s"$idx/term_stats")
    val fromDict = spark.read.parquet(s"$idx/dict")
      .groupBy("term").agg(sum("df").as("df2"))
    val joined = ts.join(fromDict, "term")
      .filter(col("df") =!= col("df2"))
    assert(joined.count() == 0)
  }

  test("salted build decodes to exactly the unsalted posting lists (hard-part 4)") {
    val (idx, res) = built
    val idx2 = tmpDir("graft-index-unsalted")
    Build.run(spark, spark.read.parquet(corpusDir), idx2,
      Build.Config(numPartitions = 8, nSalts = 1, saltDfThreshold = Long.MaxValue))
    import spark.implicits._
    val dict1 = spark.read.parquet(s"$idx/dict").as[SegmentStore.DictEntry].collect()
    val dict2 = spark.read.parquet(s"$idx2/dict").as[SegmentStore.DictEntry].collect()
    val salted = dict1.groupBy(_.term).filter(_._2.length > 1)
    assert(salted.nonEmpty, "expected at least one salted heavy term")
    val r1 = new SegmentReader(s"$idx/segments")
    val r2 = new SegmentReader(s"$idx2/segments")
    try {
      salted.keys.take(10).foreach { t =>
        val b1 = dict1.filter(_.term == t).flatMap(e => r1.record(e)._2)
        val b2 = dict2.filter(_.term == t).flatMap(e => r2.record(e)._2)
        assert(Codec.decode(b1.toSeq).toSeq == Codec.decode(b2.toSeq).toSeq,
          s"posting mismatch for salted term $t")
      }
    } finally { r1.close(); r2.close() }
  }

  test("runs shuffle mode is byte-identical to rows mode: segments, dict, rankings (SURVEY §4 item 4)") {
    val (idx, _) = built
    val idxR = tmpDir("graft-index-runs")
    Build.run(spark, spark.read.parquet(corpusDir), idxR,
      Build.Config(numPartitions = 8, nSalts = 4, saltDfThreshold = 50,
        shuffleMode = "runs"))
    // identical partitioning (same hash keys + count) + identical group
    // order + identical encode core => the segment FILES must match
    // byte-for-byte, salted heavy terms included
    val f = SegmentStore.fs(s"$idx/segments")
    def segs(d: String): Seq[String] =
      f.listStatus(new Path(s"$d/segments")).filter(_.isFile)
        .map(_.getPath.getName).filter(_.endsWith(".bin")).sorted.toSeq
    assert(segs(idx) == segs(idxR), "segment file sets differ")
    def bytes(d: String, n: String): Array[Byte] = {
      val p = new Path(s"$d/segments/$n")
      val len = f.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = f.open(p)
      try in.readFully(0, buf) finally in.close()
      buf
    }
    segs(idx).foreach { nm =>
      assert(java.util.Arrays.equals(bytes(idx, nm), bytes(idxR, nm)),
        s"segment $nm differs between shuffle modes")
    }
    import spark.implicits._
    val d1 = spark.read.parquet(s"$idx/dict").as[SegmentStore.DictEntry]
      .collect().sortBy(e => (e.term, e.salt, e.file)).toSeq
    val d2 = spark.read.parquet(s"$idxR/dict").as[SegmentStore.DictEntry]
      .collect().sortBy(e => (e.term, e.salt, e.file)).toSeq
    assert(d1 == d2, "dict entries differ between shuffle modes")
    val e1 = new Engine(spark, idx, preload = true)
    val e2 = new Engine(spark, idxR, preload = true)
    try {
      for (q <- Seq("license import", "return the value", "static void main"))
        assert(e1.searchWand(q, 20).toSeq == e2.searchWand(q, 20).toSeq,
          s"ranking differs: $q")
    } finally { e1.close(); e2.close() }
  }

  test("WAND is rank-identical to exhaustive BM25 (north rule; SURVEY §5 item 3b)") {
    val (idx, _) = built
    val eng = new Engine(spark, idx, preload = true)
    val r = new Random(42)
    val hot = Seq("the", "if", "return", "import", "license")
    val cold = (0 until 50).map(i => Synth.coldTerm(30 + r.nextInt(2000)))
    val queries =
      hot.map(t => s"$t") ++
      (1 to 15).map(_ => Seq.fill(1 + r.nextInt(4))(
        if (r.nextBoolean()) hot(r.nextInt(hot.size)) else cold(r.nextInt(cold.size)))
        .mkString(" ")) ++
      Seq("the if return import license", "zzzznotaterm", "")
    for (q <- queries; k <- Seq(1, 5, 50, 250)) {
      val ex = eng.searchExhaustive(q, k)
      val wd = eng.searchWand(q, k)
      assert(wd.toSeq == ex.toSeq,
        s"WAND != exhaustive for query='$q' k=$k:\n wand=${wd.take(5).toSeq}\n ex=${ex.take(5).toSeq}")
    }
  }

  test("BM25 scores match hand-computed values on a tiny fixture (SURVEY §5 item 3a)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana banana banana cherry"),
      (3L, "durian"),
      (4L, "apple banana cherry durian")
    ).toDF("doc_id", "content")
    val idx = tmpDir("graft-index-tiny")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2, nSalts = 1,
      saltDfThreshold = Long.MaxValue, verifySha = false,
      tokenizer = Tokenizer.plainCfg))
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    // hand numbers: N=5, dls: 3,2,4,1,4 -> avgdl=2.8
    val n = 5L; val avgdl = 2.8
    def s(tf: Int, dl: Int, df: Long) = BM25.score(tf, dl, avgdl, n, df)
    val want = Map(
      0L -> s(2, 3, 3), 1L -> s(1, 2, 3), 4L -> s(1, 4, 3))
    val got = eng.searchExhaustive("apple", 10).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, sc) => assert(math.abs(got(id) - sc) < 1e-12) }
    // two-term query, ordering: (score desc, docId asc)
    val res = eng.searchWand("apple banana", 10)
    assert(res.map(_._1).toSeq ==
      eng.searchExhaustive("apple banana", 10).map(_._1).toSeq)
    val sorted = res.sortBy { case (id, sc) => (-sc, id) }
    assert(res.toSeq == sorted.toSeq)
  }

  test("WAND tie handling: identical docs produce identical scores, ranked by docId (hard-part 3)") {
    import spark.implicits._
    // 12 byte-identical docs -> every match ties exactly; k cuts mid-tie
    val docs = (0L until 12L).map(i => (i, "apple banana apple cherry"))
      .toDF("doc_id", "content")
    val idx = tmpDir("graft-tie-idx")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    for (k <- Seq(1, 5, 12, 20)) {
      val ex = eng.searchExhaustive("apple cherry", k)
      val wd = eng.searchWand("apple cherry", k)
      assert(wd.toSeq == ex.toSeq, s"k=$k")
      // ties resolve to the LOWEST docIds, in ascending order
      assert(wd.map(_._1).toSeq == (0L until math.min(k, 12).toLong))
      assert(wd.map(_._2).distinct.length == 1)
    }
    eng.close()
  }

  test("recency tiebreak: exact score ties rank (score desc, ingest_ts desc, docId asc); WAND stays exact") {
    import spark.implicits._
    // 12 byte-identical docs with distinct ingest_ts in non-docId order
    // (reference ranks ties by recency, ranker.py:30-32; ours replaces
    // datetime.now() with the stored deterministic timestamp)
    val docs = (0L until 12L).map(i =>
      (i, "apple banana apple cherry", 1000L + (i * 7919L) % 12L))
      .toDF("doc_id", "content", "ingest_ts")
    val idx = tmpDir("graft-recency-idx")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    val wantOrder = (0L until 12L)
      .sortBy(i => (-(1000L + (i * 7919L) % 12L), i))
    for (k <- Seq(1, 3, 5, 12, 20)) {
      val ex = eng.searchExhaustive("apple cherry", k)
      val wd = eng.searchWand("apple cherry", k)
      assert(wd.toSeq == ex.toSeq, s"k=$k")
      assert(wd.map(_._1).toSeq == wantOrder.take(math.min(k, 12)),
        s"k=$k: got ${wd.map(_._1).toSeq}")
      assert(wd.map(_._2).distinct.length == 1)
    }
    // ties on BOTH score and ts fall back to docId asc
    val docs2 = (0L until 8L).map(i =>
      (i, "pear", if (i < 4) 2000L else 1000L)).toDF("doc_id", "content", "ingest_ts")
    val idx2 = tmpDir("graft-recency-idx2")
    Build.run(spark, docs2, idx2, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    val eng2 = new Engine(spark, idx2, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    val r2 = eng2.searchWand("pear", 8)
    assert(r2.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L))
    assert(r2.toSeq == eng2.searchExhaustive("pear", 8).toSeq)
    eng.close(); eng2.close()
  }

  test("total-skew term: a term in every doc salts across partitions and queries correctly") {
    import spark.implicits._
    val n = 300
    val docs = (0L until n.toLong).map(i =>
      (i, s"omnipresent filler${i % 7} pad${i % 3}")).toDF("doc_id", "content")
    val idx = tmpDir("graft-skew-idx")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 4, nSalts = 4,
      saltDfThreshold = 50, verifySha = false,
      tokenizer = Tokenizer.plainCfg))
    val dict = spark.read.parquet(s"$idx/dict")
      .filter($"term" === "omnipresent")
      .select($"salt").distinct().count()
    assert(dict >= 3, s"expected the df=$n term split across salts, got $dict")
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    val res = eng.searchWand("omnipresent", n + 10)
    assert(res.length == n, "every doc must match the omnipresent term")
    assert(res.toSeq == eng.searchExhaustive("omnipresent", n + 10).toSeq)
    eng.close()
  }

  test("input_hint corpus WITHOUT doc_id builds and queries via hashed ids (incl. salted path)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, min => smin}
    // the documented primary schema: no doc_id column at all
    val docs = (0 until 300).map { i =>
      ("repo" + (i % 7), s"src/f$i.scala", "c" * 8 + i,
        "scala", s"omnipresent apple word${i % 11} word${i % 5}")
    }.toDF("repo", "path", "commit", "lang", "content")
    val withIds = graft.corpus.Ingest.withDocId(docs)
    // hashed ids are non-negative and collision-free on this corpus
    assert(withIds.agg(smin(col("doc_id"))).head().getLong(0) >= 0L)
    val idx = tmpDir("graft-hashid-idx")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 4, nSalts = 4,
      saltDfThreshold = 50, verifySha = false,
      tokenizer = Tokenizer.plainCfg))
    // the df=300 term must have salted across the full 63-bit id range
    val salts = spark.read.parquet(s"$idx/dict")
      .filter(col("term") === "omnipresent")
      .select("salt").distinct().count()
    assert(salts >= 2, s"heavy term not salted across hashed-id ranges: $salts")
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    for (q <- Seq("omnipresent", "apple word3", "omnipresent apple word1")) {
      val ex = eng.searchExhaustive(q, 310)
      assert(ex.nonEmpty)
      assert(eng.searchWand(q, 310).toSeq == ex.toSeq, s"q=$q")
    }
    eng.close()
  }

  test("sampled heavy-term detection salts the same way queries rank (at-scale config)") {
    // heavySampleFraction < 1 estimates df from a seeded sample; salting
    // is a performance heuristic, so ranked results must be identical to
    // the exact-df build regardless of which near-threshold terms salt
    val (idxExact, _) = built
    val idx = tmpDir("graft-sampled-idx")
    Build.run(spark, spark.read.parquet(corpusDir), idx,
      Build.Config(numPartitions = 8, nSalts = 4, saltDfThreshold = 50,
        heavySampleFraction = 0.5))
    import org.apache.spark.sql.functions.{col, countDistinct}
    // every term the exact build salted has df >= 50, so a 50% sample
    // (cut = 50*0.5*0.5 = 12, expected sampled df >= 25) must find it
    val exactSalted = spark.read.parquet(s"$idxExact/dict")
      .groupBy("term").agg(countDistinct(col("salt")).as("s"))
      .filter(col("s") > 1).select("term").collect().map(_.getString(0))
    assert(exactSalted.nonEmpty)
    val sampledSalted = spark.read.parquet(s"$idx/dict")
      .filter(col("term").isin(exactSalted.toSeq: _*))
      .groupBy("term").agg(countDistinct(col("salt")).as("s"))
      .filter(col("s") > 1).count()
    assert(sampledSalted == exactSalted.length,
      s"sampled detection missed heavy terms: $sampledSalted/${exactSalted.length}")
    val e1 = new Engine(spark, idxExact, preload = true)
    val e2 = new Engine(spark, idx, preload = true)
    for (q <- Seq("the if return", "license apache", "the import"))
      assert(e1.searchWand(q, 50).toSeq == e2.searchWand(q, 50).toSeq, s"q=$q")
    e1.close(); e2.close()
  }

  test("cache staging mode builds an identical-ranking index without a staging dir") {
    val (idxParquet, _) = built
    val idx = tmpDir("graft-cache-idx")
    val res = Build.run(spark, spark.read.parquet(corpusDir), idx,
      Build.Config(numPartitions = 8, nSalts = 4, saltDfThreshold = 50,
        stagingMode = "cache"))
    assert(res.nDocs == 400)
    assert(!new java.io.File(s"$idx/staging_postings").exists(),
      "cache mode must not write staging parquet")
    val e1 = new Engine(spark, idxParquet, preload = true)
    val e2 = new Engine(spark, idx, preload = true)
    for (q <- Seq("the if return", "license apache", "getconfig"))
      assert(e1.searchWand(q, 50).toSeq == e2.searchWand(q, 50).toSeq, s"q=$q")
    e1.close(); e2.close()
  }

  test("ingest rejects a corpus missing required columns") {
    import spark.implicits._
    val bad = tmpDir("graft-badcorpus")
    Seq(("r", "x")).toDF("repo", "other").write.mode("overwrite").parquet(bad)
    assertThrows[IllegalArgumentException](
      graft.corpus.Ingest.read(spark, bad))
  }

  test("ingest reads JSONL and CSV snapshots interchangeably with parquet (enforced schema, invariant columns kept)") {
    val cols = Seq("repo", "path", "commit", "lang", "content",
      "doc_id", "content_sha256", "ingest_ts")
    val src = spark.read.parquet(corpusDir).select(cols.head, cols.tail: _*)
    val jd = tmpDir("graft-corpus-jsonl")
    val cd = tmpDir("graft-corpus-csv")
    src.write.mode("overwrite").json(jd)
    // lossless csv producer config: Spark's csv WRITER trims leading/
    // trailing field whitespace by default (ignore*WhiteSpace default
    // true for writing only), which mangles code content — the sha
    // invariant below is what catches such a lossy producer in prod
    src.write.mode("overwrite").option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false").csv(cd)
    for ((dir, fmt) <- Seq((jd, "json"), (cd, "csv"))) {
      val back = graft.corpus.Ingest.read(spark, dir, fmt)
      assert(back.columns.toSet == cols.toSet, s"$fmt column drift")
      // content survives byte-exact (sha invariant transfers to any
      // format) and nothing was dropped or duplicated
      assert(graft.corpus.Ingest.shaViolations(back).count() == 0, fmt)
      assert(back.count() == src.count(), fmt)
      val a = src.select("doc_id", "content").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      back.select("doc_id", "content").collect().foreach { r =>
        assert(a(r.getLong(0)) == r.getString(1), s"$fmt content drift")
      }
    }
    assertThrows[IllegalArgumentException](
      graft.corpus.Ingest.read(spark, jd, "avro"))
  }

  test("ingest: absent optional columns stay absent; reordered csv headers bind by name; malformed JSONL fails loudly") {
    val required = Seq("repo", "path", "commit", "lang", "content")
    val src = spark.read.parquet(corpusDir)
    // 1. JSONL carrying ONLY the hint columns must NOT read back
    // all-null doc_id/sha/ts columns (they'd defeat withDocId's
    // presence check and crash non-nullable decodes downstream)
    val bare = tmpDir("graft-corpus-bare")
    src.select(required.head, required.tail: _*)
      .write.mode("overwrite").json(bare)
    val back = graft.corpus.Ingest.read(spark, bare, "json")
    assert(back.columns.toSet == required.toSet,
      s"phantom optional columns: ${back.columns.mkString(",")}")
    val withIds = graft.corpus.Ingest.withDocId(back)
    assert(withIds.filter(withIds("doc_id").isNull).count() == 0,
      "derived doc_id must be non-null")
    // 2. csv with columns in a DIFFERENT order than the hint schema
    // must bind by header name, not position
    val reord = tmpDir("graft-corpus-reord")
    val shuffled = Seq("content", "doc_id", "repo", "lang", "path",
      "commit", "content_sha256", "ingest_ts")
    src.select(shuffled.head, shuffled.tail: _*)
      .write.mode("overwrite").option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false").csv(reord)
    val rback = graft.corpus.Ingest.read(spark, reord, "csv")
    assert(graft.corpus.Ingest.shaViolations(rback).count() == 0,
      "reordered csv mis-assigned columns")
    assert(rback.count() == src.count())
    // 2b. the first-record peek decodes COMPRESSED snapshots the same
    // way Spark's line reader will — raw gzip bytes would yield garbage
    // keys and silently drop every optional column
    val gz = tmpDir("graft-corpus-gz")
    src.write.mode("overwrite").option("compression", "gzip").json(gz)
    val gback = graft.corpus.Ingest.read(spark, gz, "json")
    assert(gback.columns.toSet ==
      (required ++ Seq("doc_id", "content_sha256", "ingest_ts")).toSet,
      s"gz peek lost columns: ${gback.columns.mkString(",")}")
    assert(graft.corpus.Ingest.shaViolations(gback).count() == 0, "gz")
    // 3. a malformed JSONL line aborts the read (FAILFAST), instead of
    // PERMISSIVE-nulling a row into the index
    val badj = tmpDir("graft-corpus-badjson")
    val p = java.nio.file.Paths.get(badj, "part-00000.json")
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, java.util.Arrays.asList(
      """{"repo":"r","path":"p","commit":"c","lang":"l","content":"x"}""",
      """{"repo":"r","path":"p2","commit":"c","lang":"l","content": TRUNC"""),
      java.nio.charset.StandardCharsets.UTF_8)
    val ex = intercept[Exception] {
      graft.corpus.Ingest.read(spark, badj, "json").count()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c =>
      c.getMessage != null && (c.getMessage.contains("Malformed") ||
        c.getMessage.contains("FAILFAST"))), s"wrong failure: $ex")
  }

  test("resume: killed partitions rebuild; completed partitions are skipped byte-identically (SURVEY §5 item 6)") {
    val (idx, res) = built
    val segDir = s"$idx/segments"
    val f = SegmentStore.fs(segDir)
    // record all segment bytes
    def segBytes(): Map[Int, Long] =
      (0 until 8).map(p => p ->
        f.getFileStatus(SegmentStore.segmentPath(segDir, p)).getLen).toMap
    val before = segBytes()
    // simulate mid-build failure: partitions 2 and 5 lost
    Seq(2, 5).foreach { p =>
      f.delete(SegmentStore.segmentPath(segDir, p), false)
      f.delete(SegmentStore.markerPath(segDir, p), false)
    }
    // markers of completed partitions: remember modification times
    val keptMarker = SegmentStore.markerPath(segDir, 0)
    val mtimeBefore = f.getFileStatus(keptMarker).getModificationTime
    val res2 = Build.run(spark, spark.read.parquet(corpusDir), idx,
      Build.Config(numPartitions = 8, nSalts = 4, saltDfThreshold = 50))
    assert(segBytes() == before, "rebuilt index must be byte-identical")
    assert(res2.lineage == res.lineage)
    assert(f.getFileStatus(keptMarker).getModificationTime == mtimeBefore,
      "completed partition 0 must not be rewritten on resume")
    // manifest metrics: rows sum equals total postings
    val rows = (0 until 8).map(p =>
      SegmentStore.readMarker(segDir, p).get.rows).sum
    assert(rows == res.totalPostings)
  }

  test("sha violation aborts the build BEFORE any index file exists") {
    import spark.implicits._
    val bad = Seq(("r", "p", "c", "scala", "hello", 0L, "deadbeef"))
      .toDF("repo", "path", "commit", "lang", "content", "doc_id", "content_sha256")
    val idx = tmpDir("graft-index-bad")
    assertThrows[IllegalArgumentException](
      Build.run(spark, bad, idx, Build.Config(numPartitions = 2)))
    // the abort must leave no readable index behind — a violating corpus
    // that still produced dict/segments/stats would serve bad data to
    // any reader that never consults the build result
    for (sub <- Seq("dict", "segments", "doc_stats", "term_stats", "corpus_stats"))
      assert(!new java.io.File(s"$idx/$sub").exists(),
        s"$sub written despite sha violation")
  }
}
