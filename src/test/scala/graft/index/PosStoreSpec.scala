package graft.index

import graft.SparkSpec
import graft.analysis.Tokenizer
import graft.query.PhraseSearcher
import org.apache.spark.sql.functions._

/** Pins for the positional sidecar (PosStore) and the phrase engine:
  * codec round-trips, cursor block-skips, salted≡unsalted result
  * identity, resume, and engine ≡ relational phrase equality on real
  * data. */
class PosStoreSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  // deterministic pseudo-random positional postings: ascending docIds
  // with gaps, ascending positions per doc
  private def synthPostings(n: Int, seed: Int): Array[PosStore.PosPosting] = {
    val rnd = new scala.util.Random(seed)
    var doc = 0L
    (0 until n).map { _ =>
      doc += 1 + rnd.nextInt(50)
      val np = 1 + rnd.nextInt(8)
      var p = 0
      val ps = (0 until np).map { _ => p += 1 + rnd.nextInt(30); p }.toArray
      PosStore.PosPosting(doc, ps)
    }.toArray
  }

  test("positions pack/unpack round-trip") {
    val cases = Seq(Array(0), Array(5), Array(0, 1, 2), Array(3, 17, 18, 400000))
    cases.foreach { ps =>
      assert(PosStore.unpackPositions(PosStore.packPositions(ps)).toSeq == ps.toSeq)
    }
  }

  test("block codec round-trips, multi-block lists keep skip metadata consistent") {
    val ps = synthPostings(1000, seed = 7) // ~8 blocks at BlockSize=128
    val blocks = PosStore.encode(ps)
    assert(blocks.length == math.ceil(1000.0 / PosStore.BlockSize).toInt)
    val decoded = blocks.flatMap(PosStore.decodeBlock)
    assert(decoded.length == ps.length)
    decoded.zip(ps).foreach { case (a, b) =>
      assert(a.docId == b.docId && a.pos.toSeq == b.pos.toSeq)
    }
    blocks.foreach { b =>
      val d = PosStore.decodeBlock(b)
      assert(b.firstDocId == d.head.docId && b.lastDocId == d.last.docId)
    }
  }

  test("cursor advanceTo is exact and skips non-candidate blocks metadata-only") {
    val ps = synthPostings(1000, seed = 11)
    val blocks = PosStore.encode(ps)
    // exact: advanceTo(t) lands on the first docId >= t
    val probes = Seq(ps.head.docId, ps(500).docId - 1, ps(999).docId, ps(999).docId + 1)
    probes.foreach { t =>
      val c = new PosCursor(blocks)
      c.advanceTo(t)
      val expected = ps.find(_.docId >= t).map(_.docId)
      assert((if (c.exhausted) None else Some(c.curDoc)) == expected, s"target $t")
    }
    // block-skip: jumping straight to the tail decodes O(1) blocks
    val c = new PosCursor(blocks)
    c.advanceTo(ps(999).docId)
    assert(c.decodeCount == 1,
      s"expected exactly 1 decode after a tail jump, got ${c.decodeCount}")
  }

  test("adjacency semantics on a planted corpus: overlap, duplicates, near-misses") {
    import spark.implicits._
    val planted = Seq(
      (1L, "a a a b"),        // "a a" overlaps -> 2 matches at 0; "a b" at 2
      (2L, "x y z"),          // strict order: "x z" no, "x y z" yes
      (3L, "x z y"),          // same tokens, wrong order
      (4L, "b a a"))          // "a a" once at 1
    val pdir = tmpDir("pos-planted")
    planted.toDF("doc_id", "content")
      .write.mode("overwrite").parquet(s"$pdir/documents.parquet")
    val idx = tmpDir("pos-planted-idx")
    val docs = spark.read.parquet(s"$pdir/documents.parquet")
    Build.buildPosStore(spark, docs, idx, Build.Config(
      numPartitions = 2, nSalts = 1, saltDfThreshold = Long.MaxValue,
      tokenizer = Tokenizer.plainCfg))
    val s = new PhraseSearcher(spark, idx, Tokenizer.plainCfg)
    try {
      def m(ph: String) = s.search(ph).toSeq
      assert(m("a a") == Seq((1L, 2L, 0L), (4L, 1L, 1L)), "overlapping + simple")
      assert(m("a b") == Seq((1L, 1L, 2L)))
      assert(m("x y z") == Seq((2L, 1L, 0L)), "strict order, full trigram")
      assert(m("x z") == Seq((3L, 1L, 0L)), "adjacent in doc 3 only")
      assert(m("z x") == Nil, "reversed phrase matches nothing")
      assert(m("a a a") == Seq((1L, 1L, 0L)), "triple overlap collapses to one")
    } finally s.close()
  }

  // ---- end-to-end over the real corpus ---------------------------------

  private def brutePhrase(phrase: Seq[String]): Map[Long, (Long, Long)] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .flatMap { case (id, text) =>
        val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
        val hits = (0 to toks.length - phrase.length).filter(i =>
          phrase.indices.forall(j => toks(i + j) == phrase(j)))
        if (hits.isEmpty) None else Some(id -> ((hits.size.toLong, hits.min.toLong)))
      }.toMap
  }

  private lazy val idxDir: String = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text").as("content"))
    val out = tmpDir("pos-idx")
    graft.index.Build.run(spark, docs, out, Build.Config(
      numPartitions = 8, nSalts = 4, saltDfThreshold = 50,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    Build.buildPosStore(spark, docs, out, Build.Config(
      numPartitions = 8, nSalts = 4, saltDfThreshold = 50,
      tokenizer = Tokenizer.plainCfg))
    out
  }

  test("phrase engine equals brute force on the real corpus (several phrases)") {
    val searcher = new PhraseSearcher(spark, idxDir, Tokenizer.plainCfg)
    try {
      val phrases = Seq(
        Seq("table", "scan"),               // the q57/q60 fixture phrase
        Seq("the"),                         // single heavy (salted) term
        Seq("batch", "batch"),              // duplicate-term phrase
        Seq("order", "batch", "batch"),     // 3-gram
        Seq("zzz", "scan"))                 // unknown term -> empty
      phrases.foreach { ph =>
        val got = searcher.search(ph.mkString(" "))
          .map { case (d, n, f) => d -> ((n, f)) }.toMap
        assert(got == brutePhrase(ph), s"phrase $ph")
      }
      // the salted heavy-term phrase must actually exercise >1 salt run
      import spark.implicits._
      val salts = spark.read.parquet(PosStore.dictDir(idxDir))
        .filter($"term" === "the").select($"salt").distinct().count()
      assert(salts > 1, "fixture must exercise the salted positional path")
    } finally searcher.close()
  }

  test("salted and unsalted positional builds serve identical phrase results") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text").as("content"))
    val un = tmpDir("pos-unsalted")
    Build.buildPosStore(spark, docs, un, Build.Config(
      numPartitions = 8, nSalts = 1, saltDfThreshold = Long.MaxValue,
      tokenizer = Tokenizer.plainCfg))
    val a = new PhraseSearcher(spark, idxDir, Tokenizer.plainCfg)
    val b = new PhraseSearcher(spark, un, Tokenizer.plainCfg)
    try {
      Seq("table scan", "the big", "order batch").foreach { ph =>
        assert(a.search(ph).toSeq == b.search(ph).toSeq, s"phrase '$ph'")
      }
    } finally { a.close(); b.close() }
  }

  test("q60 phrase-index query equals q57's relational scan row-for-row") {
    import spark.implicits._
    val eng = graft.operators.IndexOps.phraseIndex(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    val rel = graft.operators.TextRelational.phraseMatch(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(eng == rel)
    assert(eng.nonEmpty)
  }

  test("distributed phrase serving equals the driver searcher, ranked identically") {
    import spark.implicits._
    val batch = Seq((1, "table scan"), (2, "the big"), (3, "order batch batch"),
      (4, "zzz scan"), (5, "the"))
    val qdf = batch.toDF("query_num", "query").repartition(3)
    val dist = graft.query.DistributedRunner
      .runPhrase(spark, idxDir, qdf, k = 10, tokCfg = Tokenizer.plainCfg)
      .as[(Int, Long, Int, Double)].collect().toSeq
      .sortBy(r => (r._1, r._3))
    val searcher = new PhraseSearcher(spark, idxDir, Tokenizer.plainCfg)
    val driver = try {
      batch.flatMap { case (qn, q) =>
        searcher.search(q).sortBy { case (id, n, _) => (-n, id) }.take(10)
          .zipWithIndex.map { case ((id, n, _), i) => (qn, id, i + 1, n.toDouble) }
      }
    } finally searcher.close()
    assert(dist == driver.sortBy(r => (r._1, r._3)))
    assert(dist.exists(_._1 == 1) && !dist.exists(_._1 == 4),
      "matching phrases serve, unknown-term phrase is empty")
  }

  test("CLI --mode phrase: driver and distributed paths write identical CSVs") {
    import spark.implicits._
    val qFile = java.nio.file.Files.createTempFile("phrase-queries", ".txt")
    // Cli serves the DEFAULT profile (same as its WAND mode — the
    // profile its own `build` verb indexes with); these phrase tokens
    // are stem- and stopword-stable, so they hit the plain-profile
    // fixture identically from both paths.
    java.nio.file.Files.writeString(qFile,
      "1. order batch batch\n2. scan join\n")
    val outA = tmpDir("cli-phrase-driver")
    val outB = tmpDir("cli-phrase-dist")
    graft.Cli.run(spark,
      Array("query", idxDir, qFile.toString, outA, "--mode", "phrase", "--driver"))
    graft.Cli.run(spark,
      Array("query", idxDir, qFile.toString, outB, "--mode", "phrase"))
    def csv(d: String) = spark.read.option("header", "true").csv(d)
      .orderBy($"query_num".cast("int"), $"rank".cast("int"))
      .collect().map(_.toSeq).toSeq
    assert(csv(outA) == csv(outB))
    assert(csv(outA).nonEmpty)
  }

  test("merge carries the positional sidecar iff every part has it") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text").as("content"))
    val mid = docs.agg(expr("percentile_approx(doc_id, 0.5)")).head.getLong(0)
    val cfg = Build.Config(numPartitions = 4, nSalts = 2,
      saltDfThreshold = 50, verifySha = false, tokenizer = Tokenizer.plainCfg)
    val (pa, pb) = (tmpDir("pos-merge-a"), tmpDir("pos-merge-b"))
    val (da, db) = (docs.filter($"doc_id" <= mid), docs.filter($"doc_id" > mid))
    Build.run(spark, da, pa, cfg); Build.buildPosStore(spark, da, pa, cfg)
    Build.run(spark, db, pb, cfg); Build.buildPosStore(spark, db, pb, cfg)

    val merged = tmpDir("pos-merged")
    Merge.disjoint(spark, Seq(pa, pb), merged, spellIndex = false)
    assert(PosStore.exists(merged), "both parts positional => merged positional")
    val m = new PhraseSearcher(spark, merged, Tokenizer.plainCfg)
    val full = new PhraseSearcher(spark, idxDir, Tokenizer.plainCfg)
    try {
      Seq("table scan", "the big", "order batch batch").foreach { ph =>
        assert(m.search(ph).toSeq == full.search(ph).toSeq, s"phrase '$ph'")
      }
    } finally { m.close(); full.close() }

    // mixed: a part without positions => merged index omits the sidecar
    val pc = tmpDir("pos-merge-c")
    Build.run(spark, db, pc, cfg) // no buildPosStore
    val mixed = tmpDir("pos-mixed")
    Merge.disjoint(spark, Seq(pa, pc), mixed, spellIndex = false)
    assert(!PosStore.exists(mixed),
      "a mixed merge must not serve a phrase index missing half the docs")
    intercept[IllegalArgumentException] {
      new PhraseSearcher(spark, mixed, Tokenizer.plainCfg)
    }

    // incompatible sidecar PROFILES: main indexes share a tok_cfg but
    // part C's sidecar was built with the rule pipeline (stemmed,
    // stopworded — positions shift) — the merge must refuse, not union
    // incompatible phrase spaces
    Build.buildPosStore(spark, db, pc,
      cfg.copy(tokenizer = Tokenizer.default))
    val bad = tmpDir("pos-badmix")
    val e = intercept[IllegalArgumentException] {
      Merge.disjoint(spark, Seq(pa, pc), bad, spellIndex = false)
    }
    assert(e.getMessage.contains("different tokenizer configs"))
  }

  test("chained merge with positions equals a one-shot build; a differing chained sidecar is refused") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text").as("content"))
    val Array(t1, t2) = docs.stat
      .approxQuantile("doc_id", Array(1.0 / 3, 2.0 / 3), 0.0).map(_.toLong)
    val cfg = Build.Config(numPartitions = 4, nSalts = 2,
      saltDfThreshold = 50, verifySha = false, tokenizer = Tokenizer.plainCfg)
    val slices = Seq(docs.filter($"doc_id" <= t1),
      docs.filter($"doc_id" > t1 && $"doc_id" <= t2), docs.filter($"doc_id" > t2))
    val Seq(pa, pb, pc) = slices.zipWithIndex.map { case (d, i) =>
      val p = tmpDir(s"pos-chain-$i")
      Build.run(spark, d, p, cfg); Build.buildPosStore(spark, d, p, cfg)
      p
    }
    val ab = tmpDir("pos-chain-ab")
    Merge.disjoint(spark, Seq(pa, pb), ab, spellIndex = false)
    val abc = tmpDir("pos-chain-abc")
    Merge.disjoint(spark, Seq(ab, pc), abc, spellIndex = false)
    assert(PosStore.exists(abc), "every part positional => merged positional")
    val m = new PhraseSearcher(spark, abc, Tokenizer.plainCfg)
    val full = new PhraseSearcher(spark, idxDir, Tokenizer.plainCfg)
    try {
      Seq("table scan", "the big", "order batch batch").foreach { ph =>
        assert(m.search(ph).toSeq == full.search(ph).toSeq, s"phrase '$ph'")
      }
    } finally { m.close(); full.close() }

    // the merged part's fingerprint is still checked: a third part whose
    // sidecar was built with the rule pipeline must not chain onto it
    val pd = tmpDir("pos-chain-rules")
    Build.run(spark, slices(2), pd, cfg)
    Build.buildPosStore(spark, slices(2), pd, cfg.copy(tokenizer = Tokenizer.default))
    val e = intercept[IllegalArgumentException] {
      Merge.disjoint(spark, Seq(ab, pd), tmpDir("pos-chain-bad"), spellIndex = false)
    }
    assert(e.getMessage.contains("different tokenizer configs"), e.getMessage)
  }

  test("resume: a re-run with the same lineage rewrites nothing") {
    val f = SegmentStore.fs(idxDir)
    val posDir = PosStore.posDir(idxDir)
    val before = f.listStatus(new org.apache.hadoop.fs.Path(posDir))
      .filter(_.getPath.getName.endsWith(".bin"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    assert(before.nonEmpty)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text").as("content"))
    Build.buildPosStore(spark, docs, idxDir, Build.Config(
      numPartitions = 8, nSalts = 4, saltDfThreshold = 50,
      tokenizer = Tokenizer.plainCfg))
    val after = f.listStatus(new org.apache.hadoop.fs.Path(posDir))
      .filter(_.getPath.getName.endsWith(".bin"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    assert(after == before, "resume must skip complete partitions byte-untouched")
  }
}
