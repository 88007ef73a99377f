package graft.query

import graft.SparkSpec
import graft.analysis.Tokenizer
import graft.index.{Build, Codec}

/** Spell correction, queries-file replay, and the cosine parity scorer
  * (SURVEY Q2, Q12, §5 items 3c/4). */
class QuerySurfaceSpec extends SparkSpec {

  test("spell: known term passes through; unknown corrects to argmax-df edit-1") {
    val df = Map("spark" -> 100L, "spars" -> 10L, "sharp" -> 50L)
    def lookup(t: String) = df.get(t)
    assert(Spell.correct("spark", lookup) == "spark")
    // 'spork' -> edit1 candidates include spark(100) and spars? no —
    // spork->spars needs 2 edits; spark wins
    assert(Spell.correct("spork", lookup) == "spark")
    assert(Spell.correct("zzz", lookup) == "zzz") // no candidate
  }

  test("spell: ties break lexicographically (deterministic)") {
    val df = Map("aaab" -> 5L, "aaac" -> 5L)
    assert(Spell.correct("aaad", df.get) == "aaab")
  }

  test("edits1 contains deletes/transposes/replaces/inserts, no duplicates") {
    val e = Spell.edits1("ab").toSeq
    assert(e.contains("a") && e.contains("b"))  // deletes
    assert(e.contains("ba"))                     // transpose
    assert(e.contains("cb") && e.contains("ac")) // replaces
    assert(e.contains("abc") && e.contains("cab")) // inserts
    assert(e.distinct.size == e.size)
  }

  test("spell correct2: edit-2 fallback engages only when no edit-1 candidate is known") {
    val df = Map("spark" -> 100L, "quartz" -> 7L)
    def batch(cs: Seq[String]) = cs.flatMap(c => df.get(c).map(c -> _)).toMap
    assert(Spell.correct2("spark", batch) == "spark")  // known passthrough
    assert(Spell.correct2("spork", batch) == "spark")  // edit-1 wins
    // 'spirk' -> edit-1 'spark'? s-p-i-r-k vs s-p-a-r-k: one replace -> edit-1
    assert(Spell.correct2("spirk", batch) == "spark")
    // 'spoke' -> spark needs 2 edits (o->a, e->... actually spoke->spore->?).
    // construct a clean 2-edit case: 'quart_' -> 'quartz' is 1 edit;
    // 'quare' -> quartz needs 2 (insert t, replace e->z)
    assert(Spell.correct2("quare", batch) == "quartz")
    assert(Spell.correct2("zzzzzzzz", batch) == "zzzzzzzz") // no candidate
    // maxEdit2=0 disables the second stage deterministically
    assert(Spell.correct2("quare", batch, maxEdit2 = 0) == "quare")
  }

  test("DeleteIndex.correct is policy-identical to correct2 across a generated vocabulary") {
    // the preloaded engine answers corrections from the SymSpell-style
    // delete-variant index; the scan engine from the generate-and-probe
    // path — both must produce the same corrections (same staging: known
    // passthrough, else argmax-df over alphabet-model edit-1s, else
    // edit-2s, ties lexicographic)
    val r = new scala.util.Random(7)
    val vocab: Map[String, Long] =
      ((0 until 300).map(i => graft.corpus.Synth.coldTerm(i) -> (1L + r.nextInt(500))) ++
        Seq("spark" -> 100L, "quartz" -> 7L, "15.6K" -> 40L, "a" -> 3L,
          "get_config" -> 9L, "covid" -> 25L, "abc" -> 12L)).toMap
    val ix = Spell.DeleteIndex.build(vocab)
    def batch(cs: Seq[String]) = cs.flatMap(c => vocab.get(c).map(c -> _)).toMap
    val probes =
      vocab.keys.take(40).toSeq ++ // known: passthrough
      Seq("spork", "spirk", "quare", "zzzzzzzz", "15.6k", "156K", "covvid",
        "get_confog", "xovid", "a_", "qq",
        // composed-edit corners: Norvig edits1∘edits1 reaches strings an
        // OSA metric calls distance 3 (transpose then extend) — a
        // metric-based verifier diverged here in an earlier build
        "ca", "ac", "psark", "saprk_", "qautrz") ++
      (0 until 60).map { i => // mutated vocab terms: drop/replace chars
        val t = graft.corpus.Synth.coldTerm(i)
        if (i % 3 == 0) t.drop(1)
        else if (i % 3 == 1) t.updated(t.length / 2, 'q')
        else t.take(math.max(1, t.length - 2))
      }
    probes.foreach { q =>
      assert(ix.correct(q) == Spell.correct2(q, batch),
        s"index vs correct2 drift for '$q'")
    }
  }

  test("truncated delete-index buckets route to the exact fallback — policy never diverges") {
    // force MASSIVE truncation (every list capped at 1 entry): the capped
    // index must still answer every probe exactly like generate-and-probe
    // correct2, because queries touching a truncated bucket take the
    // exact fallback instead of trusting the capped list (round-2 advice:
    // a crowded bucket could otherwise evict the sole distance-1
    // candidate and silently change the correction)
    val r = new scala.util.Random(13)
    val vocab: Map[String, Long] =
      ((0 until 200).map(i => graft.corpus.Synth.coldTerm(i) -> (1L + r.nextInt(500))) ++
        Seq("spark" -> 100L, "quartz" -> 7L, "a" -> 3L, "ab" -> 9L,
          "ac" -> 9L, "bc" -> 4L)).toMap
    val capped = Spell.DeleteIndex.build(vocab, maxListLen = 1)
    assert(capped.nTruncatedBuckets > 0, "cap=1 must truncate buckets")
    def batch(cs: Seq[String]) = cs.flatMap(c => vocab.get(c).map(c -> _)).toMap
    val probes = vocab.keys.take(30).toSeq ++
      Seq("spork", "quare", "aa", "b", "zz", "abq", "zzzzzzzz") ++
      (0 until 40).map { i =>
        val t = graft.corpus.Synth.coldTerm(i)
        if (i % 2 == 0) t.drop(1) else t.updated(t.length / 2, 'q')
      }
    probes.foreach { q =>
      assert(capped.correct(q) == Spell.correct2(q, batch),
        s"capped index diverged from policy for '$q'")
    }
  }

  test("spell artifact round-trips through SpellStore byte-stream with identical corrections") {
    val r = new scala.util.Random(17)
    val vocab: Map[String, Long] =
      ((0 until 150).map(i => graft.corpus.Synth.coldTerm(i) -> (1L + r.nextInt(500))) ++
        Seq("spark" -> 100L, "quartz" -> 7L)).toMap
    val ix = Spell.DeleteIndex.build(vocab)
    val d = tmpDir("graft-spellstore")
    SpellStore.write(d, ix)
    val loaded = SpellStore.load(d).getOrElse(fail("artifact not loadable"))
    val probes = vocab.keys.take(30).toSeq ++
      Seq("spork", "spirk", "quare", "zzzzzzzz", "ca", "ac") ++
      (0 until 40).map(i => graft.corpus.Synth.coldTerm(i).drop(1))
    probes.foreach { q =>
      assert(loaded.correct(q) == ix.correct(q), s"round-trip drift for '$q'")
    }
    assert(SpellStore.load(tmpDir("graft-nospell")).isEmpty) // missing => None
  }

  test("spell artifact bytes are a pure function of the vocabulary: rebuild and load+save are byte-identical") {
    val r = new scala.util.Random(19)
    val vocab: Map[String, Long] =
      ((0 until 400).map(i => graft.corpus.Synth.coldTerm(i) -> (1L + r.nextInt(50))) ++
        Seq("spark" -> 100L, "quartz" -> 7L, "aa" -> 7L, "ab" -> 7L)).toMap
    def bytesOf(ix: Spell.DeleteIndex): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      ix.save(out); out.flush()
      bos.toByteArray
    }
    // a shuffled input order and a capped build exercise the df-desc
    // ordering and the truncated-key section too
    for (cap <- Seq(Spell.DeleteIndex.MaxListLen, 2)) {
      val ix = Spell.DeleteIndex.build(vocab, cap)
      assert((ix.nTruncatedBuckets > 0) == (cap == 2))
      val a = bytesOf(ix)
      val b = bytesOf(Spell.DeleteIndex.build(r.shuffle(vocab.toSeq), cap))
      assert(java.util.Arrays.equals(a, b), s"two builds differ (cap $cap)")
      val reloaded = Spell.DeleteIndex.load(
        new java.io.DataInputStream(new java.io.ByteArrayInputStream(a)))
      assert(java.util.Arrays.equals(a, bytesOf(reloaded)),
        s"load + save is not byte-identical (cap $cap)")
    }
  }

  test("an artifact in the old GSP1 format loads as None; the engine corrects through the lazy path") {
    import spark.implicits._
    val docs = Seq(
      (0L, "gamma gamma gamma delta"), (1L, "gamma epsilon"),
      (2L, "gamma delta")).toDF("doc_id", "content")
    val idx = tmpDir("graft-oldspell-index")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    val art = new java.io.File(SpellStore.path(s"$idx/spell").toUri.getPath)
    assert(SpellStore.load(s"$idx/spell").isDefined)
    // overwrite the magic with "GSP1": the rest of the file is left
    // as it is, so only the format tag decides
    val raf = new java.io.RandomAccessFile(art, "rw")
    try raf.writeInt(0x47535031) finally raf.close()
    assert(SpellStore.load(s"$idx/spell").isEmpty, "GSP1 must not be read")
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = false, eagerSpell = true)
    try {
      assert(eng.searchWand("gamm", 10).map(_._1).toSet == Set(0L, 1L, 2L))
      assert(eng.searchWand("gamxx", 10).map(_._1).toSet == Set(0L, 1L, 2L))
    } finally eng.close()
  }

  test("index build persists the spell artifact; a cold core corrects WITHOUT any vocab load") {
    import spark.implicits._
    val docs = Seq(
      (0L, "gamma gamma gamma delta"), (1L, "gamma epsilon"),
      (2L, "gamma delta")).toDF("doc_id", "content")
    val idx = tmpDir("graft-spellartifact-index")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    assert(graft.index.SegmentStore.fs(idx)
      .exists(SpellStore.path(s"$idx/spell")), "build must write the artifact")
    // a resolver that REFUSES the stats load: before the artifact, this
    // forced the bounded generate-and-probe path (and executors paid a
    // per-JVM rebuild); now the artifact alone must serve corrections
    val full = Engine.loadResolver(spark, idx)
    val noStats = new TermResolver {
      def dfBatch(cands: Seq[String]) = full.dfBatch(cands)
      def dictEntries(terms: Seq[String]) = full.dictEntries(terms)
      def allStats: Option[Map[String, Long]] = None
    }
    val cs = spark.read.parquet(s"$idx/corpus_stats")
      .select($"n_docs", $"avgdl").head()
    val core = new EngineCore(cs.getLong(0), cs.getDouble(1), 1.0,
      tieAware = false, NoTsSource,
      noStats, s"$idx/segments", Tokenizer.plainCfg,
      pruneSingletons = false, spell = true, spellDir = s"$idx/spell")
    core.warmSpell() // the eager knob: cost lands here, not in a query
    // edit-1 and edit-2 corrections resolve purely from the artifact
    assert(core.searchWand("gamm", 10).map(_._1).toSet == Set(0L, 1L, 2L))
    assert(core.searchWand("gamxx", 10).map(_._1).toSet == Set(0L, 1L, 2L))
    core.close()
    // the driver Engine's eagerSpell knob drives the same path
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = false, eagerSpell = true)
    assert(eng.searchWand("gamm", 10).map(_._1).toSet == Set(0L, 1L, 2L))
    eng.close()
  }

  test("isOneEdit is EXACTLY membership in edits1 (randomized, incl. digits/punct)") {
    val r = new scala.util.Random(11)
    val chars = "abcz_1.K-"
    def randStr(max: Int) =
      (0 until (1 + r.nextInt(max))).map(_ => chars(r.nextInt(chars.length))).mkString
    for (_ <- 0 until 300) {
      val a = randStr(8)
      val e1 = Spell.edits1(a).toSet
      // positives: every generated variant must satisfy isOneEdit —
      // except the string itself, which edits1 can emit via an
      // equal-adjacent-chars self-transpose ("zz" -> "zz") and which
      // isOneEdit deliberately rejects (zero EFFECTIVE edits; identity
      // is irrelevant to correction policy since only unknown terms
      // are ever corrected)
      e1.filter(_ != a)
        .foreach(b => assert(Spell.isOneEdit(a, b), s"miss: '$a' -> '$b'"))
      // negatives: random strings must agree with set membership
      for (_ <- 0 until 20) {
        val b = randStr(9)
        assert(Spell.isOneEdit(a, b) == (e1.contains(b) && b != a),
          s"disagree: '$a' vs '$b'")
      }
    }
  }

  test("engine corrects a misspelled term by default — no caller-supplied dictionary") {
    import spark.implicits._
    val docs = Seq(
      (0L, "gamma gamma gamma delta"), (1L, "gamma epsilon"),
      (2L, "gamma delta")).toDF("doc_id", "content")
    val idx = tmpDir("graft-autospell-index")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    // edit-1: 'gamm' -> 'gamma' (argmax df)
    assert(eng.searchWand("gamm", 10).map(_._1).toSet == Set(0L, 1L, 2L))
    // edit-2: 'gamxx' -> 'gamma'
    assert(eng.searchWand("gamxx", 10).map(_._1).toSet == Set(0L, 1L, 2L))
    // WAND and exhaustive agree on the corrected query
    assert(eng.searchWand("gamm delta", 10).toSeq ==
      eng.searchExhaustive("gamm delta", 10).toSeq)
    // non-preloaded engine corrects through pushdown dictionary scans
    val engScan = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = false)
    assert(engScan.searchWand("gamm", 10).map(_._1).toSet == Set(0L, 1L, 2L))
    // spell=false: unknown terms stay unknown
    val engOff = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true, spell = false)
    assert(engOff.searchWand("gamm", 10).isEmpty)
    eng.close(); engScan.close(); engOff.close()
  }

  test("queries file: reference numbered format parsed like search_engine.py:84-98") {
    val qs = QueryRunner.parseQueries(Seq(
      "1. first query here", "2. second", "", "17. seventeen",
      "unnumbered line"))
    // unnumbered lines are numbered by position among non-empty lines
    assert(qs == Seq((1, "first query here"), (2, "second"),
      (17, "seventeen"), (4, "unnumbered line")))
  }

  test("end-to-end replay: queries file -> ranked CSV rows with capped k") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spark shuffle join"), (1L, "spark spark streaming"),
      (2L, "join order benchmark"), (3L, "unrelated words entirely")
    ).toDF("doc_id", "content")
    val idx = tmpDir("graft-qr-index")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    val rows = QueryRunner.run(eng,
      Seq((1, "spark"), (2, "join benchmark")), k = 5000,
      tokCfg = Tokenizer.plainCfg)
    val q1 = rows.filter(_._1 == 1)
    assert(q1.map(_._2) == Seq(1L, 0L)) // doc 1 has tf=2
    assert(q1.map(_._3) == Seq(1, 2))   // ranks are 1-based
    val q2 = rows.filter(_._1 == 2)
    assert(q2.head._2 == 2L)            // both terms hit doc 2
    // k caps at 2000 (ranker.py:48-49)
    assert(rows.groupBy(_._1).values.forall(_.size <= 2000))
  }

  test("spell correction folds into the query path (argmax-df via term_stats)") {
    import spark.implicits._
    val docs = Seq(
      (0L, "gamma gamma gamma delta"), (1L, "gamma epsilon"),
      (2L, "gamma delta")).toDF("doc_id", "content")
    val idx = tmpDir("graft-spell-index")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    val stats = spark.read.parquet(s"$idx/term_stats")
      .select($"term", $"df").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 'gamm' (unknown) -> 'gamma' (df=3)
    val rows = QueryRunner.run(eng, Seq((1, "gamm")), k = 10,
      spellDf = Some(stats.get), tokCfg = Tokenizer.plainCfg)
    assert(rows.map(_._2).toSet == Set(0L, 1L, 2L))
  }

  test("engine-level cosine-parity mode ranks through the real index") {
    import spark.implicits._
    val docs = Seq(
      (0L, "apple banana apple"), (1L, "apple cherry"),
      (2L, "banana banana banana")).toDF("doc_id", "content")
    val idx = tmpDir("graft-parity-index")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    val res = eng.searchCosineParity("apple banana", 10)
    // doc0 matches both query dims -> highest cosine; all matched docs present
    assert(res.map(_._1).toSet == Set(0L, 1L, 2L))
    assert(res.head._1 == 0L)
    // single-dim matches score 1/sqrt(2) (reference query-dim-only norm quirk)
    val single = res.filter(r => r._1 == 1L || r._1 == 2L)
    single.foreach(r => assert(math.abs(r._2 - 1.0 / math.sqrt(2)) < 1e-12))
    eng.close()
  }

  test("cosine parity scorer reproduces reference tf-idf/query-dim-cosine on a fixture") {
    // 3 docs, query 'apple banana' — hand-check the reference math:
    // N=3, df(apple)=2, df(banana)=1
    // idf(apple)=log10(1.5), idf(banana)=log10(3)
    val postings = Seq(
      Parity.TermVec("apple", 1, 2, Array(
        Codec.Posting(0, 2, 0), Codec.Posting(1, 1, 0))),
      Parity.TermVec("banana", 1, 1, Array(Codec.Posting(0, 1, 0))))
    val maxTf = Map(0L -> 2, 1L -> 1)
    val res = Parity.rank(postings, 3, maxTf, 10)
    // doc0: apple (2/2)*idfA, banana (1/2)*idfB; doc1: apple (1/1)*idfA
    val idfA = math.log10(1.5); val idfB = math.log10(3.0)
    val q = Array(1.0, 1.0).map(_ / 1.0)
    val d0 = Array(idfA, 0.5 * idfB)
    val cos0 = (d0(0) + d0(1)) /
      (math.sqrt(d0.map(x => x * x).sum) * math.sqrt(2.0))
    // doc1 vector (idfA, 0) — query-dim-only norm = idfA (the quirk)
    val cos1 = idfA / (idfA * math.sqrt(2.0))
    assert(res.length == 2)
    assert(math.abs(res.find(_._1 == 0L).get._2 - cos0) < 1e-12)
    assert(math.abs(res.find(_._1 == 1L).get._2 - cos1) < 1e-12)
    // reference quirk check: doc1 cosine is 1/sqrt(2) regardless of idf
    assert(math.abs(cos1 - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("executor-local SegmentCache: cache-on ≡ cache-off rank identity, hits on re-fetch, resident bytes bounded") {
    import spark.implicits._
    import graft.index.SegmentCache
    val docs = (0L until 300L).map(i =>
      (i, s"spark shuffle t${i % 37} join w${i % 11} alpha"))
      .toDF("doc_id", "content")
    val idx = tmpDir("graft-segcache-index")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 4,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    val queries = Seq("spark", "alpha join", "t3 w4", "shuffle spark alpha")
    def runAll(): Seq[Seq[(Long, Double)]] = {
      val eng = new Engine(spark, idx, Tokenizer.plainCfg,
        pruneSingletons = false, preload = true)
      try queries.map(q => eng.searchWand(q, 50).toSeq) finally eng.close()
    }
    val saved = SegmentCache.capacityBytes
    try {
      SegmentCache.capacityBytes = 0L; SegmentCache.clear()
      val off = runAll()
      SegmentCache.capacityBytes = 1L << 20; SegmentCache.clear()
      val on = runAll()
      val h0 = SegmentCache.hits.get()
      val on2 = runAll() // same records again: must come from the cache
      assert(on == off, "cache-on results differ from cache-off")
      assert(on2 == off, "cache-hit results differ from cache-off")
      assert(SegmentCache.hits.get() > h0, "re-fetch produced no cache hits")
      // eviction keeps residency within an adversarially tiny budget
      SegmentCache.capacityBytes = 4096L; SegmentCache.clear()
      assert(runAll() == off)
      assert(SegmentCache.residentBytes <= 4096L,
        s"resident ${SegmentCache.residentBytes} exceeds capacity")
    } finally { SegmentCache.capacityBytes = saved; SegmentCache.clear() }
  }

  test("distributed runner == driver engine on every query (broadcast core, multi-partition)") {
    import spark.implicits._
    // include exact-score ties (identical docs), a misspelled term (the
    // broadcast core must correct like the driver), multi-term, and a
    // no-hit query
    val docs = Seq(
      (0L, "spark shuffle join build"), (1L, "spark spark streaming"),
      (2L, "join order benchmark"), (3L, "unrelated words entirely"),
      (4L, "spark shuffle join build"), (5L, "alpha beta gamma"),
      (6L, "gamma gamma delta"), (7L, "beta delta epsilon")
    ).toDF("doc_id", "content")
    val idx = tmpDir("graft-dist-index")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    val queries = Seq((1, "spark"), (2, "join benchmark"), (3, "gamm"),
      (4, "alpha delta beta"), (5, "nothing matches this"),
      (6, "spark shuffle join build"))
    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    val want = queries.flatMap { case (qn, q) =>
      eng.searchWand(q, 10).zipWithIndex.map { case ((id, sc), i) =>
        (qn, id, i + 1, sc) }
    }
    eng.close()
    val got = DistributedRunner.run(spark, idx,
        queries.toDF("query_num", "query").repartition(4), k = 10,
        tokCfg = Tokenizer.plainCfg, pruneSingletons = false)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.toSeq == want.sortBy(t => (t._1, t._3)),
      s"distributed != driver:\n got=${got.toSeq}\nwant=$want")
  }
}
