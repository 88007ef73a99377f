package graft.index

import graft.SparkSpec
import graft.analysis.Tokenizer
import graft.corpus.Synth
import graft.query.{DistributedRunner, Engine}

/** Metadata-only snapshot merge: merged index must answer queries
  * rank-identically to a full rebuild over the union, and WAND must
  * stay exact under the inflated (bound_scale) block maxes. */
class MergeSpec extends SparkSpec {

  test("disjoint merge == full rebuild; WAND stays rank-identical under scaled bounds") {
    import spark.implicits._
    // two snapshots with deliberately different avgdl (bound_scale > 1)
    val docsA = (0L until 120L).map(i =>
      (i, Synth.content(i).linesIterator.take(8).mkString(" ")))
      .toDF("doc_id", "content")
    val docsB = (200L until 320L).map(i =>
      (i, Synth.content(i))).toDF("doc_id", "content")

    def build(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val d = tmpDir(name)
      Build.run(spark, df, d, Build.Config(numPartitions = 4, nSalts = 2,
        saltDfThreshold = 60, verifySha = false))
      d
    }
    val idxA = build(docsA, "merge-a")
    val idxB = build(docsB, "merge-b")
    val idxFull = build(docsA.unionByName(docsB), "merge-full")
    val merged = tmpDir("merge-out")
    Merge.disjoint(spark, Seq(idxA, idxB), merged)

    val engM = new Engine(spark, merged, preload = true)
    val engF = new Engine(spark, idxFull, preload = true)
    assert(engM.nDocs == engF.nDocs)
    assert(math.abs(engM.avgdl - engF.avgdl) < 1e-9)
    assert(engM.boundScale > 1.0, "fixture should exercise bound inflation")

    val queries = Seq("the", "if return", "license apache the", "import",
      "the if return import license apache")
    for (q <- queries; k <- Seq(3, 25, 200)) {
      // WAND exactness on the merged index (inflated bounds)
      val wandM = engM.searchWand(q, k)
      assert(wandM.toSeq == engM.searchExhaustive(q, k).toSeq,
        s"merged WAND != merged exhaustive: q=$q k=$k")
      // merged results == full-rebuild results (scores to float noise)
      val full = engF.searchWand(q, k)
      assert(wandM.map(_._1).toSeq == full.map(_._1).toSeq,
        s"merged ids != rebuild ids: q=$q k=$k")
      wandM.zip(full).foreach { case ((_, sm), (_, sf)) =>
        assert(math.abs(sm - sf) < 1e-9)
      }
    }
    engM.close(); engF.close()
  }

  test("re-merging a merged part composes bound_scale; WAND stays exact (advice: scale composition)") {
    import spark.implicits._
    // avgdl fixture from the composition argument: A dl=2, B dl=6
    // (first merge avg 4, scale 2), then C dl=3 at 2x count
    // (second merge avg 3.5). A's segments were encoded against avgdl 2,
    // so they need scale up to 3.5/2 = 1.75; a non-composing merge
    // would record only max(1, 3.5/4) = 0.875 -> 1.1667 via C.
    val mk = (ids: Range, text: Long => String) =>
      ids.map(i => (i.toLong, text(i.toLong))).toDF("doc_id", "content")
    val docsA = mk(0 until 50, i => s"apple tie${i % 3}")
    val docsB = mk(200 until 250, i => s"apple apple tie${i % 3} filler$i pad$i end$i")
    val docsC = mk(400 until 500, i => s"apple tie${i % 3} mid$i")
    def build(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val d = tmpDir(name)
      Build.run(spark, df, d, Build.Config(numPartitions = 4, nSalts = 2,
        saltDfThreshold = 40, verifySha = false,
        tokenizer = Tokenizer.plainCfg))
      d
    }
    val idxA = build(docsA, "remerge-a")
    val idxB = build(docsB, "remerge-b")
    val idxC = build(docsC, "remerge-c")
    val m1 = tmpDir("remerge-ab")
    Merge.disjoint(spark, Seq(idxA, idxB), m1)
    val m2 = tmpDir("remerge-abc")
    Merge.disjoint(spark, Seq(m1, idxC), m2)

    val cs = spark.read.parquet(s"$m2/corpus_stats").head()
    val avgdl = cs.getAs[Double]("avgdl")
    val scale = cs.getAs[Double]("bound_scale")
    assert(math.abs(avgdl - 3.5) < 1e-9, s"fixture avgdl drifted: $avgdl")
    // composed: AB carries scale 2, times max(1, 3.5/4) -> 2.0
    assert(math.abs(scale - 2.0) < 1e-9, s"composed scale wrong: $scale")

    val engM = new Engine(spark, m2, graft.analysis.Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    val engF = new Engine(spark,
      build(docsA.unionByName(docsB).unionByName(docsC), "remerge-full"),
      graft.analysis.Tokenizer.plainCfg, pruneSingletons = false,
      preload = true)
    for (q <- Seq("apple", "apple tie1", "tie0 tie2 apple"); k <- Seq(5, 60, 250)) {
      val wd = engM.searchWand(q, k)
      assert(wd.toSeq == engM.searchExhaustive(q, k).toSeq,
        s"re-merged WAND != exhaustive: q=$q k=$k")
      val full = engF.searchWand(q, k)
      assert(wd.map(_._1).toSeq == full.map(_._1).toSeq, s"q=$q k=$k")
    }
    engM.close(); engF.close()
  }

  test("chained merges keep segment names flat and carry the spell artifact") {
    import spark.implicits._
    def build(lo: Long, name: String): String = {
      val d = tmpDir(name)
      Build.run(spark, (lo until lo + 30L).map(i =>
        (i, s"shared word$i term${i % 5}")).toDF("doc_id", "content"),
        d, Build.Config(numPartitions = 2, verifySha = false,
          tokenizer = Tokenizer.plainCfg))
      d
    }
    val a = build(0L, "flat-a"); val b = build(100L, "flat-b")
    val c = build(200L, "flat-c"); val d = build(300L, "flat-d")
    val m1 = tmpDir("flat-m1"); val m2 = tmpDir("flat-m2")
    val m3 = tmpDir("flat-m3")
    Merge.disjoint(spark, Seq(a, b), m1)
    Merge.disjoint(spark, Seq(m1, c), m2)
    Merge.disjoint(spark, Seq(m2, d), m3) // 3 generations deep
    // flat epoch-scoped names: no compounding prefix over chained merges
    // (a p$i- scheme grew ~3 chars per epoch and hit the 255-byte
    // filename limit after ~80 micro-batches of a continuous stream)
    val segNames = SegmentStore.fs(m3)
      .listStatus(new org.apache.hadoop.fs.Path(s"$m3/segments"))
      .filter(_.isFile).map(_.getPath.getName).filter(_.endsWith(".bin"))
    assert(segNames.nonEmpty)
    assert(segNames.forall(_.matches("m\\d+-\\d+\\.bin")), segNames.mkString(","))
    // dict entries all resolve to linked files (rename map covered them)
    val dictFiles = spark.read.parquet(s"$m3/dict")
      .select($"file").distinct().as[String].collect().toSet
    assert(dictFiles.subsetOf(segNames.toSet))
    // the merged index carries a REGENERATED spell artifact over the
    // union vocab (served engines hit the artifact, not the lazy path)
    val spell = graft.query.SpellStore.load(s"$m3/spell")
    assert(spell.isDefined, "merged index missing spell artifact")
    // a 1-edit typo corrects against the union vocab via the artifact
    assert(spell.get.correct("sharet") == "shared")
    // and it still answers queries identically to a full rebuild
    val engM = new Engine(spark, m3, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    assert(engM.nDocs == 120)
    assert(engM.searchWand("shared", 10).toSeq ==
      engM.searchExhaustive("shared", 10).toSeq)
    engM.close()
  }

  test("overlapping docId ranges are rejected") {
    import spark.implicits._
    val docs = (0L until 20L).map(i => (i, "alpha beta")).toDF("doc_id", "content")
    val a = tmpDir("ov-a"); val b = tmpDir("ov-b"); val o = tmpDir("ov-out")
    Build.run(spark, docs, a, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    Build.run(spark, docs, b, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    assertThrows[IllegalArgumentException](
      Merge.disjoint(spark, Seq(a, b), o))
  }

  test("a part missing ts_min, ts_max or tok_cfg is refused by merge, engine, runner") {
    import spark.implicits._
    def build(lo: Long, hi: Long, name: String): String = {
      val d = tmpDir(name)
      Build.run(spark, (lo until hi).map(i => (i, Synth.content(i)))
        .toDF("doc_id", "content"), d,
        Build.Config(numPartitions = 2, nSalts = 2, verifySha = false))
      d
    }
    val current = build(0L, 40L, "format-ok")
    val stale = build(100L, 140L, "format-stale")
    val kept = tmpDir("format-cs")
    spark.read.parquet(s"$stale/corpus_stats")
      .write.mode("overwrite").parquet(kept)
    for (col <- Seq("ts_min", "ts_max", "tok_cfg")) {
      spark.read.parquet(kept).drop(col)
        .write.mode("overwrite").parquet(s"$stale/corpus_stats")
      def refused(f: => Any): Unit = {
        val e = intercept[IllegalArgumentException](f)
        assert(e.getMessage.contains(stale) && e.getMessage.contains(col) &&
          e.getMessage.contains("rebuild"), e.getMessage)
      }
      val out = s"${tmpDir("format-out")}/merged"
      refused(Merge.disjoint(spark, Seq(current, stale), out))
      assert(!new java.io.File(out).exists(), s"refused merge wrote under $out")
      refused(new Engine(spark, stale, preload = true))
      refused(DistributedRunner.run(spark, stale,
        Seq((1, "codec")).toDF("query_num", "query")))
    }
    // a fresh build has no bound_scale column: exact bounds, not legacy
    val eng = new Engine(spark, current, preload = true)
    assert(eng.boundScale == 1.0 && eng.nDocs == 40)
    eng.close()
  }

  test("replayed merge into the same outDir never truncates the live index through a hard link") {
    import spark.implicits._
    def build(lo: Long, hi: Long, name: String): String = {
      val d = tmpDir(name)
      Build.run(spark, (lo until hi).map(i => (i, Synth.content(i)))
        .toDF("doc_id", "content"), d,
        Build.Config(numPartitions = 2, nSalts = 2, verifySha = false))
      d
    }
    val idxA = build(0L, 60L, "replay-a")
    val idxB = build(100L, 160L, "replay-b")
    val srcBytes = {
      val fs = SegmentStore.fs(idxA)
      val segs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$idxA/segments"))
        .filter(_.isFile).map(_.getPath).filter(_.getName.endsWith(".bin"))
      segs.map(p => p.getName -> fs.getFileStatus(p).getLen).toMap
    }
    require(srcBytes.nonEmpty && srcBytes.values.forall(_ > 0))
    val out = tmpDir("replay-out")
    // crash-then-replay: the first merge completes PARTIALLY (simulated
    // by running it fully — every dst now exists as a hard link to the
    // LIVE part's inodes), then the epoch replays into the same outDir
    Merge.disjoint(spark, Seq(idxA, idxB), out)
    Merge.disjoint(spark, Seq(idxA, idxB), out)
    // the live part's segment bytes must be untouched: the old copy
    // fallback truncated the shared inode through the existing link
    val fs = SegmentStore.fs(idxA)
    srcBytes.foreach { case (name, len) =>
      val now = fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$idxA/segments/$name")).getLen
      assert(now == len, s"replayed merge truncated live segment $name")
    }
    // and the merged index still answers
    val eng = new Engine(spark, out, preload = true)
    assert(eng.nDocs == 120)
    assert(eng.searchWand("codec", 10).nonEmpty)
    eng.close()
  }

  test("merging parts built with different tokenizer configs is refused loudly") {
    import spark.implicits._
    def build(lo: Long, hi: Long, name: String, stem: Boolean): String = {
      val d = tmpDir(name)
      Build.run(spark, (lo until hi).map(i => (i, Synth.content(i)))
        .toDF("doc_id", "content"), d,
        Build.Config(numPartitions = 2, nSalts = 2, verifySha = false,
          tokenizer = Tokenizer.default.copy(stem = stem)))
      d
    }
    val stemmed = build(0L, 40L, "tok-a", stem = true)
    val unstemmed = build(100L, 140L, "tok-b", stem = false)
    val e = intercept[IllegalArgumentException] {
      Merge.disjoint(spark, Seq(stemmed, unstemmed), tmpDir("tok-out"))
    }
    assert(e.getMessage.contains("tokenizer configs"), e.getMessage)
    // same config still merges fine
    val ok = build(200L, 240L, "tok-c", stem = true)
    val out = tmpDir("tok-ok-out")
    Merge.disjoint(spark, Seq(stemmed, ok), out)
    val eng = new Engine(spark, out, preload = true)
    assert(eng.nDocs == 80)
    eng.close()
  }
}
