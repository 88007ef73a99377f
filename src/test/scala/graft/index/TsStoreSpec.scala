package graft.index

import graft.SparkSpec
import graft.analysis.Tokenizer
import graft.query.{DistributedRunner, Engine, StoreTsSource}

/** The scale-safe recency-tiebreak store (round-3 advice #2): point
  * reads replace the doc-count collect + broadcast on tie-aware
  * indexes. */
class TsStoreSpec extends SparkSpec {

  test("write/read round trip: point lookups match the source, missing ids -> 0") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // sparse ids across the long range (hashed-id corpora), incl. 0
    val pairs = (Seq(0L) ++ Seq.fill(4999)(rnd.nextLong() & Long.MaxValue))
      .distinct.map(id => (id, rnd.nextLong() & Long.MaxValue))
    val dir = tmpDir("graft-tsstore")
    TsStore.write(spark, pairs.toDF("doc_id", "ingest_ts"), dir, 7)
    val m = TsStore.readManifest(dir).get
    assert(m.map(_.count).sum == pairs.size)
    assert(m == m.sortBy(_.firstId))
    val r = new TsStore.Reader(dir)
    val want = pairs.toMap
    pairs.foreach { case (id, ts) => assert(r.tsOf(id) == ts, s"id=$id") }
    // ids not in the store (incl. below/above every range) default to 0
    val present = want.keySet
    (Seq(Long.MaxValue, 1L, 12345L) ++ Seq.fill(50)(rnd.nextLong() & Long.MaxValue))
      .filterNot(present).foreach(id => assert(r.tsOf(id) == 0L))
    r.close()
  }

  test("build writes the ts artifact iff the corpus carries recency; engine picks the store source") {
    import spark.implicits._
    val withTs = (0L until 50L).map(i => (i, s"alpha beta tok$i", 1000L + i))
      .toDF("doc_id", "content", "ingest_ts")
    val idxA = tmpDir("graft-ts-build")
    Build.run(spark, withTs, idxA, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    assert(TsStore.exists(s"$idxA/ts"))
    val csA = CorpusStats.read(spark, idxA)
    assert(Engine.tsSourceFor(idxA, csA).isInstanceOf[StoreTsSource])
    val lk = Engine.tsSourceFor(idxA, csA).open()
    (0L until 50L).foreach(i => assert(lk.tsOf(i) == 1000L + i))
    lk.close()
    // no recency signal -> no artifact, nothing to open at query time
    val idxB = tmpDir("graft-ts-none")
    Build.run(spark, (0L until 10L).map(i => (i, "alpha beta"))
      .toDF("doc_id", "content"), idxB,
      Build.Config(numPartitions = 2, verifySha = false,
        tokenizer = Tokenizer.plainCfg))
    assert(!TsStore.exists(s"$idxB/ts"))
  }

  test("tie-aware distributed serving == driver ranks with a vocab-bound broadcast (no doc-count array)") {
    import spark.implicits._
    // byte-identical docs, distinct shuffled timestamps: every rank is
    // decided by the recency tiebreak
    val n = 40L
    val docs = (0L until n).map(i =>
      (i, "apple banana apple cherry", 5000L + (i * 7919L) % n))
      .toDF("doc_id", "content", "ingest_ts")
    val idx = tmpDir("graft-ts-dist")
    Build.run(spark, docs, idx, Build.Config(numPartitions = 2,
      verifySha = false, tokenizer = Tokenizer.plainCfg))
    assert(TsStore.exists(s"$idx/ts"))

    // the broadcast's ts piece is the directory string, not the arrays:
    // java-serialize the source the runner would use and bound its size
    val src = Engine.tsSourceFor(idx, CorpusStats.read(spark, idx))
    assert(src.isInstanceOf[StoreTsSource])
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(src); oos.close()
    assert(bos.size() < 2048,
      s"ts source serialized to ${bos.size()} B — doc-count state leaked into the broadcast")

    val eng = new Engine(spark, idx, Tokenizer.plainCfg,
      pruneSingletons = false, preload = true)
    val queries = Seq((1, "apple"), (2, "apple cherry"), (3, "banana"))
    val want = queries.flatMap { case (qn, q) =>
      eng.searchWand(q, 15).zipWithIndex.map { case ((id, sc), i) =>
        (qn, id, i + 1, sc) }
    }
    eng.close()
    val got = DistributedRunner.run(spark, idx,
        queries.toDF("query_num", "query").repartition(3), k = 15,
        tokCfg = Tokenizer.plainCfg, pruneSingletons = false)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3))
    assert(got.toSeq == want.sortBy(t => (t._1, t._3)))
    // recency actually decided these ranks (not docId order)
    val q1 = got.filter(_._1 == 1).map(_._2).toSeq
    assert(q1 == (0L until n).sortBy(i => (-(5000L + (i * 7919L) % n), i)).take(15))
  }

  test("merge links ts stores flat-named, chained too; a part without ts/ is refused") {
    import spark.implicits._
    def part(lo: Long, hi: Long, dir: String): Unit =
      Build.run(spark, (lo until hi).map(i =>
        (i, s"common tok$i", 100L * i)).toDF("doc_id", "content", "ingest_ts"),
        dir, Build.Config(numPartitions = 2, verifySha = false,
          tokenizer = Tokenizer.plainCfg))
    val a = tmpDir("graft-ts-a"); val b = tmpDir("graft-ts-b")
    val c = tmpDir("graft-ts-c")
    part(0L, 20L, a); part(20L, 40L, b); part(40L, 60L, c)
    val m1 = tmpDir("graft-ts-m1")
    Merge.disjoint(spark, Seq(a, b), m1)
    assert(TsStore.exists(s"$m1/ts"))
    val r1 = new TsStore.Reader(s"$m1/ts")
    (0L until 40L).foreach(i => assert(r1.tsOf(i) == 100L * i))
    r1.close()
    // chained: merged part re-merges; names stay t<part>-<idx>.bin (no
    // compounding prefixes -> no filename growth over a long stream)
    val m2 = tmpDir("graft-ts-m2")
    Merge.disjoint(spark, Seq(m1, c), m2)
    val names = TsStore.readManifest(s"$m2/ts").get.map(_.name)
    assert(names.forall(_.matches("t\\d+-\\d+\\.bin")), names.toString)
    val r2 = new TsStore.Reader(s"$m2/ts")
    (0L until 60L).foreach(i => assert(r2.tsOf(i) == 100L * i))
    r2.close()
    // a tie-aware part whose ts artifact is gone: refused everywhere,
    // naming the part and the rebuild, before the merge writes anything
    val d = tmpDir("graft-ts-d")
    part(60L, 80L, d)
    SegmentStore.fs(d).delete(new org.apache.hadoop.fs.Path(s"$d/ts"), true)
    def refused(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(d) && e.getMessage.contains("ts/") &&
        e.getMessage.contains("rebuild"), e.getMessage)
    }
    val m3 = s"${tmpDir("graft-ts-m3")}/merged"
    refused(Merge.disjoint(spark, Seq(m2, d), m3))
    assert(!new java.io.File(m3).exists(), s"refused merge wrote under $m3")
    refused(new Engine(spark, d, Tokenizer.plainCfg))
    refused(DistributedRunner.run(spark, d,
      Seq((1, "common")).toDF("query_num", "query"),
      tokCfg = Tokenizer.plainCfg))
  }
}
