package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental index maintenance: merge snapshot indexes whose docId
  * ranges are disjoint (successive Iceberg-style snapshot builds assign
  * new dense id ranges) into one queryable index WITHOUT touching
  * posting bytes.
  *
  * This exploits the same invariant the salted shuffle relies on
  * (SURVEY M3 / Codec scaladoc): blocks are self-contained and
  * docId-disjoint runs concatenate by firstDocId at read time. The
  * merge is therefore metadata-only:
  *   - segment files are linked/copied under prefixed names,
  *   - dict entries re-pointed at the prefixed files and unioned,
  *   - term_stats summed, doc_stats unioned, corpus stats re-derived.
  * The reference's analog is its external k-way merge re-reading and
  * re-writing every posting (indexer.py:376-554); here incremental
  * growth costs O(metadata), not O(index).
  */
object Merge {

  /** Segments are immutable after build, so on a local filesystem the
    * "copy" is a HARD LINK — chained re-merges (the streaming indexer
    * merges current+snapshot every epoch) stay O(#files) metadata ops
    * instead of re-copying the accumulated posting bytes each epoch
    * (quadratic over the stream's life). Non-local filesystems fall
    * back to a byte copy; content is identical either way, so every
    * merge≡rebuild byte-identity gate is unaffected. */
  private def linkOrCopy(fsIn: org.apache.hadoop.fs.FileSystem, src: Path,
                         fsOut: org.apache.hadoop.fs.FileSystem, dst: Path): Unit = {
    // Replay safety: a merge that crashed mid-way and is re-run into the
    // same outDir (StreamIndexer epoch replay) finds dst already present
    // as a HARD LINK to src's inode. The old copy fallback opened dst
    // with overwrite=true, which TRUNCATES the shared inode — i.e.
    // zeroes the LIVE published index's segment bytes. Unlink the stale
    // name first (dropping a link never touches the shared inode), and
    // route the copy fallback through tmp+rename so no reader — and no
    // second crash — can ever observe a partially-copied file under the
    // final name.
    // loud failures: HDFS-style filesystems report delete/rename
    // failures via the boolean, not an exception — swallowing it would
    // leave the merged index silently missing a segment under the final
    // name, surfacing only as a later read failure (round-4 advice)
    if (fsOut.exists(dst))
      require(fsOut.delete(dst, false), s"failed to delete stale $dst")
    val bothLocal =
      fsIn.getScheme == "file" && fsOut.getScheme == "file"
    val linked = bothLocal && {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        true
      } catch { case _: Exception => false } // cross-device etc. -> copy
    }
    if (!linked) {
      val tmp = new Path(dst.getParent,
        s".${dst.getName}.tmp-${java.util.UUID.randomUUID()}")
      org.apache.hadoop.fs.FileUtil.copy(fsIn, src, fsOut, tmp, false, fsIn.getConf)
      require(fsOut.rename(tmp, dst), s"failed to rename $tmp -> $dst")
    }
  }

  /** Link one part's dict-referenced .bin set under flat epoch-scoped
    * names (`m<part>-<idx>.bin`) into `outDataDir` and return the
    * re-pointed dict frame — the ONE copy of the link/re-point protocol,
    * shared by the posting segments and the positional sidecar (the
    * rationale comments live at the segments call site). */
  private def linkAndRepoint(spark: SparkSession, dataDir: String,
                             dictPath: String, outDataDir: String,
                             partIdx: Int, what: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fsIn = SegmentStore.fs(dataDir)
    val fsOut = SegmentStore.fs(outDataDir)
    val listing = fsIn.listStatus(new Path(dataDir))
      .filter(_.isFile).map(_.getPath.getName)
      .filter(_.endsWith(".bin")).toSet
    val referenced = spark.read.parquet(dictPath)
      .select($"file").distinct().as[String].collect().sorted
    val missing = referenced.filterNot(listing)
    require(missing.isEmpty,
      s"$what of $dataDir references files missing from " +
        s"$dataDir: ${missing.take(5).mkString(", ")}")
    val renames = referenced.zipWithIndex.map { case (name, j) =>
      val nn = s"m$partIdx-$j.bin"
      linkOrCopy(fsIn, new Path(s"$dataDir/$name"),
        fsOut, new Path(s"$outDataDir/$nn"))
      (name, nn)
    }
    spark.read.parquet(dictPath)
      .join(broadcast(renames.toSeq.toDF("file", "new_file")),
        Seq("file"), "inner") // total by construction over `referenced`
      .drop("file").withColumnRenamed("new_file", "file")
  }

  /** Merge `parts` (built over docId-disjoint corpora) into `outDir`.
    * Validates, before anything is written under `outDir`: docId-range
    * disjointness (via doc_stats), each part's format
    * ([[CorpusStats.read]], which also checks the ts artifact of every
    * part carrying recency), and one analysis fingerprint across the parts and across
    * their positional sidecars. `spellIndex=false` skips regenerating
    * the spell artifact (engines fall back to the lazy bounded
    * delete-index build). */
  def disjoint(spark: SparkSession, parts: Seq[String], outDir: String,
               spellIndex: Boolean = true): Unit = {
    import spark.implicits._
    require(parts.size >= 2, "need at least two indexes to merge")

    // ---- validate docId-range disjointness ---------------------------
    val ranges = parts.map { p =>
      val r = spark.read.parquet(s"$p/doc_stats")
        .agg(min($"doc_id"), max($"doc_id"), count(lit(1))).head()
      // empty doc_stats (crashed or zero-doc build) would NPE on the
      // null min/max unbox below — fail with the part named instead
      require(r.getLong(2) > 0,
        s"$p has no documents (empty doc_stats) — not mergeable")
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, hi, _), (lo2, _, _)) =>
        require(hi < lo2, s"docId ranges overlap: max=$hi vs min=$lo2")
      case _ =>
    }

    // ---- validate each part's format and the analysis chain: merging
    // indexes built with different tokenizer configs (stemmed vs
    // unstemmed, different stopword sets) would union incompatible term
    // spaces — df/idf silently wrong and half the corpus unfindable.
    // CorpusStats.read also refuses a part that carries recency without
    // its ts artifact: those stores are linked below, never regenerated.
    val partStats = parts.map(p => CorpusStats.read(spark, p))
    require(partStats.map(_.tokCfg).distinct.size == 1,
      "parts were built with different tokenizer configs — refusing to " +
        "merge incompatible term spaces: " +
        parts.zip(partStats).map { case (p, cs) => s"$p -> ${cs.tokCfg}" }
          .mkString("; "))

    // ---- positional sidecar (PosStore): carried iff EVERY part has it
    // — positions are opt-in, so "none have it" merges to none; a MIXED
    // set cannot merge to a correct phrase index (phrases spanning the
    // position-less part's docs would silently vanish), so the merged
    // index omits the sidecar LOUDLY and PhraseSearcher's existence
    // check fails fast on it. The sidecar's own analysis fingerprint
    // must agree too: the main indexes may share a tok_cfg while the
    // sidecars were built with different profiles (buildPosStore takes
    // its own config), and merging those unions incompatible
    // term/POSITION spaces. The fingerprint rides every pos marker's
    // lineage (stem|plain|sw fragment), a merged sidecar's included.
    val partsWithPos = parts.filter(PosStore.exists)
    val posCfg: Option[String] =
      if (partsWithPos.size < parts.size) None
      else {
        val posCfgs = parts.map { p =>
          val pd = PosStore.posDir(p)
          val fsIn = SegmentStore.fs(pd)
          val markers = fsIn.listStatus(new Path(s"$pd/_markers"))
            .filter(_.getPath.getName.endsWith(".json"))
          require(markers.nonEmpty, s"no pos markers under $pd — corrupt sidecar")
          val in: java.io.InputStream = fsIn.open(markers.head.getPath)
          val lineage =
            try SegmentStore.mapper.readValue(in,
              classOf[SegmentStore.PartitionMarker]).lineage
            finally in.close()
          val frag = "stem=[^|]*\\|plain=[^|]*(\\|sw=[^|]*)?".r
            .findFirstIn(lineage)
          require(frag.isDefined, s"$pd marker lineage carries no analysis " +
            s"fingerprint: $lineage")
          p -> frag.get
        }
        require(posCfgs.map(_._2).distinct.size == 1,
          "positional sidecars were built with different tokenizer " +
            "configs — refusing to merge incompatible phrase spaces: " +
            posCfgs.map { case (p, c) => s"$p -> $c" }.mkString("; "))
        Some(posCfgs.head._2)
      }

    val fsOut = SegmentStore.fs(outDir)
    fsOut.mkdirs(new Path(s"$outDir/segments/_markers"))

    // ---- segments: link under FLAT epoch-scoped names (m<part>-<idx>
    // .bin) and re-point dicts through a file-count-bound rename map.
    // A recursive prefix (p$i-<origname>) compounded ~3 chars per
    // chained re-merge, so a continuously-streaming index hit the
    // 255-byte filename limit after ~80 micro-batches; flat names make
    // chained merges rename-stable (a merged part's m0-5.bin simply
    // becomes m<i>-<j>.bin one level deep again). ----------------------
    // link the DICT-REFERENCED file set, not the directory listing:
    // an in-place rebuild with a different partition count can leave
    // orphan .bin files no dict row points at, and a listing-based
    // link would carry those dead bytes into every merged generation
    // forever (and byte-copy them per epoch on non-local FS). The
    // referenced set is file-count-bound (dict projects one column,
    // distinct). Loud-failure invariant kept: a dict row naming a
    // file ABSENT from the listing (partially-deleted or corrupt
    // part) aborts the merge before anything links. (linkAndRepoint is
    // the one copy of this protocol — the positional sidecar below
    // merges through it too.)
    val dicts = parts.zipWithIndex.map { case (p, i) =>
      linkAndRepoint(spark, s"$p/segments", s"$p/dict",
        s"$outDir/segments", i, "dict")
    }
    dicts.reduce(_.unionByName(_))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/dict")

    posCfg match {
      case Some(cfg) =>
        // the merged sidecar's one marker persists the validated
        // fingerprint, so a chained re-merge checks it like a built part's
        SegmentStore.writeMarker(s"$outDir/pos", SegmentStore.PartitionMarker(
          0, Nil, 0L, 0L, s"pos|merged|$cfg", Nil))
        val posDicts = parts.zipWithIndex.map { case (p, i) =>
          linkAndRepoint(spark, PosStore.posDir(p), PosStore.dictDir(p),
            s"$outDir/pos", i, "pos_dict")
        }
        posDicts.reduce(_.unionByName(_))
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/pos_dict")
      case None if partsWithPos.nonEmpty =>
        System.err.println(
          s"[merge] positional sidecar dropped: only ${partsWithPos.size}/" +
            s"${parts.size} parts carry positions — rebuild the sidecar on " +
            s"the merged corpus (Build.buildPosStore) to restore phrase " +
            s"queries")
      case None =>
    }

    // ---- stats: union / sum ------------------------------------------
    parts.map(p => spark.read.parquet(s"$p/doc_stats")).reduce(_.unionByName(_))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/doc_stats")

    parts.map(p => spark.read.parquet(s"$p/term_stats")).reduce(_.unionByName(_))
      .groupBy($"term")
      .agg(sum($"df").as("df"), sum($"cf").as("cf"))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/term_stats")

    val totals = ranges.map(_._3).sum
    val avgdl = partStats.map(_.avgdl).zip(ranges)
      .map { case (a, (_, _, n)) => a * n }.sum / totals
    val tsMin = partStats.map(_.tsMin).min
    val tsMax = partStats.map(_.tsMax).max
    // Block-max bounds were encoded against each PART's avgdl; U(tf,dl)
    // grows with avgdl, and sup over (tf,dl) of U(a_new)/U(a_old) is
    // a_new/a_old. Each part's guarantee is partScale * storedBound >=
    // U(partAvgdl), so the composed scale is partScale * max(1,
    // mergedAvgdl/partAvgdl), worst over parts — re-merging a merged
    // part stays a true upper bound (rank identity, SURVEY hard-part 3)
    // at the cost of slightly looser pruning.
    val boundScale = partStats
      .map(cs => cs.boundScale * math.max(1.0, avgdl / cs.avgdl)).max
    // the (validated-common) analysis fingerprint carries forward so
    // chained re-merges keep enforcing compatibility
    Seq((totals, avgdl, boundScale, tsMin, tsMax, partStats.head.tokCfg))
      .toDF("n_docs", "avgdl", "bound_scale", "ts_min", "ts_max", "tok_cfg")
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/corpus_stats")

    // ---- ts artifact: doc ranges are disjoint, so part stores LINK
    // under flat names (t<part>-<idx>.bin — a chained re-merge
    // re-flattens instead of compounding prefixes) and their manifests
    // concatenate; an all-zero-ts part has no store and adds nothing. --
    if (partStats.exists(_.carriesTs)) {
      fsOut.mkdirs(new Path(s"$outDir/ts"))
      val metas = parts.zipWithIndex.flatMap { case (p, i) =>
        val fsIn = SegmentStore.fs(s"$p/ts")
        TsStore.readManifest(s"$p/ts").getOrElse(Seq.empty)
          .zipWithIndex.map { case (tf, j) =>
            val nn = s"t$i-$j.bin"
            linkOrCopy(fsIn, new Path(s"$p/ts/${tf.name}"),
              fsOut, new Path(s"$outDir/ts/$nn"))
            tf.copy(name = nn)
          }
      }
      TsStore.writeManifest(s"$outDir/ts", metas)
    }

    // ---- spell artifact: the delete-variant index keys on the UNION
    // vocab, so part artifacts can't be linked — regenerate from the
    // just-written merged term_stats (vocab-bound, same best-effort
    // guards as the build; a failure degrades to the engines' lazy
    // bounded path, never fails the merge). Without this, an index
    // served off a merge (every StreamIndexer epoch) re-derived the
    // delete index per serving JVM — the exact cost the artifact
    // removes.
    //
    // Per-epoch cost on a streaming merge is a DELIBERATE trade, and
    // bounded: trySpellArtifact self-disables above 2M vocab terms and
    // its delete index is budget-capped (EngineCore
    // .MaxSpellIndexEntries), so the worst case is a capped-vocab
    // collect + bounded index build — seconds, never O(accumulated
    // index). Regenerating each epoch amortizes across EVERY serving
    // JVM of that generation (a streaming deployment has many); the
    // alternative — artifact only on compaction epochs — would push a
    // lazy delete-index build into every serving JVM of every
    // in-between generation. Callers that want micro-batch latency
    // over serving warm-up set spellIndex=false (plumbed through
    // StreamIndexer's Build.Config). -----------------------------------
    if (spellIndex) Build.trySpellArtifact(spark, outDir)
  }

  /** Compaction: rewrite `indexDir`'s segment files with TRUE block-max
    * bounds recomputed under the index's own (merged) avgdl, resetting
    * `bound_scale` to exactly 1.
    *
    * Chained metadata-only merges compose `bound_scale` multiplicatively
    * (each re-merge loosens WAND's upper bounds by its avgdl ratio), so
    * a long-running StreamIndexer's pruning decays toward exhaustive
    * scoring. U(tf, dl) = BM25.normPart is idf-independent and the
    * posting payload (ids/tfs/dls varbyte) doesn't mention avgdl, so
    * compaction only replaces each block header's fixed-width maxU
    * double: records are self-delimiting, files rewrite in one streaming
    * pass each (distributed one task per segment file, no shuffle), byte
    * length is provably unchanged, and the dict's (file, offset, length)
    * pointers carry over verbatim. All other metadata links/copies;
    * corpus_stats is rewritten with bound_scale=1. */
  def compact(spark: SparkSession, indexDir: String, outDir: String): Unit = {
    val avgdl = CorpusStats.read(spark, indexDir).avgdl

    val fsIn = SegmentStore.fs(indexDir)
    val fsOut = SegmentStore.fs(outDir)
    fsOut.mkdirs(new Path(s"$outDir/segments/_markers"))
    // rewrite the DICT-REFERENCED files only (same rationale as
    // disjoint's linking): orphan .bin files from a prior in-place
    // rebuild are dropped at compaction instead of riding forever
    import spark.implicits._
    val segFiles = spark.read.parquet(s"$indexDir/dict")
      .select($"file").distinct().as[String].collect().toSeq.sorted
    val inSeg = s"$indexDir/segments"
    val outSeg = s"$outDir/segments"
    if (segFiles.nonEmpty)
      spark.sparkContext
        .parallelize(segFiles, math.min(segFiles.size,
          spark.sparkContext.defaultParallelism))
        .foreach(name => rewriteSegment(inSeg, outSeg, name, avgdl))

    // dict pointers are unchanged by construction; stats carry over
    Seq("dict", "doc_stats", "term_stats").foreach { sub =>
      spark.read.parquet(s"$indexDir/$sub")
        .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$sub")
    }
    // preserve whatever columns this generation carries (e.g. a plain
    // build's n_number_tokens); only the scale is rewritten
    spark.read.parquet(s"$indexDir/corpus_stats")
      .withColumn("bound_scale", lit(1.0))
      .write.mode(SaveMode.Overwrite).parquet(s"$outDir/corpus_stats")

    // ts + spell artifacts: content-identical, link under the SAME names
    TsStore.readManifest(s"$indexDir/ts").foreach { metas =>
      fsOut.mkdirs(new Path(s"$outDir/ts"))
      metas.foreach { tf =>
        linkOrCopy(fsIn, new Path(s"$indexDir/ts/${tf.name}"),
          fsOut, new Path(s"$outDir/ts/${tf.name}"))
      }
      TsStore.writeManifest(s"$outDir/ts", metas)
    }
    val spellSrc = graft.query.SpellStore.path(s"$indexDir/spell")
    if (fsIn.exists(spellSrc)) {
      fsOut.mkdirs(new Path(s"$outDir/spell"))
      linkOrCopy(fsIn, spellSrc, fsOut,
        graft.query.SpellStore.path(s"$outDir/spell"))
    }
  }

  /** One segment file's compaction pass: stream records (layout per
    * SegmentStore scaladoc), decode each block, recompute maxU with
    * `avgdl`, re-emit with identical structure/length. tmp+rename like
    * every other writer, so task retries are idempotent. */
  private def rewriteSegment(inDir: String, outDir: String, name: String,
                             avgdl: Double): Unit = {
    val fsIn = SegmentStore.fs(inDir)
    val fsOut = SegmentStore.fs(outDir)
    val srcPath = new Path(s"$inDir/$name")
    val len = fsIn.getFileStatus(srcPath).getLen
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fsIn.open(srcPath), 1 << 16))
    val tmp = new Path(s"$outDir/$name.tmp-${java.util.UUID.randomUUID()}")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fsOut.create(tmp, true), 1 << 16))
    var read = 0L
    try {
      while (read < len) {
        val df = in.readInt(); val nBlocks = in.readInt()
        out.writeInt(df); out.writeInt(nBlocks)
        read += 8L
        var bi = 0
        while (bi < nBlocks) {
          val n = in.readInt(); val first = in.readLong()
          val last = in.readLong(); val maxTf = in.readInt()
          in.readDouble() // stale maxU, recomputed below
          val blen = in.readInt()
          val bytes = new Array[Byte](blen)
          in.readFully(bytes)
          read += 36L + blen
          val ps = Codec.decodeBlock(Codec.Block(bytes, n, first, last, maxTf, 0.0))
          var m = 0.0
          var i = 0
          while (i < ps.length) {
            val u = graft.query.BM25.normPart(ps(i).tf, ps(i).dl, avgdl)
            if (u > m) m = u
            i += 1
          }
          out.writeInt(n); out.writeLong(first); out.writeLong(last)
          out.writeInt(maxTf); out.writeDouble(m); out.writeInt(blen)
          out.write(bytes)
          bi += 1
        }
      }
    } finally { in.close(); out.close() }
    val fin = new Path(s"$outDir/$name")
    if (fsOut.exists(fin)) fsOut.delete(fin, false)
    fsOut.rename(tmp, fin)
    val outLen = fsOut.getFileStatus(fin).getLen
    require(outLen == len, s"compaction changed $name length: $len -> $outLen")
  }
}
