package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Dedup, Similarity}
import graft.sources.IvfStore

/** Round-10 lifecycle pins (VERDICT r9 items 2–5): the prebuilt-index
  * auto-dispatch (fingerprint-gated), the incremental sharded append,
  * the targeted cell re-split, and the bounded span-frame registry.
  */
class IndexLifecycleSpec extends AnyFunSuite {

  lazy val spark = GraftSession.builder(cores = 4).getOrCreate()

  /** The CompiledExprSpec planted-dup fixture: every 20th vector
    * near-copies its predecessor → exactly n/20 qualifying pairs at
    * 0.9, recall-complete under every routing the suite pins. */
  private def plantedCorpus(n: Long) = spark.range(0, n).selectExpr(
      "id AS vec_id",
      "if(id % 20 = 19, id - 1, id) AS sid")
    .selectExpr("vec_id",
      """transform(sequence(0, 63), d -> cast(
          (pmod(xxhash64(sid, d, 7), 2001) - 1000) / 500.0
          + if(vec_id % 20 = 19,
              (pmod(xxhash64(vec_id, d, 8), 21) - 10) / 1000.0, 0.0)
        as float)) AS embedding""")

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Jobs run while `body` executes, via a job group + statusTracker
    * (the AppStatusStore updates asynchronously off the listener bus,
    * hence the settle loop). */
  private def jobsDuring[T](group: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    var last = -1
    var n = sc.statusTracker.getJobIdsForGroup(group).length
    val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
    while (n != last && System.nanoTime() < deadline) {
      last = n; Thread.sleep(150)
      n = sc.statusTracker.getJobIdsForGroup(group).length
    }
    (out, n)
  }

  // ------------------------------------------------- auto-dispatch
  test("auto-dispatch routes to a matching prebuilt SHARDED index (no " +
      "training jobs) and rejects a wrong-corpus or wrong-bucket index") {
    val emb = plantedCorpus(2000)
    val exact = pairs(Dedup.cosineDupPairsExact(emb, "vec_id",
      "embedding", 0.9).select("a", "b"))
    val (coarse, fine) = Similarity.trainShardedCodebook(emb, "vec_id",
      "embedding", targetBucket = 32)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dispatch_sh").toString
    IvfStore.writeShardedInt8(emb, coarse, fine, "vec_id", "embedding",
      dir, pCoarse = 4, pFine = 5, targetBucket = 32)
    // HIT: fingerprint + targetBucket match, stored depths cover the
    // probes=20 ask (pCoarse 4 >= 4, pFine 5 >= ceil(20/4))
    val ((hitDf, hitBranch), hitJobs) = jobsDuring("disp_hit") {
      Dedup.cosineDupPairsTrainedInt8Branch(emb, "vec_id", "embedding",
        0.9, targetBucket = 32, indexPath = dir)
    }
    assert(hitBranch == "indexed_sharded", s"branch $hitBranch")
    assert(pairs(hitDf.select("a", "b")) == exact)
    // MISS 1 — different corpus, same settings: the fingerprint check
    // must reject (a stale index silently used = wrong answers)
    val other = plantedCorpus(2400)
    val ((_, missBranch), missJobs) = jobsDuring("disp_miss") {
      Dedup.cosineDupPairsTrainedInt8Branch(other, "vec_id", "embedding",
        0.9, targetBucket = 32, indexPath = dir)
    }
    assert(missBranch == "flat", s"stale index was accepted: $missBranch")
    // MISS 2 — same corpus, different targetBucket ask
    val (_, tbBranch) = Dedup.cosineDupPairsTrainedInt8Branch(emb,
      "vec_id", "embedding", 0.9, targetBucket = 64, indexPath = dir)
    assert(tbBranch == "flat", s"bucket-mismatched index accepted: $tbBranch")
    // the index hit must do strictly less driver-visible work than the
    // in-query miss (which pays Lloyd's training at construction)
    assert(hitJobs < missJobs,
      s"indexed dispatch ran $hitJobs jobs vs $missJobs for in-query — " +
        "training was not skipped")
  }

  test("auto-dispatch routes to a matching prebuilt FLAT int8 index and " +
      "matches the in-query result exactly") {
    val emb = plantedCorpus(2000)
    val exact = pairs(Dedup.cosineDupPairsExact(emb, "vec_id",
      "embedding", 0.9).select("a", "b"))
    val cents = Dedup.dupCodebook(emb, "vec_id", "embedding",
      targetBucket = 32)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_dispatch_flat").toString
    IvfStore.writeInt8(emb, cents, "vec_id", "embedding", dir,
      maxProbes = 20, targetBucket = 32)
    val (df, branch) = Dedup.cosineDupPairsTrainedInt8Branch(emb,
      "vec_id", "embedding", 0.9, probes = 20, targetBucket = 32,
      indexPath = dir)
    assert(branch == "indexed_flat", s"branch $branch")
    assert(pairs(df.select("a", "b")) == exact)
    // no-index path still dispatches in-query (below the knee => flat)
    val (df2, b2) = Dedup.cosineDupPairsTrainedInt8Branch(emb, "vec_id",
      "embedding", 0.9, probes = 20, targetBucket = 32)
    assert(b2 == "flat")
    assert(pairs(df2.select("a", "b")) == exact)
  }

  // ------------------------------------------------- incremental append
  test("appendShardedInt8: append half the corpus to an index of the " +
      "other half == a from-scratch union build == the exact join; the " +
      "fingerprint advances to the union") {
    val emb = plantedCorpus(2000)
    // every planted pair (i-1, i) crosses parity, so EVERY qualifying
    // pair has one side in the base index and one side appended — the
    // adversarial split for an append path
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    val exact = pairs(Dedup.cosineDupPairsExact(emb, "vec_id",
      "embedding", 0.9).select("a", "b"))
    assert(exact.size == 100)
    val (coarse, fine) = Similarity.trainShardedCodebook(base, "vec_id",
      "embedding", targetBucket = 32)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_append").toString
    IvfStore.writeShardedInt8(base, coarse, fine, "vec_id", "embedding",
      dir, pCoarse = 4, pFine = 8, targetBucket = 32)
    val appended = IvfStore.appendShardedInt8(delta, "vec_id",
      "embedding", dir)
    assert(appended == 1000L)
    val fromAppended = pairs(Dedup.cosineDupPairsFromShardedIndex(spark,
      dir, "vec_id", "embedding", 0.9).select("a", "b"))
    // from-scratch union build over the SAME (base-trained) codebooks:
    // routing is a pure function of (vector, codebooks, depths), so the
    // appended index must reproduce it bit-for-bit
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_append_scratch").toString
    IvfStore.writeShardedInt8(emb, coarse, fine, "vec_id", "embedding",
      dir2, pCoarse = 4, pFine = 8, targetBucket = 32)
    val fromScratch = pairs(Dedup.cosineDupPairsFromShardedIndex(spark,
      dir2, "vec_id", "embedding", 0.9).select("a", "b"))
    assert(fromAppended == fromScratch,
      s"missing=${(fromScratch -- fromAppended).size} " +
        s"extra=${(fromAppended -- fromScratch).size}")
    assert(fromAppended == exact)
    // stored rows, probe lists and packs agree row-for-row too (not
    // just the pair sets): the append IS the union build
    def stored(d: String) = spark.read.parquet(s"$d/data")
      .select(col("vec_id"), col("probe_buckets"),
        col("int8_pack.cnorm"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(stored(dir) == stored(dir2))
    // fingerprint advanced compositionally to the union corpus — the
    // auto-dispatcher must now accept the index for the UNION
    assert(IvfStore.readIndexMeta(spark, dir).get("fingerprint") ==
      IvfStore.corpusFingerprint(emb, "vec_id"))
    val (_, branch) = Dedup.cosineDupPairsTrainedInt8Branch(emb,
      "vec_id", "embedding", 0.9, targetBucket = 32, indexPath = dir)
    assert(branch == "indexed_sharded")
    // ...and reject it for the base half alone (stale for that ask)
    val (_, baseBranch) = Dedup.cosineDupPairsTrainedInt8Branch(base,
      "vec_id", "embedding", 0.9, targetBucket = 32, indexPath = dir)
    assert(baseBranch == "flat")
  }

  // ------------------------------------------------- targeted re-split
  test("resplitShardedCells: an append-bloated cell gets a deepened " +
      "fine codebook (bucket fill back to ~targetBucket), other cells " +
      "untouched, dedup still exact") {
    // the CompiledExprSpec pile fixture: 900 of 1000 vectors around one
    // anchor region, 100 scattered — with a LARGE build-time maxK2 the
    // builder never splits, so the pile lands in one cell
    val emb = spark.range(0, 1000).selectExpr(
        "id AS vec_id",
        """CASE WHEN id < 900 THEN
            zip_with(
              transform(sequence(0, 15), d -> cast(
                (pmod(xxhash64(0L, d, 7), 2001) - 1000) / 500.0 as float)),
              transform(sequence(0, 15), d -> cast(
                (pmod(xxhash64(id, d, 8), 1201) - 600) / 1000.0 as float)),
              (a, n) -> a + n)
          ELSE transform(sequence(0, 15), d -> cast(
            (pmod(xxhash64(id, d, 9), 2001) - 1000) / 500.0 as float))
          END AS embedding""")
    val (coarse, fine) = Similarity.trainShardedCodebook(emb, "vec_id",
      "embedding", targetBucket = 64, maxK2 = 1 << 20)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_resplit").toString
    // stored depths stay EXHAUSTIVE even after the deepening (post-
    // resplit the pile cell holds ceil(900/4) = 225 fine buckets, and
    // resplit recomputes residents at the STORED pFine), so the
    // exactness check below tests the maintenance op, not probe recall
    IvfStore.writeShardedInt8(emb, coarse, fine, "vec_id", "embedding",
      dir, pCoarse = coarse.count().toInt, pFine = 256, targetBucket = 64)
    // maintenance ask at targetBucket=4, maxK2=16 => cellCap=64: the
    // ~900-row pile cell is far past it
    val loads = IvfStore.shardedCellLoads(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(loads.values.exists(_ > 64), s"fixture lost its pile: $loads")
    val fineBefore = spark.read.parquet(s"$dir/fine")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val split = IvfStore.resplitShardedCells(spark, dir,
      targetBucket = 4, maxK2 = 16)
    assert(split.nonEmpty, "no cell was re-split")
    // deepened fine layer: every re-split cell now holds
    // ceil(load/targetBucket) fine buckets (mean fill back to ~4)
    val fineAfter = spark.read.parquet(s"$dir/fine")
    split.foreach { c =>
      val k2 = fineAfter.filter(col("cell") === c).count()
      assert(k2 == math.ceil(loads(c) / 4.0).toLong,
        s"cell $c: k2=$k2 for load=${loads(c)}")
    }
    // untouched cells keep their fine rows verbatim
    val keptAfter = fineAfter.filter(!col("cell").isInCollection(split))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(keptAfter == fineBefore.filterNot(p => split.contains(p._1)))
    // loads are unchanged (a re-split moves buckets, not residents)...
    val loadsAfter = IvfStore.shardedCellLoads(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(loadsAfter == loads)
    // ...and the index still answers exactly at exhaustive probes
    val exact = pairs(Dedup.cosineDupPairsExact(emb, "vec_id",
      "embedding", 0.9).select("a", "b"))
    val afterPairs = pairs(Dedup.cosineDupPairsFromShardedIndex(spark,
      dir, "vec_id", "embedding", 0.9).select("a", "b"))
    assert(afterPairs == exact,
      s"missing=${(exact -- afterPairs).size} " +
        s"extra=${(afterPairs -- exact).size}")
  }

  // ------------------------------------------------- span-frame registry
  test("span-frame registry is bounded: N different (k, minCount) asks " +
      "leave at most 4 cached frames, results unaffected") {
    import spark.implicits._
    val d = (0 until 40).map(i =>
      (i.toLong, s"alpha beta gamma delta w$i x$i y$i z$i alpha beta " +
        s"gamma delta p$i q$i"))
      .toDF("doc_id", "text")
    val expected = (1 to 6).map { k =>
      k -> Dedup.repeatedKgramSpans(d, "text", "doc_id", k = k)
        .agg(sum("n_spans")).head().getLong(0)
    }
    assert(Dedup.spanCacheSize <= 4,
      s"registry grew past its cap: ${Dedup.spanCacheSize}")
    // re-asking (cache hits and rebuilt-after-eviction entries alike)
    // returns the same numbers
    expected.foreach { case (k, v) =>
      assert(Dedup.repeatedKgramSpans(d, "text", "doc_id", k = k)
        .agg(sum("n_spans")).head().getLong(0) == v)
    }
    assert(Dedup.spanCacheSize <= 4)
  }

  // ------------------------------------------------- crash recovery
  test("healShardedIndex: an UNSEALED stage is discarded (index " +
      "untouched), and while any stage pends the dispatcher refuses " +
      "the index") {
    val emb = plantedCorpus(2000)
    val exact = pairs(Dedup.cosineDupPairsExact(emb, "vec_id",
      "embedding", 0.9).select("a", "b"))
    val (coarse, fine) = Similarity.trainShardedCodebook(emb, "vec_id",
      "embedding", targetBucket = 32)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_heal_unsealed").toString
    IvfStore.writeShardedInt8(emb, coarse, fine, "vec_id", "embedding",
      dir, pCoarse = 4, pFine = 5, targetBucket = 32)
    // simulate a crash mid-stage: a partial stage dir (no _EPOCH seal)
    // and a retrained fine temp, live index untouched
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/data-resplit-tmp-cell0"))
    spark.read.parquet(s"$dir/fine").write.mode("overwrite")
      .parquet(s"$dir/fine-resplit-tmp")
    // pending stage => incomplete layout: dispatch falls back in-query,
    // append refuses
    assert(IvfStore.readIndexMeta(spark, dir).isEmpty)
    val (_, branch) = Dedup.cosineDupPairsTrainedInt8Branch(emb,
      "vec_id", "embedding", 0.9, targetBucket = 32, indexPath = dir)
    assert(branch == "flat", s"pending-stage index was accepted: $branch")
    intercept[IllegalStateException] {
      IvfStore.appendShardedInt8(emb.limit(1), "vec_id", "embedding", dir)
    }
    // heal: unsealed stage (and the derivable fine temp) are dropped,
    // nothing was published, the index answers exactly again
    assert(IvfStore.healShardedIndex(spark, dir).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/data-resplit-tmp-cell0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/fine-resplit-tmp")))
    assert(IvfStore.readIndexMeta(spark, dir).nonEmpty)
    assert(pairs(Dedup.cosineDupPairsFromShardedIndex(spark, dir,
      "vec_id", "embedding", 0.9).select("a", "b")) == exact)
  }

  test("healShardedIndex: a SEALED stage's publish completes after a " +
      "crash — from the crash-before-publish state AND from a " +
      "half-published replay — landing bit-identical to the uncrashed " +
      "re-split") {
    // the resplit pile fixture (one overgrown cell) built TWICE:
    // `done` re-splits normally; `crashed` is frozen at the sealed-
    // stage-nothing-published crash point and must heal to `done`
    def pile() = spark.range(0, 1000).selectExpr(
        "id AS vec_id",
        """CASE WHEN id < 900 THEN
            zip_with(
              transform(sequence(0, 15), d -> cast(
                (pmod(xxhash64(0L, d, 7), 2001) - 1000) / 500.0 as float)),
              transform(sequence(0, 15), d -> cast(
                (pmod(xxhash64(id, d, 8), 1201) - 600) / 1000.0 as float)),
              (a, n) -> a + n)
          ELSE transform(sequence(0, 15), d -> cast(
            (pmod(xxhash64(id, d, 9), 2001) - 1000) / 500.0 as float))
          END AS embedding""")
    val emb = pile()
    val (coarse, fine) = Similarity.trainShardedCodebook(emb, "vec_id",
      "embedding", targetBucket = 64, maxK2 = 1 << 20)
    def build(): String = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_heal_sealed").toString
      IvfStore.writeShardedInt8(emb, coarse, fine, "vec_id", "embedding",
        d, pCoarse = coarse.count().toInt, pFine = 256, targetBucket = 64)
      d
    }
    val done = build()
    val crashed = build()
    val split = IvfStore.resplitShardedCells(spark, done,
      targetBucket = 4, maxK2 = 16)
    assert(split.nonEmpty)
    // freeze `crashed` at the crash point: one sealed stage per
    // re-split cell, each containing exactly the dirs the publish
    // renames in unchanged (= `done`'s post-split dirs for that cell)
    // under an _EPOCH seal (= the staged label watershed); the fine
    // temp is the retrained layer (= `done`'s published fine);
    // `crashed`'s own data/fine are still pre-split
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val epochs = split.map { cell =>
      val lo = cell.toLong << 40
      val hi = (cell.toLong + 1) << 40
      val stage = new org.apache.hadoop.fs.Path(
        s"$crashed/data-resplit-tmp-cell$cell")
      fs.mkdirs(stage)
      val staged = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$done/data"))
        .filter { st =>
          val nm = st.getPath.getName
          nm.startsWith("bucket=") && {
            val v = nm.stripPrefix("bucket=").toLong; v >= lo && v < hi }
        }
      assert(staged.nonEmpty)
      staged.foreach { st =>
        org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
          new org.apache.hadoop.fs.Path(stage, st.getPath.getName),
          false, spark.sparkContext.hadoopConfiguration)
      }
      val epoch = staged.map(
        _.getPath.getName.stripPrefix("bucket=").toLong - lo).min
      val out = fs.create(new org.apache.hadoop.fs.Path(stage, "_EPOCH"))
      out.writeBytes(epoch.toString); out.close()
      cell -> epoch
    }.toMap
    spark.read.parquet(s"$done/fine").write.mode("overwrite")
      .parquet(s"$crashed/fine-resplit-tmp")
    assert(IvfStore.readIndexMeta(spark, crashed).isEmpty) // refused
    // make the state ADVERSARIAL: half-publish the FIRST cell by hand
    // (fine published, one old dir already retired, one staged dir
    // already moved), then heal — the replay must finish idempotently
    val cell0 = split.head
    val lo0 = cell0.toLong << 40
    val hi0 = (cell0.toLong + 1) << 40
    val fineP = new org.apache.hadoop.fs.Path(s"$crashed/fine")
    fs.delete(fineP, true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$crashed/fine-resplit-tmp"),
      fineP)
    val oldDirs = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$crashed/data"))
      .filter { st =>
        val nm = st.getPath.getName
        nm.startsWith("bucket=") && {
          val v = nm.stripPrefix("bucket=").toLong
          v >= lo0 && v < hi0 && (v - lo0) < epochs(cell0) }
      }
    assert(oldDirs.nonEmpty)
    fs.delete(oldDirs.head.getPath, true)
    val stage0 = new org.apache.hadoop.fs.Path(
      s"$crashed/data-resplit-tmp-cell$cell0")
    val firstStaged = fs.listStatus(stage0)
      .filter(_.getPath.getName.startsWith("bucket=")).head
    fs.rename(firstStaged.getPath, new org.apache.hadoop.fs.Path(
      s"$crashed/data/${firstStaged.getPath.getName}"))
    val healed = IvfStore.healShardedIndex(spark, crashed)
    assert(healed.toSet == split.toSet)
    // healed state == the uncrashed re-split, row for row
    def stored(d: String) = spark.read.parquet(s"$d/data")
      .select(col("vec_id"), col("probe_buckets"),
        col("int8_pack.cnorm"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1),
        r.getDouble(2), r.getLong(3))).toSet
    val sc2 = stored(crashed); val sd2 = stored(done)
    assert(sc2 == sd2,
      s"missing=${(sd2 -- sc2).toSeq.map(t => (t._1, t._4)).sorted.take(8)} " +
        s"extra=${(sc2 -- sd2).toSeq.map(t => (t._1, t._4)).sorted.take(8)} " +
        s"nMissing=${(sd2 -- sc2).size} nExtra=${(sc2 -- sd2).size}")
    def fineSet(d: String) = spark.read.parquet(s"$d/fine")
      .select("cell", "flabel").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(fineSet(crashed) == fineSet(done))
    assert(IvfStore.readIndexMeta(spark, crashed).nonEmpty)
    // and the healed index still answers exactly
    val exact = pairs(Dedup.cosineDupPairsExact(emb, "vec_id",
      "embedding", 0.9).select("a", "b"))
    assert(pairs(Dedup.cosineDupPairsFromShardedIndex(spark, crashed,
      "vec_id", "embedding", 0.9).select("a", "b")) == exact)
  }

  test("appendOrResplit: a delta that bloats a cell past the cap " +
      "triggers the targeted re-split, using the index's stamped " +
      "targetBucket by default") {
    // base: 100 scattered vectors (no pile) => small cells everywhere;
    // delta: a 900-vector pile that lands in one cell and blows the cap
    def vecs(lo: Long, hi: Long, pile: Boolean) = {
      val expr = if (pile)
        """zip_with(
             transform(sequence(0, 15), d -> cast(
               (pmod(xxhash64(0L, d, 7), 2001) - 1000) / 500.0 as float)),
             transform(sequence(0, 15), d -> cast(
               (pmod(xxhash64(id, d, 8), 1201) - 600) / 1000.0 as float)),
             (a, n) -> a + n) AS embedding"""
      else
        """transform(sequence(0, 15), d -> cast(
             (pmod(xxhash64(id, d, 9), 2001) - 1000) / 500.0 as float))
           AS embedding"""
      spark.range(lo, hi).selectExpr("id AS vec_id", expr)
    }
    val base = vecs(0, 100, pile = false)
    val delta = vecs(100, 1000, pile = true)
    val (coarse, fine) = Similarity.trainShardedCodebook(base, "vec_id",
      "embedding", targetBucket = 4, maxK2 = 16)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_append_resplit").toString
    IvfStore.writeShardedInt8(base, coarse, fine, "vec_id", "embedding",
      dir, pCoarse = coarse.count().toInt, pFine = 256, targetBucket = 4)
    val (n, resplit) = IvfStore.appendOrResplit(delta, "vec_id",
      "embedding", dir, maxK2 = 16) // targetBucket from the stamp (4)
    assert(n == 900L)
    assert(resplit.nonEmpty, "the pile cell was not re-split")
    // loads: the pile cell holds >= 900 residents but its fine layer
    // deepened to ceil(load/4) buckets
    val loads = IvfStore.shardedCellLoads(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val fineAfter = spark.read.parquet(s"$dir/fine")
    resplit.foreach { c =>
      val k2 = fineAfter.filter(col("cell") === c).count()
      assert(k2 == math.ceil(loads(c) / 4.0).toLong,
        s"cell $c: k2=$k2 for load=${loads(c)}")
    }
    // fingerprint advanced to the union; exactness holds at the stored
    // exhaustive depths
    val union = base.unionByName(delta)
    assert(IvfStore.readIndexMeta(spark, dir).get("fingerprint") ==
      IvfStore.corpusFingerprint(union, "vec_id"))
    val exact = pairs(Dedup.cosineDupPairsExact(union, "vec_id",
      "embedding", 0.9).select("a", "b"))
    assert(pairs(Dedup.cosineDupPairsFromShardedIndex(spark, dir,
      "vec_id", "embedding", 0.9).select("a", "b")) == exact)
  }

  // ------------------------------------------- r11: fingerprint hardening
  private def corpusWithIds(ids: Seq[Long]) = {
    import spark.implicits._
    ids.toDF("vec_id").selectExpr("vec_id",
      """transform(sequence(0, 63), d -> cast(
          (pmod(xxhash64(vec_id, d, 7), 2001) - 1000) / 500.0
        as float)) AS embedding""")
  }

  test("corpusFingerprint v2: an id multiset that collides count+xor " +
      "(the structured {a,a}->{b,b} edit) is rejected by the sum leg; " +
      "a pre-v2 stamped index is rejected, never mis-accepted") {
    // base ∪ {3,3} vs base ∪ {7,7}: identical-id PAIRS contribute
    // nothing to XOR under any hash, so count and xor both collide —
    // the r10 fingerprint would accept the stale index here
    val idsA = (0L until 10L) ++ Seq(3L, 3L)
    val idsB = (0L until 10L) ++ Seq(7L, 7L)
    val (a, b) = (corpusWithIds(idsA), corpusWithIds(idsB))
    def oldLegs(df: org.apache.spark.sql.DataFrame) = {
      val r = df.agg(count(lit(1)),
        expr("bit_xor(xxhash64(vec_id))")).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(oldLegs(a) == oldLegs(b),
      "fixture lost its xor collision — the test would prove nothing")
    assert(IvfStore.corpusFingerprint(a, "vec_id") !=
      IvfStore.corpusFingerprint(b, "vec_id"))
    // end-to-end: an index built on A must NOT serve B
    val (coarse, fine) = Similarity.trainShardedCodebook(a, "vec_id",
      "embedding", targetBucket = 4)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fp_v2").toString
    IvfStore.writeShardedInt8(a, coarse, fine, "vec_id", "embedding",
      dir, pCoarse = 4, pFine = 8, targetBucket = 4)
    val (_, bBranch) = Dedup.cosineDupPairsTrainedInt8Branch(b, "vec_id",
      "embedding", 0.9, targetBucket = 4, indexPath = dir)
    assert(bBranch == "flat", s"xor-colliding corpus accepted: $bBranch")
    val (_, aBranch) = Dedup.cosineDupPairsTrainedInt8Branch(a, "vec_id",
      "embedding", 0.9, targetBucket = 4, indexPath = dir)
    assert(aBranch == "indexed_sharded", s"own corpus rejected: $aBranch")
    // pre-v2 stamp: rewrite the meta fingerprint to the r10 format
    // (count+xor, no version, no sum). The dispatcher computes a v2
    // string, so the stale stamp can never match — in-query fallback —
    // and an append refuses loudly instead of silently re-stamping.
    import spark.implicits._
    val (n0, x0) = oldLegs(a)
    val meta = IvfStore.readIndexMeta(spark, dir).get
    (meta + ("fingerprint" -> s"n${n0}x$x0")).toSeq
      .toDF("key", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    val (_, preV2) = Dedup.cosineDupPairsTrainedInt8Branch(a, "vec_id",
      "embedding", 0.9, targetBucket = 4, indexPath = dir)
    assert(preV2 == "flat", s"pre-v2 index accepted: $preV2")
    val e = intercept[IllegalStateException] {
      IvfStore.appendShardedInt8(corpusWithIds(Seq(100L)), "vec_id",
        "embedding", dir)
    }
    assert(e.getMessage.contains("pre-v2"), e.getMessage)
  }

  // ------------------------------------------- r11: stored_depth stamp
  test("flat dispatch decides probe-depth coverage from meta alone: " +
      "stored_depth is stamped at write time, and a too-shallow index " +
      "is rejected without any data-dir read") {
    val emb = plantedCorpus(2000)
    val cents = Dedup.dupCodebook(emb, "vec_id", "embedding",
      targetBucket = 32)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_depth").toString
    IvfStore.writeInt8(emb, cents, "vec_id", "embedding", dir,
      maxProbes = 20, targetBucket = 32)
    val meta = IvfStore.readIndexMeta(spark, dir).get
    assert(meta("stored_depth").toInt ==
      math.min(20L, cents.count()).toInt, meta.toString)
    // decision-only fixture: a layout whose data dir holds ONLY the
    // _SUCCESS marker — unreadable as parquet. The r10 dispatcher read
    // one data row to learn the depth and would throw here; the meta-
    // only decision must cleanly REJECT (stored 2 < asked 20) into the
    // in-query path without ever opening the data dir.
    import spark.implicits._
    val shallow = java.nio.file.Files
      .createTempDirectory("graft_depth_shallow").toString
    (meta + ("max_probes" -> "2") + ("stored_depth" -> "2")).toSeq
      .toDF("key", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$shallow/meta")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$shallow/data"))
    fs.create(new org.apache.hadoop.fs.Path(
      s"$shallow/data/_SUCCESS")).close()
    val (_, branch) = Dedup.cosineDupPairsTrainedInt8Branch(emb,
      "vec_id", "embedding", 0.9, probes = 20, targetBucket = 32,
      indexPath = shallow)
    assert(branch == "flat", s"too-shallow index accepted: $branch")
  }

  // ------------------------------------------- r11: heal-forward append
  test("a crashed append heals FORWARD: the sealed stage publishes to " +
      "bit-identical state (even from a half-published replay), an " +
      "unsealed stage is discarded, and mid-append the live index is " +
      "NEVER polluted — the base corpus still dispatches to it") {
    val emb = plantedCorpus(2000)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    val (coarse, fine) = Similarity.trainShardedCodebook(base, "vec_id",
      "embedding", targetBucket = 32)
    def build(): String = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_heal_append").toString
      IvfStore.writeShardedInt8(base, coarse, fine, "vec_id",
        "embedding", d, pCoarse = 4, pFine = 8, targetBucket = 32)
      d
    }
    val done = build()
    val crashed = build()
    assert(IvfStore.appendShardedInt8(delta, "vec_id", "embedding",
      done) == 1000L)
    // freeze `crashed` exactly at the sealed-but-unpublished point
    assert(IvfStore.stageAppend(delta, "vec_id", "embedding",
      crashed) == 1000L)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(
      s"$crashed/data-append-tmp")
    assert(fs.exists(new org.apache.hadoop.fs.Path(stage, "_APPEND")))
    // THE r10 ADVICE BUG, now structurally impossible: mid-append the
    // live data dir holds only base rows and the live meta only the
    // base fingerprint — but the pending stage makes the layout
    // incomplete, so neither the base corpus nor the union can
    // dispatch to it, and a concurrent append refuses
    assert(IvfStore.readIndexMeta(spark, crashed).isEmpty)
    val (_, pend) = Dedup.cosineDupPairsTrainedInt8Branch(base, "vec_id",
      "embedding", 0.9, targetBucket = 32, indexPath = crashed)
    assert(pend == "flat", s"pending-append index accepted: $pend")
    intercept[IllegalStateException] {
      IvfStore.appendShardedInt8(delta.limit(1), "vec_id", "embedding",
        crashed)
    }
    // adversarial replay state: half-publish one staged bucket by hand
    val staged = fs.listStatus(stage)
      .filter(_.getPath.getName.startsWith("bucket="))
    assert(staged.nonEmpty)
    val first = staged.head
    val liveDst = new org.apache.hadoop.fs.Path(
      s"$crashed/data/${first.getPath.getName}")
    if (!fs.exists(liveDst)) fs.rename(first.getPath, liveDst)
    else {
      val f = fs.listStatus(first.getPath).head
      fs.rename(f.getPath, new org.apache.hadoop.fs.Path(liveDst,
        f.getPath.getName))
    }
    // heal finishes the publish; the result is bit-identical to the
    // uncrashed append — rows, meta fingerprint, dispatch acceptance
    IvfStore.healShardedIndex(spark, crashed)
    assert(!fs.exists(stage))
    def stored(d: String) = spark.read.parquet(s"$d/data")
      .select(col("vec_id"), col("probe_buckets"),
        col("int8_pack.cnorm"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1),
        r.getDouble(2), r.getLong(3))).toSet
    assert(stored(crashed) == stored(done))
    assert(IvfStore.readIndexMeta(spark, crashed).get("fingerprint") ==
      IvfStore.readIndexMeta(spark, done).get("fingerprint"))
    val (_, healedBranch) = Dedup.cosineDupPairsTrainedInt8Branch(emb,
      "vec_id", "embedding", 0.9, targetBucket = 32,
      indexPath = crashed)
    assert(healedBranch == "indexed_sharded")
    val exact = pairs(Dedup.cosineDupPairsExact(emb, "vec_id",
      "embedding", 0.9).select("a", "b"))
    assert(pairs(Dedup.cosineDupPairsFromShardedIndex(spark, crashed,
      "vec_id", "embedding", 0.9).select("a", "b")) == exact)
    // an UNSEALED stage (crash before the seal) is discarded with the
    // live index untouched — back to the base index, which the BASE
    // corpus dispatches to again
    val unsealed = build()
    fs.mkdirs(new org.apache.hadoop.fs.Path(
      s"$unsealed/data-append-tmp/bucket=999"))
    assert(IvfStore.readIndexMeta(spark, unsealed).isEmpty)
    IvfStore.healShardedIndex(spark, unsealed)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$unsealed/data-append-tmp")))
    val (_, baseBranch) = Dedup.cosineDupPairsTrainedInt8Branch(base,
      "vec_id", "embedding", 0.9, targetBucket = 32,
      indexPath = unsealed)
    assert(baseBranch == "indexed_sharded")
  }

  // ------------------------------------------- r11: ledger'd ingest + index
  test("ingestWithIndex: the ledger'd ingest loop keeps a registered " +
      "sharded index current — survivors seal the ledgers AND append " +
      "into the index, whose post-ingest state equals a from-scratch " +
      "same-codebook build of (base ∪ survivors)") {
    import graft.sources.{CorpusIngest, DedupLedger, NearDupLedger}
    import graft.functions.Curation
    // every doc: 12 per-id-unique words (no shared shingles => no
    // cross-doc band collisions) + a planted near-dup embedding
    def corpus(lo: Long, hi: Long) = spark.range(lo, hi).selectExpr(
        "id AS doc_id",
        """concat('alpha', id, ' beta', id, ' gamma', id, ' delta', id,
           ' eps', id, ' zeta', id, ' eta', id, ' theta', id,
           ' iota', id, ' kappa', id, ' lam', id, ' mu', id) AS text""",
        """transform(sequence(0, 63), d -> cast(
            (pmod(xxhash64(if(id % 20 = 19, id - 1, id), d, 7), 2001)
              - 1000) / 500.0
            + if(id % 20 = 19,
                (pmod(xxhash64(id, d, 8), 21) - 10) / 1000.0, 0.0)
          as float)) AS embedding""")
    val base = corpus(0, 400)
    val cleanDelta = corpus(400, 450)
    // gate-fail junk (punct storm) + an exact-prefix copy of a seeded
    // doc under a new id: both must be screened out and NEVER reach
    // the ledgers or the index
    val junk = corpus(450, 451).withColumn("text",
      lit("junk words here ?!?!?!?!?!?!?!?!?!?!?!?!?!?!?!?!?!?!"))
    val dup = corpus(7, 8).withColumn("doc_id", lit(451L))
    val batch = cleanDelta.unionByName(junk).unionByName(dup)
    val ex = java.nio.file.Files
      .createTempDirectory("graft_ingidx_ex").toString
    val nd = java.nio.file.Files
      .createTempDirectory("graft_ingidx_nd").toString
    DedupLedger.write(base, "text", ex, bucketChars = 1)
    NearDupLedger.write(base, "text", "doc_id", nd, bucketChars = 1)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ingidx_ivf").toString
    val (coarse, fine) = Similarity.trainShardedCodebook(base, "doc_id",
      "embedding", targetBucket = 32)
    IvfStore.writeShardedInt8(base, coarse, fine, "doc_id", "embedding",
      dir, pCoarse = 4, pFine = 8, targetBucket = 32)
    val cfg = Curation.Config(lang = None)
    val (fresh, n, _) = CorpusIngest.ingestWithIndex(spark, batch,
      "text", "doc_id", "embedding", ex, nd, dir, cfg = cfg)
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet ==
      (400L until 450L).toSet)
    assert(n == 50L)
    // index fingerprint advanced to base ∪ survivors, and the stored
    // rows equal a from-scratch same-codebook union build
    val union = base.unionByName(cleanDelta)
    assert(IvfStore.readIndexMeta(spark, dir).get("fingerprint") ==
      IvfStore.corpusFingerprint(union, "doc_id"))
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft_ingidx_scratch").toString
    IvfStore.writeShardedInt8(union, coarse, fine, "doc_id", "embedding",
      dir2, pCoarse = 4, pFine = 8, targetBucket = 32)
    def stored(d: String) = spark.read.parquet(s"$d/data")
      .select(col("doc_id"), col("probe_buckets"),
        col("int8_pack.cnorm"), col("bucket"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1),
        r.getDouble(2), r.getLong(3))).toSet
    assert(stored(dir) == stored(dir2))
    val exact = pairs(Dedup.cosineDupPairsExact(union, "doc_id",
      "embedding", 0.9).select("a", "b"))
    assert(pairs(Dedup.cosineDupPairsFromShardedIndex(spark, dir,
      "doc_id", "embedding", 0.9).select("a", "b")) == exact)
    // the NEXT batch amortizes against it: auto-dispatch accepts the
    // post-ingest index for the union corpus
    val (_, branch) = Dedup.cosineDupPairsTrainedInt8Branch(union,
      "doc_id", "embedding", 0.9, targetBucket = 32, indexPath = dir)
    assert(branch == "indexed_sharded")
    // replaying the SAME batch is a no-op end to end: the ledgers are
    // sealed (empty survivor set) and the index stamp is unchanged
    val (fresh2, n2, _) = CorpusIngest.ingestWithIndex(spark, batch,
      "text", "doc_id", "embedding", ex, nd, dir, cfg = cfg)
    assert(fresh2.count() == 0 && n2 == 0L)
    assert(IvfStore.readIndexMeta(spark, dir).get("fingerprint") ==
      IvfStore.corpusFingerprint(union, "doc_id"))
  }

  // ------------------------------------------- delta screen
  test("delta screen: index reads are partition- or column-pruned") {
    // Dedup.cosineDupPairsDeltaIndexInt8 (q_dedup_cosine_delta) must
    // stay DELTA-scale against a large index: every read of the index
    // `data` directory is partition-pruned (PartitionFilters on
    // `bucket`) or column-pruned to the narrow probe columns — the
    // full-index (id, embedding) scan must never appear in its plans
    val emb = spark.range(0, 400).selectExpr("id AS vec_id").selectExpr(
      "vec_id",
      """transform(sequence(0, 15), d -> cast(
          (pmod(xxhash64(vec_id, d), 2001) - 1000) / 500.0 as float))
        AS embedding""")
    val (base, delta) = (emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 === 1))
    val (coarse, fine) = Similarity.trainShardedCodebook(base, "vec_id",
      "embedding", targetBucket = 32)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_planshape_ivf").toString
    IvfStore.writeShardedInt8(base, coarse, fine, "vec_id", "embedding",
      dir, pCoarse = coarse.count().toInt, pFine = 8, targetBucket = 32)
    val pairs = Dedup.cosineDupPairsDeltaIndexInt8(spark, dir, delta,
      "vec_id", "embedding", threshold = 0.9)
    pairs.collect() // execute so the adaptive plan is final
    val plan = pairs.queryExecution.executedPlan.toString
    // scan A / scan C: bucket-pruned reads of the data dir
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"),
      s"no partition-pruned index read in the screen plan:\n$plan")
    // scan B reads the narrow probe columns only — no plan node may
    // scan the data dir with BOTH the embedding column and no bucket
    // partition filter (that would be the corpus-scale read the delta
    // screen exists to avoid). Each FileScan renders as ONE line in
    // toString, carrying Location + PartitionFilters + ReadSchema — a
    // single-line test, so a neighboring scan's fields cannot bleed in.
    val dataScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains(s"$dir/data"))
      .toSeq
    assert(dataScans.nonEmpty, s"no index data scans found in:\n$plan")
    val fullScan = dataScans.filter(l =>
      l.contains("embedding") && l.contains("PartitionFilters: []"))
    assert(fullScan.isEmpty,
      s"unpruned full-width index scan in screen plan:\n${fullScan.mkString("\n")}")
  }

  test("delta screen + append over two batches == exact keep-first oracle") {
    // clusters {10k, 10k+5, 10k+7, 10k+8, 10k+9} (tiny per-id jitter):
    // 10k and 10k+8 are even -> BASE (indexed at build); the odd
    // members alternate between d1 (id%4==1) and d2 (id%4==3) with k's
    // parity, so the screen sees batch-vs-index, batch-vs-earlier-
    // batch-survivor AND in-batch pairs across the two batches
    val emb = spark.range(0, 600).selectExpr(
        "id AS vec_id",
        "if(id % 10 in (5, 7, 8, 9), id - id % 10, id) AS sid")
      .selectExpr("vec_id",
        """transform(sequence(0, 31), d -> cast(
            (pmod(xxhash64(sid, d, 7), 2001) - 1000) / 500.0
            + if(sid <> vec_id,
                (pmod(xxhash64(vec_id, d, 8), 21) - 10) / 1000.0, 0.0)
          as float)) AS embedding""")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val d1 = emb.filter(col("vec_id") % 4 === 1)
    val d2 = emb.filter(col("vec_id") % 4 === 3)
    val threshold = 0.9
    val (coarse, fine) = Similarity.trainShardedCodebook(base, "vec_id",
      "embedding", targetBucket = 32)
    // exhaustive depths (k1 is small on this fixture), so the screen's
    // recall provably equals the exact join and the oracle is exact
    val idx = java.nio.file.Files
      .createTempDirectory("graft_ingest_ivf_b").toString
    IvfStore.writeShardedInt8(base, coarse, fine, "vec_id",
      "embedding", idx, pCoarse = coarse.count().toInt, pFine = 64,
      targetBucket = 32)
    def storedIds(d: String): Set[Long] =
      spark.read.parquet(s"$d/data").select("vec_id").collect()
        .map(_.getLong(0)).toSet
    // ---- the exact-join oracle, applied with the documented loser
    // rule: batch row loses to any qualifying indexed partner and to
    // any smaller-id batch peer (pairs normalized a < b)
    val exactPairs = pairs(Dedup.cosineDupPairsExact(emb, "vec_id",
      "embedding", threshold))
    def exactStep(indexed: Set[Long], bids: Set[Long]): Set[Long] = {
      val losers = exactPairs.collect {
        case (a, b) if bids(a) && indexed(b) => a
        case (a, b) if bids(b) && (indexed(a) || bids(a)) => b
      }
      bids -- losers
    }
    val baseIds = base.collect().map(_.getLong(0)).toSet
    val d1Ids = d1.collect().map(_.getLong(0)).toSet
    val d2Ids = d2.collect().map(_.getLong(0)).toSet
    val surv1 = exactStep(baseIds, d1Ids)
    val surv2 = exactStep(baseIds ++ surv1, d2Ids)
    assert(surv1 != d1Ids && surv2 != d2Ids,
      "fixture must actually screen something out")
    assert((d1Ids -- surv1).nonEmpty && (d2Ids -- surv2).nonEmpty)
    // ---- the screen + append composition, driven batch by batch
    // (independent reimplementation of the loser rule)
    def batchStep(batch: org.apache.spark.sql.DataFrame): Set[Long] = {
      val bids = batch.select("vec_id").collect().map(_.getLong(0)).toSet
      val screened = pairs(Dedup.cosineDupPairsDeltaIndexInt8(spark, idx,
        batch, "vec_id", "embedding", threshold))
      val losers = screened.map { case (a, b) =>
        if (bids(a) && !bids(b)) a else b }
      val surv = bids -- losers
      IvfStore.appendShardedInt8(
        batch.filter(col("vec_id").isin(surv.toSeq: _*)),
        "vec_id", "embedding", idx)
      surv
    }
    assert(batchStep(d1) == surv1,
      "batch screen diverged from the exact oracle on batch 1")
    assert(batchStep(d2) == surv2,
      "batch screen diverged from the exact oracle on batch 2")
    assert(storedIds(idx) == baseIds ++ surv1 ++ surv2)
  }

  // ------------------------------------------- r12: single-writer lease
  test("maintenance lease: a second concurrent maintenance run refuses " +
      "loudly; a crashed run's stale lease is taken over, healed, and " +
      "the lease is released after") {
    val emb = plantedCorpus(2000)
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 === 1)
    val (coarse, fine) = Similarity.trainShardedCodebook(base, "vec_id",
      "embedding", targetBucket = 32)
    def build(): String = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_lease").toString
      IvfStore.writeShardedInt8(base, coarse, fine, "vec_id",
        "embedding", d, pCoarse = 4, pFine = 8, targetBucket = 32)
      d
    }
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def plantLease(dir: String, pid: Long): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(
        s"$dir/maintenance.lease"), false)
      out.writeBytes(s"$pid:foreign-nonce")
      out.close()
    }
    // (1) live foreign writer => refusal, not a race on the stage dir.
    // Our own pid stands in for the live foreign process: this JVM's
    // call chain does not hold the lease, so the file reads as another
    // live writer's.
    val held = build()
    plantLease(held, ProcessHandle.current().pid())
    val e = intercept[IllegalStateException] {
      IvfStore.appendShardedInt8(delta, "vec_id", "embedding", held)
    }
    assert(e.getMessage.contains("lease"), e.getMessage)
    // the refused append must not have staged anything
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$held/data-append-tmp")))
    // after the foreign writer releases, the append proceeds
    fs.delete(new org.apache.hadoop.fs.Path(s"$held/maintenance.lease"),
      false)
    assert(IvfStore.appendShardedInt8(delta, "vec_id", "embedding",
      held) == 1000L)
    // ...and releases its own lease on the way out
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$held/maintenance.lease")))
    // (2) crashed run: sealed stage + stale lease (dead pid). The next
    // maintenance entry takes the lease over, heals FORWARD, proceeds.
    val crashed = build()
    assert(IvfStore.stageAppend(delta, "vec_id", "embedding",
      crashed) == 1000L)
    plantLease(crashed, 9999999999L) // no such pid => dead owner
    val (n, _) = IvfStore.appendOrResplit(
      emb.filter(col("vec_id") === 1L)
        .withColumn("vec_id", lit(5000L)), "vec_id", "embedding",
      crashed, targetBucket = 32)
    assert(n == 1L)
    // the heal published the crashed append first: union fingerprint
    // advanced over BOTH the healed delta and the new row
    val union = emb.unionByName(emb.filter(col("vec_id") === 1L)
      .withColumn("vec_id", lit(5000L)))
    assert(IvfStore.readIndexMeta(spark, crashed).get("fingerprint") ==
      IvfStore.corpusFingerprint(union, "vec_id"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$crashed/maintenance.lease")))
  }

  test("plain IvfStore.append refuses a fingerprint-stamped layout " +
      "(it would land schema-poor rows under a stale stamp)") {
    val emb = plantedCorpus(500)
    val cents = Dedup.dupCodebook(emb, "vec_id", "embedding",
      targetBucket = 32)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_plain_append").toString
    IvfStore.writeInt8(emb, cents, "vec_id", "embedding", dir,
      maxProbes = 8, targetBucket = 32)
    val e = intercept[IllegalStateException] {
      IvfStore.append(plantedCorpus(510).filter(col("vec_id") >= 500),
        "vec_id", "embedding", dir)
    }
    assert(e.getMessage.contains("stamped"), e.getMessage)
    // r12 (r11 ADVICE): the guard must hold in the maintenance CRASH
    // WINDOW too. The old guard read readIndexMeta, which reports None
    // while a stage pends — so plain append() mid-append/mid-resplit
    // slipped schema-poor rows into data/ under the stamp a later heal
    // then published. The direct layout check refuses in every window:
    // (a) stage pending, live meta present
    val emb2 = plantedCorpus(1000)
    val base2 = emb2.filter(col("vec_id") % 2 === 0)
    val (coarse2, fine2) = Similarity.trainShardedCodebook(base2,
      "vec_id", "embedding", targetBucket = 32)
    val sharded = java.nio.file.Files
      .createTempDirectory("graft_plain_append_window").toString
    IvfStore.writeShardedInt8(base2, coarse2, fine2, "vec_id",
      "embedding", sharded, pCoarse = 4, pFine = 8, targetBucket = 32)
    IvfStore.stageAppend(emb2.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", sharded)
    val e2 = intercept[IllegalStateException] {
      IvfStore.append(plantedCorpus(1010).filter(col("vec_id") >= 1000),
        "vec_id", "embedding", sharded)
    }
    assert(e2.getMessage.contains("stamped"), e2.getMessage)
    // (b) the narrowest window: live meta deleted, staged meta not yet
    // renamed in (publish step 2 mid-crash) — only the stage dir marks
    // the layout stamped
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$sharded/meta"), true)
    val e3 = intercept[IllegalStateException] {
      IvfStore.append(plantedCorpus(1010).filter(col("vec_id") >= 1000),
        "vec_id", "embedding", sharded)
    }
    assert(e3.getMessage.contains("pending maintenance stage"),
      e3.getMessage)
  }
}
