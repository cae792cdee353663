package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end training-data curation pipeline — the composition a
  * 100 TB corpus actually runs, as one engine op: quality/language gate →
  * exact dedup (keep-first) → near-dup removal (MinHash+LSH). Each stage
  * is an independently-tested operator from this package; the composition
  * is itself oracle-gated (`q_corpus_curation`) because stage wiring has
  * its own failure modes (a gate applied after dedup changes which
  * duplicate survives; near-dup candidates generated before dedup count
  * exact duplicates twice).
  *
  * Scale shape: the gate is a pure column filter (codegen, pushed to the
  * scan where possible); dedup shuffles one md5 digest per doc; LSH
  * shuffles one row per (doc, band). Nothing all-pairs, nothing collected.
  * Every decision is md5-derived — rerunning on a different partitioning
  * or engine keeps the SAME documents.
  */
object Curation {

  /** Hard cap on (group, bucket) offset rows [[withBucketOffsets]] will
    * gather to the driver (~2^20 rows ≈ 4k groups × 256 buckets, tens
    * of MB) — past this the construction is the wrong tool and the
    * caller gets a loud contract error instead of a driver OOM. */
  private[graft] val MaxOffsetRows: Int = 1 << 20

  /** Pipeline knobs. `lang = None` skips the language gate. */
  final case class Config(
      minTokens: Int = 5,
      maxPunctRatio: Double = 0.2,
      lang: Option[String] = Some("en"),
      dedupPrefixWords: Int = 8,
      minhashK: Int = 8,
      rowsPerBand: Int = 2,
      shingleN: Int = 3)

  /** Stage 1 — quality + language gate: minimum token count, maximum
    * punctuation ratio, optional predicted-language equality. */
  def qualityGate(docs: DataFrame, textCol: String,
      cfg: Config = Config()): DataFrame = {
    // per-row token/punct/lang scoring runs in the scan's map tasks —
    // spread a single-split corpus (pure filters; Spread.across is a
    // no-op at scale and on already-parallel inputs)
    val base = Spread.across(docs).filter(
      TextAnalysis.wsTokenCount(col(textCol)) >= cfg.minTokens &&
        TextAnalysis.punctRatio(col(textCol)) <= cfg.maxPunctRatio)
    cfg.lang.fold(base)(l =>
      base.filter(TextAnalysis.langId(col(textCol)) === l))
  }

  /** Stage 2 — exact dedup, keep-first: one survivor (min id) per md5
    * of the first-`prefixWords` WHITESPACE-normalized prefix (the key
    * collapses runs of whitespace but is case/punctuation-sensitive by
    * default). Prefix-key dedup is the web-corpus standard:
    * boilerplate-suffixed copies still collapse. `normalizeKeys` runs
    * [[TextAnalysis.normalizeText]] before keying so "Hello,  World!"
    * and "hello world" copies also collapse — a KEY choice only; the
    * surviving document keeps its original text. */
  def dedupKeepFirst(docs: DataFrame, idCol: String, textCol: String,
      prefixWords: Int = 8, normalizeKeys: Boolean = false): DataFrame = {
    val keyText = if (normalizeKeys) TextAnalysis.normalizeText(col(textCol))
      else col(textCol)
    val key = TextAnalysis.prefixKey(keyText, prefixWords)
    val w = Window.partitionBy(key).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Stage 3 — near-dup removal: every doc that appears as the HIGHER id
    * of any LSH candidate pair is dropped. Greedy and deterministic —
    * survival never depends on whether the lower partner itself
    * survived, so the decision is per-pair local (cluster-chain dedup
    * would need connected components; for near-dup removal the greedy
    * rule is the documented semantics). */
  def dropNearDups(docs: DataFrame, textCol: String, idCol: String,
      cfg: Config = Config()): DataFrame = {
    // star edges, not the pair join: the loser set ("is the higher id
    // of any pair") is exactly "exceeds the minimum of some bucket",
    // so a hot bucket of m mutual near-dups costs m rows here instead
    // of m²/2 pair rows (Dedup.lshBucketMinEdges has the equivalence
    // argument and the x100 scale-stress measurement)
    val losers = Dedup.lshBucketMinEdges(docs, textCol, idCol,
        k = cfg.minhashK, rowsPerBand = cfg.rowsPerBand, n = cfg.shingleN)
      .select(col("b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** The full pipeline: gate → exact dedup → near-dup removal. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      cfg: Config = Config()): DataFrame =
    dropNearDups(
      dedupKeepFirst(qualityGate(docs, textCol, cfg), idCol, textCol,
        cfg.dedupPrefixWords),
      textCol, idCol, cfg)

  /** Domain-mixture sampling: keep exactly `quotas(d)` documents from
    * each domain, chosen by md5(id) rank — the deterministic stand-in
    * for "uniformly sample domain d down to its target mixture weight"
    * that every re-run, re-partitioning, and engine reproduces
    * identically.
    *
    * The rank is the GLOBAL per-domain md5 order, computed scalably:
    * rows window-rank inside (domain, first-md5-byte) buckets — 256-way
    * parallel per domain instead of one reducer per domain — and a
    * driver-side prefix-sum over the tiny (domain × 256) bucket-count
    * table turns local ranks into global ones via a broadcast join.
    * Because the bucket IS a prefix of the sort key, bucket-local rank +
    * bucket offset equals the global rank exactly (same construction as
    * SarOps.downsampleStride). Two corpus passes (count + rank), both
    * shuffle-light; no single-partition window at any scale.
    */
  def sampleMixture(docs: DataFrame, idCol: String, domainCol: String,
      quotas: Map[String, Long]): DataFrame = {
    require(quotas.nonEmpty, "at least one domain quota")
    val spark = docs.sparkSession
    import spark.implicits._
    val (withOff, _) = withBucketOffsets(
      docs.filter(col(domainCol).isin(quotas.keys.toSeq: _*)),
      idCol, Seq(domainCol), count(lit(1)))
    val quotaDf = quotas.toSeq.toDF(domainCol, "__quota")
    val w = Window.partitionBy(col(domainCol), col("__bkt"))
      .orderBy(col("__key"), col(idCol))
    withOff
      .join(broadcast(quotaDf), Seq(domainCol))
      .withColumn("__rank", row_number().over(w).cast("long") + col("__off"))
      .filter(col("__rank") <= col("__quota"))
      .drop("__key", "__bkt", "__off", "__quota", "__rank")
  }

  /** The shared bucket-offset construction behind [[sampleMixture]] and
    * [[sampleToTokenBudget]]: md5(id) sort key, first-key-byte bucket
    * (256-way parallel per group), and a driver-side EXCLUSIVE
    * prefix-sum of a per-(group, bucket) measure joined back by
    * broadcast as `__off`. Because the bucket is a prefix of the sort
    * key, a bucket-local rank or running sum plus `__off` equals the
    * global per-group value exactly. `groupCols` must be string-typed
    * (may be empty = one global group); `measure` must aggregate to a
    * non-null long (a count, or a coalesced sum). Returns the docs with
    * `__key`/`__bkt`/`__off` attached, plus the grand total of the
    * measure (so callers deriving budgets from totals reuse this pass
    * instead of scanning again).
    *
    * CARDINALITY CONTRACT: the prefix-sum gathers one row per observed
    * (group, bucket) pair to the driver, so `groupCols` must be
    * BOUNDED-cardinality (languages, sources, splits — not URL hosts or
    * doc ids). Enforced, not assumed: the gather is a `take(cap + 1)`
    * probe — driver memory stays bounded even when the contract is
    * violated — and crossing [[MaxOffsetRows]] raises with this message
    * instead of silently OOMing the driver mid-`collect`. */
  private def withBucketOffsets(docs: DataFrame, idCol: String,
      groupCols: Seq[String], measure: Column): (DataFrame, Long) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = docs.sparkSession
    val withK = docs
      .withColumn("__key", md5(col(idCol).cast("string")))
      .withColumn("__bkt", substring(col("__key"), 1, 2))
    val gathered = withK
      .groupBy((groupCols :+ "__bkt").map(col): _*)
      .agg(measure.as("__m")).take(MaxOffsetRows + 1)
    require(gathered.length <= MaxOffsetRows,
      s"withBucketOffsets: over $MaxOffsetRows (group, bucket) offset " +
        "rows would be gathered to the driver — the bucket-offset " +
        "construction is for bounded-cardinality groups (languages, " +
        "sources, splits); group by a coarser key")
    val aggRows = gathered
      .map(r => (groupCols.indices.map(r.getString),
        r.getString(groupCols.length), r.getLong(groupCols.length + 1)))
    val offRows = aggRows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val sorted = rs.sortBy(_._2)
      sorted.map(_._2).zip(sorted.scanLeft(0L)(_ + _._3))
        .map { case (b, off) => Row.fromSeq(g ++ Seq(b, off)) }
    }
    val schema = StructType(
      groupCols.map(StructField(_, StringType)) ++
        Seq(StructField("__bkt", StringType), StructField("__off", LongType)))
    val offDf = spark.createDataFrame(offRows.asJava, schema)
    (withK.join(broadcast(offDf), groupCols :+ "__bkt"),
      aggRows.map(_._3).sum)
  }

  /** Token-budget corpus selection: keep documents in md5(id) order
    * until the running token total reaches `budgetTokens` (a document is
    * kept iff its INCLUSIVE running sum fits the budget) — "give me N
    * billion training tokens, uniformly at random, reproducibly" as one
    * deterministic op.
    *
    * Same bucket-offset construction as [[sampleMixture]]
    * ([[withBucketOffsets]]), but the driver prefix-sum runs over
    * per-bucket TOKEN sums instead of row counts. 256-way parallel; no
    * single-reducer global window. Null text counts zero tokens (kept
    * for free, like near-empty text — a scrub gate runs before this). */
  def sampleToTokenBudget(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long): DataFrame =
    tokenBudgetCore(docs, idCol, textCol, _ => budgetTokens)

  /** [[sampleToTokenBudget]] with the budget as an integer percentage of
    * the corpus's own token total ("keep 30% of the tokens"): the total
    * is read from the bucket-sum pass the sampler already runs, so the
    * whole selection costs one counting pass + one rank pass — no
    * separate budget scan. */
  def sampleToTokenFraction(docs: DataFrame, idCol: String, textCol: String,
      pctOfTokens: Long): DataFrame =
    tokenBudgetCore(docs, idCol, textCol, total => total * pctOfTokens / 100)

  private def tokenBudgetCore(docs: DataFrame, idCol: String,
      textCol: String, budget: Long => Long): DataFrame = {
    val (withCum, total) = withRunningTokens(docs, idCol, textCol)
    withCum
      .filter(col("__cum") <= budget(total))
      .drop("__toks", "__key", "__bkt", "__off", "__cum")
  }

  /** [[sampleToTokenBudget]] generalized to ANY per-doc cost column —
    * the form that takes a TOKENIZER's own counts ("keep 10B BPE
    * tokens": join `BpeTokenizer.tokenCounts` and pass `n_bpe_tokens`),
    * or chars, or bytes. Same deterministic `(md5(id), id)` order and
    * inclusive-fit rule; null costs count zero (kept for free). */
  def sampleToBudget(docs: DataFrame, idCol: String, cost: Column,
      budget: Long): DataFrame = {
    val (withCum, _) = withRunningCost(docs, idCol, cost.cast("long"))
    withCum
      .filter(col("__cum") <= budget)
      .drop("__toks", "__key", "__bkt", "__off", "__cum")
  }

  /** The shared running-token-sum frame behind [[sampleToTokenBudget]]
    * and [[packShards]]: every doc annotated with its token count
    * (`__toks`) and INCLUSIVE global running sum (`__cum`) in
    * `(md5(id), id)` order, plus the corpus token total. Built on
    * [[withBucketOffsets]] — 256-way parallel, no single-reducer
    * window. */
  private def withRunningTokens(docs: DataFrame, idCol: String,
      textCol: String): (DataFrame, Long) =
    withRunningCost(docs, idCol,
      TextAnalysis.wsTokenCount(col(textCol)).cast("long"))

  /** [[withRunningTokens]] generalized to ANY per-doc cost expression
    * (BPE token counts, chars, bytes) — null cost reads zero. */
  private def withRunningCost(docs: DataFrame, idCol: String,
      cost: Column): (DataFrame, Long) = {
    val withT = docs.withColumn("__toks", coalesce(cost, lit(0L)))
    val (withOff, total) = withBucketOffsets(withT, idCol, Seq.empty,
      coalesce(sum("__toks"), lit(0L)))
    val w = Window.partitionBy(col("__bkt"))
      .orderBy(col("__key"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    (withOff.withColumn("__cum", sum(col("__toks")).over(w) + col("__off")),
      total)
  }

  /** Contiguous token-budget shards — the corpus-sharding step before
    * sequence packing: documents in deterministic `(md5(id), id)` order
    * are cut into shards of ~`shardTokens` tokens; a document's RAW cut
    * is the number of whole budgets its EXCLUSIVE running sum has
    * filled (`(cum − toks) div budget` — integral division, no float at
    * any corpus size). A shard may overrun the budget by at most one
    * document (docs are atomic — the training-shard convention); a doc
    * larger than the budget would leave raw gaps behind it, so raw cuts
    * are densified through a driver-side sorted remap (one long per
    * OCCUPIED shard — shard-scale, not corpus-scale) and the returned
    * ids are DENSE from 0, the property `ShardStore`'s stream-shards-
    * in-order consumers rely on. Stable under repartitioning/engines;
    * new corpus members shift later shards (sharding is an ordered cut,
    * not a hash — use [[assignSplit]] where growth-stability
    * matters). */
  def packShards(docs: DataFrame, idCol: String, textCol: String,
      shardTokens: Long, shardCol: String = "shard"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(shardTokens > 0, "shardTokens must be positive")
    val (withCum, _) = withRunningTokens(docs, idCol, textCol)
    // the raw-cut frame feeds BOTH the occupied-shard collect and the
    // returned join — persist so the token scan + window run once
    val raw = withCum
      .withColumn("__raw", expr(s"(__cum - __toks) div ${shardTokens}L"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val occupied = raw.select("__raw").distinct()
      .collect().map(_.getLong(0)).sorted
    val remap = occupied.zipWithIndex
      .map { case (r, i) => (r, i.toLong) }.toSeq.toDF("__raw", shardCol)
    raw.join(broadcast(remap), Seq("__raw"))
      .drop("__raw", "__toks", "__key", "__bkt", "__off", "__cum")
  }

  /** Token-granular sequence packing — the context-window step AFTER
    * [[packShards]]'s document-granular sharding: the corpus token
    * stream, in the same deterministic `(md5(id), id)` order, is cut
    * into fixed `seqLen`-token training sequences, and documents SPLIT
    * at window boundaries (the pretraining convention packShards
    * deliberately avoids for shard files). Returns one row per
    * (sequence, document) span: `seq_id`, the doc id, `doc_offset`
    * (first packed token within the doc), `seq_offset` (its position
    * inside the sequence — the attention-boundary metadata a
    * concat-and-mask loader needs), `n_tokens` (span length). The last
    * sequence may be short; zero-token docs pack nothing and are
    * absent.
    *
    * Pure integer column math over the [[withRunningTokens]] frame: a
    * doc starting at exclusive running sum `start` covers sequences
    * `start div L .. (cum−1) div L`, exploded via `sequence()` — no
    * window beyond the shared 256-way running-sum construction, no
    * driver state at all (seq ids are dense by construction because
    * every token is packed — the gap problem packShards remaps away
    * cannot occur here). */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Long): DataFrame =
    packSequencesByCost(docs, idCol,
      TextAnalysis.wsTokenCount(col(textCol)).cast("long"), seqLen)

  /** [[packSequences]] generalized to ANY per-doc token-cost column —
    * the form real pretraining uses: whitespace counts are a proxy, the
    * loader packs TOKENIZER tokens, so pass the tokenizer's own counts
    * (`BpeTokenizer.tokenCounts`' `n_bpe_tokens`, joined onto the
    * corpus) and the sequence geometry is exact in the training unit.
    * Null cost reads zero (the [[sampleToBudget]] convention): a doc
    * the tokenizer produced no tokens for packs nothing. */
  def packSequencesByCost(docs: DataFrame, idCol: String, cost: Column,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    // COST CHAIN COMPUTED ONCE (r14): the bucket-offset pass inside
    // withRunningCost is an eager take(), and the returned plan
    // re-executes the same upstream chain — for the BPE packer that
    // chain is the tokenizer's two corpus passes, paid TWICE. The
    // packing output only needs (id, cost), so project that narrow
    // frame and persist it across both executions (doc-scale,
    // ~16 B/row — the fingerprint-frame rule; never the raw corpus).
    // The offset take() is the serial materializing action, so no
    // sibling-stage race exists. The CacheManager keeps the blocks
    // until `unpersist` or `clearCache()` — dropping the result does
    // not release them (the klTerms contract); the bench's cold-run
    // clearCache() evicts between runs.
    val narrow = docs.select(col(idCol), cost.cast("long").as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (withCum, _) = withRunningCost(narrow, idCol, col("__c"))
    withCum
      .drop("__c")
      .filter(col("__toks") > 0L)
      .withColumn("__start", col("__cum") - col("__toks"))
      .withColumn("seq_id", explode(sequence(
        expr(s"__start div ${seqLen}L"),
        expr(s"(__cum - 1) div ${seqLen}L"))))
      .withColumn("__sbase", col("seq_id") * seqLen)
      .withColumn("__pstart", greatest(col("__start"), col("__sbase")))
      .withColumn("__pend", least(col("__cum"), col("__sbase") + seqLen))
      .select(col("seq_id"), col(idCol),
        (col("__pstart") - col("__start")).as("doc_offset"),
        (col("__pstart") - col("__sbase")).as("seq_offset"),
        (col("__pend") - col("__pstart")).as("n_tokens"))
  }

  /** The Efraimidis–Spirakis sampling key, derandomized: a uniform
    * `u ∈ (0,1)` from the first 13 md5 hex chars of the id (52 bits —
    * exact in a double; `+0.5` keeps u off 0 and off 1), transformed to
    * `ln(u)/w` — a monotone image of the textbook `u^(1/w)`, so ranking
    * by it descending IS weighted sampling without replacement — and
    * floored to integral micro-units so both engines land the same key
    * (ties, made possible by the grid, break on id downstream). */
  def samplingKeyMicro(id: Column, weight: Column): Column = {
    val v = conv(substring(md5(id.cast("string")), 1, 13), 16, 10)
      .cast("long")
    val u = (v.cast("double") + 0.5) / math.pow(2, 52)
    floor(log(u) / weight.cast("double") * 1e6 + 0.5).cast("long")
  }

  /** Overlapping token-window chunking — the retrieval-prep step
    * (RAG indexing, embedding-model input prep): each document's
    * (length-filtered) token stream is cut into windows of
    * `chunkTokens` starting every `chunkTokens − overlapTokens`
    * tokens; the final window is the tail (possibly short), and no
    * window starts inside the previous window's un-overlapped tail
    * (so no chunk is redundant). Unlike [[packSequences]] — which
    * packs the CORPUS stream into training windows across doc
    * boundaries — chunking is strictly per-document: pure column math
    * (sequence explode + array slice), no shuffle, no state, usable
    * in a streaming projection as-is.
    *
    * Output: `chunk_id` (0-based within doc), `n_tokens`, and
    * `chunk_text` (tokens re-joined with single spaces — the
    * normalized form both engines reproduce). Token-less docs are
    * absent. */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlapTokens: Int): DataFrame = {
    require(chunkTokens > 0, "chunkTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlapTokens
    docs
      .withColumn("__w", filter(TextAnalysis.words(col(textCol)),
        t => length(t) > 0))
      .withColumn("__nt", size(col("__w")).cast("long"))
      .filter(col("__nt") > 0L)
      // starts at 0, stride, … while start < max(nt − overlap, 1)
      .withColumn("__nc",
        expr(s"(greatest(__nt - $overlapTokens, 1L) + $stride - 1) " +
          s"div $stride"))
      .withColumn("chunk_id", explode(sequence(lit(0L), col("__nc") - 1)))
      .withColumn("__start", col("chunk_id") * stride)
      .withColumn("n_tokens",
        least(lit(chunkTokens.toLong), col("__nt") - col("__start")))
      .select(col(idCol), col("chunk_id"), col("n_tokens").cast("int")
          .as("n_tokens"),
        array_join(slice(col("__w"), (col("__start") + 1).cast("int"),
          col("n_tokens").cast("int")), " ").as("chunk_text"))
  }

  /** Integer (base repeats, fractional-keep threshold) pair for an
    * epoch factor: a doc repeats `base` times plus once more iff its
    * 52-bit md5 draw falls under `thresh` — an EXACT integer compare,
    * no float at the decision point. Exposed so oracles interpolate
    * the SAME literals. */
  def epochThresholds(factor: Double): (Long, Long) = {
    require(factor >= 0 && factor < 1e6, s"unreasonable factor $factor")
    val base = math.floor(factor).toLong
    (base, math.floor((factor - base) * math.pow(2, 52)).toLong)
  }

  /** Epoch mixing — the published-mixture upsampling step ("2.4 epochs
    * of Wikipedia, 0.3 of CommonCrawl"): each document is repeated
    * `floor(f)` times, plus once more with probability `frac(f)`, where
    * the "randomness" is an md5 draw on the id (salted `ep:` so the
    * draw is independent of every other md5-keyed decision in this
    * package). Output rows carry `epoch` (1-based copy number) so a
    * downstream writer can interleave copies across shards. Domains
    * absent from `factors` are dropped (factor 0). Deterministic
    * across engines/partitionings; pure column math + one broadcast
    * join — no shuffle, no state. */
  def epochMix(docs: DataFrame, idCol: String, domainCol: String,
      factors: Map[String, Double], epochCol: String = "epoch"): DataFrame = {
    require(factors.nonEmpty, "at least one domain factor")
    val spark = docs.sparkSession
    import spark.implicits._
    val fDf = factors.toSeq.map { case (d, f) =>
      val (base, thresh) = epochThresholds(f); (d, base, thresh)
    }.toDF(domainCol, "__base", "__thresh")
    val draw = conv(substring(md5(concat(lit("ep:"),
      col(idCol).cast("string"))), 1, 13), 16, 10).cast("long")
    docs
      .join(broadcast(fDf), Seq(domainCol))
      .withColumn("__n",
        col("__base") + when(draw < col("__thresh"), 1L).otherwise(0L))
      .filter(col("__n") > 0L)
      .withColumn(epochCol, explode(sequence(lit(1L), col("__n"))))
      .drop("__base", "__thresh", "__n")
  }

  /** Weighted sampling without replacement, reproducibly: keep the `k`
    * documents with the largest [[samplingKeyMicro]] — each doc's
    * inclusion probability is proportional to `weightCol` (the
    * Efraimidis–Spirakis reservoir scheme), but the "randomness" is
    * md5(id), so every engine, partitioning, and re-run draws the SAME
    * sample. Non-positive and NULL weights are excluded (their
    * textbook key is 0^∞ — never drawn). Top-k is a
    * TakeOrderedAndProject (distributed heap, no global sort); k is
    * driver-bounded, so for "sample 30% of a web corpus" compose
    * [[keepTopFraction]] on the key column instead. */
  def weightedSample(docs: DataFrame, idCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k >= 0, "k must be non-negative")
    docs
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__wkey", samplingKeyMicro(col(idCol), col(weightCol)))
      .orderBy(col("__wkey").desc, col(idCol))
      .limit(k)
      .drop("__wkey")
  }

  /** Quality-ranked corpus selection: keep exactly the top
    * `n*pctKeep/100` documents by `(scoreCol desc, idCol asc)` — "keep
    * the best 60% by quality score" as one deterministic op, the
    * selection step behind every score-based filtering pipeline.
    *
    * Exact global rank without a one-reducer window: rows bucket by
    * approximate score quantiles (the SarOps.downsampleStride value
    * buckets — equal scores always land in ONE bucket, so cross-bucket
    * ties are impossible), bucket counts prefix-sum on the driver in
    * DESCENDING bucket order, and the bucket-local window rank plus
    * broadcast offset is the exact global rank. The keep count derives
    * from that same bucket pass (no separate count job). Skewed score
    * distributions degrade parallelism (many equal scores = one big
    * bucket; row_number caps a single bucket at 2³¹ rows — repartition
    * the score's granularity before that, e.g. more rounding digits).
    * Rows with a NULL score are EXCLUDED — a null compares into no
    * quantile bucket, and "unknown quality" must never outrank a
    * scored document. Ties break on id, so re-runs keep the SAME
    * documents. */
  def keepTopFraction(docs: DataFrame, idCol: String, scoreCol: String,
      pctKeep: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val scored = docs.filter(col(scoreCol).isNotNull)
    val nb = spark.sessionState.conf.numShufflePartitions
    val fracs = (1 until nb).map(_.toDouble / nb)
    val bRow = scored.select(percentile_approx(col(scoreCol).cast("double"),
      typedlit(fracs), lit(10000)).as("b")).head()
    val bounds: Seq[Double] =
      if (bRow.isNullAt(0)) Seq.empty else bRow.getSeq[Double](0)
    val bucketOf = bounds.distinct.zipWithIndex
      .foldRight(lit(bounds.distinct.length)) { case ((b, i), els) =>
        when(col(scoreCol).cast("double") <= b, lit(i)).otherwise(els)
      }
    val withB = scored.withColumn("__qb", bucketOf)
    val counts = withB.groupBy("__qb").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(-_._1)
    val keepN = counts.map(_._2).sum * pctKeep / 100
    val offsets = counts.map(_._1).zip(counts.scanLeft(0L)(_ + _._2))
    val offDf = offsets.toSeq.toDF("__qb", "__off")
    val w = Window.partitionBy(col("__qb"))
      .orderBy(col(scoreCol).desc, col(idCol))
    withB
      .join(broadcast(offDf), "__qb")
      .withColumn("__rank", row_number().over(w).cast("long") + col("__off"))
      .filter(col("__rank") <= keepN)
      .drop("__qb", "__off", "__rank")
  }

  /** Per-group document cap — the RefinedWeb/Dolma "at most N pages per
    * registered domain" rule as a deterministic op: within each group,
    * keep the `cap` documents that rank first in `(md5(id), id)` order
    * (a reproducible uniform sample, the same order every sampler in
    * this package uses). Built on [[withBucketOffsets]], so the rank is
    * exact and 256-way parallel per group — no one-reducer-per-domain
    * window even when one domain holds half the corpus. */
  def capPerGroup(docs: DataFrame, idCol: String, groupCols: Seq[String],
      cap: Long): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(cap >= 0, "cap must be non-negative")
    val (withOff, _) =
      withBucketOffsets(docs, idCol, groupCols, count(lit(1)))
    val w = Window.partitionBy((groupCols :+ "__bkt").map(col): _*)
      .orderBy(col("__key"), col(idCol))
    withOff
      .withColumn("__rank", row_number().over(w).cast("long") + col("__off"))
      .filter(col("__rank") <= cap)
      .drop("__key", "__bkt", "__off", "__rank")
  }

  /** Exact per-group quantile-bucket assignment — the CCNet
    * head/middle/tail construction generalized: within each group (CCNet
    * partitions per language), rank rows by `(scoreCol asc, id asc)` and
    * assign bucket `(rank−1)·nBuckets div groupCount` ∈ [0, nBuckets),
    * so bucket sizes differ by at most one row and the split is EXACT —
    * not an approximate-percentile threshold that drifts with sketch
    * resolution.
    *
    * Scale shape: same two-pass construction as [[keepTopFraction]] —
    * approximate GLOBAL score quantiles carve the score axis into
    * `numShufflePartitions` contiguous sub-buckets (any global carve
    * keeps each group's score order contiguous, so per-group bucket-local
    * rank + a per-(group, sub-bucket) driver prefix-sum offset is the
    * exact per-group rank); no single-reducer window per group. The
    * collected count table is (groups × sub-buckets) — groups must be
    * low-cardinality (languages, sources), which is what the CCNet
    * construction partitions by; enforced by the same take-probe /
    * [[MaxOffsetRows]] guard as [[withBucketOffsets]], so a
    * URL-host-grouped call fails loudly instead of OOMing the driver.
    * NULL scores are excluded (an unscored
    * row belongs to no quantile). Ties rank by id, so re-runs and other
    * engines land identical buckets. */
  def quantileBuckets(docs: DataFrame, idCol: String, scoreCol: String,
      groupCols: Seq[String], nBuckets: Int,
      bucketCol: String = "bucket"): DataFrame = {
    require(nBuckets >= 1, "at least one bucket")
    require(groupCols.nonEmpty, "at least one group column")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, IntegerType, StringType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    val spark = docs.sparkSession
    // the scored frame feeds THREE computations — the global-bounds
    // probe here, the per-(group, sub-bucket) count gather below, and
    // the returned assignment plan; without a persist each one re-runs
    // the caller's whole scoring chain (q_ppl_buckets re-trained and
    // re-scored its LM per action — r14, guide §5). Persisted
    // MEMORY_AND_DISK and kept by the CacheManager until `unpersist` or
    // `clearCache()`, even after the result frame drops (the klTerms
    // contract — the returned plan still reads it).
    val scored = docs.filter(col(scoreCol).isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nb = spark.sessionState.conf.numShufflePartitions
    val fracs = (1 until nb).map(_.toDouble / nb)
    val bRow = scored.select(percentile_approx(col(scoreCol).cast("double"),
      typedlit(fracs), lit(10000)).as("b")).head()
    val bounds: Seq[Double] =
      if (bRow.isNullAt(0)) Seq.empty else bRow.getSeq[Double](0)
    val bucketOf = bounds.distinct.zipWithIndex
      .foldRight(lit(bounds.distinct.length)) { case ((b, i), els) =>
        when(col(scoreCol).cast("double") <= b, lit(i)).otherwise(els)
      }
    val withB = scored.withColumn("__qb", bucketOf)
    // per-(group, sub-bucket) counts -> per-group ASCENDING prefix sums
    // (rank 1 = lowest score) + per-group totals, joined back broadcast
    val gathered = withB
      .groupBy((groupCols.map(col) :+ col("__qb")): _*)
      .agg(count(lit(1)).as("__m")).take(MaxOffsetRows + 1)
    require(gathered.length <= MaxOffsetRows,
      s"quantileBuckets: over $MaxOffsetRows (group, sub-bucket) count " +
        "rows would be gathered to the driver — groups must be " +
        "bounded-cardinality (languages, sources); group by a coarser key")
    val aggRows = gathered
      .map(r => (groupCols.indices.map(r.getString),
        r.getInt(groupCols.length), r.getLong(groupCols.length + 1)))
    val offRows = aggRows.groupBy(_._1).toSeq.flatMap { case (g, rs) =>
      val sorted = rs.sortBy(_._2)
      val total = rs.map(_._3).sum
      sorted.map(_._2).zip(sorted.scanLeft(0L)(_ + _._3))
        // Seq[Any], not Seq(qb, …): an all-numeric Seq(Int, Long, Long)
        // infers Seq[Long] and silently widens the Int bucket id, which
        // the IntegerType schema then unboxes into a ClassCastException
        .map { case (qb, off) => Row.fromSeq(g ++ Seq[Any](qb, off, total)) }
    }
    val schema = StructType(
      groupCols.map(StructField(_, StringType)) ++ Seq(
        StructField("__qb", IntegerType), StructField("__off", LongType),
        StructField("__tot", LongType)))
    val offDf = spark.createDataFrame(offRows.asJava, schema)
    val w = Window.partitionBy((groupCols :+ "__qb").map(col): _*)
      .orderBy(col(scoreCol), col(idCol))
    withB
      .join(broadcast(offDf), groupCols :+ "__qb")
      .withColumn("__rank", row_number().over(w).cast("long") + col("__off"))
      // integral division (`div`, never `/`): rank·n can pass 2^53 on a
      // web-scale group, where double division would misbucket
      .withColumn(bucketCol,
        expr(s"CAST(((__rank - 1) * $nBuckets) div __tot AS INT)"))
      .drop("__qb", "__off", "__tot", "__rank")
  }

  /** Hex threshold for the first-two-md5-chars bucket space: lowercase
    * hex pairs sort lexicographically in numeric order, so a `<`
    * comparison against this literal selects exactly `n` of the 256
    * buckets ("zz" when n covers all of them — no 2-char hex exceeds
    * it). */
  private def hexThreshold(n: Int): String =
    if (n >= 256) "zz" else f"$n%02x"

  /** Deterministic train/val/test assignment: the document's first
    * md5(id) byte places it in one of 256 buckets; the lowest
    * `256*testPct/100` buckets are test, the next `256*valPct/100` are
    * val, the rest train. Pure column math (no shuffle, no state),
    * stable across engines, partitionings, and corpus growth — a doc's
    * split never changes when others are added, the property eval
    * hygiene depends on. Granularity is 1/256 ≈ 0.4%. */
  def assignSplit(docs: DataFrame, idCol: String, valPct: Int = 5,
      testPct: Int = 5, splitCol: String = "split"): DataFrame = {
    val (tEnd, vEnd) = splitThresholds(valPct, testPct)
    val b = substring(md5(col(idCol).cast("string")), 1, 2)
    docs.withColumn(splitCol,
      when(b < lit(tEnd), "test")
        .when(b < lit(vEnd), "val")
        .otherwise("train"))
  }

  /** Crawl-snapshot delta: classify every document id across two
    * snapshots as added / removed / changed / unchanged by content
    * digest — the incremental-crawl bookkeeping step that decides what
    * re-enters the pipeline. One full-outer join on id; 16-byte md5s
    * move through the shuffle, never document text. Null text digests
    * as the empty string (a doc flipping text↔null reads as changed
    * only when the digests differ — null and "" collapse, documented
    * behavior of the coalesce). */
  def snapshotDelta(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    def keyed(df: DataFrame, as: String) =
      df.select(col(idCol), md5(coalesce(col(textCol), lit(""))).as(as))
    keyed(oldDf, "old_md5")
      .join(keyed(newDf, "new_md5"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") === col("new_md5"), "unchanged")
          .otherwise("changed").as("status"),
        col("old_md5"), col("new_md5"))
  }

  /** The (test, val) hex bucket thresholds [[assignSplit]] compares
    * against — exposed so an oracle can interpolate the SAME literals. */
  def splitThresholds(valPct: Int, testPct: Int): (String, String) = {
    require(valPct >= 0 && testPct >= 0 && valPct + testPct <= 100,
      "percentages must be non-negative and sum to at most 100")
    val t = 256 * testPct / 100
    (hexThreshold(t), hexThreshold(t + 256 * valPct / 100))
  }

  /** Temperature-scaled mixture weights (the multilingual-pretraining
    * standard): w_d ∝ count_d^alpha, normalized. alpha = 1 keeps natural
    * proportions, alpha → 0 flattens toward uniform. Driver-side math
    * over the per-domain count table (domains are few by definition). */
  def temperatureWeights(counts: Map[String, Long],
      alpha: Double): Map[String, Double] = {
    require(counts.nonEmpty, "at least one domain")
    val raw = counts.map { case (d, c) => d -> math.pow(c.toDouble, alpha) }
    val z = raw.values.sum
    raw.map { case (d, v) => d -> v / z }
  }

  /** Integer quotas for [[sampleMixture]]: percent-of-budget in pure
    * integer arithmetic (floor division), so any engine recomputing the
    * quota from the same counts lands on the same integer — no float
    * rounding at the boundary. */
  def mixtureQuotas(budget: Long, pct: Map[String, Long]): Map[String, Long] =
    pct.map { case (d, p) => d -> budget * p / 100 }
}
