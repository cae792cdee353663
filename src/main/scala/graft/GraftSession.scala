package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

import org.apache.spark.sql.catalyst.expressions.Expression

import graft.expressions.{CosineSimilarity, TDigestQuantiles}
import graft.functions.{LineClean, Pii, TextAnalysis}

/** SparkSessionExtensions registration: exposes the engine's native
  * expressions to SQL (`SELECT cosine_similarity(a, b)`,
  * `SELECT tdigest_quantiles(v, 0.25, 0.5, 0.75)`) AND the pure-column
  * curation/governance operators (`WHERE gopher_pass(text)`,
  * `redact_pii(text)`, `strip_html(html)`, `normalize_text(text)`,
  * `quality_score(text)`, `lang_id(text)`, `token_entropy(text)`,
  * `ws_token_count(text)`, `punct_ratio(text)`), so a SQL-only user can
  * run the whole quality gate without touching the Scala API — every
  * name compiles to the SAME Column expression tree the Scala calls
  * build, codegen and all; there is no second implementation to drift.
  * Activate with `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.sqlFunctions.foreach { case (name, className, builder) =>
      e.injectFunction((
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          className, name),
        builder))
    }
}

object GraftExtensions {
  /** SQL builder: tdigest_quantiles(col, p1[, p2, ...]) — trailing
    * percentage args must be literals (they shape the aggregate). */
  private[graft] def tdigestBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length >= 2,
      "tdigest_quantiles(col, p1[, p2, ...]) needs at least one percentage")
    val ps = exprs.tail.map { e =>
      require(e.foldable, "tdigest_quantiles percentages must be literals")
      e.eval().toString.toDouble
    }
    TDigestQuantiles(exprs.head, ps).toAggregateExpression()
  }

  /** A one-Column-argument function as a SQL builder (via the
    * Column↔Expression bridge — the composed tree substitutes in
    * unresolved, the analyzer resolves it in place). */
  private def col1(name: String)(f: Column => Column)
      : Seq[Expression] => Expression = { exprs =>
    require(exprs.length == 1, s"$name(text) takes exactly one argument")
    import org.apache.spark.sql.GraftColumnBridge._
    toExpressionEager(f(toColumn(exprs.head)))
  }

  /** Every SQL-exposed function: (name, doc class, builder). ONE list
    * consumed by both registration paths, so extension-configured and
    * late-registered sessions can never see different surfaces. */
  private[graft] val sqlFunctions
      : Seq[(String, String, Seq[Expression] => Expression)] = {
    val ta = "graft.functions.TextAnalysis"
    Seq(
      ("cosine_similarity", classOf[CosineSimilarity].getName,
        (exprs: Seq[Expression]) => {
          require(exprs.length == 2,
            "cosine_similarity(a, b) takes exactly two arguments")
          CosineSimilarity(exprs(0), exprs(1))
        }),
      ("tdigest_quantiles", classOf[TDigestQuantiles].getName,
        tdigestBuilder(_)),
      ("normalize_text", ta, col1("normalize_text")(
        TextAnalysis.normalizeText)),
      ("quality_score", ta, col1("quality_score")(
        TextAnalysis.qualityScore)),
      ("lang_id", ta, col1("lang_id")(TextAnalysis.langId)),
      ("token_entropy", ta, col1("token_entropy")(
        TextAnalysis.tokenEntropy)),
      ("ws_token_count", ta, col1("ws_token_count")(
        TextAnalysis.wsTokenCount)),
      ("punct_ratio", ta, col1("punct_ratio")(TextAnalysis.punctRatio)),
      ("strip_html", "graft.functions.LineClean",
        col1("strip_html")(LineClean.stripHtml)),
      ("redact_pii", "graft.functions.Pii", col1("redact_pii")(Pii.redact)),
      ("int8_pack", classOf[graft.expressions.Int8VecPack].getName,
        (exprs: Seq[Expression]) => {
          require(exprs.length == 1,
            "int8_pack(vec) takes exactly one argument")
          graft.expressions.Int8VecPack(exprs.head)
        }),
      ("gopher_pass", ta, { exprs: Seq[Expression] =>
        require(exprs.length >= 1 && exprs.length <= 3,
          "gopher_pass(text[, minWords, maxWords])")
        def litInt(e: Expression, what: String): Int = {
          require(e.foldable, s"gopher_pass $what must be a literal")
          e.eval().toString.toInt
        }
        import org.apache.spark.sql.GraftColumnBridge._
        toExpressionEager(TextAnalysis.gopherPass(toColumn(exprs.head),
          if (exprs.length > 1) litInt(exprs(1), "minWords") else 50,
          if (exprs.length > 2) litInt(exprs(2), "maxWords") else 100000))
      }))
  }

  /** Register the functions into an ALREADY-RUNNING session — extensions
    * passed to the builder only apply at session creation, and
    * `getOrCreate` silently returns a pre-existing session without them. */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}

/** Canonical session factory: the configuration every entry point
  * (Verify/Bench/the SAR service/user code) should run with. */
object GraftSession {
  /** `shuffle.partitions` = cores keeps small-corpus plans lean, but a
    * FIXED task count is exactly what breaks a 10× scale-up: every
    * shuffle task carries 10× the rows, blows its memory fraction, and
    * spills — the 5M-doc stress run measured the heaviest chains
    * drifting from α≈0.8 (500k, in-memory tasks) to α≈1.2 (5M,
    * spilling tasks) with no algorithmic change. The remedy is AQE's
    * `initialPartitionNum`: start every shuffle wide (total shuffle
    * bytes / 64 MB advisory size) and let partition coalescing merge
    * small data back down. The right start count depends on DATA
    * VOLUME, which a session factory cannot know — so it is an
    * explicit knob (`SPARK_GRAFT_INITIAL_PARTITIONS`), defaulting to
    * Spark's own (= shuffle.partitions): at oracle SF a wide start is
    * pure scheduling tax (measured +0.2–0.6 s on sub-second queries at
    * 8× cores), while the 5M-doc harness sets it high
    * ([[ScaleBench]]) and measures the spill relief directly. On a
    * cluster, size it to the LARGEST shuffle, never to core count. */
  def builder(cores: Int = 32): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // InferFiltersFromGenerate synthesizes `size(e) > 0 AND
      // isnotnull(e)` below every explode and predicate pushdown then
      // INLINES the full generator expression into the scan's Filter —
      // for the shingle/bigram explodes that is TWO extra evaluations
      // of a tree that regex-splits the text ~6 times per copy, read
      // directly off the r14 q_ngram_jaccard executed plan (DataFilters
      // carrying the whole zip_with chain). The inferred filter only
      // pre-drops rows the Generate drops in the same stage anyway
      // (outer=false explode of an empty/null array emits nothing), so
      // on this engine's plans it is pure per-row cost: results are
      // bit-identical with the rule excluded (oracle 133/133 re-run)
      // and the text family loses its largest remaining per-row
      // expression tax. Scale-independent: the exclusion removes work
      // per row regardless of corpus size.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .withExtensions(new GraftExtensions)
    sys.env.get("SPARK_GRAFT_INITIAL_PARTITIONS").foreach(n =>
      b.config(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum", n))
    // Shuffle/spill codec (context-creation config, hence env not conf):
    // lz4 (Spark's default) trades ratio for speed; zstd cuts shuffle
    // bytes ~25-40%, which is the difference between completing and
    // ENOSPC when a 2M-vector blocked-dedup chain's live spill meets a
    // single host's scratch disk. Scale campaigns set zstd; CPU-bound
    // oracle-SF runs keep lz4.
    sys.env.get("SPARK_GRAFT_SHUFFLE_CODEC").foreach(c =>
      b.config("spark.io.compression.codec", c))
    b
  }

  def get(cores: Int = 32): SparkSession = {
    val s = builder(cores).getOrCreate()
    GraftExtensions.register(s) // in case getOrCreate reused a session
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
