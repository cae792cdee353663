package graft

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types.IntegerType

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
  /** `shuffle.partitions` = cores keeps small-corpus plans lean; AQE's
    * `initialPartitionNum` keeps Spark's default (= shuffle.partitions),
    * since at oracle SF a wide start is pure scheduling tax (measured
    * +0.2–0.6 s on sub-second queries at 8× cores). Corpora 10× larger
    * need wide starts to stop spilling ([[ScaleBench]] sets 256); a
    * deployment sets it, like any Spark setting, as
    * `-Dspark.sql.adaptive.coalescePartitions.initialPartitionNum=…`,
    * sized to its LARGEST shuffle, never to core count. */
  def builder(cores: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's LRU of compiled codegen classes defaults to 100 entries;
      // the SAR service's request mix alone keeps ~140 live, so at 100
      // each request recompiled classes another request had evicted, and
      // its latency depended on what the concurrent requests ran before it
      .config("spark.sql.codegen.cache.maxEntries", "1000")
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

  def get(cores: Int = 32): SparkSession = {
    val s = builder(cores).getOrCreate()
    GraftExtensions.register(s) // in case getOrCreate reused a session
    // the codegen cache takes its size from SQLConf.get when CodeGenerator
    // is first used. Use it here, where that is this session's conf: on a
    // thread without an active session (an HTTP server's pool) it is the
    // default conf, and the cache stayed at 100
    CodeGenerator.javaType(IntegerType)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
