package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

/** Registration for graft's custom Catalyst expressions, making them
  * callable from SQL and `expr()` — the analogue of the reference's
  * function catalog (BuiltInFunctionDefinitions.java registration).
  * One validated builder per function, shared between the session
  * registry path (`register`) and the SparkSessionExtensions path
  * (graft.GraftExtensions), so mis-parameterized calls fail analysis
  * instead of silently running with different semantics.
  */
package object functions {

  /** TEMPORAL_OVERLAPS(s1, e1, s2, e2): do [s1,e1) and [s2,e2) overlap —
    * reference BuiltInFunctionDefinitions TEMPORAL_OVERLAPS, expanded to
    * a boolean expression (SURVEY.md §2.7). */
  def temporalOverlaps(s1: org.apache.spark.sql.Column,
      e1: org.apache.spark.sql.Column, s2: org.apache.spark.sql.Column,
      e2: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    s1 < e2 && s2 < e1

  private[graft] def arityErr(name: String, msg: String): Nothing =
    throw new AnalysisException(
      errorClass = "INTERNAL_ERROR",
      messageParameters = Map("message" -> s"$name: $msg"))

  /** Extra parameters must be foldable ints — a silently-ignored
    * argument would return results for different parameters than
    * requested. */
  private[graft] def intArg(name: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case _ => arityErr(name, s"parameter must be an INT literal, got $e")
  }

  /** Validated SQL builders for every graft function. */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "split_index" -> { exprs =>
      if (exprs.length == 3) SplitIndex(exprs(0), exprs(1), exprs(2))
      else arityErr("split_index", s"expects 3 arguments, got ${exprs.length}")
    },
    "minhash_sig" -> {
      case Seq(t) => MinHashSig(t, 3, 32)
      case Seq(t, n, h) =>
        MinHashSig(t, intArg("minhash_sig", n), intArg("minhash_sig", h))
      case exprs => arityErr("minhash_sig",
        s"expects (text) or (text, ngram INT, numHashes INT), got ${exprs.length} args")
    },
    "simhash64" -> { exprs =>
      if (exprs.length == 1) SimHash64Expr(exprs.head)
      else arityErr("simhash64", s"expects 1 argument, got ${exprs.length}")
    },
    "winnow_fingerprint" -> {
      case Seq(t) => WinnowFingerprint(t, 5, 4)
      case Seq(t, k, w) => WinnowFingerprint(t,
        intArg("winnow_fingerprint", k), intArg("winnow_fingerprint", w))
      case exprs => arityErr("winnow_fingerprint",
        s"expects (text) or (text, k INT, w INT), got ${exprs.length} args")
    },
    "json_value" -> { exprs =>
      if (exprs.length == 2) JsonValue(exprs(0), exprs(1))
      else arityErr("json_value", s"expects 2 arguments, got ${exprs.length}")
    },
    "json_query" -> { exprs =>
      if (exprs.length == 2) JsonQuery(exprs(0), exprs(1))
      else arityErr("json_query", s"expects 2 arguments, got ${exprs.length}")
    },
    "json_exists" -> { exprs =>
      if (exprs.length == 2) JsonExists(exprs(0), exprs(1))
      else arityErr("json_exists", s"expects 2 arguments, got ${exprs.length}")
    },
    "ngrams" -> { exprs =>
      if (exprs.length == 2) NGrams(exprs(0), intArg("ngrams", exprs(1)))
      else arityErr("ngrams", s"expects 2 arguments, got ${exprs.length}")
    },
    "z_order" -> { exprs =>
      if (exprs.length < 2)
        arityErr("z_order",
          s"expects (bits INT, col, col, ...), got ${exprs.length} args")
      val bits = intArg("z_order", exprs.head)
      val nCols = exprs.length - 1
      // surface mis-parameterization as AnalysisException like every
      // other validated builder, not the expression's require()
      if (bits <= 0 || nCols * bits > 63)
        arityErr("z_order",
          s"numCols * bits must be in (0, 63], got $nCols * $bits")
      ZOrder64(exprs.tail.map(e =>
        org.apache.spark.sql.catalyst.expressions.Cast(e,
          org.apache.spark.sql.types.LongType)), bits)
    },
    "nfc_normalize" -> { exprs =>
      if (exprs.length == 1) NfcNormalize(exprs.head)
      else arityErr("nfc_normalize", s"expects 1 argument, got ${exprs.length}")
    },
    "word_gram_hashes" -> {
      case Seq(t, n) => WordGramHashes(t, intArg("word_gram_hashes", n),
        distinct = false)
      case exprs => arityErr("word_gram_hashes",
        s"expects (text, n INT), got ${exprs.length} args")
    },
    // curation-layer scalar surface: composed from built-in expressions
    // via the operator API, registered so SQL users get the same
    // semantics as the Scala surface
    "clean_text" -> composed1("clean_text",
      graft.operators.TextAnalysis.cleanText),
    "quality_score" -> composed1("quality_score",
      graft.operators.TextAnalysis.qualityScore),
    "redact_pii" -> composed1("redact_pii",
      graft.operators.TextAnalysis.redactPii),
    "lang_id" -> composed1("lang_id",
      graft.operators.TextAnalysis.langId),
    "token_count" -> composed1("token_count",
      graft.operators.TextAnalysis.tokenCount),
    "bpeish_token_count" -> composed1("bpeish_token_count",
      graft.operators.TextAnalysis.bpeishTokenCount),
    "dup_ngram_fraction" -> { exprs =>
      if (exprs.length == 2) {
        val n = intArg("dup_ngram_fraction", exprs(1))
        org.apache.spark.sql.graftbridge.ColumnBridge.eagerExpression(
          graft.operators.TextAnalysis.dupNgramFraction(
            org.apache.spark.sql.graftbridge.ColumnBridge.column(exprs(0)),
            n))
      } else arityErr("dup_ngram_fraction",
        s"expects (text, n INT), got ${exprs.length} args")
    })

  /** Builder for a 1-arg SQL function defined by a Column->Column
    * composition from the operator layer. */
  private def composed1(name: String,
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Seq[Expression] => Expression = { exprs =>
    if (exprs.length == 1)
      org.apache.spark.sql.graftbridge.ColumnBridge.eagerExpression(
        f(org.apache.spark.sql.graftbridge.ColumnBridge.column(exprs.head)))
    else arityErr(name, s"expects 1 argument, got ${exprs.length}")
  }

  /** Function registries that already hold every graft function. Keyed
    * weakly on the registry object itself: a new session has its own
    * registry and still gets the functions, and a dropped session's
    * registry is not kept alive here. */
  private val registered = new java.util.WeakHashMap[
    org.apache.spark.sql.catalyst.analysis.FunctionRegistry, java.lang.Boolean]

  /** Register all graft SQL functions on a session, once per session:
    * every TableEnv calls this, and re-registering would replace each
    * function with an identical one (one WARN line per function). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registered.synchronized {
      if (!registered.containsKey(reg)) {
        builders.foreach { case (name, b) =>
          reg.createOrReplaceTempFunction(name, b, "built-in")
        }
        spark.udf.register("weighted_avg",
          org.apache.spark.sql.functions.udaf(new Aggregators.WeightedAvg))
        // COLLECT → MULTISET as MAP<elem, INT> (string elements; the
        // reference's multiset of other types maps via CAST at the call
        // site). FlinkSqlDialect rewrites COLLECT(x) to this name.
        spark.udf.register("collect_multiset",
          org.apache.spark.sql.functions.udaf(new Aggregators.CollectMultiset))
        registered.put(reg, java.lang.Boolean.TRUE)
      }
    }
  }
}
