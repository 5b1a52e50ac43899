package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.StringType

import graft.functions._

/** Catalyst extension module: registers the engine's codegen text
  * kernels as SQL functions, so a SQL-only user (spark.sql, JDBC,
  * SQL notebooks) gets the same 10-100x kernels the Column API uses —
  * the `SparkSessionExtensions` integration tier (inject at session
  * build time via `GraftSession.builder`, or from config with
  * `spark.sql.extensions=graft.GraftExtensions`).
  *
  *   SELECT doc_id, sliding_min(token_gram_hashes(split(text, ' '), 4, true), 5) ...
  *   SELECT char_entropy(text).entropy ...
  *   SELECT multi_contains_indices(text, array('badword', 'spam phrase')) ...
  *
  * Shape arguments (gram size, window, bit width, pattern lists) must
  * be literals — they parameterize the expression instance itself
  * (automaton construction, coefficient tables), exactly like Spark's
  * own `from_json` schema argument.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.install(ext)
}

object GraftExtensions {

  private def foldableArg(args: Seq[Expression], i: Int, fn: String): Any = {
    require(i < args.length, s"$fn: missing argument ${i + 1}")
    val e = args(i)
    require(e.foldable, s"$fn: argument ${i + 1} must be a literal")
    e.eval(null)
  }

  private def intArg(args: Seq[Expression], i: Int, fn: String): Int =
    foldableArg(args, i, fn) match {
      case n: Int => n
      // toIntExact: an out-of-range Long must error, not silently
      // truncate into a tiny (wrong) window/gram size
      case n: Long => java.lang.Math.toIntExact(n)
      case n: Short => n.toInt
      case n: Byte => n.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer literal, got $other")
    }

  private def longArg(args: Seq[Expression], i: Int, fn: String): Long =
    foldableArg(args, i, fn) match {
      case n: Long => n
      case n: Int => n.toLong
      case n: Short => n.toLong
      case n: Byte => n.toLong
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a non-null integer literal, got $other")
    }

  private def boolArg(args: Seq[Expression], i: Int, fn: String): Boolean =
    foldableArg(args, i, fn) match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a boolean literal, got $other")
    }

  private def stringArrayArg(args: Seq[Expression], i: Int, fn: String): Seq[String] =
    foldableArg(args, i, fn) match {
      case a: ArrayData =>
        a.toObjectArray(StringType).toSeq.map { v =>
          require(v != null, s"$fn: pattern list must not contain nulls")
          v.toString
        }
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an array<string> literal, got $other")
    }

  private def nArgs(args: Seq[Expression], fn: String, ns: Int*): Unit =
    require(ns.contains(args.length),
      s"$fn expects ${ns.mkString(" or ")} arguments, got ${args.length}")

  /** Install every kernel as a SQL function. */
  def install(ext: SparkSessionExtensions): Unit = {
    // optimizer tier: conf-gated rewrite of no-equi-key range joins
    // into binned equi-joins (see graft.plans.RangeJoinRule)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRule)
    // rolling statistics: chained Rolling nodes collapse into one, which
    // plans as one streaming RollingExec (see graft.plans.Rolling)
    ext.injectOptimizerRule(_ => graft.plans.CollapseRolling)
    ext.injectPlannerStrategy(_ => graft.plans.RollingStrategy)

    def reg(name: String, clazz: Class[_])(builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))

    // ----- lakehouse table-valued functions: the Delta/Iceberg
    // sources for SQL-only users (`SELECT ... FROM delta_table(path
    // [, version])`). The builder returns the source's LOGICAL PLAN —
    // the outer analyzer resolves it like any subquery, so pushdown/
    // pruning over the produced scan work unchanged.
    def regTable(name: String)(
        builder: Seq[Expression] => org.apache.spark.sql.DataFrame): Unit =
      ext.injectTableFunction((FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, name),
        (args: Seq[Expression]) => builder(args).queryExecution.logical))
    def stringArg(args: Seq[Expression], i: Int, fn: String): String =
      foldableArg(args, i, fn) match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case s: String => s
        case other => throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} must be a non-null string literal, got " +
            (if (other == null) "null" else other.toString))
      }
    def session = org.apache.spark.sql.SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))
    regTable("delta_table") { args =>
      nArgs(args, "delta_table", 1, 2)
      graft.sources.DeltaLake.fromDelta(session,
        stringArg(args, 0, "delta_table"),
        if (args.length > 1) Some(longArg(args, 1, "delta_table")) else None)
    }
    regTable("delta_changes") { args =>
      nArgs(args, "delta_changes", 2, 3)
      graft.sources.DeltaLake.fromDeltaChanges(session,
        stringArg(args, 0, "delta_changes"),
        longArg(args, 1, "delta_changes"),
        if (args.length > 2) Some(longArg(args, 2, "delta_changes")) else None)
    }
    regTable("iceberg_table") { args =>
      nArgs(args, "iceberg_table", 1, 2)
      graft.sources.Iceberg.fromIceberg(session,
        stringArg(args, 0, "iceberg_table"),
        if (args.length > 1) Some(longArg(args, 1, "iceberg_table")) else None)
    }
    regTable("delta_cdf") { args =>
      nArgs(args, "delta_cdf", 2, 3)
      graft.sources.DeltaLake.fromDeltaCdf(session,
        stringArg(args, 0, "delta_cdf"),
        longArg(args, 1, "delta_cdf"),
        if (args.length > 2) Some(longArg(args, 2, "delta_cdf")) else None)
    }
    regTable("iceberg_changes") { args =>
      nArgs(args, "iceberg_changes", 1, 2, 3)
      graft.sources.Iceberg.fromIcebergChanges(session,
        stringArg(args, 0, "iceberg_changes"),
        if (args.length > 1) longArg(args, 1, "iceberg_changes") else -1L,
        if (args.length > 2) Some(longArg(args, 2, "iceberg_changes")) else None)
    }
    regTable("iceberg_changelog") { args =>
      nArgs(args, "iceberg_changelog", 1, 2, 3)
      graft.sources.Iceberg.fromIcebergChangelog(session,
        stringArg(args, 0, "iceberg_changelog"),
        if (args.length > 1) longArg(args, 1, "iceberg_changelog") else -1L,
        if (args.length > 2) Some(longArg(args, 2, "iceberg_changelog")) else None)
    }

    reg("token_gram_hashes", classOf[TokenGramHashes]) { args =>
      nArgs(args, "token_gram_hashes", 3)
      TokenGramHashes(args(0), intArg(args, 1, "token_gram_hashes"),
        boolArg(args, 2, "token_gram_hashes"))
    }
    reg("sliding_min", classOf[SlidingMin]) { args =>
      nArgs(args, "sliding_min", 2)
      SlidingMin(args(0), intArg(args, 1, "sliding_min"))
    }
    reg("shingle_strings", classOf[ShingleStrings]) { args =>
      nArgs(args, "shingle_strings", 2, 3)
      ShingleStrings(args(0), intArg(args, 1, "shingle_strings"),
        if (args.length > 2) boolArg(args, 2, "shingle_strings") else true)
    }
    reg("hash_strings", classOf[HashStrings]) { args =>
      nArgs(args, "hash_strings", 6)
      HashStrings(args(0), boolArg(args, 1, "hash_strings"),
        intArg(args, 2, "hash_strings"),
        longArg(args, 3, "hash_strings"), longArg(args, 4, "hash_strings"),
        boolArg(args, 5, "hash_strings"))
    }
    reg("minhash_sig", classOf[MinhashSig]) { args =>
      nArgs(args, "minhash_sig", 2)
      val k = intArg(args, 1, "minhash_sig")
      MinhashSig(args(0), (0 until k).map(TextFunctions.uhashA).toArray,
        (0 until k).map(TextFunctions.uhashB).toArray)
    }
    reg("simhash_bits", classOf[SimhashBits]) { args =>
      nArgs(args, "simhash_bits", 2)
      SimhashBits(args(0), intArg(args, 1, "simhash_bits"))
    }
    reg("sorted_run_stats", classOf[SortedRunStats]) { args =>
      nArgs(args, "sorted_run_stats", 1)
      SortedRunStats(args(0))
    }
    reg("char_entropy", classOf[CharEntropy]) { args =>
      nArgs(args, "char_entropy", 1)
      CharEntropy(args(0))
    }
    reg("multi_contains_indices", classOf[MultiContainsIndices]) { args =>
      nArgs(args, "multi_contains_indices", 2)
      val pats = stringArrayArg(args, 1, "multi_contains_indices")
      MultiContainsIndices(args(0),
        new AhoCorasick.Automaton(pats.map(_.getBytes("UTF-8")).toArray),
        pats.length)
    }
    reg("float_vector_dot", classOf[FloatVectorDot]) { args =>
      nArgs(args, "float_vector_dot", 2)
      FloatVectorDot(args(0), args(1))
    }
    reg("nfc_normalize", classOf[NfcNormalize]) { args =>
      nArgs(args, "nfc_normalize", 1)
      NfcNormalize(args(0))
    }
    reg("deflate_len", classOf[DeflateLen]) { args =>
      nArgs(args, "deflate_len", 1)
      DeflateLen(args(0))
    }
    reg("term_counts", classOf[TermCounts]) { args =>
      nArgs(args, "term_counts", 2)
      TermCounts(args(0), stringArrayArg(args, 1, "term_counts"))
    }
    reg("mojibake_repair", classOf[MojibakeRepair]) { args =>
      nArgs(args, "mojibake_repair", 1)
      MojibakeRepair(args(0))
    }
    reg("luhn_valid", classOf[LuhnValid]) { args =>
      nArgs(args, "luhn_valid", 1)
      LuhnValid(args(0))
    }
    reg("feature_weight_sum", classOf[FeatureWeightSum]) { args =>
      nArgs(args, "feature_weight_sum", 4)
      FeatureWeightSum(args(0), intArg(args, 1, "feature_weight_sum"),
        longArg(args, 2, "feature_weight_sum"),
        longArg(args, 3, "feature_weight_sum"))
    }
    reg("bpe_apply", classOf[BpeApply]) { args =>
      nArgs(args, "bpe_apply", 2)
      // merge table as an array<string> literal in merges.txt form:
      // one 'first second' entry per element, rank = position
      val merges = stringArrayArg(args, 1, "bpe_apply").zipWithIndex.map {
        case (m, r) =>
          val sp = m.indexOf(' ')
          require(sp > 0 && sp < m.length - 1 && m.indexOf(' ', sp + 1) < 0,
            s"bpe_apply: merge entry $r must be 'first second' (one space), got '$m'")
          (m.substring(0, sp), m.substring(sp + 1))
      }
      BpeApply(args(0), merges)
    }
    reg("srp_band_keys", classOf[SrpBandKeysExpr]) { args =>
      nArgs(args, "srp_band_keys", 4)
      val dim = intArg(args, 1, "srp_band_keys")
      val nBands = intArg(args, 2, "srp_band_keys")
      val bitsPerBand = intArg(args, 3, "srp_band_keys")
      // ONE shared plane derivation (VectorKernels.srpSigns) keeps the
      // SQL surface and SimilaritySearch.srpBandKeys bucket-identical
      SrpBandKeysExpr(args(0),
        VectorKernels.srpSigns(dim, nBands, bitsPerBand), nBands, bitsPerBand)
    }
  }
}
