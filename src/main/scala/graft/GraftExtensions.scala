package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions

import graft.functions.{CosineSimilarity, StatsAggregator, WinnowFingerprints}

/** SQL surface for graft's native functions (SURVEY §7.3).
  *
  * Two ways in, one registration list:
  *
  *  - cluster-wide / notebook-at-startup:
  *    `--conf spark.sql.extensions=graft.GraftExtensions`
  *    (what `GraftSession` sets for every main and test);
  *  - an already-running session: `GraftExtensions.register(spark)`.
  *
  * After either, `spark.sql("SELECT cosine_similarity(a, b) ...")` uses
  * the codegen'd [[CosineSimilarity]] — SQL users get the same fused
  * loop as the Column API ([[graft.functions.VectorFunctions.cosineSim]]),
  * and `stats_bundle(v)` gives the one-pass Welford/Chan stats struct.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.expressions.foreach(ext.injectFunction)
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    GraftExtensions.optimizerRules.foreach(ext.injectOptimizerRule)
    // SQL maintenance verbs (OPTIMIZE/VACUUM/RESTORE/SHALLOW CLONE/
    // REORG PURGE) — a parser can only ride the session-build hook;
    // live register() sessions call the Versioned methods directly
    ext.injectParser((session, delegate) =>
      new graft.sources.GraftSqlParser(session, delegate))
  }
}

object GraftExtensions {

  /** The optimizer rules, in the order they must run. */
  val optimizerRules: Seq[SparkSession => Rule[LogicalPlan]] = Seq(
    // logical rewrites (opt-in by conf): BETWEEN theta-join → banded
    // equi-join (graft.plans.RangeJoinRewrite)
    graft.plans.RangeJoinRewrite(_),
    // materialized-aggregate rewrite (opt-in by registry: a no-op until
    // MaterializedViews.register is called)
    graft.plans.MvRewrite(_),
    // SQL row-level writes over graft relations: MERGE INTO / UPDATE /
    // DELETE / INSERT lowered onto the manifest mutation core
    graft.sources.GraftRowLevelSql(_),
    // vectorized-read upgrade (catalog scans, MOR windows) — must run
    // AFTER the mutation lowering (a mutation target keeps its native
    // relation shape)
    graft.sources.GraftVectorizedReads(_))

  /** True when the session was built with these extensions: the graft
    * parser can only ride the session-build hook, so it marks one. */
  def injected(spark: SparkSession): Boolean =
    spark.sessionState.sqlParser.isInstanceOf[graft.sources.GraftSqlParser]

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[CosineSimilarity].getName, null, name, usage, "")

  /** Expression-backed SQL functions: (identifier, info, builder). */
  val expressions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq((
      FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity",
        "_FUNC_(a, b) - cosine similarity of two float/double arrays (fused codegen loop)"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          s"cosine_similarity requires exactly 2 arguments, got ${args.length}")
        CosineSimilarity(args(0), args(1))
      }), (
      FunctionIdentifier("winnow_fingerprints"),
      info("winnow_fingerprints",
        "_FUNC_(text[, k, w]) - winnowed rolling-hash fingerprint set of an " +
          "ASCII-normalized string (k-gram size, window w; defaults 8, 4)"),
      (args: Seq[Expression]) => {
        def lit(e: Expression, what: String): Int = {
          require(e.foldable, s"winnow_fingerprints $what must be a literal integer")
          e.eval().asInstanceOf[Number].intValue()
        }
        args match {
          case Seq(text) => WinnowFingerprints(text, 8, 4)
          case Seq(text, k, w) =>
            // range validation (k > 0, w > 0) lives in ONE place:
            // WinnowFingerprints.checkInputDataTypes, which analysis
            // runs right after this builder
            WinnowFingerprints(text, lit(k, "k"), lit(w, "w"))
          case _ => throw new IllegalArgumentException(
            s"winnow_fingerprints requires 1 or 3 arguments, got ${args.length}")
        }
      }), (
      FunctionIdentifier("redact_pii"),
      info("redact_pii",
        "_FUNC_(text) - replace emails/phone numbers/IPv4s with typed " +
          "placeholders (<EMAIL>/<PHONE>/<IP>); same patterns as " +
          "graft.ext.Curation.redactPii"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"redact_pii requires exactly 1 argument, got ${args.length}")
        import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
        def rep(child: Expression, re: String, to: String) =
          RegExpReplace(child, Literal(re), Literal(to))
        rep(rep(rep(args(0),
          graft.ext.Curation.emailRe, "<EMAIL>"),
          graft.ext.Curation.phoneRe, "<PHONE>"),
          graft.ext.Curation.ipRe, "<IP>")
      }), (
      FunctionIdentifier("det_hash52"),
      info("det_hash52",
        "_FUNC_(expr) - deterministic 52-bit hash (md5-hex prefix) of expr's " +
          "string form; bit-identical in DuckDB — the reproducible-sampling / " +
          "bucketing key (graft.ext.DetHash.hash52). " +
          "e.g. WHERE _FUNC_(id) % 1000000 < 250000 keeps a stable 25% sample"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"det_hash52 requires exactly 1 argument, got ${args.length}")
        // built as a concrete Catalyst tree (a bridged functions._
        // Column stays unresolved inside a registry builder); shape
        // MUST mirror DetHash.hash52: conv(substr(md5(bin), 1, 13), 16, 10)
        import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Literal, Md5, Substring}
        import org.apache.spark.sql.types.{BinaryType, LongType, StringType}
        Cast(
          Conv(
            Substring(
              Md5(Cast(Cast(args(0), StringType), BinaryType)),
              Literal(1), Literal(13)),
            Literal(16), Literal(10)),
          LongType)
      }), (
      FunctionIdentifier("morton_key"),
      info("morton_key",
        "_FUNC_(a, b[, bits]) - Z-order (Morton) interleave of the low " +
          "`bits` bits (default 16) of two non-negative integral columns; " +
          "the lakehouse clustering key (graft.lake.Maintenance.mortonKey). " +
          "Statically unrolled shift/mask/or tree — whole-stage codegen"),
      (args: Seq[Expression]) => {
        // concrete Catalyst tree mirroring Maintenance.mortonKey: bit i
        // of `a` → position 2i+1, bit i of `b` → position 2i
        import org.apache.spark.sql.catalyst.expressions.{
          BitwiseAnd, BitwiseOr, Cast, Literal, ShiftLeft, ShiftRight}
        import org.apache.spark.sql.types.{IntegerType, LongType}
        def litBits(e: Expression): Int = {
          require(e.foldable, "morton_key bits must be a literal integer")
          e.eval().asInstanceOf[Number].intValue()
        }
        val bits = args match {
          case Seq(_, _) => 16
          case Seq(_, _, b) => litBits(b)
          case _ => throw new IllegalArgumentException(
            s"morton_key requires 2 or 3 arguments, got ${args.length}")
        }
        require(bits >= 1 && bits <= 31, s"morton_key bits must be in [1,31], got $bits")
        val al = Cast(args(0), LongType)
        val bl = Cast(args(1), LongType)
        val terms = (0 until bits).flatMap { i =>
          def bitAt(e: Expression, outPos: Int) =
            ShiftLeft(
              BitwiseAnd(
                ShiftRight(e, Literal(i, IntegerType)),
                Literal(1L, LongType)),
              Literal(outPos, IntegerType))
          Seq(bitAt(al, 2 * i + 1), bitAt(bl, 2 * i))
        }
        terms.reduce[Expression](BitwiseOr(_, _))
      }))

  /** TABLE-VALUED functions: the lake's introspection surface in SQL —
    * `SELECT * FROM graft_history('/lake')` (DESCRIBE HISTORY) and
    * `SELECT * FROM graft_changes('/lake', fromV, toV)` (the change
    * feed as a relation — SQL users consume CDC increments without the
    * library). Arguments must be literals: the builder resolves them at
    * analysis time and returns the corresponding plan. */
  val tableFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = {
    def litArg(e: Expression, what: String): Any = {
      require(e.foldable, s"$what must be a literal")
      e.eval()
    }
    def str(e: Expression, what: String): String =
      String.valueOf(litArg(e, what))
    def lng(e: Expression, what: String): Long =
      litArg(e, what).asInstanceOf[Number].longValue()
    Seq((
      FunctionIdentifier("graft_history"),
      info("graft_history",
        "_FUNC_(dir) - the versioned lake's commit history (DESCRIBE HISTORY)"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_history(dir) takes 1 argument, got ${args.length}")
        graft.lake.Versioned.history(SparkSession.active,
          str(args(0), "graft_history dir")).queryExecution.analyzed
      }), (
      FunctionIdentifier("graft_changes"),
      info("graft_changes",
        "_FUNC_(dir, fromV, toV) - the change-feed increments of versions " +
          "(fromV, toV] with _action/_commit_version columns"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          s"graft_changes(dir, fromV, toV) takes 3 arguments, got ${args.length}")
        graft.lake.Versioned.changesBetween(SparkSession.active,
          str(args(0), "graft_changes dir"),
          lng(args(1), "graft_changes fromV"),
          lng(args(2), "graft_changes toV")).queryExecution.analyzed
      }), (
      FunctionIdentifier("graft_files"),
      info("graft_files",
        "_FUNC_(dir[, version]) - the version's live data files from the " +
          "manifest (file, partition dir, foreign clone root if any)"),
      (args: Seq[Expression]) => {
        require(args.length == 1 || args.length == 2,
          s"graft_files(dir[, version]) takes 1-2 arguments, got ${args.length}")
        val spark = SparkSession.active
        val dir = str(args(0), "graft_files dir")
        val v = if (args.length == 2) lng(args(1), "graft_files version")
                else -1L
        import spark.implicits._
        graft.lake.Versioned.filesAt(spark, dir, v).map { ref =>
          val rel = graft.lake.Versioned.refRel(ref)
          val part = rel.split('/').dropRight(1)
            .filter(_.contains('=')).mkString("/")
          val root = graft.lake.Versioned.refRoot(dir, ref)
          (rel, if (part.isEmpty) null else part,
            if (root == dir) null else root)
        }.toDF("file", "partition", "foreign_root")
          .queryExecution.analyzed
      }),
    (
      FunctionIdentifier("graft_copy_ledger"),
      info("graft_copy_ledger",
        "_FUNC_(dir) - the COPY INTO ledger: one row per (batch seq, " +
          "source file) with the batch's commit status (false = intent " +
          "pending recovery)"),
      (args: Seq[Expression]) => {
        require(args.length == 1,
          s"graft_copy_ledger(dir) takes 1 argument, got ${args.length}")
        val spark = SparkSession.active
        import spark.implicits._
        graft.lake.CopyInto.ledger(spark,
            str(args(0), "graft_copy_ledger dir"))
          .toDF("seq", "src_file", "committed")
          .queryExecution.analyzed
      }))
  }

  /** Register everything into a LIVE session (the extensions hook only
    * applies at session build time). Idempotent: re-registering simply
    * replaces a function entry and skips rules already present.
    * Aggregators can't go through `injectFunction` (they are Aggregator
    * objects, not Expression trees), so `stats_bundle` is registered
    * here even on an extension-built session; everything else such a
    * session already carries inside its own optimizer fixed point, and
    * adding the rules again would plan every query through a second
    * copy of each. */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("stats_bundle", functions.udaf(StatsAggregator))
    if (!injected(spark)) {
      expressions.foreach { case (id, fnInfo, builder) =>
        spark.sessionState.functionRegistry.registerFunction(id, fnInfo, builder)
      }
      tableFunctions.foreach { case (id, fnInfo, builder) =>
        spark.sessionState.tableFunctionRegistry
          .registerFunction(id, fnInfo, builder)
      }
      val present = spark.experimental.extraOptimizations.map(_.getClass).toSet
      spark.experimental.extraOptimizations ++=
        optimizerRules.map(_(spark)).filterNot(r => present(r.getClass))
    }
  }
}
