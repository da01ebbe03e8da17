package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateTable, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}

import graft.lake.Versioned

/** The SQL ROW-LEVEL WRITE surface — `spark.sql("MERGE INTO graft.` +
  * "`dir` ...\")`, `UPDATE`, `DELETE FROM` and `INSERT INTO` over any
  * graft-backed relation (catalog table, `USING graft` view, format
  * read) — the last declarative surface the reference's command-driven
  * UX implies (`summary.py:343-402`, `main.py:309-330` are commands a
  * user runs by name; their Spark-native spelling is SQL text).
  *
  * ARCHITECTURE — the Delta road, not the Iceberg one. Spark offers
  * two ways to own SQL mutations: implement DSv2
  * `SupportsRowLevelOperations` and let `RewriteMergeIntoTable` plan a
  * group-based copy-on-write (Iceberg), or intercept the ANALYZED
  * command and lower it onto the engine's own mutation core (Delta).
  * This engine takes the second, deliberately: the analyzer's
  * row-level rewrites live INSIDE the fixed-point Resolution batch,
  * ahead of any injectable rule, so implementing the marker interface
  * would hand the plan to Spark's generic full-group rewrite — and
  * bypass everything the manifest core already does right (scoped-
  * tombstone MOR merges with byte-flat write cost, partition-scoped
  * COW, CHECK/GENERATED enforcement, change-feed publication, txn
  * replay markers, commit-only CAS retries). Spark still does ALL the
  * SQL-surface work before we take over: name resolution, star
  * expansion (`UPDATE SET *` arrives as a full per-column assignment
  * list), assignment alignment and type checks — the analyzed
  * [[MergeIntoTable]] is resolved and aligned by the time
  * [[GraftRowLevelSql]] sees it (pinned by spec).
  *
  * The rule runs as an OPTIMIZER rule (`injectOptimizerRule` at
  * session build, `spark.experimental.extraOptimizations` via
  * [[graft.GraftExtensions.register]] on a live session): Spark's
  * eager command execution optimizes a command's plan before planning
  * it, so the lowering happens before the planner would refuse the
  * unhandled node.
  *
  * SEMANTIC CONTRACT for MERGE: the `ON` clause must be a conjunction
  * of `target.col = <source expression>` equalities — the row key the
  * manifest merge resolves by (extra predicates belong in `WHEN ...
  * AND <cond>` clauses, where they keep exact per-row semantics; an
  * ON residual would silently change which unmatched rows survive, so
  * it is refused loudly). The standard SQL cardinality rule is
  * enforced: more than one joined row per target key refuses before
  * any write. */
case class GraftRowLevelSql(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case m: MergeIntoTable if m.resolved =>
      GraftRowLevelSql.graftTarget(m.targetTable) match {
        case Some((dir, version)) =>
          // MERGE ... WITH SCHEMA EVOLUTION needs no work HERE: Spark's
          // ResolveMergeIntoSchemaEvolution already ran at analysis —
          // it computed the source-minus-target column diff, committed
          // it through GraftCatalog.alterTable (the METADATA-ONLY
          // Versioned.addColumn, old rows null-fill), and re-resolved
          // the target against the evolved, re-pinned table. By this
          // optimizer rule the evolution is a committed fact and the
          // assignments are aligned to the evolved schema; unsupported
          // evolutions (nested adds, type changes) refused loudly in
          // alterTable during analysis.
          GraftMergeIntoCommand(dir, version, m.targetTable, m.sourceTable,
            m.mergeCondition, m.matchedActions, m.notMatchedActions,
            m.notMatchedBySourceActions)
        case None => m
      }
    case u: UpdateTable if u.resolved =>
      GraftRowLevelSql.graftTarget(u.table) match {
        case Some((dir, version)) =>
          GraftUpdateCommand(dir, version, u.assignments, u.condition)
        case None => u
      }
    case d: DeleteFromTable if d.resolved =>
      GraftRowLevelSql.graftTarget(d.table) match {
        case Some((dir, version)) =>
          GraftDeleteCommand(dir, version, d.condition)
        case None => d
      }
    // SQL INSERT INTO a fast-path graft view: Spark's post-hoc analysis
    // already planned a bare HadoopFsRelation file write — files the
    // manifest would never reference. Reroute it through the manifest
    // protocol (the un-intercepted command can no longer lose data
    // either: GraftFileIndex.refresh throws — but with the rule in
    // force the INSERT genuinely WORKS)
    case i: InsertIntoHadoopFsRelationCommand
        if i.fileIndex.exists(_.isInstanceOf[GraftFileIndex]) =>
      val fi = i.fileIndex.get.asInstanceOf[GraftFileIndex]
      require(i.staticPartitions.isEmpty && !i.ifPartitionNotExists,
        "INSERT with a static PARTITION spec is not supported on graft " +
          "tables — provide partition values as ordinary columns")
      // V1Writes has already wrapped the query for the file-write
      // machinery this command will never use — unwrap it
      val query = i.query match {
        case w: org.apache.spark.sql.execution.datasources.WriteFiles =>
          w.child
        case q => q
      }
      GraftInsertCommand(fi.dir, fi.version, query,
        i.mode == SaveMode.Overwrite, i.outputColumnNames)
  }
}

object GraftRowLevelSql {

  /** `(dir, pinned version)` when `plan` is a graft-backed relation in
    * any of its three spellings — the DSv2 catalog table, the format's
    * fast-path `HadoopFsRelation` (manifest-driven [[GraftFileIndex]]),
    * or the mapping/MOR [[GraftSnapshotRelation]]. */
  private[graft] def graftTarget(plan: LogicalPlan): Option[(String, Long)] =
    EliminateSubqueryAliases(plan) match {
      case v: View => graftTarget(v.child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftVersionedTable => Some((t.dir, t.pinnedVersion))
        case _ => None
      }
      // the optimizer's early scan pushdown (pre-optimization batch,
      // BEFORE user rules) has already turned the relation into its
      // scan form by the time this rule runs on a command plan
      case s: DataSourceV2ScanRelation => s.relation.table match {
        case t: GraftVersionedTable => Some((t.dir, t.pinnedVersion))
        case _ => None
      }
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case fi: GraftFileIndex => Some((fi.dir, fi.version))
          case _ => None
        }
        case s: GraftSnapshotRelation => Some((s.dir, s.version))
        case _ => None
      }
      case _ => None
    }

  /** Mutating through a STALE pin is refused: catalog tables re-pin on
    * every query (loadTable), but a long-lived `USING graft` temp view
    * holds the version it was created at — committing "against" it
    * would silently resolve against a different snapshot than the one
    * the user is looking at. */
  private[sources] def requireCurrent(spark: SparkSession, dir: String,
      version: Long, op: String): Unit = {
    val cur = Versioned.currentVersion(spark, dir)
    require(version == cur,
      s"$op targets a stale pin of $dir (relation pinned v$version, table " +
        s"is at v$cur): re-resolve the table — SQL names through the graft " +
        "catalog re-pin per query; a temp view must be re-created")
  }

  /** Single-table expressions (UPDATE/DELETE): re-spell the analyzer's
    * exprId-bound references by NAME so they resolve against the
    * snapshot frame the mutation core builds internally. */
  private[sources] def byName(e: Expression): Column =
    GraftColumnBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
}

/** SQL MERGE INTO, lowered onto [[Versioned.mergeInto]] (or
  * [[Versioned.mergeIntoMor]] under
  * `spark.graft.sql.merge.mor=true`) — every WHEN clause shape:
  * conditional/unconditional UPDATE (partial or `SET *`), DELETE,
  * INSERT (partial or `INSERT *`), and NOT MATCHED BY SOURCE
  * UPDATE/DELETE. The translation builds the manifest core's
  * upsert batch: one full-row post-image per affected target row
  * (+ `__delete` markers), computed with Spark's own joins, then
  * commits through the merge path — constraints, generated columns,
  * change feed, scoped tombstones and commit retries all ride. */
case class GraftMergeIntoCommand(dir: String, version: Long,
    target: LogicalPlan, source: LogicalPlan, cond: Expression,
    matched: Seq[MergeAction], notMatched: Seq[MergeAction],
    notMatchedBySource: Seq[MergeAction]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    GraftRowLevelSql.requireCurrent(spark, dir, version, "MERGE INTO")
    val tgt = GraftColumnBridge.ofRows(spark, target)
    val src = GraftColumnBridge.ofRows(spark, source)
    val tgtAttrs: Seq[Attribute] = target.output
    require(!tgtAttrs.exists(_.name == "__delete"),
      "MERGE INTO a table with a __delete column is not supported " +
        "(the name is the merge protocol's delete marker)")
    val tgtRefs = AttributeSet(tgtAttrs)
    val srcRefs = AttributeSet(source.output)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // ON must be PURE key equalities — with them, the per-key upsert
    // the manifest core runs is row-for-row the SQL result (a residual
    // ON conjunct could leave SOME rows of a key unmatched, which an
    // upsert keyed on that column cannot express; WHEN ... AND conds
    // keep exact semantics because an un-actioned key stays whole)
    val keyed = conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b)
          if tgtRefs.contains(a) && b.references.subsetOf(srcRefs) => Some(a)
      case EqualTo(b, a: AttributeReference)
          if tgtRefs.contains(a) && b.references.subsetOf(srcRefs) => Some(a)
      case _ => None
    }
    require(keyed.forall(_.isDefined),
      "MERGE INTO a graft table: ON must be a conjunction of " +
        "`target.key = <source expression>` equalities (the row key the " +
        "manifest merge resolves by) — move residual predicates into " +
        "`WHEN ... AND <condition>` clauses, where they keep exact " +
        "per-row semantics")
    val keyAttrs = keyed.flatten.distinctBy(_.exprId)
    require(keyAttrs.nonEmpty,
      "MERGE INTO a graft table needs at least one target-key equality in ON")
    val rowKey = keyAttrs.map(_.name)
    def colOf(e: Expression): Column = GraftColumnBridge.column(e)
    val condCol = colOf(cond)

    // first-matching-action gating, null-safe and mutually exclusive
    def gates(actions: Seq[MergeAction]): Seq[Column] = {
      val cs = actions.map(a =>
        coalesce(a.condition.map(colOf).getOrElse(lit(true)), lit(false)))
      cs.zipWithIndex.map { case (c, i) =>
        cs.take(i).foldLeft(c)((acc, prev) => acc && !prev)
      }
    }
    def assigned(assigns: Seq[Assignment], attr: Attribute): Option[Column] =
      assigns.collectFirst {
        case Assignment(k: AttributeReference, v) if k.exprId == attr.exprId =>
          colOf(v)
      }
    // one full-row image per actioned row; rows no action claims are
    // EXCLUDED (their key never enters the batch, so they survive)
    def images(rows: DataFrame, actions: Seq[MergeAction]): DataFrame = {
      val gs = gates(actions)
      val img = tgtAttrs.map { attr =>
        actions.zip(gs).foldRight(lit(null).cast(attr.dataType): Column) {
          case ((a, g), acc) =>
            val v = a match {
              case UpdateAction(_, assigns, _) =>
                assigned(assigns, attr).getOrElse(colOf(attr))
              case InsertAction(_, assigns) =>
                assigned(assigns, attr)
                  .getOrElse(lit(null).cast(attr.dataType))
              case _: DeleteAction => colOf(attr)
              case other => throw new IllegalArgumentException(
                s"unsupported merge action: $other")
            }
            when(g, v).otherwise(acc)
        }.as(attr.name)
      }
      val delCol = actions.zip(gs)
        .collect { case (_: DeleteAction, g) => g }
        .reduceOption(_ || _).getOrElse(lit(false))
      rows.filter(gs.reduce(_ || _)).select(img :+ delCol.as("__delete"): _*)
    }

    // ONE source scan per merge: the source is an arbitrary query —
    // at 100 TB usually the expensive side to recompute — and it feeds
    // up to three joins below. Persist it (as Versioned.append persists
    // its batch) so every family reads the cached source; persist the
    // joined pair too, so the cardinality check and the matched images
    // share a SINGLE join execution instead of replaying it.
    val srcC = src.persist()
    val pairC =
      if (matched.nonEmpty || notMatched.nonEmpty)
        Some(srcC.join(tgt, condCol, "inner").persist())
      else None
    try {
      // the SQL cardinality contract: at most one joined row per target
      // key (covers both a multi-matching source and duplicate target
      // keys — either would make the per-key upsert ambiguous). This
      // action also materializes the pair cache the images read from.
      pairC.foreach { pair =>
        val dup = pair.groupBy(keyAttrs.map(colOf): _*).count()
          .filter(col("count") > 1).limit(1).count()
        require(dup == 0L,
          "MERGE INTO matched more than one row per target key — SQL merge " +
            "requires a 1:1 match (deduplicate the source, or key-unique " +
            "the target)")
      }
      val parts = Seq(
        pairC.filter(_ => matched.nonEmpty).map(images(_, matched)),
        if (notMatched.isEmpty) None
        else Some(images(srcC.join(tgt, condCol, "left_anti"), notMatched)),
        if (notMatchedBySource.isEmpty) None
        else Some(images(tgt.join(srcC, condCol, "left_anti"),
          notMatchedBySource))).flatten
      val updates = parts.reduceOption(_ unionByName _).getOrElse(return Nil)
      // the per-key upsert replaces ALL target rows of a batch key with
      // the batch's image, so the BATCH must be key-unique. The pair
      // check above cannot see every shape — a NOT MATCHED BY SOURCE
      // merge against duplicate unmatched target keys, or a key with
      // one matched and one unmatched copy claimed by different
      // families, both build >1 image per key — so the committed batch
      // itself is checked, completely.
      val dupBatch = updates.groupBy(rowKey.map(col): _*).count()
        .filter(col("count") > 1).limit(1).count()
      require(dupBatch == 0L,
        "MERGE INTO built more than one row image per target key (the " +
          "target holds duplicate rows for a key this merge actions) — " +
          "the per-key upsert cannot express that: key-unique the target " +
          "first")
      if (updates.isEmpty) return Nil // nothing actioned: SQL no-op
      val partitionKeys = Versioned.layoutPartitionKeys(spark, dir)
      val mor = spark.conf.getOption("spark.graft.sql.merge.mor")
        .exists(_.toBoolean)
      if (mor)
        Versioned.mergeIntoMor(spark, dir, updates, partitionKeys, rowKey)
      else Versioned.mergeInto(spark, dir, updates, partitionKeys, rowKey)
      Nil
    } finally {
      pairC.foreach(_.unpersist())
      srcC.unpersist()
    }
  }
}

/** SQL UPDATE — the SAME cost-based routing as DELETE (see
  * [[GraftDeleteCommand]]), between the partition-scoped COW rewrite
  * ([[Versioned.updateWhere]]) and the MERGE-ON-READ deletion-vector
  * update ([[Versioned.updateWhereVectors]]: hide the matched rows
  * behind a (file, ordinal) vector + append their post-images —
  * O(matched rows), zero rewrites, the wide-backfill shape at
  * 100 TB). Both produce identical results; the router picks the
  * cheaper write. `spark.graft.sql.update.vectors` /
  * `spark.graft.sql.update.cow` force a strategy. */
case class GraftUpdateCommand(dir: String, version: Long,
    assignments: Seq[Assignment], condition: Option[Expression])
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    GraftRowLevelSql.requireCurrent(spark, dir, version, "UPDATE")
    val assigns = assignments.map {
      case Assignment(k: AttributeReference, v) =>
        k.name -> GraftRowLevelSql.byName(v)
      case Assignment(other, _) => throw new IllegalArgumentException(
        s"UPDATE of a nested field ($other) is not supported on graft " +
          "tables — assign the whole column")
    }
    require(assigns.map(_._1).distinct.size == assigns.size,
      "UPDATE assigns the same column twice")
    val pred = condition.map(GraftRowLevelSql.byName).getOrElse(lit(true))
    val keys = Versioned.layoutPartitionKeys(spark, dir)
    def conf(k: String) = spark.conf.getOption(k).exists(_.toBoolean)
    val useVectors =
      if (conf("spark.graft.sql.update.vectors")) true
      else if (conf("spark.graft.sql.update.cow")) false
      else condition match {
        case Some(c) =>
          GraftDeleteCommand.route(spark, dir, c, keys) ==
            GraftDeleteCommand.Vectors
        // no WHERE = every row: the rewrite IS the work either way,
        // and COW leaves no MOR debt behind it
        case None => false
      }
    if (useVectors)
      Versioned.updateWhereVectors(spark, dir, pred, assigns.toMap, keys)
    else
      Versioned.updateWhere(spark, dir, pred, assigns.toMap, keys)
    Nil
  }
}

/** SQL DELETE — COST-BASED routing between the engine's three delete
  * strategies, confs as overrides (at 100 TB the DEFAULT is what saves
  * the fleet, not the expert knob):
  *
  *  - `spark.graft.sql.delete.vectors=true` forces POSITIONAL DELETION
  *    VECTORS ([[Versioned.deleteWhereVectors]]): O(matched rows)
  *    written, ZERO rewrites, ANY predicate, no key needed;
  *  - `spark.graft.sql.delete.mor=true` on a table whose change feed
  *    declares a row identity forces the O(keys) equality-tombstone
  *    [[Versioned.deleteWhere]] — ONE small key file, the
  *    GDPR-erasure shape. This stays OPT-IN ONLY, never auto-routed:
  *    an equality tombstone also hides later RE-INSERTS of the key
  *    (deliberately — erasure semantics), which positional/COW
  *    deletes do not, and the engine must not change future-write
  *    semantics on a cost estimate;
  *  - `spark.graft.sql.delete.cow=true` forces the copy-on-write
  *    rewrite ([[Versioned.deleteWhereCow]]).
  *
  * AUTO (no conf): a predicate touching ONLY partition columns routes
  * to COW — the rewrite prunes to exactly the named partitions and
  * leaves zero MOR read debt. Otherwise the stats sidecar (when the
  * table runs the discipline) estimates the predicate's FILE
  * footprint — the same min/max boxes the pruned reads use: a
  * predicate whose candidate files are a small fraction of the table
  * (<= `spark.graft.sql.delete.cowMaxFraction`, default 0.25) pays
  * the bounded rewrite and stays debt-free; a WIDE sweep (a TTL
  * expiry, a GDPR predicate across every partition) routes to
  * deletion vectors — O(matched) bytes instead of rewriting most of a
  * 100 TB table. Unstatsed tables and untranslatable predicates keep
  * the COW default (no estimate, no surprise). */
case class GraftDeleteCommand(dir: String, version: Long,
    condition: Expression) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    GraftRowLevelSql.requireCurrent(spark, dir, version, "DELETE")
    val pred = GraftRowLevelSql.byName(condition)
    def conf(k: String) = spark.conf.getOption(k).exists(_.toBoolean)
    val keys = Versioned.layoutPartitionKeys(spark, dir)
    if (conf("spark.graft.sql.delete.vectors"))
      Versioned.deleteWhereVectors(spark, dir, pred)
    else if (conf("spark.graft.sql.delete.mor")) {
      val feedKeys = Versioned.changeFeedKey(spark, dir).getOrElse(
        throw new IllegalArgumentException(
          "spark.graft.sql.delete.mor needs a declared row identity: " +
            s"enableChangeFeed (or the graft.changeFeed.keys table " +
            s"property) on $dir first — the feed key is the equality-" +
            "tombstone's erasure identity"))
      Versioned.deleteWhere(spark, dir, pred, feedKeys)
    } else if (conf("spark.graft.sql.delete.cow"))
      Versioned.deleteWhereCow(spark, dir, pred, keys)
    else GraftDeleteCommand.route(spark, dir, condition, keys) match {
      case GraftDeleteCommand.Cow =>
        Versioned.deleteWhereCow(spark, dir, pred, keys)
      case GraftDeleteCommand.Vectors =>
        Versioned.deleteWhereVectors(spark, dir, pred)
    }
    Nil
  }
}

object GraftDeleteCommand {
  private[sources] sealed trait Route
  private[sources] case object Cow extends Route
  private[sources] case object Vectors extends Route

  /** The auto-routing decision, exposed for the spec: COW for
    * partition-aligned or provably-narrow predicates, deletion vectors
    * for provably-wide ones, COW when nothing can be proven. */
  private[sources] def route(spark: SparkSession, dir: String,
      condition: Expression, partitionKeys: Seq[String]): Route = {
    val refs = condition.references.map(_.name).toSet
    if (partitionKeys.nonEmpty && refs.nonEmpty &&
        refs.subsetOf(partitionKeys.toSet))
      return Cow // the rewrite prunes to exactly the named partitions
    val maxFrac = spark.conf
      .getOption("spark.graft.sql.delete.cowMaxFraction")
      .map(_.toDouble).getOrElse(0.25)
    val preds = GraftFileIndex.toPrunePreds(condition)
    val total = Versioned.filesAt(spark, dir).size
    if (preds.isEmpty || total == 0) return Cow
    // unserved predicates drop out of the estimate
    val cand = Versioned.prunedScanCandidates(spark, dir, preds)
    if (cand.served.isEmpty) Cow // no stats discipline: no estimate, no surprise
    else if (cand.files.size.toDouble / total > maxFrac) Vectors
    else Cow // narrow footprint: bounded rewrite, no debt
  }
}

/** SQL INSERT INTO / INSERT OVERWRITE a graft format relation →
  * [[Versioned.append]] / [[Versioned.overwrite]] — the manifest
  * commit the bare `InsertIntoHadoopFsRelationCommand` write would
  * have bypassed. The query arrives already reordered and cast by
  * Spark's own insertion resolution (positional, partition columns
  * last), so the rename-to-table-names is exact. */
case class GraftInsertCommand(dir: String, version: Long,
    query: LogicalPlan, overwrite: Boolean,
    outputColumnNames: Seq[String]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    GraftRowLevelSql.requireCurrent(spark, dir, version,
      if (overwrite) "INSERT OVERWRITE" else "INSERT INTO")
    val data = GraftColumnBridge.ofRows(spark, query)
      .toDF(outputColumnNames: _*)
    val keys = Versioned.layoutPartitionKeys(spark, dir)
    if (overwrite) Versioned.overwrite(spark, dir, data, keys)
    else Versioned.append(spark, dir, data, keys)
    Nil
  }
}
