package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, DeleteFromTable, Filter, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}

import graft.lake.Versioned

/** Upgrade ROW-BASED graft reads to the VECTORIZED fast path at plan
  * time — the reads the relation layer cannot express as a
  * `FileIndex` on its own:
  *
  *  - the SQL CATALOG's scans (`SELECT ... FROM graft.`dir``) lower
  *    through a `V1Scan` to the row-based snapshot relation — always
  *    correct, but paying per-row conversion on every SQL read;
  *  - a MOR WINDOW (pending equality tombstones) needs an anti-join
  *    no `FileIndex` can express, so the format drops to the same
  *    row-based relation.
  *
  * With this rule registered (GraftExtensions), both re-plan as the
  * manifest-driven `HadoopFsRelation` — vectorized parquet,
  * whole-stage codegen, partition pruning, sidecar skipping — with
  * pending tombstones applied as a POST-SCAN anti-join
  * ([[Versioned.applyTombstonesLogical]]: scoped bounds and exempt
  * sets identical to the snapshot core, keys lifted to logical names)
  * and a column mapping already served by the relation's own reader
  * seam ([[GraftMappedParquetFileFormat]]). The replacement projects
  * back onto the ORIGINAL exprIds, so everything above the leaf is
  * untouched. Without the rule, reads stay on the row-based relations
  * — slower, never wrong.
  *
  * Ordering contract: mutation commands must lower FIRST
  * ([[GraftRowLevelSql]] is registered ahead of this rule), and as a
  * belt-and-braces guard this rule leaves any plan whose ROOT is a
  * row-level command untouched — a mutation target must keep its
  * native relation shape for the command translation. */
case class GraftVectorizedReads(spark: SparkSession)
  extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case _: MergeIntoTable | _: UpdateTable | _: DeleteFromTable => plan
    // ANSI ADD CONSTRAINT plans a validation scan whose child the
    // constraint strategy matches BY SHAPE (DataSourceV2ScanRelation):
    // upgrading it to the V1 fast path would leave the command
    // unplannable — a one-off validation scan keeps the stock plan
    case _: org.apache.spark.sql.catalyst.plans.logical.AddCheckConstraint =>
      plan
    case _ =>
      // an aggregate straight over a catalog scan may be answered from
      // the stats rail by the scan's aggregate push-down, which runs
      // after the operator batch: those relations stay V2 for it
      val aggregated = plan.collect { case a: Aggregate => scanBelow(a.child) }
        .flatten
      plan.transform {
        // a catalog scan is still the bare relation inside the
        // optimizer's own batch (extension-injected), and the
        // pushed-down scan relation once scan push-down has run
        // (register() on a live session appends the rule after it)
        case r: DataSourceV2Relation
            if r.table.isInstanceOf[GraftVersionedTable] &&
              !aggregated.exists(_ eq r) =>
          val t = r.table.asInstanceOf[GraftVersionedTable]
          upgraded(t.dir, t.pinnedVersion, r.output).getOrElse(r)
        case s: DataSourceV2ScanRelation
            if s.relation.table.isInstanceOf[GraftVersionedTable] =>
          val t = s.relation.table.asInstanceOf[GraftVersionedTable]
          upgraded(t.dir, t.pinnedVersion, s.output).getOrElse(s)
        case l @ LogicalRelation(r: GraftSnapshotRelation, _, _, _, _) =>
          upgraded(r.dir, r.version, l.output).getOrElse(l)
      }
  }

  /** The relation under a chain of projections and filters, the shape
    * scan push-down can fold an aggregate into. */
  private def scanBelow(p: LogicalPlan): Option[LogicalPlan] = p match {
    case Project(_, c) => scanBelow(c)
    case Filter(_, c) => scanBelow(c)
    case r: DataSourceV2Relation => Some(r)
    case _ => None
  }

  /** The fast-path plan for (dir, version), projected onto `wanted`'s
    * exprIds; None when the upgrade does not apply (empty table — the
    * anchor-backed snapshot relation is the only reader of a zero-file
    * version) or the schemas diverge (never expected; refusing the
    * upgrade is always safe). */
  private def upgraded(dir: String, version: Long,
      wanted: Seq[Attribute]): Option[LogicalPlan] = {
    if (Versioned.filesAt(spark, dir, version).isEmpty) return None
    val base = spark.baseRelationToDataFrame(
      GraftFileIndex.relation(spark.sqlContext, dir, version))
    val fast = Versioned.applyTombstonesLogical(spark, dir, version, base)
    val out = fast.queryExecution.analyzed
    val aliases: Option[Seq[NamedExpression]] =
      wanted.foldLeft(Option(Seq.empty[NamedExpression])) { (acc, old) =>
        acc.flatMap { done =>
          out.output.find(a =>
            a.name.equalsIgnoreCase(old.name) &&
              org.apache.spark.sql.types.DataType
                .equalsIgnoreNullability(a.dataType, old.dataType))
            .map(a => done :+ Alias(a, old.name)(exprId = old.exprId,
              qualifier = Seq.empty,
              explicitMetadata = Some(old.metadata)))
        }
      }
    aliases.map(as => Project(as, out))
  }
}
