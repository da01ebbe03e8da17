package graft.sources

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange, TruncatableTable}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{ByteType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.lake.Versioned

/** A Spark `TableCatalog` over versioned graft lakes, registered as
  * {{{
  *   spark.sql.catalog.graft = graft.sources.GraftCatalog
  * }}}
  * so SQL can name tables by their directory —
  * `SELECT ... FROM graft.`/data/lake`` — and, the part no `USING
  * graft` view can give, Spark's OWN time-travel syntax resolves
  * through the manifest log:
  * `SELECT ... FROM graft.`/data/lake`` VERSION AS OF 3` /
  * `TIMESTAMP AS OF '...'` (the planner calls the versioned
  * `loadTable` overloads below).
  *
  * Read shape: the catalog table's scan is a [[V1Scan]] wrapping the
  * same snapshot relation the `graft` format's mapping/MOR path uses
  * — always correct (mapping, tombstones, scoped bounds all applied
  * by [[Versioned.snapshot]]), row-based at the relation boundary.
  * Pushed filters forward into the inner plan (whose parquet scan
  * prunes and pushes) and remain residual for Spark, pushed columns
  * prune the inner projection. For the vectorized fast path use the
  * format surface (`spark.read.format("graft")` / `CREATE TABLE ...
  * USING graft`); this catalog buys SQL NAMES + SQL TIME TRAVEL.
  *
  * Write surface: SQL `INSERT INTO`/`INSERT OVERWRITE` commit through
  * the manifest (the table's [[org.apache.spark.sql.connector.write.V1Write]]
  * routes to `Versioned.append`/`overwrite`); SQL `MERGE INTO` /
  * `UPDATE` / `DELETE FROM` lower onto the mutation core via
  * [[GraftRowLevelSql]] (register [[graft.GraftExtensions]]);
  * `CREATE TABLE ... AS SELECT` runs atomically through the staged
  * create below; `DROP TABLE` removes the manifest AND data (guarded).
  * RENAME stays refused — tables are identified by path and clones
  * hold absolute refs into it. Column-level evolution is `ALTER TABLE
  * RENAME/DROP COLUMN`, `ADD COLUMN` and the `graft.*` properties. */
class GraftCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = { catalogName = name }

  override def name(): String = catalogName

  /** SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS lets `CREATE TABLE
    * (c T GENERATED ALWAYS AS (expr))` through the analyzer: the
    * expression arrives in the column's metadata and [[createTable]]
    * lowers it onto the manifest's own `#gen` rail
    * ([[Versioned.addGeneratedColumn]] — every writer computes absent
    * values and VALIDATES present ones from then on). */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      // ANSI `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)` —
      // lowered onto the manifest's `#chk` rail in alterTable
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_TABLE_CONSTRAINT,
      // `CREATE TABLE (c T DEFAULT expr)` — lowered onto the `#default`
      // rail ([[Versioned.setColumnDefault]]); the rule is also
      // reported back through column metadata so Spark's analyzer
      // fills OMITTED insert columns plan-side
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE,
      // `c BIGINT GENERATED [ALWAYS | BY DEFAULT] AS IDENTITY (START
      // WITH s INCREMENT BY k)` — lowered onto the `#ident` rail
      // ([[Versioned.declareIdentity]]): engine-assigned monotonic ids,
      // unique but NOT gap-free (the distributed contract)
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  private def dirOf(ident: Identifier): String = {
    // the table name IS the lake directory (namespace-less, or the
    // namespace parts re-join the path a SQL parser split on dots)
    val parts = ident.namespace().toSeq :+ ident.name()
    parts.mkString(".") // dirs with dots re-assemble; plain paths pass through
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // lakes are paths, not an enumerable namespace

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    val cur = Versioned.currentVersion(spark, dir)
    if (cur < 0) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchTableException(ident)
    new GraftVersionedTable(dir, cur)
  }

  /** `VERSION AS OF <v>` — Spark hands the version string here. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    val cur = Versioned.currentVersion(spark, dir)
    if (cur < 0) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchTableException(ident)
    val v = version.toLong
    require(v >= 0 && v <= cur,
      s"version $v does not exist in $dir (current is $cur)")
    new GraftVersionedTable(dir, v)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    val cur = Versioned.currentVersion(spark, dir)
    if (cur < 0) throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchTableException(ident)
    new GraftVersionedTable(dir,
      Versioned.versionAsOf(spark, dir, timestamp / 1000L))
  }

  /** The v2-Column overload is where GENERATED ALWAYS AS arrives
    * (`Column.generationExpression()` — the StructType conversion
    * below drops it): extract the rules, then run the common flow. */
  override def createTable(ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val gens = columns.toSeq.collect {
      case c if c.generationExpression() != null =>
        c.name() -> c.generationExpression()
    }
    // `c T DEFAULT expr` — Spark has already constant-folded and
    // type-checked the expression (ColumnDefaultValue carries the
    // folded literal); the ORIGINAL SQL goes to the `#default` rail so
    // re-evaluating defaults (current_timestamp) stay per-write
    val defaults = columns.toSeq.collect {
      case c if c.defaultValue() != null =>
        c.name() -> c.defaultValue().getSql()
    }
    val idents = columns.toSeq.collect {
      case c if c.identityColumnSpec() != null =>
        val sp = c.identityColumnSpec()
        require(c.dataType() == org.apache.spark.sql.types.LongType,
          s"IDENTITY column ${c.name()} must be BIGINT " +
            s"(got ${c.dataType().simpleString})")
        (c.name(), sp.getStart, sp.getStep, sp.isAllowExplicitInsert)
    }
    createImpl(ident,
      StructType(columns.map { c =>
        val md = Option(c.comment()).map(cm =>
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("comment", cm).build())
          .getOrElse(org.apache.spark.sql.types.Metadata.empty)
        org.apache.spark.sql.types.StructField(
          c.name(), c.dataType(), c.nullable(), md)
      }),
      partitions, gens, defaults, idents)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    createImpl(ident, schema, partitions, Nil, Nil)

  /** The TableInfo overload is where INLINE table constraints arrive
    * (`CREATE TABLE (..., CONSTRAINT c CHECK (expr))`) — the default
    * delegation would DROP them silently. CHECK lands on the `#chk`
    * rail after the create; other kinds refuse. */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val t = createTable(ident, info.columns(), info.partitions(),
      info.properties())
    applyCreateConstraints(ident, info.constraints())
    if (info.constraints().nonEmpty) loadTable(ident) else t
  }

  private def applyCreateConstraints(ident: Identifier,
      cs: Array[org.apache.spark.sql.connector.catalog.constraints.Constraint])
      : Unit = {
    val spark = SparkSession.active
    cs.toSeq.foreach {
      case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
        Versioned.addConstraint(spark, dirOf(ident), chk.name(),
          chk.predicateSql())
      case other => throw new UnsupportedOperationException(
        s"graft tables enforce CHECK constraints only (got " +
          s"${other.toDDL}): UNIQUE/PRIMARY KEY/FOREIGN KEY are not " +
          "enforced — pin them with dedup/merge keys instead")
    }
  }

  /** SQL `CREATE TABLE graft.`dir`` (c1 T, ...) PARTITIONED BY (k)`:
    * initializes a versioned lake at the directory — v0 is the EMPTY
    * table (a zero-row `_schema` anchor carries the declared schema
    * until the first write), and identity partition columns become the
    * lake's DECLARED spec, so every later writer (SQL INSERT, the
    * format, the library) is spec-checked from day one. Only identity
    * transforms: bucket/days/etc. are expressed as GENERATED columns
    * plus `changePartitionSpec` (hidden partitioning), the library's
    * explicit surface. */
  private def createImpl(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      gensIn: Seq[(String, String)],
      defaultsIn: Seq[(String, String)] = Nil,
      identsIn: Seq[(String, Long, Long, Boolean)] = Nil): Table = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    if (Versioned.currentVersion(spark, dir) >= 0)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    // a declared column in the engine namespace would be silently
    // hidden by every read (snapshot() drops __graft_rid) — refuse at
    // declaration, like ADD COLUMN and declareIdentity already do
    schema.fieldNames.filter(_.startsWith("__graft_")).foreach { n =>
      throw new IllegalArgumentException(
        s"column name $n: the __graft_ prefix is engine-owned " +
          "(row tracking ids live there) — pick another name")
    }
    // CLUSTER BY arrives as its own transform (Spark's ClusterBy):
    // split it from the identity partition keys — it declares the
    // liquid-clustering columns, not the directory layout
    val (clusterTs, partTs) = partitions.toSeq.partition(
      _.name().equalsIgnoreCase("cluster_by"))
    val keys: Seq[String] = partTs.map { t =>
      require(t.name == "identity" && t.references.length == 1,
        s"graft tables support only identity PARTITIONED BY columns " +
          s"(got $t): express derived partitioning as a generated " +
          "column + Versioned.changePartitionSpec")
      t.references()(0).fieldNames().mkString(".")
    }
    val clusterCols: Seq[String] = clusterTs.flatMap(
      _.references().toSeq.map(_.fieldNames().mkString(".")))
    val missing = keys.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"PARTITIONED BY column(s) not in the schema: ${missing.mkString(", ")}")
    // GENERATED ALWAYS AS and DEFAULT rules ride their manifest rails
    // (`#gen`/`#default`), not the anchored schema — strip any
    // metadata spelling so the anchor stays clean
    val GenKey = "GENERATION_EXPRESSION"
    val DefaultKeys = Seq(
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .CURRENT_DEFAULT_COLUMN_METADATA_KEY,
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .EXISTS_DEFAULT_COLUMN_METADATA_KEY)
    val gens: Seq[(String, String)] = gensIn ++
      schema.fields.toSeq.collect {
        case f if f.metadata.contains(GenKey) =>
          f.name -> f.metadata.getString(GenKey)
      }
    val defaults: Seq[(String, String)] = defaultsIn ++
      schema.fields.toSeq.collect {
        case f if f.metadata.contains(DefaultKeys.head) &&
            !defaultsIn.exists(_._1 == f.name) =>
          f.name -> f.metadata.getString(DefaultKeys.head)
      }
    val cleanSchema = StructType(schema.fields.map { f =>
      val stripped = (GenKey +: DefaultKeys).filter(f.metadata.contains)
      if (stripped.isEmpty) f
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        stripped.foreach(mb.remove)
        f.copy(metadata = mb.build())
      }
    })
    val aRef = Versioned.writeSchemaAnchor(spark, dir, cleanSchema)
    Versioned.init(spark, dir, anchorRef = Some(aRef))
    if (keys.nonEmpty) Versioned.changePartitionSpec(spark, dir, keys)
    if (clusterCols.nonEmpty) Versioned.setClusterBy(spark, dir, clusterCols)
    gens.foreach { case (n, e) =>
      Versioned.addGeneratedColumn(spark, dir, n, e) }
    defaults.foreach { case (n, e) =>
      Versioned.setColumnDefault(spark, dir, n, e) }
    identsIn.foreach { case (n, st, sp, ax) =>
      Versioned.declareIdentity(spark, dir, n, st, sp, ax) }
    loadTable(ident)
  }

  /** SQL `ALTER TABLE` for the evolutions the manifest protocol owns:
    *
    *  - `RENAME COLUMN a TO b` / `DROP COLUMN a` → the METADATA-ONLY
    *    mapping commits (`Versioned.renameColumn`/`dropColumn` — data
    *    files keep their physical names forever; reads stay on the
    *    vectorized pipe via the mapped file format);
    *  - `SET TBLPROPERTIES('graft.constraint.<name>' = '<expr>')` →
    *    `addConstraint` (validates existing rows, then every writer),
    *    `UNSET` → `dropConstraint` — Delta spells CHECK constraints
    *    through properties the same way;
    *  - `SET TBLPROPERTIES('graft.changeFeed.keys' = 'k1,k2')` →
    *    `enableChangeFeed`, `UNSET` → `disableChangeFeed` (Delta's
    *    `delta.enableChangeDataFeed` discipline).
    *
    *  - `ADD COLUMN c T` → the METADATA-ONLY `Versioned.addColumn`
    *    commit (`#addcol` — reads null-fill until a write carries the
    *    column; nullable, appended at the end).
    *
    * Everything else (type changes, nested columns, ...) refuses by
    * name — the library's explicit, versioned surface. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    if (Versioned.currentVersion(spark, dir) < 0)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    val ConstraintProp = "graft.constraint."
    val FeedProp = "graft.changeFeed.keys"
    changes.foreach {
      case a: TableChange.AddColumn =>
        // multi-part names address NESTED struct fields (`meta.fps`) —
        // Versioned.addColumn validates every prefix resolves to a
        // struct and the final field is absent
        require(a.isNullable,
          "ADD COLUMN on a graft table must be nullable: existing rows " +
            "null-fill (declare NOT NULL-like guards as a " +
            "graft.constraint.* property after backfilling)")
        require(a.position() == null,
          "ADD COLUMN ... FIRST/AFTER is not supported on graft tables " +
            "— added columns append at the end of the schema (or struct)")
        // a QUOTED identifier containing '.' (`a.b`, or s.`a.b`) would
        // be indistinguishable from the deeper nested path once joined
        // — the #addcol rail spells nesting with dots, so a literal
        // dot in ANY segment refuses rather than silently evolving the
        // wrong field
        a.fieldNames().foreach { seg =>
          require(!seg.contains('.'),
            s"column name segment `$seg` contains '.': the #addcol " +
              "rail addresses NESTED struct fields by dotted path — " +
              "pick a dot-free name") }
        Versioned.addColumn(spark, dir, a.fieldNames().mkString("."),
          a.dataType())
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft tables have no nested columns to rename")
        Versioned.renameColumn(spark, dir, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft tables have no nested columns to drop")
        Versioned.dropColumn(spark, dir, d.fieldNames()(0))
      case s: TableChange.SetProperty if s.property.startsWith(ConstraintProp) =>
        Versioned.addConstraint(spark, dir,
          s.property.stripPrefix(ConstraintProp), s.value)
      case s: TableChange.SetProperty if s.property == FeedProp =>
        Versioned.enableChangeFeed(spark, dir,
          s.value.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      case s: TableChange.SetProperty if s.property == "graft.clusterBy" =>
        Versioned.setClusterBy(spark, dir,
          s.value.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      case rp: TableChange.RemoveProperty
          if rp.property == "graft.clusterBy" =>
        Versioned.setClusterBy(spark, dir, Nil)
      case s: TableChange.SetProperty =>
        throw new UnsupportedOperationException(
          s"unsupported graft table property '${s.property}': " +
            s"'$ConstraintProp<name>' adds a CHECK constraint, " +
            s"'$FeedProp' enables the change feed, " +
            "'graft.clusterBy' declares the clustering columns")
      case rp: TableChange.RemoveProperty
          if rp.property.startsWith(ConstraintProp) =>
        Versioned.dropConstraint(spark, dir,
          rp.property.stripPrefix(ConstraintProp))
      case rp: TableChange.RemoveProperty if rp.property == FeedProp =>
        Versioned.disableChangeFeed(spark, dir)
      case rp: TableChange.RemoveProperty =>
        throw new UnsupportedOperationException(
          s"unsupported graft table property '${rp.property}'")
      // ANSI constraint syntax (ALTER TABLE ... ADD CONSTRAINT name
      // CHECK (expr)) — the same `#chk` rail the TBLPROPERTIES
      // spelling drives: existing rows validate, then every writer
      case ac: TableChange.AddConstraint =>
        ac.constraint() match {
          case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
            Versioned.addConstraint(spark, dir, chk.name(),
              chk.predicateSql())
          case other =>
            throw new UnsupportedOperationException(
              s"graft tables enforce CHECK constraints only (got " +
                s"${other.toDDL}): UNIQUE/PRIMARY KEY/FOREIGN KEY are " +
                "not enforced — pin them with dedup/merge keys instead")
        }
      case dc: TableChange.DropConstraint =>
        Versioned.dropConstraint(spark, dir, dc.name())
      // `ALTER TABLE ... ALTER COLUMN c TYPE t` — METADATA-ONLY type
      // widening (Delta's feature, the manifest's `#schema` pin):
      // lossless promotions only, refused by name otherwise
      case ut: TableChange.UpdateColumnType =>
        // multi-part names widen NESTED struct fields (meta.width) —
        // same dotted addressing (and literal-dot refusal) as ADD COLUMN
        ut.fieldNames().foreach { seg =>
          require(!seg.contains('.'),
            s"column name segment `$seg` contains '.': nested fields " +
              "are addressed by dotted path — pick a dot-free name") }
        Versioned.widenColumn(spark, dir, ut.fieldNames().mkString("."),
          ut.newDataType())
      case ud: TableChange.UpdateColumnDefaultValue =>
        // `ALTER COLUMN c SET DEFAULT expr` / `DROP DEFAULT` (Spark
        // spells DROP as an empty new default) → the `#default` rail
        require(ud.fieldNames.length == 1,
          "graft tables have no nested columns to default")
        val sql = Option(ud.newCurrentDefault()).map(_.getSql)
          .getOrElse("")
        if (sql.trim.isEmpty)
          Versioned.dropColumnDefault(spark, dir, ud.fieldNames()(0))
        else Versioned.setColumnDefault(spark, dir, ud.fieldNames()(0), sql)
      case other =>
        throw new UnsupportedOperationException(
          s"unsupported ALTER on a graft table: $other — ADD COLUMN " +
            "(incl. nested struct fields by dotted path), RENAME/DROP " +
            "COLUMN (top-level), ALTER COLUMN ... TYPE (lossless " +
            "widening) / SET DEFAULT and graft.* properties are the " +
            "SQL surface; FIRST/AFTER positions, non-lossless type " +
            "changes, and literal dotted names refuse")
    }
    loadTable(ident)
  }

  /** SQL `DROP TABLE graft.`dir``: guarded removal of the manifest log
    * AND data ([[Versioned.dropTable]] refuses directories the protocol
    * does not own). Returns false for a non-table path — Spark turns
    * that into TABLE_OR_VIEW_NOT_FOUND (`DROP TABLE IF EXISTS` relies
    * on it). */
  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    if (Versioned.currentVersion(spark, dir) < 0) false
    else { Versioned.dropTable(spark, dir); true }
  }

  /** `CREATE TABLE ... AS SELECT` lands here (the catalog implements
    * [[StagingTableCatalog]], so Spark plans the ATOMIC CTAS exec):
    * the staged create writes the v0 anchor + declared spec eagerly —
    * every row the SELECT then inserts is an ordinary manifest commit
    * through the table's own V1 write — and a FAILED write aborts by
    * removing the directory, leaving nothing behind (the brief window
    * where a path reader could see the staged empty table is the same
    * one Delta's path tables have). */
  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val t = createTable(ident, info.schema(), info.partitions(),
      info.properties()).asInstanceOf[GraftVersionedTable]
    // inline constraints enter BEFORE the CTAS rows: the SELECT's
    // inserts validate against them like any write
    applyCreateConstraints(ident, info.constraints())
    new GraftStagedTable(dirOf(ident), t)
  }

  /** `REPLACE TABLE [AS SELECT]` — Spark's AtomicReplaceTableExec has
    * already verified existence (tableExists → loadTable); the staged
    * table defers EVERYTHING to one [[Versioned.replaceTable]] commit:
    * new schema anchor + declared spec + contents, atomically, with
    * pre-replace versions still time-traveling. An abort before that
    * commit leaves the original byte-identical. */
  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val spark = SparkSession.active
    if (Versioned.currentVersion(spark, dirOf(ident)) < 0)
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    stagedReplace(ident, info)
  }

  /** `CREATE OR REPLACE TABLE [AS SELECT]`: CREATE semantics on a
    * missing table, REPLACE semantics on an existing one — never the
    * r14 silent downgrade to CREATE-or-throw. */
  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val spark = SparkSession.active
    if (Versioned.currentVersion(spark, dirOf(ident)) < 0)
      stageCreate(ident, info)
    else stagedReplace(ident, info)
  }

  private def stagedReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    // the replacing DEFINITION is schema + PARTITIONED BY + CLUSTER BY;
    // inline constraints / generated columns are create-time sugar the
    // replace refuses BY NAME (declare them post-replace with ALTER
    // TABLE — silently dropping a governance rule would be worse than
    // the extra statement)
    require(info.constraints().isEmpty,
      "REPLACE TABLE with inline CONSTRAINT is not supported on graft " +
        "tables — replace first, then ALTER TABLE ... ADD CONSTRAINT")
    require(!info.columns().exists(_.generationExpression() != null),
      "REPLACE TABLE with GENERATED ALWAYS AS is not supported on graft " +
        "tables — replace first, then declare the rule " +
        "(Versioned.addGeneratedColumn)")
    require(!info.columns().exists(_.defaultValue() != null),
      "REPLACE TABLE with DEFAULT is not supported on graft tables — " +
        "replace first, then declare the rule (ALTER TABLE ... ALTER " +
        "COLUMN c SET DEFAULT expr / Versioned.setColumnDefault)")
    require(!info.columns().exists(_.identityColumnSpec() != null),
      "REPLACE TABLE with IDENTITY is not supported on graft tables — " +
        "replace to the empty definition first, then declare the rule " +
        "(Versioned.declareIdentity; it anchors on an empty table)")
    val (clusterTs, partTs) = info.partitions().toSeq.partition(
      _.name().equalsIgnoreCase("cluster_by"))
    val keys: Seq[String] = partTs.map { t =>
      require(t.name == "identity" && t.references.length == 1,
        s"graft tables support only identity PARTITIONED BY columns " +
          s"(got $t): express derived partitioning as a generated " +
          "column + Versioned.changePartitionSpec")
      t.references()(0).fieldNames().mkString(".")
    }
    val clusterCols: Seq[String] = clusterTs.flatMap(
      _.references().toSeq.map(_.fieldNames().mkString(".")))
    new GraftStagedReplaceTable(dirOf(ident), ident, info.schema(),
      keys, clusterCols)
  }

  /** Graft tables are identified by their PATH, and a SHALLOW CLONE
    * holds absolute refs into its source path — a rename would dangle
    * every clone silently. Delta refuses renames of path tables for
    * the same reason. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "RENAME TABLE is not supported: graft tables are identified by " +
        "their directory path (and shallow clones hold absolute refs " +
        "into it) — copy with CREATE TABLE ... AS SELECT, or clone")
}

/** The table a staged (atomic) CTAS writes through: reads/writes
  * delegate to the created [[GraftVersionedTable]] (every insert is a
  * manifest commit already); commit is a no-op, abort removes the
  * directory so a failed CTAS leaves nothing. */
private[sources] final class GraftStagedTable(dir: String,
    inner: GraftVersionedTable)
  extends org.apache.spark.sql.connector.catalog.StagedTable
  with SupportsRead with SupportsWrite {

  override def name(): String = inner.name()
  override def schema(): StructType = inner.schema
  override def capabilities(): util.Set[TableCapability] =
    inner.capabilities()
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    inner.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    inner.newWriteBuilder(info)

  override def commitStagedChanges(): Unit = ()

  override def abortStagedChanges(): Unit =
    Versioned.dropTable(SparkSession.active, dir)
}

/** The staged table a REPLACE (or CREATE OR REPLACE on an existing
  * table) writes through. NOTHING mutates until the single
  * [[Versioned.replaceTable]] commit: an RTAS query's rows trigger it
  * from the write path (the insert IS the replace); a plain REPLACE
  * with no query commits the empty definition from
  * [[commitStagedChanges]]. Abort is a true no-op — the original
  * table, history and anchor are untouched until the commit lands. */
private[sources] final class GraftStagedReplaceTable(dir: String,
    ident: Identifier, declared: StructType, keys: Seq[String],
    clusterCols: Seq[String])
  extends org.apache.spark.sql.connector.catalog.StagedTable
  with SupportsWrite {

  private var replaced = false

  override def name(): String = s"graft.`$dir` (staged replace)"
  override def schema(): StructType = declared
  override def partitioning(): Array[Transform] =
    keys.map(k => org.apache.spark.sql.connector.expressions.Expressions
      .identity(k): Transform).toArray
  override def properties(): util.Map[String, String] =
    java.util.Collections.emptyMap()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this // replace IS truncate
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              // Spark's output resolution aligned the query to the
              // declared schema; the positional rename pins the names
              val aligned = data.toDF(declared.fieldNames.toSeq: _*)
              Versioned.replaceTable(data.sparkSession, dir, declared,
                keys, clusterCols, rows = Some(aligned))
              replaced = true
            }
          }
      }
    }

  override def commitStagedChanges(): Unit =
    if (!replaced) { // plain REPLACE, no AS SELECT: empty new definition
      Versioned.replaceTable(SparkSession.active, dir, declared, keys,
        clusterCols, rows = None)
      replaced = true
    }

  override def abortStagedChanges(): Unit = () // nothing happened yet
}

/** One versioned lake at one pinned version, as a DSv2 read-only
  * table. The scan goes through [[V1Scan]] to the snapshot relation —
  * see the catalog note for why (correct under mapping/MOR; the
  * vectorized path is the format surface's job). */
private[graft] final class GraftVersionedTable(
    private[graft] val dir: String, private[graft] val pinnedVersion: Long)
  extends Table with SupportsRead with SupportsWrite
  with TruncatableTable {

  /** SQL `TRUNCATE TABLE`: one versioned commit deleting every row
    * (`deleteWhereCow(true)` — the change feed gets its `delete` rows,
    * pre-truncate versions still time-travel), with a `_schema` anchor
    * written first so the now-empty table keeps reading with its
    * schema. */
  override def truncateTable(): Boolean = {
    val spark = SparkSession.active
    val keys = Versioned.layoutPartitionKeys(spark, dir)
    // the layout is about to disappear with the files: DECLARE it
    // (metadata-only) so later writers still infer the right keys
    if (keys.nonEmpty && Versioned.partitionSpec(spark, dir).isEmpty)
      Versioned.changePartitionSpec(spark, dir, keys)
    val aRef = Versioned.writeSchemaAnchor(spark, dir,
      Versioned.snapshot(spark, dir).schema)
    Versioned.deleteWhereCow(spark, dir,
      org.apache.spark.sql.functions.lit(true), keys,
      anchorRef = Some(aRef))
    true
  }

  override def name(): String = s"graft.`$dir`@v$pinnedVersion"

  /** The snapshot schema, with each `#default` rule reported back
    * through the CURRENT_DEFAULT column metadata Spark's analyzer
    * consults: a SQL INSERT that OMITS the column gets the default
    * filled at ANALYSIS time (plan-side, zero probes), and an explicit
    * NULL stays null — the SQL-standard semantics, for free.
    * EXISTS_DEFAULT is deliberately NOT set: it would make Spark's
    * readers rewrite pre-declaration missing columns to the default,
    * and this table's defaults are write-time-only (declare-time rows
    * keep what they have). */
  override lazy val schema: StructType = {
    val base = Versioned.snapshot(SparkSession.active, dir, pinnedVersion)
      .schema
    val defaults = Versioned.columnDefaults(
      SparkSession.active, dir, pinnedVersion)
    val CurKey = org.apache.spark.sql.catalyst.util
      .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
    val ExistsKey = org.apache.spark.sql.catalyst.util
      .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY
    StructType(base.fields.map { f =>
      // the snapshot schema comes from parquet footers, and files
      // written through the cast-to-table-schema bake the metadata of
      // the table AS OF THEIR WRITE into their footers — a dropped
      // default would resurrect from an old file's footer. The RAIL is
      // the only authority: strip both keys, then overlay.
      val mb = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
      mb.remove(CurKey)
      mb.remove(ExistsKey)
      defaults.get(f.name).foreach(sql => mb.putString(CurKey, sql))
      val md = mb.build()
      if (md == f.metadata) f else f.copy(metadata = md)
    })
  }

  /** The table's CHECK constraints as Spark's own constraint objects
    * (DESCRIBE and the analyzer see them) — assembled from the same
    * `#chk` rail every writer enforces. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    Versioned.tableProperties(SparkSession.active, dir, pinnedVersion)
      .collect { case (k, v) if k.startsWith("graft.constraint.") =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix("graft.constraint."))
          .predicateSql(v).build()
          : org.apache.spark.sql.connector.catalog.constraints.Constraint
      }.toArray

  /** SQL `SHOW TBLPROPERTIES` (and DESCRIBE EXTENDED's property block)
    * ride Spark's own machinery through this: the same `graft.*`
    * names ALTER TABLE SET TBLPROPERTIES speaks, plus read-only
    * operational facts ([[Versioned.tableProperties]]). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    Versioned.tableProperties(SparkSession.active, dir, pinnedVersion)
      .foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** AUTOMATIC_SCHEMA_EVOLUTION gates `MERGE ... WITH SCHEMA
    * EVOLUTION`: Spark's ResolveMergeIntoSchemaEvolution then commits
    * the source-minus-target column diff through [[GraftCatalog
    * .alterTable]] (the metadata-only ADD COLUMN) during analysis and
    * re-resolves against the evolved table. */
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** SQL `INSERT INTO` / `INSERT OVERWRITE` through the catalog: a
    * [[V1Write]] routing to [[Versioned.append]]/[[Versioned.overwrite]]
    * — every SQL insert is a manifest commit (constraints, generated
    * columns, declared spec, change feed), never a bare file drop.
    * Spark's output resolution has already matched and cast the query
    * to this table's schema by the time `insert` runs. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var truncateFirst = false
      override def truncate(): WriteBuilder = { truncateFirst = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              val spark = data.sparkSession
              val keys = Versioned.layoutPartitionKeys(spark, dir)
              // GENERATED columns a SQL INSERT omitted arrive null-
              // filled by Spark's output resolution: drop such a
              // column so the write path COMPUTES it (the ALWAYS
              // contract — a partially-supplied column still validates
              // row by row in the append). Omission is detected from
              // the ANALYZED PLAN — the filled column is a literal
              // null projection — so the probe costs zero jobs; only
              // a plan shape we cannot read pays a data probe, on a
              // CACHED input (the r14 version ran count() straight on
              // the incoming frame, executing every INSERT ... SELECT
              // source twice)
              // identity columns ride the same probe: an omitted one
              // arrives as a literal-null projection too, and dropping
              // it lets the commit path ASSIGN ids (applyIdentity).
              // KNOWN semantic edge: an EXPLICIT `NULL` into the column
              // is plan-indistinguishable from omission, so it assigns
              // too — MySQL's AUTO_INCREMENT-on-NULL semantics rather
              // than the ANSI refusal (the library append still
              // refuses, where the intent is unambiguous). One meta
              // resolution covers both rails.
              val gens = Versioned.engineOwnedColumns(spark, dir)
                .filter(data.columns.contains)
              val planOmitted: Option[Set[String]] =
                if (gens.isEmpty) Some(Set.empty)
                else data.queryExecution.analyzed match {
                  case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
                    // per generated column: an Alias of a foldable null
                    // = OMITTED, an Alias of anything else = SUPPLIED;
                    // a bare AttributeReference just forwards a lower
                    // node's output — could be EITHER, so the plan is
                    // unreadable for that column and the cached data
                    // probe decides (never guess: guessing 'supplied'
                    // would refuse an omitted column at validation,
                    // guessing 'omitted' would silently discard values)
                    val verdicts = gens.map { g =>
                      g -> p.projectList.collectFirst {
                        case a: org.apache.spark.sql.catalyst.expressions.Alias
                            if a.name == g =>
                          a.child.foldable && a.child.eval(null) == null
                      }
                    }
                    if (verdicts.exists(_._2.isEmpty)) None // unreadable
                    else Some(verdicts.collect {
                      case (g, Some(true)) => g }.toSet)
                  case _ => None
                }
              val (batchIn, cached) = planOmitted match {
                case Some(_) => (data, false)
                case None => (data.persist(), true)
              }
              try {
                val toCompute = planOmitted.getOrElse {
                  val row = batchIn.select(gens.toSeq.map(g =>
                    org.apache.spark.sql.functions.count(col(g)).as(g)): _*)
                    .collect()(0)
                  gens.filter(g => row.getLong(row.fieldIndex(g)) == 0L)
                }
                val batch = toCompute.foldLeft(batchIn)(_.drop(_))
                if (truncateFirst || overwrite)
                  Versioned.overwrite(spark, dir, batch, keys)
                else Versioned.append(spark, dir, batch, keys)
              } finally if (cached) batchIn.unpersist()
            }
          }
      }
    }

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters
      with SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
      private var pushed: Array[Filter] = Array.empty
      private var accepted: Array[Filter] = Array.empty
      private var residual: Array[Filter] = Array.empty
      private var partPred: Seq[(String, Set[String])] = Nil
      private var required: Option[StructType] = None
      private var aggAnswer: Option[(StructType, Seq[Row])] = None

      // PARTITION-ALIGNED filters are ACCEPTED (not residual): the V1
      // scan applies them exactly (toColumn translates every accepted
      // shape), Spark drops its own Filter node, and — because no
      // Filter remains between Aggregate and scan — the aggregate
      // pushdown below can then answer `SELECT count(*)/min/max ...
      // WHERE part = 'x'` metadata-only over the pruned file subset.
      // Acceptance is deliberately narrow-and-exact: EqualTo / In on a
      // partition column whose literal's path spelling round-trips
      // (no escaping) — anything else stays residual and Spark
      // re-evaluates it.
      private lazy val partCols: Set[String] =
        scala.util.Try(Versioned.layoutPartitionKeys(
          SparkSession.active, dir).toSet).getOrElse(Set.empty)
      private def pathSafe(s: String): Boolean =
        s.nonEmpty && s.forall(c =>
          c.isLetterOrDigit || c == '.' || c == '_' || c == '-')
      private def plainLit(v: Any): Option[String] = v match {
        case null => None
        case _: String | _: java.lang.Boolean | _: java.lang.Byte |
             _: java.lang.Short | _: java.lang.Integer |
             _: java.lang.Long =>
          // the default-partition spelling is path-ambiguous with a
          // NULL partition value — never match it literally
          Some(v.toString).filter(s =>
            pathSafe(s) && s != "__HIVE_DEFAULT_PARTITION__")
        case _ => None // float/decimal/date spellings: stay residual
      }
      private def partValuesOf(
          f: Filter): Option[(String, Set[String])] = f match {
        case org.apache.spark.sql.sources.EqualTo(a, v)
            if partCols.contains(a) =>
          plainLit(v).map(s => a -> Set(s))
        case org.apache.spark.sql.sources.EqualNullSafe(a, v)
            if v != null && partCols.contains(a) =>
          plainLit(v).map(s => a -> Set(s))
        case org.apache.spark.sql.sources.In(a, vs)
            if partCols.contains(a) && vs.nonEmpty =>
          val ss = vs.toSeq.map(plainLit)
          if (ss.exists(_.isEmpty)) None
          else Some(a -> ss.flatten.toSet)
        case _ => None
      }

      override def pushFilters(filters: Array[Filter]): Array[Filter] = {
        pushed = filters
        // Catalyst pairs every null-intolerant predicate with an
        // implicit IsNotNull(col): accept that companion too when an
        // accepted EqualTo/In on the same column SUBSUMES it (their
        // path-safe values can never match the null partition's
        // spelling), or the leftover residual blocks the aggregate
        // pushdown for every WHERE part = 'x' query
        val valued = filters.flatMap(f => partValuesOf(f)
          .filter(_ => GraftSnapshotRelation.toColumn(f).isDefined)
          .map(f -> _))
        val coveredCols = valued.map(_._2._1).toSet
        val (ok, rest) = filters.partition {
          case f if valued.exists(_._1 eq f) => true
          case org.apache.spark.sql.sources.IsNotNull(a) =>
            coveredCols.contains(a)
          case _ => false
        }
        accepted = ok
        partPred = valued.toSeq.map(_._2)
        residual = rest
        rest // Spark re-evaluates only these
      }
      override def pushedFilters(): Array[Filter] = accepted

      // ---- metadata-only aggregate pushdown -----------------------
      // `SELECT count(*) / count(k) / min(k) / max(k) FROM t` answers
      // from the manifest + stats rail with ZERO data files read
      // (Delta/Iceberg's metadata-only query answering, spelled as
      // Spark's own DSv2 aggregate pushdown — the JDBC connector's
      // V1Scan handshake). EXACT-OR-BAIL: any residual predicate,
      // GROUP BY, unsupported function, untracked column, pending
      // delete, or coverage gap returns false and the ordinary scan
      // plans instead — a pushed answer is never approximate.
      private def tryAnswer(agg: org.apache.spark.sql.connector
          .expressions.aggregate.Aggregation): Boolean = {
        if (aggAnswer.isDefined) return true
        // residual predicates bail (Spark's own Filter node blocks the
        // pushdown anyway — this is the defensive twin); ACCEPTED
        // partition filters scope the answer to the pruned file
        // subset instead (partitionPred below — still exact-or-bail:
        // a file whose path does not bake a predicate column falls
        // back to the scan inside metadataAggregate)
        if (residual.nonEmpty) return false
        import org.apache.spark.sql.connector.expressions.NamedReference
        import org.apache.spark.sql.connector.expressions.aggregate._
        def colOf(e: org.apache.spark.sql.connector.expressions
            .Expression): Option[(String, org.apache.spark.sql.types
            .DataType)] = e match {
          case nr: NamedReference if nr.fieldNames().length == 1 =>
            schema.fields.find(_.name == nr.fieldNames()(0))
              .map(f => (f.name, f.dataType))
          case _ => None
        }
        def numeric(dt: org.apache.spark.sql.types.DataType): Boolean =
          dt match {
            case _: org.apache.spark.sql.types.ByteType |
                 _: org.apache.spark.sql.types.ShortType |
                 _: org.apache.spark.sql.types.IntegerType |
                 _: org.apache.spark.sql.types.LongType |
                 _: org.apache.spark.sql.types.FloatType |
                 _: org.apache.spark.sql.types.DoubleType => true
            case _ => false
          }
        val translated: Seq[Option[(Versioned.MetaAgg, StructField)]] =
          agg.aggregateExpressions().toSeq.map {
            case _: CountStar =>
              Some((Versioned.MetaCount,
                StructField("count(*)", LongType, nullable = false)))
            case c: Count if !c.isDistinct =>
              colOf(c.column).map { case (n, _) =>
                (Versioned.MetaCountCol(n),
                  StructField(s"count($n)", LongType, nullable = false)) }
            case m: Min =>
              colOf(m.column).collect { case (n, dt) if numeric(dt) =>
                (Versioned.MetaMin(n), StructField(s"min($n)", dt)) }
            case m: Max =>
              colOf(m.column).collect { case (n, dt) if numeric(dt) =>
                (Versioned.MetaMax(n), StructField(s"max($n)", dt)) }
            case _ => None
          }
        if (translated.exists(_.isEmpty)) return false
        val (metas, fields) = translated.flatten.unzip
        def castCells(values: Seq[Any]): Seq[Any] =
          values.zip(fields).map {
            case (null, _) => null
            case (v: Long, _) => java.lang.Long.valueOf(v)
            case (v: Double, f) => f.dataType match {
              case _: ByteType => java.lang.Byte.valueOf(v.toByte)
              case _: ShortType => java.lang.Short.valueOf(v.toShort)
              case _: IntegerType => java.lang.Integer.valueOf(v.toInt)
              case _: LongType => java.lang.Long.valueOf(v.toLong)
              case _: FloatType => java.lang.Float.valueOf(v.toFloat)
              case _ => java.lang.Double.valueOf(v)
            }
            case (other, _) => other
          }
        val gb = agg.groupByExpressions.toSeq
        if (gb.isEmpty) {
          Versioned.metadataAggregate(SparkSession.active, dir, metas,
            pinnedVersion, partPred) match {
            case None => false
            case Some(values) =>
              aggAnswer = Some((StructType(fields),
                Seq(Row.fromSeq(castCells(values)))))
              true
          }
        } else {
          // GROUP BY partition columns — the per-partition dashboard
          // rollup (`SELECT day, count(*) ... GROUP BY day`) answered
          // from the manifest + stats rail: group membership is the
          // file's path-baked partition value, so every group total
          // is exactly its files' totals. Spark's pushed read schema
          // puts the GROUP columns FIRST, then the agg columns. The
          // path spelling must round-trip through the column's type
          // (castGroup) or the whole answer bails to the scan.
          val gFields: Seq[Option[StructField]] = gb.map {
            case nr: NamedReference if nr.fieldNames().length == 1 &&
                partCols.contains(nr.fieldNames()(0)) =>
              schema.fields.find(_.name == nr.fieldNames()(0))
            case _ => None
          }
          if (gFields.exists(_.isEmpty)) return false
          val gfs = gFields.flatten
          def castGroup(s: String,
              dt: org.apache.spark.sql.types.DataType): Option[Any] =
            dt match {
              case _: org.apache.spark.sql.types.StringType => Some(s)
              case _: org.apache.spark.sql.types.BooleanType =>
                if (s == "true") Some(java.lang.Boolean.TRUE)
                else if (s == "false") Some(java.lang.Boolean.FALSE)
                else None
              case _: ByteType | _: ShortType | _: IntegerType |
                   _: LongType =>
                scala.util.Try(s.toLong).toOption
                  .filter(_.toString == s).flatMap { l =>
                    dt match {
                      case _: ByteType if l.isValidByte =>
                        Some(java.lang.Byte.valueOf(l.toByte))
                      case _: ShortType if l.isValidShort =>
                        Some(java.lang.Short.valueOf(l.toShort))
                      case _: IntegerType if l.isValidInt =>
                        Some(java.lang.Integer.valueOf(l.toInt))
                      case _: LongType =>
                        Some(java.lang.Long.valueOf(l))
                      case _ => None
                    }
                  }
              case _ => None // date/float spellings: bail to scan
            }
          Versioned.metadataAggregateGrouped(SparkSession.active, dir,
            gfs.map(_.name), metas, pinnedVersion, partPred) match {
            case None => false
            case Some(groups) =>
              val rows = groups.map { case (gvals, avals) =>
                val gcells = gvals.zip(gfs).map { case (s, f) =>
                  castGroup(s, f.dataType) }
                if (gcells.exists(_.isEmpty)) return false
                Row.fromSeq(gcells.map(_.get) ++ castCells(avals))
              }
              aggAnswer = Some((StructType(
                gfs.map(f => StructField(f.name, f.dataType,
                  f.nullable)) ++ fields), rows))
              true
          }
        }
      }
      override def supportCompletePushDown(agg: org.apache.spark.sql
          .connector.expressions.aggregate.Aggregation): Boolean =
        tryAnswer(agg)
      override def pushAggregation(agg: org.apache.spark.sql.connector
          .expressions.aggregate.Aggregation): Boolean = tryAnswer(agg)

      override def pruneColumns(requiredSchema: StructType): Unit =
        // honor TOP-LEVEL pruning only: the V1 scan materializes whole
        // columns, and a NESTED-pruned struct type (meta<width,fps> of
        // a meta<width,height,fps> column) cannot be produced by a
        // column select — re-encoding full structs under the narrowed
        // type crashes (INVALID_EXTERNAL_TYPE). Widen each required
        // field back to the table's full type; Catalyst prunes nested
        // fields again inside the snapshot scan itself.
        required = Some(StructType(requiredSchema.fields.map { f =>
          schema.fields.find(_.name == f.name).getOrElse(f)
        }))

      override def build(): Scan = aggAnswer match {
        case Some((aggSchema, rows)) => new V1Scan {
          override def readSchema(): StructType = aggSchema
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new GraftV1MetaAggScan(context, aggSchema, rows)
              .asInstanceOf[T]
        }
        case None => new V1Scan {
          override def readSchema(): StructType =
            required.getOrElse(schema)
          override def toV1TableScan[T <: BaseRelation with TableScan](
              context: SQLContext): T =
            new GraftV1TableScan(context, dir, pinnedVersion, pushed,
              readSchema()).asInstanceOf[T]
        }
      }
    }
}

/** The leaf a METADATA-ANSWERED aggregate lowers to (one row
  * ungrouped, one row per partition group otherwise): the values were
  * computed from the manifest + stats rail at plan time; no data file
  * of the table is ever opened. */
private[sources] final class GraftV1MetaAggScan(
    @transient override val sqlContext: SQLContext,
    out: StructType, answer: Seq[Row]) extends BaseRelation with TableScan {
  override def schema: StructType = out
  override def buildScan(): RDD[Row] =
    sqlContext.sparkContext.parallelize(answer, 1)
}

/** The V1 leaf the catalog scan lowers to: snapshot → forwarded
  * filters → pruned projection → RDD[Row]. */
private[sources] final class GraftV1TableScan(
    @transient override val sqlContext: SQLContext,
    dir: String, version: Long, pushed: Array[Filter],
    out: StructType) extends BaseRelation with TableScan {

  override def schema: StructType = out

  override def buildScan(): RDD[Row] = {
    val filtered = pushed.flatMap(GraftSnapshotRelation.toColumn)
      .foldLeft(Versioned.snapshot(sqlContext.sparkSession, dir, version))(
        _.filter(_))
    filtered.select(out.fieldNames.map(col).toSeq: _*).rdd
  }
}
