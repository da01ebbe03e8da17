package graft.sources

import org.apache.spark.sql.{BareSession, DataFrame}
import org.apache.spark.sql.functions._

import graft.{GraftExtensions, SparkSpec}
import graft.lake.Versioned
import graft.ops.MergeData

/** SQL row-level writes end-to-end: `MERGE INTO` / `UPDATE` /
  * `DELETE FROM` / `INSERT INTO` as SQL TEXT over graft relations,
  * lowered by [[GraftRowLevelSql]] onto the manifest mutation core.
  * Pins that Spark's analyzer does the SQL-surface work (star
  * expansion, resolution), that every mutation is a manifest commit
  * (versions advance, time travel intact, txn/constraint discipline
  * rides), the SQL cardinality contract, the MOR routing conf, and
  * that the documented INSERT-INTO bypass is CLOSED both ways (routed
  * with the rule, loudly refused without it). */
class GraftSqlWritesSpec extends SparkSpec {

  GraftExtensions.register(spark)
  spark.conf.set("spark.sql.catalog.graft_sqlw", "graft.sources.GraftCatalog")

  private def state(d: DataFrame): Set[(String, Long, Double)] =
    d.select("site", "id", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def freshLake(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlw").toFile
    dir.deleteOnExit()
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0),
        ("c", 20L, 20.0)), "site", "id", "v"),
      dir.getAbsolutePath, keys = Seq("site"))
    Versioned.init(spark, dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  private def tbl(dir: String) = s"graft_sqlw.`$dir`"

  test("MERGE INTO (SET * / INSERT *): SQL == library mergeInto, versions advance, time travel intact") {
    val dirS = freshLake() // mutated via SQL
    val dirL = freshLake() // mutated via the library — the oracle
    val batch = df(Seq(("a", 1L, 100.0), ("c", 7L, 7.0)), "site", "id", "v")
    batch.createOrReplaceTempView("sqlw_src1")
    spark.sql(
      s"""MERGE INTO ${tbl(dirS)} t USING sqlw_src1 s
         |ON t.site = s.site AND t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    Versioned.mergeInto(spark, dirL, batch, Seq("site"), Seq("site", "id"))
    assert(state(Versioned.snapshot(spark, dirS)) ==
      state(Versioned.snapshot(spark, dirL)))
    assert(state(Versioned.snapshot(spark, dirS)) == Set(
      ("a", 1L, 100.0), ("a", 2L, 2.0), ("b", 10L, 10.0),
      ("c", 20L, 20.0), ("c", 7L, 7.0)))
    assert(Versioned.currentVersion(spark, dirS) == 1L,
      "one SQL merge = one manifest commit")
    assert(state(Versioned.snapshot(spark, dirS, 0L)) == Set(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0), ("c", 20L, 20.0)),
      "pre-merge version still travels")
  }

  test("MERGE INTO: conditional partial UPDATE, DELETE, conditional INSERT, NOT MATCHED BY SOURCE — exact per-clause semantics") {
    val dir = freshLake()
    df(Seq(("a", 1L, 50.0), ("a", 2L, 0.0), ("c", 7L, 7.0),
      ("c", 8L, -1.0)), "site", "id", "nv")
      .createOrReplaceTempView("sqlw_src2")
    spark.sql(
      s"""MERGE INTO ${tbl(dir)} t USING sqlw_src2 s
         |ON t.site = s.site AND t.id = s.id
         |WHEN MATCHED AND s.nv = 0.0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = s.nv + 0.5
         |WHEN NOT MATCHED AND s.nv > 0 THEN INSERT (site, id, v) VALUES (s.site, s.id, s.nv)
         |WHEN NOT MATCHED BY SOURCE AND t.site = 'c' THEN UPDATE SET v = -t.v
         |WHEN NOT MATCHED BY SOURCE AND t.site = 'b' THEN DELETE
         |""".stripMargin)
    // a@1 matched+updated (50.5), a@2 matched+deleted, c@7 inserted,
    // c@8 filtered by the insert condition, b@10 NMBS-deleted (second
    // NMBS clause — first-match gating must not shadow it), c@20
    // NMBS-updated to -20 by the first clause
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 50.5), ("c", 7L, 7.0), ("c", 20L, -20.0)))
  }

  test("MERGE ... WITH SCHEMA EVOLUTION: source-only columns evolve the target via the metadata-only ADD COLUMN during analysis, then the merge commits") {
    val dir = freshLake()
    df(Seq(("a", 1L, 100.0, "gold"), ("c", 7L, 7.0, "new")),
      "site", "id", "v", "tier")
      .createOrReplaceTempView("sqlw_sevo")
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO ${tbl(dir)} t
         |USING sqlw_sevo s
         |ON t.site = s.site AND t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = Versioned.snapshot(spark, dir)
      .select("site", "id", "v", "tier").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        Option(r.getString(3)))).toSet
    assert(got == Set(
      ("a", 1L, 100.0, Some("gold")), // matched: update carries tier
      ("a", 2L, 2.0, None), // untouched rows null-fill the new column
      ("b", 10L, 10.0, None),
      ("c", 20L, 20.0, None),
      ("c", 7L, 7.0, Some("new")))) // inserted with the new column
    // the evolution is its own METADATA-ONLY commit before the merge
    assert(Versioned.currentVersion(spark, dir) == 2L,
      "add-column commit + merge commit")
    assert(Versioned.filesAt(spark, dir, 1L).toSet ==
      Versioned.filesAt(spark, dir, 0L).toSet,
      "the evolution commit must touch no data file")
    assert(!Versioned.snapshot(spark, dir, 0L).columns.contains("tier"),
      "pre-evolution version travels WITHOUT the column")
    // WITHOUT the keyword nothing evolves: INSERT * aligns to the
    // TARGET's columns (Spark's star expansion ignores extra source
    // columns), the schema stays put, one merge commit only
    val dir2 = freshLake()
    spark.sql(
      s"""MERGE INTO ${tbl(dir2)} t USING sqlw_sevo s
         |ON t.site = s.site AND t.id = s.id
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(!Versioned.snapshot(spark, dir2).columns.contains("tier"),
      "no evolution without the keyword")
    assert(Versioned.currentVersion(spark, dir2) == 1L)
    assert(state(Versioned.snapshot(spark, dir2))
      .contains(("c", 7L, 7.0)))
  }

  test("CREATE TABLE with GENERATED ALWAYS AS: the expression rides the #gen rail — inserts compute omitted values and validate supplied ones") {
    val root = java.nio.file.Files.createTempDirectory("graft_sqlwgen").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir)} (site STRING, id BIGINT, " +
      "twice BIGINT GENERATED ALWAYS AS (id * 2)) PARTITIONED BY (site)")
    assert(Versioned.generatedColumns(spark, dir) == Map("twice" -> "id * 2"))
    // supplying the CORRECT computed value validates and lands
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES ('a', 1, 2)")
    // omitting the column (a column-list insert): the write COMPUTES it
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, id) VALUES ('a', 5)")
    val got = spark.sql(s"SELECT id, twice FROM ${tbl(dir)} ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (5L, 10L)),
      s"omitted generated column must be computed (got $got)")
    // a WRONG supplied value refuses (ALWAYS means the rule owns it)
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO ${tbl(dir)} (site, id, twice) " +
        "VALUES ('a', 3, 7)")
    }
    assert(e.getMessage.contains("GENERATED"), e.getMessage)
    assert(spark.sql(s"SELECT count(*) FROM ${tbl(dir)}")
      .collect().head.getLong(0) == 2L, "refused insert must not commit")
  }

  test("CREATE TABLE refuses columns in the engine namespace (the hidden row id would shadow them on every read)") {
    val root = java.nio.file.Files.createTempDirectory("graft_sqlwrid").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE ${tbl(dir)} (__graft_rid BIGINT, x INT)")
    }
    assert(e.getMessage.contains("engine-owned"), e.getMessage)
    assert(Versioned.currentVersion(spark, dir) < 0,
      "the refusal must not leave a table behind")
  }

  test("CREATE TABLE with DEFAULT: omitted insert columns fill (SQL plan-side, library commit-side), supplied values and explicit NULLs win, SET/DROP DEFAULT alter the rule, row-reading and generated-column defaults refuse") {
    val root = java.nio.file.Files.createTempDirectory("graft_sqlwdef").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir)} (site STRING, id BIGINT, " +
      "src STRING DEFAULT 'api', score DOUBLE DEFAULT 0.5) " +
      "PARTITIONED BY (site)")
    assert(Versioned.columnDefaults(spark, dir).keySet == Set("src", "score"))
    // omitted columns fill with the default (column-list insert)
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, id) VALUES ('a', 1)")
    // fully supplied values win
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, id, src, score) " +
      "VALUES ('a', 2, 'manual', 0.9)")
    // explicit NULL stays null — the SQL-standard DEFAULT/NULL split
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, id, src, score) " +
      "VALUES ('a', 3, NULL, 0.1)")
    // the DEFAULT keyword in VALUES resolves per-cell
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, id, src, score) " +
      "VALUES ('a', 4, DEFAULT, DEFAULT)")
    def got(): Seq[(Long, Option[String], Option[Double])] =
      spark.sql(s"SELECT id, src, score FROM ${tbl(dir)} ORDER BY id")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got() == Seq(
      (1L, Some("api"), Some(0.5)), (2L, Some("manual"), Some(0.9)),
      (3L, None, Some(0.1)), (4L, Some("api"), Some(0.5))), got().toString)
    // a LIBRARY writer omitting the columns: the COMMIT fills them
    Versioned.append(spark, dir,
      df(Seq(("b", 7L)), "site", "id"), Seq("site"))
    assert(got().contains((7L, Some("api"), Some(0.5))),
      "append must fill declared defaults for omitted columns")
    // ALTER COLUMN ... SET DEFAULT re-declares; DROP DEFAULT lifts
    spark.sql(s"ALTER TABLE ${tbl(dir)} ALTER COLUMN src SET DEFAULT 'edge'")
    spark.sql(s"ALTER TABLE ${tbl(dir)} ALTER COLUMN score DROP DEFAULT")
    assert(Versioned.columnDefaults(spark, dir).keySet == Set("src"),
      s"rail after ALTERs: ${Versioned.columnDefaults(spark, dir)}")
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, id) VALUES ('a', 8)")
    assert(got().contains((8L, Some("edge"), None)),
      s"SET DEFAULT must re-declare and DROP DEFAULT must lift (${got()})")
    // a default that READS other columns refuses with guidance
    val e1 = intercept[IllegalArgumentException] {
      Versioned.setColumnDefault(spark, dir, "src", "concat('x', site)") }
    assert(e1.getMessage.contains("row-free"), e1.getMessage)
    // a GENERATED column cannot also carry a DEFAULT
    val dir2 = new java.io.File(root, "t2").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir2)} (site STRING, id BIGINT, " +
      "twice BIGINT GENERATED ALWAYS AS (id * 2)) PARTITIONED BY (site)")
    val e2 = intercept[IllegalArgumentException] {
      Versioned.setColumnDefault(spark, dir2, "twice", "0") }
    assert(e2.getMessage.contains("GENERATED"), e2.getMessage)
    // the rail demands protocol 7 and names its feature — an old build
    // (which would write omitted columns as null) refuses the table
    // (level 8 here: CREATE TABLE's schema anchor rides the `#anchor`
    // rail, a level-8 feature of its own)
    val props = Versioned.tableProperties(spark, dir)
    assert(props("graft.minReaderLevel").toInt == 8, props.toString)
    assert(props("graft.features").contains("column-defaults") &&
      props("graft.features").contains("anchor-ref"), props)
    assert(props.get("graft.default.src").exists(_.contains("edge")), props)
  }

  test("IDENTITY columns: the engine assigns unique monotonic BIGINT ids to omitting writes (SQL + library), ALWAYS refuses supplied values, BY DEFAULT accepts and syncs the high-water, merges demand supplied ids, interplay rules refuse by name") {
    val root = java.nio.file.Files.createTempDirectory("graft_sqlwid").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir)} (site STRING, " +
      "rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 2), " +
      "v DOUBLE) PARTITIONED BY (site)")
    assert(Versioned.identityColumns(spark, dir) ==
      Map("rid" -> (10L, 2L, None, false)))
    // SQL INSERT omitting the column: engine assigns 10, 12, 14
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, v) " +
      "VALUES ('a', 1.0), ('a', 2.0), ('b', 3.0)")
    // library append omitting: continues past the high-water
    Versioned.append(spark, dir,
      df(Seq(("a", 4.0), ("b", 5.0)), "site", "v"), Seq("site"))
    val ids = spark.sql(s"SELECT rid FROM ${tbl(dir)}").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(10L, 12L, 14L, 16L, 18L),
      s"dense per-commit assignment must continue past the high-water ($ids)")
    assert(Versioned.identityColumns(spark, dir)("rid")._3 == Some(18L))
    // ALWAYS refuses supplied values
    val e1 = intercept[Exception] {
      Versioned.append(spark, dir,
        df(Seq(("a", 99L, 9.0)), "site", "rid", "v"), Seq("site")) }
    assert(e1.getMessage.contains("ALWAYS AS IDENTITY"), e1.getMessage)
    // merges demand supplied ids (cannot attribute inserts)
    val e2 = intercept[Exception] {
      Versioned.mergeInto(spark, dir,
        df(Seq(("a", 7.0)), "site", "v"), Seq("site"), Seq("site")) }
    assert(e2.getMessage.contains("carry rid"), e2.getMessage)
    // BY DEFAULT: supplied values win and SYNC the high-water
    val dir2 = new java.io.File(root, "t2").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir2)} (site STRING, " +
      "rid BIGINT GENERATED BY DEFAULT AS IDENTITY, v DOUBLE) " +
      "PARTITIONED BY (site)")
    Versioned.append(spark, dir2,
      df(Seq(("a", 500L, 1.0)), "site", "rid", "v"), Seq("site"))
    Versioned.append(spark, dir2,
      df(Seq(("a", 2.0)), "site", "v"), Seq("site")) // engine assigns
    val ids2 = spark.sql(s"SELECT rid FROM ${tbl(dir2)}").collect()
      .map(_.getLong(0)).toSet
    assert(ids2 == Set(500L, 501L),
      s"BY DEFAULT must sync the high-water past supplied values ($ids2)")
    // interplay refusals: rename/widen/default/generated on identity
    assert(intercept[Exception] {
      Versioned.renameColumn(spark, dir2, "rid", "id2") }
      .getMessage.contains("dropIdentity"))
    assert(intercept[Exception] {
      Versioned.setColumnDefault(spark, dir2, "rid", "7") }
      .getMessage.contains("IDENTITY"))
    // non-BIGINT refuses
    assert(intercept[Exception] {
      Versioned.declareIdentity(spark, dir2, "v") }
      .getMessage.contains("BIGINT"))
    // dropIdentity lifts: values stay, the engine stops assigning
    Versioned.dropIdentity(spark, dir2, "rid")
    assert(Versioned.identityColumns(spark, dir2).isEmpty)
    assert(spark.sql(s"SELECT count(*) FROM ${tbl(dir2)}")
      .collect().head.getLong(0) == 2L)
    // declare-on-nonempty refuses with the anchor rationale (rid is
    // BIGINT and rule-free now, but the table holds rows)
    assert(intercept[Exception] {
      Versioned.declareIdentity(spark, dir2, "rid") }
      .getMessage.contains("CREATE"))
    // a CLONE inherits the rule AND its high-water: an omitting append
    // on the clone continues past the source's last id (the review
    // finding: the clone meta dropped the #ident rail silently)
    val cloneDir = new java.io.File(root, "clone").getAbsolutePath
    Versioned.cloneAt(spark, dir, cloneDir)
    assert(Versioned.identityColumns(spark, cloneDir)("rid")._3 ==
      Some(18L), "the clone must inherit the rule and high-water")
    Versioned.append(spark, cloneDir,
      df(Seq(("a", 6.0)), "site", "v"), Seq("site"))
    assert(spark.sql(s"SELECT max(rid) FROM ${tbl(cloneDir)}")
      .collect().head.getLong(0) == 20L,
      "the clone's assignment must continue past the inherited high-water")
    // UPDATE cannot rewrite engine-owned ids (hw would go stale and
    // later assignments would collide)
    val e3 = intercept[Exception] {
      Versioned.updateWhere(spark, dir, col("v") === 1.0,
        Map("rid" -> lit(100L)), Seq("site")) }
    assert(e3.getMessage.contains("IDENTITY"), e3.getMessage)
    // a MERGE whose __delete rows carry NULL ids still lands (deletes
    // remove rows — only the UPSERT rows obey the identity discipline)
    val dir3 = new java.io.File(root, "t3").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir3)} (site STRING, " +
      "rid BIGINT GENERATED BY DEFAULT AS IDENTITY, v DOUBLE) " +
      "PARTITIONED BY (site)")
    Versioned.append(spark, dir3,
      df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0)), "site", "rid", "v"),
      Seq("site"))
    Versioned.mergeInto(spark, dir3,
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row("a", 1L, 1.0, true),
          org.apache.spark.sql.Row("a", 3L, 3.0, false))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("site",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("rid",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("v",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("__delete",
            org.apache.spark.sql.types.BooleanType)))),
      Seq("site"), Seq("site", "rid"))
    assert(spark.sql(s"SELECT rid FROM ${tbl(dir3)}").collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L),
      "merge deletes must not trip the identity null refusal")
  }

  test("NESTED TYPE WIDENING: ALTER COLUMN meta.width TYPE BIGINT is metadata-only — old int files upcast, wide writes land, old versions travel narrow, refusals name the rule") {
    val root = java.nio.file.Files.createTempDirectory("graft_sqlwnw").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir)} (site STRING, id BIGINT, " +
      "meta STRUCT<width: INT, fps: DOUBLE>) PARTITIONED BY (site)")
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, id, meta) " +
      "VALUES ('a', 1, named_struct('width', 640, 'fps', 24.0)), " +
      "('a', 2, NULL)")
    val v1 = Versioned.currentVersion(spark, dir)
    val filesPre = Versioned.filesAt(spark, dir).toSet
    spark.sql(s"ALTER TABLE ${tbl(dir)} ALTER COLUMN meta.width TYPE BIGINT")
    assert(Versioned.filesAt(spark, dir).toSet == filesPre,
      "nested widening must touch no data file")
    // the evolved schema reports LONG; old int files upcast on read
    def widthType(v: Long = -1L) = Versioned.snapshot(spark, dir, v)
      .schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]("width").dataType
    assert(widthType() == org.apache.spark.sql.types.LongType)
    val got = spark.sql(s"SELECT id, meta.width FROM ${tbl(dir)} " +
        "WHERE meta IS NOT NULL").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 640L)), got.toString)
    // a genuinely wide write lands (the point of the widen)
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, id, meta) VALUES " +
      "('a', 3, named_struct('width', 9000000000, 'fps', 30.0))")
    assert(spark.sql(s"SELECT sum(meta.width) AS s FROM ${tbl(dir)}")
      .collect()(0).getLong(0) == 9000000640L)
    // a pre-widen writer's NARROW struct batch casts up through the pin
    Versioned.append(spark, dir,
      spark.sql("SELECT 'a' AS site, 4L AS id, " +
        "named_struct('width', 7, 'fps', CAST(1.0 AS DOUBLE)) AS meta"),
      Seq("site"))
    assert(spark.sql(s"SELECT meta.width FROM ${tbl(dir)} WHERE id = 4")
      .collect()(0).getLong(0) == 7L)
    // the pre-widen version still travels NARROW
    assert(widthType(v1) == org.apache.spark.sql.types.IntegerType,
      "time travel must read the old nested type")
    // refusals: narrowing (Spark's analyzer catches it before the
    // catalog — either voice is a refusal), unknown leaf, non-struct
    // parent — by name
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ALTER COLUMN meta.fps TYPE INT") }
    assert(e1.getMessage.contains("LOSSLESS") ||
      e1.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e1.getMessage)
    // …and the library path refuses with the lossless rule by name
    val e1b = intercept[Exception] {
      Versioned.widenColumn(spark, dir, "meta.fps",
        org.apache.spark.sql.types.IntegerType) }
    assert(e1b.getMessage.contains("LOSSLESS"), e1b.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ALTER COLUMN meta.nope TYPE BIGINT") }
    assert(e2.getMessage.toLowerCase.contains("nope"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ALTER COLUMN id.sub TYPE BIGINT") }
    assert(e3.getMessage.contains("struct") ||
      e3.getMessage.contains("FIELD"), e3.getMessage)
  }

  test("NESTED ADD COLUMN: ALTER TABLE ADD COLUMN meta.fps evolves a struct metadata-only — null-filled reads, old versions travel under the old shape, evolved writes take over physically; bad paths refuse by name") {
    val root = java.nio.file.Files.createTempDirectory("graft_sqlwnest").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    // the multimodal tier's shape: an id + a typed metadata STRUCT
    spark.sql(s"CREATE TABLE ${tbl(dir)} (site STRING, id BIGINT, " +
      "meta STRUCT<width: INT, height: INT>) PARTITIONED BY (site)")
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, id, meta) " +
      "VALUES ('a', 1, named_struct('width', 640, 'height', 480)), " +
      "('a', 2, NULL)")
    val v1 = Versioned.currentVersion(spark, dir)
    // the evolution: metadata-only (no data file touched)
    spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN meta.fps DOUBLE")
    assert(Versioned.filesAt(spark, dir).toSet ==
      Versioned.filesAt(spark, dir, v1).toSet,
      "nested ADD COLUMN must touch no data file")
    // reads null-fill the new field; a NULL struct stays null whole
    val got = spark.sql(s"SELECT id, meta.width, meta.fps, " +
        s"meta IS NULL AS mn FROM ${tbl(dir)} ORDER BY id").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1 else r.getInt(1),
        r.isNullAt(2), r.getBoolean(3))).toSeq
    assert(got == Seq((1L, 640, true, false), (2L, -1, true, true)), got)
    // the PRE-evolution version travels under the OLD struct shape
    assert(!Versioned.snapshot(spark, dir, v1).schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("fps"),
      "time travel must read the old struct shape")
    // an evolved WRITE takes over physically; null-filled rows coexist
    spark.sql(s"INSERT INTO ${tbl(dir)} (site, id, meta) VALUES " +
      "('a', 3, named_struct('width', 1920, 'height', 1080, 'fps', 29.97))")
    val got2 = spark.sql(s"SELECT id, meta.fps FROM ${tbl(dir)} " +
        "WHERE meta.fps IS NOT NULL").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got2 == Seq((3L, 29.97)), got2.toString)
    // TWO-level nesting evolves too
    spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN meta.codec STRING")
    assert(spark.sql(s"SELECT meta.codec FROM ${tbl(dir)}").count() == 3L)
    // refusals name the defect: non-struct parent, existing field,
    // missing parent
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN id.sub INT") }
    assert(e1.getMessage.contains("struct") ||
      e1.getMessage.contains("FIELD"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN meta.width INT") }
    assert(e2.getMessage.toLowerCase.contains("exist"), e2.getMessage)
    val e3 = intercept[Exception] {
      Versioned.addColumn(spark, dir, "nosuch.f",
        org.apache.spark.sql.types.IntegerType) }
    assert(e3.getMessage.contains("nosuch"), e3.getMessage)
    // a QUOTED literal name containing '.' is indistinguishable from a
    // nested path once on the rail — refused with the naming rule
    val e4 = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN `lit.eral` INT") }
    assert(e4.getMessage.contains("dot-free"), e4.getMessage)
    // …and in EVERY segment of a multi-part name: meta.`a.b` would be
    // indistinguishable from the deeper path meta.a.b
    val e5 = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN meta.`a.b` INT") }
    assert(e5.getMessage.contains("dot-free"), e5.getMessage)
  }

  test("ANSI constraints: ALTER TABLE ADD CONSTRAINT ... CHECK lowers onto the #chk rail; violating writes refuse; DROP CONSTRAINT lifts; non-CHECK kinds refuse") {
    val dir = freshLake()
    spark.sql(s"ALTER TABLE ${tbl(dir)} ADD CONSTRAINT pos_v CHECK (v >= 0)")
    assert(Versioned.tableProperties(spark, dir)
      .get("graft.constraint.pos_v").exists(_.contains("v")),
      "the ANSI spelling must land on the same rail as the property one")
    // the table reports it through Spark's own constraint objects
    val cat = spark.sessionState.catalogManager.catalog("graft_sqlw")
      .asInstanceOf[GraftCatalog]
    val t = cat.loadTable(org.apache.spark.sql.connector.catalog.Identifier
      .of(Array.empty[String], dir))
    assert(t.constraints().exists(_.name() == "pos_v"))
    // violating INSERT refuses, nothing commits
    val v0 = Versioned.currentVersion(spark, dir)
    intercept[Exception] {
      spark.sql(s"INSERT INTO ${tbl(dir)} VALUES (99L, -5.0, 'a')")
    }
    assert(Versioned.currentVersion(spark, dir) == v0)
    // DROP CONSTRAINT lifts the rule
    spark.sql(s"ALTER TABLE ${tbl(dir)} DROP CONSTRAINT pos_v")
    assert(!Versioned.tableProperties(spark, dir)
      .contains("graft.constraint.pos_v"))
    // non-CHECK constraint kinds refuse with guidance
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ADD CONSTRAINT uq UNIQUE (id)")
    }
    assert(e.getMessage.contains("CHECK"), e.getMessage)
    // INLINE constraints on CREATE land too (the TableInfo channel the
    // default delegation would drop)
    val root2 = java.nio.file.Files.createTempDirectory("graft_sqlwc").toFile
    root2.deleteOnExit()
    val dir2 = new java.io.File(root2, "t").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir2)} (site STRING, id BIGINT, " +
      "v DOUBLE, CONSTRAINT inline_pos CHECK (v >= 0)) " +
      "PARTITIONED BY (site)")
    assert(Versioned.tableProperties(spark, dir2)
      .contains("graft.constraint.inline_pos"))
    intercept[Exception] {
      spark.sql(s"INSERT INTO ${tbl(dir2)} VALUES ('a', 1, -2.0)")
    }
    assert(Versioned.snapshot(spark, dir2).count() == 0L)
  }

  test("MERGE INTO: cardinality violation and non-equi ON refuse loudly; nothing commits") {
    val dir = freshLake()
    df(Seq(("a", 1L, 9.0), ("a", 1L, 8.0)), "site", "id", "v")
      .createOrReplaceTempView("sqlw_dup")
    val v0 = Versioned.currentVersion(spark, dir)
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO ${tbl(dir)} t USING sqlw_dup s
           |ON t.site = s.site AND t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(e.getMessage.contains("more than one row"),
      s"expected the cardinality refusal, got: ${e.getMessage}")
    val e2 = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO ${tbl(dir)} t USING sqlw_dup s
           |ON t.site = s.site AND t.id >= s.id
           |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    }
    assert(e2.getMessage.contains("conjunction"),
      s"expected the equi-key refusal, got: ${e2.getMessage}")
    assert(Versioned.currentVersion(spark, dir) == v0,
      "a refused merge must not commit")
  }

  test("MERGE INTO with spark.graft.sql.merge.mor=true routes to scoped tombstones (zero rewrites)") {
    val dir = freshLake()
    df(Seq(("a", 1L, 77.0)), "site", "id", "v")
      .createOrReplaceTempView("sqlw_mor")
    spark.conf.set("spark.graft.sql.merge.mor", "true")
    try spark.sql(
      s"""MERGE INTO ${tbl(dir)} t USING sqlw_mor s
         |ON t.site = s.site AND t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    finally spark.conf.unset("spark.graft.sql.merge.mor")
    val v = Versioned.currentVersion(spark, dir)
    assert(Versioned.deleteFilesAt(spark, dir, v).nonEmpty,
      "MOR routing must commit a scoped tombstone, not a rewrite")
    assert(Versioned.filesAt(spark, dir, 0L).toSet
      .subsetOf(Versioned.filesAt(spark, dir, v).toSet),
      "MOR merge keeps every pre-existing file")
    assert(state(Versioned.snapshot(spark, dir)).contains(("a", 1L, 77.0)))
  }

  test("UPDATE and DELETE as SQL text: partition-scoped commits, refusal on constraint violation") {
    val dir = freshLake()
    spark.sql(s"UPDATE ${tbl(dir)} SET v = v * 10 WHERE site = 'a' AND id = 1")
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 10.0), ("a", 2L, 2.0), ("b", 10L, 10.0), ("c", 20L, 20.0)))
    spark.sql(s"DELETE FROM ${tbl(dir)} WHERE site = 'c'")
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 10.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
    assert(!Versioned.filesAt(spark, dir).exists(_.contains("site=c")))
    Versioned.addConstraint(spark, dir, "v_pos", "v > 0")
    val v0 = Versioned.currentVersion(spark, dir)
    val e = intercept[Exception] {
      spark.sql(s"UPDATE ${tbl(dir)} SET v = -1.0 WHERE id = 1")
    }
    assert(e.getMessage.contains("v_pos"))
    assert(Versioned.currentVersion(spark, dir) == v0)
  }

  test("INSERT INTO: catalog V1 write and format-view routing are manifest commits; INSERT OVERWRITE replaces") {
    val dir = freshLake()
    // catalog path: DSv2 V1 fallback write
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES (30, 30.0, 'd')")
    assert(Versioned.currentVersion(spark, dir) == 1L,
      "catalog INSERT must be one manifest commit")
    assert(state(Versioned.snapshot(spark, dir)).contains(("d", 30L, 30.0)))
    // format-view path: the documented bypass, now ROUTED by the rule
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW sqlw_v " +
      s"USING graft OPTIONS (path '$dir')")
    spark.sql("INSERT INTO sqlw_v VALUES (40, 40.0, 'e')")
    assert(Versioned.currentVersion(spark, dir) == 2L,
      "view INSERT must be one manifest commit, not a bare file write")
    assert(state(Versioned.snapshot(spark, dir)).contains(("e", 40L, 40.0)))
    // the view now pins v1 while the table is at v2: a second insert
    // through it refuses as STALE instead of committing blind
    val e = intercept[Exception] {
      spark.sql("INSERT INTO sqlw_v VALUES (50, 50.0, 'f')")
    }
    assert(e.getMessage.contains("stale"),
      s"expected the stale-pin refusal, got: ${e.getMessage}")
    // INSERT OVERWRITE through the catalog replaces the table state
    spark.sql(s"INSERT OVERWRITE ${tbl(dir)} VALUES (1, 1.0, 'z')")
    assert(state(Versioned.snapshot(spark, dir)) == Set(("z", 1L, 1.0)))
    assert(state(Versioned.snapshot(spark, dir, 2L))
      .contains(("e", 40L, 40.0)), "pre-overwrite version still travels")
  }

  test("CREATE TABLE through the catalog: empty typed SELECT, declared spec enforced, SQL INSERT + format write round-trip") {
    val dir = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_ct").toFile,
      "t1").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir)} " +
      "(id BIGINT, v DOUBLE, site STRING) PARTITIONED BY (site)")
    // the empty table reads with the DECLARED schema, zero rows
    val empty = spark.sql(s"SELECT * FROM ${tbl(dir)}")
    assert(empty.count() == 0L)
    assert(empty.schema.fieldNames.toSet == Set("id", "v", "site"))
    assert(spark.read.format("graft").load(dir).count() == 0L,
      "the format surface reads the empty table too")
    // the spec was DECLARED: a write with the wrong keys refuses
    val e = intercept[Exception] {
      Versioned.append(spark, dir,
        df(Seq((1L, 1.0, "a")), "id", "v", "site"), Seq("id"))
    }
    assert(e.getMessage.contains("declared"))
    // SQL INSERT lands as a manifest commit under the declared spec
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES (1, 1.0, 'a'), (2, 2.0, 'b')")
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 1.0), ("b", 2L, 2.0)))
    assert(Versioned.filesAt(spark, dir).forall(_.startsWith("site=")),
      "rows land Hive-partitioned by the declared key")
    // the format write surface joins in (keys inferred from the spec)
    df(Seq((3L, 3.0, "c")), "id", "v", "site")
      .write.format("graft").mode("append").save(dir)
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 1.0), ("b", 2L, 2.0), ("c", 3L, 3.0)))
    // CREATE on an existing lake refuses
    intercept[Exception] { spark.sql(s"CREATE TABLE ${tbl(dir)} (x INT)") }
  }

  test("DELETE with spark.graft.sql.delete.mor=true: an O(keys) tombstone commit (zero data-file changes), keyed by the change feed") {
    val dir = freshLake()
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"))
    val files0 = Versioned.filesAt(spark, dir).toSet
    spark.conf.set("spark.graft.sql.delete.mor", "true")
    try {
      spark.sql(s"DELETE FROM ${tbl(dir)} WHERE v > 15.0")
      assert(Versioned.filesAt(spark, dir).toSet == files0,
        "a MOR-routed SQL delete must not touch data files")
      assert(Versioned.deleteFilesAt(spark, dir).nonEmpty,
        "the delete must commit an equality tombstone")
      assert(state(Versioned.snapshot(spark, dir)) ==
        Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))
      // without a feed key the routing refuses with guidance
      val bare = freshLake()
      val e = intercept[Exception] {
        spark.sql(s"DELETE FROM ${tbl(bare)} WHERE v > 15.0")
      }
      assert(e.getMessage.contains("enableChangeFeed"))
    } finally spark.conf.unset("spark.graft.sql.delete.mor")
  }

  test("ALTER TABLE: RENAME/DROP COLUMN are metadata-only mapping commits; TBLPROPERTIES drive constraints and the change feed; type changes refuse") {
    val dir = freshLake()
    val files0 = Versioned.filesAt(spark, dir).toSet
    spark.sql(s"ALTER TABLE ${tbl(dir)} RENAME COLUMN v TO reading")
    assert(Versioned.filesAt(spark, dir).toSet == files0,
      "a SQL rename must move zero data files")
    assert(Versioned.snapshot(spark, dir).columns.contains("reading"))
    // the renamed table still reads vectorized through the format
    assert(spark.read.format("graft").load(dir)
      .select("reading").count() == 4L)
    // CHECK constraint via TBLPROPERTIES: violating writes refuse by name
    spark.sql(s"ALTER TABLE ${tbl(dir)} " +
      "SET TBLPROPERTIES ('graft.constraint.r_pos' = 'reading > 0')")
    val e = intercept[Exception] {
      Versioned.append(spark, dir,
        df(Seq(("a", 9L, -1.0)), "site", "id", "reading"), Seq("site"))
    }
    assert(e.getMessage.contains("r_pos"))
    spark.sql(s"ALTER TABLE ${tbl(dir)} " +
      "UNSET TBLPROPERTIES ('graft.constraint.r_pos')")
    Versioned.append(spark, dir,
      df(Seq(("a", 9L, -1.0)), "site", "id", "reading"), Seq("site"))
    // change feed via TBLPROPERTIES: the next merge publishes increments
    spark.sql(s"ALTER TABLE ${tbl(dir)} " +
      "SET TBLPROPERTIES ('graft.changeFeed.keys' = 'site,id')")
    val vF = Versioned.currentVersion(spark, dir)
    Versioned.mergeInto(spark, dir,
      df(Seq(("a", 1L, 7.0)), "site", "id", "reading"),
      Seq("site"), Seq("site", "id"))
    val acts = Versioned.changesBetween(spark, dir, vF,
      Versioned.currentVersion(spark, dir))
      .select("_action").collect().map(_.getString(0)).toSet
    assert(acts == Set("update_preimage", "update_postimage"))
    // DROP COLUMN: metadata-only, the column vanishes
    val files1 = Versioned.filesAt(spark, dir).toSet
    spark.sql(s"ALTER TABLE ${tbl(dir)} DROP COLUMN reading")
    assert(Versioned.filesAt(spark, dir).toSet == files1)
    assert(!Versioned.snapshot(spark, dir).columns.contains("reading"))
    // a DROPPED name can come back as an ADD COLUMN (fresh physical
    // auto-assigned on the next write carrying it)
    spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN reading DOUBLE")
    assert(Versioned.snapshot(spark, dir).columns.contains("reading"))
    assert(Versioned.snapshot(spark, dir)
      .filter(col("reading").isNotNull).count() == 0L,
      "a re-added dropped name must NOT resurrect the old values")
    // NARROWING still refuses with guidance (id is BIGINT)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ALTER COLUMN id TYPE INT")
    }
    assert(e2.getMessage != null, s"type change must refuse: ${e2.getMessage}")
  }

  test("DELETE auto-routing: partition-aligned -> COW, stats-wide -> deletion vectors, stats-narrow -> COW, unstatsed -> COW; confs stay overrides") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, Literal}
    import org.apache.spark.sql.types.{LongType, StringType}
    val dir = freshLake()
    (1 to 7).foreach { i => // 8+ files so a one-file hit is < 25%
      Versioned.append(spark, dir,
        df(Seq(("a", 1000L + i * 100, i.toDouble)), "site", "id", "v"),
        Seq("site"))
    }
    def idRef = AttributeReference("id", LongType)()
    def siteRef = AttributeReference("site", StringType)()
    val keys = Versioned.layoutPartitionKeys(spark, dir)
    val wide = GreaterThanOrEqual(idRef, Literal(0L))
    val narrow = EqualTo(idRef, Literal(1700L))
    val aligned = EqualTo(siteRef, Literal("b"))
    // UNSTATSED: no estimate -> COW (today's semantics, no surprise)
    assert(GraftDeleteCommand.route(spark, dir, wide, keys) ==
      GraftDeleteCommand.Cow)
    // partition-aligned -> COW regardless of stats
    assert(GraftDeleteCommand.route(spark, dir, aligned, keys) ==
      GraftDeleteCommand.Cow)
    Versioned.backfillStats(spark, dir, Seq("id"))
    // stats in force: a wide sweep routes to deletion vectors, a
    // narrow (one-file box) predicate keeps the bounded rewrite
    assert(GraftDeleteCommand.route(spark, dir, wide, keys) ==
      GraftDeleteCommand.Vectors)
    assert(GraftDeleteCommand.route(spark, dir, narrow, keys) ==
      GraftDeleteCommand.Cow)
    // END-TO-END: the SQL DELETE physically honors the routing — a
    // wide delete writes a DV sidecar and rewrites NOTHING
    val filesBefore = Versioned.filesAt(spark, dir)
    spark.sql(s"DELETE FROM ${tbl(dir)} WHERE id >= 1000")
    assert(Versioned.filesAt(spark, dir) == filesBefore,
      "a wide auto-routed delete must rewrite zero files")
    assert(Versioned.deleteFilesAt(spark, dir)
      .exists(_.contains("_deletes/dv_")),
      "a wide auto-routed delete must commit a deletion vector")
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0),
        ("c", 20L, 20.0)))
    // ... and a partition-aligned delete COW-rewrites (no new DV)
    val dvsBefore = Versioned.deleteFilesAt(spark, dir).size
    spark.sql(s"DELETE FROM ${tbl(dir)} WHERE site = 'c'")
    assert(Versioned.deleteFilesAt(spark, dir).size == dvsBefore,
      "a partition-aligned delete must not add MOR debt")
    assert(!state(Versioned.snapshot(spark, dir)).exists(_._1 == "c"))
    // conf override beats the estimate
    spark.conf.set("spark.graft.sql.delete.cow", "true")
    try {
      val before2 = Versioned.deleteFilesAt(spark, dir).size
      spark.sql(s"DELETE FROM ${tbl(dir)} WHERE id >= 0")
      assert(Versioned.deleteFilesAt(spark, dir).size == before2,
        "the cow override must veto the wide->vectors estimate")
    } finally spark.conf.unset("spark.graft.sql.delete.cow")
  }

  test("ALTER COLUMN ... TYPE widening via SQL: int->long is metadata-only, long-range inserts land, travel keeps the narrow type") {
    val root = java.nio.file.Files.createTempDirectory("graft_widsql").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir)} " +
      "(id INT, v DOUBLE, site STRING) PARTITIONED BY (site)")
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES (1, 1.0, 'a'), (2, 2.0, 'b')")
    val vPre = Versioned.currentVersion(spark, dir)
    spark.sql(s"ALTER TABLE ${tbl(dir)} ALTER COLUMN id TYPE BIGINT")
    assert(spark.sql(s"SELECT * FROM ${tbl(dir)}")
      .schema("id").dataType.simpleString == "bigint")
    // a value only BIGINT can hold, next to the old int files
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES (5000000000, 3.0, 'a')")
    assert(spark.sql(s"SELECT sum(id) AS s FROM ${tbl(dir)}")
      .head().getLong(0) == 5000000003L)
    // pre-widen versions travel under the narrow type
    assert(spark.sql(s"SELECT * FROM ${tbl(dir)} VERSION AS OF $vPre")
      .schema("id").dataType.simpleString == "int")
    // refusals: string<->numeric
    intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ALTER COLUMN v TYPE STRING") }
  }

  test("TRUNCATE TABLE: one commit empties the table (typed empty read survives), pre-truncate versions travel, feed gets delete rows; graft_files lists the manifest") {
    val dir = freshLake()
    Versioned.enableChangeFeed(spark, dir, Seq("site", "id"))
    val vPre = Versioned.currentVersion(spark, dir)
    // graft_files TVF: the manifest listing as SQL
    val files = spark.sql(s"SELECT file, partition FROM graft_files('$dir')")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(files.length == Versioned.filesAt(spark, dir).size &&
      files.forall(_._2.startsWith("site=")))
    spark.sql(s"TRUNCATE TABLE ${tbl(dir)}")
    val empty = spark.sql(s"SELECT * FROM ${tbl(dir)}")
    assert(empty.count() == 0L &&
      empty.schema.fieldNames.toSet == Set("site", "id", "v"),
      "the truncated table reads typed-empty")
    assert(spark.sql(s"SELECT count(*) FROM graft_files('$dir')")
      .head().getLong(0) == 0L)
    assert(state(Versioned.snapshot(spark, dir, vPre)).size == 4,
      "pre-truncate version still travels")
    val acts = Versioned.changesBetween(spark, dir, vPre,
      Versioned.currentVersion(spark, dir))
      .select("_action").collect().map(_.getString(0))
    assert(acts.length == 4 && acts.forall(_ == "delete"),
      "truncate must publish one delete feed row per removed row")
    // the table accepts writes again under the same layout
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES (5, 5.0, 'e')")
    assert(state(Versioned.snapshot(spark, dir)) == Set(("e", 5L, 5.0)))
  }

  test("WITHOUT the rule: a view INSERT fails loudly (refresh poison) and the manifest never references the bare files") {
    val dir = freshLake()
    // a session without the extensions: no GraftRowLevelSql anywhere
    val bare = BareSession(spark)
    bare.sql(s"CREATE OR REPLACE TEMPORARY VIEW sqlw_bare " +
      s"USING graft OPTIONS (path '$dir')")
    val e = intercept[Exception] {
      bare.sql("INSERT INTO sqlw_bare VALUES (60, 60.0, 'g')")
    }
    assert(e.getMessage != null && e.getMessage.contains("manifest"),
      s"expected the refresh poison, got: ${e.getMessage}")
    assert(Versioned.currentVersion(spark, dir) == 0L,
      "the failed bare insert must not have committed anything")
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 10L, 10.0), ("c", 20L, 20.0)),
      "readers see the pre-insert state (bare files are unreferenced)")
  }

  test("UNPARTITIONED table (no PARTITIONED BY): SQL UPDATE, DELETE, MERGE and TRUNCATE are full-table COW commits — no crash, no duplicated rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlwf")
      .toFile.getAbsolutePath
    spark.sql(s"CREATE TABLE graft_sqlw.`$dir` (site STRING, id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES " +
      "('a', 1, 1.0), ('a', 2, 2.0), ('b', 10, 10.0), ('c', 20, 20.0)")
    assert(Versioned.layoutPartitionKeys(spark, dir).isEmpty)

    spark.sql(s"UPDATE ${tbl(dir)} SET v = v * 10 WHERE id = 1")
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 10.0), ("a", 2L, 2.0), ("b", 10L, 10.0), ("c", 20L, 20.0)))

    spark.sql(s"DELETE FROM ${tbl(dir)} WHERE site = 'c'")
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 10.0), ("a", 2L, 2.0), ("b", 10L, 10.0)))

    df(Seq(("a", 1L, 0.5), ("d", 30L, 30.0)), "site", "id", "v")
      .createOrReplaceTempView("sqlw_flat_src")
    spark.sql(
      s"""MERGE INTO ${tbl(dir)} t USING sqlw_flat_src s
         |ON t.site = s.site AND t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 0.5), ("a", 2L, 2.0), ("b", 10L, 10.0), ("d", 30L, 30.0)))

    val vPre = Versioned.currentVersion(spark, dir)
    spark.sql(s"TRUNCATE TABLE ${tbl(dir)}")
    assert(spark.sql(s"SELECT * FROM ${tbl(dir)}").count() == 0L)
    assert(state(Versioned.snapshot(spark, dir, vPre)).size == 4,
      "pre-truncate version still travels")
    // and the table accepts writes again
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES ('e', 5, 5.0)")
    assert(state(Versioned.snapshot(spark, dir)) == Set(("e", 5L, 5.0)))
  }

  test("MERGE with only NOT MATCHED BY SOURCE clauses against duplicate target keys refuses (the per-key upsert would be ambiguous)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sqlwd")
      .toFile.getAbsolutePath
    MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("a", 1L, 2.0), ("b", 10L, 10.0)),
        "site", "id", "v"),
      dir, keys = Seq("site"))
    Versioned.init(spark, dir)
    // source holds NO a-keys, so both duplicate a@1 rows land in the
    // NOT MATCHED BY SOURCE family — two full-row images for one key
    df(Seq(("b", 10L, 0.0)), "site", "id", "v")
      .createOrReplaceTempView("sqlw_nmbs_dup")
    val v0 = Versioned.currentVersion(spark, dir)
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO ${tbl(dir)} t USING sqlw_nmbs_dup s
           |ON t.site = s.site AND t.id = s.id
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -t.v""".stripMargin)
    }
    assert(e.getMessage.contains("more than one row image"),
      s"expected the batch-uniqueness refusal, got: ${e.getMessage}")
    assert(Versioned.currentVersion(spark, dir) == v0,
      "a refused merge must not commit")
  }

  test("MERGE reads its source exactly once (all WHEN families + cardinality check share the persisted source)") {
    val dir = freshLake()
    val acc = spark.sparkContext.longAccumulator("sqlw_src_scans")
    val srcRows = Seq(("a", 1L, 100.0), ("z", 99L, 9.0))
    val rdd = spark.sparkContext.parallelize(srcRows, 1).map { r =>
      acc.add(1); org.apache.spark.sql.Row(r._1, r._2, r._3)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("site",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(rdd, schema)
      .createOrReplaceTempView("sqlw_counted_src")
    spark.sql(
      s"""MERGE INTO ${tbl(dir)} t USING sqlw_counted_src s
         |ON t.site = s.site AND t.id = s.id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.site = 'c' THEN DELETE""".stripMargin)
    assert(state(Versioned.snapshot(spark, dir)) == Set(
      ("a", 1L, 100.0), ("a", 2L, 2.0), ("b", 10L, 10.0), ("z", 99L, 9.0)))
    assert(acc.value == srcRows.length.toLong,
      s"source scanned ${acc.value / srcRows.length}x — the merge must " +
        "read its source exactly once (persisted)")
  }

  test("CTAS: CREATE TABLE ... AS SELECT round-trips (incl. PARTITIONED BY declaring the spec); CTAS onto an existing table refuses") {
    val root = java.nio.file.Files.createTempDirectory("graft_ctas").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t1").getAbsolutePath
    df(Seq(("a", 1L, 1.0), ("b", 10L, 10.0), ("b", 11L, 11.0)),
      "site", "id", "v").createOrReplaceTempView("ctas_src")
    spark.sql(s"CREATE TABLE ${tbl(dir)} PARTITIONED BY (site) AS " +
      "SELECT id, v, site FROM ctas_src")
    assert(state(Versioned.snapshot(spark, dir)) ==
      Set(("a", 1L, 1.0), ("b", 10L, 10.0), ("b", 11L, 11.0)))
    assert(Versioned.partitionSpec(spark, dir) == Some(Seq("site")),
      "CTAS PARTITIONED BY must declare the table's spec")
    assert(Versioned.filesAt(spark, dir).forall(_.startsWith("site=")),
      "CTAS data must land Hive-partitioned by the declared key")
    // readable straight back through SQL, and writable
    assert(spark.sql(s"SELECT count(*) FROM ${tbl(dir)}").head().getLong(0) == 3L)
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES (2, 2.0, 'a')")
    assert(spark.sql(s"SELECT count(*) FROM ${tbl(dir)}").head().getLong(0) == 4L)
    // CTAS onto the SAME table: refused, nothing clobbered
    intercept[Exception] {
      spark.sql(s"CREATE TABLE ${tbl(dir)} AS SELECT * FROM ctas_src")
    }
    assert(spark.sql(s"SELECT count(*) FROM ${tbl(dir)}").head().getLong(0) == 4L)
    // unpartitioned CTAS
    val dir2 = new java.io.File(root, "t2").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir2)} AS " +
      "SELECT site, id, v FROM ctas_src WHERE id > 1")
    assert(state(Versioned.snapshot(spark, dir2)) ==
      Set(("b", 10L, 10.0), ("b", 11L, 11.0)))
  }

  test("REPLACE TABLE AS SELECT: one history-preserving commit swaps schema + spec + contents; pre-replace versions travel; definition state resets") {
    val root = java.nio.file.Files.createTempDirectory("graft_rtas").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    df(Seq(("a", 1L, 1.0), ("b", 10L, 10.0)), "site", "id", "v")
      .createOrReplaceTempView("rtas_src")
    spark.sql(s"CREATE TABLE ${tbl(dir)} PARTITIONED BY (site) AS " +
      "SELECT id, v, site FROM rtas_src")
    spark.sql(s"ALTER TABLE ${tbl(dir)} SET TBLPROPERTIES(" +
      "'graft.constraint.pos' = 'v >= 0')")
    val vPre = Versioned.currentVersion(spark, dir)
    // replace with a DIFFERENT schema (from the SELECT — Spark's RTAS
    // grammar forbids an explicit column list), DIFFERENT spec
    spark.sql(s"REPLACE TABLE ${tbl(dir)} PARTITIONED BY (region) AS " +
      "SELECT site AS region, sum(v) AS total FROM rtas_src GROUP BY site")
    assert(Versioned.currentVersion(spark, dir) == vPre + 1,
      "REPLACE must be ONE commit")
    val now = spark.sql(s"SELECT region, total FROM ${tbl(dir)} ORDER BY region")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(now == Seq(("a", 1.0), ("b", 10.0)))
    assert(Versioned.partitionSpec(spark, dir) == Some(Seq("region")))
    // pre-replace versions STILL travel under their own schema
    val old = spark.sql(
      s"SELECT site, id, v FROM ${tbl(dir)} VERSION AS OF $vPre")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(old == Set(("a", 1L, 1.0), ("b", 10L, 10.0)),
      "pre-replace versions must time-travel")
    // the OLD definition's constraint does not haunt the new table
    assert(Versioned.constraints(spark, dir).isEmpty,
      "definition-level state must reset with the definition")
    // (partition columns read last, Hive-layout order: total, region)
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES (-5.0, 'c')") // pos would refuse
    assert(spark.sql(s"SELECT count(*) FROM ${tbl(dir)}").head().getLong(0) == 3L)
    // REPLACE a MISSING table refuses; CREATE OR REPLACE creates it
    val dir2 = new java.io.File(root, "t2").getAbsolutePath
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE ${tbl(dir2)} AS SELECT * FROM rtas_src") }
    assert(Versioned.currentVersion(spark, dir2) < 0)
    spark.sql(s"CREATE OR REPLACE TABLE ${tbl(dir2)} AS " +
      "SELECT site, id, v FROM rtas_src")
    assert(state(Versioned.snapshot(spark, dir2)) ==
      Set(("a", 1L, 1.0), ("b", 10L, 10.0)),
      "CREATE OR REPLACE on a missing table == CREATE")
    // ... and on the EXISTING table it now REPLACES (the r14 downgrade
    // threw TableAlreadyExists here)
    spark.sql(s"CREATE OR REPLACE TABLE ${tbl(dir2)} AS " +
      "SELECT site, id, v * 2 AS v FROM rtas_src")
    assert(state(Versioned.snapshot(spark, dir2)) ==
      Set(("a", 1L, 2.0), ("b", 10L, 20.0)))
  }

  test("REPLACE TABLE without AS SELECT publishes an empty new definition; a failed replacing SELECT aborts leaving the original intact") {
    val root = java.nio.file.Files.createTempDirectory("graft_rtasf").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    df(Seq(("a", 1L, 1.0)), "site", "id", "v")
      .createOrReplaceTempView("rtasf_src")
    spark.sql(s"CREATE TABLE ${tbl(dir)} AS SELECT site, id, v FROM rtasf_src")
    val vPre = Versioned.currentVersion(spark, dir)
    // plain REPLACE: empty table under the NEW schema, old travels
    spark.sql(s"REPLACE TABLE ${tbl(dir)} (k STRING, n BIGINT)")
    assert(spark.sql(s"SELECT * FROM ${tbl(dir)}").columns.toSeq ==
      Seq("k", "n"))
    assert(spark.sql(s"SELECT count(*) FROM ${tbl(dir)}").head().getLong(0) == 0L)
    assert(state(Versioned.snapshot(spark, dir, vPre)) ==
      Set(("a", 1L, 1.0)))
    // a replacing SELECT that FAILS mid-write: nothing committed, the
    // (new-definition) table stays exactly as before the attempt
    df(Seq(("x", 0L)), "k", "n").createOrReplaceTempView("rtasf_boom")
    intercept[Exception] { // ANSI division by zero inside the write job
      spark.sql(s"REPLACE TABLE ${tbl(dir)} AS " +
        "SELECT k, 1 / n AS inv FROM rtasf_boom")
    }
    assert(spark.sql(s"SELECT * FROM ${tbl(dir)}").columns.toSeq ==
      Seq("k", "n"),
      "a failed replace must leave the original definition intact")
    assert(Versioned.currentVersion(spark, dir) == vPre + 1,
      "a failed replace must not commit")
    // inline create-time sugar refuses BY NAME under replace
    val e = intercept[Exception] {
      spark.sql(s"REPLACE TABLE ${tbl(dir)} " +
        "(k STRING, n BIGINT, CONSTRAINT c CHECK (n > 0))") }
    assert(e.getMessage.contains("ADD CONSTRAINT"), e.getMessage)
  }

  test("anchors are VERSIONED: empty-table reads time-travel across REPLACE/TRUNCATE definition changes (the old in-place anchor was clobbered)") {
    val root = java.nio.file.Files.createTempDirectory("graft_anchv").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    spark.sql(s"CREATE TABLE ${tbl(dir)} (a INT, s STRING)") // v0+v? empty
    val v0 = Versioned.currentVersion(spark, dir)
    assert(spark.sql(s"SELECT * FROM ${tbl(dir)}").columns.toSeq ==
      Seq("a", "s"))
    // replace the EMPTY table with a different empty definition
    spark.sql(s"REPLACE TABLE ${tbl(dir)} (k STRING, n BIGINT)")
    assert(spark.sql(s"SELECT * FROM ${tbl(dir)}").columns.toSeq ==
      Seq("k", "n"))
    // the pre-replace EMPTY version still reads under ITS OWN anchor
    assert(spark.sql(s"SELECT * FROM ${tbl(dir)} VERSION AS OF $v0")
        .columns.toSeq == Seq("a", "s"),
      "a zero-file version must travel under its own definition's anchor")
  }

  test("CTAS is atomic: a SELECT that fails mid-write leaves NOTHING behind (no directory, no half table)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ctasf").toFile
    root.deleteOnExit()
    val dir = new java.io.File(root, "t").getAbsolutePath
    df(Seq(("a", 1L, 1.0), ("b", 10L, 0.0)), "site", "id", "v")
      .createOrReplaceTempView("ctas_boom")
    intercept[Exception] { // ANSI division by zero inside the write job
      spark.sql(s"CREATE TABLE ${tbl(dir)} AS " +
        "SELECT site, id, 1.0 / v AS inv FROM ctas_boom")
    }
    assert(Versioned.currentVersion(spark, dir) < 0,
      "a failed CTAS must not leave a versioned table")
    assert(!new java.io.File(dir).exists(),
      "a failed CTAS must remove the staged directory entirely")
  }

  test("DROP TABLE removes manifest + data (guarded); IF EXISTS on a missing table is silent; a dropped dir can be re-created") {
    val dir = freshLake()
    assert(new java.io.File(dir).exists())
    spark.sql(s"DROP TABLE ${tbl(dir)}")
    assert(!new java.io.File(dir).exists(), "DROP must delete the directory")
    assert(Versioned.currentVersion(spark, dir) < 0)
    spark.sql(s"DROP TABLE IF EXISTS ${tbl(dir)}") // silent
    intercept[Exception] { spark.sql(s"DROP TABLE ${tbl(dir)}") }
    // the path is free for a fresh CREATE
    spark.sql(s"CREATE TABLE ${tbl(dir)} (site STRING, id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES ('x', 1, 1.0)")
    assert(state(Versioned.snapshot(spark, dir)) == Set(("x", 1L, 1.0)))
    // and RENAME TABLE stays refused by name
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} RENAME TO graft_sqlw.`${dir}_x`")
    }
    assert(e.getMessage.contains("RENAME"), e.getMessage)
  }

  test("ALTER TABLE ADD COLUMN: metadata-only commit — reads null-fill, writes may carry it, travel reads without it, refusals by name") {
    val dir = freshLake()
    val vPre = Versioned.currentVersion(spark, dir)
    spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN note STRING")
    assert(Versioned.currentVersion(spark, dir) == vPre + 1,
      "ADD COLUMN is ONE commit")
    assert(Versioned.filesAt(spark, dir).toSet ==
      Versioned.filesAt(spark, dir, vPre).toSet,
      "ADD COLUMN must be metadata-only (zero data-file changes)")
    // reads: null-filled on BOTH surfaces (catalog SQL and format)
    val viaSql = spark.sql(
      s"SELECT site, id, note FROM ${tbl(dir)} ORDER BY site, id")
    assert(viaSql.columns.toSeq == Seq("site", "id", "note"))
    assert(viaSql.collect().forall(_.isNullAt(2)))
    val viaFmt = spark.read.format("graft").load(dir)
    assert(viaFmt.schema.fieldNames.contains("note"))
    assert(viaFmt.filter(col("note").isNotNull).count() == 0L)
    // travel: the pre-add version reads WITHOUT the column
    assert(!Versioned.snapshot(spark, dir, vPre).columns.contains("note"))
    // a write carrying the column: new rows hold values, old rows null
    spark.sql(s"INSERT INTO ${tbl(dir)} VALUES (7, 7.0, 'd', 'seven')")
    val after = spark.sql(s"SELECT id, note FROM ${tbl(dir)}")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(after(7L) == "seven" && after(1L) == null)
    // and the added column UPDATEs like any other
    spark.sql(s"UPDATE ${tbl(dir)} SET note = 'one' WHERE id = 1")
    assert(spark.sql(s"SELECT note FROM ${tbl(dir)} WHERE id = 1")
      .head().getString(0) == "one")
    // refusals: duplicate, NOT NULL, positioned
    intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN note STRING") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN n2 STRING NOT NULL") }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE ${tbl(dir)} ADD COLUMN n3 STRING FIRST") }
  }
}
