package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** The SQL registration surface must hand SQL users the same native
  * expressions as the Column API. */
class GraftExtensionsSpec extends SparkSpec {

  test("register(spark): cosine_similarity in SQL == Column API, null on mismatch") {
    GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT
        |  cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                    array(CAST(2.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS same_dir,
        |  cosine_similarity(array(1.0D, 0.0D), array(0.0D, 3.0D)) AS ortho,
        |  cosine_similarity(array(1.0D), array(1.0D, 2.0D)) AS mismatch
        |""".stripMargin).head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getDouble(1) === 0.0)
    assert(row.isNullAt(2))

    // same expression as the Column entry point
    val d = df(Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f))), "a", "b")
    d.createOrReplaceTempView("vex")
    val viaSql = spark.sql("SELECT cosine_similarity(a, b) AS c FROM vex").head().getDouble(0)
    val viaCol = d.select(VectorFunctions.cosineSim(col("a"), col("b")).as("c"))
      .head().getDouble(0)
    assert(viaSql === viaCol)
  }

  test("register(spark): winnow_fingerprints in SQL == Column API, arg forms") {
    GraftExtensions.register(spark)
    val d = df(Seq(Tuple1("the quick brown fox jumps over the lazy dog")), "t")
    d.createOrReplaceTempView("wex")
    val viaSql = spark.sql(
      "SELECT winnow_fingerprints(regexp_replace(lower(t), '[^a-z0-9]', '')) AS f FROM wex")
      .head().getSeq[Long](0)
    val viaCol = d.select(graft.functions.WinnowFunctions.winnowFingerprints(
        regexp_replace(lower(col("t")), "[^a-z0-9]", "")).as("f"))
      .head().getSeq[Long](0)
    assert(viaSql === viaCol && viaSql.nonEmpty)
    // 3-arg literal form parses and differs from the default params
    val custom = spark.sql(
      "SELECT winnow_fingerprints(regexp_replace(lower(t), '[^a-z0-9]', ''), 5, 3) AS f FROM wex")
      .head().getSeq[Long](0)
    assert(custom.nonEmpty)
    assert(custom != viaSql)
  }

  test("register(spark): redact_pii in SQL == Column API") {
    GraftExtensions.register(spark)
    val d = df(Seq(
      Tuple1("mail a@b.org, call 555-123-4567, host 10.0.0.1"),
      Tuple1("clean")), "t")
    d.createOrReplaceTempView("pex")
    val viaSql = spark.sql("SELECT redact_pii(t) AS r FROM pex ORDER BY r")
      .collect().map(_.getString(0)).toSeq
    val viaCol = d.select(graft.ext.Curation.redactPii(col("t")).as("r"))
      .orderBy("r").collect().map(_.getString(0)).toSeq
    assert(viaSql === viaCol)
    assert(viaSql === Seq("clean", "mail <EMAIL>, call <PHONE>, host <IP>"))
  }

  test("register(spark): det_hash52 in SQL == Column API, stable sample") {
    GraftExtensions.register(spark)
    val d = df((1L to 200L).map(Tuple1(_)), "id")
    d.createOrReplaceTempView("dh")
    val viaSql = spark.sql("SELECT id, det_hash52(id) AS h FROM dh ORDER BY id")
      .collect().map(_.getLong(1)).toSeq
    val viaCol = d.select(col("id"),
        graft.ext.DetHash.hash52(col("id").cast("string")).as("h"))
      .orderBy("id").collect().map(_.getLong(1)).toSeq
    assert(viaSql === viaCol)
    // the documented reproducible-sampling idiom returns the same rows
    // as Curation.stratifiedSample with a single stratum
    val viaSqlSample = spark.sql(
      "SELECT id FROM dh WHERE det_hash52(id) % 1000000 < 250000 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    val viaOp = graft.ext.Curation.stratifiedSample(
        d.withColumn("s", lit("a")), "id", "s", Map("a" -> 0.25))
      .orderBy("id").collect().map(_.getLong(0)).toSeq
    assert(viaSqlSample === viaOp)
    assert(viaSqlSample.nonEmpty && viaSqlSample.size < 200)
  }

  test("register(spark): stats_bundle in SQL == built-in aggregates") {
    GraftExtensions.register(spark)
    df(Seq(Tuple1(1.0), Tuple1(2.0), Tuple1(3.0), Tuple1(4.0)), "v")
      .createOrReplaceTempView("sb")
    val s = spark.sql(
      "SELECT stats_bundle(v).count AS n, stats_bundle(v).mean AS m, " +
        "round(stats_bundle(v).std_dev, 9) AS sd, stats_bundle(v).min AS mn, " +
        "stats_bundle(v).max AS mx FROM sb").head()
    assert(s.getLong(0) === 4L)
    assert(s.getDouble(1) === 2.5)
    assert(s.getDouble(2) === math.rint(math.sqrt(1.25) * 1e9) / 1e9)
    assert(s.getDouble(3) === 1.0)
    assert(s.getDouble(4) === 4.0)
  }

  test("register(spark): morton_key in SQL == Column API, arg forms") {
    GraftExtensions.register(spark)
    val d = df(Seq((0L, 0L), (5L, 3L), (65535L, 65535L), (100L, 220L)), "a", "b")
    d.createOrReplaceTempView("mk")
    val viaSql = spark.sql(
      "SELECT morton_key(a, b) AS z, morton_key(a, b, 6) AS z6 FROM mk ORDER BY a")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaCol = d.select(
        graft.lake.Maintenance.mortonKey(col("a"), col("b")).as("z"),
        graft.lake.Maintenance.mortonKey(col("a"), col("b"), 6).as("z6"))
      .orderBy("a").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaSql === viaCol)
    assert(viaSql.head === ((0L, 0L)))
    assert(viaSql(1)._1 === 39L) // morton(5,3): documented interleave pin
    intercept[Exception] { spark.sql("SELECT morton_key(1)").collect() }
    intercept[Exception] { spark.sql("SELECT morton_key(1, 2, 99)").collect() }
  }

  test("table functions: graft_history == Versioned.history, graft_changes == changesBetween, literal args enforced") {
    GraftExtensions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_tvf").toFile
    dir.deleteOnExit()
    val d = dir.getAbsolutePath
    graft.ops.MergeData.writeMerged(spark,
      df(Seq(("a", 1L, 1.0), ("b", 10L, 10.0)), "site", "id", "v"),
      d, keys = Seq("site"))
    graft.lake.Versioned.init(spark, d)
    val vSeed = graft.lake.Versioned.enableChangeFeed(spark, d, Seq("site", "id"))
    graft.lake.Versioned.mergeInto(spark, d,
      df(Seq(("a", 1L, 5.0), ("c", 3L, 3.0)), "site", "id", "v"),
      Seq("site"), Seq("site", "id"))
    val cur = graft.lake.Versioned.currentVersion(spark, d)
    // history TVF: same versions/ops as the library call
    val viaSql = spark.sql(s"SELECT version, operation FROM graft_history('$d') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val viaLib = graft.lake.Versioned.history(spark, d)
      .select("version", "operation").orderBy("version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaSql == viaLib && viaSql.map(_._1) == (0L to cur))
    // changes TVF: the feed increments as a plain relation
    val sqlChanges = spark.sql(
      s"SELECT site, id, v, _action FROM graft_changes('$d', $vSeed, $cur)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    val libChanges = graft.lake.Versioned.changesBetween(spark, d, vSeed, cur)
      .select("site", "id", "v", "_action")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getString(3))).toSet
    assert(sqlChanges == libChanges && sqlChanges.exists(_._4 == "insert"))
    // and it COMPOSES: aggregate over the TVF in one statement
    assert(spark.sql(
      s"SELECT count(*) FROM graft_changes('$d', $vSeed, $cur) WHERE _action = 'update_postimage'")
      .head().getLong(0) == 1L)
    // non-literal args refuse
    intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_history(concat('$d', rand()))").collect()
    }
  }

  test("register on an extension-built session adds no optimizer rule twice") {
    // the shared session is built with spark.sql.extensions, so the
    // rules already run inside the optimizer's own batch; register
    // must not append a second copy to extraOptimizations
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    val graftRules = GraftExtensions.optimizerRules.map(_(spark).getClass).toSet
    assert(!spark.experimental.extraOptimizations.exists(r => graftRules(r.getClass)))
    assert(spark.sql("SELECT stats_bundle(CAST(id AS DOUBLE)).count AS n FROM range(3)")
      .head().getLong(0) == 3L)
  }

  test("extensions hook applies the same registration list") {
    // The shared session gets the hook at build (GraftSession); applying
    // to a fresh SparkSessionExtensions also pins that every entry
    // injects cleanly on its own.
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }
}
