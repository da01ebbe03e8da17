package perfbench

import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.Versioned

/** `lake_dml`: a seeded sequence of writes and reads against one
  * versioned table partitioned by `site`. Every pass issues the same
  * op kinds in an order the seed permutes — append, merge, delete and
  * update through `graft.lake.Versioned`; three point reads, a full-scan
  * aggregate and three time-travel reads over the whole history through
  * the `graft` data source; a change-feed read of the last versions —
  * and closes with an optimize. Merge, delete and update each touch one
  * site chosen by the seed. Eight of the thirteen ops are reads, so the
  * median op falls among the reads rather than on the gap between read
  * and write latencies, where it would jump between runs.
  *
  * The [[LakeModel]] follows every write. Point reads, scans and
  * time-travel reads are checked against it as they run; after the
  * timed phase the final snapshot's row count, value sum and key-set
  * hash are. */
final class LakeWorkload(baseRows: Int = LakeWorkload.BaseRows) extends Workload {
  import LakeWorkload._

  def name: String = "lake_dml"

  var model = new LakeModel
  var dir: String = _
  private var rowsTouched = 0L
  private var tableNo = 0

  private def rowsDf(ctx: Ctx, rows: Seq[(Long, String, Long)]): DataFrame =
    ctx.spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (i, s, v) =>
        Row(i, s, v, s"note-$i") }: _*), Schema)

  private def siteOf(id: Long): String = s"s${id % Sites}"

  override def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    tableNo += 1
    dir = new Path(ctx.work, s"lake_dml_table_$tableNo").toString
    model = new LakeModel
    rowsTouched = 0
    spark.range(baseRows).select(
      col("id"),
      concat(lit("s"), (col("id") % Sites).cast("string")).as("site"),
      (col("id") * 7 % 1000).as("v"),
      concat(lit("note-"), col("id").cast("string")).as("note"))
      .repartition(Sites, col("site"))
      .write.partitionBy("site").parquet(dir)
    (0L until baseRows).foreach(i => model.put(i, siteOf(i), i * 7 % 1000))
    model.commit(Versioned.init(spark, dir))
    model.commit(Versioned.enableChangeFeed(spark, dir, Seq("id")))
  }

  /** Passes drawn from a fixed seed, so every run warms up identically. */
  def warmUp(ctx: Ctx): Seq[String] =
    (1 to WarmUpPasses).flatMap(p => pass(ctx.copy(seed = WarmUpSeed), -p))
      .flatMap(op => op.run().map(e => s"${op.name}: $e"))

  private def append(ctx: Ctx, rng: Random): Long = {
    val start = model.nextId
    val rows = (0 until AppendRows).map { j =>
      val id = start + j
      (id, siteOf(id), rng.nextInt(1000).toLong)
    }
    val v = Versioned.append(ctx.spark, dir, rowsDf(ctx, rows), Seq("site"),
      statsCols = Seq("id"))
    rows.foreach { case (i, s, x) => model.put(i, s, x) }
    rowsTouched += rows.size
    v
  }

  /** `n` distinct live keys of one site, drawn uniformly. */
  private def pickKeys(rng: Random, n: Int, site: Int): Seq[Long] =
    Iterator.continually(model.keyAt(rng.nextInt(model.size)))
      .filter(_ % Sites == site).distinct.take(n).toSeq

  private def write(name: String)(body: => Long): Op =
    Op(name, "write", name, () => { model.commit(body); None })

  private def read(name: String)(body: => Option[String]): Op =
    Op(name, "read", name, () => body)

  def pass(ctx: Ctx, pass: Int): Seq[Op] = {
    val spark = ctx.spark
    val rng = new Random(ctx.seed * 1000003L + pass)
    def graft = spark.read.format("graft")
    def pointRead() = read("point_read") {
      val k = pickKeys(rng, 1, rng.nextInt(Sites)).head
      val (site, v) = model.get(k).get
      val got = graft.load(dir)
        .filter(col("site") === site && col("id") === k)
        .select("v").collect().map(_.getLong(0)).toSeq
      if (got == Seq(v)) None else Some(s"point read of $k: $got != model $v")
    }
    def scanRead() = read("scan_read") {
      val r = graft.load(dir).agg(count(lit(1)), sum("v")).head()
      val got = (r.getLong(0), r.getLong(1))
      val want = (model.size.toLong, model.valueSum)
      if (got == want) None else Some(s"scan: $got != model $want")
    }
    // Time-travel versions are drawn uniformly over the whole history,
    // stratified: the k-th time-travel read of a pass lands in the k-th
    // equal slice of the history, so every run reads old and new versions
    // alike instead of whatever one seed happens to draw.
    val offset = rng.nextDouble()
    var slot = 0
    def timeTravel() = read("time_travel") {
      val vs = model.versions.keys.toIndexedSeq
      val ver = vs(((slot + offset) / TimeTravels * vs.size).toInt)
      slot += 1
      val n = graft.option("versionAsOf", ver).load(dir).count()
      val want = model.versions(ver)._1
      if (n == want) None else Some(s"version $ver: $n rows != model $want")
    }
    // parameters are drawn when the op runs, from the model as it is then
    val ops = Seq(
      write("append")(append(ctx, rng)),
      write("merge") {
        val site = rng.nextInt(Sites)
        val upd = pickKeys(rng, MergeRows / 2, site).map { k =>
          (k, model.get(k).get._1, rng.nextInt(1000).toLong) }
        val start = model.nextId
        val ins = (0 until MergeRows / 2).map { j =>
          val id = start + j * Sites + ((site - start % Sites + Sites) % Sites)
          (id, siteOf(id), rng.nextInt(1000).toLong) }
        val v = Versioned.mergeInto(spark, dir, rowsDf(ctx, upd ++ ins),
          Seq("site"), Seq("id"), statsCols = Seq("id"))
        (upd ++ ins).foreach { case (i, s, x) => model.put(i, s, x) }
        rowsTouched += upd.size + ins.size
        v
      },
      write("delete") {
        val ks = pickKeys(rng, DeleteRows, rng.nextInt(Sites))
        val v = Versioned.deleteWhere(spark, dir, col("id").isin(ks: _*), Seq("id"))
        ks.foreach(model.remove)
        rowsTouched += ks.size
        v
      },
      write("update") {
        val ks = pickKeys(rng, UpdateRows, rng.nextInt(Sites))
        val v = Versioned.updateWhere(spark, dir, col("id").isin(ks: _*),
          Map("v" -> (col("v") + 1)), Seq("site"))
        ks.foreach { k => val (s, x) = model.get(k).get; model.put(k, s, x + 1) }
        rowsTouched += ks.size
        v
      },
      pointRead(), pointRead(), pointRead(),
      scanRead(),
      read("changes_read") {
        val cur = model.versions.keys.max
        Versioned.changesBetween(spark, dir, math.max(0L, cur - ChangeSpan), cur)
          .write.format("noop").mode("overwrite").save()
        None
      }) ++ Seq.fill(TimeTravels)(timeTravel())
    // compaction closes every pass, so each pass finishes one cycle
    rng.shuffle(ops) :+ write("optimize")(Versioned.optimize(spark, dir, Seq("site")))
  }

  override def finish(ctx: Ctx): Seq[String] = {
    val r = ctx.spark.read.format("graft").load(dir)
      .agg(count(lit(1)), sum("v"), sum(hash(col("id")).cast("long"))).head()
    LakeModel.check("final snapshot",
      (model.size.toLong, model.valueSum, model.keySetHash),
      (r.getLong(0), r.getLong(1), r.getLong(2)))
  }

  override def counters: Map[String, Long] = Map(
    "lake.commits" -> model.versions.size.toLong,
    "lake.rows_touched" -> rowsTouched)

  override def extraMetrics(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new Path(dir)).getLength
    Map(
      "storage_bytes_per_row" -> bytes.toDouble / math.max(1, model.size),
      "lake.live_files_end" -> Versioned.filesAt(spark, dir).size.toDouble,
      "lake.versions_end" -> (Versioned.currentVersion(spark, dir) + 1).toDouble)
  }
}

object LakeWorkload {
  val Sites = 4
  val BaseRows = 20000
  val WarmUpSeed = 77L
  /** After one warm-up pass the first timed pass still ran 5-28% slower
    * than the second while the JIT compiled. */
  val WarmUpPasses = 2
  val AppendRows = 500
  val MergeRows = 400
  val DeleteRows = 100
  val UpdateRows = 100
  val ChangeSpan = 5L
  val TimeTravels = 3
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("site", StringType),
    StructField("v", LongType), StructField("note", StringType)))
}
