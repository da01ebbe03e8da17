package perfbench

import org.apache.spark.sql.Row
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Q

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private def d(rows: Row*) = Digest.of(rows)

  test("order-insensitive, duplicate-preserving") {
    val a = Row(1L, "x", 2.5)
    val b = Row(2L, "y", null)
    assert(d(a, b) == d(b, a))
    assert(d(a, a, b) != d(a, b))
    assert(d(a, a, b).rows == 3)
  }

  test("floating-point values are rounded to six significant digits") {
    assert(d(Row(0.1 + 0.2)) == d(Row(0.3)))
    assert(d(Row(1234567.04)) == d(Row(1234567.01)))
    assert(d(Row(1.0f)) == d(Row(1.0)))
    assert(d(Row(-0.0)) == d(Row(0.0)))
    assert(d(Row(0.3)) != d(Row(0.3001)))
    assert(Digest.canonical(2.0 / 3) == "0.666667")
    assert(Digest.canonical(1234567.0) == "1234570")
  }

  test("nulls are encoded distinctly from every value") {
    val nulls = Seq(d(Row(null)), d(Row("null")), d(Row("")), d(Row(0L)), d(Row(0.0)))
    assert(nulls.distinct.size == nulls.size - 1) // 0L and 0.0 both read 0
    assert(d(Row(null, "a")) != d(Row("a", null)))
    assert(d(Row(Seq(1, null))) != d(Row(Seq(1))))
  }

  test("nested values and maps canonicalise") {
    assert(d(Row(Map("a" -> 1, "b" -> 2))) == d(Row(Map("b" -> 2, "a" -> 1))))
    assert(d(Row(Seq(1.00000001, 2.0))) == d(Row(Seq(1.0, 2.0))))
    assert(d(Row(Row(1, "a"))) != d(Row(Row("a", 1))))
  }

  test("digests round-trip through their text form") {
    val v = d(Row(1L), Row(2L))
    assert(Digest.parse(v.toString) == v)
  }

  private lazy val spark = TestSession.spark

  test("a query whose digest file entry is corrupted fails every run") {
    val q = Q("t_sum", (s, _) => s.range(100).selectExpr("id % 7 AS k", "id * 0.5 AS v")
      .groupBy("k").sum("v"), None)
    val good = Digest.of(q.run(spark, "").collect().toSeq).toString
    val dir = TestSession.tempDir("digest")
    def workload(recorded: String) = {
      val f = new java.io.File(dir, "w.json")
      Json.write(f.getPath, Json.obj(Seq("t_sum" -> Json.str(recorded))))
      new QueryWorkload("w", Seq(q), f.getPath)
    }
    val ctx = Ctx(spark, "", dir.getPath, 1)

    val ok = workload(good)
    assert(ok.warmUp(ctx).isEmpty)
    assert(ok.pass(ctx, 0).map(_.run()) == Seq(None))

    val corrupted = Digest.Value(good.split(":")(0).toLong, Digest.parse(good).hash + 1)
    val bad = workload(corrupted.toString)
    val problems = bad.warmUp(ctx)
    assert(problems.size == 1 && problems.head.startsWith("t_sum: digest"))
    assert(bad.pass(ctx, 0).map(_.run()).forall(_.isDefined))
  }
}
