package perfbench

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.Versioned

class LakeWorkloadSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def shortRun(seed: Long): (LakeWorkload, Ctx, Seq[String]) = {
    val w = new LakeWorkload(baseRows = 2000)
    val ctx = Ctx(spark, "", TestSession.tempDir("lake").getPath, seed)
    w.prepare(ctx)
    val problems = w.warmUp(ctx) ++
      (0 until 2).flatMap(p => w.pass(ctx, p).flatMap(_.run())) ++ w.finish(ctx)
    (w, ctx, problems)
  }

  test("a short lake_dml run agrees with its model") {
    val (w, _, problems) = shortRun(7)
    assert(problems.isEmpty, problems.mkString("\n"))
    // base, change feed, warm-up and two passes each commit
    assert(w.model.versions.size > 10)
  }

  test("a corrupted model entry fails the final check") {
    val (w, ctx, _) = shortRun(8)
    val k = w.model.keyAt(0)
    val (site, v) = w.model.get(k).get
    w.model.put(k, site, v + 1)
    val problems = w.finish(ctx)
    assert(problems.exists(_.contains("value sum")), problems.mkString("\n"))
  }

  test("a corrupted version count fails the time-travel check") {
    val (w, ctx, _) = shortRun(9)
    w.model.versions.keys.foreach { ver =>
      val (n, s) = w.model.versions(ver)
      w.model.versions(ver) = (n + 1, s)
    }
    val errs = (2 until 4).flatMap(p => w.pass(ctx, p)).filter(_.name == "time_travel")
      .flatMap(_.run())
    assert(errs.nonEmpty && errs.forall(_.contains("!= model")), errs.mkString("\n"))
  }

  test("an engine write the model did not see fails the final check") {
    val (w, ctx, _) = shortRun(10)
    Versioned.deleteWhere(spark, w.dir, col("id") === w.model.keyAt(0), Seq("id"))
    assert(w.finish(ctx).exists(_.contains("rows")))
  }
}
