package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Guard: the tests run the session profile every main runs, and no
  * main builds a session of its own beside [[GraftSession]]. */
class SessionProfileSpec extends SparkSpec {

  test("the test session is the GraftSession profile (graft parser, cached-plan repartitioning)") {
    assert(spark.sessionState.sqlParser.isInstanceOf[graft.sources.GraftSqlParser])
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
  }

  test("no file under src/main/scala but GraftSession.scala calls SparkSession.builder(") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root, not ${sys.props("user.dir")}")
    val files = Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("graft/GraftSession.scala")))
    val offenders = files.filterNot(_.endsWith("graft/GraftSession.scala"))
      .filter(p => Files.readString(p).contains("SparkSession.builder("))
    assert(offenders.isEmpty, s"build sessions through GraftSession: $offenders")
  }
}
