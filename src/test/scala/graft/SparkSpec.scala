package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (JVM is forked per test
  * run; tearing a session down between suites would dominate runtime),
  * built through the same profile as every main. */
object TestSpark {
  lazy val spark: SparkSession =
    GraftSession.builder(4).appName("graft-tests").getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import scala.reflect.runtime.universe.TypeTag

  def df[T <: Product: TypeTag](rows: Seq[T], cols: String*): DataFrame = {
    import spark.implicits._
    val d = spark.createDataset(rows).toDF()
    if (cols.isEmpty) d else d.toDF(cols: _*)
  }

  /** Collect to a deterministic Seq of rows-as-Seq for assertions. */
  def rowsOf(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq)
}
