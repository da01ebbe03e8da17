package org.apache.spark.sql

/** Test-only: a classic session over an existing session's SparkContext
  * and shared state, WITHOUT the `spark.sql.extensions` the context was
  * started with — for specs that pin what happens when the graft rules
  * and parser are absent. Every public constructor re-reads the
  * extensions from the context's conf, so this goes through the primary
  * (class-private) one with an empty extension set. */
object BareSession {
  def apply(spark: SparkSession): SparkSession = {
    val c = spark.asInstanceOf[classic.SparkSession]
    val ctor = classOf[classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    ctor.newInstance(c.sparkContext, Some(c.sharedState), None,
      new SparkSessionExtensions, Map.empty[String, String],
      Map.empty[String, String]).asInstanceOf[SparkSession]
  }
}
