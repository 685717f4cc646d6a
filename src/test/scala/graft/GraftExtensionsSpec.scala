package graft

import graft.text.SparkTestSession
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** Both entry points of `GraftExtensions` install the one rule list and the
  * one strategy list, and `register` is idempotent. */
class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** What the injected builders of `ext` build for `spark` (the builders
    * are `private[sql]`). */
  private def built(ext: SparkSessionExtensions, builder: String): Seq[Any] =
    ext.getClass.getMethod(builder, classOf[SparkSession]).invoke(ext, spark)
      .asInstanceOf[Seq[Any]]

  test("session extensions inject the optimizer rules and strategies in list order") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(built(ext, "buildOptimizerRules") == GraftExtensions.optimizerRules)
    assert(built(ext, "buildPlannerStrategies") == GraftExtensions.strategies)
    assert(GraftExtensions.optimizerRules.contains(plans.LocalSort))
  }

  test("register installs the same lists into a live session, once however often it runs") {
    val s = spark.newSession()
    assert(s.experimental.extraOptimizations.isEmpty && s.experimental.extraStrategies.isEmpty)
    GraftExtensions.register(s)
    GraftExtensions.register(s)
    assert(s.experimental.extraOptimizations == GraftExtensions.optimizerRules)
    assert(s.experimental.extraStrategies == GraftExtensions.strategies)
    GraftExtensions.functions.foreach { case (name, _, _) =>
      assert(s.catalog.functionExists(name), name)
    }
  }
}
