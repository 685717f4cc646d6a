package graft.plans

import graft.ml.JobCount
import graft.text.SparkTestSession
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Add, Ascending, AttributeReference, Cast, Expression, Literal, Rand, SortOrder, UnaryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Sort}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A key no plan can evaluate (as a Python UDF or a subquery is before
  * planning), for the rule's guard. */
private case class Opaque(child: Expression) extends UnaryExpression with Unevaluable {
  override def dataType: DataType = child.dataType
  override protected def withNewChildInternal(c: Expression): Opaque = copy(child = c)
}

/** The LocalSort optimizer rule: a global sort over a driver-side relation
  * becomes a sorted relation, with the rows Spark's own shuffle sort
  * returns, and no Spark job. */
class LocalSortSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val Schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("d", DoubleType),
    StructField("i", IntegerType),
    StructField("s", StringType("UTF8_LCASE"))))

  /** Doubles with NaN, ±0.0, ±Inf and nulls; ints and collated strings
    * with ties and nulls. `id` is unique: the last key of every order, so
    * each order is total and the two sorts must agree row for row. */
  private def frame: DataFrame = {
    val ds = Seq[java.lang.Double](1.5, -0.0, 0.0, Double.NaN, null, Double.NegativeInfinity,
      Double.PositiveInfinity, -2.0, 0.0, Double.NaN, null, -0.0, 3.25)
    val is = Seq[Integer](3, 1, null, 2, 3, 1, null, 2, 2, 3, 1, 0, 0)
    val ss = Seq("b", "B", "a", null, "A", "ä", "Ä", "b", "aa", null, "AB", "ab", "B")
    val rows = ds.indices.map(n => Row(n, ds(n), is(n), ss(n)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)
  }

  private def folded(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  private def withoutRule[T](f: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, LocalSort.ruleName)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Rows rendered with `String.valueOf`, so -0.0 and 0.0 differ. */
  private def rendered(df: DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf))

  test("the folded sort returns the rows of Spark's shuffle sort, with no job") {
    val id = col("id")
    val orders: Seq[Seq[Column]] = Seq(
      Seq(col("d"), id),
      Seq(col("d").desc, id),
      Seq(col("d").asc_nulls_last, id),
      Seq(col("d").desc_nulls_first, id),
      Seq(col("i").desc, col("d"), id),
      Seq(col("i").asc_nulls_last, col("s").desc, id),
      Seq(col("s"), id),
      Seq(col("s").desc_nulls_last, col("d").desc, id),
      Seq((col("d") * 2).desc, id))
    val df = frame
    assert(df.queryExecution.analyzed.collectFirst { case l: LocalRelation => l }.nonEmpty)
    for (order <- orders) {
      val sorted = df.orderBy(order: _*)
      assert(folded(sorted), s"$order: ${sorted.queryExecution.optimizedPlan}")
      var ours = Seq.empty[Seq[String]]
      assert(JobCount.of(spark) { ours = rendered(sorted) } == 0, order.toString)
      var theirs = Seq.empty[Seq[String]]
      withoutRule {
        val shuffled = df.orderBy(order: _*)
        assert(shuffled.queryExecution.optimizedPlan.isInstanceOf[Sort])
        assert(JobCount.of(spark) { theirs = rendered(shuffled) } > 0)
      }
      assert(ours == theirs, order.toString)
    }
    // the collated key really is case-insensitive: 'a' (id 2) and 'A'
    // (id 4) tie, where a binary order would put 'A' first
    val bySId = rendered(df.filter(lower(col("s")) === "a").orderBy(col("s"), col("id")))
    assert(bySId.map(_.head) == Seq("2", "4"))
  }

  test("a local Seq's orderBy runs no Spark job") {
    import spark.implicits._
    val n = JobCount.of(spark) {
      val r = Seq((3, "c"), (1, "a"), (2, "b")).toDF("k", "v").orderBy(col("k").desc).collect()
      assert(r.map(_.getInt(0)).toSeq == Seq(3, 2, 1))
    }
    assert(n == 0)
  }

  test("leaves alone: sortWithinPartitions, a rand() key, an unevaluable key, a stream") {
    val df = frame
    val within = df.sortWithinPartitions(col("d"))
    assert(within.queryExecution.optimizedPlan.collectFirst { case s: Sort => s.global } ==
      Some(false))
    // the analyzer projects a rand() key out below the sort, and Spark's
    // ConvertToLocalRelation draws it there; the shuffled order is some
    // permutation of the rows
    assert(rendered(df.orderBy(rand(7))).sortBy(_.head.toInt) == rendered(df.orderBy(col("id"))))

    val a = AttributeReference("a", IntegerType)()
    def sortOver(key: Expression, rel: LogicalPlan): LogicalPlan =
      Sort(Seq(SortOrder(key, Ascending)), global = true, rel)
    val random = sortOver(Add(a, Cast(new Rand(Literal(7L)), IntegerType)), LocalRelation(Seq(a), Nil))
    assert(LocalSort(random) == random)
    val opaque = sortOver(Opaque(a), LocalRelation(Seq(a), Nil))
    assert(LocalSort(opaque) == opaque)
    val stream = sortOver(a, LocalRelation(Seq(a), Nil, isStreaming = true))
    assert(LocalSort(stream) == stream)
    val plain = sortOver(a, LocalRelation(Seq(a), Nil))
    assert(LocalSort(plain).isInstanceOf[LocalRelation])
  }
}
