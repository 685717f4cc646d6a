package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CollectLimitExec, QueryExecution, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** S4 structured run log (SURVEY §2.1; app.py:343-355 writes a JSON-lines
  * run log through a Qt logging handler). The Spark-native equivalent is a
  * `QueryExecutionListener`: one JSON line per completed query with
  * wall-clock and outcome — observability without touching any data path.
  * Driver-side by design (one line per *query*, not per row). */
object RunLog {

  private val Json = new com.fasterxml.jackson.core.JsonFactory()

  /** The rows the query's root operator output: its `numOutputRows` SQL
    * metric, read from the final plan under adaptive execution and through
    * a whole-stage-codegen wrapper. A `CollectLimit` root (the driver-side
    * limit of `limit(n).collect()`) keeps no such metric: its rows are its
    * limit and offset applied to its child's count. None when no such
    * metric is found. */
  private[sink] def rootRows(qe: QueryExecution): Option[Long] = {
    def rows(p: SparkPlan): Option[Long] = p match {
      case a: AdaptiveSparkPlanExec => rows(a.executedPlan)
      case w: WholeStageCodegenExec => rows(w.child)
      case c: CollectLimitExec => rows(c.child).map { n =>
        math.max(0L, (if (c.limit >= 0) math.min(c.limit.toLong, n) else n) - c.offset)
      }
      case p => p.metrics.get("numOutputRows").map(_.value)
    }
    rows(qe.executedPlan)
  }

  /** Register a listener appending JSON lines to `path`. Returns the
    * listener so callers/tests can unregister it. */
  def attach(spark: SparkSession, path: String): QueryExecutionListener = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val listener = new QueryExecutionListener {
      private def write(qe: QueryExecution, durationNs: Long, status: String,
          detail: String): Unit = {
        val out = new java.io.StringWriter
        val g = Json.createGenerator(out)
        g.writeStartObject()
        g.writeStringField("status", status)
        g.writeNumberField("duration_sec", durationNs / 1e9)
        g.writeFieldName("rows_hint")
        rootRows(qe) match {
          case Some(n) => g.writeNumber(n)
          case None => g.writeNull()
        }
        g.writeStringField("plan", qe.executedPlan.nodeName)
        if (detail.nonEmpty) g.writeStringField("detail", detail)
        g.writeEndObject()
        g.close()
        val line = out.toString + "\n"
        Files.write(p, line.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = write(qe, durationNs, "ok", funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = write(qe, 0L, "error",
        s"$funcName: ${exception.getMessage}")
    }
    spark.listenerManager.register(listener)
    listener
  }
}
