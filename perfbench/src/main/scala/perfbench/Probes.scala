package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{DataSourceScanExec, ExternalRDDScanExec, RDDScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive fingerprint of a query result: row count, schema,
  * and the sum of per-row hashes. Doubles are rounded to 6 places (and
  * -0.0 folded into 0.0) so a result that differs only in the last bits
  * of a floating-point sum hashes the same. */
object Fingerprint {
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      (round(c.cast(DoubleType), 6) + lit(0.0)).cast(StringType)
    case _: ArrayType | _: MapType | _: StructType => to_json(c)
    case _ => c.cast(StringType)
  }

  def schemaOf(df: DataFrame): String =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  def of(df: DataFrame): Map[String, Any] = {
    val fields = df.schema.fields
    val renamed = df.toDF(fields.indices.map("c" + _): _*)
    val cells = fields.zipWithIndex.map { case (f, i) =>
      coalesce(canon(col("c" + i), f.dataType), lit("\u0000null"))
    }
    val rowHash =
      if (cells.isEmpty) lit(0L)
      else pmod(xxhash64(concat_ws("\u0001", cells.toIndexedSeq: _*)), lit(2147483647L))
    val r = renamed.agg(count(lit(1)), coalesce(sum(rowHash), lit(0L))).head()
    Map("rows" -> r.getLong(0), "schema" -> schemaOf(df), "hash" -> r.getLong(1))
  }
}

/** Counts and SQL-metric sums over the final (post-AQE) physical plan
  * of one executed query. Query stages are entered; a reused exchange
  * is counted once, where it first ran. */
object PlanStats {
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case s: QueryStageExec => walk(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
  }

  private def ms(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map { m =>
      val v = math.max(0L, m.value).toDouble
      if (m.metricType == "nsTiming") v / 1e6 else v
    }.getOrElse(0.0)

  private def hasTopK(p: SparkPlan): Boolean =
    p.getClass.getSimpleName == "TopKPerKeyExec" || p.children.exists(hasTopK)

  def of(plan: SparkPlan): Map[String, Double] = {
    val nodes = walk(plan)
    def count(f: SparkPlan => Boolean) = nodes.count(f).toDouble
    def sumOf(f: SparkPlan => Double) = nodes.map(f).sum
    Map(
      "nodes" -> nodes.size.toDouble,
      "exchanges" -> count(_.isInstanceOf[Exchange]),
      "scans" -> count(p => p.isInstanceOf[DataSourceScanExec] || p.isInstanceOf[BatchScanExec]),
      "cached_scans" -> count(p => p.isInstanceOf[InMemoryTableScanExec] ||
        p.isInstanceOf[RDDScanExec] || p.isInstanceOf[ExternalRDDScanExec[_]]),
      "codegen_ms" -> sumOf(p => if (p.isInstanceOf[WholeStageCodegenExec]) ms(p, "pipelineTime") else 0.0),
      "aggregate_ms" -> sumOf(ms(_, "aggTime")),
      "sort_ms" -> sumOf(ms(_, "sortTime")),
      "broadcast_build_ms" -> sumOf(ms(_, "buildTime")),
      "topk_ms" -> sumOf {
        case w: WholeStageCodegenExec if hasTopK(w.child) => ms(w, "pipelineTime")
        case _ => 0.0
      })
  }
}

/** Collects job and stage spans from the listener bus, tagged with the
  * query id the runner sets as a local property. Everything stays in
  * memory until the run ends. Task metrics are summed per stage
  * attempt as tasks finish. */
class SpanListener extends SparkListener {
  final class Stage(val query: String, val submitted: Long) {
    var completed = 0L
    var tasks = 0L
    val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  }

  val jobs = new ConcurrentHashMap[Int, Array[Any]]() // id -> [query, start, end]
  val stages = new ConcurrentHashMap[(Int, Int), Stage]()
  private val jobOfStage = new ConcurrentHashMap[Int, Int]() // first job to list it

  private def query(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(SpanListener.QueryKey))).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Array(query(e.properties), e.time, -1L))
    e.stageIds.foreach(jobOfStage.putIfAbsent(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_(2) = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stages.put((i.stageId, i.attemptNumber()),
      new Stage(query(e.properties), i.submissionTime.getOrElse(System.currentTimeMillis())))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stages.get((i.stageId, i.attemptNumber())))
      .foreach(_.completed = i.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.get((e.stageId, e.stageAttemptId))
    val m = e.taskMetrics
    if (s != null && m != null) s.synchronized {
      s.tasks += 1
      val sr = m.shuffleReadMetrics
      val add = Seq(
        "run_ms" -> m.executorRunTime.toDouble,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "input_records" -> m.inputMetrics.recordsRead.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_records" -> m.shuffleWriteMetrics.recordsWritten.toDouble,
        "shuffle_read_bytes" -> (sr.remoteBytesRead + sr.localBytesRead).toDouble,
        "fetch_wait_ms" -> sr.fetchWaitTime.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add.foreach { case (k, v) => s.sums(k) += v }
    }
  }

  /** Jobs and completed stages as plain records for the run's output. */
  def export(): (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    val js = jobs.asScala.toSeq.sortBy(_._1).collect {
      case (id, Array(q, start, end)) if q != null =>
        Map("id" -> id, "query" -> q, "start" -> start, "end" -> end)
    }
    val ss = stages.asScala.toSeq.sortBy(_._1).collect {
      case ((id, att), s) if s.query != null && s.completed > 0 =>
        Map("id" -> id, "attempt" -> att, "query" -> s.query,
          "job" -> jobOfStage.getOrDefault(id, -1),
          "start" -> s.submitted, "end" -> s.completed, "tasks" -> s.tasks) ++ s.sums
    }
    (js, ss)
  }
}

object SpanListener {
  val QueryKey = "perfbench.query"
}
