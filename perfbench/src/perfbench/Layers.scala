package perfbench

import org.apache.spark.sql.{DataFrame, GraftBucketPartition, GraftMorFilterPartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-layer readings taken from outside the program: executed-plan scan
  * metrics, store layout, and span/listener roll-ups. */
object Layers {
  final case class ScanStats(planMs: Double, filesRead: Long, rowsRead: Long)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Planning time and scan counters of an executed query. */
  def scan(df: DataFrame): ScanStats = {
    val qe = df.queryExecution
    val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    var files, rows = 0L
    nodes(qe.executedPlan).foreach {
      case b: BatchScanExec =>
        files += b.inputPartitions.map {
          case fp: FilePartition => fp.files.length.toLong
          case GraftBucketPartition(fp, _) => fp.files.length.toLong
          case mp: GraftMorFilterPartition => mp.files.length.toLong
          case other => throw new IllegalStateException(
            s"scan.files_read: unknown input partition ${other.getClass.getName}")
        }.sum
        rows += b.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case f: FileSourceScanExec =>
        files += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case _ =>
    }
    ScanStats(planMs, files, rows)
  }

  /** Live data files per (partition, bucket) slot of a store table: the
    * `$files` table lists one row per (file, column), keyed by the file's
    * path under the version dir (`[gpart=p/]gbucket=b/part-*.parquet`). */
  def slotFiles(c: Ctx, table: String): Seq[Double] =
    c.sql(s"""SELECT regexp_replace(file, '/[^/]*$$', '') AS slot,
        COUNT(DISTINCT file) AS n FROM ${c.catalog}.`$table$$files` GROUP BY 1""")
      .collect().map(_.getLong(1).toDouble).toSeq

  def liveFiles(c: Ctx, table: String): Long =
    c.sql(s"SELECT COUNT(DISTINCT file) FROM ${c.catalog}.`$table$$files`").head().getLong(0)

  /** Median duration of the named spans. */
  def spanMs(spans: Seq[Span], name: String): Double =
    Stats.median(spans.filter(_.name == name).map(_.ms))

  /** Spark totals of each named span including its descendants' jobs. */
  def sparkPerSpan(spans: Seq[Span], byOwner: Map[Long, SparkTotals],
      name: String): Seq[SparkTotals] = {
    val kids = spans.groupBy(_.parent)
    def sub(id: Long): SparkTotals =
      kids.getOrElse(id, Nil).map(k => sub(k.id))
        .foldLeft(byOwner.getOrElse(id, new SparkTotals))(_ plus _)
    spans.filter(_.name == name).map(s => sub(s.id))
  }
}
