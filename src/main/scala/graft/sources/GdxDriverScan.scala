package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression, NamedExpression, Predicate, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Runs a small pushed-label GDX scan on the driver, with no Spark job.
  *
  * gdxpy's core use is one label slice of a symbol loaded in-process.
  * Through the distributed `BatchScan` such a slice decodes about one
  * block (~1 ms) but pays for a whole Spark job around it. This
  * strategy matches a GDX scan with its projection and filters, and
  * when [[GdxScan.driverCores]] proves the scan small — at least one
  * pushed label, at most `defaultParallelism` planned partitions, at
  * most [[GdxScan.DriverBudget]] records in the kept blocks — it decodes
  * the scan while planning, through the same [[GdxSymbolDecode]] core
  * and row reader the tasks use. Spark's own filter and projection
  * expressions then run on the decoded rows, so the result is the rows
  * the distributed plan returns, with the same case and locale
  * semantics. Every other scan, and any projection or filter that is
  * nondeterministic or holds a subquery, keeps the distributed path.
  *
  * The rows are read when the query is planned, like a local relation:
  * a frame planned once and collected twice does not re-read its files.
  */
class GdxDriverScan(spark: SparkSession) extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    if (!GdxDriverScan.overGdxScan(plan)) Nil
    else plan match {
      case PhysicalOperation(project, filters, DataSourceV2ScanRelation(_, scan: GdxScan, output, _, _))
          if (project ++ filters).forall(e => e.deterministic && !SubqueryExpression.hasSubquery(e)) =>
        scan.driverCores(spark.sparkContext.defaultParallelism) match {
          case Some(cores) => Seq(GdxDriverScan.decode(scan, cores, project, filters, output))
          case None => Nil
        }
      case _ => Nil
    }
}

object GdxDriverScan {

  /** A chain of projections and filters over a GDX scan: the only plans
    * the strategy can take, checked before any other planning work so
    * that every other plan costs one walk down its Project/Filter chain.
    */
  @scala.annotation.tailrec
  private def overGdxScan(plan: LogicalPlan): Boolean = plan match {
    case Project(_, child) => overGdxScan(child)
    case Filter(_, child) => overGdxScan(child)
    case r: DataSourceV2ScanRelation => r.scan.isInstanceOf[GdxScan]
    case _ => false
  }

  /** Decode every core (closing each), keep the rows `filters` admit,
    * and project them.
    */
  private def decode(scan: GdxScan, cores: Seq[GdxSymbolDecode], project: Seq[NamedExpression],
      filters: Seq[Expression], output: Seq[Attribute]): GdxDriverScanExec = {
    val keep = filters.reduceOption(And).map(Predicate.create(_, output))
    val proj = UnsafeProjection.create(project, output)
    val rows = Array.newBuilder[InternalRow]
    var decoded = 0L
    try cores.foreach { core =>
      val reader = scan.rowReader(core)
      while (reader.next()) {
        val row = reader.get()
        if (keep.forall(_.eval(row))) rows += proj(row).copy()
      }
      decoded += core.decoded
    } finally cores.foreach(_.close())
    GdxDriverScanExec(project.map(_.toAttribute), rows.result(),
      scan.planInputPartitions().length, scan.description(), decoded)
  }
}

/** The rows of a GDX scan decoded on the driver. Collect, take and tail
  * return them directly; any other consumer gets them parallelized into
  * as many partitions as the scan planned, so `rdd.getNumPartitions`
  * keeps its meaning.
  */
case class GdxDriverScanExec(output: Seq[Attribute], rows: Array[InternalRow],
    partitions: Int, scanDescription: String, decoded: Long) extends LeafExecNode {

  override def outputPartitioning: Partitioning =
    if (partitions == 1) SinglePartition else UnknownPartitioning(partitions)

  override def executeCollect(): Array[InternalRow] = rows

  override def executeTake(n: Int): Array[InternalRow] = rows.take(n)

  override def executeTail(n: Int): Array[InternalRow] = rows.takeRight(n)

  override protected def doExecute(): RDD[InternalRow] =
    if (partitions == 0) sparkContext.emptyRDD[InternalRow]
    else sparkContext.parallelize(rows.toIndexedSeq, partitions)

  override protected def stringArgs: Iterator[Any] =
    Iterator(output, scanDescription, s"$decoded records decoded")
}
