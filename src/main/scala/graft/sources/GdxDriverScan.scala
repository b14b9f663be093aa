package graft.sources

import java.util.concurrent.{Callable, ExecutionException, Future, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression, IntegerLiteral, NamedExpression, Predicate, SubqueryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit, LogicalPlan, Project, ReturnAnswer}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.internal.SQLConf

/** Runs a small pushed-label GDX scan on the driver, with no Spark job.
  *
  * gdxpy's core use is one label slice of a symbol loaded in-process.
  * Through the distributed `BatchScan` such a slice decodes a few blocks
  * per shard (~0.26 ms each) but pays for a whole Spark job around them.
  * This strategy matches a GDX scan with its projection and filters, and
  * when [[GdxScan.driverCores]] proves the scan small — at least one
  * pushed label, at most [[GdxDriverScan.maxShards]] planned partitions,
  * at most [[GdxScan.DriverBudget]] records in each shard's kept blocks —
  * it decodes the scan while planning, one thread per shard, through
  * [[GdxSymbolReader]], the row view of the columnar decode the tasks
  * use. Spark's own filter and projection expressions then run on the
  * batches' rows, and each kept row is copied out of its batch, so the
  * result is the rows the distributed plan returns, in shard order,
  * with the same case and locale semantics. Every other scan keeps the
  * distributed path, and so does a scan with a nondeterministic or
  * subquery-holding projection or filter anywhere in the chain above
  * it, which Spark would otherwise run as a job over the decoded rows.
  * A limit an action puts over such a scan (`isEmpty`, `take`, `first`)
  * is answered from the same rows, with no job either.
  *
  * The rows are read when the query is planned, like a local relation:
  * a frame planned once and collected twice does not re-read its files.
  */
class GdxDriverScan(spark: SparkSession) extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(Limit(IntegerLiteral(n), child)) =>
      driverScan(child).map(_.limit(n)).toSeq
    case _ => driverScan(plan).toSeq
  }

  private def driverScan(plan: LogicalPlan): Option[GdxDriverScanExec] =
    GdxDriverScan.chainOverGdxScan(plan).flatMap { case (chain, relation) =>
      if (chain.exists(_.expressions.exists(e => !e.deterministic || SubqueryExpression.hasSubquery(e)))) {
        // Spark plans the chain below this node next, without it: mark
        // the scan so that chain keeps the distributed path too, rather
        // than decode on the driver and then run a job over the rows
        relation.setTagValue(GdxDriverScan.Distributed, ())
        None
      } else if (relation.getTagValue(GdxDriverScan.Distributed).isDefined) None
      else plan match {
        case PhysicalOperation(project, filters, DataSourceV2ScanRelation(_, scan: GdxScan, output, _, _)) =>
          scan.driverCores(GdxDriverScan.maxShards(spark.sparkContext.defaultParallelism))
            .map(GdxDriverScan.decode(scan, _, project, filters, output))
        case _ => None
      }
    }
}

object GdxDriverScan {

  /** A chain of projections and filters over a GDX scan, as its nodes
    * and the scan relation: the only plans the strategy can take,
    * checked before any other planning work so that every other plan
    * costs one walk down its Project/Filter chain.
    */
  @scala.annotation.tailrec
  private def chainOverGdxScan(plan: LogicalPlan, above: List[LogicalPlan] = Nil)
      : Option[(List[LogicalPlan], DataSourceV2ScanRelation)] = plan match {
    case p @ Project(_, child) => chainOverGdxScan(child, p :: above)
    case f @ Filter(_, child) => chainOverGdxScan(child, f :: above)
    case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[GdxScan] => Some((above, r))
    case _ => None
  }

  /** Set on the scan relation of a chain holding a nondeterministic or
    * subquery-holding projection or filter. The relation node is shared
    * with the chain's lower part, which Spark plans next, so that part
    * declines too.
    */
  private val Distributed = TreeNodeTag[Unit]("gdxDistributedScan")

  /** Shards a driver scan may plan: at most `defaultParallelism`, and at
    * most one per driver core, so that every shard's decode has a core of
    * its own and [[GdxScan.DriverBudget]] bounds the scan's time.
    * `defaultParallelism` counts the cluster's cores, not the driver's.
    */
  private[sources] def maxShards(defaultParallelism: Int): Int =
    math.min(defaultParallelism, Runtime.getRuntime.availableProcessors)

  /** Decodes the second and later cores of a driver scan. Its threads
    * are daemons and end when idle, so an idle session holds none.
    */
  private lazy val pool: ThreadPoolExecutor = {
    val n = Runtime.getRuntime.availableProcessors
    val threads = new java.util.concurrent.atomic.AtomicInteger
    val p = new ThreadPoolExecutor(n, n, 30, TimeUnit.SECONDS, new LinkedBlockingQueue[Runnable],
      (r: Runnable) => {
        val t = new Thread(r, s"gdx-driver-scan-${threads.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** Decode every core, keep the rows `filters` admit, and project them;
    * the rows come in core order, as one thread decoding the cores in
    * turn would give them. The calling thread decodes the first core and
    * [[pool]] the others, each with its own predicate and projection
    * (neither is thread-safe). A core's failure is rethrown as itself,
    * the first in core order; every core is closed once every decode has
    * ended.
    */
  private def decode(scan: GdxScan, cores: Seq[GdxSymbolDecode], project: Seq[NamedExpression],
      filters: Seq[Expression], output: Seq[Attribute]): GdxDriverScanExec = {
    // the planning thread's conf, for expressions that read it as they run
    val conf = SQLConf.get
    val pending = scala.collection.mutable.ArrayBuffer.empty[Future[Array[InternalRow]]]
    val parts =
      try {
        val decoders = cores.map { core =>
          val keep = filters.reduceOption(And).map(Predicate.create(_, output))
          val proj = UnsafeProjection.create(project, output)
          new Callable[Array[InternalRow]] {
            override def call(): Array[InternalRow] = SQLConf.withExistingConf(conf) {
              val rows = Array.newBuilder[InternalRow]
              val reader = scan.rowReader(core)
              while (reader.next()) {
                val row = reader.get()
                if (keep.forall(_.eval(row))) rows += proj(row).copy()
              }
              rows.result()
            }
          }
        }
        decoders.drop(1).foreach(d => pending += pool.submit(d))
        decoders.headOption.map(_.call()).toSeq ++ pending.map { f =>
          try f.get() catch { case e: ExecutionException => throw e.getCause }
        }
      } finally {
        pending.foreach(f => try f.get() catch { case _: Exception => () })
        cores.foreach(_.close())
      }
    GdxDriverScanExec(project.map(_.toAttribute), parts.flatten.toArray,
      scan.planInputPartitions().length, scan.description(), cores.map(_.decoded).sum)
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

  /** The first `n` rows, in one partition: the answer to an action's limit. */
  def limit(n: Int): GdxDriverScanExec = copy(rows = rows.take(n), partitions = math.min(partitions, 1))
}
