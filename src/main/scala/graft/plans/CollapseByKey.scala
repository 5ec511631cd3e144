package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BoundReference, CreateNamedStruct, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

/** Per-key CDC event fold as a plan node: for every distinct `key`,
  * [[CollapseEventsExpression.fold]] over that key's `(ord, op, vals)`
  * events, giving `(key, st, vals, viol)`.
  *
  * The physical node requires its input clustered by `key` and folds
  * each partition's keys from one hash table — no partial aggregate
  * and no sort, so no Tungsten page per task. Being a logical node
  * over the events plan, it carries the events' size statistics (an
  * RDD-built frame would carry none), so a downstream join can still
  * plan a broadcast. */
final case class CollapseByKey(key: Attribute, ord: Attribute, op: Attribute,
    vals: Attribute, folded: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = key +: folded
  override def producedAttributes: AttributeSet = AttributeSet(folded)
  override protected def withNewChildInternal(newChild: LogicalPlan): CollapseByKey =
    copy(child = newChild)
}

object CollapseByKey {

  /** `events(key, ord, op, vals)` hash-partitioned by `key` into
    * `partitions` and folded per key. The output columns are `key`,
    * `st`, `vals` and `viol`. */
  def apply(events: DataFrame, partitions: Int): DataFrame = {
    val session = events.sparkSession
    install(session)
    val byKey = events.select(col("key"), col("ord"), col("op"), col("vals"))
      .repartition(partitions, col("key"))
    val in = byKey.queryExecution.analyzed
    val Seq(key, ord, op, vals) = in.output
    val folded = Seq(
      AttributeReference("st", StringType, nullable = false)(),
      AttributeReference("vals", MapType(StringType, StringType), nullable = true)(),
      AttributeReference("viol", IntegerType, nullable = false)())
    PlanBridge.ofRows(session, CollapseByKey(key, ord, op, vals, folded, in))
  }

  /** Plans [[CollapseByKey]]. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case c: CollapseByKey =>
        CollapseByKeyExec(c.key, c.ord, c.op, c.vals, c.folded, planLater(c.child)) :: Nil
      case _ => Nil
    }
  }

  /** Add [[Strategy]] to the session's planner once. */
  private def install(session: SparkSession): Unit = {
    val x = session.experimental
    x.synchronized {
      if (!x.extraStrategies.contains(Strategy))
        x.extraStrategies = Strategy +: x.extraStrategies
    }
  }

  private[plans] object NullKey
}

/** Physical [[CollapseByKey]]. */
final case class CollapseByKeyExec(key: Attribute, ord: Attribute, op: Attribute,
    vals: Attribute, folded: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = key +: folded
  override def producedAttributes: AttributeSet = AttributeSet(folded)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(key)) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val event = CreateNamedStruct(Seq(
      Literal("ord"), ord, Literal("op"), op, Literal("vals"), vals))
    val inputs = child.output
    val keyType = key.dataType
    child.execute().mapPartitions { rows =>
      val project = UnsafeProjection.create(Seq(key, event), inputs)
      // key → its events in arrival order (the fold's tie order)
      val groups = new java.util.LinkedHashMap[AnyRef, java.util.ArrayList[AnyRef]]()
      rows.foreach { row =>
        val r = project(row).copy()
        val k: AnyRef = if (r.isNullAt(0)) CollapseByKey.NullKey else r.getArray(0)
        groups.computeIfAbsent(k, _ => new java.util.ArrayList()).add(r.getStruct(1, 3))
      }
      val fold = CollapseEventsExpression(
        BoundReference(0, ArrayType(event.dataType, containsNull = false), nullable = false))
      val toUnsafe = UnsafeProjection.create(Array[DataType](
        keyType, StringType, MapType(StringType, StringType), IntegerType))
      groups.entrySet().iterator().asScala.map { g =>
        val fin = fold.fold(new GenericArrayData(g.getValue.toArray))
        val k = if (g.getKey eq CollapseByKey.NullKey) null else g.getKey
        toUnsafe(new GenericInternalRow(Array[Any](k, fin.getUTF8String(0),
          if (fin.isNullAt(1)) null else fin.getMap(1), fin.getInt(2))))
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): CollapseByKeyExec =
    copy(child = newChild)
}
