package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd string→double lookup against a broadcast map — the sibling of
 * [[InBroadcastSet]] for weighted dimensions (token → idf, domain →
 * sampling weight, source → quality prior). Returns NULL for absent keys.
 *
 * Why not a broadcast JOIN: joining a per-row ARRAY element against a
 * dimension table forces explode → join → re-aggregate (two extra
 * shuffles and the array structure is lost); this expression resolves the
 * weight INSIDE a higher-order-function lambda, so array-local scoring
 * stays one shuffle-free projection. The map ships once per executor via
 * the broadcast; generated code probes the executor-local map directly —
 * no UDF boxing, stays inside whole-stage codegen.
 */
case class BroadcastMapLookup(child: Expression,
    bcast: Broadcast[Map[UTF8String, Double]])
  extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "broadcast_map_lookup"

  override def nullSafeEval(value: Any): Any =
    bcast.value.get(value.asInstanceOf[UTF8String]) match {
      case Some(d) => d
      case None => null
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcastRef = ctx.addReferenceObj("bcastMap", bcast,
      classOf[Broadcast[Map[UTF8String, Double]]].getName)
    val mapTerm = ctx.addMutableState("scala.collection.immutable.Map", "resolvedMap",
      v => s"$v = (scala.collection.immutable.Map) $bcastRef.value();")
    val opt = ctx.freshName("opt")
    nullSafeCodeGen(ctx, ev, c =>
      s"""scala.Option $opt = $mapTerm.get($c);
         |if ($opt.isEmpty()) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ((java.lang.Double) $opt.get()).doubleValue();
         |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BroadcastMapLookup =
    copy(child = newChild)
}

object BroadcastMapLookup {

  /** Broadcast a weight map once; apply via [[lookup]] any number of times. */
  def broadcastMap(spark: SparkSession,
      weights: Map[String, Double]): Broadcast[Map[UTF8String, Double]] =
    spark.sparkContext.broadcast(weights.map { case (k, v) =>
      UTF8String.fromString(k) -> v
    })

  def lookup(col: Column, bcast: Broadcast[Map[UTF8String, Double]]): Column =
    ColumnBridge.column(BroadcastMapLookup(ColumnBridge.expression(col), bcast))
}
