package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Codegen'd membership test against a broadcast set of strings — the
 * scale-path for Ontology/Taxonomy-style lookup validation
 * (reference: Plugin/Ontology.pm:63-69 measured its in-memory hash at 4.5x
 * over per-value scans; this is the cluster equivalent).
 *
 * Why not `isin`: a literal IN list is embedded in the plan — fine at 10^4
 * terms, pathological at 10^6+ (plan serialization ships the whole list to
 * every task for every stage that references it). Here the set ships ONCE
 * per executor via a Spark broadcast, and the generated code probes the
 * deserialized hash set directly — no virtual calls, no UDF boxing, stays
 * inside whole-stage codegen.
 *
 * The set is stored UTF8String-encoded so probes need no string decode.
 */
case class InBroadcastSet(child: Expression, bcast: Broadcast[Set[UTF8String]])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "in_broadcast_set"

  override def nullSafeEval(value: Any): Any =
    bcast.value.contains(value.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // reference the broadcast handle from generated code; .value() resolves
    // to the executor-local deserialized set (one per executor, not per task)
    val bcastRef = ctx.addReferenceObj("bcastSet", bcast,
      classOf[Broadcast[Set[UTF8String]]].getName)
    val setTerm = ctx.addMutableState("scala.collection.immutable.Set", "resolvedSet",
      v => s"$v = (scala.collection.immutable.Set) $bcastRef.value();")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $setTerm.contains($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): InBroadcastSet =
    copy(child = newChild)
}

object InBroadcastSet {

  /** Broadcast a term set once and get a reusable Column predicate factory.
   * Build it on the driver, apply it to any number of columns/queries. */
  def broadcastSet(spark: SparkSession, terms: Set[String]): Broadcast[Set[UTF8String]] =
    spark.sparkContext.broadcast(terms.map(UTF8String.fromString))

  def contains(col: Column, bcast: Broadcast[Set[UTF8String]]): Column =
    ColumnBridge.column(InBroadcastSet(ColumnBridge.expression(col), bcast))

  /** One-shot convenience: broadcast + predicate. */
  def apply(spark: SparkSession, col: Column, terms: Set[String]): Column =
    contains(col, broadcastSet(spark, terms))
}
