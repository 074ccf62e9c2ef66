package graft.functions

import org.apache.spark.sql.{Column, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, IsNotNull, LeafExpression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** O(1) hash probe of a STRING key against a DRIVER-SUPPLIED literal map —
  * the served-BM25 stat lookup ([[graft.search.Bm25.multiFieldServedRows]]).
  *
  * Why not `element_at` on a map literal: Spark's GetMapValue over a
  * literal `ArrayBasedMapData` does a per-row LINEAR scan of the key
  * array (parallel key/value arrays, no index), so a corpus-stat lookup
  * compiled as a map literal costs O(entries) PER ROW — quadratic in the
  * catalogue for the served path (measured 16.6× slower than the
  * broadcast-join stats at 300k entries — PLANS.md round 16).
  * This expression builds a `java.util.HashMap[UTF8String, Any]` ONCE
  * (driver-side; it rides to executors in the codegen references array /
  * the serialized expression, the same size class as the literal it
  * replaces) and probes it O(1) per row, staying inside whole-stage
  * codegen.
  *
  * Semantics are exactly `element_at(map_literal, key)`: NULL on a miss
  * (the literal mirror of an INNER join lookup) and NULL on a NULL key.
  * Value type is Long or Double — the two stat shapes (counts; avgdl).
  */
case class LiteralMapLookup(child: Expression,
                            entries: Map[String, Any],
                            override val dataType: DataType)
    extends UnaryExpression {
  require(dataType == LongType || dataType == DoubleType,
    s"LiteralMapLookup serves Long/Double stats, got $dataType")
  override def nullable: Boolean = true

  // UTF8String keys so the incoming unsafe row string probes without a
  // conversion; built once per (de)serialized instance, never per row
  @transient private lazy val table: java.util.HashMap[UTF8String, Any] = {
    val m = new java.util.HashMap[UTF8String, Any](
      math.max(8, entries.size * 2))
    entries.foreach { case (k, v) => m.put(UTF8String.fromString(k), v) }
    m
  }

  override def nullSafeEval(key: Any): Any =
    table.get(key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftLookup", table, "java.util.HashMap")
    val boxed = CodeGenerator.boxedType(dataType)
    nullSafeCodeGen(ctx, ev, key => {
      val v = ctx.freshName("v") // freshName: see EuclideanDistance.doGenCode
      s"""
         |Object $v = $ref.get($key);
         |if ($v == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (($boxed) $v).${CodeGenerator.javaType(dataType)}Value();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
}

/** A driver value that generated code reads from the class's references
  * array instead of inlining it as a Java literal.
  *
  * Spark's codegen cache is keyed by generated SOURCE and holds
  * `spark.sql.codegen.cache.maxEntries` classes (100 by default). A
  * numeric `Literal` becomes part of that source, so a plan that differs
  * only in a per-request number (a top-m bound, a rank) compiles classes
  * of its own and pushes others out of the cache. The held value keeps
  * the source identical across requests. Never foldable: ConstantFolding
  * would turn it back into an inlined Literal.
  */
case class HeldValue(value: Int) extends LeafExpression {
  override def dataType: DataType = IntegerType
  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("held", value, "java.lang.Integer")
    ev.copy(code = code"int ${ev.value} = $ref.intValue();", isNull = FalseLiteral)
  }
}

object MapLookup {
  /** Column-layer helpers for the two stat shapes. */
  def longLookup(key: Column, entries: Map[String, Long]): Column =
    GraftShim.column(LiteralMapLookup(GraftShim.expression(key),
      entries.asInstanceOf[Map[String, Any]], LongType))
  def doubleLookup(key: Column, entries: Map[String, Double]): Column =
    GraftShim.column(LiteralMapLookup(GraftShim.expression(key),
      entries.asInstanceOf[Map[String, Any]], DoubleType))

  /** `key` is one of `keys`, probed through the same reference-held hash
    * table: unlike `isin`, whose source grows with every listed value, the
    * generated code is the same for any set (false for a NULL key).
    */
  def isIn(key: Expression, keys: Iterable[String]): Expression =
    IsNotNull(LiteralMapLookup(key, keys.map(_ -> 1L).toMap, LongType))

  /** An Int bound held by reference ([[HeldValue]]), not inlined. */
  def held(v: Int): Column = GraftShim.column(HeldValue(v))
}
