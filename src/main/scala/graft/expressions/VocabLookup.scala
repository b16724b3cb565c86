package graft.expressions

import org.apache.spark.sql.{Column, GraftExprBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Label-encoder lookup: the code of a string is its index in `vocab`,
  * and an unseen or null string maps to -1.
  *
  * The vocabulary travels with the plan as one hash map (a reference
  * object, like [[CutBucket]]'s edge array), so applying an encoder is a
  * projection: no join, no broadcast exchange. The generated code does
  * not embed the values, so encoders of the same shape share one
  * compiled class. `explain` shows the size and the first few values.
  */
case class VocabLookup(child: Expression, vocab: Seq[String])
    extends UnaryExpression {

  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](vocab.size * 2)
    vocab.zipWithIndex.foreach { case (v, i) =>
      m.put(UTF8String.fromString(v), Int.box(i)) }
    m
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  // null input maps to -1, so do NOT short-circuit on null children
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) -1 else index.getOrDefault(v, -1).intValue
  }

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val indexRef = ctx.addReferenceObj("vocab", index, "java.util.HashMap")
    val c = child.genCode(ctx)
    val hit = ctx.freshName("hit")
    ev.copy(
      isNull = FalseLiteral,
      code = code"""
        ${c.code}
        int ${ev.value} = -1;
        if (!${c.isNull}) {
          Object $hit = $indexRef.get(${c.value});
          if ($hit != null) { ${ev.value} = ((Integer) $hit).intValue(); }
        }""")
  }

  override def toString: String = {
    val shown = vocab.take(4).mkString(", ")
    s"vocab_lookup($child, ${vocab.size} values: $shown" +
      (if (vocab.size > 4) ", ...)" else ")")
  }

  override protected def withNewChildInternal(newChild: Expression): VocabLookup =
    copy(child = newChild)
}

object VocabLookup {
  /** Column-level API; `c` must be a string column. */
  def lookup(c: Column, vocab: Seq[String]): Column =
    GraftExprBridge.toColumn(
      VocabLookup(GraftExprBridge.toExpression(c), vocab))
}
