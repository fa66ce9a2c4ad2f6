package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/** A value that is constant within one query execution, evaluated once
  * per task and emitted in every row.
  *
  * The child must not read the input row: it is evaluated against no
  * row at all. Its use is a streaming micro-batch's clock, e.g.
  * `date_format(current_timestamp(), fmt)`. `IncrementalExecution`
  * turns the batch timestamp into a literal after the optimizer has
  * run, so spelled plainly that literal is inlined into the
  * whole-stage source: the text changes every batch and Spark's
  * codegen cache misses every batch. This wrapper hands itself to the
  * generated code through the references array instead; the generated
  * text stays the same from batch to batch, and the class compiles
  * once per running query. The child runs interpreted, once per task
  * (at the generated class's initialisation), so a per-batch
  * constant is not recomputed per row either. The operator stays
  * in whole-stage codegen: unlike a `CodegenFallback`, this is not a
  * reason to split the stage.
  *
  * Foldable exactly when the child is, so a batch query's constant
  * folding still turns it into a literal. */
case class BatchConstant(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = child.foldable

  /** The child's value, computed on first use by this instance: each
    * task deserializes its own copy of the plan, so once per task. */
  @transient private lazy val constant: Any = child.eval(null)

  override def eval(input: InternalRow): Any = constant

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("batchConstant", this, classOf[BatchConstant].getName)
    val javaType = CodeGenerator.javaType(dataType)
    val isNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "constIsNull", forceInline = true)
    val value = ctx.addMutableState(javaType, "constValue", v => {
      val obj = ctx.freshName("obj")
      s"""{
         |  Object $obj = $self.eval(null);
         |  $isNull = $obj == null;
         |  if (!$isNull) $v = (${CodeGenerator.boxedType(dataType)}) $obj;
         |}""".stripMargin
    }, forceInline = true)
    ev.copy(code = EmptyBlock,
      isNull = if (nullable) JavaCode.isNullGlobal(isNull) else FalseLiteral,
      value = JavaCode.global(value, dataType))
  }

  override protected def withNewChildInternal(newChild: Expression): BatchConstant =
    copy(child = newChild)

  override def prettyName: String = "batch_constant"
}

object BatchConstant {
  /** Column-level entry point. */
  def of(c: Column): Column =
    ColumnBridge.column(BatchConstant(ColumnBridge.expression(c)))
}
