package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native dense mat-vec for the ±1 JL sign projection: out[j] =
  * Σ_i in[i]·signs(i)(j), accumulated in ascending-i order — the
  * bit-exact twin of the unrolled column tree
  * `array(Σ_i element_at(emb, i+1) * lit(signs(i)(j)) ...)` that
  * rp_recall compiled before (r18 optimization round): 16×64 ≈ 1024
  * element_at/multiply/add expression nodes per side stressed codegen
  * and the classloader (the r17 profile's reflective-invocation hot
  * frames) where one generated call does the same 1024 flops in a
  * tight loop. Accumulation starts FROM the first term (not 0.0), so
  * even the −0.0 edge matches the old left-fold.
  *
  * Mirrors the element_at tree's null semantics: a missing index
  * (input shorter than the sign matrix), a null element or a NULL
  * input array poisons every output lane (each lane reads every input
  * index), so the output is an array of `cols` nulls and is itself
  * never NULL — the tree's outer `array(...)` was not nullable either.
  * KernelPropertySpec compares both on random, −0.0, short, null-
  * element and NULL inputs. `signs` rides Seq-of-Seq for case-class
  * structural equality (canonicalization/reuse); eval reads a
  * flattened Array.
  */
case class MatVecSigns(child: Expression,
                       signs: IndexedSeq[IndexedSeq[Double]])
  extends UnaryExpression with ExpectsInputTypes {

  require(signs.nonEmpty && signs.forall(_.length == signs.head.length),
    "signs must be a non-empty rectangular matrix")

  private val rows = signs.length         // input dims consumed
  private val cols = signs.head.length    // output dims produced

  @transient private lazy val flat: Array[Double] = {
    val a = new Array[Double](rows * cols)
    var i = 0
    while (i < rows) {
      var j = 0
      while (j < cols) { a(i * cols + j) = signs(i)(j); j += 1 }
      i += 1
    }
    a
  }

  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "matvec_signs"

  /** Public so generated code can call it through the reference obj. */
  def project(in: ArrayData): GenericArrayData = {
    var ok = in != null && in.numElements() >= rows
    var i = 0
    while (ok && i < rows) { if (in.isNullAt(i)) ok = false; i += 1 }
    if (!ok) return new GenericArrayData(new Array[Any](cols))
    val m = flat
    val out = new Array[Any](cols)
    var j = 0
    while (j < cols) {
      var s = in.getDouble(0) * m(j)
      var k = 1
      while (k < rows) { s += in.getDouble(k) * m(k * cols + j); k += 1 }
      out(j) = s
      j += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    project(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("matVecSigns", this, classOf[MatVecSigns].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  $self.project(${c.isNull} ? null : ${c.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecSigns =
    copy(child = newChild)
}
