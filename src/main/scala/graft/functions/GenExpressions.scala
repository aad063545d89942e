package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic token-sequence kernel for the synthetic generator.
  * Bit-identical, for n_tok >= 1, to the HOF formulation
  * `transform(sequence(0, n_tok-1), j -> pmod(xxhash64(doc_id, j), V))`
  * (property-tested over that domain). At n_tok = 0 the two diverge BY
  * DESIGN: Spark's `sequence(0, -1)` auto-selects step -1 and yields
  * [0, -1] (two positions), while this kernel returns the empty array —
  * the semantics a zero-length document actually needs. TokenGen never
  * emits n_tok = 0 (minLen >= 16), but `token_seq` is registered as a
  * public SQL function, so the divergence is documented here rather
  * than inherited silently from `sequence`'s step inference.
  * Spark's xxhash64 streams its arguments —
  * seed 42 -> hash(doc_id) -> hash(j) — so the string hash is a
  * per-ROW constant the HOF recomputes per ELEMENT, on top of the
  * interpreted per-element lambda cost. This kernel hashes the string
  * once and emits the whole array in one straight-line loop.
  */
object GenUtil {
  def tokenSeq(docId: UTF8String, nTok: Int, vocab: Int): ArrayData = {
    val h1 = XXH64.hashUnsafeBytes(
      docId.getBaseObject, docId.getBaseOffset, docId.numBytes, 42L)
    val n = math.max(nTok, 0)
    val out = new Array[Int](n)
    var j = 0
    while (j < n) {
      val h = XXH64.hashInt(j, h1) % vocab
      out(j) = (if (h < 0) h + vocab else h).toInt
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** tokens = [pmod(xxhash64(doc_id, j), vocab) for j in 0..n_tok) —
  * (STRING, INT) -> ARRAY<INT>.
  */
case class TokenSeq(left: Expression, right: Expression, vocab: Int)
    extends BinaryExpression {
  require(vocab > 0, "vocab must be positive")
  override def prettyName: String = "token_seq"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override lazy val deterministic: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, IntegerType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"token_seq expects (STRING, INT), got ${l.simpleString}, ${r.simpleString}")
    }

  override protected def nullSafeEval(docId: Any, nTok: Any): Any =
    GenUtil.tokenSeq(docId.asInstanceOf[UTF8String], nTok.asInstanceOf[Int], vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (d, n) => s"graft.functions.GenUtil.tokenSeq($d, $n, $vocab)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object GenOps {
  def tokenSeq(docId: Column, nTok: Column, vocab: Int): Column =
    GraftSqlBridge.column(TokenSeq(
      GraftSqlBridge.expression(docId), GraftSqlBridge.expression(nTok), vocab))
}

/** Pass-through expression whose REPORTED type is the nullable-widened
  * version of its child's (field nullable, array elements / map values /
  * struct fields containsNull=true, recursively). Value representation
  * is unchanged, so eval/codegen forward verbatim. Exists to pin every
  * engine parquet write to ONE canonical repetition layout (optional):
  * Spark derives parquet required/optional from column nullability, and
  * a `Cast` that differs only in nullability gets optimized away — this
  * expression is not a cast, so no rule strips it.
  */
case class WidenNullable(child: Expression) extends UnaryExpression {
  import org.apache.spark.sql.types._

  private def widen(t: DataType): DataType = t match {
    case ArrayType(et, _) => ArrayType(widen(et), containsNull = true)
    case MapType(kt, vt, _) => MapType(kt, widen(vt), valueContainsNull = true)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = widen(f.dataType), nullable = true)))
    case other => other
  }

  override def dataType: DataType = widen(child.dataType)
  override def nullable: Boolean = true
  // Never folded: ConstantFolding would replace it over a literal child
  // with a non-null literal, and the write would be `required` again.
  override def foldable: Boolean = false
  override lazy val deterministic: Boolean = child.deterministic

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WidenNullable {
  def widenCol(c: Column): Column =
    GraftSqlBridge.column(WidenNullable(GraftSqlBridge.expression(c)))
}
