package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types._

/** Shared plumbing for the fold kernels: the codegen call-back template
  * (per-ROW boxed Double, null-propagating) and the null-checked
  * extract+sort prologue for long-array folds. */
private[graft] trait FoldKernelBase { self: Expression =>
  /** Generated-code body: call the compiled kernel through `ref`, map a
    * null result to SQL null. */
  protected def kernelCall(ctx: CodegenContext, ref: String, args: String,
      ev: ExprCode): String = {
    val r = ctx.freshName("r")
    s"""
       |java.lang.Double $r = $ref.kernel($args);
       |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
     """.stripMargin
  }

  /** Ascending copy of an ARRAY<BIGINT>; null on a null element (the
    * HOF twin's null arithmetic). */
  protected def sortedLongs(v: ArrayData): Array[Long] = {
    val m = v.numElements()
    val xs = new Array[Long](m)
    var i = 0
    while (i < m) {
      if (v.isNullAt(i)) return null
      xs(i) = v.getLong(i)
      i += 1
    }
    java.util.Arrays.sort(xs)
    xs
  }
}

private[graft] trait SortedStructKernel extends FoldKernelBase { self: Expression =>
  def arrayChild: Expression

  protected lazy val elemType: StructType = arrayChild.dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  protected lazy val numFields: Int = elemType.length

  /** Catalyst struct natural order over the supported field types.
    * Null fields sort first (Catalyst asc default) — unreachable in
    * engine use (collect_list of non-null columns) but total anyway. */
  @transient protected lazy val cmp: java.util.Comparator[InternalRow] = {
    val tags: Array[Int] = elemType.fields.map(_.dataType match {
      case StringType => 0
      case LongType => 1
      case IntegerType => 2
      case DoubleType => 3
      case t => throw new IllegalStateException(s"unsupported field type ${t.sql}")
    })
    new java.util.Comparator[InternalRow] {
      override def compare(x: InternalRow, y: InternalRow): Int = {
        var i = 0
        while (i < tags.length) {
          val xn = x.isNullAt(i)
          val yn = y.isNullAt(i)
          if (xn || yn) {
            if (!xn) return 1
            if (!yn) return -1
          } else {
            val c = tags(i) match {
              case 0 => x.getUTF8String(i).compareTo(y.getUTF8String(i))
              case 1 => java.lang.Long.compare(x.getLong(i), y.getLong(i))
              case 2 => java.lang.Integer.compare(x.getInt(i), y.getInt(i))
              case _ => SQLOrderingUtil.compareDoubles(x.getDouble(i), y.getDouble(i))
            }
            if (c != 0) return c
          }
          i += 1
        }
        0
      }
    }
  }

  /** Null-element → null result (the HOF twin's null arithmetic). */
  protected def sortedRows(v: ArrayData): Array[InternalRow] = {
    val n = v.numElements()
    val rows = new Array[InternalRow](n)
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      rows(i) = v.getStruct(i, numFields)
      i += 1
    }
    if (n > 1) java.util.Arrays.sort(rows, cmp)
    rows
  }

  protected def structArrayCheck(name: String, lastFields: Seq[DataType]): TypeCheckResult =
    arrayChild.dataType match {
      case ArrayType(st: StructType, _)
        if st.length >= lastFields.length &&
          st.fields.takeRight(lastFields.length).map(_.dataType).sameElements(lastFields) &&
          st.fields.forall(f => Seq(StringType, LongType, IntegerType, DoubleType)
            .contains(f.dataType)) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$name expects ARRAY<STRUCT<..., ${lastFields.map(_.sql).mkString(", ")}>> " +
          s"over string/integral/double fields, got ${t.sql}")
    }
}

/** Σ (or −Σ) of the last struct field in natural struct-sort order —
  * the `aggregate(array_sort(collect_list(struct(key…, term))), 0.0,
  * (acc, s) -> acc ± s.term)` twin. `negate` folds `acc - term`
  * sequentially (NOT `-Σ`: an all-zero array must yield +0.0 exactly
  * like the HOF's repeated `0.0 - 0.0`). */
case class SortedTermSum(child: Expression, negate: Boolean)
  extends UnaryExpression with SortedStructKernel {
  override def arrayChild: Expression = child
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_term_sum"

  override def checkInputDataTypes(): TypeCheckResult =
    structArrayCheck(prettyName, Seq(DoubleType))

  def kernel(v: ArrayData): java.lang.Double = {
    val rows = sortedRows(v)
    if (rows == null) return null
    val t = numFields - 1
    var acc = 0.0
    var i = 0
    while (i < rows.length) {
      if (rows(i).isNullAt(t)) return null
      val x = rows(i).getDouble(t)
      acc = if (negate) acc - x else acc + x
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override def nullSafeEval(v: Any): Any = kernel(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedTermSum", this, classOf[SortedTermSum].getName)
    nullSafeCodeGen(ctx, ev, a => kernelCall(ctx, ref, a, ev))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shannon-entropy fold over an ascending-sorted count array:
  * `aggregate(array_sort(cs), 0.0, (acc, c) -> acc - p·ln p)` with
  * `p = c / n` — the q_entropy discipline, compiled. Non-positive `p`
  * → null (Catalyst `Log`'s asymptote rule). */
case class PlogpSum(left: Expression, right: Expression)
  extends BinaryExpression with FoldKernelBase {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "plogp_sum"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (ARRAY<BIGINT>, BIGINT), got (${l.sql}, ${r.sql})")
  }

  def kernel(v: ArrayData, nTok: Long): java.lang.Double = {
    val xs = sortedLongs(v)
    if (xs == null) return null
    val nd = nTok.toDouble
    var acc = 0.0
    var i = 0
    while (i < xs.length) {
      val p = xs(i).toDouble / nd
      if (p <= 0.0) return null
      acc = acc - p * java.lang.StrictMath.log(p)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override def nullSafeEval(a: Any, n: Any): Any =
    kernel(a.asInstanceOf[ArrayData], n.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("plogpSum", this, classOf[PlogpSum].getName)
    nullSafeCodeGen(ctx, ev, (a, n) => kernelCall(ctx, ref, s"$a, $n", ev))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Conditional-entropy fold over natural-sorted cells
  * `struct(key…, c: long, cu: long)`:
  * `acc - (c/n)·ln(c/cu)` per cell — the q_cond_entropy discipline,
  * compiled. Non-positive `ln` argument → null (Catalyst `Log`). */
case class CondEntropySum(left: Expression, right: Expression)
  extends BinaryExpression with SortedStructKernel {
  override def arrayChild: Expression = left
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cond_entropy_sum"

  override def checkInputDataTypes(): TypeCheckResult = right.dataType match {
    case LongType => structArrayCheck(prettyName, Seq(LongType, LongType))
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects BIGINT total, got ${t.sql}")
  }

  def kernel(v: ArrayData, n: Long): java.lang.Double = {
    val rows = sortedRows(v)
    if (rows == null) return null
    val nd = n.toDouble
    val ci = numFields - 2
    val cui = numFields - 1
    var acc = 0.0
    var i = 0
    while (i < rows.length) {
      if (rows(i).isNullAt(ci) || rows(i).isNullAt(cui)) return null
      val c = rows(i).getLong(ci).toDouble
      val ratio = c / rows(i).getLong(cui).toDouble
      if (ratio <= 0.0) return null
      acc = acc - (c / nd) * java.lang.StrictMath.log(ratio)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override def nullSafeEval(a: Any, n: Any): Any =
    kernel(a.asInstanceOf[ArrayData], n.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("condEntropySum", this, classOf[CondEntropySum].getName)
    nullSafeCodeGen(ctx, ev, (a, n) => kernelCall(ctx, ref, s"$a, $n", ev))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exponential-decay fold over an ascending-sorted epoch array:
  * `acc + 2^((t − t_ref) / 604800)` per timestamp — the q_decay
  * discipline, compiled (`java.lang.StrictMath.pow`, Catalyst `Pow`'s
  * delegate). */
case class DecaySum(left: Expression, right: Expression)
  extends BinaryExpression with FoldKernelBase {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "decay_sum"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (ARRAY<BIGINT>, BIGINT), got (${l.sql}, ${r.sql})")
  }

  def kernel(v: ArrayData, tRef: Long): java.lang.Double = {
    val xs = sortedLongs(v)
    if (xs == null) return null
    var acc = 0.0
    var i = 0
    while (i < xs.length) {
      acc = acc + java.lang.StrictMath.pow(2.0, (xs(i) - tRef).toDouble / 604800.0)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override def nullSafeEval(a: Any, n: Any): Any =
    kernel(a.asInstanceOf[ArrayData], n.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("decaySum", this, classOf[DecaySum].getName)
    nullSafeCodeGen(ctx, ev, (a, n) => kernelCall(ctx, ref, s"$a, $n", ev))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Compiled twins of the engine's order-pinned fold discipline.
  *
  * Several oracle-exact queries (q_lm_score, q_dsir, q_ccnet_buckets,
  * q_entropy, q_cond_entropy, q_markov, q_temp_mix, q_decay) pin their
  * floating-point accumulation ORDER by sorting a collected array and
  * left-folding it — the only way a shuffled aggregate can stay
  * bit-identical to a single-threaded oracle recurrence. The original
  * form, `aggregate(array_sort(collect_list(struct(key, term))), ...)`,
  * pays twice at the HOF boundary: `array_sort`'s comparator and
  * `aggregate`'s fold lambda both evaluate INTERPRETED (one Catalyst
  * tree walk per element / per comparison, `O(n log n)` of them), and
  * both HOFs are `CodegenFallback`, so the projection they sit in falls
  * out of whole-stage codegen entirely.
  *
  * Each expression here fuses sort + fold into one compiled kernel with
  * the SAME operation sequence — the comparator replicates Catalyst's
  * struct natural order (field by field: UTF8String binary order,
  * integral natural order, `SQLOrderingUtil.compareDoubles`; keys are
  * per-group-unique in every engine use, so ties never reach the term
  * field), the fold applies the identical IEEE ops in the identical
  * order with the same `java.lang.StrictMath` calls Catalyst's
  * `Log`/`Pow` delegate to (NOT `Math.log`/`Math.pow` — the JIT
  * intrinsics drift from fdlibm by 1 ulp on real inputs; `Math.pow`
  * vs Catalyst's `StrictMath.pow` flipped 4 of 51 terms in the first
  * q_decay twin run), and non-positive `log` arguments return null exactly
  * like Catalyst's `Log` asymptote rule. Bit-equality with the HOF twin
  * is pinned (unrounded) in SortedFoldsSpec; codegen ≡ eval in
  * ExpressionsSpec's discipline.
  *
  * Codegen calls back into the compiled kernel through a reference
  * object — per-ROW boxing only, per-ELEMENT work stays in tight
  * compiled loops, and whole-stage codegen spans the projection again.
  */
object SortedFolds {
  /** `Σ term` over the natural struct sort of `collect_list(struct(key…, term))`. */
  def sortedTermSum(arr: Column): Column =
    GraftBridge.column(SortedTermSum(GraftBridge.expression(arr), negate = false))

  /** `−Σ term` folded as sequential subtraction (q_lm_score's surprisal sum). */
  def sortedTermSumNeg(arr: Column): Column =
    GraftBridge.column(SortedTermSum(GraftBridge.expression(arr), negate = true))

  def plogpSum(counts: Column, n: Column): Column =
    GraftBridge.column(PlogpSum(GraftBridge.expression(counts), GraftBridge.expression(n)))

  def condEntropySum(cells: Column, n: Column): Column =
    GraftBridge.column(CondEntropySum(GraftBridge.expression(cells), GraftBridge.expression(n)))

  def decaySum(ts: Column, tRef: Column): Column =
    GraftBridge.column(DecaySum(GraftBridge.expression(ts), GraftBridge.expression(tRef)))
}
