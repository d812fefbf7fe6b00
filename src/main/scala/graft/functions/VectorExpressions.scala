package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, EvalMode, Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst fold over two double arrays — the codegen'd fast
  * path of `VectorFunctions.dot` (and, via `DotProduct(a, a)`, of the
  * squared norm). The composed built-ins (`aggregate(zip_with(…))`)
  * are higher-order functions: Catalyst evaluates their lambdas
  * per-element through `NamedLambdaVariable` slots with NO codegen —
  * every element of every vector pays interpreted-expression overhead,
  * which is the dominant cost of the ANN operators (64 multiplies per
  * cosine). This expression emits ONE fused Java loop instead.
  *
  * Bit-exact parity with the composed path (and the DuckDB oracle's
  * `list_reduce`): the accumulation is the same strict left fold
  * `((0 + x₁y₁) + x₂y₂) + …` in IEEE order, a NULL element poisons the
  * sum to NULL (`acc + NULL`), and length-mismatched arrays yield NULL
  * (`zip_with` pads with NULL → NULL product). `Hash32Expression` is
  * the scalar precedent; [[VectorFoldRewrite]] fuses existing plans.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects two array<double> arguments, got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Σ xᵢ² with the same strict left fold — the fused form of
  * `aggregate(transform(a, x => x*x), 0.0, (acc,x) => acc+x)` (the
  * norm's inner sum). A dedicated unary expression instead of
  * `DotProduct(a, a)` so the child is never evaluated twice, which lets
  * the rewrite fire on ANY child (after projection collapse the library's
  * `norm(asDouble(…))` has a `transform` child, not an attribute).
  */
case class SumSquares(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sumsq"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sumsq expects an array<double> argument, got ${other.sql}")
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getDouble(i)
      acc += v * v
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $x.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  final double $v = $x.getDouble($i);
         |  $acc += $v * $v;
         |}
         |if (!${ev.isNull}) { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SumSquares =
    copy(child = newChild)
}

/** Σ (xᵢ-yᵢ)² with the same strict left fold — the fused form of
  * `IvfIndex.sqDist`'s `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)))`.
  * The IVF coarse quantizer evaluates this C times per vector (every
  * centroid), so the interpreted higher-order form dominates assignment
  * cost at production codebooks; this emits one fused loop. NULL/length
  * semantics identical to [[DotProduct]].
  */
case class SquaredL2(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_sqdist"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_sqdist expects two array<double> arguments, got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    var acc = 0.0
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getDouble(i) - y.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $d = $x.getDouble($i) - $y.getDouble($i);
         |    $acc += $d * $d;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2 =
    copy(left = newLeft, right = newRight)
}

/** ADC distance fold `Σ_s table[s][codes_s + 1]` (1-based element_at
  * indexing) — the codegen'd fast path of `PqIndex.adcScore`'s composed
  * `aggregate(zip_with(table, codes, (t,c) => element_at(t, (c+1)::int)))`.
  * That shape's lambda is not one of [[VectorFoldRewrite]]'s fusable
  * patterns, so the ADC inner loop — evaluated once per (query,
  * candidate) pair, the hot multiply of any PQ search — ran per-element
  * through interpreted `NamedLambdaVariable` slots. This emits one fused
  * loop over the m subspaces.
  *
  * Bit/NULL parity with the composed form (asserted in
  * VectorExpressionsSpec): strict left fold in IEEE order; a NULL code,
  * NULL sub-table or NULL table cell poisons the sum to NULL;
  * length-mismatched arrays zip with NULL padding → NULL; a negative
  * index reads from the end exactly like `element_at`; an out-of-range
  * index throws under ANSI (`failOnError`, captured at construction
  * like ElementAt) and yields NULL otherwise; index 0 throws; a code
  * whose +1 exceeds int range throws under ANSI like the composed
  * `(c+1).cast("int")`, with the same `CAST_OVERFLOW` error class, and
  * wraps like the non-ANSI cast otherwise
  * (ADVICE r15 — unreachable for real PQ codes ≤ 255).
  */
case class AdcFold(left: Expression, right: Expression,
    failOnError: Boolean =
      org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_adc"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _),
            ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_adc expects (array<array<double>>, array<bigint>), got " +
          s"${left.dataType.sql}, ${right.dataType.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val t = a.asInstanceOf[ArrayData]
    val c = b.asInstanceOf[ArrayData]
    val nt = t.numElements()
    val nc = c.numElements()
    val n = math.max(nt, nc)
    var acc = 0.0
    var poisoned = false
    var i = 0
    while (i < n) {
      // zip_with pads the shorter side with NULL; element_at(NULL, _) and
      // element_at(_, NULL) are NULL — but the index-0 check still fires
      // for every element the composed ZipWith materializes, so keep
      // scanning after a poison instead of returning early
      if (i >= nt || t.isNullAt(i) || i >= nc || c.isNullAt(i)) poisoned = true
      else {
        val inner = t.getArray(i)
        val raw = c.getLong(i) + 1L
        // the composed form's (c+1).cast("int") under ANSI throws on
        // overflow where .toInt silently wraps (ADVICE r15) — match it,
        // error class (CAST_OVERFLOW) included, by running that ANSI cast
        // (the error's builder is private to Spark's Scala packages; the
        // generated code below calls it directly); non-ANSI cast wraps
        // exactly like .toInt, so only ANSI changes
        if (failOnError && (raw > Int.MaxValue || raw < Int.MinValue))
          Cast(Literal(raw), IntegerType, None, EvalMode.ANSI).eval()
        val idx = raw.toInt
        if (idx == 0) throw new IllegalArgumentException(
          "element_at: SQL array indices start at 1")
        val m = inner.numElements()
        val pos = if (idx > 0) idx - 1 else m + idx
        if (pos < 0 || pos >= m) {
          // element_at semantics: ANSI (failOnError) throws on an
          // out-of-bounds index, non-ANSI yields NULL
          if (failOnError) throw new ArrayIndexOutOfBoundsException(
            s"element_at: The index $idx is out of bounds. " +
              s"The array has $m elements.")
          poisoned = true
        }
        else if (inner.isNullAt(pos)) poisoned = true
        else if (!poisoned) acc += inner.getDouble(pos)
      }
      i += 1
    }
    if (poisoned) null else acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, c) => {
      val i = ctx.freshName("i")
      val nt = ctx.freshName("nt")
      val nc = ctx.freshName("nc")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val poisoned = ctx.freshName("poisoned")
      val inner = ctx.freshName("inner")
      val raw = ctx.freshName("raw")
      val idx = ctx.freshName("idx")
      val m = ctx.freshName("m")
      val pos = ctx.freshName("pos")
      s"""
         |final int $nt = $t.numElements();
         |final int $nc = $c.numElements();
         |final int $n = java.lang.Math.max($nt, $nc);
         |double $acc = 0.0;
         |boolean $poisoned = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($i >= $nt || $t.isNullAt($i) || $i >= $nc || $c.isNullAt($i)) {
         |    $poisoned = true;
         |  } else {
         |    org.apache.spark.sql.catalyst.util.ArrayData $inner = $t.getArray($i);
         |    final long $raw = $c.getLong($i) + 1L;
         |    if ($failOnError && ($raw > Integer.MAX_VALUE || $raw < Integer.MIN_VALUE)) {
         |      throw org.apache.spark.sql.errors.QueryExecutionErrors.castingCauseOverflowError(
         |        java.lang.Long.valueOf($raw), org.apache.spark.sql.types.LongType$$.MODULE$$,
         |        org.apache.spark.sql.types.IntegerType$$.MODULE$$);
         |    }
         |    final int $idx = (int) $raw;
         |    if ($idx == 0) {
         |      throw new IllegalArgumentException("element_at: SQL array indices start at 1");
         |    }
         |    final int $m = $inner.numElements();
         |    final int $pos = $idx > 0 ? $idx - 1 : $m + $idx;
         |    if ($pos < 0 || $pos >= $m) {
         |      if ($failOnError) {
         |        throw new ArrayIndexOutOfBoundsException(
         |          "element_at: The index " + $idx + " is out of bounds. The array has " + $m + " elements.");
         |      }
         |      $poisoned = true;
         |    } else if ($inner.isNullAt($pos)) {
         |      $poisoned = true;
         |    } else if (!$poisoned) {
         |      $acc += $inner.getDouble($pos);
         |    }
         |  }
         |}
         |if ($poisoned) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcFold =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule fusing the composed vector folds:
  *
  *   aggregate(zip_with(a, b, (x,y) => x*y), 0.0, (acc,x) => acc+x) → graft_dot(a, b)
  *   aggregate(transform(a, x => x*x),       0.0, (acc,x) => acc+x) → graft_sumsq(a)
  *   aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), …)             → graft_sqdist(a, b)
  *
  * Library code stays written against documented built-ins (runs on any
  * vanilla session, and the DuckDB oracle mirrors it as `list_reduce`);
  * sessions with [[GraftExtensions]] get the fused loops.
  */
object VectorFoldRewrite
  extends org.apache.spark.sql.catalyst.rules.Rule[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case ArrayAggregate(ZipWith(a, b, MultLambda2()), DoubleZero(), SumLambda(), IdLambda())
          if isDoubleArray(a) && isDoubleArray(b) =>
        DotProduct(a, b)
      case ArrayAggregate(ArrayTransform(a, SquareLambda()), DoubleZero(), SumLambda(), IdLambda())
          if isDoubleArray(a) =>
        SumSquares(a)
      case ArrayAggregate(ZipWith(a, b, SqDiffLambda()), DoubleZero(), SumLambda(), IdLambda())
          if isDoubleArray(a) && isDoubleArray(b) =>
        SquaredL2(a, b)
    }

  private def isDoubleArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  private object DoubleZero {
    def unapply(e: Expression): Boolean = e match {
      case Literal(0.0, DoubleType) => true
      case _ => false
    }
  }

  /** (x, y) => x * y over the two lambda arguments, either order. */
  private object MultLambda2 {
    def unapply(f: Expression): Boolean = f match {
      case LambdaFunction(Multiply(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
          Seq(a1: NamedLambdaVariable, a2: NamedLambdaVariable), _) =>
        Set(l.exprId, r.exprId) == Set(a1.exprId, a2.exprId) && l.exprId != r.exprId
      case _ => false
    }
  }

  /** (x, y) => (x - y) * (x - y) over the two lambda arguments, same
    * subtraction order on both sides of the multiply.
    */
  private object SqDiffLambda {
    def unapply(f: Expression): Boolean = f match {
      case LambdaFunction(
          Multiply(Subtract(l1: NamedLambdaVariable, r1: NamedLambdaVariable, _),
            Subtract(l2: NamedLambdaVariable, r2: NamedLambdaVariable, _), _),
          Seq(a1: NamedLambdaVariable, a2: NamedLambdaVariable), _) =>
        l1.exprId == a1.exprId && r1.exprId == a2.exprId &&
          l2.exprId == a1.exprId && r2.exprId == a2.exprId
      case _ => false
    }
  }

  /** x => x * x over the single lambda argument. */
  private object SquareLambda {
    def unapply(f: Expression): Boolean = f match {
      case LambdaFunction(Multiply(l: NamedLambdaVariable, r: NamedLambdaVariable, _),
          Seq(a1: NamedLambdaVariable), _) =>
        l.exprId == a1.exprId && r.exprId == a1.exprId
      case _ => false
    }
  }

  /** (acc, x) => acc + x — addition is commutative over doubles ONLY in
    * value, not in IEEE rounding, so the accumulator must be the LEFT
    * operand for bit parity with the strict left fold.
    */
  private object SumLambda {
    def unapply(f: Expression): Boolean = f match {
      case LambdaFunction(Add(acc: NamedLambdaVariable, x: NamedLambdaVariable, _),
          Seq(a1: NamedLambdaVariable, a2: NamedLambdaVariable), _) =>
        acc.exprId == a1.exprId && x.exprId == a2.exprId
      case _ => false
    }
  }

  /** The default identity finish lambda `acc => acc`. */
  private object IdLambda {
    def unapply(f: Expression): Boolean = f match {
      case LambdaFunction(v: NamedLambdaVariable, Seq(a1: NamedLambdaVariable), _) =>
        v.exprId == a1.exprId
      case _ => false
    }
  }
}
