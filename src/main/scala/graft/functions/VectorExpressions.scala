package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expressions for dense float-vector math over
  * `ARRAY<FLOAT>` columns (SURVEY §7.4's optional upgrade, made real):
  * vector_dot / vector_cosine / vector_l2sq / vector_l1.
  *
  * Why expressions and not UDFs: these run inside whole-stage codegen
  * (doGenCode emits a tight primitive loop over the ArrayData — no
  * boxing, no Scala closure dispatch, no Encoder round-trip), which
  * matters when they sit in the inner loop of an ANN scan evaluated
  * O(corpus x queries) times.
  *
  * Numeric contract: elements are widened float->double BEFORE any
  * arithmetic and accumulated sequentially — the same thing DuckDB does
  * on `CAST(v AS DOUBLE[])`, keeping oracle comparisons engine-stable.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  /** Java source for the accumulation loop body + result assignment. */
  protected def loopCode(a: String, b: String, result: String): String

  protected def evalVectors(x: ArrayData, y: ArrayData): Double

  override def nullSafeEval(a: Any, b: Any): Any =
    evalVectors(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // braces give the emitted locals (n, s, i, ...) their own scope: with
    // non-nullable inputs nullSafeCodeGen pastes the snippet unwrapped, so
    // two vector expressions in one codegen scope would otherwise declare
    // duplicate locals and fail Janino, dropping to interpreted fallback
    nullSafeCodeGen(ctx, ev, (a, b) => s"{\n${loopCode(a, b, ev.value.toString)}\n}")
}

case class VectorDot(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vector_dot"
  override protected def evalVectors(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }
  override protected def loopCode(a: String, b: String, result: String): String =
    s"""int n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double s = 0.0;
       |for (int i = 0; i < n; i++) {
       |  s += (double) $a.getFloat(i) * (double) $b.getFloat(i);
       |}
       |$result = s;""".stripMargin
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class VectorCosine(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vector_cosine"
  override protected def evalVectors(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble; val yi = y.getFloat(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def loopCode(a: String, b: String, result: String): String =
    s"""int n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double dot = 0.0, na = 0.0, nb = 0.0;
       |for (int i = 0; i < n; i++) {
       |  double xi = (double) $a.getFloat(i);
       |  double yi = (double) $b.getFloat(i);
       |  dot += xi * yi; na += xi * xi; nb += yi * yi;
       |}
       |$result = (na == 0.0 || nb == 0.0) ? 0.0
       |  : dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb));""".stripMargin
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class VectorL2Sq(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vector_l2sq"
  override protected def evalVectors(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble; s += d * d; i += 1
    }
    s
  }
  override protected def loopCode(a: String, b: String, result: String): String =
    s"""int n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double s = 0.0;
       |for (int i = 0; i < n; i++) {
       |  double d = (double) $a.getFloat(i) - (double) $b.getFloat(i);
       |  s += d * d;
       |}
       |$result = s;""".stripMargin
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class VectorL1(left: Expression, right: Expression) extends VectorBinaryExpression {
  override def prettyName: String = "vector_l1"
  override protected def evalVectors(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) {
      s += math.abs(x.getFloat(i).toDouble - y.getFloat(i).toDouble); i += 1
    }
    s
  }
  override protected def loopCode(a: String, b: String, result: String): String =
    s"""int n = java.lang.Math.min($a.numElements(), $b.numElements());
       |double s = 0.0;
       |for (int i = 0; i < n; i++) {
       |  s += java.lang.Math.abs((double) $a.getFloat(i) - (double) $b.getFloat(i));
       |}
       |$result = s;""".stripMargin
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Registration + Column-API helpers. Registration is per-session (kept in
  * the session's FunctionRegistry); `ensureRegistered` is idempotent. */
object VectorFunctions {
  /** SQL-facing arity check: a 2-argument `topk_pairs(...)` call must fail
    * with a function-arity error, not a raw IndexOutOfBoundsException. */
  private def checkArity(name: String, n: Int, es: Seq[Expression]): Unit =
    if (es.length != n) throw new IllegalArgumentException(
      s"$name requires exactly $n argument(s), got ${es.length}")

  /** The plan-time value of a constant argument, read by `read`. A
    * non-foldable argument, an eval that fails or a value `read` does not
    * take throws an `IllegalArgumentException` that says `mustBe` and
    * shows the argument's SQL, with the eval failure as its cause. */
  private def planConstant[T](e: Expression, mustBe: String)(read: PartialFunction[Any, T]): T = {
    def fail(cause: Throwable) = new IllegalArgumentException(
      s"$mustBe evaluable at plan time, got: ${e.sql}", cause)
    val v = if (e.foldable) try e.eval() catch { case x: Exception => throw fail(x) } else null
    read.applyOrElse(v, (_: Any) => throw fail(null))
  }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("vector_dot", es => { checkArity("vector_dot", 2, es); VectorDot(es(0), es(1)) }),
    ("vector_cosine", es => { checkArity("vector_cosine", 2, es); VectorCosine(es(0), es(1)) }),
    ("vector_l2sq", es => { checkArity("vector_l2sq", 2, es); VectorL2Sq(es(0), es(1)) }),
    ("vector_l1", es => { checkArity("vector_l1", 2, es); VectorL1(es(0), es(1)) }),
    // deterministic HLL sketch as a TypedImperativeAggregate (4 KB
    // mergeable buffers; same estimates + oracle as Sketches.hllDistinct)
    ("hll_sketch", es => { checkArity("hll_sketch", 1, es); HllSketchAgg(es.head) }),
    // bounded per-group top-k heaps with map-side combine; third arg must
    // be FOLDABLE to an integer k at plan time (the buffer is sized then,
    // not per row) — any constant expression works, e.g. `5` or `2 + 3`
    ("topk_pairs", es => {
      checkArity("topk_pairs", 3, es)
      val k = planConstant(es(2),
          "topk_pairs third argument (k) must be a constant integer expression") {
        case i: Int => i
        case l: Long => l.toInt
        case s: Short => s.toInt
        case b: Byte => b.toInt
      }
      TopKPairsAgg(es(0), es(1), k)
    }),
    // fixed-size HDR bucket table per group (7.5 KB), element-wise-add
    // merge; second arg must be FOLDABLE to a double q in (0,1] at plan
    // time (the quantile is part of the aggregate's identity)
    ("hdr_quantile", es => {
      checkArity("hdr_quantile", 2, es)
      val q = planConstant(es(1),
          "hdr_quantile second argument (q) must be a constant numeric expression") {
        case d: Double => d
        case f: Float => f.toDouble
        case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
        case i: Int => i.toDouble
        case l: Long => l.toDouble
      }
      HdrQuantileAgg(es(0), q)
    }),
    // bounded bottom-k distinct-hash sample per group (<=2 KB at k=256),
    // set-union-then-clip merge; second arg must be FOLDABLE to an
    // integer k at plan time (the buffer bound is the sketch's identity)
    ("kmv_sketch", es => {
      checkArity("kmv_sketch", 2, es)
      val k = planConstant(es(1),
          "kmv_sketch second argument (k) must be a constant integer expression") {
        case i: Int => i
        case l: Long => l.toInt
        case s: Short => s.toInt
        case b: Byte => b.toInt
      }
      KmvSketchAgg(es(0), k)
    }),
    // exact integer lower-triangle Gram matrix, fixed d*(d+1)/2-long
    // buffer with element-wise-add merge; second arg must be FOLDABLE
    // to the dimension d at plan time (it sizes the buffer)
    ("gram_lower", es => {
      checkArity("gram_lower", 2, es)
      val d = planConstant(es(1),
          "gram_lower second argument (d) must be a constant integer expression") {
        case i: Int => i
        case l: Long => l.toInt
      }
      GramLowerAgg(es(0), d)
    }))

  /** Registers the builders the session's registry lacks (a session built
    * without [[GraftExtensions]]); re-registering a present name would only
    * replace it with itself and log a WARN per call. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
  }

  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark); call_function("vector_dot", a, b)
  }
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark); call_function("vector_cosine", a, b)
  }
  def l2sq(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark); call_function("vector_l2sq", a, b)
  }
  def l1(spark: SparkSession, a: Column, b: Column): Column = {
    ensureRegistered(spark); call_function("vector_l1", a, b)
  }
}
