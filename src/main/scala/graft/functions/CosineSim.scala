package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** `cosine_sim(a, b)`: single-pass cosine similarity over two double arrays.
  *
  * Native Catalyst expression with `doGenCode` so vector math stays inside
  * whole-stage codegen — the interpreted higher-order-function formulation
  * (`aggregate(zip_with(...))`) costs ~25× more per row (measured on the
  * embedding dedup query). The accumulation order (index 0..n-1, separate
  * dot/normA/normB accumulators) is identical to the left-fold HOF formula
  * and to the DuckDB oracle's `list_sum(list_transform(...))`, so results
  * stay bit-reproducible across all three.
  *
  * Edge semantics (deliberate, oracle-matching): a zero-norm input yields
  * NaN (0/sqrt(0), same as the SQL formula — guard upstream if vectors may
  * be all-zero); null array elements read as 0.0 in both eval paths.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // AbstractDataType is sql-private in Spark 4 so no ExpectsInputTypes;
  // analysis-time validation happens in checkInputDataTypes instead.
  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_sim"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.ArrayType
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"cosine_sim requires (array<double>, array<double>), got (${l.sql}, ${r.sql})")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Inner product ⟨a,b⟩ over two array<double> columns — the MIPS scoring
  * kernel (retrieval scores trained as dot products are NOT cosine: the
  * argmax differs whenever candidate norms differ). Same codegen'd
  * left-to-right loop as [[CosineSim]] minus the norm terms, so it is
  * bit-identical to the DuckDB `list_sum(list_transform(...))` fold the
  * oracle states. Length mismatch truncates to the shorter vector (the
  * CosineSim convention); null elements read as 0.0.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def prettyName: String = "dot_product"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    import org.apache.spark.sql.types.ArrayType
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"dot_product requires (array<double>, array<double>), got (${l.sql}, ${r.sql})")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** ONE table of graft's native functions — (name, class name, arity,
  * builder) — iterated by BOTH registration paths below, so the
  * extension-loaded cluster session and the `register()`-covered foreign
  * session can never expose different function sets (previously two
  * hand-maintained copies). Builders validate ARITY loudly: `exprs.head`
  * alone would silently DROP surplus arguments (`cosine_sim(a, b, c)`
  * computing from (a, b) — a wrong answer with no error) and throw a raw
  * IndexOutOfBounds on missing ones. */
private object GraftFunctionTable {
  private def arity1(name: String, mk: Expression => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a) => mk(a)
    case exprs => throw new IllegalArgumentException(
      s"function $name requires exactly 1 argument, got ${exprs.length}")
  }

  private def arity2(name: String, mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = {
    case Seq(a, b) => mk(a, b)
    case exprs => throw new IllegalArgumentException(
      s"function $name requires exactly 2 arguments, got ${exprs.length}")
  }

  val entries: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSim].getName,
      arity2("cosine_sim", CosineSim(_, _))),
    ("dot_product", classOf[DotProduct].getName,
      arity2("dot_product", DotProduct(_, _))),
    ("simhash32", classOf[SimHash32].getName, arity1("simhash32", SimHash32)),
    ("simhash60", classOf[SimHash60].getName, arity1("simhash60", SimHash60)),
    ("rp_band_codes", classOf[RpBandCodes].getName,
      arity1("rp_band_codes", RpBandCodes)),
    ("md5_prefix48", classOf[Md5Prefix48].getName,
      arity1("md5_prefix48", Md5Prefix48)),
    ("collect_sorted_capped", classOf[CollectSortedCapped].getName,
      arity2("collect_sorted_capped",
        (e, c) => CollectSortedCapped(e, c).toAggregateExpression())),
  )
}

/** Session registration for graft's native expressions (idempotent) — the
  * temp-function path for sessions not built with [[GraftExtensions]].
  * The FIRST register() on a session always createOrReplaces, so graft's
  * implementations are guaranteed even when a foreign function already
  * squats on one of the table's names (a skip-if-exists would silently let a
  * user's own `cosine_sim` win in every dedup/similarity query — wrong
  * values, no error); later calls on the same session are no-ops via a
  * weak per-session memo, keeping the many defensive per-producer
  * register() calls from spamming a replaced-function WARN per query
  * build. Extension-built sessions get the SAME builders shadowed from
  * the same table — semantically identical. */
object GraftFunctions {
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  def register(spark: SparkSession): Unit =
    if (registered.put(spark, java.lang.Boolean.TRUE) == null)
      GraftFunctionTable.entries.foreach { case (name, _, builder) =>
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          name, builder, "built-in")
      }
}

/** Production wiring: register graft's native expressions and the
  * [[PresentSort]] planner rule through `SparkSessionExtensions` (builder
  * `.withExtensions` or the `spark.sql.extensions` conf — how a cluster
  * deployment loads them). graft.Sessions applies this to every session it
  * builds. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctionTable.entries.foreach { case (name, className, builder) =>
      e.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
    e.injectQueryStagePrepRule(_ => PresentSort)
  }
}
