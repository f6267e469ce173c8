package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over Array[Float]/[Double]
  * embedding columns.
  *
  * Why an Expression and not the functions-API chain: the declarative form
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (acc,v) -> acc+v)`
  * materializes an intermediate array per row and interprets two lambda
  * closures per element; a Scala UDF would add SerDe per row. This
  * expression emits a single fused whole-stage-codegen loop (dot and both
  * norms in one pass, no allocation), which is the shape that matters when
  * scoring billions of candidate pairs.
  *
  * Determinism contract (the oracle depends on it): accumulation is a
  * strict left fold in element order, element values are widened to double
  * before multiply — bit-identical to the declarative form it replaces.
  * That parity extends to malformed inputs: a length mismatch or a null
  * element yields NULL (zip_with pads the shorter array with nulls, the
  * null product poisons the aggregate), never a silently truncated score.
  */
abstract class BinaryVectorExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // Always nullable: even non-null inputs produce NULL on dimension
  // mismatch or a null element.
  override def nullable: Boolean = true

  protected def elementType(e: Expression): DataType = e.dataType match {
    case ArrayType(et, _) => et
    case other => other
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName expects two float/double arrays, got ${left.dataType} and ${right.dataType}")
    }
  }

  /** Per-element accessor that widens to double, for interpreted eval. */
  protected def get(arr: ArrayData, et: DataType, i: Int): Double = et match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  /** Codegen accessor snippet. */
  protected def genGet(arr: String, et: DataType, i: String): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }

  /** Whether a side's ARRAY type admits null elements — when false the
    * codegen loop skips the per-element isNullAt branch entirely, keeping
    * the hot path (non-null embeddings) as tight as before. */
  protected def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }

  /** Codegen null-check condition for position `i`, or "false" when the
    * array types guarantee no null elements. */
  protected def genNullAt(a: String, b: String, i: String): String = {
    val checks = Seq(
      if (elemNullable(left)) Some(s"$a.isNullAt($i)") else None,
      if (elemNullable(right)) Some(s"$b.isNullAt($i)") else None).flatten
    if (checks.isEmpty) "false" else checks.mkString(" || ")
  }

  protected def anyNullAt(x: ArrayData, y: ArrayData, i: Int): Boolean =
    (elemNullable(left) && x.isNullAt(i)) || (elemNullable(right) && y.isNullAt(i))
}

/** dot(a, b) = sum_i a(i)*b(i), strict left fold in doubles. */
case class DotProduct(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (et1, et2) = (elementType(left), elementType(right))
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (anyNullAt(x, y, i)) return null
      acc += get(x, et1, i) * get(y, et2, i); i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n && !$bad; $i++) {
         |    if (${genNullAt(a, b, i)}) { $bad = true; }
         |    else { $acc += (${genGet(a, elementType(left), i)}) * (${genGet(b, elementType(right), i)}); }
         |  }
         |  if ($bad) { ${ev.isNull} = true; } else { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** cosine(a, b) = dot/(||a||*||b||), one fused pass; 0.0 on zero norms. */
case class CosineSimilarity(left: Expression, right: Expression) extends BinaryVectorExpression {
  override def prettyName: String = "vector_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val (et1, et2) = (elementType(left), elementType(right))
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (anyNullAt(x, y, i)) return null
      val xv = get(x, et1, i); val yv = get(y, et2, i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom"); val bad = ctx.freshName("bad")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  boolean $bad = false;
         |  for (int $i = 0; $i < $n && !$bad; $i++) {
         |    if (${genNullAt(a, b, i)}) { $bad = true; }
         |    else {
         |      double $xv = ${genGet(a, elementType(left), i)};
         |      double $yv = ${genGet(b, elementType(right), i)};
         |      $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |    }
         |  }
         |  if ($bad) {
         |    ${ev.isNull} = true;
         |  } else {
         |    double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    ${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** nearest_cid(q, cs): the fused argmin kernel behind deterministic
  * k-means / PQ assignment — bit-identical to the declarative chain it
  * replaces (optimization r17, guide §4 "eliminate non-codegen
  * expressions in the hot path"):
  *
  * {{{
  * array_min(transform(cs, c -> struct(
  *   aggregate(zip_with(q, c.m, (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),
  *             0D, (acc, x) -> acc + x) as d,
  *   c.cid as cid))).cid
  * }}}
  *
  * The declarative form is three nested CodegenFallback higher-order
  * functions: per (row × centroid) it allocates a zip_with array,
  * invokes two boxed lambdas per element, allocates a struct, and
  * array_min re-scans the transformed array — interpreter dispatch and
  * allocation dominate the actual 8-dim multiply-adds. This expression
  * runs the identical arithmetic as one fused primitive loop (and
  * whole-stage-codegens).
  *
  * Exact-parity semantics, pinned by NearestCidSpec against the
  * declarative chain:
  *  - distance = strict left fold in element order, each element
  *    widened to double before subtract — same IEEE result;
  *  - a length mismatch or null element poisons that centroid's
  *    distance to NULL (zip_with pads with nulls, the null product
  *    poisons the aggregate), and a NULL distance sorts BEFORE any
  *    real distance (struct ordering is nulls-first ascending);
  *  - ties break by cid ascending (NULL cid first), exactly the
  *    struct(d, cid) ordering;
  *  - a null cs ELEMENT is NOT skipped: transform maps it to
  *    struct(NULL, NULL) — the smallest possible struct — so it wins
  *    the argmin and the result is NULL (the chain's rule);
  *    an empty cs yields NULL.
  * Result type is the cs struct's cid field type (int or long),
  * so downstream schemas are unchanged. */
case class NearestCid(left: Expression, right: Expression) extends BinaryExpression {
  override def prettyName: String = "nearest_cid"
  override def nullable: Boolean = true

  private lazy val qElemType: DataType = left.dataType match {
    case ArrayType(et, _) => et
    case other => other
  }
  private lazy val csStruct: StructType = right.dataType match {
    case ArrayType(st: StructType, _) => st
    case _ => new StructType()
  }
  private lazy val cidType: DataType = csStruct.fields(0).dataType
  private lazy val mElemType: DataType = csStruct.fields(1).dataType match {
    case ArrayType(et, _) => et
    case other => other
  }

  override def dataType: DataType = cidType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType | LongType | FloatType | DoubleType, _),
            ArrayType(StructType(fs), _)) if fs.length == 2 =>
        (fs(0).dataType, fs(1).dataType) match {
          case (IntegerType | LongType, ArrayType(FloatType | DoubleType, _)) => true
          case _ => false
        }
      case _ => false
    }
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<numeric>, array<struct<cid int/long, m array<float/double>>>), " +
        s"got ${left.dataType} and ${right.dataType}")
  }

  private def qGet(arr: ArrayData, i: Int): Double = qElemType match {
    case IntegerType => arr.getInt(i).toDouble
    case LongType => arr.getLong(i).toDouble
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  private def mGet(arr: ArrayData, i: Int): Double = mElemType match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val q = a.asInstanceOf[ArrayData]
    val cs = b.asInstanceOf[ArrayData]
    val nq = q.numElements()
    var found = false
    var bestCid = 0L; var bestCidNull = false
    var bestD = 0.0; var bestDNull = false
    var j = 0
    val ncs = cs.numElements()
    while (j < ncs) {
      // a null cs element is transform-mapped to struct(NULL d, NULL cid)
      // by the declarative chain — the smallest struct, never skipped
      var d = 0.0; var dNull = true; var cidNull = true; var cid = 0L
      if (!cs.isNullAt(j)) {
        val st = cs.getStruct(j, 2)
        if (!st.isNullAt(1)) {
          val m = st.getArray(1)
          if (m.numElements() == nq) {
            dNull = false
            var i = 0
            while (i < nq && !dNull) {
              if (q.isNullAt(i) || m.isNullAt(i)) dNull = true
              else { val diff = qGet(q, i) - mGet(m, i); d += diff * diff }
              i += 1
            }
          }
        }
        cidNull = st.isNullAt(0)
        if (!cidNull) cid = cidType match {
          case IntegerType => st.getInt(0).toLong
          case _ => st.getLong(0)
        }
      }
      val better =
        if (!found) true
        else if (dNull != bestDNull) dNull
        else if (!dNull && java.lang.Double.compare(d, bestD) != 0)
          java.lang.Double.compare(d, bestD) < 0
        else if (cidNull != bestCidNull) cidNull
        else if (!cidNull) cid < bestCid
        else false
      if (better) {
        found = true; bestCid = cid; bestCidNull = cidNull
        bestD = d; bestDNull = dNull
      }
      j += 1
    }
    if (!found || bestCidNull) null
    else cidType match {
      case IntegerType => bestCid.toInt
      case _ => bestCid
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, cs) => {
      val j = ctx.freshName("j"); val i = ctx.freshName("i")
      val nq = ctx.freshName("nq"); val ncs = ctx.freshName("ncs")
      val st = ctx.freshName("st"); val m = ctx.freshName("m")
      val d = ctx.freshName("d"); val dNull = ctx.freshName("dNull")
      val diff = ctx.freshName("diff")
      val cid = ctx.freshName("cid"); val cidNull = ctx.freshName("cidNull")
      val found = ctx.freshName("found")
      val bestCid = ctx.freshName("bestCid"); val bestCidNull = ctx.freshName("bestCidNull")
      val bestD = ctx.freshName("bestD"); val bestDNull = ctx.freshName("bestDNull")
      val better = ctx.freshName("better")
      val qAcc = qElemType match {
        case IntegerType => s"(double) $q.getInt($i)"
        case LongType => s"(double) $q.getLong($i)"
        case FloatType => s"(double) $q.getFloat($i)"
        case _ => s"$q.getDouble($i)"
      }
      val mAcc = mElemType match {
        case FloatType => s"(double) $m.getFloat($i)"
        case _ => s"$m.getDouble($i)"
      }
      val cidAcc = cidType match {
        case IntegerType => s"(long) $st.getInt(0)"
        case _ => s"$st.getLong(0)"
      }
      val resultCast = cidType match {
        case IntegerType => s"(int) $bestCid"
        case _ => bestCid
      }
      s"""
         |int $nq = $q.numElements();
         |int $ncs = $cs.numElements();
         |boolean $found = false;
         |long $bestCid = 0L; boolean $bestCidNull = false;
         |double $bestD = 0.0; boolean $bestDNull = false;
         |for (int $j = 0; $j < $ncs; $j++) {
         |  // a null cs element maps to struct(NULL, NULL) in the
         |  // declarative chain — smallest struct, never skipped
         |  double $d = 0.0; boolean $dNull = true;
         |  boolean $cidNull = true; long $cid = 0L;
         |  if (!$cs.isNullAt($j)) {
         |    InternalRow $st = $cs.getStruct($j, 2);
         |    if (!$st.isNullAt(1)) {
         |      ArrayData $m = $st.getArray(1);
         |      if ($m.numElements() == $nq) {
         |        $dNull = false;
         |        for (int $i = 0; $i < $nq && !$dNull; $i++) {
         |          if ($q.isNullAt($i) || $m.isNullAt($i)) { $dNull = true; }
         |          else { double $diff = ($qAcc) - ($mAcc); $d += $diff * $diff; }
         |        }
         |      }
         |    }
         |    $cidNull = $st.isNullAt(0);
         |    if (!$cidNull) { $cid = ($cidAcc); }
         |  }
         |  boolean $better;
         |  if (!$found) { $better = true; }
         |  else if ($dNull != $bestDNull) { $better = $dNull; }
         |  else if (!$dNull && java.lang.Double.compare($d, $bestD) != 0) {
         |    $better = java.lang.Double.compare($d, $bestD) < 0;
         |  }
         |  else if ($cidNull != $bestCidNull) { $better = $cidNull; }
         |  else if (!$cidNull) { $better = $cid < $bestCid; }
         |  else { $better = false; }
         |  if ($better) {
         |    $found = true; $bestCid = $cid; $bestCidNull = $cidNull;
         |    $bestD = $d; $bestDNull = $dNull;
         |  }
         |}
         |if (!$found || $bestCidNull) { ${ev.isNull} = true; }
         |else { ${ev.value} = $resultCast; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Column API + runtime registration for the engine's functions. Spark
  * 4's public Column API no longer wraps raw Expressions, so the Column
  * form goes through the function registry + call_function. */
object VectorFunctions {

  /** Registers the [[EngineFunctions]] entries this session lacks, for
    * spark.sql + Column use. A session built with `graft.GraftExtensions`
    * already has them all, so this is a few registry lookups; query defs
    * call it defensively before every run. Registering only what is
    * missing also keeps the log free of `SimpleFunctionRegistry: ...
    * replaced` warnings. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    EngineFunctions.all.foreach { f =>
      if (!registry.functionExists(f.id)) registry.registerFunction(f.id, f.info, f.builder)
    }
  }

  def nearestCid(spark: SparkSession, q: Column, cs: Column): Column = {
    registerAll(spark)
    org.apache.spark.sql.functions.call_function("nearest_cid", q, cs)
  }
}
