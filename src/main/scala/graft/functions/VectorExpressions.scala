package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot path (SURVEY §2.L
  * sim_* / dedup_embedding_cosine).
  *
  * Why not `aggregate(zip_with(...))`: higher-order functions evaluate a
  * lambda per element through interpreted `LambdaFunction` plumbing —
  * fine for ad-hoc use, but the ANN bucket join evaluates the dot
  * product once per candidate PAIR, and at 100 TB that inner loop is
  * the single hottest code in the engine. These expressions compile to
  * a tight primitive `for` loop inside whole-stage codegen (`doGenCode`
  * below), reading the underlying `ArrayData` without boxing or
  * per-element virtual calls, and fall back to an equally-tight
  * interpreted loop where codegen is disabled.
  *
  * `array<float>` (raw embeddings), `array<double>` (unit vectors) and
  * `array<tinyint>` (int8 scalar-quantized vectors, sim_ann_quantized —
  * the byte path keeps the candidate join's shuffle 4× narrower than
  * float32 with no per-pair array widening) element types are
  * supported, mixed freely; the result is always double.
  */
private[graft] object VecArrayHelpers {
  def checkVecTypes(ts: DataType*): TypeCheckResult =
    if (ts.forall {
      case ArrayType(FloatType | DoubleType | ByteType, _) => true
      case _ => false
    }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"expected array<float>, array<double> or array<tinyint> inputs, got ${ts.mkString(", ")}")
}

private[graft] trait VecArrayHelpers { self: Expression =>
  protected def elemType(t: DataType): DataType = t match {
    case ArrayType(e, _) => e
    case other => other // unreachable after checkInputDataTypes
  }

  /** Codegen fragment reading element i of `arr` as a double. */
  protected def getAsDouble(arr: String, i: String, et: DataType): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case ByteType => s"(double) $arr.getByte($i)"
    case _ => s"$arr.getDouble($i)"
  }

  protected def readAsDouble(a: ArrayData, i: Int, et: DataType): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case ByteType => a.getByte(i).toDouble
    case _ => a.getDouble(i)
  }

  /** Whether the array SCHEMA admits null elements. A null element read
    * through getDouble/getFloat silently yields 0.0 (both
    * GenericArrayData and UnsafeArrayData), which would corrupt a
    * similarity instead of surfacing the bad input — so every vector
    * expression null-checks elements and returns NULL for the row. The
    * guard is generated ONLY when this is true: containsNull=false
    * columns pay zero codegen overhead.
    */
  protected def mayContainNull(t: DataType): Boolean = t match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  /** Interpreted-path twin of the generated guard: true if any of the
    * first `n` elements is null.
    */
  protected def hasNullIn(a: ArrayData, n: Int): Boolean = {
    var i = 0
    while (i < n) { if (a.isNullAt(i)) return true; i += 1 }
    false
  }
}

/** dot(a, b): Σ aᵢ·bᵢ over min(len(a), len(b)). */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with VecArrayHelpers {

  override def checkInputDataTypes(): TypeCheckResult =
    VecArrayHelpers.checkVecTypes(left.dataType, right.dataType)

  override def dataType: DataType = DoubleType

  // null ELEMENTS null the result, so nullability must admit it even
  // when the array columns themselves are non-nullable
  override def nullable: Boolean =
    super.nullable || mayContainNull(left.dataType) || mayContainNull(right.dataType)

  private lazy val lType = elemType(left.dataType)
  private lazy val rType = elemType(right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    // schema-gated like the codegen path: containsNull=false arrays
    // pay no per-row null scan in interpreted eval either
    if ((mayContainNull(left.dataType) && hasNullIn(a, n)) ||
        (mayContainNull(right.dataType) && hasNullIn(b, n))) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += readAsDouble(a, i, lType) * readAsDouble(b, i, rType)
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullGuard =
        (if (mayContainNull(left.dataType)) Seq(s"$a.isNullAt($i)") else Nil) ++
          (if (mayContainNull(right.dataType)) Seq(s"$b.isNullAt($i)") else Nil) match {
          case Nil => ""
          case cs => s"if (${cs.mkString(" || ")}) { ${ev.isNull} = true; break; }"
        }
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  $acc += ${getAsDouble(a, i, lType)} * ${getAsDouble(b, i, rType)};
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** l2norm(a): √(Σ aᵢ²). */
case class VecNorm(child: Expression)
    extends UnaryExpression with VecArrayHelpers {

  override def checkInputDataTypes(): TypeCheckResult =
    VecArrayHelpers.checkVecTypes(child.dataType)

  override def dataType: DataType = DoubleType

  override def nullable: Boolean =
    super.nullable || mayContainNull(child.dataType)

  private lazy val eType = elemType(child.dataType)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (mayContainNull(child.dataType) && hasNullIn(a, n)) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val x = readAsDouble(a, i, eType)
      acc += x * x
      i += 1
    }
    math.sqrt(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val nullGuard =
        if (mayContainNull(child.dataType))
          s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  double $x = ${getAsDouble(a, i, eType)};
         |  $acc += $x * $x;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): VecNorm = copy(child = c)
}

/** cosine(a, b): dot/(‖a‖·‖b‖) in ONE pass over both arrays — for
  * un-normalized inputs, saves materializing unit vectors entirely.
  * Returns 0 when either norm is 0.
  */
case class VecCosine(left: Expression, right: Expression)
    extends BinaryExpression with VecArrayHelpers {

  override def checkInputDataTypes(): TypeCheckResult =
    VecArrayHelpers.checkVecTypes(left.dataType, right.dataType)

  override def dataType: DataType = DoubleType

  override def nullable: Boolean =
    super.nullable || mayContainNull(left.dataType) || mayContainNull(right.dataType)

  private lazy val lType = elemType(left.dataType)
  private lazy val rType = elemType(right.dataType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    if ((mayContainNull(left.dataType) && hasNullIn(a, n)) ||
        (mayContainNull(right.dataType) && hasNullIn(b, n))) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = readAsDouble(a, i, lType)
      val y = readAsDouble(b, i, rType)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val nullGuard =
        (if (mayContainNull(left.dataType)) Seq(s"$a.isNullAt($i)") else Nil) ++
          (if (mayContainNull(right.dataType)) Seq(s"$b.isNullAt($i)") else Nil) match {
          case Nil => ""
          case cs => s"if (${cs.mkString(" || ")}) { ${ev.isNull} = true; break; }"
        }
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  double $x = ${getAsDouble(a, i, lType)};
         |  double $y = ${getAsDouble(b, i, rType)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosine =
    copy(left = l, right = r)
}

/** quantize8(a): symmetric int8 scalar quantization
  * round(aᵢ · 127/max|a|) as array<tinyint> — one native pass instead
  * of the array_max + transform HOF pair (measured ~2× on the
  * sim_ann_quantized prep stage). Ties round half-away-from-zero by an
  * explicit fractional-part compare (C `round` / DuckDB `round`
  * semantics) — NOT `t + 0.5` truncation, whose FP addition crosses
  * the integer boundary for edge doubles like 0.49999999999999994.
  * Zero vectors quantize to zero vectors.
  */
case class VecQuantize8(child: Expression)
    extends UnaryExpression with VecArrayHelpers {

  override def checkInputDataTypes(): TypeCheckResult =
    VecArrayHelpers.checkVecTypes(child.dataType)

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  override def nullable: Boolean =
    super.nullable || mayContainNull(child.dataType)

  private lazy val eType = elemType(child.dataType)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (mayContainNull(child.dataType) && hasNullIn(a, n)) return null
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(readAsDouble(a, i, eType))
      if (x > maxAbs) maxAbs = x
      i += 1
    }
    val scale = 127.0 / math.max(maxAbs, 1e-30)
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      val t = readAsDouble(a, i, eType) * scale
      val at = math.abs(t)
      val fl = math.floor(at)
      val r = if (at - fl >= 0.5) fl + 1.0 else fl
      out(i) = (if (t < 0) -r else r).toByte
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val maxAbs = ctx.freshName("maxAbs")
      val scale = ctx.freshName("scale")
      val t = ctx.freshName("t")
      val out = ctx.freshName("out")
      val x = ctx.freshName("x")
      val at = ctx.freshName("at")
      val fl = ctx.freshName("fl")
      val r = ctx.freshName("r")
      val nullGuard =
        if (mayContainNull(child.dataType))
          s"if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |double $maxAbs = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullGuard
         |  double $x = java.lang.Math.abs(${getAsDouble(a, i, eType)});
         |  if ($x > $maxAbs) $maxAbs = $x;
         |}
         |if (!${ev.isNull}) {
         |  double $scale = 127.0 / java.lang.Math.max($maxAbs, 1e-30);
         |  byte[] $out = new byte[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $t = ${getAsDouble(a, i, eType)} * $scale;
         |    double $at = java.lang.Math.abs($t);
         |    double $fl = java.lang.Math.floor($at);
         |    double $r = ($at - $fl >= 0.5) ? $fl + 1.0 : $fl;
         |    $out[$i] = (byte) ($t < 0 ? -$r : $r);
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): VecQuantize8 =
    copy(child = c)
}

/** pq_encode(vec, cb, m, k): product-quantization codes — cb is the
  * FLATTENED `[m][k][j]` codebook (m·k·sub doubles, a plan literal;
  * sub = len(cb)/(m·k)), vec is the input vector (float/double/byte).
  * Code of subspace mi = argmin over k of the L2² between the
  * subvector `vec[mi·sub … mi·sub+sub)` and codebook row (mi, k),
  * FIRST minimum on ties, accumulated left-to-right (matches a DuckDB
  * in-order list_reduce fold bit-for-bit). Returns array<int> of m
  * codes. One tight loop instead of the m·k·sub-node Column-expression
  * tree, which falls out of whole-stage codegen on size and evaluates
  * interpreted (measured ~40× slower at sf0.1).
  */
case class PqEncode(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with VecArrayHelpers {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = VecArrayHelpers.checkVecTypes(first.dataType)
    if (vecOk != TypeCheckResult.TypeCheckSuccess) vecOk
    else if (!(second.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckFailure(s"codebook must be array<double>, got ${second.dataType}")
    else if (!second.foldable || !third.foldable || !fourth.foldable)
      TypeCheckResult.TypeCheckFailure("codebook, m and k must be literals")
    else if (third.dataType != IntegerType || fourth.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("m and k must be int literals")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean =
    super.nullable || mayContainNull(first.dataType)

  private lazy val eType = elemType(first.dataType)
  private lazy val m = third.eval().asInstanceOf[Int]
  private lazy val k = fourth.eval().asInstanceOf[Int]
  // codebook materialized once per executor as a primitive array;
  // a wrong-sized codebook (not m·k·sub doubles) must fail loudly, not
  // produce sub=0 and all-zero codes
  private lazy val cb: Array[Double] = {
    val a = second.eval().asInstanceOf[ArrayData]
    val arr = Array.tabulate(a.numElements())(a.getDouble)
    require(m > 0 && k > 0 && arr.length >= m * k && arr.length % (m * k) == 0,
      s"pq_encode: codebook length ${arr.length} is not a positive multiple of m*k = ${m * k}")
    arr
  }
  private lazy val subLen = cb.length / (m * k)

  override def nullSafeEval(v: Any, c: Any, mv: Any, kv: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val sub = subLen
    // short vectors would read past the UnsafeArrayData buffer —
    // adjacent-memory garbage, not an error — so length-check per row
    require(x.numElements() >= m * sub,
      s"pq_encode: vector length ${x.numElements()} < m*sub = ${m * sub}")
    if (mayContainNull(first.dataType) && hasNullIn(x, m * sub)) return null
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      var best = Double.MaxValue
      var bestK = 0
      var ki = 0
      while (ki < k) {
        var dist = 0.0
        var j = 0
        val base = (mi * k + ki) * sub
        while (j < sub) {
          val d = readAsDouble(x, mi * sub + j, eType) - cb(base + j)
          dist += d * d
          j += 1
        }
        if (dist < best) { best = dist; bestK = ki }
        ki += 1
      }
      out(mi) = bestK
      mi += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cb, "double[]") // forces the require
    nullSafeCodeGen(ctx, ev, (x, _, _, _) => {
      val sub = ctx.freshName("sub")
      val out = ctx.freshName("out")
      val mi = ctx.freshName("mi")
      val ki = ctx.freshName("ki")
      val j = ctx.freshName("j")
      val best = ctx.freshName("best")
      val bestK = ctx.freshName("bestK")
      val dist = ctx.freshName("dist")
      val dd = ctx.freshName("dd")
      val base = ctx.freshName("base")
      val nn = ctx.freshName("nn")
      val nullGuard =
        if (mayContainNull(first.dataType))
          s"""for (int $nn = 0; $nn < $m * $sub; $nn++) {
             |  if ($x.isNullAt($nn)) { ${ev.isNull} = true; break; }
             |}""".stripMargin
        else ""
      s"""
         |int $sub = $cbRef.length / ${m * k};
         |if ($x.numElements() < $m * $sub) {
         |  throw new IllegalArgumentException("pq_encode: vector length " +
         |    $x.numElements() + " < m*sub = " + ($m * $sub));
         |}
         |$nullGuard
         |if (!${ev.isNull}) {
         |  int[] $out = new int[$m];
         |  for (int $mi = 0; $mi < $m; $mi++) {
         |    double $best = Double.MAX_VALUE;
         |    int $bestK = 0;
         |    for (int $ki = 0; $ki < $k; $ki++) {
         |      double $dist = 0.0;
         |      int $base = ($mi * $k + $ki) * $sub;
         |      for (int $j = 0; $j < $sub; $j++) {
         |        double $dd = ${getAsDouble(x, s"($mi * $sub + $j)", eType)} - $cbRef[$base + $j];
         |        $dist += $dd * $dd;
         |      }
         |      if ($dist < $best) { $best = $dist; $bestK = $ki; }
         |    }
         |    $out[$mi] = $bestK;
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression, d: Expression): PqEncode = PqEncode(a, b, c, d)
}

/** Identity retag: same value, same nulls, but the DECLARED element
  * type drops `containsNull`. The r11 element-null guards in the
  * vector expressions above are schema-gated (`mayContainNull`), which
  * is only as good as the schema: the driver's embeddings parquet
  * footer declares `element: nullable` even though no null element
  * exists in the data, so every vector expression on the corpus hot
  * path was compiling the per-element `isNullAt` branch and reporting
  * nullable — measured ~2× on the multi-table LSH rows (6 tables × 6
  * planes × 64 dims per row, r11 bench). This node is the
  * KnownNotNull-style fix: applied at the loader AFTER the corpus
  * null-freeness is validated (VectorExpressionsSpec pins it against
  * the actual test parquet), it compiles to a plain forward of the
  * child's ExprCode — zero instructions — and lets the guards gate off
  * exactly as their scaladoc intends, while genuinely nullable inputs
  * that skip the retag keep the full guard.
  *
  * CONTRACT: this is a promise, not a check. A null element read
  * through a retagged column yields silent 0.0 (the corruption the
  * guard exists to stop) — so only apply where an ingest-time
  * validation or schema authority backs the claim.
  */
case class KnownElementsNotNull(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expected an array column, got $t")
  }

  override def dataType: DataType = child.dataType match {
    case ArrayType(et, _) => ArrayType(et, containsNull = false)
    case other => other // unreachable after checkInputDataTypes
  }

  override protected def nullSafeEval(v: Any): Any = v

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(c: Expression): KnownElementsNotNull =
    copy(child = c)
}

/** Registers the native expressions as SQL functions via the public
  * SparkSessionExtensions hook. Sessions are built with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (see [[graft.Sessions]]); the Column API below resolves through the
  * registry with `call_function`, keeping us off private constructors.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (es: Seq[Expression]) => VecDot(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("vec_norm"),
      new ExpressionInfo(classOf[VecNorm].getName, "vec_norm"),
      (es: Seq[Expression]) => VecNorm(es.head)))
    ext.injectFunction((FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[VecCosine].getName, "vec_cosine"),
      (es: Seq[Expression]) => VecCosine(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      (es: Seq[Expression]) => SimHash32(es.head)))
    ext.injectFunction((FunctionIdentifier("token_poly_hash"),
      new ExpressionInfo(classOf[TokenPolyHash].getName, "token_poly_hash"),
      (es: Seq[Expression]) => TokenPolyHash(es.head)))
    ext.injectFunction((FunctionIdentifier("vec_quantize8"),
      new ExpressionInfo(classOf[VecQuantize8].getName, "vec_quantize8"),
      (es: Seq[Expression]) => VecQuantize8(es.head)))
    ext.injectFunction((FunctionIdentifier("pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "pq_encode"),
      (es: Seq[Expression]) => PqEncode(es(0), es(1), es(2), es(3))))
    ext.injectFunction((FunctionIdentifier("lz78_stats"),
      new ExpressionInfo(classOf[Lz78Stats].getName, "lz78_stats"),
      (es: Seq[Expression]) => Lz78Stats(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (es: Seq[Expression]) => NfcNormalize(es.head)))
    ext.injectFunction((FunctionIdentifier("vec_elems_nonnull"),
      new ExpressionInfo(classOf[KnownElementsNotNull].getName, "vec_elems_nonnull"),
      (es: Seq[Expression]) => KnownElementsNotNull(es.head)))
    ext.injectFunction((FunctionIdentifier("mg_topk"),
      new ExpressionInfo(classOf[MisraGriesTopK].getName, "mg_topk"),
      (es: Seq[Expression]) => {
        // a clear resolution-time message beats eval(null) exploding on
        // an AttributeReference deep inside the planner
        require(es(1).foldable, "mg_topk(item, k): k must be a literal")
        MisraGriesTopK(es(0), es(1).eval(null).asInstanceOf[Number].intValue())
      }))
    // Spark's own bloom-filter sketch pair, surfaced as SQL functions:
    // the engine builds these internally for runtime join filters but
    // does not register them — injection makes the build/probe pair a
    // first-class pipeline primitive (see ops.RelationalOps
    // join_bloom_prefilter for the semi-join shape)
    ext.injectFunction((FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (es: Seq[Expression]) => {
        require(es(1).foldable, "bloom_agg(item, n): n must be a literal")
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          es(0), es(1).eval(null).asInstanceOf[Number].longValue())
      }))
    ext.injectFunction((FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_contains"),
      (es: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es(0), es(1))))
    // small pushed-label GDX slices run on the driver, with no Spark job
    ext.injectPlannerStrategy(s => new graft.sources.GdxDriverScan(s))
  }
}

/** Column-API entry points for the native vector expressions. */
object vec {
  import org.apache.spark.sql.functions.call_function

  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)
  def norm(a: Column): Column = call_function("vec_norm", a)
  def cosine(a: Column, b: Column): Column = call_function("vec_cosine", a, b)
  def quantize8(a: Column): Column = call_function("vec_quantize8", a)

  /** Retag `a`'s elements as non-null (see [[KnownElementsNotNull]]'s
    * contract: only after ingest-time validation).
    */
  def elemsNonNull(a: Column): Column = call_function("vec_elems_nonnull", a)

  /** PQ codes of `a` against the flattened [m][k][j] codebook literal. */
  def pqEncode(a: Column, cbFlat: Column, m: Int, k: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("pq_encode", a, cbFlat, lit(m), lit(k))
  }
}
