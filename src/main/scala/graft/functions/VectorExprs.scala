package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftx.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native Catalyst expression for the hot loop of vector similarity.
  *
  * `zip_with` + `aggregate` (the declarative form) allocates an intermediate
  * array and evaluates two lambdas per element per pair — measured ~46 s for
  * the sf0.1 all-pairs query q62. This expression compiles to a tight
  * primitive loop inside whole-stage codegen (no allocation, no virtual
  * calls), with the same left-to-right summation order, so results are
  * bit-identical to the declarative form and to DuckDB's
  * list_inner_product oracle.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  /** NULL ELEMENT semantics (r13): a null element anywhere in either
    * array yields a NULL result — SQL's contagion rule, matching what
    * the declarative zip_with/aggregate form produces FOR EQUAL-LENGTH
    * inputs (the seam-validated embedding case this kernel serves).
    * Scope note (r14, ADVICE): on UNEQUAL lengths the kernel keeps its
    * documented, spec-pinned truncate-to-common-prefix contract
    * (DotProductPropsSpec pins it over random unequal pairs), whereas
    * zip_with null-pads the shorter side and the declarative sum goes
    * NULL — so the zip_with parity claim does NOT extend to mismatched
    * lengths, and neither does the nullable derivation below (which is
    * exact for this kernel's own semantics: it never returns null for
    * containsNull=false inputs, because it never reads a padded slot).
    * Pre-r13 the kernel read the element slot raw, which on a null
    * decodes as 0.0 — the AsOf-unbox silent-wrong-answer class. The
    * element checks are
    * SCHEMA-AWARE: they are emitted only for a side whose ArrayType
    * admits null elements (a compile-time constant), so inputs typed
    * containsNull = false — what [[VectorExprs.elementsNotNull]]
    * produces after its one-pass per-ROW seam validation — keep the
    * original branch-free multiply loop (a naive per-element check in
    * the pair loop measured q62 2.24 → 3.06 s at sf0.1). */
  @transient private lazy val checkLeft: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull
  @transient private lazy val checkRight: Boolean =
    right.dataType.asInstanceOf[ArrayType].containsNull

  override def nullable: Boolean =
    left.nullable || right.nullable || checkLeft || checkRight

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if ((checkLeft && x.isNullAt(i)) || (checkRight && y.isNullAt(i)))
        return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val guards = (if (checkLeft) Seq(s"$x.isNullAt($i)") else Nil) ++
        (if (checkRight) Seq(s"$y.isNullAt($i)") else Nil)
      val guard = if (guards.isEmpty) ""
        else s"if (${guards.mkString(" || ")}) { ${ev.isNull} = true; break; }"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $guard
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All LSH band keys of a vector in ONE expression: band j gets bit k set
  * when `dot(vec, planes(rowsPerBand*j + k)) > 0`. Semantically identical to
  * a per-plane `when(graft_dot(...) > 0, 1 << k)` sum (same left-to-right
  * double fold per plane), but the 128-plane inline form generated a 29.8 KB
  * bytecode method — past HotSpot's 8 KB `DontCompileHugeMethods` limit, so
  * the whole stage ran in the bytecode interpreter (~2 s for 2 000 rows,
  * measured). Here codegen emits one call into this compiled (JIT-able)
  * method instead.
  */
case class HyperplaneBands(child: Expression, planes: Seq[Seq[Double]],
    rowsPerBand: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_bands"

  @transient private lazy val dim: Int = planes.head.length
  @transient private lazy val flat: Array[Double] = planes.flatten.toArray

  /** NULL ELEMENT semantics (r13, DotProduct's rule): any null element
    * yields a NULL result instead of silently reading the slot as 0.0
    * and banding a garbage projection. Schema-aware like DotProduct —
    * the scan is skipped entirely when the input's ArrayType is typed
    * containsNull = false (the elementsNotNull seam). The scan is
    * per-ROW here (not per pair), so even the nullable-schema cost is
    * one bitmap pass per vector. */
  @transient private lazy val checkElems: Boolean =
    child.dataType.asInstanceOf[ArrayType].containsNull

  override def nullable: Boolean = child.nullable || checkElems

  def compute(a: ArrayData): ArrayData = {
    val n0 = math.min(a.numElements(), dim)
    if (checkElems) {
      var j = 0
      while (j < n0) {
        if (a.isNullAt(j)) return null
        j += 1
      }
    }
    val out = new Array[Int](planes.length / rowsPerBand)
    var p = 0
    while (p < planes.length) {
      val off = p * dim
      var s = 0.0
      var i = 0
      while (i < n0) { s += a.getDouble(i) * flat(off + i); i += 1 }
      if (s > 0) out(p / rowsPerBand) |= 1 << (p % rowsPerBand)
      p += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { x =>
      val ref = ctx.addReferenceObj("graftBands", this,
        classOf[HyperplaneBands].getName)
      s"""
         |${ev.value} = $ref.compute($x);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Seam validation for vector columns (r13): one bitmap pass per ROW that
  * throws on a null element (corrupt vector — an index build should fail
  * loudly, not silently drop or null-propagate) and, crucially, NARROWS
  * the output type to containsNull = false. Downstream [[DotProduct]] /
  * [[HyperplaneBands]] are schema-aware, so everything after this seam
  * keeps the branch-free pair loops — per-ROW validation buys per-PAIR
  * fast paths (the all-pairs kernels run O(n²) element reads; this runs
  * O(n)). */
case class AssertArrayElementsNotNull(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType =
    child.dataType.asInstanceOf[ArrayType].copy(containsNull = false)
  override def prettyName: String = "graft_elements_not_null"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var i = 0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i))
        throw new IllegalArgumentException(VectorExprs.nullElementMessage(i))
      i += 1
    }
    x
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, { x =>
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $x.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($x.isNullAt($i)) {
         |    throw new IllegalArgumentException(
         |      "graft_elements_not_null: null element at index " + $i +
         |      " — corrupt vector; clean or drop the row upstream");
         |  }
         |}
         |${ev.value} = $x;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExprs {
  private def toExpr(c: Column): Expression =
    ColumnBridge.toExpression(c)

  private def toCol(e: Expression): Column =
    ColumnBridge.toColumn(e)

  /** The corrupt-vector error of [[elementsNotNull]] (its generated code
    * spells the same text); `graft.functions.Lloyd` raises it too. */
  private[graft] def nullElementMessage(i: Int): String =
    s"graft_elements_not_null: null element at index $i — corrupt " +
      "vector; clean or drop the row upstream"

  /** Validate-and-narrow seam: asserts every element non-null (throws on
    * corrupt vectors) and types the result containsNull = false so the
    * pair kernels skip their element guards. Apply ONCE at the load
    * projection, before any all-pairs work. */
  def elementsNotNull(a: Column): Column =
    toCol(AssertArrayElementsNotNull(toExpr(a.cast("array<double>"))))

  /** Σ a[i]·b[i] in double with sequential fold — codegen'd native loop. */
  def dotp(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a.cast("array<double>")),
                     toExpr(b.cast("array<double>"))))

  /** array<int> of LSH band keys (bit k of band j = sign of plane
    * rowsPerBand*j+k) — one compiled loop over all planes. */
  def bands(v: Column, planes: Seq[Seq[Double]], rowsPerBand: Int): Column =
    toCol(HyperplaneBands(toExpr(v.cast("array<double>")), planes, rowsPerBand))

  /** Build a HyperplaneBands from SQL-text arguments: the plane matrix and
    * band width must be FOLDABLE (literal `array(array(...), ...)` and int)
    * because the expression compiles them into its loop constants — the
    * same constraint the Column API enforces by taking them as Scala
    * values. */
  private[graft] def bandsFromSqlArgs(args: Seq[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    require(args.length == 3,
      "graft_bands(vec, planes array<array<double>>, rows_per_band) takes 3 arguments")
    val planesE = Cast(args(1), ArrayType(ArrayType(DoubleType)))
    require(planesE.foldable, "graft_bands planes must be a literal matrix")
    val rpbE = Cast(args(2), IntegerType)
    require(rpbE.foldable, "graft_bands rows_per_band must be a literal int")
    // foldable includes NULL literals — reject them here with a clear
    // message instead of a null-cast ArithmeticException deep in execution
    val pdRaw = planesE.eval()
    require(pdRaw != null, "graft_bands planes must not be NULL")
    val rpbRaw = rpbE.eval()
    require(rpbRaw != null, "graft_bands rows_per_band must not be NULL")
    val rpb = rpbRaw.asInstanceOf[Int]
    val pd = pdRaw.asInstanceOf[ArrayData]
    val planes = (0 until pd.numElements()).map { i =>
      val row = pd.getArray(i)
      require(row != null, "graft_bands planes rows must not be NULL")
      (0 until row.numElements()).map(row.getDouble).toSeq
    }.toSeq
    require(planes.nonEmpty, "graft_bands needs at least one plane")
    require(rpb > 0 && planes.length % rpb == 0,
      s"rows_per_band ($rpb) must be positive and divide the plane count " +
        s"(${planes.length})")
    HyperplaneBands(Cast(args(0), ArrayType(DoubleType)), planes, rpb)
  }

  /** Make `graft_dot(a, b)` and `graft_bands(v, planes, rows_per_band)`
    * callable from SQL text in this session — mirrors the reference's
    * name→function scalar registry seam (`logical_plan/expression.rs:96-114`)
    * with native, codegen'd expressions instead of UDFs. */
  def registerSql(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    ColumnBridge.registerFunction(spark, "graft_dot", { args =>
      require(args.length == 2, "graft_dot takes 2 array arguments")
      DotProduct(Cast(args(0), ArrayType(DoubleType)),
                 Cast(args(1), ArrayType(DoubleType)))
    })
    ColumnBridge.registerFunction(spark, "graft_bands", bandsFromSqlArgs)
  }
}
