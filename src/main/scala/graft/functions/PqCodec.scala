package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native PRODUCT-QUANTIZATION encoder: the [[graft.operators.Similarity.qSim13]]
  * hot loop — per input vector, the argmin-L2 code in each of `subspaces`
  * equal slices against a fixed codebook — as ONE codegen'd expression.
  *
  * The higher-order-function formulation (`transform(sequence(...),
  * array_min(transform(...)))`) is semantically identical but runs
  * INTERPRETED: Spark's lambda functions don't participate in whole-stage
  * codegen, so a 16-code × 64-dim encode costs ~1024 boxed lambda
  * evaluations per row — measured as the dominant stage of the suite's
  * most expensive similarity query. Here the codebook rides
  * `addReferenceObj` as a flat `long[]` (plan text stays O(1), the
  * [[BloomMightContain]] discipline) and the three nested loops compile
  * into the fused scan loop.
  *
  * Semantics pinned to the HOF form and the DuckDB oracle: exact BIGINT
  * squared-L2 per (subspace, code), argmin with ties to the LOWEST code
  * (strict `<` over ascending code order). Null input → null; input
  * length must equal the codebook's vector length. Constructed directly
  * via [[org.apache.spark.sql.GraftColumn.of]] — the codebook is bound
  * state, not SQL text. */
case class PqEncode(child: Expression, codebook: Array[Array[Long]],
                    subspaces: Int) extends UnaryExpression {

  private val dims = PqCodebook.dims("pq_encode", codebook, subspaces)
  private val sub = dims / subspaces

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    PqCodebook.checkInput("pq_encode", child.dataType)

  @transient private lazy val isByte: Boolean = PqCodebook.isByte(child.dataType)

  /** Flat row-major codebook (code × dim) — one JVM object per generated
    * class, indexed arithmetic in the fused loop. */
  @transient private lazy val flat: Array[Long] = codebook.flatten

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    PqCodebook.checkLength("pq_encode", arr.numElements(), dims)
    val k = codebook.length
    val out = new Array[Int](subspaces)
    var m = 0
    while (m < subspaces) {
      var bestC = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < k) {
        var d = 0L
        var j = 0
        while (j < sub) {
          val x = if (isByte) arr.getByte(m * sub + j).toLong
                  else arr.getLong(m * sub + j)
          val diff = x - flat(c * dims + m * sub + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; bestC = c }
        c += 1
      }
      out(m) = bestC
      m += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", flat, "long[]")
    val k = codebook.length
    val get = if (isByte) "getByte" else "getLong"
    nullSafeCodeGen(ctx, ev, v => {
      val out = ctx.freshName("pqOut")
      val m = ctx.freshName("m"); val c = ctx.freshName("c")
      val j = ctx.freshName("j"); val d = ctx.freshName("d")
      val diff = ctx.freshName("diff")
      val bestC = ctx.freshName("bestC"); val bestD = ctx.freshName("bestD")
      s"""${PqCodebook.checkLengthCode("pq_encode", v, dims)}
         |int[] $out = new int[$subspaces];
         |for (int $m = 0; $m < $subspaces; $m++) {
         |  int $bestC = 0; long $bestD = Long.MAX_VALUE;
         |  for (int $c = 0; $c < $k; $c++) {
         |    long $d = 0L;
         |    for (int $j = 0; $j < $sub; $j++) {
         |      long $diff = (long) $v.$get($m * $sub + $j) - $cb[$c * $dims + $m * $sub + $j];
         |      $d += $diff * $diff;
         |    }
         |    if ($d < $bestD) { $bestD = $d; $bestC = $c; }
         |  }
         |  $out[$m] = $bestC;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The codebook and input contract [[PqEncode]] and [[PqLut]] share. */
private[functions] object PqCodebook {
  /** Vector length of `codebook`: non-empty, rectangular, and split by
    * `subspaces` into equal slices; `fn` names the kernel in the message. */
  def dims(fn: String, codebook: Array[Array[Long]], subspaces: Int): Int = {
    // non-emptiness FIRST (ADVICE r10): `codebook.head` on an empty codebook
    // would die with NoSuchElementException instead of the contract message
    require(codebook.nonEmpty, s"$fn: codebook must be non-empty")
    val d = codebook.head.length
    require(subspaces > 0 && d % subspaces == 0 && codebook.forall(_.length == d),
      s"codebook must be rectangular with dims divisible by $subspaces")
    d
  }

  /** BIGINT (the qSim13 quantized frame) or TINYINT (the durable
    * `assignment_int8` serving lane, qSim14) input: values are identical by
    * the quantizer's range contract, so both give the same result. */
  def checkInput(fn: String, t: DataType): TypeCheckResult = t match {
    case ArrayType(LongType, _) | ArrayType(ByteType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects ARRAY<BIGINT> or ARRAY<TINYINT>, got ${other.sql}")
  }

  def isByte(t: DataType): Boolean = t.asInstanceOf[ArrayType].elementType == ByteType

  /** The eval-time length check (ADVICE r10): a short input surfaces as the
    * documented error, not a raw ArrayIndexOutOfBounds from the loop. */
  def checkLength(fn: String, n: Int, dims: Int): Unit =
    if (n != dims) throw new IllegalArgumentException(
      s"$fn: input length $n != codebook vector length $dims")

  /** The same check as Java source for a generated loop over `v`. */
  def checkLengthCode(fn: String, v: String, dims: Int): String =
    s"""
       |if ($v.numElements() != $dims) {
       |  throw new IllegalArgumentException(
       |    "$fn: input length " + $v.numElements() +
       |    " != codebook vector length " + $dims);
       |}""".stripMargin
}

/** Native PQ asymmetric-distance LOOKUP TABLE: per quantized probe vector
  * `qq`, `lut[m][c]` = Σ_j qq[m·sub + j] · codebook[c][m·sub + j], the
  * integer dot of the probe's m-th slice with code c's m-th slice, for
  * every subspace m < `subspaces` and code c (`sub` = dims / subspaces).
  * [[PqLutSum]] then scores a candidate as Σ_m lut[m][codes[m]].
  *
  * Identical to the HOF form PlanAuditSpec pins it to, `transform(sequence(0,
  * subspaces-1), m -> transform(sequence(0, k-1), cc -> aggregate(sequence(1,
  * sub), 0L, (acc, j) -> acc + CAST(element_at(qq, m*sub+j) AS BIGINT) *
  * element_at(element_at(cb, cc+1), m*sub+j))))`, in exact BIGINT, but
  * codegen'd: the HOF ran subspaces × k × sub interpreted lambda steps per
  * probe row. Same discipline as [[PqEncode]]: the codebook is bound through
  * `addReferenceObj` as a flat `long[]` (plan text stays O(1)), input is
  * ARRAY<BIGINT> or ARRAY<TINYINT>, null input → null, and an input whose
  * length differs from the codebook's vector length raises
  * `pq_lut: input length N != codebook vector length D`. */
case class PqLut(child: Expression, codebook: Array[Array[Long]],
                 subspaces: Int) extends UnaryExpression {

  private val dims = PqCodebook.dims("pq_lut", codebook, subspaces)
  private val sub = dims / subspaces

  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false), containsNull = false)
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    PqCodebook.checkInput("pq_lut", child.dataType)

  @transient private lazy val isByte: Boolean = PqCodebook.isByte(child.dataType)
  @transient private lazy val flat: Array[Long] = codebook.flatten

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    PqCodebook.checkLength("pq_lut", arr.numElements(), dims)
    val k = codebook.length
    val rows = new Array[Any](subspaces)
    var m = 0
    while (m < subspaces) {
      val row = new Array[Long](k)
      var c = 0
      while (c < k) {
        var d = 0L
        var j = 0
        while (j < sub) {
          val x = if (isByte) arr.getByte(m * sub + j).toLong
                  else arr.getLong(m * sub + j)
          d += x * flat(c * dims + m * sub + j)
          j += 1
        }
        row(c) = d
        c += 1
      }
      rows(m) = UnsafeArrayData.fromPrimitiveArray(row)
      m += 1
    }
    new GenericArrayData(rows)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("pqCodebook", flat, "long[]")
    val k = codebook.length
    val get = if (isByte) "getByte" else "getLong"
    nullSafeCodeGen(ctx, ev, v => {
      val rows = ctx.freshName("lutRows"); val row = ctx.freshName("lutRow")
      val m = ctx.freshName("m"); val c = ctx.freshName("c")
      val j = ctx.freshName("j"); val d = ctx.freshName("d")
      s"""${PqCodebook.checkLengthCode("pq_lut", v, dims)}
         |Object[] $rows = new Object[$subspaces];
         |for (int $m = 0; $m < $subspaces; $m++) {
         |  long[] $row = new long[$k];
         |  for (int $c = 0; $c < $k; $c++) {
         |    long $d = 0L;
         |    for (int $j = 0; $j < $sub; $j++) {
         |      $d += (long) $v.$get($m * $sub + $j) * $cb[$c * $dims + $m * $sub + $j];
         |    }
         |    $row[$c] = $d;
         |  }
         |  $rows[$m] = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |    .fromPrimitiveArray($row);
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($rows);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native integer dot product over two integer-array columns — the int8
  * exact-rescoring kernel ([[graft.operators.Similarity.qSim13]]'s truth
  * lane; the same shape qSim9/qSim11 rescore with). Identical to
  * `aggregate(zip_with(a, b, (x, y) -> CAST(x AS BIGINT) * CAST(y AS
  * BIGINT)), 0L, (s, v) -> s + v)` on equal-length inputs, but codegen'd:
  * 64 multiplies in the fused loop instead of 64 interpreted lambda calls
  * per joined row. Each side may be ARRAY<BIGINT> or ARRAY<TINYINT>
  * (the `assignment_int8` serving lane / the quantized probe vector) —
  * TINYINT elements sign-extend exactly like the HOF form's BIGINT cast.
  * Null if either side is null; lengths must match (the fixed-dim vector
  * contract). */
case class IntDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) | ArrayType(ByteType, _) => true
    case _                                               => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"int_dot expects ARRAY<BIGINT>|ARRAY<TINYINT> sides, " +
        s"got ${left.dataType.sql}, ${right.dataType.sql}")

  private def isByte(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == ByteType
  @transient private lazy val leftByte = isByte(left.dataType)
  @transient private lazy val rightByte = isByte(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    require(x.numElements() == y.numElements(),
      s"int_dot: length mismatch ${x.numElements()} vs ${y.numElements()}")
    var s = 0L
    var i = 0
    val n = x.numElements()
    while (i < n) {
      val xv = if (leftByte) x.getByte(i).toLong else x.getLong(i)
      val yv = if (rightByte) y.getByte(i).toLong else y.getLong(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val s = ctx.freshName("s")
      val getL = if (leftByte) "getByte" else "getLong"
      val getR = if (rightByte) "getByte" else "getLong"
      s"""
         |long $s = 0L;
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException("int_dot: length mismatch");
         |}
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  $s += (long) $a.$getL($i) * (long) $b.$getR($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Native ADC lookup-sum: `pq_lut_sum(lut, codes)` = Σ_m lut[m][codes[m]]
  * — the per-candidate inner loop of the IVF-PQ probe
  * ([[graft.operators.Similarity.IvfIndex.probePq]]). Identical to
  * `aggregate(sequence(0, n-1), 0L, (acc, m) -> acc +
  * element_at(element_at(lut, m+1), CAST(element_at(codes, m+1) + 1 AS
  * INT)))`, but codegen'd: 8 array reads per candidate instead of 8
  * interpreted lambda rounds (each building a sequence iterator and boxing
  * every index). The LUT it reads is built by [[PqLut]]. Null if either
  * side is null; the code count must match the LUT's subspace count. */
case class PqLutSum(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(LongType, _), _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_lut_sum expects (ARRAY<ARRAY<BIGINT>>, ARRAY<INT>), " +
          s"got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]; val codes = b.asInstanceOf[ArrayData]
    require(lut.numElements() == codes.numElements(),
      s"pq_lut_sum: ${codes.numElements()} codes vs ${lut.numElements()} LUT rows")
    var s = 0L
    var m = 0
    val n = codes.numElements()
    while (m < n) {
      s += lut.getArray(m).getLong(codes.getInt(m))
      m += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val m = ctx.freshName("m"); val s = ctx.freshName("s")
      s"""
         |long $s = 0L;
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException("pq_lut_sum: length mismatch");
         |}
         |for (int $m = 0; $m < $b.numElements(); $m++) {
         |  $s += $a.getArray($m).getLong($b.getInt($m));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
