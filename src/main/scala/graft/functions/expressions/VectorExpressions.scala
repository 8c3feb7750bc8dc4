package graft.functions.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression for cosine similarity over two
  * `array<float>` columns — the ONE place this engine drops below the
  * public functions API (SURVEY §7.4: "the only place Catalyst extension
  * points enter"). Rationale: the `zip_with`/`aggregate` formulation runs
  * interpreted (higher-order functions sit outside whole-stage codegen)
  * and allocates a lambda-variable frame per element, which is the inner
  * loop of brute-force top-k — |corpus|·|queries| evaluations. This
  * expression generates a tight primitive `for` loop via `doGenCode`, so
  * the scorer stays inside whole-stage codegen with zero allocations.
  *
  * Semantics are IDENTICAL to the `zip_with`/`aggregate` cosine (same
  * left-to-right double accumulation, norms over each full array, 0.0 for
  * zero-norm inputs) — SimilaritySpec asserts bit-equality on real data —
  * INCLUDING degenerate shapes, in the HOF form's exact precedence: a zero norm
  * product yields 0.0 FIRST (its `when(nn > 0, …).otherwise(0.0)` fires
  * before the null dot is consulted, even for mismatched lengths), and
  * only then do unequal lengths with live norms return NULL (the
  * `zip_with` null padding propagating) — so a truncated/corrupt
  * embedding SURFACES instead of scoring as a plausible-looking depressed
  * similarity. Array elements must be non-null (embedding vectors; null
  * ELEMENTS would read as 0.0f here, while the HOF form would return
  * null). The equal-length hot path is one fused loop (dot and both
  * norms in a single pass — bit-identical, the accumulators are
  * independent left-to-right sums).
  */
final case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  // (return type inferred — Seq[AbstractDataType] is private[sql])
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nX = x.numElements()
    val nY = y.numElements()
    if (nX == nY) {
      var dot = 0.0
      var nx = 0.0
      var ny = 0.0
      var i = 0
      while (i < nX) {
        val vx = x.getFloat(i).toDouble
        val vy = y.getFloat(i).toDouble
        dot += vx * vy; nx += vx * vx; ny += vy * vy
        i += 1
      }
      val nn = math.sqrt(nx) * math.sqrt(ny)
      if (nn > 0.0) dot / nn else 0.0
    } else {
      // mismatched lengths: norms still run over each FULL array (the HOF
      // precedence) — zero norm product is 0.0, live norms are NULL
      var nx = 0.0
      var i = 0
      while (i < nX) { val v = x.getFloat(i).toDouble; nx += v * v; i += 1 }
      var ny = 0.0
      i = 0
      while (i < nY) { val v = y.getFloat(i).toDouble; ny += v * v; i += 1 }
      if (math.sqrt(nx) * math.sqrt(ny) > 0.0) null else 0.0
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val nn = ctx.freshName("nn")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val vx = ctx.freshName("vx")
      val vy = ctx.freshName("vy")
      s"""
         |int $n = $a.numElements();
         |if ($n == $b.numElements()) {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $vx = (double) $a.getFloat($i);
         |    double $vy = (double) $b.getFloat($i);
         |    $dot += $vx * $vy; $nx += $vx * $vx; $ny += $vy * $vy;
         |  }
         |  double $nn = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
         |  ${ev.value} = ($nn > 0.0) ? ($dot / $nn) : 0.0;
         |} else {
         |  double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $vx = (double) $a.getFloat($i); $nx += $vx * $vx;
         |  }
         |  for (int $i = 0; $i < $b.numElements(); $i++) {
         |    double $vy = (double) $b.getFloat($i); $ny += $vy * $vy;
         |  }
         |  if (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny) > 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = 0.0;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Fraction of positions where two `array<long>` MinHash signatures agree
  * — the collision-rate Jaccard estimator (est = matches / width). Same
  * rationale as [[CosineSimilarity]]: the `zip_with`+`filter`+`size`
  * formulation runs interpreted and allocates two intermediate arrays per
  * PAIR, and this sits in the inner loop of LSH candidate scoring (one
  * evaluation per banded co-occurrence). Generates a single fused
  * primitive loop, no allocations, inside whole-stage codegen.
  *
  * Positions are compared over min(len); equal-width signatures (the only
  * way [[graft.functions.Dedup]] produces them) make that exactly
  * matches/k. Empty input yields 0.0. A null ELEMENT never counts as
  * agreement (two aligned nulls are NOT a match — the old read-as-0L
  * shortcut would have spuriously matched them); when both input types
  * prove density (`containsNull = false`, as the native signature
  * expressions emit), the per-element null checks are compiled out
  * entirely. A hard analysis error on `containsNull = true` was rejected:
  * parquet always types read-back arrays as nullable, so it would break
  * persisted-signature round-trips. */
final case class SignatureAgreement(left: Expression, right: Expression)
  extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "signature_agreement"

  /** True when static types guarantee dense arrays on both sides — fixed
    * at plan time, so computed once (the interpreted path evaluates this
    * per candidate pair otherwise). */
  private lazy val provenDense: Boolean =
    Seq(left, right).forall(_.dataType match {
      case ArrayType(_, containsNull) => !containsNull
      case _                          => false
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val dense = provenDense
    var eq = 0
    var i = 0
    while (i < n) {
      if ((dense || (!x.isNullAt(i) && !y.isNullAt(i))) &&
        x.getLong(i) == y.getLong(i)) eq += 1
      i += 1
    }
    if (n > 0) eq.toDouble / n else 0.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val eq = ctx.freshName("eq")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val nullGuard =
        if (provenDense) ""
        else s"!$a.isNullAt($i) && !$b.isNullAt($i) && "
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |int $eq = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($nullGuard$a.getLong($i) == $b.getLong($i)) $eq++;
         |}
         |${ev.value} = ($n > 0) ? (((double) $eq) / $n) : 0.0;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SignatureAgreement =
    copy(left = newLeft, right = newRight)
}

/** Symmetric int8 quantization of one `array<float>` embedding in a single
  * fused pass: `struct(qvec array<tinyint>, scale float)` with
  * `q_i = round_half_up(127 · x_i / max|x|)`, `scale = max|x|/127`, zero
  * vectors → all-zero/0.0f. Replaces THREE interpreted higher-order passes
  * per row (abs/max transform, quantize transform, plus the zero-vector
  * branch) in [[graft.functions.Quantize.toInt8]] — a corpus-wide narrow
  * pass when quantizing embeddings at rest.
  *
  * Rounding goes through `BigDecimal.valueOf(v).setScale(0, HALF_UP)` —
  * the EXACT semantics of Spark's `round()` on doubles — because the
  * DuckDB oracle replays the quantization arithmetic literally and a
  * `Math.round`-style floor(v+0.5) differs on negative ties (-2.5 → -2,
  * where HALF_UP gives -3). Operation order (127·x then /max) is part of
  * the contract for the same reason.
  *
  * Elements must be FINITE: a NaN/Infinity element raises a clear
  * IllegalArgumentException at the row (the HOF spelling also fails there
  * — ANSI mode rejects the non-finite tinyint cast — but from deeper in
  * the stack; and an all-NaN vector would otherwise quantize to zeros
  * silently, hiding the corruption). */
final case class Int8Quantize(child: Expression)
  extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("qvec", ArrayType(ByteType, containsNull = false), nullable = false),
    StructField("scale", FloatType, nullable = false)))
  override def prettyName: String = "int8_quantize"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var mab = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(x.getFloat(i).toDouble)
      // `!(a <= MaxValue)` catches NaN (compares false) and +Infinity in
      // one branch: a dirty element would otherwise either crash deep in
      // BigDecimal.valueOf (NaN) or silently zero the vector (all-NaN
      // makes mab stay 0) — fail loudly at the row instead
      if (!(a <= Double.MaxValue)) throw new IllegalArgumentException(
        s"int8_quantize: non-finite embedding element at index $i")
      if (a > mab) mab = a
      i += 1
    }
    val out = new Array[Byte](n)
    if (mab > 0.0) {
      i = 0
      while (i < n) {
        out(i) = java.math.BigDecimal
          .valueOf(127.0 * x.getFloat(i).toDouble / mab)
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toByte
        i += 1
      }
    }
    val scale = if (mab > 0.0) (mab / 127.0).toFloat else 0.0f
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UnsafeArrayData.fromPrimitiveArray(out), scale))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val n = ctx.freshName("n")
      val mab = ctx.freshName("mab")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val r = ctx.freshName("r")
      val v = ctx.freshName("v")
      s"""
         |int $n = $x.numElements();
         |double $mab = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = java.lang.Math.abs((double) $x.getFloat($i));
         |  if (!($v <= java.lang.Double.MAX_VALUE))
         |    throw new IllegalArgumentException(
         |      "int8_quantize: non-finite embedding element at index " + $i);
         |  if ($v > $mab) $mab = $v;
         |}
         |byte[] $out = new byte[$n];
         |if ($mab > 0.0) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $r = java.math.BigDecimal
         |      .valueOf(127.0 * ((double) $x.getFloat($i)) / $mab)
         |      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue();
         |    $out[$i] = (byte) $r;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[] {
         |    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out),
         |    java.lang.Float.valueOf($mab > 0.0 ? (float) ($mab / 127.0) : 0.0f) });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Int8Quantize =
    copy(child = newChild)
}

/** Random projection (Johnson-Lindenstrauss, sign-matrix variant à la
  * Achlioptas 2001) of one `array<float>` embedding in a single fused
  * codegen'd pass: `y_j = (Σ_i s_ji · x_i) / sqrt(outDim)` with
  * `s_ji ∈ {+1, −1}`. The compress-before-ANN primitive: at 100 TB of
  * embeddings, projecting 64→8/16 dims cuts index size and scan cost ~4-8×
  * while JL preserves pairwise geometry within the usual
  * O(1/sqrt(outDim)) distortion.
  *
  * The sign matrix is NOT stored or broadcast: it is derived
  * deterministically from md5("rp:<seed>:<j>:<i>") parity at PLAN time
  * (model-sized: outDim×inDim bytes riding inside the serialized plan), so
  * the identical projection replays on any executor, after any restart,
  * and — because md5 is engine-portable — inside the DuckDB oracle, which
  * rebuilds the same matrix in SQL. Fold order (i ascending, double
  * accumulation, one division by sqrt(outDim), then the float cast) is
  * part of the contract for the same reason.
  *
  * A vector whose length differs from the matrix's `inDim` returns NULL —
  * a truncated/corrupt embedding surfaces instead of silently projecting
  * garbage (the [[CosineSimilarity]] convention). */
final case class RandomProject(child: Expression, signs: Array[Array[Byte]])
  extends UnaryExpression with ExpectsInputTypes {

  require(signs.nonEmpty && signs.forall(_.length == signs(0).length),
    "sign matrix must be rectangular and non-empty")

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true // dim mismatch yields null
  override def prettyName: String = "random_project"

  private def outDim: Int = signs.length
  private def inDim: Int = signs(0).length

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    if (x.numElements() != inDim) return null
    val scale = math.sqrt(outDim.toDouble)
    val out = new Array[Float](outDim)
    var j = 0
    while (j < outDim) {
      val row = signs(j)
      var dot = 0.0
      var i = 0
      while (i < inDim) {
        val xv = x.getFloat(i).toDouble
        dot += (if (row(i) > 0) xv else -xv)
        i += 1
      }
      out(j) = (dot / scale).toFloat
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val m = ctx.addReferenceObj("signs", signs, "byte[][]")
      val out = ctx.freshName("out")
      val row = ctx.freshName("row")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val xv = ctx.freshName("xv")
      s"""
         |if ($x.numElements() != $inDim) {
         |  ${ev.isNull} = true;
         |} else {
         |  float[] $out = new float[$outDim];
         |  for (int $j = 0; $j < $outDim; $j++) {
         |    byte[] $row = $m[$j];
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $inDim; $i++) {
         |      double $xv = (double) $x.getFloat($i);
         |      $dot += ($row[$i] > 0) ? $xv : -$xv;
         |    }
         |    $out[$j] = (float) ($dot / java.lang.Math.sqrt((double) $outDim));
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions
         |    .UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RandomProject =
    copy(child = newChild)
}

/** Nearest-centroid argmax over a static centroid matrix, as ONE fused
  * codegen'd pass: `struct(cos, c)` of the best centroid under exactly the
  * ordering the old explode + `max(struct(cosineFast, c))` aggregation
  * used — per-centroid cosine arithmetic is [[CosineSimilarity]]'s to the
  * bit (same left-to-right double sums, zero-norm → 0.0 first, THEN
  * length-mismatch with live norms → NULL cos), null cos sorts below any
  * value, ties break to the LARGER centroid index. The input's norm and
  * every centroid's norm are each computed once (identical left-to-right
  * sums, so the shared values are bit-equal to the per-pair recomputation).
  * A `greatest(struct…)` fold was tried first and rejected: k inlined
  * cosine expressions explode the generated source, and the per-iteration
  * centroid literals defeat the codegen cache — this expression keeps one
  * compact loop over a referenced float[] (the [[PqEncode]] pattern). */
final case class NearestCentroid(child: Expression, cents: Array[Array[Float]])
  extends UnaryExpression with ExpectsInputTypes {

  private val k: Int = cents.length
  private val dim: Int = cents(0).length
  require(k >= 1 && dim >= 1 && cents.forall(_.length == dim),
    s"ragged centroid matrix: k=$k dim=$dim")
  private val flat: Array[Float] = {
    val out = new Array[Float](k * dim)
    var c = 0
    while (c < k) { System.arraycopy(cents(c), 0, out, c * dim, dim); c += 1 }
    out
  }
  // sqrt of each centroid's left-to-right squared-norm sum — the same
  // double CosineSimilarity computes per pair
  private val sny: Array[Double] = cents.map { cv =>
    var s = 0.0; var i = 0
    while (i < dim) { val v = cv(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }

  override def inputTypes = Seq(ArrayType(FloatType))
  override def dataType: DataType = StructType(Seq(
    StructField("cos", DoubleType, nullable = true),
    StructField("c", IntegerType, nullable = false)))
  override def nullable: Boolean = true // null input only; callers wrap
  override def prettyName: String = "nearest_centroid"

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var bestNull = true
    var bestCos = 0.0
    var bestC = 0
    var first = true
    if (n == dim) {
      var nx = 0.0
      var i = 0
      while (i < n) { val a = x.getFloat(i).toDouble; nx += a * a; i += 1 }
      val snx = math.sqrt(nx)
      var c = 0
      while (c < k) {
        var dot = 0.0
        var j = 0
        while (j < dim) {
          dot += x.getFloat(j).toDouble * flat(c * dim + j).toDouble; j += 1
        }
        val nn = snx * sny(c)
        val cos = if (nn > 0.0) dot / nn else 0.0
        if (first || bestNull || cos >= bestCos) {
          bestNull = false; bestCos = cos; bestC = c; first = false
        }
        c += 1
      }
    } else {
      var nx = 0.0
      var i = 0
      while (i < n) { val a = x.getFloat(i).toDouble; nx += a * a; i += 1 }
      val snx = math.sqrt(nx)
      var c = 0
      while (c < k) {
        val isNull = snx * sny(c) > 0.0 // live norms, mismatched → NULL cos
        if (first || (if (isNull) bestNull else true)) {
          if (isNull) { bestNull = true; bestC = c }
          else if (bestNull || 0.0 >= bestCos) {
            bestNull = false; bestCos = 0.0; bestC = c
          }
          first = false
        }
        c += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](if (bestNull) null else bestCos, bestC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val cb = ctx.addReferenceObj("ncFlat", flat, "float[]")
      val snyRef = ctx.addReferenceObj("ncSny", sny, "double[]")
      val n = ctx.freshName("n")
      val nx = ctx.freshName("nx")
      val snx = ctx.freshName("snx")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val j = ctx.freshName("j")
      val a = ctx.freshName("a")
      val dot = ctx.freshName("dot")
      val nn = ctx.freshName("nn")
      val cos = ctx.freshName("cos")
      val bestNull = ctx.freshName("bestNull")
      val bestCos = ctx.freshName("bestCos")
      val bestC = ctx.freshName("bestC")
      val first = ctx.freshName("first")
      val isN = ctx.freshName("isN")
      val vals = ctx.freshName("vals")
      s"""
         |int $n = $x.numElements();
         |boolean $bestNull = true; double $bestCos = 0.0; int $bestC = 0;
         |boolean $first = true;
         |double $nx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $a = (double) $x.getFloat($i); $nx += $a * $a;
         |}
         |double $snx = java.lang.Math.sqrt($nx);
         |if ($n == $dim) {
         |  for (int $c = 0; $c < $k; $c++) {
         |    double $dot = 0.0;
         |    for (int $j = 0; $j < $dim; $j++) {
         |      $dot += ((double) $x.getFloat($j)) * ((double) $cb[$c * $dim + $j]);
         |    }
         |    double $nn = $snx * $snyRef[$c];
         |    double $cos = ($nn > 0.0) ? ($dot / $nn) : 0.0;
         |    if ($first || $bestNull || $cos >= $bestCos) {
         |      $bestNull = false; $bestCos = $cos; $bestC = $c; $first = false;
         |    }
         |  }
         |} else {
         |  for (int $c = 0; $c < $k; $c++) {
         |    boolean $isN = $snx * $snyRef[$c] > 0.0;
         |    if ($first || ($isN ? $bestNull : true)) {
         |      if ($isN) { $bestNull = true; $bestC = $c; }
         |      else if ($bestNull || 0.0 >= $bestCos) {
         |        $bestNull = false; $bestCos = 0.0; $bestC = $c;
         |      }
         |      $first = false;
         |    }
         |  }
         |}
         |Object[] $vals = new Object[2];
         |$vals[0] = $bestNull ? null : (Object) java.lang.Double.valueOf($bestCos);
         |$vals[1] = (Object) java.lang.Integer.valueOf($bestC);
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions
         |  .GenericInternalRow($vals);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

object VectorExpressions {
  /** Codegen'd cosine similarity over two `array<float>` columns. */
  def cosineNative(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd fused nearest-centroid argmax: struct(cos, c). */
  def nearestCentroidNative(vec: Column, cents: Array[Array[Float]]): Column =
    GraftBridge.column(NearestCentroid(GraftBridge.expression(vec), cents))

  /** Codegen'd MinHash signature-agreement fraction (Jaccard estimate). */
  def agreementNative(a: Column, b: Column): Column =
    GraftBridge.column(SignatureAgreement(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Codegen'd fused int8 quantization: struct(qvec, scale). */
  def int8QuantizeNative(vec: Column): Column =
    GraftBridge.column(Int8Quantize(GraftBridge.expression(vec)))

  /** Codegen'd JL random projection with the given ±1 sign matrix. */
  def randomProjectNative(vec: Column, signs: Array[Array[Byte]]): Column =
    GraftBridge.column(RandomProject(GraftBridge.expression(vec), signs))
}
