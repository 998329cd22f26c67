package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{Bridge => ExpressionUtils}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector/ANN hot path.
  *
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` builds the dot product
  * out of higher-order functions, which are CodegenFallback: every
  * evaluation allocates a zipped intermediate array and walks it
  * interpreted. That kernel runs once per compared pair in
  * brute-force/LSH/IVF top-k and embedding near-dup — the hottest
  * loops ANN has. This expression is the same single fused loop the
  * HOF form describes, but inside whole-stage codegen with no
  * allocation. (Same reasoning as MinHashBandBuckets, which replaced
  * the HOF band-bucket composition at a measured 3.4 s → 0.2 s.)
  */
object VectorExpressions {

  private def numericElem(dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => et match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType => true
      case _ => false
    }
    case _ => false
  }

  /** Σ a(i)*b(i) over two numeric array columns (double result; double
    * accumulation — exact for integer payloads within 2^53). Walks
    * min(|a|,|b|) elements; null elements contribute 0.
    */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "dot_product"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (numericElem(left.dataType) && numericElem(right.dataType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product requires two numeric array columns, got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

    private def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType

    private def getDouble(arr: ArrayData, et: DataType, i: Int): Double = et match {
      case DoubleType => arr.getDouble(i)
      case FloatType => arr.getFloat(i).toDouble
      case LongType => arr.getLong(i).toDouble
      case IntegerType => arr.getInt(i).toDouble
      case ShortType => arr.getShort(i).toDouble
      case ByteType => arr.getByte(i).toDouble
      case other => throw new IllegalStateException(s"unreachable: $other")
    }

    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val lt = elemType(left); val rt = elemType(right)
      val n = math.min(x.numElements(), y.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (!x.isNullAt(i) && !y.isNullAt(i))
          acc += getDouble(x, lt, i) * getDouble(y, rt, i)
        i += 1
      }
      acc
    }

    private def genGet(arr: String, et: DataType, i: String): String = et match {
      case DoubleType => s"$arr.getDouble($i)"
      case FloatType => s"(double) $arr.getFloat($i)"
      case LongType => s"(double) $arr.getLong($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case ShortType => s"(double) $arr.getShort($i)"
      case ByteType => s"(double) $arr.getByte($i)"
      case other => throw new IllegalStateException(s"unreachable: $other")
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
           |    $acc += ${genGet(a, elemType(left), i)} * ${genGet(b, elemType(right), i)};
           |  }
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DotProduct =
      copy(left = newLeft, right = newRight)
  }

  /** argmin_j (|c_j|² − 2·sv·c_j) over a fixed codebook — the
    * engine's one nearest-centroid kernel: PQ encode (one small-int
    * code per subvector) and every Lloyd's k-means assignment
    * ([[graft.operators.Similarity.pqTrain]] and the
    * [[graft.operators.Clustering]] operators built on it).
    *
    * The previous form spliced every centroid as an unrolled
    * `array(lit,…)` CreateArray tree: m×k structs of dsub literal
    * nodes each, whose generated `doConsume` exceeded janino's 64 KB
    * method limit — the whole stage then SILENTLY fell back to
    * interpreted execution (`ERROR CodeGenerator: … Code grows beyond
    * 64 KB`) on every PQ-encode plan. Here the codebook rides as a
    * compile-time reference object (`ctx.addReferenceObj`), so the
    * generated code is two short loops whose size is independent of
    * k and dsub. Arithmetic is bit-identical to the old tree: the
    * dot accumulates in index order, cost = |c_j|² − 2·dot, strict
    * `<` keeps the lowest j on ties (array_min's (cost, cid)
    * struct order did the same).
    *
    * Null and non-finite rule: only a FINITE cost competes, and the
    * result is null when no centroid has one. A null vector, or one
    * with a NaN or ±Inf element, makes every dot NaN or ±Inf, so it
    * gets a null id — never a silent cluster 0, and never an id that
    * would pull a NaN into a centroid update. (−Inf is excluded too:
    * an +Inf element against a positive centroid component gives
    * cost −Inf, which would otherwise capture the vector.) Null
    * ELEMENTS contribute 0 to the dot, like [[DotProduct]].
    *
    * `runnerUp = true` returns the SECOND-nearest id under the same
    * (cost, id) order — the silhouette's "nearest other centroid";
    * null when fewer than two centroids have a finite cost.
    *
    * `cents` is a constructor param (not a child expression): the
    * codebook is always a driver-side trained artifact, never data.
    */
  case class PqArgmin(child: Expression, cents: Seq[Seq[Double]],
      runnerUp: Boolean = false)
      extends UnaryExpression {
    private val k = cents.length
    private val dsub = cents.headOption.map(_.length).getOrElse(0)
    require(k > 0 && dsub > 0 && cents.forall(_.length == dsub),
      s"codebook must be a non-empty rectangular k x dsub grid")
    // flat row-major copy + per-centroid |c|² (same summation order
    // as the literal form: left-to-right over the centroid)
    @transient private lazy val flat: Array[Double] = {
      val a = new Array[Double](k * dsub)
      var j = 0
      while (j < k) {
        var i = 0
        while (i < dsub) { a(j * dsub + i) = cents(j)(i); i += 1 }
        j += 1
      }
      a
    }
    @transient private lazy val normSqs: Array[Double] =
      cents.map(c => c.map(x => x * x).sum).toArray

    override def dataType: DataType = IntegerType
    override def nullable: Boolean = true
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pq_argmin"
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"pq_argmin requires array<double>, got ${other.catalogString}")
      }

    override protected def nullSafeEval(input: Any): Any = {
      val sv = input.asInstanceOf[ArrayData]
      val n = math.min(sv.numElements(), dsub)
      var best = Double.PositiveInfinity
      var bestId = -1
      var second = Double.PositiveInfinity
      var secondId = -1
      var j = 0
      while (j < k) {
        var dot = 0.0
        var i = 0
        while (i < n) {
          if (!sv.isNullAt(i)) dot += sv.getDouble(i) * flat(j * dsub + i)
          i += 1
        }
        val cost = normSqs(j) - dot * 2.0
        // NaN fails every comparison; ±Inf fails one of the bounds
        if (cost > Double.NegativeInfinity) {
          if (cost < best) {
            second = best; secondId = bestId; best = cost; bestId = j
          } else if (cost < second) { second = cost; secondId = j }
        }
        j += 1
      }
      val id = if (runnerUp) secondId else bestId
      if (id < 0) null else id
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, sv => {
        val flatRef = ctx.addReferenceObj("pqCents", flat, "double[]")
        val normRef = ctx.addReferenceObj("pqNorms", normSqs, "double[]")
        val n = ctx.freshName("n")
        val j = ctx.freshName("j")
        val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val cost = ctx.freshName("cost")
        val best = ctx.freshName("best")
        val bestId = ctx.freshName("bestId")
        val second = ctx.freshName("second")
        val secondId = ctx.freshName("secondId")
        // the runner-up bookkeeping is only generated when asked for
        val (decl, update, result) =
          if (runnerUp) (
            s"double $second = Double.POSITIVE_INFINITY; int $secondId = -1;",
            s"""if ($cost < $best) {
               |      $second = $best; $secondId = $bestId; $best = $cost; $bestId = $j;
               |    } else if ($cost < $second) { $second = $cost; $secondId = $j; }""".stripMargin,
            secondId)
          else ("", s"if ($cost < $best) { $best = $cost; $bestId = $j; }", bestId)
        s"""
           |int $n = java.lang.Math.min($sv.numElements(), $dsub);
           |double $best = Double.POSITIVE_INFINITY;
           |int $bestId = -1;
           |$decl
           |for (int $j = 0; $j < $k; $j++) {
           |  double $dot = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if (!$sv.isNullAt($i)) {
           |      $dot += $sv.getDouble($i) * $flatRef[$j * $dsub + $i];
           |    }
           |  }
           |  double $cost = $normRef[$j] - $dot * 2.0;
           |  if ($cost > Double.NEGATIVE_INFINITY) {
           |    $update
           |  }
           |}
           |${ev.isNull} = $result < 0;
           |${ev.value} = $result;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): PqArgmin =
      copy(child = newChild)
  }

  /** Fold a FOLDABLE nested-array expression into the codebook grid
    * for [[PqArgmin]] — shared by the SQL registration and the
    * session-extensions injector. Casts to array<array<double>> first
    * so plain SQL literals (which parse as decimals) work instead of
    * dying in a ClassCastException. */
  private[graft] def foldCodebook(e: Expression): Seq[Seq[Double]] = {
    require(e.foldable, "pq_argmin codebook must be a literal (it is a " +
      "trained artifact, not data)")
    val folded = Cast(e, ArrayType(ArrayType(DoubleType)))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
    require(folded != null, "pq_argmin codebook must not be null")
    folded.asInstanceOf[ArrayData].toObjectArray(ArrayType(DoubleType))
      .map(_.asInstanceOf[ArrayData].toDoubleArray().toSeq).toSeq
  }

  // ---- Column-level API ----

  def dot_product(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def pq_argmin(sv: Column, cents: Array[Array[Double]],
      runnerUp: Boolean = false): Column =
    ExpressionUtils.column(PqArgmin(
      ExpressionUtils.expression(sv), cents.map(_.toSeq).toSeq, runnerUp))

  /** Register the SQL form in a session's function registry. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs.head, exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "pq_argmin", exprs => PqArgmin(exprs.head, foldCodebook(exprs(1))),
      "scala_udf")
  }
}
