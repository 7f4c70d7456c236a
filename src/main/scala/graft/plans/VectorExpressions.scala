package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for dense-vector math over `array<float|
  * double>` columns. The same math written with higher-order functions
  * (`aggregate` over `zip_with(a, b, x * y)` in double precision) is
  * semantically identical but evaluates one lambda dispatch per element;
  * these compile to one tight primitive loop per row inside whole-stage
  * codegen — `doGenCode` reads elements straight out of the
  * (Unsafe)ArrayData, so scoring a candidate pair allocates nothing. That
  * is what makes ANN/near-dup scoring tractable at scale. Summation order
  * is left-to-right in double precision — bit-equal to that
  * higher-order-function fold, the interpreted path, and a sequential
  * oracle.
  */
object VectorExpressions {

  private def toDoubles(a: ArrayData, et: DataType): Array[Double] = et match {
    case DoubleType => a.toDoubleArray()
    case FloatType =>
      val n = a.numElements()
      val out = new Array[Double](n)
      var i = 0
      while (i < n) { out(i) = a.getFloat(i).toDouble; i += 1 }
      out
    case other => throw new IllegalArgumentException(s"unsupported vector element type: $other")
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** Java source reading element `i` of ArrayData `arr` as double. */
  private def getAsDouble(arr: String, i: String, et: DataType): String = et match {
    case DoubleType => s"$arr.getDouble($i)"
    case FloatType  => s"(double) $arr.getFloat($i)"
    case other => throw new IllegalArgumentException(s"unsupported vector element type: $other")
  }

  /** Left-to-right dot product in double precision. */
  case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val (ea, eb) = (elemType(left), elemType(right))
      val n = math.min(a.numElements(), b.numElements())
      var s = 0.0
      var i = 0
      (ea, eb) match {
        case (FloatType, FloatType) =>
          while (i < n) { s += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
        case _ =>
          val ad = toDoubles(a, ea); val bd = toDoubles(b, eb)
          while (i < n) { s += ad(i) * bd(i); i += 1 }
      }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += ${getAsDouble(l, i, elemType(left))} * ${getAsDouble(r, i, elemType(right))};
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Cosine similarity in one pass: dot and both norms from a single loop. */
  case class VectorCosine(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = toDoubles(l.asInstanceOf[ArrayData], elemType(left))
      val b = toDoubles(r.asInstanceOf[ArrayData], elemType(right))
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, r) => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val av = ctx.freshName("av"); val bv = ctx.freshName("bv")
        s"""
           |int $n = java.lang.Math.min($l.numElements(), $r.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $av = ${getAsDouble(l, i, elemType(left))};
           |  double $bv = ${getAsDouble(r, i, elemType(right))};
           |  $dot += $av * $bv; $na += $av * $av; $nb += $bv * $bv;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Unit-normalize a vector (single loop, single allocation). */
  case class VectorNormalize(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val a = toDoubles(v.asInstanceOf[ArrayData], elemType(child))
      var n2 = 0.0
      var i = 0
      while (i < a.length) { n2 += a(i) * a(i); i += 1 }
      val inv = if (n2 == 0.0) 0.0 else 1.0 / math.sqrt(n2)
      val out = new Array[Double](a.length)
      i = 0
      while (i < a.length) { out(i) = a(i) * inv; i += 1 }
      new GenericArrayData(out)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val n2 = ctx.freshName("n2"); val inv = ctx.freshName("inv")
        val out = ctx.freshName("out"); val e = ctx.freshName("e")
        s"""
           |int $n = $v.numElements();
           |double $n2 = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $e = ${getAsDouble(v, i, elemType(child))};
           |  $n2 += $e * $e;
           |}
           |double $inv = $n2 == 0.0 ? 0.0 : 1.0 / java.lang.Math.sqrt($n2);
           |double[] $out = new double[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  $out[$i] = ${getAsDouble(v, i, elemType(child))} * $inv;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** All multi-table LSH bucket ids in one pass: planes laid out as
    * [table0: p planes][table1: p planes]…; bucket bit b = sign of the
    * projection on plane b, folded big-endian. Output: array<int>, one
    * bucket per table — pair with posexplode for (tbl, bucket) keys. */
  case class LshBuckets(child: Expression, planes: Array[Array[Double]], planesPerTable: Int)
      extends UnaryExpression {
    require(planes.length % planesPerTable == 0)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val a = toDoubles(v.asInstanceOf[ArrayData], elemType(child))
      val nTables = planes.length / planesPerTable
      val out = new Array[Int](nTables)
      var t = 0
      while (t < nTables) {
        var bucket = 0
        var p = 0
        while (p < planesPerTable) {
          val plane = planes(t * planesPerTable + p)
          var dot = 0.0
          var i = 0
          val n = math.min(a.length, plane.length)
          while (i < n) { dot += a(i) * plane(i); i += 1 }
          bucket = (bucket << 1) | (if (dot >= 0.0) 1 else 0)
          p += 1
        }
        out(t) = bucket
        t += 1
      }
      new GenericArrayData(out)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      // the plane matrix rides along as a reference object in the generated
      // class — one shared double[][], no per-row materialization
      val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[][]")
      nullSafeCodeGen(ctx, ev, v => {
        val nT = planes.length / planesPerTable
        val out = ctx.freshName("out"); val t = ctx.freshName("t"); val p = ctx.freshName("p")
        val i = ctx.freshName("i"); val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
        val plane = ctx.freshName("plane"); val bucket = ctx.freshName("bucket")
        s"""
           |int[] $out = new int[$nT];
           |for (int $t = 0; $t < $nT; $t++) {
           |  int $bucket = 0;
           |  for (int $p = 0; $p < $planesPerTable; $p++) {
           |    double[] $plane = $planesRef[$t * $planesPerTable + $p];
           |    double $dot = 0.0;
           |    int $n = java.lang.Math.min($v.numElements(), $plane.length);
           |    for (int $i = 0; $i < $n; $i++) {
           |      $dot += ${getAsDouble(v, i, elemType(child))} * $plane[$i];
           |    }
           |    $bucket = ($bucket << 1) | ($dot >= 0.0 ? 1 : 0);
           |  }
           |  $out[$t] = $bucket;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** The `nprobe` nearest centroids (ascending by squared-L2 distance,
    * ties to the lower index) of a vector against a packed centroid
    * matrix. The matrix rides along as one reference object in the
    * generated class — unlike a per-centroid literal expression ladder
    * (whose plan size is O(nlist×dim) expression nodes and dies around
    * nlist≈10³), this is a single expression node at ANY nlist, so an
    * IVF index can use realistic nlist=4096+ coarse quantizers. Row-local:
    * no shuffle, no broadcast join, stays inside whole-stage codegen. */
  case class NearestCentroids(child: Expression, centroids: Array[Array[Double]], nprobe: Int)
      extends UnaryExpression {
    require(nprobe >= 1 && nprobe <= centroids.length)
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val a = toDoubles(v.asInstanceOf[ArrayData], elemType(child))
      val nlist = centroids.length
      val dist = new Array[Double](nlist)
      var c = 0
      while (c < nlist) {
        val cen = centroids(c)
        val n = math.min(a.length, cen.length)
        var s = 0.0
        var i = 0
        while (i < n) { val d = a(i) - cen(i); s += d * d; i += 1 }
        dist(c) = s
        c += 1
      }
      // partial selection sort: O(nlist · nprobe), no allocation beyond out
      val out = new Array[Int](nprobe)
      val used = new Array[Boolean](nlist)
      var p = 0
      while (p < nprobe) {
        var best = -1
        var bd = Double.PositiveInfinity
        c = 0
        while (c < nlist) {
          if (!used(c) && dist(c) < bd) { bd = dist(c); best = c }
          c += 1
        }
        used(best) = true
        out(p) = best
        p += 1
      }
      new GenericArrayData(out)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cenRef = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
      nullSafeCodeGen(ctx, ev, v => {
        val nlist = centroids.length
        val dist = ctx.freshName("dist"); val used = ctx.freshName("used")
        val out = ctx.freshName("out"); val cen = ctx.freshName("cen")
        val c = ctx.freshName("c"); val i = ctx.freshName("i"); val n = ctx.freshName("n")
        val s = ctx.freshName("s"); val d = ctx.freshName("d"); val p = ctx.freshName("p")
        val best = ctx.freshName("best"); val bd = ctx.freshName("bd")
        s"""
           |double[] $dist = new double[$nlist];
           |for (int $c = 0; $c < $nlist; $c++) {
           |  double[] $cen = $cenRef[$c];
           |  int $n = java.lang.Math.min($v.numElements(), $cen.length);
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    double $d = ${getAsDouble(v, i, elemType(child))} - $cen[$i];
           |    $s += $d * $d;
           |  }
           |  $dist[$c] = $s;
           |}
           |int[] $out = new int[$nprobe];
           |boolean[] $used = new boolean[$nlist];
           |for (int $p = 0; $p < $nprobe; $p++) {
           |  int $best = -1;
           |  double $bd = Double.POSITIVE_INFINITY;
           |  for (int $c = 0; $c < $nlist; $c++) {
           |    if (!$used[$c] && $dist[$c] < $bd) { $bd = $dist[$c]; $best = $c; }
           |  }
           |  $used[$best] = true;
           |  $out[$p] = $best;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** Rabin-Karp rolling fingerprint over UTF-8 bytes: polynomial hash of
    * every `window`-byte run, combined order-independently (XOR of a
    * multiplicative mix) into one 64-bit document fingerprint. Detects
    * shared substrings that md5-style whole-document hashing misses;
    * single pass, no tokenization. (Interpreted eval only — string
    * fingerprinting is scan-bound, not eval-bound.) */
  case class RollingFingerprint(child: Expression, window: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = {
      val bytes = v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
      val n = bytes.length
      if (n == 0) 0L
      else if (n < window) {
        var h = 1125899906842597L
        var i = 0
        while (i < n) { h = h * 31 + bytes(i); i += 1 }
        h
      } else {
        val base = 257L
        var pow = 1L // base^(window-1)
        var i = 1
        while (i < window) { pow *= base; i += 1 }
        var h = 0L
        i = 0
        while (i < window) { h = h * base + (bytes(i) & 0xff); i += 1 }
        var acc = mix(h)
        i = window
        while (i < n) {
          h = (h - (bytes(i - window) & 0xff) * pow) * base + (bytes(i) & 0xff)
          acc ^= mix(h)
          i += 1
        }
        acc
      }
    }
    private def mix(x: Long): Long = {
      var h = x * -7046029254386353131L
      h ^= (h >>> 32)
      h
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** Product-quantization asymmetric-distance lookup table for one query
    * vector: `lut[s*ksub + c] = dot(q_sub_s, codebooks[s][c])`, flattened
    * to one array<double> of m·ksub entries. Computed ONCE per query row
    * (the codebooks ride along as a single reference object), then every
    * candidate scores in O(m) lookups via [[PqScore]] instead of an O(dim)
    * dot product — the standard IVFADC scan cost model. */
  case class PqLut(child: Expression, codebooks: Array[Array[Array[Double]]])
      extends UnaryExpression {
    private val m = codebooks.length
    private val ksub = codebooks(0).length
    private val dsub = codebooks(0)(0).length
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val a = toDoubles(v.asInstanceOf[ArrayData], elemType(child))
      val out = new Array[Double](m * ksub)
      var s = 0
      while (s < m) {
        val off = s * dsub
        var c = 0
        while (c < ksub) {
          val cen = codebooks(s)(c)
          var acc = 0.0
          var i = 0
          val n = math.min(dsub, a.length - off)
          while (i < n) { acc += a(off + i) * cen(i); i += 1 }
          out(s * ksub + c) = acc
          c += 1
        }
        s += 1
      }
      new GenericArrayData(out)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "double[][][]")
      nullSafeCodeGen(ctx, ev, v => {
        val out = ctx.freshName("out"); val s = ctx.freshName("s")
        val c = ctx.freshName("c"); val i = ctx.freshName("i")
        val acc = ctx.freshName("acc"); val cen = ctx.freshName("cen")
        val off = ctx.freshName("off"); val n = ctx.freshName("n")
        s"""
           |double[] $out = new double[${m * ksub}];
           |for (int $s = 0; $s < $m; $s++) {
           |  int $off = $s * $dsub;
           |  for (int $c = 0; $c < $ksub; $c++) {
           |    double[] $cen = $cbRef[$s][$c];
           |    double $acc = 0.0;
           |    int $n = java.lang.Math.min($dsub, $v.numElements() - $off);
           |    for (int $i = 0; $i < $n; $i++) {
           |      $acc += ${getAsDouble(v, s"($off + $i)", elemType(child))} * $cen[$i];
           |    }
           |    $out[$s * $ksub + $c] = $acc;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    }
    override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  }

  /** PQ ADC score: `sum_s lut[s*ksub + codes[s]]` — O(m) integer lookups
    * per (candidate, query) pair against the query's precomputed
    * [[PqLut]]. Left-to-right summation, codegen'd. */
  case class PqScore(left: Expression, right: Expression, ksub: Int)
      extends BinaryExpression {
    // left = codes array<int> (length m), right = lut array<double>
    override def dataType: DataType = DoubleType
    override def nullSafeEval(codes: Any, lut: Any): Any = {
      val cd = codes.asInstanceOf[ArrayData]
      val lu = lut.asInstanceOf[ArrayData]
      var acc = 0.0
      var s = 0
      val m = cd.numElements()
      while (s < m) { acc += lu.getDouble(s * ksub + cd.getInt(s)); s += 1 }
      acc
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (cd, lu) => {
        val acc = ctx.freshName("acc"); val s = ctx.freshName("s")
        s"""
           |double $acc = 0.0;
           |for (int $s = 0; $s < $cd.numElements(); $s++) {
           |  $acc += $lu.getDouble($s * $ksub + $cd.getInt($s));
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  // Column-level API (Spark 4: Column <-> Expression via the sql-package bridge)
  import org.apache.spark.sql.graftbridge.ColumnBridge.{toCol, toExpr}

  def vector_dot(a: Column, b: Column): Column = toCol(VectorDot(toExpr(a), toExpr(b)))
  def vector_cosine(a: Column, b: Column): Column = toCol(VectorCosine(toExpr(a), toExpr(b)))
  def vector_normalize(a: Column): Column = toCol(VectorNormalize(toExpr(a)))
  def lsh_buckets(v: Column, planes: Seq[Seq[Double]], planesPerTable: Int): Column =
    toCol(LshBuckets(toExpr(v), planes.map(_.toArray).toArray, planesPerTable))
  def nearest_centroids(v: Column, centroids: Seq[Seq[Double]], nprobe: Int): Column =
    toCol(NearestCentroids(toExpr(v), centroids.map(_.toArray).toArray, nprobe))
  def rolling_fingerprint(text: Column, window: Int): Column =
    toCol(RollingFingerprint(toExpr(text), window))
  def pq_lut(q: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    toCol(PqLut(toExpr(q), codebooks.map(_.map(_.toArray).toArray).toArray))
  def pq_score(codes: Column, lut: Column, ksub: Int): Column =
    toCol(PqScore(toExpr(codes), toExpr(lut), ksub))
}
