package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native array/vector kernels. Spark's higher-order functions
  * (`aggregate`/`zip_with`/`transform`) are CodegenFallback — per-element
  * boxed interpretation — which made the similarity/dedup hot paths
  * 30-60x slower than a JVM loop. These expressions keep the EXACT
  * semantics the oracles pin (sequential left-fold summation, same
  * hash arithmetic) in single-pass primitive loops.
  */
object VectorKernels {
  /** Sequential-order dot product over double arrays. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Jaccard similarity of two string arrays treated as sets. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val sa = new java.util.HashSet[String](a.numElements() * 2)
    var i = 0
    while (i < a.numElements()) { sa.add(a.getUTF8String(i).toString); i += 1 }
    val sb = new java.util.HashSet[String](b.numElements() * 2)
    i = 0
    while (i < b.numElements()) { sb.add(b.getUTF8String(i).toString); i += 1 }
    var inter = 0
    val it = sb.iterator()
    while (it.hasNext) if (sa.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  /** Distinct n-char shingle set, one pass, first-occurrence order.
    * Windows over CODE POINTS (like SQL substr / DuckDB unicode), not
    * UTF-16 units — keeps oracle parity beyond the BMP. */
  def charShingles(s: UTF8String, n: Int): ArrayData = {
    val cp = s.toString.codePoints().toArray
    if (cp.length < n) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.LinkedHashSet[UTF8String]
    var i = 0
    while (i <= cp.length - n) {
      set.add(UTF8String.fromString(new String(cp, i, n)))
      i += 1
    }
    new GenericArrayData(set.toArray(Array.empty[AnyRef]))
  }

  /** Distinct n-char shingles hashed to longs (rolling polynomial mod
    * `mod`), sorted ascending — one pass. Hashing before dedup means
    * collisions merge identically in any engine replaying the same
    * arithmetic; sorted output enables two-pointer set ops. */
  def hashedShingles(s: UTF8String, n: Int, mod: Long): ArrayData = {
    // code-point windows + code-point hashing: matches the oracle's
    // substr()/unicode() semantics for all of Unicode, not just the BMP
    val cp = s.toString.codePoints().toArray
    if (cp.length < n) return new GenericArrayData(Array.empty[Long])
    val set = new java.util.TreeSet[java.lang.Long]
    var i = 0
    while (i <= cp.length - n) {
      var h = 0L
      var j = i
      while (j < i + n) { h = (h * 31 + cp(j)) % mod; j += 1 }
      set.add(h)
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Jaccard of two ASCENDING-sorted distinct long arrays (two-pointer).
    * Same contract tripwire as [[intersectSizeSortedLong]]: every step
    * the merge takes checks the strict-ascending invariant and throws
    * on violation instead of silently mis-scoring. */
  def jaccardSortedLong(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0
    var px = 0L; var py = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (i > 0 && x <= px) throw new IllegalArgumentException(
        s"jaccard_sorted_long: left array not strictly ascending at " +
          s"index $i ($px then $x) — inputs must be sorted distinct")
      if (j > 0 && y <= py) throw new IllegalArgumentException(
        s"jaccard_sorted_long: right array not strictly ascending at " +
          s"index $j ($py then $y) — inputs must be sorted distinct")
      if (x == y) { inter += 1; px = x; py = y; i += 1; j += 1 }
      else if (x < y) { px = x; i += 1 }
      else { py = y; j += 1 }
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union.toDouble
  }

  /** |A ∩ B| of two ASCENDING-sorted distinct long arrays (two-pointer)
    * — the containment family's verification kernel. The builtin
    * `array_intersect` materializes the intersection ARRAY through a
    * per-row hash set just to take its size; on sorted distinct hash
    * sets the count is one linear merge with zero allocation.
    *
    * The merge only visits elements while BOTH cursors advance, so it
    * cannot verify full sortedness — but every step it DOES take checks
    * the strict-ascending invariant and throws on violation: an
    * unsorted or duplicated input (e.g. a raw `collect_set` array that
    * never went through [[hashedShingles]]) fails loudly instead of
    * silently undercounting the intersection. One predictable branch
    * per advance — free next to the two loads already in the loop. */
  def intersectSizeSortedLong(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var inter = 0L
    var px = 0L; var py = 0L // previous value at each cursor (valid when idx > 0)
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (i > 0 && x <= px) throw new IllegalArgumentException(
        s"intersect_size_sorted_long: left array not strictly ascending " +
          s"at index $i ($px then $x) — inputs must be sorted distinct " +
          "(see hashedShingles)")
      if (j > 0 && y <= py) throw new IllegalArgumentException(
        s"intersect_size_sorted_long: right array not strictly ascending " +
          s"at index $j ($py then $y) — inputs must be sorted distinct " +
          "(see hashedShingles)")
      if (x == y) { inter += 1; px = x; py = y; i += 1; j += 1 }
      else if (x < y) { px = x; i += 1 }
      else { py = y; j += 1 }
    }
    inter
  }

  /** Row-local IVF-PQ probe preparation: coarse distances to every
    * literal centroid, top-`nProbe` cells by (d², cluster) — the exact
    * batch probe tie-break — then per probed cell the SHIFTED residual
    * and the full M×K LUT of exact integer sub-distances against the
    * literal residual books. Returns flat (pc, sub, cluster, lutd2)
    * rows, nProbe·M·K per query (128 at the default operating point) —
    * the constant-size artifact a serving stream joins against the
    * compressed corpus, replacing the batch path's two broadcast
    * joins + two aggregations with ONE row-local pass. */
  def ivfPqLut(codes: ArrayData, coarseClusters: Array[Long],
      coarseCents: Array[Array[Long]], bookClusters: Array[Array[Long]],
      bookCents: Array[Array[Array[Long]]], nProbe: Int, subDim: Int,
      shift: Long): ArrayData = {
    val n = codes.numElements()
    val q = new Array[Long](n)
    var i = 0
    while (i < n) { q(i) = codes.getLong(i); i += 1 }
    val nc = coarseClusters.length
    val d2 = new Array[Long](nc)
    var k = 0
    while (k < nc) {
      val m = coarseCents(k); var s = 0L; var d = 0
      while (d < n) { val df = q(d) - m(d); s += df * df; d += 1 }
      d2(k) = s; k += 1
    }
    val probed = (0 until nc).sortBy(k => (d2(k), coarseClusters(k)))
      .take(math.min(nProbe, nc))
    val numSub = bookClusters.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    probed.foreach { pi =>
      val cm = coarseCents(pi)
      val res = new Array[Long](n)
      var d = 0
      while (d < n) { res(d) = q(d) - cm(d) + shift; d += 1 }
      var m = 0
      while (m < numSub) {
        val bcl = bookClusters(m); val bc = bookCents(m)
        var c = 0
        while (c < bcl.length) {
          var s = 0L; var dd = 0
          while (dd < subDim) {
            val df = res(m * subDim + dd) - bc(c)(dd); s += df * df; dd += 1
          }
          out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](coarseClusters(pi), m.toLong, bcl(c), s))
          c += 1
        }
        m += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** MinHash signature in one pass: for every n-char window, rolling
    * polynomial hash H (mod p), then sig_j = min(a_j·H + b_j mod p).
    * Identical to min over the distinct-shingle set (duplicates cannot
    * change a min). */
  def minhashSignature(s: UTF8String, n: Int, as: Array[Long], bs: Array[Long], p: Long): ArrayData = {
    val cp = s.toString.codePoints().toArray // code points, see hashedShingles
    val k = as.length
    val sig = Array.fill(k)(Long.MaxValue)
    if (cp.length >= n) {
      var i = 0
      while (i <= cp.length - n) {
        var h = 0L
        var j = i
        while (j < i + n) { h = (h * 31 + cp(j)) % p; j += 1 }
        var q = 0
        while (q < k) {
          val v = (h * as(q) + bs(q)) % p
          if (v < sig(q)) sig(q) = v
          q += 1
        }
        i += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken) in one
    * JVM pass: k-gram rolling polyhashes over code points (identical to
    * [[HashUtil.polyHash]] of each substring), packed tie-break
    * `hash·posScale + 1-based-offset`, sliding-window minimum via a
    * monotonic deque, distinct selected hashes out. Replaces the
    * explode → per-doc window formulation — document-local selection
    * becomes literally row-local, so the whole selection stage needs NO
    * shuffle at all (the old form shuffled every offset row into a
    * per-doc window partition). Values are bit-identical: packed values
    * are unique (offsets differ), so min semantics cannot tie. */
  def winnowFps(s: UTF8String, k: Int, w: Int, mod: Long, posScale: Long): ArrayData = {
    val cp = s.toString.codePoints().toArray
    val n = cp.length - k + 1
    if (n < w) return new GenericArrayData(Array.empty[Long])
    val c = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 0L
      var j = i
      while (j < i + k) { h = (h * 31 + cp(j)) % mod; j += 1 }
      c(i) = h * posScale + (i + 1)
      i += 1
    }
    val set = new java.util.LinkedHashSet[java.lang.Long]
    val deque = new java.util.ArrayDeque[Int]
    i = 0
    while (i < n) {
      while (!deque.isEmpty && c(deque.peekLast()) >= c(i)) deque.pollLast()
      deque.addLast(i)
      if (deque.peekFirst() <= i - w) deque.pollFirst()
      if (i >= w - 1) set.add(c(deque.peekFirst()) / posScale)
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  /** Nearest of k centroid arrays by exact integer squared-L2:
    * (dist2, cluster) with ties toward the smaller cluster id — the
    * k-means training argmin as one primitive loop (the HOF
    * formulation — aggregate ∘ zip_with per candidate — is interpreted
    * and dominated every Lloyd round). */
  def kmNearest(codes: ArrayData, clusters: Array[Long],
      cents: Array[Array[Long]]): org.apache.spark.sql.catalyst.InternalRow = {
    var bd = Long.MaxValue
    var bc = Long.MaxValue
    var j = 0
    while (j < cents.length) {
      val m = cents(j)
      var d2 = 0L
      var i = 0
      while (i < m.length) {
        val diff = codes.getLong(i) - m(i)
        d2 += diff * diff
        i += 1
      }
      if (d2 < bd || (d2 == bd && clusters(j) < bc)) { bd = d2; bc = clusters(j) }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bd, bc))
  }

  /** The k×k inter-centroid squared-distance matrix [[kmNearestElkan]]
    * prunes with — computed ONCE per expression instance on the driver
    * (k² · dim integer ops, a few KB). */
  def pairwiseD2(cents: Array[Array[Long]]): Array[Array[Long]] = {
    val k = cents.length
    val out = Array.ofDim[Long](k, k)
    var a = 0
    while (a < k) {
      var b = a + 1
      while (b < k) {
        var d2 = 0L
        var i = 0
        while (i < cents(a).length) {
          val diff = cents(a)(i) - cents(b)(i)
          d2 += diff * diff
          i += 1
        }
        out(a)(b) = d2
        out(b)(a) = d2
        b += 1
      }
      a += 1
    }
    out
  }

  /** [[kmNearest]] with Elkan-style triangle-inequality pruning: if
    * d(c_j, c_best)² > 4·bd then d(x, c_j) ≥ d(c_j, c_best) − d(x,
    * c_best) > 2√bd − √bd = √bd STRICTLY, so candidate j can neither
    * beat the current best nor tie it — its full dim-loop is skipped.
    * The STRICT inequality is what makes the skip value-exact under
    * the ties-to-smaller-cluster rule (at d² = 4·bd exactly, a
    * boundary point could tie, so that case still evaluates). Saves
    * per-row distance work at the identical fixed point; the win grows
    * as Lloyd converges (bd tightens, centroids separate). */
  def kmNearestElkan(codes: ArrayData, clusters: Array[Long],
      cents: Array[Array[Long]], ccd2: Array[Array[Long]])
      : org.apache.spark.sql.catalyst.InternalRow = {
    var bd = Long.MaxValue
    var bc = Long.MaxValue
    var bj = -1
    var j = 0
    while (j < cents.length) {
      // (bd << 2 would overflow before any candidate is evaluated or on
      // pathological magnitudes — both guards fall through to evaluate)
      if (bj < 0 || bd >= (Long.MaxValue >> 2) || ccd2(j)(bj) <= (bd << 2)) {
        val m = cents(j)
        var d2 = 0L
        var i = 0
        while (i < m.length) {
          val diff = codes.getLong(i) - m(i)
          d2 += diff * diff
          i += 1
        }
        if (d2 < bd || (d2 == bd && clusters(j) < bc)) {
          bd = d2; bc = clusters(j); bj = j
        }
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bd, bc))
  }
}

/** Value semantics for expressions that carry literal arrays (hash
  * coefficients, trained centroids and codebooks). Case-class equality
  * and TreeNode's hash would compare the arrays by reference, so two
  * builds from equal arrays would never be semantically equal to
  * Catalyst, and `explain` would print `[J@<identity hash>`, different
  * on every run. So arrays compare and hash by content and render as a
  * short deterministic digest, `long[<n>]#<xxhash64>` (`long[<n>][]#...`
  * for nested arrays), not in full: the IVF-PQ books run to thousands
  * of longs, and the rendering lands in every SQL-execution event. */
trait ArrayArgs extends Expression {
  override def stringArgs: Iterator[Any] = super.stringArgs.map {
    case a: Array[_] => ArrayArgs.digest(a)
    case other => other
  }
  override def equals(other: Any): Boolean = other match {
    case that: ArrayArgs => (that eq this) || (that.getClass == getClass &&
      productIterator.zip(that.productIterator).forall { case (a, b) =>
        java.util.Objects.deepEquals(a, b) })
    case _ => false
  }
  @transient private lazy val contentHash: Int =
    java.util.Arrays.deepHashCode(productIterator.map(_.asInstanceOf[AnyRef]).toArray)
  override def hashCode(): Int = contentHash
}

object ArrayArgs {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** `long[512]#<16 hex digits>`: element type, outer length, one `[]`
    * per nested level, and an xxhash64 over every length and element. */
  def digest(a: Array[_]): String = {
    var h = 42L
    def walk(x: Any): Unit = x match {
      case ls: Array[Long] =>
        h = XXH64.hashLong(ls.length.toLong, h)
        ls.foreach(v => h = XXH64.hashLong(v, h))
      case xs: Array[_] =>
        h = XXH64.hashLong(xs.length.toLong, h)
        xs.foreach(walk)
      case v => h = XXH64.hashLong(v.##.toLong, h)
    }
    walk(a)
    var c = a.getClass.getComponentType
    var dims = ""
    while (c.isArray) { dims += "[]"; c = c.getComponentType }
    f"${c.getSimpleName}[${a.length}]$dims#$h%016x"
  }
}

/** dot(a, b) over array<double> — codegen'd single pass. */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
  override def prettyName: String = "vecdot"
}

/** Set-Jaccard of two array<string> columns — codegen'd. */
case class ArrayJaccard(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.jaccard($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayJaccard =
    copy(left = l, right = r)
  override def prettyName: String = "array_jaccard"
}

/** Full MinHash signature from raw text — shingling + hashing + mins in
  * one pass, no intermediate arrays. */
case class MinHashSig(child: Expression, n: Int, as: Array[Long], bs: Array[Long], p: Long)
    extends UnaryExpression with ArrayArgs {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val asArr = as
  @transient private lazy val bsArr = bs
  override def nullSafeEval(input: Any): Any =
    VectorKernels.minhashSignature(input.asInstanceOf[UTF8String], n, asArr, bsArr, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("minhashAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.minhashSignature($c, $n, $asRef, $bsRef, ${p}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** Distinct character n-gram set in one pass (the HOF equivalent —
  * array_distinct ∘ transform ∘ sequence — is interpreted and was the
  * residual q19 hot spot). Set semantics identical; element order is
  * first-occurrence (irrelevant downstream: explode + set-jaccard). */
case class CharShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    VectorKernels.charShingles(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.charShingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): CharShingles =
    copy(child = newChild)
  override def prettyName: String = "char_shingles"
}

/** Sorted distinct hashed shingle set — the compact (8 bytes/shingle)
  * transport for near-dup verification joins. */
case class HashedShingles(child: Expression, n: Int, mod: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    VectorKernels.hashedShingles(input.asInstanceOf[UTF8String], n, mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.hashedShingles($c, $n, ${mod}L)")
  override protected def withNewChildInternal(newChild: Expression): HashedShingles =
    copy(child = newChild)
  override def prettyName: String = "hashed_shingles"
}

/** Jaccard over sorted long arrays — see [[VectorKernels.jaccardSortedLong]]. */
case class ArrayJaccardLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.jaccardSortedLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.jaccardSortedLong($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ArrayJaccardLong =
    copy(left = l, right = r)
  override def prettyName: String = "array_jaccard_long"
}

/** Exact |A ∩ B| over sorted distinct long arrays — see
  * [[VectorKernels.intersectSizeSortedLong]]. */
case class ArrayIntersectSizeLong(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.intersectSizeSortedLong(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.intersectSizeSortedLong($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : ArrayIntersectSizeLong = copy(left = l, right = r)
  override def prettyName: String = "array_intersect_size_long"
}

/** Flat IVF-PQ probe LUT rows against LITERAL coarse centroids and
  * residual books — see [[VectorKernels.ivfPqLut]]. The trained
  * artifacts (a few KB) ride the expression, so a serving stream's
  * probe preparation needs no joins and no state. */
case class IvfPqLutRows(child: Expression, coarseClusters: Array[Long],
    coarseCents: Array[Array[Long]], bookClusters: Array[Array[Long]],
    bookCents: Array[Array[Array[Long]]], nProbe: Int, subDim: Int,
    shift: Long) extends UnaryExpression with ArrayArgs {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pc", LongType, nullable = false),
    StructField("sub", LongType, nullable = false),
    StructField("cluster", LongType, nullable = false),
    StructField("lutd2", LongType, nullable = false))), containsNull = false)
  override def nullSafeEval(input: Any): Any =
    VectorKernels.ivfPqLut(input.asInstanceOf[ArrayData], coarseClusters,
      coarseCents, bookClusters, bookCents, nProbe, subDim, shift)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ccl = ctx.addReferenceObj("ivfCoarseClusters", coarseClusters, "long[]")
    val cce = ctx.addReferenceObj("ivfCoarseCents", coarseCents, "long[][]")
    val bcl = ctx.addReferenceObj("ivfBookClusters", bookClusters, "long[][]")
    val bce = ctx.addReferenceObj("ivfBookCents", bookCents, "long[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.ivfPqLut($c, $ccl, $cce, $bcl, $bce, $nProbe, $subDim, ${shift}L)")
  }
  override protected def withNewChildInternal(newChild: Expression): IvfPqLutRows =
    copy(child = newChild)
  override def prettyName: String = "ivfpq_lut_rows"
}

/** Distinct winnowing fingerprints of a text column — array<long>, one
  * row-local pass ([[VectorKernels.winnowFps]]). */
case class WinnowFps(child: Expression, k: Int, w: Int, mod: Long,
    posScale: Long) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    VectorKernels.winnowFps(input.asInstanceOf[UTF8String], k, w, mod, posScale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.winnowFps($c, $k, $w, ${mod}L, ${posScale}L)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
  override def prettyName: String = "winnow_fps"
}

/** k-means argmin against LITERAL centroids: struct(dist2, cluster) of
  * the nearest centroid to an array<long> codes column — one primitive
  * JVM loop per row with Elkan-style triangle-inequality pruning
  * ([[VectorKernels.kmNearestElkan]]: candidates provably unable to
  * beat or tie the running best skip their dim-loop entirely; the
  * strict 4·bd bound keeps the ties-to-smaller-cluster result exact).
  * The centroid matrix AND its k×k inter-centroid distance matrix ride
  * in the expression (constant per Lloyd round, a few KB), so the
  * reassignment map needs no join at all. */
case class KmNearest(child: Expression, clusters: Array[Long],
    cents: Array[Array[Long]]) extends UnaryExpression with ArrayArgs {
  @transient private lazy val ccd2: Array[Array[Long]] =
    VectorKernels.pairwiseD2(cents)
  override def dataType: DataType = StructType(Seq(
    StructField("dist2", LongType, nullable = false),
    StructField("cluster", LongType, nullable = false)))
  override def nullSafeEval(input: Any): Any =
    VectorKernels.kmNearestElkan(input.asInstanceOf[ArrayData], clusters, cents, ccd2)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val clRef = ctx.addReferenceObj("kmClusters", clusters, "long[]")
    val ceRef = ctx.addReferenceObj("kmCents", cents, "long[][]")
    val ccRef = ctx.addReferenceObj("kmCcd2", ccd2, "long[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorKernels.kmNearestElkan($c, $clRef, $ceRef, $ccRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): KmNearest =
    copy(child = newChild)
  override def prettyName: String = "km_nearest"
}

/** Column helpers for the vector and shingle expressions. Each builds
  * its Catalyst expression directly, so it works on any session's
  * DataFrames with nothing registered first; the SQL-text names are
  * [[GraftExtensions]]' concern. */
object VectorFunctions {
  private def column(e: Expression): Column = org.apache.spark.sql.GraftShim.column(e)
  private def expr(c: Column): Expression = org.apache.spark.sql.GraftShim.expression(c)

  def vecdot(a: Column, b: Column): Column = column(VecDot(expr(a), expr(b)))
  def arrayJaccard(a: Column, b: Column): Column = column(ArrayJaccard(expr(a), expr(b)))
  /** The coefficient set is the caller's ([[graft.ext.MinHashLsh]]
    * passes its own `A`/`B`/`P`). */
  def minhashSig(text: Column, n: Int, as: Seq[Long], bs: Seq[Long], p: Long): Column =
    column(MinHashSig(expr(text), n, as.toArray, bs.toArray, p))
  def charShingles(text: Column, n: Int): Column = column(CharShingles(expr(text), n))
  def hashedShingles(text: Column, n: Int, mod: Long): Column =
    column(HashedShingles(expr(text), n, mod))
  def arrayJaccardLong(a: Column, b: Column): Column =
    column(ArrayJaccardLong(expr(a), expr(b)))
  /** Exact |A ∩ B| of two ascending distinct long arrays (hashed
    * shingle sets) — the two-pointer kernel; the builtin
    * `array_intersect` materializes the intersection through a per-row
    * hash set just to take its size, and on ~300-element sets over
    * millions of candidate pairs that allocation is the containment
    * family's hot loop. */
  def arrayIntersectSizeLong(a: Column, b: Column): Column =
    column(ArrayIntersectSizeLong(expr(a), expr(b)))
}
