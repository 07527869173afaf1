package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static hash kernels shared by interpreted eval and generated code.
  * Semantics are pinned (and mirrored in DuckDB oracle SQL):
  *
  *   polyHash(s, m)  = fold over code points: acc = (acc*31 + cp) mod m
  *   simHash32(s)    = 32-bit SimHash over whitespace tokens of trim(s),
  *                     token hash = polyHash(token, 2^32); bit j of the
  *                     result is 1 iff Σ_tokens (bit_j(h) ? +1 : -1) > 0
  */
object HashUtil {
  def polyHash(s: UTF8String, mod: Long): Long = polyHashB(s, 31L, mod)

  /** [[polyHash]] with an explicit base — the second, independent hash
    * family the 64-bit SimHash's high half votes on. */
  def polyHashB(s: UTF8String, base: Long, mod: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * base + cp) % mod
    }
    acc
  }

  /** Feature-hashed text embedding (the "hashing trick", Weinberger et
    * al. 2009): each whitespace token contributes ±1 to every dimension,
    * the sign taken from bit d of the token's 31-bit polyhash — i.e. the
    * pre-threshold SimHash accumulator kept as a dense integer vector.
    * Deterministic, model-free, integer-exact → oracle-replayable, and
    * the output plugs into every cosine/LSH/IVF operator via a plain
    * array cast. One pass per row, no shuffle, codegen'd. */
  def hashEmbed(s: UTF8String, dims: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    require(dims >= 1 && dims <= 31, s"hash_embed dims must be in [1, 31], got $dims")
    val out = new Array[Long](dims)
    val stripped = TextKernel.stripSpacesPublic(s.toString)
    if (stripped.nonEmpty) {
      for (tok <- stripped.split("\\s+", -1)) {
        val h = polyHash(UTF8String.fromString(tok), 2147483648L)
        var d = 0
        while (d < dims) {
          if (((h >>> d) & 1L) == 1L) out(d) += 1 else out(d) -= 1
          d += 1
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def simHash32(s: UTF8String): Long = {
    val text = s.toString.trim
    if (text.isEmpty) return 0L
    val counts = new Array[Int](32)
    for (tok <- text.split("\\s+")) {
      val h = polyHash(UTF8String.fromString(tok), 4294967296L)
      var j = 0
      while (j < 32) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 32) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** 64-bit SimHash: the CONCATENATION of two independent 32-bit
    * SimHashes over the same whitespace tokens — the low half votes on
    * the base-31 token polyhash (bit-identical to [[simHash32]]), the
    * high half on base-131 ([[polyHashB]]). Hamming distance on the
    * result is the SUM of the halves' distances, so the oracle
    * brute-forces it as two 32-bit halves and no unsigned-64
    * arithmetic exists anywhere. The point of the width is band
    * GEOMETRY at distinct-corpus scale: 16-bit bands over 64 bits keep
    * the ≤3-Hamming pigeonhole guarantee while shrinking expected band
    * buckets from n/256 to n/65536 — the factor-100 distinct-text
    * stress showed the 8-bit geometry's candidate mass turning
    * super-linear past ~10⁵ distinct contents (SCALESTRESS r18). */
  def simHash64(s: UTF8String): Long = {
    val text = s.toString.trim
    if (text.isEmpty) return 0L
    val counts = new Array[Int](64)
    for (tok <- text.split("\\s+")) {
      val t = UTF8String.fromString(tok)
      val h1 = polyHash(t, 4294967296L)
      val h2 = polyHashB(t, 131L, 4294967296L)
      var j = 0
      while (j < 32) {
        if (((h1 >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        if (((h2 >>> j) & 1L) == 1L) counts(32 + j) += 1 else counts(32 + j) -= 1
        j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }
}

/** One-pass token statistics kernel — the native scale path for the
  * text-quality Columns in [[TextFunctions]]. Semantics are pinned
  * bit-for-bit to the Column formulation they replace (which the
  * DuckDB oracles mirror):
  *   - tokens = split(trim(text), "\s+") with Spark semantics: trim
  *     strips 0x20 SPACES ONLY; split keeps leading/trailing empty
  *     tokens (Java limit -1); all-space text → zero tokens
  *   - watch_count = tokens whose lowercase equals a watch word
  *   - punct_count = occurrences of [.,!?;:] over the FULL text
  *   - token_chars = Σ code points per token
  */
object TextKernel {
  /** Spark-`trim` semantics (0x20 spaces only) — shared with
    * [[GramKernel]] so both kernels tokenize identically. */
  private[functions] def stripSpacesPublic(s: String): String = stripSpaces(s)

  private def stripSpaces(s: String): String = {
    var b = 0
    var e = s.length
    while (b < e && s.charAt(b) == ' ') b += 1
    while (e > b && s.charAt(e - 1) == ' ') e -= 1
    if (b == 0 && e == s.length) s else s.substring(b, e)
  }

  /** Returns [n_tokens, watch_count, punct_count, token_chars]. */
  def tokenStats(s: UTF8String, watch: Array[String]): org.apache.spark.sql.catalyst.util.ArrayData = {
    val full = s.toString
    var punct = 0L
    var i = 0
    while (i < full.length) {
      val ch = full.charAt(i)
      if (ch == '.' || ch == ',' || ch == '!' || ch == '?' || ch == ';' || ch == ':') punct += 1
      i += 1
    }
    val stripped = stripSpaces(full)
    if (stripped.isEmpty)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(0L, 0L, punct, 0L))
    val toks = stripped.split("\\s+", -1)
    var n = 0L
    var w = 0L
    var chars = 0L
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      n += 1
      chars += tok.codePointCount(0, tok.length).toLong
      val lower = tok.toLowerCase(java.util.Locale.ROOT)
      var j = 0
      var hit = false
      while (j < watch.length && !hit) { if (watch(j) == lower) hit = true; j += 1 }
      if (hit) w += 1
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(n, w, punct, chars))
  }

  /** One-pass per-row term frequencies of a token array:
    * array<struct<token, tf>> in first-occurrence order (deterministic
    * per row; consumers explode, so the order never reaches a result).
    * Replaces the `transform(array_distinct(t), tok -> size(filter(t,
    * x = tok)))` HOF shape, which re-scans the whole array per
    * distinct token — O(distinct·len) and interpreted; this is one
    * amortized-O(len) hashed pass, codegen'd. Null tokens are skipped
    * (the tokenizers never emit them). */
  def tokenCounts(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = arr.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Array[Long]]()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val tok = arr.getUTF8String(i)
        val c = counts.get(tok)
        if (c == null) counts.put(tok.clone(), Array(1L)) else c(0) += 1L
      }
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue()(0))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** One-pass n-gram repetition kernel — the row-local scale path for the
  * Gopher-style repetition gate. The per-(doc, gram) explode+aggregate
  * formulation ([[graft.ext.Repetition.ngramRepetitionStats]]) shuffles
  * every gram occurrence twice; this kernel computes the same four
  * exact counts inside the scan projection (no shuffle at all), which
  * also makes the gate usable as a stateless streaming filter.
  * Gram identity is exact: tokens get per-document ids, adjacent ids
  * pack into one long key (21 bits each); documents with more than 2^21
  * distinct tokens fall back to string-keyed grams. */
object GramKernel {
  private val MaxPackedIds = 1 << 21

  /** Returns [n2_total, n2_top, n3_total, n3_distinct] over whitespace
    * tokens of trim(text) — same token semantics as [[TextKernel]]. */
  def gramStats(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val stripped = TextKernel.stripSpacesPublic(s.toString)
    val out = new Array[Long](4)
    if (stripped.nonEmpty) {
      val toks = stripped.split("\\s+", -1)
      val ids = new java.util.HashMap[String, Integer]
      val tokIds = new Array[Int](toks.length)
      var i = 0
      var packable = true
      while (i < toks.length) {
        var id = ids.get(toks(i))
        if (id == null) { id = Integer.valueOf(ids.size); ids.put(toks(i), id) }
        tokIds(i) = id.intValue()
        i += 1
      }
      packable = ids.size < MaxPackedIds
      if (packable) {
        val big = new java.util.HashMap[java.lang.Long, java.lang.Long]
        i = 0
        while (i + 1 < toks.length) {
          val key = java.lang.Long.valueOf((tokIds(i).toLong << 21) | tokIds(i + 1))
          val c = big.merge(key, java.lang.Long.valueOf(1L),
            (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(a + b))
          if (c > out(1)) out(1) = c
          out(0) += 1
          i += 1
        }
        val tri = new java.util.HashMap[java.lang.Long, java.lang.Long]
        i = 0
        while (i + 2 < toks.length) {
          val key = java.lang.Long.valueOf(
            (tokIds(i).toLong << 42) | (tokIds(i + 1).toLong << 21) | tokIds(i + 2))
          tri.merge(key, java.lang.Long.valueOf(1L),
            (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(a + b))
          out(2) += 1
          i += 1
        }
        out(3) = tri.size.toLong
      } else {
        val big = new java.util.HashMap[String, java.lang.Long]
        i = 0
        while (i + 1 < toks.length) {
          val c = big.merge(toks(i) + " " + toks(i + 1), java.lang.Long.valueOf(1L),
            (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(a + b))
          if (c > out(1)) out(1) = c
          out(0) += 1
          i += 1
        }
        val tri = new java.util.HashMap[String, java.lang.Long]
        i = 0
        while (i + 2 < toks.length) {
          tri.merge(toks(i) + " " + toks(i + 1) + " " + toks(i + 2),
            java.lang.Long.valueOf(1L),
            (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(a + b))
          out(2) += 1
          i += 1
        }
        out(3) = tri.size.toLong
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** [n2_total, n2_top, n3_total, n3_distinct] via [[GramKernel]] in one
  * codegen'd pass. */
case class GramStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"gram_stats requires a STRING column, got ${child.dataType.sql}")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    GramKernel.gramStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GramKernel.gramStats($c)")
  override protected def withNewChildInternal(newChild: Expression): GramStats =
    copy(child = newChild)
  override def prettyName: String = "gram_stats"
}

/** [n_tokens, watch_count, punct_count, token_chars] of a text column
  * in ONE codegen'd pass — replaces four interpreted HOF chains
  * (filter/aggregate/transform are CodegenFallback; at corpus scale
  * they evaluate an expression tree per token). The watch list is
  * bound at plan time (exact strings — commas in words are fine via
  * the Scala API; only the SQL name, [[GraftExtensions]]' `token_stats`,
  * joins them on commas). */
case class TokenStats(child: Expression, words: Seq[String]) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"token_stats requires a STRING column, got ${child.dataType.sql}")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  @transient private lazy val wordsArr: Array[String] = words.toArray
  override def nullSafeEval(input: Any): Any =
    TextKernel.tokenStats(input.asInstanceOf[UTF8String], wordsArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wordsRef = ctx.addReferenceObj("watchWords", wordsArr, "java.lang.String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernel.tokenStats($c, $wordsRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): TokenStats =
    copy(child = newChild)
  override def prettyName: String = "token_stats"
}

/** Per-row term frequencies ([[TextKernel.tokenCounts]]) —
  * array<struct<token string, tf bigint>> of a token array in ONE
  * codegen'd hashed pass. */
case class TokenCounts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"token_counts requires an ARRAY<STRING> column, got ${other.sql}")
    }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("tf", LongType, nullable = false))),
      containsNull = false)
  override def nullSafeEval(input: Any): Any =
    TextKernel.tokenCounts(input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernel.tokenCounts($c)")
  override protected def withNewChildInternal(newChild: Expression): TokenCounts =
    copy(child = newChild)
  override def prettyName: String = "token_counts"
}

/** Rolling polynomial string hash as a native Catalyst expression —
  * single pass over the string, codegen'd (whole-stage), no per-row
  * array materialization. The scale workhorse under MinHash: hashing
  * every shingle of 100 TB of text through Column-space `aggregate`
  * folds would allocate an array per shingle; this is one JVM loop. */
case class PolyHash(child: Expression, mod: Long) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    HashUtil.polyHash(input.asInstanceOf[UTF8String], mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.polyHash($c, ${mod}L)")
  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
  override def prettyName: String = "polyhash"
}

/** 32-bit SimHash of a text column — one pass, codegen'd. */
case class SimHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    HashUtil.simHash32(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.simHash32($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)
  override def prettyName: String = "simhash32"
}

/** 64-bit SimHash of a text column ([[HashUtil.simHash64]]) — one
  * pass, codegen'd; the wide-band near-dup geometry's signature. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    HashUtil.simHash64(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.simHash64($c)")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** Dense integer text embedding ([[HashUtil.hashEmbed]]) — array<long>
  * of length `dims` (1..31: signs come from the 31-bit token hash). */
case class HashEmbed(child: Expression, dims: Int) extends UnaryExpression {
  require(dims >= 1 && dims <= 31, s"hash_embed dims must be in [1, 31], got $dims")
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"hash_embed requires a STRING column, got ${child.dataType.sql}")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    HashUtil.hashEmbed(input.asInstanceOf[UTF8String], dims)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.hashEmbed($c, $dims)")
  override protected def withNewChildInternal(newChild: Expression): HashEmbed =
    copy(child = newChild)
  override def prettyName: String = "hash_embed"
}

/** Column helpers for the custom hash and text expressions. Each builds
  * its Catalyst expression directly (Spark 4 keeps `Expression -> Column`
  * private; [[org.apache.spark.sql.GraftShim]] bridges it), so it works
  * on any session's DataFrames, like a builtin, with nothing registered
  * first. The SQL-text names are [[GraftExtensions]]' concern. */
object GraftFunctions {
  private def column(e: Expression): Column = org.apache.spark.sql.GraftShim.column(e)
  private def expr(c: Column): Expression = org.apache.spark.sql.GraftShim.expression(c)

  def polyhash(c: Column, mod: Long = 1000000007L): Column = column(PolyHash(expr(c), mod))

  def simhash32(c: Column): Column = column(SimHash32(expr(c)))

  def simhash64(c: Column): Column = column(SimHash64(expr(c)))

  def tokenStats(c: Column, words: Seq[String]): Column = column(TokenStats(expr(c), words))

  /** One-pass per-row term frequencies of a token-array column. */
  def tokenCounts(c: Column): Column = column(TokenCounts(expr(c)))

  def gramStats(c: Column): Column = column(GramStats(expr(c)))

  def hashEmbed(c: Column, dims: Int = 16): Column = column(HashEmbed(expr(c), dims))
}
