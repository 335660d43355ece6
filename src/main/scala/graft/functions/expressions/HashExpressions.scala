package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the sketch hashes.
  *
  * The pure-Column formulations in TextFunctions build 64-wide expression
  * trees (one sub-expression per bit) — measured at sf0.1 they dominate the
  * dedup queries and push 12 MiB task binaries. These single-pass versions
  * stay inside whole-stage codegen (`doGenCode` emits a tight loop) and run
  * one array traversal regardless of bit width — the (b) tier of the
  * custom-operator preference order (compose > Expression > Strategy > RDD).
  */

/** 64-bit SimHash over an array<string> of tokens: per-bit majority vote of
  * each token's xxhash64 (seed 42, same as Spark's xxhash64). */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    SimHash64Expr.hash(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SimHash64Expr.hash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64Expr =
    copy(child = newChild)
}

object SimHash64Expr {
  /** Shared by interpreted eval and generated code. */
  def hash(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var b = 0
        while (b < 64) {
          votes(b) += (((h >>> b) & 1L).toInt * 2 - 1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def apply(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SimHash64Expr(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
}

/** MinHash signature over a shingle-set column — array<string> (raw
  * shingles) or array<long> (hashed shingles): k minimums of seeded xxhash64,
  * one pass over the array for all k. */
case class MinHashSignatureExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  private lazy val longInput: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(MinHashSignatureExpr.sig(input.asInstanceOf[ArrayData], k, longInput))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.expressions.MinHashSignatureExpr.sig($c, $k, $longInput));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSignatureExpr =
    copy(child = newChild)
}

object MinHashSignatureExpr {
  def sig(arr: ArrayData, k: Int, longInput: Boolean): Array[Long] = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (longInput) {
        val v = arr.getLong(i)
        var j = 0
        while (j < k) {
          val h = XXH64.hashLong(v, j.toLong)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      } else {
        val s = arr.getUTF8String(i)
        if (s != null) {
          var j = 0
          while (j < k) {
            val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, j.toLong)
            if (h < mins(j)) mins(j) = h
            j += 1
          }
        }
      }
      i += 1
    }
    mins
  }

  def apply(c: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      MinHashSignatureExpr(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c), k))
}

/** Engine-portable md5 shingle set over an array<string> of tokens: the
  * sorted distinct md5-hex of each space-joined n-gram (n tokens; fewer
  * than n → one shingle of all tokens) in ONE native pass — the pure-Column
  * formulation (transform + md5 per shingle) runs interpreted per element
  * and dominated the dedup bench at sf0.1. DuckDB mirror:
  * `list_sort(list_distinct(list_transform(range(...), i ->
  * md5(array_to_string(tk[i:i+n-1], ' ')))))`. */
case class Md5ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "md5_shingles"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(Md5ShinglesExpr.shingles(input.asInstanceOf[ArrayData], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.expressions.Md5ShinglesExpr.shingles($c, $n));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Md5ShinglesExpr =
    copy(child = newChild)
}

object Md5ShinglesExpr {
  private val SPACE = " ".getBytes("US-ASCII")

  def shingles(arr: ArrayData, n: Int): Array[UTF8String] = {
    val toks = new Array[Array[Byte]](arr.numElements())
    var i = 0
    while (i < toks.length) {
      val s = arr.getUTF8String(i)
      toks(i) = if (s == null) Array.emptyByteArray else s.getBytes
      i += 1
    }
    val md = Md5Hex.digest.get()
    val out =
      if (toks.length < n) {
        // single shingle: all tokens space-joined (md5("") for no tokens)
        md.reset()
        var j = 0
        while (j < toks.length) {
          if (j > 0) md.update(SPACE)
          md.update(toks(j)); j += 1
        }
        Array(Md5Hex.hex(md.digest()))
      } else {
        val hs = new Array[Array[Byte]](toks.length - n + 1)
        var s0 = 0
        while (s0 <= toks.length - n) {
          md.reset()
          var j = 0
          while (j < n) {
            if (j > 0) md.update(SPACE)
            md.update(toks(s0 + j)); j += 1
          }
          hs(s0) = Md5Hex.hex(md.digest())
          s0 += 1
        }
        // sort + dedup (byte-lexicographic == DuckDB list_sort on hex)
        java.util.Arrays.sort(hs, Md5Hex.byteOrder)
        var w = 0
        var r = 0
        while (r < hs.length) {
          if (w == 0 || !java.util.Arrays.equals(hs(w - 1), hs(r))) { hs(w) = hs(r); w += 1 }
          r += 1
        }
        java.util.Arrays.copyOf(hs, w)
      }
    out.map(UTF8String.fromBytes)
  }

  def apply(c: Column, n: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      Md5ShinglesExpr(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c), n))
}

/** Shared md5 plumbing for the portable sketch kernels: a thread-local
  * digest (a fresh MessageDigest per value measured ~2.4× the dedup bench)
  * and hex helpers. */
private[expressions] object Md5Hex {
  private val HexChars = "0123456789abcdef".toCharArray

  val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  def hex(d: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xF).toByte
      out(2 * i + 1) = HexChars(d(i) & 0xF).toByte
      i += 1
    }
    out
  }

  val byteOrder: java.util.Comparator[Array[Byte]] = new java.util.Comparator[Array[Byte]] {
    override def compare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        if (a(i) != b(i)) return java.lang.Byte.compare(a(i), b(i))
        i += 1
      }
      Integer.compare(a.length, b.length)
    }
  }

  /** a < b, byte-lexicographic (equal-length ASCII hex). */
  def less(a: Array[Byte], b: Array[Byte]): Boolean = byteOrder.compare(a, b) < 0
}

/** Engine-portable MinHash signature over an array<string> of md5-hex
  * shingle hashes: element j of the output is the lexicographic minimum of
  * md5(s"$j:$hex") over the set — the seeded re-hash and the min are both
  * expressible verbatim in DuckDB (`list_min(list_transform(s, h ->
  * md5(j || ':' || h)))`), so the full minhash → band → Jaccard pipeline
  * carries a real oracle. Single pass, all k seeds per element. */
case class MinHashMd5Expr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "minhash_md5"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(MinHashMd5Expr.sig(input.asInstanceOf[ArrayData], k))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.expressions.MinHashMd5Expr.sig($c, $k));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashMd5Expr =
    copy(child = newChild)
}

object MinHashMd5Expr {
  // seed prefixes "j:" are row-invariant — computed once per JVM instead
  // of k allocations per ROW on the dedup family's hottest path (r21,
  // guide per-task work); k beyond the table falls back to the alloc
  private val prefixCache: Array[Array[Byte]] =
    Array.tabulate(64)(j => (j.toString + ":").getBytes("US-ASCII"))

  def sig(arr: ArrayData, k: Int): Array[UTF8String] = {
    val md = Md5Hex.digest.get()
    val mins = new Array[Array[Byte]](k)
    val n = arr.numElements()
    // materialize element bytes once (not per seed)
    val elems = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      elems(i) = if (s == null) null else s.getBytes
      i += 1
    }
    var j = 0
    while (j < k) {
      val prefix = if (j < prefixCache.length) prefixCache(j)
        else (j.toString + ":").getBytes("US-ASCII")
      var best: Array[Byte] = null
      i = 0
      while (i < n) {
        if (elems(i) != null) {
          md.reset()
          md.update(prefix)
          md.update(elems(i))
          val h = Md5Hex.hex(md.digest())
          if (best == null || Md5Hex.less(h, best)) best = h
        }
        i += 1
      }
      mins(j) = if (best == null) Array.emptyByteArray else best
      j += 1
    }
    mins.map(UTF8String.fromBytes)
  }

  def apply(c: Column, k: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      MinHashMd5Expr(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c), k))
}

/** LSH band keys from a string MinHash signature, all bands in ONE pass:
  * band b's key is md5 of the comma-joined signature rows
  * [b*rows, b*rows+rows). The pure-Column `transform(sequence(...))`
  * formulation embeds the (expensive) signature subtree inside the lambda,
  * so Catalyst re-evaluates the whole minhash once PER BAND — measured 8×
  * the signature cost at sf0.1. A native expression evaluates its child
  * exactly once. DuckDB mirror unchanged:
  * `md5(array_to_string(sg[b*r+1 : b*r+r], ','))`. */
case class LshBandKeysMd5Expr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("key", StringType, nullable = false))), containsNull = false)
  override def prettyName: String = "lsh_band_keys_md5"

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      LshBandKeysMd5Expr.keys(input.asInstanceOf[ArrayData], bands, rowsPerBand))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.expressions.LshBandKeysMd5Expr.keys($c, $bands, $rowsPerBand));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): LshBandKeysMd5Expr =
    copy(child = newChild)
}

object LshBandKeysMd5Expr {
  private val COMMA = ",".getBytes("US-ASCII")

  def keys(sig: ArrayData, bands: Int, rowsPerBand: Int): Array[Any] = {
    // Fail loudly instead of silently hashing empty input for bands past
    // the end of a short signature — that degenerate key makes every short
    // row an LSH candidate of every other (same convention as SkewJoin's
    // NULL-discriminator guard).
    if (bands.toLong * rowsPerBand > sig.numElements())
      throw new IllegalArgumentException(
        s"lsh_band_keys_md5: bands*rowsPerBand = ${bands.toLong * rowsPerBand} " +
          s"exceeds signature length ${sig.numElements()}; bands past the end " +
          "would all share md5(\"\") and bucket every short signature together")
    val md = Md5Hex.digest.get()
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      md.reset()
      var r = 0
      while (r < rowsPerBand) {
        val idx = b * rowsPerBand + r
        if (r > 0) md.update(COMMA)
        val s = sig.getUTF8String(idx)
        if (s != null) md.update(s.getBytes)
        r += 1
      }
      out(b) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](b, UTF8String.fromBytes(Md5Hex.hex(md.digest()))))
      b += 1
    }
    out
  }

  def apply(c: Column, bands: Int, rowsPerBand: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      LshBandKeysMd5Expr(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c),
        bands, rowsPerBand))
}

/** Engine-portable 64-bit SimHash over an array<string> of tokens: each
  * token's 64-bit hash is the first 8 bytes (big-endian) of md5(token) —
  * DuckDB: `('0x' || substr(md5(t), 1, 16))::UBIGINT` — then the usual
  * per-bit majority vote. Bit pattern identical across engines (signedness
  * only matters if the raw value is exported; the dedup query exports pair
  * ids and hamming distance, both integer-exact). */
case class SimHashMd5Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5"

  override protected def nullSafeEval(input: Any): Any =
    SimHashMd5Expr.hash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.SimHashMd5Expr.hash($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5Expr =
    copy(child = newChild)
}

object SimHashMd5Expr {
  def hash(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val md = Md5Hex.digest.get()
        md.reset()
        md.update(s.getBytes)
        val d = md.digest()
        // first 8 digest bytes, big-endian == first 16 hex chars as u64
        var h = 0L
        var bi = 0
        while (bi < 8) { h = (h << 8) | (d(bi) & 0xFFL); bi += 1 }
        var b = 0
        while (b < 64) {
          votes(b) += ((((h >>> b) & 1L).toInt * 2) - 1)
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def apply(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      SimHashMd5Expr(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
}

/** 60-bit prefix compaction of a SORTED md5-hex shingle set: each element's
  * first 15 hex chars parsed as a long, deduped — the verify-stage
  * representation of the shingle set. 8-byte elements instead of 32-char
  * strings cut the candidate-verify join's shuffle ~6× (the one heavy
  * constant TimePipelineScale measured at 500k docs), and the Jaccard merge
  * compares longs instead of UTF8 strings. Lowercase-hex lexicographic
  * order IS numeric order for equal-length prefixes, so the sorted input
  * stays sorted and the dedup is a single adjacent-equality pass. DuckDB
  * mirror: `list_sort(list_distinct(list_transform(s, h ->
  * ('0x' || h[1:15])::BIGINT)))`. Jaccard over the compacted sets differs
  * from the full-md5 value only on a 60-bit prefix collision inside one
  * pair's union (~|union|²/2⁶¹ — negligible, and both engines compact
  * identically so results still hash-match). */
case class Md5Prefix60Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_prefix60"

  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix60Expr.compact(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.Md5Prefix60Expr.compact($c);")

  override protected def withNewChildInternal(newChild: Expression): Md5Prefix60Expr =
    copy(child = newChild)
}

object Md5Prefix60Expr {
  def compact(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var w = 0
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null && s.numBytes() >= 15) {
        var v = 0L
        var j = 0
        while (j < 15) {
          val b = s.getByte(j)
          val d = if (b >= '0' && b <= '9') b - '0' else (b - 'a') + 10
          v = (v << 4) | d
          j += 1
        }
        if (w == 0 || out(w - 1) != v) { out(w) = v; w += 1 }
      }
      i += 1
    }
    new GenericArrayData(if (w == n) out else java.util.Arrays.copyOf(out, w))
  }

  def apply(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      Md5Prefix60Expr(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
}
