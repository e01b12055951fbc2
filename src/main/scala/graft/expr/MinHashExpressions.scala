package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen twins of the fuzzy-dedup hot-path UDFs
  * (`Dedup.shingleUdf` / `Dedup.minhashSignatureUdf`) — the round-11
  * directive-#4 port following the `TextProfile`/`HilbertValue` pattern:
  * a static pure function + a thin `UnaryExpression` whose generated code
  * calls it, so the shingle→signature projection stays inside whole-stage
  * codegen instead of paying the UDF's encoder round-trip (UTF8String→
  * String→Seq→Row per value, both directions) on every document of the
  * corpus — the single hottest projection of the 100 TB curation path.
  *
  * HASH-EXACTNESS CONTRACT: both functions reproduce the UDFs bit-for-bit
  * (same `String.trim.toLowerCase(Locale.ROOT).split("\\s+")` tokenization, same
  * LinkedHashSet first-seen shingle order, same seed-42 permutation
  * sequence, same MurmurHash3.stringHash base hash), property-pinned
  * against the retired UDFs in MinHashExprSpec, so every persisted
  * signature, band bucket, and oracle hash is unchanged.
  */
object MinHashOps {

  /** Same modulus as `Dedup.MinhashPrime`: a < 2^31 and base hash h < 2^32,
    * so a*h < 2^63 — the permutation stays in primitive long arithmetic. */
  val Prime: Long = (1L << 61) - 1

  /** Seed-42 permutation parameters, IDENTICAL sequence to the UDF's
    * `perms` (same RNG, same call order: nextInt then nextLong per entry;
    * a fixed seed means any prefix of the sequence is k-independent).
    * Cached to the largest k requested so far; slicing preserves values. */
  @volatile private var cached: Array[Long] = Array.empty // flat [a0,b0,a1,b1,...]
  def perms(k: Int): Array[Long] = {
    var c = cached
    if (c.length < 2 * k) synchronized {
      c = cached
      if (c.length < 2 * k) {
        val rnd = new scala.util.Random(42)
        val out = new Array[Long](2 * k)
        var i = 0
        while (i < k) {
          out(2 * i) = rnd.nextInt(Int.MaxValue - 1).toLong + 1
          out(2 * i + 1) = math.abs(rnd.nextLong()) % Prime
          i += 1
        }
        cached = out; c = out
      }
    }
    c
  }

  /** Word n-gram shingles as a distinct array, first-seen order; docs
    * shorter than n collapse to one whole-text shingle; null text → empty
    * array (the UDF's null branch). Byte-identical to `shingleUdf`. */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    if (text == null) return new GenericArrayData(Array.empty[Any])
    val toks = text.toString.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    if (toks.length < n)
      return new GenericArrayData(
        Array[Any](UTF8String.fromString(toks.mkString(" "))))
    val out = new scala.collection.mutable.LinkedHashSet[String]
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' '); sb.append(toks(i + j)); j += 1 }
      out += sb.toString
      i += 1
    }
    val arr = new Array[Any](out.size)
    var p = 0
    out.foreach { s => arr(p) = UTF8String.fromString(s); p += 1 }
    new GenericArrayData(arr)
  }

  /** MinHash signature: one tight pass over the shingle array computing
    * all k permutation minima; null/empty input → all-Long.MaxValue
    * signature (the UDF's empty-set value). Value-identical to
    * `minhashSignatureUdf`. */
  def signature(shingles: ArrayData, k: Int): ArrayData = {
    val ps = perms(k)
    val sig = Array.fill(k)(Long.MaxValue)
    if (shingles != null) {
      val m = shingles.numElements()
      var s = 0
      while (s < m) {
        val str = shingles.getUTF8String(s).toString
        val h = scala.util.hashing.MurmurHash3.stringHash(str).toLong & 0xffffffffL
        var i = 0
        while (i < k) {
          val v = (ps(2 * i) * h) % Prime + ps(2 * i + 1)
          val mv = if (v >= Prime) v - Prime else v
          if (mv < sig(i)) sig(i) = mv
          i += 1
        }
        s += 1
      }
    }
    new GenericArrayData(sig)
  }
}

/** `shingle_array(text, n)` — codegen shingling; null text yields an empty
  * array (never null), matching the UDF, so `nullable = false`. */
case class ShingleArray(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle length must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "shingle_array"

  override def eval(input: InternalRow): Any =
    MinHashOps.shingles(child.eval(input).asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.expr.MinHashOps.shingles(${c.isNull} ? null : ${c.value}, $n);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_signature(shingles, k)` — codegen signature; null array yields
  * the empty-set signature (never null), matching the UDF. */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"signature length must be >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_signature"

  override def eval(input: InternalRow): Any =
    MinHashOps.signature(child.eval(input).asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.expr.MinHashOps.signature(${c.isNull} ? null : ${c.value}, $k);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashExpressions {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  def shingle_array(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleArray(ColumnBridge.expression(text), n))

  def minhash_signature(shingles: Column, k: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shingles), k))
}
