package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash kernels: a document's word-shingle hash set and its
  * MinHash signature, each computed per row in a tight loop.
  *
  * Why: the relational formulation explodes every shingle into a row,
  * `distinct`s it and shuffles it into a `numHashes`-column `min`
  * aggregate — the largest shuffle of near-dedup. Written as
  * higher-order functions (`transform`/`array_min`) the same computation
  * runs interpreted (CodegenFallback) and is slower still. Here both steps
  * are map-only and stay inside whole-stage codegen.
  *
  * The bits are those of the relational formulation:
  *  - shingle hash = `xxhash64(concat_ws("_", slice(split(text, " "), i, n)))`:
  *    tokens split on a single space keeping empty tokens (leading,
  *    trailing and doubled spaces), joined with `_`, hashed as UTF-8
  *    bytes with seed 42;
  *  - signature component i = `min over g of xxhash64(g, i)`, i.e.
  *    `XXH64.hashInt(i, XXH64.hashLong(g, 42))`.
  */
object MinHash {

  /** Spark's `xxhash64` seed. */
  val Seed = 42L

  /** Sorted, distinct hashes of the `n`-word shingles of `text`; empty
    * when `text` has fewer than `n` tokens. */
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    // `split` decodes to a Java string and re-encodes each token, which
    // turns malformed UTF-8 into U+FFFD; do the same so the bytes agree
    val t = if (text.isValid) text else UTF8String.fromString(text.toString)
    val len = t.numBytes()
    val b = new Array[Byte](len)
    Platform.copyMemory(t.getBaseObject, t.getBaseOffset, b,
      Platform.BYTE_ARRAY_OFFSET, len)
    var tokens = 1
    var p = 0
    while (p < len) { if (b(p) == ' ') tokens += 1; p += 1 }
    val count = tokens - n + 1
    if (count <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    // token k spans [starts(k), starts(k + 1) - 1); a space is one byte
    // and never part of a multi-byte sequence, so splitting bytes on 0x20
    // equals splitting the decoded string, and the `_`-joined shingle is
    // the text's own byte range with its spaces replaced
    val starts = new Array[Int](tokens + 1)
    var k = 1
    p = 0
    while (p < len) {
      if (b(p) == ' ') { b(p) = '_'; starts(k) = p + 1; k += 1 }
      p += 1
    }
    starts(tokens) = len + 1
    val hs = new Array[Long](count)
    var i = 0
    while (i < count) {
      val from = starts(i)
      hs(i) = XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + from,
        starts(i + n) - 1 - from, Seed)
      i += 1
    }
    java.util.Arrays.sort(hs)
    var d = 1
    i = 1
    while (i < count) {
      if (hs(i) != hs(d - 1)) { hs(d) = hs(i); d += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (d == count) hs else java.util.Arrays.copyOf(hs, d))
  }

  /** `numHashes`-component MinHash signature of a shingle-hash set, or
    * null when the set has no non-null element (a min over nothing). */
  def signature(hashes: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    var j = 0
    while (j < hashes.numElements()) {
      if (!hashes.isNullAt(j)) {
        seen = true
        val g = XXH64.hashLong(hashes.getLong(j), Seed)
        var i = 0
        while (i < numHashes) {
          val h = XXH64.hashInt(i, g)
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      j += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(sig) else null
  }

  /** The kernels' static forwarders: janino cannot resolve a Scala
    * object's `MODULE$` field (see [[IcebergBucket]]). */
  private[functions] val Cls: String = getClass.getName.stripSuffix("$")
}

/** `graft_shingle_hashes(text, n)`: the sorted, distinct `array<bigint>`
  * of a document's `n`-word shingle hashes ([[MinHash.shingleHashes]]). */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"graft_shingle_hashes n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingle_hashes expects a string input, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHash.shingleHashes(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${MinHash.Cls}.shingleHashes($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)

  override def prettyName: String = "graft_shingle_hashes"
}

/** `graft_minhash(hashes, numHashes)`: the MinHash signature of a
  * shingle-hash array ([[MinHash.signature]]); null for an empty one. */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1, s"graft_minhash numHashes must be >= 1, got $numHashes")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects array<bigint> input, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHash.signature(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = ${c.isNull};
      |${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = ${MinHash.Cls}.signature(${c.value}, $numHashes);
      |  ${ev.isNull} = ${ev.value} == null;
      |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash"
}
