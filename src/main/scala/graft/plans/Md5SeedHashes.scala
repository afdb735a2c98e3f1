package graft.plans

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All `n` seeded minhash-family values of one shingle in a single eval:
  * element h is the first-4-bytes-unsigned of md5("s<h>:" || shingle) —
  * bit-identical to the SQL-mirrorable
  * `conv(substring(md5(concat('s', h, ':', x)), 1, 8), 16, 10)` family
  * the oracles pin (DuckDB: `('0x' || substr(md5(...),1,8))::BIGINT`).
  *
  * Why a custom Expression: the declarative formulation pays, per
  * (shingle × seed), a string concat allocation, a 32-char hex-string
  * materialization, a substring, and a base-16 string parse — all to
  * extract 4 bytes of a digest the JVM already had as `byte[]`. This
  * expression reuses one thread-local MessageDigest and one prefix-byte
  * table, reads the long straight off the digest, and emits the whole
  * family as `array<long>` — one eval per shingle instead of n
  * expression trees, fused into whole-stage codegen via a static call.
  */
case class Md5SeedHashes(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_md5_seed_hashes"

  override protected def nullSafeEval(s: Any, n: Any): Any =
    Md5Hashing.seedHashes(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) =>
      s"${ev.value} = graft.plans.Md5Hashing.seedHashes($s, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Md5SeedHashes =
    copy(left = newLeft, right = newRight)
}

/** The first `nHex` hex digits of md5(s) as an unsigned long —
  * bit-identical to the SQL-mirrorable
  * `conv(substring(md5(x), 1, nHex), 16, 10)` (DuckDB:
  * `('0x' || substr(md5(x), 1, nHex))::BIGINT`) that the oracles pin.
  *
  * Same rationale as [[Md5SeedHashes]]: the declarative form
  * materializes a 32-char hex string, substrings it, and parses base-16
  * — per input row — to recover nibbles the digest already held as
  * `byte[]`. This is the simhash hot path (one eval per shingle at
  * nHex=15) and the deterministic-sampling gate (nHex=8).
  * `nHex` ≤ 15 keeps the value inside a non-negative signed long.
  */
case class Md5PrefixLong(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_md5_prefix_long"

  override protected def nullSafeEval(s: Any, n: Any): Any =
    Md5Hashing.prefixLong(s.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n) =>
      s"${ev.value} = graft.plans.Md5Hashing.prefixLong($s, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Md5PrefixLong =
    copy(left = newLeft, right = newRight)
}

object Md5Hashing {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Prefix bytes "s<h>:" for the first 64 seeds; beyond that (unused in
    * practice) the prefix is built on the fly.
    */
  private val prefixes: Array[Array[Byte]] =
    Array.tabulate(64)(h => s"s$h:".getBytes(StandardCharsets.US_ASCII))

  private def prefix(h: Int): Array[Byte] =
    if (h < 64) prefixes(h) else s"s$h:".getBytes(StandardCharsets.US_ASCII)

  /** The n seeded 32-bit md5 hashes of `s`, as unsigned values in a
    * long array (codegen entry point — keep the signature Java-simple).
    */
  def seedHashes(s: UTF8String, n: Int): ArrayData = {
    val out = new Array[Long](n)
    java.util.Arrays.fill(out, Long.MaxValue)
    minSeedHashes(s.getBytes, out)
    ArrayData.toArrayData(out)
  }

  /** Fold the seeded hashes of `bytes` into the running minima `mins`
    * (one hash per slot) — the minhash inner loop shared by
    * [[seedHashes]] and [[docSignature]].
    */
  private def minSeedHashes(bytes: Array[Byte], mins: Array[Long]): Unit = {
    val md = digest.get()
    var h = 0
    while (h < mins.length) {
      md.reset()
      md.update(prefix(h))
      md.update(bytes)
      val d = md.digest()
      val v = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      if (v < mins(h)) mins(h) = v
      h += 1
    }
  }

  /** First `nHex` hex digits of md5(s) as an unsigned long (codegen
    * entry point). `nHex` must be 1..15 — 16 digits would overflow into
    * the sign bit, where `conv(...)` wraps but a long comparison against
    * the oracle's unsigned value would diverge.
    */
  def prefixLong(s: UTF8String, nHex: Int): Long = {
    require(nHex >= 1 && nHex <= 15, s"nHex=$nHex must be in 1..15")
    prefixOf(s.getBytes, nHex)
  }

  private def prefixOf(bytes: Array[Byte], nHex: Int): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var i = 0
    while (i < nHex) {
      val b = d(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }

  /** [[DocSignature]]'s eval (codegen entry point): the minhash minima
    * of every shingle's seed family and the `bits`-wide simhash majority
    * vote over every shingle's md5 prefix, as one (sig, simhash) row.
    * The vote is the aggregated form's `sum(±1) > 0` rule per bit.
    */
  def docSignature(shingles: ArrayData, n: Int, bits: Int): InternalRow = {
    require(bits == 0 || (bits % 4 == 0 && bits <= 60),
      s"bits=$bits must be 0 or a positive multiple of 4, at most 60")
    val mins = new Array[Long](n)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val tally = new Array[Int](bits)
    val m = shingles.numElements()
    var i = 0
    while (i < m) {
      if (!shingles.isNullAt(i)) {
        val bytes = shingles.getUTF8String(i).getBytes
        minSeedHashes(bytes, mins)
        if (bits > 0) {
          val h = prefixOf(bytes, bits / 4)
          var j = 0
          while (j < bits) {
            tally(j) += (if ((h & (1L << j)) != 0L) 1 else -1)
            j += 1
          }
        }
      }
      i += 1
    }
    var simhash = 0L
    var j = 0
    while (j < bits) {
      if (tally(j) > 0) simhash |= 1L << j
      j += 1
    }
    InternalRow(ArrayData.toArrayData(mins), simhash)
  }
}
