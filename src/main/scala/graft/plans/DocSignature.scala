package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}

/** A document's whole signature from its distinct shingles, in ONE
  * row-local eval: `sig` = the `numHashes` seeded-md5 minhash minima
  * ([[Md5Hashing.seedHashes]] family) and `simhash` = the `bits`-wide
  * majority vote over [[Md5Hashing.prefixLong]] (bit j set iff more
  * shingles have it set than not). Integer math throughout, so both
  * values are bit-identical to the aggregated
  * `graft.dedup.Dedup.fusedSignatures` over the same shingle set.
  *
  * Why in-row: one signature row per doc needs no shingle explode, no
  * 68-column aggregate and no exchange keyed by doc — and a per-row plan
  * carries no state, so it also runs on a streaming frame. `bits = 0`
  * skips the simhash digest (minhash only; `simhash` is then 0).
  *
  * Arguments: (shingles array<string>, numHashes int, bits int). The
  * caller dedupes the shingle array (the vote counts each distinct
  * shingle once). Registered as `graft_doc_signature`.
  */
case class DocSignature(first: Expression, second: Expression,
                        third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), IntegerType, IntegerType)

  override def dataType: DataType = StructType(Seq(
    StructField("sig", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("simhash", LongType, nullable = false)))

  override def prettyName: String = "graft_doc_signature"

  override protected def nullSafeEval(s: Any, n: Any, b: Any): Any =
    Md5Hashing.docSignature(s.asInstanceOf[ArrayData], n.asInstanceOf[Int],
      b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, n, b) =>
      s"${ev.value} = graft.plans.Md5Hashing.docSignature($s, $n, $b);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): DocSignature =
    copy(first = newFirst, second = newSecond, third = newThird)
}
