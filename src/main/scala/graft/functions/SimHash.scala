package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash over a token array (document fingerprint for near-dup
  * detection). Classic Charikar construction: each token is hashed to 64
  * bits; bit j of the result is 1 iff the sum over tokens of (+1 if bit j
  * set else -1) is positive.
  *
  * Implemented as a native Catalyst Expression (not a Scala UDF) so it
  * stays inside the physical plan, is null-aware, and is cheap per row:
  * one pass over the token array, a 64-int accumulator, no allocation
  * besides the accumulator. The reference format library has no text ops
  * (SURVEY.md §2.B) — this is part of the LLM-pipeline surface.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes() = {
    child.dataType match {
      case ArrayType(StringType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<string>, got $other")
    }
  }

  // FNV-1a 64-bit — public-domain hash, deterministic across JVMs.
  @inline private def fnv64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(evalArray(input.asInstanceOf[ArrayData]))

  /** Whole-stage codegen calls the same kernel via a reference object
    * (one virtual call per row, primitive long out — no fallback-stage
    * collapse, no boxing on the generated path). */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = $ref.evalArray($arr);")
  }

  def evalArray(arr: ArrayData): Long = {
    val acc = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = fnv64(arr.getUTF8String(i).getBytes)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (acc(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

object SimHash64 {
  /** Register `simhash64` in the session's function registry (Spark 4's
    * Column no longer exposes raw Expressions, so custom expressions are
    * reached through the registry + call_function). Idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", exprs => SimHash64(exprs.head), "built-in")

  /** Column-API entry: simhash64(tokensCol); requires register() first. */
  def simhash64(tokens: Column): Column =
    org.apache.spark.sql.functions.call_function("simhash64", tokens)

  /** Hamming distance between two 64-bit fingerprints as a Column expr. */
  def hamming64(a: Column, b: Column): Column = {
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))
  }
}
