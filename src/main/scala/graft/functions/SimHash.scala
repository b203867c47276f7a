package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** 64-bit SimHash over an array of string tokens.
  *
  * Classic Charikar sketch: hash each token to 64 bits; each bit votes
  * +1/-1; the sign of each vote sum is the output bit. Near-duplicate
  * documents differ in few bits, so a banded self-join on the sketch finds
  * near-dups without a quadratic comparison — the scale path for dedup at
  * 100 TB (constant memory per row, embarrassingly parallel, one shuffle on
  * 16-bit bands).
  *
  * Implemented as a native Catalyst expression with whole-stage codegen
  * (`doGenCode`) so the hot loop stays JIT-compiled and allocation-free —
  * no UDF serialization boundary.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 requires array<string>, got $other")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    SimHash64.compute(arr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {

  /** FNV-1a 64-bit over UTF-8 bytes: simple, fast, dependency-free, stable
    * across JVMs. */
  def fnv1a64(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Finalizer (splitmix64) to spread FNV's weak high bits. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = mix(fnv1a64(arr.getUTF8String(i).getBytes))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
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

  /** Hamming distance between two sketches. */
  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}

/** Column-level wrappers for the graft native expressions (Spark 4 bridges
  * Column <-> Expression via the classic ExpressionUtils). */
object functions {
  import org.apache.spark.sql.graft.bridge

  def simhash64(tokens: Column): Column =
    bridge.column(SimHash64(bridge.expression(tokens)))

  /** Dot product over array<float>/array<double>, double accumulation in
    * index order (bit-identical to the sequential aggregate() fold). */
  def vec_dot(a: Column, b: Column): Column =
    bridge.column(DotProduct(bridge.expression(a), bridge.expression(b)))

  /** L2 norm over array<float>/array<double>. */
  def vec_l2norm(a: Column): Column =
    bridge.column(L2Norm(bridge.expression(a)))

  /** Distinct word k-gram shingles of a token array (codegen'd). */
  def word_shingles(tokens: Column, k: Int): Column =
    bridge.column(WordShingles(bridge.expression(tokens), k))

  /** Generator: one row per distinct shingle — explode(word_shingles)
    * fused, no per-row shingle array materialized. */
  def shingle_rows(tokens: Column, k: Int): Column =
    bridge.column(ShingleGenerator(bridge.expression(tokens), k))

  /** Product-quantization encoder: vector -> m code bytes via the
    * per-subspace argmin kernel (codegen'd; codebook is a plan literal). */
  def pq_encode(vec: Column, codebook: Array[Array[Array[Double]]]): Column =
    bridge.column(PqEncode(bridge.expression(vec), codebook))

  /** Asymmetric-distance score: Σ_j lut(j*ksub + code_j) (codegen'd). */
  def pq_adc_score(codes: Column, lut: Column, ksub: Int): Column =
    bridge.column(PqAdcScore(bridge.expression(codes), bridge.expression(lut), ksub))

  /** Content-defined chunk cut points (Gear rolling hash, codegen'd).
    * Stateless rule by default; minSize/maxSize give FastCDC semantics. */
  def gear_chunk_ends(payload: Column, maskBits: Int,
      minSize: Int = 1, maxSize: Int = 0): Column =
    bridge.column(GearChunkEnds(bridge.expression(payload), maskBits, minSize, maxSize))

  /** Unicode NFC canonicalization (codegen'd; JDK Normalizer). */
  def nfc_normalize(text: Column): Column =
    bridge.column(NormalizeText(bridge.expression(text), stripAccents = false))

  /** Accent stripping: NFD + combining-mark removal (codegen'd). */
  def strip_accents(text: Column): Column =
    bridge.column(NormalizeText(bridge.expression(text), stripAccents = true))
}
