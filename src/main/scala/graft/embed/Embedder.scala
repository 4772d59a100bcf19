package graft.embed

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic hashing-trick text embedder.
  *
  * Replaces the reference's remote Cohere call
  * (/root/reference/src/embeddings.py:1-16) with a pure function so
  * the whole pipeline is egress-free and reproducible: tokenize
  * ([a-z0-9]+ runs over the lowercased text), hash each token
  * (31-polynomial → splitmix64 finalizer), add ±1 into
  * `hash mod dim`, L2-normalize. Swapping in a real model is a
  * `Column → Column` seam change.
  *
  * Single-pass imperative scan per row — no per-token allocation, no
  * regex. CodegenFallback: string scanning gains little from codegen
  * and embedding is a build-time op, not a per-query one.
  */
case class TextEmbed(child: Expression, dim: Int)
    extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "text_embed"
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullIntolerant: Boolean = true

  /** splitmix64 finalizer — dispersion for the weak polynomial hash. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val vec = new Array[Double](dim)
    var h = 0L
    var inTok = false
    var i = 0
    val n = s.length
    while (i <= n) {
      val c0 = if (i < n) s.charAt(i) else ' '
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      val alnum = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      if (alnum) {
        h = h * 31 + c
        inTok = true
      } else if (inTok) {
        val hh = mix64(h)
        val b = java.lang.Math.floorMod(hh, dim.toLong).toInt
        vec(b) += (if (((hh >>> 7) & 1L) == 0L) 1.0 else -1.0)
        h = 0L
        inTok = false
      }
      i += 1
    }
    var norm = 0.0
    i = 0
    while (i < dim) { norm += vec(i) * vec(i); i += 1 }
    val inv = if (norm == 0.0) 0.0 else 1.0 / math.sqrt(norm)
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) { out(i) = (vec(i) * inv).toFloat; i += 1 }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object Embedder {
  val DefaultDim = 64

  /** Embed a text column into a unit-norm `Array[Float]` of `dim`. */
  def embedText(c: Column, dim: Int = DefaultDim): Column =
    Bridge.column(TextEmbed(Bridge.expression(c), dim))

  /** [[embedText]] of one string, evaluated on the driver without a job. */
  def embedLocal(text: String, dim: Int = DefaultDim): Array[Float] =
    TextEmbed(Literal(text), dim).eval().asInstanceOf[ArrayData].toFloatArray()
}
