package graftbench

import java.nio.ByteBuffer
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer

/** splitmix64 stream: the benchmark's only source of randomness, so one
  * seed fixes every generated input. */
final class Rng(seed: Long) {
  private var s = seed
  def nextLong(): Long = {
    s += 0x9e3779b97f4a7c15L
    var z = s
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def gaussian(): Double = {
    val u = math.max(nextDouble(), 1e-300)
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * nextDouble())
  }
  /** An independent stream for one purpose, so adding draws to one
    * purpose never shifts the inputs of another. */
  def fork(tag: String): Rng = new Rng(seed * 31 + tag.hashCode.toLong * 0x632be59bd9b4e019L)
}

final case class Doc(docId: Long, text: String, source: String)
final case class Vec(id: Long, v: Array[Float], label: Int)

/** SHA-256 over every generated row, in generation order. The same seed
  * gives the same digest; the run reports it as `inputs_sha256`. */
final class InputDigest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
  def add(x: Long): Unit = md.update(ByteBuffer.allocate(8).putLong(x).array())
  def add(v: Array[Float]): Unit = {
    val b = ByteBuffer.allocate(4 * v.length)
    v.foreach(b.putFloat)
    md.update(b.array())
  }
  def add(d: Doc): Unit = { add(d.docId); add(d.text); add(d.source) }
  def add(v: Vec): Unit = { add(v.id); add(v.v); add(v.label.toLong) }
  def hex: String = md.clone().asInstanceOf[MessageDigest].digest().map("%02x".format(_)).mkString
}

/** Synthetic corpora and vectors. Nothing here reads the library: the
  * program under test only ever sees these outputs. */
object Gen {
  val Dim = 64

  private val onsets = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p",
    "r", "s", "t", "v", "z", "br", "st", "tr", "pl", "gr")
  private val vowels = Array("a", "e", "i", "o", "u", "ai", "ou")

  /** `n` distinct words of two to four syllables. */
  def vocabulary(rng: Rng, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val syl = 2 + rng.nextInt(3)
      seen += (0 until syl).map(_ => onsets(rng.nextInt(onsets.length)) +
        vowels(rng.nextInt(vowels.length))).mkString
    }
    seen.toArray
  }

  /** A word drawn with a Zipf-like skew: low ranks are frequent. */
  def word(rng: Rng, vocab: Array[String]): String = {
    val u = rng.nextDouble()
    vocab((u * u * vocab.length).toInt)
  }

  /** A word outside any vocabulary (digits never occur in vocabulary words). */
  def oovWord(rng: Rng): String =
    "x" + (0 until 3 + rng.nextInt(4)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString +
      rng.nextInt(1000)

  def text(rng: Rng, vocab: Array[String], minWords: Int, maxWords: Int): String =
    (0 until minWords + rng.nextInt(maxWords - minWords + 1))
      .map(_ => word(rng, vocab)).mkString(" ")

  def docs(rng: Rng, vocab: Array[String], n: Int): Array[Doc] =
    Array.tabulate(n)(i => Doc(i.toLong, text(rng, vocab, 40, 90), s"src${i % 7}"))

  /** A query text: a word n-gram of the corpus vocabulary mixed with
    * out-of-vocabulary words. */
  def queryText(rng: Rng, vocab: Array[String]): String = {
    val ws = ArrayBuffer.fill(3 + rng.nextInt(4))(word(rng, vocab))
    (0 until rng.nextInt(3)).foreach(_ => ws.insert(rng.nextInt(ws.length + 1), oovWord(rng)))
    ws.mkString(" ")
  }

  def normalize(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (if (n == 0) 0.0 else x / n).toFloat)
  }

  def unit(rng: Rng): Array[Double] = Array.fill(Dim)(rng.gaussian())

  /** `n` unit vectors around `centers.length` unit cluster centres, each
    * centre plus Gaussian noise of norm about `spread`. The label is the
    * centre's index mod 4, the metadata column the layouts carry. */
  def vectors(rng: Rng, centers: Array[Array[Double]], n: Int, spread: Double,
      firstId: Long = 0L): Array[Vec] =
    Array.tabulate(n) { i =>
      val c = rng.nextInt(centers.length)
      Vec(firstId + i, normalize(centers(c).map(_ + spread / math.sqrt(Dim) * rng.gaussian())), c % 4)
    }

  def centers(rng: Rng, n: Int): Array[Array[Double]] =
    Array.fill(n)(normalize(unit(rng)).map(_.toDouble))

  /** A near copy of `v`: unit Gaussian noise of norm about `eps` added. */
  def perturb(rng: Rng, v: Array[Float], eps: Double): Array[Float] =
    normalize(v.map(_.toDouble + eps / math.sqrt(Dim) * rng.gaussian()))
}

/** The library's documented text embedding (hashing trick over
  * `[a-z0-9]+` tokens, splitmix64-finalized 31-polynomial hash, ±1 into
  * `hash mod dim`, L2 norm), written out again so the exact scorer owes
  * nothing to the code it checks. */
object RefEmbed {
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def apply(s: String, dim: Int = Gen.Dim): Array[Float] = {
    val acc = new Array[Double](dim)
    var h = 0L
    var inTok = false
    for (c0 <- s + " ") {
      val c = Character.toLowerCase(c0)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) { h = h * 31 + c; inTok = true }
      else if (inTok) {
        val hh = mix64(h)
        acc(java.lang.Math.floorMod(hh, dim.toLong).toInt) += (if (((hh >>> 7) & 1L) == 0L) 1.0 else -1.0)
        h = 0L
        inTok = false
      }
    }
    Gen.normalize(acc)
  }
}

/** The library's documented chunking: 200-character windows at a
  * 150-character stride, at least one per document. */
object RefChunks {
  val Size = 200
  val Stride = 150
  val IdBase = 1000000L

  def apply(d: Doc): Seq[(Long, Int, String)] = {
    val n = math.max(1, 1 + math.ceil((d.text.length - Size).toDouble / Stride).toInt)
    (0 until n).map { i =>
      val from = math.min(i * Stride, d.text.length)
      (d.docId * IdBase + i, i, d.text.substring(from, math.min(from + Size, d.text.length)))
    }
  }
}

/** Exact cosine top-k on the driver, independent of the library. */
object Exact {
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Exact scores of `q` against every corpus vector, best first. */
  def ranked(q: Array[Float], corpus: Iterable[(Long, Array[Float])]): Array[(Long, Double)] =
    corpus.iterator.map { case (id, v) => (id, cosine(q, v)) }.toArray
      .sortBy { case (id, s) => (-s, id) }

  /** |ANN top-k ∩ exact top-k| / k, tie-robust: an ANN hit counts when
    * its exact score reaches the exact k-th score. */
  def recall(ann: Seq[Long], exact: Array[(Long, Double)], k: Int,
      score: Map[Long, Double]): Double = {
    val kth = exact(math.min(k, exact.length) - 1)._2
    ann.distinct.count(id => score.get(id).exists(_ >= kth - 1e-6)).toDouble / math.min(k, exact.length)
  }
}
