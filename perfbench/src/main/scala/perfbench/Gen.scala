package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Benchmark-owned seeded input generators. The program under test only
  * ever sees what these produce; the same seed gives the same inputs. */
object Gen {
  // The reference producer's record domain: id uniform in [0, 2^31),
  // name 10-15 letters, address 15-20 of [A-Za-z0-9 ], 6 continents.
  private val NameChars = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
  private val AddressChars = NameChars + "0123456789 "
  val Continents: Array[String] = Array("North America", "Asia", "South America",
    "Europe", "Africa", "Australia")

  private def randString(r: SplittableRandom, sb: java.lang.StringBuilder,
                         chars: String, minLen: Int, spread: Int): Unit = {
    val len = minLen + r.nextInt(spread)
    var i = 0
    while (i < len) { sb.append(chars.charAt(r.nextInt(chars.length))); i += 1 }
  }

  /** `n` CSV records `id,name,address,continent`. */
  def records(seed: Long, n: Int): Array[String] = {
    val r = new SplittableRandom(seed)
    val sb = new java.lang.StringBuilder(64)
    Array.fill(n) {
      sb.setLength(0)
      sb.append(r.nextInt(Int.MaxValue)).append(',')
      randString(r, sb, NameChars, 10, 6); sb.append(',')
      randString(r, sb, AddressChars, 15, 6); sb.append(',')
      sb.append(Continents(r.nextInt(Continents.length)))
      sb.toString
    }
  }

  /** A synthetic corpus with planted near-duplicate clusters.
    * `clusters` holds the doc ids of every planted cluster (the original
    * and its copies); `lowQuality` the ids built to fail a quality gate. */
  final case class Corpus(ids: Array[Long], texts: Array[String],
                          clusters: Seq[Array[Long]], lowQuality: Set[Long])

  private val Stopwords = Array("the", "a", "and", "of", "to", "in", "is",
    "it", "for", "on", "with", "as", "at")

  def corpus(seed: Long, nBase: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val vocab = Array.fill(4000) {
      val sb = new java.lang.StringBuilder
      val len = 3 + r.nextInt(6)
      (0 until len).foreach(_ => sb.append(('a' + r.nextInt(26)).toChar))
      sb.toString
    }
    // Zipf-like word frequencies (exponent 0.9), sampled by inverse CDF.
    val cdf = vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.9)).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    def word(): String =
      if (r.nextDouble() < 0.2) Stopwords(r.nextInt(Stopwords.length))
      else {
        val i = java.util.Arrays.binarySearch(cdf, r.nextDouble() * total)
        vocab(if (i >= 0) i else math.min(-i - 1, vocab.length - 1))
      }
    def doc(): Array[String] = Array.fill(40 + r.nextInt(61))(word())
    def junk(): String =
      Array.fill(20 + r.nextInt(20))(s"${r.nextInt(100000)}.${r.nextInt(100)}#").mkString(" ")

    val texts = ArrayBuffer.empty[String]
    val clusterIdx = ArrayBuffer.empty[Array[Int]]
    val junkIdx = ArrayBuffer.empty[Int]
    (0 until nBase).foreach { _ =>
      val u = r.nextDouble()
      if (u < 0.03) { junkIdx += texts.length; texts += junk() }
      else {
        val words = doc()
        val orig = texts.length
        texts += words.mkString(" ")
        if (u < 0.13) {
          // 1-3 copies: a quarter byte-identical, the rest with about one
          // word in 40 replaced (3-gram Jaccard ~0.85-0.9 to the original).
          val copies = (1 to 1 + r.nextInt(3)).map { _ =>
            val at = texts.length
            if (r.nextDouble() < 0.25) texts += words.mkString(" ")
            else {
              val c = words.clone()
              (0 until math.max(1, c.length / 40)).foreach(_ => c(r.nextInt(c.length)) = word())
              texts += c.mkString(" ")
            }
            at
          }
          clusterIdx += (orig +: copies).toArray
        }
      }
    }
    // Random doc ids, so a cluster's members are not neighbours.
    val perm = (0L until texts.length.toLong).toArray
    var i = perm.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
    Corpus(perm, texts.toArray, clusterIdx.map(_.map(perm(_))).toSeq,
      junkIdx.map(perm(_)).toSet)
  }
}
