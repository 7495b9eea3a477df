package graftperf

/** Seeded input generators. The same seed gives the same inputs; each
  * stream (`salt`) draws from its own generator so that changing one
  * input's size leaves the others unchanged. */
final class Inputs(seed: Long) {
  def rng(salt: Int): scala.util.Random = new scala.util.Random(seed * 1000003L + salt)

  val dim = 64

  /** A 64-d Gaussian mixture: `centers` unit-variance centers, points at
    * `spread` standard deviations around them. The spread sets how hard
    * the nearest-neighbour problem is, and so HNSW's recall@10. */
  final class Mixture(centers: Int, spread: Double) {
    private val cs = {
      val r = rng(1)
      Array.fill(centers)(Array.fill(dim)(r.nextGaussian()))
    }
    def draw(r: scala.util.Random, n: Int): Array[Array[Float]] =
      Array.fill(n) {
        val c = cs(r.nextInt(cs.length))
        Array.tabulate(dim)(i => (c(i) + spread * r.nextGaussian()).toFloat)
      }
  }

  def mixture: Mixture = new Mixture(Inputs.Centers, Inputs.Spread)

  /** Zipf(`Inputs.ZipfS`) token ranks over a `Inputs.Vocab`-term
    * vocabulary; term `r` is written `t<r>`. */
  final class Zipf {
    private val cdf = {
      val w = Array.tabulate(Inputs.Vocab)(r => 1.0 / math.pow(r + 1, Inputs.ZipfS))
      var acc = 0.0
      w.map { x => acc += x; acc }
    }
    private def rank(r: scala.util.Random): Int = {
      val u = r.nextDouble() * cdf.last
      val j = java.util.Arrays.binarySearch(cdf, u)
      if (j >= 0) j else -j - 1
    }
    /** `n` docs of 40 to 160 tokens, joined by single spaces. */
    def docs(r: scala.util.Random, n: Int): Array[String] =
      Array.fill(n)(Array.fill(40 + r.nextInt(121))("t" + rank(r)).mkString(" "))
    /** `n` queries of `terms` distinct mid-frequency terms (ranks
      * `Inputs.MidBand`), so posting-list lengths vary across queries. */
    def queries(r: scala.util.Random, n: Int, terms: Int): Array[Seq[String]] =
      Array.fill(n) {
        Iterator.continually("t" + (Inputs.MidBand.start + r.nextInt(Inputs.MidBand.size)))
          .distinct.take(terms).toSeq
      }
  }
}

object Inputs {
  val Centers = 64
  val Spread = 3.0
  val Vocab = 50000
  val ZipfS = 1.1
  val MidBand: Range = 100 until 3000
}
