package perfbench

import scala.collection.mutable

/** Seeded text corpus and vector set with planted duplicates.
  *
  * Documents draw 60–120 words from a Zipfian vocabulary. Planted exact
  * clusters are verbatim copies of a base document; planted near-duplicate
  * clusters are copies with one word in a hundred (at least one) replaced.
  * Vectors are noisy points around cluster centres; planted near-duplicate vectors are
  * copies of a base vector with tiny noise. Ids are a seeded permutation,
  * so planted members are scattered through the id range. */
object CorpusGen {

  final case class Shape(docs: Int, vocab: Int, exactClusters: Int, nearClusters: Int,
                         vectors: Int, dim: Int, vectorClusters: Int,
                         nearVectorClusters: Int, queries: Int)

  final case class Data(docs: IndexedSeq[(Long, String)],
                        exactClusters: Seq[Set[Long]],
                        nearClusters: Seq[Set[Long]],
                        vectors: IndexedSeq[(Long, Array[Double])],
                        nearVectorClusters: Seq[Set[Long]],
                        queries: IndexedSeq[Long])

  def generate(seed: Long, s: Shape): Data = {
    val r = new java.util.SplittableRandom(seed)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val words = {
      val seen = mutable.LinkedHashSet[String]()
      while (seen.size < s.vocab)
        seen += Iterator.fill(3 + r.nextInt(6))(letters(r.nextInt(26))).mkString
      seen.toIndexedSeq
    }
    // Zipf(1.1) over the vocabulary by inverse CDF
    val cdf = {
      val w = (1 to s.vocab).map(i => 1.0 / math.pow(i, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      words(math.min(s.vocab - 1, if (i >= 0) i else -i - 1))
    }
    def doc(): Array[String] = Array.fill(60 + r.nextInt(61))(word())

    val texts = mutable.LinkedHashSet[String]()
    def fresh(make: => Array[String]): String = {
      var t = make.mkString(" ")
      while (texts.contains(t)) t = make.mkString(" ")
      texts += t
      t
    }
    // groups of texts: a group is one planted cluster or one singleton
    val groups = mutable.ArrayBuffer[(Char, Seq[String])]()
    for (_ <- 0 until s.exactClusters) {
      val t = fresh(doc())
      groups += (('e', Seq.fill(2 + r.nextInt(3))(t)))
    }
    for (_ <- 0 until s.nearClusters) {
      val base = doc()
      val members = fresh(base) +: Seq.fill(1 + r.nextInt(3))(fresh {
        val v = base.clone()
        for (_ <- 0 until math.max(1, v.length / 100)) {
          val i = r.nextInt(v.length)
          var w = word()
          while (w == v(i)) w = word()
          v(i) = w
        }
        v
      })
      groups += (('n', members))
    }
    val planted = groups.map(_._2.size).sum
    for (_ <- 0 until math.max(0, s.docs - planted)) groups += (('s', Seq(fresh(doc()))))

    val flat = groups.zipWithIndex.flatMap { case ((_, ts), g) => ts.map(t => (g, t)) }.toIndexedSeq
    val ids = permutation(r, flat.size)
    val docs = flat.indices.map(i => (ids(i).toLong, flat(i)._2)).sortBy(_._1)
    def clusters(kind: Char): Seq[Set[Long]] = {
      val byGroup = flat.indices.groupBy(i => flat(i)._1)
      groups.indices.filter(g => groups(g)._1 == kind)
        .map(g => byGroup(g).map(i => ids(i).toLong).toSet)
    }

    // vectors
    val centres = Array.fill(s.vectorClusters, s.dim)(r.nextDouble() * 2 - 1)
    def gauss(sd: Double) = {
      val u = math.max(1e-12, r.nextDouble()); val v = r.nextDouble()
      sd * math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    val vecGroups = mutable.ArrayBuffer[Seq[Array[Double]]]()
    for (_ <- 0 until s.nearVectorClusters) {
      val c = centres(r.nextInt(s.vectorClusters))
      val base = c.map(_ + gauss(0.3))
      vecGroups += base +: Seq.fill(1 + r.nextInt(2))(base.map(_ + gauss(0.005)))
    }
    val plantedVecs = vecGroups.map(_.size).sum
    for (_ <- 0 until math.max(0, s.vectors - plantedVecs)) {
      val c = centres(r.nextInt(s.vectorClusters))
      vecGroups += Seq(c.map(_ + gauss(0.3)))
    }
    val vflat = vecGroups.zipWithIndex.flatMap { case (vs, g) => vs.map(v => (g, v)) }.toIndexedSeq
    val vids = permutation(r, vflat.size)
    val vectors = vflat.indices.map(i => (vids(i).toLong, vflat(i)._2)).sortBy(_._1)
    val vByGroup = vflat.indices.groupBy(i => vflat(i)._1)
    val nearVec = (0 until s.nearVectorClusters).map(g => vByGroup(g).map(i => vids(i).toLong).toSet)
    val queries = nearVec.take(s.queries).map(_.min).toIndexedSeq

    Data(docs, clusters('e'), clusters('n'), vectors, nearVec, queries)
  }

  private def permutation(r: java.util.SplittableRandom, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 until 0 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def truthJson(d: Data): String = {
    def sets(cs: Seq[Set[Long]]) =
      cs.map(_.toSeq.sorted.mkString("[", ", ", "]")).mkString("[", ", ", "]")
    s"""{"docs": ${d.docs.size}, "vectors": ${d.vectors.size}, """ +
      s""""exact_clusters": ${sets(d.exactClusters)}, "near_clusters": ${sets(d.nearClusters)}, """ +
      s""""near_vector_clusters": ${sets(d.nearVectorClusters)}, """ +
      s""""queries": ${d.queries.mkString("[", ", ", "]")}}"""
  }
}
