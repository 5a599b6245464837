package perfbench

import scala.collection.mutable

/** Seeded synthetic documents and the plain-Scala reference computations
  * the dedup gates compare against.
  *
  * Documents draw words from a 30,000-word vocabulary with about one
  * stopword in five (never two in a row), so unrelated documents share
  * almost no word 3-shingles. Planted duplicates are either exact (same
  * text up to case and spacing) or near (one word replaced: shingle
  * Jaccard about 0.9); junk documents repeat three words and score low on
  * quality. Every pair of documents is therefore far from the 0.5/0.6
  * similarity thresholds, and every document far from the quality
  * threshold; the reference checks that this holds for the inputs it was
  * given, so a gate failure is the program's, not the generator's. */
object Corpus {
  val Stop: IndexedSeq[String] = graft.llmops.TextOps.Stopwords.toIndexedSeq
  val Vocab = 30000
  val QualityMin = 0.4

  def word(r: scala.util.Random): String = "w" + Integer.toString(r.nextInt(Vocab), 36)

  def doc(r: scala.util.Random): String = {
    val n = 50 + r.nextInt(61)
    val out = mutable.ArrayBuffer.empty[String]
    while (out.size < n) {
      val prevStop = out.nonEmpty && Stop.contains(out.last)
      out += (if (!prevStop && r.nextDouble() < 0.25) Stop(r.nextInt(Stop.size)) else word(r))
    }
    out.mkString(" ")
  }

  def junk(r: scala.util.Random): String = {
    val ws = Seq.fill(3)(word(r))
    Seq.fill(5)(ws).flatten.mkString(" ")
  }

  /** One word (not the first or last) replaced by a fresh word. */
  def nearCopy(text: String, r: scala.util.Random): String = {
    val t = text.split(" ")
    t(1 + r.nextInt(t.length - 2)) = word(r)
    t.mkString(" ")
  }

  /** The same text for the exact-dedup fingerprint (lower-cased,
    * whitespace-normalised), but not byte-identical. */
  def exactCopy(text: String): String = {
    val i = text.indexOf(' ')
    text.substring(0, i).toUpperCase + "  " + text.substring(i + 1)
  }

  def normalized(text: String): String = text.replaceAll("\\s+", " ").toLowerCase

  def shingles(text: String): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString("_")).toSet
  }

  def quality(text: String): Double = {
    val t = text.split(" ", -1)
    val n = t.length.toDouble
    val stop = t.count(Stop.contains) / n
    val div = t.distinct.length / n
    math.min(1.0, n / 200.0) * 0.4 + math.min(1.0, stop * 5.0) * 0.3 + div * 0.3
  }

  /** Exact shingle Jaccard of every pair of documents that share a shingle
    * (an inverted index, so only sharing pairs are scored): pairs above
    * `threshold`, as (smaller id, larger id) -> Jaccard. Throws if any pair
    * falls inside `ambiguous`, the band around the threshold where the
    * program's approximate candidate search may legitimately differ. */
  def similarPairs(docs: Seq[(Long, String)], threshold: Double,
      ambiguous: (Double, Double)): Map[(Long, Long), Double] = {
    val sets = docs.map { case (id, t) => id -> shingles(t) }.toMap
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    sets.foreach { case (id, s) => s.foreach(g => index.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += id) }
    val shared = mutable.HashMap.empty[(Long, Long), Int]
    index.valuesIterator.foreach { ids =>
      val s = ids.sorted
      for (i <- s.indices; j <- i + 1 until s.size) {
        val k = (s(i), s(j)); shared(k) = shared.getOrElse(k, 0) + 1
      }
    }
    shared.iterator.map { case ((a, b), c) =>
      val j = c.toDouble / (sets(a).size + sets(b).size - c)
      require(j <= ambiguous._1 || j >= ambiguous._2,
        s"generated pair ($a, $b) has Jaccard $j near the threshold")
      (a, b) -> j
    }.filter(_._2 > threshold).toMap
  }

  /** Streaming near-dedup reference: a document is kept unless its
    * Jaccard with a document kept in an EARLIER batch reaches
    * `threshold`; documents of one batch are not compared with each other.
    * Returns the kept ids of every batch, in order. */
  def streamKeep(batches: Seq[Seq[(Long, String)]], threshold: Double,
      ambiguous: (Double, Double)): Seq[Seq[Long]] = {
    val sets = mutable.HashMap.empty[Long, Set[String]]
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    batches.map { batch =>
      val kept = batch.filter { case (id, t) =>
        val s = shingles(t)
        val shared = mutable.HashMap.empty[Long, Int]
        s.foreach(g => index.get(g).foreach(_.foreach(o => shared(o) = shared.getOrElse(o, 0) + 1)))
        val best = shared.iterator.map { case (o, c) => c.toDouble / (s.size + sets(o).size - c) }
          .foldLeft(0.0)(math.max)
        require(best <= ambiguous._1 || best >= ambiguous._2,
          s"generated stream doc $id has Jaccard $best near the threshold")
        best < threshold
      }
      kept.foreach { case (id, t) =>
        val s = shingles(t)
        sets(id) = s
        s.foreach(g => index.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += id)
      }
      kept.map(_._1)
    }
  }

  /** Connected components as (doc id -> smallest id of its component). */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    pairs.iterator.flatMap { case (a, b) => Iterator(a, b) }.map(x => x -> find(x)).toMap
  }
}
