package perfbench

import java.util.SplittableRandom

/** Seeded input generation. Everything the engine receives comes from
  * here, and everything here comes from the run's `--seed` alone: each
  * input stream draws from its own generator, derived from the seed and
  * the stream's name, so adding draws to one stream never shifts
  * another.
  */
object Gen {

  def rng(seed: Long, stream: String): SplittableRandom = {
    // splitmix64 finalizer over (seed, stream) — distinct streams of one
    // seed are independent, and the mapping is stable across JVMs
    var z = seed * 0x9E3779B97F4A7C15L + stream.foldLeft(1125899906842597L)(
      (h, c) => 31 * h + c)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  /** Zipf(s) over `0 until n`: rank 0 is the hottest key. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Deals `cards` in a seeded order, reshuffling after each full deal,
    * so any run of draws holds every card about equally often.
    */
  final class Deck[A](seed: Long, stream: String, cards: Seq[A]) {
    private val r = rng(seed, stream)
    private var hand: List[A] = Nil
    def next(): A = {
      if (hand.isEmpty) hand = shuffle(r, cards.toVector).toList
      val c = hand.head
      hand = hand.tail
      c
    }
  }

  def shuffle[A](r: SplittableRandom, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  val Epoch0: Long = 1700000000L // first quote's as_of, epoch seconds
  val QuoteGapSec: Long = 15L    // the reference dashboard's poll period

  def symbol(i: Int): String = f"SYM$i%03d"

  final case class Quote(id: Long, symbol: String, price: Double,
                         asOfSec: Long, source: String)

  /** A seeded quote feed: ids and `as_of` strictly increase, symbols are
    * Zipf-skewed, each symbol's price is its own random walk.
    */
  final class QuoteFeed(seed: Long, stream: String, nSymbols: Int,
                        skew: Double) {
    private val r = rng(seed, stream)
    private val zipf = new Zipf(nSymbols, skew)
    private val last = Array.fill(nSymbols)(50.0 + r.nextInt(450))
    private var nextId = 1L
    def next(): Quote = {
      val s = zipf.draw(r)
      val p = math.max(1.0, last(s) * (1.0 + (r.nextDouble() - 0.5) * 0.01))
      last(s) = math.rint(p * 10000) / 10000
      val q = Quote(nextId, symbol(s), last(s),
        Epoch0 + (nextId - 1) * QuoteGapSec, s"prov${r.nextInt(3)}")
      nextId += 1
      q
    }
    def take(n: Int): Vector[Quote] = Vector.fill(n)(next())
  }

  // ---- documents -------------------------------------------------------

  val Stopwords: Array[String] =
    Array("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** A seeded vocabulary of lowercase alphabetic words, 3–9 letters. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, "vocabulary")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      seen += new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    seen.toArray.filterNot(Stopwords.contains)
  }

  final case class Doc(docId: Long, source: String, text: String)

  /** What one curation pass offers, and what a correct engine must do
    * with it: the gate drops exactly `lowQuality`, dedup drops exactly
    * `exactCopies ++ nearDups`, insert-ignore drops exactly
    * `redeliveries` (known ids with a re-fetched body), and `fresh`
    * lands.
    */
  final case class DocBatch(docs: Vector[Doc], lowQuality: Set[Long],
                            exactCopies: Set[Long], nearDups: Set[Long],
                            redeliveries: Set[Long], fresh: Set[Long])

  final case class CurateShape(corpusDocs: Int, batchDocs: Int,
                               lowQualityShare: Double,
                               exactCopyShare: Double,
                               nearDupShare: Double,
                               redeliveryShare: Double,
                               minWords: Int, maxWords: Int,
                               sources: Int)

  /** The document stream of one curate run. It keeps its own model of
    * the corpus a correct engine would hold, so duplicates and
    * re-deliveries always target documents the corpus really has —
    * without ever reading the engine's state back.
    */
  final class DocFeed(seed: Long, shape: CurateShape) {
    private val r = rng(seed, "documents")
    private val vocab = vocabulary(seed, 20000)
    private val corpus = scala.collection.mutable.ArrayBuffer.empty[Doc]
    private var nextId = 1L

    // every 12th word a stopword (the gate wants at least two), never two
    // in a row: every 3-shingle then holds at least two vocabulary words,
    // so unrelated documents share no shingle and MinHash cannot pair
    // them by chance
    private def goodText(): String = {
      val n = shape.minWords + r.nextInt(shape.maxWords - shape.minWords + 1)
      Iterator.tabulate(n)(i =>
        if (i % 12 == 5) Stopwords(r.nextInt(Stopwords.length))
        else vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    // two failure shapes: too short for the word-count rule, or
    // alphanumeric tokens that fail the alphabetic-word rule
    private def badText(): String =
      if (r.nextBoolean())
        Iterator.fill(5 + r.nextInt(20))(vocab(r.nextInt(vocab.length)))
          .mkString(" ")
      else
        Iterator.fill(shape.minWords + r.nextInt(40))(
          vocab(r.nextInt(vocab.length)) + r.nextInt(100)).mkString(" ")
    private def source(): String = s"crawl${r.nextInt(shape.sources)}"
    private def freshDoc(): Doc = {
      val d = Doc(nextId, source(), goodText()); nextId += 1; d
    }

    /** The seed corpus (also recorded as the model's starting state). */
    def seedCorpus(): Vector[Doc] = {
      val docs = Vector.fill(shape.corpusDocs)(freshDoc())
      corpus ++= docs
      docs
    }

    def nextBatch(): DocBatch = {
      val n = shape.batchDocs
      def count(share: Double) = math.round(n * share).toInt
      val nLow = count(shape.lowQualityShare)
      val nExact = count(shape.exactCopyShare)
      val nNear = count(shape.nearDupShare)
      val nRe = count(shape.redeliveryShare)
      val nFresh = n - nLow - nExact - nNear - nRe
      def pick(): Doc = corpus(r.nextInt(corpus.size))
      val low = Vector.fill(nLow) {
        val d = Doc(nextId, source(), badText()); nextId += 1; d }
      val exact = Vector.fill(nExact) {
        val d = Doc(nextId, source(), pick().text); nextId += 1; d }
      // a near-duplicate is a known document with one word appended (a
      // changed footer): its exact fingerprint differs, its shingle set
      // shares all but one 3-shingle
      val near = Vector.fill(nNear) {
        val d = Doc(nextId, source(),
          pick().text + " " + vocab(r.nextInt(vocab.length)))
        nextId += 1; d }
      // a re-delivery repeats a known id; its body was re-fetched, so
      // only the key (not the text) identifies it
      val reIds = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (reIds.size < nRe) reIds += pick().docId
      val byId = corpus.iterator.map(d => d.docId -> d).toMap
      val re = reIds.toVector.map(id => Doc(id, byId(id).source, goodText()))
      val fresh = Vector.fill(nFresh)(freshDoc())
      corpus ++= fresh
      val all = Gen.shuffle(r, low ++ exact ++ near ++ re ++ fresh)
      DocBatch(all, low.map(_.docId).toSet, exact.map(_.docId).toSet,
        near.map(_.docId).toSet, reIds.toSet, fresh.map(_.docId).toSet)
    }

    /** The ids a correct corpus holds now: the seed corpus and every
      * batch's fresh documents.
      */
    def corpusIds: Set[Long] = corpus.iterator.map(_.docId).toSet

  }

  // ---- vectors ---------------------------------------------------------

  final case class Vec(vecId: Long, label: Int, embedding: Array[Float])

  /** Clustered vectors: `clusters` seeded centres, each vector a centre
    * plus Gaussian noise; the label is the cluster. The feed tracks the
    * current vector of every id so updates and queries follow the
    * table a correct engine holds.
    */
  final class VecFeed(seed: Long, n: Int, dim: Int, clusters: Int,
                      noise: Double) {
    private val r = rng(seed, "vectors")
    val centres: Array[Array[Double]] =
      Array.fill(clusters, dim)(r.nextDouble() * 2 - 1)
    private def around(c: Int): Array[Float] =
      Array.tabulate(dim)(d =>
        (centres(c)(d) + gaussian() * noise).toFloat)
    private def gaussian(): Double = {
      // Box–Muller from the feed's own generator (java.util.Random's
      // nextGaussian would be a second, unseeded source)
      val u = math.max(1e-12, r.nextDouble()); val v = r.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    // clusters of equal size, so every seed gives cells of equal size
    val current: Array[Vec] = Array.tabulate(n) { i =>
      val c = i % clusters
      Vec(i + 1L, c, around(c))
    }

    /** `k` distinct existing ids, each moved to a fresh point of its
      * own cluster (labels never change, so an update never moves a
      * row across partitions).
      */
    def updates(k: Int): Vector[Vec] = {
      val ids = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (ids.size < k) ids += r.nextInt(n)
      ids.toVector.map { i =>
        val v = current(i).copy(embedding = around(current(i).label))
        current(i) = v
        v
      }
    }

    /** Query vectors near existing ones. */
    def queries(k: Int): Vector[Array[Double]] =
      Vector.fill(k) {
        val base = current(r.nextInt(n)).embedding
        base.map(x => x + gaussian() * noise * 0.5)
      }
  }
}
