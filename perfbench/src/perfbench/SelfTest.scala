package perfbench

/** The benchmark's own test: the same seed must give byte-identical
  * generated inputs, a different seed different ones. Runs without
  * Spark. Exits non-zero on failure.
  */
object SelfTest {

  /** Every generated input of every workload, rendered to one string. */
  def inputs(seed: Long): String = {
    val b = new StringBuilder
    def vec(v: Gen.Vec) = s"${v.vecId},${v.label},${v.embedding.mkString(",")}"
    b ++= new Gen.QuoteFeed(seed, "ingest", Ingest.Symbols, Ingest.Skew)
      .take(5000).mkString("\n")
    val sizes = new Gen.Deck(seed, "ingest-batch-sizes", Ingest.BatchSizes)
    b ++= Seq.fill(50)(sizes.next()).mkString(",")
    val reader = Gen.rng(seed, "ingest-reader")
    b ++= Seq.fill(50)(reader.nextDouble()).mkString(",")
    val docs = new Gen.DocFeed(seed, Curate.Shape)
    b ++= docs.seedCorpus().mkString("\n")
    b ++= Seq.fill(3)(docs.nextBatch()).mkString("\n")
    val vecs = new Gen.VecFeed(seed, Curate.Vectors, Curate.Dim, Curate.Clusters,
      Curate.Noise)
    b ++= vecs.current.map(vec).mkString("\n")
    b ++= Seq.fill(3)(vecs.updates(Curate.Upserts).map(vec)).flatten.mkString("\n")
    b ++= vecs.queries(Curate.Queries).map(_.mkString(",")).mkString("\n")
    b.toString
  }

  def main(args: Array[String]): Unit = {
    val a = inputs(7L)
    val same = inputs(7L) == a
    val differs = inputs(8L) != a
    // the shares a curate batch states are the shares it carries
    val feed = new Gen.DocFeed(7L, Curate.Shape)
    feed.seedCorpus()
    val batch = feed.nextBatch()
    val n = Curate.Shape.batchDocs
    val shares = Seq(batch.lowQuality, batch.exactCopies, batch.nearDups,
      batch.redeliveries).forall(_.size == math.round(n * 0.1).toInt) &&
      batch.docs.size == n
    println(s"same seed, same inputs: $same")
    println(s"other seed, other inputs: $differs")
    println(s"curate batch shares as stated: $shares")
    if (!(same && differs && shares)) sys.exit(1)
  }
}
