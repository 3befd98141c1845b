package perfbench

import perfbench.Gen.{Corpus, DiffTruth}

/** Output checks. Each compares what the library returned with what the
  * generator planted, or with a plain-Scala computation over the same
  * inputs; none calls the library. An empty result means correct.
  */
object Checks {

  /** A diff's flag counts, column stats, and its collected rows' flags
    * and entries against the planted truth.
    */
  def diff(t: DiffTruth, flags: Map[String, Long], stats: Map[String, Long],
      rowFlags: Map[String, Long], entries: Set[(String, String, String, String)])
      : Seq[String] = {
    val want = Map("S1_ONLY" -> t.s1Only, "S2_ONLY" -> t.s2Only,
      "NODIFF" -> t.noDiff, "" -> t.diff).filter(_._2 > 0)
    val problems = Seq.newBuilder[String]
    if (flags.filter(_._2 > 0) != want)
      problems += s"flag counts $flags, planted $want"
    if (stats != t.perCol)
      problems += s"column stats $stats, planted ${t.perCol}"
    if (rowFlags.filter(_._2 > 0) != want)
      problems += s"row flags $rowFlags, planted $want"
    if (entries != t.entries) {
      val missing = (t.entries -- entries).take(3)
      val extra = (entries -- t.entries).take(3)
      problems += s"diff entries: missing $missing, unexpected $extra"
    }
    problems.result()
  }

  /** Curation survivors: a subset of the input ids, no two sharing a
    * text, and every original that passes the filter kept (originals are
    * pairwise dissimilar and have the smallest ids, so neither dedup
    * stage may drop one).
    */
  def curate(c: Corpus, survivors: Array[Long], minQuality: Double): Seq[String] = {
    val idx = c.ids.zipWithIndex.toMap
    val unknown = survivors.filterNot(idx.contains)
    val problems = Seq.newBuilder[String]
    if (unknown.nonEmpty)
      problems += s"${unknown.length} survivors not in the input, e.g. ${unknown.head}"
    val known = survivors.filter(idx.contains)
    if (known.distinct.length != known.length)
      problems += "a document survived twice"
    val texts = known.map(i => c.texts(idx(i)))
    if (texts.distinct.length != texts.length)
      problems += s"${texts.length - texts.distinct.length} survivors repeat a text"
    val cloneIds = c.clones.map(_.id).toSet
    val lost = c.ids.filterNot(cloneIds).filterNot(known.toSet)
      .filter(i => Gen.passesFilters(c.texts(idx(i)), minQuality))
    if (lost.nonEmpty)
      problems += s"${lost.length} originals dropped, e.g. ${lost.head}"
    problems.result()
  }

  /** Planted near clones that must be caught: Jaccard with their
    * original at or above `threshold`, text unique in the corpus (so
    * exact dedup leaves it to the near-dup stage), and both texts pass
    * the curation filter. Returns (caught, eligible).
    */
  def nearDupRecall(c: Corpus, survivors: Array[Long], threshold: Double,
      minQuality: Double): (Int, Int) = {
    val textCount = c.texts.groupBy(identity).view.mapValues(_.length).toMap
    val kept = survivors.toSet
    val eligible = c.clones.filter { cl =>
      val t = c.texts(cl.id.toInt)
      cl.k > 0 && cl.jaccard >= threshold && textCount(t) == 1 &&
        Gen.passesFilters(t, minQuality) &&
        Gen.passesFilters(c.texts(cl.src.toInt), minQuality)
    }
    (eligible.count(cl => !kept(cl.id)), eligible.length)
  }

  final case class Neighbour(qId: Long, rank: Int, nId: Long, cos: Double)

  /** Exact cosine top-k by brute force: (ids by descending cosine, ties
    * to the smaller id).
    */
  def exactTopK(q: Array[Double], ids: Array[Long], vecs: Array[Array[Double]],
      norms: Array[Double], k: Int): Seq[Long] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](p => (-p._1, p._2)))
    var i = 0
    while (i < ids.length) {
      val v = vecs(i)
      var dot = 0.0
      var j = 0
      while (j < q.length) { dot += q(j) * v(j); j += 1 }
      val c = dot / (qn * norms(i))
      heap.enqueue(c -> ids(i))
      if (heap.size > k) heap.dequeue()
      i += 1
    }
    heap.dequeueAll[(Double, Long)].reverse.map(_._2)
  }

  /** One query batch: k neighbours per query in rank order, each in the
    * index and scored with its true cosine. Returns (problems, recall
    * hits against the exact top-k).
    */
  def ann(queries: Map[Long, Array[Double]], got: Seq[Neighbour], k: Int,
      ids: Array[Long], vecs: Array[Array[Double]], norms: Array[Double])
      : (Seq[String], Int) = {
    val pos = ids.zipWithIndex.toMap
    val byQ = got.groupBy(_.qId)
    val problems = Seq.newBuilder[String]
    var hits = 0
    if (!byQ.keySet.subsetOf(queries.keySet))
      problems += "results for a query that was not asked"
    queries.foreach { case (qid, q) =>
      val ns = byQ.getOrElse(qid, Nil).sortBy(_.rank)
      if (ns.map(_.rank) != (1 to k)) problems += s"query $qid: ranks ${ns.map(_.rank)}"
      val qn = math.sqrt(q.map(x => x * x).sum)
      ns.foreach { n =>
        pos.get(n.nId) match {
          case None => problems += s"query $qid: neighbour ${n.nId} not in the index"
          case Some(p) =>
            val v = vecs(p)
            val c = q.indices.map(j => q(j) * v(j)).sum / (qn * norms(p))
            if (math.abs(c - n.cos) > 1e-9)
              problems += s"query $qid: cosine ${n.cos} for ${n.nId}, true $c"
        }
      }
      if (ns.sliding(2).exists(p => p.length == 2 && p(0).cos < p(1).cos))
        problems += s"query $qid: neighbours not in descending cosine"
      val exact = exactTopK(q, ids, vecs, norms, k).toSet
      hits += ns.count(n => exact(n.nId))
    }
    (problems.result(), hits)
  }
}
