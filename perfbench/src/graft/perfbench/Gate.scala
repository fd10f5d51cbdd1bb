package graft.perfbench

import org.apache.spark.sql.Row

import graft.core.Similarity

/** Correctness gate over collected outputs. Every check returns the
  * list of violations (empty = pass); a violation fails the run. Recall
  * against brute-force truth is measured separately. */
object Gate {

  /** Neighbor list of one graph row: ids and similarities, in list order. */
  final case class Lists(nbrs: Array[Long], sims: Array[Double])

  def lists(rows: Array[Row]): Map[Long, Lists] =
    rows.iterator.map { r =>
      val l =
        if (r.isNullAt(1)) Lists(Array.empty, Array.empty)
        else {
          val s = r.getSeq[Row](1)
          Lists(s.map(_.getLong(0)).toArray, s.map(_.getDouble(1)).toArray)
        }
      r.getLong(0) -> l
    }.toMap

  private def topK(k: Int, cands: Iterator[(Long, Double)]): Array[Long] =
    cands.toArray.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

  /** Exact top-k of each `sample` id among `ids` by the graph's own
    * similarity, 1/(1+L2), excluding self. */
  def truthL2(feats: Long => Array[Float], ids: Seq[Long], sample: Seq[Long],
      k: Int): Map[Long, Array[Long]] =
    sample.map { q =>
      val fq = feats(q)
      q -> topK(k, ids.iterator.filter(_ != q).map(o => o -> Similarity.l2Sim(fq, feats(o))))
    }.toMap

  /** Exact top-k of held-out queries by cosine, the search's default metric. */
  def truthCos(corpus: Long => Array[Float], ids: Seq[Long],
      queries: Map[Long, Array[Float]], k: Int): Map[Long, Array[Long]] =
    queries.map { case (q, fq) =>
      q -> topK(k, ids.iterator.map(o => o -> Similarity.cosine(fq, corpus(o))))
    }

  private def recall(found: Array[Long], truth: Array[Long]): Double =
    found.count(truth.contains).toDouble / truth.length

  /** Mean recall of the graph's lists for the rows of `truth`. */
  def graphRecall(g: Map[Long, Lists], truth: Map[Long, Array[Long]]): Double = {
    val r = truth.map { case (q, t) => recall(g.get(q).fold(Array.empty[Long])(_.nbrs), t) }
    r.sum / r.size
  }

  /** A k-NN graph over exactly `ids`: one row per id, 1..k neighbors per
    * row, no self-edge or duplicate, similarity non-increasing along the
    * list and bit-equal to a recomputed `Similarity.l2Sim`. */
  def checkGraph(g: Map[Long, Lists], ids: Seq[Long], feats: Long => Array[Float],
      k: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    if (g.size != ids.size || !ids.forall(g.contains))
      errs += s"row count ${g.size}, expected ${ids.size} ids"
    g.foreach { case (id, Lists(nbrs, sims)) =>
      if (nbrs.isEmpty || nbrs.length > k) errs += s"row $id has ${nbrs.length} neighbors"
      if (nbrs.contains(id)) errs += s"row $id lists itself"
      if (nbrs.distinct.length != nbrs.length) errs += s"row $id repeats a neighbor"
      if (sims.indices.drop(1).exists(i => sims(i) > sims(i - 1)))
        errs += s"row $id is not sorted by descending similarity"
      nbrs.indices.find(i => !g.contains(nbrs(i)) ||
          sims(i) != Similarity.l2Sim(feats(id), feats(nbrs(i))))
        .foreach(i => errs += s"row $id: neighbor ${nbrs(i)} similarity ${sims(i)} is not l2Sim")
    }
    errs.result().take(5)
  }

  /** Search output (query_id, rank, nbr_id, score) for `queries`: 1..k
    * results per query with ranks 1..n, scores non-increasing and equal
    * (to 1e-9) to a recomputed cosine, results drawn from the corpus. */
  def checkSearch(rows: Array[Row], queries: Map[Long, Array[Float]],
      corpus: Long => Array[Float], corpusSize: Long, k: Int,
      truth: Map[Long, Array[Long]]): (Seq[String], Double) = {
    val errs = Seq.newBuilder[String]
    val byQ = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getInt(1)) }
    if (byQ.keySet != queries.keySet)
      errs += s"results for ${byQ.size} queries, expected ${queries.size}"
    byQ.foreach { case (q, rs) =>
      val nbrs = rs.map(_.getLong(2))
      val scores = rs.map(_.getDouble(3))
      if (rs.length > k) errs += s"query $q has ${rs.length} results"
      if (!rs.map(_.getInt(1)).sameElements(1 to rs.length)) errs += s"query $q ranks are not 1..n"
      if (nbrs.distinct.length != nbrs.length) errs += s"query $q repeats a result"
      if (nbrs.exists(n => n < 0 || n >= corpusSize)) errs += s"query $q returns a non-corpus id"
      else if (scores.indices.drop(1).exists(i => scores(i) > scores(i - 1)))
        errs += s"query $q scores are not descending"
      else nbrs.indices.find(i => queries.get(q).exists(fq =>
          math.abs(scores(i) - Similarity.cosine(fq, corpus(nbrs(i)))) > 1e-9))
        .foreach(i => errs += s"query $q: score ${scores(i)} of ${nbrs(i)} is not its cosine")
    }
    val r = truth.map { case (q, t) =>
      recall(byQ.get(q).fold(Array.empty[Long])(_.map(_.getLong(2))), t) }
    (errs.result().take(5), r.sum / r.size)
  }

  /** SHA-256 over the graph in id order: ids, neighbor ids and the exact
    * bits of every similarity. */
  def digest(g: Map[Long, Lists]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val b = java.nio.ByteBuffer.allocate(8)
    def put(x: Long): Unit = { b.clear(); b.putLong(x); md.update(b.array()) }
    g.toSeq.sortBy(_._1).foreach { case (id, Lists(nbrs, sims)) =>
      put(id); put(nbrs.length.toLong)
      nbrs.indices.foreach { i => put(nbrs(i)); put(java.lang.Double.doubleToLongBits(sims(i))) }
    }
    md.digest().map("%02x".format(_)).mkString
  }
}
