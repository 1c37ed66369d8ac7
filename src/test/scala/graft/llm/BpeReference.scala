package graft.llm

/** Single-machine BPE references for the equivalence tests: the
  * textbook rescan-per-merge learner and list-order merge application,
  * both built on [[Bpe.mergeAdjacent]]. */
object BpeReference {

  /** Character atoms of each histogram word. */
  def chars(words: Seq[(String, Long)]): Seq[(Vector[String], Long)] =
    words.map { case (w, c) => (w.map(_.toString).toVector, c) }

  def merges(words: Seq[(String, Long)], k: Int): Seq[(Int, String, String, Long)] =
    mergesTok(chars(words), k)

  /** Each round rescans every word for the argmax pair by (-n, l, r),
    * then applies it greedily to every word. */
  def mergesTok(words: Seq[(Vector[String], Long)], k: Int): Seq[(Int, String, String, Long)] = {
    var seqs: Seq[(Vector[String], Long)] = words
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var cont = true
    while (rank <= k && cont) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      seqs.foreach { case (ts, c) =>
        ts.sliding(2).foreach {
          case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + c
          case _ =>
        }
      }
      if (counts.isEmpty) cont = false
      else {
        val ((l, r), n) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((rank, l, r, n))
        seqs = seqs.map { case (ts, c) => (Bpe.mergeAdjacent(ts, l, r), c) }
        rank += 1
      }
    }
    out.toSeq
  }

  /** Encode by applying every merge once, in list order. */
  def encodeInOrder(atoms: Vector[String], merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(atoms) { case (ts, (l, r)) => Bpe.mergeAdjacent(ts, l, r) }
}
