package graftbench

import org.apache.spark.sql.Row

/** Plain-Scala brute-force top-k, the oracle for every /search and
  * /multi_search response. The score is the facade's: dot(q/‖q‖₂, v),
  * both the norm and the dot as sequential left folds, so a correct
  * engine matches it bitwise. */
object Check {
  def normalize(q: Array[Double]): Array[Double] = {
    val n = math.sqrt(q.foldLeft(0.0)((a, x) => a + x * x))
    q.map(_ / n)
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }
    acc
  }

  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  /** None if `got` (rows of Graft.searchIn's projection) is the top-k of
    * `chunks` for `query`, else a description of the first mismatch.
    *
    * The facade orders by (similarity desc, doc_id, position) with
    * doc_id an engine-assigned UUID, so among chunks of bitwise-equal
    * score the checker accepts any member of the tied group at that
    * rank and checks the (doc_id, position) order among returned rows;
    * outside ties every rank must be exactly the brute-force chunk. */
  def topK(candidates: Seq[Chunk], query: Array[Double], k: Int,
      got: Array[Row]): Option[String] = {
    val chunks = candidates.toIndexedSeq
    val qn = normalize(query)
    val scores = chunks.map(c => dot(qn, c.vec)).toArray
    val order = chunks.indices.sortWith { (i, j) =>
      val c = java.lang.Double.compare(scores(j), scores(i))
      if (c != 0) c < 0
      else {
        val a = chunks(i); val b = chunks(j)
        if (a.docName != b.docName) a.docName < b.docName
        else a.position < b.position
      }
    }
    val want = math.min(k, chunks.size)
    if (got.length != want)
      return Some(s"expected $want rows, got ${got.length}")
    val seen = scala.collection.mutable.HashSet.empty[(String, Int)]
    var i = 0
    while (i < want) {
      val g = got(i)
      val name = g.getString(0)
      val sim = g.getDouble(1)
      val pos = g.getInt(2)
      val s = scores(order(i))
      if (bits(sim) != bits(s))
        return Some(s"rank $i: similarity $sim, expected $s")
      if (!seen.add((name, pos)))
        return Some(s"rank $i: duplicate ($name, $pos)")
      // the tied group of rank i, contiguous in `order`
      var lo = i
      while (lo > 0 && bits(scores(order(lo - 1))) == bits(s)) lo -= 1
      var hi = i
      while (hi + 1 < order.length && bits(scores(order(hi + 1))) == bits(s))
        hi += 1
      val hit = (lo to hi).map(j => chunks(order(j)))
        .find(c => c.docName == name && c.position == pos)
      hit match {
        case None =>
          return Some(s"rank $i: ($name, $pos) is not the brute-force " +
            s"chunk ${chunks(order(i)).docName}/${chunks(order(i)).position}")
        case Some(c) =>
          if (g.getString(3) != c.metaSource || g.getString(4) != c.metaName ||
              g.getString(5) != c.text || g.getString(6) != c.docName)
            return Some(s"rank $i: payload fields differ for ($name, $pos)")
      }
      if (i > 0 && bits(got(i - 1).getDouble(1)) == bits(sim)) {
        val pd = got(i - 1).getString(7); val d = g.getString(7)
        if (pd > d || (pd == d && got(i - 1).getInt(2) >= pos))
          return Some(s"rank $i: tie not ordered by (doc_id, position)")
      }
      i += 1
    }
    None
  }
}
