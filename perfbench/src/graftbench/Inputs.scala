package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

/** One stored chunk as the generator made it: what a search must return
  * for it (`embedding_id` = the document's name, 1-based `position`). */
final case class Chunk(docName: String, position: Int, text: String,
    metaSource: String, metaName: String, vec: Array[Double])

final case class Doc(name: String, source: String, text: String,
    chunks: IndexedSeq[Chunk])

/** Seeded input generator. Vectors are drawn from a mixture of Gaussian
  * clusters (topics): each collection leans on a few topics, as real
  * embeddings of a document set do. Values are rounded to 4 decimals, so
  * the JSON text round-trips to exactly the doubles the checker scores.
  * Everything here is a pure function of the seed and the call
  * sequence, and the request JSON is written in the reference's
  * /store wire shape (FIXTURES.md section A). */
final class Inputs(seed: Long, val dim: Int = 384, topics: Int = 32) {
  private val words = Array("vector", "search", "store", "segment", "query",
    "spark", "scan", "index", "cluster", "topic", "chunk", "document",
    "embedding", "score", "rank", "merge", "commit", "pointer", "cache",
    "table", "batch", "stream", "filter", "join")

  private val centers: Array[Array[Double]] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    Array.fill(topics) {
      val c = Array.fill(dim)(r.nextDouble() * 2 - 1)
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(_ / n)
    }
  }

  private var docCounter = 0L

  /** A standard normal draw (Box-Muller; one value per call keeps the
    * stream a simple function of the call sequence). */
  def gauss(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  def round4(x: Double): Double = math.rint(x * 1e4) / 1e4

  /** The topic mixture of one collection: three topics, weights 5:3:2. */
  def mixture(r: SplittableRandom): Array[Int] =
    Array.fill(3)(r.nextInt(topics))

  private def point(r: SplittableRandom, mix: Array[Int]): Array[Double] = {
    val u = r.nextInt(10)
    val c = centers(if (u < 5) mix(0) else if (u < 8) mix(1) else mix(2))
    val s = 0.6 / math.sqrt(dim)
    Array.tabulate(dim)(i => round4(c(i) + s * gauss(r)))
  }

  /** A query near a stored point: the point plus small Gaussian noise. */
  def perturb(r: SplittableRandom, v: Array[Double]): Array[Double] = {
    val s = 0.3 / math.sqrt(dim)
    v.map(x => round4(x + s * gauss(r)))
  }

  private def sentence(r: SplittableRandom, n: Int): String =
    Seq.fill(n)(words(r.nextInt(words.length))).mkString(" ")

  /** Documents of one collection totalling exactly `chunks` chunks, each
    * document holding 1-8 of them. Document names are unique across the
    * whole run (a re-created collection gets new names). */
  def docs(r: SplittableRandom, coll: String, mix: Array[Int],
      chunks: Int): IndexedSeq[Doc] = {
    val out = IndexedSeq.newBuilder[Doc]
    var left = chunks
    while (left > 0) {
      val n = math.min(left, 1 + r.nextInt(8))
      left -= n
      docCounter += 1
      val name = s"$coll-d$docCounter"
      val src = s"src-${r.nextInt(20)}"
      val cs = (1 to n).map(p => Chunk(name, p, sentence(r, 6 + r.nextInt(10)),
        src, s"$name-c$p", point(r, mix)))
      out += Doc(name, src, sentence(r, 12), cs)
    }
    out.result()
  }

  private def str(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.append('"')
  }

  /** One /store request as a single JSON line. */
  def requestJson(coll: String, ds: Seq[Doc]): String = {
    val sb = new java.lang.StringBuilder(ds.map(_.chunks.size).sum * dim * 10)
    sb.append("{\"collection_name\":"); str(sb, coll)
    sb.append(",\"documents\":[")
    ds.zipWithIndex.foreach { case (d, i) =>
      if (i > 0) sb.append(',')
      sb.append("{\"text\":"); str(sb, d.text)
      sb.append(",\"metadata\":{\"source\":"); str(sb, d.source)
      sb.append(",\"name\":"); str(sb, d.name); sb.append("},\"chunks\":[")
      d.chunks.zipWithIndex.foreach { case (c, j) =>
        if (j > 0) sb.append(',')
        sb.append("{\"text\":"); str(sb, c.text)
        sb.append(",\"embedding\":{\"vector\":[")
        var k = 0
        while (k < c.vec.length) {
          if (k > 0) sb.append(',')
          sb.append(c.vec(k))
          k += 1
        }
        sb.append("]},\"metadata\":{\"source\":"); str(sb, c.metaSource)
        sb.append(",\"name\":"); str(sb, c.metaName)
        sb.append("},\"semantic_score\":0.0}")
      }
      sb.append("]}")
    }
    sb.append("]}\n")
    sb.toString
  }
}

/** Writes request files and folds their bytes into one SHA-256, the
  * content fingerprint of everything the program was given. */
final class InputWriter(dir: Path) {
  private val md = MessageDigest.getInstance("SHA-256")
  private var n = 0
  Files.createDirectories(dir)

  /** Write request lines round-robin into `files` files of one new
    * directory (so a large ingest reads in parallel); returns the
    * directory, a /store input path. */
  def write(lines: Iterator[String], files: Int = 1): String = {
    n += 1
    val d = dir.resolve(f"req$n%05d")
    Files.createDirectories(d)
    val outs = Array.tabulate(files)(i => new java.io.BufferedOutputStream(
      Files.newOutputStream(d.resolve(f"part$i%03d.json")), 1 << 20))
    try lines.zipWithIndex.foreach { case (l, i) =>
      val bytes = l.getBytes(UTF_8)
      md.update(bytes)
      outs(i % files).write(bytes)
    } finally outs.foreach(_.close())
    d.toString
  }

  def fingerprint: String = md.clone().asInstanceOf[MessageDigest].digest()
    .map(b => f"${b & 0xff}%02x").mkString
}

object Rand {
  /** Fisher-Yates shuffle driven by `r`. */
  def shuffle[T](r: SplittableRandom, xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

object Inputs {
  /** Same seed -> byte-identical request; another seed -> different. */
  def selfCheck(seed: Long): Boolean = {
    def one(s: Long): String = {
      val in = new Inputs(s)
      val r = new SplittableRandom(s)
      in.requestJson("c", in.docs(r, "c", in.mixture(r), 20))
    }
    val a = one(seed)
    a == one(seed) && a != one(seed + 1)
  }
}
