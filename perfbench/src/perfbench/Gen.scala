package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}

/** Row shapes of the generated inputs. Top level so Spark derives their
  * encoders. */
final case class Attrs(color: String, size: Int, active: Boolean)
final case class Item(sku: String, price: Double, n: Int)
final case class DiffRec(id: Long, name: String, score: Double, qty: Int,
    attrs: Attrs, items: Seq[Item])
final case class TableRec(key: Long, grp: Int, v: Double, payload: String)
final case class ChangeRec(key: Long, grp: Int, v: Double, payload: String,
    is_delete: Boolean)
final case class Doc(doc_id: Long, text: String)

/** Deterministic input generators. Every value is a pure function of
  * (seed, row id) through [[mix]], so the same seed gives the same rows
  * however Spark partitions the work, and the planted counts the checks
  * compare against are computed in the JVM from the same function. */
object Gen {

  /** splitmix64 finalizer over a combined (a, b) state. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def below(h: Long, n: Int): Int = java.lang.Long.remainderUnsigned(h, n.toLong).toInt

  private def word(rnd: Long, len: Int): String = {
    val sb = new StringBuilder(len)
    var h = rnd
    var i = 0
    while (i < len) {
      sb.append(('a' + below(h, 26)).toChar)
      h = mix(h, i.toLong)
      i += 1
    }
    sb.toString
  }

  // ---- diff: reference vs actual, planted changes ----------------------

  /** Class of a reference row in the actual side. Deleted 0.1%, changed
    * 1% (a flat column, a struct field or one nested array element). */
  sealed trait Fate
  case object Same extends Fate
  case object Deleted extends Fate
  final case class Changed(kind: Int) extends Fate

  def diffFate(seed: Long, id: Long): Fate = {
    val h = mix(seed ^ 0xD1FFL, id)
    val k = below(h, 10000)
    if (k < 10) Deleted
    else if (k < 110) Changed(below(mix(h, 7L), 3))
    else Same
  }

  def diffInserted(n: Long): Long = n / 1000

  private val Colors = Vector("red", "green", "blue", "black")

  /** The reference row for `id`; always at least one array element, so
    * an element change is always possible. */
  def diffRow(seed: Long, id: Long): DiffRec = {
    val h = mix(seed, id)
    val nItems = 1 + below(h, 4)
    val items = (0 until nItems).map { j =>
      val hj = mix(h, 100L + j)
      Item(s"sku-${below(hj, 50000)}", below(hj >>> 17, 100000) / 100.0,
        below(hj >>> 40, 20))
    }
    DiffRec(id, s"user_${below(h >>> 8, 1000000)}", below(h >>> 20, 1000000) / 1000.0,
      below(h >>> 5, 500),
      Attrs(Colors(below(h >>> 33, 4)),
        below(h >>> 36, 60), (h & 1L) == 0L),
      items)
  }

  def diffActual(seed: Long, id: Long): Option[DiffRec] = diffFate(seed, id) match {
    case Same => Some(diffRow(seed, id))
    case Deleted => None
    case Changed(0) => val r = diffRow(seed, id); Some(r.copy(score = r.score + 1.0))
    case Changed(1) => val r = diffRow(seed, id)
      Some(r.copy(attrs = r.attrs.copy(size = r.attrs.size + 1)))
    case Changed(_) => val r = diffRow(seed, id)
      val j = below(mix(seed, ~id), r.items.length)
      Some(r.copy(items = r.items.updated(j, r.items(j).copy(n = r.items(j).n + 1))))
  }

  /** (changed, deleted, inserted) for `n` reference rows. */
  def diffPlanted(seed: Long, n: Long): (Long, Long, Long) = {
    var changed = 0L
    var deleted = 0L
    var id = 0L
    while (id < n) {
      diffFate(seed, id) match {
        case Deleted => deleted += 1
        case Changed(_) => changed += 1
        case Same =>
      }
      id += 1
    }
    (changed, deleted, diffInserted(n))
  }

  def diffReference(spark: SparkSession, seed: Long, n: Long, parts: Int): Dataset[DiffRec] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).as[Long].map(id => diffRow(seed, id))
  }

  def diffActualSide(spark: SparkSession, seed: Long, n: Long, parts: Int): Dataset[DiffRec] = {
    import spark.implicits._
    spark.range(0, n + diffInserted(n), 1, parts).as[Long]
      .flatMap(id => if (id >= n) Some(diffRow(seed, id)) else diffActual(seed, id))
  }

  // ---- lifecycle: keyed base table + CDC waves --------------------------

  def tableRow(seed: Long, key: Long, version: Int): TableRec = {
    val h = mix(seed ^ version.toLong, key)
    TableRec(key, below(h, 97), below(h >>> 8, 10000000) / 100.0, word(h, 40))
  }

  def lifecycleBase(spark: SparkSession, seed: Long, n: Long, files: Int): Dataset[TableRec] = {
    import spark.implicits._
    spark.range(0, n, 1, files).as[Long].map(k => tableRow(seed, k, 0))
  }

  // ---- neardup: corpus with planted duplicates, admission batches -------

  val Vocab = 2000
  val DocTokens = 60

  private def vocabWord(seed: Long, i: Int): String =
    word(mix(seed ^ 0x70CABL, i.toLong), 3 + below(mix(seed, i.toLong), 6))

  /** Token index stream of a fresh document: skewed towards common words
    * (u² over the vocabulary) like natural text. */
  private def freshTokens(seed: Long, doc: Long): Array[Int] =
    Array.tabulate(DocTokens) { j =>
      val u = (mix(mix(seed, doc), j.toLong) >>> 11) * (1.0 / (1L << 53))
      (Vocab * u * u).toInt
    }

  private def render(seed: Long, toks: Array[Int]): String =
    toks.map(vocabWord(seed, _)).mkString(" ")

  /** Near duplicate: two token substitutions. */
  private def substituted(seed: Long, toks: Array[Int], salt: Long): Array[Int] = {
    val out = toks.clone()
    (0 until 2).foreach { s =>
      val h = mix(salt, s.toLong)
      out(below(h, DocTokens)) = below(h >>> 20, Vocab)
    }
    out
  }

  /** An exact duplicate that differs only in case and spacing, which the
    * normalized fingerprint must see through. */
  private def exactVariant(text: String): String =
    "  " + text.toUpperCase.replace(" ", "  ") + " "

  sealed trait DocKind
  case object Fresh extends DocKind
  /** Exact copy of an earlier document (corpus, or earlier in the batch). */
  final case class ExactOf(src: Long) extends DocKind
  final case class NearOf(src: Long) extends DocKind

  /** Corpus docs 0..c-1 plant 3% exact and 5% near duplicates of earlier
    * corpus docs. Batch b holds ids c + b·size ...; of those 10% are exact
    * copies of corpus docs, 10% near copies, 5% exact copies of an
    * earlier doc of the same batch, the rest fresh. */
  def docKind(seed: Long, c: Long, size: Int, id: Long): DocKind = {
    val h = mix(seed ^ 0xD0CL, id)
    val k = below(h, 100)
    if (id < c) {
      if (id < 100) Fresh
      else if (k < 3) ExactOf(java.lang.Long.remainderUnsigned(mix(h, 1L), id))
      else if (k < 8) NearOf(java.lang.Long.remainderUnsigned(mix(h, 2L), id))
      else Fresh
    } else {
      val first = c + (id - c) / size * size
      if (k < 10) ExactOf(java.lang.Long.remainderUnsigned(mix(h, 3L), c))
      else if (k < 20) NearOf(java.lang.Long.remainderUnsigned(mix(h, 4L), c))
      else if (k < 25 && id - first >= 8) {
        val src = id - 1 - below(mix(h, 5L), 8)
        if (docKind(seed, c, size, src) == Fresh) ExactOf(src) else Fresh
      } else Fresh
    }
  }

  private def docTokens(seed: Long, c: Long, size: Int, id: Long): Array[Int] =
    docKind(seed, c, size, id) match {
      case Fresh => freshTokens(seed, id)
      case ExactOf(src) => docTokens(seed, c, size, src)
      case NearOf(src) => substituted(seed, docTokens(seed, c, size, src), mix(seed, id))
    }

  def docText(seed: Long, c: Long, size: Int, id: Long): String = {
    val text = render(seed, docTokens(seed, c, size, id))
    docKind(seed, c, size, id) match {
      case ExactOf(_) => exactVariant(text)
      case _ => text
    }
  }

  def docs(spark: SparkSession, seed: Long, c: Long, size: Int,
      from: Long, until: Long, parts: Int): Dataset[Doc] = {
    import spark.implicits._
    spark.range(from, until, 1, parts).as[Long].map(id => Doc(id, docText(seed, c, size, id)))
  }

  /** Ids of batch `b` that are exact duplicates of an earlier document:
    * none of them may be admitted. */
  def plantedExact(seed: Long, c: Long, size: Int, b: Int): Seq[Long] =
    (c + b.toLong * size until c + (b + 1L) * size)
      .filter(id => docKind(seed, c, size, id).isInstanceOf[ExactOf])
}
