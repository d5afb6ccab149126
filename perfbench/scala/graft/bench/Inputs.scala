package graft.bench

import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.SplittableRandom

import graft.kernel.Synth
import graft.model.Page
import org.apache.spark.sql.{Dataset, SparkSession}

/** Row of the generated `documents` table (the shape of the query suite's
  * text table: 10–100 words over a 30-word vocabulary, ~5% near copies of an
  * earlier row with one appended word). */
final case class QDoc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

/** Row of the generated `embeddings` table: 64-d unit vectors, 10 labels. */
final case class QVec(vec_id: Long, embedding: Array[Float], label: Int)

/** Every benchmark input is a pure function of (seed, index), built on the
  * executors from `spark.range`, so a seed always gives the same bytes. */
object Inputs {

  // ------------------------------------------------- planted near-duplicates

  /** Share of the pipeline corpus's html articles (Synth kinds 0–5) that is
    * re-emitted under a new url with one word of one paragraph replaced. */
  val PlantShare = 0.2
  private val Planted = "planted"

  private def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def isPlanted(seed: Long, i: Long): Boolean =
    i % 10 <= 5 && java.lang.Long.remainderUnsigned(mix(seed, i), 1000L) < (PlantShare * 1000).toLong

  def plantedUrl(i: Long): String = s"https://mirror.example/doc/$i"

  /** The one-word edit: the k-th word of the article's first paragraph. */
  def oneWordEdit(seed: Long, i: Long, html: String): String = {
    val p0 = html.indexOf("<p>", html.indexOf("<article>")) + 3
    val p1 = html.indexOf("</p>", p0)
    val words = html.substring(p0, p1).split(' ')
    val k = 1 + java.lang.Long.remainderUnsigned(mix(seed + 1, i), (words.length - 1).toLong).toInt
    words(k) = Planted
    html.substring(0, p0) + words.mkString(" ") + html.substring(p1)
  }

  /** `n` Synth rows (every payload kind: html articles, link farms, real
    * and structured PDFs, scanned PDFs, error rows) plus the planted copies. */
  def curateCorpus(spark: SparkSession, seed: Long, n: Long, parts: Int): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).mapPartitions(_.flatMap { i =>
      val r = Synth.row(seed, i)
      val base = Page(r.url, new Timestamp(r.warcTsMillis), r.html, r.text, r.lang)
      if (!isPlanted(seed, i)) Iterator(base)
      else {
        val edited = oneWordEdit(seed, i, new String(r.html, StandardCharsets.UTF_8))
        Iterator(base, base.copy(url = plantedUrl(i),
          html = edited.getBytes(StandardCharsets.UTF_8)))
      }
    })
  }

  /** (original url, planted url) of every planted pair. */
  def plantedPairs(seed: Long, n: Long): Seq[(String, String)] =
    (0L until n).filter(isPlanted(seed, _))
      .map(i => Synth.row(seed, i).url -> plantedUrl(i))

  // ------------------------------------------------------------ query tables

  private val Vocab = Array("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark", "line",
    "sort", "window", "data", "column", "join", "small", "customer", "query",
    "order", "stream", "filter", "group", "big", "vector")

  private val Langs = Array("zh", "de", "fr", "es")

  private def baseText(seed: Long, i: Long): String = {
    val rng = new SplittableRandom(mix(seed, i))
    val n = 10 + rng.nextInt(91)
    Array.fill(n)(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
  }

  def qdoc(seed: Long, i: Long): QDoc = {
    val rng = new SplittableRandom(mix(seed + 7, i))
    val l = rng.nextInt(100)
    val lang = if (l < 41) "en" else Langs((l - 41) % 4)
    val text =
      if (i > 0 && rng.nextInt(20) == 0) baseText(seed, rng.nextLong(i)) + " dup"
      else baseText(seed, i)
    QDoc(i, text, lang, s"src${i % 20}", text.length.toLong)
  }

  def qvec(seed: Long, i: Long): QVec = {
    val rng = new SplittableRandom(mix(seed + 13, i))
    val v = Array.fill(64) {
      // Box–Muller: a unit Gaussian per coordinate → a uniform direction
      val u = 1.0 - rng.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    QVec(i, v.map(x => (x / norm).toFloat), rng.nextInt(10))
  }

  def documents(spark: SparkSession, seed: Long, n: Long): Dataset[QDoc] = {
    import spark.implicits._
    spark.range(n).map(i => qdoc(seed, i))
  }

  def embeddings(spark: SparkSession, seed: Long, n: Long): Dataset[QVec] = {
    import spark.implicits._
    spark.range(n).map(i => qvec(seed, i))
  }
}
