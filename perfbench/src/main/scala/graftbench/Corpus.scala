package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A seeded document corpus in the `documents` schema (doc_id, text, lang,
  * source, n_chars): `docs` documents, of which `injected` are near-duplicate
  * copies of earlier ones (one word in sixty replaced), interleaved at
  * seeded positions. Originals draw from a 4,000-word vocabulary with a
  * Zipf-like skew and a stopword share, so two originals are almost never
  * near-duplicates, and the quality and repetition gates see a spread of
  * scores.
  */
final class Corpus(seed: Long, val docs: Int) {
  private val rnd = new Random(seed)
  private val Langs = IndexedSeq("en", "de", "es", "fr", "zh")
  private val Stop = IndexedSeq("the", "of", "and", "to", "in", "is", "that", "for", "it", "on")
  private val vocab: IndexedSeq[String] = IndexedSeq.fill(4000) {
    Iterator.fill(2 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar).mkString
  }

  private def word(): String =
    if (rnd.nextDouble() < 0.12) Stop(rnd.nextInt(Stop.size))
    else vocab((vocab.size * math.pow(rnd.nextDouble(), 2)).toInt)

  private def original(): String = Seq.fill(40 + rnd.nextInt(80))(word()).mkString(" ")

  /** A document repeating one phrase, for the repetition gate. */
  private def repetitive(): String = {
    val phrase = Seq.fill(4)(word()).mkString(" ")
    Seq.fill(10 + rnd.nextInt(20))(phrase).mkString(" ")
  }

  private def nearCopy(text: String): String = {
    val ws = text.split(" ")
    (0 until math.max(1, ws.length / 60)).foreach(_ => ws(rnd.nextInt(ws.length)) = word())
    ws.mkString(" ")
  }

  /** (text, lang, source, is a copy) per doc_id. Copies are made of
    * plain originals (a repetitive document has too few distinct shingles
    * for a one-word edit to stay a near-duplicate) and keep their language.
    */
  private val rows: IndexedSeq[(String, String, String, Boolean)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Boolean)]
    val plain = scala.collection.mutable.ArrayBuffer.empty[Int]
    def src = s"src${rnd.nextInt(8)}"
    while (out.size < docs) {
      val u = rnd.nextDouble()
      if (plain.size > 10 && u < 0.3) {
        val (t, l, _, _) = out(plain(rnd.nextInt(plain.size)))
        out += ((nearCopy(t), l, src, true))
      } else if (u < 0.35) out += ((repetitive(), Langs(rnd.nextInt(Langs.size)), src, false))
      else {
        plain += out.size
        out += ((original(), Langs(rnd.nextInt(Langs.size)), src, false))
      }
    }
    out.toIndexedSeq
  }

  /** Documents that are near-duplicate copies of another document. */
  val injected: Long = rows.count(_._4).toLong

  def frame(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rows.zipWithIndex.map { case ((t, l, s, _), i) => (i.toLong, t, l, s, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars").repartition(1)
  }
}
