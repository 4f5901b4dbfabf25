package graft.eltbench

import scala.collection.mutable.ArrayBuffer

/** Seeded LLM-prep corpus: `(doc_id, source, text)` rows in four sources
  * and four languages, about 55 words a document, with planted families.
  *
  *  - Exact families: copies of one text that differ only in an email
  *    address, which `TextAnalysis.scrubPii` redacts, so they are exact
  *    duplicates once scrubbed.
  *  - Near families: copies with one interior word replaced; each copy's
  *    3-word-shingle Jaccard with the root is about 0.89, above
  *    `LlmPrep`'s 0.8 threshold.
  *
  * A family's root has its smallest `doc_id`, so the keeper rules of
  * `NearDup.exactByContent` and `LlmPrep` leave at most one member.
  * Emails and URLs are whitespace-separated tokens, which lets
  * [[shingleCells]] count the scrubbed shingle sets without Spark. */
final case class Corpus(ids: Array[Long], sources: Array[String],
    texts: Array[String], families: Array[Array[Long]], shingleCells: Long)

object Corpus {
  private val Sources = Array("web", "news", "forum", "books")
  private val Markers: Array[(Array[String], Double)] = Array(
    Array("the", "a", "of", "and", "to", "in", "is", "it", "that", "for") -> 0.55,
    Array("der", "die", "das", "und", "ist", "nicht", "ein", "mit") -> 0.15,
    Array("le", "la", "les", "et", "des", "une", "est", "pour") -> 0.15,
    Array("el", "la", "de", "que", "y", "los", "una", "por") -> 0.15)
  private val Syllables = Array("ka", "lo", "mi", "ren", "tu", "sa", "vel",
    "do", "pra", "ne", "ox", "fi", "gar", "um", "te", "shi", "bel", "cor")

  def generate(seed: Long, docs: Int, exactFamilies: Int,
      nearFamilies: Int): Corpus = {
    val rng = new java.util.Random(seed)
    val vocab = Array.fill(4000)(
      (0 until 2 + rng.nextInt(2)).map(_ => Syllables(rng.nextInt(Syllables.length))).mkString)
    def content(): String = vocab(rng.nextInt(vocab.length))
    def email(): String = s"u${rng.nextInt(1000000)}@example.org"
    def doc(): Array[String] = {
      val r = rng.nextDouble()
      var acc = 0.0
      val markers = Markers.find { case (_, p) => acc += p; r < acc }
        .getOrElse(Markers(0))._1
      val n = 45 + rng.nextInt(21)
      val words = Array.fill(n)(
        if (rng.nextDouble() < 0.3) markers(rng.nextInt(markers.length)) else content())
      if (rng.nextDouble() < 0.1) words(rng.nextInt(n)) = email()
      if (rng.nextDouble() < 0.05) words(rng.nextInt(n)) = s"https://site${rng.nextInt(500)}.example.com/p"
      words
    }
    // (words, family index or -1, is root)
    val rows = ArrayBuffer.empty[(Array[String], Int, Boolean)]
    var family = 0
    for (_ <- 0 until exactFamilies) {
      val root = doc()
      val at = 1 + rng.nextInt(root.length - 2)
      root(at) = email()
      rows += ((root, family, true))
      for (_ <- 0 until 1 + rng.nextInt(3)) {
        val copy = root.clone(); copy(at) = email()
        rows += ((copy, family, false))
      }
      family += 1
    }
    for (_ <- 0 until nearFamilies) {
      val root = doc()
      rows += ((root, family, true))
      for (_ <- 0 until 1 + rng.nextInt(3)) {
        val copy = root.clone()
        val at = 3 + rng.nextInt(root.length - 6)
        var w = content()
        while (w == root(at)) w = content()
        copy(at) = w
        rows += ((copy, family, false))
      }
      family += 1
    }
    while (rows.size < docs) {
      val words =
        if (rng.nextDouble() < 0.06) Array.fill(3 + rng.nextInt(5))(content()) // too short
        else doc()
      rows += ((words, -1, false))
    }
    // Shuffle, number 1..n, then give each family's root its smallest id.
    val order = rows.indices.toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t
    }
    val ids = new Array[Long](rows.size)
    order.zipWithIndex.foreach { case (row, pos) => ids(row) = pos + 1L }
    val members = Array.fill(family)(ArrayBuffer.empty[Int])
    rows.indices.foreach { i => if (rows(i)._2 >= 0) members(rows(i)._2) += i }
    members.foreach { m =>
      val root = m.find(i => rows(i)._3).get
      val lowest = m.minBy(ids(_))
      val t = ids(root); ids(root) = ids(lowest); ids(lowest) = t
    }
    val texts = rows.map(_._1.mkString(" ")).toArray
    val sources = Array.fill(rows.size)(Sources(rng.nextInt(Sources.length)))
    Corpus(ids, sources, texts, members.map(_.map(ids(_)).toArray),
      shingleCells(texts))
  }

  private def scrubbed(token: String): String =
    if (token.startsWith("https://")) "<URL>"
    else if (token.contains("@")) "<EMAIL>"
    else token

  /** Σ distinct 3-word shingles over the documents that survive exact
    * dedup — the `cells` that `NearDup.minhashPairs` sizes its dispatch by. */
  def shingleCells(texts: Array[String]): Long = {
    val seen = new java.util.HashSet[String]()
    texts.iterator.map(_.split(" ").map(scrubbed)).filter(t =>
      seen.add(t.mkString(" ").toLowerCase)).map { t =>
      if (t.length < 3) 0L
      else t.sliding(3).map(_.mkString(" ")).toSet.size.toLong
    }.sum
  }
}
