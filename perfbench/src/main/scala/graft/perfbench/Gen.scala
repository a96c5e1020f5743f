package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generator. Everything here is plain JVM code (no Spark),
  * so the same seed writes byte-identical files, and the planted groups
  * come with their ground truth.
  *
  * Texts are generated already in the engine's normal form (NFC, single
  * spaces, no punctuation, no saltillo, no vowel runs) so normalization is
  * the identity on a canonical record and the checks can compare exact
  * strings after lower-casing.
  */
object Gen {

  private val nahSyl = Array("tla", "tli", "tze", "chi", "hua", "xo", "ma", "no",
    "mā", "tō", "yē", "cā", "pō", "tī", "qui", "cal", "mic", "te", "co", "ne")
  private val esSyl = Array("la", "de", "ca", "sa", "mor", "to", "ni", "pe",
    "ra", "ño", "ce", "bri", "gen", "tal", "mu", "vi", "que", "por", "es", "dó")
  private val mynSyl = Array("k'a", "ch'e", "ba", "lu", "um", "tz'i", "na", "ix",
    "po", "ka", "ja", "wi")
  private val Sources =
    Array("huggingface", "youtube", "pdf", "manual", "synthetic", "bible")

  private def word(r: SplittableRandom, syl: Array[String]): String = {
    val n = 2 + r.nextInt(2)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb ++= syl(r.nextInt(syl.length)); i += 1 }
    sb.toString
  }

  private def sentence(r: SplittableRandom, syl: Array[String], n: Int): Seq[String] =
    Seq.fill(n)(word(r, syl))

  /** A word no other record shares: base-20 digits of the record index
    * spelled with Spanish syllables, which keeps every canonical key
    * unique by construction. */
  private def uniqueWord(i: Long, prefix: String = "q"): String = {
    val sb = new StringBuilder(prefix)
    var v = i
    do { sb ++= esSyl((v % esSyl.length).toInt); v /= esSyl.length } while (v > 0)
    sb.toString
  }

  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\t' => sb ++= "\\t"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  final case class Pair(es: String, nah: Option[String], myn: Option[String]) {
    /** The engine's dedup key on canonical text (dedup_key: lower(trim)
      * per language, "|"-joined, nulls as ""). */
    def key: String = Seq(Some(es), nah, myn).map(_.getOrElse("").toLowerCase).mkString("|")
  }

  /** Ground truth of one generated corpus. `keepKeys` is the gold key set
    * after exact dedup (unify); `nearPairs` are (base key, near-dup key)
    * pairs of which banded MinHash keeps exactly one (medallion). */
  final case class Corpus(silverGlob: String, diamondGlob: String, records: Long,
      bytes: Long, exactDupLines: Long, nearDupLines: Long, malformedLines: Long,
      keepKeys: Set[String], nearPairs: Seq[(String, String)]) {
    def shares: Map[String, Double] = Map(
      "exact_dup_share" -> exactDupLines.toDouble / records,
      "near_dup_share" -> nearDupLines.toDouble / records,
      "malformed_share" -> malformedLines.toDouble / records)
  }

  /** es–nah–myn JSONL split across silver and diamond layer files:
    * ~10% exact-dup lines (case/whitespace variants of a base record),
    * ~5% near-dups (leading es word replaced), ~0.5% malformed lines, a
    * fifth of the records under the legacy `*_translation` keys. */
  def corpus(dir: File, seed: Long, records: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val nMalformed = math.max(1, records / 200)
    val nExact = records / 10
    val nNear = records / 20
    val nBase = records - nMalformed - nExact - nNear
    val bases = (0 until nBase).map { i =>
      val es = (uniqueWord(seed * 1000003L + i) +: sentence(r, esSyl, 9 + r.nextInt(5))).mkString(" ")
      val roll = r.nextInt(10)
      val nah = if (roll < 9) Some(sentence(r, nahSyl, 7 + r.nextInt(5)).mkString(" ")) else None
      val myn = if (roll >= 7) Some(sentence(r, mynSyl, 5 + r.nextInt(4)).mkString(" ")) else None
      Pair(es, nah, myn)
    }
    // exact-dup sources and near-dup sources are disjoint base sets
    val exactSrc = Seq.fill(nExact)(r.nextInt(nBase / 2))
    val nearSrc = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
      .shuffle((nBase / 2 until nBase).toVector).take(nNear)
    // a near-dup re-labels the record's leading token: one word-shingle
    // of ~20 differs, so banded MinHash (32 bands x 4 rows) pairs it with
    // its base with near certainty
    val nears = nearSrc.zipWithIndex.map { case (b, k) =>
      val words = bases(b).es.split(' ')
      words(0) = uniqueWord(seed * 1000003L + k, "r")
      b -> bases(b).copy(es = words.mkString(" "))
    }
    def variant(p: Pair, kind: Int): Pair = kind match {
      case 0 => p.copy(es = p.es.toUpperCase(java.util.Locale.ROOT))
      case 1 => p.copy(es = "  " + p.es.replace(" ", "  ") + " ",
        nah = p.nah.map(n => n.replace(" ", " \t ") + "  "))
      case _ => p.copy(es = p.es.capitalize + "   ")
    }
    def line(p: Pair): String = {
      val legacy = r.nextInt(5) == 0
      val (esK, nahK, mynK) =
        if (legacy) ("es_translation", "nah_translation", "myn_translation")
        else ("es", "nah", "myn")
      val fields = Seq(Some(esK -> p.es), p.nah.map(nahK -> _), p.myn.map(mynK -> _),
        Some("source" -> Sources(r.nextInt(Sources.length)))).flatten
      fields.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ", ", "}")
    }
    val lines = bases.map(line) ++
      exactSrc.map(b => line(variant(bases(b), r.nextInt(3)))) ++
      nears.map { case (_, p) => line(p) } ++
      (0 until nMalformed).map { i =>
        if (i % 2 == 0) s"""{"es": "${bases(i % nBase).es}", "nah": "trunca"""
        else s"not json ${uniqueWord(i)}"
      }
    // deterministic shuffle, then 5 silver files and 2 diamond files
    val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(seed ^ 0x5eedL))
      .shuffle(lines)
    val silverDir = new File(dir, "silver"); val diamondDir = new File(dir, "diamond")
    silverDir.mkdirs(); diamondDir.mkdirs()
    val files = (0 until 5).map(i => new File(silverDir, s"part-$i.jsonl")) ++
      (0 until 2).map(i => new File(diamondDir, s"part-$i.jsonl"))
    val writers = files.map(f => new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), StandardCharsets.UTF_8)))
    try shuffled.zipWithIndex.foreach { case (l, i) =>
      val w = writers(i % writers.length); w.write(l); w.write('\n')
    } finally writers.foreach(_.close())
    Corpus(s"${silverDir.getPath}/*.jsonl", s"${diamondDir.getPath}/*.jsonl",
      lines.length.toLong, files.map(_.length).sum, nExact.toLong, nNear.toLong,
      nMalformed.toLong,
      (bases ++ nears.map(_._2)).map(_.key).toSet,
      nears.map { case (b, p) => bases(b).key -> p.key })
  }

  /** `waves` JSONL waves of (doc_id, text); returns their paths. Ids rise
    * across waves (the CDC watermark shape the loop's equivalence contract
    * needs). From the second wave on, `recrawl` of each wave re-crawls
    * earlier docs: half exact copies, half with one word replaced. */
  def textWaves(dir: File, seed: Long, waves: Int, perWave: Int,
      recrawl: Double): Seq[String] = {
    val r = new SplittableRandom(seed)
    dir.mkdirs()
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    var nextId = (seed & 0xffffL) * 10000000L
    (0 until waves).map { w =>
      val f = new File(dir, f"wave-$w%02d.jsonl")
      val out = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
        StandardCharsets.UTF_8))
      try (0 until perWave).foreach { _ =>
        val text =
          if (w > 0 && r.nextDouble() < recrawl) {
            val old = seen(r.nextInt(seen.length))
            if (r.nextBoolean()) old
            else {
              val words = old.split(' ')
              words(r.nextInt(words.length)) = word(r, nahSyl)
              words.mkString(" ")
            }
          } else (uniqueWord(nextId) +: sentence(r, nahSyl, 14 + r.nextInt(8))).mkString(" ")
        seen += text
        out.write(s"""{"doc_id": $nextId, "text": ${jsonStr(text)}}""")
        out.write('\n')
        nextId += 1
      } finally out.close()
      f.getPath
    }
  }
}
