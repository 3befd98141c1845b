package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Each records exactly what it planted, so
  * the checks compare the library's output with that record instead of
  * with anything the library computes.
  */
object Gen {

  /** A random stream for (seed, purpose...): the same arguments always
    * give the same stream, different arguments independent ones.
    */
  def rng(seed: Long, parts: Long*): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    parts.foreach { p =>
      h ^= p + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2)
      h = new SplittableRandom(h).nextLong()
    }
    new SplittableRandom(h)
  }

  /** k distinct ints from [0, n), in random order. */
  def distinct(r: SplittableRandom, n: Int, k: Int): Seq[Int] = {
    val a = (0 until n).toArray
    (0 until k).map { i =>
      val j = i + r.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
      a(i)
    }
  }

  /** What a diff of (s1, s2) must report. `perCol` counts rows whose
    * column differs; `entries` lists every differing cell as (key,
    * column, s1 value, s2 value) after null-blanking.
    */
  final case class DiffTruth(s1Only: Long, s2Only: Long, noDiff: Long,
      diff: Long, perCol: Map[String, Long],
      entries: Set[(String, String, String, String)])

  // ------------------------------------------------------------ small diff

  /** The reference fixtures' schema (employee100/101): 8 string columns,
    * key `id`.
    */
  val SmallCols: Seq[String] = Seq("id", "first_name", "last_name", "email",
    "gender", "ip_address", "emp_join_date", "emp_country")

  /** The reference's golden per-column mismatch counts for employee100
    * vs employee101 on key `id` (FIXTURES.md, SURVEY.md), in the order of
    * `SmallCols.tail`, over that pair's 108 shared rows. The tables hold
    * 108 and 111 data rows.
    */
  val GoldenCounts: Seq[Int] = Seq(83, 81, 81, 49, 81, 81, 77)
  val GoldenShared = 108
  val GoldenRows: (Int, Int) = (108, 111)

  private val First = Seq("Ada", "Bo", "Cy", "Dee", "Eli", "Fay", "Gus",
    "Hal", "Ivy", "Jo", "Kit", "Lea", "Max", "Noa", "Oz", "Pia")
  private val Last = Seq("Abbot", "Birch", "Crane", "Dunn", "Egan", "Frost",
    "Gale", "Hart", "Ives", "Jett", "Knox", "Lowe", "Marsh", "Nash")
  private val Countries = Seq("Brazil", "China", "France", "Indonesia",
    "Peru", "Poland", "Russia", "Sweden", "Portugal", "Philippines")

  /** A value of column `c`; the join date is written in its side's
    * format, `2020/09/15` in s1 and `21-02-2021` in s2, as in the fixtures.
    */
  private def smallValue(c: Int, r: SplittableRandom, s2: Boolean): String = c match {
    case 1 => First(r.nextInt(First.size))
    case 2 => Last(r.nextInt(Last.size))
    case 3 => s"${First(r.nextInt(First.size)).toLowerCase}${r.nextInt(1000)}@ex.org"
    case 4 => Seq("Female", "Male", "Female", "Male", "ale")(r.nextInt(5))
    case 5 => Seq.fill(4)(r.nextInt(300)).mkString(".")
    case 6 =>
      val (y, m, d) = (2019 + r.nextInt(3), 1 + r.nextInt(12), 1 + r.nextInt(28))
      if (s2) f"$d%02d-$m%02d-$y%04d" else f"$y%04d/$m%02d/$d%02d"
    case _ => Countries(r.nextInt(Countries.size))
  }

  private def blank(v: String): String = if (v == null) "" else v

  final case class SmallPair(s1: Seq[Array[String]], s2: Seq[Array[String]],
      truth: DiffTruth)

  /** A pair of 100–1,000-row tables with the fixtures' traffic mix:
    *
    *   - ~1% of keys only in s1, and s2 about 111/108 the size of s1;
    *   - a shared row is rewritten with probability 83/108 (the largest
    *     golden count); a rewritten row changes column c with
    *     probability GoldenCounts(c)/83, so c changes in GoldenCounts(c)
    *     of every 108 shared rows, as in the golden test, and a changed
    *     row differs in 1–7 (mostly 6–7) columns;
    *   - one cell in ten that changes becomes null or blank; 3% of cells
    *     start null and 3% blank, and unchanged null/blank cells swap
    *     between the two, which must NOT count as a diff.
    *
    * Sizes follow a seeded golden-ratio sequence over input numbers, so
    * any run of consecutive inputs covers 100–1,000 evenly and a run's
    * rows per op do not hinge on a few draws.
    */
  def smallPair(seed: Long, op: Int): SmallPair = {
    val r = rng(seed, 1, op)
    val u = rng(seed, 1).nextDouble() + op * 0.6180339887498949
    val n = 100 + (901 * (u - math.floor(u))).toInt
    def cell(c: Int, s2: Boolean): String = r.nextInt(100) match {
      case u if u < 3 => null
      case u if u < 6 => ""
      case _ => smallValue(c, r, s2)
    }
    def changed(c: Int, old: String): String =
      if (old.nonEmpty && r.nextInt(10) == 0) { if (r.nextBoolean()) null else "" }
      else {
        var v = smallValue(c, r, s2 = true)
        var tries = 0
        while (v == old && tries < 8) { v = smallValue(c, r, s2 = true); tries += 1 }
        if (v == old) v + "x" else v
      }
    val rewrite = GoldenCounts.max
    val s1 = (0 until n).map(i => (s"$i" +: (1 to 7).map(cell(_, s2 = false))).toArray)
    val s2 = mutable.ArrayBuffer.empty[Array[String]]
    val perCol = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val entries = mutable.Set.empty[(String, String, String, String)]
    var s1Only, diff, noDiff = 0L
    s1.foreach { row =>
      if (r.nextInt(100) < 1) s1Only += 1
      else {
        val out = row.clone()
        val rewritten = r.nextInt(GoldenShared) < rewrite
        var changes = 0
        (1 to 7).foreach { c =>
          if (rewritten && r.nextInt(rewrite) < GoldenCounts(c - 1)) {
            val old = blank(row(c))
            val nv = changed(c, old)
            out(c) = nv
            perCol(SmallCols(c)) += 1
            entries += ((row(0), SmallCols(c), old, blank(nv)))
            changes += 1
          } else if (row(c) == null && r.nextInt(2) == 0) out(c) = ""
          // null <-> blank is not a change once strings are blanked
          else if (row(c) == "" && r.nextInt(2) == 0) out(c) = null
        }
        if (changes > 0) diff += 1 else noDiff += 1
        s2 += out
      }
    }
    val s2Only = (n * GoldenRows._2 / GoldenRows._1 - s2.size).max(1)
    (0 until s2Only).foreach { j =>
      s2 += (s"${n + j}" +: (1 to 7).map(cell(_, s2 = true))).toArray
    }
    val shuffled = distinct(r, s2.size, s2.size).map(s2)
    SmallPair(s1, shuffled,
      DiffTruth(s1Only, s2Only, noDiff, diff, perCol.toMap, entries.toSet))
  }

  // ---------------------------------------------------------------- corpus

  /** Lexicon words of the library's language vote that a synthetic
    * English document may use, and those it must avoid so the vote is
    * never close.
    */
  val EnStop: Seq[String] = Seq("the", "a", "of", "and", "is")
  private val Foreign = Set("der", "die", "das", "und", "ist", "el", "la",
    "de", "y", "es", "le", "et", "est")

  val Vocab: IndexedSeq[String] = {
    val syl = Seq("ka", "lo", "mi", "ter", "su", "ban", "ri", "vo", "pel",
      "du", "xen", "qua", "tor", "fi", "ne", "gra", "om", "zu", "bel", "ish")
    (for (a <- syl; b <- syl; c <- syl) yield a + b + c)
      .filterNot(w => Foreign(w) || EnStop.contains(w)).toIndexedSeq
  }

  /** One planted clone: `id` copies `src` exactly (k = 0) or with k
    * word substitutions; `jaccard` is the exact word-3-shingle Jaccard
    * of the two texts.
    */
  final case class Clone(id: Long, src: Long, k: Int, jaccard: Double)

  final case class Corpus(ids: Array[Long], texts: Array[String],
      clones: Seq[Clone]) {
    def size: Int = ids.length
  }

  /** Opens with "the" (never edited), so every document carries at
    * least one English stopword.
    */
  private def doc(r: SplittableRandom): Array[String] =
    "the" +: Array.fill(54 + r.nextInt(30)) {
      if (r.nextInt(100) < 12) EnStop(r.nextInt(EnStop.size))
      else Vocab(r.nextInt(Vocab.size))
    }

  /** `n` documents: ~85% random English-like originals (ids first), then
    * ~5% exact clones and ~10% near clones with 1–3 word substitutions,
    * each with a larger id than its original.
    */
  def corpus(seed: Long, op: Int, n: Int): Corpus = {
    val r = rng(seed, 3, op)
    val nBase = n * 85 / 100
    val nExact = n * 5 / 100
    val base = Array.fill(nBase)(doc(r))
    val texts = mutable.ArrayBuffer.empty[String]
    base.foreach(w => texts += w.mkString(" "))
    val clones = (nBase until n).map { id =>
      val src = r.nextInt(nBase)
      val w = base(src).clone()
      val k = if (id < nBase + nExact) 0 else 1 + r.nextInt(3)
      distinct(r, w.length - 1, k).map(_ + 1).foreach { p =>
        var v = Vocab(r.nextInt(Vocab.size))
        while (v == w(p)) v = Vocab(r.nextInt(Vocab.size))
        w(p) = v
      }
      texts += w.mkString(" ")
      Clone(id.toLong, src.toLong, k, jaccard(texts(src), texts(id)))
    }
    Corpus((0 until n).map(_.toLong).toArray, texts.toArray, clones)
  }

  /** Distinct word 3-shingles of a text split on single spaces, lower
    * case — the library's documented near-dup feature, computed here
    * independently.
    */
  def shingles(text: String): Set[String] = {
    val w = text.toLowerCase.split(" ", -1)
    if (w.length < 3) Set.empty
    else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (shingles(a), shingles(b))
    val inter = sa.count(sb)
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** The curation filter's documented rules: quality =
    * min(1, words/50) × distinct/words, language = the stopword vote.
    * Every generated document is built to pass both.
    */
  def passesFilters(text: String, minQuality: Double): Boolean = {
    val w = text.toLowerCase.split(" ", -1)
    val quality = math.min(1.0, w.length / 50.0) * w.distinct.length / w.length
    val en = w.count(EnStop.contains)
    quality >= minQuality && en > 0 && !w.exists(Foreign)
  }

  // --------------------------------------------------------------- vectors

  val Dim = 64

  /** Two-level cluster centres for a seed: 24 groups of 32 sub-centres
    * each, so a point's nearest neighbours are its sub-cluster — the low
    * intrinsic dimension of real embeddings, where recall is meaningful.
    */
  def centres(seed: Long): Array[Array[Double]] = {
    val r = rng(seed, 4)
    val top = Array.fill(24)(Array.fill(Dim)(gauss(r)))
    top.flatMap(t => Array.fill(32)(Array.tabulate(Dim)(j => t(j) + 0.5 * gauss(r))))
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box–Muller from two uniforms: deterministic for a stream
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** `n` points around the centres, drawn from stream `part`. */
  def vectors(seed: Long, part: Long, n: Int,
      cs: Array[Array[Double]]): Array[Array[Double]] = {
    val r = rng(seed, 5, part)
    Array.fill(n) {
      val c = cs(r.nextInt(cs.length))
      Array.tabulate(Dim)(j => c(j) + 0.12 * gauss(r))
    }
  }
}
