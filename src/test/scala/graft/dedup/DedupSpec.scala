package graft.dedup

import graft.SparkTestSession
import graft.queries.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup family over the sf0.001 documents table (500 docs; the driver
  * planted 25 near-duplicate pairs — a base doc plus a copy with one
  * appended token).
  */
class DedupSpec extends AnyFunSuite {

  private val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = Tables.load(spark, dir, "documents")

  test("exact dedup keeps one row per text, lowest id wins") {
    val dupes = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
    val corpus = docs.unionByName(dupes)
    val kept = ExactDedup.byTextHash(corpus, "text", "doc_id")
    assert(corpus.count() === 600)
    assert(kept.count() === 500)
    // keep-best: the re-keyed copies (id >= 100000) must all lose
    assert(kept.filter(col("doc_id") >= 100000L).count() === 0)
  }

  test("minhash LSH finds exactly the exact-Jaccard near-dup pairs") {
    val lsh = MinHashLSH.nearDuplicatePairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = NgramJaccard.nearDuplicatePairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 20) // ~5% of docs are planted near-dup pairs
    // LSH recall is probabilistic in general, but at J>=0.9 with 6
    // bands x 2 rows the miss probability is < 1e-6 per pair — and the
    // hash seeds are fixed, so this is fully deterministic here.
    assert(lsh === exact)
    assert(lsh.forall { case (a, b) => a < b })
  }

  test("minhash verification reports true Jaccard (planted pairs >= 0.9)") {
    val jac = MinHashLSH.nearDuplicatePairs(docs, "doc_id", "text")
      .select("jaccard").collect().map(_.getDouble(0))
    assert(jac.length >= 20)
    // planted pairs differ by ONE token out of >=14, so true J is high —
    // well above the 0.8 keep threshold, never quite 1.0
    assert(jac.forall(j => j >= 0.85 && j < 1.0))
  }

  test("simhash hamming<=3 pairs are a subset of true near-dup pairs") {
    val sh = SimHash.nearDuplicatePairs(
        SimHash.signatures(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exact = NgramJaccard.nearDuplicatePairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh.nonEmpty)
    assert(sh.forall { case (a, b, d) => d >= 0 && d <= 3 && a < b })
    assert(sh.map(t => (t._1, t._2)).toSet.subsetOf(exact))
  }

  /** (doc_a, doc_b, hamming) rows of one case each (the cases share
    * bits, so cross-case pairs exist too), as tuples.
    */
  private def hammingPairs(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .filter(p => p._1 / 2 == p._2 / 2).toSet

  /** Pairs of (doc_id, hash) rows: docs 2k and 2k+1 are case k. */
  private def hashPairs(name: String, cases: Seq[(Long, Long)]) = {
    import spark.implicits._
    cases.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((2L * i, a), (2L * i + 1, b))
    }.toDF("doc_id", name)
  }

  test("byte-band join is complete to 7 bits on 64-bit hashes, sign bit included") {
    val h = 0x0123456789abcdefL
    val sevenBytes = (0 until 7).map(j => 1L << (9 * j)).reduce(_ | _)
    val eightBytes = sevenBytes | (1L << 63)
    val hashes = hashPairs("phash", Seq(
      h -> (h | (1L << 63)),             // only bit 63: a negative hash
      (h | (1L << 63)) -> ((h | (1L << 63)) ^ sevenBytes), // 7 bytes
      h -> (h ^ eightBytes)))            // 8 bits, one per byte: too far
    assert(hammingPairs(SimHash.bytePairs(hashes, "phash", 8, 7)) ===
      Set((0L, 1L, 1), (2L, 3L, 7)))
  }

  test("simhash byte-band join is complete to 3 bits on 32-bit signatures") {
    val h = 0x12345678L
    val threeBytes = (0 until 3).map(j => 1L << (9 * j)).reduce(_ | _)
    val sigs = hashPairs("simhash", Seq(
      h -> (h | (1L << 31)),             // only the top bit
      (h | (1L << 31)) -> ((h | (1L << 31)) ^ threeBytes), // 3 bytes
      h -> (h ^ threeBytes ^ (1L << 31)))) // 4 bits, one per byte
    assert(hammingPairs(SimHash.nearDuplicatePairs(sigs, 3)) ===
      Set((0L, 1L, 1), (2L, 3L, 3)))
  }

  test("containment flags a quoted-whole doc that resemblance misses") {
    import spark.implicits._
    // B quotes ALL of A inside much more of its own content: every
    // trigram of A is in B (containment A→B = 1.0) while the Jaccard
    // resemblance is diluted far below any dedup threshold
    val a = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 40).map(i => s"w$i").mkString(" ")
    val corpus = Seq(1L -> a, 2L -> s"$filler $a $filler").toDF("doc_id", "text")
    val cont = NgramJaccard.containmentPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(cont.toSeq === Seq((1L, 2L, 1.0)),
      "expected exactly the directed A-in-B containment edge")
    val jac = NgramJaccard.nearDuplicatePairs(corpus, "doc_id", "text")
    assert(jac.count() === 0, "resemblance must NOT fire on this pair")
  }

  test("containment doc-freq cap drops boilerplate-only containments") {
    import spark.implicits._
    // doc 1's ONLY trigram is the boilerplate footer shared by all
    // docs: uncapped, it is "contained" in everything; capped, the
    // ubiquitous shingle is pruned and the spurious edges vanish
    val footer = "all rights reserved"
    val corpus = Seq(
      1L -> footer,
      2L -> s"alpha beta gamma $footer",
      3L -> s"delta epsilon zeta $footer",
      4L -> s"eta theta iota $footer").toDF("doc_id", "text")
    val uncapped = NgramJaccard.containmentPairs(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === Set((1L, 2L), (1L, 3L), (1L, 4L)))
    val capped = NgramJaccard.containmentPairs(corpus, "doc_id", "text",
      maxShingleDocFreq = Some(2))
    assert(capped.count() === 0)
  }

  test("ngram jaccard frequency cap drops boilerplate-only pairs") {
    // cap=1 keeps only shingles unique to a single doc — no pair can
    // share one, so the join must return nothing
    val capped = NgramJaccard.nearDuplicatePairs(
      docs, "doc_id", "text", maxShingleDocFreq = Some(1L))
    assert(capped.count() === 0)
  }

  test("minhash doc-freq cap is a no-op when no shingle exceeds it") {
    // 500 docs, so df can never exceed 500: capped run must equal the
    // uncapped run pair-for-pair AND jaccard-for-jaccard
    val capped = MinHashLSH.nearDuplicatePairs(docs, "doc_id", "text",
        MinHashLSH.Config(maxShingleDocFreq = Some(500L)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = MinHashLSH.nearDuplicatePairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(capped === uncapped)
    assert(capped.nonEmpty)
  }

  test("minhash doc-freq cap bounds band buckets on a boilerplate corpus") {
    import spark.implicits._
    // every doc shares a 24-token header (the site-template case) and
    // carries a 12-token unique tail — without the cap the header
    // shingles dominate every signature and the band self-join
    // degenerates toward all-pairs
    val header = (1 to 24).map(i => s"nav$i").mkString(" ")
    val corpus = (1 to 200).map { d =>
      (d.toLong, header + " " + (1 to 12).map(i => s"body${d}x$i").mkString(" "))
    }.toDF("doc_id", "text")
    val uncappedCand = MinHashLSH.candidatePairs(
      MinHashLSH.docShingles(corpus, "doc_id", "text")).count()
    val cappedCfg = MinHashLSH.Config(maxShingleDocFreq = Some(100L))
    val cappedCand = MinHashLSH.candidatePairs(
      MinHashLSH.docShingles(corpus, "doc_id", "text", cappedCfg),
      cappedCfg).count()
    // uncapped: shared-header minhashes collide most of the 19,900
    // possible pairs into the same band buckets
    assert(uncappedCand > 5000L, s"expected bucket blow-up, got $uncappedCand")
    // capped: header shingles (df=200 > 100) are dropped, docs retain
    // only unique-tail shingles → buckets stay at true-collision size
    assert(cappedCand < 100L, s"expected bounded buckets, got $cappedCand")
    // and no false positives survive verification either way
    assert(MinHashLSH.nearDuplicatePairs(corpus, "doc_id", "text",
      cappedCfg).count() === 0)
  }

  test("incremental embedding screen: identical batch vectors find their originals") {
    val vecs = Tables.load(spark, dir, "embeddings")
    val clones = vecs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val nClones = clones.count()
    val pairs = EmbeddingNearDup.incrementalPairs(vecs, clones,
        "vec_id", "embedding", 0.3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // an identical vector lands in the SAME bucket deterministically and
    // scores cos = 1 (up to IEEE sqrt roundoff) against its original
    val selfPairs = pairs.filter { case (n, o, _) => n - 100000L == o }
    assert(selfPairs.length === nClones)
    assert(selfPairs.forall(_._3 > 0.9999))
    // and the screen never reports below the threshold
    assert(pairs.forall(_._3 >= 0.3))
  }

  test("bucketed embedding index serves the screen without moving the corpus") {
    val vecs = Tables.load(spark, dir, "embeddings")
    val clones = vecs.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_new", "vec_old").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    try {
      EmbeddingNearDup.writeIndex(vecs, "vec_id", "embedding", "emb_idx",
        numBuckets = 8)
      val direct = rows(EmbeddingNearDup.incrementalPairs(vecs, clones,
        "vec_id", "embedding", 0.3))
      // force the SMJ regime the bucketed layout exists for (a
      // broadcast batch wouldn't shuffle either side at test scale)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val served = EmbeddingNearDup.incrementalPairsIndexed(spark,
          "emb_idx", clones, "vec_id", "embedding", 0.3)
        val plan = served.queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          "corpus scan must use the bucket layout:\n" + plan)
        // exactly one exchange: the BATCH aligning to the corpus buckets
        val exchanges =
          "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(exchanges === 1,
          s"corpus side must not shuffle ($exchanges exchanges):\n" + plan)
        assert(rows(served) === direct)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }
    } finally spark.sql("DROP TABLE IF EXISTS emb_idx")
  }

  test("sharp (16x4) config finds the planted pairs with fewer band rows per doc") {
    val sharp = MinHashLSH.nearDuplicatePairs(docs, "doc_id", "text",
        MinHashLSH.Sharp)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = NgramJaccard.nearDuplicatePairs(docs, "doc_id", "text")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // planted pairs sit at J>=0.85; 16 bands x 4 rows miss probability
    // per pair is (1-J^4)^16 < 1e-5 — deterministic here (fixed seeds)
    assert(sharp === exact)
  }
}
