package graft.multimodal

import graft.dedup.SimHash
import graft.multimodal.MediaDecode.MediaRecord
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual (near-duplicate) image dedup — the visual face of the
  * dedup family: re-encodes, resizes, format shifts and mild
  * brightness/compression changes defeat byte-level hashes
  * (`mm_meta`'s checksum catches only exact copies), but they barely
  * move a 64-bit average hash (aHash) of the 8×8 mean-luma grid.
  *
  * Pipeline: decode (the [[MediaDecode]] `mapPartitions` stage — a
  * JDK ImageIO raster read cannot be a Catalyst expression) →
  * 64-bit aHash per image → [[graft.dedup.SimHash.bytePairs]], the
  * byte-banded candidate join and `bit_count(xor)` verify the text
  * SimHash runs too (hamming ≤ 7 is GUARANTEED caught by the 8-band
  * pigeonhole, no all-pairs comparison anywhere).
  *
  * Verification: golden ScalaTest (synthesized images — identical,
  * uniformly brightened, unrelated), like the other real-codec paths
  * (SURVEY §2.10 M3) — a DuckDB oracle cannot decode PNGs.
  * Determinism: the hash is a pure function of the decoded raster
  * (fixed sampling grid, integer luma sums, one mean comparison per
  * cell), so retries and both sides of a shuffle agree.
  */
object MediaDedup {

  /** 64-bit average hash of an image raster: bit (8·by + bx) is set
    * iff cell (bx, by)'s mean luma exceeds the mean of the 64 cell
    * means. Pixels are sampled on the same bounded ≤64×64 grid as
    * [[MediaDecode.imageFeatures]]; a cell the sampling grid misses
    * (degenerate tiny images) scores the global mean → bit 0.
    * Uniform brightness shifts move every cell mean AND the global
    * mean together, so the hash is invariant to them up to clipping —
    * the property the golden spec pins.
    */
  private[multimodal] def aHash64(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val (sx, sy) = (math.max(1, w / 64), math.max(1, h / 64))
    val sums = new Array[Double](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      var x = 0
      while (x < w) {
        val bx = x * 8 / w
        val rgb = img.getRGB(x, y)
        val l = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        val c = 8 * by + bx
        sums(c) += l
        counts(c) += 1
        x += sx
      }
      y += sy
    }
    val present = counts.count(_ > 0)
    var total = 0.0
    var c = 0
    while (c < 64) {
      if (counts(c) > 0) total += sums(c) / counts(c)
      c += 1
    }
    val mean = if (present > 0) total / present else 0.0
    var hash = 0L
    c = 0
    while (c < 64) {
      if (counts(c) > 0 && sums(c) / counts(c) > mean) hash |= 1L << c
      c += 1
    }
    hash
  }

  /** 64-bit ENERGY-ENVELOPE hash of an audio stream — the aHash
    * analogue for sound: samples (16-bit PCM conversion, ≤ 4 MiB read
    * bound, both exactly as [[MediaDecode.audioFeatures]]) split into
    * 64 equal time windows; bit i is set iff window i's mean |sample|
    * exceeds the mean of the 64 window means. Uniform volume scaling
    * moves every window mean AND the global mean together, so the
    * hash is gain-invariant up to clipping — the exact brightness
    * argument of [[aHash64]], transposed to amplitude. Re-encodes and
    * mild noise barely move the envelope; a different temporal
    * structure (where the loud parts ARE) flips many bits.
    */
  private[multimodal] def audioHash64(
      stream: javax.sound.sampled.AudioInputStream): Long = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val base = stream.getFormat
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      base.getSampleRate, 16, base.getChannels, 2 * base.getChannels,
      base.getSampleRate, false)
    val pcm = AudioSystem.getAudioInputStream(fmt, stream)
    val bytes = pcm.readNBytes(4 << 20)
    val n = bytes.length / 2
    if (n == 0) return 0L
    val sums = new Array[Double](64)
    val counts = new Array[Long](64)
    var i = 0
    while (i < n) {
      val s = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort.toInt
      val w = (i.toLong * 64 / n).toInt
      sums(w) += math.abs(s)
      counts(w) += 1
      i += 1
    }
    var total = 0.0
    var present = 0
    var w = 0
    while (w < 64) {
      if (counts(w) > 0) { total += sums(w) / counts(w); present += 1 }
      w += 1
    }
    val mean = if (present > 0) total / present else 0.0
    var hash = 0L
    w = 0
    while (w < 64) {
      if (counts(w) > 0 && sums(w) / counts(w) > mean) hash |= 1L << w
      w += 1
    }
    hash
  }

  /** (doc_id, phash) for every record whose payload decodes as audio —
    * the sonic face of [[perceptualHashes]]; the pair stage is the
    * same [[nearDuplicatePairs]] byte-banded join.
    */
  def audioPerceptualHashes(records: Dataset[MediaRecord],
      batchSize: Int = 64): DataFrame = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          if (!MediaDecode.looksAudio(r.payload)) None
          else
            try Some((r.doc_id, audioHash64(
              javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(r.payload)))))
            catch { case scala.util.control.NonFatal(_) => None }
        }
      }
    }.toDF("doc_id", "phash")
  }

  /** (doc_id, phash) for every record whose payload decodes as an
    * image; undecodable rows are absent (they have no visual content
    * to compare — exact byte dedup via `mm_meta`'s checksum still
    * covers them).
    */
  def perceptualHashes(records: Dataset[MediaRecord],
      batchSize: Int = 64): DataFrame = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          if (!MediaDecode.looksImage(r.payload)) None
          else
            try Some((r.doc_id, aHash64(MediaDecode.readImage(r.payload))))
            catch { case scala.util.control.NonFatal(_) => None }
        }
      }
    }.toDF("doc_id", "phash")
  }

  /** (doc_id, frame_idx, phash) for every decodable frame of an
    * MJPEG-style video payload ([[MediaDecode.splitMjpeg]] + the same
    * ImageIO path + [[aHash64]]): the frame-level content signature
    * under cross-video reuse detection. Corrupt frames are absent
    * (no raster, no perceptual content); same `mapPartitions`-where-
    * the-bytes-live shape as [[MediaDecode.decodeMjpeg]].
    */
  def videoFrameHashes(records: Dataset[MediaDecode.MediaRecord]): DataFrame = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.flatMap { r =>
      MediaDecode.splitMjpeg(r.payload).zipWithIndex.flatMap {
        case (frame, idx) =>
          try Some((r.doc_id, idx, aHash64(MediaDecode.readImage(frame))))
          catch { case scala.util.control.NonFatal(_) => None }
      }
    }).toDF("doc_id", "frame_idx", "phash")
  }

  /** Cross-video content reuse: pairs of videos sharing at least
    * `minShared` near-duplicate frames (frame-pair hamming ≤
    * `maxHamming`) — re-encoded, re-cut, or watermarked copies whose
    * byte checksums (and often whole-payload hashes) all differ. The
    * frame pairs come from [[graft.dedup.SimHash.bytePairs]] over the
    * 8 hash bytes, carrying `frame_idx` (complete for hamming ≤ 7),
    * KEYED ON THE HASH BYTES, so cost follows hash-bucket collisions,
    * never |frames|². Output: (doc_a, doc_b, n_shared, min_hamming),
    * doc_a < doc_b.
    */
  def videoNearDupPairs(frameHashes: DataFrame, maxHamming: Int = 3,
      minShared: Int = 2): DataFrame =
    SimHash.bytePairs(frameHashes, "phash", 8, maxHamming, "frame_idx")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"), min(col("hamming")).as("min_hamming"))
      .filter(col("n_shared") >= minShared)

  /** Near-duplicate pairs among hashed images: (doc_a, doc_b,
    * hamming), doc_a < doc_b, hamming ≤ `maxHamming`, from
    * [[graft.dedup.SimHash.bytePairs]] over the 8 hash bytes —
    * complete for `maxHamming` ≤ 7 by pigeonhole (at most 7 differing
    * bits can dirty at most 7 of the 8 bands).
    */
  def nearDuplicatePairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    SimHash.bytePairs(hashes, "phash", 8, maxHamming)
}
