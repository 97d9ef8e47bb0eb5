package graftbench

import java.util.SplittableRandom

import scala.util.hashing.MurmurHash3

import graft.sources.FileTopicLog.LogRecord

/** Seeded input generators. The same (seed, stream) always yields the
  * same inputs; nothing here reads the repository's fixtures. */
object Gen {

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  // ---- Kafka-shaped records ----

  val ValueBytes = 200
  val NullShare = 0.01

  /** One record of source partition (topic index `ti`, partition `p`):
    * a 10-byte ASCII key that names its source topic and partition (the
    * output checks recover the source from it after the route renamed
    * and remapped the record), a 200-byte random value, null for ~1%,
    * and one header carrying the due time. */
  def record(r: SplittableRandom, ti: Int, p: Int, dueMs: Long): LogRecord = {
    val key = f"$ti%02d$p%02d${r.nextInt(1000000)}%06d"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val value =
      if (r.nextDouble() < NullShare) null
      else { val v = new Array[Byte](ValueBytes); r.nextBytes(v); v }
    LogRecord(key, value, dueMs,
      headers = Seq("due" -> java.nio.ByteBuffer.allocate(8).putLong(dueMs).array()))
  }

  /** 31-bit hash of one record's identity and payload: (source topic,
    * source partition, offset, value). Summed per destination partition
    * it is an order-independent digest of what landed there. */
  def recHash(topic: String, partition: Int, offset: Long,
      value: Array[Byte], seed: Int): Long = {
    var h = MurmurHash3.stringHash(topic, seed)
    h = MurmurHash3.mix(h, partition)
    h = MurmurHash3.mix(h, offset.toInt)
    h = MurmurHash3.mix(h, (offset >>> 32).toInt)
    h = MurmurHash3.mixLast(h, MurmurHash3.bytesHash(value, seed))
    MurmurHash3.finalizeHash(h, 4) & 0x7fffffffL
  }
  val HashSeeds: (Int, Int) = (0x5eed, 0x2b1d)

  /** Expected output of a route, per destination (topic, partition):
    * record count and two independent hash sums. Filled by the producer
    * as it appends; null values are counted apart (they must be
    * dropped). */
  final class Expected {
    val perDst = scala.collection.mutable.Map.empty[(String, Int), Array[Long]]
    var nulls = 0L
    var produced = 0L
    def add(dst: (String, Int), srcTopic: String, srcPart: Int,
        offset: Long, value: Array[Byte]): Unit = {
      produced += 1
      if (value == null) nulls += 1
      else {
        val a = perDst.getOrElseUpdate(dst, new Array[Long](3))
        a(0) += 1
        a(1) += recHash(srcTopic, srcPart, offset, value, HashSeeds._1)
        a(2) += recHash(srcTopic, srcPart, offset, value, HashSeeds._2)
      }
    }
  }

  // ---- documents ----

  /** Vocabulary of `n` lowercase words, 3-9 letters. */
  def vocab(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }

  /** A word sequence with a skewed (squared-uniform) word choice, so
    * common words repeat within and across documents. */
  def words(r: SplittableRandom, v: Array[String], n: Int): Array[String] =
    Array.fill(n) { val u = r.nextDouble(); v((u * u * v.length).toInt) }

  /** Replace ~`share` of the words: a near-duplicate that keeps most of
    * its word-3-gram shingles. */
  def perturb(r: SplittableRandom, v: Array[String], ws: Array[String],
      share: Double): Array[String] =
    ws.map(w => if (r.nextDouble() < share) v(r.nextInt(v.length)) else w)
}
