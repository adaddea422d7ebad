package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Broadcastable bloom filter over md5-hex fingerprints — the membership
  * pre-screen that lets an incremental-ingest anti-join touch only rows
  * that MIGHT be in the corpus. The three hash functions are disjoint
  * 16-bit slices of the fingerprint itself (already an md5), so no extra
  * hashing; words are 32-bit so every mask is a positive int64 (no
  * sign-bit hazards in either engine). m = 65536 bits (2048 words), one
  * filter for the whole corpus.
  *
  * The filter is METADATA-sized (16 KB dense), so probing is a pure
  * per-row projection against an array LITERAL ([[candidateCol]]) — no
  * join, no shuffle, no explode; the only distributed work is the build
  * aggregation over the corpus.
  *
  * The guarantee that makes pre-screening TRANSPARENT: no false
  * negatives, ever — dropping bloom-negative rows from an exact
  * membership check cannot change its result, only shrink its input
  * (proven end-to-end by q_curation_ingest hash-matching a plain
  * anti-join oracle).
  */
object Bloom {
  val Bits = 65536
  val Words = Bits / 32
  val K = 3

  /** Aggregate distinct fingerprints into ≤[[Words]] (word, bits) rows. */
  def build(fps: DataFrame, fpCol: String = "fp"): DataFrame =
    fps.select(explode(array((0 until K).map(i =>
        conv(substring(col(fpCol), i * 4 + 1, 4), 16, 10).cast("long")): _*)).as("h"))
      .groupBy(expr("h div 32").as("word"))
      .agg(expr("bit_or(shiftleft(cast(1 as bigint), cast(h % 32 as int)))").as("bits"))

  /** Densify the built filter to a driver-side word array — [[Words]]
    * longs (16 KB), the same metadata legitimacy class as a histogram or
    * a convergence check. */
  def collectBits(bloom: DataFrame): Array[Long] = {
    val arr = new Array[Long](Words)
    bloom.collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Per-row membership test of `fpCol` against a densified filter: true
    * ⇔ all K bits set (possibly a member); false ⇔ definitely not. Pure
    * codegen projection — the array rides in the plan as one literal. */
  def candidateCol(fpCol: String, bits: Array[Long]): Column = {
    require(bits.length == Words)
    val lut = typedLit(bits.toIndexedSeq)
    (0 until K).map { i =>
      val hSql = s"cast(conv(substring($fpCol, ${i * 4 + 1}, 4), 16, 10) as bigint)"
      val word = expr(s"cast(($hSql div 32) as int)")
      val mask = expr(s"shiftleft(cast(1 as bigint), cast($hSql % 32 as int))")
      element_at(lut, word + 1).bitwiseAND(mask) =!= 0
    }.reduce(_ && _)
  }
}
