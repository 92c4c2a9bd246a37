package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Dense-bitmap membership/flag aggregate over a BOUNDED integer key
  * domain — the domain-adaptive fast path of the semi/anti-join count
  * (c09 family; promoted from the r9 Lab where it measured ~0.73× the
  * shipping flag-aggregate at sf1, NOTES_r9 item 6; the Lab ran in
  * src/main/scala/graft/Lab.scala at commit 94bd873).
  *
  * Why it wins: the per-key flag aggregate emits one partial row per
  * distinct key per task (~200k rows/task at sf1) into the exchange; the
  * bitmap form replaces that with ONE fixed-size buffer per task (three
  * bitmaps over the key domain), so partial volume stops scaling with key
  * count entirely.
  *
  * Why it is GUARDED: the state scales with the key DOMAIN, not the data
  * — at a ~20B-key domain (100 TB corpus) the buffer would be ~2.5 GB per
  * task, the wrong trade. Callers must check `max(key) − min(key)` first
  * (a parquet-footer-cheap dim-side probe) and fall back to the
  * domain-proportional flag aggregate when it exceeds [[DenseKeyFlags.DomainMax]].
  *
  * Input encoding: one primitive long per row, `km = (key − base) * 8 |
  * mask`, with mask bit0 = "discount" flag row, bit1 = "taxed" flag row,
  * bit2 = a row of the membership (dim) side. The packed-primitive form
  * measured equal-or-better than the (Long, Int) tuple encoder (270 vs
  * 293 ms) and keeps the typed path allocation-free per row. Keys outside
  * [0, words·64) are ignored — with `base = min(dimKey)` and the bitmap
  * sized to the dim's key span, any fact key outside the span cannot be a
  * dim member and contributes nothing to the verdict.
  */
object DenseKeyFlags {

  /** Domain bound for the dense path: 2^24 keys → 3 × 2 MiB bitmaps per
    * aggregation buffer (one buffer per task under partial aggregation) —
    * comfortably within executor memory at any deployment size, while a
    * domain past this is exactly the regime where per-key aggregation
    * state (∝ data, not domain) is the safe plan.
    */
  val DomainMax: Long = 1L << 24

  /** Memoized key-range probe: (min, max) of a long key column, or None
    * when the table is empty / all-NULL. The probe is catalog-statistics
    * information — parquet footers already hold per-column min/max, and
    * any real lakehouse answers it from table metadata without a scan —
    * so caching it per (session, dir, table) mirrors how an engine would
    * consult stats at plan time rather than re-deriving them per query.
    * Keyed by session identity like the Tables plan cache: a restarted
    * session re-probes.
    */
  private val rangeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, String, String), Option[(Long, Long)]]()

  def keyRange(df: org.apache.spark.sql.DataFrame, keyCol: String,
      session: org.apache.spark.sql.SparkSession, cacheKey: String): Option[(Long, Long)] =
    rangeCache.computeIfAbsent(
      (System.identityHashCode(session), cacheKey, keyCol), _ => {
        import org.apache.spark.sql.functions.{col, min, max}
        val r = df.agg(min(col(keyCol)).cast("long"),
          max(col(keyCol)).cast("long")).head()
        if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
      })

  /** Aggregation state: three bitmaps over the (offset) key domain. */
  final case class FlagBits(part: Array[Long], disc: Array[Long],
      taxed: Array[Long])

  /** (key, mask) tuple-encoder form: the bitmap fold that
    * [[DensePackedAgg]] (the shipping path) delegates to once it has
    * unpacked its input.
    */
  final class DenseFlagAgg(words: Int)
      extends Aggregator[(Long, Int), FlagBits, Long] {
    def zero: FlagBits =
      FlagBits(new Array[Long](words), new Array[Long](words), new Array[Long](words))
    def reduce(b: FlagBits, in: (Long, Int)): FlagBits = {
      val (k, m) = in
      val w = (k >> 6).toInt
      if (k >= 0 && w < words) {
        val bit = 1L << (k & 63)
        if ((m & 4) != 0) b.part(w) |= bit
        if ((m & 1) != 0) b.disc(w) |= bit
        if ((m & 2) != 0) b.taxed(w) |= bit
      }
      b
    }
    def merge(a: FlagBits, b: FlagBits): FlagBits = {
      var i = 0
      while (i < words) {
        a.part(i) |= b.part(i); a.disc(i) |= b.disc(i); a.taxed(i) |= b.taxed(i)
        i += 1
      }
      a
    }
    /** popcount(member ∧ flagged ∧ ¬excluded) — the semi∧anti verdict. */
    def finish(b: FlagBits): Long = {
      var i = 0
      var n = 0L
      while (i < words) {
        n += java.lang.Long.bitCount(b.part(i) & b.disc(i) & ~b.taxed(i))
        i += 1
      }
      n
    }
    def bufferEncoder: Encoder[FlagBits] = Encoders.product[FlagBits]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** [[DenseFlagAgg]] with the input pre-packed as `(key*8)|mask` in one
    * long (primitive encoder path — no tuple conversion per row).
    */
  final class DensePackedAgg(words: Int)
      extends Aggregator[Long, FlagBits, Long] {
    private val inner = new DenseFlagAgg(words)
    def zero: FlagBits = inner.zero
    def reduce(b: FlagBits, km: Long): FlagBits =
      inner.reduce(b, (km >> 3, (km & 7).toInt))
    def merge(a: FlagBits, b: FlagBits): FlagBits = inner.merge(a, b)
    def finish(b: FlagBits): Long = inner.finish(b)
    def bufferEncoder: Encoder[FlagBits] = Encoders.product[FlagBits]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }
}
