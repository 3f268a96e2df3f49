package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-file BLOOM FILTER INDEX for the GraftTable manifest — point
  * lookups on columns the table is NOT clustered on. Min/max
  * envelopes prune range predicates on the cluster key; an equality
  * probe on any other column intersects every file's envelope and
  * reads the whole table. A per-file bloom over the column's values
  * answers "can this file contain v?" from the manifest alone (Delta's
  * bloom filter index / parquet bloom filters, lifted to the file
  * level where the planner can use it): at 100 TB, `WHERE user_id =
  * 123` opens the handful of files whose bloom fires, not a million.
  *
  * Contract: ONE xxhash64 per value at write time (the same native
  * `functions.xxhash64` the read side folds over the probe literal —
  * both sides hash the identically-typed value, so the bits agree);
  * K probe positions by Kirsch–Mitzenmacher double hashing, with h1/h2
  * reduced mod m BEFORE combining so the read-side Column arithmetic
  * can never overflow under ANSI mode. A NULL bloom cell (file written
  * before the index existed, or by a writer that can't compute blooms)
  * KEEPS the file — degraded skipping is the failure mode, never a
  * wrong prune. False positives only cost a file read; false negatives
  * are impossible.
  *
  * Sizing: each file's width follows its own row count ([[bitsFor]]);
  * the declared width is a floor. The manifest stores `bits/64` longs per
  * file per column; blooms ride the manifest parquet, which is itself
  * distributed-scannable, and planning collects only surviving paths.
  */
object BloomFilterIndex {

  /** Probes per value. Fixed: read and write sides must agree. */
  val K = 5

  val DefaultBits: Int = 1 << 17 // 16 KiB/file/col; ~13k values at 1% fpp

  /** The K bit positions of hash `h` in an `m = words*64`-bit filter.
    * Mirrored EXACTLY by the Column arithmetic in [[mightContain]]. */
  private[graft] def setBits(bits: Array[Long], h: Long): Unit = {
    val m = bits.length * 64L
    val h1 = ((h % m) + m) % m
    val h2 = ((((h >>> 32) | 1L) % m) + m) % m
    var i = 0
    while (i < K) {
      val pos = (h1 + i * h2) % m // h1, h2 < m ≤ 2^31: no overflow
      bits((pos >>> 6).toInt) |= 1L << (pos & 63L).toInt
      i += 1
    }
  }

  /** Widest bloom a file gets: 1 MiB per file per column. */
  val MaxBits: Int = 1 << 23

  /** Width of the bloom of a file holding `rows` values: ~10 bits per
    * value (fpp ≈ 1% at K=5), rounded up to a power of two, at most
    * [[MaxBits]] and never below the `declared` width (nor one word).
    * A fixed width saturates once a file holds more than ~bits/10
    * distinct values (every bit set keeps the file for every probe).
    * Files of one table may differ in width: the probe reads each
    * file's m off `size(bloom)` ([[mightContain]]). */
  def bitsFor(rows: Long, declared: Int): Int = {
    val target =
      java.lang.Long.highestOneBit(math.max(1L, 10L * rows - 1L)) * 2L
    math.max(64L,
      math.max(declared.toLong, math.min(target, MaxBits.toLong))).toInt
  }

  /** Read-side manifest test: can the file behind `bloom` contain
    * `value`? ALL-NATIVE Column arithmetic (xxhash64 + pmod + getbit —
    * codegen'd, constant-folded over the literal), replicating
    * [[setBits]]' position derivation bit for bit. NULL/empty bloom →
    * keep. `value` must carry the data column's exact type (both
    * callers take it from the analyzed predicate, where Spark has
    * already cast the literal) — xxhash64 is type-sensitive. */
  def mightContain(bloom: Column, value: Column): Column = {
    val h = xxhash64(value)
    val m = size(bloom).cast("long") * lit(64L)
    val h1 = pmod(h, m)
    val h2 = pmod(shiftrightunsigned(h, 32).bitwiseOR(lit(1L)), m)
    val tests = (0 until K).map { i =>
      val pos = pmod(h1 + lit(i.toLong) * h2, m)
      val word = element_at(bloom,
        (floor(pos / lit(64L)) + lit(1L)).cast("int"))
      getbit(word, pos % lit(64L)) === lit(1L)
    }
    when(bloom.isNull || size(bloom) === 0, lit(true))
      .otherwise(tests.reduce(_ && _))
  }
}
