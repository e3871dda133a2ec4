package graft.datapipe

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.staticCall
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.LongType
import org.apache.spark.unsafe.types.UTF8String

import graft.spider.core.Hash64

/** Shared pure-Scala kernels for the training-data pipeline operators —
  * scalar hot-path pieces that built-ins cannot express. ONE implementation
  * of each semantics, used by both the Catalyst call in [[PipeFunctions]]
  * (distributed execution) and the single-threaded oracle replays that feed
  * the DuckDB fixture checks (the extract_text pattern: one impl, two
  * executions). Everything else in this package composes
  * `org.apache.spark.sql.functions`. */
object TextKernels {
  /** SimHash over a token array: per token, xxhash64 → each of the 64 bits
    * votes ±1; the sign vector is the fingerprint. Near-duplicate texts land
    * within a small Hamming distance. */
  def simhash(tokens: ArrayData): Long = {
    val votes = new Array[Int](64)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        // hash the UTF8String's backing bytes directly (identical to
        // Hash64.string: UTF8String stores UTF-8, XXH64 seed 42) — the
        // toString + getBytes round-trip was two copies per token (r6)
        val s = tokens.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Hash64.Seed)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Winnowing-style fingerprint: Rabin-Karp rolling hash over UTF-8 bytes
    * with window `w`; the minimum mixed window hash (a stable,
    * shift-tolerant content fingerprint). */
  def rollingFingerprint(bytes: Array[Byte], w: Int): Long = {
    if (bytes.length == 0) return 0L
    if (bytes.length <= w) return Hash64.string(new String(bytes, "UTF-8"))
    val B = 1000003L
    var pow = 1L
    var i = 0
    while (i < w - 1) { pow *= B; i += 1 }
    var h = 0L
    i = 0
    while (i < w) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    var min = mix(h)
    while (i < bytes.length) {
      h = (h - (bytes(i - w) & 0xffL) * pow) * B + (bytes(i) & 0xffL)
      val m = mix(h)
      if (m < min) min = m
      i += 1
    }
    min
  }

  /** [[rollingFingerprint]] of a text column value. */
  def textFingerprint(text: UTF8String, w: Int): Long =
    rollingFingerprint(text.getBytes, w)

  private def mix(h0: Long): Long = {
    var h = h0 ^ (h0 >>> 33)
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h
  }
}

object PipeFunctions {
  def simhash64(tokens: Column): Column =
    staticCall(TextKernels, "simhash", LongType, Seq(tokens))
  def doc_fingerprint(text: Column, window: Column): Column =
    staticCall(TextKernels, "textFingerprint", LongType, Seq(text, window))
}
