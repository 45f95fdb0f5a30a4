package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** The hash kernel of a near-dup pipeline. Every near-dup builder (text
  * MinHash and SimHash, the media fingerprint) takes one and is otherwise
  * the same code for both members:
  *
  *   - [[HashFamily.Md5]]: the first 60 bits of md5 — slower (a
  *     cryptographic digest per feature) but replayable in DuckDB SQL, so
  *     the rows built on it are hash-compared end to end. The certified
  *     reference.
  *   - [[HashFamily.Xx]]: Spark's xxhash64 (seed 42, the codegen'd column
  *     function's seed) — the production cost, rows-only because DuckDB
  *     cannot replay it.
  *
  * This is the only place that spells either family's hashes: the
  * per-feature column hash, the band-key hash and the JVM window hash of
  * the media fingerprint.
  */
sealed abstract class HashFamily {

  /** Hash of one string feature (a token, a shingle, a window) as a BIGINT
    * column: 60 significant bits under Md5, 64 under Xx.
    */
  def feature(c: Column): Column

  /** The 8-byte join key of band `b` over its signature elements. */
  def bandKey(b: Int, elems: Seq[Column]): Column

  /** A fresh window hasher for the media fingerprint. It holds mutable
    * per-payload state (and, for Md5, a `MessageDigest`), so a
    * per-partition loop builds one per task and reuses it for every row.
    */
  def windowHash(): HashFamily.WindowHash
}

object HashFamily {

  /** The 60-bit hash of each stride-1 8-byte window of one payload:
    * [[load]] a payload, then `apply(i)` hashes bytes `[i, i + 8)`
    * (clipped at the payload's end). The top 4 bits are always clear, so
    * a 4×15-bit banding covers the whole value under both families.
    */
  abstract class WindowHash {
    def load(payload: Array[Byte]): Unit
    def apply(i: Int): Long
  }

  case object Md5 extends HashFamily {

    /** The first 15 hex digits of md5 as a BIGINT, which DuckDB replays
      * as `('0x' || substr(md5(x), 1, 15))::BIGINT`.
      */
    def feature(c: Column): Column =
      conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

    def bandKey(b: Int, elems: Seq[Column]): Column =
      feature(concat_ws(",", lit(b) +: elems: _*))

    /** md5 of each window's UPPERCASE-HEX image (16 hex chars per full
      * window), so the DuckDB replay hashes the same string with
      * hex()/md5()/substr.
      */
    def windowHash(): WindowHash = new WindowHash {
      private val md = java.security.MessageDigest.getInstance("MD5")
      private var hx: Array[Byte] = Array.emptyByteArray

      def load(payload: Array[Byte]): Unit = {
        val n = payload.length
        hx = new Array[Byte](2 * n)
        var i = 0
        while (i < n) {
          val v = payload(i) & 0xff
          hx(2 * i) = HexDigits(v >> 4)
          hx(2 * i + 1) = HexDigits(v & 15)
          i += 1
        }
      }

      def apply(i: Int): Long = {
        val off = 2 * i
        md.reset()
        md.update(hx, off, math.min(16, hx.length - off))
        val d = md.digest()
        var h = 0L
        var j = 0
        while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
        h >>> 4 // first 15 hex chars of the digest = top 60 bits
      }
    }
  }

  case object Xx extends HashFamily {

    def feature(c: Column): Column = xxhash64(c)

    def bandKey(b: Int, elems: Seq[Column]): Column = xxhash64(lit(b) +: elems: _*)

    /** XXH64 of the window bytes packed big-endian into a long — no hex
      * expansion and no digest, about 20× cheaper per byte than Md5.
      */
    def windowHash(): WindowHash = new WindowHash {
      private var p: Array[Byte] = Array.emptyByteArray

      def load(payload: Array[Byte]): Unit = p = payload

      def apply(i: Int): Long = {
        var w = 0L
        val len = math.min(8, p.length - i)
        var j = 0
        while (j < len) { w = (w << 8) | (p(i + j) & 0xffL); j += 1 }
        XXH64.hashLong(w, 42L) >>> 4
      }
    }
  }

  private val HexDigits = "0123456789ABCDEF".getBytes("US-ASCII")
}
