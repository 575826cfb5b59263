package graft.functions

import graft.plans.{MinHashSig, Shingles}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Hashing primitives shared by the dedup/fingerprint operators.
  *
  * All hashing is md5-based rather than xxhash64/murmur because md5
  * is bit-identical across engines (SURVEY §5): any SQL engine can
  * reproduce these signatures, which makes every dedup operator
  * oracle-checkable and makes signatures portable across engine
  * versions — important when a 100 TB dedup run is incremental and
  * signatures persist between runs. The one exception is [[minhash]],
  * Spark's xxhash64: MinHash signatures only pick candidates, which
  * are then verified exactly, so no oracle reproduces them.
  */
object Hashing {
  /** 60-bit non-negative hash: first 15 hex chars of md5 → long.
    * 60 bits keeps it positive in a signed 64-bit long on every
    * engine while leaving headroom for bit tricks.
    */
  def hex60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Whitespace tokenization (the engine's canonical split): the
    * non-empty pieces of the space-trimmed text split on whitespace
    * runs. `array_remove` drops the empty pieces (a leading tab or
    * newline, an empty text) in generated code.
    */
  def tokens(text: Column): Column = array_remove(split(trim(text), "\\s+"), "")

  /** w-token shingles: element i is `concat_ws(" ", toks[i .. i+w-1])`,
    * and fewer than `w` tokens (or a null array) give the empty array.
    * One codegen'd kernel ([[graft.plans.Shingles]]) that evaluates
    * `toks` once per row, so the argument may be an inline expression
    * such as `tokens(text)`.
    */
  def shinglesOf(toks: Column, w: Int): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(toks), w))

  /** Shingles of raw text: [[shinglesOf]] over [[tokens]]. */
  def shingles(text: Column, w: Int): Column = shinglesOf(tokens(text), w)

  /** The `numHashes`-slot MinHash signature of a shingle array:
    * element i is min over s of `xxhash64(i, s)`, and an empty array
    * gives null ([[graft.plans.MinHashSig]]).
    */
  def minhash(sh: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(sh), numHashes))
}
