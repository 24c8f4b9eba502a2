package graft.functions

/** The engine's two 64-bit hash kernels, written once. Every native
  * that hashes (`rolling_hash`, the shingle and winnow hashes, the
  * MinHash signature, `splitmix64`, the FNV SimHash, the feature
  * buckets, the frame hashes) calls these, from `nullSafeEval` and
  * from generated code alike, and `graft.ops.HashSql` replays the
  * same constants in DuckDB.
  *
  * Both wrap mod 2^64 (Java `long` multiply), which is what the
  * replays emulate; Column arithmetic would throw on overflow under
  * ANSI mode. */
object Hash64 {
  /** FNV-1a 64-bit offset basis. */
  final val FnvOffset = 0xcbf29ce484222325L
  /** FNV-1a 64-bit prime. */
  final val FnvPrime = 1099511628211L
  /** splitmix64 finalizer multipliers. */
  final val MixC1 = 0xbf58476d1ce4e5b9L
  final val MixC2 = 0x94d049bb133111ebL

  /** One FNV-1a step: fold byte `b` into state `h`. */
  def fnvStep(h: Long, b: Byte): Long = (h ^ (b & 0xffL)) * FnvPrime

  /** FNV-1a of `bytes[from, until)`; the offset basis when empty. */
  def fnv1a(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = FnvOffset
    var i = from
    while (i < until) {
      h = fnvStep(h, bytes(i))
      i += 1
    }
    h
  }

  /** FNV-1a of a whole byte array. */
  def fnv1a(bytes: Array[Byte]): Long = fnv1a(bytes, 0, bytes.length)

  /** splitmix64 finalizer: full avalanche in 5 ALU ops. Raw FNV-1a of a
    * short string is not uniform in its high bits, so order-statistic
    * uses (MinHash, k-mins sketches, bucket splits) finalize with it. */
  def splitmix64(v: Long): Long = {
    var z = v
    z = (z ^ (z >>> 30)) * MixC1
    z = (z ^ (z >>> 27)) * MixC2
    z ^ (z >>> 31)
  }
}
