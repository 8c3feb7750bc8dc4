package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-expression reference forms of the library's codegen'd paths:
  * plain `zip_with`/`aggregate` formulations that run interpreted, one row
  * at a time — too slow for the library, independent of it, so the specs
  * compare the native and bulk paths against them. */
object ReferenceForms {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity; 0.0 for a zero-norm input. The reference for
    * [[Similarity.cosineFast]]. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn > 0, d / nn).otherwise(lit(0.0))
  }

  /** ±1 hyperplane component for (plane j, dim i): the parity of
    * xxhash64(j, i), as in [[Similarity]]'s bulk bucket path. */
  private def planeSign(j: Int, i: Column): Column =
    when(pmod(xxhash64(lit(j), i), lit(2L)) === 0L, lit(1.0)).otherwise(lit(-1.0))

  /** Sign bit of `vec · plane_planeIdx`, packed at `bitPos`. */
  private def planeBit(vec: Column, planeIdx: Int, bitPos: Int): Column = {
    val d = aggregate(
      zip_with(vec, sequence(lit(0L), size(vec).cast("long") - 1L),
        (x, i) => x.cast("double") * planeSign(planeIdx, i)),
      lit(0.0), (acc, v) => acc + v)
    when(d >= 0, lit(1L << bitPos)).otherwise(lit(0L))
  }

  /** LSH bucket id for one hash table: `nPlanes` hyperplane sign bits,
    * planes `table*nPlanes + j`. The reference for the buckets
    * [[Similarity.lshTopK]] computes. */
  def lshBucket(vec: Column, nPlanes: Int = 16, table: Int = 0): Column =
    (0 until nPlanes).map(j => planeBit(vec, table * nPlanes + j, j))
      .reduce((a, b) => a.bitwiseOR(b))

  /** k-wide MinHash signature from a distinct shingle-hash array, the
    * permutation i of a hash h being xxhash64(h, i); shingle-less rows get
    * the sentinel (-1, -2, …). The reference for
    * [[Dedup.minhashSignatures]] and the native `MinHashSignature`. */
  def minhashSignature(shingleHashes: Column, k: Int): Column =
    when(size(shingleHashes) > 0,
      array((0 until k).map { i =>
        aggregate(shingleHashes, lit(Long.MaxValue),
          (acc, h) => least(acc, xxhash64(h, lit(i))))
      }: _*))
      .otherwise(array((0 until k).map(i => lit(-1L - i)): _*))
}
