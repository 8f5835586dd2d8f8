package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-bucket expressions shared by the sampling/split
  * operators (q75 hash split, q89 stratified sample), with the DuckDB
  * mirror kept next to the Spark form — the two must evolve together or
  * the engines silently diverge on bucket membership.
  */
object Hashing {

  /** Bucket 0..n-1 from the first 8 md5 hex digits of the column's string
    * form — content-independent, stable under repartitioning and re-runs,
    * which seeded `sample()` is not.
    */
  def md5Bucket(c: Column, n: Int): Column =
    pmod(conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(n.toLong))

  /** The index of the lowest band whose keys collide, over the per-band
    * key pairs `keys` = (left key, right key), band 0 first: `CASE WHEN
    * a0 = b0 THEN 0 WHEN a1 = b1 THEN 1 … ELSE n−1 END`. A banded pair
    * join that also requires `band = firstCollision(keys)` emits each pair
    * once, from its lowest colliding band, so it needs no `distinct`.
    * Equality is `=`, not `<=>`: a null key never collides, exactly as in
    * the band equi-join itself.
    */
  def firstCollision(keys: Seq[(Column, Column)]): Column = {
    val last = lit(keys.size - 1)
    keys.init.zipWithIndex match {
      case Seq() => last
      case ((a, b), _) +: more =>
        more.foldLeft(when(a === b, 0)) { case (c, ((x, y), i)) =>
          c.when(x === y, i)
        }.otherwise(last)
    }
  }

  /** The HLL register count m every HLL sketch here uses (alpha_64 =
    * 0.709 in [[hllEstimate]]). */
  val hllBuckets = 64

  /** The HLL register hash of the string key `k`, beside the columns
    * `keep`: (keep…, bucket, rho). bucket = [[md5Bucket]] over m =
    * [[hllBuckets]]; rho = the leading-zero rank of the 32-bit word in md5
    * hex digits 9–16, via `length(bin(w))` — an exact integer string op,
    * so both engines agree bit-for-bit.
    */
  def hllRanks(df: DataFrame, k: Column, keep: String*): DataFrame =
    df.select(keep.map(col) ++ Seq(md5Bucket(k, hllBuckets).as("bucket"),
        conv(substring(md5(k), 9, 8), 16, 10).cast("long").as("w")): _*)
      .select(keep.map(col) ++ Seq(col("bucket"), when(col("w") === 0, lit(33))
        .otherwise(lit(33) - length(bin(col("w")))).as("rho")): _*)

  /** Σ 2^(33−m) over registers `m`, as exact integers (m ≤ 33). */
  def hllSInv: Column =
    sum(pow(lit(2.0), lit(33) - col("m")).cast("long")).as("s_inv")

  /** The count of empty (m = 0) registers. */
  def hllNEmpty: Column =
    sum(when(col("m") === 0, 1).otherwise(0)).cast("long").as("n_empty")

  /** The m = 64 harmonic-mean estimate from `sInv` = Σ 2^(33−m): numerator
    * alpha_64·m²·2^33 over ONE correctly-rounded double division —
    * IEEE-identical across engines. */
  def hllEstimate(sInv: Column): Column =
    floor(lit(0.709) * lit(4096.0) * lit(8589934592.0) / sInv.cast("double"))
      .cast("long")

  /** The standard small-range switch over (raw, n_empty): at or below
    * 2.5m with empty registers present, linear counting m·ln(m/V). */
  def hllSmallRange: Column =
    expr("""CASE WHEN raw <= 160 AND n_empty > 0
             THEN CAST(round(64 * ln(CAST(64 AS DOUBLE) / n_empty)) AS BIGINT)
             ELSE raw END""")

  /** DuckDB mirror of [[md5Bucket]] over a SQL expression string. */
  def duckMd5Bucket(e: String, n: Int): String =
    s"('0x' || substr(md5(CAST($e AS VARCHAR)), 1, 8))::BIGINT % $n"

  /** Driver-side md5 hex digest — for deterministic constants computed at
    * plan-build time (q95's sign matrix, ScaleUp's replica flips), NOT for
    * per-row expressions (use [[md5Bucket]] / `functions.md5`).
    */
  def md5hex(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** ±1 from the parity of the first md5 hex digit of `key` — the shared
    * derivation behind q95's JL sign matrix and ScaleUp's per-replica
    * embedding flips (their agreement is load-bearing: the flips must
    * decorrelate replicas under the SAME hash family the projection uses).
    */
  def md5Sign(key: String): Int =
    if ((Integer.parseInt(md5hex(key).substring(0, 1), 16) & 1) == 0) 1 else -1
}
