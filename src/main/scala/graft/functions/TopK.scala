package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded top-k as a typed [[Aggregator]] — the custom-aggregate slot
  * SURVEY.md §7 reserved ("TypedImperativeAggregate/Aggregator for exact
  * top-k-by-cosine").
  *
  * `groupBy(key).agg(topK(k)(score, id))` keeps only k (score, id) pairs
  * per group at every stage: partial buffers are merged associatively and
  * trimmed to k, so the shuffle carries O(groups·k) rows instead of the
  * O(rows) a window + row_number ≤ k formulation shuffles before it can
  * filter. Use the window form when the per-group row count is small
  * (WindowGroupLimit already prunes map-side); use this when groups are
  * huge and k is small — the classic top-k-per-user over a 100 TB event
  * log.
  *
  * Determinism: ties on score break toward the smaller id (same rule as
  * the window formulation's `orderBy(score.desc, id)`), so results are
  * stable across partitionings.
  */
object TopK {

  type ScoredId = (Double, Long)

  /** Merge two score-sorted buffers, keep the best k. Both inputs are
    * already sorted by (-score, id); output stays sorted — a k-way cap on
    * a merge of sorted runs, O(k).
    */
  private def mergeTrim(a: List[ScoredId], b: List[ScoredId], k: Int): List[ScoredId] = {
    val out = scala.collection.mutable.ListBuffer.empty[ScoredId]
    var (x, y) = (a, b)
    while (out.size < k && (x.nonEmpty || y.nonEmpty)) {
      val takeX = y.isEmpty || (x.nonEmpty &&
        (x.head._1 > y.head._1 || (x.head._1 == y.head._1 && x.head._2 <= y.head._2)))
      if (takeX) { out += x.head; x = x.tail }
      else { out += y.head; y = y.tail }
    }
    out.toList
  }

  private final class TopKAgg(k: Int)
      extends Aggregator[ScoredId, List[ScoredId], Seq[ScoredId]] {
    def zero: List[ScoredId] = Nil
    def reduce(buf: List[ScoredId], in: ScoredId): List[ScoredId] =
      mergeTrim(buf, List(in), k)
    def merge(a: List[ScoredId], b: List[ScoredId]): List[ScoredId] =
      mergeTrim(a, b, k)
    def finish(buf: List[ScoredId]): Seq[ScoredId] = buf
    def bufferEncoder: Encoder[List[ScoredId]] = ExpressionEncoderHelper.listEncoder
    def outputEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoderHelper.seqEncoder
  }

  /** Column form: `df.groupBy(key).agg(topK(5)(col("score"), col("id")))`
    * → array<struct<_1: double, _2: bigint>> of the k best, score-desc.
    */
  def topK(k: Int)(score: Column, id: Column): Column =
    udaf(new TopKAgg(k)).apply(score, id)
}

/** Tuple encoders for the aggregator buffers (product encoders — columnar,
  * not kryo blobs, so partial buffers stay compact on the shuffle wire).
  */
private object ExpressionEncoderHelper {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  val listEncoder: Encoder[List[(Double, Long)]] = ExpressionEncoder()
  val seqEncoder: Encoder[Seq[(Double, Long)]] = ExpressionEncoder()
}
