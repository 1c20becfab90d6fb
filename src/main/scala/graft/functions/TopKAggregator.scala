package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

case class ScoredId(id: Long, score: Double)

/** Bounded top-k aggregate with a mergeable buffer (SURVEY.md §7 100 TB note
  * for L3): each partition keeps only its k best candidates per group, so a
  * nearest-neighbor search shuffles O(groups × k) rows instead of the full
  * O(n²) pair stream — the difference between a feasible and an infeasible
  * plan at cluster scale.
  *
  * Ordering: score DESC, then id ASC (ties) — identical to
  * `row_number() OVER (ORDER BY score DESC, id)` ≤ k, so exact-search
  * results are unchanged, only the plan shape improves.
  *
  * NaN scores rank WORST, tied with -Infinity and resolved by id — `>`
  * alone is never true for NaN, which breaks sortWith's strict-weak-ordering
  * contract (TimSort can throw on buffers over 32 elements) and made
  * reduce/merge disagree.
  */
class TopKAggregator(k: Int) extends Aggregator[ScoredId, Seq[ScoredId], Seq[ScoredId]] {
  private def rank(s: Double): Double = if (s.isNaN) Double.NegativeInfinity else s
  private def better(a: ScoredId, b: ScoredId): Boolean = {
    val (ra, rb) = (rank(a.score), rank(b.score))
    ra > rb || (ra == rb && a.id < b.id)
  }

  private def trim(s: Seq[ScoredId]): Seq[ScoredId] =
    s.sortWith(better).take(k)

  override def zero: Seq[ScoredId] = Seq.empty
  override def reduce(buf: Seq[ScoredId], in: ScoredId): Seq[ScoredId] =
    if (buf.size < k) trim(buf :+ in)
    else if (better(in, buf.last)) trim(buf :+ in)
    else buf
  override def merge(a: Seq[ScoredId], b: Seq[ScoredId]): Seq[ScoredId] = trim(a ++ b)
  override def finish(buf: Seq[ScoredId]): Seq[ScoredId] = trim(buf)
  override def bufferEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder[Seq[ScoredId]]()
  override def outputEncoder: Encoder[Seq[ScoredId]] = ExpressionEncoder[Seq[ScoredId]]()
}

object TopKAggregator {
  def inputEncoder: Encoder[ScoredId] = Encoders.product[ScoredId]
}
