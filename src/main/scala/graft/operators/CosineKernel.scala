package graft.operators

import scala.collection.mutable.ArrayBuilder
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Vectors packed as primitive arrays: row `i` has id `ids(i)`, its
  * elements at `mat(offs(i) until offs(i) + lens(i))` and norm `norms(i)`
  * (`sqrt` of the sequential self dot product, as `VectorOps.norm`
  * computes it). A null vector, or one holding a null element, has length
  * -1: every cosine against it is null, as the strict `vec_dot` gives.
  * Rows with a null id are dropped — they never pair. */
private[operators] final class VectorBlock(val ids: Array[Long], val offs: Array[Int],
    val lens: Array[Int], val mat: Array[Double], val norms: Array[Double]) {
  def size: Int = ids.length

  /** Row indices of every id held by more than one row, one group per id. */
  def duplicateGroups: Seq[Array[Int]] = {
    val sorted = ids.clone()
    java.util.Arrays.sort(sorted)
    var i = 1
    while (i < sorted.length && sorted(i) != sorted(i - 1)) i += 1
    if (i >= sorted.length) Nil
    else (0 until size).groupBy(ids(_)).valuesIterator.filter(_.size > 1).map(_.toArray).toSeq
  }
}

private[operators] object VectorBlock {
  /** Streamed query rows packed per block, bounding a task's memory. */
  val ChunkRows = 1024

  /** Packs up to `limit` (id: long, vector: array<double>) rows. */
  def of(rows: Iterator[InternalRow], limit: Int = Int.MaxValue): VectorBlock = {
    val ids = ArrayBuilder.make[Long]
    val offs = ArrayBuilder.make[Int]
    val lens = ArrayBuilder.make[Int]
    val norms = ArrayBuilder.make[Double]
    val mat = ArrayBuilder.make[Double]
    var off = 0
    var n = 0
    while (n < limit && rows.hasNext) {
      val r = rows.next()
      n += 1
      if (!r.isNullAt(0)) {
        ids += r.getLong(0)
        offs += off
        val a = if (r.isNullAt(1)) null else r.getArray(1)
        var valid = a != null
        var i = 0
        while (valid && i < a.numElements()) { valid = !a.isNullAt(i); i += 1 }
        if (!valid) {
          lens += -1
          norms += 0.0
        } else {
          val v = a.toDoubleArray()
          var s = 0.0
          i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }
          mat ++= v
          lens += v.length
          norms += math.sqrt(s)
          off += v.length
        }
      }
    }
    new VectorBlock(ids.result(), offs.result(), lens.result(), mat.result(), norms.result())
  }
}

/** The exact cosine top-k scoring loop, shared by every exact path of
  * [[Similarity]]. For each group of query rows sharing an id it scores
  * every corpus row with a different id and keeps the best k in the order
  * of [[Similarity.rankPerKey]], as Spark sorts `cosine DESC NULLS LAST,
  * id ASC`: nulls last, NaN greatest, -0.0 equal to 0.0.
  *
  * A cosine is `dot / (qn * cn)` exactly as [[graft.functions.VectorOps.cosine]]
  * evaluates it over `vec_dot` and `norm`: the dot product accumulates
  * left to right in doubles; a length mismatch or an invalid vector gives
  * null; a zero divisor gives null in both ANSI modes. */
private[operators] object CosineKernel {

  /** Top-k neighbours in `c` of every group of rows of `q` (each group one
    * id, at most `maxGroup` rows), ranked 1..k per group, as rows
    * (vec_id, rank, nn_id, cosine). */
  def topK(q: VectorBlock, groups: Iterator[Array[Int]], maxGroup: Int, c: VectorBlock,
      k: Int): Iterator[InternalRow] = {
    val top = new TopK(math.min(k.toLong, c.size.toLong * maxGroup).toInt, c)
    val row = new GenericInternalRow(4)
    groups.flatMap { g =>
      top.n = 0
      g.foreach(top.score(q, _))
      val qid = q.ids(g(0))
      Iterator.range(0, top.n).map { r =>
        row.setLong(0, qid)
        row.setInt(1, r + 1)
        row.setLong(2, c.ids(top.best(r)))
        if (top.nulls(r)) row.setNullAt(3) else row.setDouble(3, top.sims(r))
        row
      }
    }
  }

  /** The best `m` rows of `c` for one query group at a time: slots 0
    * until n, best first. */
  private final class TopK(m: Int, c: VectorBlock) {
    val best = new Array[Int](m)
    val sims = new Array[Double](m)
    val nulls = new Array[Boolean](m)
    var n = 0

    def score(q: VectorBlock, qi: Int): Unit = {
      val qid = q.ids(qi)
      val ql = q.lens(qi)
      val qo = q.offs(qi)
      val qn = q.norms(qi)
      val qm = q.mat
      val cm = c.mat
      val lens = c.lens
      val offs = c.offs
      var j = 0
      while (j < c.size) {
        if (ql >= 0 && j + 3 < c.size &&
            lens(j) == ql && lens(j + 1) == ql && lens(j + 2) == ql && lens(j + 3) == ql) {
          // four rows per pass, four independent sums: each still runs left
          // to right over its own pair, so the result is the one-row loop's
          val o0 = offs(j)
          val o1 = offs(j + 1)
          val o2 = offs(j + 2)
          val o3 = offs(j + 3)
          var s0 = 0.0
          var s1 = 0.0
          var s2 = 0.0
          var s3 = 0.0
          var i = 0
          while (i < ql) {
            val x = qm(qo + i)
            s0 += x * cm(o0 + i); s1 += x * cm(o1 + i)
            s2 += x * cm(o2 + i); s3 += x * cm(o3 + i)
            i += 1
          }
          offer(qid, qn, j, s0); offer(qid, qn, j + 1, s1)
          offer(qid, qn, j + 2, s2); offer(qid, qn, j + 3, s3)
          j += 4
        } else {
          if (ql >= 0 && lens(j) == ql) {
            val o = offs(j)
            var s = 0.0
            var i = 0
            while (i < ql) { s += qm(qo + i) * cm(o + i); i += 1 }
            offer(qid, qn, j, s)
          } else if (c.ids(j) != qid) insert(j, 0.0, nul = true)
          j += 1
        }
      }
    }

    /** Row j's dot product with the query, divided as `VectorOps.cosine`. */
    private def offer(qid: Long, qn: Double, j: Int, dot: Double): Unit =
      if (c.ids(j) != qid) {
        val den = qn * c.norms(j)
        if (den != 0.0) insert(j, dot / den, nul = false)
        else insert(j, 0.0, nul = true)
      }

    private def insert(j: Int, sim: Double, nul: Boolean): Unit = {
      val id = c.ids(j)
      if (n < m || better(sim, nul, id, sims(m - 1), nulls(m - 1), c.ids(best(m - 1)))) {
        var p = if (n < m) { n += 1; n - 1 } else m - 1
        while (p > 0 && better(sim, nul, id, sims(p - 1), nulls(p - 1), c.ids(best(p - 1)))) {
          best(p) = best(p - 1); sims(p) = sims(p - 1); nulls(p) = nulls(p - 1)
          p -= 1
        }
        best(p) = j; sims(p) = sim; nulls(p) = nul
      }
    }
  }

  /** Strictly ahead in (cosine DESC NULLS LAST, id ASC), comparing doubles
    * as Spark's sort does (`SQLOrderingUtil.compareDoubles`). */
  private def better(s: Double, nul: Boolean, id: Long,
      s2: Double, nul2: Boolean, id2: Long): Boolean =
    if (nul != nul2) nul2
    else {
      val c = if (nul || s == s2) 0 else java.lang.Double.compare(s, s2)
      c > 0 || (c == 0 && id < id2)
    }
}

/** Exact cosine top-k of a streamed side against a broadcast side, both
  * (id: long, vector: array<double>). `queriesStreamed` says which side
  * holds the queries. With `selfSearch` (queries and corpus are the same
  * rows) the ranks are final; otherwise each task's are per query row and
  * per partition, and the caller merges them per query id. */
private[graft] case class CosineTopK(k: Int, queriesStreamed: Boolean,
    selfSearch: Boolean, output: Seq[Attribute], left: LogicalPlan, right: LogicalPlan)
    extends BinaryNode {
  // reads every column of both sides: column pruning keeps them
  override def references: AttributeSet = left.outputSet ++ right.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override def simpleString(maxFields: Int): String =
    CosineTopK.describe(nodeName, k, queriesStreamed, selfSearch)
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): CosineTopK =
    copy(left = l, right = r)
}

private[graft] object CosineTopK {
  def apply(k: Int, queriesStreamed: Boolean, selfSearch: Boolean,
      streamed: LogicalPlan, broadcast: LogicalPlan): CosineTopK =
    CosineTopK(k, queriesStreamed, selfSearch, Seq(
      AttributeReference("vec_id", LongType, nullable = false)(),
      AttributeReference("rank", IntegerType, nullable = false)(),
      AttributeReference("nn_id", LongType, nullable = false)(),
      AttributeReference("cosine", DoubleType)()), streamed, broadcast)

  def describe(node: String, k: Int, queriesStreamed: Boolean, selfSearch: Boolean): String =
    s"$node k=$k, ${if (queriesStreamed) "queries" else "corpus"} streamed" +
      (if (selfSearch) ", self-search" else "")
}

/** Physical [[CosineTopK]]: the broadcast side is delivered by Spark's own
  * broadcast exchange (collected when the query runs, released as Spark
  * releases its broadcast relations) and packed into a [[VectorBlock]]
  * once per task; the streamed side is scored partition by partition.
  *
  * A self-search skips the query rows whose id more than one row holds;
  * partition 0 ranks those ids once each, over the candidates of all of
  * their rows (every such row is also a corpus row), as the pair-window
  * form ranks per id. */
private[graft] case class CosineTopKExec(k: Int, queriesStreamed: Boolean,
    selfSearch: Boolean, output: Seq[Attribute], left: SparkPlan, right: SparkPlan)
    extends BinaryExecNode {
  override def references: AttributeSet = left.outputSet ++ right.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(output)

  override def simpleString(maxFields: Int): String =
    CosineTopK.describe(nodeName, k, queriesStreamed, selfSearch)

  override def requiredChildDistribution: Seq[Distribution] =
    UnspecifiedDistribution :: BroadcastDistribution(IdentityBroadcastMode) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val bc = right.executeBroadcast[Array[InternalRow]]()
    val (k, queriesStreamed, selfSearch) = (this.k, this.queriesStreamed, this.selfSearch)
    val types = output.map(_.dataType).toArray
    Bridge.mapPartitionsWithIndexInternal(left.execute(), (part: Int, rows: Iterator[InternalRow]) => {
      val b = VectorBlock.of(bc.value.iterator)
      val scored =
        if (!queriesStreamed) {
          val c = VectorBlock.of(rows)
          CosineKernel.topK(b, Iterator.range(0, b.size).map(Array(_)), 1, c, k)
        } else {
          val dups = if (selfSearch) b.duplicateGroups else Nil
          val skip = dups.map(g => b.ids(g(0))).toSet
          val chunks = Iterator.continually(rows).takeWhile(_.hasNext)
            .map(VectorBlock.of(_, VectorBlock.ChunkRows))
          val own = chunks.flatMap(q => CosineKernel.topK(q,
            Iterator.range(0, q.size).filterNot(i => skip(q.ids(i))).map(Array(_)), 1, b, k))
          if (part == 0 && dups.nonEmpty)
            own ++ CosineKernel.topK(b, dups.iterator, dups.map(_.length).max, b, k)
          else own
        }
      val proj = UnsafeProjection.create(types)
      scored.map(proj)
    })
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): CosineTopKExec =
    copy(left = l, right = r)
}

/** Plans [[CosineTopK]] (registered by `graft.functions.GraftExtensions`). */
private[graft] object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CosineTopK(k, qs, self, out, l, r) =>
      CosineTopKExec(k, qs, self, out, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}
