package graft.functions

import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Member row for a top-K cap that carries a payload: a long sort id
  * plus the columns that must survive the cap (PQ codes, here), ordered
  * by id alone. */
case class IdCodes(id: Long, codes: Seq[Int])

object IdCodes {
  implicit val byId: Ordering[IdCodes] = Ordering.by(_.id)
}

/** Typed UDAF: bounded per-group TOP-K (the K smallest under `T`'s
  * ordering) — the sixth mergeable aggregate in the sketch family, and
  * the skew-safe upgrade of the window-rank idiom.
  *
  * `row_number() OVER (PARTITION BY g ORDER BY k) <= K` materializes
  * and sorts EVERY row of a group in one task — a supernode domain
  * (half the corpus from one crawl host), a hot LSH bucket (all
  * near-identical docs share band keys) or a hot IVF cell serializes
  * into a single straggler, and AQE cannot split window partitions.
  * This aggregate keeps at most K keys per partial state: map-side
  * combine caps every partition's contribution at K before the
  * exchange, the shuffle carries ≤ K keys per (group, partition), and
  * merge is a truncated sorted-array merge — O(K) memory always, no
  * per-group sort of the full data anywhere. Deterministic for
  * distinct keys under any partitioning (same set of K smallest, same
  * order), so the windowed formulation IS the oracle twin.
  *
  * Keys in use: strings (callers encode compound sort keys into one
  * lexicographically-faithful string, e.g. `md5hex:zero-padded-id`,
  * which DuckDB sorts the same way), long ids (the band-bucket and cell
  * caps, [[graft.operators.Dedup.capped]]), and [[IdCodes]], whose
  * payload rides through the cap instead of being joined back
  * afterwards (the IVF-PQ inverted-list cap: the join-back re-evaluated
  * the encode branch and added an exchange).
  */
class TopKAgg[T: Ordering: ClassTag: TypeTag](kCap: Int)
    extends Aggregator[T, Array[T], Seq[T]] {

  private val ord = implicitly[Ordering[T]]

  override def zero: Array[T] = Array.empty[T]

  override def reduce(buf: Array[T], key: T): Array[T] = {
    if (buf.length == kCap && ord.gteq(key, buf(buf.length - 1))) buf
    else {
      var (lo, hi) = (0, buf.length)
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.lt(buf(mid), key)) lo = mid + 1 else hi = mid
      }
      val n = math.min(buf.length + 1, kCap)
      val out = new Array[T](n)
      System.arraycopy(buf, 0, out, 0, lo)
      out(lo) = key
      System.arraycopy(buf, lo, out, lo + 1, n - lo - 1)
      out
    }
  }

  override def merge(a: Array[T], b: Array[T]): Array[T] = {
    val n = math.min(a.length + b.length, kCap)
    val out = new Array[T](n)
    var (i, j, o) = (0, 0, 0)
    while (o < n) {
      out(o) =
        if (j >= b.length || (i < a.length && ord.lteq(a(i), b(j)))) {
          i += 1; a(i - 1)
        } else { j += 1; b(j - 1) }
      o += 1
    }
    out
  }

  override def finish(r: Array[T]): Seq[T] = r.toSeq

  override val bufferEncoder: Encoder[Array[T]] = ExpressionEncoder[Array[T]]()
  override val outputEncoder: Encoder[Seq[T]] = ExpressionEncoder[Seq[T]]()
}
