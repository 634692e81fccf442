package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** The bounded sorted buffer (SURVEY.md §7.3 milestone 6): the k
  * smallest values per group under `ord`, kept sorted and merged
  * associatively — the scalable form of the reference's driver-side
  * `Counter.most_common(k)` idiom (docs.rst:57-58). Memory per group is
  * O(k) on every executor and the partial buffers combine map-side, so
  * a group with a billion rows still costs k entries, where
  * collect_list + sort materializes the whole group and a row_number
  * window sorts it in one task.
  *
  * `distinct` drops a value equal (under `ord`) to one already kept:
  * the KMV estimator (Bar-Yossef et al. '02) is defined over the
  * distinct key set, so duplicates die in the partial buffers instead
  * of in a corpus-sized `distinct()` shuffle. Otherwise a new value
  * goes before the kept values it ties with.
  *
  * Encoders are taken implicitly (product-seq ExpressionEncoders from
  * `spark.implicits`), keeping the buffer columnar-serializable rather
  * than kryo blobs.
  */
class BottomK[IN, T](k: Int, extract: IN => T, distinct: Boolean)(
    implicit ord: Ordering[T], enc: Encoder[Seq[T]])
    extends Aggregator[IN, Seq[T], Seq[T]] {

  def this(k: Int, extract: IN => T)(implicit ord: Ordering[T], enc: Encoder[Seq[T]]) =
    this(k, extract, distinct = false)

  private def insert(buf: Seq[T], x: T): Seq[T] =
    if (buf.size >= k && ord.lt(buf.last, x)) buf
    else {
      val (before, after) = buf.span(ord.lt(_, x))
      if (distinct && after.nonEmpty && ord.equiv(after.head, x)) buf
      else (before ++ (x +: after)).take(k)
    }

  def zero: Seq[T] = Vector.empty
  def reduce(buf: Seq[T], x: IN): Seq[T] = insert(buf, extract(x))
  def merge(a: Seq[T], b: Seq[T]): Seq[T] = b.foldLeft(a)(insert)
  def finish(buf: Seq[T]): Seq[T] = buf

  def bufferEncoder: Encoder[Seq[T]] = enc
  def outputEncoder: Encoder[Seq[T]] = enc
}

/** The typed KMV sketch: [[BottomK]] over distinct long keys. The
  * native [[KmvSketchAgg]] replaces it on every query path; it stays
  * as the reference that aggregate is checked against, and as the
  * sketch's set-algebra law in the small: merge(sketch(A), sketch(B))
  * == sketch(A union B).
  */
class BottomKDistinct[IN](k: Int, extract: IN => Long)(implicit enc: Encoder[Seq[Long]])
    extends BottomK[IN, Long](k, extract, distinct = true)
