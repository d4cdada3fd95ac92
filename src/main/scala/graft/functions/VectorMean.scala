package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF surface (SURVEY C9): element-wise mean of float-vector
  * columns via Aggregator[IN, BUF, OUT] — the centroid primitive behind
  * embedding clustering / dedup-by-centroid pipelines. Partial buffers
  * merge associatively, so Spark runs it partial→final like any built-in
  * aggregate.
  */
object VectorMean extends Aggregator[Seq[Float], (Array[Double], Long), Seq[Double]] {

  override def zero: (Array[Double], Long) = (Array.empty[Double], 0L)

  override def reduce(b: (Array[Double], Long), v: Seq[Float]): (Array[Double], Long) = {
    if (v == null) return b
    val acc = if (b._1.isEmpty) new Array[Double](v.length) else b._1
    var i = 0
    while (i < v.length) { acc(i) += v(i); i += 1 }
    (acc, b._2 + 1)
  }

  override def merge(a: (Array[Double], Long), b: (Array[Double], Long)): (Array[Double], Long) = {
    if (a._1.isEmpty) return b
    if (b._1.isEmpty) return a
    val out = a._1.clone()
    var i = 0
    while (i < out.length) { out(i) += b._1(i); i += 1 }
    (out, a._2 + b._2)
  }

  override def finish(r: (Array[Double], Long)): Seq[Double] =
    if (r._2 == 0) Seq.empty else r._1.map(_ / r._2).toSeq

  override def bufferEncoder: Encoder[(Array[Double], Long)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Array[Double], Long)]()

  override def outputEncoder: Encoder[Seq[Double]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
}
