package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Single-thread throughput of every native expression in
  * `graft.functions`, evaluated row by row (`Expression.eval`, the path
  * that calls each kernel's `compute`) over rows taken from the workload's
  * own documents and embeddings.
  */
object Kernels {

  /** One kernel: its expression over bound input columns, and the rows. */
  private final case class Kernel(name: String, expr: Expression, rows: Array[InternalRow])

  private def strings(xs: Seq[String]): ArrayData =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])

  private def floats(xs: Array[Float]): ArrayData =
    ArrayData.toArrayData(xs)

  private val tokensType = ArrayType(StringType, containsNull = false)
  private val vecType = ArrayType(FloatType, containsNull = false)

  private def kernels(texts: Seq[String], vectors: Seq[Array[Float]]): Seq[Kernel] = {
    val toks = texts.map(_.toLowerCase.trim.split("\\s+").toSeq)
    val tokRows = toks.map(t => InternalRow(strings(t))).toArray
    val sortedRows = toks.map(t => InternalRow(strings(t.sorted))).toArray
    val vecs = vectors.map(floats)
    val tok = BoundReference(0, tokensType, nullable = true)
    val vec = BoundReference(0, vecType, nullable = true)
    val nBuckets = 256
    val bigrams = HashedBigramBuckets(tok, nBuckets)
    val buckets = tokRows.map(r => InternalRow(bigrams.eval(r)))
    val weights = Array.tabulate(nBuckets + 1)(i => (i * 7919L) % 2000L - 1000L)
    val centroids = new GenericArrayData(vecs.take(16).zipWithIndex.map {
      case (c, i) => InternalRow(i.toLong, c)
    }.toArray[Any])
    val centType = ArrayType(StructType(Seq(
      StructField("cid", LongType), StructField("centroid", vecType))))
    val pairs = vecs.indices.map(i => InternalRow(vecs(i), vecs((i + 1) % vecs.size))).toArray
    val markers = graft.extensions.TextOps.langMarkers.toSeq.sortBy(_._1).map(_._2)
    Seq(
      Kernel("ArgMaxCosine", ArgMaxCosine(vec, BoundReference(1, centType, nullable = true)),
        vecs.map(v => InternalRow(v, centroids)).toArray),
      Kernel("CosineSimilarity", CosineSimilarity(vec, BoundReference(1, vecType, nullable = true)),
        pairs),
      Kernel("DotWeights", DotWeights(
        BoundReference(0, ArrayType(IntegerType, containsNull = false), nullable = true), weights),
        buckets),
      Kernel("HashedBigramBuckets", bigrams, tokRows),
      Kernel("HyperplaneSignature", HyperplaneSignature(vec, 0, 16),
        vecs.map(v => InternalRow(v)).toArray),
      Kernel("MarkerHits", MarkerHits(tok, markers), tokRows),
      Kernel("MaxRunLength", MaxRunLength(tok), sortedRows),
      Kernel("MinHashSignature", MinHashSignature(tok, 64), tokRows),
      Kernel("SimHashLong", SimHashLong(tok, 32), tokRows),
      Kernel("TokenBucketCounts", TokenBucketCounts(tok), tokRows),
      Kernel("TrigramBuckets", TrigramBuckets(BoundReference(0, StringType, nullable = true), 1024),
        texts.map(t => InternalRow(UTF8String.fromString(t))).toArray),
      Kernel("WinnowMins", WinnowMins(tok, 4), tokRows))
  }

  /** rows/s per kernel; each kernel is evaluated over its rows, round after
    * round, for `secondsEach`, after one untimed warm-up round. */
  def measure(texts: Seq[String], vectors: Seq[Array[Float]],
      secondsEach: Double): Seq[(String, Double)] =
    kernels(texts, vectors).map { k =>
      k.rows.foreach(k.expr.eval)
      var rows = 0L
      val t0 = System.nanoTime()
      val until = t0 + (secondsEach * 1e9).toLong
      var now = t0
      while (now < until) {
        k.rows.foreach(k.expr.eval)
        rows += k.rows.length
        now = System.nanoTime()
      }
      k.name -> rows / ((now - t0) / 1e9)
    }
}
