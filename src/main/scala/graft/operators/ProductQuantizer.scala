package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization for embedding columns (ANN memory tier beyond
  * IVF): split each d-dim vector into `m` subvectors, learn a k-entry
  * codebook per subspace, store each vector as `m` one-byte codes —
  * d=64 float32 (256 B) compresses to 8 B at m=8, a 32x reduction.
  * At 100 TB of embeddings, PQ is what makes the candidate set fit in
  * executor memory; scoring is asymmetric distance computation (ADC):
  * the query stays full-precision and each code contributes a
  * codebook dot product.
  *
  * Training is deterministic: stride-sampled rows, fixed Lloyd
  * iterations per subspace, ties to the lowest centroid id. The
  * codebook is tiny (m*k*subDim floats) and ships in task closures;
  * encode and score are row-local UDFs — zero shuffles beyond the
  * final top-k. */
object ProductQuantizer {

  /** codebooks(sub)(code) = centroid subvector. */
  case class PqModel(m: Int, k: Int, subDim: Int,
      codebooks: Array[Array[Array[Float]]]) extends Serializable

  private def sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1
    }
    acc
  }

  /** Deterministic per-subspace Lloyd on a stride sample (collected to
    * the driver — the sample is bounded by `maxSample`, the model is
    * KB-sized; the corpus itself is never collected). */
  def train(corpus: DataFrame, vecCol: String, m: Int, k: Int,
      sampleStride: Int, iters: Int = 5, idCol: String = "vec_id",
      maxSample: Int = 10000): PqModel = {
    // orderBy before limit: a bare limit takes rows from whichever
    // partitions finish first, so codebooks would vary run-to-run. The
    // stride filter keeps the sort input small (ADVICE r2).
    val sample = corpus
      .where(pmod(col(idCol), lit(sampleStride)) === 0)
      .select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(maxSample)
      .collect().map(_.getSeq[Float](1).toArray)
    require(sample.nonEmpty, "empty training sample")
    val d = sample.head.length
    require(d % m == 0, s"m=$m must divide dim=$d")
    val subDim = d / m
    val codebooks = Array.tabulate(m) { s =>
      val subs = sample.map(_.slice(s * subDim, (s + 1) * subDim))
      // init: evenly strided distinct sample rows
      var cents = Array.tabulate(math.min(k, subs.length))(i =>
        subs(i * subs.length / math.min(k, subs.length)).clone())
      (0 until iters).foreach { _ =>
        val sums = Array.fill(cents.length)(new Array[Double](subDim))
        val counts = new Array[Int](cents.length)
        subs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < cents.length) {
            val dd = sq(v, cents(c))
            if (dd < bestD) { bestD = dd; best = c }
            c += 1
          }
          counts(best) += 1
          var j = 0
          while (j < subDim) { sums(best)(j) += v(j); j += 1 }
        }
        cents = cents.zipWithIndex.map { case (old, c) =>
          if (counts(c) == 0) old
          else Array.tabulate(subDim)(j =>
            (sums(c)(j) / counts(c)).toFloat)
        }
      }
      cents
    }
    PqModel(m, codebooks.head.length, subDim, codebooks)
  }

  /** Encode vectors to m-byte codes (nearest centroid per subspace,
    * lowest id on ties). */
  def encode(model: PqModel)(vecCol: Column): Column = {
    val enc = udf { (vec: Seq[Float]) =>
      val v = vec.toArray
      Array.tabulate(model.m) { s =>
        val sub = v.slice(s * model.subDim, (s + 1) * model.subDim)
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < model.codebooks(s).length) {
          val dd = sq(sub, model.codebooks(s)(c))
          if (dd < bestD) { bestD = dd; best = c }
          c += 1
        }
        best.toByte
      }
    }
    enc(vecCol)
  }

  /** ADC approximate dot product of a full-precision query against a
    * coded vector: sum over subspaces of dot(q_sub, codebook[code]).
    * For L2-normalized corpora this approximates cosine. */
  def adcScore(model: PqModel)(codes: Column, qVec: Column): Column = {
    val score = udf { (code: Array[Byte], q: Seq[Float]) =>
      var acc = 0.0; var s = 0
      while (s < model.m) {
        val cb = model.codebooks(s)(code(s) & 0xff)
        var j = 0
        while (j < model.subDim) {
          acc += q(s * model.subDim + j).toDouble * cb(j).toDouble
          j += 1
        }
        s += 1
      }
      acc
    }
    score(codes, qVec)
  }

  /** PQ top-k: encode the corpus once (typically persisted), broadcast
    * the query set, rank by ADC score. Same plan shape as brute force
    * but the corpus side carries m bytes per row instead of the full
    * vector. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, model: PqModel,
      k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val coded = corpus.select(col(idCol).as("c_id"),
      encode(model)(col(vecCol)).as("codes"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    Similarity.rankNeighbors(coded.crossJoin(broadcast(q)),
      adcScore(model)(col("codes"), col("q_vec")), k)
  }
}
