package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{HfTokenizer, SafeTensors, TensorFileEmbedder}

/** The encoder-stack kernel computes only the CLS row in its last layer;
  * this spec holds it to a naive forward that computes every position in
  * every layer, bit for bit, across depths, head splits, sequences
  * longer than the position table, empty text and every tokenizer tier. */
class EncoderParitySpec extends AnyFunSuite {

  /** All-positions forward over [cls] ++ rows, in the kernel's
    * arithmetic order, then the kernel's L2 normalization. */
  private def naiveEmbed(t: Map[String, SafeTensors.Tensor], cls: Int,
      rows: Array[Int]): Array[Float] = {
    val emb = t("embeddings.word_embeddings.weight")
    val d = emb.shape(1)
    val heads = t("config.num_attention_heads").data(0).toInt
    val dh = d / heads
    def row(r: Int) = Array.tabulate(d)(j => emb.data(r * d + j).toDouble)
    def ln(x: Array[Double], w: SafeTensors.Tensor,
        b: SafeTensors.Tensor): Unit = {
      var mean = 0.0
      for (j <- 0 until d) mean += x(j)
      mean /= d
      var varSum = 0.0
      for (j <- 0 until d) { val e = x(j) - mean; varSum += e * e }
      val inv = 1.0 / math.sqrt(varSum / d + 1e-12)
      for (j <- 0 until d) x(j) = (x(j) - mean) * inv * w.data(j) + b.data(j)
    }
    def affine(m: SafeTensors.Tensor, b: SafeTensors.Tensor,
        x: Array[Double]): Array[Double] = {
      val Array(rs, cs) = m.shape
      Array.tabulate(rs) { o =>
        var acc = b.data(o).toDouble
        for (j <- 0 until cs) acc += m.data(o * cs + j) * x(j)
        acc
      }
    }
    def gelu(x: Double) = 0.5 * x * (1.0 + math.tanh(0.7978845608028654 *
      (x + 0.044715 * x * x * x)))
    var h = (cls +: rows.toSeq).map(row).toArray
    val n = h.length
    val pe = t("embeddings.position_embeddings.weight")
    for (i <- 0 until math.min(n, pe.shape(0)); j <- 0 until d)
      h(i)(j) += pe.data(i * d + j)
    h.foreach(ln(_, t("embeddings.LayerNorm.weight"),
      t("embeddings.LayerNorm.bias")))
    val layers = t.keys.count(_.endsWith(".attention.self.query.weight"))
    for (l <- 0 until layers) {
      def g(s: String) = t(s"encoder.layer.$l.$s")
      val q = h.map(affine(g("attention.self.query.weight"),
        g("attention.self.query.bias"), _))
      val k = h.map(affine(g("attention.self.key.weight"),
        g("attention.self.key.bias"), _))
      val v = h.map(affine(g("attention.self.value.weight"),
        g("attention.self.value.bias"), _))
      h = Array.tabulate(n) { i =>
        val ctx = new Array[Double](d)
        for (hd <- 0 until heads) {
          val off = hd * dh
          val scores = Array.tabulate(n) { j =>
            var dot = 0.0
            for (c <- 0 until dh) dot += q(i)(off + c) * k(j)(off + c)
            dot * (1.0 / math.sqrt(dh.toDouble))
          }
          val maxS = scores.max
          var z = 0.0
          for (j <- 0 until n) {
            scores(j) = math.exp(scores(j) - maxS); z += scores(j)
          }
          for (j <- 0 until n; c <- 0 until dh)
            ctx(off + c) += scores(j) / z * v(j)(off + c)
        }
        val o = affine(g("attention.output.dense.weight"),
          g("attention.output.dense.bias"), ctx)
        for (j <- 0 until d) o(j) += h(i)(j)
        ln(o, g("attention.output.LayerNorm.weight"),
          g("attention.output.LayerNorm.bias"))
        val f = affine(g("output.dense.weight"), g("output.dense.bias"),
          affine(g("intermediate.dense.weight"), g("intermediate.dense.bias"),
            o).map(gelu))
        for (j <- 0 until d) f(j) += o(j)
        ln(f, g("output.LayerNorm.weight"), g("output.LayerNorm.bias"))
        f
      }
    }
    val y = h(0)
    val norm = math.sqrt(y.map(x => x * x).sum)
    if (norm == 0.0) { val e = new Array[Float](d); e(0) = 1.0f; e }
    else y.map(x => (x / norm).toFloat)
  }

  private val texts = Seq(
    "",
    "spark catalyst engine",
    "running unaffable banana bandana",
    // 40 words: longer than the 8-row position table below
    Seq.tabulate(40)(i => s"w${i % 7}x banana").mkString(" "),
    // beyond MaxSeq tokens: the cap truncates both forwards alike
    Seq.tabulate(TensorFileEmbedder.MaxSeq + 20)(i => s"t$i").mkString(" "))

  private val wordPiece =
    """{
      |  "normalizer": {"type": "BertNormalizer", "lowercase": true},
      |  "pre_tokenizer": {"type": "BertPreTokenizer"},
      |  "model": {
      |    "type": "WordPiece",
      |    "unk_token": "[UNK]",
      |    "continuing_subword_prefix": "##",
      |    "vocab": {"un":0,"##aff":1,"##able":2,"[UNK]":3,"[CLS]":4,
      |              "runn":5,"##ing":6,"spark":7,"banana":8}
      |  }
      |}""".stripMargin

  /** Tokenizer tiers: (name, subword, CLS row). */
  private val tiers: Seq[(String, Option[TensorFileEmbedder.Subword], Int)] = {
    val hf = HfTokenizer.parse(wordPiece)
    val bpe = TensorFileEmbedder.BpeSubword(graft.operators.Bpe.Model(
      Seq(("a", "n"), ("b", "an"), ("an", "a")),
      Seq("a", "b", "d", "n")))
    Seq(("checkpoint tokenizer.json", Some(hf), hf.clsRow.get),
      ("graft BPE", Some(bpe), 0), ("hashed words", None, 0))
  }

  for (layers <- 1 to 3; heads <- Seq(1, 2, 4)) {
    test(s"CLS-only last layer is bit-identical to the all-positions " +
        s"forward: $layers layer(s), $heads head(s), every tokenizer tier") {
      val dir = Files.createTempDirectory("encparity").toString
      val path = s"$dir/stack.safetensors"
      TensorFileEmbedder.writeTinyStackModel(path, vocab = 61, dModel = 16,
        layers = layers, heads = heads, dff = 24, maxPos = 8,
        seed = 31L * layers + heads)
      val tensors = SafeTensors.load(path)
      for ((tier, subword, cls) <- tiers) {
        val m = TensorFileEmbedder.loadWith(path, subword)
        for (text <- texts) {
          val got = m.embed(text)
          val want = naiveEmbed(tensors, cls, m.tokenRows(text))
          assert(java.util.Arrays.equals(got, want),
            s"$tier, ${text.length}-char text: kernel and naive forward " +
              "differ")
        }
      }
    }
  }
}
