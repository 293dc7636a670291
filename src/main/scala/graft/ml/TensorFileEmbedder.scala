package graft.ml

import scala.util.hashing.MurmurHash3

/** Weights-file-backed embedding inference — the REAL half of the M2 seam
  * (reference: embedding_model_helpers.py:34-65 loads
  * granite-embedding-107m and runs CLS pooling + L2-norm; :125-163 caches
  * the loaded model per process). No ONNX/DJL runtime exists in this
  * environment, so the backend is framework-free: it loads real weights
  * from a safetensors file and runs the inference arithmetic itself —
  * embedding-matrix row lookup, ONE real self-attention block (Q/K/V
  * matmuls, scaled-dot-product softmax, residual), CLS pooling, a dense
  * projection (y = Wx + b), tanh, L2 normalization. Change a weight byte
  * in ANY tensor — including the attention projections — and the output
  * moves (MlSpec pins this).
  *
  * Attention, concretely (single head, CLS-pooled, so only the CLS row
  * of the attention output is ever needed):
  *   x_0 = CLS   (embedding row 0, reserved — BERT's [CLS] convention)
  *   x_j = token embeddings, j = 1..n  (n capped at MaxSeq)
  *   q = Wq x_0 ;  k_j = Wk x_j ;  v_j = Wv x_j
  *   a_j = softmax_j( q . k_j / sqrt(dModel) )
  *   ctx = x_0 + sum_j a_j v_j        (residual)
  * Cost is O(seq x dModel^2) per row, bounded by MaxSeq — row-local,
  * no shuffle, executes inside the same `Pipeline.vectorize` call that
  * runs the stub.
  *
  * THREE architectures, discovered from the file's tensor names:
  *
  *  1. `encoder.layer.{i}.*` present => a FULL stacked transformer
  *     encoder in the HF BERT/granite layout: word + position
  *     embeddings with embedding LayerNorm, N layers of multi-head
  *     self-attention (Q/K/V + output projection, biases) -> residual
  *     -> LayerNorm -> GELU FFN -> residual -> LayerNorm, then the CLS
  *     hidden state L2-normalized with NO pooler head — exactly the
  *     reference's `model_output[0][:, 0]` contract
  *     (embedding_model_helpers.py:56-62). Head count from the
  *     `config.num_attention_heads` scalar (else dModel/64). An
  *     exported real checkpoint in this naming runs AS IS.
  *  2. flat `attention.{query,key,value}.weight` => the single-block
  *     CLS-query form (kept for files written by earlier releases).
  *  3. neither => legacy masked-mean-pool + tanh pooler head.
  *
  * TOKENIZATION is three-tier, mirroring the reference's weights-file +
  * tokenizer-file artifact pair (embedding_model_helpers.py:34-65 loads
  * both through AutoTokenizer/AutoModel):
  *  - a `tokenizer.json` in the weights directory (the public HF
  *    `tokenizers` serialization, [[HfTokenizer]]: byte-level BPE,
  *    WordPiece, or Unigram/sentencepiece — the last being what the
  *    reference's granite-embedding-107m-multilingual actually ships)
  *    => the CHECKPOINT's ids drive the embedding rows
  *    identity-mapped, and pooling happens at the checkpoint's own
  *    [CLS]/&lt;s&gt; row — token-id-compatible with real
  *    huggingface-downloaded checkpoints.
  *  - a `<weights>.bpe` sibling artifact (graft's in-engine trained BPE,
  *    [[graft.operators.Bpe]]) => REAL subword tokenization: \s+ word
  *    split, greedy rank-order merges, then the model's deterministic
  *    token->id table maps each subword piece to its embedding row
  *    shifted past the reserved CLS row 0. Pieces outside the table
  *    (unseen code points) hash into the vocab so no input is
  *    droppable — the same no-OOV-loss contract as Bpe.encode.
  *  - no tokenizer artifact => the legacy hashed-WORD mapping below
  *    (kept verbatim: corpora vectorized by earlier releases re-embed
  *    byte-identically).
  * Residual honest boundary: sentencepiece Precompiled-normalizer
  * charsmaps are not replayed (see [[HfTokenizer]]), and real-number
  * parity with a GPU torch forward is bounded by the gelu_new vs erf
  * difference documented at [[gelu]].
  */
final class TensorFileEmbedder(
    embeddings: SafeTensors.Tensor,
    attention: Option[TensorFileEmbedder.Attention],
    stack: Option[TensorFileEmbedder.Stack],
    pooler: Option[(SafeTensors.Tensor, SafeTensors.Tensor)],
    subword: Option[TensorFileEmbedder.Subword] = None)
    extends Serializable {

  import TensorFileEmbedder.{MaxSeq, Stack, EncoderLayer}

  private val Array(vocab, dModel) = embeddings.shape
  require(!(attention.isDefined && stack.isDefined),
    "a file carries EITHER the single-block attention tensors or an " +
      "encoder.layer.* stack, never both")
  if (attention.isDefined || stack.isDefined) require(vocab >= 2,
    "embeddings.weight needs >= 2 rows (row 0 is the reserved CLS row)")
  require(stack.isDefined || pooler.isDefined,
    "non-stack layouts need pooler.dense.{weight,bias} (the stack " +
      "layout is CLS-pooled with no head, the granite contract)")
  require(!(stack.isDefined && pooler.isDefined),
    "an encoder.layer.* stack is CLS-pooled with NO head; a file also " +
      "carrying pooler.dense.* is malformed (outDim would contradict " +
      "the emitted vector length)")
  private val outDim =
    pooler.map(_._1.shape(0)).getOrElse(dModel)
  pooler.foreach { case (pw, pb) =>
    val Array(od, dIn) = pw.shape
    require(dIn == dModel,
      s"pooler expects input dim $dIn but embeddings emit $dModel")
    require(pb.shape.sameElements(Array(od)),
      s"bias shape ${pb.shape.mkString("x")} != [$od]")
  }
  attention.foreach { a =>
    Seq("query" -> a.wq, "key" -> a.wk, "value" -> a.wv).foreach {
      case (n, t) => require(t.shape.sameElements(Array(dModel, dModel)),
        s"attention.$n.weight shape ${t.shape.mkString("x")} != " +
          s"[$dModel, $dModel]")
    }
  }
  stack.foreach { st =>
    require(st.layers.nonEmpty, "encoder stack with zero layers")
    require(st.heads >= 1 && dModel % st.heads == 0,
      s"dModel $dModel must divide into ${st.heads} heads")
    st.posEmbeddings.foreach(pe => require(pe.shape(1) == dModel,
      s"position embedding dim ${pe.shape(1)} != $dModel"))
    st.layers.zipWithIndex.foreach { case (l, i) =>
      def sq(n: String, t: SafeTensors.Tensor): Unit =
        require(t.shape.sameElements(Array(dModel, dModel)),
          s"layer $i $n shape ${t.shape.mkString("x")} != [$dModel,$dModel]")
      def vec(n: String, t: SafeTensors.Tensor, len: Int): Unit =
        require(t.shape.sameElements(Array(len)),
          s"layer $i $n shape ${t.shape.mkString("x")} != [$len]")
      sq("query", l.wq); sq("key", l.wk); sq("value", l.wv)
      sq("attention.output", l.attnOut)
      vec("query.bias", l.bq, dModel); vec("key.bias", l.bk, dModel)
      vec("value.bias", l.bv, dModel)
      vec("attention.output.bias", l.attnOutB, dModel)
      vec("ln1.weight", l.ln1w, dModel); vec("ln1.bias", l.ln1b, dModel)
      val Array(dff, dIn) = l.ffnIn.shape
      require(dIn == dModel,
        s"layer $i intermediate in-dim $dIn != $dModel")
      vec("intermediate.bias", l.ffnInB, dff)
      require(l.ffnOut.shape.sameElements(Array(dModel, dff)),
        s"layer $i output shape ${l.ffnOut.shape.mkString("x")} != " +
          s"[$dModel,$dff]")
      vec("output.bias", l.ffnOutB, dModel)
      vec("ln2.weight", l.ln2w, dModel); vec("ln2.bias", l.ln2b, dModel)
    }
  }

  // subword id table fits the embedding matrix. Graft-trained BPE maps
  // injectively into token-row space ([1, vocab) when row 0 is the
  // reserved CLS, [0, vocab) for legacy mean-pool files); a checkpoint
  // tokenizer (clsRow defined) uses its ids AS rows (identity — the
  // whole point of checkpoint compatibility), so its id space must fit
  // the matrix outright and its CLS row must exist.
  subword.foreach { sw =>
    val identity = sw.clsRow.isDefined
    val rows =
      if (identity) vocab
      else if (attention.isDefined || stack.isDefined) vocab - 1
      else vocab
    require(sw.tableSize <= rows,
      s"tokenizer has id space ${sw.tableSize} but the embedding " +
        s"matrix provides only $rows token rows — the tokenizer and " +
        "weights file are not from the same checkpoint")
    sw.clsRow.foreach(c => require(c >= 0 && c < vocab,
      s"tokenizer CLS id $c outside the embedding matrix [0, $vocab)"))
  }

  private val NonWord = java.util.regex.Pattern.compile("\\W+")

  /** Token embedding rows for `text`.
    *
    * With a subword tokenizer: BPE pieces ([[graft.operators.Bpe
    * .encodeText]]), each mapped through the model's deterministic id
    * table; pieces outside the table (unseen code points survive the
    * encode as single-char symbols) hash into the same row space so no
    * input is droppable.
    *
    * Without one, the legacy hashed-WORD mappings — DIFFERENT per
    * architecture on purpose:
    *  - attention files: row 0 is reserved for CLS, token rows land in
    *    [1, vocab), and the sequence is capped at MaxSeq (the attention
    *    block's cost is O(seq x dModel^2)).
    *  - legacy mean-pool files: the EXACT pre-attention mapping
    *    (floorMod into [0, vocab), uncapped) — a corpus vectorized with
    *    an attention-less weights file before this release re-embeds
    *    byte-identically after it; re-mapping rows under the same file
    *    would silently move every stored vector's space. */
  private[graft] def tokenRows(text: String): Array[Int] = {
    if (text == null) return Array.emptyIntArray
    val cls = attention.isDefined || stack.isDefined
    subword match {
      case Some(sw) =>
        // checkpoint tokenizer: ids ARE rows; graft BPE: shift past
        // the reserved CLS row
        val off = if (cls && sw.clsRow.isEmpty) 1 else 0
        val space = vocab - off
        val pieces = sw.encodePieces(text).iterator
        (if (cls) pieces.take(MaxSeq) else pieces).map { p =>
          sw.idOf(p) match {
            case Some(id) => off + id
            case None =>
              off + math.floorMod(MurmurHash3.stringHash(p, 7919), space)
          }
        }.toArray
      case None =>
        val toks =
          NonWord.split(text.toLowerCase).iterator.filter(_.nonEmpty)
        if (cls)
          toks.take(MaxSeq)
            .map(tok =>
              1 + math.floorMod(MurmurHash3.stringHash(tok, 7919), vocab - 1))
            .toArray
        else
          toks.map(tok =>
            math.floorMod(MurmurHash3.stringHash(tok, 7919), vocab)).toArray
    }
  }

  private def embeddingRow(row: Int): Array[Double] = {
    val out = new Array[Double](dModel)
    val base = row * dModel
    var j = 0
    while (j < dModel) { out(j) = embeddings.data(base + j); j += 1 }
    out
  }

  /** y = M x for a row-major [dModel x dModel] tensor. */
  private def matVec(m: SafeTensors.Tensor, x: Array[Double])
      : Array[Double] = {
    val out = new Array[Double](dModel)
    var o = 0
    while (o < dModel) {
      var acc = 0.0
      val base = o * dModel
      var j = 0
      while (j < dModel) { acc += m.data(base + j) * x(j); j += 1 }
      out(o) = acc
      o += 1
    }
    out
  }

  /** CLS-pooled single-head attention over [CLS] ++ tokens. */
  private def attentionPool(attn: TensorFileEmbedder.Attention,
      rows: Array[Int]): Array[Double] = {
    val cls = embeddingRow(subword.flatMap(_.clsRow).getOrElse(0))
    val q = matVec(attn.wq, cls)
    val n = rows.length
    // scaled dot-product scores over CLS itself + every token
    val keys = new Array[Array[Double]](n + 1)
    val vals = new Array[Array[Double]](n + 1)
    keys(0) = matVec(attn.wk, cls)
    vals(0) = matVec(attn.wv, cls)
    var i = 0
    while (i < n) {
      val x = embeddingRow(rows(i))
      keys(i + 1) = matVec(attn.wk, x)
      vals(i + 1) = matVec(attn.wv, x)
      i += 1
    }
    val invSqrtD = 1.0 / math.sqrt(dModel.toDouble)
    val scores = new Array[Double](n + 1)
    var maxS = Double.NegativeInfinity
    i = 0
    while (i <= n) {
      var dot = 0.0
      val k = keys(i)
      var j = 0
      while (j < dModel) { dot += q(j) * k(j); j += 1 }
      scores(i) = dot * invSqrtD
      if (scores(i) > maxS) maxS = scores(i)
      i += 1
    }
    // max-subtracted softmax (numerically stable for any weight scale)
    var z = 0.0
    i = 0
    while (i <= n) { scores(i) = math.exp(scores(i) - maxS); z += scores(i); i += 1 }
    val ctx = cls.clone() // residual: x_0 + sum_j a_j v_j
    i = 0
    while (i <= n) {
      val a = scores(i) / z
      val v = vals(i)
      var j = 0
      while (j < dModel) { ctx(j) += a * v(j); j += 1 }
      i += 1
    }
    ctx
  }

  /** Legacy pooling for files without attention tensors: masked mean of
    * the token embedding rows. */
  private def meanPool(rows: Array[Int]): Array[Double] = {
    val pooled = new Array[Double](dModel)
    rows.foreach { row =>
      val base = row * dModel
      var j = 0
      while (j < dModel) { pooled(j) += embeddings.data(base + j); j += 1 }
    }
    if (rows.nonEmpty) {
      var j = 0
      while (j < dModel) { pooled(j) /= rows.length; j += 1 }
    }
    pooled
  }

  // ---- full encoder stack (granite/BERT layout) ----

  /** LayerNorm with BERT's eps, in place over `x`. */
  private def layerNorm(x: Array[Double], w: SafeTensors.Tensor,
      b: SafeTensors.Tensor): Unit = {
    var mean = 0.0
    var j = 0
    while (j < dModel) { mean += x(j); j += 1 }
    mean /= dModel
    var varSum = 0.0
    j = 0
    while (j < dModel) {
      val d = x(j) - mean; varSum += d * d; j += 1
    }
    val inv = 1.0 / math.sqrt(varSum / dModel + 1e-12)
    j = 0
    while (j < dModel) {
      x(j) = (x(j) - mean) * inv * w.data(j) + b.data(j); j += 1
    }
  }

  /** BERT's gelu_new (tanh approximation — the erf form differs by
    * < 3e-4 absolute, far below the parity tests' discrimination). */
  private def gelu(x: Double): Double =
    0.5 * x * (1.0 + math.tanh(0.7978845608028654 *
      (x + 0.044715 * x * x * x)))

  /** y = M x + b for a row-major [rows x cols] tensor. */
  private def affine(m: SafeTensors.Tensor, b: SafeTensors.Tensor,
      x: Array[Double], rows: Int, cols: Int): Array[Double] = {
    val out = new Array[Double](rows)
    var o = 0
    while (o < rows) {
      var acc = b.data(o).toDouble
      val base = o * cols
      var j = 0
      while (j < cols) { acc += m.data(base + j) * x(j); j += 1 }
      out(o) = acc
      o += 1
    }
    out
  }

  /** Full multi-head self-attention encoder forward over
    * [CLS] ++ tokens; returns the FINAL hidden state of the CLS
    * position (the reference's `model_output[0][:, 0]`,
    * embedding_model_helpers.py:56-57). Every position attends to every
    * position in every layer but the last: a stacked encoder needs all
    * positions' outputs as the next layer's input, while the last
    * layer's only consumer is the CLS row, so there only CLS gets a
    * query, an attention output and an FFN (every position still gets
    * a key and a value). Each computed element sums in the same order
    * as the all-positions forward, so the output is bit-identical to it.
    * Cost O(L * (n^2 d + n d^2)), n capped at MaxSeq — row-local, no
    * shuffle. */
  private def encodeCls(st: Stack, rows: Array[Int]): Array[Double] = {
    val n = rows.length + 1 // CLS + tokens
    var h: Array[Array[Double]] = new Array[Array[Double]](n)
    // CLS position: the checkpoint's own [CLS]/<s> row when a real
    // tokenizer declares one, else the reserved row 0
    h(0) = embeddingRow(subword.flatMap(_.clsRow).getOrElse(0))
    var i = 1
    while (i < n) { h(i) = embeddingRow(rows(i - 1)); i += 1 }
    // BERT embedding stage: + position embedding, then LayerNorm (both
    // optional in the file; absent = identity)
    st.posEmbeddings.foreach { pe =>
      val maxPos = pe.shape(0)
      i = 0
      while (i < n) {
        if (i < maxPos) {
          val base = i * dModel
          var j = 0
          while (j < dModel) { h(i)(j) += pe.data(base + j); j += 1 }
        }
        i += 1
      }
    }
    st.embLn.foreach { case (w, b) =>
      i = 0; while (i < n) { layerNorm(h(i), w, b); i += 1 }
    }
    val heads = st.heads
    val dh = dModel / heads
    val invSqrtDh = 1.0 / math.sqrt(dh.toDouble)
    val last = st.layers.length - 1
    st.layers.zipWithIndex.foreach { case (l, layer) =>
      // positions whose output this layer must produce: all of them as
      // the next layer's input, only CLS in the last layer (its keys
      // and values still span every position)
      val outs = if (layer == last) 1 else n
      val q = new Array[Array[Double]](outs)
      val k = new Array[Array[Double]](n)
      val v = new Array[Array[Double]](n)
      i = 0
      while (i < n) {
        if (i < outs) q(i) = affine(l.wq, l.bq, h(i), dModel, dModel)
        k(i) = affine(l.wk, l.bk, h(i), dModel, dModel)
        v(i) = affine(l.wv, l.bv, h(i), dModel, dModel)
        i += 1
      }
      val next = new Array[Array[Double]](outs)
      i = 0
      while (i < outs) {
        val ctx = new Array[Double](dModel)
        var hd = 0
        while (hd < heads) {
          val off = hd * dh
          // scores for this (position, head) over all positions
          val scores = new Array[Double](n)
          var maxS = Double.NegativeInfinity
          var j = 0
          while (j < n) {
            var dot = 0.0
            var t = 0
            while (t < dh) { dot += q(i)(off + t) * k(j)(off + t); t += 1 }
            scores(j) = dot * invSqrtDh
            if (scores(j) > maxS) maxS = scores(j)
            j += 1
          }
          var z = 0.0
          j = 0
          while (j < n) {
            scores(j) = math.exp(scores(j) - maxS); z += scores(j); j += 1
          }
          j = 0
          while (j < n) {
            val a = scores(j) / z
            var t = 0
            while (t < dh) { ctx(off + t) += a * v(j)(off + t); t += 1 }
            j += 1
          }
          hd += 1
        }
        // attention output projection + residual + LN1
        val o = affine(l.attnOut, l.attnOutB, ctx, dModel, dModel)
        var j = 0
        while (j < dModel) { o(j) += h(i)(j); j += 1 }
        layerNorm(o, l.ln1w, l.ln1b)
        // FFN + residual + LN2
        val dff = l.ffnIn.shape(0)
        val g = affine(l.ffnIn, l.ffnInB, o, dff, dModel)
        var t = 0
        while (t < dff) { g(t) = gelu(g(t)); t += 1 }
        val f = affine(l.ffnOut, l.ffnOutB, g, dModel, dff)
        j = 0
        while (j < dModel) { f(j) += o(j); j += 1 }
        layerNorm(f, l.ln2w, l.ln2b)
        next(i) = f
        i += 1
      }
      h = next
    }
    h(0)
  }

  private def l2NormF32(y: Array[Double]): Array[Float] = {
    val norm = math.sqrt(y.map(v => v * v).sum)
    if (norm == 0.0) {
      val v = new Array[Float](y.length); v(0) = 1.0f; v
    } else y.map(v => (v / norm).toFloat)
  }

  def embed(text: String): Array[Float] = stack match {
    case Some(st) =>
      // granite contract: CLS hidden state, L2-normalized, float32 —
      // NO pooler head (embedding_model_helpers.py:56-62)
      l2NormF32(encodeCls(st, tokenRows(text)))
    case None =>
      val rows = tokenRows(text)
      val pooled = attention match {
        case Some(attn) => attentionPool(attn, rows)
        case None => meanPool(rows)
      }
      val (pw, pb) = pooler.get
      // dense head: y = tanh(W * pooled + b), L2 normalize to float32
      val y = new Array[Double](outDim)
      var o = 0
      while (o < outDim) {
        var acc = pb.data(o).toDouble
        val base = o * dModel
        var j = 0
        while (j < dModel) {
          acc += pw.data(base + j) * pooled(j)
          j += 1
        }
        y(o) = math.tanh(acc)
        o += 1
      }
      l2NormF32(y)
  }
}

object TensorFileEmbedder {

  /** Attention projection tensors, each [dModel x dModel]. */
  final case class Attention(wq: SafeTensors.Tensor,
      wk: SafeTensors.Tensor, wv: SafeTensors.Tensor) extends Serializable

  /** A subword tokenizer the embedder can drive: either the in-engine
    * trained BPE ([[BpeSubword]], graft id layout) or a checkpoint's
    * own tokenizer ([[HfTokenizer]], identity id layout). `clsRow`
    * defined means "ids are checkpoint rows, pool at this row". */
  trait Subword extends Serializable {
    def encodePieces(text: String): Array[String]
    def idOf(piece: String): Option[Int]
    def tableSize: Int
    def clsRow: Option[Int] = None
  }

  /** Adapter for the graft-trained [[graft.operators.Bpe.Model]]
    * artifact (derived token->id table, reserved CLS row 0). */
  final case class BpeSubword(model: graft.operators.Bpe.Model)
      extends Subword {
    def encodePieces(text: String): Array[String] =
      graft.operators.Bpe.encodeText(text, model.ranks)
    def idOf(piece: String): Option[Int] = model.tokenIds.get(piece)
    def tableSize: Int = model.tokenIds.size
  }

  /** One full BERT-style encoder layer (HF `encoder.layer.{i}.*`
    * naming): multi-head self-attention (Q/K/V + output projection,
    * all with biases), post-attention LayerNorm, GELU FFN
    * (intermediate/output), post-FFN LayerNorm. */
  final case class EncoderLayer(
      wq: SafeTensors.Tensor, bq: SafeTensors.Tensor,
      wk: SafeTensors.Tensor, bk: SafeTensors.Tensor,
      wv: SafeTensors.Tensor, bv: SafeTensors.Tensor,
      attnOut: SafeTensors.Tensor, attnOutB: SafeTensors.Tensor,
      ln1w: SafeTensors.Tensor, ln1b: SafeTensors.Tensor,
      ffnIn: SafeTensors.Tensor, ffnInB: SafeTensors.Tensor,
      ffnOut: SafeTensors.Tensor, ffnOutB: SafeTensors.Tensor,
      ln2w: SafeTensors.Tensor, ln2b: SafeTensors.Tensor)
    extends Serializable

  /** A stacked encoder: N layers + head count + the optional BERT
    * embedding stage (position embeddings, embedding LayerNorm). */
  final case class Stack(layers: Seq[EncoderLayer], heads: Int,
      posEmbeddings: Option[SafeTensors.Tensor],
      embLn: Option[(SafeTensors.Tensor, SafeTensors.Tensor)])
    extends Serializable

  /** Sequence cap for the attention block: bounds per-row cost at
    * O(MaxSeq x dModel^2) regardless of document length (the chunker
    * already bounds slice sizes upstream; this is belt-and-braces for
    * raw text). */
  val MaxSeq = 128

  /** Load an embedder from a safetensors file. The path must be
    * executor-visible (shared FS / SparkFiles-distributed artifact in a
    * real cluster; a local path under local[*]). The attention tensors
    * are all-or-nothing: a partial set is a malformed file, not a
    * fallback.
    *
    * Tokenizer discovery, in priority order (the HF convention of
    * tokenizer files living next to the weights, so the ModelRegistry's
    * `safetensors:<path>` scheme needs no new syntax):
    *  1. `tokenizer.json` in the weights file's directory — the real
    *     checkpoint artifact ([[HfTokenizer]]): checkpoint ids drive
    *     the embedding rows directly.
    *  2. a sibling `<path>.bpe` artifact (written by
    *     [[graft.operators.Bpe.save]]) — graft's in-engine trained BPE.
    *  3. neither => legacy hashed-word tokenization. */
  def load(path: String): TensorFileEmbedder = {
    val dir = new java.io.File(path).getAbsoluteFile.getParentFile
    val hf = new java.io.File(dir, "tokenizer.json")
    if (hf.isFile)
      loadWith(path, Some(HfTokenizer.load(hf.getPath)))
    else {
      val bpe = new java.io.File(path + ".bpe")
      load(path, if (bpe.isFile) Some(bpe.getPath) else None)
    }
  }

  /** As [[load(path*]] with an explicit graft-BPE artifact path (None =
    * legacy hashed-word tokenization even if a sibling file exists). */
  def load(path: String, bpePath: Option[String]): TensorFileEmbedder =
    loadWith(path,
      bpePath.map(p => BpeSubword(graft.operators.Bpe.loadModel(p))))

  /** Load with an explicit subword tokenizer (bypasses discovery). */
  def loadWith(path: String, subword: Option[Subword])
      : TensorFileEmbedder = {
    val t = SafeTensors.load(path)
    def get(name: String) = t.getOrElse(name,
      throw new IllegalArgumentException(
        s"safetensors file $path is missing tensor '$name' " +
          s"(has: ${t.keys.toSeq.sorted.mkString(", ")})"))
    val attn = (t.get("attention.query.weight"),
        t.get("attention.key.weight"),
        t.get("attention.value.weight")) match {
      case (Some(q), Some(k), Some(v)) => Some(Attention(q, k, v))
      case (None, None, None) => None
      case _ => throw new IllegalArgumentException(
        s"safetensors file $path has a PARTIAL attention tensor set — " +
          "need all of attention.{query,key,value}.weight or none")
    }
    // encoder.layer.{i}.* stack discovery (HF BERT/granite naming):
    // layer indices must be contiguous from 0, each layer's 16-tensor
    // set all-or-nothing (get throws the missing name otherwise)
    val LayerKey = "encoder\\.layer\\.(\\d+)\\..*".r
    val layerIdx = t.keys.collect { case LayerKey(i) => i.toInt }.toSet
    val stack =
      if (layerIdx.isEmpty) None
      else {
        val nLayers = layerIdx.max + 1
        require(layerIdx == (0 until nLayers).toSet,
          s"encoder layers must be contiguous from 0, found " +
            s"${layerIdx.toSeq.sorted.mkString(",")}")
        val layers = (0 until nLayers).map { i =>
          def g(suffix: String) = get(s"encoder.layer.$i.$suffix")
          EncoderLayer(
            g("attention.self.query.weight"), g("attention.self.query.bias"),
            g("attention.self.key.weight"), g("attention.self.key.bias"),
            g("attention.self.value.weight"), g("attention.self.value.bias"),
            g("attention.output.dense.weight"),
            g("attention.output.dense.bias"),
            g("attention.output.LayerNorm.weight"),
            g("attention.output.LayerNorm.bias"),
            g("intermediate.dense.weight"), g("intermediate.dense.bias"),
            g("output.dense.weight"), g("output.dense.bias"),
            g("output.LayerNorm.weight"), g("output.LayerNorm.bias"))
        }
        val dModel = layers.head.wq.shape(1)
        // head count: config scalar when exported, else the BERT-family
        // universal 64-wide heads
        val heads = t.get("config.num_attention_heads")
          .map(_.data(0).toInt)
          .getOrElse(math.max(1, dModel / 64))
        val embLn = (t.get("embeddings.LayerNorm.weight"),
            t.get("embeddings.LayerNorm.bias")) match {
          case (Some(w), Some(b)) => Some((w, b))
          case (None, None) => None
          case _ => throw new IllegalArgumentException(
            s"safetensors file $path has a partial embeddings.LayerNorm")
        }
        Some(Stack(layers, heads,
          t.get("embeddings.position_embeddings.weight"), embLn))
      }
    // word embeddings: HF name first, the repo's flat legacy name second
    val emb = t.getOrElse("embeddings.word_embeddings.weight",
      get("embeddings.weight"))
    val pooler = (t.get("pooler.dense.weight"),
        t.get("pooler.dense.bias")) match {
      case (Some(w), Some(b)) => Some((w, b))
      case (None, None) => None
      case _ => throw new IllegalArgumentException(
        s"safetensors file $path has a partial pooler.dense tensor set")
    }
    new TensorFileEmbedder(emb, attn, stack, pooler, subword)
  }

  /** Deterministic tiny-model generator (test fixture / smoke artifact):
    * seeded-LCG weights in [-0.5, 0.5), the exact tensor layout `load`
    * expects — attention projections included by default (withAttention
    * = false reproduces a legacy mean-pool file). Stands in for an
    * exported real checkpoint. */
  def writeTinyModel(path: String, vocab: Int, dModel: Int, outDim: Int,
      seed: Long = 0x5eed, withAttention: Boolean = true): Unit = {
    var state = seed
    def next(): Float = {
      state = state * 6364136223846793005L + 1442695040888963407L
      // top 24 bits -> [0,1) -> [-0.5, 0.5)
      ((state >>> 40).toFloat / (1 << 24).toFloat) - 0.5f
    }
    def tensor(shape: Int*) = SafeTensors.Tensor(shape.toArray,
      Array.fill(shape.product)(next()))
    val attn = if (withAttention) Seq(
      "attention.query.weight" -> tensor(dModel, dModel),
      "attention.key.weight" -> tensor(dModel, dModel),
      "attention.value.weight" -> tensor(dModel, dModel)) else Seq.empty
    SafeTensors.write(path, Seq(
      "embeddings.weight" -> tensor(vocab, dModel)) ++ attn ++ Seq(
      "pooler.dense.weight" -> tensor(outDim, dModel),
      "pooler.dense.bias" -> tensor(outDim)))
  }

  /** Deterministic tiny ENCODER-STACK model (the granite/BERT layout
    * `load` discovers via `encoder.layer.{i}.*`): `layers` full
    * transformer layers, `heads`-way attention, position embeddings +
    * embedding LayerNorm, NO pooler (the stack path is CLS-pooled by
    * contract). Output dim = dModel. */
  def writeTinyStackModel(path: String, vocab: Int, dModel: Int,
      layers: Int, heads: Int = 2, dff: Int = 0, maxPos: Int = MaxSeq + 1,
      seed: Long = 0x5eed): Unit = {
    require(layers >= 1 && heads >= 1 && dModel % heads == 0)
    val ff = if (dff > 0) dff else dModel * 4
    var state = seed
    def next(): Float = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 40).toFloat / (1 << 24).toFloat) - 0.5f
    }
    def tensor(shape: Int*) = SafeTensors.Tensor(shape.toArray,
      Array.fill(shape.product)(next()))
    // LayerNorm gains near 1, biases near 0 (a [-0.5,0.5) gain would
    // zero out half the channels and make perturbation tests flaky)
    def lnW(len: Int) = SafeTensors.Tensor(Array(len),
      Array.fill(len)(1.0f + next() * 0.1f))
    def lnB(len: Int) = SafeTensors.Tensor(Array(len),
      Array.fill(len)(next() * 0.1f))
    val layerTensors = (0 until layers).flatMap { i =>
      def n(s: String) = s"encoder.layer.$i.$s"
      Seq(
        n("attention.self.query.weight") -> tensor(dModel, dModel),
        n("attention.self.query.bias") -> tensor(dModel),
        n("attention.self.key.weight") -> tensor(dModel, dModel),
        n("attention.self.key.bias") -> tensor(dModel),
        n("attention.self.value.weight") -> tensor(dModel, dModel),
        n("attention.self.value.bias") -> tensor(dModel),
        n("attention.output.dense.weight") -> tensor(dModel, dModel),
        n("attention.output.dense.bias") -> tensor(dModel),
        n("attention.output.LayerNorm.weight") -> lnW(dModel),
        n("attention.output.LayerNorm.bias") -> lnB(dModel),
        n("intermediate.dense.weight") -> tensor(ff, dModel),
        n("intermediate.dense.bias") -> tensor(ff),
        n("output.dense.weight") -> tensor(dModel, ff),
        n("output.dense.bias") -> tensor(dModel),
        n("output.LayerNorm.weight") -> lnW(dModel),
        n("output.LayerNorm.bias") -> lnB(dModel))
    }
    SafeTensors.write(path, Seq(
      "embeddings.word_embeddings.weight" -> tensor(vocab, dModel),
      "embeddings.position_embeddings.weight" -> tensor(maxPos, dModel),
      "embeddings.LayerNorm.weight" -> lnW(dModel),
      "embeddings.LayerNorm.bias" -> lnB(dModel),
      "config.num_attention_heads" -> SafeTensors.Tensor(Array(1),
        Array(heads.toFloat))) ++ layerTensors)
  }
}
