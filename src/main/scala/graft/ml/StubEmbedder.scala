package graft.ml

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Deterministic stub embedder (FIXTURES.md determinism requirements;
  * SURVEY §7 build order step 5): a seeded-hash bag-of-words embedding —
  * L2-normalized float32, CLS-pooling-shaped output — standing in for the
  * reference's transformer (M2: embedding_model_helpers.py:34-65,
  * granite-embedding-107m-multilingual, CLS pool + L2 norm + fp32).
  *
  * Properties that make it a faithful pipeline stand-in:
  *  - identical texts embed identically (bit-exact across executors)
  *  - similar token bags land near each other in cosine space (feature
  *    hashing), so dedup/top-k tests exercise realistic score spreads
  *  - unit-norm float32 output matches the real model's contract, so the
  *  byte codec and vector sinks see production-shaped data.
  *
  * Swappable: ModelRegistry routes model_name -> embedding fn, the shape
  * a real ONNX/DJL backend would plug into (per-executor singleton, R7).
  */
object StubEmbedder {

  // precompiled: String.split(regex) recompiles the pattern per call,
  // and embed() runs once per KEYWORD CANDIDATE in the MMR path
  // (~100x per document across the corpus)
  private val NonWord = java.util.regex.Pattern.compile("\\W+")

  /** Feature-hashed bag-of-words: each token adds ±1/k to 2 of `dim`
    * buckets chosen by its murmur hash; result L2-normalized to float32. */
  def embed(text: String, dim: Int, seed: Int = 42): Array[Float] = {
    val acc = new Array[Double](dim)
    if (text != null) {
      val tokens = NonWord.split(text.toLowerCase).filter(_.nonEmpty)
      tokens.foreach { tok =>
        val h1 = MurmurHash3.stringHash(tok, seed)
        val h2 = MurmurHash3.stringHash(tok, seed + 1)
        acc(math.floorMod(h1, dim)) += (if (h1 > 0) 1.0 else -1.0)
        acc(math.floorMod(h2, dim)) += (if (h2 > 0) 1.0 else -1.0)
      }
    }
    val norm = math.sqrt(acc.map(x => x * x).sum)
    if (norm == 0.0) {
      // deterministic non-zero unit vector for empty docs
      val v = new Array[Float](dim); v(0) = 1.0f; v
    } else acc.map(x => (x / norm).toFloat)
  }

  def embedUdf(dim: Int, seed: Int = 42): UserDefinedFunction =
    udf { (text: String) => embed(text, dim, seed) }

  def embedding(text: Column, dim: Int, seed: Int = 42): Column =
    embedUdf(dim, seed)(text)
}

/** Per-executor model registry (reference R7: the HF model dict-cache in
  * embedding_model_helpers.py:125-163 and functools.cache for
  * spaCy/lingua). On the JVM: a lazy transient singleton map per executor
  * — models load once per JVM, not once per task/row. */
object ModelRegistry extends Serializable {
  type EmbedFn = String => Array[Float]

  @transient private lazy val models =
    new java.util.concurrent.ConcurrentHashMap[String, EmbedFn]()

  /** Resolve (and memoize) the embedding backend for a model name.
    * Built-in schemes:
    *  - `stub-<dim>`: the deterministic hash embedder (tests, CI)
    *  - `safetensors:<path>`: REAL inference from a weights file
    *    (TensorFileEmbedder) — the file parses once per executor JVM
    *    and the loaded tensors are reused by every task, the exact
    *    model-cache shape of the reference's per-process HF dict cache
    *    (embedding_model_helpers.py:125-163).
    * A production deployment registers further loaders the same way. */
  def embedderFor(modelName: String): EmbedFn =
    models.computeIfAbsent(modelName, { name =>
      name match {
        case s if s.startsWith("stub-") =>
          val dim = s.stripPrefix("stub-").toInt
          (t: String) => StubEmbedder.embed(t, dim)
        case s if s.startsWith("safetensors:") =>
          val model = TensorFileEmbedder.load(s.stripPrefix("safetensors:"))
          (t: String) => model.embed(t)
        case other =>
          throw new IllegalArgumentException(
            s"no embedding backend registered for model '$other'")
      }
    })

  /** Register (or replace) the backend for `modelName`. It must be
    * registered in every JVM that runs tasks — in local mode, the
    * application's own. */
  def register(modelName: String, fn: EmbedFn): Unit = {
    models.put(modelName, fn); ()
  }

  /** Column form: embed `text` with the backend `modelName` resolves to.
    * Only the NAME is captured in the task closure — the model itself
    * loads lazily executor-side and stays JVM-resident. */
  def embedding(text: Column, modelName: String): Column = {
    val f = udf { (t: String) => ModelRegistry.embedderFor(modelName)(t) }
    f(text)
  }
}
