package perfbench

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The correctness checks must catch planted wrong outputs. */
class ChecksSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  private def json(s: String) = new ObjectMapper().readTree(s)

  test("curation: a survivor set that differs from the ground truth fails") {
    val c = new CorpusCuration(json(
      """{"params": {"near_dup_threshold": 0.8},
        | "truth": {"input_docs": 5, "survivors": ["c1", "c3"]}}"""
        .stripMargin), "unused", "unused")
    val lm = Map("lm_rows" -> 5.0, "lm_ids" -> 5.0)
    assert(c.checkNow(null, UnitOutcome(0, 5, Seq("c1", "c3"), lm)).isEmpty)
    // a near-dup kept, a cluster lost, a survivor twice, an LM row lost
    assert(c.checkNow(null, UnitOutcome(0, 5, Seq("c1", "c2", "c3"), lm))
      .nonEmpty)
    assert(c.checkNow(null, UnitOutcome(0, 5, Seq("c1"), lm)).nonEmpty)
    assert(c.checkNow(null, UnitOutcome(0, 5, Seq("c1", "c3", "c3"), lm))
      .nonEmpty)
    assert(c.checkNow(null, UnitOutcome(0, 5, Seq("c1", "c3"),
      Map("lm_rows" -> 4.0, "lm_ids" -> 4.0))).nonEmpty)
  }

  test("workflow: every admitted document needs exactly one sync " +
      "outcome, within the byte cap, with no duplicate ledger order") {
    val s = spark
    import s.implicits._
    val base = Files.createTempDirectory("perfbench_checks").toString
    val input = s"$base/input"
    val wh = s"$base/work/warehouse"
    // a, b, c, e route (en); d does not (und); each has 10 bytes
    Seq(("a", "en"), ("b", "en"), ("c", "en"), ("d", "und"), ("e", "en"))
      .map { case (id, lang) => (id, lang, "0123456789") }
      .toDF("id", "lang", "full_content").write.parquet(s"$input/documents")
    val inQdrant = Seq("a", "b", "c", "e")
    (Seq("a", "b", "c", "d", "e").map(d => (d, "document_scraped", 1L)) ++
      inQdrant.map(d => (d, "document_in_qdrant", 2L)) ++
      Seq(("d", "document_with_keywords", 2L),
        ("e", "document_with_keywords", 2L))) // e: order 2 twice
      .toDF("document_id", "title", "operation_order")
      .write.parquet(s"$wh/ledger")
    // c is routed AND in the error bucket; b has no outcome at all
    Seq(("a", "col_en"), ("c", "col_en"), ("e", "col_en"))
      .toDF("document_id", "collection")
      .write.partitionBy("collection").parquet(s"$wh/collections")
    Seq("c", "d").toDF("document_id").write.parquet(s"$wh/sync_errors")

    val w = new WorkflowBatch(json(
      """{"params": {"batch": 2, "max_words_per_slice": 128,
        |  "embed_dim": 64, "slice_buckets": 4},
        | "truth": {"byte_cap": 20, "routable_langs": ["en"]}}"""
        .stripMargin), input, s"$base/work")
    val outs = Seq(UnitOutcome(0, 2, Seq("a", "d")),
      UnitOutcome(1, 1, Seq("b")), UnitOutcome(2, 1, Seq("c")),
      UnitOutcome(3, 1, Seq("e")), UnitOutcome(4, 1, Seq("a")))
    val r = w.checkAtEnd(s, outs)
    assert(r(0).isEmpty, r(0))
    assert(r(1).exists(_.contains("no sync outcome")), r(1))
    assert(r(2).exists(_.contains("both routed")), r(2))
    assert(r(3).exists(_.contains("duplicate ledger order")), r(3))
    assert(r(4).exists(_.contains("admitted twice")), r(4))

    // the same batch over a smaller cap
    val capped = new WorkflowBatch(json(
      """{"params": {"batch": 2, "max_words_per_slice": 128,
        |  "embed_dim": 64, "slice_buckets": 4},
        | "truth": {"byte_cap": 15, "routable_langs": ["en"]}}"""
        .stripMargin), input, s"$base/work")
    assert(capped.checkAtEnd(s, outs.take(1))(0)
      .exists(_.contains("> cap")))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }
}
