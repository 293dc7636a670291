package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sinks.{CollectionRouter, Merge}

class SinksSpec extends SparkSuite {

  test("insertIfAbsentDf dedups batch and skips existing keys (S16)") {
    val s = initSpark()
    import s.implicits._
    val existing = Seq(("https://a", "old")).toDF("url", "title")
    val incoming = Seq(
      ("https://a", "dup-of-existing"),
      ("https://b", "first"),
      ("https://b", "second-in-batch"),
      ("https://c", "fresh")
    ).toDF("url", "title")
    val out = Merge.insertIfAbsentDf(existing, incoming, "url", "title")
    val m = out.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m === Map("https://b" -> "first", "https://c" -> "fresh"))
  }

  test("replaceByKeyDf swaps all rows of replaced keys (S18)") {
    val s = initSpark()
    import s.implicits._
    val table = Seq(("d1", "old1a"), ("d1", "old1b"), ("d2", "keep"))
      .toDF("document_id", "body")
    val replacement = Seq(("d1", "new1")).toDF("document_id", "body")
    val out = Merge.replaceByKeyDf(table, replacement, "document_id")
    val got = out.collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(("d1", "new1"), ("d2", "keep")))
  }

  test("replaceByKey on disk rewrites only touched buckets (S18/R9)") {
    val s = initSpark()
    import s.implicits._
    val dir = Files.createTempDirectory("graft_merge").toString + "/slices"
    val initial = Seq(("d1", "v1"), ("d2", "v1"), ("d3", "v1"))
      .toDF("document_id", "body")
    Merge.replaceByKey(s, dir, initial, "document_id", numBuckets = 4)
    val update = Seq(("d2", "v2")).toDF("document_id", "body")
    Merge.replaceByKey(s, dir, update, "document_id", numBuckets = 4)
    val after = s.read.parquet(dir)
      .select("document_id", "body")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(after === Set(("d1", "v1"), ("d2", "v2"), ("d3", "v1")))
  }

  test("insertIfAbsent on disk is idempotent (T5 at-least-once)") {
    val s = initSpark()
    import s.implicits._
    val dir = Files.createTempDirectory("graft_ins").toString + "/docs"
    val batch = Seq(("https://a", "t1"), ("https://b", "t2"))
      .toDF("url", "title")
    assert(Merge.insertIfAbsent(s, dir, batch, "url", "title") === 2)
    assert(Merge.insertIfAbsent(s, dir, batch, "url", "title") === 0)
    assert(s.read.parquet(dir).count() === 2)
  }

  test("disk writers resolve the table through the Hadoop FS API " +
      "(scheme'd URI a java.io.File probe would call absent)") {
    val s = initSpark()
    import s.implicits._
    // An explicit file:-scheme URI: Spark's writers handle it via the
    // Hadoop FileSystem layer, but `new java.io.File("file:/…").exists()`
    // is false even when the table exists — exactly the off-local lie
    // that made the old bookkeeping append duplicates. Both writers must
    // see through it.
    val base = "file://" + Files.createTempDirectory("graft_hfs").toString
    assert(!new java.io.File(base + "/docs").exists(),
      "precondition: java.io.File cannot see a scheme'd URI")
    val batch = Seq(("https://a", "t1"), ("https://b", "t2"))
      .toDF("url", "title")
    assert(Merge.insertIfAbsent(s, base + "/docs", batch, "url", "title") === 2)
    // second call must find the table and anti-join — NOT re-append
    assert(Merge.insertIfAbsent(s, base + "/docs", batch, "url", "title") === 0)
    assert(s.read.parquet(base + "/docs").count() === 2)

    val initial = Seq(("d1", "v1"), ("d2", "v1")).toDF("document_id", "body")
    Merge.replaceByKey(s, base + "/slices", initial, "document_id", numBuckets = 4)
    Merge.replaceByKey(s, base + "/slices",
      Seq(("d2", "v2")).toDF("document_id", "body"), "document_id", numBuckets = 4)
    val after = s.read.parquet(base + "/slices")
      .select("document_id", "body")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(after === Set(("d1", "v1"), ("d2", "v2")))
  }

  test("collection routing: multilingual, lang-specific, error bucket") {
    val s = initSpark()
    import s.implicits._
    val df = Seq(
      ("d1", "en", "stub-64"),
      ("d2", "fr", "stub-64"),
      ("d3", "xx", "stub-64"),      // unknown lang -> error bucket
      ("d4", "xx", "granite-mul-107m") // multilingual -> routed anyway
    ).toDF("document_id", "lang", "model")
    val (routable, errors) = CollectionRouter.route(df, "lang", "model")
    val m = routable.collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(m("d1") === "collection_welearn_en_stub_64")
    assert(m("d2") === "collection_welearn_fr_stub_64")
    assert(m("d4") === "collection_welearn_mul_granite_mul_107m")
    assert(errors.collect().map(_.getString(0)).toSeq === Seq("d3"))
  }

  test("collection routing lowercases ASCII names without lower() and " +
      "matches the lower() form on every name") {
    val s = initSpark()
    import s.implicits._
    // the routing expression as it was, with lower() on every name
    def viaLower(lang: Column, model: Column): Column = {
      val sanitized = regexp_replace(lower(model), "[^a-z0-9]+", "_")
      when(model.contains("mul"),
          concat(lit("collection_welearn_mul_"), sanitized))
        .when(lang.isin("en", "fr", "es", "de", "it", "pt"),
          concat(lit("collection_welearn_"), lang, lit("_"), sanitized))
        .otherwise(lit(null))
    }
    val names = Seq("stub-64", "MiniLM-L6-v2", "safetensors:/m/Stack.ST",
      "granite-MUL-107m", "Modèle-Été", "ÉCOLE mul", "İstanbul-BERT",
      "\u212Aelvin-Model", "straße", "ALL_CAPS_Z9", "", null)
    val df = for (lang <- Seq("en", "xx"); m <- names) yield (lang, m)
    val routed = df.toDF("lang", "model").select(
      col("lang"), col("model"),
      CollectionRouter.collectionFor(col("lang"), col("model")).as("now"),
      viaLower(col("lang"), col("model")).as("before"))
      .collect()
    assert(routed.length === 24)
    routed.foreach { r =>
      assert(r.get(2) == r.get(3), s"${r.get(1)} / ${r.get(0)}")
    }
    val got = routed.map(r => (r.getString(0), r.getString(1)) -> r.get(2))
      .toMap
    assert(got(("en", "MiniLM-L6-v2")) ===
      "collection_welearn_en_minilm_l6_v2")
    // Kelvin sign lowercases to ASCII k
    assert(got(("en", "\u212Aelvin-Model")) ===
      "collection_welearn_en_kelvin_model")
  }

  test("catalog routing: multilingual wins, else mono, else error (S19)") {
    val s = initSpark()
    import s.implicits._
    val catalog = Seq(
      "collection_welearn_mul_granite",
      "collection_welearn_en_minilm")
    val df = Seq(
      ("d1", "fr", "granite"), // mul collection exists -> mul
      ("d2", "en", "minilm"),  // only mono exists -> mono
      ("d3", "fr", "minilm"))  // neither exists for fr -> error
      .toDF("document_id", "lang", "model")
    val routed = df.withColumn("collection",
      CollectionRouter.collectionForCatalog(col("lang"), col("model"),
        catalog))
    val m = routed.collect()
      .map(r => r.getString(0) -> Option(r.getString(3))).toMap
    assert(m("d1") === Some("collection_welearn_mul_granite"))
    assert(m("d2") === Some("collection_welearn_en_minilm"))
    assert(m("d3") === None)
  }

  test("LIVE LOOPBACK vector sink: delete-then-insert over the wire, " +
      "chunked at chunkSize, and a FAILED upsert does NOT advance the " +
      "ledger (S19, qdrant_syncronizer.py:132-205 protocol shape)") {
    val s = initSpark()
    import s.implicits._
    import graft.sinks.VectorStore

    val okColl = "collection_welearn_en_stub"
    val badColl = "collection_welearn_fr_stub"
    // request journal: (method, path) in arrival order + point counts
    val journal =
      new java.util.concurrent.CopyOnWriteArrayList[(String, String)]()
    val pointCounts =
      new java.util.concurrent.CopyOnWriteArrayList[Integer]()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", { exchange =>
      val method = exchange.getRequestMethod
      val path = exchange.getRequestURI.getPath
      journal.add((method, path))
      val reqBody = new String(
        exchange.getRequestBody.readAllBytes(), "UTF-8")
      val (code, body) = (method, path) match {
        case ("GET", "/collections") =>
          (200, s"""{"status":"ok","result":{"collections":[
            {"name":"$okColl"},{"name":"$badColl"}]}}""")
        case ("POST", p) if p.endsWith("/points/delete") =>
          (200, """{"status":"ok","result":{"operation_id":1,
            "status":"acknowledged"}}""")
        case ("PUT", p) if p == s"/collections/$okColl/points" =>
          pointCounts.add(
            mapper.readTree(reqBody).path("points").size())
          (200, """{"status":"ok","result":{"operation_id":2,
            "status":"completed"}}""")
        case ("PUT", p) if p == s"/collections/$badColl/points" =>
          // the store refuses this collection's batches
          (500, """{"status":{"error":"disk full"}}""")
        case _ => (404, """{"status":"not found"}""")
      }
      val bytes = body.getBytes("UTF-8")
      exchange.getResponseHeaders.set("Content-Type", "application/json")
      exchange.sendResponseHeaders(code, bytes.length)
      exchange.getResponseBody.write(bytes)
      exchange.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      // 3 docs x 2 slices into the ok collection (6 points: chunkSize 4
      // => 2 chunks), 1 doc into the failing one
      val slices = (for {
        d <- 1 to 3; k <- 1 to 2
      } yield (s"s$d-$k", s"doc$d", "en", "stub",
        Array.fill(4)(0.25f), s"body $d-$k")) ++
        Seq(("s9-1", "doc9", "fr", "stub", Array.fill(4)(0.5f), "body 9"))
      val df = slices.toDF("slice_id", "document_id", "lang", "model",
        "embedding", "slice_content")
      val routed = df.withColumn("collection",
        CollectionRouter.collectionForCatalog(col("lang"), col("model"),
          Seq(okColl, badColl)))
      val status = VectorStore.sync(routed, "slice_id", "document_id",
        "embedding", Seq("slice_content", "lang"), base, chunkSize = 4)
        .collect().map(r => (r.getString(1), r.getBoolean(2))).toMap
      assert(status === Map("doc1" -> true, "doc2" -> true,
        "doc3" -> true, "doc9" -> false))

      // the wire saw: one catalog list, then PER COLLECTION a delete
      // BEFORE any insert, inserts chunked at 4 points max
      val calls = journal.toArray(Array.empty[(String, String)]).toSeq
      assert(calls.head === ("GET", "/collections"))
      def idx(m: String, p: String) =
        calls.indexWhere(c => c._1 == m && c._2 == p)
      assert(idx("POST", s"/collections/$okColl/points/delete") <
        idx("PUT", s"/collections/$okColl/points"),
        "delete must precede insert (delete-then-insert upsert)")
      val counts = pointCounts.toArray(Array.empty[Integer]).map(_.toInt)
      assert(counts.sum === 6, s"all 6 ok-collection points shipped: " +
        counts.mkString(","))
      assert(counts.forall(_ <= 4), "chunk cap respected")

      // ledger gate: only synced docs advance process state
      val dir = Files.createTempDirectory("vsync").toString
      val prior = Seq(("doc0", "KEPT")).toDF("document_id", "state")
      prior.write.parquet(s"$dir/state")
      val advanced = VectorStore.sync(routed, "slice_id", "document_id",
          "embedding", Seq("slice_content"), base, chunkSize = 4)
        .where(col("synced"))
        .select(col("document_id"), lit("IN_QDRANT").as("state"))
      Merge.insertIfAbsent(s, s"$dir/state", advanced,
        "document_id", "state")
      val state = s.read.parquet(s"$dir/state")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(state.keySet === Set("doc0", "doc1", "doc2", "doc3"),
        "doc9's failed upsert must NOT advance the ledger")
    } finally server.stop(0)
  }
}
