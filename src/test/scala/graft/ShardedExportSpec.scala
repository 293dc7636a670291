package graft

import org.apache.spark.sql.functions._

import graft.sinks.ShardedExport

class ShardedExportSpec extends SparkSuite {

  private def corpus = {
    val s = initSpark()
    import s.implicits._
    (0L until 200L).map(i => (i, s"doc $i body", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
  }

  test("sharded JSONL export: one file per shard, full round-trip, " +
      "manifest consistent") {
    val s = initSpark()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_export").toString
    val manifest = ShardedExport.exportJsonl(corpus, "doc_id", dir,
      numShards = 8).collect()
    assert(manifest.nonEmpty && manifest.length <= 8)
    // one part file per shard — the determinism precondition
    assert(manifest.forall(_.getAs[Long]("files") === 1L))
    assert(manifest.map(_.getAs[Long]("rows")).sum === 200L)
    // round-trip: every row survives with its columns
    val back = s.read.json(s"$dir/data")
    assert(back.count() === 200)
    assert(back.columns.toSet === Set("doc_id", "text", "source", "shard"))
    // shard assignment is the content hash, not a partitioner accident
    val misplaced = back.where(
      graft.operators.Mixing.hashBucket(col("doc_id"), 8) =!=
        col("shard")).count()
    assert(misplaced === 0)
  }

  test("re-exporting the same frame is byte-identical (manifest md5 " +
      "equality — the reproducibility contract)") {
    val dirA = java.nio.file.Files
      .createTempDirectory("graft_export_a").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("graft_export_b").toString
    def fingerprint(dir: String) =
      ShardedExport.exportJsonl(corpus.repartition(7), "doc_id", dir, 8)
        .collect()
        .map(r => (r.getAs[Int]("shard"), r.getAs[Long]("rows"),
          r.getAs[Long]("bytes"), r.getAs[String]("md5")))
        .toSet
    val a = fingerprint(dirA)
    val b = fingerprint(dirB)
    assert(a === b)
  }

  test("exporting an EMPTY frame yields an empty manifest with the " +
      "right schema, not a path-not-found throw") {
    val s = initSpark()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_export_empty").toString
    val manifest = ShardedExport.exportJsonl(
      corpus.where(col("doc_id") < 0L), "doc_id", dir, numShards = 4)
    assert(manifest.columns.toSeq ===
      Seq("shard", "files", "rows", "bytes", "md5"))
    assert(manifest.count() === 0L)
  }

  test("manifestOf resolves its FileSystem through the session's " +
      "Hadoop conf, so a session-only setting reaches it") {
    val s = initSpark()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_export_conf").toString
    // a session of its own: the setting lives only in its SQL conf,
    // never in the shared context's hadoopConfiguration
    val session = s.newSession()
    session.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    session.conf.set("fs.file.impl.disable.cache", "true")
    CountingLocalFs.globs.set(0)
    val manifest = ShardedExport.manifestOf(session, dir)
    assert(manifest.count() === 0L)
    assert(CountingLocalFs.globs.get > 0,
      "the glob probe did not run on the session-configured FileSystem")
  }
}

/** A local FileSystem that counts glob probes: installed through a
  * session-only conf, it shows whose Hadoop conf a caller resolved. */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  override def globStatus(p: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    CountingLocalFs.globs.incrementAndGet()
    super.globStatus(p)
  }
}

object CountingLocalFs {
  val globs = new java.util.concurrent.atomic.AtomicInteger()
}
