package graft

import java.nio.file.{Files, Path}

import graft.jobs.StreamProof

/** The stream proof's safety code: the work-dir wipe refuses anything
  * it did not create, and a run names every violated contract. */
class StreamProofSpec extends SparkSuite {

  private def listed(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSet
    finally s.close()
  }

  test("enforce throws once, naming every violated contract") {
    val e = intercept[IllegalStateException](StreamProof.enforce(Seq(
      true -> "held", false -> "parity broken: 3 vs 4",
      false -> "state out of bounds: 9 vs 8")))
    assert(e.getMessage.contains("parity broken: 3 vs 4"))
    assert(e.getMessage.contains("state out of bounds: 9 vs 8"))
    assert(!e.getMessage.contains("held"))
    StreamProof.enforce(Seq(true -> "held"))
  }

  test("wipe guard refuses a work dir that contains the input dir") {
    val s = initSpark()
    val work = Files.createTempDirectory("wipeguard")
    val input = Files.createDirectories(work.resolve("input"))
    Files.write(input.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    Files.createFile(work.resolve(StreamProof.Marker))
    for ((base, dir) <- Seq(input.toString -> work.toString,
        input.toUri.toString -> work.toString,
        input.toString -> input.toString))
      intercept[IllegalArgumentException](
        StreamProof.prepareWorkDir(s, base, dir))
    assert(Files.exists(input.resolve("part-0.parquet")))
  }

  test("wipe guard refuses an existing non-empty dir without the marker") {
    val s = initSpark()
    val input = Files.createTempDirectory("input")
    val work = Files.createTempDirectory("wipeguard")
    Files.write(work.resolve("notes.txt"), Array[Byte](1))
    val e = intercept[IllegalArgumentException](
      StreamProof.prepareWorkDir(s, input.toString, work.toString))
    assert(e.getMessage.contains(StreamProof.Marker))
    assert(listed(work) === Set("notes.txt"))
  }

  test("wipe guard wipes and re-marks a dir that carries the marker") {
    val s = initSpark()
    val input = Files.createTempDirectory("input")
    val work = Files.createTempDirectory("wipeguard")
    Files.createFile(work.resolve(StreamProof.Marker))
    Files.createDirectories(work.resolve("ckpt/offsets"))
    Files.write(work.resolve("ckpt/offsets/0"), Array[Byte](1))
    StreamProof.prepareWorkDir(s, input.toString, work.toString)
    assert(listed(work) === Set(StreamProof.Marker))
    // a fresh dir is created and marked too
    val fresh = work.resolve("fresh")
    StreamProof.prepareWorkDir(s, input.toString, fresh.toString)
    assert(listed(fresh) === Set(StreamProof.Marker))
  }
}
