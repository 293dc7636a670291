package graft

import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{ClassBuckets, EditDistanceStream, NearDupStream,
  SimHashStream, StateVersion}

/** The stateful pair matchers' checkpoint encodings, pinned as
  * literals: a refactor that changes what a state class encodes to
  * fails here rather than on a user's restart from an existing
  * checkpoint. Changing one of these on purpose means bumping
  * [[StateVersion.Current]] in the same change. */
class StreamStateSchemaSpec extends AnyFunSuite {

  test("the three stream state classes encode to their pinned " +
      "checkpoint schemas") {
    assert(Encoders.product[SimHashStream.BucketState].schema
      .simpleString === "struct<ver:int,classes:array<struct<" +
      "sig:bigint,ids:array<bigint>>>>")
    assert(Encoders.product[NearDupStream.BucketState].schema
      .simpleString === "struct<ver:int,classes:array<struct<" +
      "sig:array<bigint>,ids:array<bigint>>>>")
    assert(Encoders.product[EditDistanceStream.BlockState].schema
      .simpleString === "struct<ver:int,idx:array<struct<s:string," +
      "ids:array<bigint>>>,prb:array<struct<s:string," +
      "ids:array<bigint>>>>")
  }

  test("the state version stamp is 3") {
    assert(StateVersion.Current === 3)
  }

  test("classCap is the stated corpus size, floored and clamped to " +
      "Int; a negative scale is rejected") {
    assert(ClassBuckets.classCap(1000000L, 64) === 1000000)
    assert(ClassBuckets.classCap(10L, 64) === 64)
    assert(ClassBuckets.classCap(0L, 256) === 256)
    assert(ClassBuckets.classCap(Long.MaxValue, 64) === Int.MaxValue)
    intercept[IllegalArgumentException](ClassBuckets.classCap(-1L, 64))
  }
}
