package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.BareSession

import graft.expr.EliminateVectorCodecRoundTrip

/** The SQL-function surface: custom expressions callable from SQL text.
  * The late-registration tests run on a session without the builder-time
  * extensions (a notebook or shell attached to a running context), on
  * the suite's SparkContext, so only GraftFunctions.register can supply
  * the functions and the codec rule there. */
class ExtensionsSpec extends SparkSuite {

  private lazy val bare: SparkSession =
    BareSession.on(initSpark().sparkContext)

  /** The bare session after late registration, checked to carry what
    * only register() installs. */
  private def registered(): SparkSession = {
    val s = bare
    GraftFunctions.register(s)
    assert(!s.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(EliminateVectorCodecRoundTrip))
    assert(s.experimental.extraOptimizations
      .count(_ == EliminateVectorCodecRoundTrip) === 1)
    s
  }

  test("graft functions registered and usable from SQL") {
    val s = registered()
    import s.implicits._
    Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f))).toDF("a", "b")
      .createOrReplaceTempView("ext_vecs")
    val r = s.sql(
      """SELECT dot_f32(a, b) AS d, cosine_f32(a, a) AS self,
         bytes_to_vec(vec_to_bytes(a)) AS roundtrip FROM ext_vecs""")
      .head()
    assert(r.getDouble(0) === 24.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getSeq[Float](2).toSeq === Seq(3.0f, 4.0f))
    val inter = s.sql(
      "SELECT sorted_intersect(array(1L,3L,5L,9L), array(3L,4L,5L)) AS i")
      .head().getInt(0)
    assert(inter === 2)
  }

  test("top_k_by usable from SQL with direction literal") {
    val s = registered()
    import s.implicits._
    Seq((1, 3L, "b"), (1, 3L, "a"), (1, 9L, "c"), (2, 1L, "z"))
      .toDF("g", "cnt", "name").createOrReplaceTempView("ext_topk")
    val got = s.sql(
      """SELECT g, top_k_by(struct(cnt, name), 2, 'desc,asc') AS top
         FROM ext_topk GROUP BY g""")
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getLong(0), x.getString(1)))).toMap
    assert(got(1) === Seq((9L, "c"), (3L, "a")))
    assert(got(2) === Seq((1L, "z")))
  }

  test("codec round-trip rule: bytes_to_vec(vec_to_bytes(x)) vanishes " +
      "from the plan for non-null arrays, stays for nullable elements") {
    val s = registered()
    import s.implicits._
    // repartition(1) breaks ConvertToLocalRelation — over a bare
    // LocalRelation the optimizer EVALUATES the projection eagerly and
    // both assertions would pass/fail on folding, not on the rule
    val df = Seq((Array(1.5f, -2.25f), 1)).toDF("v", "k").repartition(1)
    // Array[Float] encoder -> containsNull = false: rule fires
    val clean = df.selectExpr("bytes_to_vec(vec_to_bytes(v)) AS r")
    val cleanPlan = clean.queryExecution.optimizedPlan.toString()
    assert(!cleanPlan.contains("bytestofloatvector") &&
      !cleanPlan.contains("BytesToFloatVector"),
      "round-trip not eliminated:\n" + cleanPlan)
    assert(clean.head().getSeq[Float](0).toSeq === Seq(1.5f, -2.25f))
    // nullable elements (array built from a column + a NULL literal —
    // column-derived so constant folding cannot collapse it): a null
    // element encodes as 0.0f, so the rule must NOT fire — and the
    // executed round-trip indeed differs from the input
    val nullable = df.selectExpr(
      "bytes_to_vec(vec_to_bytes(array(v[0], CAST(NULL AS FLOAT)))) AS r")
    val nullablePlan = nullable.queryExecution.optimizedPlan.toString()
    assert(nullablePlan.contains("bytestofloatvector") ||
      nullablePlan.contains("BytesToFloatVector"),
      "rule fired on a nullable-element array:\n" + nullablePlan)
    assert(nullable.head().getSeq[Float](0).toSeq === Seq(1.5f, 0.0f))
  }

  test("builder-time extensions produce a session with the functions") {
    // a child session gets the builder's extensions afresh, but neither
    // the temp functions nor the extra optimizations that
    // GraftFunctions.register may have added to the suite session
    val s = initSpark().newSession()
    assert(s.sessionState.optimizer.extendedOperatorOptimizationRules
      .contains(graft.expr.EliminateVectorCodecRoundTrip))
    assert(!s.experimental.extraOptimizations
      .contains(graft.expr.EliminateVectorCodecRoundTrip))
    val cos = s.sql(
      "SELECT cosine_f32(array(3.0F, 4.0F), array(4.0F, 3.0F)) AS c")
      .head().getDouble(0)
    assert(math.abs(cos - 0.96) < 1e-9)
  }
}
