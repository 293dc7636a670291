package graft

import org.apache.spark.sql.functions._

import graft.expr.TopK

/** Both forms of top-k-per-group. The bounded TypedImperativeAggregate:
  * equivalence with the window formulation across partitionings
  * (exercises partial update, shuffle serialize/deserialize, and heap
  * merge). The window operator `perKey`: equivalence with a hand-written
  * `row_number` window, for literal and per-row limits. */
class TopKSpec extends SparkSuite {

  test("perKey == hand-written row_number window on randomized frames " +
      "(score ties, null keys and order values, repartitioning; literal " +
      "and per-row limits; rank kept and dropped) (property)") {
    val s = initSpark()
    import s.implicits._
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val gen = for {
      n <- Gen.choose(0, 150)
      rows <- Gen.listOfN(n, for {
        g <- Gen.option(Gen.choose(0, 4))
        score <- Gen.option(Gen.choose(-3L, 3L))
        quota <- Gen.choose(0, 3)
      } yield (g, score, quota))
      k <- Gen.choose(1, 4)
      parts <- Gen.choose(1, 9)
      perRow <- Gen.oneOf(true, false)
    } yield (rows, k, parts, perRow)
    val prop = forAll(gen) { case (rows, k, parts, perRow) =>
      val df = rows.zipWithIndex
        .map { case ((g, score, quota), id) => (g, score, quota, id.toLong) }
        .toDF("g", "score", "quota", "id").repartition(parts)
      val order = Seq(col("score").desc, col("id").asc)
      val limit = if (perRow) col("quota") else lit(k)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(order: _*)
      val want = df.withColumn("rk", row_number().over(w))
        .where(col("rk") <= limit)
      val kept = TopK.perKey(df, Seq(col("g")), order, limit, Some("rk"))
      val dropped = TopK.perKey(df, Seq(col("g")), order, limit)
      kept.columns.toSeq == df.columns.toSeq :+ "rk" &&
        dropped.columns.toSeq == df.columns.toSeq &&
        kept.collect().toSet == want.collect().toSet &&
        dropped.collect().toSet == want.drop("rk").collect().toSet
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("topKBy matches row_number window top-k under repartitioning") {
    val s = initSpark()
    import s.implicits._
    val rows = (1 to 500).map { i =>
      (i % 7, s"v${i % 13}", (i * 31) % 97)
    }
    val df = rows.toDF("g", "name", "score").repartition(16)

    val got = df.groupBy("g", "name").agg(count(lit(1)).as("cnt"))
      .groupBy("g")
      .agg(TopK.topKBy(struct(col("cnt"), col("name")), 3,
        descending = Seq(true, false)).as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("g"), col("t.name"), col("t.cnt"),
        (col("pos") + 1).as("rnk"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getInt(3))).toSet

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("cnt").desc, col("name").asc)
    val want = df.groupBy("g", "name").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
        r.getInt(3))).toSet

    assert(got === want)
  }

  test("ascending direction and k larger than group") {
    val s = initSpark()
    import s.implicits._
    val df = Seq((1, 5.0), (1, 2.0), (1, 9.0), (2, 4.0))
      .toDF("g", "x").repartition(4)
    val got = df.groupBy("g")
      .agg(TopK.topKBy(struct(col("x")), 5,
        descending = Seq(false)).as("top"))
      .select(col("g"), col("top.x").as("xs"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(got(1) === Seq(2.0, 5.0, 9.0))
    assert(got(2) === Seq(4.0))
  }

  test("randomized datasets: aggregate == window for arbitrary " +
      "k/directions (property)") {
    val s = initSpark()
    import s.implicits._
    import org.scalacheck.{Gen, Test => SCTest}
    import org.scalacheck.Prop.forAll
    val gen = for {
      rows <- Gen.listOfN(120, for {
        g <- Gen.choose(0, 4)
        v <- Gen.choose(-50L, 50L)
        n <- Gen.oneOf("a", "b", "c", "d", "e")
      } yield (g, v, n))
      k <- Gen.choose(1, 4)
      d1 <- Gen.oneOf(true, false)
      d2 <- Gen.oneOf(true, false)
      parts <- Gen.choose(1, 9)
    } yield (rows, k, d1, d2, parts)
    val prop = forAll(gen) { case (rows, k, d1, d2, parts) =>
      val df = rows.toDF("g", "v", "n").repartition(parts)
      val got = df.groupBy("g")
        .agg(TopK.topKBy(struct(col("v"), col("n")), k,
          Seq(d1, d2)).as("top"))
        .select(col("g"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("g"), col("t.v"), col("t.n"), col("pos"))
        .collect().map(r =>
          (r.getInt(0), r.getLong(1), r.getString(2), r.getInt(3))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g"))
        .orderBy(if (d1) col("v").desc else col("v").asc,
          if (d2) col("n").desc else col("n").asc)
      val want = df.withColumn("rn", row_number().over(w))
        .where(col("rn") <= k)
        .select(col("g"), col("v"), col("n"), (col("rn") - 1).as("pos"))
        .collect().map(r =>
          (r.getInt(0), r.getLong(1), r.getString(2), r.getInt(3))).toSet
      // rows may collide exactly (same g,v,n); compare SETS of
      // (group, value, name, rank) — identical whenever ordering is
      // total, and duplicate full rows make rank assignment among the
      // duplicates irrelevant to the set
      got == want
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  test("partial aggregation plan ships bounded per-group state") {
    val s = initSpark()
    import s.implicits._
    val df = Seq((1, 1L, "a")).toDF("g", "cnt", "name")
    val agg = df.groupBy("g").agg(TopK.topKBy(
      struct(col("cnt"), col("name")), 2, Seq(true, false)).as("top"))
    val plan = agg.queryExecution.executedPlan.toString
    // ObjectHashAggregate with partial_top_k_by proves map-side combine
    assert(plan.contains("top_k_by"), plan)
    assert(plan.contains("partial_top_k_by") ||
      plan.contains("Partial"), plan)
  }
}
