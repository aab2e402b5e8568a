package graft

import graft.operators.AsOfJoin

class AsOfJoinSpec extends SparkSpec {

  test("backward as-of picks latest right row at-or-before left ts") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 100L), // event 1, user 10, t=100
      (2L, 10L, 205L),
      (3L, 20L, 50L)
    ).toDF("event_id", "user_id", "ts_ns")
    val right = Seq(
      (101L, 10L, 100L), // equal ts → inclusive match
      (102L, 10L, 200L),
      (103L, 30L, 10L)
    ).toDF("s_event_id", "user_id", "ts_ns")

    val got = AsOfJoin.backward(left, right, "user_id", "ts_ns",
        Map("s_event_id" -> "matched"), rightTieBreak = "s_event_id")
      .select($"event_id", $"matched".cast("long"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap

    assert(got(1L).contains(101L)) // inclusive at equal ts
    assert(got(2L).contains(102L)) // latest of the two priors
    assert(got(3L).isEmpty)        // no right row for user 20
  }

  test("backward carries the WHOLE matched right row, never mixes rows on nulls") {
    import spark.implicits._
    // the matched (latest) right row has b=null: a per-column
    // last(_, ignoreNulls) carry would fabricate (a=2, b="x") — a row
    // that never existed — by reaching back to the older row for b only
    val left = Seq((1L, 10L, 300L)).toDF("event_id", "user_id", "ts_ns")
    val right = Seq(
      (10L, 100L, Some(1L), Some("x")),
      (10L, 200L, Some(2L), None)
    ).toDF("user_id", "ts_ns", "a", "b")
    val row = AsOfJoin.backward(left, right, "user_id", "ts_ns",
        Map("a" -> "m_a", "b" -> "m_b"), rightTieBreak = "a")
      .select($"m_a", $"m_b").head()
    assert(row.getAs[Long]("m_a") == 2L)
    assert(row.isNullAt(1), s"b must be the matched row's null, got ${row.get(1)}")
    // a STRING tie-break stays deterministic (no silent cast-to-long null)
    val rightTie = Seq(
      (10L, 100L, "za", 1L), (10L, 100L, "ab", 2L)
    ).toDF("user_id", "ts_ns", "name", "v")
    val picked = AsOfJoin.backward(left, rightTie, "user_id", "ts_ns",
        Map("v" -> "m_v"), rightTieBreak = "name")
      .select($"m_v").head().getAs[Long]("m_v")
    // backward resolves equal-ts ties to the LARGEST tie-break
    assert(picked == 1L, s"string tie-break must order natively, got $picked")
  }

  test("forward as-of picks earliest right row at-or-after left ts") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 100L), // equal-ts right exists → inclusive
      (2L, 10L, 150L), // between rights → the later one
      (3L, 10L, 300L), // after every right → no match
      (4L, 20L, 50L)   // no rights for the user at all
    ).toDF("event_id", "user_id", "ts_ns")
    val right = Seq(
      (101L, 10L, 100L),
      (102L, 10L, 200L),
      (103L, 30L, 10L)
    ).toDF("p_event_id", "user_id", "ts_ns")
    val got = AsOfJoin.forward(left, right, "user_id", "ts_ns",
        Map("p_event_id" -> "matched"), rightTieBreak = "p_event_id")
      .select($"event_id", $"matched".cast("long"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).contains(101L)) // inclusive at equal ts
    assert(got(2L).contains(102L)) // earliest of the laters
    assert(got(3L).isEmpty)        // nothing after
    assert(got(4L).isEmpty)        // nothing at all
    // brute-force cross-check on a seeded random instance
    val rnd = new scala.util.Random(41)
    val lrows = (1L to 60L).map(i => (i, rnd.nextInt(5).toLong, rnd.nextInt(50).toLong))
    val rrows = (100L to 180L).map(i => (i, rnd.nextInt(5).toLong, rnd.nextInt(50).toLong))
    val gotR = AsOfJoin.forward(
        lrows.toDF("event_id", "user_id", "ts_ns"),
        rrows.toDF("p_event_id", "user_id", "ts_ns"),
        "user_id", "ts_ns", Map("p_event_id" -> "matched"), "p_event_id")
      .select($"event_id", $"matched".cast("long"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    lrows.foreach { case (id, u, t) =>
      val expect = rrows.filter(r => r._2 == u && r._3 >= t)
        .sortBy(r => (r._3, r._1)).headOption.map(_._1)
      assert(gotR(id) == expect, s"event $id: ${gotR(id)} != $expect")
    }
  }

  test("forward ties among right rows resolve to the SMALLEST tie-break") {
    import spark.implicits._
    val left = Seq((1L, 1L, 100L)).toDF("event_id", "user_id", "ts_ns")
    val right = Seq((7L, 1L, 100L), (9L, 1L, 100L))
      .toDF("p_event_id", "user_id", "ts_ns")
    val got = AsOfJoin.forward(left, right, "user_id", "ts_ns",
        Map("p_event_id" -> "matched"), rightTieBreak = "p_event_id")
      .select($"matched".cast("long")).collect()(0).getLong(0)
    assert(got == 7L)
  }

  test("right-side ties broken by tie-break column (highest wins via last)") {
    import spark.implicits._
    val left = Seq((1L, 1L, 100L)).toDF("event_id", "user_id", "ts_ns")
    val right = Seq((7L, 1L, 100L), (9L, 1L, 100L))
      .toDF("s_event_id", "user_id", "ts_ns")
    val got = AsOfJoin.backward(left, right, "user_id", "ts_ns",
        Map("s_event_id" -> "matched"), rightTieBreak = "s_event_id")
      .select($"matched".cast("long")).collect()(0).getLong(0)
    assert(got == 9L)
  }
}
