package graft

import org.apache.spark.sql.functions._
import graft.core._
import graft.operators.Interlace

class CoreOpsSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  test("keyJoinFeatures counts daily prevalence from intervals") {
    // person A valid Jan 2 – Jan 4 (excl), person B Jan 3 – open
    val obs = Seq(
      (1L, d("2020-01-02"), Option(d("2020-01-04"))),
      (2L, d("2020-01-03"), Option.empty[java.sql.Date])
    ).toDF("key_p", "valid_from", "valid_until")
    val out = KeyJoinFeatures(obs, "n", "key_p", Aggregators.Count,
      Seq.empty, Seq.empty, "2020-01-01", "2020-01-05")
      .orderBy("date").as[(java.sql.Date, Long)].collect()
    assert(out.map(_._2).toSeq == Seq(0L, 1L, 2L, 1L, 1L))
  }

  test("keyJoinFeatures stratified by an interval attribute") {
    val obs = Seq((1L, d("2020-01-01"), d("2020-01-05"))
    ).toDF("key_p", "valid_from", "valid_until")
    // stratification: group "x" until Jan 3, then "y"
    val strat = Seq(
      (1L, "x", d("2019-01-01"), Option(d("2020-01-03"))),
      (1L, "y", d("2020-01-03"), Option.empty[java.sql.Date])
    ).toDF("key_p", "grp", "valid_from", "valid_until")
    val out = KeyJoinFeatures(obs, "n", "key_p", Aggregators.Count,
      Seq(strat), Seq("grp"), "2020-01-01", "2020-01-04")
      .orderBy("date", "grp")
      .as[(java.sql.Date, String, Long)].collect().toSeq
    val expected = Seq(
      (d("2020-01-01"), "x", 1L), (d("2020-01-01"), "y", 0L),
      (d("2020-01-02"), "x", 1L), (d("2020-01-02"), "y", 0L),
      (d("2020-01-03"), "x", 0L), (d("2020-01-03"), "y", 1L),
      (d("2020-01-04"), "x", 0L), (d("2020-01-04"), "y", 1L))
    assert(out == expected)
  }

  test("interlace segments on breakpoint union and coalesces gaps") {
    val a = Seq((1L, "m", d("2020-01-01"), Option(d("2020-03-01")))
    ).toDF("key_p", "seg", "valid_from", "valid_until")
    val b = Seq((1L, 10.0, d("2020-02-01"), Option.empty[java.sql.Date])
    ).toDF("key_p", "bal", "valid_from", "valid_until")
    val out = Interlace.interlace(Seq(a, b), Seq("key_p"))
      .orderBy("valid_from")
      .select("valid_from", "valid_until", "seg", "bal")
      .collect().map(r => (r.get(0).toString,
        Option(r.get(1)).map(_.toString).orNull,
        r.getAs[String]("seg"), Option(r.get(3)).orNull))
    assert(out.toSeq == Seq(
      ("2020-01-01", "2020-02-01", "m", null),
      ("2020-02-01", "2020-03-01", "m", 10.0),
      ("2020-03-01", null, null, 10.0)))
  }

  test("scd2 lifecycle: close, insert, carry, time travel") {
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val v2 = Seq((1L, "a"), (2L, "c")).toDF("id", "v")
    val s1 = Scd2.updateSnapshot(None, v1, "t1", Seq("id", "v"))
    val s2 = Scd2.updateSnapshot(Some(s1), v2, "t2", Seq("id", "v"))
    val rows = s2.select("id", "v", "from_ts", "until_ts")
      .as[(Long, String, String, Option[String])].collect().toSet
    assert(rows == Set(
      (1L, "a", "t1", None),
      (2L, "b", "t1", Some("t2")),
      (2L, "c", "t2", None)))
    val atT1 = Scd2.sliceAt(s2, "t1").select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(atT1 == Set((1L, "a"), (2L, "b")))
    // change-data-capture between transaction times
    val v3 = Seq((1L, "a")).toDF("id", "v") // delete id 2
    val s3 = Scd2.updateSnapshot(Some(s2), v3, "t3", Seq("id", "v"))
    val ch12 = Scd2.changesBetween(s3, "t1", "t2")
      .select("id", "v", "change").as[(Long, String, String)]
      .collect().toSet
    assert(ch12 == Set((2L, "b", "closed"), (2L, "c", "opened")))
    val ch13 = Scd2.changesBetween(s3, "t1", "t3")
      .select("id", "v", "change").as[(Long, String, String)]
      .collect().toSet
    assert(ch13 == Set((2L, "b", "closed"), (2L, "c", "opened_closed")))
    assert(Scd2.changesBetween(s3, "t3", "t3").count() == 0)
  }

  test("missing ranges finds contiguous gaps") {
    val covered = Seq(d("2020-01-02"), d("2020-01-03"), d("2020-01-06"))
      .toDF("date")
    val out = MissingRanges(covered, "2020-01-01", "2020-01-07")
      .orderBy("start_date")
      .as[(java.sql.Date, java.sql.Date)].collect().toSeq
    assert(out == Seq(
      (d("2020-01-01"), d("2020-01-01")),
      (d("2020-01-04"), d("2020-01-05")),
      (d("2020-01-07"), d("2020-01-07"))))
    // driver sweep over inclusive ranges
    def ld(s: String) = java.time.LocalDate.parse(s)
    def gaps(covered: (String, String)*) =
      MissingRanges(covered.map { case (s, e) => ld(s) -> ld(e) },
        ld("2020-01-01"), ld("2020-01-31"))
        .map { case (s, e) => (s.toString, e.toString) }
    // unsorted
    assert(gaps("2020-01-20" -> "2020-01-25", "2020-01-05" -> "2020-01-09") ==
      Seq("2020-01-01" -> "2020-01-04", "2020-01-10" -> "2020-01-19",
        "2020-01-26" -> "2020-01-31"))
    // overlapping and nested
    assert(gaps("2020-01-03" -> "2020-01-10", "2020-01-08" -> "2020-01-15",
        "2020-01-04" -> "2020-01-06") ==
      Seq("2020-01-01" -> "2020-01-02", "2020-01-16" -> "2020-01-31"))
    // outside the period, or straddling its ends
    assert(gaps("2019-12-01" -> "2019-12-31", "2019-12-20" -> "2020-01-02",
        "2020-01-30" -> "2020-02-10", "2020-03-01" -> "2020-03-05") ==
      Seq("2020-01-03" -> "2020-01-29"))
    // fully covered, in touching pieces
    assert(gaps("2020-01-16" -> "2020-02-01", "2019-12-31" -> "2020-01-15")
      .isEmpty)
    // nothing covered
    assert(gaps() == Seq("2020-01-01" -> "2020-01-31"))
  }

  test("interval slice keeps overlapping rows only") {
    val df = Seq(
      (1L, d("2020-01-01"), Option(d("2020-02-01"))), // overlaps
      (2L, d("2020-03-02"), Option(d("2020-04-01"))), // after
      (3L, d("2019-01-01"), Option(d("2020-01-16"))), // overlaps (vu exclusive)
      (4L, d("2019-01-01"), Option(d("2020-01-10")))  // ends before start
    ).toDF("id", "valid_from", "valid_until")
    val ids = Intervals.slice(df, "2020-01-15", "2020-03-01")
      .select("id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L))
  }

  test("mergePerKey unions touching/overlapping spans, open end absorbs") {
    val df = Seq(
      // key 1: [01-01,01-10) ∪ [01-10,01-20) touch → one span; gap; [02-01,02-05)
      (1L, d("2020-01-01"), Option(d("2020-01-10"))),
      (1L, d("2020-01-10"), Option(d("2020-01-20"))),
      (1L, d("2020-02-01"), Option(d("2020-02-05"))),
      // key 2: open-ended interval swallows the later closed one
      (2L, d("2020-01-01"), None: Option[java.sql.Date]),
      (2L, d("2020-03-01"), Option(d("2020-03-10"))),
      // key 3: overlap strictly inside
      (3L, d("2020-01-01"), Option(d("2020-01-31"))),
      (3L, d("2020-01-10"), Option(d("2020-01-15")))
    ).toDF("key_k", "valid_from", "valid_until")
    val got = Intervals.mergePerKey(df, Seq("key_k"))
      .select(col("key_k"), col("valid_from").cast("string"),
        col("valid_until").cast("string"))
      .as[(Long, String, String)].collect().toSet
    assert(got == Set(
      (1L, "2020-01-01", "2020-01-20"),
      (1L, "2020-02-01", "2020-02-05"),
      (2L, "2020-01-01", null),
      (3L, "2020-01-01", "2020-01-31")))
  }

  test("subtractPerKey and intersectPerKey interval algebra") {
    val a = Seq(
      (1L, d("2020-01-01"), Option(d("2020-01-31"))),
      (2L, d("2020-01-01"), Option(d("2020-01-10")))
    ).toDF("key_k", "valid_from", "valid_until")
    val b = Seq(
      (1L, d("2020-01-10"), Option(d("2020-01-15"))), // punches a hole
      (1L, d("2020-01-20"), Option(d("2020-01-25"))), // second hole
      (2L, d("2019-12-01"), Option(d("2020-02-01")))  // swallows key 2
    ).toDF("key_k", "valid_from", "valid_until")
    def collect(df: org.apache.spark.sql.DataFrame) = df
      .select(col("key_k"), col("valid_from").cast("string"),
        col("valid_until").cast("string"))
      .as[(Long, String, String)].collect().toSet
    assert(collect(Intervals.subtractPerKey(a, b, Seq("key_k"))) == Set(
      (1L, "2020-01-01", "2020-01-10"),
      (1L, "2020-01-15", "2020-01-20"),
      (1L, "2020-01-25", "2020-01-31")))
    assert(collect(Intervals.intersectPerKey(a, b, Seq("key_k"))) == Set(
      (1L, "2020-01-10", "2020-01-15"),
      (1L, "2020-01-20", "2020-01-25"),
      (2L, "2020-01-01", "2020-01-10")))
  }

  test("interval algebra property: day sets match brute force on random inputs") {
    val rnd = new scala.util.Random(17)
    val base = java.time.LocalDate.parse("2020-01-01")
    def randIntervals(n: Int) = (0 until n).map { _ =>
      val k = rnd.nextInt(4).toLong
      val s = rnd.nextInt(40)
      val len = 1 + rnd.nextInt(12)
      (k, java.sql.Date.valueOf(base.plusDays(s)),
        Option(java.sql.Date.valueOf(base.plusDays(s + len))))
    }
    def daySet(rows: Seq[(Long, java.sql.Date, Option[java.sql.Date])]) =
      rows.flatMap { case (k, f, Some(u)) =>
        Iterator.iterate(f.toLocalDate)(_.plusDays(1))
          .takeWhile(_.isBefore(u.toLocalDate)).map(d => (k, d)).toSeq
      case _ => Seq.empty
      }.toSet
    def spansToDays(df: org.apache.spark.sql.DataFrame) = daySet(
      df.select(col("key_k"), col("valid_from"), col("valid_until"))
        .collect().map(r => (r.getLong(0), r.getDate(1),
          Option(r.getDate(2)))).toSeq)
    (0 until 5).foreach { trial =>
      val ar = randIntervals(8 + rnd.nextInt(8))
      val br = randIntervals(8 + rnd.nextInt(8))
      val a = ar.toDF("key_k", "valid_from", "valid_until")
      val b = br.toDF("key_k", "valid_from", "valid_until")
      val union = spansToDays(Intervals.mergePerKey(a, Seq("key_k")))
      assert(union == daySet(ar), s"union trial $trial")
      val diff = spansToDays(Intervals.subtractPerKey(a, b, Seq("key_k")))
      assert(diff == daySet(ar) -- daySet(br), s"diff trial $trial")
      val inter = spansToDays(Intervals.intersectPerKey(a, b, Seq("key_k")))
      assert(inter == daySet(ar).intersect(daySet(br)), s"inter trial $trial")
    }
  }
}
