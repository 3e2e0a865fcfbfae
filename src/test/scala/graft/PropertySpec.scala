package graft

import java.nio.file.Files
import java.time.LocalDate
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core._
import graft.operators.Interlace

/** Property-based semantics checks on randomized interval data:
  * the engine's windowed-delta pipeline must agree with brute-force
  * per-day evaluation for ANY interval layout. */
class PropertySpec extends SparkSpec {

  /** Drive a scalacheck generator over fixed seeds (the
    * scalatest-scalacheck bridge is not on the offline classpath). */
  private def forSeeds[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }
  import spark.implicits._

  private val start = LocalDate.parse("2020-01-01")
  private val endIncl = LocalDate.parse("2020-01-20")

  private case class Iv(key: Long, from: Int, until: Option[Int])

  private val ivGen: Gen[Iv] = for {
    key <- Gen.choose(0L, 4L)
    from <- Gen.choose(-5, 25)
    len <- Gen.choose(0, 15)
    open <- Gen.prob(0.15)
  } yield Iv(key, from, if (open) None else Some(from + len))

  test("keyJoinFeatures count equals brute-force per-day prevalence") {
    forSeeds(Gen.listOfN(30, ivGen), 12) { ivs =>
      {
        val df = ivs.map(iv => (
            iv.key,
            java.sql.Date.valueOf(start.plusDays(iv.from)),
            iv.until.map(u => java.sql.Date.valueOf(start.plusDays(u)))))
          .toDF("key_k", "valid_from", "valid_until")
        val sliced = Intervals.slice(df, start.toString, endIncl.toString)
        val out = KeyJoinFeatures(sliced, "n", "key_k", Aggregators.Count,
          Seq.empty, Seq.empty, start.toString, endIncl.toString)
          .orderBy("date").as[(java.sql.Date, Long)].collect()

        val expected = (0 to 19).map { d =>
          ivs.count(iv => iv.from <= d && iv.until.forall(_ > d)).toLong
        }
        assert(out.map(_._2).toSeq == expected)
        assert(out.map(_._1.toString).toSeq ==
          (0 to 19).map(d => start.plusDays(d).toString))
      }
    }
  }

  /** interlace (like the reference's SCDB input contract) expects each
    * source table to be SCD-valid: intervals disjoint per key. Clip the
    * random intervals into that shape. */
  private def disjointPerKey(ivs: Seq[Iv]): Seq[Iv] =
    ivs.groupBy(_.key).values.flatMap { g =>
      g.sortBy(_.from).foldLeft((Seq.empty[Iv], Int.MinValue)) {
        case ((acc, hi), iv) =>
          if (hi == Int.MaxValue) (acc, hi) // previous open-ended: drop rest
          else {
            val from = math.max(iv.from, hi)
            iv.until match {
              case None => (acc :+ Iv(iv.key, from, None), Int.MaxValue)
              case Some(u) if u > from =>
                (acc :+ Iv(iv.key, from, Some(u)), u)
              case _ => (acc, hi)
            }
          }
      }._1
    }.toSeq

  test("scd2 time travel recovers every snapshot version exactly") {
    val kvGen = Gen.listOfN(12,
      Gen.zip(Gen.choose(0L, 5L), Gen.choose(0, 3)))
      .map(_.distinctBy(_._1)) // one row per key per version
    forSeeds(Gen.listOfN(3, kvGen), 8) { versions =>
      val tss = Seq("t1", "t2", "t3")
      var table = Option.empty[org.apache.spark.sql.DataFrame]
      versions.zip(tss).foreach { case (v, ts) =>
        val df = v.toDF("id", "v")
        table = Some(Scd2.updateSnapshot(table, df, ts, Seq("id", "v"))
          .localCheckpoint(true))
      }
      versions.zip(tss).foreach { case (v, ts) =>
        val got = Scd2.sliceAt(table.get, ts)
          .select("id", "v").as[(Long, Int)].collect().toSet
        assert(got == v.toSet, s"snapshot at $ts not recovered")
      }
    }
  }

  test("scd2 merge matches a multiset fold with duplicate rows") {
    // few distinct rows, so copies repeat inside one snapshot and
    // across snapshots
    val snapGen = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(0L, 2L), Gen.choose(0, 1))))
    forSeeds(Gen.choose(3, 4).flatMap(Gen.listOfN(_, snapGen)), 12) {
      snaps =>
      type V = ((Long, Int), String, Option[String])
      // per row: keep the oldest min(open, n) open copies, close the
      // rest at ts, insert the n - open copies the table lacks
      def fold(table: Seq[V], snap: Seq[(Long, Int)], ts: String): Seq[V] = {
        val (open, closed) = table.partition(_._3.isEmpty)
        val n = snap.groupBy(identity).view.mapValues(_.size).toMap
        val byRow = open.groupBy(_._1)
        closed ++ (byRow.keySet ++ n.keySet).toSeq.flatMap { row =>
          val cur = byRow.getOrElse(row, Seq.empty).sortBy(_._2)
          val k = n.getOrElse(row, 0)
          cur.take(k) ++ cur.drop(k).map(v => (row, v._2, Some(ts))) ++
            Seq.fill(k - cur.size)((row, ts, Option.empty[String]))
        }
      }
      val tss = snaps.indices.map(i => s"t${i + 1}")
      var table = Option.empty[org.apache.spark.sql.DataFrame]
      var expected = Seq.empty[V]
      snaps.zip(tss).foreach { case (snap, ts) =>
        table = Some(Scd2.updateSnapshot(table, snap.toDF("id", "v"), ts,
          Seq("id", "v")).localCheckpoint(true))
        expected = fold(expected, snap, ts)
      }
      val got = table.get.select("id", "v", Scd2.FromTs, Scd2.UntilTs)
        .as[(Long, Int, String, Option[String])].collect()
        .map { case (id, v, f, u) => ((id, v), f, u) }.toSeq
      def key(r: V) = (r._1._1, r._1._2, r._2, r._3.getOrElse(""))
      assert(got.sortBy(key) == expected.sortBy(key),
        s"snapshots $snaps")
    }
  }

  test("interlace segments tile each key's covered timeline w/o overlap") {
    forSeeds(Gen.zip(Gen.listOfN(8, ivGen), Gen.listOfN(8, ivGen)), 8) {
      case (xs0, ys0) =>
        val xs = disjointPerKey(xs0); val ys = disjointPerKey(ys0)
        def mk(ivs: Seq[Iv], valName: String) =
          ivs.zipWithIndex.map { case (iv, i) => (
              iv.key, s"$valName$i",
              java.sql.Date.valueOf(start.plusDays(iv.from)),
              iv.until.map(u => java.sql.Date.valueOf(start.plusDays(u))))}
            .toDF("key_k", valName, "valid_from", "valid_until")
            // interlace assumes non-degenerate intervals
            .filter(col("valid_until").isNull ||
              col("valid_until") > col("valid_from"))
        val a = mk(xs, "a"); val b = mk(ys, "b")
        val segs = Interlace.interlace(Seq(a, b), Seq("key_k"))
          .select("key_k", "valid_from", "valid_until")
          .as[(Long, java.sql.Date, Option[java.sql.Date])]
          .collect()
        // no overlapping segments per key
        segs.groupBy(_._1).foreach { case (_, g) =>
          val sorted = g.sortBy(_._2.toString)
          sorted.sliding(2).foreach {
            case Array(s1, s2) =>
              assert(s1._3.isDefined && !s2._2.before(s1._3.get),
                s"overlap: $s1 vs $s2")
            case _ => ()
          }
        }
        // every day covered by any source interval appears in some segment
        val all = xs.map((_, true)) ++ ys.map((_, true))
        (0 to 30).foreach { d =>
          val day = java.sql.Date.valueOf(start.plusDays(d))
          all.map(_._1).groupBy(_.key).foreach { case (k, ivs2) =>
            val covered = ivs2.exists(iv => iv.from <= d &&
              iv.until.forall(_ > d) && iv.until.forall(_ > iv.from))
            if (covered) {
              val inSeg = segs.exists(s => s._1 == k &&
                !day.before(s._2) && s._3.forall(day.before))
              assert(inSeg, s"day $day key $k covered but not in a segment")
            }
          }
        }
    }
  }

  test("interlace matches a per-key segment model") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // day offsets; few keys, so rows of one table overlap within a key
    case class R(key: Option[Long], pay: Seq[Option[String]],
                 from: Option[Int], until: Option[Int])
    def rowGen(nPay: Int): Gen[R] = for {
      key <- Gen.frequency(6 -> Gen.choose(0L, 2L).map(Option(_)),
        1 -> Gen.const(None))
      pay <- Gen.listOfN(nPay, Gen.frequency(
        5 -> Gen.choose(0, 9).map(i => Option(s"p$i")), 1 -> Gen.const(None)))
      from <- Gen.frequency(9 -> Gen.choose(0, 12).map(Option(_)),
        1 -> Gen.const(None))
      // negative lengths are inverted intervals, zero is empty
      until <- Gen.frequency(2 -> Gen.const(None),
        8 -> Gen.choose(-3, 6).map(l => Option(from.getOrElse(6) + l)))
    } yield R(key, pay, from, until)
    // "v" is shared by the first two tables; the third has no payload
    val names = Seq(Seq("v", "a"), Seq("v", "b"), Seq.empty[String])
    val tablesGen = Gen.choose(2, 3).flatMap(n => Gen.sequence[Seq[Seq[R]], Seq[R]](
      names.take(n).map(ns => Gen.choose(0, 10)
        .flatMap(Gen.listOfN(_, rowGen(ns.size))))))
    def day(i: Int) = java.sql.Date.valueOf(start.plusDays(i))
    def offset(d: java.sql.Date) =
      java.time.temporal.ChronoUnit.DAYS.between(start, d.toLocalDate).toInt

    type Out = (Option[Long], Seq[Option[String]], Option[Int], Option[Int])
    // today's semantics: per key, segments between consecutive distinct
    // non-NULL breakpoints; per table, the rows valid at the segment
    // start; one output row per combination, NULL for a table with none
    def model(tabs: Seq[Seq[R]]): Seq[Out] = {
      val outNames = names.take(tabs.size).flatten.distinct
      tabs.flatten.map(_.key).distinct.flatMap { k =>
        val byTab = tabs.map(_.filter(_.key == k))
        val points = byTab.flatten.flatMap(r => r.from.toSeq ++ r.until)
          .distinct.sorted
        points.zip(points.tail.map(Option(_)) :+ None).flatMap {
          case (s, u) =>
            val valid = byTab.map(_.filter(r =>
              r.from.exists(_ <= s) && r.until.forall(_ > s)))
            if (valid.forall(_.isEmpty)) Nil
            else valid.map(v => if (v.isEmpty) Seq(None) else v.map(Option(_)))
              .foldLeft(Seq(Seq.empty[Option[R]]))((acc, opts) =>
                for (a <- acc; o <- opts) yield a :+ o)
              .map { combo =>
                val pays = outNames.map(c => combo.indices.flatMap { i =>
                  val j = names(i).indexOf(c)
                  if (j < 0) None else combo(i).flatMap(_.pay(j))
                }.headOption)
                (k, pays, Option(s), u)
              }
        }
      }
    }

    forSeeds(tablesGen, 16) { tabs =>
      val dfs = tabs.zip(names).map { case (rs, ns) =>
        val schema = StructType(
          StructField("key_k", LongType) +: ns.map(StructField(_, StringType)) :+
            StructField("valid_from", DateType) :+
            StructField("valid_until", DateType))
        spark.createDataFrame(java.util.Arrays.asList(rs.map(r => Row.fromSeq(
          r.key.getOrElse(null) +: r.pay.map(_.orNull) :+
            r.from.map(day).orNull :+ r.until.map(day).orNull)): _*), schema)
      }
      val out = Interlace.interlace(dfs, Seq("key_k"))
      val outNames = names.take(tabs.size).flatten.distinct
      assert(out.schema.map(f => f.name -> f.dataType) ==
        (("key_k" -> LongType) +: outNames.map(_ -> StringType)) ++
          Seq("valid_from" -> DateType, "valid_until" -> DateType))
      val got: Seq[Out] = out.collect().toSeq.map { r =>
        (Option(r.get(0)).map(_.asInstanceOf[Long]),
          outNames.indices.map(i => Option(r.getString(i + 1))),
          Option(r.getDate(outNames.size + 1)).map(offset),
          Option(r.getDate(outNames.size + 2)).map(offset))
      }
      def key(o: Out) = o.toString
      assert(got.sortBy(key) == model(tabs).sortBy(key), s"tables $tabs")
    }
  }
}
