package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Dedup, Layout, Profile, Splits}

/** Property-based checks for the round-4 operators: the Spark results
  * must agree with brute-force plain-Scala evaluation for ANY input
  * drawn from the generators (fixed seeds — the scalatest-scalacheck
  * bridge is not on the offline classpath).
  */
class OpsPropertySpec extends SparkSpec {
  import spark.implicits._

  private def forSeeds[T](gen: Gen[T], n: Int)(body: T => Unit): Unit =
    (1 to n).foreach { i =>
      body(gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    }

  private val rowsGen: Gen[List[(Long, String, Long)]] =
    Gen.listOfN(60, for {
      id <- Gen.choose(0L, 1000000L)
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-500L, 500L)
    } yield (id, g, v)).map(_.distinctBy(_._1))

  test("winsorize: clamped to in-group values, order-stable, bounded") {
    forSeeds(rowsGen, 8) { rows =>
      val df = rows.toDF("id", "g", "v")
      val out = Profile.winsorize(df, "g", "v", loBp = 500, hiBp = 9500)
        .select("id", "g", "v", "winsorized")
        .as[(Long, String, Long, Long)].collect()
      assert(out.length == rows.length)
      val byG = rows.groupBy(_._2)
      def rankAt(bp: Int, n: Int): Int =
        math.max(1, ((n.toLong * bp + 9999L) / 10000L).toInt)
      out.foreach { case (id, g, v, wv) =>
        val vs = byG(g).map(_._3).sorted
        val lo = vs(rankAt(500, vs.size) - 1)
        val hi = vs(rankAt(9500, vs.size) - 1)
        assert(wv == math.min(math.max(v, lo), hi),
          s"id=$id g=$g v=$v: got $wv, bounds [$lo,$hi]")
        assert(vs.contains(wv)) // always an actual in-group value
      }
    }
  }

  test("samplePerGroup: exact size, prefix nesting, membership by hash") {
    forSeeds(rowsGen, 8) { rows =>
      val df = rows.toDF("id", "g", "v")
      for (k <- Seq(1, 5, 20)) {
        val got = Splits.samplePerGroup(df, "g", "id", k, seed = "p")
          .select("g", "id", "sample_rank")
          .as[(String, Long, Int)].collect()
        val byG = rows.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
        // exact min(k, |g|) per group, ranks are 1..size
        got.groupBy(_._1).foreach { case (g, s) =>
          assert(s.length == math.min(k, byG(g).size))
          assert(s.map(_._3).sorted.toSeq == (1 to s.length))
        }
        byG.keys.foreach(g => assert(got.exists(_._1 == g)))
      }
      // nesting: the k=5 sample is exactly the rank<=5 slice of k=20
      val s20 = Splits.samplePerGroup(df, "g", "id", 20, seed = "p")
        .select("id", "sample_rank").as[(Long, Int)].collect().toMap
      val s5 = Splits.samplePerGroup(df, "g", "id", 5, seed = "p")
        .select("id", "sample_rank").as[(Long, Int)].collect().toMap
      assert(s5 == s20.filter(_._2 <= 5))
    }
  }

  test("compactionPlan: cumsum parity, monotone targets, size bound") {
    val manifestGen: Gen[List[(String, Long, Long)]] =
      Gen.listOfN(40, for {
        p <- Gen.oneOf("x", "y")
        f <- Gen.choose(0L, 30L)
        b <- Gen.choose(0L, 3000L)
      } yield (p, f, b)).map(_.distinctBy(t => (t._1, t._2)))
    forSeeds(manifestGen, 8) { files =>
      val target = 1000L
      val plan = Layout.compactionPlan(files.toDF("p", "f", "b"),
        "p", "f", "b", target)
        .as[(String, Long, Long, Long)].collect()
        .sortBy(t => (t._1, t._2))
      // plain-Scala cumsum reference
      var cum = Map.empty[String, Long].withDefaultValue(0L)
      plan.foreach { case (p, f, b, tf) =>
        cum += p -> (cum(p) + b)
        assert(tf == (cum(p) - 1).max(0L) / target,
          s"($p,$f,$b): got $tf at cum ${cum(p)}")
      }
      // tight packing in aggregate: end-position binning never uses a
      // bin index beyond what the partition's byte total requires —
      // max target_file == ceil(total/target) - 1 exactly (indices may
      // skip where an oversized file spans boundaries, but the LAST
      // index is pinned by the total)
      plan.groupBy(_._1).foreach { case (_, rows) =>
        val total = rows.map(_._3).sum
        if (total > 0)
          assert(rows.map(_._4).max == (total - 1) / target)
      }
    }
  }

  test("minhashProbePortable is exactly the cross-split slice of full LSH") {
    val docsGen: Gen[List[(Long, String)]] =
      Gen.listOfN(24, for {
        id <- Gen.choose(0L, 400L)
        base <- Gen.choose(0, 5)
        len <- Gen.choose(6, 14)
      } yield (id, (0 until len).map(k => s"w${(base + k) % 9}")
        .mkString(" "))).map(_.distinctBy(_._1))
    forSeeds(docsGen, 5) { docs =>
      val df = docs.toDF("doc_id", "text")
      val full = Dedup.minhashLshPortable(df, "doc_id", "text",
        n = 3, numPerms = 8, bands = 4, minMatch = 3)
        .as[(Long, Long, Long)].collect().toSet
      val probed = Dedup.minhashProbePortable(
        df.filter($"doc_id" % 3 === 0), df.filter($"doc_id" % 3 =!= 0),
        "doc_id", "text", n = 3, numPerms = 8, bands = 4, minMatch = 3)
        .as[(Long, Long, Long)].collect().toSet
      val expected = full.collect {
        case (a, b, m) if a % 3 == 0 && b % 3 != 0 => (b, a, m)
        case (a, b, m) if a % 3 != 0 && b % 3 == 0 => (a, b, m)
      }
      assert(probed == expected)
    }
  }

  test("ewmaDaily equals the plain-Scala recurrence on random series") {
    val eventsGen: Gen[List[(String, Int)]] =
      Gen.listOfN(120, for {
        g <- Gen.oneOf("x", "y", "z")
        day <- Gen.choose(0, 25) // gaps + repeats across groups
      } yield (g, day))
    forSeeds(eventsGen, 8) { evs =>
      val df = evs.map { case (g, d) =>
        (g, new java.sql.Timestamp(d * 86400000L + 3600000L))
      }.toDF("g", "ts")
      val got = graft.operators.Rolling.ewmaDaily(df, "g", "ts",
        scale = 256L, denom = 4L)
        .select(col("g"), datediff(col("date"), lit("1970-01-01")),
          col("n"), col("ewma_scaled"))
        .as[(String, Int, Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
      evs.groupBy(_._1).foreach { case (g, rows) =>
        val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong)
          .toSeq.sortBy(_._1)
        var carry = Option.empty[Long]
        val expect = counts.map { case (d, n) =>
          val e = carry match {
            case None => n * 256L
            case Some(p) => (p * 3L + n * 256L) >> 2
          }
          carry = Some(e)
          (g, d, n, e)
        }
        assert(got(g).toSeq == expect, s"group $g")
      }
    }
  }

  test("exciseSpans: clean text equals brute-force removal, counts agree") {
    val docsGen: Gen[List[(Long, String)]] =
      Gen.listOfN(16, for {
        id <- Gen.choose(0L, 300L)
        base <- Gen.choose(0, 3)
        len <- Gen.choose(1, 20)
      } yield (id, (0 until len).map(k => s"t${(base * 3 + k) % 7}")
        .mkString(" "))).map(_.distinctBy(_._1))
    val n = 3; val minRun = 2
    forSeeds(docsGen, 5) { docs =>
      val out = Dedup.exciseSpans(docs.toDF("doc_id", "text"),
        "doc_id", "text", n, minRun)
        .as[(Long, Long, Long, String)].collect()
        .map(t => t._1 -> t).toMap
      // brute force: windows with multiplicity over the whole corpus
      val words = docs.map { case (id, t) =>
        id -> t.trim.split("\\s+").toSeq
      }.toMap
      val grams = docs.flatMap { case (id, _) =>
        val ws = words(id)
        val cnt = math.max(1, ws.length - (n - 1))
        (0 until cnt).map(i => (id, i, ws.slice(i, i + n).mkString(" ")))
      }
      val freq = grams.groupBy(_._3).view.mapValues(_.size).toMap
      docs.foreach { case (id, _) =>
        val ws = words(id)
        val dupPos = grams.filter(g => g._1 == id && freq(g._3) >= 2)
          .map(_._2).sorted
        // maximal consecutive runs >= minRun → covered word positions
        val runs = dupPos.foldLeft(List.empty[List[Int]]) {
          case (acc, p) if acc.nonEmpty && acc.head.head == p - 1 =>
            (p :: acc.head) :: acc.tail
          case (acc, p) => List(p) :: acc
        }.filter(_.size >= minRun)
        val covered = runs.flatMap(r =>
          r.min to math.min(r.max + n - 1, ws.length - 1)).toSet
        val kept = ws.indices.filterNot(covered).map(ws)
        val (nw, nr, clean) =
          (out(id)._2, out(id)._3, out(id)._4)
        assert(nw == ws.length)
        assert(clean == kept.mkString(" "), s"doc $id")
        assert(nr == ws.length - kept.size)
      }
    }
  }

  test("robustOutliers: median, MAD, scores and flags equal brute force") {
    forSeeds(rowsGen, 8) { rows =>
      val df = rows.toDF("id", "g", "v")
      val out = Profile.robustOutliers(df, "g", "v", threshBp = 20000)
        .select("id", "g", "v", "median", "mad", "score_bp", "is_outlier")
        .as[(Long, String, Long, Long, Long, Long, Int)].collect()
      assert(out.length == rows.length)
      val byG = rows.groupBy(_._2)
      def lowerMed(vs: Seq[Long]): Long =
        vs.sorted.apply(((vs.size + 1) / 2) - 1)
      out.foreach { case (_, g, v, med, mad, score, flag) =>
        val vs = byG(g).map(_._3)
        val m = lowerMed(vs)
        val d = lowerMed(vs.map(x => math.abs(x - m)))
        assert(med == m && mad == d, s"group $g median/mad")
        assert(score == math.abs(v - m) * 10000L / math.max(d, 1L))
        assert(flag == (if (score >= 20000L) 1 else 0))
      }
    }
  }

  test("topVocabPerGroup: equals brute-force k-th-largest threshold filter") {
    val docsGen: Gen[List[(Long, String, String)]] =
      Gen.listOfN(20, for {
        id <- Gen.choose(0L, 500L)
        g <- Gen.oneOf("en", "de")
        words <- Gen.listOfN(12, Gen.oneOf(
          "a", "b", "c", "d", "e", "f", "g", "h"))
      } yield (id, g, words.mkString(" "))).map(_.distinctBy(_._1))
    val k = 3
    forSeeds(docsGen, 6) { docs =>
      val out = graft.operators.Chunking.topVocabPerGroup(
          docs.toDF("doc_id", "lang", "text"), "lang", "text", k)
        .as[(String, String, Long)].collect().toSet
      val counts = docs
        .flatMap { case (_, g, t) => t.split("\\s+").map(w => (g, w)) }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expected = counts.keys.groupBy(_._1).flatMap { case (g, keys) =>
        // keys is a Set — map counts over a Seq or tied values collapse
        val cs = keys.toSeq.map(counts).sorted(Ordering[Long].reverse)
        val thr = cs(math.min(k, cs.length) - 1)
        keys.filter(kk => counts(kk) >= thr)
          .map(kk => (g, kk._2, counts(kk)))
      }.toSet
      assert(out == expected)
    }
  }

  test("selection family on a range exceeding Long.MaxValue") {
    val df = Seq((1L, "g", Long.MinValue), (2L, "g", Long.MaxValue))
      .toDF("id", "g", "v")
    // rankRows still fails fast — its bucket math subtracts the span
    intercept[IllegalArgumentException] {
      graft.operators.Selection.rankRows(df, "g", "v")
    }
    // valueAtRanks' driver fast path uses floor-shift buckets (no
    // subtraction), so the full long domain now RESOLVES exactly...
    val got = graft.operators.Selection.valueAtRanks(df, "g", "v",
        Seq("m" -> "(__n + 1L) div 2L", "mx" -> "__n"))
      .select("label", "value").as[(String, Long)].collect().toMap
    assert(got == Map("m" -> Long.MinValue, "mx" -> Long.MaxValue))
    // ...while the over-budget shuffled fallback keeps the fail-fast
    intercept[IllegalArgumentException] {
      graft.operators.Selection.valueAtRanks(df, "g", "v",
        Seq("m" -> "(__n + 1L) div 2L"), driverBudgetRows = 1)
    }
  }

  test("rankRows: RANK() semantics vs brute force, narrow and >2^32 ranges") {
    // a NULL group key and a non-string group column beside the string
    // one: both rank paths must treat them alike
    val gen: Gen[List[(Long, Option[String], Option[Int], Long)]] =
      rowsGen.map(_.map { case (id, g, v) =>
        (id, Option.when(id % 7 != 0)(g),
          Option.when(id % 5 != 0)((id % 3).toInt), v)
      })
    forSeeds(gen, 6) { rows =>
      // narrow (all values within 2^32) and wide (spread over 2^40 so
      // the tie-refinement path runs) variants of the same data
      for (scale <- Seq(1L, 1L << 40); gc <- Seq("g", "k")) {
        val scaled = rows.map { case (id, g, k, v) => (id, g, k, v * scale) }
        val df = scaled.toDF("id", "g", "k", "v")
        // the driver rank table (default budget) and the distributed
        // bucket path (budget 0) must agree row for row and in schema
        val driver = graft.operators.Selection
          .rankRowsWithBounds(df, gc, "v")._1
        val distributed = graft.operators.Selection
          .rankRowsWithBounds(df, gc, "v", driverBudgetRows = 0)._1
        assert(driver.schema == distributed.schema,
          s"${driver.schema} vs ${distributed.schema}")
        val out = driver.collect()
        assert(out.sortBy(_.getLong(0)).toSeq ==
          distributed.collect().sortBy(_.getLong(0)).toSeq)
        assert(out.length == scaled.length)
        val gi = df.columns.indexOf(gc)
        val byG = scaled.groupBy(r => r.productElement(gi) match {
          case o: Option[_] => o.getOrElse(null)
        })
        out.foreach { r =>
          val vs = byG(r.get(gi)).map(_._4)
          val v = r.getAs[Long]("v")
          assert(r.getAs[Long]("n") == vs.length)
          assert(r.getAs[Long]("rank") == vs.count(_ < v) + 1,
            s"rank of $v in ${r.get(gi)}")
        }
      }
    }
  }

  test("dedupLines: equals brute-force boilerplate removal; blanks survive") {
    // lines drawn from a small pool so cross-doc boilerplate emerges;
    // blank and whitespace-only lines mixed in as structure
    val docsGen: Gen[List[(Long, String)]] =
      Gen.listOfN(14, for {
        id <- Gen.choose(0L, 300L)
        nLines <- Gen.choose(1, 8)
        lines <- Gen.listOfN(nLines,
          Gen.oneOf("cookie banner", "nav menu", "  cookie banner  ",
            "", "   ", "body one", "body two", "unique tail"))
      } yield (id, lines.mkString("\n"))).map(_.distinctBy(_._1))
    val minDocs = 3
    forSeeds(docsGen, 6) { docs =>
      val out = Dedup.dedupLines(docs.toDF("doc_id", "text"),
          "doc_id", "text", minDocs)
        .as[(Long, Long, Long, String)].collect()
        .map(t => t._1 -> t).toMap
      // brute force: doc frequency of each trimmed non-blank line
      val split = docs.map { case (id, t) => id -> t.split("\n", -1).toSeq }
      val freq = split.flatMap { case (id, ls) =>
        ls.map(_.trim).filter(_.nonEmpty).distinct.map(l => (l, id))
      }.distinct.groupBy(_._1).view.mapValues(_.size).toMap
      split.foreach { case (id, ls) =>
        val kept = ls.filter(l =>
          l.trim.isEmpty || freq(l.trim) < minDocs)
        val (_, nl, nr, clean) = out(id)
        assert(nl == ls.length)
        assert(nr == ls.length - kept.length)
        assert(clean == kept.mkString("\n"), s"doc $id")
      }
    }
  }

  test("frontier2d: duplication-invariant set, dominated adds are no-ops") {
    val ptsGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(80, for {
        x <- Gen.choose(0L, 60L); y <- Gen.choose(0L, 60L)
      } yield (x, y))
    forSeeds(ptsGen, 6) { pts =>
      def front(rows: Seq[(Long, Long)]): Set[(Long, Long)] =
        graft.operators.Skyline.frontier2d(rows.toDF("x", "y"), "x", "y")
          .as[(Long, Long, Long)].collect()
          .map(t => (t._1, t._2)).toSet
      val base = front(pts)
      // duplicating every row leaves the frontier SET unchanged
      assert(front(pts ++ pts) === base)
      // adding a point dominated by an existing frontier point changes
      // nothing
      val (fx, fy) = base.head
      assert(front(pts :+ ((fx + 1, fy + 1))) === base)
      // a strictly-dominating-everything point becomes the sole member
      assert(front(pts :+ ((-1L, -1L))) === Set((-1L, -1L)))
    }
  }

  test("modeValue: adding copies of the mode keeps it; counts exact") {
    forSeeds(rowsGen, 6) { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("id", "g", "v").drop("id")
        val out = Profile.modeValue(df, "g", "v")
          .as[(String, Long, Long, Long, Long)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        rows.groupBy(_._2).foreach { case (g, rs) =>
          val counts = rs.groupBy(_._3).view.mapValues(_.size.toLong)
          val mc = counts.values.max
          val mv = counts.filter(_._2 == mc).keys.min
          assert(out(g) === ((mv, mc)), s"group $g")
        }
        // add 3 more copies of group-a's mode (if present): still mode
        out.get("a").foreach { case (mv, mc) =>
          val boosted = rows.map(r => (r._2, r._3)) ++
            Seq.fill(3)(("a", mv))
          val out2 = Profile.modeValue(boosted.toDF("g", "v"), "g", "v")
            .as[(String, Long, Long, Long, Long)].collect()
            .map(r => r._1 -> ((r._2, r._3))).toMap
          assert(out2("a") === ((mv, mc + 3)))
        }
      }
    }
  }

  test("timeDecayAttribution: credits sum to 10^4 per conversion, any input") {
    val evGen: Gen[(List[(Long, Long, Long)], List[(Long, Long, Long, String)])] =
      for {
        convs <- Gen.listOfN(10, for {
          u <- Gen.choose(0L, 3L); t <- Gen.choose(0L, 5000L)
        } yield (u, t))
        tchs <- Gen.listOfN(30, for {
          u <- Gen.choose(0L, 3L); t <- Gen.choose(0L, 5000L)
          ch <- Gen.oneOf("a", "b", "c")
        } yield (u, t, ch))
      } yield (
        convs.zipWithIndex.map { case ((u, t), i) => (u, t, 1000L + i) },
        tchs.zipWithIndex.map { case ((u, t, ch), i) => (u, t, i.toLong, ch) })
    forSeeds(evGen, 6) { case (convs, tchs) =>
      val out = graft.operators.Funnels.timeDecayAttribution(
          convs.toDF("u", "ts", "id"), tchs.toDF("u", "ts", "id", "ch"),
          "u", "ts", "id", "ch", windowUs = 1000L, halfLifeUs = 200L)
        .as[(String, Long, Long, Long)].collect()
      assert(out.map(_._4).sum === 10000L * convs.size)
    }
  }

  test("holtDaily: constant series has constant level and zero trend") {
    def t(d: Int) = new java.sql.Timestamp(d * 86400000L)
    val rows = (0 until 12).flatMap(d => Seq.fill(4)(("g", t(d))))
    val out = graft.operators.Rolling.holtDaily(
        rows.toDF("g", "ts"), "g", "ts")
      .as[(String, java.sql.Date, Long, Long, Long, Long)].collect()
    assert(out.length === 12)
    out.foreach { r =>
      assert(r._4 === 4L * 256L && r._5 === 0L && r._6 === 4L * 256L)
    }
  }
}
