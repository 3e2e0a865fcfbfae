package graft

import org.apache.spark.sql.functions._

import graft.core.{Aggregators, KeyJoinFeatures}
import graft.operators.{Dedup, Profile, Similarity, TextIndex}

/** Long-lived-session hygiene: no operator may leave a `cache()`/
  * `persist()` entry behind after its result is consumed. In the shared
  * ~100-query bench JVM the r4 round showed accumulated
  * InMemoryRelations ("Asked to cache already cached data" warnings +
  * multi-second phantom regressions); operators now share work through
  * eager `localCheckpoint` (blocks released by the ContextCleaner once
  * the result is dropped) instead of session-lifetime caches.
  *
  * The assertion is a DELTA on `sc.getPersistentRDDs`: locally
  * checkpointed RDDs are tolerated (they self-release on GC), anything
  * else that appears during the call and survives it is a leak.
  */
class CacheLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = (1 to 60).map { i =>
    (i.toLong, s"alpha beta gamma delta ${"tok" + i % 7} epsilon zeta " +
      s"eta theta ${"w" + i % 5} iota kappa")
  }.toDF("doc_id", "text")

  private lazy val vecs = (1 to 40).map { i =>
    (i.toLong, Array.tabulate(8)(j => ((i * 31 + j * 7) % 13 - 6).toFloat))
  }.toDF("vec_id", "embedding")

  private def cachedNonCheckpointIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd)
        if !org.apache.spark.sql.GraftTestAccess.isLocallyCheckpointed(rdd)
        => id
    }.toSet

  private def assertNoCacheLeak(name: String)(run: => Long): Unit = {
    val before = cachedNonCheckpointIds
    val n = run
    assert(n >= 0)
    val leaked = cachedNonCheckpointIds -- before
    assert(leaked.isEmpty,
      s"$name left ${leaked.size} cached RDD(s) behind: $leaked")
  }

  test("dedup family releases every cache before returning") {
    assertNoCacheLeak("ngramJaccard") {
      Dedup.ngramJaccard(docs, "doc_id", "text", Nil, 3, 0.5).count()
    }
    assertNoCacheLeak("minhashLsh") {
      Dedup.minhashLsh(docs, "doc_id", "text", 8, 4, 0.5).count()
    }
    assertNoCacheLeak("minhashLshPortable") {
      Dedup.minhashLshPortable(docs, "doc_id", "text", 3, 8, 4, 6).count()
    }
    assertNoCacheLeak("minhashProbePortable") {
      Dedup.minhashProbePortable(
        docs.filter($"doc_id" % 2 === 0), docs.filter($"doc_id" % 2 === 1),
        "doc_id", "text", 3, 8, 4, 4).count()
    }
    assertNoCacheLeak("simhashPairs") {
      Dedup.simhashPairs(docs, "doc_id", "text", 8).count()
    }
    assertNoCacheLeak("nearDupClusters") {
      Dedup.nearDupClusters(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"), "a", "b").count()
    }
  }

  test("index, similarity and profile operators release their caches") {
    assertNoCacheLeak("invertedIndex") {
      TextIndex.invertedIndex(docs, "doc_id", "text", minDf = 2).count()
    }
    assertNoCacheLeak("characteristicTerms") {
      TextIndex.characteristicTerms(docs, "doc_id", "text", k = 3).count()
    }
    assertNoCacheLeak("heavyHitters") {
      Profile.heavyHitters(docs.select($"text"), "text", 5).count()
    }
    assertNoCacheLeak("lshTopK") {
      Similarity.lshTopK(vecs, "vec_id", "embedding",
        $"vec_id" % 10 === 0, k = 3, dim = 8).count()
    }
  }

  private def d(s: String) = java.sql.Date.valueOf(s)
  private lazy val obs = Seq((1L, d("2020-01-02"), Option(d("2020-01-04"))),
    (2L, d("2020-01-03"), Option.empty[java.sql.Date]))
    .toDF("key_p", "valid_from", "valid_until")
  private def stratum(name: String, x: String, y: String) =
    Seq((1L, x, d("2019-01-01"), Option.empty[java.sql.Date]),
      (2L, y, d("2019-01-01"), Option.empty[java.sql.Date]))
      .toDF("key_p", name, "valid_from", "valid_until")
  private lazy val strat = stratum("grp", "x", "y")

  test("keyJoinFeatures with 0 and 1 strata leaves no cache behind") {
    assertNoCacheLeak("keyJoinFeatures, no strata") {
      KeyJoinFeatures(obs, "n", "key_p", Aggregators.Count, Nil, Nil,
        "2020-01-01", "2020-01-05").count()
    }
    assertNoCacheLeak("keyJoinFeatures, one stratum") {
      KeyJoinFeatures(obs, "n", "key_p", Aggregators.Count, Seq(strat),
        Seq("grp"), "2020-01-01", "2020-01-05").count()
    }
  }

  test("keyJoinFeatures with 2 and 3 strata leaves no cache behind") {
    // two strata go through Interlace.interlace, unlike 0 or 1
    val strat2 = stratum("grp2", "u", "v")
    val strat3 = stratum("grp3", "s", "t")
    assertNoCacheLeak("keyJoinFeatures, two strata") {
      KeyJoinFeatures(obs, "n", "key_p", Aggregators.Count,
        Seq(strat, strat2), Seq("grp", "grp2"),
        "2020-01-01", "2020-01-05").count()
    }
    assertNoCacheLeak("keyJoinFeatures, three strata") {
      KeyJoinFeatures(obs, "n", "key_p", Aggregators.Count,
        Seq(strat, strat2, strat3), Seq("grp", "grp2", "grp3"),
        "2020-01-01", "2020-01-05").count()
    }
  }
}
