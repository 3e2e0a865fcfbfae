package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // sanctioned constant-group windows over bucket aggregates (see
    // Verify) — drop the per-query "No Partition Defined" noise
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Warm the session (codegen, file index, shuffle, window and
    // broadcast machinery) so the first timed query per table doesn't
    // absorb JVM/session startup.
    try {
      import org.apache.spark.sql.functions._
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      }
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().count()
      li.limit(1000).withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("l_returnflag").orderBy("l_orderkey"))).count()
      li.limit(1000).join(
        broadcast(spark.read.parquet(s"$sfDir/nation.parquet")),
        col("l_suppkey") % 25 === col("n_nationkey")).count()
    } catch { case _: Throwable => () }
    // Optional comma-separated query filter for local profiling; the
    // driver sets neither, so it always times the full set.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // min-of-3 by default: single-run timings of sub-second queries in
    // a shared ~100-query JVM carry multi-second GC/cache noise (r4
    // reported nine phantom >2x "regressions" this way, all disproved
    // on a clean JVM). The reported number per query is the min.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    def timed(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // an operator's leftover cache must not speed up (or crowd out)
      // later iterations/queries — measure plans, not JVM history.
      // The gc() nudges the ContextCleaner to drop unreferenced
      // localCheckpoint blocks the operators released.
      spark.catalog.clearCache()
      System.gc()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      (System.nanoTime() - t0) / 1e9
    }
    // Per-query CONSECUTIVE min-of-`repeat` (comparable round-over-
    // round; back-to-back repeats share the query's own JIT/codegen
    // warmth, which is also the recurring-production posture), PLUS
    // one whole-list pass in REVERSE name order: cumulative heap/
    // code-cache pressure in the shared JVM inflated late-alphabet
    // queries ~3x at min-of-3 in r5/r6 (q63 9.1 s vs 3.5 s on a clean
    // JVM). The reverse pass gives every query one early-session
    // sample, so the reported min is honest at both ends of the
    // alphabet without losing comparability with earlier rounds.
    val consecutive = selected.map { case (name, fn) =>
      name -> (1 to repeat).map(_ => timed(fn))
    }.toMap
    val reversePass = selected.reverse.map { case (name, fn) =>
      name -> timed(fn)
    }.toMap
    val results = selected.map { case (name, _) =>
      name -> (consecutive(name) :+ reversePass(name))
    }
    // Short keys (q01, q02, …) + 3-decimal values keep the JSON line
    // well under the driver's output-tail window: with full names and
    // raw doubles the r1/r2 lines were ~2.5 KB and the driver's tail
    // capture cut the front of the line → `parsed: null` in BENCH_r*.
    // Locale.ROOT: f"%.3f" under a comma-decimal default locale would
    // emit 1,234 and break the JSON again.
    def fmt(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Two packs reusing a query number would emit duplicate JSON keys
    // and silently corrupt the driver-parsed line — fail loudly instead.
    val shortKeys = results.map(_._1.takeWhile(_ != '_'))
    require(shortKeys.distinct.size == shortKeys.size,
      s"duplicate short query keys: ${shortKeys.diff(shortKeys.distinct).distinct}")
    val mins0 = results.map { case (k, ts) => k -> ts.min }
    // Full-name, full-precision min-of-N for local profiling, and the
    // raw per-iteration times in a SEPARATE file so a one-off noisy run
    // can be diagnosed without overwriting the min-of-N record.
    def writeJson(path: String, body: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(path), body.getBytes)
      catch { case _: Throwable => () }
    // best-ever min per query on this machine: a min > 2x best for an
    // untouched path is shared-JVM pressure, not a plan regression
    val bestPath = "bench_best.json"
    val (bestCpus, prevBest) = parseBest(readFlat(bestPath))
    // bests recorded at another core count say nothing about this
    // pass: no suspects, no adjudication, no best/pending/retire write
    val comparable = sameCores(bestCpus, cpus)
    if (!comparable) System.err.println(s"BEST-SKIP: bests recorded at " +
      s"$bestCpus cores, this pass runs at $cpus; not compared or updated")
    def findSuspects(ms: Seq[(String, Double)]): Seq[String] =
      suspectsOf(comparable, prevBest, ms)
    val suspects0 = findSuspects(mins0)
    // ADJUDICATION runs after the shared session is gone — the fresh
    // JVMs need the machine to themselves for an honest number.
    spark.stop()
    // A query whose shared-JVM min is > 2x its best-ever is almost
    // always heap/code-cache pressure from the ~250 queries that ran
    // before it, not a plan regression (r4-r11 lesson, re-proven every
    // time by hand). Adjudicate AUTOMATICALLY: re-run just that query
    // min-of-`repeat` in a FRESH JVM and substitute the result, so the
    // recorded round number is apples-to-apples. Children are marked
    // (SPARK_GRAFT_CHILD) so they never recurse or touch the artifacts.
    val isChild = sys.env.contains("SPARK_GRAFT_CHILD")
    def freshJvmMin(name: String): Option[Double] = {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
      // run/fork := true, so this JVM's class path IS the app class
      // path (classes dir + spark jars) — reuse it verbatim so the
      // child resolves regardless of the working directory
      val cmd = (javaBin +: addOpens) ++ Seq(s"-Xmx$mem",
        "-cp", System.getProperty("java.class.path"), "graft.Bench")
      try {
        val pb = new ProcessBuilder(cmd: _*)
        pb.environment().put("SPARK_GRAFT_CHILD", "1")
        pb.environment().put("SPARK_GRAFT_ONLY", name)
        pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
        pb.environment().put("SPARK_GRAFT_CPUS", cpus)
        pb.environment().put("SPARK_GRAFT_REPEAT", repeat.toString)
        // stderr INHERITs (Spark logs flow through without filling a
        // pipe buffer and deadlocking the child); stdout goes to a temp
        // file so waitFor can run FIRST — reading the pipe before
        // waitFor made the 600 s timeout unreachable (a hung child that
        // keeps stdout open blocked readAllBytes forever).
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val tmp = java.io.File.createTempFile("graft-bench-", ".out")
        tmp.deleteOnExit()
        pb.redirectOutput(tmp)
        val p = pb.start()
        if (!p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)) {
          p.destroyForcibly(); return None
        }
        val out = new String(java.nio.file.Files.readAllBytes(tmp.toPath))
        tmp.delete()
        """"metric":"total","value":([0-9.]+)""".r
          .findAllMatchIn(out).map(_.group(1).toDouble).toSeq.lastOption
      } catch { case _: Throwable => None }
    }
    val adjudicated: Map[String, Double] =
      if (isChild || suspects0.isEmpty) Map.empty
      else suspects0.flatMap { n =>
        System.err.println(s"SUSPECT $n (min > 2x best-ever): " +
          "re-adjudicating in a fresh JVM...")
        freshJvmMin(n).map { v =>
          System.err.println(s"SUSPECT $n: shared-JVM ${
            fmt(mins0.toMap.apply(n))} s -> fresh-JVM ${fmt(v)} s")
          n -> v
        }
      }.toMap
    val mins = mins0.map { case (k, v) =>
      k -> math.min(v, adjudicated.getOrElse(k, v)) }
    val minMap = mins.toMap
    // still-suspect AFTER a fresh-JVM pass = a real regression signal
    val suspects = findSuspects(mins)
    val total = if (mins.nonEmpty) mins.map(_._2).sum else 0.0
    // An isolated SPARK_GRAFT_ONLY run (with or without the CHILD
    // marker) is a measurement probe, not a round record: writing
    // best/pending/full/iters from a one-query map would wipe every
    // other query's pending first-confirmation and restart its
    // two-confirmation clock (r14 advice). Artifacts are only written
    // by full, non-child passes.
    val isIsolated = only.nonEmpty
    // STALE-BEST RETIREMENT (r16): a best-ever can become unreachable
    // (recorded under a luckier machine state) without ever tripping
    // the full-pass aging path — the query then sits permanently at
    // 1.5-2x "suspect" ratios that mean nothing. Governance: an
    // ISOLATED single-query quiet-machine probe whose min STILL trips
    // the dual rule parks a retire-pending entry; a SECOND isolated
    // probe that re-confirms retires the best to the MIN of the two
    // isolated samples (two fresh-JVM quiet runs bound what is
    // actually reachable — recent shared-pass numbers would mix in
    // contention). A probe below threshold clears the entry: the best
    // was reachable after all. Only bench_best.json's single entry is
    // rewritten; full/iters/pending stay untouched (the r15 ONLY-mode
    // rule protects those from isolated runs).
    // HOST-CONTENTION GUARD (r17, ADVICE): contention episodes span
    // multiple passes (r15: fresh-JVM adjudications up to 4x stable
    // bests on untouched code), so two isolated probes inside one
    // episode would both trip the dual rule and retire a best upward
    // from degraded samples — the exact failure the two-confirmation
    // rule exists to stop. Gate EVERY retire-file mutation (park,
    // retire, clear) on the r15 playbook's pure-CPU spot check: 2M
    // chained MD5 digests, single-threaded, measured AFTER the Spark
    // session is gone. Quiet-machine calibration on this host:
    // 0.28-0.37 s warm (r17 PLANS.md); 0.55 s ≈ 1.6x median catches
    // the documented hypervisor-steal episodes while passing ordinary
    // variance. One discarded warmup run absorbs JIT.
    val SpotQuietBound = 0.55
    def machineQuiet(): Boolean = {
      def spot(): Double = {
        val md = java.security.MessageDigest.getInstance("MD5")
        var x = new Array[Byte](16)
        val t0 = System.nanoTime()
        var i = 0
        while (i < 2000000) { x = md.digest(x); i += 1 }
        // fold the digest into the time at sub-ns scale so the loop
        // can't be dead-code-eliminated
        (System.nanoTime() - t0) / 1e9 + (x(0) & 1) * 1e-12
      }
      spot() // warmup, discarded
      val s = spot()
      System.err.println(f"SPOT-CHECK md5x2M: $s%.3f s (quiet bound $SpotQuietBound%.2f)")
      s <= SpotQuietBound
    }
    if (!isChild && isIsolated && selected.size == 1 && comparable &&
        !machineQuiet()) {
      System.err.println("RETIRE-SKIP: host contention detected; " +
        "retire-pending state left untouched (r15 episode rule)")
    } else if (!isChild && isIsolated && selected.size == 1 && comparable) {
      val (qname, qmin) = mins.head
      val retirePath = "bench_retire.json"
      val retirePending = readFlat(retirePath)
      val updated: Map[String, Double] =
        if (!prevBest.get(qname).exists(trips(_, qmin))) {
          if (retirePending.contains(qname))
            System.err.println(s"RETIRE-CLEAR $qname: isolated ${
              fmt(qmin)} s back under threshold vs best ${
              fmt(prevBest(qname))} s")
          retirePending - qname
        } else retirePending.get(qname) match {
          case Some(first) =>
            val newBest = math.min(first, qmin)
            System.err.println(s"RETIRE $qname: stale best ${
              fmt(prevBest(qname))} s unreachable in two isolated " +
              s"quiet runs (${fmt(first)}, ${fmt(qmin)}) -> best ${
              fmt(newBest)} s")
            writeJson(bestPath,
              bestJson(bestCpus, (prevBest + (qname -> newBest)).toSeq))
            retirePending - qname
          case None =>
            System.err.println(s"RETIRE-PENDING $qname: isolated ${
              fmt(qmin)} s trips vs best ${
              fmt(prevBest.getOrElse(qname, Double.NaN))} s; " +
              "retirement deferred until a second isolated confirmation")
            retirePending + (qname -> qmin)
        }
      writeJson(retirePath, flatJson(updated.toSeq))
    }
    if (!isChild && !isIsolated) {
      // Best-ever AGING: a fresh-JVM adjudication is the cleanest
      // sample this machine can produce — if even THAT is still above
      // the suspect threshold, the recorded best is a stale lucky
      // outlier (q187's 2.37 s r10 sample re-flagged every round for
      // three rounds against a stable ~4.1 s). But ONE confirmation is
      // not enough: r13 reset q260's best from a single noisy 19.7 s
      // adjudication, raising its suspect threshold to ~39 s and
      // masking any real regression below 2x. A reset now needs TWO
      // CONSECUTIVE runs whose fresh-JVM adjudications both exceed the
      // threshold; the first confirmation parks in bench_pending.json
      // and the reset (to the MIN of the two fresh samples) only lands
      // if the next run re-confirms. A query that stops flagging drops
      // out of pending — its best was fine.
      val pendingPath = "bench_pending.json"
      val pending = readFlat(pendingPath)
      val stillFlagged = adjudicated.filter { case (k, v) =>
        prevBest.get(k).exists(trips(_, v)) }
      val resets = stillFlagged.flatMap { case (k, v) =>
        pending.get(k).map(prev => k -> math.min(prev, v)) }
      resets.foreach { case (k, v) =>
        System.err.println(s"BEST-RESET $k: stale best ${
          fmt(prevBest(k))} s aged out -> 2x-confirmed fresh-JVM ${
          fmt(v)} s") }
      val newPending = stillFlagged -- resets.keySet
      newPending.foreach { case (k, v) =>
        System.err.println(s"BEST-RESET-PENDING $k: fresh-JVM ${
          fmt(v)} s still above threshold vs best ${
          fmt(prevBest.getOrElse(k, Double.NaN))} s; reset deferred " +
          "until a second consecutive confirmation") }
      if (comparable) {
        writeJson(pendingPath, flatJson(newPending.toSeq))
        writeJson(bestPath, bestJson(bestCpus,
          (prevBest.keySet ++ minMap.keySet).toSeq.map { k =>
            k -> resets.getOrElse(k,
              math.min(prevBest.getOrElse(k, Double.MaxValue),
                minMap.getOrElse(k, Double.MaxValue)))
          }))
      }
      writeJson("bench_full.json",
        s"""{"metric":"total","value":$total,"unit":"sec","repeat":$repeat,"queries":${
          mins.map { case (k, v) => "\"" + k + "\":" + v }
            .mkString("{", ",", "}")},"suspect":${
          suspects.map("\"" + _ + "\"").mkString("[", ",", "]")},"adjudicated":${
          adjudicated.toSeq.sorted.map { case (k, v) => "\"" + k + "\":" + v }
            .mkString("{", ",", "}")},"aged_out":${
          resets.toSeq.sorted.map { case (k, _) =>
            "\"" + k + "\":" + prevBest(k) }
            .mkString("{", ",", "}")},"sf":"$sfDir"}\n""")
      // bench_iters is APPEND-ONLY (one JSON object per line — JSON
      // Lines; read with a per-line json parse): overwriting lost the
      // r5 clean-JVM adjudication baselines, and a .json name makes
      // whole-file json.load choke on concatenated records.
      val itersLine =
        s"""{"repeat":$repeat,"queries":${
          results.map { case (k, ts) =>
            "\"" + k + "\":" + ts.mkString("[", ",", "]")
          }.mkString("{", ",", "}")},"adjudicated":${
          adjudicated.toSeq.sorted.map { case (k, v) => "\"" + k + "\":" + v }
            .mkString("{", ",", "}")},"sf":"$sfDir"}\n"""
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_iters.jsonl"), itersLine.getBytes,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => () }
    }
    // ONE summary line with a BYTE-BUDGETED per-query map (r18, r17
    // verdict item 2: PERF's per_query was empty for two rounds
    // because the driver only parses this stdout line). The full
    // 285-query map is ~3.5 KB and the driver's tail capture is 2000
    // bytes (measured from BENCH_r16/r17's "tail" field), which is
    // what truncated the r1/r2 lines to unparseable — so add entries
    // in DESCENDING-time order (the queries where a regression is
    // visible above the job floor) only while the whole line stays
    // under budget; the complete map still lives in bench_full.json.
    // Additive-only: every pre-r18 field is unchanged. See summaryLine.
    val line = summaryLine(fmt(total), suspects,
      mins.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + fmt(v) },
      sfDir)
    // The driver's tail-scrape has parsed to null for 12 rounds (sbt's
    // "[info] " prefix + surrounding log noise defeat it) — ALSO write
    // the summary object to a file it can read directly.
    if (!isChild && !isIsolated) writeJson("bench_summary.json", line + "\n")
    // Printed AFTER spark.stop() so no executor/log line lands behind it.
    println(line)
  }

  /** A flat `{"name":number,...}` JSON map — the best, pending and
    * retire files (crude regex parse: the files are our own). */
  def parseFlat(s: String): Map[String, Double] =
    """"([^"]+)":([-0-9.eE+]+)""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  private def readFlat(path: String): Map[String, Double] =
    try parseFlat(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path))))
    catch { case _: Throwable => Map.empty }

  private def entries(m: Seq[(String, Double)]): Seq[String] =
    m.sorted.map { case (k, v) => "\"" + k + "\":" + v }

  def flatJson(m: Seq[(String, Double)]): String =
    entries(m).mkString("{", ",", "}") + "\n"

  /** Core count of bests recorded without a `_cpus` entry: the
    * documented Bench command runs at SPARK_GRAFT_CPUS=32. */
  val DefaultBestCpus = 32

  /** `bench_best.json`'s map → (the core count its bests were recorded
    * at, per-query bests without that entry). */
  def parseBest(m: Map[String, Double]): (Int, Map[String, Double]) =
    (m.get("_cpus").fold(DefaultBestCpus)(_.toInt), m - "_cpus")

  def bestJson(cpus: Int, best: Seq[(String, Double)]): String =
    (s""""_cpus":$cpus""" +: entries(best)).mkString("{", ",", "}") + "\n"

  /** Bests judge a pass only at the core count they were recorded at
    * (`cpus` is SPARK_GRAFT_CPUS as given). */
  def sameCores(bestCpus: Int, cpus: String): Boolean =
    cpus.trim.toIntOption.contains(bestCpus)

  /** Dual threshold: >2x best for anything over 1 s (the classic
    * phantom-regression signature, q260 r11), plus >1.5x for queries
    * over 3 s (q179's 63% inflation slid under 2x in r12). A bare 1.5x
    * net over-flags sub-2s queries whose fresh-JVM re-runs confirm
    * ordinary variance (q221 1.37->1.57 s) — each false flag costs a
    * ~40 s JVM and pollutes the suspect list's meaning. */
  def trips(best: Double, v: Double): Boolean =
    (v > 2 * best && v > 1.0) || (v > 1.5 * best && v > 3.0)

  /** Queries whose min trips against its best — none when the bests
    * come from another core count (`comparable` false). */
  def suspectsOf(comparable: Boolean, best: Map[String, Double],
                 mins: Seq[(String, Double)]): Seq[String] =
    if (!comparable) Nil
    else mins.collect { case (k, v) if best.get(k).exists(trips(_, v)) => k }

  val LineBudget = 1500

  /** The summary line: `entries` (`"name":secs`, slowest first) are kept
    * while the whole line fits in `LineBudget` bytes. Each candidate is
    * measured with the widest `queries_omitted` the line can carry,
    * `entries.size`, so the printed line never exceeds the budget. */
  def summaryLine(total: String, suspects: Seq[String],
                  entries: Seq[String], sfDir: String): String = {
    def assemble(kept: Int, omitted: Int): String =
      s"""{"metric":"total","value":$total,"unit":"sec","n":${
        entries.size},"suspects":${
        suspects.map("\"" + _ + "\"").mkString("[", ",", "]")},"queries":{${
        entries.take(kept).mkString(",")}},"queries_omitted":$omitted,"queries_file":"bench_full.json","sf":"$sfDir"}"""
    val kept = (1 to entries.size).takeWhile(k =>
      assemble(k, entries.size).getBytes("UTF-8").length <= LineBudget)
      .lastOption.getOrElse(0)
    assemble(kept, entries.size - kept)
  }
}
