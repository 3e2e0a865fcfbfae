package graft.core

import java.time.LocalDate

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A single feature's definition (reference: R/2_FeatureHandler.R).
  *
  * @param compute  (store, startDate, endDate) → bitemporal DataFrame with
  *                 `key_*` columns, value columns, `valid_from`,
  *                 `valid_until`
  * @param keyJoin  the aggregator used when this feature participates in
  *                 keyJoinFeatures
  * @param feature  the value column to aggregate (ignored by Count)
  */
final case class FeatureHandler(
    compute: (FeatureStore, String, String) => DataFrame,
    keyJoin: KeyJoinAggregator,
    feature: String,
    get: Option[(FeatureStore, DataFrame) => DataFrame] = None)

/** The transactional seam of the store: how a fully-materialized new
  * table version becomes visible to readers. Everything above this seam
  * (SCD2 merge, compaction, micro-batch ingest) builds the complete new
  * version as a DataFrame and hands it to `publish`; everything below is
  * the storage format's commit protocol.
  *
  * The default [[Committer.Rename]] stages to `<dst>.tmp` and swaps via
  * delete + atomic directory rename — correct on a local or HDFS-like
  * filesystem (single writer is guaranteed by the store's table lock).
  * A warehouse deployment at 100 TB commits through a transactional
  * table format instead (Delta/Iceberg snapshot commit): that is one
  * small `Committer` implementation, and no store semantics change.
  */
trait Committer {
  /** Replace the table at `dst` with the data produced by `write`
    * (invoked with the staging location; the writer is fully configured
    * by the caller — format, partition layout, sort order). A crashed
    * publish must never lose the PREVIOUS version; how small the
    * visibility window is (and whether readers get true snapshot
    * isolation) is the implementation's contract — a transactional
    * table format closes it entirely. */
  def publish(fs: org.apache.hadoop.fs.FileSystem, dst: Path,
              write: String => Unit): Unit

  /** Where the committed version of the table at `dst` currently
    * lives (None = no table). Rename-style committers serve `dst`
    * itself; log-structured committers resolve through their commit
    * log — ALL reads must go through this seam so the storage layout
    * stays the committer's private business. */
  def resolve(fs: org.apache.hadoop.fs.FileSystem,
              dst: Path): Option[Path] =
    if (fs.exists(dst)) Some(dst) else None

  /** Highest committed generation of the table at `dst` (0 = none).
    * Writers capture this BEFORE reading the table they derive from. */
  def currentGen(fs: org.apache.hadoop.fs.FileSystem, dst: Path): Long =
    Committer.currentGen(fs, dst)

  /** Generations whose data is still readable, oldest first. A
    * rename-style committer keeps exactly the head (the swap destroys
    * the previous version); a log-structured committer keeps its
    * retention window. */
  def retainedGens(fs: org.apache.hadoop.fs.FileSystem,
                   dst: Path): Seq[Long] = {
    val g = currentGen(fs, dst)
    if (g > 0 || resolve(fs, dst).isDefined) Seq(g) else Seq.empty
  }

  /** Snapshot read at a specific retained generation (`VERSION AS
    * OF`). Rename-style committers can only serve the head — their
    * swap physically replaces the previous version; ManifestLog
    * serves any generation inside its retention window. None = not
    * retained here. */
  def resolveGen(fs: org.apache.hadoop.fs.FileSystem, dst: Path,
                 gen: Long): Option[Path] =
    if (gen == currentGen(fs, dst)) resolve(fs, dst) else None

  /** CAS-guarded publish: commit the new version as generation
    * `expectedGen + 1`, throwing [[StaleWriteException]] — WITHOUT
    * touching the live table — when any other writer committed since
    * `expectedGen` was captured. The default composes [[publish]] with
    * the marker-file CAS (claim after staging, before the swap), which
    * leaves the claim→swap visibility window the Scaladoc of
    * [[Committer.commitGen]] documents; [[Committer.ManifestLog]]
    * overrides this with a single atomic claim-IS-publish commit. */
  def publishCas(fs: org.apache.hadoop.fs.FileSystem, dst: Path,
                 expectedGen: Long, write: String => Unit): Unit =
    publish(fs, dst, tmp => {
      write(tmp)
      Committer.commitGen(fs, dst, expectedGen)
    })

  /** Logical→physical column mapping of the committed head (identity
    * when empty) — readers project stored physical names back to
    * logical ones through it. Only metadata-capable committers carry
    * a non-identity map. */
  def columnMap(fs: org.apache.hadoop.fs.FileSystem,
                dst: Path): Map[String, String] = Map.empty

  /** The column mapping AT a retained generation — time travel across
    * a rename returns each generation under ITS OWN logical names. */
  def columnMapGen(fs: org.apache.hadoop.fs.FileSystem, dst: Path,
                   gen: Long): Map[String, String] = Map.empty

  /** Metadata-only logical column rename (the Delta/Iceberg
    * column-mapping idea): commit a NEW generation whose manifest
    * reuses the head's data files with an updated logical→physical
    * map — no data rewrite, O(manifest) cost at any table size.
    * Returns the new generation. The default REFUSES: a rename-style
    * committer has no metadata layer, so its only rename path is a
    * physical rewrite (drop + recompute, the reference's posture —
    * R/drop_diseasystore.R:1-40). */
  def renameColumn(fs: org.apache.hadoop.fs.FileSystem, dst: Path,
                   from: String, to: String): Long =
    throw new UnsupportedOperationException(
      s"column rename on $dst: this committer has no metadata layer " +
        "(rename would require a full physical rewrite) — use " +
        "Committer.ManifestLog (adopt() upgrades in place), or drop " +
        "and recompute")
}

/** A publish lost the generation race: another writer committed the
  * table after this writer read it. RETRYABLE by contract — re-read
  * the table (and the generation), re-derive the new version, publish
  * again. Store operations do this automatically (bounded attempts);
  * only a pathologically contended table surfaces it to callers. */
final class StaleWriteException(msg: String)
  extends RuntimeException(msg)

object Committer {
  /** Optimistic-concurrency seam for MULTI-WRITER stores: a
    * monotonically increasing generation per table, advanced by an
    * atomic create-if-absent marker file — the compare-and-swap the
    * bare marker-file lock lacks. Writers capture [[currentGen]]
    * BEFORE reading the table; [[commitGen]] (called inside the
    * staging callback, after the new version is fully written but
    * before the swap) atomically claims `expected + 1` and throws
    * [[StaleWriteException]] if any other writer — same JVM, another
    * driver, another machine — claimed it first: the CAS loser never
    * touches the live table, so a writer whose table lock was wrongly
    * broken as stale can no longer clobber the breaker's commit. The
    * claim primitive is `FileSystem.create(path, overwrite = false)`,
    * atomic on HDFS-like stores (same primitive the table lock uses).
    * Residual window: the winner's marker precedes its two metadata
    * renames by milliseconds, so a reader that captures the gen in
    * that window sees the previous directory contents — closing that
    * fully is what a transactional-format Committer is for. */
  private def gensPath(dst: Path) = new Path(dst.toString + ".gens")

  /** Highest committed generation of the table at `dst` (0 = no
    * generation markers yet — a legacy or brand-new table). */
  def currentGen(fs: org.apache.hadoop.fs.FileSystem, dst: Path): Long = {
    val gp = gensPath(dst)
    if (!fs.exists(gp)) 0L
    else fs.listStatus(gp).iterator.flatMap(s =>
      scala.util.Try(s.getPath.getName.toLong).toOption)
      .foldLeft(0L)(math.max)
  }

  /** Atomically claim generation `expected + 1` for `dst`; throws
    * [[StaleWriteException]] when another writer already did. Old
    * markers are garbage-collected with a trailing window (max-only
    * readers never miss the head). */
  def commitGen(fs: org.apache.hadoop.fs.FileSystem, dst: Path,
                expected: Long, gcKeep: Int = 8): Unit = {
    val next = expected + 1
    val gp = gensPath(dst)
    fs.mkdirs(gp)
    val marker = new Path(gp, next.toString)
    // two layers, like the table lock: the JVM mutex makes the claim
    // atomic between threads of ONE driver; the create-if-absent
    // excludes OTHER processes. On HDFS-like stores create(false) is
    // the atomic primitive; Hadoop's LOCAL create(false) is exists-
    // then-create — NOT atomic across processes (CasCommitSpec's
    // two-JVM race caught a double-claim) — so the file scheme claims
    // through java.io createNewFile, which is O_CREAT|O_EXCL at the
    // OS level.
    val claimed = KeyedLocks.withLock(s"__gens#$gp") {
      if ("file" == fs.getUri.getScheme)
        new java.io.File(marker.toUri.getPath).createNewFile()
      else
        try { fs.create(marker, false).close(); true }
        catch { case _: java.io.IOException => false }
    }
    if (!claimed)
      throw new StaleWriteException(
        s"table $dst advanced past generation $expected (now ≥ " +
          s"${currentGen(fs, dst)}): another writer committed after " +
          "this one read — re-read and retry")
    // A writer stalled across > gcKeep intervening commits could
    // re-create a GC'd marker: its create-if-absent succeeds even
    // though the table is far ahead, and its publish would clobber
    // every newer commit. Verify the claim is actually the head
    // (gcKeep trailing markers guarantee the true head marker still
    // exists, so currentGen is never under-read); otherwise withdraw
    // the marker and fail loudly. A concurrent writer claiming next+1
    // inside this tiny window makes the check fire spuriously — that
    // degrades to one extra retry, never to a lost update.
    val head = currentGen(fs, dst)
    if (head > next) {
      fs.delete(marker, false)
      throw new StaleWriteException(
        s"table $dst advanced past generation $expected (now $head): " +
          s"claimed marker $next is below the GC horizon — this " +
          "writer slept across the retention window; re-read and retry")
    }
    fs.listStatus(gp).foreach { s =>
      scala.util.Try(s.getPath.getName.toLong).toOption
        .filter(_ <= next - gcKeep)
        .foreach(_ => fs.delete(s.getPath, false))
    }
  }

  /** Stage-to-temp + double rename (the local/HDFS default): write to
    * `<dst>.tmp`, park the live table at `<dst>.old`, rename the new
    * version in, drop the backup. Both renames are metadata-atomic on
    * local/HDFS filesystems and their results are CHECKED (a false
    * return — e.g. a cross-filesystem tmp — aborts, rolling the backup
    * back instead of silently losing the table; a failed rollback
    * reports where the parked data lives instead of dropping it on the
    * floor). A publish that finds a dangling `.old` with NO live table
    * (the predecessor crashed between its two renames) RESTORES it
    * before doing anything else — the backup is only deleted once the
    * new version is in place. Readers can still observe a missing path
    * between the two renames — that window is two directory renames
    * wide, not a recursive delete wide; closing it fully is what a
    * transactional-format Committer is for. */
  object Rename extends Committer {
    def publish(fs: org.apache.hadoop.fs.FileSystem, dst: Path,
                write: String => Unit): Unit = {
      val tmp = new Path(dst.toString + ".tmp")
      val old = new Path(dst.toString + ".old")
      // crash recovery: .old with no live table = a predecessor died
      // between parking the previous version and renaming the new one
      // in. Restore the backup first; never start by deleting it.
      if (!fs.exists(dst) && fs.exists(old) && !fs.rename(old, dst))
        throw new java.io.IOException(
          s"publish: could not restore dangling backup $old to $dst")
      if (fs.exists(tmp)) fs.delete(tmp, true) // stale crashed staging
      write(tmp.toString)
      val hadPrev = fs.exists(dst)
      // a stale .old alongside a LIVE table is superseded — safe to drop
      if (fs.exists(old)) fs.delete(old, true)
      if (hadPrev && !fs.rename(dst, old))
        throw new java.io.IOException(
          s"publish: could not park previous version of $dst")
      if (!fs.rename(tmp, dst)) {
        if (hadPrev && !fs.rename(old, dst))
          throw new java.io.IOException(
            s"publish: rename failed for $dst AND the rollback failed — " +
              s"the previous version is parked at $old")
        throw new java.io.IOException(s"publish: rename failed for $dst" +
          (if (hadPrev) " (previous version rolled back)" else ""))
      }
      if (hadPrev) fs.delete(old, true)
    }
  }

  /** From-scratch TRANSACTIONAL committer: a single-manifest commit
    * log, the one-table essence of a Delta/Iceberg snapshot commit
    * (no such jars ship in this environment, so the protocol is
    * implemented directly on the filesystem primitives).
    *
    * Layout: data versions land under `<dst>.mdata/<gen>-<uuid>/`
    * (invisible while staging); the commit log at `<dst>.mlog/` holds
    * one `manifest.<gen>.json` per committed generation naming its
    * data directory. The ATOMIC CREATE OF THE MANIFEST **IS** THE
    * PUBLISH: the manifest body is written to a temp file first and
    * the claim is an atomic link/rename-without-replace, so a visible
    * manifest is always complete, and `currentGen` and `resolve` read
    * the SAME manifest set — there is no instant where the generation
    * has advanced but the data has not. That deletes the Rename
    * committer's claim→swap window entirely: a writer that captures
    * gen G always reads exactly generation G's data, and its commit of
    * G+1 is either the unique winner or a clean
    * [[StaleWriteException]] (CasCommitSpec pins the interleaving that
    * silently lost an update under marker-file CAS). Readers never
    * observe a missing table during a publish — the previous data dir
    * stays in place until its manifest ages past the retention window.
    *
    * Atomic claim primitive: on `file://`, `Files.createLink`
    * (hard-link creation is O_EXCL-atomic at the OS level — Hadoop's
    * local `create(overwrite=false)` is exists-then-create and its
    * local `rename` is POSIX rename, which silently REPLACES);
    * on HDFS-like schemes, `fs.rename(tmp, manifest)`, which refuses
    * an existing destination. Orphan staging dirs from crashed
    * writers sit invisible until their generation prefix falls below
    * the GC horizon. Like [[commitGen]], a claim below the GC horizon
    * (a writer stalled across > gcKeep commits re-creating a GC'd
    * manifest number) is withdrawn and refused — resolve reads the
    * HIGHEST manifest, so such a commit would otherwise be silently
    * invisible. */
  object ManifestLog extends Committer {
    private val GcKeep = 8
    private def logDir(dst: Path) = new Path(dst.toString + ".mlog")
    private def dataDir(dst: Path) = new Path(dst.toString + ".mdata")
    private def manifestName(gen: Long) = f"manifest.$gen%020d.json"
    private def genOf(name: String): Option[Long] = name match {
      case s if s.startsWith("manifest.") && s.endsWith(".json") =>
        scala.util.Try(
          s.stripPrefix("manifest.").stripSuffix(".json").toLong).toOption
      case _ => None
    }

    private def manifests(fs: org.apache.hadoop.fs.FileSystem,
                          dst: Path): Seq[(Long, Path)] = {
      val ld = logDir(dst)
      if (!fs.exists(ld)) Seq.empty
      else fs.listStatus(ld).toSeq
        .flatMap(s => genOf(s.getPath.getName).map(_ -> s.getPath))
        .sortBy(_._1)
    }

    /** Run a read that dereferences a listed manifest, re-running the
      * whole list-then-open when the manifest VANISHED in between
      * ([[adopt]]'s post-claim withdrawal, or a concurrent GC aging
      * the generation out) — the reader serves the surviving listing
      * instead of propagating `FileNotFoundException`. */
    private def tolerantRead[A](read: () => A): A = {
      var left = 3
      while (left > 1) {
        try return read()
        catch { case _: java.io.FileNotFoundException => left -= 1 }
      }
      read()
    }

    override def currentGen(fs: org.apache.hadoop.fs.FileSystem,
                            dst: Path): Long =
      manifests(fs, dst).lastOption.map(_._1).getOrElse(0L)

    private def manifestBody(fs: org.apache.hadoop.fs.FileSystem,
                             mf: Path): String = {
      val in = fs.open(mf)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
        new String(bos.toByteArray, "UTF-8")
      } finally in.close()
    }

    /** The raw `"data"` pointer of a manifest — "." for an adopted
      * legacy directory, else a `.mdata` child name. */
    private def dataNameOf(fs: org.apache.hadoop.fs.FileSystem,
                           mf: Path): String =
      """"data":"([^"]+)"""".r.findFirstMatchIn(manifestBody(fs, mf))
        .map(_.group(1))
        .getOrElse(throw new java.io.IOException(
          s"manifest $mf names no data dir"))

    /** The optional logical→physical `"cols"` map of a manifest
      * (identity when absent). Names are validated to the identifier
      * subset on write, so the flat parse is exact. */
    private def colsOf(fs: org.apache.hadoop.fs.FileSystem,
                       mf: Path): Map[String, String] =
      """"cols":\{([^}]*)\}""".r.findFirstMatchIn(manifestBody(fs, mf))
        .map(m => """"([^"]+)":"([^"]+)"""".r.findAllMatchIn(m.group(1))
          .map(p => p.group(1) -> p.group(2)).toMap)
        .getOrElse(Map.empty)

    private def dataOf(fs: org.apache.hadoop.fs.FileSystem,
                       dst: Path, mf: Path): Path = {
      // "." = an ADOPTED plain-layout generation: the data is the
      // legacy directory itself (see [[adopt]]) — zero-copy upgrade
      val name = dataNameOf(fs, mf)
      if (name == ".") dst else new Path(dataDir(dst), name)
    }

    /** Atomically give a fully-written temp manifest its final name —
      * the claim-IS-publish primitive shared by [[publishCas]] and
      * [[adopt]]. Both branches FAIL (never replace) when another
      * writer's manifest already holds the final name. On `file://`,
      * `Files.createLink` (hard-link creation is O_EXCL-atomic at the
      * OS level — Hadoop's local `create(overwrite=false)` is
      * exists-then-create and its local `rename` silently REPLACES);
      * on HDFS-like schemes, `fs.rename`, which refuses an existing
      * destination. */
    private def claimManifest(fs: org.apache.hadoop.fs.FileSystem,
                              dst: Path, tmp: Path, mf: Path): Boolean =
      KeyedLocks.withLock(s"__manifest#${logDir(dst)}") {
        if ("file" == fs.getUri.getScheme) {
          try {
            java.nio.file.Files.createLink(
              java.nio.file.Paths.get(mf.toUri.getPath),
              java.nio.file.Paths.get(tmp.toUri.getPath))
            fs.delete(tmp, false)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        } else {
          try fs.rename(tmp, mf)
          catch { case _: java.io.IOException => false }
        }
      }

    /** Adopt an existing PLAIN-layout table (e.g. one written by the
      * default [[Rename]] committer) in place — ZERO data copy: write
      * an adoption manifest whose data pointer is the legacy directory
      * itself (`"data":"."`), claimed through the same atomic
      * link/rename primitive as any commit. From that moment the table
      * is a first-class ManifestLog table — multi-writer CAS publishes,
      * retention, and VERSION AS OF all work — and the adopted
      * generation serves the original files byte-identically.
      *
      * The adopted generation CONTINUES the Rename committer's `.gens`
      * numbering (max marker + 1; 1 for a marker-less legacy table), so
      * a writer that captured its generation under Rename and publishes
      * after the migration gets a clean [[StaleWriteException]] instead
      * of a silent renumbering collision.
      *
      * Idempotent: adopting a table that already has manifests is a
      * no-op returning the current head; a concurrent adopt race has
      * one winner and the loser returns success. The legacy directory
      * is NEVER garbage-collected by retention (the GC only touches
      * `.mdata` children), so external engines can keep reading `dst`
      * as the frozen adopted snapshot even after the adopted generation
      * ages out of the retention window. Returns the adopted (or
      * already-current) head generation. */
    def adopt(fs: org.apache.hadoop.fs.FileSystem, dst: Path): Long = {
      val existing = manifests(fs, dst)
      if (existing.nonEmpty) return existing.last._1
      if (!fs.exists(dst))
        throw new java.io.FileNotFoundException(
          s"adopt: no plain-layout table at $dst")
      val gen = Committer.currentGen(fs, dst) + 1
      val ld = logDir(dst)
      fs.mkdirs(ld)
      val uuid = java.util.UUID.randomUUID().toString.take(8)
      val mf = new Path(ld, manifestName(gen))
      val tmp = new Path(ld, manifestName(gen) + s".$uuid.tmp")
      val out = fs.create(tmp, true)
      try out.write(s"""{"gen":$gen,"data":"."}""".getBytes("UTF-8"))
      finally out.close()
      if (!claimManifest(fs, dst, tmp, mf)) {
        fs.delete(tmp, false)
        // a concurrent adopter (or first committer) won the claim —
        // the table is adopted either way
        val now = manifests(fs, dst)
        if (now.nonEmpty) return now.last._1
        throw new java.io.IOException(
          s"adopt: claim failed for $mf with no surviving manifest")
      }
      // Post-claim race guard (the commitGen/publishCas shape): this
      // adoption numbered itself `.gens` head + 1, which can exceed 1 —
      // a concurrent FIRST publishCas (expected gen 0) claims manifest
      // 1, passes ITS head>next guard if this adoption hasn't landed
      // yet, and returns success; the higher-numbered adoption manifest
      // would then serve the LEGACY data over that successfully
      // committed generation. If any other manifest sits BELOW the
      // adoption gen, withdraw the adoption and re-enter: the loser's
      // table is already manifest-logged (idempotent return), and the
      // publisher's generation stays visible. In the symmetric cross
      // window the publisher's own head>next guard fires instead; if
      // BOTH withdraw, the re-entry performs a fresh adoption and the
      // publisher's caller retries its StaleWriteException — degraded
      // to a retry, never to a shadowed commit.
      //
      // RESIDUAL WINDOW (documented, not closed): between the claim
      // above and the withdrawal below, (a) a reader can resolve the
      // adoption generation and momentarily see legacy data shadowing
      // the concurrently committed lower generation — a stale READ,
      // bounded by this window, and tolerated structurally via
      // tolerantRead when the manifest then vanishes under it; and
      // (b) a third writer that CAS-es against the adoption gen in
      // this window commits gen+1 derived from the legacy snapshot,
      // and that commit SURVIVES the withdrawal, shadowing the
      // concurrent lower commit. (b) requires a third writer to read
      // head AND publish inside the claim→withdraw window of a racing
      // adopt — migrations should quiesce writers or hold the table
      // lock (lockTable) around adopt(), which closes it; the
      // single-adopter + concurrent-committers case (the CasCommitSpec
      // race) is fully handled by the withdraw-and-re-enter above.
      if (manifests(fs, dst).exists(_._1 < gen)) {
        fs.delete(mf, false)
        return adopt(fs, dst)
      }
      gen
    }

    override def resolve(fs: org.apache.hadoop.fs.FileSystem,
                         dst: Path): Option[Path] = tolerantRead { () =>
      manifests(fs, dst).lastOption match {
        case Some((_, mf)) => Some(dataOf(fs, dst, mf))
        // legacy fallback: a pre-manifest table adopted by this
        // committer serves its plain directory until the first commit
        case None => if (fs.exists(dst)) Some(dst) else None
      }
    }

    override def columnMap(fs: org.apache.hadoop.fs.FileSystem,
                           dst: Path): Map[String, String] =
      tolerantRead { () =>
        manifests(fs, dst).lastOption
          .map { case (_, mf) => colsOf(fs, mf) }.getOrElse(Map.empty)
      }

    override def columnMapGen(fs: org.apache.hadoop.fs.FileSystem,
                              dst: Path, gen: Long): Map[String, String] =
      tolerantRead { () =>
        manifests(fs, dst).find(_._1 == gen)
          .map { case (_, mf) => colsOf(fs, mf) }.getOrElse(Map.empty)
      }

    private val IdentRe = "[A-Za-z_][A-Za-z0-9_]*".r

    /** Metadata-only column rename: a new generation whose manifest
      * reuses the head's data pointer (including an adopted "." — the
      * adopt-then-rename path) with the updated logical→physical map.
      * CAS at the head: a concurrent commit makes the claim fail with
      * [[StaleWriteException]]. Data written AFTER a rename carries
      * logical names physically, so its manifest resets to the
      * identity map; time travel to pre-rename generations resolves
      * through THEIR maps and returns the old logical names. The
      * committer validates mapping consistency only — schema-aware
      * checks (does `from` exist, does `to` collide) belong to the
      * store layer, which can read the data. */
    override def renameColumn(fs: org.apache.hadoop.fs.FileSystem,
                              dst: Path, from: String,
                              to: String): Long = {
      require(IdentRe.pattern.matcher(from).matches() &&
        IdentRe.pattern.matcher(to).matches(),
        s"rename needs identifier column names, got '$from' -> '$to'")
      require(from != to, s"rename to self: '$from'")
      val ms = manifests(fs, dst)
      if (ms.isEmpty)
        throw new IllegalStateException(
          s"rename on $dst needs a manifest-logged table — adopt() the " +
            "legacy directory first")
      val (gen, headMf) = ms.last
      val dataName = dataNameOf(fs, headMf)
      val cols = colsOf(fs, headMf)
      require(!cols.contains(to),
        s"'$to' is already a mapped logical column on $dst")
      val physical = cols.getOrElse(from, from)
      val newCols = (cols - from) + (to -> physical)
      require(newCols.values.toSeq.distinct.size == newCols.size,
        s"rename '$from' -> '$to' would alias two logical columns to " +
          s"one physical column on $dst")
      val next = gen + 1
      val ld = logDir(dst)
      val colsJson = newCols.toSeq.sorted
        .map { case (l, p) => "\"" + l + "\":\"" + p + "\"" }
        .mkString("{", ",", "}")
      val body =
        s"""{"gen":$next,"data":"$dataName","cols":$colsJson}"""
      val uuid = java.util.UUID.randomUUID().toString.take(8)
      val mf = new Path(ld, manifestName(next))
      val tmp = new Path(ld, manifestName(next) + s".$uuid.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      if (!claimManifest(fs, dst, tmp, mf)) {
        fs.delete(tmp, false)
        throw new StaleWriteException(
          s"table $dst advanced past generation $gen during the " +
            "rename — re-read and retry")
      }
      next
    }

    /** Retained generations of the table, oldest first — the
      * transactional-format `DESCRIBE HISTORY` surface. Older
      * generations age out of the window after `GcKeep` commits. */
    override def retainedGens(fs: org.apache.hadoop.fs.FileSystem,
                              dst: Path): Seq[Long] = {
      val ms = manifests(fs, dst)
      if (ms.isEmpty) { // adopted legacy plain dir = generation 0
        if (fs.exists(dst)) Seq(0L) else Seq.empty
      } else ms.map(_._1)
    }

    /** Snapshot read at a RETAINED generation (`VERSION AS OF`): the
      * manifest's data dir is immutable until its generation ages past
      * the retention window, so the returned path is a consistent
      * point-in-time view regardless of concurrent commits. None when
      * the generation was never committed here or has been GC'd. */
    override def resolveGen(fs: org.apache.hadoop.fs.FileSystem,
                            dst: Path, gen: Long): Option[Path] =
      tolerantRead { () =>
        val ms = manifests(fs, dst)
        if (ms.isEmpty && gen == 0L && fs.exists(dst)) Some(dst)
        else ms.find(_._1 == gen)
          .map { case (_, mf) => dataOf(fs, dst, mf) }
      }

    /** Single-writer publish (table lock held): commit over whatever
      * the head is — same atomic protocol, no expected-gen guard. */
    def publish(fs: org.apache.hadoop.fs.FileSystem, dst: Path,
                write: String => Unit): Unit =
      publishCas(fs, dst, currentGen(fs, dst), write)

    override def publishCas(fs: org.apache.hadoop.fs.FileSystem,
                            dst: Path, expectedGen: Long,
                            write: String => Unit): Unit = {
      val next = expectedGen + 1
      val ld = logDir(dst)
      val dd = dataDir(dst)
      fs.mkdirs(ld)
      val uuid = java.util.UUID.randomUUID().toString.take(8)
      val dataName = f"$next%020d-$uuid"
      // stage the full new version first — invisible until the
      // manifest lands, so a crash here leaves gen AND data untouched
      write(new Path(dd, dataName).toString)
      val body = s"""{"gen":$next,"data":"$dataName"}"""
      val mf = new Path(ld, manifestName(next))
      val tmp = new Path(ld, manifestName(next) + s".$uuid.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
      def withdraw(): Unit = {
        fs.delete(tmp, false)
        fs.delete(new Path(dd, dataName), true)
      }
      // the claim: atomically give the fully-written manifest body its
      // final name — both primitives fail (don't replace) when another
      // writer's manifest.<next> already exists
      val claimed = claimManifest(fs, dst, tmp, mf)
      if (!claimed) {
        withdraw()
        throw new StaleWriteException(
          s"table $dst advanced past generation $expectedGen (now ≥ " +
            s"${currentGen(fs, dst)}): another writer committed after " +
            "this one read — re-read and retry")
      }
      // GC-horizon guard (same shape as commitGen's): resolve serves
      // the HIGHEST manifest, so a claim below the head — possible
      // only when this writer slept across the retention window and
      // its manifest number was GC'd — would be a silently-invisible
      // commit. Withdraw it and surface the staleness instead.
      val head = currentGen(fs, dst)
      if (head > next) {
        fs.delete(mf, false)
        fs.delete(new Path(dd, dataName), true)
        throw new StaleWriteException(
          s"table $dst advanced past generation $expectedGen (now " +
            s"$head): claimed manifest $next is below the GC horizon — " +
            "this writer slept across the retention window; re-read " +
            "and retry")
      }
      // retention: keep the trailing GcKeep manifests (readers mid-scan
      // on a recent version keep their files); drop older manifests and
      // every data dir whose generation prefix aged out — including
      // orphan staging from crashed writers. A data dir REFERENCED by
      // any retained manifest survives regardless of its own prefix:
      // metadata-only generations (renameColumn) reuse an older
      // generation's data, so a rename manifest near the retention
      // boundary must not have its files GC'd from under it.
      manifests(fs, dst).foreach { case (g, p) =>
        if (g <= next - GcKeep) fs.delete(p, false)
      }
      val referenced = manifests(fs, dst)
        .map { case (_, p) => dataNameOf(fs, p) }.toSet
      if (fs.exists(dd)) fs.listStatus(dd).foreach { s =>
        val n = s.getPath.getName
        scala.util.Try(n.takeWhile(_ != '-').toLong).toOption
          .filter(_ <= next - GcKeep)
          .filterNot(_ => referenced.contains(n))
          .foreach(_ => fs.delete(s.getPath, true))
      }
    }
  }
}

/** Base feature store (reference: R/DiseasystoreBase.R).
  *
  * Features are declared in `dsMap` (feature name → loader name) with one
  * `FeatureHandler` per loader; several features may share a loader.
  * `getFeature` is compute-if-missing: ranges already computed for a
  * `sliceTs` (tracked in a log table) are not recomputed; results persist
  * as SCD2-versioned parquet under `storePath`, giving time travel by
  * transaction time.
  *
  * Scale notes: the SCD2 merge is one window per checksum (one shuffle,
  * no join); the swap is an atomic directory rename (at warehouse scale
  * you would commit through a transactional table format instead — the
  * operator semantics are identical). Reads are parquet scans with
  * interval predicates that push down.
  */
class FeatureStore(
    val spark: SparkSession,
    val sfDir: String,
    val storePath: String,
    val dsMap: Seq[(String, String)],
    val loaders: Map[String, FeatureHandler],
    val observablesRegex: String = """^n_\w""",
    val partitionByMonth: Boolean = false,
    val minStartDate: Option[String] = None,
    val maxEndDate: Option[String] = None,
    val storeScope: Option[String] = None,
    val commitProtocol: Committer = Committer.Rename) {

  require(!loaders.contains("logs"),
    "a loader may not be named 'logs': its table would overwrite the log")

  /** Validate a requested study period against the store's bounds
    * (reference: `ds$min_start_date` / `ds$max_end_date`,
    * R/DiseasystoreBase.R active bindings). Both dates must be strict
    * ISO `yyyy-MM-dd` and are compared as dates; returns them parsed. */
  protected def validateRange(start: String,
                              end: String): (LocalDate, LocalDate) = {
    def date(name: String, v: String): LocalDate =
      try LocalDate.parse(v) catch { case e: java.time.DateTimeException =>
        throw new IllegalArgumentException(s"$name '$v' is not yyyy-MM-dd", e) }
    val (s, e) = (date("start_date", start), date("end_date", end))
    require(!s.isAfter(e), s"start_date $start is after end_date $end")
    minStartDate.foreach(m => require(!s.isBefore(date("min_start_date", m)),
      s"start_date $start precedes the store's min_start_date $m"))
    maxEndDate.foreach(m => require(!e.isAfter(date("max_end_date", m)),
      s"end_date $end exceeds the store's max_end_date $m"))
    (s, e)
  }

  def availableFeatures: Seq[String] = dsMap.map(_._1)
  def availableObservables: Seq[String] =
    availableFeatures.filter(f => observablesRegex.r.findFirstIn(f).isDefined)
  def availableStratifications: Seq[String] =
    availableFeatures.filterNot(availableObservables.contains)

  private def loaderOf(feature: String): String =
    dsMap.toMap.getOrElse(feature,
      throw new IllegalArgumentException(
        s"Unknown feature '$feature'. Available: ${availableFeatures.mkString(", ")}"))

  def handlerOf(feature: String): FeatureHandler = loaders(loaderOf(feature))

  private def fs = new Path(storePath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tablePath(loader: String) = s"$storePath/$loader"
  private def logPath = s"$storePath/logs"

  /** Physical location of a loader's committed table — resolved
    * through the [[Committer]] seam (a log-structured committer keeps
    * the data in generation directories; `tablePath` is just the
    * table's logical address). EVERY table read goes through this. */
  private def resolvedTable(loader: String): Option[Path] =
    committer.resolve(fs, new Path(tablePath(loader)))

  /** One projection mapping stored PHYSICAL column names back to
    * their logical names (the committer's column map, populated by
    * metadata-only renames). A single select — never a chain of
    * withColumnRenamed, whose intermediate states could collide when
    * renames shuffled names around (a→b after b→a). */
  private def applyColumnMap(df: DataFrame,
                             map: Map[String, String]): DataFrame =
    if (map.isEmpty) df
    else {
      val physToLog = map.map(_.swap)
      df.select(df.columns.toSeq
        .map(c => col(c).as(physToLog.getOrElse(c, c))): _*)
    }

  /** Current versioned table WITHOUT the `__vm` partition column —
    * every SCD2 merge must see the logical schema only (`swapIn`
    * recomputes `__vm` on write; leaving it in would make
    * `unionByName` against freshly-computed rows fail on
    * month-partitioned stores). Physical columns resolve to logical
    * names through the committer's column map. */
  private def readTable(loader: String): Option[DataFrame] =
    resolvedTable(loader).map(p => spark.read.parquet(p.toString))
      .map(df => if (partitionByMonth) df.drop("__vm") else df)
      .map(df => applyColumnMap(df,
        committer.columnMap(fs, new Path(tablePath(loader)))))

  /** Additive schema evolution on append: widen the stored SCD2 table
    * to the incoming data schema, backfilling NULL for columns the old
    * versions never carried (widen-on-read for history). Because
    * [[Scd2.checksum]] fingerprints the column list, the first merge
    * after an evolution closes every old-shape version and re-inserts
    * the current state under the new shape — the schema change is a
    * transaction-time event: time travel before it returns the old
    * rows (new columns NULL), after it the new ones. The reference's
    * only path here is drop + full recompute
    * (reference: R/drop_diseasystore.R:1-40); a 100 TB store cannot
    * recompute, so evolution must be an incremental merge.
    *
    * Evolution is ADDITIVE-ONLY: a stored data column missing from the
    * incoming schema aborts (dropping or renaming silently would
    * destroy history — use erasure/recompute for that, deliberately). */
  private def widenForMerge(cur: DataFrame,
                            incoming: org.apache.spark.sql.types.StructType,
                            loader: String): DataFrame = {
    val sys = Set(Scd2.Checksum, Scd2.FromTs, Scd2.UntilTs)
    val stored = cur.columns.filterNot(sys)
    val incomingCols = incoming.fieldNames.toSet
    val droppedCols = stored.filterNot(incomingCols)
    require(droppedCols.isEmpty,
      s"schema evolution on '$loader' is additive-only; stored columns " +
        s"missing from the incoming schema: ${droppedCols.mkString(", ")}")
    incoming.fields.filterNot(f => stored.contains(f.name))
      .foldLeft(cur)((d, f) =>
        d.withColumn(f.name, lit(null).cast(f.dataType)))
  }

  /** Inclusive (ds_start, ds_end) ranges the compute log records for
    * (loader, sliceTs) — a few rows, collected. The log is read with the
    * schema it is written with, so no schema-inference job runs. */
  private def coverage(loader: String,
                       sliceTs: String): Seq[(LocalDate, LocalDate)] =
    if (!fs.exists(new Path(logPath))) Nil
    else spark.read.schema(FeatureStore.LogSchema).parquet(logPath)
      .filter(col("table") === loader && col("slice_ts") === sliceTs &&
        col("success") === true)
      .select("ds_start", "ds_end").collect().toSeq
      .map(r => LocalDate.parse(r.getString(0)) -> LocalDate.parse(r.getString(1)))

  private def appendLog(loader: String, sliceTs: String,
                        start: String, end: String): Unit =
    // All loaders append to ONE logs directory; concurrent append jobs
    // would share the committer's `_temporary/0` staging dir and can
    // clobber each other's task files — serialize on the logs lock
    // ("__logs" is outside the legal loader-name space; backupTo takes
    // the same lock).
    withTableLock("__logs") {
      spark.createDataFrame(
        java.util.List.of(Row(loader, sliceTs, start, end, true)),
        FeatureStore.LogSchema)
        .write.mode("append").parquet(logPath)
    }

  /** The commit protocol for table publishes — `commitProtocol` from
    * the constructor (or override this directly). [[Committer.Rename]]
    * stays the DEFAULT for ONE remaining reason: a Rename table is a
    * plain parquet directory any external engine (the DuckDB oracle,
    * parquet CLI tooling, a downstream Spark job given the path) reads
    * directly, with no committer-aware resolve step. The former second
    * reason — zero-cost adoption of pre-existing plain tables — no
    * longer differentiates: [[Committer.ManifestLog.adopt]] upgrades a
    * deployed Rename store in place (a gen manifest pointing at the
    * plain directory, no data copy). [[Committer.ManifestLog]] is the
    * supported opt-in for deployments that need the claim→swap window
    * closed (true snapshot commits, multi-writer without the residual
    * reader window) — the FULL store battery (conformance, adoption,
    * compaction, backup, purge, schema evolution, streaming ingest)
    * runs against it in ManifestLogStoreSpec; its cost is that
    * POST-adoption data lives in generation dirs only a
    * committer-aware reader resolves.
    *
    * DECISION (r17, measured — tools/external_read_probe.py): Rename
    * STAYS the default. DuckDB as the committer-unaware external
    * reader gets a Rename table with a plain read_parquet glob on the
    * table directory; against a ManifestLog table the same read
    * ERRORS (the table path does not exist), and the tempting glob
    * over the .mdata generation dirs is WORSE — it silently unions
    * every retained generation (5 rows where the head has 3, stale
    * values next to current). Correct access needs the
    * list-manifests → parse-head → read-data-dir protocol, which no
    * plain engine performs unprompted. A feature store's tables are
    * read by ad-hoc DuckDB/pandas/BI readers as a matter of course
    * (the reference's surface is literally "hand the DBI connection
    * to dbplyr"), so default external readability outweighs closing
    * the claim→swap reader window by default. */
  protected def committer: Committer = commitProtocol

  /** Atomically replace the loader's SCD2 table with `df` (through the
    * [[Committer]] seam), guarded by the generation CAS: `expectedGen`
    * is the [[tableGen]] the writer captured BEFORE reading the table,
    * and the publish claims `expectedGen + 1` right after staging —
    * a concurrent commit (e.g. by a writer on another machine that
    * legitimately broke this one's stale lock, or vice versa) makes
    * this publish throw [[StaleWriteException]] WITHOUT touching the
    * live table, turning silent lost-updates into a retry. With
    * `partitionByMonth`, rows are laid out by month(valid_from) so the
    * study-period upper bound prunes partitions at read time (the
    * lower bound cannot prune: an old row may still be valid via an
    * open `valid_until`). */
  private def swapIn(loader: String, df: DataFrame,
                     expectedGen: Long): Unit =
    committer.publishCas(fs, new Path(tablePath(loader)), expectedGen,
      tmp => {
        val w =
          if (partitionByMonth)
            df.withColumn("__vm",
              date_format(col(Intervals.ValidFrom), "yyyy-MM"))
              .write.partitionBy("__vm")
          else df.write
        w.mode("overwrite").parquet(tmp)
      })
    // How airtight the commit is belongs to the committer: the default
    // Rename+marker CAS claims milliseconds BEFORE its swap renames
    // (a cross-driver writer capturing the gen in that gap reads the
    // pre-commit table — see Committer.publishCas); single-driver
    // operation never hits it (the table lock serializes same-store
    // writers), and Committer.ManifestLog closes it entirely (the
    // atomic manifest create IS the publish — gen and data flip
    // together, CasCommitSpec pins the refusal).

  /** Current commit generation of a loader's table — capture it BEFORE
    * reading the table when deriving a new version to publish. */
  def tableGen(loader: String): Long =
    committer.currentGen(fs, new Path(tablePath(loader)))

  /** The loader's full SCD2 version table, resolved through the
    * [[Committer]] seam — the supported way to read the raw bitemporal
    * rows regardless of the committer's storage layout
    * (`Scd2.sliceAt(versionedTable(l), ts)` is `get_table` time
    * travel). */
  def versionedTable(loader: String): DataFrame =
    readTable(loader).getOrElse(throw new IllegalArgumentException(
      s"no table for loader '$loader'"))

  /** Generations of a loader's table still readable in place, oldest
    * first — `DESCRIBE HISTORY` for the committer's retention window.
    * Under the default Rename committer this is just the head; under
    * ManifestLog it is the trailing retention window. */
  def tableGenerations(loader: String): Seq[Long] =
    committer.retainedGens(fs, new Path(tablePath(loader)))

  /** Snapshot read of a loader's SCD2 table at a specific COMMIT
    * GENERATION (`VERSION AS OF` — time travel by transaction-format
    * commit, complementing [[Scd2.sliceAt]]'s by-timestamp travel:
    * generations also capture physical rewrites like purges and
    * compactions that SCD2 timestamps deliberately do not). Throws
    * with the retained window when `gen` is not readable. */
  def versionedTableAt(loader: String, gen: Long): DataFrame =
    committer.resolveGen(fs, new Path(tablePath(loader)), gen)
      .map(p => spark.read.parquet(p.toString))
      .map(df => if (partitionByMonth) df.drop("__vm") else df)
      // each generation resolves through ITS OWN column map: travel
      // across a rename returns the names that were logical THEN
      .map(df => applyColumnMap(df,
        committer.columnMapGen(fs, new Path(tablePath(loader)), gen)))
      .getOrElse(throw new IllegalArgumentException(
        s"generation $gen of loader '$loader' is not retained " +
          s"(readable: ${tableGenerations(loader).mkString(", ")})"))

  /** Metadata-only LOGICAL COLUMN RENAME of a loader's table (the
    * Delta/Iceberg column-mapping idea): O(manifest) at any table
    * size, no data rewrite. Schema-aware validation happens here (the
    * committer sees only names): `from` must be a current logical
    * data column, `to` must be free, and the SCD2 system columns are
    * off limits (every merge addresses them by name). Subsequent
    * WRITES store logical names physically — the first SCD2 merge
    * after a rename re-checksums under the new shape (a
    * transaction-time event, like additive widening); generation time
    * travel before the rename returns the old names. Refused by
    * committers without a metadata layer ([[Committer.Rename]]). */
  def renameDataColumn(loader: String, from: String, to: String): Long =
    withTableLock(loader) {
      val cur = versionedTable(loader)
      val sys = Set(Scd2.Checksum, Scd2.FromTs, Scd2.UntilTs, "__vm")
      require(!sys.contains(from) && !sys.contains(to),
        s"rename touches a system column: '$from' -> '$to'")
      require(cur.columns.contains(from),
        s"loader '$loader' has no column '$from' " +
          s"(columns: ${cur.columns.mkString(", ")})")
      require(!cur.columns.contains(to),
        s"loader '$loader' already has a column '$to'")
      committer.renameColumn(fs, new Path(tablePath(loader)), from, to)
    }

  /** Bounded optimistic-retry loop around a read-merge-publish cycle:
    * on [[StaleWriteException]] the whole `body` re-runs (re-reading
    * the generation and the table). Normal single-driver operation
    * never retries — the table lock serializes same-store writers; the
    * CAS only fires when cross-process exclusion failed (broken stale
    * lock, two drivers racing), which is exactly when re-deriving from
    * the fresh table is the correct behavior. */
  private def withCasRetry[T](what: String, attempts: Int = 5)
                             (body: => T): T = {
    var tries = 0
    while (true) {
      try return body
      catch { case e: StaleWriteException =>
        tries += 1
        if (tries >= attempts) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One lock-guarded append-style SCD2 micro-commit: `batch` rows join
    * the loader's current open version set and the union is
    * checksum-diffed against the table. Identical re-delivered rows are
    * checksum no-ops, so at-least-once delivery upstream yields an
    * unchanged table — the idempotence that makes this safe under
    * streaming replay. */
  def appendCommit(loader: String, batch: DataFrame,
                   sliceTs: String): Unit = withTableLock(loader) {
    withCasRetry(s"appendCommit($loader)") {
    val expectedGen = tableGen(loader)
    val hwKey = (storePath, loader)
    val dataCols = batch.columns.toSeq
    // SET semantics throughout (first batch included): updateSnapshot
    // pairs duplicates as a multiset, so without the distinct a
    // re-delivered row — or a duplicate within one batch — would
    // register as a second occurrence (a new version) instead of a
    // no-op. Exactly-once materialization from at-least-once delivery
    // requires the feed's rows to be set-valued.
    val (merged, ts) = readTable(loader).map(widenForMerge(_, batch.schema,
        loader)) match {
      case Some(cur) =>
        // Transaction-time monotonicity must hold against the TABLE,
        // not just this JVM's sequence: after a driver restart on a
        // lagging clock (or a second process on the same store) a
        // wall-clock sliceTs can trail the last commit, and sliceAt
        // would then exclude the newest open rows from the merge —
        // duplicate versions, broken time travel. Clamp to just past
        // the persisted high-water mark — which must cover until_ts
        // too (a close-only commit advances transaction time without
        // inserting any from_ts). The mark this JVM recorded at its last
        // commit is trusted only while the table is still at that
        // generation: any other commit (another writer, a getFeature
        // merge, a lost CAS race) moves the generation, and the mark is
        // then re-read from the table.
        val maxTs = FeatureStore.ingestHighWater.get(hwKey)
          .collect { case (gen, hw) if gen == expectedGen => hw }
          .getOrElse(Option(cur.agg(max(greatest(col(Scd2.FromTs),
              coalesce(col(Scd2.UntilTs), col(Scd2.FromTs)))))
            .head.getString(0)).getOrElse(""))
        val ts = if (maxTs.isEmpty || sliceTs > maxTs) sliceTs
          else Scd2.tickAfter(maxTs)
        val curOpen = Scd2.sliceAt(cur, ts)
          .drop(Scd2.Checksum, Scd2.FromTs, Scd2.UntilTs)
        (Scd2.updateSnapshot(Some(cur),
          curOpen.select(dataCols.map(col): _*).unionByName(batch)
            .distinct(),
          ts, dataCols), ts)
      case None => (Scd2.updateSnapshot(None, batch.distinct(), sliceTs,
        dataCols), sliceTs)
    }
    swapIn(loader, merged, expectedGen)
    FeatureStore.ingestHighWater.put(hwKey, (expectedGen + 1, ts))
    }
  }

  /** Monotone wall-clock transaction times for streaming commits: if
    * the clock stands still or steps backward (NTP) between batches,
    * advance 1 ms past the last issued time — a commit with sliceTs ≤
    * its predecessor would exclude the predecessor's open rows from
    * the merge and corrupt the version chain. Millisecond granularity
    * bounds clock drift to sustained >1000 commits/sec; the sequence is
    * shared per storePath across instances (like `KeyedLocks`), so two
    * stores on one path cannot interleave non-monotonic times. */
  private def nextIngestTs(): String = {
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    FeatureStore.lastIngestTs
      .getOrElseUpdate(storePath,
        new java.util.concurrent.atomic.AtomicReference[String](""))
      .updateAndGet { prev =>
        val now = java.time.LocalDateTime
          .now(java.time.ZoneOffset.UTC).format(fmt)
        if (prev.isEmpty || now > prev) now
        else java.time.LocalDateTime.parse(prev, fmt)
          .plusNanos(1000000L).format(fmt)
      }
  }

  /** Continuous feature ingest: a stream of new feature rows (the
    * store's bitemporal column convention) committed per micro-batch via
    * `appendCommit` under foreachBatch — each batch becomes one SCD2
    * transaction, so time travel works across a live feed and replayed
    * batches are no-ops. `tsOfBatch` maps the micro-batch id to the
    * commit's transaction timestamp (MUST be strictly monotone across
    * batches; the default issues monotone unique wall-clock seconds,
    * injectable for deterministic tests). */
  def ingestStream(loader: String, rows: DataFrame, checkpointDir: String,
                   tsOfBatch: Long => String = null)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val tsOf = Option(tsOfBatch).getOrElse((_: Long) => nextIngestTs())
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], id: Long) =>
        if (!batch.isEmpty) appendCommit(loader, batch, tsOf(id))
      }
      .start()
  }

  /** Compact a loader's SCD2 table: rewrite into ~`targetBytes`-sized
    * files, each sorted by `valid_from`. Incremental `getFeature` commits
    * rewrite the table at the writer's shuffle parallelism, so a
    * long-lived store accumulates far more files than its size warrants —
    * the classic small-file problem; at warehouse scale every extra file
    * is a scan task and a namenode entry. Sorting within files tightens
    * parquet row-group min/max stats so the study-period interval
    * predicates of `getFeature` prune row groups, not just columns.
    * Pure layout change: every SCD2 version survives, time travel is
    * unaffected. Returns the new file count. */
  def compact(loader: String, targetBytes: Long = 128L << 20): Int =
    withTableLock(loader) {
      val dst = resolvedTable(loader).getOrElse(
        throw new IllegalArgumentException(
          s"no table for loader '$loader'"))
      val bytes = fs.getContentSummary(dst).getLength
      val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      // RANGE partitioning on valid_from, not round-robin: each output
      // file then covers a disjoint date range, so FILE-level min/max
      // stats prune whole files for interval predicates — round-robin
      // would give every file the global range and prune nothing.
      // (On month-partitioned tables the file budget applies per month
      // directory.)
      val expectedGen = tableGen(loader)
      // read through the LOGICAL projection (column map applied): the
      // rewrite's manifest resets the mapping to identity, so the
      // compacted files must carry logical names physically — reading
      // raw physical names here would silently undo a metadata rename
      val df = applyColumnMap(spark.read.parquet(dst.toString),
          committer.columnMap(fs, new Path(tablePath(loader))))
        .repartitionByRange(nFiles, col(Intervals.ValidFrom))
        .sortWithinPartitions(Intervals.ValidFrom)
      swapIn(loader, df, expectedGen)
      nFiles
    }

  /** Back up the store — every materialized loader table plus the
    * compute-coverage logs — to another root, each table republished
    * through the [[Committer]] (so a crashed backup never leaves a
    * half-written table at the destination). The destination IS a
    * store: opening a FeatureStore at `destPath` serves the same data
    * and, because the logs travel too, compute-if-missing sees the
    * same coverage and recomputes nothing. Tables are locked one at a
    * time — a long backup doesn't freeze the whole store. Returns the
    * loaders copied. */
  def backupTo(destPath: String): Seq[String] = {
    val destFs = new Path(destPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // qualify BOTH roots against their filesystems before comparing:
    // a trailing slash, relative path, or scheme alias must not slip a
    // self-backup through and publish into the live tables under lock
    val qualifiedDest = destFs.makeQualified(new Path(destPath))
    val qualifiedStore = fs.makeQualified(new Path(storePath))
    require(qualifiedDest != qualifiedStore,
      s"backup destination $qualifiedDest equals the store")
    val copied = loaders.keys.toSeq.sorted.filter { l =>
      resolvedTable(l).exists { src =>
        withTableLock(l) {
          // backup normalizes to LOGICAL names (column map applied):
          // the destination store may run a committer with no
          // metadata layer, so the mapping must be baked into the
          // copied files rather than assumed re-playable there
          val t = applyColumnMap(spark.read.parquet(src.toString),
            committer.columnMap(fs, new Path(tablePath(l))))
          committer.publish(destFs, new Path(s"$destPath/$l"),
            tmp => t.write.mode("overwrite").parquet(tmp))
        }
        true
      }
    }
    // the same "__logs" lock as appendLog: no append lands mid-copy
    //
    // The coverage log is ALWAYS a plain parquet directory, on every
    // committer: coverage reads `logPath` directly and appendLog
    // appends in place (append is not a versioned publish). Publishing
    // the backup's logs through a log-structured committer would put
    // them where the plain-path read never looks (restored store
    // silently recomputes everything) and the first post-restore
    // appendLog would create a plain dir shadowing them — so the
    // backup copy goes through Committer.Rename unconditionally, which
    // serves the plain path. Loader TABLES above do travel through
    // `committer`: the destination is opened with the same
    // commitProtocol as the source.
    if (fs.exists(new Path(logPath))) withTableLock("__logs") {
      val logs = spark.read.parquet(logPath)
      Committer.Rename.publish(destFs, new Path(s"$destPath/logs"),
        tmp => logs.write.mode("overwrite").parquet(tmp))
    }
    copied
  }

  /** Right-to-be-forgotten erasure: physically remove EVERY version of
    * the given keys from a loader's table — unlike an SCD2 close, which
    * ends validity but retains history, this is retroactive (time
    * travel no longer returns the keys; that is the point of erasure).
    * Runs under the table lock through the same staged [[Committer]]
    * publish as any merge, so readers never see a half-purged table and
    * a crash loses nothing. Returns the number of version rows removed;
    * a no-op purge (no matching keys) skips the rewrite entirely.
    *
    * `keys` is typically small (a deletion request batch): the anti-
    * join broadcasts it and the table streams through one rewrite —
    * at warehouse scale pair this with `compact` to restore file
    * sizing afterwards. */
  def purgeKeys(loader: String, keyCol: String, keys: DataFrame): Long =
    withTableLock(loader) {
      withCasRetry(s"purgeKeys($loader)") {
      val expectedGen = tableGen(loader)
      readTable(loader) match {
        case Some(cur) =>
          val keyVals = keys.select(col(keyCol)).distinct()
          // no-op probe reads ONE column (pruned scan), so checking
          // costs a fraction of the full-width rewrite it avoids
          val removed = cur.select(col(keyCol))
            .join(broadcast(keyVals), Seq(keyCol), "left_semi").count()
          if (removed > 0L)
            swapIn(loader, cur.join(broadcast(keyVals), Seq(keyCol),
              "left_anti"), expectedGen)
          removed
        case None => 0L
      }
      }
    }

  /** Operational stats per materialized loader table: version rows,
    * currently-open versions, parquet files, bytes. The operability
    * counterpart of compaction — at warehouse scale `n_files` vs
    * `bytes` is the signal that a table needs `compact`, and
    * `n_versions` vs `n_open` shows SCD2 churn. Driver-side loop over
    * loaders (small); each count is one distributed job. */
  def storeStats(): DataFrame = {
    import spark.implicits._
    val rows = loaders.keys.toSeq.sorted
      .flatMap(l => resolvedTable(l).map(l -> _))
      .map { case (l, src) =>
        val t = spark.read.parquet(src.toString)
        val nOpen = t.filter(col(Scd2.UntilTs).isNull).count()
        (l, t.count(), nOpen, fileCount(l).toLong,
          fs.getContentSummary(src).getLength)
      }
    rows.toDF("loader", "n_versions", "n_open", "n_files", "bytes")
  }

  /** Parquet data-file count under a loader's table (compaction
    * telemetry). */
  def fileCount(loader: String): Int = {
    val src = resolvedTable(loader).getOrElse(return 0)
    val it = fs.listFiles(src, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Single-writer lock per loader table (reference:
    * R/DiseasystoreBase.R:145-157 SCDB::lock_table). Two layers:
    * an in-JVM mutex per (storePath, loader) — `FileSystem.create(path,
    * overwrite = false)` is check-then-act on the LOCAL filesystem, so
    * two threads of one driver (concurrent loaders, streaming ingest
    * alongside batch fills) could both "win" the marker and clobber
    * each other's `_temporary/0` commit staging — plus the marker file,
    * which is what excludes OTHER processes (atomic create on
    * HDFS-like stores); waits up to `lockWaitMaxMs`. */
  def withTableLock[T](loader: String)(body: => T): T =
    FeatureStore.withStoreLock(fs, storePath, loader, lockWaitMaxMs,
      lockWaitIncrementMs, lockStaleMs)(body)

  /** Lock timings resolve through the scoped option system (reference:
    * `diseasyoption("lock_wait_max", self)` in R/DiseasystoreBase.R:148-152)
    * — tunable per store via `graft.<Store>.lock_wait_max_ms`, globally
    * via `graft.lock_wait_max_ms`. */
  protected def lockWaitMaxMs: Long =
    FeatureStore.lockWaitMaxMs(spark, storeName)
  protected def lockWaitIncrementMs: Long =
    FeatureStore.lockWaitIncrementMs(spark, storeName)
  /** Age beyond which a lock file is considered abandoned by a crashed
    * writer and may be broken. */
  protected def lockStaleMs: Long = FeatureStore.lockStaleMs(spark, storeName)

  /** Canonical scope name for option lookups: the explicit
    * `storeScope`, else the concrete class name. Factory methods that
    * build a plain `FeatureStore` must pass `storeScope` (their
    * registry name) — the class-name default would resolve to
    * "FeatureStore" and the `graft.<Store>.<opt>` tier would silently
    * never apply. */
  protected[core] def storeName: String = storeScope.getOrElse(
    graft.stores.Registry.toStoreCase(
      getClass.getSimpleName.stripSuffix("$")))

  /** Compute-if-missing + SCD2 persist + interval slice
    * (reference: R/DiseasystoreBase.R:99-274). */
  def getFeature(feature: String, start: String, end: String,
                 sliceTs: String = "1970-01-01 00:00:00"): DataFrame = {
    val (startD, endD) = validateRange(start, end)
    val loader = loaderOf(feature)
    val handler = loaders(loader)
    def missing(): Seq[(String, String)] =
      MissingRanges(coverage(loader, sliceTs), startD, endD)
        .map { case (s0, e0) => (s0.toString, e0.toString) }

    if (missing().nonEmpty) withTableLock(loader) {
      // re-check under the lock (another writer may have filled ranges)
      missing().foreach { case (s0, e0) =>
      // the whole read-merge-publish cycle re-runs on a lost CAS race
      // (a writer whose lock was broken must re-derive from the fresh
      // table, not blindly republish its stale merge)
      withCasRetry(s"getFeature($loader, $s0, $e0)") {
      val expectedGen = tableGen(loader)
      val computed = handler.compute(this, s0, e0)
      val dataCols = computed.columns.toSeq
      val existing = readTable(loader)
        .map(widenForMerge(_, computed.schema, loader))
      val merged = existing match {
        case Some(cur) =>
          // Keep every current-version row the recompute cannot return:
          // the exact complement of the compute slice [s0, e0]. (The
          // reference keeps only rows ending before the range,
          // R/DiseasystoreBase.R:204 — which silently closes rows for
          // LATER already-covered ranges when a gap is filled
          // out-of-order; keeping both sides fixes that.)
          val curOpen = Scd2.sliceAt(cur, sliceTs)
            .drop(Scd2.Checksum, Scd2.FromTs, Scd2.UntilTs)
          val keep = curOpen.filter(
            col(Intervals.ValidUntil) <= lit(s0) ||
              col(Intervals.ValidFrom) > lit(e0))
          val incoming = keep.unionByName(computed)
          Scd2.updateSnapshot(Some(cur), incoming, sliceTs, dataCols)
        case None =>
          Scd2.updateSnapshot(None, computed, sliceTs, dataCols)
      }
      swapIn(loader, merged, expectedGen)
      }
      appendLog(loader, sliceTs, s0, e0)
      }
    }

    val table0 = spark.read.parquet(resolvedTable(loader)
      .getOrElse(throw new IllegalStateException(
        s"table for '$loader' vanished after compute")).toString)
    val table1 =
      if (partitionByMonth)
        table0.filter(col("__vm") <=
          date_format(to_date(lit(end)), "yyyy-MM")).drop("__vm")
      else table0
    // the feature read path surfaces LOGICAL names (column map):
    // partition pruning above runs first, on the physical frame
    val table = applyColumnMap(table1,
      committer.columnMap(fs, new Path(tablePath(loader))))
    val sliced = Scd2.sliceAt(table, sliceTs)
      .drop(Scd2.Checksum, Scd2.FromTs, Scd2.UntilTs)
    val got = handler.get.map(g => g(this, sliced)).getOrElse(sliced)
    Intervals.slice(got, start, end)
  }

  /** Hook for removing double counting in semi-aggregated sources
    * (reference: R/DiseasystoreBase.R:775-779; overridden per store). */
  protected def keyJoinFilter(data: DataFrame,
                              stratFeatures: Seq[String],
                              start: String, end: String): DataFrame = data

  /** The flagship composed query (reference: R/DiseasystoreBase.R:286-506). */
  def keyJoinFeatures(observable: String, stratification: Seq[String],
                      start: String, end: String,
                      sliceTs: String = "1970-01-01 00:00:00"): DataFrame =
    keyJoinFeaturesExpr(observable,
      stratification.map(s => s -> org.apache.spark.sql.functions.col(s)),
      start, end, sliceTs)

  /** Expression stratification: strata are named expressions over the
    * interlaced feature rows — constants, cuts, renames — mirroring the
    * reference's quosure stratifications
    * (reference: R/DiseasystoreBase.R:292, 359-371, 428-452). Feature
    * dependencies are detected from the expressions' unresolved column
    * references (the structured equivalent of the reference's regex
    * scan of quosure text) and fetched + interlaced automatically;
    * references to columns already on the observable resolve there. */
  def keyJoinFeaturesExpr(observable: String,
                          stratExprs: Seq[(String, org.apache.spark.sql.Column)],
                          start: String, end: String,
                          sliceTs: String = "1970-01-01 00:00:00"): DataFrame = {
    require(availableObservables.contains(observable),
      s"'$observable' is not an observable")
    // reference: "Stratification features cannot be observables"
    // (R/DiseasystoreBase.R:392-394)
    val badNames = stratExprs.map(_._1).filter(availableObservables.contains)
    require(badNames.isEmpty,
      s"Stratification features cannot be observables: ${badNames.mkString(", ")}")

    // dependency detection: unresolved attribute names appearing in the
    // stratification expressions that name registered features
    val referenced = stratExprs.flatMap { case (_, c) =>
      org.apache.spark.sql.graft.Bridge.eagerExpression(c).collect {
        case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          ua.name
      }
    }.distinct
    val stratification = referenced.filter(f =>
      availableFeatures.contains(f) && !availableObservables.contains(f))

    val obsHandler = handlerOf(observable)
    val aggs = (observable +: stratification).map(handlerOf(_).keyJoin).distinct
    require(aggs.size == 1,
      "Stratification feature does not match observable aggregator")

    // Each loader's compute-if-missing path is an independent serial
    // chain of jobs (log diff → compute → SCD2 write → read-back); run
    // them concurrently — the Spark scheduler interleaves jobs from
    // multiple driver threads, and the per-loader table locks already
    // make concurrent getFeature safe.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futures = (observable +: stratification)
      .map(f => Future(getFeature(f, start, end, sliceTs)))
    val results = futures.map(Await.result(_, Duration.Inf))
    val obsData = results.head
    val stratData = results.tail
    val filtered = keyJoinFilter(obsData, stratification, start, end)

    try KeyJoinFeatures.withExprs(
      observable = filtered,
      observableName = observable,
      feature = if (obsHandler.keyJoin == Aggregators.Count)
        Intervals.keyCols(filtered).head else obsHandler.feature,
      agg = obsHandler.keyJoin,
      stratifications = stratData,
      stratExprs = stratExprs,
      start = start, endInclusive = end)
    catch {
      // reference: "Stratification could not be computed. ... Available
      // stratification variables are: ..." (R/DiseasystoreBase.R:440-452)
      case e: org.apache.spark.sql.AnalysisException =>
        throw new IllegalArgumentException(
          s"Stratification could not be computed: ${e.getMessage}. " +
            s"Available stratification variables are: " +
            s"${availableStratifications.mkString(", ")}", e)
    }
  }
}

/** Store-directory management (reference: R/drop_diseasystore.R). */
object StoreCatalog {

  /** List loader tables present under a store path. A ManifestLog
    * table's logical directory never exists on disk (only its
    * `.mlog`/`.mdata` sidecars do — CasCommitSpec asserts this), so
    * table names are ALSO derived from those suffixed dirs: without
    * that, `drop(pattern)` would silently skip manifest-log tables
    * and never scrub their log entries. */
  def tables(spark: SparkSession, storePath: String): Seq[String] = {
    val p = new Path(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val dirs = fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName)
    val plain = dirs.filterNot(n => n.endsWith(".tmp") ||
      n.endsWith(".old") || n.endsWith(".gens") || n.endsWith(".mlog") ||
      n.endsWith(".mdata"))
    val manifest = dirs.collect {
      case n if n.endsWith(".mlog") => n.stripSuffix(".mlog")
      case n if n.endsWith(".mdata") => n.stripSuffix(".mdata")
    }
    (plain ++ manifest).distinct.toSeq.sorted
  }

  /** Drop tables matching `pattern` (all when None) and scrub their log
    * entries; dropping everything removes the log too. */
  def drop(spark: SparkSession, storePath: String,
           pattern: Option[String] = None): Unit = {
    val p = new Path(storePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    pattern match {
      case None =>
        FeatureStore.ingestHighWater.keys.filter(_._1 == storePath)
          .foreach(FeatureStore.ingestHighWater.remove)
        fs.delete(p, true)
      case Some(pat) =>
        val victims = tables(spark, storePath)
          .filter(t => t != "logs" && t.matches(pat))
        victims.foreach { t =>
          FeatureStore.ingestHighWater.remove((storePath, t))
          fs.delete(new Path(s"$storePath/$t"), true)
          // sidecars: generation markers, stale staging/backup dirs,
          // abandoned lock files — a re-created table starts fresh
          Seq(".gens", ".tmp", ".old", ".lock", ".mlog", ".mdata")
            .foreach(sfx =>
            fs.delete(new Path(s"$storePath/$t$sfx"), true))
        }
        // the scrubbed log is published like backupTo's copy: both
        // renames checked, the previous log parked until the new one
        // is in place. The read, filter and publish hold the "__logs"
        // lock that appendLog takes, so no concurrent getFeature's log
        // row is lost between the read and the publish; the timings
        // come from the general option tier (a path names no store).
        val logP = new Path(s"$storePath/logs")
        if (victims.nonEmpty) FeatureStore.withStoreLock(fs, storePath,
            "__logs", FeatureStore.lockWaitMaxMs(spark, ""),
            FeatureStore.lockWaitIncrementMs(spark, ""),
            FeatureStore.lockStaleMs(spark, "")) {
          if (fs.exists(logP)) {
            val logs = spark.read.schema(FeatureStore.LogSchema)
              .parquet(logP.toString)
              .filter(!col("table").isin(victims: _*))
            Committer.Rename.publish(fs, logP,
              tmp => logs.write.mode("overwrite").parquet(tmp))
          }
        }
    }
  }
}

object FeatureStore {
  /** The compute log's schema: one row per computed (loader, slice_ts,
    * inclusive ISO date range). */
  private[core] val LogSchema = StructType.fromDDL("`table` STRING, " +
    "slice_ts STRING, ds_start STRING, ds_end STRING, success BOOLEAN")

  /** The lock protocol behind [[FeatureStore.withTableLock]] for the
    * lock `name` of the store at `storePath`: the JVM mutex
    * `$storePath#$name` plus the `$storePath/$name.lock` marker file.
    * [[StoreCatalog.drop]] takes the `__logs` lock through here. */
  private[core] def withStoreLock[T](fs: FileSystem, storePath: String,
      name: String, waitMaxMs: Long, waitIncrementMs: Long,
      staleMs: Long)(body: => T): T =
    KeyedLocks.withLock(s"$storePath#$name", waitMaxMs) {
      val lockFile = new Path(s"$storePath/$name.lock")
      // the FS-marker wait gets its own full budget — stamping the
      // deadline before the JVM wait would leave a thread queued behind
      // a long same-JVM writer with no time to wait out another process
      val deadline = System.currentTimeMillis() + waitMaxMs
      fs.mkdirs(new Path(storePath))
      var locked = false
      while (!locked) {
        try { fs.create(lockFile, false).close(); locked = true }
        catch { case _: java.io.IOException =>
          // break stale locks left by crashed writers (older than the max
          // wait — no live writer holds a lock that long)
          val stale = try {
            fs.getFileStatus(lockFile).getModificationTime <
              System.currentTimeMillis() - staleMs
          } catch { case _: java.io.IOException => false }
          if (stale) fs.delete(lockFile, false)
          else if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(
              s"Lock not released within ${waitMaxMs / 1000}s: $lockFile")
          else Thread.sleep(waitIncrementMs)
        }
      }
      try body finally fs.delete(lockFile, false)
    }

  /** Lock timings for the option scope `store` ("" reads only the
    * general `graft.<option>` tier). */
  private[core] def lockWaitMaxMs(spark: SparkSession, store: String): Long =
    Options.millis(spark, "lock_wait_max_ms", store, 30 * 60 * 1000L)
  private[core] def lockWaitIncrementMs(spark: SparkSession,
                                        store: String): Long =
    Options.millis(spark, "lock_wait_increment_ms", store, 50L)
  private[core] def lockStaleMs(spark: SparkSession, store: String): Long =
    Options.millis(spark, "lock_stale_ms", store, 60 * 60 * 1000L)

  /** Per-storePath monotone ingest-timestamp sequence — see
    * `nextIngestTs`. */
  private[core] val lastIngestTs = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.atomic.AtomicReference[String]]

  /** Per-(storePath, loader) transaction-time high-water mark of the
    * last `appendCommit`, keyed with the table generation it is valid
    * at — see `appendCommit`. Mutated only under that loader's table
    * lock. */
  private[core] val ingestHighWater = scala.collection.concurrent.TrieMap
    .empty[(String, String), (Long, String)]
}
