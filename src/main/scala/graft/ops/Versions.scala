package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** An optimistic commit lost its race: the committed history advanced
  * past the version this writer prepared against. Re-resolve the
  * current version, re-prepare the artifacts from it, and retry —
  * [[Catalog.commitRetry]] does exactly that loop. `winner` is the
  * newest COMMITTED version at throw time; it can still equal
  * `attempted - 1` when the racing writer has claimed the number but
  * not finished publishing (retry after a short wait). */
final case class CommitConflictException(path: String, attempted: Int,
    winner: Int) extends RuntimeException(
  s"commit conflict at $path: attempted v$attempted but another writer " +
    s"holds it (newest committed: v$winner) — re-resolve, re-prepare, retry")

/** Immutable version directories + per-version CLAIM/COMMIT markers —
  * the only publish discipline of every persisted index family (IVF
  * vector index, PQ codebook, text LSH admission index, vector-LSH
  * admission index) and of the [[Catalog]], mirroring a lake format's
  * commit log. No family overwrites in place: readers stay pinned to a
  * consistent snapshot while maintenance publishes around them, an
  * image derived from the current version never deletes the files it
  * reads, and INDEPENDENT writers never silently lose a commit.
  *
  * Layout under `path`: `v<N>/` (one full image each, written by the
  * family's private version writer), plus two marker files per version —
  * `_claim.v<N>` (created ATOMICALLY by exactly one writer before it
  * starts writing `v<N>/`, the mutual-exclusion atom) and
  * `_commit.v<N>` (created by that writer AFTER `v<N>/` is fully
  * written — its presence is what makes the version visible). A reader
  * therefore sees either nothing or a complete image, never a
  * half-published one, and two writers can never collide on the same
  * version directory: the exclusive create of the claim marker admits
  * exactly one.
  *
  * The exclusive create is `java.io.File.createNewFile` (atomic per
  * its contract) on `file://` and `FileSystem.create(p, overwrite =
  * false)` elsewhere — atomic on HDFS by its public contract. Object
  * stores without atomic create-if-absent (plain S3) need an external
  * coordination layer, the same caveat Delta's LogStore documents.
  *
  * Failure posture: a writer that dies between claim and commit leaves
  * a HOLE — a claimed, never-committed number. Readers skip it (only
  * `_commit` markers are visible) and [[publish]] writers claim past
  * it, so the history stays live; under [[publishCas]] the hole blocks
  * that one CAS slot and surfaces as a bounded-retry
  * [[CommitConflictException]]. Recovery is [[cleanOrphanedClaims]] —
  * a lease-based reclaim [[Catalog.commitRetry]] invokes automatically
  * after repeated conflicts on a non-advancing head, so a crashed
  * writer stalls the catalog for at most the lease, not until an
  * operator intervenes. Version numbers are therefore unique and
  * monotone but not necessarily dense.
  *
  * Retention contract (vacuum vs concurrent readers): [[vacuum]]
  * deletes old version images while readers may still hold a resolved
  * reference to them. A reader that resolved version v BEFORE vacuum
  * removed v reads deleted files — its scan fails loudly with missing
  * input paths (parquet scans pin concrete file paths; they never
  * silently serve a partial directory listing, spec-pinned). Size
  * `keep` so the retention window exceeds the deployment's longest
  * reader, exactly the Delta/Iceberg `VACUUM` contract.
  */
object Versions {

  def versionDir(path: String, version: Int): String = s"$path/v$version"

  private def fsFor(path: String)(implicit spark: SparkSession): FileSystem =
    graft.io.PathResolver.fsFor(path,
      spark.sparkContext.hadoopConfiguration)

  private def claimMarker(root: Path, n: Int) = new Path(root, s"_claim.v$n")
  private def commitMarker(root: Path, n: Int) = new Path(root, s"_commit.v$n")

  /** Schemes whose `FileSystem.create(p, overwrite = false)` is NOT an
    * atomic create-if-absent (plain object-store semantics: the
    * existence check and the write are separate requests, so two
    * writers can both "win"). Claiming through a non-atomic create
    * silently voids the whole protocol — refuse loudly unless the
    * deployment explicitly opts in (having arranged external
    * coordination, e.g. an S3 mutex service / DynamoDB lock, the same
    * escape hatch Delta's LogStore scheme checks offer). */
  private val NonAtomicSchemes = Set("s3", "s3a", "s3n", "gs", "gcs")
  private val UnsafeSchemesConf = "spark.graft.versions.unsafeNonAtomicClaims"

  /** Exclusive create — the one atomic primitive the whole protocol
    * rests on. True iff THIS call created the file; `token` (the
    * writer's unique id for claim markers) is written as the file's
    * content AFTER the atomic create, so ownership checks can tell
    * "my claim" from "a successor's fresh claim on the same slot"
    * (non-atomic content write is fine — only the winner of the
    * create ever writes it). Refuses known non-atomic schemes (see
    * [[NonAtomicSchemes]]) unless
    * `spark.graft.versions.unsafeNonAtomicClaims=true`. */
  private def tryExclusiveCreate(fs: FileSystem, p: Path,
      token: String = ""): Boolean = {
    val q = fs.makeQualified(p)
    val scheme = q.toUri.getScheme
    if (scheme == "file") {
      val f = new java.io.File(q.toUri.getPath)
      val won = f.createNewFile()
      if (won && token.nonEmpty) {
        val w = new java.io.FileWriter(f); w.write(token); w.close()
      }
      won
    } else {
      if (NonAtomicSchemes.contains(scheme) &&
          !SparkSession.active.conf.get(UnsafeSchemesConf, "false").toBoolean)
        throw new IllegalStateException(
          s"scheme '$scheme' has no atomic create-if-absent, so the claim " +
            s"protocol cannot guarantee mutual exclusion on $q — provide " +
            s"external coordination and set $UnsafeSchemesConf=true to " +
            "proceed anyway")
      try {
        val out = fs.create(q, false)
        if (token.nonEmpty) out.write(token.getBytes("UTF-8"))
        out.close(); true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException
            if e.getMessage != null &&
              e.getMessage.toLowerCase.contains("already exist") => false
      }
    }
  }

  /** The claim file's content, or None when it is gone/unreadable (a
    * reclaim can race the read — both mean "not mine any more"). */
  private def claimToken(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      val s = scala.io.Source.fromInputStream(in).mkString
      in.close()
      Some(s)
    } catch { case _: java.io.IOException => None }

  private val ClaimRe = "_claim\\.v(\\d+)".r
  private val CommitRe = "_commit\\.v(\\d+)".r
  private val VdirRe = "v(\\d+)".r

  /** One listing → (claimed, committed) version-number sets.
    *
    * LEGACY FORMAT fallback: histories written before the claim/commit
    * markers used a single `_current` pointer file naming the newest
    * version. Such a history has version dirs but no markers — without
    * a fallback, every pre-upgrade catalog/index store would report
    * "no committed version". A `_current` pointer naming N commits
    * every version dir `v<k>` with k ≤ N that is still on disk
    * (vacuumed ones naturally drop out), and marks them claimed too.
    * New commits on top write markers as usual; the two formats
    * compose as a union. [[migrateLegacy]] rewrites the markers
    * explicitly for deployments that want the pointer file gone. */
  private def state(fs: FileSystem, root: Path): (Set[Int], Set[Int]) =
    if (!fs.exists(root)) (Set.empty, Set.empty)
    else {
      val entries = fs.listStatus(root)
      val names = entries.map(_.getPath.getName)
      var claimed = names.collect { case ClaimRe(n) => n.toInt }.toSet
      var committed = names.collect { case CommitRe(n) => n.toInt }.toSet
      if (names.contains(LegacyPointer)) {
        val cur = readLegacyPointer(fs, root)
        val legacy = entries.iterator
          .filter(_.isDirectory)
          .map(_.getPath.getName)
          .collect { case VdirRe(n) => n.toInt }
          .filter(_ <= cur).toSet
        claimed ++= legacy
        committed ++= legacy
      }
      (claimed, committed)
    }

  private val LegacyPointer = "_current"

  private def readLegacyPointer(fs: FileSystem, root: Path): Int = {
    val in = fs.open(new Path(root, LegacyPointer))
    val s = scala.io.Source.fromInputStream(in).mkString.trim
    in.close()
    s.toInt
  }

  /** One-shot upgrade of a legacy `_current`-pointer history to the
    * marker format: writes a `_claim`/`_commit` marker pair for every
    * legacy-committed version, then deletes the pointer file. Safe to
    * re-run (markers that already exist are kept); requires no
    * concurrent legacy WRITER (the pointer is read once). Returns the
    * version numbers migrated. */
  def migrateLegacy(path: String)(implicit spark: SparkSession): Seq[Int] = {
    val fs = fsFor(path)
    val root = new Path(path)
    if (!fs.exists(new Path(root, LegacyPointer))) return Seq.empty
    val cur = readLegacyPointer(fs, root)
    val legacy = fs.listStatus(root).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case VdirRe(n) => n.toInt }
      .filter(_ <= cur).toSeq.sorted
    legacy.foreach { n =>
      tryExclusiveCreate(fs, claimMarker(root, n))
      tryExclusiveCreate(fs, commitMarker(root, n))
    }
    fs.delete(new Path(root, LegacyPointer), false)
    legacy
  }

  /** Write the next version via `saveTo(versionDir)` and commit it.
    * Returns the new version number. Safe under concurrent callers:
    * the claim marker's exclusive create picks each writer a UNIQUE
    * number (a contended claim just moves to the next number — no
    * CAS check, so use this only when each version is self-contained;
    * read-modify-write callers want [[publishCas]]). Never touches an
    * existing version dir, so no read-your-own-overwrite pin is needed
    * even when the published image was derived from a loaded one. */
  def publish(path: String, saveTo: String => Unit)(
      implicit spark: SparkSession): Int = {
    val fs = fsFor(path)
    val root = new Path(path)
    fs.mkdirs(root)
    val token = java.util.UUID.randomUUID().toString
    var attempts = 0
    while (attempts < 64) {
      val (claimed, committed) = state(fs, root)
      val next = 1 + (claimed ++ committed).foldLeft(0)(math.max)
      if (tryExclusiveCreate(fs, claimMarker(root, next), token)) {
        saveTo(versionDir(path, next))
        commitClaimed(fs, root, path, next, token)
        return next
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not claim a version at $path after 64 attempts")
  }

  /** Compare-and-swap publish: write version `expected + 1` iff the
    * newest committed version is still `expected` (0 = empty history)
    * AND this writer wins the claim. Throws [[CommitConflictException]]
    * otherwise — the caller re-resolves, re-prepares against the new
    * current, and retries ([[Catalog.commitRetry]]). This is what
    * makes read-modify-write histories linearizable: a commit derived
    * from version k can only land as k+1, never silently overwrite a
    * concurrent k+1 from someone else. */
  def publishCas(path: String, expected: Int, saveTo: String => Unit)(
      implicit spark: SparkSession): Int = {
    require(expected >= 0, s"expected must be >= 0, got $expected")
    val fs = fsFor(path)
    val root = new Path(path)
    fs.mkdirs(root)
    val (_, committed) = state(fs, root)
    val cur = committed.foldLeft(0)(math.max)
    if (cur != expected)
      throw CommitConflictException(path, expected + 1, cur)
    val next = expected + 1
    val token = java.util.UUID.randomUUID().toString
    if (!tryExclusiveCreate(fs, claimMarker(root, next), token))
      throw CommitConflictException(path, next,
        state(fs, root)._2.foldLeft(0)(math.max))
    saveTo(versionDir(path, next))
    commitClaimed(fs, root, path, next, token)
    next
  }

  /** The commit step shared by [[publish]]/[[publishCas]]: verify this
    * writer STILL holds the claim — the marker exists AND carries this
    * writer's token — then create the commit marker. The claim stops
    * being this writer's in exactly one way: a [[cleanOrphanedClaims]]
    * lease expired mid-publish (the writer was presumed dead), after
    * which the marker is gone or re-created by the slot's NEW owner
    * with a different token. Committing anyway would publish a version
    * dir the reclaimer may be deleting (or the new owner overwriting),
    * so the writer fails with a [[CommitConflictException]] instead —
    * [[Catalog.commitRetry]] then re-prepares and retries, which is
    * precisely the right recovery for a writer that lost its lease. */
  private def commitClaimed(fs: FileSystem, root: Path, path: String,
      next: Int, token: String): Unit = {
    if (!claimToken(fs, claimMarker(root, next)).contains(token))
      throw CommitConflictException(path, next,
        state(fs, root)._2.foldLeft(0)(math.max))
    require(tryExclusiveCreate(fs, commitMarker(root, next)),
      s"commit marker for $path v$next already existed — " +
        "claim protocol violated")
  }

  /** CRASH RECOVERY for a wedged CAS slot: delete claim markers that
    * (a) have no commit marker and (b) are older than `olderThanMs` —
    * a writer that died between claim and commit — along with the
    * partially-written version dir, so the next claimer can take the
    * number fresh. Returns the reclaimed version numbers.
    *
    * LEASE CONTRACT: `olderThanMs` must exceed the deployment's
    * longest claim-to-commit publish, or a slow LIVE writer is
    * reclaimed mid-publish. The protocol stays loud either way — the
    * reclaimed writer's own commit fails its claim-still-held check
    * (see [[commitClaimed]]) instead of publishing over the reclaim —
    * but its work is wasted, so size the lease like any lock lease.
    * [[Catalog.commitRetry]] invokes this automatically after repeated
    * conflicts on a non-advancing head, with the lease from
    * `spark.graft.commit.claimLeaseMs` (default 10 min). */
  def cleanOrphanedClaims(path: String, olderThanMs: Long)(
      implicit spark: SparkSession): Seq[Int] = {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    val fs = fsFor(path)
    val root = new Path(path)
    if (!fs.exists(root)) return Seq.empty
    val cutoff = System.currentTimeMillis() - olderThanMs
    val entries = fs.listStatus(root)
    val committed = entries.map(_.getPath.getName)
      .collect { case CommitRe(n) => n.toInt }.toSet
    entries.toSeq
      .flatMap { st =>
        st.getPath.getName match {
          case ClaimRe(n) if !committed.contains(n.toInt) &&
              st.getModificationTime <= cutoff => Some(n.toInt)
          case _ => None
        }
      }
      .filter { n =>
        // re-check right before acting: the claim owner may have
        // committed between the listing and now
        if (fs.exists(commitMarker(root, n))) false
        else {
          fs.delete(new Path(root, s"v$n"), true)
          fs.delete(claimMarker(root, n), false)
          true
        }
      }.sorted
  }

  /** The newest committed version. Loud when the history is empty. */
  def current(path: String)(implicit spark: SparkSession): Int = {
    val (_, committed) = state(fsFor(path), new Path(path))
    require(committed.nonEmpty, s"no committed version at $path")
    committed.max
  }

  /** [[current]], or 0 for an empty history — the CAS base for the
    * first-ever commit. */
  def currentOr0(path: String)(implicit spark: SparkSession): Int =
    state(fsFor(path), new Path(path))._2.foldLeft(0)(math.max)

  /** Delete all but the newest `keep` committed versions; returns the
    * vacuumed version numbers. See the retention contract in the
    * class doc: readers pinned to a vacuumed version fail loudly. */
  def vacuum(path: String, keep: Int)(
      implicit spark: SparkSession): Seq[Int] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val fs = fsFor(path)
    val root = new Path(path)
    val doomed = state(fs, root)._2.toSeq.sorted.dropRight(keep)
    doomed.foreach { v =>
      // marker first: a version must never look committed while its
      // image is mid-delete
      fs.delete(commitMarker(root, v), false)
      fs.delete(new Path(root, s"v$v"), true)
      fs.delete(claimMarker(root, v), false)
    }
    doomed
  }

  /** The committed version numbers currently on disk (vacuumed ones
    * excluded, claimed-but-never-committed holes invisible). */
  def listVersions(path: String)(implicit spark: SparkSession): Seq[Int] =
    state(fsFor(path), new Path(path))._2.toSeq.sorted
}
