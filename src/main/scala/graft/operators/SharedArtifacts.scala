package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Content-addressed shared artifacts under one tmpdir root — the
  * publish/adopt protocol behind every derived table this library
  * maintains ACROSS jobs and sessions (dedup shingle/signature tables,
  * the IVF quantizer + inverted lists): a builder stages into a private
  * directory and publishes with ONE atomic rename; a `_READY` marker
  * rides inside the staged directory, so it is never visible over a
  * half-written artifact; a concurrent builder loses the rename and
  * adopts the winner's files; a crashed build leaves no marker and gets
  * rebuilt. Keys are md5 fingerprints of the SOURCE table's files
  * (path + per-file name/mtime/size), so a changed source can never be
  * served stale derived data, and an unchanged source is never rebuilt
  * — not per invocation, not per session, not per process.
  */
private[graft] object SharedArtifacts {

  def root: Path =
    Paths.get(sys.props("java.io.tmpdir"), "graft_shared")

  /** Fingerprint of `dir/<table>`: path plus every data file's
    * (name, mtime, size), digested WIDE (md5 hex) — reuse correctness
    * rides on this key, and a narrow hash's collision between two
    * datasets would silently serve one dataset's artifacts for the
    * other.
    *
    * `layout` is the derived artifact's OWN shape (bucket count, hash
    * count, shingle width, algorithm version) — it must be part of the
    * key, because the source files alone can't distinguish an artifact
    * built under old parameters: adopting one would, e.g., declare a
    * 16-bucket table INTO 32 BUCKETS and silently corrupt bucketed
    * joins.
    */
  def fingerprint(dir: String, table: String, layout: String = ""): String = {
    import scala.jdk.CollectionConverters._
    val src = Paths.get(dir, table)
    val stamp = if (Files.exists(src))
      Files.walk(src).iterator().asScala
        .filter(Files.isRegularFile(_))
        .map(p => s"${p.getFileName}:" +
          s"${Files.getLastModifiedTime(p).toMillis}:${Files.size(p)}")
        .toSeq.sorted.mkString("|")
    else ""
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir + "/" + table + "|" + layout + "|" + stamp)
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  def isReady(base: Path): Boolean = Files.exists(base.resolve("_READY"))

  /** Refresh the artifact's mtime — adopters MUST call this so
    * [[sweepStale]]'s week-window means "unused for a week", not
    * "unrebuilt for a week": without the touch, a long-lived dataset's
    * artifact ages past the window while still being read every day,
    * and the next sweep deletes it out from under registered catalog
    * tables.
    */
  def markUsed(base: Path): Unit =
    try Files.setLastModifiedTime(base,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: java.io.IOException => () } // best-effort

  /** A private staging dir next to `base` (same filesystem, so the
    * publishing rename is atomic). Also sweeps stale siblings.
    */
  def stagingFor(base: Path): Path = {
    Files.createDirectories(root)
    sweepStale()
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    base.resolveSibling(s".${base.getFileName}-$attempt.staging")
  }

  /** Mark the staged artifact complete and publish it atomically.
    * Loses gracefully to a concurrent builder — either way, `base` is
    * ready when this returns.
    */
  def publish(staging: Path, base: Path): Unit = {
    Files.write(staging.resolve("_READY"),
      base.getFileName.toString.getBytes("UTF-8"))
    try Files.move(staging, base, StandardCopyOption.ATOMIC_MOVE)
    catch {
      // a concurrent builder published first — adopt theirs. Linux
      // rename(2) surfaces the race as EEXIST/ENOTEMPTY/EACCES, which
      // the JVM maps to the three subclasses OR to a bare
      // FileSystemException with the same reasons — so catch the
      // parent and gate on the only fact that matters: the published
      // artifact is READY. Anything else is a real failure.
      case e: java.nio.file.FileSystemException =>
        if (isReady(base)) deleteRecursively(staging) else throw e
    }
  }

  /** Reclaim staging dirs abandoned by crashed builders (older than an
    * hour — any live build finishes far sooner) and published artifacts
    * untouched for a week.
    */
  def sweepStale(): Unit = {
    val now = System.currentTimeMillis()
    Option(root.toFile.listFiles()).getOrElse(Array.empty).foreach { f =>
      val age = now - f.lastModified()
      val stale =
        (f.getName.endsWith(".staging") && age > 60L * 60 * 1000) ||
          (!f.getName.endsWith(".staging") && age > 7L * 24 * 3600 * 1000)
      if (stale) deleteRecursively(f.toPath)
    }
  }

  def deleteRecursively(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (Files.exists(p))
      try Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
      catch { // best-effort reclaim; a walk whose directory another
        // thread deletes under it throws UncheckedIOException
        case _: java.io.IOException | _: java.io.UncheckedIOException => ()
      }
  }
}
