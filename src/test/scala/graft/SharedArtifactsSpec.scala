package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SharedArtifacts

/** The cross-job artifact protocol's safety properties: layout-salted
  * keys (a parameter change can never adopt a stale artifact) and the
  * use-lease refresh (a live artifact never ages out of the stale sweep
  * while it is being read).
  */
class SharedArtifactsSpec extends AnyFunSuite {
  private val sf = SparkTestSession.sf

  test("a layout change yields a different artifact key — stale adoption is impossible") {
    // the key is how adoption works: same source + same layout must
    // agree (or a rebuild would happen every session), any layout
    // delta must disagree (or a bucket/hash/width change would adopt
    // files written under the old parameters and corrupt bucketed joins)
    val k1 = SharedArtifacts.fingerprint(sf, "documents.parquet",
      "mh:v1:b32:n8:bd4:w3")
    val k2 = SharedArtifacts.fingerprint(sf, "documents.parquet",
      "mh:v1:b32:n8:bd4:w3")
    assert(k1 == k2, "same source + same layout must produce the same key")
    for (changed <- Seq("mh:v2:b32:n8:bd4:w3", // algorithm version bump
        "mh:v1:b16:n8:bd4:w3", // bucket count
        "mh:v1:b32:n8:bd4:w4", // shingle width
        "mh:v1:b32:n16:bd4:w3")) // minhash count
      assert(SharedArtifacts.fingerprint(sf, "documents.parquet", changed) != k1,
        s"layout '$changed' must key a different artifact")
    // and a published artifact under the old key is invisible under the
    // new one: the changed layout forces a fresh build, never adoption
    val base1 = SharedArtifacts.root.resolve(s"spec_salt_$k1")
    val staging = SharedArtifacts.stagingFor(base1)
    Files.createDirectories(staging)
    try {
      SharedArtifacts.publish(staging, base1)
      assert(SharedArtifacts.isReady(base1))
      assert(!SharedArtifacts.isReady(
        SharedArtifacts.root.resolve("spec_salt_" + SharedArtifacts
          .fingerprint(sf, "documents.parquet", "mh:v2:b32:n8:bd4:w3"))))
    } finally SharedArtifacts.deleteRecursively(base1)
  }

  test("component-label artifact: adopt-after-build, labels equal a direct recompute") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    // first call builds or adopts; the second MUST adopt (fresh=false)
    graft.operators.Dedup.clusters.ensure(spark, sf)
    assert(!graft.operators.Dedup.clusters.ensure(spark, sf),
      "second ensure must adopt the published artifact, not rebuild")
    val viaArtifact = SparkEntry.queries("dedup_components")(spark, sf)
      .as[(Long, Long)].collect().toSet
    val direct = graft.operators.Dedup.connectedComponentsWithRounds(
      SparkEntry.queries("dedup_minhash_verified")(spark, sf)
        .select($"a_id", $"b_id"))._1
      .as[(Long, Long)].collect().toSet
    assert(viaArtifact == direct,
      s"artifact labels diverge from recompute: ${(viaArtifact diff direct).take(3)}")
  }

  test("markUsed refreshes the lease: an adopted artifact survives the stale sweep, an abandoned one does not") {
    val base = SharedArtifacts.root.resolve("spec_lease_artifact")
    val staging = SharedArtifacts.stagingFor(base)
    Files.createDirectories(staging)
    SharedArtifacts.publish(staging, base)
    try {
      val eightDaysAgo = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
      def ageOut(): Unit = Files.setLastModifiedTime(base,
        java.nio.file.attribute.FileTime.fromMillis(eightDaysAgo))
      // aged past the week window WITH a fresh use-lease: must survive —
      // this is the round-6 fix (adoption refreshes the mtime so a
      // daily-adopted artifact can't be swept out from under live tables)
      ageOut()
      val before = Files.getLastModifiedTime(base).toMillis
      SharedArtifacts.markUsed(base)
      assert(Files.getLastModifiedTime(base).toMillis > before,
        "markUsed must bump the artifact mtime (the sweep lease)")
      SharedArtifacts.sweepStale()
      assert(SharedArtifacts.isReady(base),
        "a just-used artifact must survive the stale sweep")
      // aged past the window with NO use since: reclaimed
      ageOut()
      SharedArtifacts.sweepStale()
      assert(!Files.exists(base),
        "an artifact unused for over a week must be reclaimed")
    } finally SharedArtifacts.deleteRecursively(base)
  }

  test("a crashed build (staging dir, no marker) is invisible to readers and reclaimed when stale") {
    val base = SharedArtifacts.root.resolve("spec_crash_artifact")
    val staging = SharedArtifacts.stagingFor(base)
    Files.createDirectories(staging)
    Files.write(staging.resolve("partial.parquet"), Array[Byte](1, 2, 3))
    try {
      // no publish: the half-written artifact must never look ready
      assert(!SharedArtifacts.isReady(base))
      assert(!SharedArtifacts.isReady(staging))
      // a fresh staging dir is younger than the hour window: kept (a
      // live build may still be running)
      SharedArtifacts.sweepStale()
      assert(Files.exists(staging))
      // two hours old: a crashed builder, reclaimed
      Files.setLastModifiedTime(staging,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 2L * 3600 * 1000))
      SharedArtifacts.sweepStale()
      assert(!Files.exists(staging))
    } finally {
      SharedArtifacts.deleteRecursively(staging)
      SharedArtifacts.deleteRecursively(base)
    }
  }
}
