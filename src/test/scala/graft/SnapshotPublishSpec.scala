package graft

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{SnapshotCatalog, SnapshotStore}

/** Manifest publication is atomic: a reader never decodes a partial
  * version, and a writer that dies mid-publish leaves only debris that no
  * version names and vacuum (or, in a catalog, the next publish) reclaims.
  */
class SnapshotPublishSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.scratch

  test("a reader racing a committer of multi-MB manifests always decodes a whole version") {
    val root = scratch("snap_pubrace_")
    val entries = 40000 // below sectionThreshold: one flat manifest per version
    assert(entries < SnapshotStore.sectionThreshold)
    val commits = 64
    def files(v: Long): Seq[String] = {
      val commitDir = java.util.UUID.nameUUIDFromBytes(BigInt(v).toByteArray)
      (0 until entries).map(i => f"$commitDir/part-$i%05d-c000.snappy.parquet")
    }
    SnapshotStore.commit(root, 0L, files(0L), entries.toLong)
    val manifestBytes = Files.size(Paths.get(root, "_manifests", f"v${0}%013d.json"))
    assert(manifestBytes >= 2L * 1024 * 1024, s"manifest is only $manifestBytes B")

    val failures = new ConcurrentLinkedQueue[Throwable]()
    @volatile var done = false
    var reads = 0
    // The reader polls the log and decodes each new newest version the
    // moment it is listed — while its writer may still be at work on it.
    val reader = new Thread(() => {
      var seen = 0L
      while (!done) {
        try SnapshotStore.currentVersion(root).filter(_ > seen).foreach { v =>
          seen = v
          reads += 1
          val n = SnapshotStore.filesAt(root, v).size
          if (n != entries) failures.add(new AssertionError(s"v$v decoded $n entries"))
        } catch { case t: Throwable => failures.add(t) }
      }
    })
    reader.start()
    try (1L until commits).foreach(v => SnapshotStore.commit(root, v, files(v), entries.toLong))
    finally { done = true; reader.join() }

    assert(SnapshotStore.versions(root) == (0 until commits).map(_.toLong))
    assert(reads >= 20, s"only $reads reads overlapped the commits")
    assert(failures.isEmpty,
      s"${failures.size} of $reads reads failed; first: ${failures.peek()}")
  }

  test("a killed writer's partial temporary manifest breaks neither reads nor the next commit; vacuum reclaims it") {
    import spark.implicits._
    val root = scratch("snap_pubdebris_")
    SnapshotStore.overwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), root)
    val logDir = Paths.get(root, "_manifests")
    // What a writer killed mid-publish of version 1 leaves behind: part of
    // the bytes under a temporary name in the log dir.
    val whole = Files.readAllBytes(logDir.resolve(f"v${0}%013d.json"))
    val debris = logDir.resolve(f".v${1}%013d.${java.util.UUID.randomUUID()}.tmp")
    Files.write(debris, whole.take(whole.length / 2))

    assert(SnapshotStore.versions(root) == Seq(0L))
    assert(SnapshotStore.read(spark, root).count() == 2)
    assert(SnapshotStore.append(Seq((3L, "c")).toDF("id", "v"), root) == 1L)
    assert(SnapshotStore.read(spark, root).count() == 3)

    // Inside the retention window it may be an in-flight publish: kept.
    SnapshotStore.vacuum(root, keepVersions = 2)
    assert(Files.exists(debris))
    SnapshotStore.vacuum(root, keepVersions = 2, minAgeMs = 0L)
    assert(!Files.exists(debris), "vacuum past the cutoff must remove the debris")
    assert(SnapshotStore.versions(root) == Seq(0L, 1L))
    assert(SnapshotStore.read(spark, root).count() == 3)
  }

  test("a catalog publish reclaims temporary files older than the in-flight window and keeps fresh ones") {
    val cat = scratch("snap_cattmp_")
    assert(SnapshotCatalog.publish(cat, Map("t" -> 0L), None) == 0L)
    val dir = Paths.get(cat, "_catalog")
    // What two publishers killed between write and link leave behind: one
    // an hour ago, one a moment ago (it may still be in flight).
    def stranded(v: Long, ageMs: Long) = {
      val p = dir.resolve(f".v$v%013d.${java.util.UUID.randomUUID()}.tmp")
      Files.write(p, """{"tables":{"t":""".getBytes("UTF-8"))
      Files.setLastModifiedTime(p, FileTime.fromMillis(System.currentTimeMillis() - ageMs))
      p
    }
    val old = stranded(1L, 60L * 60 * 1000)
    val fresh = stranded(1L, 1000L)
    assert(SnapshotCatalog.snapshot(cat) == Map("t" -> 0L))

    assert(SnapshotCatalog.publish(cat, Map("t" -> 1L), Some(0L)) == 1L)
    assert(!Files.exists(old), "a temporary file past the window must be reclaimed")
    assert(Files.exists(fresh), "a temporary file inside the window may be in flight")
    assert(SnapshotCatalog.versions(cat) == Seq(0L, 1L))
    assert(SnapshotCatalog.snapshot(cat) == Map("t" -> 1L))
    assert(SnapshotCatalog.snapshot(cat, Some(0L)) == Map("t" -> 0L))
    assert(SnapshotCatalog.publish(cat, Map("t" -> 2L), Some(1L)) == 2L)
    assert(Files.exists(fresh))
    assert(SnapshotCatalog.snapshot(cat) == Map("t" -> 2L))
  }

  test("a forked writer killed at random points leaves a table that reads its newest version, takes the next commit, and vacuums clean") {
    import spark.implicits._
    val root = scratch("snap_kill_")
    val rows = SnapshotCommitLoop.Rows
    def batch(from: Long) = (0 until rows).map(j => (from + j, 0L)).toDF("id", "p")
    SnapshotStore.overwrite(batch(-rows.toLong), root, Some("p"))
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val rnd = new scala.util.Random(31)
    for (round <- 1 to 3) {
      val child = new ProcessBuilder((Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx1g",
          "-cp", System.getProperty("java.class.path"), "graft.SnapshotCommitLoop", root)).asJava)
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      // A child that hangs is killed too; its closed stdout then fails the wait below.
      val watchdog = new Thread(() =>
        try { Thread.sleep(240000); child.destroyForcibly() } catch { case _: InterruptedException => () })
      watchdog.setDaemon(true)
      watchdog.start()
      try {
        val out = new BufferedReader(new InputStreamReader(child.getInputStream))
        // Let it commit a few versions, then kill it at a random instant.
        for (_ <- 0 until 2 + rnd.nextInt(3))
          assert(Option(out.readLine()).exists(_.startsWith("committed")),
            s"round $round: the child stopped before committing")
        Thread.sleep(rnd.nextInt(500).toLong)
      } finally {
        child.destroyForcibly().waitFor()
        watchdog.interrupt()
      }
      // Every version holds `rows` more rows than the one before it.
      val v = SnapshotStore.currentVersion(root).get
      assert(SnapshotStore.read(spark, root).count() == (v + 1) * rows, s"round $round at v$v")
      assert(SnapshotStore.append(batch(1000000L * round), root) == v + 1)
      SnapshotStore.vacuum(root, keepVersions = Int.MaxValue, minAgeMs = 0L)
      val live = SnapshotStore.versions(root)
        .flatMap(SnapshotStore.filesAt(root, _)).map(Paths.get(_)).toSet
      def under(dir: String) = {
        val walk = Files.walk(Paths.get(root, dir))
        try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList finally walk.close()
      }
      assert(under("data").filterNot(live).isEmpty, s"round $round: data debris survived vacuum")
      assert(!under("_manifests").exists(_.toString.endsWith(".tmp")),
        s"round $round: temporary manifests survived vacuum")
      assert(SnapshotStore.read(spark, root).count() == (v + 2) * rows)
    }
  }
}
