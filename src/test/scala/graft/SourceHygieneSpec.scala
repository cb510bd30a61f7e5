package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` holds engine code plus the three entry mains. Measurement
  * mains, environment knobs and test-only reference shapes belong
  * elsewhere: A/B runs in perfbench, reference shapes in
  * `src/test/.../ReferenceShapes.scala`.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private val EntryMains = Set("Bench.scala", "Verify.scala", "DataGen.scala")

  /** Every `src/main` Scala file with its text, keyed by path. */
  private lazy val sources: Map[Path, String] = {
    val walk = Files.walk(Paths.get("src", "main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
      p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    }.toMap
    finally walk.close()
  }

  /** Files outside `allowed` (by file name) whose text matches `pattern`. */
  private def offenders(pattern: String, allowed: Set[String]): Seq[String] =
    sources.collect { case (p, text)
      if !allowed(p.getFileName.toString) && pattern.r.findFirstIn(text).isDefined =>
      p.toString
    }.toSeq.sorted

  test("src/main is found and the entry mains are in it") {
    assert(sources.size >= 50, s"only ${sources.size} sources under src/main")
    assert(EntryMains.forall(n => sources.exists { case (p, text) =>
      p.getFileName.toString == n && text.contains("def main(") }))
  }

  test("only the entry mains and Sessions read the environment") {
    assert(offenders("""\bsys\.env\b""", EntryMains + "Sessions.scala").isEmpty)
  }

  test("only the entry mains define a main") {
    assert(offenders("""\bdef main\(""", EntryMains).isEmpty)
  }

  test("operators print nothing to stderr") {
    // Ranking.scala's pass marks stay until they become structured events.
    assert(offenders("""System\.err\.print""", EntryMains + "Ranking.scala").isEmpty)
  }

  test("no test-only reference shape (*Hof, *Reference) is defined in src/main") {
    assert(offenders("""\bdef \w*(Hof|Reference)\b""", Set.empty).isEmpty)
  }

  test("snapshot tables have one read path: no DSv2 scan, V1 scan or source-filter delete bridge") {
    assert(offenders("""\b(ParquetTable|V1Scan|PrunedFilteredScan|SupportsDelete)\b""", Set.empty).isEmpty)
  }

  test("row-level UPDATE/DELETE have one path: no replaceWhere, partitionIn or tableMeta") {
    assert(offenders("""\bdef (replaceWhere|partitionIn|tableMeta)\b""", Set.empty).isEmpty)
  }

  test("the snapshot store pins nothing in the block store (no localCheckpoint)") {
    val store = sources.collect { case (p, text) if p.endsWith(Paths.get("sources", "SnapshotStore.scala")) => text }
    assert(store.size == 1 && !store.head.contains("localCheckpoint"))
  }
}
