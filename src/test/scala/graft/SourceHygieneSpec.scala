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

  /** Top-level definitions in `src/main` that no code names, each with
    * the reason it stays.
    */
  private val Unreferenced = Map(
    "TextSources" -> "the reference's Iris ingest, read by MlSpec",
    "StreamingDedup" -> "the streaming twin of the batch dedup, pinned set-identical by StreamingSpec",
    "Observability" -> "quality counters to be wired into store commits, or deleted",
    "GraftCatalog" -> "the SQL catalog plugin Spark loads by class name from spark.sql.catalog.<name>",
    "SnapshotCatalog" -> "the store's multi-table atomic publish, pinned by SnapshotPublishSpec")

  /** Every Scala file under `dir` with its text, keyed by path. */
  private def scalaUnder(dir: Path): Map[Path, String] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
      p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    }.toMap
    finally walk.close()
  }

  private lazy val sources: Map[Path, String] = scalaUnder(Paths.get("src", "main"))

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
    assert(offenders("""System\.err\.print""", EntryMains).isEmpty)
  }

  test("every top-level object, class and trait in src/main is named by code outside its own definition") {
    // Comments go (scaladoc links are not uses); string literals stay, so
    // a class named in a conf string counts.
    val lexed = """(?s)"{3}.*?"{3}|"(?:\\.|[^"\\\n])*"|/\*.*?\*/|//[^\n]*""".r
    def code(text: String): String =
      lexed.replaceAllIn(text, m => if (m.matched.startsWith("\"")) "$0" else " ")
    val decl = """(?m)^(?:(?:private|protected)(?:\[\w+\])?\s+|(?:final|sealed|abstract|case|implicit)\s+)*(?:object|class|trait)\s+(\w+)""".r
    // Each file cut at its top-level definitions: (definition name, its
    // code), with "" owning the package and import preamble.
    def chunks(text: String): Seq[(String, String)] = {
      val c = code(text)
      val starts = decl.findAllMatchIn(c).map(m => (m.group(1), m.start)).toSeq
      ("", c.substring(0, starts.headOption.fold(c.length)(_._2))) +:
        starts.zipWithIndex.map { case ((name, at), i) =>
          name -> c.substring(at, starts.lift(i + 1).fold(c.length)(_._2))
        }
    }
    val main = sources.values.toSeq.flatMap(chunks)
    val bench = scalaUnder(Paths.get("perfbench", "src")).values.toSeq.flatMap(chunks)
    val declared = main.map(_._1).filter(_.nonEmpty).toSet
    assert(declared.size >= 50 && declared("SnapshotStore"), declared.toSeq.sorted)
    val services = {
      val dir = Paths.get("src", "main", "resources", "META-INF", "services")
      val list = Files.list(dir)
      try list.iterator().asScala.toSeq.flatMap(f => Files.readAllLines(f).asScala)
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split('.').last).toSet
      finally list.close()
    }
    assert(services.nonEmpty)
    val roots = services ++ EntryMains.map(_.stripSuffix(".scala"))
    def named(n: String): Boolean = {
      val word = s"\\b$n\\b".r
      (main ++ bench).exists { case (owner, c) => owner != n && word.findFirstIn(c).isDefined }
    }
    val unused = (declared -- roots).filterNot(named)
    assert((unused -- Unreferenced.keySet).isEmpty,
      s"named by no code in src/main or perfbench/src: ${(unused -- Unreferenced.keySet).toSeq.sorted}")
    // The exception list cannot go stale: each entry is still defined and
    // still unnamed.
    assert(Unreferenced.keySet.subsetOf(unused),
      s"no longer unreferenced, drop from the list: ${(Unreferenced.keySet -- unused).toSeq.sorted}")
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
