package graft.sources

import java.io.StringWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.types.{DataType, StructType}

/** One table version as `_manifests/v<13-digit>.json` records it — the
  * snapshot store's only manifest model. Two layouts share the model:
  *
  *   - FLAT: `files` holds every entry and `ranges` their per-file stats.
  *   - SECTIONED (above [[SnapshotStore.sectionThreshold]] files):
  *     `sections` maps each partition dir ("" = unpartitioned) to a
  *     content-addressed section file under `_manifests/sections/`, and
  *     `files`/`ranges` stay empty; the entries and their stats live in
  *     the sections ([[Manifest.encodeSection]]).
  *
  * Fields:
  *   - `rows`: exact row count for full snapshots, -1 for incremental
  *     commits (appends don't re-count history).
  *   - `schema`: the table schema, stored as a JSON-encoded string.
  *   - `partCol`: the layout record. `Some(Some(c))` partitioned by `c`,
  *     `Some(None)` explicitly unpartitioned, `None` when the manifest
  *     predates the record and no legacy side file names one.
  *   - `changeKey`: the row-identity key a keyed commit declares, which
  *     lets CDC pair its delete+insert rows into update images.
  *   - `txn`: the writer's `(appId, batchId)` exactly-once marker.
  *   - `statsCols`: the declared stats columns (Nil = none); the first is
  *     what a `keyRange` read prunes on.
  *   - entries are root-relative data-file paths, optionally annotated
  *     `path#dv=ref1;ref2` with deletion vectors. The annotation is part
  *     of the entry string, so set diffs see a DV commit as remove+add.
  */
final case class Manifest(
    rows: Long,
    schema: Option[StructType] = None,
    partCol: Option[Option[String]] = Some(None),
    changeKey: Seq[String] = Nil,
    txn: Option[(String, Long)] = None,
    statsCols: Seq[String] = Nil,
    files: Seq[String] = Nil,
    ranges: Manifest.FileStats = Map.empty,
    sections: Option[Seq[(String, String)]] = None) {

  /** The partition column this version's files are laid out by. */
  def layout: Option[String] = partCol.flatten
}

/** The store's one manifest codec (jackson's tree model and streaming
  * generator, both shipped with Spark). Every manifest, section, txn
  * checkpoint and catalog file is written and read here.
  *
  * Legacy shapes the decoder accepts, so tables written by earlier
  * builds read back without a format version:
  *   - flat single-column stats, `"stats":{"path":[lo,hi],…}` with no
  *     `cols`/`ranges` — the ranges bind to the first column the
  *     `stats_cols` (or older `stats_col`) side file declares;
  *   - no recorded stats columns — they come from those side files;
  *   - no `part_col` key — the layout comes from the `part_col` side
  *     file, and is unknown (`None`) without one;
  *   - no `schema` key;
  *   - raw control characters inside strings (earlier writers escaped
  *     only `\` and `"`).
  */
object Manifest {

  /** Per-column inclusive `[lo, hi]` ranges of one file. */
  type Ranges = Map[String, (Long, Long)]
  /** Entry → its per-column ranges. */
  type FileStats = Map[String, Ranges]

  private[sources] val Dir = "_manifests"
  private[sources] val SectionDir = "sections"
  private val CheckpointFile = "txn_checkpoint.json"

  private val Json = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .build()

  /** `dir/v<13-digit>.json`: one version of a manifest or catalog log. */
  private[sources] def versionFile(dir: Path, version: Long): Path =
    dir.resolve(f"v$version%013d.json")

  private[sources] def path(root: String, version: Long): Path =
    versionFile(Paths.get(root, Dir), version)

  /** The versions logged in `dir`, ascending (empty when it is absent). */
  private[sources] def versionsIn(dir: Path): Seq[Long] = {
    if (!Files.isDirectory(dir)) return Nil
    val it = Files.list(dir)
    try it.iterator().asScala.map(_.getFileName.toString)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .toSeq.sorted
    finally it.close()
  }

  /** Decode version `version` of the table at `root`, consulting the
    * legacy side files only for records the manifest lacks.
    */
  def read(root: String, version: Long): Manifest =
    fromTree(Json.readTree(Files.readAllBytes(path(root, version))), { name =>
      val p = Paths.get(root, Dir, name)
      if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      else None
    })

  /** Decode manifest text; `sideFile(name)` supplies a legacy side file's
    * content (see the object doc).
    */
  def decode(json: String, sideFile: String => Option[String] = _ => None): Manifest =
    fromTree(Json.readTree(json), sideFile)

  private def fromTree(n: JsonNode, sideFile: String => Option[String]): Manifest = {
    def strings(a: JsonNode): Seq[String] =
      if (a == null) Nil else a.elements().asScala.map(_.asText).toSeq
    lazy val sideCols = Seq("stats_cols", "stats_col").iterator.flatMap(sideFile)
      .nextOption().fold(Seq.empty[String])(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val stats = n.get("stats")
    val recordedCols = Option(stats).flatMap(s => Option(s.get("cols")))
      .orElse(Option(n.get("stats_cols"))).map(strings)
    val statsCols = recordedCols.getOrElse(sideCols)
    val ranges: FileStats =
      if (stats == null) Map.empty
      else if (stats.has("ranges"))
        fields(stats.get("ranges")).map { case (f, r) => f -> decodeRanges(r) }.toMap
      else statsCols.headOption.fold(Map.empty: FileStats) { c =>
        fields(stats).map { case (f, r) => f -> Map(c -> range(r)) }.toMap
      }
    Manifest(
      rows = n.path("rows").asLong(-1L),
      schema = Option(n.get("schema")).map(s =>
        DataType.fromJson(s.asText).asInstanceOf[StructType]),
      partCol = Option(n.get("part_col")) match {
        case Some(p) => Some(if (p.isNull) None else Some(p.asText))
        case None => sideFile("part_col").map(_.trim).filter(_.nonEmpty).map(Some(_))
      },
      changeKey = strings(n.get("change_key")),
      txn = Option(n.get("txn")).map(t => t.get("app").asText -> t.get("batch").asLong),
      statsCols = statsCols,
      files = strings(n.get("files")),
      ranges = ranges,
      sections = Option(n.get("sections")).map(s => fields(s).map { case (k, v) => k -> v.asText }))
  }

  /** Render `m` as compact JSON, keys in the order earlier builds wrote
    * them (`rows` first, the entry list or section map last).
    */
  def encode(m: Manifest): String = render { g =>
    g.writeStartObject()
    g.writeNumberField("rows", m.rows)
    m.schema.foreach(s => g.writeStringField("schema", s.json))
    m.partCol.foreach { pc =>
      g.writeFieldName("part_col")
      pc.fold(g.writeNull())(g.writeString)
    }
    if (m.changeKey.nonEmpty) writeStrings(g, "change_key", m.changeKey)
    m.txn.foreach { case (app, batch) =>
      g.writeObjectFieldStart("txn")
      g.writeStringField("app", app)
      g.writeNumberField("batch", batch)
      g.writeEndObject()
    }
    m.sections match {
      case Some(refs) =>
        if (m.statsCols.nonEmpty) writeStrings(g, "stats_cols", m.statsCols)
        g.writeObjectFieldStart("sections")
        refs.sortBy(_._1).foreach { case (dir, ref) => g.writeStringField(dir, ref) }
        g.writeEndObject()
      case None =>
        if (m.statsCols.nonEmpty) {
          g.writeObjectFieldStart("stats")
          writeStrings(g, "cols", m.statsCols)
          g.writeObjectFieldStart("ranges")
          m.ranges.toSeq.sortBy(_._1).foreach { case (f, r) =>
            g.writeFieldName(f)
            writeRanges(g, r)
          }
          g.writeEndObject()
          g.writeEndObject()
        }
        writeStrings(g, "files", m.files.sorted)
    }
    g.writeEndObject()
  }

  /** One section file: a line per entry, `path` or `path<TAB>{"col":[lo,hi],…}`.
    * The bytes are the section's identity (its file name is their md5).
    */
  def encodeSection(entries: Seq[(String, Ranges)]): String =
    entries.map { case (f, r) =>
      if (r.isEmpty) f else f + "\t" + render(writeRanges(_, r))
    }.mkString("\n")

  def decodeSection(txt: String): Seq[(String, Ranges)] =
    if (txt.isEmpty) Nil
    else txt.split('\n').toSeq.map { line =>
      val t = line.indexOf('\t')
      if (t < 0) line -> Map.empty[String, (Long, Long)]
      else line.substring(0, t) -> decodeRanges(Json.readTree(line.substring(t + 1)))
    }

  private[sources] def sectionPath(root: String, ref: String): Path =
    Paths.get(root, Dir, SectionDir, ref)

  private[sources] def readSection(root: String, ref: String): Seq[(String, Ranges)] =
    decodeSection(new String(Files.readAllBytes(sectionPath(root, ref)), StandardCharsets.UTF_8))

  /** A flat `{"name": long, …}` object: the txn checkpoint's app → batch
    * map, and a catalog snapshot's `tables` map.
    */
  private[graft] def encodeLongs(m: Map[String, Long]): String =
    render(writeLongs(_, m))

  private[graft] def decodeLongs(json: String): Map[String, Long] = longs(Json.readTree(json))

  private def longs(n: JsonNode): Map[String, Long] =
    fields(n).map { case (k, v) => k -> v.asLong }.toMap

  /** The app → latest batch markers vacuum carried out of pruned
    * manifests (lives beside them; vacuum never deletes it).
    */
  private[sources] def readCheckpoint(root: String): Map[String, Long] = {
    val p = Paths.get(root, Dir, CheckpointFile)
    if (!Files.exists(p)) Map.empty else longs(Json.readTree(Files.readAllBytes(p)))
  }

  private[sources] def writeCheckpoint(root: String, state: Map[String, Long]): Unit = {
    val p = Paths.get(root, Dir, CheckpointFile)
    val tmp = p.resolveSibling(CheckpointFile + ".tmp")
    Files.write(tmp, encodeLongs(state).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** A catalog snapshot `{"tables":{name: version, …}}`; other keys are ignored. */
  private[sources] def encodeCatalog(tables: Map[String, Long]): String = render { g =>
    g.writeStartObject()
    g.writeFieldName("tables")
    writeLongs(g, tables)
    g.writeEndObject()
  }

  private[sources] def decodeCatalog(bytes: Array[Byte]): Option[Map[String, Long]] =
    Option(Json.readTree(bytes).get("tables")).filter(_.isObject).map(longs)

  private def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties().asScala.iterator.map(e => e.getKey -> e.getValue).toSeq

  private def range(a: JsonNode): (Long, Long) = (a.get(0).asLong, a.get(1).asLong)

  private def decodeRanges(n: JsonNode): Ranges =
    fields(n).map { case (c, a) => c -> range(a) }.toMap

  private def render(body: JsonGenerator => Unit): String = {
    val w = new StringWriter()
    val g = Json.getFactory.createGenerator(w)
    try body(g) finally g.close()
    w.toString
  }

  private def writeStrings(g: JsonGenerator, name: String, xs: Seq[String]): Unit = {
    g.writeArrayFieldStart(name)
    xs.foreach(g.writeString)
    g.writeEndArray()
  }

  private def writeRanges(g: JsonGenerator, r: Ranges): Unit = {
    g.writeStartObject()
    r.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
      g.writeArrayFieldStart(c)
      g.writeNumber(lo)
      g.writeNumber(hi)
      g.writeEndArray()
    }
    g.writeEndObject()
  }

  private def writeLongs(g: JsonGenerator, m: Map[String, Long]): Unit = {
    g.writeStartObject()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => g.writeNumberField(k, v) }
    g.writeEndObject()
  }
}
