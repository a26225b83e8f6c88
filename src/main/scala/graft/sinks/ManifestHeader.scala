package graft.sinks

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

/** The `#…` header block of a snapshot manifest — the table's metadata
  * in the log (the Delta convention; the reference keeps the same facts
  * in its index config). Headers precede every entry line, one per line,
  * fields tab-separated. The one table of lines, in [[render]] order:
  *
  * {{{
  *   line                          encoding            per version
  *   #committer <token>            raw                 fresh: the writer's publish token
  *   #ts <epoch millis>            decimal             derived: clock, clamped past the predecessor's
  *   #require <feature>            raw, one per line   derived: colmap / dv / multipart in use
  *   #op <operation>               raw                 fresh: commit, merge, delete, zorder, …
  *   #partcol <c1,c2,…>            raw (comma-joined)  fresh: given by the committing operation
  *   #constraint <name> <expr>     name raw, expr URL  carried forward
  *   #prop <key> <value>           both URL            carried forward
  *   #colmap <logical> <physical>  both URL            carried forward (one per renamed column)
  *   #coldrop <physical>           URL                 carried forward (one per dropped column)
  *   #copied <source path>         URL                 carried forward (the COPY INTO ledger)
  *   any other `#` line            verbatim (extra)    not carried
  * }}}
  *
  * "Carried forward" lines start each commit as the predecessor's
  * ([[carried]]) and change only through that commit's edit; `#require`
  * is re-derived so a version that stopped using a feature is readable
  * by readers without it. "URL" is `URLEncoder`/`URLDecoder` in UTF-8,
  * so tabs, newlines, `%`, `=` and non-ASCII survive the line format.
  * [[parse]] is total: a line it cannot decode is kept in [[extra]]
  * rather than failing the read (every header but `#require` is
  * advisory; the `#require` gate lives in [[SnapshotStore.manifest]]).
  * Legacy manifests that predate `#ts`, `#op` or `#partcol` parse to
  * empty fields. */
final case class ManifestHeader(
    committer: Option[String] = None,
    ts: Option[Long] = None,
    required: Seq[String] = Vector.empty,
    op: Option[String] = None,
    partcol: Option[String] = None,
    constraints: Seq[(String, String)] = Vector.empty,
    properties: Seq[(String, String)] = Vector.empty,
    renames: Seq[(String, String)] = Vector.empty,
    dropped: Seq[String] = Vector.empty,
    copied: Seq[String] = Vector.empty,
    extra: Seq[String] = Vector.empty) {
  import ManifestHeader.enc

  /** [[properties]] as a lookup map (later duplicates win). */
  lazy val props: Map[String, String] = properties.toMap

  /** The column mapping as lookup structures: renames logical→physical
    * and dropped physical names. Both empty for an unmapped table. */
  lazy val mapping: (Map[String, String], Set[String]) = (renames.toMap, dropped.toSet)

  /** [[partcol]] as a column list; empty when the manifest predates it. */
  def partitionCols: Seq[String] = partcol.map(ColSpec.parse(_).cols).getOrElse(Nil)

  /** Identity column names recorded in the properties (both modes) —
    * the allocator owns their mutation surface. Loud on a garbled
    * record ([[SnapshotStore.identityColumns]]). */
  def identityColumns: Seq[String] = SnapshotStore.identityColumns(props).map(_.col)

  /** GENERATED ALWAYS identity names only — the explicit-value refusal
    * sites read these (a BY DEFAULT column accepts caller values). */
  def alwaysIdentityColumns: Seq[String] =
    SnapshotStore.identityColumns(props).filterNot(_.byDefault).map(_.col)

  /** The metadata a commit starts from: constraints, properties, column
    * mapping and the COPY INTO ledger. */
  def carried: ManifestHeader =
    ManifestHeader(constraints = constraints, properties = properties,
      renames = renames, dropped = dropped, copied = copied)

  /** The header block, one string per line, in the table's order. */
  def render: Seq[String] =
    committer.map(c => s"#committer\t$c").toSeq ++
      ts.map(t => s"#ts\t$t") ++
      required.map(f => s"#require\t$f") ++
      op.map(o => s"#op\t$o") ++
      partcol.map(p => s"#partcol\t$p") ++
      constraints.map { case (n, e) => s"#constraint\t$n\t${enc(e)}" } ++
      properties.map { case (k, v) => s"#prop\t${enc(k)}\t${enc(v)}" } ++
      renames.map { case (lg, ph) => s"#colmap\t${enc(lg)}\t${enc(ph)}" } ++
      dropped.map(ph => s"#coldrop\t${enc(ph)}") ++
      copied.map(p => s"#copied\t${enc(p)}") ++
      extra

  /** Line count — the header cache's weight. */
  private[sinks] def size: Long =
    Seq(committer, ts, op, partcol).count(_.isDefined).toLong + required.size +
      constraints.size + properties.size + renames.size + dropped.size +
      copied.size + extra.size
}

object ManifestHeader {
  val empty: ManifestHeader = ManifestHeader()

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  /** Parse a header block (the manifest's leading `#` lines). The first
    * `#committer` / `#ts` / `#op` / `#partcol` wins; repeatable lines
    * keep their order. */
  def parse(lines: Seq[String]): ManifestHeader =
    lines.foldLeft(empty) { (h, line) =>
      scala.util.Try(parseLine(h, line)).toOption.flatten
        .getOrElse(h.copy(extra = h.extra :+ line))
    }

  /** `h` with `line` applied, or None when the line is not one of the
    * known shapes (it then lands in [[ManifestHeader.extra]]). Throws on
    * a known line whose fields do not decode; [[parse]] treats that the
    * same way. */
  private def parseLine(h: ManifestHeader, line: String): Option[ManifestHeader] = {
    val tab = line.indexOf('\t')
    val v = line.substring(tab + 1)
    def pair: (String, String) = { val Array(a, b) = v.split("\t", 2); (a, b) }
    if (tab < 0) None
    else line.substring(0, tab) match {
      case "#committer" if h.committer.isEmpty => Some(h.copy(committer = Some(v)))
      case "#ts" if h.ts.isEmpty => v.toLongOption.map(t => h.copy(ts = Some(t)))
      case "#require" => Some(h.copy(required = h.required :+ v.trim))
      case "#op" if h.op.isEmpty => Some(h.copy(op = Some(v)))
      case "#partcol" if h.partcol.isEmpty => Some(h.copy(partcol = Some(v)))
      case "#constraint" =>
        val (n, e) = pair; Some(h.copy(constraints = h.constraints :+ (n -> dec(e))))
      case "#prop" =>
        val (k, x) = pair; Some(h.copy(properties = h.properties :+ (dec(k) -> dec(x))))
      case "#colmap" =>
        val (lg, ph) = pair; Some(h.copy(renames = h.renames :+ (dec(lg) -> dec(ph))))
      case "#coldrop" => Some(h.copy(dropped = h.dropped :+ dec(v)))
      case "#copied" => Some(h.copy(copied = h.copied :+ dec(v)))
      case _ => None
    }
  }
}
