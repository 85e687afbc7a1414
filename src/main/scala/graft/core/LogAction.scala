package graft.core

import java.nio.file.{Files, Path}

/** One line of a [[TxLog]] file, typed — the SINGLE definition of the
  * log grammar. Every version entry (`_log/<v %08d>.txt`), checkpoint
  * (`_log/<v>.checkpoint`) and multi-table transaction file is a
  * newline-delimited sequence of these, and nothing outside this file
  * builds or splits a raw line: writers hand actions to [[encode]],
  * readers get them back from [[decode]].
  *
  * The codec is lossless on every line: `encode(decode(l)) == l`
  * byte-for-byte. A line whose kind is unknown, or whose payload is not
  * in the canonical form its encoder writes, decodes to [[Unknown]] and
  * carries no meaning — the log's "readers ignore unknown line types"
  * contract, which lets older and newer writers share one table. An
  * add line is the exception, because its file must stay live however
  * its trailing markers look: a marker that does not parse
  * canonically becomes a verbatim [[RawField]] (the file keeps no
  * partition value or zone map for it — the conservative
  * always-kept shape) and the other markers keep their meaning. */
sealed trait LogAction

object LogAction {

  /** `ts\t<millis>` — the commit instant every version entry records
    * first (timestamp time travel; robust to file-metadata loss). */
  final case class Ts(millis: Long) extends LogAction

  /** `add\t<file>[\t<marker>…]` — a data file joins the live set.
    * `file` is relative to the table directory (a shallow clone's adds
    * reference `../src/part-x.parquet`). The markers keep their
    * written order: `p:<col>=<value>` partition values,
    * `<col>\t<lo>\t<hi>` exact-long zone maps and `s:<col>=<lo>=<hi>`
    * string zone maps (binary UTF8 order). */
  final case class Add(file: String, fields: Seq[AddField] = Seq.empty)
      extends LogAction {
    def partitionValues: Map[String, String] =
      fields.collect { case Part(c, v) => c -> v }.toMap
    def stats: Map[String, (Long, Long)] =
      fields.collect { case Bounds(c, lo, hi) => c -> ((lo, hi)) }.toMap
    def strStats: Map[String, (String, String)] =
      fields.collect { case StrBounds(c, lo, hi) => c -> ((lo, hi)) }.toMap
  }

  /** One trailing marker of an [[Add]]. */
  sealed trait AddField
  final case class Part(col: String, value: String) extends AddField
  final case class Bounds(col: String, lo: Long, hi: Long) extends AddField
  final case class StrBounds(col: String, lo: String, hi: String)
      extends AddField
  /** A marker field that does not parse canonically, kept verbatim. */
  final case class RawField(text: String) extends AddField

  /** `remove\t<file>` — a data file leaves the live set (and its
    * deletion vectors with it). */
  final case class Remove(file: String) extends LogAction
  /** `dv\t<file>\t<pos,pos,…>` — inline deletion-vector positions. */
  final case class Dv(file: String, positions: Seq[Long]) extends LogAction
  /** `dvf\t<file>\t<sidecar>` — deletion vectors in a `_dv/` parquet
    * sidecar (rows `(file basename, pos)`). */
  final case class Dvf(file: String, sidecar: String) extends LogAction
  /** `txn\t<app>\t<id>` — the exactly-once marker of an idempotent
    * append (streaming epochs). */
  final case class Txn(app: String, id: Long) extends LogAction
  /** `constraint\t<name>\t<sql>` / `unconstraint\t<name>` — CHECK
    * constraints. */
  final case class Constraint(name: String, sql: String) extends LogAction
  final case class Unconstraint(name: String) extends LogAction
  /** `property\t<key>\t<value>` / `unproperty\t<key>` — TBLPROPERTIES,
    * the reserved `graft.*` layout keys included. */
  final case class Property(key: String, value: String) extends LogAction
  final case class Unproperty(key: String) extends LogAction
  /** `copysrc\t<path>` / `uncopysrc\t<path>` — the COPY INTO ledger. */
  final case class CopySrc(path: String) extends LogAction
  final case class UncopySrc(path: String) extends LogAction
  /** `feature\t<name>` — a required reader feature. */
  final case class Feature(name: String) extends LogAction
  /** `schema\t<json>` — the table's recorded schema. */
  final case class Schema(json: String) extends LogAction
  /** `xref\t<tx file>\t<key>` — this version's actions live in a
    * shared multi-table transaction file, under `key`. */
  final case class Xref(txFile: String, key: Int) extends LogAction
  /** `nodc` — a layout-only commit (OPTIMIZE); the change feed skips
    * it. */
  case object NoDataChange extends LogAction
  /** `!tables\t<dir>\t…` — a transaction file's header: every
    * participant, relative to the transaction root. */
  final case class TxTables(tables: Seq[String]) extends LogAction
  /** `<key>\t<action>` — one participant's action in a transaction
    * file. */
  final case class Keyed(key: Int, action: LogAction) extends LogAction
  /** Any other line, passed through verbatim and otherwise ignored. */
  final case class Unknown(raw: String) extends LogAction

  def encode(a: LogAction): String = a match {
    case Ts(ms) => s"ts\t$ms"
    case Add(f, fs) => (s"add\t$f" +: fs.map(encodeField)).mkString("\t")
    case Remove(f) => s"remove\t$f"
    case Dv(f, ps) => s"dv\t$f\t${ps.mkString(",")}"
    case Dvf(f, sc) => s"dvf\t$f\t$sc"
    case Txn(app, id) => s"txn\t$app\t$id"
    case Constraint(n, sql) => s"constraint\t${escapeVal(n)}\t${escapeVal(sql)}"
    case Unconstraint(n) => s"unconstraint\t${escapeVal(n)}"
    case Property(k, v) => s"property\t${escapeVal(k)}\t${escapeVal(v)}"
    case Unproperty(k) => s"unproperty\t${escapeVal(k)}"
    case CopySrc(p) => s"copysrc\t${escapeVal(p)}"
    case UncopySrc(p) => s"uncopysrc\t${escapeVal(p)}"
    case Feature(n) => s"feature\t${escapeVal(n)}"
    case Schema(j) => s"schema\t${escapeVal(j)}"
    case Xref(tx, key) => s"xref\t$tx\t$key"
    case NoDataChange => "nodc"
    case TxTables(ts) => ts.mkString("!tables\t", "\t", "")
    case Keyed(key, inner) => s"$key\t${encode(inner)}"
    case Unknown(raw) => raw
  }

  private def encodeField(f: AddField): String = f match {
    case Part(c, v) => s"p:${escapeVal(c)}=${escapeVal(v)}"
    case Bounds(c, lo, hi) => s"$c\t$lo\t$hi"
    case StrBounds(c, lo, hi) =>
      s"s:${escapeVal(c)}=${escapeVal(lo)}=${escapeVal(hi)}"
    case RawField(t) => t
  }

  /** Parse one line; lossless (see the object doc). */
  def decode(l: String): LogAction = {
    val a = parse(l)
    if (a.isInstanceOf[Unknown] || encode(a) == l) a else Unknown(l)
  }

  private def parse(l: String): LogAction = {
    val tab = l.indexOf('\t')
    if (tab < 0) return if (l == "nodc") NoDataChange else Unknown(l)
    val rest = l.substring(tab + 1)
    def fields2(limit: Int)(f: (String, String) => LogAction): LogAction =
      rest.split("\t", limit) match {
        case Array(a, b) => f(a, b)
        case _ => Unknown(l)
      }
    l.substring(0, tab) match {
      case "ts" => rest.toLongOption.fold[LogAction](Unknown(l))(Ts(_))
      case "add" => parseAdd(rest)
      case "remove" => Remove(rest)
      case "dv" => fields2(0) { (f, ps) =>
        val pos = ps.split(',').toSeq.map(_.toLongOption)
        if (pos.forall(_.isDefined)) Dv(f, pos.flatten) else Unknown(l)
      }
      case "dvf" => fields2(0)(Dvf(_, _))
      case "txn" =>
        val i = rest.lastIndexOf('\t')
        if (i < 0) Unknown(l)
        else rest.substring(i + 1).toLongOption
          .fold[LogAction](Unknown(l))(Txn(rest.substring(0, i), _))
      case "constraint" => fields2(0) { (n, sql) =>
        Constraint(unescapeVal(n), unescapeVal(sql)) }
      case "unconstraint" => Unconstraint(unescapeVal(rest))
      // limit -1: a property set to the EMPTY STRING (`property\tk\t`)
      // must not lose its trailing empty field
      case "property" => fields2(-1) { (k, v) =>
        Property(unescapeVal(k), unescapeVal(v)) }
      case "unproperty" => Unproperty(unescapeVal(rest))
      case "copysrc" => CopySrc(unescapeVal(rest))
      case "uncopysrc" => UncopySrc(unescapeVal(rest))
      case "feature" => Feature(unescapeVal(rest))
      case "schema" => Schema(unescapeVal(rest))
      case "xref" => fields2(0) { (tx, key) =>
        key.toIntOption.fold[LogAction](Unknown(l))(Xref(tx, _)) }
      case "!tables" => TxTables(rest.split("\t", -1).toSeq)
      case k if k.nonEmpty && k.forall(_.isDigit) =>
        k.toIntOption.fold[LogAction](Unknown(l))(Keyed(_, decode(rest)))
      case _ => Unknown(l)
    }
  }

  /** An add line's file and markers. Fields after the file are `p:` or
    * `s:` markers, or exact-long triples; each parses alone, and one
    * that does not parse canonically is kept as a [[RawField]] (a
    * triple whose numbers parse non-canonically stays three raw
    * fields, so the fields after it keep their alignment). */
  private def parseAdd(rest: String): Add = {
    val fs = rest.split("\t", -1)
    val out = Vector.newBuilder[AddField]
    def canon(f: String, parsed: Option[AddField]): AddField =
      parsed.filter(encodeField(_) == f).getOrElse(RawField(f))
    var i = 1
    while (i < fs.length) {
      val f = fs(i)
      if (f.startsWith("p:")) {
        val eq = f.indexOf('=')
        out += canon(f, Option.when(eq > 2)(Part(
          unescapeVal(f.substring(2, eq)), unescapeVal(f.substring(eq + 1)))))
        i += 1
      } else if (f.startsWith("s:")) {
        // limit -1: an empty-string max (`s:col=lo=`) keeps its segment
        out += canon(f, f.substring(2).split("=", -1) match {
          case Array(c, lo, hi) =>
            Some(StrBounds(unescapeVal(c), unescapeVal(lo), unescapeVal(hi)))
          case _ => None
        })
        i += 1
      } else (if (i + 2 < fs.length)
          fs(i + 1).toLongOption.zip(fs(i + 2).toLongOption) else None) match {
        case Some((lo, hi)) =>
          val r = Bounds(f, lo, hi)
          if (encodeField(r) == Seq(f, fs(i + 1), fs(i + 2)).mkString("\t"))
            out += r
          else out ++= Seq(f, fs(i + 1), fs(i + 2)).map(RawField(_))
          i += 3
        case None => out += RawField(f); i += 1
      }
    }
    Add(fs(0), out.result())
  }

  /** A log file's bytes: one encoded action per line, each
    * newline-terminated. */
  def render(actions: Seq[LogAction]): Array[Byte] =
    actions.map(encode).mkString("", "\n", "\n").getBytes("UTF-8")

  /** Every action of a log file (blank lines skipped). */
  def read(p: Path): Seq[LogAction] =
    new String(Files.readAllBytes(p), "UTF-8")
      .linesIterator.filter(_.nonEmpty).map(decode).toSeq

  /** Minimal %xx escaping for values stored in log lines: the
    * characters that would break the line grammar (tab, newline,
    * carriage return, `=`, `%`). `\r` matters because [[read]] splits
    * with `linesIterator`, which splits on `\r` too — an unescaped CR
    * in a string zone-map bound would truncate the line at replay into
    * a still-parseable marker whose `hi` is a strict prefix of the real
    * max, making pruning silently DROP files that hold matching rows.
    * Spark-side path escaping is undone before storage, so the log
    * holds the RAW value under this one scheme. */
  def escapeVal(s: String): String =
    s.flatMap {
      case '%'  => "%25"
      case '\t' => "%09"
      case '\n' => "%0A"
      case '\r' => "%0D"
      case '='  => "%3D"
      case c    => c.toString
    }

  def unescapeVal(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
        catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
