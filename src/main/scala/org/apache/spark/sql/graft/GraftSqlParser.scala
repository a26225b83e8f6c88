package org.apache.spark.sql.graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.sinks.{GraftCatalog, SnapshotStore}

/** Maintenance-SQL surface for snapshot tables — the statements Delta
  * users type, routed to [[graft.sinks.SnapshotStore]]:
  *
  * {{{
  *   RESTORE TABLE graft.products TO VERSION AS OF 2
  *   DESCRIBE HISTORY graft.`/abs/path/t`
  *   VACUUM graft.products RETAIN 0 HOURS
  *   OPTIMIZE graft.products ZORDER BY (a, b)
  *   GENERATE symlink_format_manifest FOR TABLE graft.products
  *   MERGE INTO graft.products t USING updates s ON t.sku = s.sku
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * Spark's grammar lacks these statements (or, for MERGE, cannot
  * execute them against a snapshot table), so — exactly like Delta's
  * `DeltaSqlParser` — a delegating `ParserInterface` is injected via
  * `SparkSessionExtensions.injectParser`: the fixed statement shapes
  * are recognized here (backtick-aware), everything else falls
  * through to the session parser untouched. Table names resolve
  * through the SAME [[GraftCatalog]] rules as reads (warehouse name or
  * backticked absolute path), so the read and maintenance surfaces
  * cannot drift.
  *
  * Both commands are metadata-priced at any table size: RESTORE is a
  * pure manifest commit ([[SnapshotStore.restore]] — zero data read),
  * DESCRIBE HISTORY walks manifests + stats sidecars
  * ([[SnapshotStore.history]]). V1 `RunnableCommand`s, matching how
  * Spark itself (and Delta) plan maintenance DDL — there is nothing to
  * distribute. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  /** Statement recognition and every free-text split run on one
    * lexer, [[GraftSqlParser.lex]]: each statement matches as a token
    * sequence with backtracking, never as a regex over raw text —
    * quoted keywords, nested parens in type DDL, and path-shaped
    * backticked identifiers can never confuse dispatch. Anything
    * unrecognized (or aimed at a non-graft catalog) flows to the
    * session parser untouched. */
  override def parsePlan(sqlText: String): LogicalPlan =
    recognize(sqlText, delegate).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  // Lexical building blocks still used by the free-text helpers
  // (mergeKeys' qualified-column match, ADD COLUMNS name/type split,
  // CHECK-expression column validation) — not by statement dispatch,
  // which is tokenizer-based below.
  private val part = "(?:`[^`]+`|[A-Za-z_][\\w$]*)"
  private val colIdent = "(?:`([^`]+)`|([A-Za-z_][\\w$]*))"

  /** First non-null of a `colIdent` match's two groups (backtick-quoted
    * vs bare). */
  private def colOf(quoted: String, bare: String): String =
    Option(quoted).getOrElse(bare)

  // ------------------------------------------------------------------ //
  //  The lexer: the one quoting discipline of the SQL surface.          //
  //                                                                     //
  //  Single- and double-quoted strings end at their delimiter; a        //
  //  backslash escapes the next character and a doubled delimiter      //
  //  escapes itself. Backtick identifiers end at a backtick; a doubled  //
  //  backtick escapes itself. Recognizers consume tokens with           //
  //  backtracking, and the free-text splits walk the same tokens        //
  //  ([[topLevel]]), so no two parts of one statement can disagree      //
  //  about where a string ends. Captures that feed downstream parsers   //
  //  (expressions, queries, type DDL) are RAW SOURCE SLICES taken from  //
  //  token offsets, so nothing is ever re-spaced or re-quoted.          //
  // ------------------------------------------------------------------ //

  /** kind: 'w' word, 'q' backtick ident, 's' string, 'n' number,
    * 'p' punctuation. `start`/`end` are source offsets. */
  private final case class Tok(kind: Char, start: Int, end: Int)

  /** None = not lexable under the SQL quoting rules (unterminated
    * string/backtick) — recognition then falls through to the session
    * parser, which owns the error. */
  private def lex(s: String): Option[Vector[Tok]] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = s.length
    while (i < n) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val q = c; val st = i; i += 1
        var closed = false
        while (i < n && !closed) {
          val ch = s.charAt(i)
          if (ch == '\\') i += 2
          else if (ch == q) {
            if (i + 1 < n && s.charAt(i + 1) == q) i += 2
            else { closed = true; i += 1 }
          } else i += 1
        }
        if (!closed) return None
        out += Tok('s', st, i)
      } else if (c == '`') {
        val st = i; i += 1
        var closed = false
        while (i < n && !closed) {
          if (s.charAt(i) == '`') {
            if (i + 1 < n && s.charAt(i + 1) == '`') i += 2
            else { closed = true; i += 1 }
          } else i += 1
        }
        if (!closed) return None
        out += Tok('q', st, i)
      } else if (c.isLetter || c == '_') {
        val st = i
        while (i < n && (s.charAt(i).isLetterOrDigit ||
          s.charAt(i) == '_' || s.charAt(i) == '$')) i += 1
        out += Tok('w', st, i)
      } else if (c.isDigit) {
        val st = i
        while (i < n && s.charAt(i).isDigit) i += 1
        out += Tok('n', st, i)
      } else { out += Tok('p', i, i + 1); i += 1 }
    }
    Some(out.result())
  }

  /** Mutable token cursor with mark/reset backtracking. Every capture
    * that flows onward is a raw source slice. */
  private final class Cur(val sql: String, toks: Vector[Tok]) {
    private var pos = 0
    def mark: Int = pos
    def reset(m: Int): Unit = pos = m
    private def cur: Option[Tok] =
      if (pos < toks.length) Some(toks(pos)) else None
    private def text(t: Tok): String = sql.substring(t.start, t.end)

    /** Consume the exact keyword sequence (bare words, case-insensitive)
      * or reset. */
    def kw(words: String*): Boolean = {
      val m = pos
      val ok = words.forall(w => cur.exists(t =>
        t.kind == 'w' && text(t).equalsIgnoreCase(w)) && { pos += 1; true })
      if (!ok) pos = m
      ok
    }
    def peekKw(ws: String*): Boolean =
      cur.exists(t => t.kind == 'w' && ws.exists(text(t).equalsIgnoreCase))
    def peekPunct(p: String): Boolean =
      cur.exists(t => t.kind == 'p' && text(t) == p)
    def word(): Option[String] =
      cur.filter(_.kind == 'w').map { t => pos += 1; text(t) }
    def num(): Option[String] =
      cur.filter(_.kind == 'n').map { t => pos += 1; text(t) }
    /** String literal INNER text (delimiters stripped, escapes kept —
      * the downstream consumers receive exactly what the old
      * recognizers captured). */
    def str(): Option[String] = cur.filter(_.kind == 's').map { t =>
      pos += 1; sql.substring(t.start + 1, t.end - 1)
    }
    def punct(p: String): Boolean =
      cur.exists(t => t.kind == 'p' && text(t) == p) && { pos += 1; true }
    /** One column identifier: bare word, or backtick-quoted (inner
      * text, backticks stripped). */
    def column(): Option[String] = cur.collect {
      case t if t.kind == 'w' => pos += 1; text(t)
      case t if t.kind == 'q' => pos += 1; sql.substring(t.start + 1, t.end - 1)
    }
    /** One multipart identifier (`part(.part)*`, parts bare or
      * backticked) as its raw source slice — handed verbatim to the
      * session parser\'s parseMultipartIdentifier. */
    def multipart(): Option[String] = {
      def part(): Option[Tok] =
        cur.filter(t => t.kind == 'w' || t.kind == 'q').map { t => pos += 1; t }
      part().map { first =>
        var last = first
        var go = true
        while (go) {
          val m = pos
          if (punct(".")) part() match {
            case Some(t) => last = t
            case None => pos = m; go = false
          } else go = false
        }
        sql.substring(first.start, last.end)
      }
    }
    /** A balanced parenthesized group; returns the raw INNER slice. */
    def parens(): Option[String] = {
      val m = pos
      if (!punct("(")) return None
      val startOff = toks(pos - 1).end
      var depth = 1
      while (depth > 0 && pos < toks.length) {
        val t = toks(pos)
        if (t.kind == 'p' && text(t) == "(") depth += 1
        else if (t.kind == 'p' && text(t) == ")") depth -= 1
        pos += 1
      }
      if (depth != 0) { pos = m; None }
      else Some(sql.substring(startOff, toks(pos - 1).start))
    }
    /** Everything from the current token to the end (one trailing ';'
      * dropped) as a raw slice; None when nothing remains. */
    def rest(): Option[String] = {
      if (pos >= toks.length) return None
      var lastIdx = toks.length - 1
      if (toks(lastIdx).kind == 'p' && text(toks(lastIdx)) == ";") lastIdx -= 1
      if (lastIdx < pos) None
      else {
        val out = sql.substring(toks(pos).start, toks(lastIdx).end)
        pos = toks.length
        Some(out)
      }
    }
    /** End of statement (one optional trailing ';'). */
    def done: Boolean = {
      val m = pos
      punct(";")
      val ok = pos >= toks.length
      if (!ok) pos = m
      ok
    }
  }

  /** Recognize one graft maintenance/DML statement, or None to
    * delegate. Throws for a graft-catalog MERGE outside the supported
    * grammar (rejecting HERE blames the statement, not the catalog). */
  private[graft] def recognize(sqlText: String,
                               delegate: ParserInterface): Option[LogicalPlan] =
    lex(sqlText).flatMap { toks =>
      def c() = new Cur(sqlText, toks)
      def gated(table: String): Boolean =
        isGraftCatalogName(delegate.parseMultipartIdentifier(table).head)
      def parts(table: String): Seq[String] =
        delegate.parseMultipartIdentifier(table)

      def restore: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("RESTORE"))
          _ = u.kw("TABLE")
          t <- u.multipart()
          plan <- {
            val m = u.mark
            (for { _ <- Some(()).filter(_ => u.kw("TO", "VERSION", "AS", "OF"))
                   v <- u.num() if u.done }
              yield RestoreSnapshotCommand(parts(t), v.toLong): LogicalPlan)
              .orElse { u.reset(m)
                for { _ <- Some(()).filter(_ => u.kw("TO", "TIMESTAMP", "AS", "OF"))
                      ts <- u.str() if u.done }
                  yield RestoreSnapshotToTimestampCommand(parts(t), ts): LogicalPlan
              }
          }
        } yield plan
      }

      def describe: Option[LogicalPlan] = { val u = c()
        if (!(u.kw("DESCRIBE") || u.kw("DESC"))) None
        else if (u.kw("HISTORY"))
          u.multipart().filter(_ => u.done).map(t => DescribeHistoryCommand(parts(t)))
        else if (u.kw("DETAIL"))
          u.multipart().filter(_ => u.done).map(t => DescribeDetailCommand(parts(t)))
        else None
      }

      def vacuum: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("VACUUM"))
          t <- u.multipart()
          retain <- {
            // HOURS is MANDATORY: a unit-less RETAIN must not silently
            // mean hours — a user thinking in days would vacuum files
            // still needed for time travel.
            if (u.kw("RETAIN"))
              u.num().filter(_ => u.kw("HOURS")).map(n => Some(n.toLong))
            else Some(None)
          }
          dry = u.kw("DRY", "RUN")
          _ <- Some(()).filter(_ => u.done)
        } yield VacuumSnapshotCommand(parts(t), retain, dry)
      }

      def createTable: Option[LogicalPlan] = { val u = c()
        // Optional creation-time bucket spec (the Hive/Delta-liquid
        // spelling): `CLUSTER BY (c, …) [SORTED BY (s, …)] INTO n
        // BUCKETS`. Some(None) = clause absent; None = malformed.
        def clusterBy(u: Cur): Option[Option[(Seq[String], Seq[String], Int)]] =
          if (!u.kw("CLUSTER", "BY")) Some(None)
          else for {
            cols <- u.parens()
            sortCols <- if (u.kw("SORTED", "BY"))
              u.parens().map(identifierList) else Some(Nil)
            _ <- Some(()).filter(_ => u.kw("INTO"))
            n <- u.num()
            _ <- Some(()).filter(_ => u.kw("BUCKETS"))
          } yield Some((identifierList(cols), sortCols, n.toInt))
        if (!u.kw("CREATE", "TABLE")) None
        else u.multipart().flatMap { t =>
          if (u.kw("SHALLOW", "CLONE"))
            for {
              src <- u.multipart()
              pin <- {
                val m = u.mark
                if (u.kw("VERSION", "AS", "OF"))
                  u.num().map(n => (Some(n.toLong), Option.empty[String]))
                else { u.reset(m)
                  if (u.kw("TIMESTAMP", "AS", "OF"))
                    u.str().map(ts => (Option.empty[Long], Some(ts)))
                  else Some((Option.empty[Long], Option.empty[String]))
                }
              }
              _ <- Some(()).filter(_ => u.done && gated(t) && gated(src))
            } yield CloneSnapshotCommand(parts(t), parts(src), pin._1, pin._2)
          else if (u.peekPunct("("))
            for {
              schemaDdl <- u.parens()
              _ <- Some(()).filter(_ => u.kw("USING") && graftSnapshotProvider(u))
              _ <- Some(()).filter(_ => u.kw("PARTITIONED", "BY"))
              pb <- u.parens()
              cb <- clusterBy(u)
              tp <- {
                if (u.kw("TBLPROPERTIES"))
                  u.parens().map(p => propertyAssignments(p))
                else Some(Seq.empty[(String, String)])
              }
              _ <- Some(()).filter(_ => u.done && gated(t))
            } yield CreateSnapshotTableCommand(parts(t), schemaDdl.trim,
              identifierList(pb), cb, tp)
          else if (u.kw("PARTITIONED", "BY"))
            for {
              pb <- u.parens()
              cb <- clusterBy(u)
              tp <- {
                if (u.kw("TBLPROPERTIES"))
                  u.parens().map(p => propertyAssignments(p))
                else Some(Seq.empty[(String, String)])
              }
              _ <- Some(()).filter(_ => u.kw("AS"))
              query <- u.rest()
              _ <- Some(()).filter(_ => gated(t))
            } yield CtasSnapshotCommand(parts(t),
              identifierList(pb).mkString(","), query.trim, cb, tp)
          else None
        }
      }

      def optimize: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("OPTIMIZE"))
          t <- u.multipart()
          tail = if (u.done) "" else u.rest().getOrElse("")
          _ <- Some(()).filter(_ => gated(t))
        } yield {
          val (where, zcols, incremental) = parseOptimizeRest(tail)
          OptimizeSnapshotCommand(parts(t), zcols, where, incremental)
        }
      }

      def generate: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ =>
            u.kw("GENERATE", "SYMLINK_FORMAT_MANIFEST", "FOR", "TABLE"))
          t <- u.multipart() if u.done
        } yield GenerateSymlinkCommand(parts(t))
      }

      /** Optional [AS] alias that must not eat a following keyword. */
      def alias(u: Cur, stop: Set[String]): Option[String] = {
        val m = u.mark
        u.kw("AS")
        u.word() match {
          case Some(w) if !stop.contains(w.toUpperCase) => Some(w)
          case _ => u.reset(m); None
        }
      }

      def merge: Option[LogicalPlan] = { val u = c()
        if (!u.kw("MERGE", "INTO")) None
        else u.multipart() match {
          case Some(t) if gated(t) =>
            val tAlias = alias(u, Set("USING", "ON", "WHEN"))
            val shaped = for {
              _ <- Some(()).filter(_ => u.kw("USING"))
              src <- {
                if (u.peekPunct("(")) u.parens().map(q => (None, Some(q)))
                else u.multipart().map(i => (Some(i), None))
              }
              sAlias = alias(u, Set("USING", "ON", "WHEN"))
              _ <- Some(()).filter(_ => u.kw("ON"))
              onRest <- u.rest()
            } yield {
              val (cond, clauseText) = splitOnClauses(onRest)
              MergeIntoSnapshotCommand(parts(t), src._1, src._2,
                mergeKeys(cond, t, tAlias, src._1, sAlias),
                tAlias, sAlias, mergeClauses(clauseText)): LogicalPlan
            }
            shaped.orElse {
              // Graft-catalog MERGE outside the supported shape:
              // reject HERE with the supported grammar, instead of
              // letting the session parser hand analysis a
              // MergeIntoTable no graft table can execute.
              throw new IllegalArgumentException(
                "graft MERGE supports: MERGE INTO <t> USING <source> ON " +
                  "t.<key> = s.<key> [AND …] with clauses WHEN MATCHED " +
                  "[AND <cond>] THEN UPDATE SET * | UPDATE SET col = expr, … | " +
                  "DELETE, WHEN NOT MATCHED [AND <cond>] THEN INSERT * | " +
                  "INSERT (cols) VALUES (exprs), and WHEN NOT MATCHED BY SOURCE " +
                  "THEN DELETE | UPDATE SET col = expr; got: " +
                  sqlText.trim.take(200))
            }
          case _ => None
        }
      }

      def delete: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("DELETE", "FROM"))
          t <- u.multipart()
          where <- {
            if (u.done) Some(None)
            else if (u.kw("WHERE")) u.rest().map(Some(_))
            else None
          }
          _ <- Some(()).filter(_ => gated(t))
        } yield DeleteFromSnapshotCommand(parts(t), where)
      }

      def update: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("UPDATE"))
          t <- u.multipart()
          _ <- Some(()).filter(_ => u.kw("SET"))
          tail <- u.rest()
          _ <- Some(()).filter(_ => gated(t))
        } yield {
          val (setList, where) = splitSetWhere(tail)
          UpdateSnapshotCommand(parts(t), assignments(setList), where)
        }
      }

      def insert: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("INSERT", "INTO"))
          t <- u.multipart()
          _ <- Some(()).filter(_ =>
            u.peekKw("SELECT", "VALUES", "WITH", "TABLE") || u.peekPunct("("))
          query <- u.rest()
          _ <- Some(()).filter(_ => gated(t))
        } yield InsertIntoSnapshotCommand(parts(t), query)
      }

      def insertOverwrite: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("INSERT", "OVERWRITE"))
          _ = u.kw("TABLE") // optional noise word
          t <- u.multipart()
          spec <- {
            if (u.kw("PARTITION")) u.parens().map(partitionSpecList)
            else Some(Seq.empty[(String, Option[String])])
          }
          _ <- Some(()).filter(_ =>
            u.peekKw("SELECT", "VALUES", "WITH", "TABLE") || u.peekPunct("("))
          query <- u.rest()
          _ <- Some(()).filter(_ => gated(t))
        } yield InsertOverwriteSnapshotCommand(parts(t), query, spec)
      }

      /** `p = v, q, r = w` → (col, Some(raw value sql) | None), split
        * on top-level commas (`p = "a,b"` stays one entry). */
      def partitionSpecList(inner: String): Seq[(String, Option[String])] =
        splitTop(inner, ",").filter(_.nonEmpty).map { part =>
          part.split("=", 2) match {
            case Array(c, v) =>
              (c.trim.stripPrefix("`").stripSuffix("`"), Some(v.trim))
            case Array(c) =>
              (c.trim.stripPrefix("`").stripSuffix("`"), None)
          }
        }

      def copyInto: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("COPY", "INTO"))
          t <- u.multipart()
          _ <- Some(()).filter(_ => u.kw("FROM"))
          source <- u.str()
          _ <- Some(()).filter(_ => u.kw("FILEFORMAT") && u.punct("="))
          format <- u.word() if u.done
          _ <- Some(()).filter(_ => gated(t))
        } yield CopyIntoSnapshotCommand(parts(t), source, format.toLowerCase)
      }

      def alterTable: Option[LogicalPlan] = { val u = c()
        if (!u.kw("ALTER", "TABLE")) None
        else u.multipart() match {
          case Some(t) if gated(t) =>
            if (u.kw("ADD", "CONSTRAINT"))
              for { name <- u.word()
                    _ <- Some(()).filter(_ => u.kw("CHECK"))
                    check <- u.parens() if u.done }
                yield AddConstraintCommand(parts(t), name, check.trim)
            else if (u.kw("DROP", "CONSTRAINT"))
              u.word().filter(_ => u.done)
                .map(name => DropConstraintCommand(parts(t), name))
            else if (u.kw("SET", "TBLPROPERTIES"))
              u.parens().filter(_ => u.done).map(props =>
                SetPropertiesCommand(parts(t), propertyAssignments(props)))
            else if (u.kw("UNSET", "TBLPROPERTIES"))
              u.parens().filter(_ => u.done).map(keys =>
                UnsetPropertiesCommand(parts(t), propertyKeys(keys)))
            else if (u.kw("SET", "PARTITIONED", "BY"))
              u.parens().filter(_ => u.done).map(cols =>
                RepartitionTableCommand(parts(t), identifierList(cols)))
            else if (u.kw("CLUSTER", "BY")) {
              if (u.kw("NONE")) Some(())
                .filter(_ => u.done)
                .map(_ => ClusterByCommand(parts(t), Nil, 0))
              else for {
                cols <- u.parens()
                sortCols <- if (u.kw("SORTED", "BY"))
                  u.parens().map(identifierList) else Some(Nil)
                _ <- Some(()).filter(_ => u.kw("INTO"))
                n <- u.num()
                _ <- Some(()).filter(_ => u.kw("BUCKETS") && u.done)
              } yield ClusterByCommand(parts(t), identifierList(cols),
                n.toInt, sortCols)
            }
            else if (u.kw("RENAME", "COLUMN"))
              for { from <- u.column()
                    _ <- Some(()).filter(_ => u.kw("TO"))
                    to <- u.column() if u.done }
                yield RenameColumnCommand(parts(t), from, to)
            else if (u.kw("DROP", "COLUMN"))
              u.column().filter(_ => u.done)
                .map(col => DropColumnCommand(parts(t), col))
            else if (u.kw("ADD", "COLUMNS") || u.kw("ADD", "COLUMN"))
              u.rest().map(tail => AddColumnCommand(parts(t), parseAddColumns(tail)))
            else if (u.kw("SYNC", "IDENTITY"))
              Some(()).filter(_ => u.done)
                .map(_ => SyncIdentityCommand(parts(t)))
            else if (u.kw("ALTER", "COLUMN"))
              for {
                c <- u.column()
                d <- {
                  val m = u.mark
                  if (u.kw("SET", "DEFAULT")) u.rest().map(Option(_))
                  else { u.reset(m)
                    if (u.kw("DROP", "DEFAULT") && u.done)
                      Some(Option.empty[String])
                    else None
                  }
                }
              } yield AlterColumnDefaultCommand(parts(t), c, d)
            else None
          case _ => None
        }
      }

      def showCmd: Option[LogicalPlan] = { val u = c()
        if (!u.kw("SHOW")) None
        else if (u.kw("TBLPROPERTIES"))
          u.multipart().filter(t => u.done && gated(t))
            .map(t => ShowPropertiesCommand(parts(t)))
        else if (u.kw("PARTITIONS"))
          u.multipart().filter(t => u.done && gated(t))
            .map(t => ShowPartitionsCommand(parts(t)))
        else if (u.kw("CREATE", "TABLE"))
          u.multipart().filter(t => u.done && gated(t))
            .map(t => ShowCreateTableCommand(parts(t)))
        else None
      }

      def fsck: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("FSCK", "REPAIR", "TABLE"))
          t <- u.multipart()
          dry <- {
            if (u.done) Some(false)
            else if (u.kw("DRY", "RUN") && u.done) Some(true)
            else None
          }
          _ <- Some(()).filter(_ => gated(t))
        } yield FsckRepairCommand(parts(t), dry)
      }

      def truncate: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("TRUNCATE", "TABLE"))
          t <- u.multipart() if u.done
          _ <- Some(()).filter(_ => gated(t))
        } yield TruncateSnapshotCommand(parts(t))
      }

      def reorg: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("REORG", "TABLE"))
          t <- u.multipart()
          _ <- Some(()).filter(_ => u.kw("APPLY"))
          inner <- u.parens()
          _ <- Some(()).filter(_ =>
            inner.trim.equalsIgnoreCase("PURGE") && u.done && gated(t))
        } yield ReorgPurgeCommand(parts(t))
      }

      // `ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b | FOR
      // ALL COLUMNS]` — graft-catalog tables only; Spark's own ANALYZE
      // handles everything else (the gate keeps the dialects apart).
      def analyzeTable: Option[LogicalPlan] = { val u = c()
        for {
          _ <- Some(()).filter(_ => u.kw("ANALYZE", "TABLE"))
          t <- u.multipart()
          _ <- Some(()).filter(_ => u.kw("COMPUTE", "STATISTICS"))
          cols <- {
            val m = u.mark
            if (u.kw("FOR", "ALL", "COLUMNS")) Some(None)
            else { u.reset(m)
              if (u.kw("FOR", "COLUMNS")) {
                // Comma-separated identifiers; ANY gap (`a,,b`, a
                // dangling comma, an empty list) is malformed and must
                // not silently analyze a subset of what was asked.
                var list = u.column().toList
                var bad = list.isEmpty
                while (!bad && u.punct(","))
                  u.column() match {
                    case Some(cn) => list = list :+ cn
                    case None => bad = true
                  }
                if (bad) None else Some(Some(list))
              } else Some(None) // bare COMPUTE STATISTICS = all columns
            }
          }
          _ <- Some(()).filter(_ => u.done && gated(t))
        } yield AnalyzeSnapshotCommand(parts(t), cols)
      }

      restore.orElse(describe).orElse(vacuum).orElse(createTable)
        .orElse(optimize).orElse(generate).orElse(merge).orElse(delete)
        .orElse(update).orElse(insert).orElse(insertOverwrite)
        .orElse(copyInto).orElse(alterTable)
        .orElse(showCmd).orElse(truncate).orElse(reorg).orElse(analyzeTable)
        .orElse(fsck)
    }

  /** `USING graft-snapshot` / `graft_snapshot`, bare or backticked —
    * the provider gate of CREATE TABLE with an explicit schema. */
  private def graftSnapshotProvider(u: Cur): Boolean = {
    val m = u.mark
    val ok = u.column() match {
      case Some(w) if w.equalsIgnoreCase("graft_snapshot") ||
        w.equalsIgnoreCase("graft-snapshot") => true
      case Some(w) if w.equalsIgnoreCase("graft") =>
        u.punct("-") && u.kw("SNAPSHOT")
      case _ => false
    }
    if (!ok) u.reset(m)
    ok
  }

  /** Parse the tail of `ALTER TABLE … ADD COLUMN[S]` into (name, type
    * DDL) pairs. Strips one WRAPPING paren pair (only when the opening
    * paren really matches the final one — `(a INT` or a bare
    * `a DECIMAL(10,2)` must not lose a paren), then splits the list on
    * top-level commas — commas inside the <…>/(…) of decimal/map/
    * struct types don't split. */
  private[graft] def parseAddColumns(raw0: String): Seq[(String, String)] = {
    val raw = leadingGroup(raw0) match {
      case Some((inner, "")) => inner
      case _ => raw0.trim
    }
    val parts = splitTop(raw, ",").filter(_.nonEmpty)
    require(parts.nonEmpty,
      s"malformed ADD COLUMN clause: ${raw0.trim.take(120)}")
    val NameType = s"(?s)\\A$colIdent\\s+(.+)\\z".r
    parts.map {
      case NameType(q, b, ddl) => (colOf(q, b), ddl.trim)
      case other => throw new IllegalArgumentException(
        s"malformed ADD COLUMN entry (expected <name> <type>): ${other.take(120)}")
    }
  }

  /** Parse `'k' = 'v', 'k2' = 'v2'` (standard TBLPROPERTIES shape;
    * doubled '' escapes a quote inside either side). */
  def propertyAssignments(raw: String): Seq[(String, String)] = {
    val Pair = "\\A\\s*'((?:[^']|'')*)'\\s*=\\s*'((?:[^']|'')*)'\\s*\\z".r
    val parts = splitTop(raw, ",").filter(_.nonEmpty)
    require(parts.nonEmpty, "SET TBLPROPERTIES needs at least one 'key' = 'value'")
    val pairs = parts.map {
      case Pair(k, v) => (k.replace("''", "'"), v.replace("''", "'"))
      case other => throw new IllegalArgumentException(
        s"malformed TBLPROPERTIES entry (expected 'key' = 'value'): ${other.trim}")
    }
    require(pairs.map(_._1).distinct.size == pairs.size,
      s"TBLPROPERTIES sets a key twice: ${pairs.map(_._1).mkString(", ")}")
    pairs
  }

  /** Parse `'k', 'k2'` (UNSET TBLPROPERTIES shape). */
  def propertyKeys(raw: String): Seq[String] = {
    val Key = "\\A\\s*'((?:[^']|'')*)'\\s*\\z".r
    val parts = splitTop(raw, ",").filter(_.nonEmpty)
    require(parts.nonEmpty, "UNSET TBLPROPERTIES needs at least one 'key'")
    parts.map {
      case Key(k) => k.replace("''", "'")
      case other => throw new IllegalArgumentException(
        s"malformed UNSET TBLPROPERTIES entry (expected 'key'): ${other.trim}")
    }
  }

  /** Types whose parameters sit in angle brackets: `<` right after
    * one of these words opens a nesting level; anywhere else it is
    * the comparison operator. */
  private val AngleTypes = Set("ARRAY", "MAP", "STRUCT")

  /** The top-level tokens of `s` — the one token walk behind every
    * free-text split. Nesting levels open at `(`, at CASE, and at a
    * `<` directly after ARRAY, MAP or STRUCT, and close at the
    * matching `)`, END or `>`; a `)` also closes any CASE or `<` left
    * open inside it. An opener and its closer are themselves top
    * level, everything between them is not. A `' where '` inside a
    * SET string, a `CASE WHEN … THEN … END` inside a MERGE
    * condition, a subquery's own WHERE, or the comma of
    * `MAP<STRING, INT>` never splits a statement. `s` is a slice of a
    * statement [[lex]] accepted, so an unterminated string here is a
    * caller's error. */
  private def topLevel(s: String): Vector[Tok] = {
    val toks = lex(s).getOrElse(throw new IllegalArgumentException(
      s"unterminated string or backtick identifier: ${s.trim.take(120)}"))
    def text(t: Tok): String = s.substring(t.start, t.end)
    var open = List.empty[String] // innermost first: "(", "CASE" or "<"
    var prev: Option[Tok] = None
    val out = Vector.newBuilder[Tok]
    toks.foreach { t =>
      val atTop = open.isEmpty
      val x = if (t.kind == 'w') text(t).toUpperCase else text(t)
      (t.kind, x) match {
        case ('p', "(") | ('w', "CASE") => open ::= x
        case ('p', "<") if prev.exists(p =>
            p.kind == 'w' && AngleTypes(text(p).toUpperCase)) => open ::= x
        case ('p', ")") => open = open.dropWhile(_ != "(").drop(1)
        case ('p', ">") if open.headOption.contains("<") => open = open.tail
        case ('w', "END") if open.headOption.contains("CASE") => open = open.tail
        case _ =>
      }
      if (atTop || open.isEmpty) out += t
      prev = Some(t)
    }
    out.result()
  }

  /** Offsets of the top-level tokens of `s` that read `tok` —
    * case-insensitively, so `tok` is a keyword or a punctuation mark. */
  private[graft] def topLevelIndices(s: String, tok: String): Seq[Int] =
    topLevel(s).collect {
      case t if t.end - t.start == tok.length &&
          s.regionMatches(true, t.start, tok, 0, tok.length) => t.start
    }

  /** `s` cut at its top-level `sep` tokens (a punctuation mark or a
    * keyword) into trimmed raw slices; empty slices are kept. */
  private[graft] def splitTop(s: String, sep: String): Seq[String] = {
    val at = topLevelIndices(s, sep)
    (0 +: at.map(_ + sep.length)).zip(at :+ s.length)
      .map { case (a, b) => s.substring(a, b).trim }
  }

  /** `(inner) rest` → (inner, rest), both trimmed, when `s` opens with
    * a balanced parenthesized group; None otherwise. */
  private[graft] def leadingGroup(s: String): Option[(String, String)] = {
    val top = topLevel(s)
    def is(i: Int, p: String) = top.lift(i).exists(t =>
      t.kind == 'p' && s.substring(t.start, t.end) == p)
    if (is(0, "(") && is(1, ")"))
      Some((s.substring(top(0).end, top(1).start).trim, s.substring(top(1).end).trim))
    else None
  }

  private def firstTopLevel(s: String, kw: String): Int =
    topLevelIndices(s, kw).headOption.getOrElse(-1)

  /** Split an UPDATE's post-SET text into (set list, optional WHERE
    * predicate) at the first top-level WHERE. */
  private[graft] def splitSetWhere(rest: String): (String, Option[String]) =
    firstTopLevel(rest, "where") match {
      case -1 => (rest.trim, None)
      case i => (rest.take(i).trim,
        Some(rest.substring(i + "where".length).trim))
    }

  /** A clause start is a top-level WHEN that actually HEADS a merge
    * clause (`WHEN [NOT] MATCHED …`) — a CASE's WHEN inside a
    * condition or action never does (and CASE…END is skipped by the
    * scanner anyway). */
  private val ClauseHead =
    "(?is)\\AWHEN\\s+(NOT\\s+)?MATCHED(?:\\s+BY\\s+(SOURCE|TARGET))?\\b(.*)\\z".r
  private def clauseStarts(s: String): Seq[Int] =
    topLevelIndices(s, "when")
      .filter(i => ClauseHead.findFirstIn(s.substring(i)).isDefined)

  /** Split a MERGE's post-ON text into (ON condition, clause text) at
    * the first clause head. */
  private[graft] def splitOnClauses(rest: String): (String, String) = {
    val starts = clauseStarts(rest)
    require(starts.nonEmpty,
      "graft MERGE needs at least one WHEN [NOT] MATCHED clause — got: " +
        rest.trim.take(200))
    require(starts.head > 0 && rest.take(starts.head).trim.nonEmpty,
      "graft MERGE ON condition is empty")
    (rest.take(starts.head).trim, rest.substring(starts.head))
  }

  /** Parse an OPTIMIZE statement's tail: `[WHERE <pred>] [ZORDER BY
    * (cols) [INCREMENTAL]]`, split at the first top-level ZORDER.
    * INCREMENTAL selects [[graft.sinks.SnapshotStore.clusterIncremental]]
    * — z-order only the files added since the recorded baseline — and
    * is incompatible with WHERE (the incremental pass derives its own
    * scope from the baseline diff; a partition scope would silently
    * narrow what "clustered" means between passes). */
  private[graft] def parseOptimizeRest(rest: String): (Option[String], Seq[String], Boolean) = {
    val t = rest.trim
    if (t.isEmpty) return (None, Nil, false)
    val ZTail = "(?is)\\AZORDER\\s+BY\\s*\\(([^)]+)\\)\\s*(INCREMENTAL)?\\s*\\z".r
    val zIdx = firstTopLevel(t, "zorder")
    val (head, zcols, inc) = zIdx match {
      case -1 => (t, Seq.empty[String], false)
      case i => t.substring(i) match {
        case ZTail(cols, incKw) =>
          (t.take(i).trim, identifierList(cols), incKw != null)
        case other => throw new IllegalArgumentException(
          s"OPTIMIZE supports ZORDER BY (col, …) [INCREMENTAL] — got: " +
            other.trim.take(120))
      }
    }
    val where = head match {
      case "" => None
      case w if firstTopLevel(w, "where") == 0 && w.length > "where".length =>
        Some(w.substring("where".length).trim)
      case other => throw new IllegalArgumentException(
        "OPTIMIZE supports OPTIMIZE <t> [WHERE <pred>] [ZORDER BY (cols) " +
          s"[INCREMENTAL]] — got: ${other.trim.take(120)}")
    }
    require(!(inc && where.isDefined),
      "OPTIMIZE … INCREMENTAL derives its own scope from the clustering " +
        "baseline — a WHERE partition scope cannot compose with it")
    (where, zcols, inc)
  }

  /** Is `name` configured as a graft snapshot catalog in the ACTIVE
    * session? Parse-time gate for the loose MERGE rejection: other
    * catalogs' MERGE statements must keep flowing to the session
    * parser untouched. */
  private def isGraftCatalogName(name: String): Boolean =
    SparkSession.getActiveSession.exists(
      _.conf.getOption(s"spark.sql.catalog.$name")
        .exists(_.contains(classOf[GraftCatalog].getSimpleName)))

  /** Extract the single merge key from the ON condition: a same-named
    * equality, optionally qualified by the target/source aliases or
    * names (`t.k = s.k`, `k = k`). Anything else — expressions,
    * AND-ed keys, differently-named columns — is rejected loudly. */
  private def mergeKeys(cond: String, table: String, tAlias: Option[String],
                        srcIdent: Option[String], sAlias: Option[String]): Seq[String] = {
    def strip(p: String): String =
      if (p.startsWith("`")) p.stripPrefix("`").stripSuffix("`") else p
    val qcol = s"(?:($part)\\.)?($part)"
    val Eq = s"(?is)\\A\\s*$qcol\\s*=\\s*$qcol\\s*\\z".r
    // A composite natural key is a top-level AND of same-named
    // equalities: ON t.supplier = s.supplier AND t.sku = s.sku.
    val conjuncts = splitTop(cond, "and")
    val keys = conjuncts.map {
      case Eq(q1, c1, q2, c2) if strip(c1) == strip(c2) =>
        // Qualifiers, when present, must be known names and must not
        // both point at the same side.
        val known: Set[String] =
          (tAlias.toSeq ++ sAlias.toSeq ++
            Seq(strip(table.split("\\.").last)) ++
            srcIdent.toSeq.map(s => strip(s.split("\\.").last))).map(_.toLowerCase).toSet
        val quals = Seq(q1, q2).flatMap(Option(_)).map(q => strip(q).toLowerCase)
        require(quals.distinct.size == quals.size,
          s"graft MERGE ON clause qualifies both sides with '${quals.head}' — " +
            "one side must be the target, the other the source")
        quals.foreach(q => require(known.contains(q),
          s"graft MERGE ON clause references unknown qualifier '$q' " +
            s"(known: ${known.mkString(", ")})"))
        strip(c1)
      case other => throw new IllegalArgumentException(
        "graft MERGE supports same-named equality keys (AND-combined " +
          s"for a composite key): ON t.<key> = s.<key> [AND …] — got: ${other.trim}")
    }
    require(keys.distinct.size == keys.size,
      s"graft MERGE ON clause repeats a key: ${keys.mkString(", ")}")
    keys
  }

  /** One parsed WHEN clause. `set` None = `UPDATE SET *`. */
  private[graft] sealed trait MergeClause
  private[graft] case class MatchedUpdate(cond: Option[String],
      set: Option[Seq[(String, String)]]) extends MergeClause
  private[graft] case class MatchedDelete(cond: Option[String]) extends MergeClause
  private[graft] case class NotMatchedInsert(cond: Option[String],
      explicit: Option[(Seq[String], Seq[String])] = None) extends MergeClause
  /** `WHEN NOT MATCHED BY SOURCE` legs (Delta's full-sync MERGE —
    * target rows with no source match; only `t.` columns are in
    * scope). `set` None = DELETE. */
  private[graft] case class NotMatchedBySource(cond: Option[String],
      set: Option[Seq[(String, String)]]) extends MergeClause

  /** Scan the WHEN-clause tail of a MERGE into ordered [[MergeClause]]s,
    * rejecting text the clause grammar does not cover (a statement
    * must not half-parse). */
  private[graft] def mergeClauses(raw: String): Seq[MergeClause] = {
    // Tokenizer walk, not a lazy-regex scan: clause boundaries are the
    // top-level `WHEN [NOT] MATCHED` heads (a CASE's WHEN inside a
    // condition or action never splits — the scanner skips CASE…END,
    // strings, backticks, and parens), and each clause splits at its
    // first top-level THEN. MERGE semantics stay first-matching-
    // clause-wins per row, in statement order.
    val starts = clauseStarts(raw)
    require(starts.nonEmpty && raw.take(starts.headOption.getOrElse(0)).trim.isEmpty,
      "graft MERGE clauses must each be WHEN [NOT] MATCHED [AND <cond>] " +
        "THEN UPDATE SET */UPDATE SET col = expr, …/DELETE/INSERT * — " +
        s"could not parse: ${raw.trim.take(200)}")
    val segs = starts.zip(starts.tail :+ raw.length)
      .map { case (a, b) => raw.substring(a, b).trim }
    val clauses = segs.map { seg =>
      val m = ClauseHead.findFirstMatchIn(seg).getOrElse(
        throw new IllegalArgumentException(
          s"graft MERGE: malformed clause head: ${seg.take(120)}"))
      val notMatched = m.group(1) != null
      val by = Option(m.group(2)).map(_.trim.toUpperCase)
      val rest = m.group(3)
      val thenIdx = firstTopLevel(rest, "then")
      require(thenIdx >= 0,
        s"graft MERGE clause has no top-level THEN: ${seg.take(120)} — " +
          "parenthesize a CASE expression used in the clause condition")
      val pre = rest.take(thenIdx).trim
      val AndHead = "(?is)\\AAND\\b(.*)\\z".r
      val cond = pre match {
        case "" => None
        case AndHead(c) => Some(c.trim)
        case other => throw new IllegalArgumentException(
          s"graft MERGE clause condition must start with AND — got: " +
            other.take(120))
      }
      val action = rest.substring(thenIdx + "then".length).trim
      val lower = action.toLowerCase
      require(notMatched || by.isEmpty,
        s"BY ${by.getOrElse("")} only qualifies WHEN NOT MATCHED")
      if (notMatched && by.contains("SOURCE")) {
        // Target rows with no source match: DELETE or a t.-scoped
        // column UPDATE (there is no source row, so SET * and
        // INSERT are shapeless here).
        if (lower == "delete") NotMatchedBySource(cond, None)
        else {
          require(lower.startsWith("update set"),
            s"WHEN NOT MATCHED BY SOURCE supports UPDATE SET col = expr " +
              s"or DELETE — got: $action")
          val setText = action.substring("update set".length).trim
          require(setText != "*",
            "WHEN NOT MATCHED BY SOURCE cannot UPDATE SET * — there is " +
              "no source row; assign columns explicitly")
          NotMatchedBySource(cond, Some(assignments(setText)))
        }
      } else if (notMatched) {
        if (lower == "insert *") NotMatchedInsert(cond)
        else {
          val Explicit =
            "(?is)\\Ainsert\\s*\\(([^)]*)\\)\\s*values\\s*\\((.+)\\)\\z".r
          action match {
            case Explicit(colsRaw, valsRaw) =>
              val cols = identifierList(colsRaw)
              val vals = splitTop(valsRaw, ",").filter(_.nonEmpty)
              require(cols.nonEmpty && cols.size == vals.size,
                s"INSERT lists ${cols.size} columns but ${vals.size} " +
                  s"values: $action")
              require(cols.distinct.size == cols.size,
                s"INSERT column list repeats a column: ${cols.mkString(", ")}")
              NotMatchedInsert(cond, Some((cols, vals)))
            case _ => throw new IllegalArgumentException(
              s"WHEN NOT MATCHED supports INSERT * or " +
                s"INSERT (cols) VALUES (exprs) — got: $action")
          }
        }
      } else if (lower == "delete") MatchedDelete(cond)
      else {
        require(lower.startsWith("update set"),
          s"WHEN MATCHED supports UPDATE SET or DELETE — got: $action")
        val setText = action.substring("update set".length).trim
        if (setText == "*") MatchedUpdate(cond, None)
        else MatchedUpdate(cond, Some(assignments(setText)))
      }
    }
    // An unconditional clause makes every later clause of its kind
    // unreachable — a statement bug, reject loudly.
    def unreachable(kinds: Seq[(Option[String], Int)]): Unit =
      kinds.zipWithIndex.foreach { case ((cond, _), i) =>
        require(cond.isDefined || i == kinds.size - 1,
          "graft MERGE: a clause after an unconditional clause of the " +
            "same kind is unreachable — add AND conditions or reorder")
      }
    unreachable(clauses.collect {
      case MatchedUpdate(c, _) => (c, 0); case MatchedDelete(c) => (c, 0) })
    unreachable(clauses.collect { case NotMatchedInsert(c, _) => (c, 1) })
    unreachable(clauses.collect { case NotMatchedBySource(c, _) => (c, 2) })
    require(clauses.count(_.isInstanceOf[NotMatchedInsert]) <= 1,
      "graft MERGE supports at most one WHEN NOT MATCHED clause")
    clauses
  }

  /** Parse an UPDATE's SET list into (column, expression) pairs:
    * top-level commas separate assignments (`SET a = f(x, y)` is one
    * assignment), and each splits at its first top-level `=` that is
    * not part of `<=`, `>=`, `!=`, `<=>` or `==`. */
  def assignments(raw: String): Seq[(String, String)] =
    splitTop(raw, ",").map { a =>
      val top = topLevel(a)
      def glued(t: Tok, u: Tok, ops: String) =
        (u.end == t.start || u.start == t.end) &&
          ops.contains(a.substring(u.start, u.end))
      val eq = top.indices.collectFirst {
        case i if a.substring(top(i).start, top(i).end) == "=" &&
            !top.lift(i - 1).exists(glued(top(i), _, "<>!=")) &&
            !top.lift(i + 1).exists(glued(top(i), _, "=")) => top(i).start
      }.getOrElse(-1)
      require(eq > 0, s"malformed UPDATE assignment (no '='): ${a.trim}")
      val colName = a.substring(0, eq).trim
      val exprText = a.substring(eq + 1).trim
      require(colName.matches(s"\\A$part\\z"),
        s"UPDATE SET target must be a single column name, got: $colName")
      require(exprText.nonEmpty, s"empty expression in assignment: ${a.trim}")
      val stripped = if (colName.startsWith("`"))
        colName.stripPrefix("`").stripSuffix("`") else colName
      (stripped, exprText)
    }

  /** Tokenize a ZORDER-style column list with the same quoting rules
    * as table parts — a naive split(",") would mangle a backticked
    * name containing a comma. */
  private[graft] def identifierList(raw: String): Seq[String] =
    if (raw == null) Nil
    else part.r.findAllIn(raw).toSeq
      .map(p => if (p.startsWith("`")) p.stripPrefix("`").stripSuffix("`") else p)
      .filter(_.nonEmpty)

  /** Multipart name → snapshot root, through the named catalog's
    * warehouse/path rules. The catalog MUST be a [[GraftCatalog]] —
    * restoring an arbitrary catalog's table through snapshot-store
    * machinery would corrupt nothing (it only writes manifests) but
    * must still fail loudly as a user error. */
  private[graft] def resolveRoot(spark: SparkSession, table: Seq[String]): String = {
    require(table.size >= 2,
      s"qualify the table with its graft catalog: <catalog>.${table.mkString(".")}")
    val cm = spark.sessionState.catalogManager
    cm.catalog(table.head) match {
      case g: GraftCatalog =>
        g.tableRoot(Identifier.of(table.tail.init.toArray, table.last))
      case other => throw new IllegalArgumentException(
        s"'${table.head}' is not a graft snapshot catalog " +
          s"(got ${other.getClass.getName}); RESTORE/DESCRIBE HISTORY " +
          "apply only to graft snapshot tables")
    }
  }
}

/** `RESTORE TABLE t TO VERSION AS OF n`: publish a new version whose
  * manifest is byte-identical to version n's. Returns one row
  * (restored_to_version, committed_version) — like Delta, the restore
  * is itself a commit, so history is never rewritten. */
case class RestoreSnapshotCommand(table: Seq[String], version: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to_version", LongType, nullable = false)(),
    AttributeReference("committed_version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val committed = SnapshotStore.restore(spark, root, version)
    Seq(Row(version, committed))
  }
}

/** `RESTORE TABLE t TO TIMESTAMP AS OF '<ts>'`: resolve the timestamp
  * to the latest version committed at or before it (`#ts` manifest
  * headers, [[SnapshotStore.versionAtTimestamp]]) and restore there —
  * the reference's timestamp-named backup recovery
  * (mongodb_loader.py:301-318) as one SQL statement. Same output shape
  * as the VERSION AS OF form. */
case class RestoreSnapshotToTimestampCommand(table: Seq[String], timestamp: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to_version", LongType, nullable = false)(),
    AttributeReference("committed_version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val version = SnapshotStore.versionAtTimestamp(spark, root,
      graft.sinks.SnapshotSource.parseTimestampMillis(timestamp))
    val committed = SnapshotStore.restore(spark, root, version)
    Seq(Row(version, committed))
  }
}

/** `VACUUM t [RETAIN n HOURS]`: drop rolled-over manifests beyond the
  * keep window and sweep unreferenced data files older than the
  * retention (default 24h — the crash-orphan grace window; RETAIN 0
  * HOURS sweeps immediately, exactly like Delta's footgun). Returns
  * one row (path) for parity with Delta's VACUUM output. */
case class VacuumSnapshotCommand(table: Seq[String], retainHours: Option[Long],
                                 dryRun: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val retainMillis = retainHours.map(_ * 3600L * 1000L)
      .getOrElse(24L * 3600 * 1000)
    if (dryRun)
      // Delta's VACUUM … DRY RUN: list what would go, delete nothing.
      SnapshotStore.vacuumDryRun(spark, root, retainMillis = retainMillis)
        .map(Row(_))
    else {
      SnapshotStore.vacuum(spark, root, retainMillis = retainMillis)
      Seq(Row(root))
    }
  }
}

/** `CREATE TABLE t2 SHALLOW CLONE t1 [VERSION AS OF n | TIMESTAMP AS
  * OF 'ts']` — Delta's zero-copy table fork, routed to
  * [[SnapshotStore.cloneTo]]: the new table's v1 references the
  * source's files absolutely, constraints and properties carry, and
  * the clone evolves independently. Returns one row
  * (path, source_version). */
case class CloneSnapshotCommand(target: Seq[String], source: Seq[String],
                                version: Option[Long], timestamp: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("source_version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val srcRoot = GraftSqlParser.resolveRoot(spark, source)
    val dstRoot = GraftSqlParser.resolveRoot(spark, target)
    val v = (version, timestamp) match {
      case (Some(n), _) => Some(n)
      case (None, Some(ts)) => Some(SnapshotStore.versionAtTimestamp(
        spark, srcRoot, graft.sinks.SnapshotSource.parseTimestampMillis(ts)))
      case (None, None) => None
    }
    SnapshotStore.cloneTo(spark, srcRoot, dstRoot, v)
    Seq(Row(dstRoot, v.getOrElse(
      SnapshotStore.currentVersion(spark, srcRoot).getOrElse(0L))))
  }
}

/** `OPTIMIZE t [WHERE p] [ZORDER BY (a, b)]`: compact small files
  * (one file per partition), optionally interleave-sorting rows by
  * the Z-order keys for multi-column skipping. The table's partition
  * column resolves from the manifest's `#partcol` header (recorded by
  * every commit path — table metadata lives in the log, the Delta
  * convention), so the statement needs nothing but the table name.
  * `WHERE` scopes the rewrite to matching PARTITIONS (Delta's
  * partition-predicate OPTIMIZE): the predicate is evaluated
  * driver-side against the manifest's distinct partition values —
  * tiny by construction — so a 100 TB table compacts only its hot
  * partitions. Returns one row (path, version) — the committed
  * version, unchanged when nothing needed compacting. */
case class OptimizeSnapshotCommand(table: Seq[String], zorderBy: Seq[String],
                                   where: Option[String] = None,
                                   incremental: Boolean = false)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val cur = SnapshotStore.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val partCols = SnapshotStore.header(spark, root, cur).partitionCols
    if (partCols.isEmpty) throw new IllegalStateException(
      s"manifest v$cur under $root predates partition-column metadata; " +
        "re-commit once through any SnapshotStore write path (or use the " +
        "Scala compact/compactZOrder API, which takes the column explicitly)")
    val wanted: Option[Seq[String]] = where.map { w =>
      // Each manifest partition VALUE decoded into one string column
      // per spec column (plus the encoded value itself, hidden), so a
      // WHERE over any subset of the partition columns selects scopes.
      val parts = SnapshotStore.manifest(spark, root, cur)
        .map(_.partition).distinct
      val rows = parts.map(pv => Row.fromSeq(
        pv +: SnapshotStore.decodePartValue(pv, partCols.size)))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(
          org.apache.spark.sql.types.StructField("__graft_part_value",
            org.apache.spark.sql.types.StringType) +:
          partCols.map(c => org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType))))
      df.filter(org.apache.spark.sql.functions.expr(w))
        .collect().map(_.getString(0)).toSeq
    }
    val v =
      if (incremental) {
        // `ZORDER BY (…) INCREMENTAL` — cluster only the files added
        // since the recorded baseline (parser guarantees zorderBy
        // nonEmpty and no WHERE).
        require(zorderBy.nonEmpty,
          "OPTIMIZE … INCREMENTAL needs ZORDER BY (col, …)")
        SnapshotStore.clusterIncremental(spark, root, partCols, zorderBy)
      } else if (zorderBy.nonEmpty)
        SnapshotStore.compactZOrder(spark, root, partCols, zorderBy,
          partitions = wanted)
      else SnapshotStore.compact(spark, root, partCols, partitions = wanted)
    Seq(Row(root, v))
  }
}

/** `GENERATE symlink_format_manifest FOR TABLE t`: export the current
  * snapshot as a Hive/Presto/Trino/Athena symlink manifest (Delta's
  * GENERATE statement). Returns the export root. */
case class GenerateSymlinkCommand(table: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(SnapshotStore.writeSymlinkManifest(spark, root).toString))
  }
}

/** `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
  * WHEN NOT MATCHED THEN INSERT *` — the reference's PRIMARY operator
  * (K1 bulk `ReplaceOne(upsert=true)`, mongodb_loader.py:93-197) in
  * its standard SQL spelling, routed to
  * [[SnapshotStore.mergeCommitOrdered]] with an EMPTY win order: SQL
  * MERGE has no version column — the source is authoritative, so a
  * matched row is replaced wholesale and an unmatched row inserts.
  * The table's partition column resolves from the `#partcol` manifest
  * header like OPTIMIZE's. Standard MERGE precondition enforced: a
  * source with duplicate keys fails loudly (two updates to one target
  * row are nondeterministic — Delta raises the same error). Returns
  * one row (path, version). */
case class MergeIntoSnapshotCommand(table: Seq[String],
                                    sourceIdent: Option[String],
                                    sourceQuery: Option[String],
                                    keyCols: Seq[String],
                                    tAlias: Option[String] = None,
                                    sAlias: Option[String] = None,
                                    clauses: Seq[GraftSqlParser.MergeClause] =
                                      Seq(GraftSqlParser.MatchedUpdate(None, None),
                                          GraftSqlParser.NotMatchedInsert(None)))
    extends LeafRunnableCommand {
  import GraftSqlParser.{MatchedDelete, MatchedUpdate, NotMatchedBySource, NotMatchedInsert}
  import org.apache.spark.sql.functions.{col, count, expr, lit, when}

  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val src = sourceQuery.map(spark.sql)
      .getOrElse(spark.table(sourceIdent.get))
    keyCols.foreach(k => require(src.columns.contains(k),
      s"merge key '$k' is not a column of the source"))
    val cur = SnapshotStore.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(
        s"no committed snapshot under $root — MERGE needs an existing " +
          "table (create one with df.write.format(\"graft-snapshot\"))"))
    // GENERATED ALWAYS AS IDENTITY is allocator-owned on EVERY DML
    // surface: a source column shadowing it would flow through
    // UPDATE SET * / INSERT * into the target (arbitrary, possibly
    // duplicate ids), and an explicit SET or INSERT column list is
    // the same bypass spelled out. Matched rows inherit their ids;
    // inserted rows allocate — drop the column from the source.
    // BY DEFAULT identity columns are exempt: explicit values are
    // their contract, and the write path mark-advances past them.
    val identCols = SnapshotStore.header(spark, root, cur).alwaysIdentityColumns.toSet
    src.columns.filter(identCols).foreach(c =>
      throw new IllegalArgumentException(
        s"MERGE source carries identity column '$c' — GENERATED ALWAYS " +
          "AS IDENTITY is allocator-owned; drop it from the source " +
          "(matched rows keep their ids, inserted rows allocate)"))
    clauses.foreach {
      case GraftSqlParser.NotMatchedInsert(_, Some((cols, _)))
        if cols.exists(c => identCols(c.stripPrefix("`").stripSuffix("`"))) =>
        throw new IllegalArgumentException(
          "MERGE INSERT column list names an identity column — " +
            "GENERATED ALWAYS AS IDENTITY is allocator-owned; omit it")
      case _ => ()
    }
    val partCols = SnapshotStore.header(spark, root, cur).partitionCols
    if (partCols.isEmpty) throw new IllegalStateException(
      s"manifest v$cur under $root predates partition-column metadata; " +
        "re-commit once through any SnapshotStore write path first")
    // One cheap aggregate over the source: found duplicates would make
    // per-key actions nondeterministic, so fail before writing (the
    // same precondition Delta enforces).
    val dup = src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalStateException(
      s"MERGE source has multiple rows for key ${dup.head.toSeq.init} — " +
        "a target row cannot be updated twice in one MERGE; " +
        "de-duplicate the source first")
    val canonicalUpsert = clauses == Seq(MatchedUpdate(None, None),
      NotMatchedInsert(None))
    val v =
      if (canonicalUpsert) {
        // The fast path: no target read at all — the store's keyed
        // merge IS "replace matched, insert unmatched".
        partCols.foreach(c => require(src.columns.contains(c),
          s"the source must carry the table's partition column '$c'"))
        SnapshotStore.mergeCommitOrdered(
          spark, src, root, keyCols, Seq.empty, partCols)
      } else general(spark, root, src, partCols)
    Seq(Row(root, v))
  }

  /** The general clause engine: target and source joined on the keys
    * under their statement aliases (expressions in AND-conditions and
    * SET lists resolve `t.col` / `s.col` through plain DataFrame
    * aliases), per-row action = the first clause whose condition
    * holds, all applied in ONE atomic commit
    * ([[SnapshotStore.upsertDeleteCommit]]). The join reads only what
    * the file-skipping index admits, matched-row work scales with the
    * SOURCE (inner/anti equi-joins on the keys — AQE broadcasts a
    * small source), and untouched partitions carry by reference. */
  private def general(spark: SparkSession, root: String,
                      src: org.apache.spark.sql.DataFrame,
                      partCols: Seq[String]): Long = {
    def strip(p: String): String =
      if (p.startsWith("`")) p.stripPrefix("`").stripSuffix("`") else p
    val tName = tAlias.getOrElse(strip(table.last))
    val sName = sAlias.orElse(sourceIdent.map(i => strip(i.split("\\.").last)))
      .getOrElse("__graft_merge_src")
    val target = SnapshotStore.table(spark, root)
    val tTypes = target.schema.map(f => f.name -> f.dataType).toMap
    val identSet = SnapshotStore.currentVersion(spark, root)
      .map(SnapshotStore.header(spark, root, _).identityColumns.toSet)
      .getOrElse(Set.empty[String])
    val matchedClauses = clauses.collect {
      case u: MatchedUpdate => u: GraftSqlParser.MergeClause
      case d: MatchedDelete => d
    }
    val insertClause = clauses.collectFirst { case i: NotMatchedInsert => i }
    val bySourceClauses = clauses.collect { case b: NotMatchedBySource => b }
    // Validate column-level SETs against the target schema up front.
    def validateSet(set: Seq[(String, String)], what: String): Unit =
      set.foreach { case (c0, _) =>
        val c = strip(c0).stripPrefix(tName + ".")
        require(tTypes.contains(c),
          s"$what targets unknown column '$c0' " +
            s"(columns: ${target.columns.mkString(", ")})")
        // A SET that moves a row to another partition would leave the
        // old copy stranded (the merge rewrites only the partitions
        // the OUTPUT rows land in) — refuse with the operation that
        // does handle moves. SET * stays under the store's documented
        // key/partition co-location contract, like the upsert path.
        require(!partCols.contains(c),
          s"$what cannot target partition column '$c' — " +
            "UPDATE … SET moves rows across partitions; MERGE cannot")
        require(!identSet(c),
          s"$what cannot target identity column '$c' — GENERATED ALWAYS " +
            "AS IDENTITY is allocator-owned") }
    matchedClauses.foreach {
      case MatchedUpdate(_, Some(set)) => validateSet(set, "MERGE UPDATE SET")
      case _ => ()
    }
    bySourceClauses.foreach {
      case NotMatchedBySource(_, Some(set)) =>
        validateSet(set, "MERGE NOT-MATCHED-BY-SOURCE UPDATE SET")
      case _ => ()
    }
    val tv = target.alias(tName)
    val sv = src.alias(sName)
    // Plain equality, NOT null-safe: Delta's MERGE ON semantics — a
    // null key never matches, so a null-keyed target row flows to the
    // NOT MATCHED BY SOURCE legs and a null-keyed source row to NOT
    // MATCHED. The delete leg hands keys to upsertDeleteCommit's plain
    // equi-joins; a `<=>` match here would classify a null-keyed row
    // as a MATCHED delete whose anti-join then removes nothing — the
    // row would silently survive the MERGE that claimed to delete it.
    val joinCond = keyCols.map(k => tv(k) === sv(k)).reduce(_ && _)
    val joined = tv.join(sv, joinCond, "inner")
    // First-matching-clause-wins: a when-chain indexed by clause
    // position; -1 = no clause applies (the row stays untouched).
    val action = matchedClauses.zipWithIndex
      .foldLeft(when(lit(false), lit(-1))) { case (acc, (cl, i)) =>
        val cond = (cl match {
          case MatchedUpdate(c, _) => c
          case MatchedDelete(c) => c
          case _ => None
        }).map(expr).getOrElse(lit(true))
        acc.when(cond, lit(i))
      }.otherwise(lit(-1))
    val acted = joined.withColumn("__graft_action", action)
    val deleteIdx = matchedClauses.zipWithIndex.collect {
      case (_: MatchedDelete, i) => i }.toSet
    val updateIdx = matchedClauses.zipWithIndex.collect {
      case (_: MatchedUpdate, i) => i }
    val deletes =
      if (deleteIdx.isEmpty) None
      else Some(acted
        .filter(col("__graft_action").isInCollection(deleteIdx.map(Int.box)))
        .select(keyCols.map(k => sv(k).as(k)): _*))
    // Schema evolution on SET *: source-only columns join the output
    // (null on rows other clauses produced), exactly like the upsert
    // fast path's union-by-name evolution.
    val setStar = matchedClauses.exists {
      case MatchedUpdate(_, None) => true; case _ => false }
    val outCols = target.columns.toSeq ++
      (if (setStar) src.columns.toSeq.filterNot(target.columns.contains)
       else Nil)
    def updatedRow(c: String): org.apache.spark.sql.Column =
      updateIdx.foldLeft(when(lit(false), lit(null))) { case (acc, i) =>
        val value = matchedClauses(i) match {
          case MatchedUpdate(_, None) =>
            if (src.columns.contains(c)) sv(c)
            else if (tTypes.contains(c)) tv(c) else lit(null)
          case MatchedUpdate(_, Some(set)) =>
            val assigned = set.collectFirst {
              case (sc, e) if strip(sc).stripPrefix(tName + ".") == c =>
                expr(e).cast(tTypes(c)) }
            assigned.getOrElse(
              if (tTypes.contains(c)) tv(c)
              else lit(null)) // source-only column: null unless SET *
          case _ => lit(null)
        }
        acc.when(col("__graft_action") === i,
          if (tTypes.contains(c)) value.cast(tTypes(c)) else value)
      }.otherwise(lit(null)).as(c)
    val updated =
      if (updateIdx.isEmpty) None
      else Some(acted
        .filter(col("__graft_action").isInCollection(updateIdx.map(Int.box)))
        .select(outCols.map(updatedRow): _*))
    // NOT MATCHED BY SOURCE: target rows with no source match — only
    // `t.` columns in scope (the anti-joined frame has no source
    // side, so a stray `s.` reference fails analysis loudly). DELETE
    // legs feed the same atomic delete set; UPDATE legs feed the
    // upsert set keyed by the target's own key values.
    val (bySourceDeletes, bySourceUpdated) =
      if (bySourceClauses.isEmpty) (None, None)
      else {
        val unmatchedT = tv.join(sv, joinCond, "left_anti")
        val bsAction = bySourceClauses.zipWithIndex
          .foldLeft(when(lit(false), lit(-1))) { case (acc, (cl, i)) =>
            acc.when(cl.cond.map(expr).getOrElse(lit(true)), lit(i))
          }.otherwise(lit(-1))
        val bsActed = unmatchedT.withColumn("__graft_bs", bsAction)
        // BY SOURCE legs address target rows BY KEY through the keyed
        // commit primitives, whose joins treat null keys as matching
        // nothing (the store's documented anti-mass-delete contract).
        // A null-keyed target row is always unmatched under the
        // plain-equality ON, so a BY SOURCE clause that selects one
        // would claim an update/delete the keyed legs cannot apply —
        // refuse loudly instead of silently skipping the row.
        val nullAddressed = bsActed.filter(col("__graft_bs") >= 0)
          .filter(keyCols.map(k => col(k).isNull).reduce(_ || _))
        require(nullAddressed.isEmpty,
          "MERGE NOT MATCHED BY SOURCE selected a target row with a " +
            s"null ON key (${keyCols.mkString(", ")}): null keys never " +
            "match (plain-equality ON) and cannot be addressed by the " +
            "keyed delete/update legs — filter them with AND " +
            "t.<key> IS NOT NULL or repair the keys first")
        val delIdx = bySourceClauses.zipWithIndex.collect {
          case (NotMatchedBySource(_, None), i) => i }.toSet
        val updIdx = bySourceClauses.zipWithIndex.collect {
          case (NotMatchedBySource(_, Some(_)), i) => i }
        val dels =
          if (delIdx.isEmpty) None
          else Some(bsActed
            .filter(col("__graft_bs").isInCollection(delIdx.map(Int.box)))
            .select(keyCols.map(col): _*))
        def bsRow(c: String): org.apache.spark.sql.Column =
          updIdx.foldLeft(when(lit(false), lit(null))) { case (acc, i) =>
            val set = bySourceClauses(i).set.get
            val value = set.collectFirst {
              case (sc, e) if strip(sc).stripPrefix(tName + ".") == c =>
                expr(e).cast(tTypes(c)) }
              .getOrElse(if (tTypes.contains(c)) col(c) else lit(null))
            acc.when(col("__graft_bs") === i,
              if (tTypes.contains(c)) value.cast(tTypes(c)) else value)
          }.otherwise(lit(null)).as(c)
        val upd =
          if (updIdx.isEmpty) None
          else Some(bsActed
            .filter(col("__graft_bs").isInCollection(updIdx.map(Int.box)))
            .select(target.columns.toSeq.map(bsRow): _*))
        (dels, upd)
      }
    val inserted = insertClause.map { ins =>
      val unmatched = sv.join(tv, joinCond, "left_anti")
        .filter(ins.cond.map(expr).getOrElse(lit(true)))
      ins.explicit match {
        case None =>
          // Same guard as the canonical fast path and the explicit
          // (cols) VALUES form below: an INSERT * whose source lacks a
          // partition column would silently route every unmatched row
          // to the null-sentinel partition.
          partCols.foreach(c => require(src.columns.contains(c),
            s"MERGE INSERT * requires the source to provide " +
              s"partition column '$c'"))
          unmatched.select(outCols.filter(c =>
            src.columns.contains(c) || tTypes.contains(c)).map { c =>
            (if (src.columns.contains(c)) sv(c)
             else lit(null)).cast(tTypes.getOrElse(c,
              unmatched.select(sv(c)).schema.head.dataType)).as(c)
          }: _*)
        case Some((cols0, vals)) =>
          // INSERT (cols) VALUES (exprs): expressions evaluate on the
          // unmatched SOURCE rows (s.* in scope; t.* is meaningless
          // here and fails analysis loudly); unlisted target columns
          // null-fill; partition columns must be listed (routing every
          // insert to the null-sentinel partition is a statement bug).
          val cols = cols0.map(c => strip(c))
          cols.foreach(c => require(tTypes.contains(c),
            s"MERGE INSERT lists unknown column '$c' " +
              s"(columns: ${target.columns.mkString(", ")})"))
          partCols.foreach(c => require(cols.contains(c),
            s"MERGE INSERT column list must include partition column '$c'"))
          val byName = cols.zip(vals).toMap
          unmatched.select(target.columns.toSeq.map { c =>
            byName.get(c) match {
              case Some(e) => expr(e).cast(tTypes(c)).as(c)
              case None => lit(null).cast(tTypes(c)).as(c)
            }
          }: _*)
      }
    }
    val upserts = (updated.toSeq ++ inserted.toSeq ++ bySourceUpdated.toSeq)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .getOrElse(target.limit(0))
    partCols.foreach(c => require(upserts.columns.contains(c),
      s"MERGE output lost the table's partition column '$c'"))
    val allDeletes = (deletes.toSeq ++ bySourceDeletes.toSeq)
      .reduceOption(_.unionByName(_))
    SnapshotStore.upsertDeleteCommit(spark, root, upserts, allDeletes,
      keyCols, partCols)
  }
}

/** `DELETE FROM t [WHERE p]` on a snapshot table — the SQL spelling
  * of the predicate delete (K4 retention delete,
  * mongodb_loader.py:218-231's `delete_many`), routed to
  * [[SnapshotStore.deleteWhere]]: partition-bounded rewrite through
  * the file-skipping probe, TRUE rows removed, FALSE/NULL rows kept.
  * No WHERE deletes every row (the table stays readable as a valid
  * empty snapshot). Returns one row (path, version). */
case class DeleteFromSnapshotCommand(table: Seq[String], where: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    // Delta's opt-in: with graft.enableDeletionVectors = true the
    // delete is merge-on-read (a position-list commit, zero data
    // rewritten); otherwise the partition-bounded rewrite.
    val dv = SnapshotStore.tablePropertiesMap(spark, root)
      .get("graft.enableDeletionVectors").exists(_.equalsIgnoreCase("true"))
    val v = if (dv) SnapshotStore.deleteWhereDv(spark, root, where.getOrElse("true"))
            else SnapshotStore.deleteWhere(spark, root, where.getOrElse("true"))
    Seq(Row(root, v))
  }
}

/** `ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', …)` — metadata-only
  * commit recording free-form table properties in the manifest log
  * (carried forward by every subsequent commit, like constraints).
  * Returns one row (path, version). */
case class SetPropertiesCommand(table: Seq[String],
                                props: Seq[(String, String)])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.setProperties(spark, root, props)))
  }
}

/** `ALTER TABLE t UNSET TBLPROPERTIES ('k', …)` — metadata-only
  * removal; unknown keys fail loudly. Returns one row (path, version). */
case class UnsetPropertiesCommand(table: Seq[String], keys: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.unsetProperties(spark, root, keys)))
  }
}

/** `SHOW TBLPROPERTIES t` — one (key, value) row per property of the
  * current version, key-ordered. */
case class ShowPropertiesCommand(table: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("value", org.apache.spark.sql.types.StringType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    SnapshotStore.tablePropertiesMap(spark, root).toSeq.sortBy(_._1)
      .map { case (k, v) => Row(k, v) }
  }
}

/** `SHOW PARTITIONS t`: one row per manifest partition VALUE,
  * decoded into the table's partition columns (the Hive null-sentinel
  * shows as null), plus the partition's DV-adjusted row count from
  * the stats sidecar (null when the sidecar is incomplete — never a
  * guess). Pure manifest metadata — no data file is opened at any
  * table size (the reference's stats view is metadata-priced the same
  * way, mongodb_loader.py:271-299). */
case class ShowPartitionsCommand(table: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("row_count", LongType, nullable = true)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val cur = SnapshotStore.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val partCols = SnapshotStore.header(spark, root, cur).partitionCols
    require(partCols.nonEmpty,
      s"manifest v$cur under $root predates partition-column metadata")
    val counts = SnapshotStore.partitionRowCounts(spark, root, Some(cur))
    SnapshotStore.manifest(spark, root, cur).map(_.partition).distinct.sorted
      .map { pv =>
        val comps = SnapshotStore.decodePartValue(pv, partCols.size)
        // Hive's own SHOW PARTITIONS row shape: col=value[/col=value…].
        Row(partCols.zip(comps).map { case (c, v) => s"$c=$v" }.mkString("/"),
          counts.flatMap(_.get(pv)).map(Long.box).orNull)
      }
  }
}

/** `TRUNCATE TABLE t`: every row leaves in ONE metadata commit
  * ([[SnapshotStore.truncate]]); the files stay on disk for time
  * travel until vacuumed and the schema carries, so the empty table
  * remains readable and writable. Returns (path, version). */
/** `SHOW CREATE TABLE t` — the CREATE statement reconstructed from
  * the table's own metadata ([[SnapshotStore.showCreateTable]]):
  * schema with GENERATED/IDENTITY/DEFAULT clauses, partition spec,
  * bucket layout, user-facing properties. Round-trip: running the
  * output against a fresh root reproduces the table's DDL surface. */
case class ShowCreateTableCommand(table: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("createtab_stmt",
      org.apache.spark.sql.types.StringType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val ident = table.map(p => s"`$p`").mkString(".")
    Seq(Row(SnapshotStore.showCreateTable(spark, root, ident)))
  }
}

/** `FSCK REPAIR TABLE t [DRY RUN]` — drop manifest references to
  * data/DV files deleted out-of-band
  * ([[SnapshotStore.fsckRepair]]); DRY RUN reports without
  * committing. One row per affected file. */
case class FsckRepairCommand(table: Seq[String], dryRun: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("reason", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("removed", org.apache.spark.sql.types.BooleanType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val (dropped, _) = SnapshotStore.fsckRepair(spark, root, dryRun)
    dropped.map { case (p, r) => Row(p, r, !dryRun) }
  }
}

case class TruncateSnapshotCommand(table: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.truncate(spark, root)))
  }
}

/** `REORG TABLE t APPLY (PURGE)` — rewrite deletion-vectored files
  * (materializing their deletes) and drop the DVs, bounding
  * merge-on-read amplification ([[SnapshotStore.purgeDeletionVectors]]).
  * Returns one row (path, version — unchanged when nothing carried a
  * DV). */
case class ReorgPurgeCommand(table: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.purgeDeletionVectors(spark, root)))
  }
}

/** `ALTER TABLE t SET PARTITIONED BY (a, b)` — partition-spec
  * evolution ([[SnapshotStore.repartitionTable]]): ONE layout rewrite
  * commit records the new spec; DML routes by it from the next
  * version, time travel reads old versions under theirs, RESTORE
  * snaps it back. Returns one row (path, version). */
/** `ALTER TABLE t CLUSTER BY (c, …) INTO n BUCKETS` — hash-bucket the
  * table ([[SnapshotStore.bucketTable]]): one layout rewrite, after
  * which co-located joins/aggregations on the cluster columns plan
  * shuffle-free and every later commit maintains the layout. `CLUSTER
  * BY NONE` drops the spec (files keep their names; readers and
  * writers simply stop presenting/maintaining the layout) — Delta's
  * liquid-clustering DDL surface. Returns one row (path, version). */
case class ClusterByCommand(table: Seq[String], cols: Seq[String],
                            buckets: Int, sortCols: Seq[String] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val v =
      if (cols.isEmpty) {
        // CLUSTER BY NONE: idempotent unset.
        val cur = SnapshotStore.currentVersion(spark, root).getOrElse(
          throw new IllegalStateException(s"no committed snapshot under $root"))
        if (SnapshotStore.header(spark, root, cur).properties
            .exists(_._1 == SnapshotStore.BucketSpecProp))
          SnapshotStore.unsetProperties(spark, root,
            Seq(SnapshotStore.BucketSpecProp))
        else cur
      } else SnapshotStore.bucketTable(spark, root, cols, buckets, sortCols)
    Seq(Row(root, v))
  }
}

case class RepartitionTableCommand(table: Seq[String], cols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    require(cols.nonEmpty, "SET PARTITIONED BY needs at least one column")
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.repartitionTable(spark, root,
      graft.sinks.ColSpec(cols))))
  }
}

/** `UPDATE t SET c = e, … [WHERE p]` on a snapshot table, routed to
  * [[SnapshotStore.updateWhere]]: assignments evaluate against the
  * old row (standard UPDATE), cast back to each column's existing
  * type, partition-bounded rewrite. Returns one row (path, version). */
case class UpdateSnapshotCommand(table: Seq[String],
                                 assignments: Seq[(String, String)],
                                 where: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    // Same opt-in as DELETE: with graft.enableDeletionVectors the
    // update is merge-on-read (old copies DV'd, new copies appended).
    val dv = SnapshotStore.tablePropertiesMap(spark, root)
      .get("graft.enableDeletionVectors").exists(_.equalsIgnoreCase("true"))
    val v = if (dv) SnapshotStore.updateWhereDv(spark, root, assignments, where)
            else SnapshotStore.updateWhere(spark, root, assignments, where)
    Seq(Row(root, v))
  }
}

/** `INSERT INTO t <query>` on a snapshot table — the unkeyed append
  * in its standard SQL spelling, routed to
  * [[SnapshotStore.appendCommit]]: every existing file carries by
  * reference, the query's rows land as new files. Columns map
  * POSITIONALLY to the table schema (SQL INSERT semantics) and cast
  * to its types; a column-count mismatch fails loudly. An explicit
  * column list (`INSERT INTO t (a, b) SELECT …`) maps the query's
  * columns to the LISTED names and null-fills the rest (partition
  * columns must be listed — routing every row to the null-sentinel
  * partition is a statement bug, not a default). Returns one row
  * (path, version). */
case class InsertIntoSnapshotCommand(table: Seq[String], query: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val (aligned, partCol, _) =
      InsertAlignment(spark, root, query, Set.empty)
    Seq(Row(root, SnapshotStore.appendCommit(spark, aligned, root, partCol)))
  }
}

/** The INSERT alignment engine, shared by INSERT INTO and INSERT
  * OVERWRITE: parses an optional leading column list off `rawQuery`,
  * aligns the query's output to the table's LOGICAL schema
  * (positional or by-list), applies the auto-column rules (generated
  * and identity may be omitted; ALWAYS identity must be; omitted
  * DEFAULT columns fill), and returns (aligned frame, partition
  * header, current version). `excluded` columns (a PARTITION
  * clause's) are treated like auto columns — absent from the frame,
  * the caller supplies them — and may not ALSO appear in a column
  * list. */
private[graft] object InsertAlignment {
  def apply(spark: SparkSession, root: String, rawQuery: String,
            excluded: Set[String]): (org.apache.spark.sql.DataFrame, String, Long) = {
    // `INSERT … t (SELECT …)` is a parenthesized QUERY (valid SQL,
    // handed to spark.sql as-is); `INSERT … t (a, b) SELECT …` is a
    // COLUMN LIST — provided columns map positionally to the list,
    // every other table column null-fills — told apart by whether
    // anything follows the balanced parenthesis group.
    val (columnList, effectiveQuery) = GraftSqlParser.leadingGroup(rawQuery) match {
      case Some((cols, query)) if query.nonEmpty =>
        (Some(GraftSqlParser.identifierList(cols)), query)
      case _ => (None, rawQuery.trim)
    }
    val cur = SnapshotStore.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val hdr = SnapshotStore.header(spark, root, cur)
    val partCol = hdr.partcol.getOrElse(
      throw new IllegalStateException(
        s"manifest v$cur under $root predates partition-column metadata; " +
          "re-commit once through any SnapshotStore write path first"))
    // LOGICAL schema: positional alignment and the appended frame must
    // use the names users see (column mapping applied) — the write
    // path translates back to physical names itself; aligning to the
    // physical schema here would both count dropped columns in the
    // arity check and trip the reserved-physical-name guard.
    val target = SnapshotStore.logicalSchemaAt(spark, root, cur).getOrElse(
      SnapshotStore.readVersion(spark, root, cur).schema)
    // GENERATED columns (graft.generated.*) may be OMITTED — the write
    // path computes them from their recorded expression. An omitted
    // one must stay ABSENT from the aligned frame (a null-fill would
    // be an explicit null claim the gen_ CHECK rightly refuses).
    // IDENTITY columns (graft.identity.*): ALWAYS columns MUST be
    // omitted — GENERATED ALWAYS AS IDENTITY refuses explicit values
    // (Delta's contract: the allocator owns the column). BY DEFAULT
    // columns may be provided (explicit values are their contract —
    // the write path mark-advances past them) or omitted; an omitted
    // one stays absent so the write path allocates.
    val gens = SnapshotStore.generatedColumnsAt(spark, root, cur).map(_._1).toSet
    val (alwaysIdents, idents) = (hdr.alwaysIdentityColumns.toSet, hdr.identityColumns.toSet)
    val defaults = SnapshotStore.defaultColumnsAt(spark, root, cur).toMap
    // PARTITION-clause columns behave like auto columns here: absent
    // from the aligned frame (the caller supplies their values), and
    // never fillable from a DEFAULT.
    val auto = gens ++ idents ++ excluded
    val df = spark.sql(effectiveQuery)
    val aligned = columnList match {
      case None =>
        val nonAuto = target.fields.filterNot(f => auto(f.name))
        // A PARTITION clause's columns can never arrive positionally:
        // full-arity alignment would map a query column onto them and
        // the clause's literal would then CLOBBER it — every row
        // silently re-routed to the static partition. Refuse the
        // arity instead (Spark refuses the same statement).
        require(excluded.isEmpty || df.columns.length <= nonAuto.length,
          s"the query provides ${df.columns.length} columns but " +
            s"${excluded.mkString(", ")} is supplied by the PARTITION " +
            s"clause — provide at most ${nonAuto.length}")
        // Positional alignment accepts the full schema (explicit
        // generated/BY-DEFAULT-identity values, judged by the CHECK /
        // mark-advance — but never explicit ALWAYS identity values)
        // or the schema minus every auto column (computed/allocated
        // at write).
        val fields =
          if (nonAuto.length != target.fields.length &&
              df.columns.length == nonAuto.length) nonAuto.toSeq
          else target.fields.toSeq
        require(df.columns.length == fields.length,
          s"INSERT INTO provides ${df.columns.length} columns but the table " +
            s"has ${target.fields.length} (${target.fieldNames.mkString(", ")})" +
            (if (auto.nonEmpty) s"; generated/identity (${auto.mkString(", ")}) may be omitted"
             else ""))
        require(alwaysIdents.isEmpty || fields.lengthCompare(nonAuto.length) == 0,
          s"GENERATED ALWAYS AS IDENTITY column(s) ${alwaysIdents.mkString(", ")} " +
            "cannot be assigned — omit them and the table allocates")
        df.select(df.columns.toSeq.zip(fields).map {
          case (c, f) =>
            org.apache.spark.sql.functions.col(c).cast(f.dataType).as(f.name)
        }: _*)
      case Some(cols) =>
        require(cols.nonEmpty, "INSERT INTO column list is empty")
        require(cols.distinct.size == cols.size,
          s"INSERT INTO column list repeats a column: ${cols.mkString(", ")}")
        cols.foreach(c => require(target.fieldNames.contains(c),
          s"INSERT INTO column list names unknown column '$c' " +
            s"(columns: ${target.fieldNames.mkString(", ")})"))
        cols.filter(alwaysIdents).foreach(c => throw new IllegalArgumentException(
          s"GENERATED ALWAYS AS IDENTITY column '$c' cannot be assigned — " +
            "omit it from the column list and the table allocates"))
        cols.filter(excluded).foreach(c => throw new IllegalArgumentException(
          s"column '$c' appears in both the PARTITION clause and the " +
            "column list — provide it once"))
        require(df.columns.length == cols.length,
          s"INSERT INTO provides ${df.columns.length} values for " +
            s"${cols.length} listed columns (${cols.mkString(", ")})")
        // Omitting a partition column would route every inserted row to
        // the null-sentinel partition — almost certainly a statement
        // bug; require it listed. A GENERATED partition column is the
        // exception: omitting it is the feature.
        hdr.partitionCols.filterNot(auto).foreach(c => require(cols.contains(c),
          s"INSERT INTO column list must include partition column '$c'"))
        val byListed = cols.zip(df.columns.toSeq).toMap
        df.select(target.fields.toSeq.flatMap { f =>
          byListed.get(f.name) match {
            case Some(src) => Some(org.apache.spark.sql.functions.col(src)
              .cast(f.dataType).as(f.name))
            case None if auto(f.name) => None // computed/allocated at write
            // Column DEFAULTs (E142): an OMITTED column with a
            // recorded default fills from its (validated, foldable)
            // expression — Catalyst constant-folds it, so the fill is
            // literal-priced. An explicitly LISTED column is the
            // caller's value even when NULL: SQL semantics.
            case None if defaults.contains(f.name) =>
              Some(org.apache.spark.sql.functions.expr(defaults(f.name))
                .cast(f.dataType).as(f.name))
            case None => Some(org.apache.spark.sql.functions.lit(null)
              .cast(f.dataType).as(f.name))
          }
        }: _*)
    }
    (aligned, partCol, cur)
  }
}

/** `INSERT OVERWRITE [TABLE] t [PARTITION (p = v | p, …)] <query>`
  * (E143): the versioned SQL overwrite family.
  *   - No PARTITION clause → a FULL overwrite:
  *     [[SnapshotStore.commit]] publishes a complete new snapshot
  *     version (the old stays time-travelable).
  *   - STATIC spec (`PARTITION (part = '3')`) → whole-partition
  *     replacement through [[SnapshotStore.replaceWhere]]'s
  *     partition-only fast path: the query omits the listed columns,
  *     their literal values extend every row, and the predicate
  *     replaces exactly those partitions with ZERO existing data
  *     read.
  *   - DYNAMIC spec (`PARTITION (part)`) → Spark's dynamic
  *     partition-overwrite semantics: only the partitions present in
  *     the query's output are replaced, everything else carries.
  * All three are ONE atomic commit; the INSERT alignment rules
  * (generated/identity omission, DEFAULT fill, column lists) apply
  * to the non-partition columns exactly as in INSERT INTO. */
case class InsertOverwriteSnapshotCommand(table: Seq[String], query: String,
                                          partitionSpec: Seq[(String, Option[String])])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val staticSpec = partitionSpec.collect { case (c, Some(v)) => c -> v }
    val dynamicCols = partitionSpec.collect { case (c, None) => c }
    require(partitionSpec.map(_._1).distinct.size == partitionSpec.size,
      "PARTITION clause repeats a column")
    val (aligned0, partCol, cur) = InsertAlignment(spark, root, query,
      excluded = staticSpec.map(_._1).toSet)
    val tableParts = SnapshotStore.header(spark, root, cur).partitionCols
    partitionSpec.map(_._1).foreach(c => require(tableParts.contains(c),
      s"PARTITION clause names '$c', which is not a partition column " +
        s"of the table (${tableParts.mkString(", ")})"))
    val target = SnapshotStore.logicalSchemaAt(spark, root, cur).getOrElse(
      SnapshotStore.readVersion(spark, root, cur).schema)
    // Static values extend every row, cast to the declared type.
    val aligned = staticSpec.foldLeft(aligned0) { case (d, (c, v)) =>
      d.withColumn(c, org.apache.spark.sql.functions.expr(v)
        .cast(target(target.fieldIndex(c)).dataType))
    }
    if (partitionSpec.isEmpty) {
      Seq(Row(root, SnapshotStore.commit(spark, aligned, root, partCol)))
    } else if (dynamicCols.nonEmpty) {
      // Any dynamic column → Spark's dynamic-overwrite semantics via
      // the dedicated primitive: it replaces exactly the partitions
      // the MATERIALIZED output holds (generated partition columns
      // included — they compute inside), with no predicate text to
      // mis-quote. Static values already extend every row, so a
      // mixed spec scopes itself through partition identity.
      Seq(Row(root, SnapshotStore.overwritePartitions(spark, root, aligned)))
    } else {
      // All-static: whole-partition replacement on replaceWhere's
      // partition-only fast path (zero existing data read). The
      // values are the user's own SQL literals, passed through.
      val predicate = staticSpec.map { case (c, v) => s"`$c` <=> ($v)" }
        .mkString(" AND ")
      Seq(Row(root, SnapshotStore.replaceWhere(spark, root, aligned, predicate)))
    }
  }
}

/** `COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET` — idempotent bulk
  * file ingest ([[SnapshotStore.copyInto]]): only files never loaded
  * before are read and appended, atomically with the ledger recording
  * them, so a re-fired scheduler job is a no-op. Returns one row
  * (path, version, files_loaded). */
case class CopyIntoSnapshotCommand(table: Seq[String], source: String,
                                   format: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("files_loaded", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val (v, n) = SnapshotStore.copyInto(spark, root, source, format)
    Seq(Row(root, v, n.toLong))
  }
}

/** `DESCRIBE DETAIL t` — Delta's one-row table summary: format,
  * location, partition column, current version and its commit
  * wall-clock, file/partition counts, total bytes (null when any
  * file lacks stats — derived metadata never blocks the view), and
  * the CHECK constraints in force. Metadata-priced at any size. */
case class DescribeDetailCommand(table: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = {
    import org.apache.spark.sql.types._
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType(Seq(
        StructField("format", StringType, nullable = false),
        StructField("location", StringType, nullable = false),
        StructField("partition_column", StringType, nullable = true),
        StructField("version", LongType, nullable = false),
        StructField("committed_at", TimestampType, nullable = true),
        StructField("num_files", IntegerType, nullable = false),
        StructField("num_partitions", IntegerType, nullable = false),
        StructField("size_bytes", LongType, nullable = true),
        StructField("num_rows", LongType, nullable = true),
        StructField("constraints", ArrayType(StringType), nullable = false),
        StructField("maintenance_last_error", StringType, nullable = true),
        StructField("analyzed_version", LongType, nullable = true),
        StructField("clustered_at", LongType, nullable = true))))
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val cur = SnapshotStore.currentVersion(spark, root).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $root"))
    val m = SnapshotStore.manifest(spark, root, cur)
    val stats = SnapshotStore.statsFor(spark, root, cur)
    val size: java.lang.Long =
      if (m.forall(e => stats.contains(e.path)))
        java.lang.Long.valueOf(m.map(e => stats(e.path).len).sum)
      else null
    val hdr = SnapshotStore.header(spark, root, cur)
    val props = hdr.props
    def longProp(k: String): java.lang.Long =
      props.get(k).flatMap(s => scala.util.Try(s.toLong).toOption)
        .map(java.lang.Long.valueOf).orNull
    Seq(Row(
      "graft-snapshot", root,
      hdr.partcol.orNull,
      cur,
      hdr.ts.map(new java.sql.Timestamp(_)).orNull,
      m.size, m.map(_.partition).distinct.size, size,
      // DV-adjusted row count from the sidecar — metadata-priced like
      // everything else in this summary (null if any file lacks stats).
      SnapshotStore.rowCount(spark, root)
        .map(java.lang.Long.valueOf).orNull,
      hdr.constraints.map { case (n, e) => s"$n CHECK ($e)" },
      // The last swallowed post-commit maintenance failure (auto-sync
      // / auto-compact / auto-analyze) — the operator signal that a
      // dashboard MV has silently degraded to full scans. Null = no
      // recorded failure.
      props.get(SnapshotStore.MaintenanceErrorProp).orNull,
      // Optimizer-statistics and clustering freshness, where table
      // health is read: the version the column stats were computed
      // against (null = never analyzed) and the version whose state
      // the incremental-clustering baseline reflects (null = never
      // clustered incrementally).
      longProp(graft.sinks.SnapshotStats.AnalyzedVersionProp),
      longProp(SnapshotStore.ClusteredAtProp)))
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS …]` — one scan
  * computing per-column NDV/nulls/bounds ([[graft.sinks.SnapshotStats]]),
  * recorded by a metadata-only commit and attached to every subsequent
  * read's relation for `spark.sql.cbo.*` costing. Table-level
  * rowCount/size need NO analyze — they ride the manifest exactly, at
  * every version. Returns one row (path, version, analyzed_columns). */
case class AnalyzeSnapshotCommand(table: Seq[String],
                                  cols: Option[Seq[String]])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = {
    import org.apache.spark.sql.types._
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      StructType(Seq(
        StructField("path", StringType, nullable = false),
        StructField("version", LongType, nullable = false),
        StructField("analyzed_columns", ArrayType(StringType), nullable = false))))
  }
  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val (v, analyzed) = graft.sinks.SnapshotStats.analyze(spark, root, cols)
    Seq(Row(root, v, analyzed))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` — Delta's CHECK
  * constraint: existing data is validated first (a violating row
  * fails the statement), then a metadata-only commit records the
  * constraint; every subsequent write probes its batch against it.
  * Returns one row (path, version). */
case class AddConstraintCommand(table: Seq[String], name: String,
                                check: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.addConstraint(spark, root, name, check)))
  }
}

/** `ALTER TABLE t DROP CONSTRAINT name` — metadata-only removal; an
  * unknown name fails loudly. Returns one row (path, version). */
case class DropConstraintCommand(table: Seq[String], name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.dropConstraint(spark, root, name)))
  }
}

/** `CREATE TABLE t PARTITIONED BY (c) [CLUSTER BY (k) [SORTED BY (s)]
  * INTO n BUCKETS] AS SELECT …` — CTAS onto a snapshot table: the
  * query (full session grammar) commits as version 1 through the
  * CREATE-ONLY primitive, so two racing creators cannot both win and
  * an existing table fails loudly (CTAS is create-only; INSERT INTO /
  * MERGE INTO modify). A CLUSTER BY clause writes version 1 ALREADY
  * bucketed and records the spec in the same atomic commit — a
  * DDL-first deployment never pays a day-two layout rewrite for what
  * day one could write directly. Returns (path, version). */
case class CtasSnapshotCommand(table: Seq[String], partitionCol: String,
                               query: String,
                               bucket: Option[(Seq[String], Seq[String], Int)] = None,
                               tblProperties: Seq[(String, String)] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val df = spark.sql(query)
    graft.sinks.ColSpec.parse(partitionCol).cols.foreach(c =>
      require(df.columns.contains(c),
        s"CTAS query lacks the declared partition column '$c' " +
          s"(columns: ${df.columns.mkString(", ")})"))
    tblProperties.map(_._1).find(SnapshotStore.managedPropertyKey)
      .foreach { k =>
        throw new IllegalArgumentException(
          s"'$k' is managed metadata — engine state cannot be seeded " +
            "by hand at CTAS")
      }
    SnapshotStore.commitIfAbsent(spark, df, root, partitionCol,
        bucketBy = bucket, properties = tblProperties) match {
      case Some(v) => Seq(Row(root, v))
      case None => throw new IllegalStateException(
        s"CREATE TABLE AS failed: $root already holds a snapshot — " +
          "CTAS is create-only; use INSERT INTO / MERGE INTO to modify")
    }
  }
}

/** `CREATE TABLE t (<schema>) USING graft-snapshot PARTITIONED BY
  * (<cols>)` — create an EMPTY snapshot table: version 1 carries zero
  * data files, the declared schema is recorded in the stats sidecar
  * (the empty-table read path serves it), and the partition spec
  * lands in the `#partcol` header so every later INSERT / COPY INTO /
  * MERGE / OPTIMIZE resolves it from the log. Create-only, decided
  * inside the commit protocol ([[SnapshotStore.commitIfAbsent]]) so a
  * racing CTAS/CREATE cannot slip through. Returns (path, version). */
case class CreateSnapshotTableCommand(table: Seq[String], schemaDdl: String,
                                      partitionCols: Seq[String],
                                      bucket: Option[(Seq[String], Seq[String], Int)] = None,
                                      tblProperties: Seq[(String, String)] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  /** Extract `col TYPE GENERATED {ALWAYS | BY DEFAULT} AS IDENTITY
    * [(START WITH n INCREMENT BY k)]` clauses: returns (plain DDL,
    * (col, start, step, byDefault) tuples; start defaults 1, step
    * defaults 1). Run on the extractGenerated REMAINDER — the
    * expression form requires `AS (` so the two patterns never both
    * match a clause. */
  private def extractIdentity(ddl: String)
      : (String, Seq[(String, Long, Long, Boolean)]) = {
    val Id = ("(?is)^(.*?)\\s+GENERATED\\s+(ALWAYS|BY\\s+DEFAULT)\\s+AS\\s+IDENTITY" +
      "\\s*(?:\\(\\s*(?:START\\s+WITH\\s+(-?\\d+)\\s*)?" +
      "(?:INCREMENT\\s+BY\\s+(-?\\d+)\\s*)?\\))?\\s*$").r
    val (plain, ids) = GraftSqlParser.splitTop(ddl, ",").filter(_.nonEmpty).map {
      case Id(colDef, mode, start, step) =>
        val name = colDef.trim.split("\\s+").head
          .stripPrefix("`").stripSuffix("`")
        (colDef.trim, Some((name,
          Option(start).map(_.toLong).getOrElse(1L),
          Option(step).map(_.toLong).getOrElse(1L),
          mode.trim.equalsIgnoreCase("BY DEFAULT") ||
            mode.trim.toUpperCase.startsWith("BY"))))
      case other => (other, None)
    }.unzip
    (plain.mkString(", "), ids.flatten)
  }

  /** Extract `col TYPE DEFAULT <expr>` clauses (E142): returns (plain
    * DDL, (col → default sql) pairs). Runs on the extractIdentity
    * REMAINDER, so `GENERATED BY DEFAULT AS IDENTITY` — the other
    * DEFAULT keyword in column DDL — is already stripped and can
    * never half-match here. The expression is everything after the
    * keyword (validated for parse/fold/type at create). */
  private def extractDefaults(ddl: String): (String, Seq[(String, String)]) = {
    val Def = "(?is)^(.*?)\\s+DEFAULT\\s+(.+)$".r
    val (plain, defs) = GraftSqlParser.splitTop(ddl, ",").filter(_.nonEmpty).map {
      case Def(colDef, e) =>
        val name = colDef.trim.split("\\s+").head
          .stripPrefix("`").stripSuffix("`")
        (colDef.trim, Some(name -> e.trim))
      case other => (other, None)
    }.unzip
    (plain.mkString(", "), defs.flatten)
  }

  /** Extract `col TYPE GENERATED ALWAYS AS (expr)` clauses: returns
    * (plain DDL for StructType.fromDDL, (col → expr) pairs). */
  private def extractGenerated(ddl: String): (String, Seq[(String, String)]) = {
    val Gen = "(?is)^(.*?)\\s+GENERATED\\s+ALWAYS\\s+AS\\s*\\((.*)\\)\\s*$".r
    val (plain, gens) = GraftSqlParser.splitTop(ddl, ",").filter(_.nonEmpty).map {
      case Gen(colDef, e) =>
        val name = colDef.trim.split("\\s+").head.stripPrefix("`").stripSuffix("`")
        (colDef.trim, Some(name -> e.trim))
      case other => (other, None)
    }.unzip
    (plain.mkString(", "), gens.flatten)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    val (plainDdl0, generated) = extractGenerated(schemaDdl)
    val (plainDdl1, identity) = extractIdentity(plainDdl0)
    val (plainDdl, defaults) = extractDefaults(plainDdl1)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(plainDdl)
    require(partitionCols.nonEmpty,
      "CREATE TABLE … USING graft-snapshot needs PARTITIONED BY (…)")
    partitionCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column '$c' is not in the declared schema " +
        s"(${schema.fieldNames.mkString(", ")})"))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    // Generation expressions must resolve against the NON-generated
    // columns only (a generated column referencing another would pass
    // a full-schema probe here and then brick every omitting write —
    // the fold computes them independently), produce EXACTLY the
    // declared type (an implicit cast at write time would make the
    // gen_ CHECK judge values the reader never sees), and be
    // re-computable: neither nondeterministic NOR query-scoped
    // time functions (current_date()/current_timestamp() report
    // deterministic but freeze per QUERY — the CHECK probe and the
    // write materialization are separate queries, so a midnight-
    // spanning write would land rows the CHECK never validated).
    val genNames = generated.map(_._1).toSet
    // Identity columns are excluded from the generation-expression
    // probe base too: at write time the generated fold runs BEFORE
    // identity allocation, so an expression referencing an identity
    // column would brick every omitting write.
    val identNames = identity.map(_._1).toSet
    require(identNames.intersect(genNames).isEmpty,
      "a column cannot be both GENERATED ALWAYS AS (expr) and IDENTITY")
    val probeBase = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(
        schema.filterNot(f => genNames(f.name) || identNames(f.name))))
    generated.foreach { case (c, e) =>
      require(schema.fieldNames.contains(c),
        s"generated column '$c' is not in the declared schema")
      val probe = try probeBase.select(org.apache.spark.sql.functions.expr(e).as("p"))
      catch { case scala.util.control.NonFatal(ex) =>
        throw new IllegalArgumentException(
          s"generated column '$c': expression '$e' does not resolve " +
            s"against the non-generated columns: ${ex.getMessage}")
      }
      val got = probe.schema.head.dataType
      val want = schema(schema.fieldIndex(c)).dataType
      require(got == want,
        s"generated column '$c' is declared $want but '$e' produces $got")
      val analyzed = probe.queryExecution.analyzed
      require(analyzed.expressions.forall(_.deterministic),
        s"generated column '$c': '$e' is nondeterministic — it " +
          "re-computes on every write path")
      val timeDependent = analyzed.expressions.exists(_.exists {
        case _: org.apache.spark.sql.catalyst.expressions.CurrentDate => true
        case _: org.apache.spark.sql.catalyst.expressions.CurrentTimestampLike => true
        case _: org.apache.spark.sql.catalyst.expressions.LocalTimestamp => true
        case _ => false
      })
      require(!timeDependent,
        s"generated column '$c': '$e' is query-scoped (current date/" +
          "timestamp) — separate write-path queries would compute " +
          "different values")
    }
    // The CLUSTER BY spec rides version 1, so the FIRST data commit
    // already writes bucketed — no day-two layout rewrite.
    // CREATE-time TBLPROPERTIES ride version 1 atomically; MANAGED
    // records (clause metadata AND engine runtime state — the one
    // shared predicate SHOW CREATE also prints by) arrive through
    // their clauses or the engine, never raw keys.
    tblProperties.map(_._1).find(SnapshotStore.managedPropertyKey)
      .foreach { k =>
        throw new IllegalArgumentException(
          s"'$k' is managed metadata — express clause metadata as a " +
            "column clause (GENERATED / IDENTITY / DEFAULT) or CLUSTER " +
            "BY; engine state (stats, cursors, baselines, marks) " +
            "cannot be seeded by hand")
      }
    SnapshotStore.commitIfAbsent(spark, empty, root, partitionCols,
        bucketBy = bucket, generated = generated, identity = identity,
        defaults = defaults, properties = tblProperties) match {
      case Some(v) => Seq(Row(root, v))
      case None => throw new IllegalStateException(
        s"CREATE TABLE failed: $root already holds a snapshot — " +
          "create is create-only; use INSERT INTO / MERGE INTO to modify")
    }
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` — Delta's column-mapping
  * rename: metadata-only, zero files rewritten (parquet keeps the
  * original physical name; reads alias it). Returns (path, version). */
case class RenameColumnCommand(table: Seq[String], from: String, to: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.renameColumn(spark, root, from, to)))
  }
}

/** `ALTER TABLE t ALTER COLUMN c SET DEFAULT expr | DROP DEFAULT` —
  * validated column-default management
  * ([[SnapshotStore.setColumnDefault]]). Returns (path, version). */
case class AlterColumnDefaultCommand(table: Seq[String], column: String,
                                     exprSql: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root,
      SnapshotStore.setColumnDefault(spark, root, column, exprSql)))
  }
}

/** `ALTER TABLE t SYNC IDENTITY` — re-base every identity mark onto
  * the values actually present ([[SnapshotStore.syncIdentity]]): the
  * sanctioned migration-ingest closer and the only way a mark moves
  * backward. Returns (path, version). */
case class SyncIdentityCommand(table: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.syncIdentity(spark, root)))
  }
}

/** `ALTER TABLE t DROP COLUMN c` — metadata-only tombstone; data
  * files are untouched and time travel before the drop still shows
  * the column. Returns (path, version). */
case class DropColumnCommand(table: Seq[String], name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.dropColumn(spark, root, name)))
  }
}

/** `ALTER TABLE t ADD COLUMN c TYPE` — metadata-only schema widening
  * (existing files read the column as typed nulls). Returns
  * (path, version). */
case class AddColumnCommand(table: Seq[String], columns: Seq[(String, String)])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", org.apache.spark.sql.types.StringType,
      nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    Seq(Row(root, SnapshotStore.addColumns(spark, root, columns)))
  }
}

/** `DESCRIBE HISTORY t`: the per-version audit view
  * ([[SnapshotStore.history]] — version, operation, file/partition
  * counts, files added/removed, total rows), newest first like
  * Delta's. */
case class DescribeHistoryCommand(table: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(
      SnapshotStore.historySchema)

  override def run(spark: SparkSession): Seq[Row] = {
    val root = GraftSqlParser.resolveRoot(spark, table)
    SnapshotStore.history(spark, root)
      .orderBy(org.apache.spark.sql.functions.col("version").desc)
      .collect().toSeq
  }
}
