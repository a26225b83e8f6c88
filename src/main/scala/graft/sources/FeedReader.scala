package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Supplier feed ingestion (SURVEY §2.1 S1–S3): JSONC comment
  * stripping + multiLine JSON parse + section extraction.
  *
  * The reference line-scans pretty-printed capture files for marker
  * substrings (ref: etl/extractors/midocean_extractor.py:95-138) — an
  * artifact of the capture format. The semantics are "parse the
  * document, take the array/object under key K", which is what we do:
  * strip `//` comments (string-aware), hand the whole document to
  * Spark's JSON reader with the section path, and explode.
  *
  * Scale design: one capture file is one JSON document, so the parse
  * itself is single-task — that's inherent to the source format, and
  * these feeds are MB-scale API responses. The DataFrame that comes
  * OUT of a section is immediately distributed (explode happens on
  * executors). For a directory of many feed files, `readSections`
  * parallelizes per-file via `wholeTextFiles`.
  */
object FeedReader {

  /** Strip `//` line comments from JSONC, string-aware: `//` inside a
    * JSON string (e.g. "https://…") is content, not a comment. JSON
    * strings cannot contain raw newlines, so per-line scanning with a
    * small in-string state machine is exact. (S3; e.g. comments at
    * MidOcean Sample Data.jsonc:14.) */
  def stripComments(line: String): String = {
    var inString = false
    var escaped = false
    var i = 0
    val n = line.length
    while (i < n) {
      val c = line.charAt(i)
      if (escaped) escaped = false
      else if (inString) {
        if (c == '\\') escaped = true
        else if (c == '"') inString = false
      } else {
        if (c == '"') inString = true
        else if (c == '/' && i + 1 < n && line.charAt(i + 1) == '/')
          return line.substring(0, i)
      }
      i += 1
    }
    line
  }

  /** Remove trailing commas (`,` followed by only whitespace and then
    * `}` or `]`) — the other JSONC-ism in the captures (e.g. XD Sample
    * Data.jsonc ProductPrices rows end `},` before `]`; the reference
    * line-scanner strips them at midocean_extractor.py:104). String-
    * aware single pass. */
  def stripTrailingCommas(text: String): String = {
    val sb = new StringBuilder(text.length)
    var inString = false
    var escaped = false
    var i = 0
    val n = text.length
    while (i < n) {
      val c = text.charAt(i)
      if (escaped) { escaped = false; sb.append(c) }
      else if (inString) {
        if (c == '\\') escaped = true
        else if (c == '"') inString = false
        sb.append(c)
      } else if (c == '"') { inString = true; sb.append(c) }
      else if (c == ',') {
        var j = i + 1
        while (j < n && Character.isWhitespace(text.charAt(j))) j += 1
        if (j < n && (text.charAt(j) == '}' || text.charAt(j) == ']')) ()
        else sb.append(c)
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  def stripJsonc(text: String): String =
    stripTrailingCommas(text.linesIterator.map(stripComments).mkString("\n"))

  /** S1 — load a whole feed file as text through the Hadoop FS layer
    * (works for any Spark-supported filesystem); missing file → None
    * (the reference warns and yields nothing —
    * midocean_extractor.py:279-290). */
  def loadText(spark: SparkSession, path: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** Parse JSONC into a DataFrame of documents — one row per capture
    * file. `path` may be a single file (one-row result, the sample-data
    * mode) or a directory of captures (the at-scale mode: one task per
    * file via wholeTextFiles, comment-stripping on executors, schemas
    * merged by the JSON reader). Every supplier pipeline therefore
    * scales from one sample file to a feed archive with no code change:
    * `sectionOf` explodes each document's section and the rows union. */
  def readJsonc(spark: SparkSession, path: String): DataFrame =
    readJsonc(spark, path, None)

  /** As above, with a declared minimal schema (a source CONTRACT): the
    * document is parsed with `mergeSchemas(inferred, required)`, so
    * every contract field resolves downstream — absent ones as typed
    * nulls — while fields the contract doesn't know about keep their
    * inferred types untouched. This is what makes sparse captures (a
    * feed where no row materializes an optional field, or a whole
    * endpoint is missing) analyze instead of throwing
    * FIELD_NOT_FOUND / UNRESOLVED_COLUMN; the reference's row-at-a-time
    * `.get(...)` tolerance (etl/transformers/midocean_transformer.py)
    * is schema-level here. */
  def readJsonc(spark: SparkSession, path: String,
                required: Option[org.apache.spark.sql.types.StructType]): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inferred = if (fs.exists(p) && fs.getFileStatus(p).isDirectory) {
      val texts = spark.sparkContext.wholeTextFiles(path).map(_._2)
        .map(stripJsonc)
      spark.read.json(spark.createDataset(texts))
    } else {
      val doc = loadText(spark, path).map(stripJsonc).getOrElse("{}")
      spark.read.json(Seq(doc).toDS())
    }
    required match {
      // Leave corrupt docs on the inference path so sectionOf's
      // clear-error check still fires.
      case Some(req) if !inferred.columns.sameElements(Array("_corrupt_record")) =>
        val merged = mergeSchemas(inferred.schema, req)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        // Full captures usually materialize every contract field — the
        // merge is then the identity and the second parse is skipped.
        if (merged == inferred.schema) inferred
        else if (fs.exists(p) && fs.getFileStatus(p).isDirectory) {
          val texts = spark.sparkContext.wholeTextFiles(path).map(_._2).map(stripJsonc)
          spark.read.schema(merged).json(spark.createDataset(texts))
        } else {
          val doc = loadText(spark, path).map(stripJsonc).getOrElse("{}")
          spark.read.schema(merged).json(Seq(doc).toDS())
        }
      case _ => inferred
    }
  }

  /** Recursive union of an inferred schema with a declared contract.
    * Rules: a field present in both keeps the INFERRED type (use-sites
    * try_cast; the data wins) with its nested fields merged; a field
    * only in the contract is added (parses to null). Struct-vs-array
    * mismatches respect the PromoStandards singleton quirk: a declared
    * array whose capture shape is a bare object merges into the
    * object's struct (asArray re-wraps it at use sites). A scalar
    * inferred against a declared complex type (empty `[]` infers
    * array<string>, an all-null field infers string) takes the
    * declared shape. */
  def mergeSchemas(inferred: org.apache.spark.sql.types.DataType,
                   declared: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    (inferred, declared) match {
      case (NullType, d) => d
      case (i: StructType, d: StructType) =>
        val inferredNames = i.fieldNames.toSet
        StructType(
          i.fields.map { f =>
            d.fields.find(_.name == f.name) match {
              case Some(df) => f.copy(dataType = mergeSchemas(f.dataType, df.dataType))
              case None => f
            }
          } ++ d.fields.filterNot(f => inferredNames(f.name)))
      case (i: ArrayType, d: ArrayType) =>
        ArrayType(mergeSchemas(i.elementType, d.elementType),
          i.containsNull || d.containsNull)
      case (i: StructType, d: ArrayType) => mergeSchemas(i, d.elementType)
      case (_: ArrayType | _: StructType | _: MapType, _) => inferred
      case (_, _: ArrayType | _: StructType | _: MapType) => declared
      case _ => inferred
    }
  }

  /** Lift per-section column contracts (the [[conform]] inputs) into a
    * document-level required schema for [[readJsonc]]: each
    * `(sectionPath, cols)` becomes `struct<path…: array<struct<cols>>>`
    * and the sections merge into one doc schema. conform alone fixes
    * only TOP-LEVEL absent/mis-shaped columns — a present nested array
    * whose element struct lacks a contract field still fails
    * `getField` at analysis; merging the contract into the reader
    * schema makes those nested fields parse as typed nulls instead. */
  def requiredFor(sections: (String, Seq[(String, String)])*):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def nest(path: List[String], dt: DataType): DataType = path match {
      case Nil => dt
      case head :: tail => StructType(Seq(StructField(head, nest(tail, dt))))
    }
    sections.map { case (path, cols) =>
      val leaf = ArrayType(StructType(cols.map { case (n, t) =>
        StructField(n, DataType.fromDDL(t))
      }))
      nest(path.split('.').toList, leaf)
    }.reduce(mergeSchemas).asInstanceOf[StructType]
  }

  /** S2 — extract the array under a dotted section path (e.g.
    * "products.Response") as one row per element. Works for both
    * array-of-objects sections and struct sections (struct → single
    * row). */
  def readSection(spark: SparkSession, path: String, section: String): DataFrame = {
    val doc = readJsonc(spark, path)
    sectionOf(doc, section)
  }

  def sectionOf(doc: DataFrame, section: String): DataFrame = {
    // A document that failed to parse surfaces as a lone
    // _corrupt_record column — raise a clear error instead of the
    // UNRESOLVED_COLUMN the section path would otherwise throw.
    if (doc.columns.sameElements(Array("_corrupt_record")))
      throw new IllegalArgumentException(
        s"feed document is not valid JSON(C) — cannot extract section '$section' " +
          "(check for unsupported syntax; // comments and trailing commas are stripped)")
    val c = section.split('.').foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      case (acc, field) => Some(acc.map(_.getField(field)).getOrElse(col(field)))
    }.get
    val dt = doc.select(c.as("__s")).schema.head.dataType
    dt match {
      case at: org.apache.spark.sql.types.ArrayType =>
        at.elementType match {
          case _: org.apache.spark.sql.types.StructType =>
            doc.select(explode(c).as("__s")).select(col("__s.*"))
          case _ =>
            // Scalar array — including the EMPTY-section case, where
            // JSON inference types `[]` as array<string>.
            doc.select(explode(c).as("value"))
        }
      case _: org.apache.spark.sql.types.StructType =>
        doc.select(c.as("__s")).select(col("__s.*"))
      case _ => doc.select(c.as("value"))
    }
  }

  /** Directory-of-feeds variant: each file parsed independently in
    * parallel (one task per file), schemas merged by name. */
  def readSections(spark: SparkSession, dir: String, section: String): DataFrame = {
    import spark.implicits._
    val files = spark.sparkContext.wholeTextFiles(dir).map(_._2).map(stripJsonc)
    val docs = spark.read.json(spark.createDataset(files))
    sectionOf(docs, section)
  }

  /** S7 — connection/validation probe: the source exists and parses to
    * a nonempty document (ref: midocean_extractor.py:292-310). */
  def validate(spark: SparkSession, path: String): Boolean =
    loadText(spark, path).exists(_.trim.nonEmpty)

  /** Conform a feed section to its expected column contract: present
    * columns pass through untouched (schema inference may type them
    * more precisely than declared — use-sites try_cast), absent ones
    * become typed nulls. Captures only materialize the fields they use
    * (a sparse capture, or an empty section that infers no columns at
    * all), so supplier pipelines conform each section before
    * referencing columns. `expected` maps column name → DDL type used
    * for the null fallback. */
  def conform(df: DataFrame, expected: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.types._
    // A present complex column must also match the declared SHAPE — an
    // empty JSON array infers array<string>, which would break struct
    // field access downstream. Scalars always pass (use-sites try_cast).
    def shapeOk(actual: DataType, declared: DataType): Boolean = (actual, declared) match {
      case (a: ArrayType, d: ArrayType) => shapeOk(a.elementType, d.elementType)
      case (_: StructType, _: StructType) => true
      case (_: MapType, _: MapType) => true
      case (_: StructType, _) | (_, _: StructType) => false
      case (_: ArrayType, _) | (_, _: ArrayType) => false
      case (_: MapType, _) | (_, _: MapType) => false
      case _ => true
    }
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(expected.map { case (n, t) =>
      val declared = DataType.fromDDL(t)
      fields.get(n) match {
        case Some(actual) if shapeOk(actual, declared) => col(s"`$n`").as(n)
        case _ => lit(null).cast(declared).as(n)
      }
    }: _*)
  }

  /** Normalize the XML-converted singleton quirk (PromoStandards-style
    * captures, e.g. Sanmar Sample Data.jsonc:160 ProductCategory): a
    * one-element list serializes as a bare object, so the same path is
    * a struct in one capture and an array in another. Resolves the
    * column's type against `df` and wraps struct → 1-element array;
    * null-safe. Plan-time schema dispatch — no runtime branching. */
  def asArray(df: DataFrame, c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dt = df.select(c.as("__a")).schema.head.dataType
    dt match {
      case at: org.apache.spark.sql.types.ArrayType =>
        coalesce(c, array().cast(at))
      case other =>
        when(c.isNotNull, array(c))
          .otherwise(array().cast(org.apache.spark.sql.types.ArrayType(other)))
    }
  }
}
