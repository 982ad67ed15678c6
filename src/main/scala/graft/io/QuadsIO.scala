package graft.io

import graft.rdf.{Quad, TermSchema, TurtleParser}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** Quad ingest and storage.
  *
  * Reference equivalent: `ScioContext.readTriples`
  * (/root/reference/src/main/scala/es/jolivar/scio/sparql/TriplesReader.scala:34-77),
  * which re-parses RDF text per pipeline with one worker per file. Our
  * design separates one-time ingest from steady-state querying:
  *
  *  - Turtle/TriG/RDF-XML/JSON-LD (not line-splittable) parse
  *    distributed one-file-per-task ([[readFiles]]); tiny driver-side
  *    single-file readers remain for fixtures;
  *  - N-Triples/N-Quads (line-splittable — THE bulk RDF interchange
  *    format at 100 TB) parse distributed, one partition per file split;
  *  - both land in canonical quads **Parquet** `(s,p,o,g)` term-struct
  *    columns, so every query after ingest gets columnar scans,
  *    predicate pushdown and min/max pruning instead of text re-parsing.
  */
object QuadsIO {

  /** Distributed scale path: newline-delimited N-Triples/N-Quads.
    *
    * Compressed input (`.nt.gz`, `.nt.bz2`, `.nq.deflate`)
    * decompresses transparently through Hadoop's codec factory; bzip2
    * additionally SPLITS within files, so one giant `.nt.bz2` still
    * fans out across tasks. Gzip/deflate are not line-splittable —
    * one file, one task — reference parity (its Compression.AUTO has
    * the same constraint, TriplesReader.scala:38-39). At 100 TB: ship
    * bzip2, or many medium files of anything else. (`.nt.zst`/`.xz`/
    * `.lz4` route through the whole-file reader — see [[read]].)
    *
    * `skipMalformed = true` is the dirty-corpus knob: lines that fail
    * to parse are dropped instead of failing the whole load four
    * task-retries later — strict remains the default so silent data
    * loss is opt-in (count the drops by comparing against the line
    * count net of blank and `#`-comment lines, which are legitimately
    * quad-less, when you need the number).
    *
    * The parse is a native codegen'd expression
    * ([[graft.functions.NtParse]]) emitting a 0/1-quad array: text
    * scan → parse → explode → project is one generated pipeline, no
    * RDD hop, no Row codec — and the explode shape evaluates the parse
    * exactly ONCE per line (a nullable scalar + isNotNull filter gets
    * duplicated into the pushed-down Filter: every line parsed twice). */
  def readNTriples(spark: SparkSession, path: String,
                   skipMalformed: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    spark.read.text(path)
      .select(explode(graft.functions.NtParse
        .parseNTripleCol(col("value"), permissive = skipMalformed)).as("q"))
      .select(col("q.s").as("s"), col("q.p").as("p"),
        col("q.o").as("o"), col("q.g").as("g"))
  }

  /** Compression recognized by filename, reference-parity with Beam's
    * `Compression.AUTO` (TriplesReader.scala:20, 39) and then some:
    * gzip, bzip2, zstd, zlib-deflate, xz, and framed lz4. Decoders
    * come from commons-compress (+ zstd-jni), which Spark already
    * ships — pure JVM, no native hadoop required, so the same set
    * works on executors, the driver, and in tests. */
  private val CompressionExts =
    Set("gz", "bz2", "zst", "zstd", "deflate", "xz", "lz4")

  /** `(path without the compression suffix, codec ext if any)` —
    * `"a/b.ttl.bz2"` → `("a/b.ttl", Some("bz2"))`. */
  private[graft] def splitCompression(path: String): (String, Option[String]) = {
    val ext = extensionOf(path)
    if (CompressionExts.contains(ext)) (path.dropRight(ext.length + 1), Some(ext))
    else (path, None)
  }

  /** Wrap a raw stream with the decoder for `ext`. Concatenated
    * members decode fully (the `cat a.gz b.gz` shape Hadoop's codecs
    * also accept), matching line-format behavior. */
  private[graft] def wrapDecompress(ext: String,
                                    raw: java.io.InputStream): java.io.InputStream = {
    import org.apache.commons.compress.compressors
    ext match {
      case "gz" =>
        new compressors.gzip.GzipCompressorInputStream(raw, true)
      case "bz2" =>
        new compressors.bzip2.BZip2CompressorInputStream(raw, true)
      case "zst" | "zstd" =>
        new compressors.zstandard.ZstdCompressorInputStream(raw)
      case "deflate" =>
        new compressors.deflate.DeflateCompressorInputStream(raw)
      case "xz" =>
        new compressors.xz.XZCompressorInputStream(raw, true)
      case "lz4" =>
        new compressors.lz4.FramedLZ4CompressorInputStream(raw, true)
      case other =>
        throw new IllegalArgumentException(s"unrecognized compression .$other")
    }
  }

  /** Driver-side whole-file read through the Hadoop FileSystem API, so
    * the small-file formats work on every filesystem the session can
    * reach (HDFS, S3A, local…), not just java.nio local paths — the
    * same resolution the distributed readers use. Any recognized
    * compression suffix decodes transparently. */
  private def readDriverText(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val raw = fs.open(p)
    val in = splitCompression(path)._2.fold(raw: java.io.InputStream)(
      wrapDecompress(_, raw))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** Driver-side parse of a (small) Turtle/TriG file into a quads DF. */
  def readTurtle(spark: SparkSession, path: String): DataFrame =
    fromQuads(spark, TurtleParser.parse(readDriverText(spark, path)))

  /** Driver-side parse of an RDF/XML file into a quads DF. */
  def readRdfXml(spark: SparkSession, path: String): DataFrame =
    fromQuads(spark, graft.rdf.RdfXmlParser.parse(readDriverText(spark, path)))

  /** Driver-side parse of a JSON-LD file into a quads DF. */
  def readJsonLd(spark: SparkSession, path: String): DataFrame =
    fromQuads(spark, graft.rdf.JsonLdParser.parse(readDriverText(spark, path)))

  /** Driver-side parse of a TriX file into a quads DF. */
  def readTriX(spark: SparkSession, path: String): DataFrame =
    fromQuads(spark, graft.rdf.TriXParser.parse(readDriverText(spark, path)))

  /** Extension-based per-FILE parse used by the distributed whole-file
    * reader; runs on executors. Any recognized compression suffix
    * (gz/bz2/zst/deflate/xz/lz4) wraps any base format. Parse errors
    * carry the offending file's path. */
  private[graft] def parseFile(path: String, bytes: Array[Byte]): Iterator[Quad] = {
    val (base, comp) = splitCompression(path)
    def text: String = {
      val raw: java.io.InputStream = new java.io.ByteArrayInputStream(bytes)
      val in = comp.fold(raw)(wrapDecompress(_, raw))
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    try extensionOf(base) match {
      case "nt" | "nq" | "ntriples" | "nquads" =>
        // whole-file fallback for mixed directories; pure .nt/.nq paths
        // go through readNTriples, which splits WITHIN files — route
        // multi-GB N-Triples there: this path (like every whole-file
        // format) materializes the file's quads in memory at once
        text.linesIterator.flatMap(TurtleParser.parseNTriplesLine)
      case "ttl" | "trig" | "turtle" | "n3" =>
        // .n3 files are overwhelmingly Turtle in practice; true
        // N3-only syntax (formulae, paths, @forAll/@forSome) fails
        // loudly in the Turtle parser rather than parsing wrongly
        TurtleParser.parse(text).iterator
      case "rdf" | "rdfs" | "owl" | "xml" => graft.rdf.RdfXmlParser.parse(text).iterator
      case "jsonld" | "json" => graft.rdf.JsonLdParser.parse(text).iterator
      case "rj" => graft.rdf.RdfJsonParser.parse(text).iterator
      case "trix" => graft.rdf.TriXParser.parse(text).iterator
      case other =>
        throw new IllegalArgumentException(s"unrecognized RDF extension .$other")
    } catch {
      // NonFatal, not just the parsers' IllegalArgumentException:
      // malformed XML surfaces as XMLStreamException and a corrupt .gz
      // as ZipException — in a 10k-file ingest the one thing the wrap
      // must guarantee is WHICH file broke
      case scala.util.control.NonFatal(e) =>
        throw new IllegalArgumentException(s"$path: ${e.getMessage}", e)
    }
  }

  /** Lowercased filename extension ("" when none — e.g. a directory). */
  private def extensionOf(path: String): String = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    val dot = name.lastIndexOf('.')
    if (dot < 0) "" else name.substring(dot + 1).toLowerCase
  }

  /** Distributed whole-file ingest: one file per task, every format the
    * engine reads, dispatched per file by extension — so a directory or
    * glob of 10k Turtle/RDF-XML/JSON-LD files parses as 10k parallel
    * tasks (packed into partitions by Spark's small-file coalescing),
    * not a sequential driver loop. Reference parity: its per-file DoFn
    * over `FileIO.match` (TriplesReader.scala:53-77). Whole-file
    * formats are not splittable, so one huge Turtle file is one task —
    * at 100 TB ship many medium files (same constraint as the
    * reference) or N-Quads, which splits within files. */
  def readFiles(spark: SparkSession, path: String,
                skipMalformed: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode}
    spark.read.format("binaryFile").load(path)
      .select(explode(graft.functions.NtParse
        .parseRdfFileCol(col("path"), col("content"),
          permissive = skipMalformed)).as("q"))
      .select(col("q.s").as("s"), col("q.p").as("p"),
        col("q.o").as("o"), col("q.g").as("g"))
  }

  /** Format chosen by filename, like the reference's Rio dispatch
    * (TriplesReader.scala:62-74): N-Triples/N-Quads split WITHIN files
    * (line-delimited), every other format parses one-file-per-task on
    * executors via [[readFiles]]; directories and globs fan out with
    * per-file dispatch; every recognized compression suffix accepted
    * on all formats. Line formats stay on the distributed text reader
    * for the compressions Hadoop's codec factory decodes natively
    * (gzip, SPLITTABLE bzip2, zlib-deflate) and fall back to
    * one-file-per-task for the rest (zstd/xz/lz4 — none splittable,
    * so the parallelism is identical; only the decoder differs).
    * `skipMalformed` reaches both paths: dropped LINES for
    * N-Triples/N-Quads, dropped FILES for whole-file formats. */
  def read(spark: SparkSession, path: String,
           skipMalformed: Boolean = false): DataFrame = {
    val (base, comp) = splitCompression(path)
    extensionOf(base) match {
      case "nt" | "nq" | "ntriples" | "nquads" =>
        if (comp.forall(Set("gz", "bz2", "deflate")))
          readNTriples(spark, path, skipMalformed)
        else readFiles(spark, path, skipMalformed)
      case "ttl" | "trig" | "turtle" | "n3" | "rdf" | "rdfs" | "owl" | "xml" |
           "jsonld" | "json" | "rj" | "trix" | "" | "*" =>
        readFiles(spark, path, skipMalformed)
      case other =>
        throw new IllegalArgumentException(s"unrecognized RDF extension .$other")
    }
  }

  /** Build a quads DataFrame from driver-side quads (fixtures, tests). */
  def fromQuads(spark: SparkSession, quads: Seq[Quad]): DataFrame = {
    val rows: java.util.List[Row] = new java.util.ArrayList[Row]()
    quads.foreach(q => rows.add(q.toRow))
    spark.createDataFrame(rows, TermSchema.quadType)
  }

  /** Canonical storage: Parquet, repartitioned by predicate then subject
    * so same-predicate scans touch few files (vertical-partitioning-lite)
    * and same-subject stars co-locate within row groups. Written
    * through the one store writer ([[Layout.storeWriter]]): the term
    * strings are highly repetitive (shared IRI prefixes, low-cardinality
    * predicates/datatypes), so they keep small dictionaries or, past
    * those, share prefixes along the sort. */
  def writeParquet(quads: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    Layout.storeWriter(quads
      .repartition(quads.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt,
        quads("p"), quads("s"))
      .sortWithinPartitions("p", "s"), mode).parquet(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Serialize one term-struct column to its N-Triples token — pure
    * column expressions (codegen'd, no UDF): IRIs `<…>`, blank nodes
    * `_:id`, literals with \\ \" \n \r \t escaping, `@lang` tags, and
    * `^^<dt>` for non-xsd:string datatypes. (Also the term syntax of
    * W3C SPARQL 1.1 results TSV — see [[Sparql]] results writers.) */
  private[graft] def ntToken(t: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import graft.rdf.{TermKind, XSD}
    val lex = t.getField("lex")
    val esc = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(lex, "\\\\", "\\\\\\\\"),
      "\"", "\\\\\""), "\n", "\\\\n"), "\r", "\\\\r"), "\t", "\\\\t")
    val dt = t.getField("dt"); val lang = t.getField("lang")
    when(t.getField("kind") === TermKind.IRI, concat(lit("<"), lex, lit(">")))
      .when(t.getField("kind") === TermKind.BNODE, concat(lit("_:"), lex))
      .otherwise(concat(lit("\""), esc, lit("\""),
        when(lang =!= "", concat(lit("@"), lang))
          .when(dt =!= "" && dt =!= XSD.string, concat(lit("^^<"), dt, lit(">")))
          .otherwise(lit(""))))
  }

  /** Distributed N-Quads export (N-Triples when every g is NULL): one
    * text line per quad, written in parallel — the interchange-format
    * exit path matching [[readNTriples]]'s entry path. Round-trips
    * through the same parser. `compression` is any codec Spark's text
    * sink takes ("none", "gzip", "bzip2", "deflate", …); prefer bzip2
    * for archives a downstream engine must re-split, gzip for plain
    * interchange — both read back transparently ([[readNTriples]] on
    * the output directory). */
  def writeNQuads(quads: DataFrame, path: String,
                  saveMode: SaveMode = SaveMode.Overwrite,
                  compression: String = "none"): Unit = {
    import org.apache.spark.sql.functions._
    quads.select(concat_ws(" ",
      ntToken(quads("s")), ntToken(quads("p")), ntToken(quads("o")),
      when(quads("g").isNotNull, ntToken(quads("g"))).otherwise(lit(null)),
      lit(".")).as("value"))
      .write.mode(saveMode).option("compression", compression).text(path)
  }

  /** Bucketed table layout: hash-bucket + sort on the subject column.
    * BGP star queries are subject-subject self-joins; with both sides
    * bucketed on `s`, Spark plans a sort-merge join with NO exchange —
    * at 100 TB this removes the dominant shuffle from every star query.
    * (Bucketing requires the table catalog, hence saveAsTable.) */
  def writeBucketedTable(quads: DataFrame, table: String,
                         buckets: Int = 64): Unit =
    Layout.storeWriter(quads, SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, "s")
      .sortBy("s")
      .saveAsTable(table)
}
