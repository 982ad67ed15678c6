package graft

import graft.io.{DictStore, QuadsIO}
import graft.rdf.{Iri, Lit, Quad, Term, XSD}
import graft.sparql.Sparql._
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import scala.jdk.CollectionConverters._

/** The one store writer's encodings, read back from the parquet
  * footers of both stores (the term-struct quads and the dict store in
  * both layouts): zstd v2 pages, DELTA_BINARY_PACKED integer leaves,
  * and string leaves dictionary-encoded or DELTA_BYTE_ARRAY — the
  * dictionary's unique `lex` always the latter. A store written with
  * the former v1 pages still loads, appends (leaving a directory that
  * mixes the two page kinds) and compacts, answering like a fresh
  * encode of the union at every step. */
class StoreEncodingSpec extends AnyFlatSpec with Matchers {
  private val spark = TestSpark.spark

  private def q(s: String, p: String, o: Term, g: Option[String] = None) =
    Quad(Iri(s"urn:$s"), Iri(s"urn:p:$p"), o, g.map(x => Iri(s"urn:g:$x")))
  private def lit_(lex: String, dt: String) = Lit(lex, dt, "")

  private val batch1 = (1 to 40).flatMap { i =>
    Seq(q(f"c$i%03d", "bal", lit_(s"${i * 10}.5", XSD.decimal)),
      q(f"c$i%03d", "name", Lit(s"customer $i", XSD.string, if (i % 3 == 0) "en" else "")),
      q(f"c$i%03d", "nation", Iri(s"urn:n${i % 5}"), Some("a")))
  }
  private val batch2 = (31 to 60).flatMap { i =>
    Seq(q(f"c$i%03d", "bal", lit_(s"${i * 7}", XSD.integer)),
      q(f"c$i%03d", "seen", lit_(f"2024-${i % 12 + 1}%02d-01T00:00:00", XSD.dateTime)),
      q(f"c$i%03d", "score", lit_(s"${i / 4.0}", XSD.double)))
  }

  private def df(quads: Seq[Quad]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(quads.map(_.toRow), 2),
    graft.rdf.TermSchema.quadType)

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val pfx = "PREFIX : <urn:p:>\n"
  private val queries = Seq(
    "SELECT ?s ?b { ?s :bal ?b }",
    "SELECT ?s ?n ?c { ?s :name ?n . ?s :nation ?c }",
    "SELECT ?s ?b { ?s :bal ?b FILTER(?b > 250) }",
    "SELECT ?b { ?s :bal ?b } ORDER BY DESC(?b) LIMIT 5",
    "SELECT ?c (COUNT(*) AS ?n) { GRAPH ?g { ?s :nation ?c } } GROUP BY ?c",
    """SELECT ?s { ?s :seen ?t FILTER(?t >= "2024-06-01T00:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>) }""",
    "SELECT ?s ?x { ?s :bal ?b OPTIONAL { ?s :score ?x } }")

  private def bindings(d: DataFrame): Map[Seq[Option[Term]], Int] =
    d.collect().toSeq.map { r =>
      r.schema.indices.map(i =>
        if (r.isNullAt(i)) None
        else graft.rdf.TermSchema.fromRow(r.getStruct(i)))
    }.groupBy(identity).view.mapValues(_.size).toMap

  /** One leaf column chunk's footer facts, unioned over row groups. */
  private case class Leaf(data: Set[Encoding], v2Pages: Boolean,
                          codecs: Set[CompressionCodecName], kind: PrimitiveTypeName)

  /** Per parquet data file under `dir`: every leaf column's footer. */
  private def footers(dir: String): Seq[Map[String, Leaf]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    val it = root.getFileSystem(conf).listFiles(root, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).toList
    files should not be empty
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .groupBy(_.getPath.toDotString).view
        .mapValues(cs => Leaf(
          cs.flatMap(_.getEncodingStats.getDataEncodings.asScala).toSet,
          cs.forall(_.getEncodingStats.usesV2Pages),
          cs.map(_.getCodec).toSet,
          cs.head.getPrimitiveType.getPrimitiveTypeName)).toMap
      finally r.close()
    }
  }

  /** Every file under `dir` is written by the store writer: zstd v2
    * pages everywhere, integer leaves DELTA_BINARY_PACKED, binary leaves
    * dictionary-encoded or DELTA_BYTE_ARRAY (never v1's PLAIN
    * fallback), and each leaf named in `expect` carries its encoding. */
  private def assertStoreWriter(dir: String, expect: Map[String, Encoding]): Unit =
    footers(dir).foreach { leaves =>
      expect.foreach { case (leaf, enc) =>
        withClue(s"$dir $leaf: ") { leaves(leaf).data should contain(enc) }
      }
      leaves.foreach { case (leaf, l) =>
        withClue(s"$dir $leaf: ") {
          l.v2Pages shouldBe true
          l.codecs shouldBe Set(CompressionCodecName.ZSTD)
          l.kind match {
            case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 =>
              l.data shouldBe Set(Encoding.DELTA_BINARY_PACKED)
            case PrimitiveTypeName.BINARY =>
              l.data.subsetOf(Set(Encoding.RLE_DICTIONARY, Encoding.DELTA_BYTE_ARRAY)) shouldBe true
            case _ =>
          }
        }
      }
    }

  private val idLeaves = Seq("s", "p", "o", "g")
    .map(_ -> Encoding.DELTA_BINARY_PACKED).toMap
  // `lex` is unique in the dictionary, so its dictionary never pays
  private val dictLeaves = Map("id" -> Encoding.DELTA_BINARY_PACKED,
    "term.lex" -> Encoding.DELTA_BYTE_ARRAY)

  /** Copy the store at `src` to `dst`, rewriting every table file with
    * the former writer's options (zstd over v1 pages, dictionary pages on
    * every leaf) under its own file name, so bucket ids and per-file sort
    * order survive; every other file is copied as is. */
  private def v1Copy(src: String, dst: String): Unit = {
    val tables = Set("dict", "quads", "dict_by_lex")
    val files = Files.walk(JPath.of(src)).iterator().asScala.filter(Files.isRegularFile(_)).toList
    files.foreach { f =>
      val rel = JPath.of(src).relativize(f)
      val out = JPath.of(dst).resolve(rel)
      Files.createDirectories(out.getParent)
      val name = f.getFileName.toString
      if (name.endsWith(".parquet") && tables(rel.getName(0).toString)) {
        val staging = tmp("graft-v1-file")
        spark.read.parquet(f.toString).coalesce(1).write.mode(SaveMode.Overwrite)
          .option("compression", "zstd")
          .option("parquet.writer.version", "v1")
          .option("parquet.enable.dictionary", "true")
          .parquet(staging)
        val part = Files.list(JPath.of(staging)).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toList
        part should have size 1
        Files.copy(part.head, out)
      } else if (!name.startsWith(".")) Files.copy(f, out)
    }
  }

  behavior of "the store writer"

  it should "write the term-struct store with v2 pages and read it back unchanged" in {
    val dir = tmp("graft-enc-terms")
    val quads = df(batch1 ++ batch2)
    QuadsIO.writeParquet(quads, dir)
    // a handful of predicates: their dictionary pays, and scans read it
    assertStoreWriter(dir, Map("p.lex" -> Encoding.RLE_DICTIONARY,
      "s.kind" -> Encoding.DELTA_BINARY_PACKED))
    val back = QuadsIO.readParquet(spark, dir)
    back.exceptAll(quads).count() shouldBe 0
    quads.exceptAll(back).count() shouldBe 0
    for (qy <- queries) withClue(qy) {
      bindings(back.sparql(pfx + qy)) shouldBe bindings(quads.sparql(pfx + qy))
    }
  }

  /** The one caller-side layout choice of the dict store. */
  private val layouts: Seq[(String, (DataFrame, String) => DictStore)] = Seq(
    "plain" -> ((d, dir) => DictStore.encode(d, dir)),
    "bucketed" -> ((d, dir) => DictStore.encodeBucketed(d, dir, buckets = 4)))

  private lazy val fresh = DictStore.encode(df(batch1 ++ batch2), tmp("graft-enc-union"))

  it should "write every dict-store table of both layouts with delta-encoded id and lex leaves" in {
    for ((layout, encode) <- layouts) withClue(s"$layout: ") {
      val dir = tmp(s"graft-enc-$layout")
      encode(df(batch1), dir)
      assertStoreWriter(s"$dir/quads", idLeaves)
      assertStoreWriter(s"$dir/dict", dictLeaves)
      if (layout == "bucketed") assertStoreWriter(s"$dir/dict_by_lex", dictLeaves)
      DictStore.append(df(batch2), dir)
      DictStore.compact(spark, dir)
      assertStoreWriter(s"$dir/quads", idLeaves)
      assertStoreWriter(s"$dir/dict", dictLeaves)
    }
  }

  it should "load, append and compact a store written with v1 dictionary pages" in {
    for ((layout, encode) <- layouts) withClue(s"$layout: ") {
      val v2 = tmp(s"graft-enc-src-$layout")
      encode(df(batch1), v2)
      val dir = s"${tmp(s"graft-enc-v1-$layout")}/store"
      v1Copy(v2, dir)
      // the fixture really is the old format: v1 pages throughout
      val tables = Seq("quads", "dict") ++
        (if (layout == "bucketed") Seq("dict_by_lex") else Nil)
      def v1(file: Map[String, Leaf]) = file.values.forall(!_.v2Pages)
      for (sub <- tables) withClue(s"$sub: ") {
        footers(s"$dir/$sub").map(v1) should contain only true
      }

      val loaded = DictStore.load(spark, dir)
      val batch1Only = DictStore.load(spark, v2)
      for (qy <- queries) withClue(s"v1 load: $qy\n") {
        bindings(loaded.sparql(pfx + qy)) shouldBe bindings(batch1Only.sparql(pfx + qy))
      }

      val appended = DictStore.append(df(batch2), dir)
      // mixed directories: the v1 files next to the appended ones, which
      // come from the store writer (also through a re-attached bucketed
      // table, whose appends take the table's options)
      for (sub <- tables) withClue(s"$sub: ") {
        val (old, added) = footers(s"$dir/$sub").partition(v1)
        old should not be empty
        added should not be empty
        added.flatMap(_.values).foreach { l =>
          l.v2Pages shouldBe true
          l.codecs shouldBe Set(CompressionCodecName.ZSTD)
        }
      }
      for (qy <- queries) withClue(s"mixed append: $qy\n") {
        bindings(appended.sparql(pfx + qy)) shouldBe bindings(fresh.sparql(pfx + qy))
      }

      DictStore.compact(spark, dir)
      assertStoreWriter(s"$dir/quads", idLeaves)
      assertStoreWriter(s"$dir/dict", dictLeaves)
      if (layout == "bucketed") assertStoreWriter(s"$dir/dict_by_lex", dictLeaves)
      val compacted = DictStore.load(spark, dir)
      for (qy <- queries) withClue(s"compact: $qy\n") {
        bindings(compacted.sparql(pfx + qy)) shouldBe bindings(fresh.sparql(pfx + qy))
      }
    }
  }
}
