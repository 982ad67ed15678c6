package graft

import graft.sources.TpchQuads
import graft.sparql.Sparql._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — the CORRECTNESS battery (SURVEY.md §2 coverage).
  *
  * Each entry demonstrates one SPARQL operator end-to-end: TPC-H
  * parquet → quad projection ([[TpchQuads]]) → SPARQL text → parser →
  * algebra → DataFrame plan → plain-typed output columns, checked
  * against DuckDB SQL over the same parquet in `oracleSql` (column
  * names and types aligned on both sides; entries without oracle SQL
  * get the driver's rows-only check — used only where results are
  * legitimately nondeterministic, e.g. SAMPLE and unordered LIMIT).
  */
object SparkEntry {

  private val prologue = "PREFIX : <urn:p:>\n"

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    checkShape(df, s"$dir/$name.parquet", name)
    df
  }

  // ----- schema-drift canary -----
  // Round-8 lesson: the driver regenerated testdata mid-day and six
  // entries died with analyzer stack traces. The battery asserts its
  // expectations about driver-owned tables AT READ TIME, by LOGICAL
  // shape — column names + type FAMILIES, never physical encodings —
  // and tolerates extra columns (the driver ADDED events.props the
  // same day). Drift fails with one line naming the table and column.
  private object Shape {
    import org.apache.spark.sql.types._
    val integral: DataType => Boolean = {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val fractional: DataType => Boolean = {
      case FloatType | DoubleType | _: DecimalType => true
      case _ => false
    }
    val text: DataType => Boolean = _ == StringType
    // every shape a calendar column has shipped with (currently
    // timestamp[us]; to_date / string comparison handle all of these)
    val dateish: DataType => Boolean = {
      case StringType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val floatVec: DataType => Boolean = {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
  }
  private val expectedShapes: Map[String, Seq[(String, org.apache.spark.sql.types.DataType => Boolean)]] = {
    import Shape._
    Map(
      "region" -> Seq("r_regionkey" -> integral, "r_name" -> text),
      "nation" -> Seq("n_nationkey" -> integral, "n_name" -> text,
        "n_regionkey" -> integral),
      "customer" -> Seq("c_custkey" -> integral, "c_name" -> text,
        "c_acctbal" -> fractional, "c_mktsegment" -> text,
        "c_nationkey" -> integral),
      "supplier" -> Seq("s_suppkey" -> integral, "s_name" -> text,
        "s_acctbal" -> fractional, "s_nationkey" -> integral),
      "part" -> Seq("p_partkey" -> integral, "p_brand" -> text,
        "p_retailprice" -> fractional, "p_size" -> integral),
      "orders" -> Seq("o_orderkey" -> integral, "o_custkey" -> integral,
        "o_totalprice" -> fractional, "o_orderdate" -> dateish),
      "lineitem" -> Seq("l_orderkey" -> integral, "l_partkey" -> integral,
        "l_suppkey" -> integral, "l_linenumber" -> integral,
        "l_quantity" -> fractional, "l_shipdate" -> dateish,
        "l_returnflag" -> text),
      // events.ts is handled separately ([[eventsUs]] normalizes it
      // by logical type and is itself the ts canary)
      "events" -> Seq("event_id" -> integral, "user_id" -> integral,
        "event_type" -> text, "value" -> fractional, "props" -> text),
      "documents" -> Seq("doc_id" -> integral, "text" -> text,
        "lang" -> text, "source" -> text, "n_chars" -> integral),
      "embeddings" -> Seq("vec_id" -> integral, "embedding" -> floatVec,
        "label" -> integral))
  }
  private[graft] def checkShape(df: DataFrame, loc: String,
                                table: String): Unit =
    expectedShapes.get(table).foreach(_.foreach { case (c, ok) =>
      require(df.columns.contains(c),
        s"schema drift: $loc lost column `$c` " +
          s"(have: ${df.columns.mkString(", ")})")
      require(ok(df.schema(c).dataType),
        s"schema drift: $loc column `$c` has logical type " +
          s"${df.schema(c).dataType.simpleString}, outside the family " +
          "the battery expects")
    })

  /** Canonical events read: `ts` normalized to exact long
    * MICROseconds since epoch, branching on the LOGICAL type the
    * reader reports instead of assuming a physical parquet encoding.
    * (The driver regenerated the table between rounds 7 and 8,
    * switching TIMESTAMP(NANOS) → TIMESTAMP_NTZ(µs); six entries that
    * hard-coded the nanos-as-long read died at analysis time. An
    * engine reading customer-owned parquet must normalize by logical
    * type at the boundary — encodings are the writer's business.)
    * The DuckDB oracles use `epoch_us(ts)`, which is encoding-proof
    * on their side already. */
  private[graft] def eventsUs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    // lets a TIMESTAMP(NANOS) file (which the vectorized reader
    // otherwise rejects) load as long; no-op for µs encodings
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = t(s, d, "events")
    require(ev.columns.contains("ts"),
      s"schema drift: $d/events.parquet lost column `ts` " +
        s"(have: ${ev.columns.mkString(", ")})")
    ev.schema("ts").dataType match {
      case LongType =>
        // `div`, NOT `/`: / casts integral operands to double and
        // ~1.8e18 ns exceeds double's 53-bit exact range — ~12% of
        // rows would land 1 µs off, flipping bucket boundaries
        ev.withColumn("ts", expr("ts div 1000"))
      case TimestampType | TimestampNTZType =>
        // session TZ is pinned UTC in every main, so the NTZ→TZ cast
        // is micros-identity and matches DuckDB's epoch_us(ts)
        ev.withColumn("ts", unix_micros(col("ts").cast(TimestampType)))
      case other => throw new IllegalStateException(
        s"schema drift: $d/events.parquet column `ts` has logical type " +
          s"$other; expected a timestamp (µs) or TIMESTAMP(NANOS)-as-long")
    }
  }

  /** Flatten term-struct vars to plainly-typed output columns. */
  private def out(df: DataFrame, cols: (String, String)*): DataFrame =
    df.select(cols.map { case (n, ty) =>
      col(n).getField("lex").cast(ty).as(n)
    }: _*)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_bgp_join")(spark, "/root/testdata/sf0.001")

  // quad-set builders (composed per query so scans stay minimal)
  private def cust(s: SparkSession, d: String) = TpchQuads.customer(s, d)
  private def custOrders(s: SparkSession, d: String) =
    TpchQuads.customer(s, d).union(TpchQuads.orders(s, d))
  private def custSupp(s: SparkSession, d: String) =
    TpchQuads.customer(s, d).union(TpchQuads.supplier(s, d))
  private def nationRegion(s: SparkSession, d: String) =
    TpchQuads.nation(s, d).union(TpchQuads.region(s, d))

  /** Cache directory under tmpdir for build-once artifacts (dict
    * store, ANN/IVF indexes): keyed by the FULL sanitized data path —
    * a 32-bit hashCode alone could collide two datasets — plus a
    * format-version tag so a layout change in a later build never
    * silently reuses an old store. */
  // v7: scale-adaptive store file sizing (round-20) — dict stores
  // rebuild with target-sized files instead of 32 tiny ones
  private val CacheVersion = "v7"
  private[graft] def tmpPath(prefix: String, d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${prefix}_" +
      d.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + CacheVersion

  /** Build-once fixture guard: run `build` against `dir` only when
    * its `_DONE` marker is absent (the reader/media entries' shared
    * skeleton — the marker is written LAST, so a crashed build
    * re-runs instead of half-reading). Returns the directory. */
  private def buildOnce(prefix: String, d: String)
                       (build: java.io.File => Unit): java.io.File = {
    val dir = new java.io.File(tmpPath(prefix, d))
    if (!new java.io.File(dir, "_DONE").exists()) {
      dir.mkdirs()
      build(dir)
      new java.io.File(dir, "_DONE").createNewFile()
    }
    dir
  }

  /** Shared media-fixture writer for the perceptual near-dup
    * entries: one synthetic payload per doc_id < 200 (bounded
    * driver-side generation), persisted as parquet so the scan
    * carries REAL size stats — signing straight off a driver list
    * leaves every downstream estimate at the unknown-size default. */
  private def mediaFixture(s: SparkSession, d: String, prefix: String)
                          (payload: Long => (String, Array[Byte], org.apache.spark.sql.Row))
      : DataFrame = {
    val dir = buildOnce(prefix, d) { dir =>
      val ids = t(s, d, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 200)
        .collect().map(_.getLong(0))
      val rows: java.util.List[org.apache.spark.sql.Row] =
        new java.util.ArrayList()
      ids.foreach { id =>
        val (kind, bytes, meta) = payload(id)
        rows.add(org.apache.spark.sql.Row(id, kind, bytes, meta))
      }
      // ONE file: ~200 small rows scattered over default-parallelism
      // files made every media scan pay 32 tasks of reader setup for
      // ~6 rows each (round-20; same lesson as the dict-store sizing)
      s.createDataFrame(rows, graft.pipeline.Multimodal.mediaSchema)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(new java.io.File(dir, "media").toString)
    }
    s.read.parquet(new java.io.File(dir, "media").toString)
  }

  /** Nation serialized as one Turtle document per region — the shared
    * payload of the whole-file reader fixtures (plain and
    * compressed). 25 rows, bounded driver-side. */
  private def nationTurtleByRegion(s: SparkSession, d: String): Map[String, String] =
    t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
      .collect()
      .groupBy(_.get(2).toString).map { case (rk, rs) =>
        val sb = new StringBuilder("@prefix p: <urn:p:> .\n")
        rs.foreach { r =>
          sb.append(s"""<urn:n:${r.get(0)}> p:nname "${r.getString(1)}" ;""")
          sb.append(s" p:region <urn:r:$rk> .\n")
        }
        rk -> sb.toString
      }

  /** Build-once-per-dataset dictionary-encoded store (tmp dir keyed by
    * the data dir, same reuse pattern as the ANN index entries). */
  private def dictStore(s: SparkSession, d: String): graft.io.DictStore = {
    val path = tmpPath("dict", d)
    if (new java.io.File(s"$path/quads/_SUCCESS").exists())
      graft.io.DictStore.load(s, path)
    else graft.io.DictStore.encode(cust(s, d).union(nationRegion(s, d)), path)
  }

  /** Dict store over the ORDERS quads (temporal-literal battery data —
    * orderdate is an xsd:dateTime object), cached like [[dictStore]]. */
  private def dictOrdersStore(s: SparkSession, d: String): graft.io.DictStore = {
    val path = tmpPath("dicto", d)
    if (new java.io.File(s"$path/quads/_SUCCESS").exists())
      graft.io.DictStore.load(s, path)
    else graft.io.DictStore.encode(TpchQuads.orders(s, d), path)
  }

  /** Dict store built INCREMENTALLY (q_dict_append): encoded from the
    * nation/region quads, then the customer quads appended — the
    * marker file keeps the append exactly-once across bench passes. */
  private def dictAppendStore(s: SparkSession, d: String): graft.io.DictStore = {
    val path = tmpPath("dicta", d)
    if (new java.io.File(s"$path/_APPENDED").exists())
      graft.io.DictStore.load(s, path)
    else {
      graft.io.DictStore.encode(nationRegion(s, d), path)
      val st = graft.io.DictStore.append(cust(s, d), path)
      new java.io.File(s"$path/_APPENDED").createNewFile()
      st
    }
  }

  /** BUCKETED dict store built incrementally (q_dict_append_bucketed):
    * encoded from the nation/region quads, customer quads appended,
    * then COMPACTED back to one sorted file per bucket — the full
    * maintenance lifecycle of the 100 TB layout in one fixture. */
  private def dictAppendBucketedStore(s: SparkSession, d: String): graft.io.DictStore = {
    val path = tmpPath("dictab", d)
    if (new java.io.File(s"$path/_APPENDED").exists())
      graft.io.DictStore.load(s, path)
    else {
      graft.io.DictStore.encodeBucketed(nationRegion(s, d), path, buckets = 8)
      graft.io.DictStore.append(cust(s, d), path)
      graft.io.DictStore.compact(s, path)
      new java.io.File(s"$path/_APPENDED").createNewFile()
      graft.io.DictStore.load(s, path)
    }
  }

  /** Dict store over the generalized-RDF orders projection whose
    * SUBJECTS are bare integer literals (q_dict_subject_filter —
    * exercises the v6 subject-position sidecar), cached like
    * [[dictStore]]. */
  private def dictSubjStore(s: SparkSession, d: String): graft.io.DictStore = {
    val path = tmpPath("dicts", d)
    if (new java.io.File(s"$path/quads/_SUCCESS").exists())
      graft.io.DictStore.load(s, path)
    else graft.io.DictStore.encode(TpchQuads.ordersKeyedBySubject(s, d), path)
  }

  /** Dict store over the partOf chain (transitive-path battery data),
    * cached like [[dictStore]]. */
  private def dictPathStore(s: SparkSession, d: String): graft.io.DictStore = {
    val path = tmpPath("dictpath", d)
    if (new java.io.File(s"$path/quads/_SUCCESS").exists())
      graft.io.DictStore.load(s, path)
    else graft.io.DictStore.encode(TpchQuads.partOfChain(s, d), path)
  }

  /** BUCKETED dict store over the same quads as [[dictStore]] — dict
    * bucketed on id (materialization joins never shuffle the
    * dictionary side), quads bucketed on s (star-BGP subject joins
    * plan with zero exchanges). Cached on disk; re-attach recreates
    * the catalog entries in a fresh session. */
  private def dictBucketedStore(s: SparkSession, d: String): graft.io.DictStore = {
    val path = tmpPath("dictbkt", d)
    if (new java.io.File(s"$path/bucketed.json").exists())
      graft.io.DictStore.load(s, path)
    else graft.io.DictStore.encodeBucketed(
      cust(s, d).union(nationRegion(s, d)), path)
  }

  /** Benchmark passages for the decontamination entries: a 12-token
    * slice of every (doc_id % 97 == 0) document — shared by BOTH
    * battery entries so they cannot drift from the decontamOracle CTE
    * that replays the same construction. */
  private def benchPassages(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id").as("bench_id"),
        graft.pipeline.Dedup.tokens(col("text")).as("ts"))
      .filter(col("bench_id") % 97 === 0 && size(col("ts")) >= 14)
      .select(col("bench_id"),
        concat_ws(" ", slice(col("ts"), 3, 12)).as("btext"))

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- §2.1 scan / sources -----
    "q_scan" -> { (s, d) =>
      out(TpchQuads.nation(s, d).sparql(prologue +
        "SELECT ?n ?nname { ?n :nname ?nname }"),
        "n" -> "string", "nname" -> "string")
    },
    "q_singleton" -> { (s, d) =>
      out(TpchQuads.region(s, d).sparql("SELECT ?x { BIND(1 AS ?x) }"),
        "x" -> "bigint")
    },
    "q_read_ttl_dir" -> { (s, d) =>
      // Distributed whole-file ingest (QuadsIO.readFiles): nation
      // serialized once as one Turtle file per region (5 files, cached
      // in tmp like the other build-once artifacts), read back
      // one-file-per-task and flattened to lexicals for the oracle.
      val dir = buildOnce("ttldir", d) { dir =>
        nationTurtleByRegion(s, d).foreach { case (rk, ttl) =>
          java.nio.file.Files.writeString(
            new java.io.File(dir, s"region_$rk.ttl").toPath, ttl)
        }
      }
      val quads = graft.io.QuadsIO.readFiles(s, dir.toString)
      quads.select(col("s").getField("lex").as("s"),
        col("p").getField("lex").as("p"), col("o").getField("lex").as("o"))
    },
    "q_read_trix" -> { (s, d) =>
      // Distributed TriX ingest: nation serialized once as one TriX
      // file per region — nname quads in a per-region NAMED graph,
      // region quads in the default graph — read back one-file-per-task
      // and flattened to lexicals (TPC-H nation names are [A-Z ]+, so
      // no XML escaping is needed when serializing the fixture).
      val dir = buildOnce("trixdir", d) { dir =>
        t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
          .collect() // 25 rows — bounded driver-side serialization
          .groupBy(_.get(2).toString).foreach { case (rk, rs) =>
            val sb = new StringBuilder(
              "<TriX xmlns=\"http://www.w3.org/2004/03/trix/trix-1/\">\n")
            sb.append(s"<graph><uri>urn:g:r$rk</uri>\n")
            rs.foreach(r => sb.append(s"<triple><uri>urn:n:${r.get(0)}</uri>" +
              s"<uri>urn:p:nname</uri>" +
              s"<plainLiteral>${r.getString(1)}</plainLiteral></triple>\n"))
            sb.append("</graph>\n<graph>\n")
            rs.foreach(r => sb.append(s"<triple><uri>urn:n:${r.get(0)}</uri>" +
              s"<uri>urn:p:region</uri><uri>urn:r:$rk</uri></triple>\n"))
            sb.append("</graph>\n</TriX>\n")
            java.nio.file.Files.writeString(
              new java.io.File(dir, s"region_$rk.trix").toPath, sb.toString)
          }
      }
      val quads = graft.io.QuadsIO.readFiles(s, dir.toString)
      quads.select(col("s").getField("lex").as("s"),
        col("p").getField("lex").as("p"), col("o").getField("lex").as("o"),
        coalesce(col("g").getField("lex"), lit("")).as("g"))
    },
    "q_read_rj" -> { (s, d) =>
      // Distributed RDF/JSON ingest: nation serialized as one .rj file
      // per region (subject → predicate → value-object arrays; the
      // format is triples-only), read back one-file-per-task. TPC-H
      // nation names are [A-Z ]+ — no JSON escaping needed.
      val dir = buildOnce("rjdir", d) { dir =>
        t(s, d, "nation").select("n_nationkey", "n_name", "n_regionkey")
          .collect() // 25 rows — bounded driver-side serialization
          .groupBy(_.get(2).toString).foreach { case (rk, rs) =>
            val subjects = rs.map { r =>
              s"""  "urn:n:${r.get(0)}": {
                 |    "urn:p:nname": [{"value": "${r.getString(1)}", "type": "literal"}],
                 |    "urn:p:region": [{"value": "urn:r:$rk", "type": "uri"}]
                 |  }""".stripMargin
            }
            java.nio.file.Files.writeString(
              new java.io.File(dir, s"region_$rk.rj").toPath,
              subjects.mkString("{\n", ",\n", "\n}\n"))
          }
      }
      graft.io.QuadsIO.readFiles(s, dir.toString)
        .select(col("s").getField("lex").as("s"),
          col("p").getField("lex").as("p"), col("o").getField("lex").as("o"))
    },
    "q_read_compressed" -> { (s, d) =>
      // Compressed whole-file ingest breadth (reference parity with
      // Beam's Compression.AUTO): the q_read_ttl_dir fixture again,
      // but each region's Turtle file under a DIFFERENT codec —
      // gz/bz2/zst/deflate/xz in one mixed directory, decoded
      // per-file on executors, one hash-checked result
      val dir = buildOnce("ttlcompdir", d) { dir =>
        val codecs = Array("gz", "bz2", "zst", "deflate", "xz")
        nationTurtleByRegion(s, d).foreach { case (rk, ttl) =>
          val ext = codecs(rk.toInt % codecs.length)
          import org.apache.commons.compress.compressors
          val f = new java.io.FileOutputStream(
            new java.io.File(dir, s"region_$rk.ttl.$ext"))
          val out = ext match {
            case "gz" => new compressors.gzip.GzipCompressorOutputStream(f)
            case "bz2" => new compressors.bzip2.BZip2CompressorOutputStream(f)
            case "zst" => new compressors.zstandard.ZstdCompressorOutputStream(f)
            case "deflate" => new compressors.deflate.DeflateCompressorOutputStream(f)
            case "xz" => new compressors.xz.XZCompressorOutputStream(f)
          }
          out.write(ttl.getBytes("UTF-8")); out.close()
        }
      }
      graft.io.QuadsIO.readFiles(s, dir.toString)
        .select(col("s").getField("lex").as("s"),
          col("p").getField("lex").as("p"), col("o").getField("lex").as("o"))
    },
    "q_read_jsonl" -> { (s, d) =>
      // RAW document-corpus ingest (round-14): the documents table
      // round-trips through a MULTI-FILE jsonl.gz corpus (written by
      // the Spark json sink — 6 gzip shards), reads back distributed
      // (the text reader decodes one gzip file per task), and feeds
      // the FULL cleaning chain — the crawl-to-clean first hop a
      // 100 TB training pipeline starts with. Strict mode: a
      // malformed shard fails the load naming the file. Oracle =
      // q_clean_e2e's replay (same chain, same constants).
      val corrupt = new String(
        " café’s naïve".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        "windows-1252")
      val dir = buildOnce("jsonl", d) { dir =>
        t(s, d, "documents").select(col("doc_id"),
          concat(lit("<p>"), col("text"),
            lit("</p><script>track();</script>"), lit(corrupt),
            lit(" mail a@b.co from 10.0.0.1")).as("text"))
          .repartition(6)
          .write.mode("overwrite").option("compression", "gzip")
          .json(new java.io.File(dir, "docs").toString)
      }
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val docs = graft.io.DocsIO.readJsonl(s,
        new java.io.File(dir, "docs").toString,
        StructType(Seq(StructField("doc_id", LongType),
          StructField("text", StringType))))
      docs.select(col("doc_id"),
        graft.pipeline.Scrub.scrubPii(
          graft.pipeline.Scrub.cleanText(
            graft.pipeline.Scrub.fixMojibake(
              graft.pipeline.Scrub.stripHtml(col("text"))))).as("cleaned"))
    },
    "q_read_warc" -> { (s, d) =>
      // WARC ingest (round-14): documents < 400 serialized as HTTP
      // response records across four WARC files — two plain, two in
      // the Common Crawl per-record-gzip-member layout — read back
      // one file per task, HTTP headers stripped by http_payload,
      // HTML stripped and cleaned; the oracle replays the wrapper
      // and the regex chain like q_strip_html's does
      val dir = buildOnce("warc", d) { dir =>
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") < 400)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        def record(id: Long, text: String): Array[Byte] = {
          val html = s"<html><body><p>$text</p>" +
            "<!-- c --><script>x()</script></body></html>"
          val body = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            html).getBytes("UTF-8")
          (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
            s"WARC-Target-URI: http://ex.com/doc/$id\r\n" +
            "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
            "Content-Type: application/http; msgtype=response\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++
            body ++ "\r\n\r\n".getBytes("UTF-8")
        }
        def gzMember(b: Array[Byte]): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bos)
          g.write(b); g.close(); bos.toByteArray
        }
        for (shard <- 0 until 4) {
          val recs = docs.filter(_._1 % 4 == shard)
          val plain = shard < 2
          val f = new java.io.FileOutputStream(new java.io.File(dir,
            if (plain) s"shard-$shard.warc" else s"shard-$shard.warc.gz"))
          try recs.foreach { case (id, text) =>
            val r = record(id, text)
            f.write(if (plain) r else gzMember(r))
          } finally f.close()
        }
      }
      graft.io.DocsIO.readWarc(s, s"$dir/*.warc*")
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          graft.pipeline.Scrub.cleanText(
            graft.pipeline.Scrub.stripHtml(
              graft.io.DocsIO.httpPayload(col("body")).cast("string")))
            .as("stripped"))
    },
    "q_warc_e2e" -> { (s, d) =>
      // Crawl-to-corpus as ONE lineage (round-15): WARC bytes →
      // http_payload → HTML strip → clean → n-gram langid (und
      // gate) → exact content dedup → per-language corpus report,
      // every stage replayed by the oracle from the same committed
      // constants. The crawl mixes all the seed languages plus
      // out-of-set-script pages (every 17th → und), and every page
      // with doc_id % 7 == 3 is ALSO fetched at a mirror URL with
      // identical content — the dedup stage must collapse the
      // mirror onto the lowest page id before the report counts.
      import graft.functions.LangIdExprs
      val n = LangIdExprs.languages.length
      val nOut = LangIdExprs.outOfSetProbes.length
      val dir = buildOnce(s"warc_e2e_${LangIdExprs.seedsFingerprint}", d) { dir =>
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") < 300)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        def content(id: Long, text: String): String =
          if (id % 17 == 0)
            LangIdExprs.outOfSetProbes(((id / 17) % nOut).toInt)._2
          else
            LangIdExprs.seedText((id % n).toInt, ((id / n) % 2).toInt) +
              " " + text
        def record(pageId: Long, html: String): Array[Byte] = {
          val body = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            html).getBytes("UTF-8")
          (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Record-ID: <urn:uuid:$pageId>\r\n" +
            s"WARC-Target-URI: http://ex.com/page/$pageId\r\n" +
            "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
            "Content-Type: application/http; msgtype=response\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++
            body ++ "\r\n\r\n".getBytes("UTF-8")
        }
        def gzMember(b: Array[Byte]): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bos)
          g.write(b); g.close(); bos.toByteArray
        }
        for (shard <- 0 until 4) {
          val recs = docs.filter(_._1 % 4 == shard)
          val plain = shard < 2
          val f = new java.io.FileOutputStream(new java.io.File(dir,
            if (plain) s"crawl-$shard.warc" else s"crawl-$shard.warc.gz"))
          try recs.foreach { case (id, text) =>
            val html = s"<html><body><p>${content(id, text)}</p>" +
              "<!-- c --><script>x()</script></body></html>"
            val r1 = record(id, html)
            f.write(if (plain) r1 else gzMember(r1))
            if (id % 7 == 3) {
              val r2 = record(id + 10000, html)
              f.write(if (plain) r2 else gzMember(r2))
            }
          } finally f.close()
        }
      }
      val pages = graft.io.DocsIO.readWarc(s, s"$dir/*.warc*")
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/page/(\\d+)$", 1)
            .cast("long").as("page_id"),
          graft.pipeline.Scrub.cleanText(
            graft.pipeline.Scrub.stripHtml(
              graft.io.DocsIO.httpPayload(col("body")).cast("string")))
            .as("cleaned"))
      val tagged = pages.select(col("page_id"),
        graft.pipeline.TextAnalysis.langIdCt(
          substring(col("cleaned"), 1, 150)).as("lang_pred"),
        graft.pipeline.TextAnalysis.fingerprint(col("cleaned")).as("fp"),
        graft.pipeline.TextAnalysis.tokenCount(col("cleaned")).as("ntok"))
      val kept = graft.pipeline.Dedup.exact(tagged, "fp", "page_id")
      kept.groupBy(col("lang_pred")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("total_tokens"),
        min(col("page_id")).as("first_page"))
    },
    "q_warc_e2e_scored" -> { (s, d) =>
      // The flagship lineage with QUARANTINE routing (round-16): same
      // crawl-to-corpus chain as q_warc_e2e, but langid runs in its
      // SCORED form and the report routes on the gate's raw margin
      // instead of trusting the label — low-margin pages (margin·1000
      // < QuarMarginPerMille·k·ProfileSize, yet not und) land in a
      // 'quarantine' stratum, the treatment the und gate's documented
      // Latin-script long tail needs. The crawl plants the evidence:
      // every 13th page is a deliberate 50/50 Spanish/Portuguese
      // mixture (two close Latin languages — exactly the confusable
      // case), which must route to quarantine, not to either label.
      // Mirror fetches (%7==3) still collapse in the dedup stage.
      import graft.functions.LangIdExprs
      val n = LangIdExprs.languages.length
      val nOut = LangIdExprs.outOfSetProbes.length
      val esIdx = LangIdExprs.languages.indexOf("es")
      val ptIdx = LangIdExprs.languages.indexOf("pt")
      val dir = buildOnce(
        s"warc_e2e_scored_${LangIdExprs.seedsFingerprint}", d) { dir =>
        val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") < 300)
          .collect().map(r => (r.getLong(0), r.getString(1)))
        // CASE order matters and the oracle mirrors it: und probe
        // first (%17), then the planted mixture (%13==5), then the
        // single-language page
        def content(id: Long, text: String): String =
          if (id % 17 == 0)
            LangIdExprs.outOfSetProbes(((id / 17) % nOut).toInt)._2
          else if (id % 13 == 5)
            LangIdExprs.seedText(esIdx, 0).substring(0, 70) + " " +
              LangIdExprs.seedText(ptIdx, 0).substring(0, 70) + " " + text
          else
            LangIdExprs.seedText((id % n).toInt, ((id / n) % 2).toInt) +
              " " + text
        def record(pageId: Long, html: String): Array[Byte] = {
          val body = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            html).getBytes("UTF-8")
          (s"WARC/1.0\r\nWARC-Type: response\r\n" +
            s"WARC-Record-ID: <urn:uuid:$pageId>\r\n" +
            s"WARC-Target-URI: http://ex.com/page/$pageId\r\n" +
            "WARC-Date: 2024-01-01T00:00:00Z\r\n" +
            "Content-Type: application/http; msgtype=response\r\n" +
            s"Content-Length: ${body.length}\r\n\r\n").getBytes("UTF-8") ++
            body ++ "\r\n\r\n".getBytes("UTF-8")
        }
        def gzMember(b: Array[Byte]): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bos)
          g.write(b); g.close(); bos.toByteArray
        }
        for (shard <- 0 until 4) {
          val recs = docs.filter(_._1 % 4 == shard)
          val plain = shard < 2
          val f = new java.io.FileOutputStream(new java.io.File(dir,
            if (plain) s"crawl-$shard.warc" else s"crawl-$shard.warc.gz"))
          try recs.foreach { case (id, text) =>
            val html = s"<html><body><p>${content(id, text)}</p>" +
              "<!-- c --><script>x()</script></body></html>"
            val r1 = record(id, html)
            f.write(if (plain) r1 else gzMember(r1))
            if (id % 7 == 3) {
              val r2 = record(id + 10000, html)
              f.write(if (plain) r2 else gzMember(r2))
            }
          } finally f.close()
        }
      }
      val pages = graft.io.DocsIO.readWarc(s, s"$dir/*.warc*")
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/page/(\\d+)$", 1)
            .cast("long").as("page_id"),
          graft.pipeline.Scrub.cleanText(
            graft.pipeline.Scrub.stripHtml(
              graft.io.DocsIO.httpPayload(col("body")).cast("string")))
            .as("cleaned"))
      val tagged = pages.select(col("page_id"),
        graft.pipeline.TextAnalysis.langIdCtScored(
          substring(col("cleaned"), 1, 150)).as("sc"),
        graft.pipeline.TextAnalysis.fingerprint(col("cleaned")).as("fp"),
        graft.pipeline.TextAnalysis.tokenCount(col("cleaned")).as("ntok"))
      // the routing stage: trust the label only with margin; the
      // arithmetic is the gate's integer-exact form so the oracle
      // replays the exact stratum of every page
      val routed = tagged.select(col("page_id"), col("fp"), col("ntok"),
        when(col("sc.lang") === "und", lit("und"))
          .when((col("sc.second_dist") - col("sc.best_dist")) * 1000 <
            lit(LangIdExprs.QuarMarginPerMille) * col("sc.k") *
              lit(LangIdExprs.ProfileSize), lit("quarantine"))
          .otherwise(col("sc.lang")).as("stratum"))
      val kept = graft.pipeline.Dedup.exact(routed, "fp", "page_id")
      kept.groupBy(col("stratum")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("total_tokens"),
        min(col("page_id")).as("first_page"))
    },
    // ----- §2.3 joins -----
    "q_bgp_join" -> { (s, d) =>
      out(nationRegion(s, d).sparql(prologue +
        """SELECT ?nname ?rname
          |{ ?n :nname ?nname . ?n :inRegion ?r . ?r :rname ?rname }""".stripMargin),
        "nname" -> "string", "rname" -> "string")
    },
    "q_dict_build" -> { (s, d) =>
      // dictionary-encoded store (io/DictStore): one-time term→long
      // encode, then the BGP runs as long-id equi-joins with late
      // materialization — build cost + query, like q_ann_index
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?cname ?nname ?rname
          |{ ?c :cname ?cname . ?c :inNation ?n . ?n :nname ?nname .
          |  ?n :inRegion ?r . ?r :rname ?rname }""".stripMargin),
        "cname" -> "string", "nname" -> "string", "rname" -> "string")
    },
    "q_dict_append" -> { (s, d) =>
      // incremental ingest (round-13): the store was built from the
      // nation/region quads and the customer quads APPENDED (existing
      // ids frozen, unseen terms above the old ceiling, stats merged)
      // — same query and oracle as q_dict_build, so DuckDB certifies
      // the appended store answers exactly like a from-scratch encode
      // of the union
      out(dictAppendStore(s, d).sparql(prologue +
        """SELECT ?cname ?nname ?rname
          |{ ?c :cname ?cname . ?c :inNation ?n . ?n :nname ?nname .
          |  ?n :inRegion ?r . ?r :rname ?rname }""".stripMargin),
        "cname" -> "string", "nname" -> "string", "rname" -> "string")
    },
    "q_dict_append_bucketed" -> { (s, d) =>
      // the bucketed layout's full maintenance lifecycle (round-13):
      // encodeBucketed + append + compact, then the
      // q_dict_build join — subject-bucketed star joins still plan
      // shuffle-free after the incremental ingest and the rewrite,
      // and DuckDB certifies the answers
      out(dictAppendBucketedStore(s, d).sparql(prologue +
        """SELECT ?cname ?nname ?rname
          |{ ?c :cname ?cname . ?c :inNation ?n . ?n :nname ?nname .
          |  ?n :inRegion ?r . ?r :rname ?rname }""".stripMargin),
        "cname" -> "string", "nname" -> "string", "rname" -> "string")
    },
    "q_dict_probe" -> { (s, d) =>
      // steady-state cost of the persisted dict store: constant terms
      // resolve driver-side to ids, the scan filters push down as long
      // equality, and only the two projected vars are materialized
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?cname ?nname
          |{ ?c :cname ?cname . ?c :inNation ?n . ?n :nname ?nname .
          |  ?n :inRegion ?r . ?r :rname "ASIA" }""".stripMargin),
        "cname" -> "string", "nname" -> "string")
    },
    "q_dict_optional" -> { (s, d) =>
      // id-space OPTIONAL (round-9 dict extension): the left-outer
      // join runs on 8-byte ids and the dictionary joins back in
      // afterward — LEFT OUTER for ?cname, so nations without
      // MACHINERY customers keep their row with an unbound name
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?nname ?cname
          |{ ?n :nname ?nname . ?n :inRegion ?r . ?r :rname "ASIA" .
          |  OPTIONAL { ?c :inNation ?n . ?c :mktsegment "MACHINERY" .
          |             ?c :cname ?cname } }""".stripMargin),
        "nname" -> "string", "cname" -> "string")
    },
    "q_dict_count" -> { (s, d) =>
      // COUNT stays in id space end-to-end: the groupBy shuffle
      // carries long keys; only the nation-sized key column decodes
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?nname (COUNT(?c) AS ?n) (COUNT(DISTINCT ?seg) AS ?nseg)
          |{ ?n2 :nname ?nname . ?c :inNation ?n2 . ?c :mktsegment ?seg }
          |GROUP BY ?nname""".stripMargin),
        "nname" -> "string", "n" -> "bigint", "nseg" -> "bigint")
    },
    "q_dict_filter" -> { (s, d) =>
      // hybrid-decode value filter (round-9 continuation): the block
      // runs on long ids, ONLY ?bal's term joins back in for the
      // comparison (evaluated by the same ExprCompiler as the standard
      // path), and the term column drops again before materialization
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?cname ?bal
          |{ ?c :cname ?cname . ?c :acctbal ?bal . ?c :inNation ?n .
          |  ?n :nname ?nname FILTER(?bal > 5000 && ?nname != "NATION_7") }""".stripMargin),
        "cname" -> "string", "bal" -> "double")
    },
    "q_dict_typed_filter" -> { (s, d) =>
      // typed-sidecar value filter (round-13): BOTH numeric conjuncts
      // evaluate on the o_cls/o_dbl columns persisted at encode —
      // ZERO dict joins before the filter (the only dict joins in the
      // plan are the post-filter materialization of ?cname/?bal), and
      // the double comparisons push into the parquet scan as
      // row-group filters. DictTypedFilterSpec pins both plan facts.
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?cname ?bal
          |{ ?c :cname ?cname . ?c :acctbal ?bal
          |  FILTER(?bal > 3000 && ?bal <= 9500) }""".stripMargin),
        "cname" -> "string", "bal" -> "double")
    },
    "q_dict_subject_filter" -> { (s, d) =>
      // SUBJECT-position typed-sidecar filter (round-14): the quads
      // are generalized RDF with bare integer-literal subjects, and
      // the key-range conjuncts evaluate on the s_cls/s_dbl/s_num
      // columns persisted at encode — zero dict joins before the
      // filter, range predicates pushed into the parquet scan, same
      // as the object-position fast path. The ?t conjunct rides the
      // o-side sidecar of the SAME scan set, so one query exercises
      // both positions at once. DictSubjectFilterSpec pins the plan.
      out(dictSubjStore(s, d).sparql(prologue +
        """SELECT ?k ?pri
          |{ ?k :spriority ?pri . ?k :sprice ?t
          |  FILTER(?k > 3000 && ?k <= 4500 && ?t > 50000.0e0) }""".stripMargin),
        "k" -> "bigint", "pri" -> "string")
    },
    "q_dict_temporal_filter" -> { (s, d) =>
      // temporal typed-sidecar filter: the dateTime range evaluates on
      // the o_ts column persisted at encode (UTC sessions both sides)
      // — join-free and scan-pushed, the temporal face of
      // q_dict_typed_filter; the year-window count is the classic
      // warehouse shape this exists for
      out(dictOrdersStore(s, d).sparql(prologue +
        """SELECT ?pri (COUNT(*) AS ?n)
          |{ ?o :orderdate ?d . ?o :orderpriority ?pri
          |  FILTER(?d >= "1995-06-01T00:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime> &&
          |         ?d < "1996-06-01T00:00:00"^^<http://www.w3.org/2001/XMLSchema#dateTime>) }
          |GROUP BY ?pri""".stripMargin),
        "pri" -> "string", "n" -> "bigint")
    },
    "q_dict_optional_cond" -> { (s, d) =>
      // value-conditioned OPTIONAL in id space: the condition
      // evaluates on the MERGED row during the long left-outer join,
      // with only ?bal hybrid-decoded
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?nname ?cname
          |{ ?n :nname ?nname . ?n :inRegion ?r .
          |  OPTIONAL { ?c :inNation ?n . ?c :cname ?cname .
          |             ?c :acctbal ?bal . FILTER(?bal > 9000) } }""".stripMargin),
        "nname" -> "string", "cname" -> "string")
    },
    "q_dict_values" -> { (s, d) =>
      // VALUES probe list in id space: the constants resolve to ids
      // driver-side and the probe joins the block as a local long
      // relation (solution compatibility is term identity ≡ id
      // equality) — the common "join the corpus against a small list"
      // idiom without ever leaving id space
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?cname ?seg
          |{ ?c :cname ?cname . ?c :mktsegment ?seg .
          |  VALUES ?seg { "MACHINERY" "BUILDING" } }""".stripMargin),
        "cname" -> "string", "seg" -> "string")
    },
    "q_dict_bind" -> { (s, d) =>
      // BIND in id space: ?b hybrid-decodes, the arithmetic computes
      // as a term column on the id frame, and ?cname still
      // late-materializes (same query and oracle as q_bind_arith, so
      // DuckDB certifies the two execution paths agree)
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?cname ?dbl
          |{ ?c :cname ?cname . ?c :acctbal ?b . BIND(?b * 2 - 100 AS ?dbl) }""".stripMargin),
        "cname" -> "string", "dbl" -> "double")
    },
    "q_dict_sum_avg" -> { (s, d) =>
      // SUM/AVG in id space (round-9 continuation): the aggregated
      // var hybrid-decodes pre-agg, the accumulator is the SAME shared
      // code as the standard compiler (error poisoning, decimal/double
      // promotion), and the group keys stay 8-byte longs through the
      // shuffle with nation names decoding only post-agg
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?nname (SUM(?bal) AS ?total) (AVG(?bal) AS ?avgbal)
          |{ ?n2 :nname ?nname . ?c :inNation ?n2 . ?c :acctbal ?bal }
          |GROUP BY ?nname""".stripMargin),
        "nname" -> "string", "total" -> "double", "avgbal" -> "double")
    },
    "q_dict_minmax" -> { (s, d) =>
      // MIN/MAX in id space: per-group comparisons run over (sort key,
      // id) pairs joined in from the dictionary — the groupBy shuffle
      // still carries long keys, and only the group-sized winners
      // decode (round-9 continuation: value-order aggregates without
      // an input-sized term decode)
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?nname (MIN(?cname) AS ?lo) (MAX(?cname) AS ?hi)
          |       (COUNT(?c) AS ?n)
          |{ ?n2 :nname ?nname . ?c :inNation ?n2 . ?c :cname ?cname }
          |GROUP BY ?nname""".stripMargin),
        "nname" -> "string", "lo" -> "string", "hi" -> "string",
        "n" -> "bigint")
    },
    "q_dict_topk" -> { (s, d) =>
      // ORDER BY + LIMIT as id-space top-k: the TakeOrdered runs over
      // (skey, long) rows and the dictionary decodes exactly 10 rows —
      // same query and oracle as q_order_limit, so DuckDB certifies
      // the late-decoded top-k agrees with the term-struct path
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?cname ?bal
          |{ ?c :cname ?cname . ?c :acctbal ?bal }
          |ORDER BY DESC(?bal) ?cname LIMIT 10""".stripMargin),
        "cname" -> "string", "bal" -> "double")
    },
    "q_dict_threshold_topk" -> { (s, d) =>
      // sidecar threshold top-k (round-13): the FILTER pins ?bal
      // numeric, so the ORDER BY phase-1 cut runs entirely on the
      // persisted o_num/o_dbl columns — NO dictionary join anywhere
      // before the boundary; only the ~25 candidate rows join real
      // sort keys and decode. Projects the sort var alone so the
      // result is tie-insensitive for the DuckDB hash compare.
      // force the threshold path (the sf-scale dict would broadcast,
      // auto-selecting the plain top-k): this entry exists to oracle-
      // check the SCALE machinery, not the small-dict shortcut
      s.conf.set("spark.graft.topk.threshold", "always")
      try out(dictStore(s, d).sparql(prologue +
        """SELECT ?bal
          |{ ?c :acctbal ?bal FILTER(?bal > 3000) }
          |ORDER BY DESC(?bal) LIMIT 25""".stripMargin),
        "bal" -> "double")
      finally s.conf.unset("spark.graft.topk.threshold")
    },
    "q_dict_not_exists" -> { (s, d) =>
      // FILTER NOT EXISTS in id space: the anti join runs on 8-byte
      // ids (semi/anti joins are the other big-shuffle shape the
      // round-9 dict extension moves off term structs)
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?cname
          |{ ?c :cname ?cname .
          |  FILTER NOT EXISTS { ?c :mktsegment "BUILDING" } }""".stripMargin),
        "cname" -> "string")
    },
    "q_dict_exists_corr" -> { (s, d) =>
      // correlated EXISTS in id space (round-9 closure): the inner
      // FILTER references the outer ?bal, so the lifted conjunct
      // evaluates on hybrid-decoded terms INSIDE the long semi join —
      // "customers whose nation has a richer customer" never leaves
      // id space until the final decode
      out(dictStore(s, d).sparql(prologue +
        """SELECT ?cname
          |{ ?c :cname ?cname . ?c :acctbal ?bal . ?c :inNation ?n .
          |  FILTER EXISTS { ?c2 :inNation ?n . ?c2 :acctbal ?b2
          |                  FILTER(?b2 > ?bal) } }""".stripMargin),
        "cname" -> "string")
    },
    "q_dict_bucketed" -> { (s, d) =>
      // bucketed store layout (round-9 scale work): quads bucketed on
      // s → the customer-side star join (?c :cname / :mktsegment /
      // :inNation) runs with ZERO exchanges; dict bucketed on id → no
      // materialization join ever shuffles the term-count-sized
      // dictionary side. Same semantics, strictly fewer shuffles.
      out(dictBucketedStore(s, d).sparql(prologue +
        """SELECT ?cname ?seg ?nname
          |{ ?c :cname ?cname . ?c :mktsegment ?seg .
          |  ?c :inNation ?n . ?n :nname ?nname }""".stripMargin),
        "cname" -> "string", "seg" -> "string", "nname" -> "string")
    },
    "q_dict_path" -> { (s, d) =>
      // transitive closure in id space: the semi-naive rounds shuffle
      // single longs and the dictionary decodes once at the end (same
      // data and oracle as q_path_plus, so DuckDB certifies the two
      // execution paths agree)
      out(dictPathStore(s, d).sparql(prologue +
        "SELECT ?s ?x { ?s :partOf+ ?x }"),
        "s" -> "string", "x" -> "string")
    },
    "q_cbo_stats" -> { (s, d) =>
      // cost-based BGP ordering: one ANALYZE pass (per-predicate counts
      // + HLL distinct ends), then the greedy reorder runs on real
      // estimated cardinalities instead of the structural heuristic.
      // Stats change only the join order; the oracle pins the results.
      val quads = cust(s, d).union(nationRegion(s, d))
      out(quads.sparql(prologue +
        """SELECT ?cname ?nname
          |{ ?c :cname ?cname . ?c :inNation ?n . ?n :nname ?nname .
          |  ?n :inRegion ?r . ?r :rname "EUROPE" }""".stripMargin,
        quads.analyze()),
        "cname" -> "string", "nname" -> "string")
    },
    "q_optional" -> { (s, d) =>
      out(custOrders(s, d).sparql(prologue +
        """SELECT ?cname ?total
          |{ ?c :cname ?cname
          |  OPTIONAL { ?o :customer ?c . ?o :totalprice ?tp }
          |  BIND(COALESCE(?tp, 0) AS ?total)
          |}""".stripMargin),
        "cname" -> "string", "total" -> "double")
    },
    "q_optional_unbound" -> { (s, d) =>
      // pins the compat-join fallback: ?r is possibly-unbound on the
      // left (bound in only one UNION branch), so this OPTIONAL
      // legitimately compiles to the NULL-tolerant compat condition
      // (BroadcastNestedLoopJoin) instead of equi keys; per SPARQL
      // compatibility the unbound-?r row joins EVERY region
      out(nationRegion(s, d).sparql(prologue +
        """SELECT ?nname ?rname
          |{ { ?n :nname ?nname . ?n :inRegion ?r }
          |  UNION { ?n :nname ?nname . FILTER(?nname = "NATION_7") }
          |  OPTIONAL { ?r :rname ?rname } }""".stripMargin),
        "nname" -> "string", "rname" -> "string")
    },
    "q_service" -> { (s, d) =>
      // federated query: the geo dataset is a separately-registered
      // quads DataFrame ("endpoint"); SERVICE joins across datasets
      // without materializing their union
      graft.sparql.Sparql.registerService("urn:svc:geo", nationRegion(s, d))
      out(cust(s, d).sparql(prologue +
        """SELECT ?cname ?nname
          |{ ?c :cname ?cname . ?c :inNation ?n .
          |  SERVICE <urn:svc:geo> { ?n :nname ?nname } }""".stripMargin),
        "cname" -> "string", "nname" -> "string")
    },
    "q_update" -> { (s, d) =>
      // SPARQL Update as a transform: rewrite a predicate in place,
      // result flattened to lexicals for the oracle compare
      val df = TpchQuads.nation(s, d).sparqlUpdate(prologue +
        "DELETE { ?n :nname ?v } INSERT { ?n :name2 ?v } WHERE { ?n :nname ?v }")
      df.select(col("s").getField("lex").as("s"),
        col("p").getField("lex").as("p"),
        col("o").getField("lex").as("o"))
    },
    "q_update_with" -> { (s, d) =>
      // WITH scopes matching AND template targets to the nation graph;
      // the customer graph rides through untouched
      val df = TpchQuads.graphQuads(s, d).sparqlUpdate(prologue +
        """WITH <urn:graph:nation>
          |DELETE { ?n :nname ?v } INSERT { ?n :name2 ?v }
          |WHERE { ?n :nname ?v }""".stripMargin)
      df.select(col("s").getField("lex").as("s"),
        col("p").getField("lex").as("p"),
        col("o").getField("lex").as("o"),
        col("g").getField("lex").as("g"))
    },
    "q_update_graphmgmt" -> { (s, d) =>
      // §3.2 graph management as a ';'-sequence: fold nation into the
      // customer graph, move the merged graph to the default graph,
      // drop the (now stale) nation graph — every quad ends up
      // default-graph-tagged exactly once
      val df = TpchQuads.graphQuads(s, d).sparqlUpdate(
        """ADD <urn:graph:nation> TO <urn:graph:customer> ;
          |MOVE <urn:graph:customer> TO DEFAULT ;
          |DROP GRAPH <urn:graph:nation>""".stripMargin)
      df.select(col("s").getField("lex").as("s"),
        col("p").getField("lex").as("p"),
        col("o").getField("lex").as("o"),
        col("g").getField("lex").as("g"))
    },
    "q_describe" -> { (s, d) =>
      // DESCRIBE (subject-form description): all quads of the matched
      // resources, flattened to lexicals for the oracle compare
      val df = cust(s, d).sparql(prologue +
        """DESCRIBE ?c WHERE { ?c :mktsegment "BUILDING" .
          |                    ?c :acctbal ?b . FILTER(?b > 9000) }""".stripMargin)
      df.select(col("s").getField("lex").as("s"),
        col("p").getField("lex").as("p"),
        col("o").getField("lex").as("o"))
    },
    "q_exists" -> { (s, d) =>
      out(custOrders(s, d).sparql(prologue +
        "SELECT ?cname { ?c :cname ?cname FILTER EXISTS { ?o :customer ?c } }"),
        "cname" -> "string")
    },
    "q_not_exists" -> { (s, d) =>
      out(custOrders(s, d).sparql(prologue +
        """SELECT ?cname { ?c :cname ?cname
          |  FILTER NOT EXISTS { ?o :customer ?c . ?o :totalprice ?tp .
          |                      FILTER(?tp > 300000) } }""".stripMargin),
        "cname" -> "string")
    },
    "q_minus" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        "SELECT ?cname { ?c :cname ?cname MINUS { ?c :mktsegment \"BUILDING\" } }"),
        "cname" -> "string")
    },
    "q_values" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?cname ?seg
          |{ VALUES ?seg { "BUILDING" "AUTOMOBILE" }
          |  ?c :mktsegment ?seg . ?c :cname ?cname }""".stripMargin),
        "cname" -> "string", "seg" -> "string")
    },
    // ----- §2.2 filter / expressions -----
    "q_filter_cmp" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?cname ?acctbal
          |{ ?c :cname ?cname . ?c :acctbal ?acctbal FILTER(?acctbal > 5000) }""".stripMargin),
        "cname" -> "string", "acctbal" -> "double")
    },
    "q_filter_str" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?cname ?seg
          |{ ?c :cname ?cname . ?c :mktsegment ?seg
          |  FILTER(STRSTARTS(?seg, "BUI") || CONTAINS(?seg, "MACH")) }""".stripMargin),
        "cname" -> "string", "seg" -> "string")
    },
    "q_bind_arith" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?cname ?dbl
          |{ ?c :cname ?cname . ?c :acctbal ?b . BIND(?b * 2 - 100 AS ?dbl) }""".stripMargin),
        "cname" -> "string", "dbl" -> "double")
    },
    "q_if_tier" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?cname ?tier
          |{ ?c :cname ?cname . ?c :acctbal ?b .
          |  BIND(IF(?b > 5000, "high", "low") AS ?tier) }""".stripMargin),
        "cname" -> "string", "tier" -> "string")
    },
    "q_str_funcs" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?cname ?up ?len ?tag
          |{ ?c :cname ?cname . ?c :mktsegment ?seg .
          |  BIND(UCASE(?cname) AS ?up)
          |  BIND(STRLEN(?cname) AS ?len)
          |  BIND(CONCAT(?seg, "-", SUBSTR(?cname, 10)) AS ?tag) }""".stripMargin),
        "cname" -> "string", "up" -> "string", "len" -> "bigint", "tag" -> "string")
    },
    "q_year" -> { (s, d) =>
      out(TpchQuads.orders(s, d).sparql(prologue +
        """SELECT ?year (COUNT(?o) AS ?n)
          |{ ?o :orderdate ?dd . BIND(YEAR(?dd) AS ?year) }
          |GROUP BY ?year""".stripMargin),
        "year" -> "bigint", "n" -> "bigint")
    },
    // ----- §2.4 aggregates -----
    "q_agg_multi" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?seg (COUNT(?c) AS ?n) (SUM(?bal) AS ?total)
          |       (AVG(?bal) AS ?avg_bal) (MIN(?bal) AS ?min_bal) (MAX(?bal) AS ?max_bal)
          |{ ?c :mktsegment ?seg . ?c :acctbal ?bal }
          |GROUP BY ?seg""".stripMargin),
        "seg" -> "string", "n" -> "bigint", "total" -> "double",
        "avg_bal" -> "double", "min_bal" -> "double", "max_bal" -> "double")
    },
    "q_agg_having" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?seg (COUNT(?c) AS ?n)
          |{ ?c :mktsegment ?seg }
          |GROUP BY ?seg HAVING(COUNT(?c) > 300)""".stripMargin),
        "seg" -> "string", "n" -> "bigint")
    },
    "q_agg_count_distinct" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        "SELECT (COUNT(DISTINCT ?nat) AS ?n) { ?c :inNation ?nat }"),
        "n" -> "bigint")
    },
    "q_group_concat" -> { (s, d) =>
      out(nationRegion(s, d).sparql(prologue +
        """SELECT ?rname (GROUP_CONCAT(?nname; separator=",") AS ?nations)
          |{ ?n :inRegion ?r . ?n :nname ?nname . ?r :rname ?rname }
          |GROUP BY ?rname""".stripMargin),
        "rname" -> "string", "nations" -> "string")
    },
    "q_agg_global" -> { (s, d) =>
      out(TpchQuads.orders(s, d).sparql(prologue +
        """SELECT (COUNT(?o) AS ?n) (SUM(?tp) AS ?total)
          |{ ?o :totalprice ?tp }""".stripMargin),
        "n" -> "bigint", "total" -> "double")
    },
    "q_sample" -> { (s, d) => // rows-only: SAMPLE is nondeterministic
      out(cust(s, d).sparql(prologue +
        """SELECT ?seg (SAMPLE(?cname) AS ?any)
          |{ ?c :mktsegment ?seg . ?c :cname ?cname } GROUP BY ?seg""".stripMargin),
        "seg" -> "string", "any" -> "string")
    },
    // ----- §2.5 order / slice / distinct -----
    "q_order_limit" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?cname ?bal
          |{ ?c :cname ?cname . ?c :acctbal ?bal }
          |ORDER BY DESC(?bal) ?cname LIMIT 10""".stripMargin),
        "cname" -> "string", "bal" -> "double")
    },
    "q_order_offset" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?cname ?bal
          |{ ?c :cname ?cname . ?c :acctbal ?bal }
          |ORDER BY DESC(?bal) ?cname OFFSET 5 LIMIT 10""".stripMargin),
        "cname" -> "string", "bal" -> "double")
    },
    "q_slice_noorder" -> { (s, d) => // rows-only: arbitrary subset
      out(cust(s, d).sparql(prologue +
        "SELECT ?cname { ?c :cname ?cname } LIMIT 50"),
        "cname" -> "string")
    },
    "q_distinct" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        "SELECT DISTINCT ?seg { ?c :mktsegment ?seg }"),
        "seg" -> "string")
    },
    "q_reduced" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        "SELECT REDUCED ?seg { ?c :mktsegment ?seg }"),
        "seg" -> "string")
    },
    // ----- §2.6 union -----
    "q_union" -> { (s, d) =>
      out(custSupp(s, d).sparql(prologue +
        "SELECT ?name { { ?x :cname ?name } UNION { ?x :sname ?name } }"),
        "name" -> "string")
    },
    // ----- §2.8 property paths / graphs -----
    "q_path_seq" -> { (s, d) =>
      out(TpchQuads.supplier(s, d).union(nationRegion(s, d)).sparql(prologue +
        """SELECT ?sname ?rname
          |{ ?s :sname ?sname . ?s :inNation/:inRegion ?r . ?r :rname ?rname }""".stripMargin),
        "sname" -> "string", "rname" -> "string")
    },
    "q_path_alt" -> { (s, d) =>
      out(custSupp(s, d).sparql(prologue +
        "SELECT ?name { ?x (:cname | :sname) ?name }"),
        "name" -> "string")
    },
    "q_path_inv" -> { (s, d) =>
      out(TpchQuads.customer(s, d).union(TpchQuads.nation(s, d)).sparql(prologue +
        """SELECT ?nname ?cname
          |{ ?n ^:inNation ?c . ?c :cname ?cname . ?n :nname ?nname }""".stripMargin),
        "nname" -> "string", "cname" -> "string")
    },
    "q_path_neg" -> { (s, d) =>
      out(TpchQuads.nation(s, d).sparql(prologue +
        "SELECT ?s ?o { ?s !:nname ?o }"),
        "s" -> "string", "o" -> "string")
    },
    "q_path_zero_one" -> { (s, d) =>
      out(TpchQuads.partOfChain(s, d).sparql(prologue +
        "SELECT ?s ?x { ?s :partOf? ?x }"),
        "s" -> "string", "x" -> "string")
    },
    "q_path_star" -> { (s, d) =>
      out(TpchQuads.partOfChain(s, d).sparql(prologue +
        "SELECT ?s ?x { ?s :partOf* ?x }"),
        "s" -> "string", "x" -> "string")
    },
    "q_path_plus" -> { (s, d) =>
      out(TpchQuads.partOfChain(s, d).sparql(prologue +
        "SELECT ?s ?x { ?s :partOf+ ?x }"),
        "s" -> "string", "x" -> "string")
    },
    "q_graph_const" -> { (s, d) =>
      out(TpchQuads.graphQuads(s, d).sparql(prologue +
        "SELECT ?cname { GRAPH <urn:graph:customer> { ?c :cname ?cname } }"),
        "cname" -> "string")
    },
    "q_graph_var" -> { (s, d) =>
      out(TpchQuads.graphQuads(s, d).sparql(prologue +
        """SELECT ?g (COUNT(?s2) AS ?n) { GRAPH ?g { ?s2 ?p2 ?o2 } }
          |GROUP BY ?g""".stripMargin),
        "g" -> "string", "n" -> "bigint")
    },
    "q_dataset" -> { (s, d) =>
      // FROM promotes the customer graph to the default graph; FROM
      // NAMED keeps only the nation graph addressable by GRAPH
      out(TpchQuads.graphQuads(s, d).sparql(prologue +
        """SELECT ?cname ?nname
          |FROM <urn:graph:customer>
          |FROM NAMED <urn:graph:nation>
          |{ ?c :cname ?cname . ?c :inNation ?n .
          |  GRAPH <urn:graph:nation> { ?n :nname ?nname } }""".stripMargin),
        "cname" -> "string", "nname" -> "string")
    },
    "q_part_agg" -> { (s, d) =>
      out(TpchQuads.part(s, d).sparql(prologue +
        """SELECT ?brand (COUNT(?p2) AS ?n) (AVG(?rp) AS ?avg_price) (MAX(?sz) AS ?max_size)
          |{ ?p2 :brand ?brand . ?p2 :retailprice ?rp . ?p2 :psize ?sz
          |  FILTER(?sz >= 10) }
          |GROUP BY ?brand""".stripMargin),
        "brand" -> "string", "n" -> "bigint", "avg_price" -> "double",
        "max_size" -> "bigint")
    },
    "q_events_window" -> { (s, d) =>
      val ev = eventsUs(s, d)
        .withColumn("ts2", timestamp_micros(col("ts")))
      ev.groupBy(date_trunc("hour", col("ts2")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("total"))
        .select(col("hour"), col("event_type"), col("n"), col("total"))
    },
    "q_asof_join" -> { (s, d) =>
      // ad-attribution shape: every click matched to the user's most
      // recent view at or before it, but only within the last hour —
      // one union + one window, never a pair join. Times are exact
      // long MICROseconds (eventsUs): DuckDB's timestamp is
      // µs-precision, so µs is the finest unit the oracle can replay.
      val ev = eventsUs(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.pipeline.Temporal.asofJoin(
        clicks, views, "user_id", "ts",
        rightCols = Seq("event_id", "value"), rightTieCol = "event_id",
        tolerance = Some(3600L * 1000 * 1000))
    },
    "q_asof_lookup" -> { (s, d) =>
      // same attribution, via the broadcast-packed LOOKUP path (the
      // streaming-compatible form) — same oracle as q_asof_join, so
      // DuckDB independently certifies the two implementations agree
      val ev = eventsUs(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      graft.pipeline.Temporal.asofLookup(
        clicks, views, "user_id", "ts",
        rightCols = Seq("event_id", "value"), rightTieCol = "event_id",
        tolerance = Some(3600L * 1000 * 1000))
    },
    "q_funnel" -> { (s, d) =>
      // ordered signup→view→click→purchase funnel per user: one
      // conditional-min aggregation, row-local depth — no joins or
      // windows however long the funnel
      graft.pipeline.Temporal.funnel(
        eventsUs(s, d).select(col("user_id"),
          col("event_type"), col("ts")),
        "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase"))
    },
    "q_cube_report" -> { (s, d) =>
      // all four grouping sets of (lang, source) in one pass via
      // native CUBE (same Expand machinery as q_rollup_report)
      t(s, d, "documents")
        .cube(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
    },
    "q_rollup_report" -> { (s, d) =>
      // multi-level corpus report in ONE pass: per-(lang, source)
      // rows, per-lang subtotals and the grand total via native
      // ROLLUP (Catalyst's Expand — no separate re-aggregations)
      t(s, d, "documents")
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("chars"))
    },
    "q_pagerank" -> { (s, d) =>
      // 3-iteration PageRank over the supplier→part supply graph
      // (every part is dangling — the uniform redistribution path
      // carries real mass); fixed iterations make the computation a
      // pure function the oracle unrolls in SQL.
      // Round-20: the iterations run in LONG id space (suppkey·2 /
      // partkey·2+1 — disjoint by parity, exact: keys are nonnegative
      // ints) and the "s"/"p" labels are re-derived only on the final
      // dimension-sized rank table — 3 rounds of joins/aggregations
      // shuffle 8-byte keys instead of strings (guide §2.3, narrower
      // types; §8, decide on a lightweight proxy). Same node set,
      // same edge multiset, same rank formula — the oracle is
      // unchanged and certifies the rewrite.
      val e = t(s, d, "lineitem")
        .select((col("l_suppkey").cast("long") * 2).as("src"),
          (col("l_partkey").cast("long") * 2 + 1).as("dst"))
        .distinct()
      graft.pipeline.PageRank.pageRank(e, iterations = 3)
        .select(
          when(col("node") % 2 === 0,
            concat(lit("s"), expr("node div 2").cast("string")))
            .otherwise(concat(lit("p"), expr("node div 2").cast("string")))
            .as("node"),
          round(col("rank"), 6).as("rank"))
    },
    "q_salted_join" -> { (s, d) =>
      // skew-proof orders⋈customer: the salted join must produce
      // EXACTLY the plain join's result — the oracle is the plain SQL
      // join, so DuckDB certifies salt-and-replicate changes nothing
      val o = t(s, d, "orders").select(col("o_custkey").as("c_custkey"),
        col("o_totalprice"))
      val c = t(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment"))
      graft.pipeline.Skew.saltedJoin(o, c, Seq("c_custkey"), salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")).as("total"))
    },
    "q_skew_aware_join" -> { (s, d) =>
      // sketch-driven partial salting: one Space-Saving pass finds
      // the hot users (>0.2% of events each), ONLY their rows salt
      // and replicate — the oracle is again the plain join, so DuckDB
      // certifies detection + selective salting changes nothing.
      // m=1024 ≥ 1/hotShare: the retention guarantee's precondition
      graft.pipeline.Skew.skewAwareJoin(
        eventsUs(s, d).select(col("user_id"), col("value")),
        eventsUs(s, d).groupBy(col("user_id")).agg(count(lit(1)).as("n_u")),
        Seq("user_id"), salts = 8, m = 1024, hotShare = 0.002)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value")).as("total_value"),
          max(col("n_u")).as("n_u"))
    },
    "q_kmv_rollup" -> { (s, d) =>
      // the persisted-sketch workflow: per-DAY user sketches (the
      // table you'd store) merged to the period total — k longs per
      // day cross the merge, never the events. µs day buckets per the
      // oracle-precision convention.
      val ev = eventsUs(s, d)
        .withColumn("day", expr("ts div 86400000000"))
      val daily = graft.pipeline.Sketches.sketchTable(
        ev, Seq("day"), "user_id", k = 32)
      graft.pipeline.Sketches.mergeSketches(daily, Nil, k = 32)
    },
    "q_compact" -> { (s, d) =>
      // small-file compaction: scatter events over 64 tiny files,
      // bin-pack them back to a handful with Layout.compact (coalesce
      // — no shuffle), and aggregate the result; the oracle replays
      // the aggregate from the RAW table, proving the maintenance
      // pass is content-identity. File-count/no-shuffle properties
      // are pinned in LayoutSpec.
      val packed = tmpPath("compact_out", d)
      // build-once fixture (round-19): the 64-file scatter SIMULATES a
      // small-file table and is input setup, not the maintenance pass
      // under test — every other fixture (media, signed corpora, dict
      // stores) is build-once; re-scattering each pass double-counted
      // a fixed write in the timed region. The compact itself (read
      // scattered → bin-pack → write packed → re-read + aggregate)
      // still runs, and is re-timed, every pass. Routed through
      // buildOnce (round-20 advice): the _DONE marker is written only
      // after a complete build, and the CacheVersion-keyed path means
      // a shape change to eventsUs invalidates the fixture.
      val scattered = buildOnce("compact_in", d) { dir =>
        eventsUs(s, d).select(col("event_id"), col("user_id"), col("value"))
          .repartition(64)
          .write.mode("overwrite").parquet(new java.io.File(dir, "scatter").toString)
      }.toString + "/scatter"
      graft.io.Layout.compact(s, scattered, packed,
        targetFileBytes = 256L * 1024)
      s.read.parquet(packed)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"),
          sum(col("event_id")).as("id_sum"))
    },
    "q_zorder_layout" -> { (s, d) =>
      // z-order clustered rewrite of events on (user_id, value), read
      // back and aggregated — the oracle replays the aggregate from
      // the RAW table, proving the layout pass is content-identity;
      // LayoutSpec separately proves the clustering (files touched)
      val path = tmpPath("zorder_events", d)
      graft.io.Layout.zorderWrite(
        eventsUs(s, d).select(col("event_id"), col("user_id"),
          col("value")),
        Seq("user_id", "value"), path, numFiles = 16)
      s.read.parquet(path)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"),
          sum(col("event_id")).as("id_sum"))
    },
    "q_kmv_distinct" -> { (s, d) =>
      // approximate distinct users per event type via the KMV sketch
      // (k=32 < the 150 true distinct → the estimator path runs);
      // portable 48-bit hashes make the estimate itself replayable
      graft.pipeline.Sketches.distinctCountSketch(
        eventsUs(s, d), Seq("event_type"), "user_id", k = 32)
    },
    "q_cm_freq" -> { (s, d) =>
      // Count-Min point-frequency estimates: one global 4×256 sketch
      // of event_type arrivals, then literal-item lookups (incl. an
      // item that never arrived — CM answers ≤ noise for those too).
      // Cellwise arithmetic over portable md5 buckets → the oracle
      // replays cells AND estimates bit-for-bit in every regime
      val ev = eventsUs(s, d).withColumn("__all", lit("all"))
      val sk = graft.pipeline.Sketches.cmSketchTable(
        ev, Seq("__all"), "event_type", depth = 4, width = 256)
      graft.pipeline.Sketches.cmEstimates(sk, Nil,
        Seq("click", "view", "purchase", "signup", "error",
          "never_seen_item"), depth = 4, width = 256)
    },
    "q_cm_rollup" -> { (s, d) =>
      // persisted-CM workflow: per-DAY sketch tables (4·256 longs per
      // day cross the merge, never the events) rolled up by cellwise
      // sum — vector addition, so the rollup equals the direct global
      // sketch EXACTLY and shares q_cm_freq's oracle
      val ev = eventsUs(s, d)
        .withColumn("day", expr("ts div 86400000000"))
      val daily = graft.pipeline.Sketches.cmSketchTable(
        ev, Seq("day"), "event_type", depth = 4, width = 256)
      val merged = graft.pipeline.Sketches.mergeCmSketches(
        daily, Nil, depth = 4, width = 256)
      graft.pipeline.Sketches.cmEstimates(merged, Nil,
        Seq("click", "view", "purchase", "signup", "error",
          "never_seen_item"), depth = 4, width = 256)
    },
    "q_heavy_hitters" -> { (s, d) =>
      // top-5 users per event type via the Space-Saving sketch, with
      // m SIZED BY THE DATA: exactRegimeM's HLL pre-pass picks the
      // smallest power of two with 2× headroom over the measured
      // distinct-user cardinality, so no counter ever evicts and
      // every count is exact with err = 0 — the regime the oracle
      // replays with GROUP BY + rank. A fixed m is wrong at some
      // scale (the round-10 sf0.1 sweep caught m=1024 flipping to
      // the eviction regime at 1500 distinct users); the pre-pass
      // makes the exact regime scale-invariant up to the 2^21 state
      // cap, past which heavy-hitters degrade to their ε-bounds (the
      // regime property-tested in SketchFamilySpec).
      val ev = eventsUs(s, d)
      val m = graft.pipeline.Sketches.exactRegimeM(ev, "user_id")
      graft.pipeline.Sketches.heavyHitters(
        ev, Seq("event_type"), "user_id", m = m, topK = 5)
    },
    "q_hh_rollup" -> { (s, d) =>
      // persisted heavy-hitter workflow: per-DAY user sketch tables
      // (m counters per day cross the merge, never the events) rolled
      // up to the period's global top-5 by PODS '12 re-insertion;
      // m sized by exactRegimeM (see q_heavy_hitters) — the GLOBAL
      // cardinality bounds every day's a fortiori, so no fine sketch
      // evicts and the rollup is exactly the direct sketch, which the
      // oracle replays
      val ev = eventsUs(s, d)
        .withColumn("day", expr("ts div 86400000000"))
      val m = graft.pipeline.Sketches.exactRegimeM(ev, "user_id")
      val daily = graft.pipeline.Sketches.heavyHitterTable(
        ev, Seq("day"), "user_id", m = m)
      graft.pipeline.Sketches.mergeHeavyHitters(
        daily, Nil, m = m, topK = 5)
    },
    "q_quantile_sketch" -> { (s, d) =>
      // per-event-type value quantiles from the bottom-k-by-hash
      // uniform sample (k=4096). The oracle replays the SAMPLE itself
      // (rank ≤ k over the portable hash of event_id), so the entry
      // hash-checks in BOTH regimes — exact when a group fits k,
      // sampled when it doesn't — robust to driver data regeneration
      graft.pipeline.Sketches.quantileSketch(
        eventsUs(s, d), Seq("event_type"), "value", "event_id",
        k = 4096, probs = Seq(0.5, 0.9, 0.99))
    },
    "q_quantile_rollup" -> { (s, d) =>
      // persisted quantile workflow: per-day bottom-k sample tables
      // merged to the period's global quantiles. k=512 < the row count
      // at sf0.01, so this exercises the true SAMPLING path end to
      // end: bottom-k union of per-day bottom-ks IS the global
      // bottom-k (any globally small hash is small within its day),
      // which is what the oracle's global rank-≤-k replay asserts
      val ev = eventsUs(s, d)
        .withColumn("day", expr("ts div 86400000000"))
      val daily = graft.pipeline.Sketches.quantileSketchTable(
        ev, Seq("day"), "value", "event_id", k = 512)
      graft.pipeline.Sketches.mergeQuantileSketches(
        daily, Nil, k = 512, probs = Seq(0.5, 0.9, 0.99))
    },
    "q_range_join" -> { (s, d) =>
      // "how many lineitems were in transit on each March-1995 order
      // date" — a point-in-interval join. Transit windows are
      // deterministic functions of the keys (shipdate + 7..27 days) so
      // the oracle replays them; the axis is integral day numbers.
      // Bucket width 32 ≥ the longest interval → ≤ 2 buckets each.
      val probes = t(s, d, "orders")
        .filter(col("o_orderdate") >= "1995-03-01" &&
          col("o_orderdate") < "1995-04-01")
        .select(unix_date(to_date(col("o_orderdate"))).as("day")).distinct()
      val iv = t(s, d, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        unix_date(to_date(col("l_shipdate"))).as("lo"))
        .withColumn("hi", col("lo") +
          pmod(col("l_orderkey") * 7 + col("l_linenumber") * 3, lit(21)) + 7)
      graft.pipeline.Temporal.rangeJoin(probes, iv, "day", "lo", "hi",
        bucketWidth = 32L)
        .groupBy(date_from_unix_date(col("day").cast("int")).as("probe_date"))
        .agg(count(lit(1)).as("n_in_transit"),
          sum(col("l_quantity")).as("qty_in_transit"))
    },
    "q_sessionize" -> { (s, d) =>
      // gap-based sessions: a new session after >10 min of silence;
      // per-session bounds, event count and value total (µs times,
      // same oracle-precision reasoning as q_asof_join)
      graft.pipeline.Temporal.sessionize(
        eventsUs(s, d).select(col("user_id"),
          col("ts"), col("value")),
        "user_id", "ts", gap = 600L * 1000 * 1000,
        aggs = Seq(sum(col("value")).as("total_value")))
    },
    "q_props_extract" -> { (s, d) =>
      // typed extraction from the semi-structured props column:
      // explicit-schema from_json ([[graft.pipeline.Semistructured]]'s
      // scaladoc says why schema-on-read inference is a non-starter at
      // 100 TB), then ordinary relational stats over the attribute
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val ev = graft.pipeline.Semistructured.extractJson(
        eventsUs(s, d), "props",
        StructType(Seq(StructField("k", LongType))), prefix = "p_")
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          count(col("p_k")).as("n_k"),
          sum(col("p_k")).as("sum_k"),
          round(avg(col("p_k")), 6).as("avg_k"),
          countDistinct(col("p_k")).as("n_distinct_k"))
    },
    "q_props_variant" -> { (s, d) =>
      // the VARIANT face of the same column: parse ONCE into the
      // binary encoding (the form you persist when the attribute set
      // is open-ended — later path probes walk bytes, and parquet
      // shreds hot fields into typed, stats-bearing subcolumns), then
      // a typed path probe and ordinary relational stats
      val ev = graft.pipeline.Semistructured.toVariant(
        eventsUs(s, d), "props", "pv")
      ev.select(col("event_type"),
        graft.pipeline.Semistructured.variantAttr(col("pv"), "$.k", "long")
          .as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          sum(col("k")).as("sum_k"))
    },
    "q_ask" -> { (s, d) =>
      cust(s, d).sparql(prologue +
        """ASK { ?c :mktsegment "BUILDING" . ?c :acctbal ?b FILTER(?b > 9000) }""")
    },
    "q_construct" -> { (s, d) =>
      val quads = cust(s, d).sparql(prologue +
        """CONSTRUCT { ?c <urn:p:tier> "gold" }
          |WHERE { ?c :acctbal ?b FILTER(?b > 5000) }""".stripMargin)
      quads.select(
        col("s").getField("lex").as("s"),
        col("p").getField("lex").as("p"),
        col("o").getField("lex").as("o"))
    },
    "q_subquery" -> { (s, d) =>
      out(cust(s, d).sparql(prologue +
        """SELECT ?cname ?bal
          |{ ?c :cname ?cname . ?c :acctbal ?bal .
          |  { SELECT (AVG(?b2) AS ?avgbal) { ?c2 :acctbal ?b2 } }
          |  FILTER(?bal > ?avgbal)
          |}""".stripMargin),
        "cname" -> "string", "bal" -> "double")
    },
    // ----- relational baseline (round 1) -----
    "q1_agg" -> { (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_base_price"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus")
    },
    // ----- LLM-pipeline operators (graft.pipeline) -----
    "q_dedup_exact" -> { (s, d) =>
      val docs = t(s, d, "documents")
        .select(graft.pipeline.TextAnalysis.fingerprint(col("text")).as("fp"),
          col("doc_id"))
      graft.pipeline.Dedup.exact(docs, "fp", "doc_id")
    },
    "q_dedup_paragraph" -> { (s, d) =>
      // C4-style paragraph dedup over constructed structure: each doc
      // = own text + a corpus-wide footer + own text again. The footer
      // survives only in the lowest doc_id, the self-dup second copy
      // always drops, and docs with corpus-duplicate texts lose those
      // paragraphs to the first holder — all replayed by the oracle's
      // global first-occurrence window
      val in = t(s, d, "documents").select(col("doc_id"),
        concat_ws("\n\n", col("text"), lit("SHARED FOOTER PARAGRAPH"),
          col("text")).as("text"))
      graft.pipeline.Dedup.dedupParagraphs(in, "doc_id", "text")
    },
    "q_dedup_paragraph_incr" -> { (s, d) =>
      // incremental paragraph dedup: docs < 250 are the accepted
      // corpus (persisted as a fingerprint table), the rest arrive as
      // a batch. Batch paragraphs lose to the corpus (every batch doc
      // loses the shared footer) and to earlier batch occurrences;
      // corpus-side work is one fingerprint anti-join
      val all = t(s, d, "documents").select(col("doc_id"),
        concat_ws("\n\n", col("text"),
          lit("SHARED FOOTER PARAGRAPH")).as("text"))
      val fps = graft.pipeline.Dedup.paragraphFpTable(
        all.filter(col("doc_id") < 250), "text")
      graft.pipeline.Dedup.dedupParagraphsAgainst(
        fps, all.filter(col("doc_id") >= 250), "doc_id", "text")
    },
    "q_dedup_cluster" -> { (s, d) =>
      // connected-components dedup clustering: chain pairs (consecutive
      // ids within an exact-dup group) force the components to walk a
      // transitive chain, so min-propagation is genuinely exercised;
      // the oracle recomputes the same clusters as a window min over
      // the fingerprint groups
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents").select(col("doc_id"),
        graft.pipeline.TextAnalysis.fingerprint(col("text")).as("fp"))
      val w = Window.partitionBy("fp").orderBy("doc_id")
      val pairs = docs.withColumn("nxt", lead("doc_id", 1).over(w))
        .filter(col("nxt").isNotNull)
        .select(col("doc_id").as("idA"), col("nxt").as("idB"))
      graft.pipeline.Clustering.assignComponents(
        docs.select("doc_id"), "doc_id", pairs)
        .select(col("doc_id").cast("bigint").as("doc_id"),
          col("component").cast("bigint").as("cluster"))
    },
    "q_dedup_minhash" -> { (s, d) => // rows-only: LSH candidates not SQL-expressible
      graft.pipeline.Dedup.minHashCandidates(
        t(s, d, "documents"), "doc_id", "text", threshold = 0.3)
    },
    "q_dedup_minhash_portable" -> { (s, d) =>
      // the SAME banded-LSH pipeline with the portable (md5 + affine
      // mod 2^61-1) hash family, so the DuckDB oracle re-derives every
      // shingle hash, signature value, band bucket and candidate pair
      // bit-for-bit — the LSH family's end-to-end hash-checked entry
      graft.pipeline.Dedup.portableMinHashCandidates(
        t(s, d, "documents"), "doc_id", "text")
    },
    "q_dedup_simhash_portable" -> { (s, d) =>
      // the SAME pigeonhole pipeline with md5 token hashes and verbatim
      // chunk-value bucket keys, so the DuckDB oracle re-derives every
      // vote, signature bit, bucket and Hamming distance — the SimHash
      // family's end-to-end hash-checked entry
      graft.pipeline.Dedup.portableSimHashCandidates(
        t(s, d, "documents"), "doc_id", "text")
    },
    "q_dedup_simhash" -> { (s, d) => // rows-only
      // Hamming ≤ 3 on 64-bit signatures — the published standard for
      // simhash near-dup at web scale (Manku et al., WWW'07)
      graft.pipeline.Dedup.simHashCandidates(
        t(s, d, "documents"), "doc_id", "text", maxHamming = 3)
    },
    "q_dedup_incremental" -> { (s, d) => // rows-only: LSH not SQL-expressible
      // the continuous-ingest operation: a new batch (odd doc_ids)
      // deduped against the PERSISTED signed corpus via the
      // broadcast-semi-join band prune — the corpus is signed once
      // (build-once parquet, like the dict/ANN artifacts) and never
      // self-joined; per-batch work after the corpus scan scales with
      // the batch. Honest toy-scale note: these synthetic docs (~300 B)
      // are SMALLER than their signature rows, so reading persisted
      // signatures costs more here than re-signing text would — at real
      // web-doc sizes (10-100 KB) signatures are 10-100× smaller than
      // text and the persisted shape wins, which is why it is the one
      // benched
      import graft.pipeline.Dedup
      val docs = t(s, d, "documents")
      val corpusPath = tmpPath("mh_corpus", d)
      if (!new java.io.File(s"$corpusPath/_SUCCESS").exists())
        Dedup.minHashSignTable(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text").write.mode("overwrite").parquet(corpusPath)
      Dedup.minHashCandidatesAgainst(
        Dedup.minHashSignTable(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text"),
        s.read.parquet(corpusPath),
        threshold = 0.3)
    },
    "q_dedup_incr_portable" -> { (s, d) =>
      // the minhash incremental's hash-checked form (round-18): odd
      // doc_ids arrive as a batch, PORTABLE-signed (md5-prefix shingle
      // hashes + affine-mod signatures), band-joined against the
      // PERSISTED portable-signed corpus (even doc_ids) with the same
      // broadcast batch-key semi-join prune as q_dedup_incremental —
      // the oracle re-derives both sides' shingle hashes, signatures,
      // band buckets and every surviving pair's exact Jaccard
      // (q_dedup_incremental stays rows-only: its xxhash64 band keys
      // aren't SQL-replayable)
      import graft.pipeline.Dedup
      val docs = t(s, d, "documents")
      val corpusPath = tmpPath("pmh_corpus", d)
      if (!new java.io.File(s"$corpusPath/_SUCCESS").exists())
        Dedup.portableMinHashSignTable(docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text").write.mode("overwrite").parquet(corpusPath)
      Dedup.portableMinHashCandidatesAgainst(
        Dedup.portableMinHashSignTable(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text"),
        s.read.parquet(corpusPath),
        numHashes = 32, bands = 8, threshold = 0.3)
    },
    "q_dedup_embedding" -> { (s, d) => // rows-only
      graft.pipeline.Dedup.embeddingCandidates(
        t(s, d, "embeddings"), "vec_id", "embedding", dim = 64,
        numPlanes = 4, threshold = 0.2)
    },
    "q_dedup_embedding_portable" -> { (s, d) =>
      // the SAME bucket-then-verify pipeline with md5-derived ±1
      // planes whose exact literal values inline into the oracle SQL,
      // so DuckDB re-derives every signature bit, bucket, candidate
      // pair and cosine — the embedding family's end-to-end
      // hash-checked entry (±1 × float dot products are exact in
      // double, so the buckets cannot drift between engines)
      graft.pipeline.Dedup.portableEmbeddingCandidates(
        t(s, d, "embeddings"), "vec_id", "embedding", dim = 64,
        numPlanes = 4, threshold = 0.2)
    },
    "q_dedup_embedding_incr" -> { (s, d) =>
      // incremental EMBEDDING near-dup (round-16): odd vec_ids arrive
      // as a new batch and join the PERSISTED signed corpus (even
      // vec_ids) on the portable ±1 RHP bucket, exact cosine
      // verified — the embedding analogue of q_dedup_incremental,
      // but fully hash-checked: the oracle re-derives both sides'
      // buckets from the plane literals and replays every pair and
      // rounded cosine
      import graft.pipeline.Dedup
      val emb = t(s, d, "embeddings")
      val corpusPath = tmpPath("emb_corpus", d)
      if (!new java.io.File(s"$corpusPath/_SUCCESS").exists())
        Dedup.embeddingSignTable(emb.filter(col("vec_id") % 2 === 0),
          "vec_id", "embedding", dim = 64, numPlanes = 4, portable = true)
          .write.mode("overwrite").parquet(corpusPath)
      Dedup.embeddingCandidatesAgainst(
        Dedup.embeddingSignTable(emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", dim = 64, numPlanes = 4, portable = true),
        s.read.parquet(corpusPath), threshold = 0.2, roundCos = true)
    },
    "q_dedup_semantic" -> { (s, d) =>
      // SemDeDup cluster-then-prune (round-16): assign to ±1
      // centroids → in-cluster RHP-bucketed cosine candidates → CC →
      // keep the component minimum. Fully replayable end to end: the
      // oracle re-derives the argmax-dot cluster, every bucket,
      // candidate pair and cosine, and walks the components with a
      // recursive CTE — assignment, candidates AND transitive closure
      // all hash-checked
      graft.pipeline.Clustering.portableSemanticDedup(
        t(s, d, "embeddings"), "vec_id", "embedding", dim = 64,
        numCentroids = 8, threshold = 0.2, numPlanes = 4)
        .select(col("vec_id"), col("cluster"),
          col("component").cast("bigint").as("component"), col("keep"))
    },
    "q_dedup_semantic_incr" -> { (s, d) =>
      // incremental SEMANTIC near-dup (round-17): odd vec_ids arrive
      // as a new batch, assign to the FROZEN ±1 centroids and join
      // the PERSISTED signed corpus (even vec_ids) on the
      // (cluster, portable ±1 RHP bucket) key, exact cosine
      // verified — the SemDeDup analogue of q_dedup_embedding_incr,
      // fully hash-checked: the oracle re-derives both sides'
      // argmax-dot clusters AND buckets from the literals and
      // replays every pair and rounded cosine
      import graft.pipeline.Clustering
      val emb = t(s, d, "embeddings")
      val corpusPath = tmpPath("sem_corpus", d)
      if (!new java.io.File(s"$corpusPath/_SUCCESS").exists())
        Clustering.portableSemanticSignTable(
          emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
          dim = 64, numCentroids = 8, numPlanes = 4)
          .write.mode("overwrite").parquet(corpusPath)
      Clustering.semanticCandidatesAgainst(
        Clustering.portableSemanticSignTable(
          emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding",
          dim = 64, numCentroids = 8, numPlanes = 4),
        s.read.parquet(corpusPath), threshold = 0.2, maxBucketSize = 0,
        roundCos = true)
    },
    "q_curate" -> { (s, d) =>
      // the composed curation pipeline: quality-score → threshold →
      // exact dedup (one surviving doc per content fingerprint), the
      // oracle recomputing the same score and window-dedup in SQL
      import graft.pipeline.{Dedup, TextAnalysis}
      val docs = t(s, d, "documents")
        .withColumn("quality", TextAnalysis.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      Dedup.exact(docs.select(col("fp"), col("doc_id"), col("quality")),
        "fp", "doc_id")
        .select(col("doc_id"), col("quality"))
    },
    "q_curate_model" -> { (s, d) =>
      // the TRAINED gate wired into a curation lineage (round-16):
      // same deterministic probe mixing as q_quality_model, then BOTH
      // gates — the NB model (score > 0) beside the rule-based
      // heuristic (quality >= 0.3) — then exact content dedup; the
      // oracle replays probes, hashed featurizer, weight sum,
      // heuristic arithmetic and the dedup window end to end
      import graft.functions.QualityExprs
      val nP = QualityExprs.heldOutPositive.length
      val nN = QualityExprs.heldOutNegative.length
      val posArr = array(QualityExprs.heldOutPositive.map(lit): _*)
      val negArr = array(QualityExprs.heldOutNegative.map(lit): _*)
      val pIdx = (expr("doc_id DIV 3") % nP + 1).cast("int")
      val nIdx = (expr("doc_id DIV 3") % nN + 1).cast("int")
      val input = when(col("doc_id") % 3 === 0,
          concat(element_at(posArr, pIdx), lit(" "),
            coalesce(col("text"), lit(""))))
        .when(col("doc_id") % 3 === 1,
          concat(element_at(negArr, nIdx), lit(" "),
            coalesce(col("text"), lit(""))))
        .otherwise(coalesce(col("text"), lit("")))
      import graft.pipeline.{Dedup, TextAnalysis, Quality}
      val scored = t(s, d, "documents")
        .select(col("doc_id"), input.as("txt"))
        .withColumn("__qs", Quality.qualityModelScore(col("txt")))
        .withColumn("score", col("__qs.score"))
        .withColumn("quality", TextAnalysis.qualityScore(col("txt")))
        .filter(col("score") > 0 && col("quality") >= 0.3)
        .withColumn("fp", TextAnalysis.fingerprint(col("txt")))
      Dedup.exact(
        scored.select(col("fp"), col("doc_id"), col("score"), col("quality")),
        "fp", "doc_id")
        .select(col("doc_id"), col("score"), round(col("quality"), 6).as("quality"))
    },
    "q_domain_cap" -> { (s, d) =>
      // per-domain diversity cap (C4/RefinedWeb discipline): host key
      // via url_host (authority minus userinfo/port, lowercased),
      // then best-k per host by length — so one boilerplate-heavy
      // domain cannot dominate a stratum. Dirty rows (non-URLs)
      // extract as the '' host group and are capped like any other.
      // The oracle replays the host regex and the rank window
      val url = when(col("doc_id") % 11 === 0, lit("not a url"))
        .otherwise(concat(lit("HTTPS://User:Pw@Host"),
          (col("doc_id") % 7).cast("string"),
          lit(".Example.COM:8080/page/"), col("doc_id").cast("string")))
      graft.pipeline.Curation.topKPerGroup(
        t(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            graft.pipeline.Scrub.urlHost(url).as("host")),
        "host", "n_chars", k = 10, tieCol = "doc_id")
        .select(col("doc_id"), col("host"),
          col("n_chars").cast("long").as("n_chars"))
    },
    "q_sample_det" -> { (s, d) =>
      // deterministic portable sampling: the md5 bucket is replayable
      // bit-for-bit in any SQL engine — the oracle recomputes the
      // exact per-row keep/drop decision
      graft.pipeline.Sampling.deterministicSample(
        t(s, d, "documents"), "doc_id", 0.3, seed = 0, portable = true)
        .select(col("doc_id"), col("lang"))
    },
    "q_mixture_plan" -> { (s, d) =>
      // temperature mixture planning: sqrt-share reweighting of the
      // per-source composition toward a half-size corpus. τ = 0.5 on
      // purpose: Java Math.pow(n, 0.5) is bit-equal to DuckDB sqrt(n)
      // (verified over 1..20000) while DuckDB pow(n, 0.5) differs by
      // 1 ulp on ~0.1% of inputs — the oracle replays with sqrt
      graft.pipeline.Sampling.temperatureRates(
        t(s, d, "documents"), "source", tau = 0.5, targetFraction = 0.5)
    },
    "q_mixture_sample" -> { (s, d) =>
      // ...and the applied plan: per-row deterministic keep at each
      // source's temperature rate (thresholds replayed by the oracle)
      graft.pipeline.Sampling.temperatureSample(
        t(s, d, "documents"), "source", "doc_id",
        tau = 0.5, targetFraction = 0.5)
        .select(col("doc_id"), col("source"))
    },
    "q_clean_e2e" -> { (s, d) =>
      // the cleaning tail END TO END: html-wrapped, mojibake'd,
      // PII-bearing raw text → strip_html → fix_mojibake → clean_text
      // → scrub_pii, with the oracle replaying every stage (the
      // mojibake stage via the driver-computed-corruption trick)
      val corrupt = new String(
        " café’s naïve".getBytes(java.nio.charset.StandardCharsets.UTF_8),
        "windows-1252")
      val raw = concat(lit("<p>"), col("text"),
        lit("</p><script>track();</script>"), lit(corrupt),
        lit(" mail a@b.co from 10.0.0.1"))
      t(s, d, "documents").select(col("doc_id"),
        graft.pipeline.Scrub.scrubPii(
          graft.pipeline.Scrub.cleanText(
            graft.pipeline.Scrub.fixMojibake(
              graft.pipeline.Scrub.stripHtml(raw)))).as("cleaned"))
    },
    "q_fix_mojibake" -> { (s, d) =>
      // mojibake repair, hash-checked without the oracle needing any
      // charset machinery: the CORRUPTION is computed driver-side (the
      // clean suffix UTF-8-encoded then mis-decoded as cp1252) and
      // appended to every ASCII document; the repaired result must be
      // exactly text || cleanSuffix, which DuckDB states directly
      val clean = " café’s naïve test"
      val corrupt = new String(
        clean.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        "windows-1252")
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.Scrub.fixMojibake(
            concat(col("text"), lit(corrupt))).as("fixed"))
    },
    "q_url_canon" -> { (s, d) =>
      // URL canonicalization as a dedup key: mixed-case authority,
      // tracking params in first/middle/lone positions, fragments —
      // the oracle replays the whole constant-replacement regex chain
      val url = concat(lit("HTTPS://Example.COM/Docs/"),
        col("doc_id").cast("string"),
        lit("?utm_source=x&id="), col("doc_id").cast("string"),
        lit("&fbclid=abc#sec"))
      t(s, d, "documents").select(col("doc_id"), url.as("u"))
        .select(col("doc_id"),
          graft.pipeline.Scrub.canonicalizeUrl(col("u")).as("canon"))
    },
    "q_strip_html" -> { (s, d) =>
      // C4-style regex HTML stripping + the cleaning recipe, over
      // documents wrapped in constructed markup: style element with
      // contents, attributes, a comment, a script, entities (incl.
      // the &amp;lt; ordering trap). Every step replays in DuckDB.
      val wrapped = concat(
        lit("<html><head><style>p{color:red}</style></head>" +
          "<body><p class=\"x\">"),
        col("text"),
        lit("</p><!-- footer --><script>track();</script> " +
          "&amp;lt; A&#39;s &quot;q&quot; &lt;tag&gt;</body></html>"))
      graft.pipeline.Scrub.stripHtmlTable(
        t(s, d, "documents").select(col("doc_id"), wrapped.as("text")),
        "text")
        .select(col("doc_id"), col("text").as("stripped"))
    },
    "q_text_clean" -> { (s, d) =>
      // the standard cleaning recipe over a deliberately dirty text:
      // the appended suffix exercises NFC composition (e + combining
      // acute), control stripping (BEL), \r\n normalization, the
      // 3-newline paragraph cap, space/tab collapapse and trimming —
      // each step a DuckDB-replayable constant-pattern regex (NFC via
      // nfc_normalize)
      val suffix = " cafe\u0301\u0007 x\r\n\r\n\r\n y  z\t w "
      graft.pipeline.Scrub.cleanTable(
        t(s, d, "documents").select(col("doc_id"),
          concat(col("text"), lit(suffix)).as("text")), "text")
        .select(col("doc_id"), col("text").as("cleaned"))
    },
    "q_pack_e2e" -> { (s, d) =>
      // mixture → pack, chained: temperature-sample the corpus per
      // source, then pack each surviving component into 2048-token
      // sequences (per-group windows — seq ids are within-source).
      // The oracle replays BOTH stages: threshold keep/drop, then the
      // per-source prefix window over the same hash order.
      val kept = graft.pipeline.Sampling.temperatureSample(
        t(s, d, "documents"), "source", "doc_id",
        tau = 0.5, targetFraction = 0.5)
      graft.pipeline.Packing.packSequencesBy(
        kept.select(col("doc_id"), col("source"), col("n_chars")),
        Seq("source"), "doc_id", "n_chars", budget = 2048L)
        .select(col("doc_id"), col("source"),
          col("seq_id"), col("seq_offset"))
    },
    "q_sample_weighted" -> { (s, d) =>
      // quality-weighted thinning: keep probability grows with doc
      // length (a stand-in for any quality score), per-row portable
      // keep/drop the oracle replays exactly
      val docs = t(s, d, "documents")
        .withColumn("w", length(col("text")).cast("double") / 2000.0)
      graft.pipeline.Sampling.weightedSample(
        docs, "doc_id", "w", seed = 2, portable = true)
        .select(col("doc_id"), col("lang"))
    },
    "q_sample_strat" -> { (s, d) =>
      // stratified mixing: per-language keep rates re-weight corpus
      // composition deterministically
      graft.pipeline.Sampling.stratifiedSample(
        t(s, d, "documents"), "lang", Map("en" -> 0.5, "de" -> 0.2),
        keyCol = "doc_id", seed = 1, defaultRate = 0.05, portable = true)
        .select(col("doc_id"), col("lang"))
    },
    "q_corpus_report" -> { (s, d) =>
      // the corpus card: per-language composition summary, exact
      // percentiles over integer token lengths
      graft.pipeline.Curation.corpusReport(
        t(s, d, "documents"), "lang", "text")
    },
    "q_token_budget" -> { (s, d) =>
      // token-budget composition: fill each language with documents in
      // portable-hash order until 3000 tokens; the oracle replays the
      // bucket, the window cumsum and the greedy-fill cut row-for-row
      val docs = t(s, d, "documents")
        .withColumn("ntok", graft.pipeline.TextAnalysis.tokenCount(col("text")))
      graft.pipeline.Sampling.tokenBudgetSample(
        docs, "lang", "ntok", "doc_id", budget = 3000, seed = 0,
        portable = true)
        .select(col("doc_id"), col("lang"))
    },
    "q_shuffle_det" -> { (s, d) =>
      // deterministic global corpus shuffle: contiguous 0-based rank
      // in the portable-hash permutation, computed by the two-phase
      // range-partition + per-partition-window scheme (no
      // single-partition window; one range shuffle). The oracle
      // replays the permutation with one row_number window.
      graft.pipeline.Packing.shuffleRank(
        t(s, d, "documents").select(col("doc_id")), "doc_id")
    },
    "q_pack" -> { (s, d) =>
      // concat-and-chunk sequence packing over the shuffle order:
      // documents concatenate in hash order, the stream cuts every
      // 4096 tokens (n_chars as the length column — already in the
      // table, no tokenizer divergence), (seq_id, seq_offset) from
      // the scalable global prefix sum
      graft.pipeline.Packing.packSequences(
        t(s, d, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", budget = 4096L)
        .select(col("doc_id"), col("seq_id"), col("seq_offset"))
    },
    "q_pack_by_global" -> { (s, d) =>
      // per-mixture-component packing in the SKEW-PROOF shape: each
      // lang packs its own sequence stream, but every window is
      // (partition, group)-local — one giant component can never
      // serialize onto one task (packSequencesBy's documented limit).
      // The oracle replays each stream with a per-lang window.
      graft.pipeline.Packing.packSequencesByGlobal(
        t(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("lang"), "doc_id", "n_chars", budget = 4096L)
        .select(col("doc_id"), col("lang"), col("seq_id"), col("seq_offset"))
    },
    "q_split" -> { (s, d) =>
      // disjoint train/val/test split (70/20/10), portable buckets so
      // the oracle reproduces every per-row assignment; entry returns
      // the VALIDATION slice (an interior bucket range — both cut
      // points exercised)
      graft.pipeline.Sampling.split(
        t(s, d, "documents"), "doc_id", Seq(0.7, 0.2, 0.1),
        seed = 0, portable = true)(1)
        .select(col("doc_id"), col("lang"))
    },
    "q_rolling_fp" -> { (s, d) =>
      // partial-overlap fingerprints: 4 smallest distinct hashes of the
      // 8-token windows as (doc_id, fp) rows. Portable md5 so the
      // DuckDB oracle replays every window hash bit-for-bit; the table
      // form keeps md5 in codegen (the array-lambda form interprets).
      graft.pipeline.TextAnalysis.portableRollingFingerprintTable(
        t(s, d, "documents"), "doc_id", "text")
    },
    "q_fuzzy_join" -> { (s, d) =>
      // record linkage: HIGH-BALANCE accounts matched against the
      // same-nation customer base by name within one edit — the
      // asymmetric probe-vs-base shape that keeps the pair budget
      // proportional to the probe side (an all-pairs-per-nation block
      // measured 11 s at sf0.1: exactly the hot-block hazard the
      // operator documents; the block key must bound pairs)
      val c = t(s, d, "customer")
      val lhs = c.filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").as("nk"),
          col("c_name").as("lname"), col("c_custkey").as("lid"))
      val rhs = c.select(col("c_nationkey").as("nk"),
        col("c_name").as("rname"), col("c_custkey").as("rid"))
      graft.pipeline.Fuzzy.blockedFuzzyJoin(
        lhs, rhs, Seq("nk"), "lname", "rname", maxDist = 1)
        .filter(col("lid") =!= col("rid"))
        .select(col("lid"), col("rid"), col("edit_dist"))
    },
    "q_diversity_report" -> { (s, d) =>
      // dataset-card lexical diversity per language: type-token ratio
      // and distinct-bigram share — two exploded aggregations joined
      // on the (tiny) language key
      val toks = t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("lang"),
          graft.pipeline.Dedup.tokens(col("text")).as("ts"))
      val uni = toks.select(col("lang"), explode(col("ts")).as("tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_types"))
      // native pair expression + codegen'd concat (round-19): the
      // transform(sequence…) form was an interpreted per-token lambda
      val bi = toks.filter(size(col("ts")) >= 2)
        .select(col("lang"), explode(
          graft.functions.TextStatsExprs.tokenPairsCol(col("ts"))).as("__b"))
        .select(col("lang"),
          concat_ws(" ", col("__b.w1"), col("__b.w2")).as("bg"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_bigrams"),
          countDistinct(col("bg")).as("n_bigram_types"))
      uni.join(bi, Seq("lang"), "left")
        .select(col("lang"), col("n_tokens"), col("n_types"),
          round(col("n_types").cast("double") /
            col("n_tokens").cast("double"), 6).as("ttr"),
          round(col("n_bigram_types").cast("double") /
            col("n_bigrams").cast("double"), 6).as("bigram_diversity"))
    },
    "q_vocab_topk" -> { (s, d) =>
      // exact corpus heavy hitters: top-50 tokens by occurrence with
      // (count desc, token asc) tie-break — partial-agg counts then a
      // distributed top-k (TakeOrderedAndProject), never a full sort
      t(s, d, "documents")
        .filter(col("text").isNotNull)
        .select(explode(graft.pipeline.Dedup.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok").asc)
        .limit(50)
    },
    "q_lm_score" -> { (s, d) =>
      // CCNet-shape statistical quality score: mean log-prob under the
      // corpus's own add-α bigram LM — exact counts, 6-dp-rounded mean
      graft.pipeline.TextAnalysis.bigramLogProbTable(
        t(s, d, "documents"), "doc_id", "text")
    },
    "q_repeated_spans" -> { (s, d) =>
      // cross-document repeated-span fractions (window-level substring
      // dedup signal, Lee et al. arXiv:2107.06499): per document, how
      // many of its distinct 8-token window hashes occur in >= 2 docs.
      // Portable md5 hashes — the oracle replays every count.
      graft.pipeline.Dedup.repeatedSpanStats(
        t(s, d, "documents"), "doc_id", "text")
    },
    "q_dedup_spans" -> { (s, d) =>
      // duplicated-span REMOVAL (the rewrite form of q_repeated_spans;
      // Lee et al.'s ExactSubstr at window granularity): every token
      // covered by an 8-token window shared by >= 2 docs is cut, and
      // the oracle replays the whole rewrite in SQL — positional
      // window hashes, shared-hash inventory, island merge (lag +
      // running sum), surviving-token reassembly with original case.
      graft.pipeline.Dedup.removeRepeatedSpans(
        t(s, d, "documents"), "doc_id", "text")
    },
    "q_dedup_spans_incr" -> { (s, d) =>
      // incremental span removal: the corpus (doc_id % 3 != 0) is
      // pre-reduced to its span-hash inventory; the batch
      // (doc_id % 3 == 0) is cut against inventory ∪ batch-internal
      // duplication — same outputs the batch rewrite would give for
      // these docs over the union, without re-reading corpus text.
      val docs = t(s, d, "documents")
      val inv = graft.pipeline.Dedup.spanInventoryTable(
        docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text")
      graft.pipeline.Dedup.removeRepeatedSpansAgainst(
        inv, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    },
    "q_dedup_spans_bank" -> { (s, d) =>
      // stateless span cut against a curated boilerplate BANK (the
      // streaming-safe form): the bank is every window hash of the
      // doc_id % 97 == 0 documents (the same known-small-side pattern
      // as the decontam bench), collected driver-side and probed by
      // binary search inside generated code — no join, no shuffle.
      // The remaining docs are rewritten with bank spans cut.
      val docs = t(s, d, "documents")
      val bank = graft.pipeline.Dedup.spanBankSet(
        graft.pipeline.Dedup.spanInventoryTable(
          docs.filter(col("doc_id") % 97 === 0), "doc_id", "text"))
      graft.pipeline.Dedup.removeSpansWithBank(
        docs.filter(col("doc_id") % 97 =!= 0), "doc_id", "text", bank)
    },
    "q_span_topk" -> { (s, d) =>
      // boilerplate miner: top-20 most-shared window spans with
      // exemplar text (docs desc, fp asc — total order, so the k
      // boundary is engine-independent); the inventory count never
      // carries text, and only the 20 winners' text is materialized,
      // via two broadcast joins
      graft.pipeline.Dedup.topSharedSpans(
        t(s, d, "documents"), "doc_id", "text", k = 20)
    },
    "q_decontam_report" -> { (s, d) =>
      // eval-set decontamination: the benchmark is 12-token passages
      // extracted from every (doc_id % 97 == 0) document — eval
      // passages whose SOURCE documents remain in the corpus, exactly
      // the leak this operator exists to catch. Portable md5 window
      // hashes, so the DuckDB oracle re-derives every window hash,
      // hit count and bench-doc count bit-for-bit.
      val docs = t(s, d, "documents")
      graft.pipeline.Decontaminate.report(docs, "doc_id", "text",
        benchPassages(docs), "bench_id", "btext")
    },
    "q_decontam_clean" -> { (s, d) =>
      // the surviving corpus after dropping every document that shares
      // >= 1 window with the benchmark passages above
      val docs = t(s, d, "documents")
      graft.pipeline.Decontaminate.clean(docs, "doc_id", "text",
        benchPassages(docs), "bench_id", "btext")
        .select(col("doc_id"), col("lang"))
    },
    "q_topk_group" -> { (s, d) =>
      // curation selection: best-k documents per language by length,
      // ties broken deterministically by doc_id
      graft.pipeline.Curation.topKPerGroup(
        t(s, d, "documents"), "lang", "n_chars", k = 5, tieCol = "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
    "q_pipeline_e2e" -> { (s, d) =>
      // the full curation chain as ONE lineage: exact dedup →
      // benchmark decontamination → quality gate → portable 30%
      // sample → per-language corpus report. Each stage is
      // individually oracle-checked elsewhere; this entry proves they
      // COMPOSE — no column collisions, no cross-stage
      // nondeterminism — by replaying the whole chain in SQL
      val docs = t(s, d, "documents")
      val deduped = graft.pipeline.Dedup.exact(docs, "text", "doc_id")
      val decont = graft.pipeline.Decontaminate.clean(
        deduped, "doc_id", "text", benchPassages(docs), "bench_id", "btext")
      val gated = decont.filter(col("n_chars") >= 200)
      val sampled = graft.pipeline.Sampling.deterministicSample(
        gated, "doc_id", fraction = 0.3, seed = 0L, portable = true)
      sampled.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          min(col("doc_id")).as("min_doc_id"))
    },
    "q_quantile_group" -> { (s, d) =>
      // per-group quality gate: keep documents at/above their
      // language's 75th length percentile
      graft.pipeline.Curation.aboveGroupQuantile(
        t(s, d, "documents"), "lang", "n_chars", q = 0.75)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    },
    "q_text_stats" -> { (s, d) =>
      import graft.pipeline.TextAnalysis._
      t(s, d, "documents").select(
        col("doc_id"),
        tokenCount(col("text")).as("ntok"),
        bpeishTokenCount(col("text")).as("nbpe"),
        round(stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(avgWordLen(col("text")), 6).as("awl"))
    },
    "q_pii_scrub" -> { (s, d) =>
      // planted PII: every document gets a synthetic email, IP and
      // phone derived from its id appended; the oracle rebuilds the
      // same augmented text and replays the identical RE2-compatible
      // redaction chain (with 'g') and counts
      val docs = t(s, d, "documents")
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or 10.0."), (col("doc_id") % 256).cast("string"),
        lit(".7 call +1 555-01"), (col("doc_id") % 10).cast("string"),
        lit("-0199 soon"))
      graft.pipeline.Scrub.scrubTable(
        docs.select(col("doc_id"), aug.as("text")), "text")
        .select(col("doc_id"), col("text").as("scrubbed"),
          col("pii_emails"), col("pii_ips"), col("pii_phones"))
    },
    "q_quality_repetition" -> { (s, d) =>
      // Gopher-style repetition/layout signals (one native expression
      // call per doc) over a deterministically built multi-line view of
      // each document (the synthetic corpus is single-line): line 1 =
      // chars 1-40, line 2 = a bullet over chars 11-35, line 3 = chars
      // 1-40 again (planted duplicate), line 4 = chars 21-35 + ' ...';
      // the oracle rebuilds the same text and recomputes every fraction
      // from exploded lines/tokens/bigrams
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      docs.select(col("doc_id"), concat_ws("\n",
          substring(col("text"), 1, 40),
          concat(lit("- "), substring(col("text"), 11, 25)),
          substring(col("text"), 1, 40),
          concat(substring(col("text"), 21, 15), lit(" ..."))).as("txt"))
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.repetitionStats(col("txt")).as("st"))
        .select(col("doc_id"),
          col("st.n_lines").cast("bigint").as("n_lines"),
          round(col("st.dup_line_frac"), 6).as("dup_line_frac"),
          round(col("st.dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("st.bullet_line_frac"), 6).as("bullet_line_frac"),
          round(col("st.ellipsis_line_frac"), 6).as("ellipsis_line_frac"),
          round(col("st.top_token_frac"), 6).as("top_token_frac"),
          round(col("st.top_bigram_char_frac"), 6).as("top_bigram_char_frac"))
    },
    "q_text_langid" -> { (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        graft.pipeline.TextAnalysis.langId(col("text")).as("lang_pred"))
    },
    "q_text_langid_ct" -> { (s, d) =>
      // Cavnar-Trenkle n-gram language ID (round-14): every doc gets
      // a deterministic multilingual input — a committed seed
      // snippet chosen by doc_id (18 languages across the Latin,
      // Cyrillic, Greek, Arabic and CJK script classes, 2 variants)
      // plus a 60-char slice of the doc's own text — and the oracle
      // replays the ENTIRE algorithm in SQL: n-gram extraction,
      // profile ranking (md5 tie-break: no collation dependence),
      // out-of-place distance against the inlined profiles, argmin.
      // Map-only codegen'd expression; LangIdSpec pins script-class
      // accuracy on held-out probe sentences.
      import graft.functions.LangIdExprs
      val n = LangIdExprs.languages.length
      val nOut = LangIdExprs.outOfSetProbes.length
      val seedArr = array((0 until n).flatMap(li =>
        (0 until 2).map(vi => lit(LangIdExprs.seedText(li, vi)))): _*)
      val outArr = array(LangIdExprs.outOfSetProbes.map(p => lit(p._2)): _*)
      // integer DIV, not double division: `/` on longs routes through
      // double and diverges from the oracle's `//` beyond 2^53
      // (doc_id is nonnegative by the testdata contract, where DIV
      // and DuckDB's floor-division `//` agree exactly)
      val idx = ((col("doc_id") % n) * 2 +
        expr(s"doc_id DIV $n") % 2 + 1).cast("int")
      // every 17th doc draws an out-of-set-script probe (pure, no doc
      // slice) — exercises the und rejection gate end-to-end
      val outIdx = (expr(s"doc_id DIV 17") % nOut + 1).cast("int")
      // NULL text coalesces to '' on BOTH sides so the row is kept
      // consistently (Spark concat and DuckDB || both propagate NULL,
      // but the oracle's inner joins would then DROP the row while
      // Spark keeps it; a bare IS NOT NULL filter would instead lose
      // the %17 probe rows, which use no doc text at all)
      val input = when(col("doc_id") % 17 === 0, element_at(outArr, outIdx))
        .otherwise(concat(element_at(seedArr, idx), lit(" "),
          substring(lower(trim(coalesce(col("text"), lit("")))), 1, 60)))
      t(s, d, "documents").select(col("doc_id"),
        graft.pipeline.TextAnalysis.langIdCt(input).as("lang_pred"))
    },
    "q_text_langid_score" -> { (s, d) =>
      // the scored variant: same inputs as q_text_langid_ct, but the
      // gate's raw evidence comes out with the label — (best_dist,
      // second_dist, k) integers, so a pipeline can route on margin
      // and the oracle replays every field with zero rounding
      import graft.functions.LangIdExprs
      val n = LangIdExprs.languages.length
      val nOut = LangIdExprs.outOfSetProbes.length
      val seedArr = array((0 until n).flatMap(li =>
        (0 until 2).map(vi => lit(LangIdExprs.seedText(li, vi)))): _*)
      val outArr = array(LangIdExprs.outOfSetProbes.map(p => lit(p._2)): _*)
      val idx = ((col("doc_id") % n) * 2 +
        expr(s"doc_id DIV $n") % 2 + 1).cast("int")
      val outIdx = (expr(s"doc_id DIV 17") % nOut + 1).cast("int")
      val input = when(col("doc_id") % 17 === 0, element_at(outArr, outIdx))
        .otherwise(concat(element_at(seedArr, idx), lit(" "),
          substring(lower(trim(coalesce(col("text"), lit("")))), 1, 60)))
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.TextAnalysis.langIdCtScored(input).as("sc"))
        .select(col("doc_id"), col("sc.lang").as("lang_pred"),
          col("sc.best_dist").as("best_dist"),
          col("sc.second_dist").as("second_dist"),
          col("sc.k").cast("long").as("k"))
    },
    "q_quality_model" -> { (s, d) =>
      // TRAINED quality classifier (round-16): hashed unigram+bigram
      // Naive Bayes under the committed seed model — the scorer that
      // sits next to the rule-based quality/Gopher/bigram-LM gates in
      // the canonical curation pipelines. Inputs are deterministic:
      // doc_id % 3 routes each doc through a HELD-OUT positive probe,
      // a held-out negative probe, or its own raw text (probes the
      // model never trained on, so the keep column demonstrates real
      // discrimination, not memorization). The oracle replays the
      // whole scorer in SQL — tokenization, unigram+bigram explode,
      // md5-prefix bucket hash, committed integer weight table,
      // integer sum — with zero rounding anywhere. Map-only codegen'd
      // expression: 0 exchanges at score time.
      import graft.functions.QualityExprs
      val nP = QualityExprs.heldOutPositive.length
      val nN = QualityExprs.heldOutNegative.length
      val posArr = array(QualityExprs.heldOutPositive.map(lit): _*)
      val negArr = array(QualityExprs.heldOutNegative.map(lit): _*)
      // integer DIV (not `/`) for exact agreement with DuckDB's `//`
      val pIdx = (expr("doc_id DIV 3") % nP + 1).cast("int")
      val nIdx = (expr("doc_id DIV 3") % nN + 1).cast("int")
      // NULL text coalesces to '' on BOTH sides (the langid entries'
      // row-retention contract)
      val input = when(col("doc_id") % 3 === 0,
          concat(element_at(posArr, pIdx), lit(" "),
            coalesce(col("text"), lit(""))))
        .when(col("doc_id") % 3 === 1,
          concat(element_at(negArr, nIdx), lit(" "),
            coalesce(col("text"), lit(""))))
        .otherwise(coalesce(col("text"), lit("")))
      t(s, d, "documents")
        .select(col("doc_id"),
          graft.pipeline.Quality.qualityModelScore(input).as("qs"))
        .select(col("doc_id"), col("qs.score").as("score"),
          col("qs.n_grams").cast("long").as("n_grams"),
          (col("qs.score") > 0).as("keep"))
    },
    "q_embed_norm" -> { (s, d) =>
      // L2 normalization, exploded so the oracle compares one value
      // per (vector, position)
      val emb = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      emb.select(col("vec_id"), posexplode(
          graft.functions.VectorExprs.l2Normalize(col("embedding")))
          .as(Seq("pos", "nv")))
        .select(col("vec_id"), col("pos"), round(col("nv"), 6).as("nv"))
    },
    "q_embed_quant" -> { (s, d) =>
      // int8 quantization: scale = max|v|/127, codes rounded
      // half-away-from-zero — the SQL round() the oracle replays
      val emb = t(s, d, "embeddings").filter(col("embedding").isNotNull)
      emb.select(col("vec_id"),
          graft.functions.VectorExprs.quantizeInt8(col("embedding")).as("qz"))
        .select(col("vec_id"), round(col("qz.scale"), 6).as("scale"),
          posexplode(col("qz.q")).as(Seq("pos", "qv8")))
        .select(col("vec_id"), col("scale"), col("pos"),
          col("qv8").cast("bigint").as("qv"))
    },
    "q_chunk" -> { (s, d) =>
      // context-window chunking: 32-token chunks overlapping by 8; the
      // oracle replays every chunk boundary, text and token count
      graft.pipeline.TextAnalysis.chunkTable(
        t(s, d, "documents"), "doc_id", "text",
        chunkTokens = 32, overlap = 8)
    },
    "q_chunk_bpe" -> { (s, d) =>
      // subword-true chunking: same chunk geometry but over BPE tokens
      // from the committed trained merge table; the oracle replays the
      // encoder itself (recursive CTE over the merge rows) and then
      // every chunk boundary
      graft.pipeline.TextAnalysis.chunkTable(
        t(s, d, "documents"), "doc_id", "text",
        chunkTokens = 32, overlap = 8,
        tokenizer = graft.pipeline.TextAnalysis.bpeTokens(_))
    },
    "q_token_budget_bpe" -> { (s, d) =>
      // token-budget composition priced in BPE tokens — the unit a
      // training run consumes; whitespace pricing admits ~2.3× more
      // text than the budget pays for on this corpus
      val docs = t(s, d, "documents")
        .withColumn("ntok",
          graft.pipeline.TextAnalysis.bpeTokenCount(col("text")))
      graft.pipeline.Sampling.tokenBudgetSample(
        docs, "lang", "ntok", "doc_id", budget = 3000, seed = 0,
        portable = true)
        .select(col("doc_id"), col("lang"))
    },
    "q_bm25" -> { (s, d) =>
      // keyword retrieval: BM25 top-10 for a three-term query; scores
      // ranked ROUNDED (6 dp) with doc_id tie-break so libm ln and
      // float summation order cannot flip the ranking between engines
      graft.pipeline.Search.bm25TopK(t(s, d, "documents"),
        "doc_id", "text", "spark join window", k = 10)
        .select(col("id").as("doc_id"), col("score"))
    },
    "q_ann_brute" -> { (s, d) =>
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      graft.pipeline.Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
    },
    "q_hybrid_search" -> { (s, d) =>
      // hybrid retrieval: BM25 keyword pool + embedding cosine pool
      // fused by reciprocal rank (RRF needs no score calibration —
      // ranks are scale-free); both arms rank deterministically, so
      // the oracle replays pools, ranks and fused scores exactly
      val emb = t(s, d, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      graft.pipeline.Search.hybridTopK(
        t(s, d, "documents"), "doc_id", "text", "spark join window",
        emb, "vec_id", "embedding", qv, k = 10, poolK = 50)
    },
    "q_sql_cosine" -> { (s, d) =>
      // the SparkSessionExtensions / FunctionRegistry surface: the
      // native codegen'd cosine runs from a plain spark.sql string
      // (config path: spark.sql.extensions=graft.GraftExtensions)
      graft.functions.GraftFunctions.register(s)
      t(s, d, "embeddings").createOrReplaceTempView("embeddings_sqlv")
      s.sql(
        """SELECT a.vec_id AS ida, b.vec_id AS idb,
          |  round(vec_cosine(a.embedding, b.embedding), 6) AS cos
          |FROM embeddings_sqlv a JOIN embeddings_sqlv b
          |  ON b.vec_id = a.vec_id + 1""".stripMargin)
    },
    "q_ann_lsh" -> { (s, d) => // rows-only: approximate by construction
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      graft.pipeline.Similarity.lshTopK(emb, "vec_id", "embedding", q, 10,
        numPlanes = 6)
    },
    "q_ann_lsh_portable" -> { (s, d) =>
      // the SAME probe-ring ANN with md5-derived ±1 planes and rounded
      // ranking: the oracle re-derives the query's bucket, the Hamming-1
      // probe ring, every candidate's bucket and the final ranking —
      // approximate search made fully auditable
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      graft.pipeline.Similarity.portableLshTopK(
        emb, "vec_id", "embedding", q, 10, numPlanes = 6)
    },
    "q_ann_index" -> { (s, d) => // rows-only: approximate by construction
      // the persisted-index path: signatures computed once at build,
      // probe reads only the Hamming-1 bucket partitions
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val idx = tmpPath("ann_idx", d)
      graft.pipeline.Similarity.buildIndex(emb, "vec_id", "embedding", idx,
        dim = q.size, numPlanes = 6)
      graft.pipeline.Similarity.queryIndex(s, idx, q, 10)
    },
    "q_media_features" -> { (s, d) =>
      // multimodal batch path: synthetic media from documents →
      // per-partition decode/feature pass → bytes dropped
      val media = graft.pipeline.Multimodal.synthetic(s, s"$d/documents.parquet")
      graft.pipeline.Multimodal.extractFeatures(media)
        .select(col("media_id"), col("kind"), size(col("features")).as("dim"))
    },
    "q_image_neardup" -> { (s, d) =>
      // image near-dup through the REAL decode path: deterministic
      // synthetic PNGs (8×8 cell patterns; doc_id%50 picks the
      // pattern, parity picks 64px vs 32px rendering), signed with
      // pixel-derived dHash, paired by the SimHash combination
      // banding. Same-pattern pairs land within the radius (identical
      // bytes at equal size, a few gradient bits apart across sizes);
      // distinct patterns stay tens of bits out — so the pair set is
      // exactly the same-pattern pairs, which the oracle replays as
      // doc_id arithmetic. Everything is deterministic: bytes,
      // decode, hash, banding.
      // fixture persisted as parquet (build-once, like the reader
      // entries) so the scan carries REAL size stats — signing media
      // straight off a driver-built RDD leaves every downstream
      // estimate at the unknown-size default
      val media = mediaFixture(s, d, "imgdir") { id =>
        ("image", graft.pipeline.Multimodal.syntheticImagePng(
          if (id % 2 == 0) 64 else 32, (id % 50).toInt),
          org.apache.spark.sql.Row(null, null, null, "png"))
      }
      graft.pipeline.Multimodal.imageNearDupCandidates(media)
        .select(col("idA"), col("idB"))
    },
    "q_audio_neardup" -> { (s, d) =>
      // audio near-dup through the REAL decode path — the envelope
      // analogue of q_image_neardup: deterministic synthetic WAVs
      // (doc_id%50 keys the 65-window amplitude envelope, parity
      // picks 16 kHz vs 8 kHz), decoded by javax.sound, signed with
      // the comparative envelope dHash, paired by the combination
      // banding; pair set = same-envelope pairs, replayed by the
      // oracle as doc-id arithmetic
      val media = mediaFixture(s, d, "wavdir") { id =>
        val rate = if (id % 2 == 0) 16000f else 8000f
        ("audio", graft.pipeline.Multimodal.syntheticWavPcm((id % 50).toInt, rate),
          org.apache.spark.sql.Row(null, null, rate.toInt, "wav"))
      }
      graft.pipeline.Multimodal.audioNearDupCandidates(media)
        .select(col("idA"), col("idB"))
    },
    "q_video_neardup" -> { (s, d) =>
      // video near-dup through the REAL MJPEG-AVI decode path:
      // deterministic synthetic clips (doc_id%50 keys the 4-frame
      // pattern set, parity picks 1x vs 2x frame duplication — the
      // mean-grid clip hash is repeat-invariant), paired by the
      // combination banding; pair set = same-pattern pairs, replayed
      // as doc-id arithmetic
      val media = mediaFixture(s, d, "avidir") { id =>
        ("video", graft.pipeline.Multimodal.syntheticMjpegAvi(
          (id % 50).toInt, if (id % 2 == 0) 2 else 1),
          org.apache.spark.sql.Row(48, 48, null, "avi"))
      }
      graft.pipeline.Multimodal.videoNearDupCandidates(media)
        .select(col("idA"), col("idB"))
    },
    "q_ann_index_probe" -> { (s, d) => // rows-only: approximate by construction
      // steady-state cost of the persisted index: probe-only (the
      // sibling q_ann_index entry measures build+probe; this one
      // reuses its index when present, so the bench separates the
      // one-time indexing cost from per-query latency)
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val idx = tmpPath("ann_idx", d)
      if (!new java.io.File(s"$idx/_graft_ann_meta.json").exists())
        graft.pipeline.Similarity.buildIndex(emb, "vec_id", "embedding", idx,
          dim = q.size, numPlanes = 6)
      graft.pipeline.Similarity.queryIndex(s, idx, q, 10)
    },
    "q_ann_ivf" -> { (s, d) => // rows-only: approximate by construction
      // centroid-count-sized buckets (IVF) — the billion-vector scale
      // path; trains spherical k-means, probes nprobe partitions
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      val idx = tmpPath("ivf_idx", d)
      graft.pipeline.Ivf.buildIndex(emb, "vec_id", "embedding", idx,
        k = 8, iters = 3)
      graft.pipeline.Ivf.queryIndex(s, idx, q, 10, nprobe = 3)
    },
    "q_ann_ivf_portable" -> { (s, d) =>
      // the IVF family's hash-checked entry (round-18): FROZEN ±1
      // centroids replace k-means, so the oracle re-derives every
      // vector's argmax-dot cluster, the query's 3-centroid probe
      // ring and the exact rounded-cosine top-k — centroid-probed
      // approximate search made fully auditable (the k-means-trained
      // q_ann_ivf stays rows-only: Lloyd's iterations aren't
      // SQL-replayable)
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble)
      graft.pipeline.Ivf.portableTopK(emb, "vec_id", "embedding", q, 10,
        numCentroids = 8, nprobe = 3)
    },
    "q_knn_join_portable" -> { (s, d) =>
      // batch k-NN join, LSH form (round-19): a query TABLE (every
      // 199th vec_id) against the corpus — probe rings generated
      // map-side and exploded, one bucket equi-join, per-query top-5
      // via row_number; the oracle replays ring, candidates and
      // ranking per query (PARTITION BY qid)
      val emb = t(s, d, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(199)) === 0)
      graft.pipeline.Similarity.portableKnnJoin(q, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, dim = 64, numPlanes = 6)
    },
    "q_knn_join_ivf_portable" -> { (s, d) =>
      // batch k-NN join, IVF form: map-side top-3-centroid probe
      // explosion (NearestCentroids) on the query side vs argmax
      // assignment on the corpus side, equi-join on cluster,
      // per-query rounded-cosine top-5
      val emb = t(s, d, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(199)) === 0)
      graft.pipeline.Ivf.portableKnnJoin(q, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, dim = 64,
        numCentroids = 8, nprobe = 3)
    },
    "q_knn_join_ivf" -> { (s, d) =>
      // rows-only sibling: the k-means-trained model (Lloyd's isn't
      // SQL-replayable); row check pins k rows per query
      val emb = t(s, d, "embeddings")
      val q = emb.filter(pmod(col("vec_id"), lit(199)) === 0)
      val cents = graft.pipeline.Ivf.trainCentroids(emb, "embedding",
        k = 8, iters = 3)
      graft.pipeline.Ivf.knnJoin(q, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 5, cents, nprobe = 3)
    }
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for nondeterministic entries
    * (q_sample, q_slice_noorder) → driver records rows-only check. */
  /** DuckDB replay of [[graft.pipeline.Dedup.portableMinHashCandidates]]:
    * the affine coefficients come from the SAME
    * [[graft.functions.TextHashExprs.portableCoeffs]] the Spark
    * expression uses, inlined as list literals, so the oracle
    * re-derives every shingle hash, signature value, band bucket,
    * candidate pair and Jaccard score independently. */

  /** Shared CTE prefix that replays the committed BPE encoder in pure
    * SQL: the merge table as VALUES rows, then a recursive CTE that —
    * exactly like [[graft.functions.BpeModel.encodeWord]] — repeatedly
    * finds the lowest-rank merge whose space-delimited pair occurs in
    * the word's symbol string and joins the LEFTMOST occurrence, until
    * no merge applies. Runs over DISTINCT words only (the corpus
    * vocabulary), so the recursion is bounded by vocab × word length.
    * Exposes: `wb(w, toks)` word → subword list, and `wp(doc_id,
    * wlist, widx)` the per-document word positions to join back. */
  private def bpeOracleCtes: String = {
    val vals = graft.functions.Bpe.committed.mergesSqlValues
    s"""WITH RECURSIVE merges(rank, pat) AS (VALUES $vals),
       |dw AS (
       |  SELECT DISTINCT unnest(list_filter(
       |    regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '')) AS w
       |  FROM documents WHERE text IS NOT NULL
       |), init AS (
       |  SELECT w, concat(' ',
       |    array_to_string(regexp_split_to_array(w, ''), ' '), ' ') AS state
       |  FROM dw
       |), bpe AS (
       |  SELECT w, state FROM init
       |  UNION ALL
       |  SELECT w,
       |    substr(state, 1, instr(state, pat) - 1) || ' ' ||
       |      replace(trim(pat), ' ', '') || ' ' ||
       |      substr(state, instr(state, pat) + length(pat))
       |  FROM (SELECT w, state,
       |          (SELECT m.pat FROM merges m WHERE instr(state, m.pat) > 0
       |           ORDER BY m.rank LIMIT 1) AS pat
       |        FROM bpe) s
       |  WHERE pat IS NOT NULL
       |), wb AS (
       |  SELECT w, string_split(trim(state), ' ') AS toks FROM bpe
       |  WHERE NOT EXISTS (SELECT 1 FROM merges m WHERE instr(state, m.pat) > 0)
       |), wp AS (
       |  SELECT doc_id, wlist, unnest(generate_series(1, len(wlist))) AS widx
       |  FROM (SELECT doc_id, list_filter(
       |          regexp_split_to_array(lower(trim(text)), '\\s+'),
       |          x -> x <> '') AS wlist
       |        FROM documents WHERE text IS NOT NULL)
       |)""".stripMargin
  }

  /** Shared CTE prefix for the portable-MinHash oracles: documents →
    * tokens → md5-prefix shingle hashes (`sh`) → affine-mod signatures
    * → per-band ':'-joined bucket strings (`bands`) — the exact hash
    * family [[graft.pipeline.Dedup.portableMinHashSignTable]] emits,
    * with the coefficients inlined from the same
    * [[graft.functions.TextHashExprs.portableCoeffs]]. */
  private def portableMinHashCtes(numHashes: Int, bands: Int,
                                  shingleK: Int): String = {
    val (as, bs) = graft.functions.TextHashExprs.portableCoeffs(numHashes)
    val p = graft.functions.TextHashExprs.PortableMod
    val r = numHashes / bands
    s"""toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                             x -> x <> '') AS ts
       |  FROM documents WHERE text IS NOT NULL
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(generate_series(1, len(ts) - ${shingleK - 1}),
       |      i -> CAST(('0x' || substr(md5(array_to_string(
       |             list_slice(ts, i, i + ${shingleK - 1}), ' ')), 1, 8)) AS BIGINT))) AS hs
       |  FROM toks WHERE len(ts) >= $shingleK
       |), shx AS (
       |  SELECT doc_id, unnest(hs) AS x FROM sh
       |), coef AS (
       |  SELECT unnest(range($numHashes)) AS i,
       |         unnest(${as.mkString("[", ", ", "]")}) AS a,
       |         unnest(${bs.mkString("[", ", ", "]")}) AS b
       |), mh AS (
       |  SELECT s.doc_id, c.i, min((c.a * s.x + c.b) % $p) AS m
       |  FROM shx s CROSS JOIN coef c GROUP BY s.doc_id, c.i
       |), bands AS (
       |  SELECT doc_id, i // $r AS band,
       |         string_agg(m::VARCHAR, ':' ORDER BY i) AS bucket
       |  FROM mh GROUP BY doc_id, i // $r
       |)""".stripMargin
  }

  /** DuckDB replay of
    * [[graft.pipeline.Dedup.portableMinHashCandidatesAgainst]]: the
    * incremental (batch = odd doc_ids vs persisted corpus = even) form
    * over the same [[portableMinHashCtes]] hash family — band buckets
    * joined CROSS-SIDE only, then exact Jaccard on the shingle sets. */
  private def portableMinHashIncrOracle(numHashes: Int, bands: Int,
                                        shingleK: Int,
                                        threshold: Double): String =
    s"""WITH ${portableMinHashCtes(numHashes, bands, shingleK)},
       |n AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
       |c AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS idNew, c.doc_id AS idCorpus
       |  FROM n JOIN c ON n.band = c.band AND n.bucket = c.bucket
       |)
       |SELECT idNew, idCorpus, jaccard FROM (
       |  SELECT idNew, idCorpus,
       |         len(list_intersect(sa.hs, sb.hs)) /
       |         (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) AS jaccard
       |  FROM cand JOIN sh sa ON cand.idNew = sa.doc_id
       |            JOIN sh sb ON cand.idCorpus = sb.doc_id
       |) WHERE jaccard >= $threshold""".stripMargin

  /** All-pairs portable-MinHash replay on the SAME
    * [[portableMinHashCtes]] hash-family prefix the incremental oracle
    * uses (round-18 advice: the CTE body was duplicated here and could
    * silently diverge on a future edit — defined once now). */
  private def portableMinHashOracle(numHashes: Int, bands: Int,
                                    shingleK: Int, threshold: Double): String = {
    s"""WITH ${portableMinHashCtes(numHashes, bands, shingleK)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |  WHERE a.doc_id < b.doc_id
       |)
       |SELECT * FROM (
       |  SELECT idA, idB,
       |         len(list_intersect(sa.hs, sb.hs)) /
       |         (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) AS jaccard
       |  FROM cand JOIN sh sa ON cand.idA = sa.doc_id
       |            JOIN sh sb ON cand.idB = sb.doc_id
       |) WHERE jaccard >= $threshold""".stripMargin
  }

  /** DuckDB replay of [[graft.pipeline.Dedup.portableSimHashCandidates]]
    * at the per-bit-vote level — DuckDB cannot shift into bit 63 of a
    * BIGINT, so the oracle never materializes the 64-bit signature:
    * chunk bucket values are summed from the bits of their own range
    * (≤13 bits each) and Hamming distance is the count of differing
    * bits. Chunk boundaries are generated from the same
    * `i * 64 / m` split the Spark operator uses. */
  private def portableSimHashOracle(maxHamming: Int, cleanChunks: Int): String = {
    val m = maxHamming + cleanChunks
    val lows = (0 to m).map(i => i * 64 / m)
    val chunkCase = "CASE " +
      (0 until m).map(i => s"WHEN b < ${lows(i + 1)} THEN $i").mkString(" ") + " END"
    val loCase = "CASE " +
      (0 until m).map(i => s"WHEN b < ${lows(i + 1)} THEN ${lows(i)}").mkString(" ") + " END"
    val pivot = (0 until m)
      .map(i => s"max(CASE WHEN c = $i THEN v END) AS c$i").mkString(", ")
    val combos = (0 until m).combinations(cleanChunks).toSeq
    val keyList = combos.zipWithIndex.map { case (combo, cid) =>
      s"'$cid" + combo.map(i => s":' || c$i || '").mkString + "'"
    }.mkString("[", ", ", "]")
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(
       |           lower(trim(coalesce(text, ''))), '\\s+'), x -> x <> '') AS ts
       |  FROM documents
       |), tokh AS (
       |  SELECT doc_id, unnest(list_transform(ts,
       |           t -> ('0x' || substr(md5(t), 1, 16))::UBIGINT)) AS h
       |  FROM toks
       |), grid AS (
       |  SELECT doc_id, unnest(range(64)) AS b FROM (SELECT doc_id FROM documents)
       |), votes AS (
       |  SELECT t.doc_id, g.b,
       |         CASE WHEN (t.h >> g.b) & 1 = 1 THEN 1 ELSE -1 END AS v
       |  FROM tokh t JOIN (SELECT unnest(range(64)) AS b) g ON true
       |), bits AS (
       |  SELECT g.doc_id, g.b,
       |         CASE WHEN coalesce(sum(v.v), 0) > 0 THEN 1 ELSE 0 END AS bit
       |  FROM grid g LEFT JOIN votes v ON v.doc_id = g.doc_id AND v.b = g.b
       |  GROUP BY g.doc_id, g.b
       |), chunkv AS (
       |  SELECT doc_id, $chunkCase AS c,
       |         sum(bit * (1 << (b - ($loCase)))) AS v
       |  FROM bits GROUP BY doc_id, 2
       |), ch AS (
       |  SELECT doc_id, $pivot FROM chunkv GROUP BY doc_id
       |), keys AS (
       |  SELECT doc_id, unnest($keyList) AS k FROM ch
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS idA, b.doc_id AS idB
       |  FROM keys a JOIN keys b ON a.k = b.k WHERE a.doc_id < b.doc_id
       |)
       |SELECT idA, idB, hamming FROM (
       |  SELECT c.idA, c.idB, CAST(sum(abs(ba.bit - bb.bit)) AS BIGINT) AS hamming
       |  FROM cand c JOIN bits ba ON ba.doc_id = c.idA
       |              JOIN bits bb ON bb.doc_id = c.idB AND bb.b = ba.b
       |  GROUP BY c.idA, c.idB
       |) WHERE hamming <= $maxHamming""".stripMargin
  }

  /** Shared by q_asof_join and q_asof_lookup: both implement the
    * same as-of semantics, so one DuckDB window replay certifies
    * both (and that they agree with each other). */
  private val asofOracle: String =
    """WITH ev AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS t, value, event_type
        |  FROM events
        |), u AS (
        |  SELECT user_id, t, 0 AS side, event_id AS ord,
        |         event_id AS r_eid, value AS r_val, t AS r_t,
        |         NULL::BIGINT AS l_eid, NULL::DOUBLE AS l_val
        |  FROM ev WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, t, 1, NULL, NULL, NULL, NULL, event_id, value
        |  FROM ev WHERE event_type = 'click'
        |), m AS (
        |  SELECT *, last_value(
        |      CASE WHEN side = 0
        |           THEN struct_pack(eid := r_eid, val := r_val, rt := r_t)
        |      END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY t, side, ord
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mm
        |  FROM u
        |)
        |SELECT l_eid AS event_id, user_id, t AS ts, l_val AS value,
        |  CASE WHEN mm IS NOT NULL AND t - mm.rt <= 3600000000
        |       THEN mm.eid END AS asof_event_id,
        |  CASE WHEN mm IS NOT NULL AND t - mm.rt <= 3600000000
        |       THEN mm.val END AS asof_value,
        |  CASE WHEN mm IS NOT NULL AND t - mm.rt <= 3600000000
        |       THEN mm.rt END AS asof_ts
        |FROM m WHERE side = 1""".stripMargin

  /** Unrolled fixed-iteration PageRank replay: one (dangling-mass,
    * rank) CTE pair per iteration, same operation order as the Spark
    * implementation so every double matches to summation-order noise
    * (~1e-14, unobservable at the 6-dp round). */
  private def pageRankOracle(iters: Int): String = {
    // every CTE is MATERIALIZED (round-17): each rank table r$i is
    // referenced three times by r${i+1}, so the default inlining
    // expands the base join 3^iters times — at 10x that exhausted
    // DuckDB's temp space / never finished; materialized per-iteration
    // tables bound the temp footprint (5 s at 10x) with the SAME
    // operation order, so hashes are unchanged
    val header =
      """WITH e AS MATERIALIZED (
        |  SELECT DISTINCT 's' || l_suppkey::VARCHAR AS src,
        |                  'p' || l_partkey::VARCHAR AS dst FROM lineitem
        |), nodes AS MATERIALIZED (
        |  SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        |od AS MATERIALIZED (
        |  SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS outdeg
        |  FROM e GROUP BY 1),
        |r0 AS MATERIALIZED (
        |  SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
        .stripMargin
    val its = (1 to iters).map { i =>
      s""",
         |dm$i AS MATERIALIZED (SELECT COALESCE(SUM(rank), 0) AS dm FROM r${i - 1}
         |  WHERE node NOT IN (SELECT node FROM od)),
         |r$i AS MATERIALIZED (
         |  SELECT nodes.node,
         |    (1 - 0.85) / (SELECT n FROM nn) + 0.85 * (COALESCE(c.inr, 0)
         |      + (SELECT dm FROM dm$i) / (SELECT n FROM nn)) AS rank
         |  FROM nodes LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.rank / od.outdeg) AS inr
         |    FROM r${i - 1} r JOIN od ON od.node = r.node
         |    JOIN e ON e.src = r.node GROUP BY 1) c ON c.node = nodes.node)"""
        .stripMargin
    }.mkString
    header + its + s"\nSELECT node, round(rank, 6) AS rank FROM r$iters"
  }

  /** Shared CTE prefix for the decontamination oracle: the benchmark
    * passages (12-token slices of every doc_id % 97 == 0 document) and
    * the portable window-hash tables of both sides, replayed exactly as
    * [[graft.pipeline.Decontaminate]] computes them. */
  private def decontamOracle(tail: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                             x -> x <> '') AS ts
       |  FROM documents WHERE text IS NOT NULL
       |), bench_txt AS (
       |  SELECT doc_id AS bench_id, array_to_string(list_slice(ts, 3, 14), ' ') AS btext
       |  FROM toks WHERE doc_id % 97 = 0 AND len(ts) >= 14
       |), bfp AS (
       |  SELECT bench_id, unnest(list_distinct(list_transform(
       |    CASE WHEN len(bts) >= 8
       |         THEN list_transform(generate_series(1, len(bts) - 7),
       |                             i -> array_to_string(list_slice(bts, i, i + 7), ' '))
       |         ELSE [array_to_string(bts, ' ')] END,
       |    w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)))) AS fp
       |  FROM (SELECT bench_id, regexp_split_to_array(btext, ' ') AS bts FROM bench_txt)
       |), tfp AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    CASE WHEN len(ts) >= 8
       |         THEN list_transform(generate_series(1, len(ts) - 7),
       |                             i -> array_to_string(list_slice(ts, i, i + 7), ' '))
       |         ELSE [array_to_string(ts, ' ')] END,
       |    w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)))) AS fp
       |  FROM toks
       |)
       |$tail""".stripMargin

  /** DuckDB replay of [[graft.pipeline.Dedup.portableEmbeddingCandidates]]:
    * the md5-derived ±1 plane matrix is inlined as exact list literals,
    * so the oracle independently recomputes every projection sign,
    * signature bucket, candidate pair and verification cosine. */
  private def portableEmbeddingOracle(numPlanes: Int, dim: Int,
                                      threshold: Double): String = {
    val sigExpr = graft.pipeline.Dedup
      .portableHyperplaneLiterals(numPlanes, dim)
      .zipWithIndex.map { case (pl, p) =>
        s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $pl::DOUBLE[]) > 0" +
          s" THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n         ")
    s"""WITH sigs AS (
       |  SELECT vec_id,
       |         $sigExpr AS bucket
       |  FROM embeddings WHERE embedding IS NOT NULL
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS idA, b.vec_id AS idB
       |  FROM sigs a JOIN sigs b ON a.bucket = b.bucket
       |  WHERE a.vec_id < b.vec_id
       |)
       |SELECT idA, idB, round(c, 6) AS cos FROM (
       |  SELECT cand.idA, cand.idB,
       |         list_cosine_similarity(ea.embedding::DOUBLE[],
       |                                eb.embedding::DOUBLE[]) AS c
       |  FROM cand JOIN embeddings ea ON cand.idA = ea.vec_id
       |            JOIN embeddings eb ON cand.idB = eb.vec_id
       |) WHERE c >= $threshold""".stripMargin
  }

  /** DuckDB replay of [[graft.pipeline.Search.bm25TopK]]: the folded
    * constants (k1+1, 1-b, ...) inline as round-trip double literals
    * and every arithmetic step keeps the same association, so only
    * libm `ln` and summation order can differ — both absorbed by
    * ranking on the 6-decimal-rounded score. */
  private def bm25Ctes(terms: Seq[String], k1: Double, b: Double): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val k1p1 = k1 + 1
    val omb = 1 - b
    s"""WITH tl AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
       |                             x -> x <> '') AS ts
       |  FROM documents WHERE text IS NOT NULL
       |), stats AS (
       |  SELECT count(*) AS n, avg(len(ts)) AS avgdl FROM tl
       |), tf AS (
       |  SELECT doc_id, dl, t AS term, count(*) AS tf
       |  FROM (SELECT doc_id, len(ts) AS dl, unnest(ts) AS t FROM tl)
       |  WHERE t IN ($termList) GROUP BY doc_id, dl, t
       |), dft AS (
       |  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
       |), scored AS (
       |  SELECT tf.doc_id,
       |    sum( ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
       |         ((tf * $k1p1) / (tf + $k1 * ($omb + ($b * dl) / avgdl))) ) AS score
       |  FROM tf JOIN dft USING (term) CROSS JOIN stats
       |  GROUP BY tf.doc_id
       |)""".stripMargin
  }

  private def bm25Oracle(terms: Seq[String], k: Int,
                         k1: Double, b: Double): String =
    bm25Ctes(terms, k1, b) +
      s"""
         |SELECT doc_id, round(score, 6) AS score FROM scored
         |ORDER BY round(score, 6) DESC, doc_id LIMIT $k""".stripMargin

  /** DuckDB replay of [[graft.pipeline.Similarity.portableLshTopK]]:
    * re-derives the query's bucket, the Hamming-1 probe ring, every
    * candidate's bucket and the rounded-cosine ranking from the same
    * inlined ±1 plane literals. */
  private def portableAnnOracle(numPlanes: Int, dim: Int, k: Int): String = {
    def sigExpr(c: String) = graft.pipeline.Dedup
      .portableHyperplaneLiterals(numPlanes, dim).zipWithIndex
      .map { case (pl, p) =>
        s"(CASE WHEN list_dot_product($c::DOUBLE[], $pl::DOUBLE[]) > 0" +
          s" THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n         ")
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       |qsig AS (SELECT ${sigExpr("qe")} AS qb FROM q),
       |probes AS (
       |  SELECT qb AS pb FROM qsig
       |  UNION ALL
       |  SELECT xor(qb, (1::BIGINT << b)) FROM qsig CROSS JOIN
       |    (SELECT unnest(range($numPlanes)) AS b)
       |), sigs AS (
       |  SELECT vec_id, embedding, ${sigExpr("embedding")} AS bucket
       |  FROM embeddings WHERE embedding IS NOT NULL
       |)
       |SELECT vec_id, round(c, 6) AS cos FROM (
       |  SELECT s.vec_id,
       |         list_cosine_similarity(s.embedding::DOUBLE[],
       |                                (SELECT qe FROM q)::DOUBLE[]) AS c
       |  FROM sigs s JOIN probes ON s.bucket = probes.pb
       |)
       |ORDER BY round(c, 6) DESC, vec_id LIMIT $k""".stripMargin
  }

  /** DuckDB replay of [[graft.pipeline.Similarity.portableKnnJoin]]:
    * every query's ±1-plane signature, Hamming-1 probe ring, candidate
    * set and per-query rounded-cosine row_number ranking re-derived
    * from the same inlined plane literals — the batch k-NN join made
    * fully auditable. */
  private def portableKnnJoinOracle(numPlanes: Int, dim: Int, k: Int,
                                    qMod: Int): String = {
    def sigExpr(c: String) = graft.pipeline.Dedup
      .portableHyperplaneLiterals(numPlanes, dim).zipWithIndex
      .map { case (pl, p) =>
        s"(CASE WHEN list_dot_product($c::DOUBLE[], $pl::DOUBLE[]) > 0" +
          s" THEN ${1L << p} ELSE 0 END)"
      }.mkString(" +\n         ")
    s"""WITH qs AS (
       |  SELECT vec_id AS qid, embedding AS qe, ${sigExpr("embedding")} AS qb
       |  FROM embeddings WHERE vec_id % $qMod = 0 AND embedding IS NOT NULL
       |), probes AS (
       |  SELECT qid, qe, qb AS pb FROM qs
       |  UNION ALL
       |  SELECT qid, qe, xor(qb, (1::BIGINT << b)) FROM qs CROSS JOIN
       |    (SELECT unnest(range($numPlanes)) AS b)
       |), sigs AS (
       |  SELECT vec_id, embedding, ${sigExpr("embedding")} AS bucket
       |  FROM embeddings WHERE embedding IS NOT NULL
       |)
       |SELECT qid, id, cos, rank FROM (
       |  SELECT qid, id, cos,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, id) AS rank
       |  FROM (
       |    SELECT p.qid, s.vec_id AS id,
       |           round(list_cosine_similarity(s.embedding::DOUBLE[],
       |                                        p.qe::DOUBLE[]), 6) AS cos
       |    FROM probes p JOIN sigs s ON s.bucket = p.pb))
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB replay of [[graft.pipeline.Ivf.portableKnnJoin]]: the ±1
    * centroid literals inline; every corpus row's argmax-dot
    * assignment, every query's top-`nprobe` probe ring (ties to the
    * lower centroid index on both — same as
    * [[graft.functions.VectorExprs.NearestCentroids]]) and the
    * per-query rounded-cosine ranking re-derived independently. */
  private def portableKnnJoinIvfOracle(numCentroids: Int, dim: Int, k: Int,
                                       nprobe: Int, qMod: Int): String = {
    val centVals = graft.pipeline.Clustering
      .portableSemanticCentroidLiterals(numCentroids, dim)
      .zipWithIndex.map { case (c, i) => s"($i, $c::DOUBLE[])" }
      .mkString(", ")
    s"""WITH cents(cidx, c) AS (SELECT * FROM (VALUES $centVals)),
       |qs AS (
       |  SELECT vec_id AS qid, embedding AS qe
       |  FROM embeddings WHERE vec_id % $qMod = 0 AND embedding IS NOT NULL
       |), probes AS (
       |  SELECT qid, qe, cidx AS pc FROM (
       |    SELECT q.qid, q.qe, c.cidx,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY list_dot_product(q.qe::DOUBLE[], c.c) DESC,
       |                 c.cidx ASC) AS rn
       |    FROM qs q CROSS JOIN cents c) WHERE rn <= $nprobe
       |), assign AS (
       |  SELECT vec_id, embedding, cidx AS cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cidx,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c) DESC,
       |                 c.cidx ASC) AS rn
       |    FROM (SELECT vec_id, embedding FROM embeddings
       |          WHERE embedding IS NOT NULL) e
       |    CROSS JOIN cents c) WHERE rn = 1
       |)
       |SELECT qid, id, cos, rank FROM (
       |  SELECT qid, id, cos,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY cos DESC, id) AS rank
       |  FROM (
       |    SELECT p.qid, a.vec_id AS id,
       |           round(list_cosine_similarity(a.embedding::DOUBLE[],
       |                                        p.qe::DOUBLE[]), 6) AS cos
       |    FROM probes p JOIN assign a ON a.cluster = p.pc))
       |WHERE rank <= $k""".stripMargin
  }

  /** Structural row-count invariants for the entries that ship no SQL
    * oracle (SAMPLE / unordered LIMIT / hash-family-specific LSH
    * candidate sets): [[Verify]] asserts these after each dump, so
    * "rows-only" means CHECKED against a stated bound, not merely
    * recorded (round-8 advice). Bounds hold at every scale factor:
    * exact counts are structural (5 market segments; LIMIT 50; top-k
    * k=10 over corpora ≫ 10), the ≥1 bounds reflect the planted
    * near-duplicate groups in every documents build. */
  val rowChecks: Map[String, (Long => Boolean, String)] = Map(
    "q_sample" -> (((n: Long) => n == 5L, "exactly 5 (one per mktsegment)")),
    "q_slice_noorder" -> (((n: Long) => n == 50L, "exactly 50 (LIMIT 50)")),
    "q_ann_lsh" -> (((n: Long) => n == 10L, "exactly 10 (top-k)")),
    "q_ann_index" -> (((n: Long) => n == 10L, "exactly 10 (top-k)")),
    "q_ann_index_probe" -> (((n: Long) => n == 10L, "exactly 10 (top-k)")),
    "q_ann_ivf" -> (((n: Long) => n == 10L, "exactly 10 (top-k)")),
    "q_knn_join_ivf" -> (((n: Long) => n > 0L && n % 5L == 0L,
      "k=5 rows per query (every probed cluster holds >= 5 candidates)")),
    "q_dedup_minhash" -> (((n: Long) => n >= 1L, ">= 1 (planted near-dups)")),
    "q_dedup_simhash" -> (((n: Long) => n >= 1L, ">= 1 (planted near-dups)")),
    "q_dedup_embedding" -> (((n: Long) => n >= 1L, ">= 1 (planted near-dups)")),
    "q_dedup_incremental" -> (((n: Long) => n >= 1L, ">= 1 (planted near-dups)")))

  lazy val oracleSql: Map[String, String] = Map(
    "q_scan" ->
      "SELECT 'urn:n:'||n_nationkey::VARCHAR AS n, n_name AS nname FROM nation",
    "q_singleton" -> "SELECT CAST(1 AS BIGINT) AS x",
    "q_read_ttl_dir" ->
      """SELECT 'urn:n:'||n_nationkey::VARCHAR AS s, 'urn:p:nname' AS p,
        |       n_name AS o FROM nation
        |UNION ALL
        |SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:p:region',
        |       'urn:r:'||n_regionkey::VARCHAR FROM nation""".stripMargin,
    "q_read_trix" ->
      """SELECT 'urn:n:'||n_nationkey::VARCHAR AS s, 'urn:p:nname' AS p,
        |       n_name AS o, 'urn:g:r'||n_regionkey::VARCHAR AS g FROM nation
        |UNION ALL
        |SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:p:region',
        |       'urn:r:'||n_regionkey::VARCHAR, '' FROM nation""".stripMargin,
    "q_read_rj" ->
      """SELECT 'urn:n:'||n_nationkey::VARCHAR AS s, 'urn:p:nname' AS p,
        |       n_name AS o FROM nation
        |UNION ALL
        |SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:p:region',
        |       'urn:r:'||n_regionkey::VARCHAR FROM nation""".stripMargin,
    "q_read_compressed" ->
      """SELECT 'urn:n:'||n_nationkey::VARCHAR AS s, 'urn:p:nname' AS p,
        |       n_name AS o FROM nation
        |UNION ALL
        |SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:p:region',
        |       'urn:r:'||n_regionkey::VARCHAR FROM nation""".stripMargin,
    "q_read_jsonl" ->
      """WITH h AS (
        |  SELECT doc_id,
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    '<p>' || text || '</p><script>track();</script>',
        |    '(?is)<(script|style)\b[^>]*>.*?</(script|style)\s*>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g'),
        |    '(?s)</?[A-Za-z!][^>]*>', ' ', 'g'),
        |    '&lt;', '<', 'g'),
        |    '&gt;', '>', 'g'),
        |    '&quot;', chr(34), 'g'),
        |    '&(#39|apos);', chr(39), 'g'),
        |    '&amp;', '&', 'g')
        |   || ' caf' || chr(233) || chr(8217) || 's na' || chr(239) || 've'
        |   || ' mail a@b.co from 10.0.0.1' AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, trim(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(nfc_normalize(t),
        |         '\r\n?', chr(10), 'g'),
        |       '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '[ \t]+', ' ', 'g'),
        |     ' *\n *', chr(10), 'g'),
        |    '\n{3,}', chr(10)||chr(10), 'g')) AS t
        |  FROM h
        |)
        |SELECT doc_id,
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(t,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |   '\+?\(?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS cleaned
        |FROM c""".stripMargin,
    "q_read_warc" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    '<html><body><p>' || text ||
        |    '</p><!-- c --><script>x()</script></body></html>' AS t
        |  FROM documents WHERE doc_id < 400
        |), h AS (
        |  SELECT doc_id,
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '(?is)<(script|style)\b[^>]*>.*?</(script|style)\s*>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g'),
        |    '(?s)</?[A-Za-z!][^>]*>', ' ', 'g'),
        |    '&lt;', '<', 'g'),
        |    '&gt;', '>', 'g'),
        |    '&quot;', chr(34), 'g'),
        |    '&(#39|apos);', chr(39), 'g'),
        |    '&amp;', '&', 'g') AS t
        |  FROM w
        |)
        |SELECT doc_id, trim(
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(nfc_normalize(t),
        |        '\r\n?', chr(10), 'g'),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |     '[ \t]+', ' ', 'g'),
        |    ' *\n *', chr(10), 'g'),
        |   '\n{3,}', chr(10)||chr(10), 'g')) AS stripped
        |FROM h""".stripMargin,
    "q_warc_e2e" -> {
      val L = graft.functions.LangIdExprs
      val n = L.languages.length
      s"""WITH prof(lang, g, r) AS (VALUES ${L.profilesSqlValues}),
         |seeds(lidx, vidx, txt) AS (VALUES ${L.seedsSqlValues}),
         |outp(oidx, txt) AS (VALUES ${L.outOfSetSqlValues}),
         |pg AS (
         |  SELECT d.doc_id,
         |         CASE WHEN d.doc_id % 17 = 0 THEN o.txt
         |              ELSE s.txt || ' ' || d.text END AS content
         |  FROM documents d
         |  JOIN seeds s ON s.lidx = d.doc_id % $n
         |              AND s.vidx = (d.doc_id // $n) % 2
         |  LEFT JOIN outp o ON d.doc_id % 17 = 0
         |    AND o.oidx = (d.doc_id // 17) % ${L.outOfSetProbes.length}
         |  WHERE d.doc_id < 300
         |), fetches AS (
         |  SELECT doc_id AS page_id, content FROM pg
         |  UNION ALL
         |  SELECT doc_id + 10000, content FROM pg WHERE doc_id % 7 = 3
         |), w AS (
         |  SELECT page_id,
         |    '<html><body><p>' || content ||
         |    '</p><!-- c --><script>x()</script></body></html>' AS t
         |  FROM fetches
         |), h AS (
         |  SELECT page_id,
         |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '(?is)<(script|style)\\b[^>]*>.*?</(script|style)\\s*>', ' ', 'g'),
         |    '(?s)<!--.*?-->', ' ', 'g'),
         |    '(?s)</?[A-Za-z!][^>]*>', ' ', 'g'),
         |    '&lt;', '<', 'g'),
         |    '&gt;', '>', 'g'),
         |    '&quot;', chr(34), 'g'),
         |    '&(#39|apos);', chr(39), 'g'),
         |    '&amp;', '&', 'g') AS t
         |  FROM w
         |), cleanpg AS (
         |  SELECT page_id, trim(
         |   regexp_replace(
         |    regexp_replace(
         |     regexp_replace(
         |      regexp_replace(
         |       regexp_replace(nfc_normalize(t),
         |         '\\r\\n?', chr(10), 'g'),
         |       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
         |      '[ \\t]+', ' ', 'g'),
         |     ' *\\n *', chr(10), 'g'),
         |    '\\n{3,}', chr(10)||chr(10), 'g')) AS cleaned
         |  FROM h
         |), inp AS (
         |  SELECT page_id, substr(cleaned, 1, 150) AS t FROM cleanpg
         |), padded AS (
         |  SELECT page_id, '_' || w || '_' AS p
         |  FROM (SELECT page_id, unnest(list_filter(
         |          regexp_split_to_array(lower(t), '\\s+'), x -> x <> '')) AS w
         |        FROM inp)
         |), grams AS (
         |  SELECT page_id, unnest(flatten(list_transform([1, 2, 3], nn ->
         |    list_transform(generate_series(1, length(p) - nn + 1), i ->
         |      substr(p, i, nn))))) AS g
         |  FROM padded
         |), docprof AS (
         |  SELECT page_id, g,
         |         row_number() OVER (PARTITION BY page_id
         |                            ORDER BY count(*) DESC, md5(g) ASC) AS i
         |  FROM grams GROUP BY page_id, g
         |  QUALIFY i <= ${L.ProfileSize}
         |), dist AS (
         |  SELECT dp.page_id, l.lang,
         |         sum(coalesce(abs(dp.i - pr.r), ${L.ProfileSize})) AS dist
         |  FROM docprof dp
         |  CROSS JOIN (SELECT DISTINCT lang FROM prof) l
         |  LEFT JOIN prof pr ON pr.lang = l.lang AND pr.g = dp.g
         |  GROUP BY 1, 2
         |), ranked AS (
         |  SELECT page_id, lang, dist,
         |         row_number() OVER (PARTITION BY page_id
         |                            ORDER BY dist ASC, lang ASC) AS rn
         |  FROM dist
         |), kk AS (
         |  SELECT page_id, max(i) AS k FROM docprof GROUP BY page_id
         |), pred AS (
         |  SELECT r1.page_id,
         |         CASE WHEN r1.dist * 100 > ${L.UndDistPct} * kk.k * ${L.ProfileSize}
         |                OR (r2.dist - r1.dist) * 1000
         |                     < ${L.UndMarginPerMille} * kk.k * ${L.ProfileSize}
         |              THEN 'und' ELSE r1.lang END AS lang_pred
         |  FROM ranked r1
         |  JOIN ranked r2 ON r2.page_id = r1.page_id AND r2.rn = 2
         |  JOIN kk ON kk.page_id = r1.page_id
         |  WHERE r1.rn = 1
         |), fpt AS (
         |  SELECT page_id,
         |    md5(regexp_replace(lower(trim(cleaned)), '\\s+', ' ', 'g')) AS fp,
         |    CAST(len(list_filter(regexp_split_to_array(lower(trim(cleaned)),
         |      '\\s+'), x -> x <> '')) AS BIGINT) AS ntok
         |  FROM cleanpg
         |), kept AS (
         |  SELECT page_id, ntok FROM (
         |    SELECT page_id, ntok,
         |           row_number() OVER (PARTITION BY fp ORDER BY page_id) AS rn
         |    FROM fpt) WHERE rn = 1
         |)
         |SELECT p.lang_pred, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(k.ntok) AS BIGINT) AS total_tokens,
         |       min(k.page_id) AS first_page
         |FROM kept k JOIN pred p ON p.page_id = k.page_id
         |GROUP BY 1""".stripMargin
    },
    "q_warc_e2e_scored" -> {
      val L = graft.functions.LangIdExprs
      val n = L.languages.length
      val esIdx = L.languages.indexOf("es")
      val ptIdx = L.languages.indexOf("pt")
      s"""WITH prof(lang, g, r) AS (VALUES ${L.profilesSqlValues}),
         |seeds(lidx, vidx, txt) AS (VALUES ${L.seedsSqlValues}),
         |outp(oidx, txt) AS (VALUES ${L.outOfSetSqlValues}),
         |pg AS (
         |  SELECT d.doc_id,
         |         CASE WHEN d.doc_id % 17 = 0 THEN o.txt
         |              WHEN d.doc_id % 13 = 5 THEN
         |                substr(es.txt, 1, 70) || ' ' ||
         |                substr(pt.txt, 1, 70) || ' ' || d.text
         |              ELSE s.txt || ' ' || d.text END AS content
         |  FROM documents d
         |  JOIN seeds s ON s.lidx = d.doc_id % $n
         |              AND s.vidx = (d.doc_id // $n) % 2
         |  JOIN seeds es ON es.lidx = $esIdx AND es.vidx = 0
         |  JOIN seeds pt ON pt.lidx = $ptIdx AND pt.vidx = 0
         |  LEFT JOIN outp o ON d.doc_id % 17 = 0
         |    AND o.oidx = (d.doc_id // 17) % ${L.outOfSetProbes.length}
         |  WHERE d.doc_id < 300
         |), fetches AS (
         |  SELECT doc_id AS page_id, content FROM pg
         |  UNION ALL
         |  SELECT doc_id + 10000, content FROM pg WHERE doc_id % 7 = 3
         |), w AS (
         |  SELECT page_id,
         |    '<html><body><p>' || content ||
         |    '</p><!-- c --><script>x()</script></body></html>' AS t
         |  FROM fetches
         |), h AS (
         |  SELECT page_id,
         |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
         |    '(?is)<(script|style)\\b[^>]*>.*?</(script|style)\\s*>', ' ', 'g'),
         |    '(?s)<!--.*?-->', ' ', 'g'),
         |    '(?s)</?[A-Za-z!][^>]*>', ' ', 'g'),
         |    '&lt;', '<', 'g'),
         |    '&gt;', '>', 'g'),
         |    '&quot;', chr(34), 'g'),
         |    '&(#39|apos);', chr(39), 'g'),
         |    '&amp;', '&', 'g') AS t
         |  FROM w
         |), cleanpg AS (
         |  SELECT page_id, trim(
         |   regexp_replace(
         |    regexp_replace(
         |     regexp_replace(
         |      regexp_replace(
         |       regexp_replace(nfc_normalize(t),
         |         '\\r\\n?', chr(10), 'g'),
         |       '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'),
         |      '[ \\t]+', ' ', 'g'),
         |     ' *\\n *', chr(10), 'g'),
         |    '\\n{3,}', chr(10)||chr(10), 'g')) AS cleaned
         |  FROM h
         |), inp AS (
         |  SELECT page_id, substr(cleaned, 1, 150) AS t FROM cleanpg
         |), padded AS (
         |  SELECT page_id, '_' || w || '_' AS p
         |  FROM (SELECT page_id, unnest(list_filter(
         |          regexp_split_to_array(lower(t), '\\s+'), x -> x <> '')) AS w
         |        FROM inp)
         |), grams AS (
         |  SELECT page_id, unnest(flatten(list_transform([1, 2, 3], nn ->
         |    list_transform(generate_series(1, length(p) - nn + 1), i ->
         |      substr(p, i, nn))))) AS g
         |  FROM padded
         |), docprof AS (
         |  SELECT page_id, g,
         |         row_number() OVER (PARTITION BY page_id
         |                            ORDER BY count(*) DESC, md5(g) ASC) AS i
         |  FROM grams GROUP BY page_id, g
         |  QUALIFY i <= ${L.ProfileSize}
         |), dist AS (
         |  SELECT dp.page_id, l.lang,
         |         sum(coalesce(abs(dp.i - pr.r), ${L.ProfileSize})) AS dist
         |  FROM docprof dp
         |  CROSS JOIN (SELECT DISTINCT lang FROM prof) l
         |  LEFT JOIN prof pr ON pr.lang = l.lang AND pr.g = dp.g
         |  GROUP BY 1, 2
         |), ranked AS (
         |  SELECT page_id, lang, dist,
         |         row_number() OVER (PARTITION BY page_id
         |                            ORDER BY dist ASC, lang ASC) AS rn
         |  FROM dist
         |), kk AS (
         |  SELECT page_id, max(i) AS k FROM docprof GROUP BY page_id
         |), pred AS (
         |  SELECT r1.page_id,
         |         CASE WHEN r1.dist * 100 > ${L.UndDistPct} * kk.k * ${L.ProfileSize}
         |                OR (r2.dist - r1.dist) * 1000
         |                     < ${L.UndMarginPerMille} * kk.k * ${L.ProfileSize}
         |              THEN 'und'
         |              WHEN (r2.dist - r1.dist) * 1000
         |                     < ${L.QuarMarginPerMille} * kk.k * ${L.ProfileSize}
         |              THEN 'quarantine'
         |              ELSE r1.lang END AS stratum
         |  FROM ranked r1
         |  JOIN ranked r2 ON r2.page_id = r1.page_id AND r2.rn = 2
         |  JOIN kk ON kk.page_id = r1.page_id
         |  WHERE r1.rn = 1
         |), fpt AS (
         |  SELECT page_id,
         |    md5(regexp_replace(lower(trim(cleaned)), '\\s+', ' ', 'g')) AS fp,
         |    CAST(len(list_filter(regexp_split_to_array(lower(trim(cleaned)),
         |      '\\s+'), x -> x <> '')) AS BIGINT) AS ntok
         |  FROM cleanpg
         |), kept AS (
         |  SELECT page_id, ntok FROM (
         |    SELECT page_id, ntok,
         |           row_number() OVER (PARTITION BY fp ORDER BY page_id) AS rn
         |    FROM fpt) WHERE rn = 1
         |)
         |SELECT p.stratum, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(k.ntok) AS BIGINT) AS total_tokens,
         |       min(k.page_id) AS first_page
         |FROM kept k JOIN pred p ON p.page_id = k.page_id
         |GROUP BY 1""".stripMargin
    },
    "q_bgp_join" ->
      """SELECT n_name AS nname, r_name AS rname
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q_dict_build" ->
      """SELECT c_name AS cname, n_name AS nname, r_name AS rname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q_dict_append" ->
      """SELECT c_name AS cname, n_name AS nname, r_name AS rname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q_dict_append_bucketed" ->
      """SELECT c_name AS cname, n_name AS nname, r_name AS rname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q_dict_probe" ->
      """SELECT c_name AS cname, n_name AS nname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'""".stripMargin,
    "q_dict_optional" ->
      """SELECT n.n_name AS nname, c.c_name AS cname
        |FROM nation n
        |JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |LEFT JOIN customer c
        |  ON c.c_nationkey = n.n_nationkey AND c.c_mktsegment = 'MACHINERY'""".stripMargin,
    "q_dict_count" ->
      """SELECT n_name AS nname, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS nseg
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_dict_not_exists" ->
      "SELECT c_name AS cname FROM customer WHERE c_mktsegment <> 'BUILDING'",
    "q_dict_exists_corr" ->
      """SELECT c.c_name AS cname FROM customer c
        |WHERE EXISTS (SELECT 1 FROM customer c2
        |              WHERE c2.c_nationkey = c.c_nationkey
        |                AND c2.c_acctbal > c.c_acctbal)""".stripMargin,
    "q_dict_bucketed" ->
      """SELECT c_name AS cname, c_mktsegment AS seg, n_name AS nname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q_dict_filter" ->
      """SELECT c_name AS cname, c_acctbal AS bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > 5000 AND n_name <> 'NATION_7'""".stripMargin,
    "q_dict_typed_filter" ->
      """SELECT c_name AS cname, c_acctbal AS bal FROM customer
        |WHERE c_acctbal > 3000 AND c_acctbal <= 9500""".stripMargin,
    "q_dict_subject_filter" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderpriority AS pri
        |FROM orders
        |WHERE o_orderkey > 3000 AND o_orderkey <= 4500
        |  AND o_totalprice > 50000""".stripMargin,
    "q_dict_temporal_filter" ->
      """SELECT o_orderpriority AS pri, COUNT(*) AS n FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00'
        |GROUP BY 1""".stripMargin,
    "q_dict_optional_cond" ->
      """SELECT n_name AS nname, c_name AS cname
        |FROM nation LEFT JOIN customer
        |  ON c_nationkey = n_nationkey AND c_acctbal > 9000""".stripMargin,
    "q_dict_values" ->
      """SELECT c_name AS cname, c_mktsegment AS seg FROM customer
        |WHERE c_mktsegment IN ('MACHINERY', 'BUILDING')""".stripMargin,
    "q_dict_bind" ->
      "SELECT c_name AS cname, c_acctbal * 2 - 100 AS dbl FROM customer",
    "q_dict_sum_avg" ->
      """SELECT n_name AS nname, SUM(c_acctbal) AS total,
        |  AVG(c_acctbal) AS avgbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_dict_minmax" ->
      """SELECT n_name AS nname, MIN(c_name) AS lo, MAX(c_name) AS hi,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q_dict_topk" ->
      """SELECT c_name AS cname, c_acctbal AS bal FROM customer
        |ORDER BY c_acctbal DESC, c_name LIMIT 10""".stripMargin,
    "q_dict_threshold_topk" ->
      """SELECT c_acctbal AS bal FROM customer
        |WHERE c_acctbal > 3000 ORDER BY bal DESC LIMIT 25""".stripMargin,
    "q_dict_path" ->
      """SELECT s, x FROM (
        |  SELECT 'urn:c:'||c_custkey::VARCHAR AS s, 'urn:n:'||c_nationkey::VARCHAR AS x FROM customer
        |  UNION ALL SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:r:'||n_regionkey::VARCHAR FROM nation
        |  UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:r:'||n_regionkey::VARCHAR
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |)""".stripMargin,
    "q_cbo_stats" ->
      """SELECT c_name AS cname, n_name AS nname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'""".stripMargin,
    "q_optional" ->
      """SELECT c_name AS cname, COALESCE(o_totalprice, 0) AS total
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey""".stripMargin,
    "q_optional_unbound" ->
      """WITH lhs AS (
        |  SELECT n_name AS nname, n_regionkey AS rk FROM nation
        |  UNION ALL
        |  SELECT n_name AS nname, NULL AS rk FROM nation WHERE n_name = 'NATION_7')
        |SELECT lhs.nname AS nname, r.r_name AS rname
        |FROM lhs LEFT JOIN region r ON lhs.rk IS NULL OR lhs.rk = r.r_regionkey""".stripMargin,
    "q_image_neardup" ->
      """SELECT a.doc_id AS idA, b.doc_id AS idB
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 200 AND b.doc_id < 200""".stripMargin,
    "q_audio_neardup" ->
      """SELECT a.doc_id AS idA, b.doc_id AS idB
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 200 AND b.doc_id < 200""".stripMargin,
    "q_video_neardup" ->
      """SELECT a.doc_id AS idA, b.doc_id AS idB
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 50 = b.doc_id % 50 AND a.doc_id < b.doc_id
        |WHERE a.doc_id < 200 AND b.doc_id < 200""".stripMargin,
    "q_media_features" ->
      """SELECT doc_id AS media_id,
        |       CASE (doc_id % 3) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |            ELSE 'video' END AS kind,
        |       CAST(8 AS INTEGER) AS dim
        |FROM documents""".stripMargin,
    "q_service" ->
      """SELECT c_name AS cname, n_name AS nname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q_update" ->
      """SELECT 'urn:n:'||n_nationkey::VARCHAR AS s, 'urn:p:inRegion' AS p,
        |       'urn:r:'||n_regionkey::VARCHAR AS o FROM nation
        |UNION ALL
        |SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:p:name2', n_name FROM nation""".stripMargin,
    "q_update_with" ->
      """SELECT 'urn:c:'||c_custkey::VARCHAR AS s, 'urn:p:cname' AS p,
        |       c_name AS o, 'urn:graph:customer' AS g FROM customer
        |UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:p:acctbal',
        |       c_acctbal::DOUBLE::VARCHAR, 'urn:graph:customer' FROM customer
        |UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:p:mktsegment',
        |       c_mktsegment, 'urn:graph:customer' FROM customer
        |UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:p:inNation',
        |       'urn:n:'||c_nationkey::VARCHAR, 'urn:graph:customer' FROM customer
        |UNION ALL SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:p:inRegion',
        |       'urn:r:'||n_regionkey::VARCHAR, 'urn:graph:nation' FROM nation
        |UNION ALL SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:p:name2',
        |       n_name, 'urn:graph:nation' FROM nation""".stripMargin,
    "q_update_graphmgmt" ->
      """SELECT 'urn:c:'||c_custkey::VARCHAR AS s, 'urn:p:cname' AS p,
        |       c_name AS o, NULL::VARCHAR AS g FROM customer
        |UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:p:acctbal',
        |       c_acctbal::DOUBLE::VARCHAR, NULL FROM customer
        |UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:p:mktsegment',
        |       c_mktsegment, NULL FROM customer
        |UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:p:inNation',
        |       'urn:n:'||c_nationkey::VARCHAR, NULL FROM customer
        |UNION ALL SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:p:nname',
        |       n_name, NULL FROM nation
        |UNION ALL SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:p:inRegion',
        |       'urn:r:'||n_regionkey::VARCHAR, NULL FROM nation""".stripMargin,
    "q_describe" ->
      """WITH c AS (SELECT * FROM customer
        |           WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000)
        |SELECT 'urn:c:'||c_custkey::VARCHAR AS s, 'urn:p:cname' AS p, c_name AS o FROM c
        |UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:p:acctbal',
        |  c_acctbal::DOUBLE::VARCHAR FROM c
        |UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:p:mktsegment',
        |  c_mktsegment FROM c
        |UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:p:inNation',
        |  'urn:n:'||c_nationkey::VARCHAR FROM c""".stripMargin,
    "q_exists" ->
      """SELECT c_name AS cname FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q_not_exists" ->
      """SELECT c_name AS cname FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin,
    "q_minus" ->
      "SELECT c_name AS cname FROM customer WHERE c_mktsegment <> 'BUILDING'",
    "q_values" ->
      """SELECT c_name AS cname, c_mktsegment AS seg FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')""".stripMargin,
    "q_filter_cmp" ->
      """SELECT c_name AS cname, c_acctbal AS acctbal FROM customer
        |WHERE c_acctbal > 5000""".stripMargin,
    "q_filter_str" ->
      """SELECT c_name AS cname, c_mktsegment AS seg FROM customer
        |WHERE c_mktsegment LIKE 'BUI%' OR c_mktsegment LIKE '%MACH%'""".stripMargin,
    "q_bind_arith" ->
      "SELECT c_name AS cname, c_acctbal * 2 - 100 AS dbl FROM customer",
    "q_if_tier" ->
      """SELECT c_name AS cname,
        |  CASE WHEN c_acctbal > 5000 THEN 'high' ELSE 'low' END AS tier
        |FROM customer""".stripMargin,
    "q_str_funcs" ->
      """SELECT c_name AS cname, upper(c_name) AS up,
        |  CAST(length(c_name) AS BIGINT) AS len,
        |  c_mktsegment || '-' || substr(c_name, 10) AS tag
        |FROM customer""".stripMargin,
    "q_year" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1""".stripMargin,
    "q_agg_multi" ->
      """SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(c_acctbal) AS total, AVG(c_acctbal) AS avg_bal,
        |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal
        |FROM customer GROUP BY c_mktsegment""".stripMargin,
    "q_agg_having" ->
      """SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS n
        |FROM customer GROUP BY c_mktsegment HAVING COUNT(*) > 300""".stripMargin,
    "q_agg_count_distinct" ->
      "SELECT CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n FROM customer",
    "q_group_concat" ->
      """SELECT r_name AS rname, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,
    "q_agg_global" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(o_totalprice) AS total
        |FROM orders""".stripMargin,
    "q_order_limit" ->
      """SELECT c_name AS cname, c_acctbal AS bal FROM customer
        |ORDER BY c_acctbal DESC, c_name LIMIT 10""".stripMargin,
    "q_order_offset" ->
      """SELECT c_name AS cname, c_acctbal AS bal FROM customer
        |ORDER BY c_acctbal DESC, c_name LIMIT 10 OFFSET 5""".stripMargin,
    "q_distinct" ->
      "SELECT DISTINCT c_mktsegment AS seg FROM customer",
    "q_reduced" ->
      "SELECT DISTINCT c_mktsegment AS seg FROM customer",
    "q_union" ->
      """SELECT c_name AS name FROM customer
        |UNION ALL SELECT s_name AS name FROM supplier""".stripMargin,
    "q_path_seq" ->
      """SELECT s_name AS sname, r_name AS rname
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin,
    "q_path_alt" ->
      """SELECT c_name AS name FROM customer
        |UNION ALL SELECT s_name AS name FROM supplier""".stripMargin,
    "q_path_inv" ->
      """SELECT n_name AS nname, c_name AS cname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q_path_neg" ->
      """SELECT 'urn:n:'||n_nationkey::VARCHAR AS s,
        |       'urn:r:'||n_regionkey::VARCHAR AS o FROM nation""".stripMargin,
    "q_path_zero_one" ->
      """SELECT s, x FROM (
        |  SELECT 'urn:c:'||c_custkey::VARCHAR AS s, 'urn:c:'||c_custkey::VARCHAR AS x FROM customer
        |  UNION ALL SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:n:'||n_nationkey::VARCHAR FROM nation
        |  UNION ALL SELECT 'urn:r:'||r_regionkey::VARCHAR, 'urn:r:'||r_regionkey::VARCHAR FROM region
        |  UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:n:'||c_nationkey::VARCHAR FROM customer
        |  UNION ALL SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:r:'||n_regionkey::VARCHAR FROM nation
        |)""".stripMargin,
    "q_path_star" ->
      """SELECT s, x FROM (
        |  SELECT 'urn:c:'||c_custkey::VARCHAR AS s, 'urn:c:'||c_custkey::VARCHAR AS x FROM customer
        |  UNION ALL SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:n:'||n_nationkey::VARCHAR FROM nation
        |  UNION ALL SELECT 'urn:r:'||r_regionkey::VARCHAR, 'urn:r:'||r_regionkey::VARCHAR FROM region
        |  UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:n:'||c_nationkey::VARCHAR FROM customer
        |  UNION ALL SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:r:'||n_regionkey::VARCHAR FROM nation
        |  UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:r:'||n_regionkey::VARCHAR
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |)""".stripMargin,
    "q_path_plus" ->
      """SELECT s, x FROM (
        |  SELECT 'urn:c:'||c_custkey::VARCHAR AS s, 'urn:n:'||c_nationkey::VARCHAR AS x FROM customer
        |  UNION ALL SELECT 'urn:n:'||n_nationkey::VARCHAR, 'urn:r:'||n_regionkey::VARCHAR FROM nation
        |  UNION ALL SELECT 'urn:c:'||c_custkey::VARCHAR, 'urn:r:'||n_regionkey::VARCHAR
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |)""".stripMargin,
    "q_graph_const" -> "SELECT c_name AS cname FROM customer",
    "q_dataset" ->
      """SELECT c_name AS cname, n_name AS nname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q_subquery" ->
      """SELECT c_name AS cname, c_acctbal AS bal FROM customer
        |WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)""".stripMargin,
    "q_part_agg" ->
      """SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n,
        |  AVG(p_retailprice) AS avg_price,
        |  CAST(MAX(p_size) AS BIGINT) AS max_size
        |FROM part WHERE p_size >= 10 GROUP BY p_brand""".stripMargin,
    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n, SUM(value) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_props_extract" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(k) AS BIGINT) AS n_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k,
        |  round(AVG(k), 6) AS avg_k,
        |  CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k
        |FROM (SELECT event_type, CAST(props::JSON->>'k' AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,
    "q_props_variant" ->
      """SELECT event_type, CAST(COUNT(k) AS BIGINT) AS n_k,
        |  MIN(k) AS min_k, MAX(k) AS max_k,
        |  CAST(SUM(k) AS BIGINT) AS sum_k
        |FROM (SELECT event_type, CAST(props::JSON->>'k' AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type""".stripMargin,
    // window replay of the as-of union (not DuckDB's ASOF JOIN
    // keyword, whose equal-timestamp row choice is unspecified): the
    // same (time, side, tie) order and running IGNORE NULLS carry
    "q_asof_join" -> asofOracle,
    "q_asof_lookup" -> asofOracle,
    "q_funnel" ->
      """WITH a AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t0,
        |    MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t1,
        |    MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t2,
        |    MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t3
        |  FROM events GROUP BY 1
        |)
        |SELECT user_id, CAST(CASE
        |  WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
        |   AND t2 IS NOT NULL AND t2 >= t1
        |   AND t3 IS NOT NULL AND t3 >= t2 THEN 4
        |  WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0
        |   AND t2 IS NOT NULL AND t2 >= t1 THEN 3
        |  WHEN t0 IS NOT NULL AND t1 IS NOT NULL AND t1 >= t0 THEN 2
        |  WHEN t0 IS NOT NULL THEN 1
        |  ELSE 0 END AS INTEGER) AS funnel_depth
        |FROM a""".stripMargin,
    "q_cube_report" ->
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY CUBE (lang, source)""".stripMargin,
    "q_rollup_report" ->
      """SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY ROLLUP (lang, source)""".stripMargin,
    "q_pagerank" -> pageRankOracle(3),
    "q_salted_join" ->
      """SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  SUM(o.o_totalprice) AS total
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1""".stripMargin,
    "q_skew_aware_join" ->
      """WITH dim AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_u
        |  FROM events GROUP BY 1
        |)
        |SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(e.value) AS total_value, MAX(d.n_u) AS n_u
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY 1""".stripMargin,
    // two-level rank replay: per-day k-min sets, union, re-rank —
    // exactly the merge the sketch rollup performs
    "q_kmv_rollup" ->
      """WITH h AS (
        |  SELECT DISTINCT (epoch_us(ts) // 86400000000) AS day,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |         AS BIGINT) AS hv
        |  FROM events
        |), r AS (
        |  SELECT day, hv,
        |    row_number() OVER (PARTITION BY day ORDER BY hv) AS rk
        |  FROM h
        |), u AS (
        |  SELECT DISTINCT hv FROM r WHERE rk <= 32
        |), r2 AS (
        |  SELECT hv, row_number() OVER (ORDER BY hv) AS rk FROM u
        |)
        |SELECT
        |  CAST(COUNT(CASE WHEN rk <= 32 THEN 1 END) AS INTEGER) AS n_retained,
        |  MAX(CASE WHEN rk <= 32 THEN hv END) AS kth_min,
        |  CASE WHEN COUNT(*) < 32 THEN CAST(COUNT(*) AS DOUBLE)
        |       ELSE 31.0 * 281474976710656.0 /
        |            MAX(CASE WHEN rk <= 32 THEN hv END) END AS estimate
        |FROM r2""".stripMargin,
    "q_zorder_layout" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(value) AS total_value,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY 1""".stripMargin,
    // same content-identity oracle as q_zorder_layout: the compaction
    // pass must change file layout, never rows
    "q_compact" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |  SUM(value) AS total_value,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY 1""".stripMargin,
    // rank-<=-k window replay of the KMV state: same hashes, same kth
    // minimum, same estimate arithmetic (31·2^48/kth, left-assoc)
    "q_kmv_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))
        |         AS BIGINT) AS hv
        |  FROM events
        |), r AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
        |  FROM h
        |)
        |SELECT event_type,
        |  CAST(COUNT(CASE WHEN rk <= 32 THEN 1 END) AS INTEGER) AS n_retained,
        |  MAX(CASE WHEN rk <= 32 THEN hv END) AS kth_min,
        |  CASE WHEN COUNT(*) < 32 THEN CAST(COUNT(*) AS DOUBLE)
        |       ELSE 31.0 * 281474976710656.0 /
        |            MAX(CASE WHEN rk <= 32 THEN hv END) END AS estimate
        |FROM r GROUP BY 1""".stripMargin,
    // full CM replay: rebuild every touched cell (md5 bucket per
    // depth-row, counts as weights), look each literal item's buckets
    // up, take the min — empty buckets read 0 via the LEFT JOIN
    "q_cm_freq" ->
      """WITH cells AS (
        |  SELECT r.r AS r,
        |    CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
        |          event_type), 1, 12)) AS BIGINT) % 256 AS c,
        |    CAST(COUNT(*) AS BIGINT) AS v
        |  FROM events, (SELECT unnest(range(4)) AS r) r
        |  WHERE event_type IS NOT NULL
        |  GROUP BY 1, 2
        |), items AS (
        |  SELECT unnest(['click','view','purchase','signup','error',
        |                 'never_seen_item']) AS item
        |), q AS (
        |  SELECT item, r.r AS r,
        |    CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
        |          item), 1, 12)) AS BIGINT) % 256 AS c
        |  FROM items, (SELECT unnest(range(4)) AS r) r
        |)
        |SELECT q.item AS item, MIN(COALESCE(cells.v, 0)) AS est
        |FROM q LEFT JOIN cells ON q.r = cells.r AND q.c = cells.c
        |GROUP BY 1""".stripMargin,
    // the rollup is cellwise-sum-exact, so it replays against the SAME
    // direct-sketch oracle as q_cm_freq
    "q_cm_rollup" ->
      """WITH cells AS (
        |  SELECT r.r AS r,
        |    CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
        |          event_type), 1, 12)) AS BIGINT) % 256 AS c,
        |    CAST(COUNT(*) AS BIGINT) AS v
        |  FROM events, (SELECT unnest(range(4)) AS r) r
        |  WHERE event_type IS NOT NULL
        |  GROUP BY 1, 2
        |), items AS (
        |  SELECT unnest(['click','view','purchase','signup','error',
        |                 'never_seen_item']) AS item
        |), q AS (
        |  SELECT item, r.r AS r,
        |    CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
        |          item), 1, 12)) AS BIGINT) % 256 AS c
        |  FROM items, (SELECT unnest(range(4)) AS r) r
        |)
        |SELECT q.item AS item, MIN(COALESCE(cells.v, 0)) AS est
        |FROM q LEFT JOIN cells ON q.r = cells.r AND q.c = cells.c
        |GROUP BY 1""".stripMargin,
    // exact-regime Space-Saving replay: distinct users << m=4096 so no
    // counter ever evicts — counts are plain GROUP BY counts, err = 0,
    // rank order is the sketch's (count desc, item asc) tie-break
    "q_heavy_hitters" ->
      """WITH c AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS item,
        |         COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type, item, cnt, row_number() OVER (
        |    PARTITION BY event_type ORDER BY cnt DESC, item ASC) AS rk
        |  FROM c
        |)
        |SELECT event_type, CAST(rk AS INTEGER) AS rank, item,
        |       CAST(cnt AS BIGINT) AS count, CAST(0 AS BIGINT) AS err
        |FROM r WHERE rk <= 5""".stripMargin,
    "q_hh_rollup" ->
      """WITH c AS (
        |  SELECT CAST(user_id AS VARCHAR) AS item, COUNT(*) AS cnt
        |  FROM events GROUP BY 1
        |), r AS (
        |  SELECT item, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, item ASC) AS rk
        |  FROM c
        |)
        |SELECT CAST(rk AS INTEGER) AS rank, item,
        |       CAST(cnt AS BIGINT) AS count, CAST(0 AS BIGINT) AS err
        |FROM r WHERE rk <= 5""".stripMargin,
    // sample replay: rank ≤ k over the portable hash of event_id
    // (duplicate hashes keep MIN(value) — the sketch's collision
    // rule), then nearest-rank-below quantiles over the sample. Valid
    // in both the exact and the sampled regime.
    "q_quantile_sketch" ->
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
        |         AS BIGINT) AS hv,
        |    value FROM events
        |), d AS (
        |  SELECT event_type, hv, MIN(value) AS v FROM h GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type, hv, v, row_number() OVER (
        |    PARTITION BY event_type ORDER BY hv) AS hrk
        |  FROM d
        |), o AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM r WHERE hrk <= 4096
        |)
        |SELECT event_type, CAST(MAX(n) AS INTEGER) AS n_retained,
        |  MAX(CASE WHEN rk = CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1))
        |                          AS BIGINT) + 1 THEN v END) AS q_50,
        |  MAX(CASE WHEN rk = CAST(floor(CAST(0.9 AS DOUBLE) * (n - 1))
        |                          AS BIGINT) + 1 THEN v END) AS q_90,
        |  MAX(CASE WHEN rk = CAST(floor(CAST(0.99 AS DOUBLE) * (n - 1))
        |                          AS BIGINT) + 1 THEN v END) AS q_99
        |FROM o GROUP BY 1""".stripMargin,
    // global rank-≤-512 replay: the bottom-k union of per-day
    // bottom-ks IS the global bottom-k, so the day granularity of the
    // sketch table is invisible to the oracle
    "q_quantile_rollup" ->
      """WITH h AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12))
        |         AS BIGINT) AS hv,
        |    value FROM events
        |), d AS (
        |  SELECT hv, MIN(value) AS v FROM h GROUP BY 1
        |), r AS (
        |  SELECT hv, v, row_number() OVER (ORDER BY hv) AS hrk FROM d
        |), o AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rk,
        |    COUNT(*) OVER () AS n
        |  FROM r WHERE hrk <= 512
        |)
        |SELECT CAST(MAX(n) AS INTEGER) AS n_retained,
        |  MAX(CASE WHEN rk = CAST(floor(CAST(0.5 AS DOUBLE) * (n - 1))
        |                          AS BIGINT) + 1 THEN v END) AS q_50,
        |  MAX(CASE WHEN rk = CAST(floor(CAST(0.9 AS DOUBLE) * (n - 1))
        |                          AS BIGINT) + 1 THEN v END) AS q_90,
        |  MAX(CASE WHEN rk = CAST(floor(CAST(0.99 AS DOUBLE) * (n - 1))
        |                          AS BIGINT) + 1 THEN v END) AS q_99
        |FROM o""".stripMargin,
    "q_range_join" ->
      """WITH probes AS (
        |  SELECT DISTINCT CAST(o_orderdate AS DATE) AS pd FROM orders
        |  WHERE o_orderdate >= '1995-03-01' AND o_orderdate < '1995-04-01'
        |), iv AS (
        |  SELECT l_quantity, CAST(l_shipdate AS DATE) AS lo,
        |         CAST(l_shipdate AS DATE)
        |           + CAST((l_orderkey * 7 + l_linenumber * 3) % 21 + 7
        |                  AS INTEGER) AS hi
        |  FROM lineitem
        |)
        |SELECT p.pd AS probe_date,
        |  CAST(COUNT(*) AS BIGINT) AS n_in_transit,
        |  SUM(l_quantity) AS qty_in_transit
        |FROM probes p JOIN iv ON p.pd BETWEEN iv.lo AND iv.hi
        |GROUP BY 1""".stripMargin,
    "q_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS t, value FROM events
        |), s AS (
        |  SELECT user_id, t, value,
        |    CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
        |              <= 600000000 THEN 0 ELSE 1 END AS st
        |  FROM ev
        |), i AS (
        |  SELECT user_id, t, value,
        |    CAST(SUM(st) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_idx
        |  FROM s
        |)
        |SELECT user_id, session_idx, MIN(t) AS session_start,
        |  MAX(t) AS session_end, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  SUM(value) AS total_value
        |FROM i GROUP BY 1, 2""".stripMargin,
    "q_ask" ->
      """SELECT EXISTS (SELECT 1 FROM customer
        |  WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000) AS ask""".stripMargin,
    "q_construct" ->
      """SELECT 'urn:c:'||c_custkey::VARCHAR AS s, 'urn:p:tier' AS p, 'gold' AS o
        |FROM customer WHERE c_acctbal > 5000""".stripMargin,
    "q_graph_var" ->
      """SELECT 'urn:graph:customer' AS g, CAST(4 * COUNT(*) AS BIGINT) AS n FROM customer
        |UNION ALL
        |SELECT 'urn:graph:nation' AS g, CAST(2 * COUNT(*) AS BIGINT) AS n FROM nation""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  avg(l_discount) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_dedup_exact" ->
      """SELECT fp, doc_id FROM (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |         doc_id,
        |         row_number() OVER (
        |           PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |           ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,
    "q_dedup_paragraph" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    text || chr(10)||chr(10) || 'SHARED FOOTER PARAGRAPH' ||
        |    chr(10)||chr(10) || text AS t
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, unnest(l) AS para, unnest(range(len(l))) AS pos
        |  FROM (SELECT doc_id, regexp_split_to_array(t, '\n{2,}') AS l
        |        FROM src)
        |), w AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk
        |  FROM p WHERE trim(para) <> ''
        |)
        |SELECT s.doc_id,
        |  coalesce(string_agg(w.para, chr(10)||chr(10) ORDER BY w.pos), '')
        |    AS text
        |FROM src s
        |LEFT JOIN (SELECT * FROM w WHERE rk = 1) w USING (doc_id)
        |GROUP BY s.doc_id""".stripMargin,
    "q_dedup_paragraph_incr" ->
      """WITH src AS (
        |  SELECT doc_id,
        |    text || chr(10)||chr(10) || 'SHARED FOOTER PARAGRAPH' AS t
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, unnest(l) AS para, unnest(range(len(l))) AS pos
        |  FROM (SELECT doc_id, regexp_split_to_array(t, '\n{2,}') AS l
        |        FROM src)
        |), f AS (
        |  SELECT * FROM p WHERE trim(para) <> ''
        |), corpus AS (
        |  SELECT DISTINCT para FROM f WHERE doc_id < 250
        |), nb AS (
        |  SELECT b.* FROM (SELECT * FROM f WHERE doc_id >= 250) b
        |  LEFT JOIN corpus c ON b.para = c.para WHERE c.para IS NULL
        |), w AS (
        |  SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rk
        |  FROM nb
        |)
        |SELECT s.doc_id,
        |  coalesce(string_agg(w.para, chr(10)||chr(10) ORDER BY w.pos), '')
        |    AS text
        |FROM (SELECT doc_id FROM src WHERE doc_id >= 250) s
        |LEFT JOIN (SELECT * FROM w WHERE rk = 1) w USING (doc_id)
        |GROUP BY s.doc_id""".stripMargin,
    "q_dedup_cluster" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(min(doc_id) OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |  ) AS BIGINT) AS cluster
        |FROM documents""".stripMargin,
    "q_ann_lsh_portable" -> portableAnnOracle(numPlanes = 6, dim = 64, k = 10),
    "q_knn_join_portable" -> portableKnnJoinOracle(
      numPlanes = 6, dim = 64, k = 5, qMod = 199),
    "q_knn_join_ivf_portable" -> portableKnnJoinIvfOracle(
      numCentroids = 8, dim = 64, k = 5, nprobe = 3, qMod = 199),
    "q_ann_ivf_portable" -> {
      // DuckDB replay of graft.pipeline.Ivf.portableTopK: the ±1
      // centroid literals inline, the probe ring is the top-3
      // centroids by dot with the query (ties to the lower index —
      // same as the driver-side ranking), assignment is the per-row
      // argmax dot (ties to the lower index — same as
      // VectorExprs.NearestCentroid), ranking on the 6-decimal
      // rounded cosine with vec_id tie-break
      val centVals = graft.pipeline.Clustering
        .portableSemanticCentroidLiterals(8, 64)
        .zipWithIndex.map { case (c, i) => s"($i, $c::DOUBLE[])" }
        .mkString(", ")
      s"""WITH cents(cidx, c) AS (SELECT * FROM (VALUES $centVals)),
         |q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         |probes AS (
         |  SELECT cidx AS pc FROM (
         |    SELECT c.cidx, row_number() OVER (
         |      ORDER BY list_dot_product((SELECT qe FROM q)::DOUBLE[], c.c) DESC,
         |               c.cidx ASC) AS rn
         |    FROM cents c) WHERE rn <= 3
         |), assign AS (
         |  SELECT vec_id, embedding, cidx AS cluster FROM (
         |    SELECT e.vec_id, e.embedding, c.cidx,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c) DESC,
         |                 c.cidx ASC) AS rn
         |    FROM (SELECT vec_id, embedding FROM embeddings
         |          WHERE embedding IS NOT NULL) e
         |    CROSS JOIN cents c) WHERE rn = 1
         |)
         |SELECT vec_id, round(cs, 6) AS cos FROM (
         |  SELECT a.vec_id,
         |    list_cosine_similarity(a.embedding::DOUBLE[],
         |                           (SELECT qe FROM q)::DOUBLE[]) AS cs
         |  FROM assign a JOIN probes p ON a.cluster = p.pc
         |)
         |ORDER BY round(cs, 6) DESC, vec_id LIMIT 10""".stripMargin
    },
    "q_dedup_incr_portable" -> portableMinHashIncrOracle(
      numHashes = 32, bands = 8, shingleK = 3, threshold = 0.3),
    "q_dedup_embedding_portable" -> portableEmbeddingOracle(
      numPlanes = 4, dim = 64, threshold = 0.2),
    "q_dedup_embedding_incr" -> {
      val sigExpr = graft.pipeline.Dedup
        .portableHyperplaneLiterals(4, 64)
        .zipWithIndex.map { case (pl, p) =>
          s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $pl::DOUBLE[]) > 0" +
            s" THEN ${1L << p} ELSE 0 END)"
        }.mkString(" +\n         ")
      s"""WITH sigs AS (
         |  SELECT vec_id, embedding,
         |         $sigExpr AS bucket
         |  FROM embeddings WHERE embedding IS NOT NULL
         |), n AS (SELECT * FROM sigs WHERE vec_id % 2 = 1),
         |c AS (SELECT * FROM sigs WHERE vec_id % 2 = 0)
         |SELECT idNew, idCorpus, round(cs, 6) AS cos FROM (
         |  SELECT n.vec_id AS idNew, c.vec_id AS idCorpus,
         |         list_cosine_similarity(n.embedding::DOUBLE[],
         |                                c.embedding::DOUBLE[]) AS cs
         |  FROM n JOIN c ON n.bucket = c.bucket
         |) WHERE cs >= 0.2""".stripMargin
    },
    "q_dedup_semantic" -> {
      val centVals = graft.pipeline.Clustering
        .portableSemanticCentroidLiterals(8, 64)
        .zipWithIndex.map { case (c, i) => s"($i, $c::DOUBLE[])" }
        .mkString(", ")
      val sigExpr = graft.pipeline.Dedup
        .portableHyperplaneLiterals(4, 64)
        .zipWithIndex.map { case (pl, p) =>
          s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $pl::DOUBLE[]) > 0" +
            s" THEN ${1L << p} ELSE 0 END)"
        }.mkString(" +\n         ")
      s"""WITH RECURSIVE cents(cidx, c) AS (SELECT * FROM (VALUES $centVals)),
         |emb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
         |), assign AS (
         |  SELECT vec_id, cidx AS cluster FROM (
         |    SELECT e.vec_id, c.cidx,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c) DESC,
         |                 c.cidx ASC) AS rn
         |    FROM emb e CROSS JOIN cents c) WHERE rn = 1
         |), sigs AS (
         |  SELECT vec_id,
         |         $sigExpr AS bucket
         |  FROM emb
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS ida, b.vec_id AS idb
         |  FROM sigs a JOIN sigs b ON a.bucket = b.bucket
         |  JOIN assign aa ON aa.vec_id = a.vec_id
         |  JOIN assign ab ON ab.vec_id = b.vec_id AND ab.cluster = aa.cluster
         |  WHERE a.vec_id < b.vec_id
         |), verified AS (
         |  SELECT c.ida, c.idb FROM cand c
         |  JOIN emb ea ON ea.vec_id = c.ida
         |  JOIN emb eb ON eb.vec_id = c.idb
         |  WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
         |                               eb.embedding::DOUBLE[]) >= 0.2
         |), edges AS (
         |  SELECT ida AS a, idb AS b FROM verified
         |  UNION ALL
         |  SELECT idb, ida FROM verified
         |), reach(id, r) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
         |), comp AS (
         |  SELECT id, min(r) AS component FROM reach GROUP BY id
         |)
         |SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
         |       CAST(coalesce(comp.component, a.vec_id) AS BIGINT) AS component,
         |       coalesce(comp.component, a.vec_id) = a.vec_id AS keep
         |FROM assign a LEFT JOIN comp ON comp.id = a.vec_id""".stripMargin
    },
    "q_dedup_semantic_incr" -> {
      val centVals = graft.pipeline.Clustering
        .portableSemanticCentroidLiterals(8, 64)
        .zipWithIndex.map { case (c, i) => s"($i, $c::DOUBLE[])" }
        .mkString(", ")
      val sigExpr = graft.pipeline.Dedup
        .portableHyperplaneLiterals(4, 64)
        .zipWithIndex.map { case (pl, p) =>
          s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $pl::DOUBLE[]) > 0" +
            s" THEN ${1L << p} ELSE 0 END)"
        }.mkString(" +\n         ")
      s"""WITH cents(cidx, c) AS (SELECT * FROM (VALUES $centVals)),
         |emb AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL
         |), assign AS (
         |  SELECT vec_id, cidx AS cluster FROM (
         |    SELECT e.vec_id, c.cidx,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(e.embedding::DOUBLE[], c.c) DESC,
         |                 c.cidx ASC) AS rn
         |    FROM emb e CROSS JOIN cents c) WHERE rn = 1
         |), sigs AS (
         |  SELECT e.vec_id, e.embedding, a.cluster,
         |         $sigExpr AS bucket
         |  FROM emb e JOIN assign a ON a.vec_id = e.vec_id
         |), n AS (SELECT * FROM sigs WHERE vec_id % 2 = 1),
         |corp AS (SELECT * FROM sigs WHERE vec_id % 2 = 0)
         |SELECT idNew, idCorpus, cluster, round(cs, 6) AS cos FROM (
         |  SELECT n.vec_id AS idNew, corp.vec_id AS idCorpus,
         |         CAST(n.cluster AS BIGINT) AS cluster,
         |         list_cosine_similarity(n.embedding::DOUBLE[],
         |                                corp.embedding::DOUBLE[]) AS cs
         |  FROM n JOIN corp ON n.cluster = corp.cluster
         |               AND n.bucket = corp.bucket
         |) WHERE cs >= 0.2""".stripMargin
    },
    "q_dedup_minhash_portable" -> portableMinHashOracle(
      numHashes = 32, bands = 8, shingleK = 3, threshold = 0.5),
    "q_dedup_simhash_portable" -> portableSimHashOracle(
      maxHamming = 3, cleanChunks = 2),
    "q_curate" ->
      """WITH scored AS (
        |  SELECT doc_id, text,
        |    round(
        |      least(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |              t -> t <> ''))/100.0, 1.0) * 0.4
        |      + (1.0 - least((CASE WHEN length(text) = 0 THEN 0.0
        |          ELSE (length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')))::DOUBLE
        |               / length(text) END) * 5.0, 1.0)) * 0.3
        |      + least((CASE WHEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |              t -> t <> '')) = 0 THEN 0.0
        |          ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |              t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
        |               / len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |              t -> t <> '')) END) * 4.0, 1.0) * 0.3,
        |    6) AS quality
        |  FROM documents)
        |SELECT doc_id, quality FROM (
        |  SELECT doc_id, quality, row_number() OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    ORDER BY doc_id) AS rn
        |  FROM scored WHERE quality >= 0.5)
        |WHERE rn = 1""".stripMargin,
    "q_rolling_fp" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL
        |), fps AS (
        |  SELECT doc_id,
        |    list_slice(
        |      list_sort(list_distinct(list_transform(
        |        CASE WHEN len(ts) >= 8
        |             THEN list_transform(generate_series(1, len(ts) - 7),
        |                                 i -> array_to_string(list_slice(ts, i, i + 7), ' '))
        |             ELSE [array_to_string(ts, ' ')] END,
        |        w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)))),
        |      1, 4) AS fp4
        |  FROM toks
        |)
        |SELECT doc_id, unnest(fp4) AS fp FROM fps""".stripMargin,
    "q_fuzzy_join" ->
      """SELECT a.c_custkey AS lid, b.c_custkey AS rid,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS edit_dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey <> b.c_custkey
        |WHERE a.c_acctbal > 9000
        |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin,
    "q_diversity_report" ->
      """WITH toks AS (
        |  SELECT lang,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL
        |), uni AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types
        |  FROM (SELECT lang, unnest(ts) AS tok FROM toks) GROUP BY 1
        |), bi AS (
        |  SELECT lang, COUNT(*) AS nb, COUNT(DISTINCT bg) AS nbt
        |  FROM (
        |    SELECT lang, unnest(list_transform(
        |      generate_series(1, len(ts) - 1),
        |      i -> ts[i] || ' ' || ts[i + 1])) AS bg
        |    FROM toks WHERE len(ts) >= 2
        |  ) GROUP BY 1
        |)
        |SELECT u.lang, u.n_tokens, u.n_types,
        |  round(CAST(u.n_types AS DOUBLE) / u.n_tokens, 6) AS ttr,
        |  round(CAST(b.nbt AS DOUBLE) / b.nb, 6) AS bigram_diversity
        |FROM uni u LEFT JOIN bi b ON u.lang = b.lang""".stripMargin,
    "q_vocab_topk" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'),
        |    x -> x <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL
        |)
        |SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks
        |GROUP BY 1 ORDER BY n DESC, tok ASC LIMIT 50""".stripMargin,
    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL
        |), bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(generate_series(1, len(ts) - 1),
        |           i -> struct_pack(w1 := ts[i], w2 := ts[i + 1]))) AS b
        |  FROM toks WHERE len(ts) >= 2
        |), bge AS (
        |  SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg
        |), bc AS (
        |  SELECT w1, w2, COUNT(*) AS c12 FROM bge GROUP BY 1, 2
        |), uc AS (
        |  SELECT w1, COUNT(*) AS c1 FROM bge GROUP BY 1
        |), v AS (
        |  SELECT COUNT(DISTINCT w) AS nv
        |  FROM (SELECT unnest(ts) AS w FROM toks)
        |)
        |SELECT bge.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  round(avg(ln((bc.c12 + 0.1) / (uc.c1 + 0.1 * v.nv))), 6)
        |    AS avg_logprob
        |FROM bge JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
        |GROUP BY 1""".stripMargin,
    "q_repeated_spans" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL
        |), wins AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    CASE WHEN len(ts) >= 8
        |         THEN list_transform(generate_series(1, len(ts) - 7),
        |                             i -> array_to_string(list_slice(ts, i, i + 7), ' '))
        |         ELSE [array_to_string(ts, ' ')] END,
        |    w -> CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT)))) AS fp
        |  FROM toks
        |), shared AS (
        |  SELECT fp FROM wins GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
        |)
        |SELECT w.doc_id,
        |       CAST(count(*) AS BIGINT) AS n_windows,
        |       CAST(count(s.fp) AS BIGINT) AS dup_windows,
        |       round(CAST(count(s.fp) AS DOUBLE) / count(*), 6) AS dup_frac
        |FROM wins w LEFT JOIN shared s ON w.fp = s.fp
        |GROUP BY w.doc_id""".stripMargin,
    "q_dedup_spans" ->
      """WITH docs AS (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                     x -> x <> '') AS tso,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents
        |), wins AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         CAST(('0x' || substr(md5(CASE WHEN len(ts) >= 8
        |              THEN array_to_string(list_slice(ts, i, i + 7), ' ')
        |              ELSE array_to_string(ts, ' ') END), 1, 8)) AS BIGINT) AS fp
        |  FROM docs, UNNEST(generate_series(1,
        |       CASE WHEN len(ts) >= 8 THEN len(ts) - 7
        |            WHEN len(ts) > 0 THEN 1 ELSE 0 END)) AS u(i)
        |  WHERE text IS NOT NULL
        |), shared AS (
        |  SELECT fp FROM wins GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
        |), dup AS (
        |  SELECT w.doc_id, w.pos FROM wins w JOIN shared s USING (fp)
        |), isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |                IS NULL
        |              OR pos > lag(pos) OVER (PARTITION BY doc_id
        |                                      ORDER BY pos) + 8
        |              THEN 1 ELSE 0 END AS brk
        |  FROM dup
        |), grp AS (
        |  SELECT doc_id, pos,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl
        |), spans AS (
        |  SELECT g.doc_id, min(g.pos) AS s,
        |         least(max(g.pos) + 8, d.n) - 1 AS e
        |  FROM grp g JOIN (SELECT doc_id, len(ts) AS n FROM docs) d
        |    USING (doc_id)
        |  GROUP BY g.doc_id, g.g, d.n
        |), toku AS (
        |  SELECT doc_id, unnest(tso) AS tok,
        |         unnest(generate_series(1, len(tso))) AS j
        |  FROM docs WHERE text IS NOT NULL
        |), surv AS (
        |  SELECT t.doc_id, t.j, t.tok FROM toku t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |                    WHERE sp.doc_id = t.doc_id
        |                      AND t.j - 1 BETWEEN sp.s AND sp.e)
        |)
        |SELECT d.doc_id,
        |       CASE WHEN d.text IS NULL THEN NULL
        |            ELSE coalesce(a.txt, '') END AS text_clean,
        |       CAST(coalesce(len(d.ts), 0) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(len(d.ts), 0) - coalesce(a.nsurv, 0) AS BIGINT)
        |         AS removed_tokens,
        |       CAST(coalesce(sp.nspans, 0) AS BIGINT) AS n_spans
        |FROM docs d
        |LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS txt,
        |                  count(*) AS nsurv FROM surv GROUP BY doc_id) a
        |  USING (doc_id)
        |LEFT JOIN (SELECT doc_id, count(*) AS nspans FROM spans GROUP BY doc_id)
        |  sp USING (doc_id)""".stripMargin,
    "q_dedup_spans_incr" ->
      """WITH docs AS (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                     x -> x <> '') AS tso,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents WHERE doc_id % 3 = 0
        |), allwins AS (
        |  SELECT d.doc_id, d.grp, i - 1 AS pos,
        |         CAST(('0x' || substr(md5(CASE WHEN len(ts) >= 8
        |              THEN array_to_string(list_slice(ts, i, i + 7), ' ')
        |              ELSE array_to_string(ts, ' ') END), 1, 8)) AS BIGINT) AS fp
        |  FROM (SELECT doc_id, doc_id % 3 = 0 AS grp,
        |               list_filter(regexp_split_to_array(lower(trim(text)),
        |                 '\s+'), x -> x <> '') AS ts
        |        FROM documents WHERE text IS NOT NULL) d,
        |       UNNEST(generate_series(1,
        |       CASE WHEN len(ts) >= 8 THEN len(ts) - 7
        |            WHEN len(ts) > 0 THEN 1 ELSE 0 END)) AS u(i)
        |), shared AS (
        |  SELECT fp FROM allwins WHERE grp GROUP BY fp
        |  HAVING count(DISTINCT doc_id) >= 2
        |  UNION
        |  SELECT DISTINCT fp FROM allwins WHERE NOT grp
        |), dup AS (
        |  SELECT w.doc_id, w.pos FROM allwins w JOIN shared s USING (fp)
        |  WHERE w.grp
        |), isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |                IS NULL
        |              OR pos > lag(pos) OVER (PARTITION BY doc_id
        |                                      ORDER BY pos) + 8
        |              THEN 1 ELSE 0 END AS brk
        |  FROM dup
        |), grp AS (
        |  SELECT doc_id, pos,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl
        |), spans AS (
        |  SELECT g.doc_id, min(g.pos) AS s,
        |         least(max(g.pos) + 8, d.n) - 1 AS e
        |  FROM grp g JOIN (SELECT doc_id, len(ts) AS n FROM docs) d
        |    USING (doc_id)
        |  GROUP BY g.doc_id, g.g, d.n
        |), toku AS (
        |  SELECT doc_id, unnest(tso) AS tok,
        |         unnest(generate_series(1, len(tso))) AS j
        |  FROM docs WHERE text IS NOT NULL
        |), surv AS (
        |  SELECT t.doc_id, t.j, t.tok FROM toku t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |                    WHERE sp.doc_id = t.doc_id
        |                      AND t.j - 1 BETWEEN sp.s AND sp.e)
        |)
        |SELECT d.doc_id,
        |       CASE WHEN d.text IS NULL THEN NULL
        |            ELSE coalesce(a.txt, '') END AS text_clean,
        |       CAST(coalesce(len(d.ts), 0) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(len(d.ts), 0) - coalesce(a.nsurv, 0) AS BIGINT)
        |         AS removed_tokens,
        |       CAST(coalesce(sp.nspans, 0) AS BIGINT) AS n_spans
        |FROM docs d
        |LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS txt,
        |                  count(*) AS nsurv FROM surv GROUP BY doc_id) a
        |  USING (doc_id)
        |LEFT JOIN (SELECT doc_id, count(*) AS nspans FROM spans GROUP BY doc_id)
        |  sp USING (doc_id)""".stripMargin,
    "q_dedup_spans_bank" ->
      """WITH docs AS (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                     x -> x <> '') AS tso,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents WHERE doc_id % 97 <> 0
        |), allwins AS (
        |  SELECT d.doc_id, d.bank, i - 1 AS pos,
        |         CAST(('0x' || substr(md5(CASE WHEN len(ts) >= 8
        |              THEN array_to_string(list_slice(ts, i, i + 7), ' ')
        |              ELSE array_to_string(ts, ' ') END), 1, 8)) AS BIGINT) AS fp
        |  FROM (SELECT doc_id, doc_id % 97 = 0 AS bank,
        |               list_filter(regexp_split_to_array(lower(trim(text)),
        |                 '\s+'), x -> x <> '') AS ts
        |        FROM documents WHERE text IS NOT NULL) d,
        |       UNNEST(generate_series(1,
        |       CASE WHEN len(ts) >= 8 THEN len(ts) - 7
        |            WHEN len(ts) > 0 THEN 1 ELSE 0 END)) AS u(i)
        |), shared AS (
        |  SELECT DISTINCT fp FROM allwins WHERE bank
        |), dup AS (
        |  SELECT w.doc_id, w.pos FROM allwins w JOIN shared s USING (fp)
        |  WHERE NOT w.bank
        |), isl AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
        |                IS NULL
        |              OR pos > lag(pos) OVER (PARTITION BY doc_id
        |                                      ORDER BY pos) + 8
        |              THEN 1 ELSE 0 END AS brk
        |  FROM dup
        |), grp AS (
        |  SELECT doc_id, pos,
        |         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM isl
        |), spans AS (
        |  SELECT g.doc_id, min(g.pos) AS s,
        |         least(max(g.pos) + 8, d.n) - 1 AS e
        |  FROM grp g JOIN (SELECT doc_id, len(ts) AS n FROM docs) d
        |    USING (doc_id)
        |  GROUP BY g.doc_id, g.g, d.n
        |), toku AS (
        |  SELECT doc_id, unnest(tso) AS tok,
        |         unnest(generate_series(1, len(tso))) AS j
        |  FROM docs WHERE text IS NOT NULL
        |), surv AS (
        |  SELECT t.doc_id, t.j, t.tok FROM toku t
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |                    WHERE sp.doc_id = t.doc_id
        |                      AND t.j - 1 BETWEEN sp.s AND sp.e)
        |)
        |SELECT d.doc_id,
        |       CASE WHEN d.text IS NULL THEN NULL
        |            ELSE coalesce(a.txt, '') END AS text_clean,
        |       CAST(coalesce(len(d.ts), 0) AS BIGINT) AS n_tokens,
        |       CAST(coalesce(len(d.ts), 0) - coalesce(a.nsurv, 0) AS BIGINT)
        |         AS removed_tokens,
        |       CAST(coalesce(sp.nspans, 0) AS BIGINT) AS n_spans
        |FROM docs d
        |LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS txt,
        |                  count(*) AS nsurv FROM surv GROUP BY doc_id) a
        |  USING (doc_id)
        |LEFT JOIN (SELECT doc_id, count(*) AS nspans FROM spans GROUP BY doc_id)
        |  sp USING (doc_id)""".stripMargin,
    "q_span_topk" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                     x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL
        |), wins AS (
        |  SELECT doc_id, i - 1 AS pos,
        |         CAST(('0x' || substr(md5(CASE WHEN len(ts) >= 8
        |              THEN array_to_string(list_slice(ts, i, i + 7), ' ')
        |              ELSE array_to_string(ts, ' ') END), 1, 8)) AS BIGINT) AS fp
        |  FROM toks, UNNEST(generate_series(1,
        |       CASE WHEN len(ts) >= 8 THEN len(ts) - 7
        |            WHEN len(ts) > 0 THEN 1 ELSE 0 END)) AS u(i)
        |), top AS (
        |  SELECT fp, count(DISTINCT doc_id) AS docs
        |  FROM wins GROUP BY fp HAVING count(DISTINCT doc_id) >= 2
        |  ORDER BY docs DESC, fp ASC LIMIT 20
        |), ex AS (
        |  SELECT fp, doc_id, pos FROM (
        |    SELECT w.fp, w.doc_id, w.pos,
        |           row_number() OVER (PARTITION BY w.fp
        |                              ORDER BY w.doc_id, w.pos) AS rn
        |    FROM wins w JOIN top USING (fp)) WHERE rn = 1
        |)
        |SELECT t.fp, CAST(t.docs AS BIGINT) AS docs,
        |       CASE WHEN len(k.ts) >= 8
        |            THEN array_to_string(
        |                   list_slice(k.ts, e.pos + 1, e.pos + 8), ' ')
        |            ELSE array_to_string(k.ts, ' ') END AS span_text
        |FROM top t JOIN ex e USING (fp) JOIN toks k ON k.doc_id = e.doc_id"""
        .stripMargin,
    "q_decontam_report" -> decontamOracle(
      """SELECT t.doc_id, CAST(count(DISTINCT t.fp) AS BIGINT) AS hits,
        |       CAST(count(DISTINCT b.bench_id) AS BIGINT) AS bench_docs
        |FROM tfp t JOIN bfp b ON t.fp = b.fp GROUP BY t.doc_id""".stripMargin),
    "q_decontam_clean" -> decontamOracle(
      """SELECT doc_id, lang FROM documents
        |WHERE doc_id NOT IN (
        |  SELECT DISTINCT t.doc_id FROM tfp t JOIN bfp b ON t.fp = b.fp)"""
        .stripMargin),
    // the full-chain replay: the decontam CTEs (toks/bench_txt/bfp/tfp)
    // extend with dedup → clean → gate → portable sample → report;
    // note bfp/tfp fingerprint the ORIGINAL corpus — dropping a
    // duplicate doc upstream cannot un-contaminate a surviving one,
    // and the Spark side passes the pre-dedup docs as the benchmark
    // source for exactly that reason
    "q_pipeline_e2e" -> decontamOracle(
      """, dedup AS (
        |  SELECT * FROM (
        |    SELECT d.*, row_number() OVER (PARTITION BY text
        |                                   ORDER BY doc_id) AS rk
        |    FROM documents d) WHERE rk = 1
        |), cleaned AS (
        |  SELECT * FROM dedup WHERE doc_id NOT IN (
        |    SELECT DISTINCT t.doc_id FROM tfp t JOIN bfp b ON t.fp = b.fp)
        |), gated AS (
        |  SELECT * FROM cleaned WHERE n_chars >= 200
        |), sampled AS (
        |  SELECT * FROM gated
        |  WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))::BIGINT
        |        % 1000000 < 300000
        |)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
        |FROM sampled GROUP BY 1""".stripMargin),
    "q_sample_det" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))::BIGINT
        |      % 1000000 < 300000""".stripMargin,
    "q_mixture_plan" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n FROM documents GROUP BY 1
        |), t AS (
        |  SELECT SUM(n) AS total, SUM(sqrt(CAST(n AS DOUBLE))) AS powsum
        |  FROM c
        |)
        |SELECT c.source, CAST(c.n AS BIGINT) AS n,
        |  round(c.n / CAST(t.total AS DOUBLE), 6) AS share,
        |  round(least(1.0, sqrt(CAST(c.n AS DOUBLE)) / t.powsum
        |    * t.total * 0.5 / c.n), 6) AS rate
        |FROM c CROSS JOIN t""".stripMargin,
    "q_mixture_sample" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n FROM documents GROUP BY 1
        |), t AS (
        |  SELECT SUM(n) AS total, SUM(sqrt(CAST(n AS DOUBLE))) AS powsum
        |  FROM c
        |), thr AS (
        |  SELECT c.source,
        |    CAST(round(least(1.0, sqrt(CAST(c.n AS DOUBLE)) / t.powsum
        |      * t.total * 0.5 / c.n) * 1000000) AS BIGINT) AS thr
        |  FROM c CROSS JOIN t
        |)
        |SELECT d.doc_id, d.source FROM documents d JOIN thr USING (source)
        |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':0'), 1, 8))::BIGINT
        |      % 1000000 < thr.thr""".stripMargin,
    // every stage replayed: the strip chain over the html wrap (the
    // appended suffix is tag/entity-free, so stripping commutes with
    // the append), the mojibake repair stated as its expected output,
    // then the cleaning and PII chains
    "q_clean_e2e" ->
      """WITH h AS (
        |  SELECT doc_id,
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    '<p>' || text || '</p><script>track();</script>',
        |    '(?is)<(script|style)\b[^>]*>.*?</(script|style)\s*>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g'),
        |    '(?s)</?[A-Za-z!][^>]*>', ' ', 'g'),
        |    '&lt;', '<', 'g'),
        |    '&gt;', '>', 'g'),
        |    '&quot;', chr(34), 'g'),
        |    '&(#39|apos);', chr(39), 'g'),
        |    '&amp;', '&', 'g')
        |   || ' caf' || chr(233) || chr(8217) || 's na' || chr(239) || 've'
        |   || ' mail a@b.co from 10.0.0.1' AS t
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, trim(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(nfc_normalize(t),
        |         '\r\n?', chr(10), 'g'),
        |       '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '[ \t]+', ' ', 'g'),
        |     ' *\n *', chr(10), 'g'),
        |    '\n{3,}', chr(10)||chr(10), 'g')) AS t
        |  FROM h
        |)
        |SELECT doc_id,
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(t,
        |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |   '\+?\(?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g') AS cleaned
        |FROM c""".stripMargin,
    "q_fix_mojibake" ->
      """SELECT doc_id,
        |  text || ' caf' || chr(233) || chr(8217) || 's na' || chr(239) ||
        |  've test' AS fixed
        |FROM documents""".stripMargin,
    "q_url_canon" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTPS://Example.COM/Docs/' || doc_id::VARCHAR ||
        |    '?utm_source=x&id=' || doc_id::VARCHAR || '&fbclid=abc#sec' AS url
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        regexp_replace(url, '#.*', '', 'g'),
        |        '&(utm_[A-Za-z0-9_]+|fbclid|gclid|mc_eid|ref_src)=[^&#]*', '', 'g'),
        |       '\?(utm_[A-Za-z0-9_]+|fbclid|gclid|mc_eid|ref_src)=[^&#]*&', '?', 'g'),
        |      '\?(utm_[A-Za-z0-9_]+|fbclid|gclid|mc_eid|ref_src)=[^&#]*$', '', 'g'),
        |     '\?$', '', 'g') AS url
        |  FROM u
        |)
        |SELECT doc_id,
        |  lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)) ||
        |  regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS canon
        |FROM s""".stripMargin,
    "q_strip_html" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    '<html><head><style>p{color:red}</style></head><body><p class="x">'
        |    || text ||
        |    '</p><!-- footer --><script>track();</script> &amp;lt; A&#39;s &quot;q&quot; &lt;tag&gt;</body></html>'
        |    AS t
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |   regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
        |    '(?is)<(script|style)\b[^>]*>.*?</(script|style)\s*>', ' ', 'g'),
        |    '(?s)<!--.*?-->', ' ', 'g'),
        |    '(?s)</?[A-Za-z!][^>]*>', ' ', 'g'),
        |    '&lt;', '<', 'g'),
        |    '&gt;', '>', 'g'),
        |    '&quot;', chr(34), 'g'),
        |    '&(#39|apos);', chr(39), 'g'),
        |    '&amp;', '&', 'g') AS t
        |  FROM w
        |)
        |SELECT doc_id, trim(
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(nfc_normalize(t),
        |        '\r\n?', chr(10), 'g'),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |     '[ \t]+', ' ', 'g'),
        |    ' *\n *', chr(10), 'g'),
        |   '\n{3,}', chr(10)||chr(10), 'g')) AS stripped
        |FROM h""".stripMargin,
    "q_text_clean" ->
      """SELECT doc_id, trim(
        |  regexp_replace(
        |   regexp_replace(
        |    regexp_replace(
        |     regexp_replace(
        |      regexp_replace(
        |        nfc_normalize(text || ' cafe' || chr(769) || chr(7) ||
        |          ' x' || chr(13)||chr(10) || chr(13)||chr(10) ||
        |          chr(13)||chr(10) || ' y  z' || chr(9) || ' w '),
        |        '\r\n?', chr(10), 'g'),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |     '[ \t]+', ' ', 'g'),
        |    ' *\n *', chr(10), 'g'),
        |   '\n{3,}', chr(10)||chr(10), 'g')) AS cleaned
        |FROM documents""".stripMargin,
    "q_pack_e2e" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n FROM documents GROUP BY 1
        |), t AS (
        |  SELECT SUM(n) AS total, SUM(sqrt(CAST(n AS DOUBLE))) AS powsum
        |  FROM c
        |), thr AS (
        |  SELECT c.source,
        |    CAST(round(least(1.0, sqrt(CAST(c.n AS DOUBLE)) / t.powsum
        |      * t.total * 0.5 / c.n) * 1000000) AS BIGINT) AS thr
        |  FROM c CROSS JOIN t
        |), kept AS (
        |  SELECT d.doc_id, d.source, d.n_chars
        |  FROM documents d JOIN thr USING (source)
        |  WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || ':0'), 1, 8))::BIGINT
        |        % 1000000 < thr.thr
        |), o AS (
        |  SELECT doc_id, source, n_chars,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 12))::BIGINT AS h
        |  FROM kept WHERE n_chars IS NOT NULL
        |), p AS (
        |  SELECT doc_id, source,
        |    coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
        |  FROM o
        |)
        |SELECT doc_id, source, CAST(pfx // 2048 AS BIGINT) AS seq_id,
        |       CAST(pfx % 2048 AS BIGINT) AS seq_offset FROM p""".stripMargin,
    "q_sample_weighted" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':2'), 1, 8))::BIGINT
        |      % 1000000 <
        |  floor(least(1.0, greatest(0.0, length(text) / 2000.0)) * 1000000)
        |""".stripMargin,
    "q_sample_strat" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':1'), 1, 8))::BIGINT
        |      % 1000000 <
        |  CASE WHEN lang = 'de' THEN 200000
        |       WHEN lang = 'en' THEN 500000
        |       ELSE 50000 END""".stripMargin,
    "q_corpus_report" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                         x -> x <> '')) AS BIGINT) AS ntok,
        |    CAST(length(text) AS BIGINT) AS nchar
        |  FROM documents
        |)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
        |  round(avg(ntok), 6) AS avg_tokens,
        |  round(quantile_cont(ntok, 0.5), 6) AS p50_tokens,
        |  round(quantile_cont(ntok, 0.9), 6) AS p90_tokens,
        |  CAST(sum(nchar) AS BIGINT) AS total_chars
        |FROM d GROUP BY lang""".stripMargin,
    "q_token_budget" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                         x -> x <> '')) AS BIGINT) AS ntok,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))::BIGINT
        |      % 1000000 AS b
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, lang,
        |    coalesce(sum(ntok) OVER (PARTITION BY lang ORDER BY b, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d
        |)
        |SELECT doc_id, lang FROM c WHERE cum < 3000""".stripMargin,
    "q_shuffle_det" ->
      """SELECT doc_id, CAST(row_number() OVER (ORDER BY
        |  ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 12))::BIGINT,
        |  doc_id) - 1 AS BIGINT) AS shuffle_rank
        |FROM documents""".stripMargin,
    "q_pack" ->
      """WITH o AS (
        |  SELECT doc_id, n_chars,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 12))::BIGINT AS h
        |  FROM documents WHERE n_chars IS NOT NULL
        |), c AS (
        |  SELECT doc_id, coalesce(sum(n_chars) OVER (ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
        |  FROM o
        |)
        |SELECT doc_id, CAST(pfx // 4096 AS BIGINT) AS seq_id,
        |       CAST(pfx % 4096 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin,
    "q_pack_by_global" ->
      """WITH o AS (
        |  SELECT doc_id, lang, n_chars,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 12))::BIGINT AS h
        |  FROM documents WHERE n_chars IS NOT NULL
        |), c AS (
        |  SELECT doc_id, lang, coalesce(sum(n_chars) OVER (
        |    PARTITION BY lang ORDER BY h, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pfx
        |  FROM o
        |)
        |SELECT doc_id, lang, CAST(pfx // 4096 AS BIGINT) AS seq_id,
        |       CAST(pfx % 4096 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin,
    "q_split" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR || ':0'), 1, 8))::BIGINT
        |      % 1000000 BETWEEN 700000 AND 899999""".stripMargin,
    "q_topk_group" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars, row_number() OVER (
        |    PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rk
        |  FROM documents)
        |WHERE rk <= 5""".stripMargin,
    "q_quantile_group" ->
      """WITH thr AS (
        |  SELECT lang, quantile_cont(n_chars, 0.75) AS t
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, documents.lang AS lang, n_chars
        |FROM documents JOIN thr ON documents.lang = thr.lang
        |WHERE n_chars >= t""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '')) AS BIGINT) AS ntok,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS nbpe,
        |  round(CASE WHEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '')) = 0 THEN 0
        |    ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |           t -> t IN ('the','a','of','and','to','in','is')))::DOUBLE
        |         / len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '')) END, 6) AS stop_ratio,
        |  round(CASE WHEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '')) = 0 THEN 0
        |    ELSE list_sum(list_transform(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> ''),
        |           t -> length(t)))::DOUBLE
        |         / len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), t -> t <> '')) END, 6) AS awl
        |FROM documents""".stripMargin,
    "q_pii_scrub" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id::VARCHAR || '@example.com or 10.0.' ||
        |    (doc_id % 256)::VARCHAR || '.7 call +1 555-01' ||
        |    (doc_id % 10)::VARCHAR || '-0199 soon' AS t
        |  FROM documents
        |), e1 AS (
        |  SELECT doc_id, t,
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |                   '<EMAIL>', 'g') AS a
        |  FROM aug
        |), e2 AS (
        |  SELECT doc_id, t, a,
        |    regexp_replace(a, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |                   '<IP>', 'g') AS b
        |  FROM e1
        |)
        |SELECT doc_id,
        |  regexp_replace(b, '\+?\(?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g')
        |    AS scrubbed,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS pii_emails,
        |  CAST(len(regexp_extract_all(a,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT)
        |    AS pii_ips,
        |  CAST(len(regexp_extract_all(b,
        |    '\+?\(?[0-9][0-9()\- ]{6,}[0-9]')) AS BIGINT) AS pii_phones
        |FROM e2""".stripMargin,
    "q_quality_repetition" ->
      """WITH built AS (
        |  SELECT doc_id,
        |    substr(text, 1, 40) || chr(10) || '- ' || substr(text, 11, 25) || chr(10) ||
        |    substr(text, 1, 40) || chr(10) || substr(text, 21, 15) || ' ...' AS txt
        |  FROM documents WHERE text IS NOT NULL
        |), lx AS (
        |  SELECT doc_id, trim(l) AS l
        |  FROM (SELECT doc_id, unnest(string_split(txt, chr(10))) AS l FROM built)
        |  WHERE trim(l) <> ''
        |), lc AS (
        |  SELECT doc_id, l, count(*) AS c, length(l) AS cl FROM lx GROUP BY doc_id, l
        |), lagg AS (
        |  SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_lines,
        |    (sum(c) - count(*))::DOUBLE / sum(c) AS dlf,
        |    sum(CASE WHEN c > 1 THEN c*cl ELSE 0 END)::DOUBLE / sum(c*cl) AS dlcf,
        |    sum(CASE WHEN l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%' THEN c ELSE 0 END)::DOUBLE
        |      / sum(c) AS blf,
        |    sum(CASE WHEN l LIKE '%...' OR l LIKE '%…' THEN c ELSE 0 END)::DOUBLE
        |      / sum(c) AS elf
        |  FROM lc GROUP BY doc_id
        |), tl AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(txt)), '\s+'),
        |                             x -> x <> '') AS ts
        |  FROM built
        |), tc AS (
        |  SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(ts) AS t FROM tl) GROUP BY doc_id, t
        |), tagg AS (
        |  SELECT doc_id, max(c)::DOUBLE / sum(c) AS ttf,
        |         sum(c*length(t)) + sum(c) - 1 AS denom
        |  FROM tc GROUP BY doc_id
        |), bg AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)-1),
        |           i -> array_to_string(list_slice(ts, i, i+1), ' '))) AS g
        |  FROM tl WHERE len(ts) >= 2
        |), bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g
        |), bgm AS (SELECT doc_id, max(c) AS mc FROM bgc GROUP BY doc_id
        |), bgt AS (
        |  SELECT bgc.doc_id, mc, max(length(g)) AS ml
        |  FROM bgc JOIN bgm ON bgc.doc_id = bgm.doc_id AND bgc.c = bgm.mc
        |  GROUP BY bgc.doc_id, mc
        |)
        |SELECT l.doc_id, l.n_lines,
        |  round(l.dlf, 6) AS dup_line_frac,
        |  round(l.dlcf, 6) AS dup_line_char_frac,
        |  round(l.blf, 6) AS bullet_line_frac,
        |  round(l.elf, 6) AS ellipsis_line_frac,
        |  round(t.ttf, 6) AS top_token_frac,
        |  round(CASE WHEN b.mc IS NULL THEN 0.0
        |        ELSE least(1.0, (b.mc * b.ml)::DOUBLE / t.denom) END, 6)
        |    AS top_bigram_char_frac
        |FROM lagg l JOIN tagg t ON l.doc_id = t.doc_id
        |LEFT JOIN bgt b ON l.doc_id = b.doc_id""".stripMargin,
    "q_text_langid" ->
      """SELECT doc_id,
        |  CASE
        |    WHEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |             t -> t IN ('the','a','and','of'))) > 0 THEN 'en'
        |    WHEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |             t -> t IN ('der','die','das','und'))) > 0 THEN 'de'
        |    WHEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |             t -> t IN ('le','la','les','et'))) > 0 THEN 'fr'
        |    WHEN len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |             t -> t IN ('el','los','las','y'))) > 0 THEN 'es'
        |    ELSE 'und' END AS lang_pred
        |FROM documents""".stripMargin,
    "q_text_langid_ct" -> {
      val L = graft.functions.LangIdExprs
      val n = L.languages.length
      s"""WITH prof(lang, g, r) AS (VALUES ${L.profilesSqlValues}),
         |seeds(lidx, vidx, txt) AS (VALUES ${L.seedsSqlValues}),
         |outp(oidx, txt) AS (VALUES ${L.outOfSetSqlValues}),
         |inp AS (
         |  SELECT d.doc_id,
         |         CASE WHEN d.doc_id % 17 = 0 THEN o.txt
         |              ELSE s.txt || ' ' || substr(lower(trim(coalesce(d.text, ''))), 1, 60)
         |         END AS t
         |  FROM documents d JOIN seeds s
         |    ON s.lidx = d.doc_id % $n AND s.vidx = (d.doc_id // $n) % 2
         |  LEFT JOIN outp o
         |    ON d.doc_id % 17 = 0
         |   AND o.oidx = (d.doc_id // 17) % ${L.outOfSetProbes.length}
         |), padded AS (
         |  SELECT doc_id, '_' || w || '_' AS p
         |  FROM (SELECT doc_id, unnest(list_filter(
         |          regexp_split_to_array(lower(t), '\\s+'), x -> x <> '')) AS w
         |        FROM inp)
         |), grams AS (
         |  SELECT doc_id, unnest(flatten(list_transform([1, 2, 3], nn ->
         |    list_transform(generate_series(1, length(p) - nn + 1), i ->
         |      substr(p, i, nn))))) AS g
         |  FROM padded
         |), docprof AS (
         |  SELECT doc_id, g,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY count(*) DESC, md5(g) ASC) AS i
         |  FROM grams GROUP BY doc_id, g
         |  QUALIFY i <= ${L.ProfileSize}
         |), dist AS (
         |  SELECT dp.doc_id, l.lang,
         |         sum(coalesce(abs(dp.i - pr.r), ${L.ProfileSize})) AS dist
         |  FROM docprof dp
         |  CROSS JOIN (SELECT DISTINCT lang FROM prof) l
         |  LEFT JOIN prof pr ON pr.lang = l.lang AND pr.g = dp.g
         |  GROUP BY 1, 2
         |), ranked AS (
         |  SELECT doc_id, lang, dist,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY dist ASC, lang ASC) AS rn
         |  FROM dist
         |), kk AS (
         |  SELECT doc_id, max(i) AS k FROM docprof GROUP BY doc_id
         |)
         |SELECT r1.doc_id,
         |       CASE WHEN r1.dist * 100 > ${L.UndDistPct} * kk.k * ${L.ProfileSize}
         |              OR (r2.dist - r1.dist) * 1000
         |                   < ${L.UndMarginPerMille} * kk.k * ${L.ProfileSize}
         |            THEN 'und' ELSE r1.lang END AS lang_pred
         |FROM ranked r1
         |JOIN ranked r2 ON r2.doc_id = r1.doc_id AND r2.rn = 2
         |JOIN kk ON kk.doc_id = r1.doc_id
         |WHERE r1.rn = 1""".stripMargin
    },
    "q_quality_model" -> {
      val Q = graft.functions.QualityExprs
      val nP = Q.heldOutPositive.length
      val nN = Q.heldOutNegative.length
      s"""WITH wts(b, w) AS (VALUES ${Q.weightsSqlValues}),
         |pos(i, txt) AS (VALUES ${Q.heldOutPositiveSqlValues}),
         |neg(i, txt) AS (VALUES ${Q.heldOutNegativeSqlValues}),
         |inp AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 3 = 0 THEN p.txt || ' ' || coalesce(d.text, '')
         |         WHEN d.doc_id % 3 = 1 THEN n.txt || ' ' || coalesce(d.text, '')
         |         ELSE coalesce(d.text, '') END AS t
         |  FROM documents d
         |  LEFT JOIN pos p ON d.doc_id % 3 = 0 AND p.i = (d.doc_id // 3) % $nP
         |  LEFT JOIN neg n ON d.doc_id % 3 = 1 AND n.i = (d.doc_id // 3) % $nN
         |), toks AS (
         |  SELECT doc_id, list_filter(
         |    regexp_split_to_array(lower(substr(t, 1, ${Q.MaxChars})), '\\s+'),
         |    x -> x <> '') AS ts
         |  FROM inp
         |), grams AS (
         |  SELECT doc_id, unnest(ts) AS g FROM toks
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(generate_series(2, len(ts)),
         |    i -> ts[i - 1] || ' ' || ts[i])) AS g
         |  FROM toks WHERE len(ts) >= 2
         |), sc AS (
         |  SELECT g.doc_id, sum(coalesce(w.w, ${Q.baseWeight})) AS score,
         |         count(*) AS n
         |  FROM grams g
         |  LEFT JOIN wts w
         |    ON w.b = CAST(('0x' || substr(md5(g.g), 1, 8)) AS BIGINT)
         |             % ${Q.NumBuckets}
         |  GROUP BY 1
         |)
         |SELECT i.doc_id, CAST(coalesce(sc.score, 0) AS BIGINT) AS score,
         |       CAST(coalesce(sc.n, 0) AS BIGINT) AS n_grams,
         |       coalesce(sc.score, 0) > 0 AS keep
         |FROM inp i LEFT JOIN sc USING (doc_id)""".stripMargin
    },
    "q_curate_model" -> {
      val Q = graft.functions.QualityExprs
      val nP = Q.heldOutPositive.length
      val nN = Q.heldOutNegative.length
      s"""WITH wts(b, w) AS (VALUES ${Q.weightsSqlValues}),
         |pos(i, txt) AS (VALUES ${Q.heldOutPositiveSqlValues}),
         |neg(i, txt) AS (VALUES ${Q.heldOutNegativeSqlValues}),
         |inp AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 3 = 0 THEN p.txt || ' ' || coalesce(d.text, '')
         |         WHEN d.doc_id % 3 = 1 THEN n.txt || ' ' || coalesce(d.text, '')
         |         ELSE coalesce(d.text, '') END AS t
         |  FROM documents d
         |  LEFT JOIN pos p ON d.doc_id % 3 = 0 AND p.i = (d.doc_id // 3) % $nP
         |  LEFT JOIN neg n ON d.doc_id % 3 = 1 AND n.i = (d.doc_id // 3) % $nN
         |), toks AS (
         |  SELECT doc_id, list_filter(
         |    regexp_split_to_array(lower(substr(t, 1, ${Q.MaxChars})), '\\s+'),
         |    x -> x <> '') AS ts
         |  FROM inp
         |), grams AS (
         |  SELECT doc_id, unnest(ts) AS g FROM toks
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(generate_series(2, len(ts)),
         |    i -> ts[i - 1] || ' ' || ts[i])) AS g
         |  FROM toks WHERE len(ts) >= 2
         |), msc AS (
         |  SELECT g.doc_id, sum(coalesce(w.w, ${Q.baseWeight})) AS score
         |  FROM grams g
         |  LEFT JOIN wts w
         |    ON w.b = CAST(('0x' || substr(md5(g.g), 1, 8)) AS BIGINT)
         |             % ${Q.NumBuckets}
         |  GROUP BY 1
         |), heur AS (
         |  SELECT doc_id, round(
         |    least(len(list_filter(regexp_split_to_array(lower(trim(t)), '\\s+'),
         |            x -> x <> ''))/100.0, 1.0) * 0.4
         |    + (1.0 - least((CASE WHEN length(t) = 0 THEN 0.0
         |        ELSE (length(t) - length(regexp_replace(t, '[^A-Za-z0-9\\s]', '', 'g')))::DOUBLE
         |             / length(t) END) * 5.0, 1.0)) * 0.3
         |    + least((CASE WHEN len(list_filter(regexp_split_to_array(lower(trim(t)), '\\s+'),
         |            x -> x <> '')) = 0 THEN 0.0
         |        ELSE len(list_filter(regexp_split_to_array(lower(trim(t)), '\\s+'),
         |            x -> x IN ('the','a','of','and','to','in','is')))::DOUBLE
         |             / len(list_filter(regexp_split_to_array(lower(trim(t)), '\\s+'),
         |            x -> x <> '')) END) * 4.0, 1.0) * 0.3,
         |    6) AS quality
         |  FROM inp
         |), kept AS (
         |  SELECT i.doc_id, msc.score, heur.quality,
         |    md5(regexp_replace(lower(trim(i.t)), '\\s+', ' ', 'g')) AS fp
         |  FROM inp i
         |  JOIN msc ON msc.doc_id = i.doc_id
         |  JOIN heur ON heur.doc_id = i.doc_id
         |  WHERE msc.score > 0 AND heur.quality >= 0.3
         |)
         |SELECT doc_id, CAST(score AS BIGINT) AS score, quality FROM (
         |  SELECT doc_id, score, quality,
         |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         |  FROM kept) WHERE rn = 1""".stripMargin
    },
    "q_domain_cap" -> {
      val hostRe = graft.pipeline.Scrub.HostRe
      s"""WITH u AS (
         |  SELECT doc_id, n_chars,
         |    CASE WHEN doc_id % 11 = 0 THEN 'not a url'
         |         ELSE 'HTTPS://User:Pw@Host' || CAST(doc_id % 7 AS VARCHAR)
         |              || '.Example.COM:8080/page/' || CAST(doc_id AS VARCHAR)
         |    END AS url
         |  FROM documents
         |), h AS (
         |  SELECT doc_id, n_chars,
         |    lower(regexp_extract(url, '$hostRe', 1)) AS host
         |  FROM u
         |)
         |SELECT doc_id, host, CAST(n_chars AS BIGINT) AS n_chars FROM (
         |  SELECT doc_id, host, n_chars,
         |    row_number() OVER (PARTITION BY host
         |                       ORDER BY n_chars DESC, doc_id ASC) AS rk
         |  FROM h) WHERE rk <= 10""".stripMargin
    },
    "q_text_langid_score" -> {
      val L = graft.functions.LangIdExprs
      val n = L.languages.length
      s"""WITH prof(lang, g, r) AS (VALUES ${L.profilesSqlValues}),
         |seeds(lidx, vidx, txt) AS (VALUES ${L.seedsSqlValues}),
         |outp(oidx, txt) AS (VALUES ${L.outOfSetSqlValues}),
         |inp AS (
         |  SELECT d.doc_id,
         |         CASE WHEN d.doc_id % 17 = 0 THEN o.txt
         |              ELSE s.txt || ' ' || substr(lower(trim(coalesce(d.text, ''))), 1, 60)
         |         END AS t
         |  FROM documents d JOIN seeds s
         |    ON s.lidx = d.doc_id % $n AND s.vidx = (d.doc_id // $n) % 2
         |  LEFT JOIN outp o
         |    ON d.doc_id % 17 = 0
         |   AND o.oidx = (d.doc_id // 17) % ${L.outOfSetProbes.length}
         |), padded AS (
         |  SELECT doc_id, '_' || w || '_' AS p
         |  FROM (SELECT doc_id, unnest(list_filter(
         |          regexp_split_to_array(lower(t), '\\s+'), x -> x <> '')) AS w
         |        FROM inp)
         |), grams AS (
         |  SELECT doc_id, unnest(flatten(list_transform([1, 2, 3], nn ->
         |    list_transform(generate_series(1, length(p) - nn + 1), i ->
         |      substr(p, i, nn))))) AS g
         |  FROM padded
         |), docprof AS (
         |  SELECT doc_id, g,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY count(*) DESC, md5(g) ASC) AS i
         |  FROM grams GROUP BY doc_id, g
         |  QUALIFY i <= ${L.ProfileSize}
         |), dist AS (
         |  SELECT dp.doc_id, l.lang,
         |         sum(coalesce(abs(dp.i - pr.r), ${L.ProfileSize})) AS dist
         |  FROM docprof dp
         |  CROSS JOIN (SELECT DISTINCT lang FROM prof) l
         |  LEFT JOIN prof pr ON pr.lang = l.lang AND pr.g = dp.g
         |  GROUP BY 1, 2
         |), ranked AS (
         |  SELECT doc_id, lang, dist,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY dist ASC, lang ASC) AS rn
         |  FROM dist
         |), kk AS (
         |  SELECT doc_id, max(i) AS k FROM docprof GROUP BY doc_id
         |)
         |SELECT r1.doc_id,
         |       CASE WHEN r1.dist * 100 > ${L.UndDistPct} * kk.k * ${L.ProfileSize}
         |              OR (r2.dist - r1.dist) * 1000
         |                   < ${L.UndMarginPerMille} * kk.k * ${L.ProfileSize}
         |            THEN 'und' ELSE r1.lang END AS lang_pred,
         |       CAST(r1.dist AS BIGINT) AS best_dist,
         |       CAST(r2.dist AS BIGINT) AS second_dist,
         |       CAST(kk.k AS BIGINT) AS k
         |FROM ranked r1
         |JOIN ranked r2 ON r2.doc_id = r1.doc_id AND r2.rn = 2
         |JOIN kk ON kk.doc_id = r1.doc_id
         |WHERE r1.rn = 1""".stripMargin
    },
    "q_embed_norm" ->
      """WITH n AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding::DOUBLE[], v -> v*v)))
        |           AS nrm
        |  FROM embeddings WHERE embedding IS NOT NULL
        |)
        |SELECT vec_id, CAST(i - 1 AS INT) AS pos,
        |       round(embedding[i]::DOUBLE / nrm, 6) AS nv
        |FROM (SELECT vec_id, embedding, nrm,
        |        unnest(generate_series(1, len(embedding))) AS i
        |      FROM n WHERE nrm > 0)""".stripMargin,
    "q_embed_quant" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding::DOUBLE[], v -> abs(v))) AS ma
        |  FROM embeddings WHERE embedding IS NOT NULL
        |)
        |SELECT vec_id, round(ma / 127.0, 6) AS scale,
        |       CAST(i - 1 AS INT) AS pos,
        |       CAST(CASE WHEN ma = 0 THEN 0
        |            ELSE round(embedding[i]::DOUBLE / (ma / 127.0)) END
        |         AS BIGINT) AS qv
        |FROM (SELECT vec_id, embedding, ma,
        |        unnest(generate_series(1, len(embedding))) AS i
        |      FROM m)""".stripMargin,
    "q_chunk" ->
      """WITH tl AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |                             x -> x <> '') AS ts
        |  FROM documents WHERE text IS NOT NULL
        |), ch AS (
        |  SELECT doc_id, ts, len(ts) AS n,
        |         unnest(generate_series(0, (greatest(1, len(ts) - 8) - 1) // 24)) AS j
        |  FROM tl WHERE len(ts) > 0
        |)
        |SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
        |  array_to_string(list_slice(ts, j*24 + 1, j*24 + 32), ' ') AS chunk_text,
        |  CAST(least(32, n - j*24) AS BIGINT) AS n_tokens
        |FROM ch""".stripMargin,
    "q_chunk_bpe" ->
      s"""$bpeOracleCtes,
        |dt AS (
        |  SELECT wp.doc_id, flatten(list(wb.toks ORDER BY wp.widx)) AS ts
        |  FROM wp JOIN wb ON wb.w = wp.wlist[widx]
        |  GROUP BY wp.doc_id
        |), ch AS (
        |  SELECT doc_id, ts, len(ts) AS n,
        |         unnest(generate_series(0, (greatest(1, len(ts) - 8) - 1) // 24)) AS j
        |  FROM dt WHERE len(ts) > 0
        |)
        |SELECT doc_id, CAST(j AS BIGINT) AS chunk_idx,
        |  array_to_string(list_slice(ts, j*24 + 1, j*24 + 32), ' ') AS chunk_text,
        |  CAST(least(32, n - j*24) AS BIGINT) AS n_tokens
        |FROM ch""".stripMargin,
    "q_token_budget_bpe" ->
      s"""$bpeOracleCtes,
        |dc AS (
        |  SELECT wp.doc_id, CAST(sum(len(wb.toks)) AS BIGINT) AS ntok
        |  FROM wp JOIN wb ON wb.w = wp.wlist[widx]
        |  GROUP BY wp.doc_id
        |), d AS (
        |  SELECT doc.doc_id, doc.lang, coalesce(dc.ntok, 0) AS ntok,
        |    ('0x' || substr(md5(doc.doc_id::VARCHAR || ':0'), 1, 8))::BIGINT
        |      % 1000000 AS b
        |  FROM documents doc LEFT JOIN dc ON dc.doc_id = doc.doc_id
        |), c AS (
        |  SELECT doc_id, lang,
        |    coalesce(sum(ntok) OVER (PARTITION BY lang ORDER BY b, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d
        |)
        |SELECT doc_id, lang FROM c WHERE cum < 3000""".stripMargin,
    "q_bm25" -> bm25Oracle(Seq("spark", "join", "window"), k = 10,
      k1 = 1.2, b = 0.75),
    // hybrid fusion replay: BM25 pool ranks + cosine pool ranks +
    // reciprocal-rank scores, all recomputed independently
    "q_hybrid_search" -> (bm25Ctes(Seq("spark", "join", "window"),
      k1 = 1.2, b = 0.75) +
      """, kw AS (
        |  SELECT * FROM (
        |    SELECT doc_id AS id, CAST(row_number() OVER (
        |      ORDER BY round(score, 6) DESC, doc_id) AS INTEGER) AS kw_rank
        |    FROM scored) WHERE kw_rank <= 50
        |), vec AS (
        |  SELECT * FROM (
        |    SELECT id, CAST(row_number() OVER (
        |      ORDER BY cos DESC, id) AS INTEGER) AS vec_rank
        |    FROM (SELECT b.vec_id AS id,
        |            round(list_cosine_similarity(a.embedding::DOUBLE[],
        |                                         b.embedding::DOUBLE[]), 6) AS cos
        |          FROM embeddings a, embeddings b WHERE a.vec_id = 0))
        |  WHERE vec_rank <= 50
        |), fused AS (
        |  SELECT coalesce(kw.id, vec.id) AS id, kw_rank, vec_rank,
        |    coalesce(CAST(1 AS DOUBLE) / (60 + kw_rank), 0) +
        |    coalesce(CAST(1 AS DOUBLE) / (60 + vec_rank), 0) AS rrf
        |  FROM kw FULL JOIN vec ON kw.id = vec.id
        |)
        |SELECT id, kw_rank, vec_rank, rrf FROM fused
        |ORDER BY rrf DESC, id LIMIT 10""".stripMargin),
    "q_ann_brute" ->
      """SELECT b.vec_id,
        |  list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id = 0
        |ORDER BY cos DESC, b.vec_id LIMIT 10""".stripMargin,
    "q_sql_cosine" ->
      """SELECT a.vec_id AS ida, b.vec_id AS idb,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""".stripMargin
  )
}
