package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A failing
  * entry's stale output from a previous run is DELETED before the
  * attempt (a leftover parquet would masquerade as this run's result
  * and turn a regression into a false PASS), and any failure exits
  * nonzero like Bench. Entry names after the two directories restrict
  * the dump, and its oracle_sql.json, to that subset. */
object Verify {
  /** Dump `SparkEntry.oracleSql` (restricted to `only` when given) as
    * `outDir/oracle_sql.json`.
    * JSON string escape covers backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise make
    * the driver's json.load fail and silently zero the round's
    * correctness. */
  private def writeOracleJson(outDir: String,
                              only: Option[Set[String]]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  private val usage = "usage: graft.Verify <sfDir> <outDir> [entry...]"

  /** `<sfDir> <outDir> [entry...]` as (sfDir, outDir, entry subset —
    * None for the whole battery), or the usage message; pure, so a bad
    * command line fails before any session starts. */
  private[graft] def parseArgs(
      args: Seq[String]): Either[String, (String, String, Option[Set[String]])] =
    args match {
      case Seq(sfDir, outDir, names @ _*) =>
        subset(names, usage).map(only => (sfDir, outDir, only))
      case _ => Left(usage)
    }

  private val sweepUsage =
    "usage: graft.VerifyAtSf [sfDir [outDir [report.json [entry...]]]]"

  /** [[VerifyAtSf]]'s entry subset (its arguments after `sfDir outDir
    * report`), or the usage message; pure, like [[parseArgs]]. */
  private[graft] def parseSweepArgs(
      args: Seq[String]): Either[String, Option[Set[String]]] =
    subset(args.drop(3), sweepUsage)

  /** Battery entry names as a subset (None when empty), or an error
    * naming the unknown ones. */
  private def subset(names: Seq[String],
                     usage: String): Either[String, Option[Set[String]]] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      Left(s"unknown battery entries: ${unknown.mkString(", ")}\n$usage")
    else Right(Option.when(names.nonEmpty)(names.toSet))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }
    val spark = LocalSession.start(4)
    val failed = run(spark, sfDir, outDir, only)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] FAILED entries: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The dump itself, composable (no session ownership, no exit):
    * every entry's result to `outDir/<name>.parquet` + oracle_sql.json
    * + plan_lint.json; returns the entries that failed to run or
    * violated their structural row check. [[VerifyAtSf]] reuses this
    * for the scale sweep. */
  private[graft] def run(spark: SparkSession, sfDir: String,
                         outDir: String,
                         only: Option[Set[String]] = None): List[String] = {
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    // plan-shape telemetry alongside correctness: per entry, the
    // PlanLint error rules its pre-execution plan carries (empty for
    // a scale-clean plan). Pure telemetry — SPARQL semantics force a
    // handful of cartesians (disjoint-domain MINUS, zero-length path
    // domains), so Verify records rather than gates; the clean-entry
    // count is asserted sample-wise in PlanLintSpec.
    var lint = List.empty[(String, (Seq[String], Int))]
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown battery entries: ${unknown.mkString(", ")}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val dest = Paths.get(outDir, name)
      if (Files.exists(dest)) { // stale result from an earlier run
        import scala.jdk.CollectionConverters._
        Files.walk(dest).sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
      }
      try {
        val df = fn(spark, sfDir)
        try {
          val fs = graft.plans.PlanLint.lint(df)
          lint ::= name -> (fs.filter(_.severity == "error")
            .map(_.rule).distinct,
            graft.plans.ExchangeBudget.fromFindings(fs))
        } catch { // telemetry must not fail a run — but fatal errors
          // (OOM, interrupts) must still propagate
          case scala.util.control.NonFatal(e) =>
            lint ::= name ->
              (Seq(s"lint-crashed: ${e.getClass.getSimpleName}"), -1)
        }
        df.coalesce(1).write.mode("overwrite")
          .parquet(dest.toString)
        // no-oracle entries still get a CHECKED bound: the structural
        // row-count invariants in SparkEntry.rowChecks (metadata-only
        // count of the just-written parquet)
        SparkEntry.rowChecks.get(name).foreach { case (ok, desc) =>
          val n = spark.read.parquet(dest.toString).count()
          if (!ok(n)) {
            failed ::= name
            System.err.println(
              s"[verify] $name rows=$n violates expected bound: $desc")
          }
        }
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleJson(outDir, only)
    // per entry: error rules + the shuffle-exchange count, so a plan
    // regression is visible in the SAME artifact as correctness
    val lintJson = lint.sortBy(_._1).map { case (n, (rules, ex)) =>
      s""""$n": {"rules": [${rules.map(r => s""""$r"""").mkString(", ")}], "exchanges": $ex}"""
    }.mkString("{", ",\n ", "}")
    Files.writeString(Paths.get(s"$outDir/plan_lint.json"), lintJson)
    val dirty = lint.count(_._2._1.nonEmpty)
    System.err.println(
      s"[verify] plan lint: ${lint.size - dirty}/${lint.size} entries " +
        s"error-free (details in plan_lint.json)")
    failed
  }
}
