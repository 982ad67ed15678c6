package graft

import org.apache.spark.sql.SparkSession

/** The untimed plan pass shared by [[Bench]] and run standalone:
  * build every battery entry's physical plan at a scale factor,
  * record PlanLint error counts and shuffle-exchange counts, and
  * (optionally) write the latter as the checked-in
  * `exchange_budget.json` baseline. Plans are CONSTRUCTED, not
  * executed — bounded driver-side fixture setup may run (q_read_rj
  * materializes its input directory when the _DONE marker is absent),
  * but no entry's job does.
  *
  * Standalone use (re-baseline after a deliberate plan change):
  * {{{
  *   SPARK_GRAFT_WRITE_BUDGET=exchange_budget.json \
  *     sbt "runMain graft.PlanAudit"
  * }}} */
object PlanAudit {

  /** (entry, lint-error count, shuffle-exchange count) per battery
    * entry; (-1, -1) marks a lint crash, reported loudly on stderr so
    * a broken builder cannot hide inside an all-clean-looking map. */
  def pass(spark: SparkSession, sfDir: String): Seq[(String, Int, Int)] =
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      try {
        val fs = graft.plans.PlanLint.lint(
          SparkEntry.queries(name)(spark, sfDir))
        (name, fs.count(_.severity == "error"),
          graft.plans.ExchangeBudget.fromFindings(fs))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[plan-audit] plan lint CRASHED for $name: $e")
        (name, -1, -1)
      }
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.start(32)
    val audited = pass(spark, sfDir)
    audited.foreach { case (name, errs, ex) =>
      println(f"$name%-28s lint_errors=$errs%2d exchanges=$ex%2d")
    }
    sys.env.get("SPARK_GRAFT_WRITE_BUDGET").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
        graft.plans.ExchangeBudget.render(
          audited.map { case (k, _, x) => k -> x }.toMap))
      println(s"wrote exchange budget to $p")
    }
    spark.stop()
  }
}
