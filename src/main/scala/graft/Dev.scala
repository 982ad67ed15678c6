package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one dev tool over battery entries, run on the corpus at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1) in a 32-core [[LocalSession]]
  * like [[Bench]], so what it shows is what the bench runs:
  *
  * {{{
  *   runMain graft.Dev time <entry...>
  *   runMain graft.Dev plan [--out <dir> <suffix>] <entry...>
  *   runMain graft.Dev final <entry...>
  * }}}
  *
  *  - `time`: one untimed warm-up of every entry (builds /tmp
  *    fixtures, loads code paths), then per entry 3 passes each of
  *    PLANNING (construction, analysis, optimization and physical
  *    planning, via `executedPlan`), the noop-sink EXECUTION of a
  *    pre-planned frame, and the FULL run, reported as medians — so
  *    optimization effort lands on the part that costs. Bench's
  *    calibration probe runs before and after the timed passes, after
  *    the warm-up as in Bench, so an isolated re-timing carries its
  *    own validity evidence against shared-host contention.
  *  - `plan`: the formatted physical plan, printed, or with `--out`
  *    written to `<dir>/<entry>_<suffix>.txt` (the before/after plan
  *    evidence under plans/).
  *  - `final`: executes the entry, then prints its FINAL adaptive plan
  *    — the one AQE ran, with the runtime ReusedExchange and
  *    AQEShuffleRead nodes that `explain` on an unexecuted frame cannot
  *    show — and the per-stage task table of its construction and
  *    execution (iterative entries run eager jobs while constructing).
  */
object Dev {
  sealed trait Cmd { def entries: Seq[String] }
  final case class Time(entries: Seq[String]) extends Cmd
  final case class Plan(out: Option[(String, String)], entries: Seq[String])
    extends Cmd
  final case class Final(entries: Seq[String]) extends Cmd

  private val usage = "usage: graft.Dev time <entry...> | " +
    "plan [--out <dir> <suffix>] <entry...> | final <entry...>"

  /** The command line as a [[Cmd]], or the usage message; pure, so a
    * bad command line fails before any session starts. */
  private[graft] def parse(args: Seq[String]): Either[String, Cmd] =
    (args match {
      case "time" +: names => Some(Time(names))
      case "plan" +: "--out" +: dir +: suffix +: names =>
        Some(Plan(Some((dir, suffix)), names))
      case "plan" +: names => Some(Plan(None, names))
      case "final" +: names => Some(Final(names))
      case _ => None
    }) match {
      case Some(cmd) if cmd.entries.nonEmpty =>
        val unknown = cmd.entries.filterNot(SparkEntry.queries.contains)
        if (unknown.isEmpty) Right(cmd)
        else Left(s"unknown battery entries: ${unknown.mkString(", ")}\n$usage")
      case _ => Left(usage)
    }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq) match {
      case Right(parsed) => parsed
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.start(32)
    def frame(name: String): DataFrame = SparkEntry.queries(name)(spark, sfDir)
    cmd match {
      case Time(names) => time(spark, names, frame)
      case Plan(out, names) => names.foreach { name =>
        val plan = frame(name).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        out match {
          case None => println(s"========== $name ==========\n$plan")
          case Some((dir, suffix)) =>
            val file = java.nio.file.Paths.get(dir, s"${name}_$suffix.txt")
            java.nio.file.Files.createDirectories(file.getParent)
            java.nio.file.Files.writeString(file, plan)
            println(s"wrote $file")
        }
      }
      case Final(names) => finalPlans(spark, names, frame)
    }
    spark.stop()
  }

  private def time(spark: SparkSession, names: Seq[String],
                   frame: String => DataFrame): Unit = {
    def secs(body: => Any): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def median3(pass: => Double): Double = Bench.medianOf((1 to 3).map(_ => pass))
    def run(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    names.foreach(name => run(frame(name))) // untimed warm-up
    println(f"calib_before: ${Bench.calibrate(spark)}%.3f s")
    names.foreach { name =>
      val plan = median3(secs(frame(name).queryExecution.executedPlan))
      val exec = median3 {
        val df = frame(name)
        df.queryExecution.executedPlan
        secs(run(df))
      }
      val full = median3(secs(run(frame(name))))
      println(f"$name%-28s plan=$plan%.3f exec=$exec%.3f full=$full%.3f")
    }
    println(f"calib_after: ${Bench.calibrate(spark)}%.3f s")
  }

  private def finalPlans(spark: SparkSession, names: Seq[String],
                         frame: String => DataFrame): Unit = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val m = i.taskMetrics
          stages.add(f"stage ${i.stageId}%4d tasks=${i.numTasks}%4d " +
            f"run=${m.executorRunTime / 1e3}%7.2fs " +
            f"cpu=${m.executorCpuTime / 1e9}%7.2fs " +
            f"deser=${m.executorDeserializeTime / 1e3}%6.2fs " +
            f"  ${i.name.takeWhile(_ != '\n').take(80)}")
        }
      })
    names.foreach { name =>
      stages.clear() // before construction: iterative entries run eager jobs there
      val df = frame(name)
      // execute THIS QueryExecution (a noop write plans its OWN), so
      // the printed AdaptiveSparkPlan is the final one
      df.queryExecution.toRdd.count()
      Thread.sleep(300) // let the listener drain
      println(s"========== $name (final adaptive plan) ==========")
      println(df.queryExecution.executedPlan.toString)
      println(s"---------- $name stages (construction and execution) ----------")
      stages.forEach(s => println(s))
    }
  }
}
