package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.io.{DictStore, QuadsIO}
import graft.sources.TpchQuads
import graft.sparql.{BgpOptimizer, Compiler, QuadsStats, SparqlParser}
import graft.sparql.Sparql._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: set up the workload's store several
  * times, run its closed loop (one client thread) for the requested
  * seconds, and write every raw sample to a JSON file. `run.py`
  * generates the inputs (tables, query texts, N-Quads batches) and
  * turns the samples into metrics; this side only times calls into the
  * engine's public API.
  *
  * Usage: perfbench.PerfBench <plan.json> <out.json>
  */
object PerfBench {

  // ---------------------------------------------------------------- spans

  final case class Span(id: Int, parent: Int, op: Int, name: String,
                        phase: String, start: Long, end: Long)

  /** In-memory span recorder for the single client thread. Spans nest
    * by call structure; `op` ties every span of one operation together.
    * Disabled, `span` is a plain call. */
  final class Tracer {
    val spans = ArrayBuffer[Span]()
    var enabled = false
    var op = -1
    var phase = "setup"
    private var stack: List[Int] = Nil
    private var nextId = 0
    def span[T](name: String)(body: => T): T =
      if (!enabled) body
      else {
        val id = nextId; nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val t0 = System.nanoTime()
        try body
        finally {
          stack = stack.tail
          spans += Span(id, parent, op, name, phase, t0, System.nanoTime())
        }
      }
  }

  // ------------------------------------------------------- stage listener

  /** Per-job-group aggregate of the stage metrics Spark reports. The
    * group id is the operation id, set around every traced operation;
    * jobs of untraced operations carry no group and are skipped. */
  final class StageMetrics extends SparkListener {
    final class Agg {
      var jobs, stages, tasks = 0L
      var runMs, cpuNs, shWrite, shRead, fetchWaitMs, spill, inputRows, gcMs = 0L
    }
    val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Agg]()
    private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private def agg(g: String) = byGroup.computeIfAbsent(g, _ => new Agg)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach { gid =>
        agg(gid).synchronized(agg(gid).jobs += 1)
        e.stageIds.foreach(s => stageGroup.put(s, gid))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { gid =>
        val a = agg(gid)
        val m = e.stageInfo.taskMetrics
        a.synchronized {
          a.stages += 1
          a.tasks += e.stageInfo.numTasks
          if (m != null) {
            a.runMs += m.executorRunTime
            a.cpuNs += m.executorCpuTime
            a.shWrite += m.shuffleWriteMetrics.bytesWritten
            a.shRead += m.shuffleReadMetrics.totalBytesRead
            a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            a.inputRows += m.inputMetrics.recordsRead
            a.gcMs += m.jvmGCTime
          }
        }
      }
  }

  /** Shuffle and broadcast exchanges in a physical plan, looking inside
    * adaptive query stages and reused exchanges. */
  def exchanges(p: SparkPlan): (Int, Int) = {
    var shuffles, broadcasts = 0
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case x =>
        x match {
          case _: ShuffleExchangeLike => shuffles += 1
          case _: BroadcastExchangeLike => broadcasts += 1
          case _ =>
        }
        x.children.foreach(walk)
        x.subqueries.foreach(walk)
    }
    walk(p)
    (shuffles, broadcasts)
  }

  // ------------------------------------------------------------- helpers

  private val mapper = new ObjectMapper()

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssKb(): Long =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: java.io.IOException => -1L }

  /** Engine-independent CPU probe: SHA-256 over a fixed buffer. Its
    * median time before and after the run shows whether the host was
    * contended while the run measured. */
  def calibrate(): Seq[Double] = {
    val buf = Array.tabulate[Byte](4 << 20)(i => (i * 31).toByte)
    (1 to 3).map { _ =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val t0 = now()
      (1 to 32).foreach(_ => md.update(buf))
      md.digest()
      secs(t0, now())
    }
  }

  /** (steal, total) jiffies of the host's CPUs from /proc/stat: time the
    * hypervisor gave to other guests, and all time; (0, 0) elsewhere. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
        .map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  /** (data files, bytes) of a store directory, hidden/marker files excluded. */
  def storeSize(p: Path): (Long, Long) = {
    val files = Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_")).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  // --------------------------------------------------------------- plan

  final case class Instance(id: String, query: String, cols: Seq[(String, String)])

  sealed trait Store
  final case class Terms(quads: DataFrame, stats: QuadsStats) extends Store
  final case class Dict(store: DictStore) extends Store

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: PerfBench <plan.json> <out.json>")
    val plan = mapper.readTree(new java.io.File(args(0)))
    new Run(plan).execute(Paths.get(args(1)))
  }

  final class Run(plan: JsonNode) {
    val workload: String = plan.get("workload").asText()
    val traced: Boolean = plan.get("trace").asBoolean()
    val seconds: Double = plan.get("seconds").asDouble()
    val tables: String = plan.get("tables").asText()
    val work: Path = Paths.get(plan.get("work").asText())
    val setupReps: Int = plan.get("setup_reps").asInt()

    val instances: Map[String, Instance] = plan.get("instances").elements().asScala.map { n =>
      val cols = n.get("cols").elements().asScala.map(c => c.get(0).asText() -> c.get(1).asText()).toSeq
      n.get("id").asText() -> Instance(n.get("id").asText(), n.get("query").asText(), cols)
    }.toMap
    def ids(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

    val tracer = new Tracer
    val listener = new StageMetrics
    /** Seconds since the run began at which each part of it ended. */
    val timeline = mutable.LinkedHashMap[String, Double]()
    private val began = now()
    def mark(name: String): Unit = timeline(name) = secs(began, now())
    val spark: SparkSession = SparkSession.builder()
      .master(s"local[${plan.get("cores").asInt()}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", plan.get("cores").asInt().toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) spark.sparkContext.addSparkListener(listener)
    mark("spark_started")

    // -------- samples
    final case class OpRec(id: Int, kind: String, inst: String, phase: String,
                           wall: Double, cpu: Double, traced: Boolean, ok: Boolean,
                           rows: Long, quads: Long, shuffles: Int, broadcasts: Int)
    val ops = ArrayBuffer[OpRec]()
    val errors = ArrayBuffer[String]()
    val firstResult = mutable.LinkedHashMap[String, Seq[Seq[Any]]]()
    val firstDigest = mutable.Map[String, Int]()
    val setupSamples = ArrayBuffer[Double]()
    val writeSamples = ArrayBuffer[(Double, Long)]()
    var storeFiles, storeBytes, liveQuads = 0L
    var probeStore = (0L, 0L)
    var nextOp = 0
    /** A traced run leaves every other unit of the timed loop (an
      * analytic query, an ingest batch with its lookups) untraced, so it
      * also measures what tracing costs. The first unit is traced. */
    var untracedUnit = false
    var units = 0
    def nextUnit(): Unit = { untracedUnit = units % 2 == 1; units += 1 }

    def tracing: Boolean = traced && (tracer.phase match {
      case "prime" => false
      case "window" | "after_compact" => !untracedUnit
      case _ => true
    })

    /** Runs `body` as operation `kind`, timing its wall and process CPU
      * and, when tracing, recording its spans and stage metrics under a
      * fresh op id. An untraced operation sets no job group. */
    def operation(kind: String, inst: String)(body: => (Long, Long, Int, Int)): Unit = {
      val id = nextOp; nextOp += 1
      val on = tracing
      tracer.enabled = on
      tracer.op = id
      if (on) spark.sparkContext.setJobGroup(s"op$id", kind)
      val c0 = processCpuNs()
      val t0 = now()
      def rec(ok: Boolean, rows: Long, quads: Long, sh: Int, br: Int) =
        OpRec(id, kind, inst, tracer.phase, secs(t0, now()), (processCpuNs() - c0) / 1e9,
          on, ok, rows, quads, sh, br)
      val r =
        try {
          val (rows, quads, sh, br) = tracer.span(kind)(body)
          rec(ok = true, rows, quads, sh, br)
        } catch {
          case e: Exception =>
            if (errors.size < 20) errors += s"$kind $inst: ${e.getClass.getSimpleName}: ${
              Option(e.getMessage).getOrElse("").take(300)}"
            rec(ok = false, 0, 0, 0, 0)
        } finally {
          if (on) spark.sparkContext.clearJobGroup()
          tracer.enabled = false
        }
      ops += r
    }

    /** A call made outside any timed operation, spanned (when tracing)
      * under the operation that follows it. */
    def aside[T](name: String)(body: => T): T = {
      tracer.enabled = tracing
      tracer.op = nextOp
      try tracer.span(name)(body) finally tracer.enabled = false
    }

    /** One SELECT through the store's public entry point, flattened to
      * plain columns and collected: the caller waits for its answer.
      * Every answer must equal the first answer to the same instance,
      * which run.py checks against the oracle. */
    def query(store: Store, inst: Instance, check: Boolean = true): Unit = {
      store match {
        case Dict(ds) if tracing =>
          // `DictStore#sparql` parses and optimizes internally; a traced
          // run repeats both as separate calls to measure them
          val SparqlParser.SelectQuery(op, _) =
            aside("sparql.parse")(SparqlParser.parseAny(inst.query)): @unchecked
          aside("sparql.optimize")(BgpOptimizer.optimize(op, ds.stats))
        case _ =>
      }
      operation("query", inst.id) {
        val df = store match {
          case Terms(quads, stats) =>
            if (!tracer.enabled) quads.sparql(inst.query, stats)
            else {
              // the same three calls `quads.sparql(q, stats)` makes, spanned
              val parsed = tracer.span("sparql.parse")(SparqlParser.parseAny(inst.query))
              val SparqlParser.SelectQuery(op, _) = parsed: @unchecked
              val opt = tracer.span("sparql.optimize")(BgpOptimizer.optimize(op, Some(stats)))
              tracer.span("sparql.compile")(Compiler.run(quads, opt))
            }
          case Dict(ds) => tracer.span("dict.compile")(ds.sparql(inst.query))
        }
        val flat = df.select(inst.cols.map { case (n, ty) =>
          col(n).getField("lex").cast(ty).as(n) }: _*)
        if (tracer.enabled) tracer.span("catalyst.plan")(flat.queryExecution.executedPlan)
        val values = tracer.span("exec.run")(flat.collect()).toSeq.map(_.toSeq)
        if (check) {
          val digest = values.map(_.mkString("\u0001")).sorted.hashCode
          firstDigest.get(inst.id) match {
            case None =>
              firstDigest(inst.id) = digest
              firstResult(inst.id) = values
            case Some(d) if d != digest =>
              throw new IllegalStateException(s"${inst.id}: answer differs from its first execution")
            case _ =>
          }
        }
        val (sh, br) =
          if (tracer.enabled) exchanges(flat.queryExecution.executedPlan) else (0, 0)
        (values.size.toLong, 0L, sh, br)
      }
    }

    // ------------------------------------------------------- stores

    def quadsOf(dir: String, names: String*): DataFrame = names.map {
      case "region" => TpchQuads.region(spark, dir)
      case "nation" => TpchQuads.nation(spark, dir)
      case "customer" => TpchQuads.customer(spark, dir)
      case "supplier" => TpchQuads.supplier(spark, dir)
      case "part" => TpchQuads.part(spark, dir)
      case "orders" => TpchQuads.orders(spark, dir)
      case "lineitem" => TpchQuads.lineitem(spark, dir)
    }.reduce(_ union _)

    val baseTables = Seq("region", "nation", "customer", "supplier", "part")
    val allTables = baseTables ++ Seq("orders", "lineitem")

    /** The quads parquet every workload starts from: the term-struct
      * store itself for analytic_terms, the encode input for the dict
      * workloads (encoding from it beats re-projecting the tables on
      * every pass the encode makes). */
    def writeQuads(quads: DataFrame, dir: Path): DataFrame = {
      val t0 = now()
      tracer.span("io.write_parquet")(QuadsIO.writeParquet(quads, dir.toString))
      if (workload == "analytic_terms")
        writeSamples += ((secs(t0, now()), plan.get("total_quads").asLong()))
      QuadsIO.readParquet(spark, dir.toString)
    }

    def encode(quads: DataFrame, dir: Path): Dict = {
      val t0 = now()
      tracer.span("dict.encode")(DictStore.encode(quads, dir.toString))
      if (workload == "analytic_dict")
        writeSamples += ((secs(t0, now()), plan.get("total_quads").asLong()))
      Dict(tracer.span("dict.load")(DictStore.load(spark, dir.toString)))
    }

    def measureStore(dir: Path): Unit = {
      val (f, b) = storeSize(dir)
      storeFiles = f; storeBytes = b
    }

    /** The workload's store, built from the tables in `tablesDir`. */
    def build(dir: Path, tablesDir: String): Store = workload match {
      case "analytic_terms" =>
        val q = writeQuads(quadsOf(tablesDir, allTables: _*), dir.resolve("quads"))
        Terms(q, tracer.span("sparql.stats")(q.analyze()))
      case "analytic_dict" =>
        encode(writeQuads(quadsOf(tablesDir, allTables: _*), dir.resolve("quads")),
          dir.resolve("dict"))
      case "ingest_dict" =>
        encode(writeQuads(quadsOf(tablesDir, baseTables: _*), dir.resolve("quads")),
          dir.resolve("dict"))
    }

    /** Warms the JVM up on the built store right before the timed loop:
      * every query instance once (ingest: an epoch of one small batch on
      * a copy of the store), unchecked and untimed, so class loading,
      * query codegen and the first JIT work of the loop's own calls are
      * done. Set-up builds in between would undo part of it. */
    def prime(store: Store, dir: Path): Unit = {
      tracer.phase = "prime"
      workload match {
        case "ingest_dict" =>
          epoch(dir.resolve("dict"), Seq(plan.get("prime_batch")), work.resolve("prime"),
            check = false)
        case _ => ids(plan.get("warmup")).foreach(i => query(store, instances(i), check = false))
      }
    }

    /** Builds the workload's store `setupReps` times, each in a fresh
      * directory; one set-up sample runs from the start of a build to
      * the first answer from the new store. The first build starts in a
      * cold JVM, the later ones in a warmer one; the median is the
      * typical build. The last build serves the timed loop. */
    def setup(): (Store, Path) = {
      var last: (Store, Path) = null
      val first = instances(plan.get("first_query").asText())
      (1 to setupReps).foreach { r =>
        val dir = work.resolve(s"store$r")
        tracer.enabled = traced
        tracer.op = -r
        val t0 = now()
        val built = build(dir, tables)
        tracer.enabled = false
        query(built, first)
        setupSamples += secs(t0, now())
        if (last != null) deleteTree(last._2)
        last = (built, dir)
      }
      last
    }

    // --------------------------------------------------------- loops

    /** Queries drawn in rounds that hold each template once; whole
      * rounds run until the time is up, and at least `min_rounds` of
      * them, so every window has the same template mix and each template
      * a median over several samples. A traced run traces every other
      * query. */
    def analyticLoop(store: Store): Unit = {
      val draws = ids(plan.get("draws"))
      val round = plan.get("round").asInt()
      val minQueries = round * plan.get("min_rounds").asInt()
      val deadline = now() + (seconds * 1e9).toLong
      var i = 0
      while (i % round != 0 || i < minQueries || now() < deadline) {
        nextUnit()
        query(store, instances(draws(i % draws.size)))
        i += 1
      }
    }

    /** Restores the base store into `live`, appends `batches` with
      * read-your-writes lookups after each, compacts, and repeats the
      * lookups on the compacted store. */
    def epoch(base: Path, batches: Seq[JsonNode], live: Path, check: Boolean = true): Unit = {
      copyTree(base, live)
      var store = Dict(aside("dict.load")(DictStore.load(spark, live.toString)))
      var quadsLive = plan.get("base_quads").asLong()
      batches.foreach { b =>
        nextUnit()
        val path = b.get("path").asText()
        // the parse alone, materialized outside the timed append
        if (tracing) aside("io.parse")(QuadsIO.read(spark, path).count())
        val quads = b.get("quads").asLong()
        operation("append", path) {
          store = Dict(tracer.span("dict.append")(
            DictStore.append(QuadsIO.read(spark, path), live.toString)))
          (0L, quads, 0, 0)
        }
        quadsLive += quads
        ids(b.get("lookups")).foreach(i => query(store, instances(i), check))
      }
      nextUnit()
      operation("compact", live.toString) {
        tracer.span("dict.compact")(DictStore.compact(spark, live.toString))
        (0L, 0L, 0, 0)
      }
      store = Dict(aside("dict.load")(DictStore.load(spark, live.toString)))
      val phase = tracer.phase
      if (phase == "window") tracer.phase = "after_compact"
      batches.foreach { b =>
        nextUnit()
        ids(b.get("lookups")).foreach(i => query(store, instances(i), check))
      }
      tracer.phase = phase
      measureStore(live)
      liveQuads = quadsLive
      deleteTree(live)
    }

    /** Whole epochs until the time is up, and at least `min_rounds` of
      * them, so every compaction sees the same store shape. */
    def ingestLoop(base: Path): Unit = {
      val epochs = plan.get("epochs").elements().asScala.toSeq
      val minEpochs = plan.get("min_rounds").asInt()
      val deadline = now() + (seconds * 1e9).toLong
      var e = 0
      while ((e < minEpochs || now() < deadline) && e < epochs.size) {
        epoch(base, epochs(e).elements().asScala.toSeq, work.resolve(s"epoch$e"))
        e += 1
      }
    }

    /** Exercises, on a small slice, the layers the workload's own loop
      * leaves idle, so a traced run reports each per-layer metric: the
      * term-struct stats and compile path unless the loop queries term
      * structs, and the dict-store path unless the loop appends. */
    def probe(): Unit = {
      tracer.phase = "probe"
      val dir = work.resolve("probe")
      val inst = instances(plan.get("probe_query").asText())
      val q = aside("io.write_parquet") {
        QuadsIO.writeParquet(quadsOf(tables, "region", "nation", "customer"),
          dir.resolve("q").toString)
        QuadsIO.readParquet(spark, dir.resolve("q").toString)
      }
      if (workload != "analytic_terms") {
        val st = aside("sparql.stats")(q.analyze())
        val SparqlParser.SelectQuery(op, _) =
          aside("sparql.parse")(SparqlParser.parseAny(inst.query)): @unchecked
        val opt = aside("sparql.optimize")(BgpOptimizer.optimize(op, Some(st)))
        aside("sparql.compile")(Compiler.run(q, opt))
      }
      if (workload != "ingest_dict") {
        val d = dir.resolve("dict").toString
        aside("dict.encode")(DictStore.encode(q, d))
        val ds = aside("dict.load")(DictStore.load(spark, d))
        aside("dict.compile")(ds.sparql(inst.query))
        val nq = plan.get("probe_batch").asText()
        aside("io.parse")(QuadsIO.read(spark, nq).count())
        aside("dict.append")(DictStore.append(QuadsIO.read(spark, nq), d))
        aside("dict.compact")(DictStore.compact(spark, d))
        val compacted = aside("dict.load")(DictStore.load(spark, d))
        tracer.phase = "probe_after_compact"
        query(Dict(compacted), inst, check = false)
        probeStore = storeSize(Paths.get(d))
      }
      deleteTree(dir)
    }

    // ------------------------------------------------------- execute

    def execute(out: Path): Unit = {
      val calibBefore = calibrate()
      val (store, dir) = setup()
      mark("set_up")
      prime(store, dir)
      mark("primed")
      workload match {
        case "analytic_terms" => measureStore(dir.resolve("quads"))
        case "analytic_dict" => measureStore(dir.resolve("dict"))
        case _ =>
      }
      if (workload != "ingest_dict") liveQuads = plan.get("total_quads").asLong()
      tracer.phase = "window"
      units = 0
      val cpu0 = processCpuNs()
      val (steal0, jiffies0) = cpuJiffies()
      val t0 = now()
      workload match {
        case "ingest_dict" => ingestLoop(dir.resolve("dict"))
        case _ => analyticLoop(store)
      }
      val windowS = secs(t0, now())
      val cpuS = (processCpuNs() - cpu0) / 1e9
      val (steal1, jiffies1) = cpuJiffies()
      val stealFrac = (steal1 - steal0).toDouble / math.max(1L, jiffies1 - jiffies0)
      mark("window")
      untracedUnit = false
      if (traced) probe()
      val calibAfter = calibrate()
      if (traced) Thread.sleep(1000) // let the listener drain
      val rss = peakRssKb()
      val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      def peakOf(t: java.lang.management.MemoryType) =
        pools.filter(_.getType == t).map(_.getPeakUsage.getUsed).sum
      val heapPeak = peakOf(java.lang.management.MemoryType.HEAP)
      val nonHeapPeak = peakOf(java.lang.management.MemoryType.NON_HEAP)
      spark.stop()
      deleteTree(dir)
      mark("stopped")

      def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
        val m = new java.util.LinkedHashMap[String, Any]()
        kv.foreach { case (k, v) => m.put(k, v) }
        m
      }
      def jl(xs: Iterable[Any]): java.util.List[Any] = xs.toSeq.asJava
      val stageRows = listener.byGroup.asScala.toSeq.map { case (g, a) =>
        obj("op" -> g.stripPrefix("op").toInt, "jobs" -> a.jobs, "stages" -> a.stages,
          "tasks" -> a.tasks, "run_s" -> a.runMs / 1e3, "task_cpu_s" -> a.cpuNs / 1e9,
          "shuffle_write_bytes" -> a.shWrite, "shuffle_read_bytes" -> a.shRead,
          "shuffle_fetch_wait_s" -> a.fetchWaitMs / 1e3, "spill_bytes" -> a.spill,
          "input_rows" -> a.inputRows, "gc_s" -> a.gcMs / 1e3)
      }
      val results = new java.util.LinkedHashMap[String, Any]()
      firstResult.foreach { case (k, rows) => results.put(k, jl(rows.map(r => jl(r)))) }
      val result = obj(
        "workload" -> workload,
        "traced" -> traced,
        "window_s" -> windowS,
        "window_cpu_s" -> cpuS,
        "window_steal_frac" -> stealFrac,
        "setup_s" -> jl(setupSamples),
        "writes" -> jl(writeSamples.map { case (s, q) => obj("s" -> s, "quads" -> q) }),
        "ops" -> jl(ops.map(o => obj("id" -> o.id, "kind" -> o.kind, "inst" -> o.inst,
          "phase" -> o.phase, "wall_s" -> o.wall, "cpu_s" -> o.cpu, "traced" -> o.traced,
          "ok" -> o.ok,
          "rows" -> o.rows, "quads" -> o.quads, "shuffle_exchanges" -> o.shuffles,
          "broadcast_exchanges" -> o.broadcasts))),
        "errors" -> jl(errors),
        "results" -> results,
        "store_files" -> storeFiles,
        "store_bytes" -> storeBytes,
        "live_quads" -> liveQuads,
        "probe_store_files" -> probeStore._1,
        "probe_store_bytes" -> probeStore._2,
        "spans" -> jl(tracer.spans.map(s => jl(Seq(s.id, s.parent, s.op, s.name, s.phase,
          s.start, s.end)))),
        "stages" -> jl(stageRows),
        "calib_before_s" -> jl(calibBefore),
        "calib_after_s" -> jl(calibAfter),
        "peak_rss_kb" -> rss,
        "heap_pools_peak_bytes" -> heapPeak,
        "non_heap_pools_peak_bytes" -> nonHeapPeak,
        "timeline_s" -> timeline.asJava,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
        "available_processors" -> Runtime.getRuntime.availableProcessors())
      mapper.writeValue(out.toFile, result)
    }
  }
}
