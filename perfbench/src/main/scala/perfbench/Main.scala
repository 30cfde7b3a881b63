package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.SparkEntry
import graft.config.ExtractionConfig
import graft.xml.{Fragment, FragmentScanner, StaxProjector, StaxRuleEvaluator, XmlExtraction}

/**
 * One benchmark run of one workload, in one JVM. Writes the raw samples
 * (setup times, pass or visit times, output checks, probe times, spans and
 * their Spark counters) as JSON to `--out`; run.py turns them into metrics.
 *
 * Nothing the timed region would derive is computed before it: the timed
 * call is the engine's public entry point on the generated input, the BPE
 * memo is cleared before every curation visit, and query-local persisted
 * blocks are dropped after every visit.
 *
 * Args: --workload w --seed n --seconds s --trace 0|1 --cpus n --work dir
 *       --out file --setups k --warm-passes k --configs dir
 *       [--tables dir --queries a,b,c] [--docs n]
 */
object Main {
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  def main(argv: Array[String]): Unit = {
    val jvmBoot = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cpus = args("cpus").toInt
    val work = Files.createDirectories(Paths.get(args("work")).toAbsolutePath)
    val isXml = workload.startsWith("xml_")
    val out = new Json

    // inputs first, outside every timed region and outside setup_s
    val g0 = System.nanoTime()
    val corpus = if (isXml) Some(Corpus.generate(seed, work.resolve("corpus"),
      args("docs").toInt, seqParts = 16)) else None
    out("gen_s") = secs(g0)

    // setup: session + untimed warm-up, several times; the first also counts
    // the JVM's start-up, the later ones rebuild the session from scratch
    val setups = mutable.ArrayBuffer[Map[String, Double]]()
    var spark: SparkSession = null
    for (i <- 0 until args("setups").toInt) {
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = session(cpus, work)
      val session_s = secs(s0) + (if (i == 0) jvmBoot else 0.0)
      val w0 = System.nanoTime()
      warmup(spark)
      val warmup_s = secs(w0)
      setups += Map("session_s" -> session_s, "warmup_s" -> warmup_s,
        "total_s" -> (session_s + warmup_s))
    }
    out("setups") = setups.toSeq
    out("jvm_boot_s") = jvmBoot

    val tracer = new Tracer(workload, traced)
    tracer.attach(spark.sparkContext)
    val w = new Workload(spark, seed, seconds, args, work, corpus, tracer, out)
    try {
      if (isXml) w.runXml() else w.runCuration()
    } catch {
      case e: Throwable => out("fatal") = e.toString
    } finally {
      // stopping drains the listener bus, so every task is counted
      spark.stop()
    }
    out("spans") = tracer.spans.toSeq.map { s =>
      val c = tracer.counters.getOrElse(s.id, new SpanCounters)
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "workload" -> s.workload,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "task_s" -> c.taskMs / 1e3, "run_s" -> c.runMs / 1e3, "cpu_s" -> c.cpuNs / 1e9,
        "gc_s" -> c.gcMs / 1e3, "shuffle_write_b" -> c.shuffleWriteB,
        "shuffle_read_b" -> c.shuffleReadB, "spill_disk_b" -> c.spillDiskB,
        "spill_mem_b" -> c.spillMemB, "peak_exec_mem_b" -> c.peakExecMemB,
        "stage_skew" -> c.stageSkew.toSeq)
    }
    out("peak_rss_mb") = vmHwmMb()
    out("record") = Map(
      "cpus" -> cpus, "master" -> s"local[$cpus]", "shuffle_partitions" -> cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "spark_version" -> org.apache.spark.SPARK_VERSION)
    Files.writeString(Paths.get(args("out")), out.render, StandardCharsets.UTF_8)
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads: tasks, driver, JIT, GC), in ns.
   * Unlike wall time it does not grow while a neighbour steals the CPU. */
  def cpuNs(): Long = os.getProcessCpuTime

  private val nsPerTick = 1000000000L / sys.props.getOrElse("perfbench.clk_tck", "100").toLong

  /** CPU time of the JIT compiler threads, in ns, from their /proc/self/task
   * entries (utime + stime). run.py starts the JVM with a fixed set of
   * compiler threads, so none drops out of the sum by exiting. The timed
   * passes report process CPU minus this: after any warm-up a short run can
   * afford, C2 still compiles in bursts of seconds that come and go from run
   * to run, and would swamp a change in the program's own CPU time. */
  def jitNs(): Long = {
    var ticks = 0L
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try {
      for (task <- tasks.iterator.asScala) {
        try {
          val stat = Files.readString(task.resolve("stat"))
          val close = stat.lastIndexOf(')')
          if (stat.substring(stat.indexOf('(') + 1, close).contains("CompilerThre")) {
            // fields after the command: state is field 3, utime 14, stime 15
            val f = stat.substring(close + 2).split(' ')
            ticks += f(11).toLong + f(12).toLong
          }
        } catch { case _: java.io.IOException => } // a thread that just ended
      }
    } finally tasks.close()
    ticks * nsPerTick
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The engine's own bench warm-up: JVM/codegen and the XPath machinery.
   * The workload's first pass or verification visits follow it, untimed. */
  private def warmup(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1).selectExpr("xpath_string('<a><b>x</b></a>', '/a/b')").collect()
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** The timed region and the traced probes of one workload. */
final class Workload(spark: SparkSession, seed: Long, seconds: Double,
                     args: Map[String, String], work: Path, corpus: Option[Corpus.Generated],
                     tracer: Tracer, out: Json) {
  import Main.{cpuNs, jitNs, noop, secs}

  private def config(file: String) =
    ExtractionConfig.fromFile(Paths.get(args("configs"), file).toString)
  private val outDir = work.resolve("output")

  // ---------------------------------------------------------------- xml ---

  def runXml(): Unit = {
    val c = corpus.get
    val inventory = config("ExtractInventory.xml")
    val book = config("ExtractBook.xml")
    out("input_bytes") = c.bytes
    out("docs") = c.docs
    out("expected_lines") = c.inventory.lines

    // the timed pipeline: ExtractorCli --seq
    def lines(): DataFrame =
      XmlExtraction.run(XmlExtraction.corpusFromSequenceFile(spark, c.seqDir.toString), inventory)
    // the graft-xml DSv2 select path, over the first Corpus.HeadDocs documents:
    // its driver-side cost grows with the file count, so a full-corpus pass
    // would not fit a run; it is checked in every run and probed when traced
    def fragments(): DataFrame = spark.read.format("graft-xml")
      .option("config", Paths.get(args("configs"), "ExtractBook.xml").toString)
      .load(c.xmlDir.resolve(Corpus.HeadGlob).toString)
    def selectLines(): DataFrame = XmlExtraction.formatLines(
      XmlExtraction.pivotRows(XmlExtraction.tuplesFromFragments(fragments(), book), book), book)

    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    // write to text (timed), then compare the output's digest with the
    // expected one (untimed):
    // (error or "", output bytes, wall s, process CPU s minus JIT, JIT CPU s)
    def checked(label: String, df: => DataFrame,
                expected: LineDigest): (String, Long, Double, Double, Double) = {
      var err = ""
      var bytes = 0L
      val t0 = System.nanoTime()
      val c0 = cpuNs()
      val j0 = jitNs()
      var wall = 0.0
      var cpu = 0.0
      var jit = 0.0
      try {
        df.write.mode("overwrite").text(outDir.toString)
        wall = secs(t0)
        jit = (jitNs() - j0) / 1e9
        cpu = (cpuNs() - c0) / 1e9 - jit
        val (got, b) = LineDigest.ofTextOutput(outDir)
        bytes = b
        if (got != expected) err = s"$label output digest $got != expected $expected"
      } catch { case e: Throwable => err = e.toString }
      (err, bytes, wall, cpu, jit)
    }

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    var sinkBytes = 0L
    def pass(timed: Boolean, traceIt: Boolean): Unit = {
      val (err, bytes, wall, cpu, jit) =
        if (traceIt) tracer.span("pass")(checked("pass", lines(), c.inventory))
        else checked("pass", lines(), c.inventory)
      sinkBytes = bytes
      if (timed) passes += Map("wall_s" -> wall, "cpu_s" -> cpu, "jit_s" -> jit,
        "ok" -> err.isEmpty, "traced" -> traceIt, "error" -> err)
      else checks += Map("name" -> "warm_pass", "ok" -> err.isEmpty, "error" -> err)
    }

    val (dsv2Err, _, _, _, _) = checked("dsv2_select", selectLines(), c.bookHead)
    checks += Map("name" -> "dsv2_select", "ok" -> dsv2Err.isEmpty, "error" -> dsv2Err)
    // JIT warm-up, checked like the rest
    for (_ <- 0 until args("warm-passes").toInt) pass(timed = false, traceIt = false)
    val t0 = System.nanoTime()
    var i = 0
    // the traced run alternates untraced and traced passes, so their
    // difference is the tracing overhead under the same box conditions
    while (i < 2 || secs(t0) < seconds) {
      pass(timed = true, traceIt = tracer.enabled && i % 2 == 1)
      i += 1
    }
    out("passes") = passes.toSeq
    out("checks") = checks.toSeq
    out("sink_bytes") = sinkBytes

    if (tracer.enabled) {
      // layer probes, each ending in a noop sink; rounds are interleaved so
      // the probes a self-time subtracts ran at the same JIT warmth
      def seq() = XmlExtraction.corpusFromSequenceFile(spark, c.seqDir.toString)
      val layers: Seq[(String, () => Unit)] = Seq(
        "read" -> (() => noop(seq())),
        "tuples" -> (() => noop(XmlExtraction.tuples(seq(), inventory).toDF())),
        "rows" -> (() => noop(XmlExtraction.extractRows(seq(), inventory))),
        "full" -> (() => lines().write.mode("overwrite").text(outDir.toString)),
        "graft_xml" -> (() => noop(fragments())),
        "tuples_from_fragments" ->
          (() => noop(XmlExtraction.tuplesFromFragments(fragments(), book).toDF())),
        "pivot" -> (() => noop(XmlExtraction.pivotRows(
          XmlExtraction.tuplesFromFragments(fragments(), book), book))))
      val probes = mutable.LinkedHashMap[String, Seq[Double]]()
      for (_ <- 0 until 3; (label, run) <- layers) {
        val p0 = System.nanoTime()
        tracer.span(s"probe.$label")(run())
        probes(label) = probes.getOrElse(label, Seq()) :+ secs(p0)
      }
      out("probes") = probes.toMap
      out("graft_xml_partitions") = fragments().rdd.getNumPartitions
      out("inprocess") = inProcess(c, inventory)
    }
  }

  /** FragmentScanner.scan and StaxRuleEvaluator.eval over the whole corpus on
   * one driver thread: the byte-scan and projection layers without Spark. */
  private def inProcess(c: Corpus.Generated, cfg: ExtractionConfig): Map[String, Any] = {
    val docs = Files.list(c.xmlDir).iterator.asScala.toSeq.sortBy(_.toString)
      .map(p => Files.readString(p, StandardCharsets.UTF_8))
    val rules = cfg.rules.toIndexedSeq
    val evals = rules.map(r => new StaxRuleEvaluator(r.xpaths.toIndexedSeq
      .map(p => (p.order, StaxProjector.compile(p.xpath).get))))
    var frags: Seq[Fragment] = Nil
    val scanS = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      frags = tracer.span("probe.scan")(docs.flatMap(d => FragmentScanner.scan(d, rules)))
      secs(t0)
    }
    var tuples = 0L
    val projectS = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      tuples = tracer.span("probe.project")(frags.map(f => evals(f.ruleIndex).eval(f.xml).size.toLong).sum)
      secs(t0)
    }
    Map("scan_s" -> scanS, "scan_bytes" -> c.bytes, "fragments" -> frags.size,
      "project_s" -> projectS, "tuples" -> tuples)
  }

  // ----------------------------------------------------------- curation ---

  def runCuration(): Unit = {
    val dir = args("tables")
    val names = args("queries").split(',').toSeq
    val rows = mutable.LinkedHashMap[String, Long]()
    val errors = mutable.LinkedHashMap[String, String]()

    def queryLocalBlocks(keep: Set[Int]): Unit =
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(blocking = true) }

    // untimed verification visit: full output to parquet for the oracle check
    for (q <- names) {
      val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
      graft.operators.Bpe.clearArtifacts()
      try {
        val obs = Observation()
        SparkEntry.queries(q)(spark, dir).observe(obs, count(lit(1)).as("rows"))
          .write.mode("overwrite").parquet(work.resolve("results").resolve(q).toString)
        rows(q) = obs.get("rows").asInstanceOf[Long]
      } catch { case e: Throwable => errors(q) = e.toString }
      queryLocalBlocks(keep)
    }
    out("oracle_sql") = names.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap
    out("verified_rows") = rows.toMap
    out("verify_errors") = errors.toMap

    // warm passes run and check like timed ones but are marked and left out
    // of every metric; the traced run alternates untraced and traced passes
    val visits = mutable.ArrayBuffer[Map[String, Any]]()
    val rng = new scala.util.Random(seed)
    val warm = args("warm-passes").toInt
    var t0 = System.nanoTime()
    var pass = 0
    while (pass < warm + 2 || secs(t0) < seconds) {
      if (pass == warm) t0 = System.nanoTime()
      val traceIt = tracer.enabled && pass >= warm && (pass - warm) % 2 == 1
      def maybe[T](label: String)(body: => T): T =
        if (traceIt) tracer.span(label)(body) else body
      maybe("pass") {
        for (q <- rng.shuffle(names)) {
          val v0 = System.nanoTime()
          val keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
          graft.operators.Bpe.clearArtifacts()
          var err = ""
          var construct = 0.0
          var execute = 0.0
          val cpu0 = cpuNs()
          val jit0 = jitNs()
          maybe(s"query.$q") {
            val c0 = System.nanoTime()
            try {
              val df = maybe("construct")(SparkEntry.queries(q)(spark, dir))
              construct = secs(c0)
              val e0 = System.nanoTime()
              val obs = Observation()
              maybe("execute")(noop(df.observe(obs, count(lit(1)).as("rows"))))
              execute = secs(e0)
              val n = obs.get("rows").asInstanceOf[Long]
              if (!rows.get(q).contains(n)) err = s"rows $n != verified ${rows.get(q)}"
            } catch { case e: Throwable => err = e.toString }
          }
          val jit = (jitNs() - jit0) / 1e9
          val cpu = (cpuNs() - cpu0) / 1e9 - jit
          queryLocalBlocks(keep)
          visits += Map("q" -> q, "pass" -> pass, "construct_s" -> construct,
            "execute_s" -> execute, "cpu_s" -> cpu, "jit_s" -> jit, "ok" -> err.isEmpty,
            "traced" -> traceIt, "warm" -> (pass < warm), "visit_s" -> secs(v0), "error" -> err)
        }
      }
      pass += 1
    }
    out("visits") = visits.toSeq
  }
}

/** Minimal JSON object builder for the raw run record. */
final class Json {
  private val fields = mutable.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = fields(k) = v
  def render: String = Json.value(fields)
}

object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case Some(x) => value(x)
    case None => "null"
    case other => str(other.toString)
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
