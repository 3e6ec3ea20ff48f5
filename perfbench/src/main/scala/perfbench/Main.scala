package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, warm up, measure for a fixed
  * time, then write everything measured to `<out>/result.json` (and the
  * spans to `<out>/spans.tsv`). `perfbench/run.py` builds this, starts it,
  * checks the answers it dumped and turns the record into metrics.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <out>
  *   <testdataDir> <scale: full|smoke> */
object Main {
  final case class Conf(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      out: String, testdata: String, smoke: Boolean, cores: Int)

  /** One timed operation: a request, a query or an append. */
  final case class Op(
      id: Long, kind: String, key: String, pass: Int, traced: Boolean,
      start: Long, end: Long, error: Option[String], hash: String,
      attrs: Map[String, Double])

  final class Run(val conf: Conf, val spark: SparkSession, val t0: Long) {
    val ops = new ConcurrentLinkedQueue[Op]()
    val passes = new ConcurrentLinkedQueue[(Int, Long, Long, Int, Long)]()
    val setup = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    @volatile var heapPeakMb = 0.0
    @volatile var heapSamples = 0
    /** Time spent in heap samples; [[passLoop]] takes it out of the pass. */
    val sampling = new AtomicLong(0)
    def now: Long = System.nanoTime() - t0
    def sc = spark.sparkContext

    /** Heap in use after full collections, taken between ops where the
      * program still holds what it holds: before `llm_pipeline`'s cache
      * sweep, and on `ingest_mixed` when a pass's appends are in and the
      * table has the most files. Listener events still
      * queued are let through first, as their number follows the machine's
      * speed, not the program; then two collections a moment apart, so what
      * Spark's context cleaner releases after the first is not counted as
      * live. */
    def sampleHeap(): Unit = {
      val s = now
      try org.apache.spark.perfbench.ListenerBusAccess.drain(sc, 2000L)
      catch { case _: java.util.concurrent.TimeoutException => } // still arriving
      System.gc()
      Thread.sleep(100)
      System.gc()
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      heapPeakMb = math.max(heapPeakMb, mem.getHeapMemoryUsage.getUsed / 1048576.0)
      heapSamples += 1
      sampling.addAndGet(now - s)
    }

    /** Times `body` as one op; an exception is a failed op, still timed. */
    def op(kind: String, key: String, pass: Int, traced: Boolean,
        post: Op => Op = identity)(body: Long => (String, Map[String, Double])): Op = {
      val id = Trace.beginOp(sc, traced)
      val s = now
      val (err, hash, attrs) =
        try {
          val (h, a) = Trace.span(sc, "op", "op")(body(id))
          (None, h, a)
        } catch {
          case e: Throwable => (Some(errorText(e)), "", Map.empty[String, Double])
        }
      val rec = post(Op(id, kind, key, pass, traced, s, now, err, hash, attrs))
      ops.add(rec)
      rec
    }
  }

  def errorText(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = s"${root.getClass.getSimpleName}: ${root.getMessage} / via ${e.getClass.getSimpleName}: ${e.getMessage}"
    msg.replaceAll("\\s+", " ").take(400)
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, out, testdata, scale) = argv
    val conf = Conf(workload, seed.toLong, seconds.toDouble, trace == "1", out,
      testdata, scale == "smoke", Runtime.getRuntime.availableProcessors())
    Files.createDirectories(Paths.get(out))
    val t0 = System.nanoTime()
    val spark = session(conf)
    val run = new Run(conf, spark, t0)
    run.setup("session_s") = run.now / 1e9
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    try {
      workloads(workload)(run)
      org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)
      write(run, counters)
    } finally spark.stop()
  }

  val workloads: Map[String, Run => Unit] = Map(
    "dashboard" -> Dashboard.run, "llm_pipeline" -> LlmPipeline.run,
    "ingest_mixed" -> IngestMixed.run)

  def session(c: Conf): SparkSession = {
    val local = Paths.get(c.out).toAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[${c.cores}]")
      .appName(s"perfbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", local.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", local.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- output ----------------------------------------------------------

  def jsonLine(v: Any): String = js(v) + "\n"

  /** Runs passes until `seconds` of measured time are used, and at least
    * two; a pass that has started is finished, so every run measures whole
    * passes and the same op mix. A run on a slower machine measures no
    * fewer passes, and so no colder a JIT, than one on a faster machine
    * unless `seconds` covers more than two passes. `body(n, traced)` runs pass `n` and returns its op count;
    * `traced(i)` says whether its op `i` is traced. In a traced run ops
    * alternate, shifted by one each pass, so every op key is measured
    * traced and untraced at the same pass positions and the tracing
    * overhead is measured within the run. The time of the heap samples a
    * pass takes ([[Run.sampleHeap]]) is kept out of its measured time. */
  def passLoop(run: Run)(body: (Int, Int => Boolean) => Int): Unit = {
    val window = (run.conf.seconds * 1e9).toLong
    var used = 0L
    var n = 0
    while (used < window || n < 2) {
      val pass = n
      val s = run.now
      val sampled = run.sampling.get
      val k = body(pass, i => run.conf.trace && (i + pass) % 2 == 0)
      val e = run.now
      val paused = run.sampling.get - sampled
      run.passes.add((pass, s, e, k, paused))
      used += e - s - paused
      n += 1
    }
  }

  private def js(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => js(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  private def write(run: Run, counters: SparkCounters): Unit = {
    val out = Paths.get(run.conf.out)
    val ops = run.ops.asScala.toSeq.sortBy(_.start)
    val opJson = ops.map { o =>
      js(Map("id" -> o.id, "kind" -> o.kind, "key" -> o.key, "pass" -> o.pass,
        "traced" -> o.traced, "start" -> o.start / 1e9, "end" -> o.end / 1e9,
        "error" -> o.error, "hash" -> o.hash, "attrs" -> o.attrs))
    }
    val spark = counters.snapshot.map { case (k, a) =>
      k -> Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
        "failed_tasks" -> a.failedTasks, "job_wall_s" -> a.jobWallMs / 1e3,
        "task_wait_s" -> a.taskWaitMs / 1e3, "task_run_s" -> a.taskRunMs / 1e3,
        "task_cpu_s" -> a.taskCpuNs / 1e9, "gc_s" -> a.gcMs / 1e3,
        "input_bytes" -> a.inputBytes, "shuffle_read_bytes" -> a.shuffleReadBytes,
        "shuffle_write_bytes" -> a.shuffleWriteBytes, "spill_bytes" -> a.spillBytes)
    }
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val json = js(Map(
      "workload" -> run.conf.workload, "seed" -> run.conf.seed,
      "seconds" -> run.conf.seconds, "trace" -> run.conf.trace,
      "cores" -> run.conf.cores, "smoke" -> run.conf.smoke,
      "jvm_flags" -> rt.getInputArguments.asScala.toSeq,
      "spark_version" -> run.spark.version,
      "setup" -> run.setup, "info" -> run.info,
      "heap_peak_mb" -> run.heapPeakMb,
      "heap_samples" -> run.heapSamples,
      "passes" -> run.passes.asScala.toSeq.map { case (p, s, e, n, paused) =>
        Map("pass" -> p, "start" -> s / 1e9, "end" -> e / 1e9, "ops" -> n,
          "paused" -> paused / 1e9)
      },
      "spark" -> spark,
      "rdd_blocks_stored" -> counters.rddBlocksStored,
      "rdd_bytes_stored" -> counters.rddBytesStored))
    // ops one per line: the file stays readable when a run has thousands
    val body = json.dropRight(1) + ",\"ops\":[\n" + opJson.mkString(",\n") + "\n]}\n"
    Files.write(out.resolve("result.json"), body.getBytes(UTF_8))
    val spans = Trace.spans.sortBy(_.id).map { s =>
      s"${s.id}\t${s.parent}\t${s.op}\t${s.name}\t${(s.start - run.t0) / 1e9}\t${(s.end - run.t0) / 1e9}"
    }
    Files.write(out.resolve("spans.tsv"),
      ("id\tparent\top\tname\tstart\tend\n" + spans.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
