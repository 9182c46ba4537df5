package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Command-line options shared by every workload. Parameters such as
  * the query list or the turn count come from `workloads.json` through
  * `run.py`, the harness's only caller. */
final case class Opts(
    workload: String, seed: Long, trace: Boolean,
    data: String, runDir: String, out: String, params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def list(k: String): Seq[String] = params(k).split(",").toSeq.filter(_.nonEmpty)
}

/** What one run measured: set-up times, every timed operation with its
  * outcome, pass times, workload-level checks, heap samples and (traced
  * runs) per-layer numbers. Metrics are derived from this in `bench.py`. */
final class Recorder {
  val setup = mutable.LinkedHashMap[String, Any]()
  val ops = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  val passes = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  val checks = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
  val layers = mutable.LinkedHashMap[String, Double]()
  private val heapMb = mutable.ArrayBuffer[Double]()
  private var sampleGcS = 0.0

  /** JVM GC time so far, less the collections [[sampleHeap]] forced. */
  def gcS: Double = Main.jvmGcS - sampleGcS

  def op(pass: Int, kind: String, name: String, ms: Double, error: Option[String],
      digest: Option[String] = None): Unit =
    ops += mutable.LinkedHashMap("pass" -> pass, "kind" -> kind,
      "name" -> name, "ms" -> ms, "ok" -> error.isEmpty, "error" -> error,
      "digest" -> digest)

  def pass(pass: Int, traced: Boolean): Unit =
    passes += mutable.LinkedHashMap("pass" -> pass, "traced" -> traced)

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += mutable.LinkedHashMap("name" -> name, "ok" -> ok, "detail" -> detail)

  /** Old-generation occupancy after full GC: the live set, sampled
    * between operations, never inside a timed region. The pauses
    * between collections let Spark's ContextCleaner release the shuffle
    * and broadcast state an earlier one found unreachable. The least of
    * three readings is kept, because background threads (a stopped
    * stream's, the cleaner's) can allocate large buffers straight into
    * the old generation just after a collection. */
  def sampleHeap(): Unit = {
    val g0 = Main.jvmGcS
    val readings = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
          p.getName.toLowerCase.contains("old"))
        .map(_.getUsage.getUsed).sum
    }
    sampleGcS += Main.jvmGcS - g0
    heapMb += readings.min / (1024.0 * 1024.0)
  }

  def render(o: Opts): String = Main.json.writeValueAsString(mutable.LinkedHashMap(
    "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
    "cpus" -> Runtime.getRuntime.availableProcessors,
    "setup" -> setup, "ops" -> ops, "passes" -> passes, "checks" -> checks,
    "heap_peak_mb" -> heapMb.maxOption.getOrElse(0.0), "heap_samples_mb" -> heapMb,
    "layers" -> layers))
}

object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def millis(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Time `body`; a thrown exception becomes the error text. */
  def timed[T](body: => T): (Double, Either[String, T]) = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch {
      case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.toSeq.headOption.getOrElse("").take(300))
    }
    (millis(t0), r)
  }

  def session(runDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = graft.EngineSession.builder(cpus)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.logs.quietWindowWarnings()
    spark
  }

  private def parse(args: Seq[String]): Opts = {
    val kv = args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    Opts(kv("workload"), kv("seed").toLong, kv("trace") == "1", kv("data"),
      kv("run-dir"), kv("out"), kv -- Seq("workload", "seed", "trace", "data", "run-dir", "out"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toSeq)
    val rec = new Recorder
    // process start → session ready: the one set-up step that cannot
    // be repeated inside one process
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.runDir)
    rec.setup("session_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    try o.workload match {
      case "corpus_pipeline" | "graph_fixpoint" => BatchWorkload.run(spark, o, rec)
      case "agent_turns" => AgentWorkload.run(spark, o, rec)
      case "stream_admit" => StreamWorkload.run(spark, o, rec)
      case w => sys.error(s"unknown workload $w")
    } finally {
      java.nio.file.Files.write(java.nio.file.Paths.get(o.out),
        rec.render(o).getBytes("UTF-8"))
      spark.stop()
    }
  }

  /** The distinct words of the `documents` texts, sorted: the
    * vocabulary the seeded edits and chat texts draw from. */
  def vocabulary(texts: Seq[String]): IndexedSeq[String] =
    texts.flatMap(_.split(" ")).filter(_.nonEmpty).distinct.sorted.toIndexedSeq

  /** Spans and a job ledger for a run's measured passes. Client
    * operations run through [[op]], which records their window;
    * scheduler counters are attributed over those windows only, so
    * probes made between operations do not count. Disabled, both are
    * no-ops. */
  final class Traced(spark: SparkSession, on: Boolean) {
    val spans = new Spans(on)
    val ledger = new JobLedger
    private val windows = mutable.ArrayBuffer[(Long, Long)]()

    def op[T](name: String, kind: String)(body: => T): T =
      if (!on) body
      else {
        spans.req += 1
        val a = System.currentTimeMillis()
        try spans(name, kind)(body)
        finally windows += ((a, System.currentTimeMillis()))
      }

    def begin(): Unit = if (on) ledger.attach(spark.sparkContext)

    /** Detach, then write the scheduler counters of the traced
      * operations into `rec.layers` and the spans next to the result. */
    def end(rec: Recorder, o: Opts): Unit = if (on) {
      ledger.detach(spark.sparkContext)
      val s = ledger.window(windows.toSeq)
      val wallS = windows.map { case (a, b) => b - a }.sum / 1e3
      val cores = Runtime.getRuntime.availableProcessors
      rec.layers ++= Seq(
        "sched.jobs" -> s.jobs.toDouble, "sched.stages" -> s.stages.toDouble,
        "sched.tasks" -> s.tasks.toDouble,
        "sched.single_task_stages" -> s.singleTaskStages.toDouble,
        "sched.task_overhead_s" -> s.taskOverheadS,
        "sched.busy_frac" -> s.runS / math.max(wallS * cores, 1e-9),
        "exec.cpu_s" -> s.cpuS, "exec.gc_s" -> s.gcS,
        "shuffle.write_mb" -> s.shuffleWriteMb, "shuffle.read_mb" -> s.shuffleReadMb,
        "shuffle.fetch_wait_s" -> s.fetchWaitS, "shuffle.spill_mb" -> s.spillMb,
        "trace.spans" -> spans.all.size.toDouble)
      spans.selfSeconds.foreach { case (k, v) => rec.layers(s"self.${k}_s") = v }
      spans.writeJsonl(o.out.stripSuffix(".json") + ".spans.jsonl")
    }
  }

  /** The measured passes of a run: `--passes` of them (`run.py`
    * derives the count from `--seconds`), traced in a traced run. The
    * traced run repeats the untraced one pass for pass, so the two
    * compare directly: their difference is the tracing overhead. */
  def measure(spark: SparkSession, o: Opts, rec: Recorder)(runPass: (Int, Traced) => Unit): Unit = {
    val tr = new Traced(spark, o.trace)
    val gc0 = rec.gcS
    tr.begin()
    (1 to o.int("passes")).foreach(runPass(_, tr))
    tr.end(rec, o)
    if (o.trace) rec.layers("jvm.gc_s") = rec.gcS - gc0
  }

  /** Total JVM GC time so far, from the collectors' MXBeans. */
  def jvmGcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}
