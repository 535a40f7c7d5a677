package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What one measured phase of a run collected. */
final class Measure {
  val opMs = ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  def record(ms: Double): Unit = { opMs += ms; attempted += 1 }
}

/** Shared context of a run. */
final case class Env(spark: SparkSession, cores: Int, seed: Long, work: Path,
    data: String) {
  def dir(name: String): Path = {
    val p = work.resolve(name); Files.createDirectories(p); p
  }
  def uri(p: Path): String = p.toUri.toString.stripSuffix("/")
}

/**
 * One closed-loop workload with a single client: the next op starts when
 * the previous one returns.
 */
trait Workload {
  /** Builds the fixtures from the seed; returns a digest of the inputs. */
  def generate(): String
  /** Untimed first pass over the code paths the ops use. */
  def warmup(): Unit
  /** Runs whole units of work until `deadlineNs`; at least one. */
  def measure(deadlineNs: Long, m: Measure): Unit
  /** Correctness gates over everything the run produced; throws on a
    * wrong output. */
  def check(): Unit
  /** Traced work outside the timed ops, after the engine counters of the
    * ops are read: layer probes that the ops themselves do not call. */
  def probes(m: Measure): Unit = ()
  /** Layer metrics of the traced phase. */
  def layers(sink: Sink, m: Measure): Unit
}

object Main {
  /** End-to-end metrics, reported by every workload on an untraced run. A
    * run times about ten ops, too few for a tail percentile with ten
    * samples beyond it, so latency is the median alone. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_ms" -> "ms")

  /** Per-layer metrics, reported by every workload on a traced run (zero
    * where a workload does not exercise the layer). The list is kept short
    * enough that the result line stays under 2 KB; the trace file holds
    * every layer metric a run computed. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.single_task_stages" -> "count", "spark.plan_ms" -> "ms",
    "spark.task_wait_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.cpu_util" -> "ratio", "spark.shuffle_write_bytes" -> "B",
    "batch.full_s" -> "s", "batch.delta_s" -> "s", "batch.full.copy_s" -> "s",
    "batch.delta.plan_s" -> "s", "batch.actions" -> "count",
    "catalog.snapshot_s" -> "s", "planner.diff_s" -> "s", "fs.list_s" -> "s",
    "fs.files_copied" -> "count", "fs.listed_per_copied" -> "ratio",
    "hdfs.sync_s" -> "s", "incremental.plan_jobs_ms" -> "ms",
    "incremental.state_append_ms" -> "ms", "incremental.execute_ms" -> "ms",
    "incremental.compact_ms" -> "ms", "incremental.page_p50_ms" -> "ms",
    "incremental.jobs" -> "count", "incremental.unconverged" -> "count",
    "incremental.worker_idle_frac" -> "ratio", "tasks.job_p50_ms" -> "ms",
    "pipeline.dedup_s" -> "s", "pipeline.rows_out" -> "count",
    "corpus.write_s" -> "s", "queries.build_s" -> "s", "queries.exec_s" -> "s",
    "peak_rss_mb" -> "MB", "trace.overhead_frac" -> "ratio",
    "trace.uncovered_frac" -> "ratio")

  val Workloads: Seq[String] = Seq("batch_replication", "corpus_build")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val data = Paths.get(opts("data")).toAbsolutePath.toUri.toString.stripSuffix("/")
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.create(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val env = Env(spark, cores, seed, work, data)
    val w: Workload = workload match {
      case "batch_replication" => new BatchWorkload(env)
      case "corpus_build" => new CorpusWorkload(env)
    }

    // fixture generation three times: the reported set-up time uses the
    // median, and the three digests must agree (same seed, same inputs).
    // A traced run reports no set-up time and generates once, to stay
    // within its time limit.
    val gens = (1 to (if (traced) 1 else 3)).map { _ =>
      val g0 = System.nanoTime()
      val d = w.generate()
      ((System.nanoTime() - g0) / 1e9, d)
    }
    val digests = gens.map(_._2).distinct
    require(digests.size == 1, s"generator is not deterministic: $digests")
    println(s"input_digest workload=$workload seed=$seed ${digests.head}")
    val w0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(gens.map(_._1)) + warmS
    println(f"setup session=$sessionS%.3f s generate=${gens.map(_._1).mkString(",")} warmup=$warmS%.3f s")

    val plain = new Measure
    val tracedM = new Measure
    val sink = new Sink
    val ok = try {
      if (!traced) w.measure(System.nanoTime() + (seconds * 1e9).toLong, plain)
      else {
        // traced run: an untraced half, then a traced half; the ratio of
        // their op medians is the tracing overhead
        val half = (seconds * 1e9 / 2).toLong
        w.measure(System.nanoTime() + half, plain)
        val engine = EngineListener.install(spark)
        Trace.runId = s"$workload-$seed-${System.currentTimeMillis()}"
        Trace.enabled = true
        val b0 = System.nanoTime()
        w.measure(System.nanoTime() + half, tracedM)
        val wallMs = (System.nanoTime() - b0) / 1e6
        waitForListeners(spark)
        val e = engine.snapshot()
        w.probes(tracedM)
        Trace.enabled = false
        val ops = math.max(1, tracedM.opMs.size).toDouble
        Seq("jobs", "tasks", "single_task_stages", "plan_ms", "task_wait_ms",
          "executor_cpu_ms", "shuffle_write_bytes")
          .foreach(k => sink.set(s"spark.$k", e(k) / ops))
        sink.set("spark.cpu_util", e("executor_cpu_ms") / (wallMs * cores))
        Seq("stages", "executor_run_ms", "shuffle_read_bytes", "spill_bytes",
          "output_bytes").foreach(k => sink.set(s"spark.$k", e(k) / ops))
        sink.set("trace.overhead_frac",
          Stats.median(tracedM.opMs.toSeq) / Stats.median(plain.opMs.toSeq) - 1)
        w.layers(sink, tracedM)
        sink.set("peak_rss_mb", peakRssMb())
        Trace.writeJson(work.getParent.resolve("traces")
          .resolve(s"$workload-seed$seed.json"), sink.toMap)
      }
      w.check()
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"perfbench: $workload failed: $e")
        e.printStackTrace()
        false
    }
    println(s"ops untraced=${plain.opMs.map(x => f"$x%.0f").mkString(",")} " +
      s"traced=${tracedM.opMs.map(x => f"$x%.0f").mkString(",")}")
    val attempted = plain.attempted + tracedM.attempted
    val failed = plain.failed + tracedM.failed
    val metrics =
      if (!traced) {
        val values = Map("setup_s" -> setupS,
          "op_p50_ms" -> Stats.median(plain.opMs.toSeq))
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else PerLayer.map { case (n, u) => (n, sink.get(n), u) }
    // `failed` also counts objects a traced incremental burst left
    // unconverged (see IncrementalBurst): reported, not fatal
    val correct = ok
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, attempted).toString,
      "failed" -> failed.toString,
      "metrics" -> Json.metrics(metrics, if (traced) 6 else 10))))
    System.out.flush()
    spark.stop()
    if (!correct) sys.exit(1)
  }

  /** The process's peak resident set (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Blocks until the listener bus has delivered every posted event. */
  private def waitForListeners(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
}
