package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: one workload, one process, `local[nproc]`, one
  * client running one pass at a time (closed loop).
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  [--size full|tiny] [--inject <failure>]
  *
  * A run generates the workload's inputs from the seed (not timed), sets the
  * session up three times (the median is `setup_s`), runs one untimed
  * warm-up pass, then timed passes until `--seconds` have passed (at least
  * two). Every
  * pass's output is checked after its clock stops; a pass with a throw or a
  * failed check counts in `failed` and is never used as a timing. With
  * `--trace 1` the run times untraced passes for half the budget, then
  * attaches the [[Tracer]] for the other half and reports per-layer numbers.
  *
  * The last stdout line is the result object; a run record (host facts,
  * every op, spans) is written under `.perfbench/records`.
  */
object Main {

  /** Where inputs and run records live, relative to the checkout root. */
  val Work = ".perfbench"

  final case class Args(workload: String = "", seed: Long = 0, seconds: Int = 10,
      trace: Boolean = false, size: String = "full", inject: Option[String] = None)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--size" :: v :: rest => parse(rest, a.copy(size = v))
    case "--inject" :: v :: rest => parse(rest, a.copy(inject = Some(v)))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: $other")
  }

  /** Corpus queries the `corpus` workload runs: one from each of 11 of the
    * corpus's query families (aggregates, text, embedding dedup through
    * `Dedup`, joins, ANN, exact dedup, streaming, JSON, graph, sort, audio
    * through `Multimodal`), a cheap one of each on the generated sf0.01
    * tables, so a warm sweep takes ~7 s on 4 cores. The tiny size runs the
    * first four. */
  val corpusQueries: Seq[String] = Seq(
    "q_a3_daily_sales", "q_t1_tokens", "q_dd4_embed_neardup", "q_j1_join_left",
    "q_ann1_cosine_topk", "q_d2_dedup_exact", "q_e3_stream_hourly", "q_f2_json_extract",
    "q_g1_pagerank", "q_o1_sort_limit", "q_mm3_audio_meta")

  def workload(a: Args): Workload = {
    val tiny = a.size == "tiny"
    a.workload match {
      // the reference's Online_Retail.csv has 541,909 raw lines
      case "retail_csv" => new RetailCsv(a.seed, if (tiny) 1 else 541909)
      case "corpus" =>
        val sf = if (tiny) 0.001 else 0.01
        val qs = if (tiny) corpusQueries.take(4) else corpusQueries
        new CorpusSweep(Work, a.seed, sf, qs, pinned(s"sf$sf"),
          a.inject.filter(_.startsWith("q_")))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
  }

  /** Pinned corpus output row counts, by scale. */
  def pinned(scale: String): Map[String, Long] = {
    val path = Paths.get("perfbench/corpus_rows.json")
    if (!Files.exists(path)) Map.empty
    else {
      val text = Files.readString(path)
      val section = s""""$scale"\\s*:\\s*\\{([^}]*)\\}""".r.findFirstMatchIn(text).map(_.group(1)).getOrElse("")
      """"(q_[^"]+)"\s*:\s*(\d+)""".r.findAllMatchIn(section).map(m => m.group(1) -> m.group(2).toLong).toMap
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Polls block-manager storage in use (all executors) every 20 ms. */
  final class StorageSampler(spark: SparkSession) extends Thread("perfbench-storage") {
    @volatile private var running = true
    @volatile var peakBytes = 0L
    setDaemon(true)
    override def run(): Unit = while (running) {
      val used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      peakBytes = math.max(peakBytes, used)
      Thread.sleep(20)
    }
    def finish(): Long = { running = false; join(); peakBytes }
  }

  def tmpGraftDirs(): Int =
    Option(new File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.matches("graft[_-].*"))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val w = workload(a)
    val cores = Runtime.getRuntime.availableProcessors
    val ops = mutable.ArrayBuffer.empty[Op]

    var spark = GraftSession.local(cores, "perfbench")
    val prepareS = Workload.timed(w.prepare(spark))._2

    // Set-up, three times: a fresh session, the first table touch (and for
    // the corpus the shared daily cache). The median leaves out the first
    // set-up's one-time class loading.
    val setups = (1 to 3).map { _ =>
      spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores, "perfbench")
      val local = (System.nanoTime() - t0) / 1e9
      w.touch(spark)
      ((System.nanoTime() - t0) / 1e9, local)
    }
    if (a.inject.contains("missing-input")) deleteTree(w.inputDir)

    val rdds0 = spark.sparkContext.getPersistentRDDs.size
    val tmp0 = tmpGraftDirs()

    /** Keeps a pass's ops; its wall counts only if every op succeeded. */
    def record(pass: Seq[Op]): Option[Double] = {
      ops ++= pass
      pass.flatMap(_.error).foreach(e => System.err.println(s"[perfbench] FAILED: $e"))
      if (pass.forall(_.error.isEmpty)) Some(pass.filterNot(_.probe).map(_.seconds).sum) else None
    }
    /** Passes until `budget` seconds have passed, at least `min`; a failed
      * pass ends the loop (repeating it would only repeat the failure). */
    def loop(budget: Double, min: Int)(run: => Seq[Op]): Seq[Double] = {
      val start = System.nanoTime()
      val walls = mutable.ArrayBuffer.empty[Double]
      var ok = true
      while (ok && (walls.size < min || (System.nanoTime() - start) / 1e9 < budget)) {
        val wall = record(run)
        wall.foreach(walls += _)
        ok = wall.isDefined
      }
      walls.toSeq
    }

    record(w.pass(spark)) // warm-up (JIT, codegen): checked and counted, not timed
    w match { case c: CorpusSweep => c.latencies.clear(); case _ => }
    val sampler = new StorageSampler(spark)
    sampler.start()
    val budget = if (a.trace) a.seconds / 2.0 else a.seconds.toDouble
    // two timed passes at least: a retail pass (~13 s) outlasts the budget
    val walls = loop(budget, if (a.trace) 1 else 2)(w.pass(spark))
    val peakStorage = sampler.finish()
    val untracedLatencies = w match {
      case c: CorpusSweep => c.latencies.map(_._2).toSeq
      case _ => Nil
    }

    var tracer: Tracer = null
    val tracedWalls =
      if (!a.trace) Nil
      else {
        tracer = new Tracer(spark)
        tracer.attach()
        try loop(budget, 1)(w.tracedPass(spark, tracer))
        finally tracer.detach()
      }

    record(w.finalChecks(spark)) // once-per-run checks count as ops of their own
    val errors = ops.flatMap(_.error)
    val leakedRdds = spark.sparkContext.getPersistentRDDs.size - rdds0
    val leakedTmp = tmpGraftDirs() - tmp0

    val attempted = ops.size
    val failed = ops.count(_.error.isDefined)
    val jobS = median(walls)
    val setupS = median(setups.map(_._1))
    def m(v: Double, unit: String) = Json.Raw(Json.obj("value" -> v, "unit" -> unit))

    val metrics: Seq[(String, Any)] =
      if (!a.trace) Seq(
        "job_s" -> m(jobS, "s"),
        "setup_s" -> m(setupS, "s"),
        "rows_per_s" -> m(w.inputRows / jobS, "1/s"),
        "peak_storage_mb" -> m(peakStorage / 1048576.0, "MB"))
      else {
        val layer = Layers.metrics(tracer, w, tracedWalls.size, cores)
        val extra = Map(
          "GraftSession.local_s" -> median(setups.map(_._2)),
          "trace.untraced_pass_s" -> jobS,
          "trace.pass_s" -> median(tracedWalls),
          "trace.overhead_s" -> (median(tracedWalls) - jobS),
          "queries.p50_s" -> (if (untracedLatencies.isEmpty) 0.0 else median(untracedLatencies)),
          "queries.max_s" -> untracedLatencies.maxOption.getOrElse(0.0),
          "hygiene.error_rate" -> failed.toDouble / attempted,
          "hygiene.leaked_persisted_rdds" -> leakedRdds.toDouble,
          "hygiene.leaked_tmp_dirs" -> leakedTmp.toDouble)
        (Layers.defaults ++ layer ++ extra).toSeq.sortBy(_._1).map { case (k, v) => k -> m(v, Layers.unit(k)) }
      }

    val facts = Seq(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "size" -> a.size, "nproc" -> cores, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "source" -> System.getProperty("perfbench.source", "unknown"),
      "input_dir" -> w.inputDir, "input_rows" -> w.inputRows, "prepare_s" -> prepareS) ++ w.facts
    val result = Json.obj("correct" -> errors.isEmpty, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Raw(Json.obj(metrics: _*)))
    val recordJson = Json.obj(
      "facts" -> Json.Raw(Json.obj(facts: _*)),
      "setup_s" -> setups.map(_._1), "job_s_samples" -> walls, "traced_job_s_samples" -> tracedWalls,
      "peak_storage_mb" -> peakStorage / 1048576.0,
      "leaked_persisted_rdds" -> leakedRdds, "leaked_tmp_dirs" -> leakedTmp,
      "errors" -> errors.toSeq,
      "ops" -> ops.map(o => Json.Raw(Json.obj("name" -> o.name, "seconds" -> o.seconds, "error" -> o.error,
        "probe" -> o.probe))).toSeq,
      "spans" -> Json.Raw(if (tracer == null) "[]" else tracer.toJson),
      "jobs" -> Json.Raw(if (tracer == null) "[]" else tracer.jobsJson),
      "result" -> Json.Raw(result))
    val records = Paths.get(Work, "records")
    Files.createDirectories(records)
    Files.writeString(records.resolve(
      s"${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${System.currentTimeMillis()}.json"), recordJson + "\n")

    spark.stop()
    println(Json.obj("facts" -> Json.Raw(Json.obj(facts: _*))))
    println(result)
    sys.exit(if (errors.isEmpty) 0 else 1)
  }

  def deleteTree(path: String): Unit = {
    def go(f: File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(go)
      f.delete()
    }
    go(new File(path))
  }
}
