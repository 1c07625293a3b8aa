package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.Tables
import graft.forecast.{Forecast, ReferencePipeline}
import graft.queries.Corpus
import graft.sources.{CsvSource, RetailFixture}

/** One timed operation: a pipeline pass or one corpus query. `seconds`
  * covers only the call into the program; `error` is a throw or a failed
  * output check (checks run after the clock stops). A `probe` is traced-run
  * work outside the pass: it counts as an op but not in the pass's wall. */
final case class Op(name: String, seconds: Double, error: Option[String], probe: Boolean = false)

/** A benchmark workload. `prepare` writes its seeded inputs (not timed),
  * `touch` is its first read (part of set-up), `pass` is one timed pass and
  * `tracedPass` the same pass under a [[Tracer]], plus probe ops. */
trait Workload {
  def name: String
  /** Where `prepare` writes the inputs. */
  def inputDir: String
  def inputRows: Long
  def facts: Seq[(String, Any)]
  def prepare(spark: SparkSession): Unit
  def touch(spark: SparkSession): Unit
  def pass(spark: SparkSession): Seq[Op]
  def tracedPass(spark: SparkSession, t: Tracer): Seq[Op]
  /** Checks that cost extra actions, run once after the timed passes. */
  def finalChecks(spark: SparkSession): Seq[Op] = Nil
  /** The (layer, step) a Spark job of a traced pass belongs to, named from
    * its call site; None leaves the job on the pass span. */
  def step(callSite: String): Option[(String, String)] = None
  /** Workload-specific per-layer numbers from the traced passes. */
  def layerMetrics(t: Tracer, passes: Int): Map[String, Double]
}

object Workload {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs `body` as one op; a throw becomes the op's error. */
  def op(name: String, probe: Boolean = false)(body: => Option[String]): Op = {
    val t0 = System.nanoTime()
    try {
      val check = body
      Op(name, (System.nanoTime() - t0) / 1e9, check, probe)
    } catch {
      case e: Throwable =>
        Op(name, (System.nanoTime() - t0) / 1e9, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"), probe)
    }
  }

  def rel(a: Double, b: Double): Double = math.abs(a - b) / math.max(1e-12, math.abs(b))
}

/** `retail_csv`: the reference's literal flow (`ReferencePipeline.runOnSales`
  * with `referenceCompat`: daily grain, window features, Lasso fit,
  * scorecard, KPI against the MA(6) baseline) on an Online-Retail-shaped
  * CSV. The CSV is written from `RetailFixture` over consecutive fixture
  * seeds starting at the workload seed until `targetLines` raw lines, one
  * file per fixture seed, and read through `CsvSource.readRetail` and
  * `CsvSource.cleaned`. The CSV goes to the run's temp dir, which is removed
  * after the run: each run regenerates it anyway for its expected outputs. */
final class RetailCsv(seed: Long, targetLines: Int) extends Workload {
  val name = "retail_csv"
  val cutoff = "2011-09-01"
  private val dir = s"${System.getProperty("java.io.tmpdir")}/retail-$targetLines-seed$seed"
  def inputDir: String = dir
  private var lines = 0L
  private var bytes = 0L
  private var files = 0
  private var expected: Golden.Expected = _
  /** The first pass's report: later passes must repeat it. */
  private var first: Option[ReferencePipeline.Report] = None
  def inputRows: Long = lines
  def facts = Seq("target_lines" -> targetLines, "fixture_seeds" -> files, "csv_lines" -> lines,
    "csv_bytes" -> bytes)

  /** Generates fixture seeds in parallel rounds until the target is met,
    * then writes one CSV per used seed (also in parallel). */
  def prepare(spark: SparkSession): Unit = {
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.Future
    def par[T](xs: Seq[Int])(f: Int => T): Seq[T] =
      Await.result(Future.traverse(xs)(i => Future(f(i))), 10.minutes)
    Files.createDirectories(Paths.get(dir))
    // each fixture seed's lines as the reference's ingest sees them
    val perSeed = mutable.ArrayBuffer.empty[Seq[RetailFixture.Line]]
    while (lines < targetLines) {
      val round = par(perSeed.size until perSeed.size + 8)(i =>
        RetailFixture.lines(seed + i)._1.map(Golden.ingested))
      round.foreach(ls => if (lines < targetLines) { perSeed += ls; lines += ls.size })
    }
    files = perSeed.size
    par(0 until files)(i => RetailFixture.writeCsv(f"$dir/part-$i%03d.csv", seed + i))
    bytes = (0 until files).map(i => Files.size(Paths.get(f"$dir/part-$i%03d.csv"))).sum
    val (clean, removed) = Golden.retailLines(perSeed.flatten.toSeq)
    expected = Golden.forecast(clean.iterator, LocalDate.parse(cutoff), removed)
  }

  def touch(spark: SparkSession): Unit = CsvSource.readRetail(spark, dir).limit(1).count()

  def pass(spark: SparkSession): Seq[Op] = Seq(run(spark, None))

  /** One pass: `runOnSales` on the CSV, inside a "pass" span when traced. */
  private def run(spark: SparkSession, t: Option[Tracer]): Op = {
    var report: ReferencePipeline.Report = null
    val op = Workload.op(name) {
      def flow() = ReferencePipeline.runOnSales(
        CsvSource.cleaned(CsvSource.readRetail(spark, dir)), cutoff, Seq("lr"), referenceCompat = true)
      report = t.fold(flow())(_.span("pass", "runOnSales")(flow()))
      None
    }
    if (op.error.isDefined) op else op.copy(error = check(report))
  }

  /** Expected values are recomputed outside Spark ([[Golden]]): the split's
    * row counts exactly, the baseline MAE to 1e-9; the model's scorecard MAE
    * and the KPI's model MAE are two computations of one number; every pass
    * repeats the first within the solver's jitter (relative 1e-6). */
  private def check(r: ReferencePipeline.Report): Option[String] = {
    val sc = r.scorecards.head
    val nums = Seq(sc.mae, sc.rmse, sc.r2, r.maeModel, r.maeBaseline, r.valueWeightedReductionPct)
    def fail(bad: Boolean, msg: => String): Option[String] = if (bad) Some(msg) else None
    val problem = fail(r.trainRows != expected.trainRows, s"train rows ${r.trainRows} != ${expected.trainRows}")
      .orElse(fail(r.testRows != expected.testRows, s"test rows ${r.testRows} != ${expected.testRows}"))
      .orElse(fail(nums.exists(x => x.isNaN || x.isInfinite), s"non-finite scorecard/KPI $nums"))
      .orElse(fail(Workload.rel(r.maeBaseline, expected.maeBaseline) > 1e-9,
        s"baseline MAE ${r.maeBaseline} != ${expected.maeBaseline}"))
      .orElse(fail(Workload.rel(sc.mae, r.maeModel) > 1e-6, s"scorecard MAE ${sc.mae} != KPI MAE ${r.maeModel}"))
      .orElse(first.flatMap(f => fail(Workload.rel(r.maeModel, f.maeModel) > 1e-6 ||
        Workload.rel(r.valueWeightedReductionPct, f.valueWeightedReductionPct) > 1e-6 ||
        Workload.rel(sc.rmse, f.scorecards.head.rmse) > 1e-6, s"pass disagrees with the first pass: $r vs $f")))
    if (first.isEmpty) first = Some(r)
    problem
  }

  /** Rows the reader yields (every generated line) minus rows after dedup. */
  private def dedupRemoved(spark: SparkSession): Long =
    lines - CsvSource.cleaned(CsvSource.readRetail(spark, dir)).count()

  override def finalChecks(spark: SparkSession): Seq[Op] = Seq(Workload.op("dedup_check") {
    val removed = dedupRemoved(spark)
    if (removed == expected.dedupRemoved) None
    else Some(s"dedup removed $removed rows, expected ${expected.dedupRemoved}")
  })

  private var removedSeen, dailyRows = 0L

  /** Two probes, then the pass itself. In `runOnSales` the CSV read, the
    * dedup, the daily grain and the features are one Spark job, so the
    * probes time the cleaned input and the daily grain alone by counting
    * them; they run outside the pass span. */
  def tracedPass(spark: SparkSession, t: Tracer): Seq[Op] = Seq(
    Workload.op("probe_read_clean", probe = true) {
      t.span("sources", "read_clean", probe = true) { removedSeen = dedupRemoved(spark) }
      None
    },
    Workload.op("probe_daily_grain", probe = true) {
      t.span("forecast", "daily_grain", probe = true) {
        dailyRows = Forecast.dailySalesCompat(CsvSource.cleaned(CsvSource.readRetail(spark, dir))).count()
      }
      None
    },
    run(spark, Some(t)))

  /** Names the step of `runOnSales` a job runs for. MLlib's own frames name
    * the model steps; otherwise the source line of the innermost frame of
    * the repo (in `runOnSales`) names the action. A job of a line no rule
    * knows counts for its file's layer as "other". */
  override def step(callSite: String): Option[(String, String)] = {
    def under(frame: String) = callSite.contains(frame)
    if (under("org.apache.spark.ml.evaluation.")) Some("ml" -> "evaluate")
    else if (under("org.apache.spark.ml.Pipeline.fit")) Some("ml" -> "feature_pipeline_fit")
    else if (under("org.apache.spark.ml.Predictor.fit")) Some("ml" -> "fit")
    else CallSites.graftFrame(callSite).map { f =>
      val line = f.statement
      if (line.contains("kpiGlobal")) "forecast" -> "kpi_global"
      else if (line.contains("valueWeighted")) "forecast" -> "value_weighted"
      else if (line.contains("train.count") || line.contains("test.count")) "ml" -> "time_split"
      else if (line.contains("features.count")) "forecast" -> "features"
      else f.className.split('.') match {
        case Array(_, pkg, _, _*) => pkg -> "other" // graft.<pkg>.<Object>
        case parts => parts.last.stripSuffix("$") -> "other" // graft.Tables
      }
    }
  }

  def layerMetrics(t: Tracer, passes: Int): Map[String, Double] = {
    def total(layer: String, name: String): Double =
      t.spans.filter(s => s.layer == layer && s.name == name).map(_.seconds).sum / passes
    val flow = t.spans.filter(_.layer == "pass").flatMap(p => t.subtree(p.id)).toSet
    Map(
      "sources.read_clean_s" -> total("sources", "read_clean"),
      "sources.dedup_removed_rows" -> removedSeen.toDouble,
      "forecast.daily_grain_s" -> total("forecast", "daily_grain"),
      "forecast.daily_rows" -> dailyRows.toDouble,
      "forecast.features_s" -> total("forecast", "features"),
      "forecast.kpi_global_s" -> total("forecast", "kpi_global"),
      "forecast.value_weighted_s" -> total("forecast", "value_weighted"),
      "ml.time_split_s" -> total("ml", "time_split"),
      "ml.feature_pipeline_fit_s" -> total("ml", "feature_pipeline_fit"),
      "ml.fit_s" -> total("ml", "fit"),
      "ml.evaluate_s" -> total("ml", "evaluate"),
      "spark.source_reads_per_row" ->
        t.tasksOf(flow).map(_.recordsRead).sum.toDouble / passes / inputRows)
  }
}

/** `corpus`: a fixed list of operator-corpus queries (`Corpus.all`), each
  * materialized once per pass through the `noop` sink in a seed-fixed
  * order. The tables are generated from a constant seed so every query's
  * output row count can be pinned in `corpus_rows.json`; the workload seed
  * picks the order. */
final class CorpusSweep(work: String, seed: Long, sf: Double, queries: Seq[String],
    goldens: Map[String, Long], inject: Option[String]) extends Workload {
  val name = "corpus"
  val dataSeed = 42L
  private val dir = s"$work/data/corpus-sf$sf-seed$dataSeed"
  def inputDir: String = dir
  private val order = new scala.util.Random(seed).shuffle(queries)
  def inputRows: Long = Gen.sizes(sf).total
  def facts = Seq("sf" -> sf, "queries" -> queries.size, "data_seed" -> dataSeed,
    "table_rows" -> inputRows, "order" -> order)
  val latencies = mutable.ArrayBuffer.empty[(String, Double)]

  def prepare(spark: SparkSession): Unit =
    if (!Files.exists(Paths.get(s"$dir/_complete"))) {
      Gen.write(spark, dir, sf, dataSeed)
      Files.createFile(Paths.get(s"$dir/_complete"))
    }
  def touch(spark: SparkSession): Unit = {
    Tables.region(spark, dir).count()
    Corpus.warmShared(spark, dir)
  }

  private def query(spark: SparkSession, q: String): DataFrame =
    if (inject.contains(q)) throw new IllegalStateException(s"injected failure in $q")
    else Corpus.all(q)(spark, dir)

  private def runQuery(spark: SparkSession, q: String): Op = {
    val obs = Observation(s"perfbench_${q}_${System.nanoTime()}")
    val (res, sec) = Workload.timed {
      try {
        query(spark, q).observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val error = res.orElse {
      val rows = Await.result(obs.future, 60.seconds).getAs[Long]("n")
      goldens.get(q) match {
        case Some(g) if g == rows => None
        case Some(g) => Some(s"$q returned $rows rows, pinned $g")
        case None => Some(s"$q returned $rows rows and has no pinned row count")
      }
    }
    if (error.isEmpty) latencies += q -> sec
    Op(q, sec, error)
  }

  def pass(spark: SparkSession): Seq[Op] = order.map(q => runQuery(spark, q))

  def family(q: String): String = q.split('_')(1).takeWhile(_.isLetter)

  private var tracedQueries = 0
  /** A probe that materializes `Tables.salesLines` (the invoice lines the
    * shared daily cache starts from) through the `noop` sink, then the
    * queries under one span each. */
  def tracedPass(spark: SparkSession, t: Tracer): Seq[Op] =
    Workload.op("probe_sales_lines", probe = true) {
      t.span("Tables", "sales_lines", probe = true) {
        Tables.salesLines(spark, dir).write.format("noop").mode("overwrite").save()
      }
      None
    } +: t.span("pass", name) {
      order.map { q =>
        val op = t.span("queries", family(q)) { runQuery(spark, q) }
        tracedQueries += 1
        op
      }
    }

  def layerMetrics(t: Tracer, passes: Int): Map[String, Double] = {
    val qSpans = t.spans.filter(_.layer == "queries")
    val families = queries.map(family).distinct
    families.map(f => s"queries.${f}_s" ->
      qSpans.filter(_.name == f).map(_.seconds).sum / passes).toMap ++ Map(
      "Tables.sales_lines_s" -> t.spans.filter(_.layer == "Tables").map(_.seconds).sum / passes,
      "queries.planning_s" -> t.planningMs.sum / 1000.0 / passes,
      "queries.stream_batches" -> t.streamBatches.toDouble / passes,
      "queries.tasks_per_query" ->
        t.tasksOf(qSpans.map(_.id).toSet).size.toDouble / math.max(1, tracedQueries))
  }
}
