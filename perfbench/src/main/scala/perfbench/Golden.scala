package perfbench

import java.time.LocalDate

import scala.collection.mutable

import graft.sources.RetailFixture

/** Expected forecast outputs recomputed outside Spark, in plain Scala, from
  * the generated input lines — an oracle that shares no code with the Spark
  * pipeline it checks.
  *
  * It rebuilds the daily grain (one row per Country, StockCode, day with the
  * summed quantity), splits it at the cutoff, and evaluates the 6-day moving
  * average baseline (trailing mean of up to six earlier observed days, none
  * for a series' first day) over the test rows with the same floor-at-1e-9
  * mean the KPI uses.
  */
object Golden {

  final case class Expected(dailyRows: Long, trainRows: Long, testRows: Long,
      maeBaseline: Double, dedupRemoved: Long)

  final case class Line(country: String, stock: String, date: LocalDate, qty: Long)

  def forecast(lines: Iterator[Line], cutoff: LocalDate, dedupRemoved: Long = 0): Expected = {
    val daily = mutable.HashMap.empty[(String, String), mutable.HashMap[LocalDate, Long]]
    lines.foreach { l =>
      val days = daily.getOrElseUpdate((l.country, l.stock), mutable.HashMap.empty)
      days(l.date) = days.getOrElse(l.date, 0L) + l.qty
    }
    var (rows, train, test) = (0L, 0L, 0L)
    var (errSum, errN) = (0L, 0L)
    daily.valuesIterator.foreach { days =>
      val series = days.toArray.sortBy(_._1.toEpochDay)
      val qty = series.map(_._2)
      series.indices.foreach { j =>
        rows += 1
        if (series(j)._1.isAfter(cutoff)) {
          test += 1
          if (j > 0) {
            val from = math.max(0, j - 6)
            val base = qty.slice(from, j).sum.toDouble / (j - from).toDouble
            errSum += math.floor(math.abs(base - qty(j).toDouble) * 1e9).toLong
            errN += 1
          }
        } else train += 1
      }
    }
    Expected(rows, train, test, errSum.toDouble / 1e9 / errN.toDouble, dedupRemoved)
  }

  /** A fixture line as the reference's ingest reads it: the "M/d/yy H:mm"
    * date parsed to a day (two-digit years are 20yy). */
  def ingested(l: RetailFixture.Line): RetailFixture.Line = {
    val Array(m, d, y) = l.invoiceDateRaw.takeWhile(_ != ' ').split('/').map(_.toInt)
    l.copy(invoiceDateRaw = LocalDate.of(2000 + y, m, d).toString)
  }

  /** Ingested lines after dropping exact duplicates over all columns, as
    * `CsvSource.cleaned` does; returns the survivors and how many went. */
  def retailLines(ingested: Seq[RetailFixture.Line]): (Seq[Line], Long) = {
    val distinct = ingested.distinct
    (distinct.map(l => Line(l.country, l.stockCode, LocalDate.parse(l.invoiceDateRaw), l.quantity)),
      (ingested.size - distinct.size).toLong)
  }
}
