package perfbench

/** A reported figure. `value` is None when the workload never ran the
  * operation it describes; `n` is the sample count behind it. */
final case class Metric(name: String, value: Option[Double], unit: String,
    n: Long, note: String = "")

object Stats {
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      val m = s.size / 2
      Some(if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2)
    }

  /** The highest whole percentile (at most 99) with at least ten samples
    * above it, by nearest rank, as (percentile, value). None below 20
    * samples, where no percentile above the median qualifies. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.size
    (99 to 50 by -1).iterator.map { p =>
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      (p, rank)
    }.find { case (_, rank) => n - rank >= 10 }
      .map { case (p, rank) => (p, s(rank - 1)) }
  }

  /** Median metric over per-call samples. */
  def p50(name: String, unit: String, xs: Seq[Double], note: String = ""): Metric =
    Metric(name, median(xs), unit, xs.size, note)

  def tailMetric(name: String, unit: String, xs: Seq[Double]): Metric =
    tail(xs) match {
      case Some((p, v)) => Metric(name, Some(v), unit, xs.size, s"p$p")
      case None => Metric(name, None, unit, xs.size,
        "fewer than 20 samples: no percentile has 10 beyond it")
    }
}

/** The result files' JSON, through the engine's own mapper. */
object Out {
  import scala.collection.immutable.ListMap

  def metric(m: Metric): ListMap[String, Any] =
    ListMap("value" -> m.value, "unit" -> m.unit, "n" -> m.n, "note" -> m.note)

  def metrics(ms: Seq[Metric]): ListMap[String, Any] =
    ListMap(ms.map(m => m.name -> metric(m)): _*)

  def write(x: Any): String = graft.table.Json.mapper.writeValueAsString(x)
}
