package perfbench

import java.nio.file.{Files, Path}
import Main.{Round, median}

/** The result file of one benchmark process, as JSON. */
object Report {

  /** The layers, one per public call boundary, named by module. */
  val layers: Seq[String] = Payout.stages.map(s => s"stages.$s") ++
    Seq("graphIndexBuild", "graphIndexAdd", "graphIndexSearch", "filteredGraphTopK")
      .map(c => s"ops.Similarity.$c")

  /** Layers whose useful-outcome ratio is measured: the share of exact
    * top-k neighbours a call returned. */
  val recallLayers: Seq[String] =
    Seq("ops.Similarity.graphIndexSearch", "ops.Similarity.filteredGraphTopK")

  val endToEndUnits: Seq[(String, String)] = Seq("setup_s" -> "s", "run_s" -> "s",
    "op_s.p50" -> "s", "rows_per_s" -> "1/s", "peak_rss_mb" -> "MB", "warehouse_mb" -> "MB")

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) + ": " + json(x) }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => json(other.toString)
  }

  private def metric(value: Double, unit: String) = Map("value" -> value, "unit" -> unit)

  /** Per-layer values: the median over a layer's calls of each counter;
    * 0 for a layer the workload does not call. */
  def perLayer(tracer: Tracer, rounds: Seq[Round]): Seq[(String, Map[String, Any])] = {
    val byLayer = tracer.calls.groupBy(_._1)
    val counters = for (l <- layers; (c, unit) <- Tracer.counterUnits) yield {
      val vals = byLayer.getOrElse(l, Nil).map { case (_, cs, wall, driver, files) =>
        Tracer.values(cs, wall, driver, files)(c) }
      s"$l.$c" -> metric(if (vals.isEmpty) 0.0 else median(vals.toSeq), unit)
    }
    val recalls = recallLayers.map { l =>
      val key = if (l.endsWith("Search")) "recall_search" else "recall_filtered"
      val vals = rounds.flatMap(_.facts.get(key)).collect { case d: Double if !d.isNaN => d }
      s"$l.recall_at_10" -> metric(if (vals.isEmpty) 0.0 else median(vals), "ratio")
    }
    counters ++ recalls
  }

  def build(name: String, seed: Long, seconds: Double, tracer: Tracer,
            sizes: Map[String, Any], rounds: Seq[Round], endToEnd: Map[String, Double],
            setups: Seq[Double], generateS: Double, measuredS: Double,
            stealShare: Double, errors: Seq[String]): String = {
    val attempted = rounds.map(_.attempted).sum
    val failed = rounds.map(_.failedOps).sum
    val metrics =
      if (tracer.enabled) perLayer(tracer, rounds).toMap
      else endToEndUnits.map { case (m, u) => m -> metric(endToEnd(m), u) }.toMap
    val spans = tracer.allSpans
    val selfTimes = spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("calls" -> ss.size, "wall_s_p50" -> median(ss.map(_.seconds)),
        "self_s_p50" -> median(ss.map(tracer.selfSeconds))) }
    val detail = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "traced" -> tracer.enabled,
      "cpus" -> Runtime.getRuntime.availableProcessors, "spark_master" -> "local[4]",
      "sizes" -> sizes, "rounds" -> rounds.size, "op_samples" -> rounds.map(_.ops.size).sum,
      "op_s" -> rounds.flatMap(_.ops), "round_s" -> rounds.map(_.seconds),
      "setup_reps_s" -> setups, "generate_s" -> generateS, "measured_s" -> measuredS,
      "host_steal_share" -> stealShare,
      "failed_ratio" -> failed.toDouble / math.max(1, attempted),
      "end_to_end" -> endToEnd, "round_facts" -> rounds.map(_.facts),
      "spans" -> selfTimes, "errors" -> errors.take(20))
    json(Map("correct" -> (errors.isEmpty && attempted > 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics, "detail" -> detail))
  }

  def writeSpans(tracer: Tracer, path: Path): Unit = {
    val lines = tracer.allSpans.sortBy(_.startNs).map(s => json(Map(
      "name" -> s.name, "id" -> s.id, "parent" -> s.parent, "run" -> s.run,
      "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
      "self_s" -> tracer.selfSeconds(s))))
    Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
