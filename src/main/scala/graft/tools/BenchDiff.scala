package graft.tools

import java.nio.file.{Files, Paths}

/** Bench regression diff of two explicit bench_out.json files: flag every
  * query whose time grew past the ratio gate AND whose published spread
  * is small enough that the growth is signal, not noise (a >1.3× move
  * inside a >50% spread band is measurement). Prints a JSON report on
  * stdout — empty `flagged` is a pass. No Spark session involved; the
  * JSON shapes are the bench's own flat maps, parsed with a deliberately
  * minimal extractor.
  *
  * Runs taken under different conditions (cores, dataset, JVM, Spark,
  * draws — see `graft.Bench.conditions`) are not comparable: BenchDiff
  * refuses them, and files without conditions, with exit status 2. The
  * git HEAD is recorded but is not a condition, as in
  * perfbench/compare.py.
  *
  * Usage: runMain graft.tools.BenchDiff <prev.json> <curr.json>
  * Flags leave the exit status 0: the report is the signal.
  */
object BenchDiff {

  private[graft] def mapOf(json: String,
                           key: String): Map[String, Double] = {
    val i = ("\"" + key + "\"\\s*:\\s*\\{").r
      .findFirstMatchIn(json).map(_.start).getOrElse(return Map.empty)
    val start = json.indexOf('{', i)
    val end = json.indexOf('}', start)
    if (end < 0) return Map.empty
    "\"([^\"]+)\"\\s*:\\s*(-?[0-9.]+)".r
      .findAllMatchIn(json.substring(start + 1, end))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  private[graft] def scalarOf(json: String, key: String): Option[Double] =
    ("\"" + key + "\"\\s*:\\s*(-?[0-9.]+)").r
      .findFirstMatchIn(json).map(_.group(1).toDouble)

  /** The `conditions` object as raw JSON values, None when absent. */
  private[graft] def conditionsOf(json: String): Option[Map[String, String]] =
    "\"conditions\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(json).map { m =>
      "\"([^\"]+)\"\\s*:\\s*(\"[^\"]*\"|[^,]+)".r
        .findAllMatchIn(m.group(1))
        .map(f => f.group(1) -> f.group(2).trim).toMap
    }

  /** Why two runs cannot be compared, or None when they can: a file
    * without conditions, or any condition but `git_head` that differs. */
  private[graft] def refusal(prevJson: String,
                             currJson: String): Option[String] =
    (conditionsOf(prevJson), conditionsOf(currJson)) match {
      case (None, _) => Some("prev carries no conditions")
      case (_, None) => Some("curr carries no conditions")
      case (Some(p), Some(c)) =>
        val differ = (p.keySet ++ c.keySet - "git_head").toSeq.sorted
          .filter(k => p.get(k) != c.get(k))
        differ.headOption.map(k =>
          s"conditions differ in $k: ${p.getOrElse(k, "absent")} vs " +
            c.getOrElse(k, "absent"))
    }

  /** One flagged row: name, prev s, curr s, raw ratio, drift-normalized
    * ratio, current spread %, current draws. */
  private[graft] final case class Flagged(name: String, prev: Double,
      curr: Double, ratio: Double, normRatio: Double, spread: Double,
      draws: Int)

  /** The drift bases a diff may divide out of the ratios: the matched-
    * query MEDIAN ratio (`self`, normalization on the stable fleet) and
    * the two code-independent probe rows' own ratios (`probe`, shuffle-
    * shaped; `probe_cpu`, CPU-bound) — the probes are the only estimates
    * a uniform plan regression cannot contaminate, since `self` rises
    * with an across-the-board code slowdown and would forgive it.
    * [[flag]] divides by the MINIMUM, so every flag decision uses the
    * most-flagging defensible basis. All bases clamp at 1: published
    * values are floor-seeking mins that do not scale below their
    * floors on a faster run.
    */
  private[graft] def driftBases(prevJson: String, currJson: String)
      : Map[String, Double] = {
    val pq = mapOf(prevJson, "queries")
    val cq = mapOf(currJson, "queries")
    val matched = cq.toSeq.flatMap { case (k, c) =>
      pq.get(k).filter(p => p > 0 && c > 0).map(c / _) }
    val self =
      if (matched.isEmpty) None
      else Some(math.max(1.0, matched.sorted.apply(matched.size / 2)))
    def probe(row: String) = for {
      p <- pq.get(row).filter(_ > 0)
      c <- cq.get(row).filter(_ > 0)
    } yield math.max(1.0, c / p)
    Map("self" -> self, "probe" -> probe("q00x_drift_probe"),
      "probe_cpu" -> probe("q00y_drift_probe_cpu"))
      .collect { case (k, Some(v)) => k -> v }
  }

  /** The basis [[flag]] divides by: the least of the bases, 1 without one. */
  private def minBasis(bases: Map[String, Double]): Double =
    if (bases.isEmpty) 1.0 else bases.values.min

  private[graft] def flag(prevJson: String, currJson: String,
                          ratioGate: Double, spreadGate: Double,
                          precomputedBases: Map[String, Double] = null)
      : Seq[Flagged] = {
    val pq = mapOf(prevJson, "queries")
    val cq = mapOf(currJson, "queries")
    // the complete spread map is the current run's (bench_out.json
    // writes it at min_pct 0)
    val spread = mapOf(currJson, "spread_pct")
    val n = scalarOf(currJson, "iters").map(_.toInt).getOrElse(3)
    // main() passes its bases through so the published drift_ratio is
    // BY CONSTRUCTION the one the flags were gated on
    val bases = Option(precomputedBases)
      .getOrElse(driftBases(prevJson, currJson))
    val driftRatio = minBasis(bases)
    // loud disagreement warning: when the fleet-derived basis sits far
    // above the code-independent probes, the difference is either
    // heterogeneous contention or a uniform plan regression —
    // adjudication must look either way
    if (bases.size > 1 && bases.values.max / bases.values.min > 1.15) {
      // resource attribution from the probe PAIR: both legs are
      // code-independent, so their relative movement says WHICH
      // resource the host drifted on
      val attrib = (bases.get("probe"), bases.get("probe_cpu")) match {
        case (Some(sh), Some(cp)) if sh / cp > 1.15 =>
          " Probe pair: the shuffle-shaped leg moved " +
            f"${sh / cp}%.2fx past the CPU leg — the host's " +
            "shuffle/disk path drifted; CPU-bound flagged rows are " +
            "the suspicious ones."
        case (Some(sh), Some(cp)) if cp / sh > 1.15 =>
          " Probe pair: the CPU leg moved " +
            f"${cp / sh}%.2fx past the shuffle leg — CPU drift; " +
            "shuffle-bound flagged rows are the suspicious ones."
        case (Some(_), Some(_)) =>
          " Probe pair agrees (uniform host/JVM drift)."
        case _ => ""
      }
      System.err.println("[benchdiff] WARNING: drift estimates " +
        s"disagree > 15% (${bases.map { case (k, v) =>
          f"$k=$v%.2f" }.mkString(", ")}) — normalizing by the min; " +
        "if host drift alone explains the gap, flagged rows need an " +
        "interleaved A/B, if not, suspect an across-the-board plan " +
        "regression." + attrib)
    }
    cq.toSeq.sortBy(_._1).flatMap { case (k, c) =>
      pq.get(k) match {
        case Some(p) if p > 0 && c > 0 =>
          val raw = c / p
          val norm = raw / math.max(driftRatio, 0.01)
          // a one-draw spread of 0.0 is not evidence: one-draw runs
          // flag only past a stricter gate
          val gate = if (n <= 1) math.max(ratioGate, 1.6) else ratioGate
          // sub-second rows: a <1 s row's timing on a cold/drifted host
          // measures JVM and page-cache state, not the plan (spreads of
          // 24,971% were published on such rows). Spread is NOT
          // evidence either way there; they flag only on ABSOLUTE
          // excess (≥ 1 s of real growth past the normalized prior),
          // never on ratio alone.
          val subSecond = p < 1.0
          val flagged =
            if (subSecond) norm > gate && c - p * driftRatio >= 1.0
            else norm > gate && spread.getOrElse(k, 0.0) < spreadGate
          if (flagged)
            Some(Flagged(k, p, c, raw, norm, spread.getOrElse(k, 0.0), n))
          else None
        case _ => None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: BenchDiff <prev.json> <curr.json>")
    val prev = Files.readString(Paths.get(args(0)))
    val curr = Files.readString(Paths.get(args(1)))
    refusal(prev, curr).foreach { why =>
      System.err.println(s"[benchdiff] REFUSED: ${args(0)} vs ${args(1)}: " +
        s"$why; only runs taken under the same conditions are comparable")
      sys.exit(2)
    }
    val bases = driftBases(prev, curr)
    val flagged = flag(prev, curr, ratioGate = 1.3, spreadGate = 50.0,
      precomputedBases = bases)
    val driftRatio = minBasis(bases)
    val rows = flagged.map { f =>
      f"""    "${f.name}": {"prev_sec": ${f.prev}%.3f, "curr_sec": ${
        f.curr}%.3f, "ratio": ${f.ratio}%.2f, "norm_ratio": ${
        f.normRatio}%.2f, "spread_pct": ${f.spread}%.1f, "draws": ${
        f.draws}%d}"""
    }.mkString(",\n")
    println(
      f"""{
         |  "prev": "${args(0)}",
         |  "curr": "${args(1)}",
         |  "ratio_gate": 1.3,
         |  "one_draw_ratio_gate": 1.6,
         |  "spread_gate_pct": 50.0,
         |  "drift_ratio": $driftRatio%.2f,
         |  "drift_bases": {${bases.toSeq.sorted.map { case (k, v) =>
                f""""$k": $v%.2f""" }.mkString(", ")}},
         |  "flagged_count": ${flagged.size},
         |  "flagged": {
         |$rows
         |  }
         |}""".stripMargin)
    if (flagged.isEmpty)
      println("[benchdiff] PASS: no low-noise regressions > 1.3x")
    else {
      println(s"[benchdiff] ${flagged.size} flagged")
      flagged.foreach { f =>
        println(f"[benchdiff]   ${f.name}: ${f.prev}%.2f -> ${f.curr}%.2f s " +
          f"(${f.ratio}%.2fx raw, ${f.normRatio}%.2fx drift-normalized, " +
          f"spread ${f.spread}%.1f%%, ${f.draws}%d draws)")
      }
    }
  }
}
